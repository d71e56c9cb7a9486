package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}

import graft.plans.{DotExpr, NearestExpr, NormExpr, SrpSignExpr}

/** SparkSessionExtensions entry point (SURVEY §4.2 extension ladder):
  * registers the native vector expressions in the SQL FUNCTION
  * REGISTRY, so plain `spark.sql` users get the whole-stage-codegen'd
  * kernels — `vec_dot(a, b)`, `vec_norm(a)`, `srp_sign(v, bits)`,
  * `vec_nearest(v, vnorm, cids, cvecs, cnorms, k, digits)` — without
  * touching the Scala DSL. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (already
  * set by graft.Verify / graft.Bench / the test harness).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotExpr].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "vec_dot(a, b) takes two array<double>")
        DotExpr(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[NormExpr].getName, "vec_norm"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "vec_norm(a) takes one array<double>")
        NormExpr(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("vec_nearest"),
      new ExpressionInfo(classOf[NearestExpr].getName, "vec_nearest"),
      (args: Seq[Expression]) => {
        require(args.size == 7 && args.drop(5).forall(_.foldable),
          "vec_nearest(v, vnorm, cids, cvecs, cnorms, k, digits) takes a " +
            "literal k and a literal digits (NULL: unrounded)")
        val digits = Option(args(6).eval()).map(_.asInstanceOf[Number].intValue())
        NearestExpr(args(0), args(1), args(2), args(3), args(4),
          args(5).eval().asInstanceOf[Number].intValue(), digits)
      }))
    ext.injectFunction((FunctionIdentifier("srp_sign"),
      new ExpressionInfo(classOf[SrpSignExpr].getName, "srp_sign"),
      (args: Seq[Expression]) => {
        require(args.size == 2 && args(1).foldable,
          "srp_sign(v, bits) takes an array<double> and a literal bit count")
        SrpSignExpr(args(0), args(1).eval().asInstanceOf[Number].intValue())
      }))
    // Spark ships BloomFilterMightContain for its own runtime-filter
    // rewrite but keeps it out of the public registry; surface it so an
    // explicit Bloom pre-filter (join_bloom_prefilter) probes inside
    // whole-stage codegen instead of through a scalar UDF.
    ext.injectFunction((FunctionIdentifier("might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "might_contain"),
      (args: Seq[Expression]) => {
        require(args.size == 2,
          "might_contain(bloom_bytes, key) takes a binary sketch and a long key")
        BloomFilterMightContain(args(0), args(1))
      }))
  }
}
