package graft.tools
import org.apache.spark.sql.functions._
import graft.operators.TextOps
import graft.sources.Catalog

object MicroBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    val df = Catalog.table(spark, "/root/testdata/sf0.1", "documents")
    def time[T](label: String)(f: => T): Unit = {
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime(); f
        println(f"$label run$i: ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    }
    if (sys.env.contains("MB_VEC")) {
      val emb = Catalog.table(spark, "/root/testdata/sf0.1", "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val a = emb.select(col("vec_id").as("ia"), col("v").as("va"))
      val b = emb.select(col("vec_id").as("ib"), col("v").as("vb"))
      val pairs = a.crossJoin(b)
      def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, p) => acc + p)
      time("4M pairs HOF dot")(
        pairs.select(sum(hofDot(col("va"), col("vb")))).collect())
      time("4M pairs native dot")(
        pairs.select(sum(graft.plans.VectorExprs.dot(col("va"), col("vb")))).collect())
      spark.stop(); return
    }
    if (sys.env.contains("MB_BLOOM")) {
      // join_bloom_prefilter both ways (VERDICT r18 #6): declared
      // bloom-prefiltered semi join vs the plain semi join, plus the
      // filter's measured selectivity on the fact side.
      val sfDir = "/root/testdata/sf0.1"
      val dim = Catalog.table(spark, sfDir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val orders = Catalog.table(spark, sfDir, "orders")
      val total = orders.count()
      val bloom = dim.stat.bloomFilter("c_custkey", 100000L, 0.03)
      val bytes = { val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos); bos.toByteArray }
      val kept = orders.filter(call_function("might_contain",
        lit(bytes), col("o_custkey").cast("long"))).count()
      println(f"fact rows: $total, bloom-kept: $kept " +
        f"(${kept * 100.0 / total}%.1f%% pass, ${100 - kept * 100.0 / total}%.1f%% pruned pre-shuffle)")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .join(dim, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
        .agg(sum("n")).collect()
      time("with bloom prefilter")(agg(orders.filter(call_function(
        "might_contain", lit(bytes), col("o_custkey").cast("long")))))
      time("plain semi join")(agg(orders))
      time("with bloom incl. build")({
        val b2 = dim.stat.bloomFilter("c_custkey", 100000L, 0.03)
        val by2 = { val bos = new java.io.ByteArrayOutputStream()
          b2.writeTo(bos); bos.toByteArray }
        agg(orders.filter(call_function("might_contain",
          lit(by2), col("o_custkey").cast("long"))))
      })
      spark.stop(); return
    }
    if (sys.env.contains("MB_CC")) {
      // decompose llm_dedup_groups_exact: all-pairs verify vs the
      // components fixpoint (r19 — where do its ~2.2 bench-seconds go?)
      val docs = df.filter(col("doc_id") < 60)
        .select(col("doc_id"), TextOps.shingles3(col("text")).as("sh"))
      val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      def pairs = a.crossJoin(b)
        .filter(col("id_a") < col("id_b"))
        .filter(round(TextOps.jaccard(col("sh_a"), col("sh_b")), 6) >= 0.01)
        .select("id_a", "id_b")
      time("pairs only")(pairs.count())
      val pc = pairs.localCheckpoint()
      time("components only")(
        graft.operators.Components.connectedComponents(
          pc, "id_a", "id_b", docs.select("doc_id"), "doc_id").count())
      time("full (pairs + components)")(
        graft.operators.Components.connectedComponents(
          pairs, "id_a", "id_b", docs.select("doc_id"), "doc_id").count())
      spark.stop(); return
    }
    if (sys.env.contains("MB_MAT")) {
      // count() lets Catalyst prune projections away — force real
      // materialization via an agg that consumes the array.
      time("mat shingles (sum size)")(
        df.select(TextOps.shingles3(col("text")).as("sh"))
          .agg(sum(size(col("sh")))).collect())
      time("mat shingles (collect)")(
        df.select(col("doc_id"), TextOps.shingles3(col("text")).as("sh")).collect())
      time("mat sig (agg)")(
        df.select(graft.plans.MinHashSigExpr.minhashSig(
          TextOps.shingles3(col("text")), 16).as("sig"))
          .agg(sum(element_at(col("sig"), 1))).collect())
      time("mat split only (collect)")(
        df.select(col("doc_id"), split(col("text"), " ").as("w")).collect())
      spark.stop(); return
    }
    time("plain count")(df.count())
    time("split")(df.select(split(col("text"), " ").as("w")).count())
    time("shingles3")(df.select(TextOps.shingles3(col("text")).as("sh")).count())
    time("shingles3+hash16")(df.select(
      graft.plans.MinHashSigExpr.minhashSig(TextOps.shingles3(col("text")), 16).as("sig")).count())
    time("agg on sig")(df.select(
      graft.plans.MinHashSigExpr.minhashSig(TextOps.shingles3(col("text")), 16).as("sig"))
      .select(sum(element_at(col("sig"), 1))).count())
    def persistCount(label: String, cols: org.apache.spark.sql.Column*): Unit = {
      val d = df.select(cols: _*).persist()
      val t0 = System.nanoTime(); d.count()
      println(f"$label persist+count: ${(System.nanoTime()-t0)/1e9}%.2f s")
      d.unpersist(true)
    }
    persistCount("id+sig", col("doc_id"),
      graft.plans.MinHashSigExpr.minhashSig(TextOps.shingles3(col("text")), 16).as("sig"))
    persistCount("id+sh", col("doc_id"), TextOps.shingles3(col("text")).as("sh"))
    persistCount("id+sh+sig", col("doc_id"), TextOps.shingles3(col("text")).as("sh"),
      graft.plans.MinHashSigExpr.minhashSig(TextOps.shingles3(col("text")), 16).as("sig"))
    spark.stop()
  }
}
