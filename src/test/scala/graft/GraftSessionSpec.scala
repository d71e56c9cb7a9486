package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** The one session factory and the one force every harness uses. */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession is idempotent and installs the graft extensions") {
    assert(GraftSession() eq spark)
    assert(GraftSession(1) eq spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val ids = GraftSession().sql(
      "SELECT vec_nearest(array(1.0D, 0.0D), 1.0D, array(7L, 8L), " +
        "array(array(0.0D, 1.0D), array(1.0D, 0.0D)), array(1.0D, 1.0D), 1, 6)")
      .head().getSeq[Long](0)
    assert(ids == Seq(8L))
  }

  test("force counts a map output, which xxhash64 cannot hash") {
    val df = spark.range(5).select(map(lit("k"), col("id")).as("m"))
    intercept[AnalysisException](df.select(xxhash64(col("m"))).collect())
    assert(GraftSession.force(df) == 5L)
    assert(GraftSession.force(spark.range(7).toDF()) == 7L)
  }

  test("force propagates a run-time failure instead of counting rows") {
    val df = spark.range(3).selectExpr("id", "if(id = 2, raise_error('boom'), id) AS x")
    // count() prunes the failing column, so a count fallback would pass
    assert(df.count() == 3L)
    val e = intercept[Exception](GraftSession.force(df))
    assert(!e.isInstanceOf[AnalysisException])
    assert(e.getMessage.contains("boom"))
  }

  test("the flagship entry query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
