package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Times declared queries at a given SF dir — dev utility for iterating
  * on query plans without a full Bench run. Mirrors Bench's session
  * config and force() methodology (xxhash64-struct bit_xor collect, so
  * Catalyst cannot prune the projection) exactly.
  *
  * Usage: runMain graft.tools.QueryProbe [sfDir] name [name ...]
  * Env:   QP_RUNS=k       runs per query (default 3)
  *        QP_PLANS=dir    also write explain("formatted") to dir/<name>.txt
  *        QP_WARM=1       warm the whole suite at sf0.001 first (Bench-like)
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // Fail fast on the pre-r18 arg order ([name] [sfDir] [runs]): a
    // query name in the dir slot would silently probe the default
    // query against a nonexistent data dir.
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir))) {
      System.err.println(
        s"QueryProbe: '$dir' is not a directory.\n" +
          "Usage: runMain graft.tools.QueryProbe [sfDir] name [name ...]")
      sys.exit(2)
    }
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("llm_decontaminate")
    val runs = sys.env.getOrElse("QP_RUNS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.Scratch.dir("spark-local"))
      .config("spark.sql.streaming.minBatchesToRetain", "1")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // QP_CONF=k=v,k=v: extra session confs for A/B experiments
    sys.env.get("QP_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    // QP_JOBS=1: per-job wall clock + stage/task counts via listener
    if (sys.env.contains("QP_JOBS")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            t0.put(js.jobId, System.nanoTime())
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val dt = (System.nanoTime() -
              t0.getOrDefault(je.jobId, System.nanoTime())) / 1e9
            if (dt > 0.02)
              println(f"    [job ${je.jobId}%4d] ${dt}%6.3f s")
          }
        })
    }
    // Fallback narrowed to AnalysisException (the hash-unsupported-type
    // case, e.g. a MapType column): a genuinely failing query must
    // propagate, not get silently re-timed as a count() — probe numbers
    // would otherwise diverge from Bench, which records errors.
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      try df.select(xxhash64(struct(col("*"))).as("h"))
        .agg(expr("bit_xor(h)")).collect()
      catch {
        case _: org.apache.spark.sql.AnalysisException => df.count()
      }
    if (sys.env.contains("QP_WARM")) {
      val warmDir = "/root/testdata/sf0.001"
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try force(fn(spark, warmDir)) catch { case NonFatal(_) => () }
      }
      spark.catalog.clearCache()
    }
    val planDir = sys.env.get("QP_PLANS")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      planDir.foreach { pd =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pd))
        val df = fn(spark, dir)
        // queryExecution.explainString matches df.explain("formatted")
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(pd, s"$n.txt"), txt)
      }
      val times = (1 to runs).map { i =>
        val t0 = System.nanoTime()
        force(fn(spark, dir))
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        println(f"$n run$i: $dt%.3f s")
        dt
      }
      println(f"$n min: ${times.min}%.3f s")
    }
    spark.stop()
  }
}
