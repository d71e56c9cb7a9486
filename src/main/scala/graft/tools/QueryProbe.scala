package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.util.control.NonFatal

import graft.GraftSession
import graft.GraftSession.force
import graft.plans.PlanAudit

/** Times declared queries at a given SF dir — dev utility for iterating
  * on query plans without a full Bench run. Uses Bench's session and
  * force (graft.GraftSession), so a probe times the engine Bench times.
  *
  * Usage: runMain graft.tools.QueryProbe [sfDir] name [name ...]
  * Env:   QP_RUNS=k       runs per query (default 3; 0 = plan only)
  *        QP_PLANS=dir    also write explain("formatted") to dir/<name>.txt
  *                        and the PlanAudit findings to dir/<name>.audit.txt,
  *                        print them, and end with `errors: N`
  *        QP_WARM=1       warm the whole suite at sf0.001 first (Bench-like)
  *        QP_JOBS=1       print each Spark job's wall clock, and each
  *                        streaming micro-batch's durationMs breakdown
  *        QP_CONF=k=v,..  extra session confs for A/B experiments
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // Fail fast on the pre-r18 arg order ([name] [sfDir] [runs]): a
    // query name in the dir slot would silently probe the default
    // query against a nonexistent data dir.
    if (!Files.isDirectory(Paths.get(dir))) {
      System.err.println(
        s"QueryProbe: '$dir' is not a directory.\n" +
          "Usage: runMain graft.tools.QueryProbe [sfDir] name [name ...]")
      sys.exit(2)
    }
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("llm_decontaminate")
    val runs = sys.env.getOrElse("QP_RUNS", "3").toInt
    val spark = GraftSession()
    sys.env.get("QP_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    if (sys.env.contains("QP_JOBS")) {
      spark.sparkContext.addSparkListener(new SparkListener {
        private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(js: SparkListenerJobStart): Unit =
          t0.put(js.jobId, System.nanoTime())
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          val dt = (System.nanoTime() -
            t0.getOrDefault(je.jobId, System.nanoTime())) / 1e9
          if (dt > 0.02) println(f"    [job ${je.jobId}%4d] ${dt}%6.3f s")
        }
      })
      spark.streams.addListener(new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          println(s"    [batch ${p.batchId}] rows=${p.numInputRows} " +
            s"durationMs=${p.durationMs}")
          p.stateOperators.foreach(so => println(
            s"      state ${so.operatorName}: rows=${so.numRowsTotal} " +
              s"mem=${so.memoryUsedBytes} commitMs=${so.commitTimeMs}"))
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })
    }
    if (sys.env.contains("QP_WARM")) {
      val warmDir = "/root/testdata/sf0.001"
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try force(fn(spark, warmDir)) catch { case NonFatal(_) => () }
      }
      spark.catalog.clearCache()
    }
    val planDir = sys.env.get("QP_PLANS")
    var auditErrors = 0
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      planDir.foreach { pd =>
        Files.createDirectories(Paths.get(pd))
        // A query that fails to build is an audit error, as in Verify.
        val findings =
          try {
            val df = fn(spark, dir)
            // queryExecution.explainString matches df.explain("formatted")
            Files.writeString(Paths.get(pd, s"$n.txt"), df.queryExecution
              .explainString(org.apache.spark.sql.execution.FormattedMode))
            PlanAudit.audit(df)
          } catch { case NonFatal(e) =>
            Seq(PlanAudit.Finding("error", "audit-failed",
              String.valueOf(e.getMessage).take(200)))
          }
        val lines = findings.map(f => s"$n ${f.render}")
        lines.foreach(println)
        Files.writeString(Paths.get(pd, s"$n.audit.txt"),
          lines.map(_ + "\n").mkString)
        auditErrors += findings.count(_.severity == "error")
      }
      val times = (1 to runs).map { i =>
        val t0 = System.nanoTime()
        force(fn(spark, dir))
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        println(f"$n run$i: $dt%.3f s")
        dt
      }
      if (times.nonEmpty) println(f"$n min: ${times.min}%.3f s")
    }
    if (planDir.isDefined) println(s"errors: $auditErrors")
    spark.stop()
  }
}
