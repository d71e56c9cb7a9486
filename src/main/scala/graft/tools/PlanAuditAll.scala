package graft.tools

import org.apache.spark.sql.SparkSession
import graft.plans.PlanAudit
import scala.util.control.NonFatal

/** Self-audit: run PlanAudit over every declared query and print the
  * findings — the library applying its own 100 TB preflight to its
  * whole surface. `error` findings in a non-`_exact` query are
  * regressions; `warn`/`info` are expected only where the scaladoc
  * documents the bounded-by-construction reason (ground-truth twins,
  * 1-row totals, domain broadcasts).
  *
  * Usage: runMain graft.tools.PlanAuditAll [sfDir] [nameSubstring...]
  */
object PlanAuditAll {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSeq
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var nErr = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
      .foreach { case (name, fn) =>
        try {
          val findings = PlanAudit.audit(fn(spark, dir))
          findings.foreach { f =>
            if (f.severity == "error") nErr += 1
            println(s"$name ${f.render}")
          }
        } catch {
          case NonFatal(e) =>
            println(s"$name [error] audit-failed: ${e.getMessage}")
            nErr += 1
        }
      }
    println(s"errors: $nErr")
    spark.stop()
  }
}
