package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional: restrict to named queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Scratch.dir("spark-local"))
      .config("spark.sql.streaming.minBatchesToRetain", "1")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val audit = scala.collection.mutable.ArrayBuffer
      .empty[(String, graft.plans.PlanAudit.Finding)]
    val errors = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) => dumpOne(spark, sfDir, outDir, name, fn, audit) }
    // ALWAYS written, {} when clean: a stale errors.json from a prior
    // run in the same outDir must not survive a later clean run and
    // read as current failures.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }
        .mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Plan-audit artifact (AUDIT_LAST.json in cwd, like BENCH_LAST):
    // every dumped query's PlanAudit findings with severity, plus
    // provenance (UTC timestamp, fixture, query count) — the 100 TB
    // preflight as a driver-readable record, not only an sbt test.
    if (only.isEmpty) {
      val byQuery = audit.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (q, fs) => s"${jq(q)}: [" + fs.map { case (_, f) =>
          s"""{"severity": ${jq(f.severity)}, "rule": ${jq(f.rule)}, "detail": ${jq(f.detail)}}"""
        }.mkString(", ") + "]"
      }.mkString("{", ", ", "}")
      val nErr = audit.count(_._2.severity == "error")
      val ts = java.time.Instant.now().toString
      Files.writeString(Paths.get("AUDIT_LAST.json"),
        s"""{"generated_utc": ${jq(ts)}, "sf": ${jq(sfDir)}, """ +
          s""""n_queries": ${SparkEntry.queries.size}, """ +
          s""""n_findings": ${audit.size}, "n_error": $nErr, """ +
          s""""findings": $byQuery}""")
    }
    spark.stop()
  }

  /** Dump one query's result to outDir/<name> as parquet. On ANY
    * throw — plan time or execution — write a one-row sentinel parquet
    * (single `__error` string column) in its place and return the
    * error. A query that throws must surface as a RED driver row
    * (schema/rows mismatch against its oracle), never as an absent one:
    * round 6 lost four plan-time AnalysisExceptions to stderr and they
    * vanished from the correctness record entirely. */
  private[graft] def dumpOne(
      spark: SparkSession, sfDir: String, outDir: String,
      name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      audit: scala.collection.mutable.ArrayBuffer[(String, graft.plans.PlanAudit.Finding)] = null)
      : Option[(String, String)] = {
    try {
      val df = fn(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      // Audit the same DataFrame the dump ran (a throwing audit must
      // never fail the dump — record it as its own finding instead).
      if (audit != null) {
        try audit ++= graft.plans.PlanAudit.audit(df).map(name -> _)
        catch { case NonFatal(e) =>
          audit += name -> graft.plans.PlanAudit.Finding(
            "warn", "audit-failed", String.valueOf(e.getMessage).take(200))
        }
      }
      None
    } catch {
      case NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        try {
          import spark.implicits._
          Seq(msg).toDF("__error").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case NonFatal(_) => () }
        Some(name -> msg)
    } finally spark.catalog.clearCache()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
