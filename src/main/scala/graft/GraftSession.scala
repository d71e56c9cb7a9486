package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one way every harness builds a session and forces a result, so a
  * probe, a spec and Bench all time and check the same engine.
  *
  * `apply` is idempotent: the first call builds the JVM-wide session and
  * later calls return it untouched, whatever core count they pass.
  * (`getOrCreate` alone would re-apply the runtime confs, so a later
  * caller's core count would reset the shared session's shuffle
  * partitions.)
  */
object GraftSession {

  /** The session, on `cpus` cores; the mains take SPARK_GRAFT_CPUS,
    * default 4. */
  def apply(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = synchronized {
    SparkSession.getDefaultSession.getOrElse(build(cpus))
  }

  private def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Shuffle/spill files on scratch (tmpfs when available): measure
      // the engine, not the box's disk queue (BENCH_r03 contention).
      // SPARK_LOCAL_DIRS, when set, overrides this in local mode.
      .config("spark.local.dir", Scratch.dir("spark-local"))
      // Streaming: the AvailableNow replays are one-shot — retaining the
      // default 100 batches of checkpoint/state history is pure I/O.
      .config("spark.sql.streaming.minBatchesToRetain", "1")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      // Periodic driver GC (Spark's own ContextCleaner knob, default
      // 30min — longer than the whole bench): the suite's iterative
      // operators localCheckpoint thousands of RDDs across 414×(3+1)
      // query runs, and with an 8g driver heap nothing ever triggers
      // the full GC that lets ContextCleaner drop their block-manager
      // entries — measured as a monotone late-suite drift (the
      // alphabetically-last stream_* family read uniformly +0.3-3 s
      // in affected runs while the same queries probe fast in a fresh
      // JVM). 60s keeps the block registry bounded for the whole run.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Force full evaluation of every output column, not just row counts.
    * A bare count() lets Catalyst prune the projection, so select-only
    * queries (str_*, cast_*, proj_select, …) would time the parquet
    * scan instead of their expressions. Reducing a hash of the whole
    * row defeats pruning while still returning one tiny driver value.
    * bit_xor, not sum: ANSI mode makes sum() of random 64-bit hashes
    * overflow almost surely. Returns the row count, taken in the same
    * aggregate, so it costs no extra job.
    *
    * Falls back to count() only on AnalysisException — the output types
    * xxhash64 cannot consume, such as a map column. A query that fails
    * while running propagates: it must be recorded as failed, never
    * re-timed as a count(). */
  def force(df: DataFrame): Long =
    try df.select(xxhash64(struct(col("*"))).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).collect().head.getLong(1)
    catch { case _: AnalysisException => df.count() }
}
