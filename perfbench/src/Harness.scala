package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Closed-loop, single-client benchmark harness for the declared queries.
  *
  * One JVM runs one workload: it builds a `local[nproc]` session, stages
  * the workload's inputs, warms every query of the workload at the
  * warm-up scale, then runs timed passes over the workload at the target
  * scale until the measuring window is spent. Each query run is timed in
  * three parts: DataFrame construction (`SparkEntry.queries(name)`),
  * Catalyst planning of the forcing projection (`queryExecution`), and
  * the forced execution. The force returns `bit_xor(xxhash64(row))`,
  * the sum of the hashes' low 32 bits and `count(*)` in one job, so the
  * output fingerprint costs no extra job.
  *
  * Everything the run measures is written as one JSON record (`--out`);
  * `perfbench/run.py` reduces it and checks the fingerprints.
  *
  * With `--trace 1` the [[Recorder]] listeners are attached for the first
  * pass and for every other steady pass; the passes in between run with
  * them detached, which gives the tracing overhead as an in-run A/B.
  */
object Harness {

  final case class Args(
      queries: Seq[String],
      warmDir: String,
      targetDir: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      out: String,
      cpus: Int,
      minSteady: Int,
      replicate: Option[Replicate],
      stageOnly: Boolean)

  /** etl_scale inputs: a multi-file copy of `tables` of `from`, scaled ×mult. */
  final case class Replicate(from: String, mult: Int, files: Int, tables: Seq[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      queries = need("queries").split(',').toSeq.filter(_.nonEmpty),
      warmDir = need("warm-dir"),
      targetDir = need("target-dir"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      out = need("out"),
      cpus = need("cpus").toInt,
      minSteady = need("min-steady").toInt,
      replicate = kv.get("replicate-from").map(f =>
        Replicate(f, need("replicate-mult").toInt, need("replicate-files").toInt,
          need("replicate-tables").split(',').toSeq)),
      stageOnly = kv.get("stage-only").contains("1"))
  }

  /** Epoch milliseconds at sub-millisecond resolution: one wall-clock
    * origin plus the monotonic clock, so harness spans line up with the
    * listener timestamps (epoch ms) without inheriting their jitter. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val liveHeap = new LiveHeapPeak
    val spark = session(a.cpus)
    val record = new java.util.LinkedHashMap[String, Any]()
    val telemetry = Telemetry.snapshot()
    val fns = a.queries.map { n =>
      n -> graft.SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n"))
    }

    // Staged after the warm-up, which leaves the JIT warm for it.
    def stageInputs(): Unit = a.replicate.foreach(r =>
      Inputs.replicate(spark, r.from, a.targetDir, r.tables, r.mult, r.files, a.seed))
    // perfbench/record_expected.py stages the inputs this way to check
    // them against DuckDB.
    if (a.stageOnly) { stageInputs(); spark.stop(); return }

    // Untimed warm-up of exactly this workload's queries at the small
    // scale: codegen, reader init and the streaming machinery are paid
    // here rather than by whichever query happens to run first.
    var warmFailures = 0
    val warmMs = fns.map { case (name, fn) =>
      val t0 = nowMs()
      try force(fn(spark, a.warmDir)) catch { case NonFatal(_) => warmFailures += 1 }
      spark.catalog.clearCache()
      name -> (nowMs() - t0)
    }
    val inputsStart = nowMs()
    stageInputs()
    val setupEnd = nowMs()
    System.err.println(f"perfbench: setup done, ${a.queries.size} queries, $warmFailures warm-up failures")

    val recorder = if (a.trace) Some(new Recorder(spark, graft.Scratch.runRoot)) else None
    val runs = ArrayBuffer.empty[java.util.Map[String, Any]]
    val passes = ArrayBuffer.empty[java.util.Map[String, Any]]
    val gc = new GcClock
    val scratchRoot = graft.Scratch.runRoot
    val scratchStart = Recorder.scratchTree(scratchRoot)
    val windowStart = nowMs()
    var pass = 0
    def steadyDone = pass - 1
    while (pass == 0 || nowMs() - windowStart < a.seconds * 1000 || steadyDone < a.minSteady) {
      // First pass and odd steady passes are traced; even ones are not.
      val traced = recorder.isDefined && (pass == 0 || pass % 2 == 1)
      if (traced) recorder.foreach(_.attach()) else recorder.foreach(_.detach())
      // The first pass runs in the declared order, so first_pass_s does
      // not depend on which query happens to pay the first target read.
      val order =
        if (pass == 0) fns else new scala.util.Random(a.seed * 7919 + pass).shuffle(fns)
      gc.mark()
      val p0 = nowMs()
      order.foreach { case (name, fn) =>
        runs += runOne(spark, name, fn, a.targetDir, pass, traced, recorder)
      }
      val p1 = nowMs()
      // Walked after every pass, traced or not, outside the timed span.
      val (markers, bytes) = Recorder.scratchTree(scratchRoot)
      passes += Json.obj(
        "pass" -> pass, "traced" -> traced, "start_ms" -> p0, "end_ms" -> p1,
        "wall_ms" -> (p1 - p0), "gc_ms" -> gc.elapsedGcMs(),
        "heap_after_gc_mb" -> gc.heapAfterGcMb(),
        "scratch_markers" -> markers, "scratch_bytes" -> bytes)
      pass += 1
    }
    recorder.foreach(_.detach())
    val memory = Telemetry.memory(liveHeap)
    // stop() drains the listener bus: every job, stage, task and batch
    // event of the run has been delivered once it returns.
    spark.stop()

    record.put("jvm_start_ms", java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    record.put("setup_end_ms", setupEnd)
    record.put("warm_failures", warmFailures)
    record.put("warm_ms", Json.obj(warmMs: _*))
    record.put("inputs_ms", setupEnd - inputsStart)
    record.put("cpus", a.cpus)
    record.put("memory", memory)
    record.put("scratch_start", Json.obj(
      "scratch_markers" -> scratchStart._1, "scratch_bytes" -> scratchStart._2))
    record.put("telemetry_start", telemetry)
    record.put("telemetry_end", Telemetry.snapshot())
    record.put("passes", passes.asJava)
    record.put("runs", runs.asJava)
    recorder.foreach(r => record.put("trace", r.result()))
    Files.writeString(Paths.get(a.out), Json.write(record))
  }

  /** One session configuration, the same as graft.Bench's. */
  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.Scratch.dir("spark-local"))
      .config("spark.sql.warehouse.dir", graft.Scratch.dir("warehouse"))
      .config("spark.sql.streaming.minBatchesToRetain", "1")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def runOne(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, dir: String, pass: Int,
      traced: Boolean, recorder: Option[Recorder]): java.util.Map[String, Any] = {
    val sc = spark.sparkContext
    val id = s"$pass:$name"
    val span = if (traced) recorder.map(_.beginQuery(id)) else None
    var phase = "construct"
    def enter(p: String): Unit = {
      phase = p
      if (traced) sc.setLocalProperty(Recorder.PhaseKey, s"$id|$p")
    }
    val t0 = nowMs()
    var t1, t2, t3 = Double.NaN
    var fp: (String, Long) = ("", 0L)
    var error: String = null
    var phases: java.util.Map[String, Any] = null
    try {
      enter("construct")
      val df = fn(spark, dir)
      t1 = nowMs()
      enter("catalyst")
      val forced = fingerprintFrame(df)
      val qe = forced.queryExecution
      qe.executedPlan
      t2 = nowMs()
      enter("exec")
      val row = forced.collect().head
      t3 = nowMs()
      def orZero(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
      fp = (s"${orZero(0)}/${orZero(1)}", row.getLong(2))
      if (traced) phases = qe.tracker.phases.map { case (k, v) =>
        k -> (v.durationMs.toDouble: Any) }.asJava
    } catch {
      case NonFatal(e) =>
        error = s"$phase: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      if (traced) sc.setLocalProperty(Recorder.PhaseKey, null)
    }
    val end = nowMs()
    spark.catalog.clearCache()
    span.foreach(s => recorder.foreach(_.endQuery(s, t0, t1, t2, t3, end, phases)))
    Json.obj(
      "id" -> id, "pass" -> pass, "query" -> name, "traced" -> traced,
      "ok" -> (error == null), "error" -> error,
      "hash" -> fp._1, "rows" -> fp._2,
      "start_ms" -> t0, "wall_ms" -> (end - t0))
  }

  /** `bit_xor(xxhash64(row))`, `sum(xxhash64(row) & 0xFFFFFFFF)` and
    * `count(*)` as one aggregate. The xor alone cancels rows that occur
    * an even number of times; the sum of the low 32 bits counts them, and
    * cannot overflow below 2^31 rows. The hashed
    * projection is built from the schema: maps (which xxhash64 rejects)
    * become key-sorted entry arrays and variants their JSON text, at any
    * depth. Columns are renamed positionally first, so duplicate or
    * dotted output names cannot make the projection ambiguous. */
  def fingerprintFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    named.select(xxhash64(struct(cols: _*)).as("h"))
      .agg(expr("bit_xor(h)"), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), count(lit(1)))
  }

  private def hashable(c: Column, t: DataType): Column = t match {
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(hashable(e.getField("key"), k).as("k"), hashable(e.getField("value"), v).as("v"))))
    case ArrayType(e, _) if needsRewrite(e) => transform(c, x => hashable(x, e))
    case s: StructType if needsRewrite(s) =>
      when(c.isNull, lit(null)).otherwise(struct(s.fields.toSeq.map(f =>
        hashable(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: VariantType => to_json(c)
    case _ => c
  }

  private def needsRewrite(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => true
    case ArrayType(e, _) => needsRewrite(e)
    case s: StructType => s.fields.exists(f => needsRewrite(f.dataType))
    case _ => false
  }

  /** Untimed force for the warm-up. */
  private def force(df: DataFrame): Unit = { fingerprintFrame(df).collect(); () }
}

/** Driver-JVM GC time and post-GC heap, read from the management beans. */
final class GcClock {
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private var mark0 = 0L
  private def total: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
  def mark(): Unit = mark0 = total
  def elapsedGcMs(): Long = total - mark0

  /** Heap in use after the most recent collection, summed over pools. */
  def heapAfterGcMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** The largest heap in use right after any collection since it was
  * made, eden left out: the live set plus floating garbage. Eden fills
  * the free heap between collections, and a pause that does not evacuate
  * it (G1's remark) reports it full, so counting it would read as the
  * whole heap. */
final class LiveHeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden")).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if pools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(after, (a, b) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def mb: Double = peak.get / 1048576.0
}

/** Host contention telemetry, as graft.Bench records it. */
object Telemetry {
  private def lines(path: String): Seq[String] =
    try Files.readAllLines(Paths.get(path)).asScala.toSeq
    catch { case NonFatal(_) => Seq.empty }

  def load1(): Double =
    lines("/proc/loadavg").headOption.map(_.split(" ").head.toDouble).getOrElse(-1.0)

  def cachedGb(): Double = lines("/proc/meminfo").collectFirst {
    case l if l.startsWith("Cached:") => l.split("\\s+")(1).toDouble / 1048576
  }.getOrElse(-1.0)

  def otherJava(): Int = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self && p.info().command()
        .map[Boolean](c => c.endsWith("/java") || c == "java").orElse(false)
    }
  }

  def vmHwmMb(): Double = lines("/proc/self/status").collectFirst {
    case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
  }.getOrElse(-1.0)

  /** The process's peak resident memory, the heap's share of it, and the
    * largest heap in use right after a collection. The heap is fixed and
    * pre-touched, so all of it is resident whatever the program uses. */
  def memory(live: LiveHeapPeak): java.util.Map[String, Any] = Json.obj(
    "vm_hwm_mb" -> vmHwmMb(),
    "heap_committed_mb" -> java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getCommitted / 1048576.0,
    "heap_live_peak_mb" -> live.mb)

  /** (steal, total) jiffies over all CPUs from /proc/stat: on a VM, time
    * the host gave to other guests shows here and in no other number. */
  def cpuJiffies(): (Long, Long) = lines("/proc/stat").headOption
    .map(_.trim.split("\\s+").drop(1).map(_.toLong))
    .map(f => (f.lift(7).getOrElse(0L), f.sum)).getOrElse((0L, 0L))

  def snapshot(): java.util.Map[String, Any] = {
    val (steal, total) = cpuJiffies()
    Json.obj(
      "load1" -> load1(), "other_java" -> otherJava(), "page_cache_gb" -> cachedGb(),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpu_steal_jiffies" -> steal, "cpu_total_jiffies" -> total)
  }
}

/** Minimal JSON writer over java collections (Jackson ships with Spark). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def obj(kvs: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
}
