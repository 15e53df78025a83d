package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.SparkSession

/** The measuring JVM behind `perfbench/run.py`: one SparkSession, one
  * workload, one closed-loop client. Writes the run's artifact to
  * `<out>/artifact.json` and its spans (traced runs) to `<out>/spans.json`.
  *
  * {{{
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <inputs> <out>
  *   perfbench.Main selftest
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, inputs: String, out: String)

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("selftest")) { SelfTest.main(argv.drop(1)); return }
    require(argv.length == 6, s"usage: ${getClass.getName} workload seed seconds trace inputs out")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1", argv(4), argv(5))
    val workload: Workload = a.workload match {
      case "batch_daily" => BatchDaily
      case "query_mix" => QueryMix
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val mainEntryMs = System.currentTimeMillis()
    val h = Harness.start(a, workload.inputBytes(a.inputs))
    try {
      val canaryStart = h.canary()
      val t0 = System.nanoTime()
      val r0 = workload.run(h)
      val r = r0.copy(extra = r0.extra ++ Map(
        "workload_wall_s" -> (System.nanoTime() - t0) / 1e9,
        "jvm_main_entry_ms" -> mainEntryMs))
      val canaryEnd = h.canary()
      Files.write(Paths.get(a.out, "artifact.json"),
        Json.render(h.artifact(r, canaryStart, canaryEnd)).getBytes(UTF_8))
      if (a.trace)
        Files.write(Paths.get(a.out, "spans.json"),
          Json.render(h.tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "unit" -> s.unit, "start_ns" -> s.start, "end_ns" -> s.end)))
            .getBytes(UTF_8))
    } finally h.spark.stop()
  }
}

/** What a workload hands back: the seconds of each setup step after session
  * start, its units in order, failures with their cause, the (files,
  * partition dirs) each store write left behind, and workload-specific
  * artifact fields.
  */
final case class RunResult(setupParts: Map[String, Double], units: Seq[UnitRec],
    failures: Seq[(String, String)], attempted: Int,
    storeWrites: Seq[(Long, Long)], extra: Map[String, Any])

/** One closed-loop unit: a batch, or one pass of the query mix. `phase` is
  * "cold" for the first unit after setup, "warmup" for further units the
  * statistics leave out, and "measured" for the units they cover; `traced`
  * marks the units run under spans.
  */
final case class UnitRec(id: String, phase: String, traced: Boolean, wallS: Double,
    ok: Boolean, spark: SparkMeter.Counters,
    driverOnlyS: Double, gcS: Double, residentMb: Double, filesWritten: Long,
    partitionsWritten: Long, rows: Long, jitS: Double, stealShare: Double)

trait Workload {
  def inputBytes(inputs: String): Long
  def run(h: Harness): RunResult
}

final class Harness(val args: Main.Args, val spark: SparkSession, val cores: Int,
    val sessionConf: Seq[(String, String)], val sessionStartS: Double, val meter: SparkMeter) {

  val tracer = new Tracer(args.trace)
  private var peakLoad = 0.0
  private val cpuAtStart = cpuJiffies()

  def flush(): Unit = ListenerBridge.flush(spark.sparkContext)

  def sampleLoad(): Unit =
    try {
      val l = new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
        .split(" ")(0).toDouble
      peakLoad = math.max(peakLoad, l)
    } catch { case scala.util.control.NonFatal(_) => }

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  /** Collection time of every collector in this JVM: in local mode the
    * driver and the executors share it.
    */
  def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  /** Time the JIT compilers have spent compiling, JVM-wide. */
  def jitMs(): Long = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L

  /** The host's cumulative (steal, total) CPU jiffies, from /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
        .takeWhile(_ != '\n').trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def residentMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Times `body` as one unit and attributes the Spark work it caused. */
  def unit(id: String, phase: String, traced: Boolean, rows: Long)
      (body: => Boolean)(after: => (Long, Long)): UnitRec = {
    flush()
    val c0 = meter.counters
    val gc0 = gcMs()
    val jit0 = jitMs()
    val cpu0 = cpuJiffies()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = body
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    flush()
    val c = meter.counters - c0
    val gc = (gcMs() - gc0) / 1e3
    val jitS = (jitMs() - jit0) / 1e3
    val cpu1 = cpuJiffies()
    // the share of the host's CPU time the hypervisor gave to other guests
    // during the unit: box drift, not code
    val steal = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
    val driverOnly = Stats.driverOnly(ms0, ms1, meter.jobIntervals) / 1000.0
    sampleLoad()
    val (files, parts) = after
    UnitRec(id, phase, traced, wall, ok, c, driverOnly, gc, residentMb(),
      files, parts, rows, jitS, steal)
  }

  /** A fixed-shape job timed the same way at the start and end of every run:
    * median of three after one untimed call. Its drift between runs is box
    * drift, not code.
    */
  def canary(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, cores).selectExpr("sum(hash(id) % 1000) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median(Seq(once(), once(), once()))
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  def artifact(r: RunResult, canaryStart: Double, canaryEnd: Double): Map[String, Any] = {
    val warm = r.units.filter(_.phase == "measured")
    val cold = r.units.filter(_.phase == "cold")
    val untracedWarm = warm.filterNot(_.traced).map(_.wallS)
    val tracedWarm = warm.filter(_.traced).map(_.wallS)
    val setupS = sessionStartS + r.setupParts.values.sum
    def medOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def med(f: UnitRec => Double): Double = medOf(warm.map(f))
    val spans = tracer.spans
    val self = Stats.selfTimes(spans)
    val tracedUnits = spans.filter(_.parent == -1)
    // per traced unit; the units' own uncovered time is reported apart
    val layerSelf: Map[String, Double] = (Stats.selfByName(spans) -- tracedUnits.map(_.name))
      .map { case (n, ns) => n -> ns / 1e9 / tracedUnits.size }
    val coverages = tracedUnits.map(u => Stats.coverage(u, spans))
    val uncovered = tracedUnits.map(u => self(u.id) / 1e9)
    val hi = Stats.highestSupported(untracedWarm.size)
    val failed = r.failures.size
    Map(
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace, "nproc" -> cores,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "session_conf" -> sessionConf.toMap,
      "spark_local_dir" -> spark.conf.get("spark.local.dir"),
      "java_io_tmpdir_root" -> Harness.tmpRoot,
      "canary_s" -> Map("start" -> canaryStart, "end" -> canaryEnd),
      "peak_loadavg" -> peakLoad,
      "cpu_steal_share" -> {
        val c = cpuJiffies()
        (c._1 - cpuAtStart._1).toDouble / math.max(1L, c._2 - cpuAtStart._2)
      },
      "session_start_s" -> sessionStartS,
      "setup_parts_s" -> r.setupParts,
      "attempted" -> r.attempted, "failed" -> failed,
      "error_rate" -> failed.toDouble / math.max(1, r.attempted),
      "failures" -> r.failures.map { case (u, e) => Map("unit" -> u, "error" -> e) },
      "units" -> r.units.map(u => Map("id" -> u.id, "phase" -> u.phase, "traced" -> u.traced,
        "wall_s" -> u.wallS, "ok" -> u.ok, "rows" -> u.rows,
        "spark_jobs" -> u.spark.jobs, "spark_tasks" -> u.spark.tasks,
        "executor_cpu_s" -> u.spark.cpuNs / 1e9, "task_gc_s" -> u.spark.gcMs / 1e3,
        "jvm_gc_s" -> u.gcS, "driver_only_s" -> u.driverOnlyS,
        "resident_mb" -> u.residentMb, "files_written" -> u.filesWritten,
        "partitions_written" -> u.partitionsWritten, "jit_s" -> u.jitS,
        "cpu_steal_share" -> u.stealShare)),
      "unit_count" -> r.units.groupBy(_.phase).map { case (k, v) => k -> v.size },
      "unit_percentiles_s" -> (Map("samples" -> untracedWarm.size) ++
        hi.map(p => Map("highest_supported" -> p, "value" -> Stats.percentile(untracedWarm, p)))
          .getOrElse(Map("highest_supported" -> "none: fewer than 20 samples"))),
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "unit_p50_s" -> medOf(untracedWarm),
        "unit_cold_s" -> cold.headOption.map(_.wallS).getOrElse(0.0),
        "peak_rss_mb" -> vmHwmMb()),
      "rows_per_s" -> {
        val w = warm.filterNot(_.traced)
        val wall = w.map(_.wallS).sum
        if (wall <= 0) 0.0 else w.map(_.rows).sum / wall
      },
      "per_layer" -> Map(
        "spark.jobs" -> med(_.spark.jobs.toDouble),
        "spark.tasks" -> med(_.spark.tasks.toDouble),
        "spark.executor_cpu_s" -> med(_.spark.cpuNs / 1e9),
        // mean, not median: most units see no collection at all
        "jvm.gc_s" -> (if (warm.isEmpty) 0.0 else warm.map(_.gcS).sum / warm.size),
        "spark.shuffle_write_mb" -> med(_.spark.shuffleWriteBytes / 1e6),
        "spark.spill_mb" -> med(_.spark.spillBytes / 1e6),
        "spark.task_wait_s" -> med(_.spark.taskWaitMs / 1e3),
        "spark.slot_busy_ratio" -> med(u => Stats.slotBusyRatio(u.spark.taskMs / 1e3, u.wallS, cores)),
        "spark.driver_only_s" -> med(_.driverOnlyS),
        "release.resident_mb" -> med(_.residentMb),
        "sources.files_written" -> medOf(r.storeWrites.map(_._1.toDouble)),
        "sources.partitions_written" -> medOf(r.storeWrites.map(_._2.toDouble)),
        "trace.coverage" -> medOf(coverages),
        "layer.operators_s" -> layerSelf.filter(_._1.startsWith("operators.")).values.sum,
        "layer.sinks_s" -> layerSelf.filter(_._1.startsWith("sinks.")).values.sum),
      "trace" -> Map(
        "traced_spans" -> spans.size,
        "traced_units" -> tracedUnits.size,
        "layer_self_s_per_unit" -> layerSelf,
        "coverage_median" -> medOf(coverages),
        "uncovered_s_median" -> medOf(uncovered),
        "overhead_s" -> (if (tracedWarm.isEmpty || untracedWarm.isEmpty) 0.0
          else Stats.median(tracedWarm) - Stats.median(untracedWarm)))) ++ r.extra
  }
}

object Harness {

  /** A tracer that records nothing: untraced units run through it. */
  val untraced = new Tracer(false)

  /** `java.io.tmpdir` as the run started: the per-run artifact root. */
  val tmpRoot: String = sys.props("java.io.tmpdir")

  /** Starts the session with Bench's settings, verbatim, the AQE initial
    * partition count sized by Bench's rule from the run's input bytes.
    */
  def start(a: Main.Args, inputBytes: Long): Harness = {
    val cores = Runtime.getRuntime.availableProcessors()
    val initialParts = math.min(1024L, math.max(cores.toLong, inputBytes / (32L << 20)))
    val conf = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> initialParts.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "10000",
      "spark.shuffle.sort.bypassMergeThreshold" -> "0",
      "spark.local.dir" -> graft.Scale.scratchDir)
    val t0 = System.nanoTime()
    val b = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
    val spark = b.getOrCreate()
    val startS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val meter = new SparkMeter
    spark.sparkContext.addSparkListener(meter)
    new Harness(a, spark, cores, conf, startS, meter)
  }
}

/** Renders the artifact's maps, sequences and scalars as JSON. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => graft.Json.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .map { case (k, x) => s"${graft.Json.quote(k)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => graft.Json.quote(other.toString)
  }
}
