package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured. Every main (Bench,
  * Verify, Prof, PlanDump, Run) and the test session start through
  * [[start]], so the plans PlanDump shows, the results Verify checks, the
  * bench's timings and the production run share one configuration.
  */
object Session {

  /** Local core count of the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  // AQE sizes every shuffle DOWN from its initial count, never up — so the
  // grow direction must be explicit, sized from the data like every other
  // fan-out in this engine. Measured at sf10 (PERF.md r9): the graph
  // loops' super-linear per-round term was reduce-side SPILL at
  // `shuffle.partitions` = cpus (LPA −34% once raised), while a flat high
  // constant (512) regressed small fixtures ~3× on pure exchange overhead
  // — hence ~32 MB of input parquet per initial reduce partition, clamped
  // to [cpus, 1024]: small fixtures stay at cpus (plans unchanged — 8 MB
  // per partition was measured +20% pure overhead at sf1), sf10 gets ~57.
  // A production cluster sets the same knob per deployment; the harness
  // mirrors that sizing rule.
  // (shared recursive walker: a Spark-style parquet DIRECTORY fixture
  // would otherwise measure ~0 bytes and silently drop this sizing)
  def initialPartitions(cpus: Int, fixtureBytes: Long): Long =
    math.min(1024L, math.max(cpus.toLong, fixtureBytes / (32L << 20)))

  /** The session's settings, in builder order. `spark.master` is
    * `SPARK_MASTER` when set (a deployment), else `local[cpus]`. The AQE
    * initial partition count is set only for a fixture dir: once set it
    * overrides `spark.sql.shuffle.partitions` at run time, so a session
    * without one (the pipeline, the tests) keeps that knob in charge at the
    * same starting value, cpus.
    */
  def conf(cpus: Int, fixtureDir: Option[String],
      env: Map[String, String] = sys.env): Seq[(String, String)] =
    Seq("spark.master" -> env.getOrElse("SPARK_MASTER", s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus.toString) ++
    fixtureDir.map(d => "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      initialPartitions(cpus, sources.ArtifactStore.parquetBytes(d)).toString) ++
    Seq("spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // local-FS directory listing is cheap; a distributed listing job for a
      // few thousand partition dirs costs more than it saves (store reads
      // resolve partitions from catalog metadata anyway)
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "10000",
      // Always use the SORT-BASED shuffle writer — the path every at-scale
      // deployment runs (bypass-merge only fires when reduce partitions ≤
      // 200, which never holds past toy scale). The bypass writer opens one
      // file PER REDUCE PARTITION per map task (M×R creates + a transferTo
      // merge + deletes); profiled at sf0.1 (r13 session 2, jstack samples)
      // those filesystem calls — open0/unmap0/write — were ~85% of the
      // iterative loops' executor cpu: a 6-half-step SALSA loop measured
      // 27–30 executor-cpu-s bypass vs 3.4–4.2 sort-based on the same box
      // (wall 3.1 → 1.7 s). Zero semantic effect; it only pins WHICH
      // writer moves the same bytes, aligning the measured path with the
      // production one.
      "spark.shuffle.sort.bypassMergeThreshold" -> "0",
      // Scratch space (shuffle files, block-manager disk store) on the
      // fastest local storage available — tmpfs when the box has one.
      // jstack samples of the task threads (r13 session 3) put the bulk of
      // the residual per-task executor cpu inside DiskBlockObjectWriter
      // file opens/writes on this sandbox's virtio ext4: sim_knn_graph
      // measured 7.8 executor-cpu-s with /tmp scratch vs 0.72 with tmpfs —
      // identical plans, rows and shuffle bytes, the delta is purely
      // filesystem syscall cost under the same M files the sort writer
      // always creates. Production precedent is first-class: Spark ships
      // `spark.kubernetes.local.dirs.tmpfs` for exactly this, and bare-metal
      // deployments point local.dir at NVMe. Parameterized so any
      // environment (or a RAM-tight sf10 side run) can override it.
      "spark.local.dir" -> Scale.scratchDir)

  /** Starts (or joins) the session. `fixtureDir` sizes the AQE initial
    * partitions; `warehouseDir` gives the test session its own catalog dir.
    */
  def start(cpus: Int = Session.cpus(), fixtureDir: Option[String] = None,
      warehouseDir: Option[String] = None, logLevel: String = "WARN"): SparkSession = {
    val settings = conf(cpus, fixtureDir) ++ warehouseDir.map("spark.sql.warehouse.dir" -> _)
    val spark = settings.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
