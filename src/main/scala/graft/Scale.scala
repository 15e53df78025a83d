package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.typedLit

/** Size-based partition counts for the explicit corpus-scale repartitions
  * the operators issue (shingle/encode fan-out, iterative-loop edge tables,
  * global-rank range partitioning).
  *
  * Why this exists: `defaultParallelism` is a CLUSTER constant, not a DATA
  * constant. Calibrated at local[32] it silently pins a 60 M-edge
  * repartition to 32 tasks at sf10 (PERF.md r7: the stated cause of two
  * super-linear scale ratios), and on a 1000-executor cluster it would do
  * the opposite — far more partitions than a small frame warrants. The
  * policy here sizes the GROW direction from the plan's byte estimate;
  * the shrink direction stays AQE's job (post-shuffle coalescing).
  *
  * Caller contract: pass a SCAN-ROOTED (or narrow-on-scan) frame, whose
  * size estimate is the actual file bytes. Join- and explode-rooted frames
  * can carry garbage multiplied estimates — size those from their scan
  * inputs instead (see [[graft.operators.Graph]]'s loop edges).
  */
object Scale {

  /** Target input bytes per task for CPU-heavy passes: small enough that a
    * task's input plus its expanded intermediates (shingle arrays, PQ
    * distance tables) sit comfortably in executor memory, large enough
    * that per-task scheduling overhead stays invisible. Half of Spark's
    * 128 MB `files.maxPartitionBytes` default because these passes EXPAND
    * their input (a 64-token document becomes ~62 shingle hashes).
    */
  val targetBytesPerPartition: Long = 64L << 20

  /** Backstop cap for a repartition fan-out — far above any sane single-job
    * width, it only exists so a wrong size estimate cannot schedule
    * millions of tasks.
    */
  val maxPartitions: Int = 1 << 14

  /** Tighter cap for [[graft.operators.Analytics.withGlobalRowNumber]]-style
    * range rankings: their per-partition counts round-trip through a driver
    * `collect()` (parts rows) before folding back as [[offsetArray]]
    * constants, so the fan-out must stay a bounded driver artifact. 1024
    * ranges × the byte target is ~64 GB per ranked pass — rank inputs are
    * skinny projections (key + sort columns), so this bounds corpora far
    * past the bench scales while keeping the collected totals trivial.
    */
  val maxRangePartitions: Int = 1 << 10

  /** Per-partition running offsets folded back into the plan as ONE dense
    * array-literal CONSTANT indexed by `spark_partition_id() + 1` — O(1)
    * per-row lookup and constant generated code at any partition count.
    * The previous `map(lit(p0), lit(o0), …)` fold generated code per ENTRY
    * (the same janino-64 KB failure class as the r8 PQ-encode find, reached
    * right at [[maxRangePartitions]]) and its `element_at` scanned the map
    * linearly per row. Pids absent from `runTotals` (empty range
    * partitions) carry the running offset forward so the array stays dense.
    */
  def offsetArray(runTotals: Map[Int, Long]): Column = {
    val maxPid = if (runTotals.isEmpty) -1 else runTotals.keys.max
    val arr = new Array[Long](maxPid + 1)
    var acc = 0L
    var p = 0
    while (p <= maxPid) {
      arr(p) = acc
      acc += runTotals.getOrElse(p, 0L)
      p += 1
    }
    typedLit(arr.toSeq)
  }

  /** [[offsetArray]] for runs keyed (partition, source): one dense pid-
    * indexed offset array PER SOURCE, folded as a single map-of-arrays
    * constant — lookup is one bounded map probe (|sources| is small by
    * construction) plus the O(1) array index, and the offsets cumulate
    * independently within each source's run.
    */
  def offsetArrayByKey(runTotals: Map[(Int, String), Long]): Column = {
    val maxPid = if (runTotals.isEmpty) -1 else runTotals.keys.map(_._1).max
    val bySrc = runTotals.keys.map(_._2).toSeq.distinct.sorted.map { src =>
      val arr = new Array[Long](maxPid + 1)
      var acc = 0L
      var p = 0
      while (p <= maxPid) {
        arr(p) = acc
        acc += runTotals.getOrElse((p, src), 0L)
        p += 1
      }
      src -> arr.toSeq
    }.toMap
    typedLit(bySrc)
  }

  /** Scratch directory for `spark.local.dir` (shuffle files, block-manager
    * disk store) in the harness sessions: `$SPARK_GRAFT_LOCAL_DIR` if set,
    * else tmpfs (`/dev/shm`) when the box has one, else the JVM tmpdir.
    * Spark creates a per-session `spark-<uuid>` subdirectory underneath and
    * removes it on shutdown, so concurrent sessions never collide. See
    * Session.scala for the measurement that motivates the tmpfs default.
    */
  def scratchDir: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-local"
    else System.getProperty("java.io.tmpdir")
  })

  /** Partition count for an explicit repartition of `df`: the optimized
    * plan's byte estimate over [[targetBytesPerPartition]], clamped to
    * [defaultParallelism, cap]. At bench scale this floors to
    * defaultParallelism (existing plans unchanged); past ~2 GB of input it
    * grows with the data.
    *
    * UNKNOWN-size plans fall back to defaultParallelism, not the cap: a
    * plan whose stats degrade to `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue — e.g. a localCheckpoint-ed LogicalRDD root, or any
    * join-rooted estimate at/above the sentinel) carries no size signal,
    * and scheduling the 2^14-partition cap off garbage stats is a
    * pathological repartition, not a safe default (ADVICE r8). Callers
    * should pass scan/narrow-rooted frames; this guard makes a violation
    * cheap rather than catastrophic.
    */
  def partitionsFor(df: DataFrame, cap: Int = maxPartitions): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val defaultSentinel = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val floor = df.sparkSession.sparkContext.defaultParallelism.toLong
    val byBytes =
      if (bytes.isValidLong && bytes < defaultSentinel)
        bytes.toLong / targetBytesPerPartition + 1
      else floor
    math.min(cap.toLong, math.max(floor, byBytes)).toInt
  }
}
