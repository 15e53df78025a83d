package graft

/** Per-round timing hook for the fixed-round iterative ops (PageRank, label
  * propagation, the PQ/k-means Lloyd loops). Each round of those loops ends
  * in an EAGER materialization (localCheckpoint / codebook collect), so
  * wall/CPU measured around the round body is the round's true cost — the
  * term-by-term evidence PERF.md's scale-ratio attributions need (a flat
  * per-round series proves a super-linear total comes from one-time setup;
  * a growing one localizes the bug to the loop).
  *
  * Disabled (the default) it is a single volatile read per ROUND — nothing
  * per row, nothing in any query plan. Enable with env
  * `SPARK_GRAFT_LOOPPROF=1`; rounds print one line each to stderr.
  */
object LoopProf {
  val enabled: Boolean = sys.env.get("SPARK_GRAFT_LOOPPROF").contains("1")

  private def cpuMs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1000000L
      case _ => -1L
    }

  def timed[A](op: String, round: Int)(body: => A): A =
    if (!enabled) body
    else {
      val (w0, c0) = (System.nanoTime(), cpuMs())
      val r = body
      val (w1, c1) = (System.nanoTime(), cpuMs())
      System.err.println(s"[loopprof] $op round=$round wall_ms=${(w1 - w0) / 1000000L} cpu_ms=${c1 - c0}")
      r
    }
}
