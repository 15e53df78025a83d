package perfbench

/** Checks the benchmark's own arithmetic on synthetic inputs; exits non-zero
  * on the first failure. Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {

  private var checks = 0

  private def check(what: String, cond: Boolean): Unit = {
    checks += 1
    if (!cond) throw new AssertionError(s"selftest failed: $what")
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    percentiles()
    spans()
    sparkWindows()
    plantedDelay()
    println(s"selftest: $checks checks passed")
  }

  private def percentiles(): Unit = {
    check("median odd", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    check("p90 of 1..100", Stats.percentile(xs, 90) == 90.0)
    check("p50 of 1..100", Stats.percentile(xs, 50) == 50.0)
    check("p100 is the max", Stats.percentile(xs, 100) == 100.0)
    check("p99.9 of 1000 keeps one beyond", Stats.beyond(1000, 99.9) == 1)
    // the highest percentile with at least ten samples beyond it
    check("19 samples support none", Stats.highestSupported(19).isEmpty)
    check("20 samples support p50", Stats.highestSupported(20).contains(50.0))
    check("39 samples support p50", Stats.highestSupported(39).contains(50.0))
    check("40 samples support p75", Stats.highestSupported(40).contains(75.0))
    check("100 samples support p90", Stats.highestSupported(100).contains(90.0))
    check("199 samples support p90", Stats.highestSupported(199).contains(90.0))
    check("200 samples support p95", Stats.highestSupported(200).contains(95.0))
    check("1000 samples support p99", Stats.highestSupported(1000).contains(99.0))
    check("10000 samples support p99.9", Stats.highestSupported(10000).contains(99.9))
  }

  private def spans(): Unit = {
    check("union merges overlaps and clips",
      Stats.unionLength(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0L, 100L) == 50L)
    check("union of nothing", Stats.unionLength(Nil, 0L, 100L) == 0L)
    check("union drops intervals outside the window",
      Stats.unionLength(Seq((-50L, -10L), (200L, 300L)), 0L, 100L) == 0L)
    val parent = Span(0, -1, "batch", "u", 0L, 100L)
    val kids = Seq(Span(1, 0, "a", "u", 10L, 30L), Span(2, 0, "b", "u", 20L, 50L),
      Span(3, 0, "c", "u", 90L, 120L))
    check("self time is duration minus covered children", Stats.selfTime(parent, kids) == 50L)
    check("coverage of direct children", close(Stats.coverage(parent, parent +: kids), 0.5))
    val grandchild = Span(4, 1, "d", "u", 12L, 18L)
    val self = Stats.selfTimes(parent +: kids :+ grandchild)
    check("grandchildren count against their own parent only",
      self(0) == 50L && self(1) == 14L && self(4) == 6L)
  }

  private def sparkWindows(): Unit = {
    val jobs = Seq((10L, 20L), (15L, 30L), (50L, 60L), (95L, 200L))
    check("driver-only time is the window minus running jobs",
      Stats.driverOnly(0L, 100L, jobs) == 65L)
    check("no jobs: all driver", Stats.driverOnly(0L, 100L, Nil) == 100L)
    check("slot busy ratio", close(Stats.slotBusyRatio(8.0, 4.0, 4), 0.5))
    check("slot busy ratio of an empty window", Stats.slotBusyRatio(1.0, 0.0, 4) == 0.0)
  }

  /** A benchmark-side wrapper with a planted delay: the delay must appear in
    * that layer's self time and nowhere else.
    */
  private def plantedDelay(): Unit = {
    def layers(planted: Long): Map[String, Long] = {
      var now = 0L
      val tr = new Tracer(true, () => now)
      def work(d: Long): Unit = now += d
      tr.unit("batch", "day-1") {
        tr.span("pipeline.validate")(work(20))
        tr.span("sources.factstore_upsert") {
          tr.span("sources.stage_write")(work(10))
          work(30 + planted)
        }
        tr.span("sinks.kv_upsert")(work(7))
        work(5)
      }
      Stats.selfByName(tr.spans)
    }
    val base = layers(0)
    val slow = layers(50)
    check("planted delay lands in its layer",
      slow("sources.factstore_upsert") - base("sources.factstore_upsert") == 50L)
    check("planted delay moves no other layer",
      (base.keySet - "sources.factstore_upsert").forall(k => slow(k) == base(k)))
    check("root keeps only its own uncovered time", base("batch") == 5L && slow("batch") == 5L)
  }
}
