package perfbench

/** The benchmark's own arithmetic, kept free of Spark so [[SelfTest]] can
  * check it on synthetic inputs.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, rank(s.size, p) - 1))
  }

  private def rank(n: Int, p: Double): Int = math.ceil(p * n / 100.0 - 1e-9).toInt

  /** Samples strictly beyond the nearest-rank p-th percentile of n samples. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  val ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile with at least ten samples beyond it, or
    * None when even the median has fewer than ten (under 20 samples).
    */
  def highestSupported(n: Int): Option[Double] = ladder.find(p => beyond(n, p) >= 10)

  /** Length of the union of half-open [start, end) intervals, clipped to
    * [lo, hi).
    */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }

  /** Span duration minus the part of its interval its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Long =
    (span.end - span.start) -
      unionLength(children.map(c => (c.start, c.end)), span.start, span.end)

  /** Self time of every span, by span id. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfTime(s, kids.getOrElse(s.id, Nil))).toMap
  }

  /** Self time summed per span name over `spans`. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  /** Share of `root`'s wall covered by its direct children. */
  def coverage(root: Span, spans: Seq[Span]): Double = {
    val dur = root.end - root.start
    if (dur <= 0) 0.0
    else unionLength(spans.filter(_.parent == root.id).map(c => (c.start, c.end)),
      root.start, root.end).toDouble / dur
  }

  /** Time in [lo, hi) during which no Spark job was running. */
  def driverOnly(lo: Long, hi: Long, jobs: Seq[(Long, Long)]): Long =
    (hi - lo) - unionLength(jobs, lo, hi)

  /** Summed task time over the task slots the window offered. */
  def slotBusyRatio(taskTime: Double, wall: Double, cores: Int): Double =
    if (wall <= 0 || cores <= 0) 0.0 else taskTime / (wall * cores)
}

/** One traced call: `unit` is the batch date or query name it belongs to;
  * `parent` is -1 for a unit's root span. Times are `System.nanoTime`.
  */
final case class Span(id: Int, parent: Int, name: String, unit: String,
    start: Long, end: Long)

/** Records spans in memory when enabled; otherwise runs bodies bare. Not
  * thread-safe: the benchmark drives the engine from one thread. `clock` is
  * replaceable so [[SelfTest]] can plant exact delays.
  */
final class Tracer(val enabled: Boolean, clock: () => Long = () => System.nanoTime()) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentUnit = ""

  def spans: Seq[Span] = buf.toSeq

  /** A unit's root span: every span opened inside carries `unitId`. */
  def unit[T](name: String, unitId: String)(body: => T): T = {
    currentUnit = unitId
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = clock()
      try body
      finally {
        stack = stack.tail
        buf += Span(id, parent, name, currentUnit, t0, clock())
      }
    }
}
