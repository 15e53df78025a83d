package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.SparkSession

/** Runs independent Spark actions concurrently and joins them.
  *
  * A small batch is bound by each job's fixed driver and scheduling cost, not
  * by compute; actions that do not depend on each other overlap that cost
  * when they are submitted from separate threads (Spark's scheduler accepts
  * jobs from any thread).
  *
  * Contract of [[all]]:
  *  - every call starts fresh threads, so each child inherits the caller's
  *    SparkContext local properties (job group, tags, scheduler pool) and its
  *    active session;
  *  - results come back in submission order;
  *  - it returns or throws only after every child has stopped. A failure
  *    rethrows the first failed task in submission order, with the other
  *    failures attached as suppressed;
  *  - if the caller is interrupted while waiting (a
  *    [[graft.pipeline.Pipeline.withRetry]] timeout), the children's Spark
  *    jobs are cancelled through a per-call job tag until every child has
  *    stopped, and then the interrupt is rethrown.
  */
object ForkJoin {

  /** At most this many tasks of one call run at once (a per-file fan-out of a
    * many-part delivery must not become one thread and one job per file).
    */
  private val MaxThreads = 8

  def all[T](spark: SparkSession)(tasks: (() => T)*): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-forkjoin-${java.util.UUID.randomUUID()}"
    val results = new Array[Any](tasks.size)
    val failures = new Array[Throwable](tasks.size)
    val next = new AtomicInteger(0)
    val cancelled = new AtomicBoolean(false)
    val workers = Seq.fill(math.min(tasks.size, MaxThreads))(new Thread(() => {
      sc.addJobTag(tag)
      var i = next.getAndIncrement()
      while (i < tasks.size && !cancelled.get) {
        try results(i) = tasks(i)()
        catch { case e: Throwable => failures(i) = e }
        i = next.getAndIncrement()
      }
    }, "graft-fork"))
    workers.foreach { w => w.setDaemon(true); w.start() }
    try workers.foreach(_.join())
    catch { case interrupt: InterruptedException =>
      cancelled.set(true)
      // a child may submit its next job after a cancel: repeat until all stop
      while (workers.exists(_.isAlive)) {
        sc.cancelJobsWithTag(tag)
        try workers.find(_.isAlive).foreach(_.join(100))
        catch { case _: InterruptedException => () }
      }
      failures.filter(_ != null).foreach(interrupt.addSuppressed)
      throw interrupt
    }
    failures.filter(_ != null) match {
      case Array() => results.toSeq.map(_.asInstanceOf[T])
      case failed =>
        failed.tail.filterNot(_ eq failed.head).foreach(failed.head.addSuppressed)
        throw failed.head
    }
  }
}
