package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev-only stage profiler (guide §1: measure first, §7.1 without a UI).
  * Runs registered queries (a comma-separated list runs them in turn, like
  * one pass of a query mix) and prints, per query and rep, its Spark job
  * count, its codegen compiles (classes Janino compiled during the rep: a
  * warm rep that still compiles is evicting from the codegen cache) and a
  * per-stage table — wall, executor cpu, records, shuffle bytes, callsite —
  * so "where does the cpu go" is answered from the artifact instead of
  * guessed from the plan. Not part of the driver contract; never registered
  * as a query.
  *
  *   sbt "runMain graft.Prof <sfDir> <query>[,<query>...] [reps]"
  */
object Prof {

  final case class StageRec(id: Int, name: String, wallMs: Long, cpuMs: Long,
      tasks: Int, recordsRead: Long, shuffleReadMb: Long, shuffleWriteMb: Long,
      spillMb: Long, gcMs: Long, scopes: String)

  final class StageListener extends SparkListener {
    val stages = new ArrayBuffer[StageRec]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      if (m != null) stages.synchronized {
        val scopes = si.rddInfos.flatMap(_.scope).map(_.name).distinct
          .mkString(" | ").take(200)
        stages += StageRec(
          si.stageId,
          si.name.linesIterator.next().take(120),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorCpuTime / 1000000L,
          si.numTasks,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead / 1000000L,
          m.shuffleWriteMetrics.bytesWritten / 1000000L,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1000000L,
          m.jvmGCTime, scopes)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qNames = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.start(fixtureDir = Some(sfDir))
    val fns = qNames.map(q => SparkEntry.queries.getOrElse(q, sys.error(s"unknown query: $q")))
    // each rep materialises every column through the noop sink, as the
    // benchmark's query mix does (a count() lets Catalyst prune columns)
    def materialise(i: Int): Unit =
      fns(i)(spark, sfDir).write.format("noop").mode("overwrite").save()
    // warm-up run: stores, memos, codegen — untimed, unprofiled
    qNames.indices.foreach { i => materialise(i); Release.interQuery(spark) }
    val listener = new StageListener
    val jobs = new Bench.ResourceListener
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addSparkListener(jobs)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    for (r <- 1 to reps; (qName, i) <- qNames.zipWithIndex) {
      org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
      listener.stages.clear()
      val (jobs0, cg0) = (jobs.jobs.get(), compiles.getCount)
      val t0 = System.nanoTime()
      materialise(i)
      val wall = (System.nanoTime() - t0) / 1e6
      org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
      val recs = listener.stages.synchronized(listener.stages.toVector)
      println(f"%n=== $qName rep $r: wall=${wall}%.0f ms, " +
        f"jobs=${jobs.jobs.get() - jobs0}, compiles=${compiles.getCount - cg0}, " +
        f"stages=${recs.size}, cpu=${recs.map(_.cpuMs).sum} ms, " +
        f"gc=${recs.map(_.gcMs).sum} ms ===")
      println(f"${"cpuMs"}%8s ${"wallMs"}%8s ${"tasks"}%5s ${"recsRead"}%10s " +
        f"${"shRdMb"}%6s ${"shWrMb"}%6s ${"spill"}%5s  stage")
      recs.sortBy(-_.cpuMs).take(30).foreach { s =>
        println(f"${s.cpuMs}%8d ${s.wallMs}%8d ${s.tasks}%5d " +
          f"${s.recordsRead}%10d ${s.shuffleReadMb}%6d ${s.shuffleWriteMb}%6d " +
          f"${s.spillMb}%5d  [${s.id}] ${s.name}")
        if (s.scopes.nonEmpty) println(s"          scopes: ${s.scopes}")
      }
      Release.interQuery(spark)
    }
    spark.stop()
  }
}
