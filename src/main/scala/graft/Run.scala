package graft

import graft.pipeline.Pipeline

/** CLI entry point for the batch pipeline — the reference's Lambda + Step
  * Function control plane as one command:
  *
  * {{{ sbt "runMain graft.Run /data/lake 2024-01-01" }}}
  *
  * Exit code 0 on success, 1 on rejection/incompleteness (the reference's
  * error channel — its Step Function branches on the container exit code;
  * SURVEY.md §2.2.8).
  *
  * Maintenance: {{{ graft.Run <root> compact <horizon YYYY-MM-DD> }}} seals
  * the fact store's batch layers at or before the horizon into one file per
  * partition ([[graft.sources.FactStore.compact]] — run it with the horizon
  * at the rerun/straggler retention boundary).
  */
object Run {
  def main(args: Array[String]): Unit = {
    // `compact` needs its horizon: the 2-arg form must not reach the
    // subcommand dispatch and die on args(2)
    // --reset is only legal on the batch-date form, --gc only on
    // compact-manifest: a mistyped flag must fail the require, not fall
    // through to a different (and for GC, destructive) code path (ADVICE r12)
    val isDate = args.length >= 2 && args(1).matches("\\d{4}-\\d{2}-\\d{2}")
    require(
      (args.length == 2 && (isDate || args(1) == "compact-manifest")) ||
        (args.length == 3 && ((isDate && args(2) == "--reset") ||
          args(1) == "compact" ||
          (args(1) == "compact-manifest" && args(2) == "--gc"))),
      "usage: graft.Run <root> <batch-date YYYY-MM-DD> [--reset] | " +
        "<root> compact <horizon> | <root> compact-manifest [--gc]")
    val (root, date) = (args(0), args(1))
    val reset = args.length == 3 && args(2) == "--reset"
    val spark = Session.start()
    // the coordinated entry: ledger poll + exactly-once trigger guard
    // (re-running a completed batch is a no-op, like the reference Lambda);
    // --reset is the operator escape hatch to re-admit a batch
    if (date == "compact") {
      try {
        graft.sources.FactStore.compact(spark, s"$root/facts", horizon = args(2))
        println(s"[graft] store $root/facts compacted up to ${args(2)}")
      } finally spark.stop()
      return
    }
    // the streaming manifest store's read-cost dial: seal every committed
    // batch (atomic fence, see StreamingOps.compactManifestState) and, with
    // --gc, reclaim the fenced subdirs (replay no-op markers are kept)
    if (date == "compact-manifest") {
      val gc = args.length == 3 && args(2) == "--gc"
      try {
        graft.streaming.StreamingOps.compactManifestState(spark, s"$root/curation")
        if (gc) graft.streaming.StreamingOps.gcManifestState(spark, s"$root/curation")
        println(s"[graft] manifest state $root/curation sealed" +
          (if (gc) " and garbage-collected" else ""))
      } finally spark.stop()
      return
    }
    val result = try {
      if (reset) graft.pipeline.BatchTracker.reset(spark, root, date)
      Pipeline.runTracked(spark, root, date)
    } finally spark.stop()
    result match {
      case Pipeline.Succeeded(d, c, k) =>
        println(s"[graft] batch $d succeeded: $c category rows, $k daily rows")
      case Pipeline.AlreadyTriggered(d) =>
        println(s"[graft] batch $d already triggered — exactly-once guard declined the rerun")
      case Pipeline.Rejected(d, reasons) =>
        System.err.println(s"[graft] batch $d REJECTED:")
        reasons.foreach(r => System.err.println(s"  ${r.file}: ${r.reason}"))
        sys.exit(1)
      case Pipeline.Incomplete(d, missing) =>
        System.err.println(s"[graft] batch $d incomplete, missing: ${missing.mkString(", ")}")
        sys.exit(1)
    }
  }
}
