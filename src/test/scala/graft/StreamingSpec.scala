package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventOps
import graft.sources.Tables
import graft.streaming.StreamingOps

/** Streaming shapes must converge to the batch (DuckDB-verified) answers. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def stageEvents(): String = {
    val dir = Files.createTempDirectory("graft-stream-in").toString
    // stage fixture events as two "arriving" files
    val ev = Tables.events(spark, TestSession.sf)
    ev.filter(col("event_id") % 2 === 0).write.mode("append").parquet(dir)
    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(dir)
    dir
  }

  test("streaming hourly rollup over file source equals the batch rollup") {
    val dir = stageEvents()
    val q = StreamingOps.runAvailableNow(
      StreamingOps.hourlyRollup(StreamingOps.eventStream(spark, dir)),
      "hourly_test", Files.createTempDirectory("graft-ckpt").toString)
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_test")
    val batch = EventOps.hourlyRollup(Tables.events(spark, TestSession.sf))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("incremental streaming KPI upsert converges to the batch answer") {
    import graft.operators.Kpi
    import graft.sources.Tables
    val sf = TestSession.sf
    val ordersDir = Files.createTempDirectory("graft-orders-in").toString
    val kpiPath = Files.createTempDirectory("graft-kpi-out").toString + "/daily"
    val orders = Tables.ordersDomain(spark, sf)
    val items = Tables.orderItems(spark, sf)
    // two "arrival waves" of order files → at least two micro-batches
    orders.filter(col("order_id") % 2 === 0).write.mode("append").parquet(ordersDir)
    orders.filter(col("order_id") % 2 === 1).write.mode("append").parquet(ordersDir)
    val staticOrders = spark.read.schema(graft.sources.Csv.ordersSchema).parquet(ordersDir)
    val q = StreamingOps.incrementalDailyKpis(spark, ordersDir, staticOrders, items,
      kpiPath, Files.createTempDirectory("graft-ckpt3").toString, maxFilesPerTrigger = Some(1))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(kpiPath)
      .select("date_key", "total_orders", "total_revenue", "return_rate",
        "unique_customers", "total_items_sold")
    val batch = Kpi.orderKpis(staticOrders, items)
      .select("date_key", "total_orders", "total_revenue", "return_rate",
        "unique_customers", "total_items_sold")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
  }

  test("streaming dedup: duplicated arrivals collapse to distinct event ids") {
    val dir = Files.createTempDirectory("graft-dup-in").toString
    // deterministic subset (unordered limit could pick different rows per job)
    val ev = Tables.events(spark, TestSession.sf)
      .orderBy(col("event_id")).limit(200)
    // the same 200 events arrive twice (two files) → dedup must emit 200
    ev.write.mode("append").parquet(dir)
    ev.write.mode("append").parquet(dir)
    val q = StreamingOps.dedupStream(StreamingOps.eventStream(spark, dir))
      .writeStream.format("memory").queryName("dedup_test").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt4").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("dedup_test")
    assert(got.count() == 200)
    assert(got.select("event_id").distinct().count() == 200)
  }

  test("stream-stream attribution self-join equals the same function run in batch") {
    val dir = stageEvents()
    val q = StreamingOps.runAvailableNow(
      StreamingOps.purchaseAttribution(StreamingOps.eventStream(spark, dir)),
      "attr_test", Files.createTempDirectory("graft-ckpt5").toString,
      outputMode = "append")
    q.awaitTermination(120000)
    val streamed = spark.table("attr_test")
    // withWatermark is a no-op in batch: identical code path, batch execution
    val batch = StreamingOps.purchaseAttribution(Tables.events(spark, TestSession.sf))
    assert(batch.count() > 0, "fixture must produce at least one attribution pair")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
  }

  test("streaming incremental dedup over a growing index reproduces the batch pair set") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, TestSession.sf)
    val inDir = Files.createTempDirectory("graft-dedup-in").toString
    val base = Files.createTempDirectory("graft-dedup-out").toString
    // the corpus arrives in two waves; the index starts EMPTY
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(inDir)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(inDir)
    val q = StreamingOps.incrementalDedupLoop(spark, inDir,
      s"$base/index", s"$base/pairs",
      Files.createTempDirectory("graft-ckpt6").toString, maxFilesPerTrigger = Some(1))
    q.awaitTermination(180000)
    // every doc was hashed exactly once (index holds one row per long-enough doc)
    val indexed = spark.read.parquet(s"$base/index")
    assert(indexed.select("doc_id").distinct().count() == indexed.count())
    // the accumulated pair stream == the one-shot batch pair set
    val streamed = spark.read.parquet(s"$base/pairs")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val batch = Dedup.minhashPairs(docs)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"streamed ${streamed.size} pairs, batch ${batch.size}")
    // worst-case crash recovery: a FULL replay (fresh checkpoint, same input)
    // re-fires every micro-batch; the batchId commit markers make each one a
    // no-op, so the index keeps exactly one row per doc and the pair set is
    // unchanged — no duplicate appends, no self-matching pairs
    val nIndexed = indexed.count()
    val q2 = StreamingOps.incrementalDedupLoop(spark, inDir,
      s"$base/index", s"$base/pairs",
      Files.createTempDirectory("graft-ckpt6b").toString, maxFilesPerTrigger = Some(1))
    q2.awaitTermination(180000)
    val replayedIdx = spark.read.parquet(s"$base/index")
    assert(replayedIdx.count() == nIndexed, "replayed micro-batches must be no-ops")
    assert(replayedIdx.select("doc_id").distinct().count() == nIndexed)
    val replayedPairs = spark.read.parquet(s"$base/pairs")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(replayedPairs == batch)
  }

  test("streaming incremental dedup heals a torn micro-batch against the committed batches only") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, TestSession.sf)
    val inDir = Files.createTempDirectory("graft-torn-in").toString
    val base = Files.createTempDirectory("graft-torn-out").toString
    // two one-file waves: exactly two micro-batches, 0 and 1
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(inDir)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(inDir)
    def run(): Unit = StreamingOps.incrementalDedupLoop(spark, inDir,
      s"$base/index", s"$base/pairs",
      Files.createTempDirectory("graft-torn-ckpt").toString, maxFilesPerTrigger = Some(1))
      .awaitTermination(180000)
    def pairsOf(dir: String): Seq[(Long, Long)] = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSeq.sorted
    def files(dir: String): Map[String, Long] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .map(f => f.getName -> f.lastModified).toMap
    run()
    assert(new java.io.File(s"$base/index").list().filter(_.startsWith("batch_id=")).sorted
      .toSeq == Seq("batch_id=0", "batch_id=1"))
    val batch1Pairs = pairsOf(s"$base/pairs/batch_id=1")
    val batch0 = Seq("index", "pairs").map(t => files(s"$base/$t/batch_id=0"))
    // tear batch 1: its pairs and index files stay on disk, its commit
    // marker does not — the state a crash just before the marker leaves
    Files.delete(java.nio.file.Paths.get(s"$base/index/batch_id=1/_SUCCESS"))
    Files.deleteIfExists(java.nio.file.Paths.get(s"$base/index/batch_id=1/._SUCCESS.crc"))
    run() // a fresh checkpoint replays both batches
    assert(Seq("index", "pairs").map(t => files(s"$base/$t/batch_id=0")) == batch0,
      "committed batch 0 must be a no-op")
    assert(new java.io.File(s"$base/index/batch_id=1/_SUCCESS").exists())
    // recomputed against batch 0's index only: the torn batch's own index
    // would match every doc to itself
    assert(pairsOf(s"$base/pairs/batch_id=1") == batch1Pairs)
    val indexed = spark.read.parquet(s"$base/index")
    assert(indexed.select("doc_id").distinct().count() == indexed.count())
    val batch = Dedup.minhashPairs(docs)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(batch.nonEmpty && pairsOf(s"$base/pairs").toSet == batch)
  }

  test("streaming media dedup over a growing hash index reproduces the doc-grain pair set") {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, TestSession.sf))
      .select(col("doc_id"), col("payload"))
    val inDir = Files.createTempDirectory("graft-mdedup-in").toString
    val base = Files.createTempDirectory("graft-mdedup-out").toString
    // the corpus arrives in two waves; the index starts EMPTY
    media.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(inDir)
    media.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(inDir)
    val q = StreamingOps.incrementalMediaDedupLoop(spark, inDir,
      s"$base/index", s"$base/pairs",
      Files.createTempDirectory("graft-mckpt").toString, maxFilesPerTrigger = Some(1))
    q.awaitTermination(180000)
    // every payload was decoded exactly once (one index row per doc)
    val indexed = spark.read.parquet(s"$base/index")
    assert(indexed.count() == media.count())
    assert(indexed.select("doc_id").distinct().count() == indexed.count())
    // accumulated pair stream == the full doc-grain banded pair set
    // (= incrementalMediaPairs of the whole corpus against an empty index)
    val streamed = spark.read.parquet(s"$base/pairs")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val full = Multimodal.incrementalMediaPairs(media, Multimodal.dhashOf(media.limit(0)))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(streamed == full, s"streamed ${streamed.size} pairs, batch ${full.size}")
    // replay with a fresh checkpoint: commit markers make every batch a no-op
    val q2 = StreamingOps.incrementalMediaDedupLoop(spark, inDir,
      s"$base/index", s"$base/pairs",
      Files.createTempDirectory("graft-mckpt2").toString, maxFilesPerTrigger = Some(1))
    q2.awaitTermination(180000)
    assert(spark.read.parquet(s"$base/index").count() == indexed.count(),
      "replayed micro-batches must be no-ops")
  }

  test("streaming span dedup over a growing owner index reproduces the batch rewrite") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, TestSession.sf)
    val cut = 250L
    val inDir = Files.createTempDirectory("graft-sdedup-in").toString
    val base = Files.createTempDirectory("graft-sdedup-out").toString
    // doc_id-ORDERED waves (arrival order = canonical order, so
    // first-writer-wins == the full rewrite's global (doc_id, pos) min).
    // One part file per wave: FileStreamSource orders by mod-time then path,
    // so a multi-part wave under maxFilesPerTrigger=1 could split into
    // out-of-doc_id-order micro-batches and void the ordering premise.
    docs.filter(col("doc_id") < cut).coalesce(1).write.mode("append").parquet(inDir)
    docs.filter(col("doc_id") >= cut).coalesce(1).write.mode("append").parquet(inDir)
    val q = StreamingOps.incrementalSpanDedupLoop(spark, inDir,
      s"$base/index", s"$base/clean",
      Files.createTempDirectory("graft-sckpt").toString, maxFilesPerTrigger = Some(1))
    q.awaitTermination(180000)
    def keyOf(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_covered"), r.getAs[String]("clean_text"))
    val streamed = spark.read.parquet(s"$base/clean").collect().map(keyOf).toMap
    val full = Dedup.dedupSpans(docs).collect().map(keyOf).toMap
    assert(streamed.size == full.size)
    assert(streamed == full, "streamed rewrite must equal the one-shot batch rewrite")
    assert(full.values.exists(_._1 > 0), "fixture must contain duplicated spans")
    // replay with a fresh checkpoint: commit markers make every batch a no-op
    val nIdx = spark.read.parquet(s"$base/index").count()
    val q2 = StreamingOps.incrementalSpanDedupLoop(spark, inDir,
      s"$base/index", s"$base/clean",
      Files.createTempDirectory("graft-sckpt2").toString, maxFilesPerTrigger = Some(1))
    q2.awaitTermination(180000)
    assert(spark.read.parquet(s"$base/index").count() == nIdx,
      "replayed micro-batches must be no-ops")
    assert(spark.read.parquet(s"$base/clean").collect().map(keyOf).toMap == full)
  }

  test("streaming search-index maintenance equals the one-shot batch build") {
    import graft.operators.Search
    val docs = Tables.documents(spark, TestSession.sf)
    val inDir = Files.createTempDirectory("graft-search-in").toString
    val idxDir = Files.createTempDirectory("graft-search-idx").toString + "/index"
    // the corpus arrives in two waves of doc-disjoint batches
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(inDir)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(inDir)
    val q = StreamingOps.incrementalSearchIndex(spark, inDir, idxDir,
      Files.createTempDirectory("graft-ckpt-si").toString, maxFilesPerTrigger = Some(1))
    q.awaitTermination(180000)
    val streamed = StreamingOps.storedStreamIndex(spark, idxDir)
    val batch = Search.buildIndex(docs)
    def postingsOf(i: Search.Bm25Index) = i.postings.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("token"),
        r.getAs[Long]("tf"), r.getAs[Long]("len"))).toSet
    def dfOf(i: Search.Bm25Index) = i.df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def statsOf(i: Search.Bm25Index) = i.stats.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(postingsOf(streamed) == postingsOf(batch))
    assert(dfOf(streamed) == dfOf(batch))
    assert(statsOf(streamed) == statsOf(batch))
    // the ranked query over the streamed bundle equals the batch query
    def ranked(i: Search.Bm25Index) = Search.bm25TopKFromIndex(i).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("score_q"),
        r.getAs[Int]("rank"))).toSet
    assert(ranked(streamed) == ranked(batch))
    // full replay (fresh checkpoint): committed bundles are no-ops
    val q2 = StreamingOps.incrementalSearchIndex(spark, inDir, idxDir,
      Files.createTempDirectory("graft-ckpt-si2").toString, maxFilesPerTrigger = Some(1))
    q2.awaitTermination(180000)
    val replayed = StreamingOps.storedStreamIndex(spark, idxDir)
    assert(postingsOf(replayed) == postingsOf(batch), "replay must be a no-op")
    assert(dfOf(replayed) == dfOf(batch) && statsOf(replayed) == statsOf(batch))
  }

  test("streaming session windows converge to the batch session_window answer") {
    val dir = stageEvents()
    val q = StreamingOps.runAvailableNow(
      StreamingOps.sessionRollup(StreamingOps.eventStream(spark, dir)),
      "sessions_test", Files.createTempDirectory("graft-ckpt7").toString)
    q.awaitTermination(120000)
    val streamed = spark.table("sessions_test")
    // identical grouping + DECIMAL-quantized sum, batch execution — the
    // DuckDB-gated events_session_windows op
    val batch = EventOps.sessionWindows(Tables.events(spark, TestSession.sf))
      .select("user_id", "session_start", "n_events", "total_value")
    assert(batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
  }

  test("flatMapGroupsWithState sessions: exactly the batch sessions closed by the final watermark") {
    import spark.implicits._
    val dir = stageEvents()
    val typed = StreamingOps.eventStream(spark, dir).as[StreamingOps.Event]
    val q = StreamingOps.runAvailableNow(
      StreamingOps.sessionizeStream(typed).toDF(),
      "fsess_test", Files.createTempDirectory("graft-ckpt8").toString,
      outputMode = "append")
    q.awaitTermination(180000)
    val streamed = spark.table("fsess_test").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value"))).toSet
    // final watermark = max event time − 30 min; the stream must emit exactly
    // the batch sessions that closed (end + gap) strictly before it
    val events = Tables.events(spark, TestSession.sf)
    val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val wmUs = maxUs - 30L * 60 * 1000000
    val gapUs = EventOps.sessionGapUs
    val expected = EventOps.sessionize(events).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value")))
      .filter(s => s._3.getTime / 1000L * 1000000L + s._3.getNanos / 1000L + gapUs < wmUs)
      .toSet
    assert(expected.nonEmpty)
    assert(streamed == expected,
      s"streamed ${streamed.size} sessions, expected ${expected.size}")
  }

  test("mapGroupsWithState running user stats equal batch per-user totals") {
    import spark.implicits._
    val dir = stageEvents()
    val typed = StreamingOps.eventStream(spark, dir).as[StreamingOps.Event]
    val q = StreamingOps.runAvailableNow(
      StreamingOps.userRunningStats(typed).toDF(),
      "user_state_test", Files.createTempDirectory("graft-ckpt2").toString,
      outputMode = "update")
    q.awaitTermination(120000)
    // "update" emits one row per user per micro-batch — keep the final state
    val streamed = spark.table("user_state_test")
      .groupBy("user_id").agg(max(struct(col("n_events"), col("total_value"), col("last_seen"))).as("s"))
      .select(col("user_id"), col("s.n_events"), col("s.total_value"), col("s.last_seen"))
    val batch = EventOps.userStats(Tables.events(spark, TestSession.sf))
      .select(col("user_id"), col("n_events"), col("total_value"), col("last_seen"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"streamed=${streamed.count()} batch=${batch.count()}")
  }

  test("streaming url dedup: final index equals full recompute; ownership first-writer") {
    import graft.operators.TextOps
    val docs = Tables.documents(spark, TestSession.sf)
    val cut = 250L
    val inDir = Files.createTempDirectory("graft-url-in").toString
    val base = Files.createTempDirectory("graft-url-out").toString
    // doc_id-ordered waves, one part file each (the span-loop convention:
    // arrival order = canonical order so first-writer = global-min owner)
    docs.filter(col("doc_id") < cut).coalesce(1).write.mode("append").parquet(inDir)
    docs.filter(col("doc_id") >= cut).coalesce(1).write.mode("append").parquet(inDir)
    val q = StreamingOps.incrementalUrlDedupLoop(spark, inDir,
      s"$base/index", s"$base/assign",
      Files.createTempDirectory("graft-uckpt").toString, maxFilesPerTrigger = Some(1))
    q.awaitTermination(180000)
    // compacted index == the one-shot full index
    def idxKey(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("ch") -> (r.getAs[Long]("n_dups"), r.getAs[Long]("owner_doc"))
    val compacted = spark.read.parquet(s"$base/index")
      .groupBy(col("ch")).agg(org.apache.spark.sql.functions.sum(col("n_dups")).as("n_dups"),
        org.apache.spark.sql.functions.min(col("owner_doc")).as("owner_doc"))
      .collect().map(idxKey).toMap
    val full = TextOps.urlIndex(docs).collect().map(idxKey).toMap
    assert(compacted == full, "streamed index must equal the one-shot index")
    // per-doc ownership under ordered arrival == the full recompute's flag
    val streamedOwn = spark.read.parquet(s"$base/assign")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("is_url_canonical")).toMap
    val fullOwn = TextOps.urlDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("is_url_canonical")).toMap
    assert(streamedOwn == fullOwn)
    // replay with a fresh checkpoint: commit markers make every batch a no-op
    val nIdx = spark.read.parquet(s"$base/index").count()
    val q2 = StreamingOps.incrementalUrlDedupLoop(spark, inDir,
      s"$base/index", s"$base/assign",
      Files.createTempDirectory("graft-uckpt2").toString, maxFilesPerTrigger = Some(1))
    q2.awaitTermination(180000)
    assert(spark.read.parquet(s"$base/index").count() == nIdx,
      "replayed micro-batches must be no-ops")
  }

  test("manifest state compaction: seal fences atomically; decisions, replay and GC all unchanged") {
    import spark.implicits._
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lam", "mu", "nu", "xi")
    def gen(seed: Int, n: Int = 40): String =
      (0 until n).map(i => vocab((i * 7 + seed * 13 + i * i * seed) % vocab.size))
        .mkString(" ")
    def vary(base: String, at: Int*): String = {
      val ws = base.split(" "); at.foreach(i => ws(i) = s"CHANGED$i"); ws.mkString(" ")
    }
    val a = gen(1); val y = gen(5)
    val wave0 = Seq(1L -> a, 2L -> vary(a, 25), 15L -> y)
    val wave1 = Seq(7L -> a, 21L -> vary(a, 30))
    // wave 2 arrives AFTER compaction: 14 is a smaller-id exact copy of the
    // SEALED owner 15 (exercises the folded owners state), 28 is a loner
    val wave2 = Seq(14L -> y, 28L -> gen(11))
    def df(ws: Seq[(Long, String)]) =
      ws.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val inDir = Files.createTempDirectory("graft-cmp-in").toString
    for (w <- Seq(wave0, wave1)) df(w).coalesce(1).write.mode("append").parquet(inDir)
    val storeA = Files.createTempDirectory("graft-cmp-a").toString
    val storeB = Files.createTempDirectory("graft-cmp-b").toString
    val ckptA = Files.createTempDirectory("graft-cmp-ca").toString
    val ckptB = Files.createTempDirectory("graft-cmp-cb").toString
    def run(store: String, ckpt: String) = {
      val q = StreamingOps.incrementalManifestLoop(spark, inDir, store, ckpt,
        maxFilesPerTrigger = Some(1))
      q.awaitTermination(180000)
    }
    run(storeA, ckptA); run(storeB, ckptB)
    StreamingOps.compactManifestState(spark, storeA)
    // atomic fencing: folded numeric dirs are still on disk, yet invisible
    val live = StreamingOps.committedManifestDirs(spark, storeA, "labels")
    assert(live.size == 1 && live.head.contains("sealed1"), s"got $live")
    assert(new java.io.File(s"$storeA/labels").list()
      .count(_.startsWith("batch_id=")) == 3, "garbage not yet reclaimed")
    // the post-compaction batch decides identically on both stores
    df(wave2).coalesce(1).write.mode("append").parquet(inDir)
    run(storeA, ckptA); run(storeB, ckptB)
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      (r.getAs[Boolean]("is_canonical"), r.getAs[Long]("cluster_id"),
        r.getAs[Boolean]("is_cluster_survivor"), r.getAs[Boolean]("keep"))
    def manifests(store: String) =
      spark.read.parquet(s"$store/manifest").collect().map(key).toMap
    val a2 = manifests(storeA)
    assert(a2 == manifests(storeB),
      "compaction must not change any decision the loop makes")
    assert(a2(14L)._1, "smaller-id copy must still beat the SEALED owner")
    // GC reclaims the fenced dirs but keeps the replay no-op markers
    StreamingOps.gcManifestState(spark, storeA)
    assert(!new java.io.File(s"$storeA/labels/batch_id=0").exists())
    assert(new java.io.File(s"$storeA/sigindex/batch_id=0/_SUCCESS").exists())
    assert(new java.io.File(s"$storeA/sigindex/batch_id=0").list()
      .forall(n => n == "_SUCCESS" || n == "._SUCCESS.crc"),
      "sealed sigindex batch keeps only its marker (and the local-FS crc twin)")
    // a worst-case fresh-checkpoint full replay stays a no-op AFTER gc
    run(storeA, Files.createTempDirectory("graft-cmp-ca2").toString)
    assert(manifests(storeA) == a2, "replay after compaction+gc must be a no-op")
  }

  test("manifest compaction vs a live loop: in-flight batch neither folded nor fenced; mid-race commit re-enters live; concurrent compaction preserves decisions") {
    import spark.implicits._
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lam", "mu", "nu", "xi")
    def gen(seed: Int, n: Int = 40): String =
      (0 until n).map(i => vocab((i * 7 + seed * 13 + i * i * seed) % vocab.size))
        .mkString(" ")
    def vary(base: String, at: Int*): String = {
      val ws = base.split(" "); at.foreach(i => ws(i) = s"CHANGED$i"); ws.mkString(" ")
    }
    def df(ws: Seq[(Long, String)]) =
      ws.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val a = gen(1); val y = gen(5)
    val waves = Seq(
      Seq(1L -> a, 2L -> vary(a, 25), 15L -> y),
      Seq(7L -> a, 21L -> vary(a, 30)),
      Seq(14L -> y, 28L -> gen(11)),
      Seq(3L -> vary(a, 5), 35L -> gen(12)))

    // ---- Part A (deterministic): the ADVICE r12 race, replayed by hand.
    // An IN-FLIGHT batch (family dirs on disk, sigindex marker not yet
    // written) must be invisible to the compaction snapshot — neither
    // folded into the seal nor fenced out by it — and once its marker
    // lands it re-enters the live set past the fence, losing nothing.
    val inA = Files.createTempDirectory("graft-ilv-ina").toString
    val storeA = Files.createTempDirectory("graft-ilv-a").toString
    val ckptA = Files.createTempDirectory("graft-ilv-ca").toString
    for (w <- waves.take(2)) df(w).coalesce(1).write.mode("append").parquet(inA)
    StreamingOps.incrementalManifestLoop(spark, inA, storeA, ckptA,
      maxFilesPerTrigger = Some(1)).awaitTermination(180000)
    // fabricate in-flight batch 2 as a copy of batch 1, marker withheld
    val fams = Seq("labels", "survivors", "owners", "sigindex")
    for (f <- fams) {
      val src = new java.io.File(s"$storeA/$f/batch_id=1")
      val dst = new java.io.File(s"$storeA/$f/batch_id=2")
      dst.mkdirs()
      src.listFiles().foreach(c => java.nio.file.Files.copy(c.toPath,
        new java.io.File(dst, c.getName).toPath))
    }
    new java.io.File(s"$storeA/sigindex/batch_id=2/_SUCCESS").delete()
    new java.io.File(s"$storeA/sigindex/batch_id=2/._SUCCESS.crc").delete()
    def ownersFold(dirs: Seq[String]) =
      spark.read.parquet(dirs: _*)
        .groupBy(col("text_key"))
        .agg(org.apache.spark.sql.functions.min(col("canonical_id")).as("canonical_id"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def labelSet(dirs: Seq[String]) =
      spark.read.parquet(dirs: _*).distinct().collect().map(_.toString).toSet
    val ownersBefore = ownersFold(StreamingOps.committedManifestDirs(spark, storeA, "owners"))
    StreamingOps.compactManifestState(spark, storeA)
    val liveA = StreamingOps.committedManifestDirs(spark, storeA, "labels")
    assert(liveA.size == 1 && liveA.head.contains("sealed1"),
      s"in-flight batch 2 must not raise the seal horizon: $liveA")
    assert(new java.io.File(s"$storeA/labels/batch_id=2").exists(),
      "compaction must not touch the in-flight batch's dirs")
    // the marker lands (the mid-race commit): batch 2 is past the fence
    new java.io.File(s"$storeA/sigindex/batch_id=2/_SUCCESS").createNewFile()
    val liveA2 = StreamingOps.committedManifestDirs(spark, storeA, "labels")
    assert(liveA2.exists(_.contains("sealed1")) && liveA2.exists(_.endsWith("batch_id=2")),
      s"committed mid-race batch must re-enter the live set: $liveA2")
    // a second compaction folds it; the reader's fold is unchanged by
    // sealing (batch 2 duplicated batch 1's rows — union/min tolerate it)
    StreamingOps.compactManifestState(spark, storeA)
    val liveA3 = StreamingOps.committedManifestDirs(spark, storeA, "labels")
    assert(liveA3.size == 1 && liveA3.head.contains("sealed2"), s"got $liveA3")
    assert(ownersFold(StreamingOps.committedManifestDirs(spark, storeA, "owners"))
      == ownersBefore, "owners fold must survive seal-over-duplicate")
    assert(labelSet(liveA3) == labelSet(Seq(s"$storeA/labels/batch_id=0",
      s"$storeA/labels/batch_id=1")), "label set must survive sealing")

    // ---- Part B (live): compaction hammering a RUNNING loop — every
    // interleaving must leave the final manifest identical to the
    // never-compacted twin store's.
    val inB = Files.createTempDirectory("graft-ilv-inb").toString
    val storeB = Files.createTempDirectory("graft-ilv-b").toString   // compacted live
    val storeC = Files.createTempDirectory("graft-ilv-c").toString   // never compacted
    for (w <- waves) df(w).coalesce(1).write.mode("append").parquet(inB)
    StreamingOps.incrementalManifestLoop(spark, inB, storeC,
      Files.createTempDirectory("graft-ilv-cc").toString,
      maxFilesPerTrigger = Some(1)).awaitTermination(180000)
    val qB = StreamingOps.incrementalManifestLoop(spark, inB, storeB,
      Files.createTempDirectory("graft-ilv-cb").toString,
      maxFilesPerTrigger = Some(1))
    val compactor = new Thread(() => {
      // no GC here: deletion under a live reader is the documented
      // quiesce-only operation; compaction alone is the safe-live one
      (1 to 8).foreach { _ =>
        StreamingOps.compactManifestState(spark, storeB)
        Thread.sleep(150)
      }
    })
    compactor.start()
    qB.awaitTermination(180000)
    compactor.join(60000)
    StreamingOps.compactManifestState(spark, storeB) // final seal over the tail
    StreamingOps.gcManifestState(spark, storeB)      // loop quiesced: GC legal
    def manifests(store: String) =
      spark.read.parquet(s"$store/manifest").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("is_canonical"), r.getAs[Long]("cluster_id"),
            r.getAs[Boolean]("is_cluster_survivor"), r.getAs[Boolean]("keep")))
        .toMap
    val mB = manifests(storeB)
    assert(mB == manifests(storeC),
      "live-compacted store must decide identically to the never-compacted twin")
    assert(mB.keySet == waves.flatten.map(_._1).toSet)
    // and a worst-case fresh-checkpoint replay over the sealed+GC'd store
    // is still a no-op
    StreamingOps.incrementalManifestLoop(spark, inB, storeB,
      Files.createTempDirectory("graft-ilv-cb2").toString,
      maxFilesPerTrigger = Some(1)).awaitTermination(180000)
    assert(manifests(storeB) == mB, "replay after live compaction + GC must be a no-op")
  }

  test("streaming manifest loop: per-batch rows equal the sequential incremental manifest") {
    import spark.implicits._
    import graft.operators.{Dedup, TextOps}
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi", "rho",
      "sigma")
    def gen(seed: Int, n: Int = 50): String =
      (0 until n).map(i => vocab((i * 7 + seed * 13 + i * i * seed) % vocab.size))
        .mkString(" ")
    def vary(base: String, at: Int*): String = {
      val ws = base.split(" "); at.foreach(i => ws(i) = s"CHANGED$i"); ws.mkString(" ")
    }
    val a = gen(1); val y = gen(5); val m2 = gen(6)
    // wave 0: the a-family seed cluster, y's first copy, and TWO separate
    // singletons each ~0.78-jaccard from m2 but only ~0.6 from each other
    // (tau = 0.7: both pair with m2, never with each other) — the stage for
    // a genuine cross-batch cluster MERGE when m2 itself arrives in wave 2
    val wave0 = Seq(1L -> a, 2L -> vary(a, 25), 15L -> y,
      41L -> vary(m2, 10, 20), 43L -> vary(m2, 30, 40))
    // wave 1: an exact copy of doc 1 (loses canonicity AND survivorship to
    // the identical older doc) and an exact copy of y with a SMALLER id
    // (id-min semantics: wins canonicity against the stored owner)
    val wave1 = Seq(7L -> a, 21L -> vary(a, 30), 14L -> y)
    // wave 2: m2 bridges the two wave-0 singletons (merge), plus a loner
    val wave2 = Seq(42L -> m2, 28L -> gen(11))
    def df(ws: Seq[(Long, String)]) =
      ws.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val inDir = Files.createTempDirectory("graft-manifest-in").toString
    for (w <- Seq(wave0, wave1, wave2))
      df(w).coalesce(1).write.mode("append").parquet(inDir)
    val base = Files.createTempDirectory("graft-manifest-out").toString
    val q = StreamingOps.incrementalManifestLoop(spark, inDir, base,
      Files.createTempDirectory("graft-mfckpt").toString,
      maxFilesPerTrigger = Some(1))
    q.awaitTermination(180000)
    val all = (wave0 ++ wave1 ++ wave2).toMap
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id") ->
      (r.getAs[Boolean]("is_canonical"), r.getAs[Double]("quality"),
        r.getAs[String]("lang_pred"), r.getAs[Long]("cluster_id"),
        r.getAs[Boolean]("is_cluster_survivor"), r.getAs[String]("split"),
        r.getAs[Boolean]("model_keep"), r.getAs[Boolean]("keep"))
    // reconstruct arrival order from the committed batch subdirs (file-source
    // ordering is an implementation detail; the CONTRACT is per-batch
    // equality against the sequential incremental manifest over whatever
    // arrived earlier)
    val mroot = new java.io.File(s"$base/manifest")
    val batchDirs = mroot.listFiles().filter(_.getName.startsWith("batch_id="))
      .sortBy(_.getName.stripPrefix("batch_id=").toLong)
    assert(batchDirs.length == 3, s"expected 3 micro-batches, got ${batchDirs.length}")
    var seen = Seq.empty[Long]
    val streamed = scala.collection.mutable.Map.empty[Long, Any]
    for (bd <- batchDirs) {
      val got = spark.read.parquet(bd.toString).collect()
      val ids = got.map(_.getAs[Long]("doc_id")).toSeq
      val hist = df(seen.map(id => id -> all(id)))
      val batch = df(ids.map(id => id -> all(id)))
      val histLabels = hist.select(col("doc_id"))
        .join(Dedup.connectedComponents(Dedup.minhashPairs(hist))
          .select(col("node").as("doc_id"), col("label").as("cid")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cid"), col("doc_id")).as("cluster_id"))
      val want = TextOps.trainingManifestIncremental(batch, histLabels,
        Dedup.clusterSurvivors(hist, histLabels)
          .select(col("cluster_id"), col("survivor_id"), col("survivor_quality")),
        Dedup.exactGroups(hist).select(col("text_key"), col("canonical_id")),
        Dedup.minhashIndex(hist)).collect()
      assert(got.map(key).toMap == want.map(key).toMap,
        s"batch ${bd.getName} (docs $ids)")
      got.map(key).foreach { case (id, v) => streamed(id) = v }
      seen = seen ++ ids
    }
    // every doc decided exactly once, and the engineered cross-batch
    // decisions came out as designed
    assert(streamed.keySet == all.keySet)
    val s7 = streamed(7L).asInstanceOf[(Boolean, Double, String, Long, Boolean, String, Boolean, Boolean)]
    assert(!s7._1 && !s7._5, "late exact copy loses canonicity and survivorship")
    val s14 = streamed(14L).asInstanceOf[(Boolean, Double, String, Long, Boolean, String, Boolean, Boolean)]
    assert(s14._1 && s14._5, "smaller-id copy wins against the stored owner")
    val s42 = streamed(42L).asInstanceOf[(Boolean, Double, String, Long, Boolean, String, Boolean, Boolean)]
    assert(s42._4 == 41L,
      s"doc 42 must merge the two wave-0 singletons under min id 41, got cluster ${s42._4}")
    // worst-case crash recovery: full replay with a fresh checkpoint — the
    // sigindex commit markers make every micro-batch a no-op
    val before = spark.read.parquet(s"$base/manifest").collect().map(key).toMap
    val q2 = StreamingOps.incrementalManifestLoop(spark, inDir, base,
      Files.createTempDirectory("graft-mfckpt2").toString,
      maxFilesPerTrigger = Some(1))
    q2.awaitTermination(180000)
    val after = spark.read.parquet(s"$base/manifest").collect().map(key).toMap
    assert(after == before, "replayed micro-batches must be no-ops")
  }
}
