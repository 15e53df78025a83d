package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.Portable.dsum
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Kpi, Search, TextOps}
import graft.sinks.KeyValueSink
import graft.sources.{Csv, HistStore, Jsonl, SketchStore}

/** Structured Streaming surface (north-star extension; the reference's
  * "real-time" is Lambda-poll micro-batching at the orchestration level —
  * SURVEY.md §1.3 — which maps exactly to file-source streaming with
  * `Trigger.AvailableNow`).
  *
  * The batch operators ([[graft.operators.EventOps]], [[graft.operators.Kpi]])
  * and these streaming shapes share aggregation logic: Spark runs the same
  * hash aggregates incrementally with watermark-bounded state, so correctness
  * is established once by the batch DuckDB oracle and the streaming specs only
  * need to assert convergence to the batch answer.
  */
object StreamingOps {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source event stream — new files under `dir` become micro-batches
    * (the reference's batch-arrival model, S3 prefix ⇒ directory).
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(dir)

  /** Streaming hourly rollup: same shape as EventOps.hourlyRollup plus a
    * 2-hour watermark bounding state — late events beyond it are dropped and
    * window state is evicted, so state size is O(active windows), not O(data).
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double,
      last_seen: Timestamp)

  /** Internal state record: the running sum is carried as UNSCALED 1e-4
    * units in a long (exact up to ~9·10^14, like the batch DECIMAL(18,4)) —
    * storing a rounded double would re-round every micro-batch and drift
    * from the batch aggregate for large totals.
    */
  final case class UserState(n_events: Long, total_scaled: Long, last_seen: Timestamp)

  /** Custom streaming state: per-user running totals via mapGroupsWithState —
    * the KeyValueGroupedDataset stateful path for semantics windows/aggs can't
    * express. State is one small record per user; timeout-free here (profile
    * state lives as long as the user). Emitted totals are bit-identical to
    * the batch `dsum` (same DECIMAL(18,4) quantization, exact integer sum).
    */
  def userRunningStats(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserRunning](GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L, new Timestamp(0)))
          val evs = batch.toSeq
          val addScaled = evs.iterator.map(e =>
            (BigDecimal(e.value).setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000).toLongExact).sum
          val next = UserState(
            prev.n_events + evs.size,
            prev.total_scaled + addScaled,
            evs.map(_.ts).foldLeft(prev.last_seen)((a, b) => if (b.after(a)) b else a))
          state.update(next)
          UserRunning(userId, next.n_events,
            (BigDecimal(next.total_scaled) / 10000).toDouble, next.last_seen)
      }
  }

  /** One open/closed session interval in [[sessionizeStream]]'s state
    * (event-time micros; the value sum in exact 1e-4 units like
    * [[UserState]]).
    */
  final case class SessAtom(startUs: Long, lastUs: Long, n: Long, totalScaled: Long)

  final case class UserSession(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  private def tsToUs(t: Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L
  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }
  private def scaledValue(v: Double): Long =
    (BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000).toLongExact

  /** Gap-based sessionization as CUSTOM streaming state — the
    * flatMapGroupsWithState formulation with event-time timeouts, for
    * semantics `session_window` can't carry (here: the exact DECIMAL-scaled
    * sum and the batch twin's session arithmetic; in general: arbitrary
    * per-session state machines).
    *
    * Per user, state is the list of OPEN session intervals. Each batch's
    * arrivals merge in by the >30-min-gap rule (order-insensitive: session
    * membership depends only on timestamp gaps, so unordered and cross-batch
    * arrivals land correctly). A session whose end is more than a gap behind
    * the watermark can never be extended — it is emitted EXACTLY ONCE and
    * dropped from state; the event-time timeout re-arms at the oldest open
    * session's close point so finished sessions flush even when a user goes
    * quiet. State is O(open sessions per active user), watermark-bounded.
    *
    * Emission ≡ the batch [[graft.operators.EventOps.sessionize]] rows whose
    * `session_end + gap <` the final watermark (spec-locked).
    */
  def sessionizeStream(events: Dataset[Event],
      watermarkDelay: String = "30 minutes"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val gapUs = graft.operators.EventOps.sessionGapUs
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[SessAtom], UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Seq[SessAtom]]) =>
          // flatMapGroupsWithState does NOT drop input older than the
          // watermark (only state eviction is watermark-driven): an event
          // arriving after its session was finalized and emitted would
          // re-create an overlapping session and emit a second row,
          // breaking the exactly-once contract. Enforce the drop here —
          // sub-watermark arrivals can only belong to already-emitted
          // territory (ADVICE r3).
          val wmFloorUs = state.getCurrentWatermarkMs() * 1000L
          val arrivals = batch
            .filter(e => tsToUs(e.ts) >= wmFloorUs)
            .map(e => SessAtom(tsToUs(e.ts), tsToUs(e.ts), 1L, scaledValue(e.value)))
            .toList
          val merged = (state.getOption.getOrElse(Seq.empty) ++ arrivals)
            .sortBy(_.startUs).toList match {
            case Nil => Nil
            case h :: t =>
              t.foldLeft(List(h)) { (acc, a) =>
                val cur = acc.head
                if (a.startUs - cur.lastUs > gapUs) a :: acc
                else SessAtom(cur.startUs, math.max(cur.lastUs, a.lastUs),
                  cur.n + a.n, cur.totalScaled + a.totalScaled) :: acc.tail
              }.reverse
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) = merged.partition(s => s.lastUs + gapUs < wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            state.setTimeoutTimestamp(open.map(_.lastUs).min / 1000L + gapUs / 1000L + 1L)
          }
          closed.iterator.map(s => UserSession(uid, usToTs(s.startUs), usToTs(s.lastUs),
            s.n, (BigDecimal(s.totalScaled) / 10000).toDouble))
      }
  }

  /** Drains all currently-available input and stops (the reference's
    * poll-then-process batch trigger, as a streaming query).
    */
  def runAvailableNow(df: DataFrame, queryName: String, checkpoint: String,
      outputMode: String = "complete"): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming gap-based sessionization via native `session_window` — the
    * streaming twin of [[graft.operators.EventOps.sessionWindows]] (same
    * grouping, same DECIMAL-quantized sum), plus a watermark bounding state:
    * sessions whose end falls behind the watermark are finalized and their
    * state evicted, so open-session state is O(active users), not O(stream).
    * Spark merges overlapping session fragments across micro-batches
    * incrementally — the semantics the batch lag-formulation can't stream.
    */
  def sessionRollup(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup: drops events whose `event_id` was already seen
    * within the watermark horizon — the streaming half of the Dedup family
    * (an at-least-once source becomes effectively-once downstream). State is
    * bounded by the watermark: ids older than the horizon are evicted, which
    * is what makes this run forever at scale.
    */
  def dedupStream(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream attribution: each purchase joins the same user's views in
    * the preceding hour — the streaming twin of the batch interval join
    * ([[graft.operators.Temporal]] family). Both sides carry watermarks and
    * the join predicate bounds the event-time distance between them, which is
    * what lets Spark evict view state older than the horizon: state stays
    * O(attribution window), not O(stream) — the property that lets the join
    * run unboundedly. Inner joins emit on match arrival (no watermark wait).
    *
    * `withWatermark` is a no-op in batch, so the SAME function is the batch
    * twin — the streaming spec asserts equality of the two executions.
    */
  def purchaseAttribution(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermarkDelay)
    purchases.join(views,
      col("user_id") === col("p_user_id") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("view_id"), col("view_ts"), col("value"))
  }

  /** Drains every file under `dir` that `checkpoint`'s source log has not
    * seen yet — one `body(batch, batchId)` call per micro-batch of at most
    * `maxFilesPerTrigger` files — and stops: the reader, sink and trigger
    * every loop below shares, so a per-micro-batch record hooks in here once.
    */
  private def drain(spark: SparkSession, schema: StructType, dir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int])(body: (DataFrame, Long) => Unit): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
      .writeStream
      .foreachBatch(body)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** `root/batch_id=<batchId>`: where every loop keeps a micro-batch's output. */
  private def batchDir(root: String, batchId: Long): String =
    new Path(root, s"batch_id=$batchId").toString

  /** Whether `dir/marker` exists — the one commit test of every loop below,
    * resolved through the Hadoop FileSystem of the path, so the same loops
    * run against hdfs:// or s3a:// dirs, not just local ones.
    */
  private def committed(spark: SparkSession, dir: Path, marker: String = "_SUCCESS"): Boolean =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(new Path(dir, marker))

  /** The committed subdirs of `root`: a subdir counts only once its marker
    * exists, so a torn batch is invisible to every reader.
    */
  private def committedDirs(spark: SparkSession, root: String,
      marker: String = "_SUCCESS"): Seq[String] = {
    val r = new Path(root)
    val fs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(r)) Seq.empty
    else fs.listStatus(r)
      .filter(st => st.isDirectory && committed(spark, st.getPath, marker))
      .map(_.getPath.toString).toSeq
  }

  /** The exactly-once commit step of the append-log loops, despite
    * foreachBatch's at-least-once replay. Every micro-batch writes into
    * batchId-keyed Hive-style subdirs (so wholesale reads of a loop's dirs
    * still see one logical table), and the commit table's `_SUCCESS` is the
    * marker:
    *  1. a replayed batch whose `root/batch_id=<n>/_SUCCESS` exists is a no-op;
    *  2. otherwise `body(batch, committedDirs, batchId)` reads the stored
    *     state from the committed subdirs of `root` only, and writes its side
    *     outputs to `batch_id=<n>` subdirs;
    *  3. the commit table `body` returns is written LAST, with overwrite.
    *
    * A torn first attempt (crash between the side and commit writes, or
    * mid-write) is healed by the replay's overwrite of the same subdirs —
    * never a second append, which would break the loops' disjoint-ids
    * contract and emit duplicate/self-matching pairs forever after.
    */
  private def commitOnce(root: String)(body: (DataFrame, Seq[String], Long) => DataFrame)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val s = batch.sparkSession
    val table = batchDir(root, batchId)
    if (!committed(s, new Path(table)))
      body(batch, committedDirs(s, root), batchId).write.mode("overwrite").parquet(table)
  }

  /** The distinct days of `batch`'s `ts` column: what a day-scoped
    * recompute loop recomputes.
    */
  private def daysOf(batch: DataFrame, ts: String): Seq[java.sql.Date] =
    batch.select(to_date(col(ts)).as("d")).distinct().collect().map(_.getDate(0)).toSeq

  /** The production dedup loop as a streaming query: each micro-batch of
    * arriving documents is near-dup-checked against the STORED signature
    * index ([[graft.operators.Dedup.incrementalMinhashPairs]]) and then
    * appends its own signatures to the index — so every document is hashed
    * exactly once, ever, and cross-batch duplicates are still found (batch
    * N's docs match batch M<N's via the index). Streaming the whole corpus
    * from an empty index reproduces the batch pair set EXACTLY (the spec's
    * invariant). Exactly-once via [[commitOnce]] (index written LAST).
    */
  def incrementalDedupLoop(spark: SparkSession, docsStreamDir: String,
      indexDir: String, pairsDir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(spark, Jsonl.documentsSchema, docsStreamDir, checkpoint, maxFilesPerTrigger)(
      commitOnce(indexDir) { (batch, committed, batchId) =>
        val index =
          if (committed.nonEmpty) batch.sparkSession.read.parquet(committed: _*)
          else Dedup.minhashIndex(batch.limit(0)) // empty frame, right schema
        Dedup.incrementalMinhashPairs(batch, index)
          .write.mode("overwrite").parquet(batchDir(pairsDir, batchId))
        Dedup.minhashIndex(batch)
      })

  /** The duplicated-SPAN removal loop as a streaming query — the
    * [[incrementalDedupLoop]] protocol applied to [[graft.operators.Dedup
    * .dedupSpansIncremental]]: each micro-batch of arriving documents is
    * tokenized ONCE (the only gram pass those docs will ever get), its
    * tokens cleaned against the STORED gh-grain owner index, and then its
    * own [[graft.operators.Dedup.spanGramIndex]] appended as a batch subdir.
    * The stored index is re-aggregated to one struct-min owner per gh at
    * READ time (min is associative — per-batch partial owners merge
    * losslessly, so subdir compaction is an optimization, never a
    * correctness step). First-writer-wins by ARRIVAL: with batches arriving
    * in doc_id order this reproduces the full [[graft.operators.Dedup
    * .dedupSpans]] rewrite exactly (the spec's invariant); out-of-order
    * arrival keeps the documented production semantic (history owns).
    * Exactly-once via the same batchId-subdir + _SUCCESS commit protocol
    * (index written LAST).
    */
  def incrementalSpanDedupLoop(spark: SparkSession, docsStreamDir: String,
      indexDir: String, cleanDir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(spark, Jsonl.documentsSchema, docsStreamDir, checkpoint, maxFilesPerTrigger)(
      commitOnce(indexDir) { (batch, committed, batchId) =>
        val stored =
          if (committed.nonEmpty)
            batch.sparkSession.read.parquet(committed: _*)
              .groupBy(col("gh")).agg(min(col("owner")).as("owner"))
          else Dedup.spanGramIndex(batch.limit(0))
        Dedup.dedupSpansIncremental(stored, batch)
          .write.mode("overwrite").parquet(batchDir(cleanDir, batchId))
        Dedup.spanGramIndex(batch)
      })

  /** The image-dedup loop as a streaming query — [[incrementalDedupLoop]]'s
    * recipe applied to the perceptual-hash path: each micro-batch of
    * arriving media records (doc_id, payload binary) is dHashed ONCE
    * ([[graft.multimodal.Multimodal.dhashOf]] — the only pixel decode those
    * payloads will ever get), near-dup-checked against the STORED 8-byte
    * hash index ([[graft.multimodal.Multimodal.incrementalMediaPairs]]),
    * and then appends its own hashes to the index. Exactly-once under
    * foreachBatch's at-least-once replay via the same batchId-keyed
    * subdir + _SUCCESS-marker commit protocol (index written LAST);
    * streaming the whole corpus from an empty index reproduces the
    * doc-grain banded pair set exactly (the spec's invariant).
    */
  def incrementalMediaDedupLoop(spark: SparkSession, mediaStreamDir: String,
      indexDir: String, pairsDir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val mediaSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    drain(spark, mediaSchema, mediaStreamDir, checkpoint, maxFilesPerTrigger)(
      commitOnce(indexDir) { (batch, committed, batchId) =>
        val index =
          if (committed.nonEmpty) batch.sparkSession.read.parquet(committed: _*)
          else Multimodal.dhashOf(batch.limit(0)) // empty, right schema
        Multimodal.incrementalMediaPairs(batch, index)
          .write.mode("overwrite").parquet(batchDir(pairsDir, batchId))
        Multimodal.dhashOf(batch)
      })
  }

  /** The BM25 index's incremental maintenance as a streaming query: each
    * micro-batch of arriving documents is hashed ONCE into its own
    * postings/df/stats bundle under a batchId-keyed subdir — doc-disjoint
    * batches make the bundle union the exact index merge
    * ([[graft.operators.Search.mergeIndex]]'s contract). Exactly-once under
    * foreachBatch's at-least-once replay via the [[incrementalDedupLoop]]
    * recipe: the stats table is written LAST and its `_SUCCESS` is the
    * commit marker; a replayed committed batch is a no-op, a torn first
    * attempt is healed by the replay's overwrite of the same subdir.
    */
  def incrementalSearchIndex(spark: SparkSession, docsStreamDir: String,
      indexDir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(spark, Jsonl.documentsSchema, docsStreamDir, checkpoint, maxFilesPerTrigger) {
      (batch, batchId) =>
        val bdir = batchDir(indexDir, batchId)
        if (!committed(batch.sparkSession, new Path(bdir), "stats/_SUCCESS")) {
          val postings = Search.buildIndex(batch).postings.persist()
          postings.write.mode("overwrite").parquet(new Path(bdir, "postings").toString)
          Search.termDf(postings).write.mode("overwrite")
            .parquet(new Path(bdir, "df").toString)
          // LAST write: stats/_SUCCESS commits the whole bundle
          Search.corpusStats(postings).write.mode("overwrite")
            .parquet(new Path(bdir, "stats").toString)
          postings.unpersist()
        }
    }

  /** The queryable index over every COMMITTED streamed bundle: postings
    * union (doc-disjoint), df re-added at term grain, stats re-summed —
    * exactly [[graft.operators.Search.mergeIndex]] folded over the batches,
    * so the streamed index must equal a one-shot batch build bit-for-bit
    * (spec-pinned).
    */
  def storedStreamIndex(spark: SparkSession, indexDir: String): Search.Bm25Index = {
    val committed = committedDirs(spark, indexDir, "stats/_SUCCESS")
    require(committed.nonEmpty, s"no committed index bundles under $indexDir")
    Search.Bm25Index(
      spark.read.parquet(committed.map(_ + "/postings"): _*),
      spark.read.parquet(committed.map(_ + "/df"): _*)
        .groupBy(col("token")).agg(sum(col("df")).as("df")),
      spark.read.parquet(committed.map(_ + "/stats"): _*)
        .agg(sum(col("n")).as("n"), sum(col("tl")).as("tl"))
        .select(col("n"), col("tl"), expr("tl div n").as("adl")))
  }

  /** The sketch store's ingest as a streaming query: the days present in
    * each micro-batch of arriving event files drive a day-scoped sketch
    * recompute over the full static events table, upserted by dynamic
    * partition overwrite — the [[incrementalDailyKpis]] recompute argument
    * applied to [[graft.sources.SketchStore]]. Recomputing a day from the
    * static table is idempotent AND correct under partial-day arrivals
    * (a day split across micro-batches is simply recomputed twice), so
    * at-least-once replay still yields exactly-once sketch state.
    */
  def incrementalSketchStore(spark: SparkSession, eventsStreamDir: String,
      staticEvents: DataFrame, sketchDir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(spark, eventsSchema, eventsStreamDir, checkpoint, maxFilesPerTrigger) { (batch, _) =>
      val days = daysOf(batch, "ts")
      if (days.nonEmpty)
        SketchStore.upsertDaily(staticEvents.filter(to_date(col("ts")).isin(days: _*)), sketchDir)
    }

  /** [[incrementalSketchStore]]'s argument applied to the quantile store:
    * the days present in each micro-batch of arriving event files drive a
    * day-scoped histogram recompute over the full static events table,
    * upserted by dynamic partition overwrite into
    * [[graft.sources.HistStore]]. Day recompute from the static table is
    * idempotent and correct under partial-day arrivals, so at-least-once
    * replay yields exactly-once histogram state.
    */
  def incrementalHistStore(spark: SparkSession, eventsStreamDir: String,
      staticEvents: DataFrame, histDir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(spark, eventsSchema, eventsStreamDir, checkpoint, maxFilesPerTrigger) { (batch, _) =>
      val days = daysOf(batch, "ts")
      if (days.nonEmpty)
        HistStore.upsertDaily(staticEvents.filter(to_date(col("ts")).isin(days: _*)), histDir)
    }

  /** The reference's incremental-recompute loop as a streaming query
    * (SURVEY.md §2.2.5): each micro-batch of newly-arrived order files drives
    * a date-scoped KPI recompute over the full static tables, upserted by
    * dynamic partition overwrite. Recomputing a date is idempotent, so
    * at-least-once micro-batch semantics still yield exactly-once KPI rows —
    * the same argument the reference makes for its DynamoDB put-item upserts.
    */
  def incrementalDailyKpis(spark: SparkSession, ordersStreamDir: String,
      staticOrders: DataFrame, staticItems: DataFrame,
      kpiPath: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(spark, Csv.ordersSchema, ordersStreamDir, checkpoint, maxFilesPerTrigger) { (batch, _) =>
      // D1 on the micro-batch only: the arrived files' dates drive recompute.
      val dates = daysOf(batch, "created_at")
      if (dates.nonEmpty)
        KeyValueSink.upsertPartitioned(
          Kpi.orderKpis(staticOrders, staticItems, Some(dates)), kpiPath, "date_key")
    }

  /** URL-level ingest dedup as a streaming query: each micro-batch of
    * arriving documents is canonicalized ONCE, assigned its running dup
    * count and first-writer ownership against the STORED canonical-url-hash
    * index ([[graft.operators.TextOps.incrementalUrlDedup]]), and appends
    * its own group deltas to the index. The index store is an append log of
    * per-batch (ch, n_dups, owner_doc) deltas, compacted on read by one
    * hash-grain aggregate — an upsert sink would replace the compaction at
    * production scale; the log keeps the loop engine-pure here. n_dups is
    * AS-OF arrival (the running count a crawler acts on); ownership is
    * first-writer and, under doc_id-ordered arrival, equals the full
    * recompute's global-min owner. Exactly-once under foreachBatch's
    * at-least-once replay via the batchId-keyed subdir + _SUCCESS commit
    * marker (index delta written LAST).
    */
  def incrementalUrlDedupLoop(spark: SparkSession, docsStreamDir: String,
      indexDir: String, assignDir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(spark, Jsonl.documentsSchema, docsStreamDir, checkpoint, maxFilesPerTrigger)(
      commitOnce(indexDir) { (batch, committed, batchId) =>
        val index =
          if (committed.nonEmpty)
            batch.sparkSession.read.parquet(committed: _*).groupBy(col("ch"))
              .agg(sum(col("n_dups")).as("n_dups"),
                min(col("owner_doc")).as("owner_doc"))
          else TextOps.urlIndex(batch.limit(0)) // empty, right schema
        TextOps.incrementalUrlDedup(batch, index)
          .write.mode("overwrite").parquet(batchDir(assignDir, batchId))
        TextOps.urlIndex(batch)
      })

  /** Seal-fenced committed-state listing for the manifest-loop store.
    *
    * A batch subdir `batch_id=<n>` is committed when its SIGINDEX twin
    * carries `_SUCCESS` (the loop writes sigindex last). A COMPACTION seal
    * `batch_id=sealed<H>` (written by [[compactManifestState]], committed
    * by the same sigindex-marker rule) is the union of every numeric batch
    * ≤ H, so once the highest seal H* is committed the reader keeps only
    * {sealed H*} ∪ {numeric > H*} — numeric dirs ≤ H* and superseded
    * smaller seals become invisible GARBAGE the moment the seal's marker
    * lands, which is what makes compaction crash-safe with no read-side
    * double counting: a torn seal (no marker) is ignored entirely, a
    * committed seal fences its inputs out atomically, and deleting the
    * garbage afterwards is pure space reclamation at any pace.
    */
  private[graft] def committedManifestDirs(spark: SparkSession,
      storeDir: String, sub: String): Seq[String] = {
    val sigRoot = new Path(s"$storeDir/sigindex")
    val fs = sigRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(s"$storeDir/$sub")
    if (!fs.exists(root)) return Seq.empty
    val committed = fs.listStatus(root)
      .filter(st => st.isDirectory && fs.exists(
        new Path(sigRoot, s"${st.getPath.getName}/_SUCCESS")))
      .map(_.getPath).toSeq
    def idOf(name: String) = name.stripPrefix("batch_id=")
    val seals = committed.flatMap(p => idOf(p.getName) match {
      case s if s.startsWith("sealed") => Some(s.stripPrefix("sealed").toLong -> p)
      case _ => None
    })
    val horizon = seals.map(_._1).sorted.lastOption
    committed.filter { p =>
      idOf(p.getName) match {
        case s if s.startsWith("sealed") =>
          horizon.contains(s.stripPrefix("sealed").toLong) // only the max seal
        case n => horizon.forall(n.toLong > _) // numerics past the fence
      }
    }.map(_.toString)
  }

  /** State families the manifest loop reads back (its `manifest` subdirs
    * are the OUTPUT trail, never re-read — compaction leaves them alone).
    */
  private val manifestStateFamilies = Seq("labels", "survivors", "owners", "sigindex")

  /** Compact the [[incrementalManifestLoop]] store's append-only state:
    * fold every committed batch subdir of each read-back family into ONE
    * sealed subdir `batch_id=sealed<H>` (H = highest numeric batch folded),
    * committed by the loop's own sigindex-marker rule — sigindex written
    * LAST, so a torn compaction is invisible and a committed one fences
    * its inputs out atomically ([[committedManifestDirs]]). Rows are
    * carried as-is (labels/survivors/sigindex union semantics are
    * duplicate- and staleness-tolerant by the loop's monotonicity
    * argument) except `owners`, which min-resolves per text_key — exactly
    * the fold the reader itself applies, so the read is provably
    * unchanged. The superseded subdirs become garbage; [[gcManifestState]]
    * reclaims them at any later point. Single compactor at a time (the
    * FactStore.compact concurrency contract) — but the LOOP need not be
    * quiesced: every family listing and the seal horizon derive from ONE
    * sigindex snapshot taken up front, and the loop writes sigindex LAST
    * per batch, so a batch that commits while compaction runs is either
    * fully in the snapshot (its family dirs are complete on disk, folded
    * into the seal) or entirely outside it (it stays a live numeric dir
    * past the fence). Listing families independently instead would let a
    * mid-race commit land in the horizon but not in the folds — silent
    * state loss (ADVICE r12).
    */
  def compactManifestState(spark: SparkSession, storeDir: String): Unit = {
    // the single commit-horizon snapshot: sigindex FIRST and ONCE
    val sigDirs = committedManifestDirs(spark, storeDir, "sigindex")
    val liveIds = sigDirs.map(new Path(_).getName.stripPrefix("batch_id=")).toSet
    val numeric = liveIds.filter(!_.startsWith("sealed")).map(_.toLong)
    if (numeric.isEmpty) return // nothing past the fence: a no-op
    val seal = s"batch_id=sealed${numeric.max}"
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // family dirs restricted to the snapshot's ids — NOT re-listed against
    // sigindex markers, which may have advanced since the snapshot
    def dirsOf(sub: String): Seq[String] =
      if (sub == "sigindex") sigDirs
      else {
        val root = new Path(s"$storeDir/$sub")
        if (!fs.exists(root)) Seq.empty
        else fs.listStatus(root)
          .filter(st => st.isDirectory &&
            liveIds.contains(st.getPath.getName.stripPrefix("batch_id=")))
          .map(_.getPath.toString).toSeq
      }
    def write(sub: String): Unit = {
      val df = spark.read.parquet(dirsOf(sub): _*)
      val folded =
        if (sub == "owners")
          df.groupBy(col("text_key")).agg(min(col("canonical_id")).as("canonical_id"))
        else df
      folded.write.mode("overwrite").parquet(s"$storeDir/$sub/$seal")
    }
    manifestStateFamilies.filterNot(_ == "sigindex").foreach(write)
    write("sigindex") // last: its _SUCCESS commits the seal
  }

  /** Delete the subdirs a committed seal fenced out — pure space
    * reclamation, safe to run (or crash) at any time after
    * [[compactManifestState]] returns, with one operational caveat:
    * unlike compaction (which only ADDS dirs and is safe under a live
    * loop), GC deletes files a concurrently-running micro-batch may have
    * already resolved into its read plan — run it with the loop quiesced,
    * or accept that an unluckily-timed batch fails its attempt and is
    * retried clean by the stream (state is unharmed either way: the
    * deleted dirs were fenced duplicates of the seal).
    */
  def gcManifestState(spark: SparkSession, storeDir: String): Unit = {
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only dirs the max COMMITTED seal provably fenced out are garbage; a
    // numeric dir additionally needs its own sigindex _SUCCESS marker — a
    // torn batch ≤ h cannot exist while ids commit sequentially, but the
    // filter checks the marker anyway so the invariant holds by code, not
    // by the sequencing argument (ADVICE r12)
    val sigRoot = new Path(s"$storeDir/sigindex")
    def committed(id: String): Boolean =
      fs.exists(new Path(sigRoot, s"batch_id=$id/_SUCCESS"))
    val horizon = committedManifestDirs(spark, storeDir, "sigindex")
      .map(new Path(_).getName.stripPrefix("batch_id="))
      .filter(_.startsWith("sealed")).map(_.stripPrefix("sealed").toLong)
      .sorted.lastOption
    horizon.foreach { h =>
      manifestStateFamilies.foreach { f =>
        val root = new Path(s"$storeDir/$f")
        if (fs.exists(root)) fs.listStatus(root)
          .filter { st =>
            val id = st.getPath.getName.stripPrefix("batch_id=")
            st.isDirectory && (
              if (id.startsWith("sealed")) id.stripPrefix("sealed").toLong < h
              else scala.util.Try(id.toLong).toOption
                .exists(n => n <= h && committed(id)))
          }
          .foreach { st =>
            if (f == "sigindex" && !st.getPath.getName.contains("sealed")) {
              // reclaim the data but KEEP the batch's _SUCCESS marker: it is
              // the loop's replay no-op guard — a fresh-checkpoint replay of
              // an already-sealed batch must stay a no-op, not reprocess the
              // batch against state that now contains its own documents
              fs.listStatus(st.getPath)
                .filter(_.getPath.getName != "_SUCCESS")
                .foreach(c => fs.delete(c.getPath, true))
            } else fs.delete(st.getPath, true)
          }
      }
    }
  }

  /** The training-manifest loop as a streaming query — the flagship
    * curation artifact maintained CONTINUOUSLY: each micro-batch of
    * arriving documents gets its manifest rows (canonicity, cluster,
    * survivorship, langid, quality, split, model gate, keep) decided
    * against the state of everything that arrived before it, at per-batch
    * cost ([[graft.operators.TextOps.trainingManifestIncrementalWithDeltas]]
    * applied under the [[incrementalDedupLoop]] exactly-once protocol).
    *
    * All four state stores under `storeDir` are APPEND-ONLY batchId-keyed
    * subdir tables — no compaction, tombstone, or latest-wins resolution is
    * needed for correctness, because every stale row is harmless by a
    * monotonicity argument (documented on the deltas function): stale star
    * edges only re-add implied connectivity (min-id labels stay exact under
    * plain union), stale survivor bests are dominated by the merge-time
    * row, digest owners min-merge at read (min is associative), and the
    * signature index is immutable per doc. Reads per batch: label/survivor/
    * owner unions are narrow doc-/cluster-/digest-grain tables; the corpus
    * text is never re-read — each document is tokenized, hashed, and scored
    * exactly once, in the batch where it arrives.
    *
    * Decisions are as-of ARRIVAL (the documented production semantic):
    * a document's keep flag never flips retroactively when later arrivals
    * duplicate it — history owns. Exactly-once despite foreachBatch's
    * at-least-once replay: all five writes land in batchId subdirs, the
    * signature index is written LAST, and its `_SUCCESS` is the commit
    * marker — a replayed committed batch is a no-op, a torn first attempt
    * is healed by overwriting the same subdirs.
    */
  def incrementalManifestLoop(spark: SparkSession, docsStreamDir: String,
      storeDir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(spark, Jsonl.documentsSchema, docsStreamDir, checkpoint, maxFilesPerTrigger) {
      (batch, batchId) =>
        val s = batch.sparkSession
        if (!committed(s, new Path(batchDir(s"$storeDir/sigindex", batchId)))) {
          // commit is keyed by the sigindex marker, and compaction seals
          // fence their folded batches out — see committedManifestDirs.
          // The per-family listings below may STRADDLE a concurrent seal
          // commit (one family resolved pre-seal, another post-seal);
          // that is safe because a seal is a pure fold of the dirs it
          // fences — either resolution reads the same state content
          // (labels/survivors/sigindex union is duplicate-tolerant,
          // owners min-folds to the same rows)
          def union(sub: String, empty: => DataFrame): DataFrame = {
            val dirs = committedManifestDirs(s, storeDir, sub)
            if (dirs.nonEmpty) s.read.parquet(dirs: _*) else empty
          }
          val labels = union("labels",
            batch.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0))
          val survivors = union("survivors",
            batch.select(col("doc_id").as("cluster_id"),
              col("doc_id").as("survivor_id"),
              lit(0.0).as("survivor_quality")).limit(0))
          val owners = union("owners",
            batch.select(md5(col("text")).as("text_key"),
              col("doc_id").as("canonical_id")).limit(0))
            .groupBy(col("text_key"))
            .agg(min(col("canonical_id")).as("canonical_id"))
          val sig = union("sigindex", Dedup.minhashIndex(batch.limit(0)))
          val (rows, labelDelta, survivorDelta) =
            TextOps.trainingManifestIncrementalWithDeltas(
              batch, labels, survivors, owners, sig)
          def out(sub: String, df: DataFrame): Unit =
            df.write.mode("overwrite").parquet(batchDir(s"$storeDir/$sub", batchId))
          out("manifest", rows)
          out("labels", labelDelta)
          out("survivors", survivorDelta)
          out("owners", Dedup.exactGroups(batch)
            .select(col("text_key"), col("canonical_id")))
          // written LAST: its _SUCCESS is what marks the whole batch committed
          out("sigindex", Dedup.minhashIndex(batch))
        }
    }
}
