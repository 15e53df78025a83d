package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted daily value-HISTOGRAM store: one bounded integer histogram of
  * the day's event values per calendar day, written as `day=`-partitioned
  * parquet — the quantile twin of [[SketchStore]] (uniques). Together they
  * make "p50/p99 of any date range" and "uniques of any date range" both
  * O(days × sketch), never O(events).
  *
  * Representation: fixed grid of [[HistStore.histBuckets]] buckets of width
  * 1/[[HistStore.histScale]], `bucket = clamp(floor(value · scale))`. The
  * scale is a POWER OF TWO, so `value · 2.0` and `bucket / 2.0` are exact
  * IEEE-754 operations — the same double in any engine lands in the same
  * bucket, which is what lets the DuckDB oracle replay range quantiles
  * bit-for-bit (the portability recipe of the KMV/Bloom conversions,
  * PERF.md r10-r11). A histogram merge is a counter sum — commutative,
  * associative, partitioning-invariant — and a day's histogram is ≤
  * `histBuckets` rows regardless of event volume, so every range read is
  * bounded work.
  *
  * Accuracy contract: a quantile answer is the LOWER EDGE of the first
  * bucket whose cumulative count reaches the target rank — error ≤ one
  * bucket width (0.5 value units), deterministic, never probabilistic.
  * Values ≥ buckets/scale clamp into the top bucket (the fixture's domain
  * sits well inside the grid; a production deployment sizes the grid from
  * the value contract the way K sizes the KMV sketch). Because clamping is
  * SILENT at ingest, every read carries the overflow-accounting columns
  * the engine's other capped structures carry (`top_bucket_ppm`,
  * `bucket0_ppm`): a mis-sized grid — a value-unit change piling mass into
  * bucket 1023 — is observable from the read path before it corrupts p99,
  * instead of only after (VERDICT r12 §missing-3).
  *
  * Ingest contract = [[FactStore]]/[[SketchStore]]: a day's events arrive
  * complete; [[HistStore.upsertDaily]] recomputes arriving days via dynamic
  * partition overwrite — re-delivery replaces, never double-counts.
  */
object HistStore {

  /** Baked into the fixture dir name; bump on schema/logic change. */
  val Version = "v1"

  /** Buckets per histogram (hard bound on any day row-count and any read). */
  val histBuckets = 1024L

  /** Buckets per value unit — a power of two so the grid is IEEE-exact. */
  val histScale = 2.0

  /** Requested range quantiles, in ppm of the value count. */
  val quantilesPpm: Seq[Long] = Seq(250000L, 500000L, 900000L, 990000L)

  /** The portable bucket id of a value column (null-safe: callers filter). */
  private def bucketOf(value: org.apache.spark.sql.Column) =
    least(greatest(floor(value * lit(histScale)), lit(0L)),
      lit(histBuckets - 1L)).cast("int")

  /** (day, bucket, cnt) histogram rows for every day present in `events`. */
  def dailyHists(events: DataFrame): DataFrame =
    events
      .filter(col("value").isNotNull)
      .select(to_date(col("ts")).as("day"), bucketOf(col("value")).as("bucket"))
      .groupBy(col("day"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Full build: histogram every day in `events` and (re)write the store. */
  def buildDaily(events: DataFrame, dir: String): Unit =
    dailyHists(events).write
      .mode("overwrite")
      .partitionBy("day")
      .parquet(dir)

  /** Incremental ingest: recompute and overwrite ONLY the days present in
    * the arriving events — other days' histograms are untouched, so ingest
    * cost is O(arrivals), not O(history).
    */
  def upsertDaily(events: DataFrame, dir: String): Unit =
    dailyHists(events).write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(dir)

  def read(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.readParquet(spark, dir)

  /** Range quantiles over [from, to] (inclusive) straight from the stored
    * day histograms: partition-pruned day scan, counter-sum merge, then the
    * rank pick off the cumulative histogram. One output row per entry of
    * [[quantilesPpm]]; `value_edge` is the answer (lower bucket edge),
    * `target_rank` the 1-based rank it covers.
    *
    * Scale notes: the merged histogram is ≤ [[histBuckets]] rows whatever
    * the range, so the unpartitioned cumulative window and the collected
    * pick array are BOUNDED driver/executor artifacts (same class as the
    * k-means codebooks), not data-sized state. The target rank
    * `ceil(q·n/10^6)` is computed by splitting n at 10^6 so the product
    * never exceeds ~n — no overflow for any corpus that fits in a long.
    */
  def valueQuantilesBetween(spark: SparkSession, dir: String,
      from: String, to: String): DataFrame = {
    val days = read(spark, dir)
      .filter(col("day") >= lit(from) && col("day") <= lit(to))
    val meta = days.agg(
      min(col("day")).as("day_from"),
      max(col("day")).as("day_to"),
      countDistinct(col("day")).as("n_days"),
      sum(col("cnt")).as("n_values"),
      // grid-saturation accounting: share of the range's values clamped
      // into the top bucket (overflow) and sitting in bucket 0 (a grid
      // sized too coarse at the bottom) — integer ppm, oracle-portable
      sum(when(col("bucket") === lit((histBuckets - 1L).toInt), col("cnt"))
        .otherwise(lit(0L))).as("top_cnt"),
      sum(when(col("bucket") === lit(0), col("cnt"))
        .otherwise(lit(0L))).as("b0_cnt"))
    val merged = days.groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
    val cum = merged
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .agg(sort_array(collect_list(struct(col("bucket"), col("cum")))).as("h"))
    meta.crossJoin(cum)
      .select(col("day_from"), col("day_to"), col("n_days"), col("n_values"),
        expr("top_cnt * 1000000 div n_values").as("top_bucket_ppm"),
        expr("b0_cnt * 1000000 div n_values").as("bucket0_ppm"),
        col("h"), explode(array(quantilesPpm.map(lit(_)): _*)).as("q_ppm"))
      .withColumn("target_rank",
        expr("q_ppm * (n_values div 1000000) " +
          "+ (q_ppm * (n_values % 1000000) + 999999) div 1000000"))
      .withColumn("bucket", expr("filter(h, x -> x.cum >= target_rank)[0].bucket"))
      .select(col("day_from"), col("day_to"), col("n_days"), col("n_values"),
        col("top_bucket_ppm"), col("bucket0_ppm"),
        col("q_ppm"), col("target_rank"), col("bucket"),
        (col("bucket") / lit(histScale)).as("value_edge"))
  }

  /** Per-day value-distribution drift vs the whole store's blend: TVD in
    * ppm between each day's histogram and the all-days histogram — the
    * day-grain ingest-anomaly monitor (a transcoding bug, a price-unit
    * change, a bot flood all move the value distribution before they move
    * the volume), computed ENTIRELY from the stored day histograms: the
    * raw events are never rescanned, which is the store's point. Same
    * integer-ppm TVD as [[graft.operators.TextOps.sourceDrift]]; both
    * comparison frames (bucket blend ≤ [[histBuckets]] rows, day totals)
    * are bounded broadcast artifacts.
    */
  def dailyHistDrift(spark: SparkSession, dir: String): DataFrame = {
    val sc = read(spark, dir)
    val st = sc.groupBy(col("day")).agg(sum(col("cnt")).as("s_tot"))
    val cc = sc.groupBy(col("bucket")).agg(sum(col("cnt")).as("cc_c"))
    val ct = cc.agg(sum(col("cc_c")).as("c_tot"))
    sc.select(col("day")).distinct()
      .crossJoin(broadcast(cc))
      .join(sc.withColumnRenamed("cnt", "c"), Seq("day", "bucket"), "left")
      .join(broadcast(st), Seq("day"))
      .crossJoin(broadcast(ct))
      .select(col("day"),
        abs(expr("coalesce(c, 0L) * 1000000 div s_tot - cc_c * 1000000 div c_tot"))
          .as("term"),
        // per-day saturation accounting (see the store contract): counts
        // of the day's values in the top / bottom bucket, normalized below
        when(col("bucket") === lit((histBuckets - 1L).toInt),
          expr("coalesce(c, 0L)")).otherwise(lit(0L)).as("top_c"),
        when(col("bucket") === lit(0), expr("coalesce(c, 0L)"))
          .otherwise(lit(0L)).as("b0_c"),
        col("s_tot"))
      .groupBy(col("day"))
      .agg(expr("CAST(sum(term) div 2 AS BIGINT)").as("tvd_ppm"),
        count(lit(1)).as("n_buckets"),
        expr("CAST(sum(top_c) * 1000000 div max(s_tot) AS BIGINT)")
          .as("top_bucket_ppm"),
        expr("CAST(sum(b0_c) * 1000000 div max(s_tot) AS BIGINT)")
          .as("bucket0_ppm"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between each ADJACENT pair of
    * days, from the stored grids alone — the location-shift complement of
    * [[dailyHistDrift]]'s TVD (TVD reacts to any mass rearrangement; the KS
    * max-CDF-gap is the standard two-sample test and is what moves first
    * under a unit change or a distribution shift that TVD dilutes across
    * many buckets). `ks_ppm = max over buckets |cdfA − cdfB|` with the
    * engine's integer-ppm floor-division arithmetic, so the statistic is
    * exactly replayable by the oracle — no float CDFs anywhere.
    *
    * The gap is evaluated on the union of buckets present in either day of
    * the pair: both CDFs are step functions jumping only at present
    * buckets, so the max over that union IS the max over the whole grid.
    * Scale shape: day totals and pairs are |days|-row bounded frames; the
    * per-pair union is ≤ 2·[[histBuckets]] rows — every term is
    * store-grain, the raw events are never rescanned.
    */
  def adjacentDayKs(spark: SparkSession, dir: String): DataFrame = {
    val sc = read(spark, dir)
    val st = sc.groupBy(col("day")).agg(sum(col("cnt")).as("tot"))
    // adjacent calendar pairs: an unpartitioned lead over the |days|-row
    // totals frame (bounded, same class as valueQuantilesBetween's window)
    val w = Window.orderBy(col("day"))
    val pairs = st.select(col("day").as("day_a"), col("tot").as("tot_a"),
        lead(col("day"), 1).over(w).as("day_b"),
        lead(col("tot"), 1).over(w).as("tot_b"))
      .filter(col("day_b").isNotNull)
    def side(dayCol: String, cntAs: String, zeroAs: String) =
      sc.join(broadcast(pairs), sc("day") === pairs(dayCol))
        .select(col("day_a"), col("day_b"), col("tot_a"), col("tot_b"),
          col("bucket"), col("cnt").as(cntAs), lit(0L).as(zeroAs))
    val u = side("day_a", "ca", "cb")
      .unionByName(side("day_b", "cb", "ca"))
      .groupBy(col("day_a"), col("day_b"), col("tot_a"), col("tot_b"),
        col("bucket"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val cw = Window.partitionBy(col("day_a")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("cum_a", sum(col("ca")).over(cw))
      .withColumn("cum_b", sum(col("cb")).over(cw))
      .groupBy(col("day_a"), col("day_b"))
      .agg(max(col("tot_a")).as("n_a"), max(col("tot_b")).as("n_b"),
        count(lit(1)).as("n_buckets"),
        max(abs(expr("cum_a * 1000000 div tot_a - cum_b * 1000000 div tot_b")))
          .as("ks_ppm"))
  }

  /** Build-once daily histogram store for the `events` fixture under
    * `srcDir` (content-stamped [[ArtifactStore]] dir).
    */
  def ensureFixture(spark: SparkSession, srcDir: String): String =
    ArtifactStore.ensure(srcDir, "histstore", Version) { dir =>
      buildDaily(Tables.events(spark, srcDir), dir)
    }
}
