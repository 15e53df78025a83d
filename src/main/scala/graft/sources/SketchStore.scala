package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.{Kmv, Portable}

/** Persisted daily distinct-users sketch store: one mergeable KMV synopsis
  * (the k smallest distinct [[Portable.hash60]] values — [[graft.functions
  * .Kmv]]) of the day's active users per calendar day, written as
  * `day=`-partitioned parquet.
  *
  * The point at 100 TB: "unique users between any two dates" becomes a scan
  * of a ~1-KB-per-day sketch table plus a k-min merge — the raw event
  * history is read once per day, ever (when that day's sketch is built),
  * and never again for any range query. The same shape answers per-day,
  * weekly, or arbitrary-window uniques from one store, and k-min union is
  * commutative/associative, so days can be built or re-built in any order
  * and on any partitioning.
  *
  * Why KMV rather than HLL (the r9 representation): identical store shape
  * and merge algebra, but the synopsis is portable integers instead of
  * engine-private registers, so every read op is hash-gated by the DuckDB
  * oracle (r9 verdict #3) — the conversion recipe that took the quantile
  * sketches oracle-backed, applied to uniques.
  *
  * Contract: a day's events are sketched together — [[upsertDaily]]
  * recomputes COMPLETE arriving days via dynamic partition overwrite (the
  * FactStore batch-arrival model; re-delivering a day replaces, never
  * double-counts).
  */
object SketchStore {

  /** Baked into the fixture dir name (like [[FactStore.Version]]): bump on
    * any sketch-schema or build-logic change so a stale cached fixture from
    * a previous build is never silently reused. v2 = the HLL→KMV conversion;
    * v3 = rows carry their sketch size `k` (see [[dailySketches]]).
    */
  val Version = "v3"

  /** (day, sk, k, n_events) daily sketch rows for every day present in
    * `events`: `sk` = ascending k-min array of distinct user-id hashes
    * (≤ `k` longs — bounded map-side state, no day-grain sort anywhere).
    * Rows CARRY their sketch size `k` (r10 verdict #7): an operable store
    * migrates k without invalidating history — old days keep their k, new
    * days write the new one, and every reader merges to the smallest k in
    * its range (valid because a larger-k sketch contains every smaller-k
    * sketch as a prefix). Mixed-k merge ≡ uniform-min-k is spec-pinned.
    */
  def dailySketches(events: DataFrame, k: Int = Kmv.K): DataFrame =
    events
      .select(to_date(col("ts")).as("day"),
        Portable.hash60(col("user_id").cast(StringType)).as("h"))
      // NULL user_id hashes to NULL; the KMV UDAF input encoder is a
      // non-nullable Long — exclude nulls so "distinct users" means the
      // same thing on both engines (oracle CTEs carry the same WHERE).
      .filter(col("h").isNotNull)
      .groupBy(col("day"))
      .agg(Kmv.kminDistinct(k)(col("h")).as("sk"),
        count(lit(1)).as("n_events"))
      .withColumn("k", lit(k))

  /** Full build: sketch every day in `events` and (re)write the store. */
  def buildDaily(events: DataFrame, dir: String, k: Int = Kmv.K): Unit =
    dailySketches(events, k).write
      .mode("overwrite")
      .partitionBy("day")
      .parquet(dir)

  /** Incremental ingest: recompute and overwrite ONLY the days present in
    * the arriving events (dynamic partition overwrite) — other days'
    * sketches are untouched, so ingest cost is O(arrivals), not O(history).
    * `k` applies to the arriving days only; existing days keep theirs.
    */
  def upsertDaily(events: DataFrame, dir: String, k: Int = Kmv.K): Unit =
    dailySketches(events, k).write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(dir)

  def read(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.readParquet(spark, dir)

  /** Per-day approximate uniques straight from the stored sketches (each
    * row estimated at ITS OWN k).
    */
  def dailyEstimates(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir)
      .select(col("day"), Kmv.estimateCol("sk", "k").as("users_approx"),
        col("n_events"))

  /** Approximate distinct users over [from, to] (inclusive): merge the
    * stored day sketches — the day filter prunes at the partition level,
    * and the aggregate carries k-min arrays, never user rows (k-min of the
    * union ≡ k-min of the per-day k-mins, so the merged estimate equals
    * the one a direct scan of the range would produce).
    */
  def uniquesBetween(spark: SparkSession, dir: String,
      from: String, to: String): DataFrame = {
    val days = read(spark, dir)
      .filter(col("day") >= lit(from) && col("day") <= lit(to))
    val meta = days.agg(
      min(col("day")).as("day_from"),
      max(col("day")).as("day_to"),
      count(lit(1)).as("n_days"),
      sum(col("n_events")).as("n_events"),
      // mixed-k range: the union sketch is only valid at the SMALLEST k
      // present — larger-k days contribute their min-k prefix implicitly
      min(col("k")).as("keff"))
    val merged = days
      .select(explode(col("sk")).as("h"))
      .agg(Kmv.kminDistinct()(col("h")).as("sku"))
    meta.crossJoin(merged) // 1 row × 1 row
      .withColumn("sk", expr("slice(sku, 1, keff)"))
      .select(col("day_from"), col("day_to"), col("n_days"),
        Kmv.estimateCol("sk", "keff").as("users_approx"), col("n_events"))
  }

  // --------------------------------------------------------------------------
  // Fixture store (registered-op support, mirrors FactStore.ensureFixture)
  // --------------------------------------------------------------------------

  /** Build-once daily sketch store for the `events` fixture under `srcDir`
    * (content-stamped [[ArtifactStore]] dir, same convention as the
    * FactStore fixture).
    */
  def ensureFixture(spark: SparkSession, srcDir: String): String =
    ArtifactStore.ensure(srcDir, "sketchstore", Version) { dir =>
      buildDaily(Tables.events(spark, srcDir), dir)
    }
}
