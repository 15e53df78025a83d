package graft.sources

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ForkJoin

/** Date-partitioned physical layout for validated facts — the storage design
  * the incremental recompute path needs at 100 TB.
  *
  * The reference keeps validated data under `validated/orders/YYYY-MM-DD/`
  * prefixes (reference README.md:60-77) but its transform then loads the FULL
  * table and filters the target dates late (transform_task.py:409-413) — a
  * full-history scan per daily batch. This store fixes that defect instead of
  * copying it: facts are written as Hive-style `order_date=` parquet
  * partitions, so a recompute for k dates reads exactly k partitions
  * (`PartitionFilters` file-level pruning — locked in by PlanSpec), never the
  * other ~N. At 100 TB that is the difference between touching a few GB and
  * scanning years of history.
  *
  * Layout under a store root:
  * {{{
  *   consolidated/order_date=YYYY-MM-DD/    item-grain enriched fact (category KPIs)
  *   orders_enriched/order_date=YYYY-MM-DD/ order-grain fact + pre-agg'd order_revenue
  *   items_daily/                           date-grain item counts (tiny, unpartitioned)
  * }}}
  *
  * `orders_enriched` bakes in the reference's A2 agg-back join (revenue per
  * order, COALESCE 0 for item-less orders) at WRITE time, so the daily-KPI
  * read path is a single pruned scan + one tiny date-grain join.
  *
  * Writes cluster rows by the partition key first (`repartition(order_date)`)
  * so each date directory gets one file instead of one-per-task — at scale,
  * the difference between N_dates and N_dates × N_tasks objects.
  */
object FactStore {

  /** Bump when the store layout/schema changes — stale fixture stores under
    * an old version tag are simply never read again.
    */
  val Version = "v1"

  private def md5hex(s: String): String = MessageDigest.getInstance("MD5")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic per-fixture-dir store location (system temp; fixture dirs
    * are local and read-only). The key covers the source files' names, sizes
    * and mtimes, so regenerated fixture data at the same path can never be
    * served from a stale store.
    */
  def fixtureStoreDir(srcDir: String): String = {
    val stamp = Option(new java.io.File(srcDir).listFiles())
      .map(_.filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getName}:${f.lastModified}:${f.length}").sorted.mkString(","))
      .getOrElse("")
    s"${sys.props("java.io.tmpdir")}/graft-factstore-$Version-${md5hex(s"$srcDir|$stamp")}"
  }

  private val marker = "_GRAFT_STORE_OK"
  private val builtDirs = scala.collection.mutable.Set[String]()

  /** Write one batch of facts into `storeDir`, layered by
    * `(order_date, batch_id)` with dynamic partition overwrite:
    *
    *  - re-running the SAME batch rewrites exactly its own
    *    `(date, batch_id)` partitions — byte-identical, idempotent;
    *  - a LATER batch carrying a straggler row for an old date adds its own
    *    `batch_id=` layer under that date, so earlier batches' facts for the
    *    date survive and a recompute sees the UNION of all batches — the
    *    reference's intended full-history semantics (transform_task.py:409)
    *    without its full-history scan. Layers must be DISJOINT at order
    *    grain; cross-batch re-delivery of an order is rejected
    *    ([[assertNoCrossBatchRedelivery]]);
    *  - date-pruned reads are unaffected (`order_date` stays the leading
    *    partition key).
    *
    * Returns the order dates the batch staged (read off its staged
    * `orders_enriched` partition dirs, so no extra scan). A batch that stages
    * no order date changes nothing: the store is left exactly as it was.
    */
  def upsertBatch(batchId: String, consolidated: DataFrame, ordersEnriched: DataFrame,
      itemsDaily: DataFrame, storeDir: String): Seq[java.sql.Date] = {
    require(batchId != SealedId,
      s"batch id $SealedId is reserved for compaction ([[compact]])")
    val spark = consolidated.sparkSession
    // a RERUN of this batch may carry a different date set than its previous
    // run (e.g. a straggler row corrected away) — STASH all of the batch's
    // previous layers so its contribution is replaced, not merged, yet still
    // restorable: if the new delivery is rejected (redelivery check), the
    // store must come back EXACTLY as it was, old layers included. A stale
    // stash from a crashed earlier run is superseded by this rerun.
    clearStash(spark, storeDir, batchId)
    stashBatchLayers(spark, storeDir, batchId)
    val tmpRoot = new org.apache.hadoop.fs.Path(s"$storeDir/.ingest_tmp/$batchId")
    val fs = tmpRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmpRoot, true)
    val dates = try {
      // 1. STAGE the batch's layers OUTSIDE the live tables: nothing is
      //    visible to a pruned reader — or left behind for one by a crash —
      //    until the delivery has been validated. The three writes are
      //    independent and run concurrently; all have stopped before this
      //    returns or throws, so the cleanup below never races a writer
      stageLayers(spark, tmpRoot.toString, batchId, consolidated, ordersEnriched, itemsDaily)
      // the staged delivery's date partitions, read off the directory names
      val staged = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$tmpRoot/orders_enriched/order_date=*/batch_id=$batchId"))).toSeq.flatten
        .map(_.getPath.getParent.getName.stripPrefix("order_date=")).sorted
      if (staged.nonEmpty) {
        // 2. VALIDATE the staged delivery against the store BEFORE any of it
        //    lands: a crash anywhere up to here leaves the live tables
        //    exactly as stashed — consistent, never double-counting
        //    (previously the check ran after the write, so a crash in that
        //    window exposed unvalidated layers until a corrective rerun)
        assertNoCrossBatchRedelivery(spark, storeDir, tmpRoot.toString, batchId, staged)
        // 3. PROMOTE: rename the staged layer dirs into the live tables
        promoteStagedLayers(spark, storeDir, tmpRoot.toString, batchId)
        syncCatalog(spark, storeDir)
        clearStash(spark, storeDir, batchId) // accepted: old contribution gone
      }
      staged
    } catch { case e: Throwable =>
      // leave the store exactly as before the bad upsert: any promoted new
      // layers come out AND the batch's previous layers go back in
      dropBatchLayers(spark, storeDir, batchId)
      restoreBatchLayers(spark, storeDir, batchId)
      syncCatalog(spark, storeDir)
      throw e
    } finally {
      fs.delete(tmpRoot, true)
    }
    // nothing staged: put the stashed layers back, the store is unchanged
    // (outside the catch, whose drop step would delete restored layers)
    if (dates.isEmpty) restoreBatchLayers(spark, storeDir, batchId)
    // a null order date stages the default partition, which no KPI selects
    dates.filterNot(_ == DefaultPartition).map(java.sql.Date.valueOf)
  }

  /** Hive's directory name for a null partition value. */
  private val DefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Writes the three layers of one batch (or of a full-fixture build) under
    * `root`, concurrently.
    */
  private def stageLayers(spark: SparkSession, root: String, batchId: String,
      consolidated: DataFrame, ordersEnriched: DataFrame, itemsDaily: DataFrame): Unit = {
    def tagged(df: DataFrame) = df.withColumn("batch_id", lit(batchId))
    ForkJoin.all(spark)(
      () => writePartitioned(tagged(consolidated), s"$root/consolidated", SaveMode.Overwrite),
      () => writePartitioned(tagged(ordersEnriched), s"$root/orders_enriched", SaveMode.Overwrite),
      () => upsertItemsDaily(tagged(itemsDaily), root))
  }

  /** The store's layering contract: every order is delivered by exactly ONE
    * batch id (same-batch reruns replace their own layers; stragglers for old
    * DATES are fine — they are new orders). A later batch RE-delivering an
    * order the store already holds would silently corrupt KPIs — revenue sums
    * and flag averages would double while `countDistinct(order_id)` dedups —
    * so it is rejected loudly at ingest, BEFORE the staged layers are
    * promoted into the store, pruned to the delivery's date partitions.
    * (The reference would double-count here: it reloads ALL validated history
    * with no order-grain dedup, transform_task.py:409-413.)
    * Recovery: re-run the ORIGINAL batch id with the corrected files.
    *
    * The batch's own previous layers are stashed away when this runs, so ANY
    * overlap between the staged orders and the store is another batch's.
    * The store side reads exactly the delivery's date partition dirs (with
    * `basePath`, so partition columns survive) — no full-store listing.
    */
  private def assertNoCrossBatchRedelivery(spark: SparkSession, storeDir: String,
      stagedRoot: String, batchId: String, dates: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val table = new org.apache.hadoop.fs.Path(s"$storeDir/orders_enriched")
    val fs = table.getFileSystem(conf)
    if (!fs.exists(table)) return
    val existingDirs = dates.map(d => s"$storeDir/orders_enriched/order_date=$d")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      .filter(p => fs.listStatus(new org.apache.hadoop.fs.Path(p)).nonEmpty)
    if (existingDirs.isEmpty) return
    val staged = spark.read
      .option("basePath", s"$stagedRoot/orders_enriched")
      .parquet(s"$stagedRoot/orders_enriched")
      .select(col("order_id"))
    val existing = spark.read
      .option("basePath", s"$storeDir/orders_enriched")
      .parquet(existingDirs: _*)
      .select(col("order_id"), col("batch_id"))
    val dup = existing.join(staged, "order_id").select(col("order_id")).distinct().take(5)
    if (dup.nonEmpty)
      throw new IllegalStateException(
        s"batch $batchId re-delivers orders already stored by another batch " +
          s"(e.g. order_ids ${dup.map(_.getLong(0)).mkString(", ")}); " +
          "re-run the original batch id with the corrected files instead")
  }

  /** Rename the validated staged layer dirs into the live tables. A layer
    * left half-promoted by a crashed earlier attempt is replaced (it belongs
    * to this same batch by construction).
    */
  private def promoteStagedLayers(spark: SparkSession, storeDir: String,
      stagedRoot: String, batchId: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.foreach { case (t, key) =>
      val stage = new org.apache.hadoop.fs.Path(s"$stagedRoot/$t")
      val fs = stage.getFileSystem(conf)
      if (fs.exists(stage))
        fs.globStatus(new org.apache.hadoop.fs.Path(s"$stagedRoot/$t/$key=*/batch_id=$batchId"))
          .foreach { st =>
            val part = st.getPath.getParent.getName
            val dest = new org.apache.hadoop.fs.Path(s"$storeDir/$t/$part/batch_id=$batchId")
            fs.mkdirs(dest.getParent)
            if (fs.exists(dest)) fs.delete(dest, true)
            renameOrDie(fs, st.getPath, dest)
          }
    }
  }

  /** The batch id compaction seals history under; regular ingest may not use it. */
  val SealedId = "__sealed__"

  /** All (table, partition-key) pairs of the store. */
  private val tables = Seq("consolidated" -> "order_date",
    "orders_enriched" -> "order_date", "items_daily" -> "date_key")

  /** Compact sealed history: merge every batch layer of partitions at or
    * before `horizon` into one `batch_id=__sealed__` layer with one file per
    * partition — the periodic maintenance job that keeps object count
    * proportional to dates, not dates × batches. At 100 TB the per-batch
    * layering otherwise accretes one directory + file set per (date, batch):
    * a year of hourly batches over a 30-day straggler window is ~720 layers
    * per date, and every pruned read lists all of them.
    *
    * Contract: partitions at or before the horizon are SEALED — the horizon
    * is the rerun/straggler retention window, so compaction only touches
    * dates no batch will legitimately rewrite (the retention discipline every
    * table format ties its compaction to). A rerun of a sealed batch id is
    * caught by [[assertNoCrossBatchRedelivery]]: its orders now live under
    * `__sealed__`, so the rewrite attempt trips the two-batch-ids check and
    * rolls itself back.
    *
    * Crash-safe and resumable: merged partitions are staged under
    * `.compact_tmp/` and swapped in per-partition (live dir renamed aside to
    * `.compact_trash/`, staged dir renamed in, trash deleted). A crash
    * mid-swap leaves the staged dir in place; the next call completes
    * pending swaps before doing new work.
    *
    * Concurrency contract: SINGLE WRITER — one compactor (and no concurrent
    * [[upsertBatch]] touching at-or-before-horizon dates; the horizon IS the
    * rerun retention window, so a compliant ingest never does). Readers stay
    * correct through the whole staging phase — the catalog table is never
    * dropped, and live partitions are untouched until the swap. The swap
    * itself is two atomic renames per partition plus one catalog re-sync;
    * a reader racing exactly that window can observe a partition mid-move —
    * the boundary every non-transactional Hive-layout compactor has (a
    * snapshotting table format is the upgrade path). [[compactPhaseHook]]
    * pins the pre/post visibility in tests.
    */
  def compact(spark: SparkSession, storeDir: String, horizon: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.foreach { case (t, key) =>
      val tablePath = new org.apache.hadoop.fs.Path(s"$storeDir/$t")
      val fs = tablePath.getFileSystem(conf)
      val tmp = new org.apache.hadoop.fs.Path(s"$storeDir/.compact_tmp/$t")
      val trashRoot = new org.apache.hadoop.fs.Path(s"$storeDir/.compact_trash/$t")
      // 1. finish any swap a previous crashed run left behind (only the
      //    key= partition dirs — the staging write also leaves _SUCCESS /
      //    _temporary debris that must not be renamed into the table); the
      //    catalog then predates the recovered swaps — re-sync it before
      //    reading
      if (fs.exists(tmp) || fs.exists(trashRoot)) {
        if (fs.exists(tmp))
          fs.listStatus(tmp).filter(_.getPath.getName.startsWith(s"$key="))
            .foreach { st =>
              val dest = new org.apache.hadoop.fs.Path(tablePath, st.getPath.getName)
              if (!fs.exists(dest)) renameOrDie(fs, st.getPath, dest)
              else fs.delete(st.getPath, true) // dest intact: stage was not swapped
            }
        fs.delete(tmp, true)
        fs.delete(trashRoot, true) // displaced pre-seal layers of completed swaps
        syncCatalogTable(spark, storeDir, t)
      }
      // 2. partitions at/before the horizon still holding unsealed layers
      val dates = if (!fs.exists(tablePath)) Array.empty[String] else fs.listStatus(tablePath)
        .map(_.getPath.getName).filter(_.startsWith(s"$key="))
        .map(_.stripPrefix(s"$key="))
        .filter(_ <= horizon) // ISO dates: lexicographic == chronological
        .filter { d =>
          fs.listStatus(new org.apache.hadoop.fs.Path(tablePath, s"$key=$d"))
            .exists(st => st.getPath.getName != s"batch_id=$SealedId")
        }
      if (dates.nonEmpty) {
        // 3. stage the merged layer: ALL rows of those partitions, one file
        //    per partition, batch_id collapsed to __sealed__. Live tables and
        //    catalog are untouched — readers see pre-seal state throughout.
        val toSeal = readStore(spark, storeDir, t)
          .filter(col(key).isin(dates.toSeq: _*))
          .withColumn("batch_id", lit(SealedId))
        toSeal.repartition(col(key))
          .write.mode(SaveMode.Overwrite).partitionBy(key, "batch_id")
          .parquet(tmp.toString)
        compactPhaseHook("staged", t)
        // 4. swap each partition: move the layered live dir aside to trash,
        //    rename the staged one in (two atomic renames — the live dir is
        //    never in a deleted-but-unreplaced state longer than the gap
        //    between them). A partition whose layers held zero rows stages
        //    nothing — sealing it is just trashing the empty dir.
        fs.mkdirs(trashRoot)
        dates.foreach { d =>
          val live = new org.apache.hadoop.fs.Path(tablePath, s"$key=$d")
          val staged = new org.apache.hadoop.fs.Path(tmp, s"$key=$d")
          if (fs.exists(live))
            renameOrDie(fs, live, new org.apache.hadoop.fs.Path(trashRoot, s"$key=$d"))
          if (fs.exists(staged)) renameOrDie(fs, staged, live)
        }
        compactPhaseHook("swapped", t)
        // 5. partitions were REPLACED, not just added: SYNC drops the stale
        //    (date, batch) entries and registers the sealed ones — the table
        //    itself stays continuously defined for concurrent readers
        syncCatalogTable(spark, storeDir, t)
        fs.delete(trashRoot, true)
      }
      // per-TABLE cleanup only: the shared .compact_tmp root may still hold
      // another table's staged-but-unswapped partitions from a crashed run —
      // deleting it here would destroy them before their recovery pass runs
      fs.delete(tmp, true)
    }
  }

  /** Test seam for [[compact]]'s visibility contract: invoked as
    * `(phase, table)` at "staged" (merged data written aside, live table
    * untouched) and "swapped" (partitions replaced, catalog about to
    * re-sync). Production no-op.
    */
  private[graft] var compactPhaseHook: (String, String) => Unit = (_, _) => ()

  private def dropBatchLayers(spark: SparkSession, storeDir: String, batchId: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.foreach { case (t, key) =>
      val table = new org.apache.hadoop.fs.Path(s"$storeDir/$t")
      val fs = table.getFileSystem(conf)
      if (fs.exists(table))
        fs.globStatus(new org.apache.hadoop.fs.Path(s"$storeDir/$t/$key=*/batch_id=$batchId"))
          .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** Hadoop `rename` reports most failures by returning false, not throwing;
    * an unchecked false after the source's counterpart was deleted is silent
    * data loss — fail loudly instead.
    */
  private def renameOrDie(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"rename failed: $src -> $dst")

  private def stashDir(storeDir: String, batchId: String) =
    s"$storeDir/.rerun_tmp/$batchId"

  /** Move the batch's current layers aside (to `.rerun_tmp/<batch>/`) so a
    * rejected rerun can restore them byte-identically.
    */
  private def stashBatchLayers(spark: SparkSession, storeDir: String, batchId: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.foreach { case (t, key) =>
      val table = new org.apache.hadoop.fs.Path(s"$storeDir/$t")
      val fs = table.getFileSystem(conf)
      if (fs.exists(table))
        fs.globStatus(new org.apache.hadoop.fs.Path(s"$storeDir/$t/$key=*/batch_id=$batchId"))
          .foreach { st =>
            val part = st.getPath.getParent.getName // e.g. order_date=2024-01-01
            val dest = new org.apache.hadoop.fs.Path(
              s"${stashDir(storeDir, batchId)}/$t/$part/batch_id=$batchId")
            fs.mkdirs(dest.getParent)
            renameOrDie(fs, st.getPath, dest)
          }
    }
  }

  /** Inverse of [[stashBatchLayers]] (used only on rerun rejection). */
  private def restoreBatchLayers(spark: SparkSession, storeDir: String, batchId: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.foreach { case (t, key) =>
      val stash = new org.apache.hadoop.fs.Path(s"${stashDir(storeDir, batchId)}/$t")
      val fs = stash.getFileSystem(conf)
      if (fs.exists(stash))
        fs.globStatus(new org.apache.hadoop.fs.Path(s"$stash/$key=*/batch_id=$batchId"))
          .foreach { st =>
            val part = st.getPath.getParent.getName
            val dest = new org.apache.hadoop.fs.Path(s"$storeDir/$t/$part/batch_id=$batchId")
            fs.mkdirs(dest.getParent)
            renameOrDie(fs, st.getPath, dest)
          }
    }
    clearStash(spark, storeDir, batchId)
  }

  private def clearStash(spark: SparkSession, storeDir: String, batchId: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(stashDir(storeDir, batchId))
    p.getFileSystem(conf).delete(p, true)
  }

  private def writePartitioned(df: DataFrame, dir: String, mode: SaveMode): Unit =
    df.repartition(col("order_date"))
      .write.mode(mode).partitionBy("order_date", "batch_id").parquet(dir)

  /** items_daily is date-grain PER BATCH (≤ one row per calendar day per
    * batch — bounded, tiny); readers sum layers per date.
    */
  private def upsertItemsDaily(df: DataFrame, storeDir: String): Unit =
    df.repartition(1)
      .write.mode(SaveMode.Overwrite).partitionBy("date_key", "batch_id")
      .parquet(s"$storeDir/items_daily")

  // --------------------------------------------------------------------------
  // Reads (the pruned paths) — catalog-managed partitions
  // --------------------------------------------------------------------------

  /** Store tables are read through the session CATALOG, not `read.parquet`:
    * a path read re-discovers every partition directory on every query
    * (measured 3-8 s against 2400 date partitions locally; a full object-
    * store LIST at production scale), while a catalog table resolves the
    * partition predicate against partition METADATA and lists only the
    * matching directories — the metastore discipline a 100 TB warehouse
    * runs on. The in-memory session catalog gives the same pruning here
    * without external infrastructure; registration is ingest-time work.
    */
  private def tableName(storeDir: String, name: String): String =
    s"graft_${md5hex(storeDir).take(12)}_$name"

  private def readStore(spark: SparkSession, storeDir: String, name: String): DataFrame = {
    val tbl = tableName(storeDir, name)
    if (!spark.catalog.tableExists(tbl)) {
      spark.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$storeDir/$name'")
      spark.sql(s"ALTER TABLE $tbl RECOVER PARTITIONS")
    }
    spark.table(tbl)
  }

  /** Re-sync catalog partition metadata after a path-level layer change
    * (no-op for tables not yet registered — they discover everything at
    * first read). SYNC rather than RECOVER: a rerun or compaction can REMOVE
    * layer dirs, and a stale catalog entry pointing at a deleted dir would
    * break every later pruned read of that partition.
    */
  def syncCatalog(spark: SparkSession, storeDir: String): Unit =
    Seq("consolidated", "orders_enriched", "items_daily")
      .foreach(syncCatalogTable(spark, storeDir, _))

  private def syncCatalogTable(spark: SparkSession, storeDir: String, name: String): Unit = {
    val tbl = tableName(storeDir, name)
    if (spark.catalog.tableExists(tbl))
      spark.sql(s"MSCK REPAIR TABLE $tbl SYNC PARTITIONS")
  }

  /** Item-grain consolidated fact; `order_date` is the partition column, so
    * an `isin`/equality filter on it prunes to the matching partitions via
    * catalog metadata (PartitionFilters in the scan).
    */
  def consolidated(spark: SparkSession, storeDir: String): DataFrame =
    readStore(spark, storeDir, "consolidated")

  def ordersEnriched(spark: SparkSession, storeDir: String): DataFrame =
    readStore(spark, storeDir, "orders_enriched")

  def itemsDaily(spark: SparkSession, storeDir: String): DataFrame =
    readStore(spark, storeDir, "items_daily")

  // --------------------------------------------------------------------------
  // Fixture materialization (build-once per source dir)
  // --------------------------------------------------------------------------

  /** Build the store for a fixture dir if absent; returns the store dir.
    * Idempotent and memoized: callers (incremental KPI ops, Bench warm-up)
    * treat this as ingest-time work — in production the PIPELINE maintains
    * the store as batches arrive; queries only ever pay the pruned read.
    */
  def ensureFixture(spark: SparkSession, srcDir: String,
      build: SparkSession => (DataFrame, DataFrame, DataFrame)): String = synchronized {
    val dir = fixtureStoreDir(srcDir)
    if (builtDirs.contains(dir)) return dir
    val markerPath = new java.io.File(dir, marker)
    if (!markerPath.exists()) {
      val (cons, orders, items) = build(spark)
      // full-fixture build: the whole corpus is one "batch" layer
      stageLayers(spark, dir, "full", cons, orders, items)
      markerPath.createNewFile()
    }
    // catalog registration (schema inference + partition recovery) is part
    // of ingest: queries then resolve partitions from catalog metadata
    Seq("consolidated", "orders_enriched", "items_daily")
      .foreach(n => readStore(spark, dir, n))
    builtDirs += dir
    dir
  }
}
