package graft.sources

import java.sql.Date

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
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
  *   items_daily/date_key=YYYY-MM-DD/       date-grain item counts (tiny)
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
    moveBatchLayers(spark, storeDir, stashDir(storeDir, batchId), batchId)
    val tmpRoot = new Path(s"$storeDir/.ingest_tmp/$batchId")
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
      val staged = Option(fs.globStatus(new Path(
          s"$tmpRoot/orders_enriched/order_date=*/batch_id=$batchId"))).toSeq.flatten
        .map(_.getPath.getParent.getName.stripPrefix("order_date=")).sorted
      if (staged.nonEmpty) {
        // 2. VALIDATE the staged delivery against the store BEFORE any of it
        //    lands: a crash anywhere up to here leaves the live tables
        //    exactly as stashed — consistent, never double-counting
        //    (previously the check ran after the write, so a crash in that
        //    window exposed unvalidated layers until a corrective rerun)
        assertNoCrossBatchRedelivery(spark, storeDir, tmpRoot.toString, batchId, staged)
        // 3. PROMOTE: rename the staged layer dirs into the live tables. A
        //    layer left half-promoted by a crashed earlier attempt is
        //    replaced (it belongs to this same batch by construction)
        moveBatchLayers(spark, tmpRoot.toString, storeDir, batchId, replace = true)
        clearStash(spark, storeDir, batchId) // accepted: old contribution gone
      }
      staged
    } catch { case e: Throwable =>
      // leave the store exactly as before the bad upsert: any promoted new
      // layers come out AND the batch's previous layers go back in
      eachBatchLayer(spark, storeDir, batchId)((fs, layer, _) => fs.delete(layer, true))
      restoreBatchLayers(spark, storeDir, batchId)
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
    * The store side reads exactly the delivery's date partition dirs
    * ([[read]]) — no full-store listing; a delivery whose dates hold no
    * layer yet (the usual new day) starts no Spark job.
    */
  private def assertNoCrossBatchRedelivery(spark: SparkSession, storeDir: String,
      stagedRoot: String, batchId: String, dates: Seq[String]): Unit = {
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val holdsLayer = dates.map(d => new Path(s"$storeDir/orders_enriched/order_date=$d"))
      .exists(p => fs.exists(p) && fs.listStatus(p).nonEmpty)
    if (!holdsLayer) return
    val staged = spark.read.parquet(s"$stagedRoot/orders_enriched").select(col("order_id"))
    val existing = read(spark, storeDir, "orders_enriched", dates).select(col("order_id"))
    val dup = existing.join(staged, "order_id").distinct().take(5)
    if (dup.nonEmpty)
      throw new IllegalStateException(
        s"batch $batchId re-delivers orders already stored by another batch " +
          s"(e.g. order_ids ${dup.map(_.getLong(0)).mkString(", ")}); " +
          "re-run the original batch id with the corrected files instead")
  }

  /** The batch id compaction seals history under; regular ingest may not use it. */
  val SealedId = "__sealed__"

  /** Every table of the store and its partition key. */
  private val tables = ListMap("consolidated" -> "order_date",
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
    * rerun retention window, so a compliant ingest never does). Readers
    * name and list their partition dirs when they build a frame ([[read]]),
    * and live partitions are untouched until the swap, so a reader stays
    * correct through the whole staging phase. The swap itself is two atomic
    * renames per partition; a reader racing exactly that window can observe
    * a partition mid-move, and a frame built before a swap lists files the
    * swap moves away, so it must be rebuilt after it — the boundary every
    * non-transactional Hive-layout compactor has (a snapshotting table
    * format is the upgrade path). [[compactPhaseHook]] pins the pre/post
    * visibility in tests.
    */
  def compact(spark: SparkSession, storeDir: String, horizon: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.foreach { case (t, key) =>
      val tablePath = new Path(s"$storeDir/$t")
      val fs = tablePath.getFileSystem(conf)
      val tmp = new Path(s"$storeDir/.compact_tmp/$t")
      val trashRoot = new Path(s"$storeDir/.compact_trash/$t")
      // 1. finish any swap a previous crashed run left behind (only the
      //    key= partition dirs — the staging write also leaves _SUCCESS /
      //    _temporary debris that must not be renamed into the table)
      if (fs.exists(tmp) || fs.exists(trashRoot)) {
        if (fs.exists(tmp))
          fs.listStatus(tmp).filter(_.getPath.getName.startsWith(s"$key="))
            .foreach { st =>
              val dest = new Path(tablePath, st.getPath.getName)
              if (!fs.exists(dest)) renameOrDie(fs, st.getPath, dest)
              else fs.delete(st.getPath, true) // dest intact: stage was not swapped
            }
        fs.delete(tmp, true)
        fs.delete(trashRoot, true) // displaced pre-seal layers of completed swaps
      }
      // 2. partitions at/before the horizon still holding unsealed layers
      val dates = if (!fs.exists(tablePath)) Array.empty[String] else fs.listStatus(tablePath)
        .map(_.getPath.getName).filter(_.startsWith(s"$key="))
        .map(_.stripPrefix(s"$key="))
        .filter(_ <= horizon) // ISO dates: lexicographic == chronological
        .filter { d =>
          fs.listStatus(new Path(tablePath, s"$key=$d"))
            .exists(st => st.getPath.getName != s"batch_id=$SealedId")
        }
      if (dates.nonEmpty) {
        // 3. stage the merged layer: ALL rows of those partitions, one file
        //    per partition, batch_id collapsed to __sealed__. Live tables
        //    are untouched — readers see pre-seal state throughout.
        val toSeal = read(spark, storeDir, t, dates.toSeq)
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
          val live = new Path(tablePath, s"$key=$d")
          val staged = new Path(tmp, s"$key=$d")
          if (fs.exists(live))
            renameOrDie(fs, live, new Path(trashRoot, s"$key=$d"))
          if (fs.exists(staged)) renameOrDie(fs, staged, live)
        }
        compactPhaseHook("swapped", t)
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
    * untouched) and "swapped" (partitions replaced, trash not yet deleted).
    * Production no-op.
    */
  private[graft] var compactPhaseHook: (String, String) => Unit = (_, _) => ()

  /** Hadoop `rename` reports most failures by returning false, not throwing;
    * an unchecked false after the source's counterpart was deleted is silent
    * data loss — fail loudly instead.
    */
  private def renameOrDie(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"rename failed: $src -> $dst")

  private def stashDir(storeDir: String, batchId: String) =
    s"$storeDir/.rerun_tmp/$batchId"

  /** Applies `f(fs, layerDir, table)` to every `batch_id=<batchId>` layer
    * dir under any partition of a store table under `root` (one glob per
    * table whose dir exists there).
    */
  private def eachBatchLayer(spark: SparkSession, root: String, batchId: String)(
      f: (FileSystem, Path, String) => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.foreach { case (t, key) =>
      val table = new Path(s"$root/$t")
      val fs = table.getFileSystem(conf)
      if (fs.exists(table))
        fs.globStatus(new Path(s"$root/$t/$key=*/batch_id=$batchId"))
          .foreach(st => f(fs, st.getPath, t))
    }
  }

  /** Renames the batch's layers under `from` to the same partitions under
    * `to` — the stash (to `.rerun_tmp/<batch>/`, so a rejected rerun can
    * restore them byte-identically), the restore and the promote. With
    * `replace`, a layer already at the destination is deleted first.
    */
  private def moveBatchLayers(spark: SparkSession, from: String, to: String,
      batchId: String, replace: Boolean = false): Unit =
    eachBatchLayer(spark, from, batchId) { (fs, layer, t) =>
      val part = layer.getParent.getName // e.g. order_date=2024-01-01
      val dest = new Path(s"$to/$t/$part/batch_id=$batchId")
      fs.mkdirs(dest.getParent)
      if (replace && fs.exists(dest)) fs.delete(dest, true)
      renameOrDie(fs, layer, dest)
    }

  /** Inverse of the stash (used only on rerun rejection). */
  private def restoreBatchLayers(spark: SparkSession, storeDir: String, batchId: String): Unit = {
    moveBatchLayers(spark, stashDir(storeDir, batchId), storeDir, batchId)
    clearStash(spark, storeDir, batchId)
  }

  private def clearStash(spark: SparkSession, storeDir: String, batchId: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(stashDir(storeDir, batchId))
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
  // Reads (the pruned paths) — named partition dirs
  // --------------------------------------------------------------------------

  /** The one store reader: `table`'s rows in the partitions of `dates` (ISO
    * dates; every partition when empty), read by path from the existing
    * `<key>=<date>` dirs with `basePath`. Only the named dirs are listed, so
    * a KPI read or a redelivery check costs its own dates, not the store's
    * history (a path read of the whole table re-listed ~2400 dirs per query,
    * PERF.md round 2); a date with no dir is skipped.
    *
    * The schema is given, never inferred: the data columns from one layer
    * file's footer (read on the driver, so building the frame starts no
    * Spark job), then the partition key as DATE and `batch_id` as STRING.
    * Batch ids that look like dates (the pipeline's) thus read the same
    * before and after [[compact]] seals them under `__sealed__`. The footer
    * comes from the named dirs, else from any partition (one listing of the
    * table dir); a table with no data file yet has no schema to give and
    * fails as an inferring read does.
    */
  private def read(spark: SparkSession, storeDir: String, table: String,
      dates: Seq[String]): DataFrame = {
    val key = tables(table)
    val root = new Path(s"$storeDir/$table")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partitions = if (!fs.exists(root)) Seq.empty[Path]
      else fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith(s"$key=")).toSeq
    val dirs = if (dates.isEmpty) partitions
      else dates.map(d => new Path(root, s"$key=$d")).filter(fs.exists)
    def layerFile(ds: Seq[Path]) = ds.iterator
      .flatMap(d => fs.listStatus(d)).flatMap(layer => fs.listStatus(layer.getPath))
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
    layerFile(dirs).orElse(layerFile(partitions)) match {
      case Some(file) =>
        val schema = StructType(rowSchema(fs, file).fields :+
          StructField(key, DateType) :+ StructField("batch_id", StringType))
        // no dir to read: an empty frame (a path read of none logs a warning)
        if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
        else spark.read.schema(schema).option("basePath", root.toString)
          .parquet(dirs.map(_.toString): _*)
      case None => spark.read.parquet(root.toString)
    }
  }

  /** The row schema Spark wrote into a parquet file's footer. */
  private def rowSchema(fs: FileSystem, file: Path): StructType = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, fs.getConf))
    try DataType.fromJson(r.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")).asInstanceOf[StructType]
    finally r.close()
  }

  /** Item-grain consolidated fact in the partitions of `dates` (all when
    * empty). An `isin`/equality filter on `order_date` still becomes the
    * scan's PartitionFilters (PlanSpec).
    */
  private[graft] def consolidated(spark: SparkSession, storeDir: String,
      dates: Seq[Date] = Nil): DataFrame =
    read(spark, storeDir, "consolidated", dates.map(_.toString))

  private[graft] def ordersEnriched(spark: SparkSession, storeDir: String,
      dates: Seq[Date] = Nil): DataFrame =
    read(spark, storeDir, "orders_enriched", dates.map(_.toString))

  private[graft] def itemsDaily(spark: SparkSession, storeDir: String,
      dates: Seq[Date] = Nil): DataFrame =
    read(spark, storeDir, "items_daily", dates.map(_.toString))

  // --------------------------------------------------------------------------
  // Fixture materialization (build-once per source dir)
  // --------------------------------------------------------------------------

  /** Build the store for a fixture dir if absent; returns the store dir.
    * Idempotent and memoized: callers (incremental KPI ops, Bench warm-up)
    * treat this as ingest-time work — in production the PIPELINE maintains
    * the store as batches arrive; queries only ever pay the pruned read.
    */
  def ensureFixture(spark: SparkSession, srcDir: String,
      build: SparkSession => (DataFrame, DataFrame, DataFrame)): String =
    ArtifactStore.ensure(srcDir, "factstore", Version) { dir =>
      val (cons, orders, items) = build(spark)
      // full-fixture build: the whole corpus is one "batch" layer
      stageLayers(spark, dir, "full", cons, orders, items)
    }
}
