package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.Portable.zorderKey

/** Multi-dimensional clustered write layout (Z-order), the storage-side
  * complement of the query operators: at 100 TB the cheapest scan is the one
  * that never reads the file, and parquet's file/row-group min-max statistics
  * only prune when the layout keeps filtered columns locally narrow. A
  * single-column sort clusters that one column and leaves every other
  * dimension full-range in every file; interleaving the bits of two columns
  * ([[graft.functions.Portable.zorderKey]]) tiles the (a, b) plane with
  * near-rectangles so point/range filters on EITHER column skip most files.
  *
  * This is the layout technique popularized by Delta Lake's `OPTIMIZE ZORDER
  * BY` and the classic UB-tree literature; the implementation here is plain
  * Spark: derive the key, range-partition by it (one pass, sampled
  * boundaries), sort within partitions, write one file per range.
  */
object Layout {

  /** Writes `df` as parquet clustered by the Z-order of (`c1`, `c2`) into
    * `numFiles` range-partitioned files. `bits1`/`bits2` should cover each
    * column's value range (from table stats); the interleave is MSB-aligned
    * so dimensions of unequal width still share the top of the key.
    */
  def zorderWrite(df: DataFrame, c1: String, bits1: Int, c2: String, bits2: Int,
      outDir: String, numFiles: Int): Unit =
    df.withColumn("__z", zorderKey(col(c1), bits1, col(c2), bits2))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(outDir)

  /** Single-column clustered write — the baseline layout [[zorderWrite]] is
    * measured against in LayoutSpec (and the right choice when queries only
    * ever filter one dimension).
    */
  def sortedWrite(df: DataFrame, c1: String, outDir: String, numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(c1))
      .sortWithinPartitions(c1)
      .write.mode(SaveMode.Overwrite).parquet(outDir)

  /** Size-targeted write — the small-files lever: at 100 TB a table written
    * with whatever partitioning the last shuffle left behind lands either
    * thousands of KB-scale files (NameNode/listing pressure, per-file open
    * cost on every scan) or a few multi-GB files (no scan parallelism). The
    * recipe: measure the dataset's serialized bytes-per-row on a bounded
    * SAMPLE, derive rows-per-file for the byte target, and write through
    * `maxRecordsPerFile` + a round-robin repartition to the implied file
    * count — one extra count + sample pass, no full-data second write.
    * Parquet compression makes the on-disk size approximate (spec asserts
    * the ±2× band, not equality); the knob that matters is the ORDER of
    * magnitude of the file count, which this pins exactly.
    */
  def sizeTargetedWrite(df: DataFrame, outDir: String,
      targetFileBytes: Long = 128L << 20, sampleRows: Int = 1000): Long = {
    val spark = df.sparkSession
    val n = df.count()
    if (n == 0) { df.write.mode(SaveMode.Overwrite).parquet(outDir); return 0L }
    // serialized-size probe: write the sample as parquet to a temp dir and
    // read the actual encoded bytes (estimates from in-memory sizes are off
    // by the codec factor, which is the whole question)
    val probeDir = java.nio.file.Files.createTempDirectory("graft-sizeprobe").toString
    val probeN = math.min(n, sampleRows.toLong)
    val probeBytes =
      try {
        df.limit(probeN.toInt).coalesce(1).write.mode(SaveMode.Overwrite).parquet(probeDir)
        new java.io.File(probeDir).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      } finally org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(probeDir), true)
    val bytesPerRow = math.max(1L, probeBytes / probeN)
    val rowsPerFile = math.max(1L, targetFileBytes / bytesPerRow)
    val nFiles = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile)
    df.repartition(nFiles.toInt)
      .write.option("maxRecordsPerFile", rowsPerFile)
      .mode(SaveMode.Overwrite).parquet(outDir)
    nFiles
  }

  /** Training-reader export: the corpus written as `shard=`-partitioned
    * parquet with rows in the deterministic
    * [[graft.operators.TextOps.globalShuffle]] order — one file per shard, so
    * N data-loader workers each stream one file sequentially and the
    * concatenation replays the same global permutation on every run (epoch
    * shuffling without an in-training shuffle buffer). One exchange keyed by
    * shard; the in-task sort is (shard, pos), never global.
    */
  def shuffledExport(docs: DataFrame, outDir: String, shards: Int): Unit = {
    val positions = graft.operators.TextOps.globalShuffle(docs, shards)
    docs.join(positions, "doc_id")
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(outDir)
  }
}
