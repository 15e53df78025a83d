package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** CSV ingestion surface (reference: transform_task.py:121-136 reads
  * header-only untyped CSV; validate_task.py:122-138 samples with nrows).
  *
  * Stronger than the reference by design: every table is read with an explicit
  * `StructType` (SURVEY.md §1.2) — types are enforced at the scan, not by
  * downstream casts. Multi-part files per partition are one multi-path scan
  * (implicit union-all, S1/U1); Spark parallelizes by file split, so a
  * date-partitioned prefix with thousands of parts reads at cluster width.
  */
object Csv {

  /** products(id, sku, cost, category, retail_price) — contract:
    * reference validate_task.py:15.
    */
  val productsSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("sku", StringType),
    StructField("cost", DoubleType),
    StructField("category", StringType),
    StructField("retail_price", DoubleType)))

  /** orders(order_id, user_id, created_at [, returned_at]) — contract:
    * validate_task.py:16; optional column transform_task.py:177.
    */
  val ordersSchema: StructType = StructType(Seq(
    StructField("order_id", LongType),
    StructField("user_id", LongType),
    StructField("created_at", TimestampType),
    StructField("returned_at", TimestampType)))

  /** order_items(order_id, product_id, sale_price [, returned_at, created_at])
    * — contract: validate_task.py:17; created_at is required by the KPI layer
    * (made explicit here, unlike the reference — SURVEY.md §2.2.3).
    */
  val orderItemsSchema: StructType = StructType(Seq(
    StructField("order_id", LongType),
    StructField("product_id", LongType),
    StructField("sale_price", DoubleType),
    StructField("returned_at", TimestampType),
    StructField("created_at", TimestampType)))

  /** S1: multi-path CSV scan with explicit schema (parts union-all'd),
    * columns bound BY HEADER NAME. Spark's `header` option only skips the
    * header line and maps a user schema by position, so a part that omits an
    * optional column or orders its columns differently would shift values
    * into the wrong columns. Instead each file's header is read on the
    * driver; files sharing a header are one scan typed by name from
    * `schema`, schema columns the header lacks become typed nulls, and the
    * groups are union-all'd. A path that matches no file goes to Spark as is,
    * which reports it.
    */
  def read(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = paths.flatMap { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p)).toSeq.flatten
        .flatMap(st => if (st.isFile) Seq(st.getPath) else dataFiles(fs, st.getPath)) match {
        case Seq() => Seq(path -> Option.empty[Seq[String]])
        case found => found.map(f => f.toString -> headerLine(fs, f).map(parseHeader(spark, _)))
      }
    }
    val headers = files.map(_._2).distinct
    if (headers.isEmpty) return spark.read.option("header", "true").schema(schema).csv()
    headers.map { header =>
      val fileSchema = header.fold(schema)(h => StructType(h.map(c =>
        schema.find(_.name == c).getOrElse(StructField(c, StringType)))))
      val df = spark.read.option("header", "true").schema(fileSchema)
        .csv(files.filter(_._2 == header).map(_._1): _*)
      if (fileSchema == schema) df
      else df.select(schema.map(f =>
        if (fileSchema.fieldNames.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    }.reduce(_ union _)
  }

  /** Header columns of one file (V1), exactly as [[read]] binds them. */
  def readHeaderColumns(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    headerLine(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .map(parseHeader(spark, _)).getOrElse(Nil)
  }

  /** The data files under a directory, recursively, skipping the `_`/`.`
    * names Spark's file listing skips (`_SUCCESS`, checksums, staging dirs).
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] = {
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    fs.listStatus(dir).toSeq.filterNot(st => hidden(st.getPath.getName)).sortBy(_.getPath.getName)
      .flatMap(st => if (st.isFile) Seq(st.getPath) else dataFiles(fs, st.getPath))
  }

  /** A file's first non-blank line (the line Spark's CSV reader takes as the
    * header), decompressed by extension as Spark does; None if there is none.
    */
  private def headerLine(fs: FileSystem, file: Path): Option[String] = {
    val raw = fs.open(file)
    val in = Option(new CompressionCodecFactory(fs.getConf).getCodec(file))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try Iterator.continually(reader.readLine()).takeWhile(_ != null).find(_.trim.nonEmpty)
    finally reader.close()
  }

  /** Column names of a header line, parsed by Spark's own CSV reader (quoting,
    * blank and duplicate names) over a one-line local Dataset: no job runs,
    * but planning that query takes ~50 ms, and a pipeline reads the same few
    * headers in every batch — so parses are kept per line (and per case
    * sensitivity, which decides what counts as a duplicate name).
    */
  private def parseHeader(spark: SparkSession, line: String): Seq[String] = {
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    if (parsedHeaders.size > 1024) parsedHeaders.clear()
    parsedHeaders.computeIfAbsent((caseSensitive, line), _ => {
      import spark.implicits._
      spark.read.option("header", "true").csv(Seq(line).toDS()).columns.toSeq
    })
  }

  private val parsedHeaders = new ConcurrentHashMap[(Boolean, String), Seq[String]]()

  /** S2: row-limited sample read (reference SAMPLE_SIZE=100, validate_task.py:28). */
  def readSample(spark: SparkSession, schema: StructType, path: String, n: Int): DataFrame =
    read(spark, schema, Seq(path)).limit(n)

  /** S3: source discovery — list all `*.csv` under a prefix, recursively
    * (reference: transform_task.py:138-156 paginated S3 listing). Uses the
    * Hadoop FileSystem so the same code serves file://, hdfs:// and s3a://.
    */
  def listCsv(spark: SparkSession, prefix: String): Seq[String] = {
    val p = new Path(prefix)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val it = fs.listFiles(p, true)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".csv")) out += f.getPath.toString
      }
      out.toSeq.sorted
    }
  }

  /** Scheme-insensitive path normalization (`file:/x` and `/x` compare equal). */
  def stripScheme(p: String): String = new Path(p).toUri.getPath

  /** S6: lifecycle move — copy+delete preserving the path relative to
    * `srcRoot`, idempotent when the source is already gone
    * (reference: validate_task.py:64-120, transform_task.py:55-88).
    */
  def moveFile(spark: SparkSession, srcRoot: String, destRoot: String, file: String): Boolean = {
    val src = new Path(file)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(src)) false // already moved — idempotent no-op
    else {
      val rel = stripScheme(file).stripPrefix(stripScheme(srcRoot).stripSuffix("/") + "/")
      val dest = new Path(destRoot.stripSuffix("/") + "/" + rel)
      fs.mkdirs(dest.getParent)
      // a re-arrived file replaces its previous lifecycle copy (the
      // reference's S3 copy overwrites); FileContext's OVERWRITE rename does
      // this without a delete-then-rename window that could lose the old
      // copy if the rename fails
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        src.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(src, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      true
    }
  }

  /** Writes a small text file (rejection manifests, logs) via the FS API. */
  def writeTextFile(spark: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }
}
