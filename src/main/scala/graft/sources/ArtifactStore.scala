package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-stamped build-once artifact directories — the shared mechanics
  * behind every derived-index store (the fixture fact store, the graph edge
  * store, the search index, the trained tokenizer, the vector codes store)
  * and the interchange round-trip ops' fixture exports (csv, jsonl, orc).
  *
  * The store dir name bakes in (a) the artifact name + version — bump on
  * any schema/build change — and (b) a stamp of the source fixture's
  * parquet files (name, mtime, length), so a regenerated fixture rebuilds
  * the artifact and two fixtures never share one. The 100 TB argument: a
  * derived index (edges, codes, posting lists) is ingest-time work a
  * production pipeline maintains as data lands; query time reads the
  * artifact. Results are identical either way — the oracles always
  * re-derive from the raw tables.
  */
object ArtifactStore {

  private val built = scala.collection.mutable.Set[String]()

  private def md5hex(s: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Every data file under the fixture dir's `*.parquet` entries, keyed by
    * its path relative to the fixture dir. An entry is either a flat file
    * (the driver's fixture layout) or a Spark-style `*.parquet` DIRECTORY —
    * recursed here, skipping `_SUCCESS`/`.crc` bookkeeping — so both the
    * content stamp and the byte total survive either layout instead of
    * silently collapsing to empty on directory-shaped fixtures (ADVICE r9;
    * [[graft.Session]]'s AQE initial-partition sizing shares this walker for
    * exactly that reason).
    */
  private def parquetFiles(srcDir: String): Seq[(String, java.io.File)] =
    Option(new java.io.File(srcDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
      .flatMap(e => walk(e.getName, e))

  /** The data files under `f` (`f` itself when it is a file), each keyed
    * by `rel` followed by its path below `f`.
    */
  private def walk(rel: String, f: java.io.File): Seq[(String, java.io.File)] =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .flatMap(c => walk(s"$rel/${c.getName}", c))
    else Seq((rel, f))

  private def stamp(files: Seq[(String, java.io.File)]): String =
    files.map { case (rel, f) => s"$rel:${f.lastModified}:${f.length}" }
      .sorted.mkString(",")

  /** Total data bytes of the fixture dir's parquet entries (flat files or
    * Spark-style directories) — the one fixture-size estimate shared by the
    * stores and [[graft.Session]]'s reduce-partition sizing.
    */
  def parquetBytes(srcDir: String): Long = parquetFiles(srcDir).map(_._2.length).sum

  /** The content stamp of a fixture dir's parquet files. */
  def stampOf(srcDir: String): String = stamp(parquetFiles(srcDir))

  /** Settings that change the schema Spark resolves from parquet footers.
    * [[Tables.events]] flips `nanosAsLong` at run time.
    */
  private val parquetSchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (path, schema settings) → (content stamp, resolved schema). */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String]), (String, org.apache.spark.sql.types.StructType)]()

  /** `spark.read.parquet(path)` for a local fixture table or store dir, with
    * the schema resolved once per (path, recursive content stamp, parquet
    * schema settings). Spark resolves a parquet schema by running a
    * footer-reading job while the DataFrame is built; every later build of
    * an unchanged path reads with the memoized schema and starts no job. A
    * file rewritten in place changes the stamp and is resolved again.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = (path, parquetSchemaConfs.map(spark.conf.getOption(_).getOrElse("")))
    val st = stamp(walk("", new java.io.File(path)))
    val schema = Option(schemas.get(key)).filter(_._1 == st).map(_._2).getOrElse {
      val resolved = spark.read.parquet(path).schema
      schemas.put(key, (st, resolved))
      resolved
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Resolve (and build, exactly once per content stamp) the artifact dir
    * for `srcDir`. `build` writes the artifact's files under the dir it is
    * given; the `_GRAFT_STORE_OK` marker commits it (a crashed half-build
    * rebuilds on next use).
    */
  def ensure(srcDir: String, name: String, version: String)
      (build: String => Unit): String = synchronized {
    val dir = s"${sys.props("java.io.tmpdir")}/graft-$name-$version-" +
      md5hex(s"$srcDir|${stampOf(srcDir)}")
    if (built.contains(dir)) return dir
    val marker = new java.io.File(dir, "_GRAFT_STORE_OK")
    if (!marker.exists()) {
      build(dir)
      marker.createNewFile()
    }
    built += dir
    dir
  }
}
