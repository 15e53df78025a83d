package graft.sources

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
  private def parquetFiles(srcDir: String): Seq[(String, java.io.File)] = {
    def walk(rel: String, f: java.io.File): Seq[(String, java.io.File)] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten
          .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
          .flatMap(c => walk(s"$rel/${c.getName}", c))
      else Seq((rel, f))
    Option(new java.io.File(srcDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
      .flatMap(e => walk(e.getName, e))
  }

  /** Total data bytes of the fixture dir's parquet entries (flat files or
    * Spark-style directories) — the one fixture-size estimate shared by the
    * stores and [[graft.Session]]'s reduce-partition sizing.
    */
  def parquetBytes(srcDir: String): Long = parquetFiles(srcDir).map(_._2.length).sum

  /** The content stamp of a fixture dir's parquet files. */
  def stampOf(srcDir: String): String =
    parquetFiles(srcDir)
      .map { case (rel, f) => s"$rel:${f.lastModified}:${f.length}" }
      .sorted.mkString(",")

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
