package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: substring filters over query names, any-match
    // (dev-only — the driver always passes exactly two args)
    val Array(sfDir, outDir) = args.take(2)
    val nameFilters = args.drop(2).toSeq
    val spark = Session.start(fixtureDir = Some(sfDir))
    new java.io.File(outDir).mkdirs()
    // Fixture-schema pre-flight: dump the loaded per-table schemas beside the
    // results and shout any drift from the operator contract BEFORE the query
    // sweep, so a regenerated fixture reads as one named line, not a cascade.
    val schemas = Preflight.loadedSchemas(spark, sfDir)
    val diffs = Preflight.schemaDiff(spark, sfDir)
    diffs.foreach(d => System.err.println(s"[verify] SCHEMA DRIFT: $d"))
    Files.writeString(Paths.get(s"$outDir/schemas.json"),
      (schemas.map { case (n, s) => s"${Json.quote(n)}:${Json.quote(s)}" } :+
        s""""schema_diff":${diffs.map(Json.quote).mkString("[", ",", "]")}""")
        .mkString("{", ",", "}"))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        nameFilters.isEmpty || nameFilters.exists(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // ops may persist() or localCheckpoint() shared subtrees; don't let
      // caches OR checkpoint blocks pile up across a session's queries
      // (Release keeps the deliberately retained memo frames)
      Release.interQuery(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
