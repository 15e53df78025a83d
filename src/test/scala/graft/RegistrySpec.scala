package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract consistency: every registered op must be uniquely named
  * (duplicates would silently shadow in the Map) and must at least ANALYZE
  * against the fixture tables — a broken op would otherwise just vanish from
  * the verify gate with a stderr line nobody reads.
  */
class RegistrySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("op names are unique (no silent shadowing in the queries map)") {
    val names = SparkEntry.allOps.map(_.name)
    val dupes = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate op names: ${dupes.mkString(", ")}")
  }

  test("every oracle belongs to a registered query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracles without queries: ${orphans.mkString(", ")}")
  }

  test("every op analyzes against the fixtures (schema resolution only)") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, TestSession.sf).schema; None }
      catch { case e: Exception => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("flagship entry analyzes and targets the smoke fixture") {
    assert(SparkEntry.entry(spark).schema.fieldNames.contains("daily_revenue"))
  }

  test("csv_roundtrip_orders: a fixture rewritten in place is exported again") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.col
    import graft.sources.Tables
    val d = Files.createTempDirectory("graft-csvfixture")
    Files.list(Paths.get(TestSession.sf)).forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    val op = SparkEntry.queries("csv_roundtrip_orders")
    def same(got: org.apache.spark.sql.DataFrame): Boolean = {
      val want = Tables.ordersDomain(spark, d.toString)
        .select(got.schema.map(f => col(f.name).cast(f.dataType)): _*)
      got.count() == want.count() && got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
    }
    assert(same(op(spark, d.toString)))
    // rewrite orders.parquet with a subset of its rows
    val subset = Files.createTempDirectory("graft-csvfixture-subset")
    Tables.orders(spark, d.toString).filter(col("o_orderkey") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(subset.toString)
    val part = Files.list(subset).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, d.resolve("orders.parquet"), StandardCopyOption.REPLACE_EXISTING)
    assert(same(op(spark, d.toString)), "stale CSV export served for a rewritten fixture")
  }

  test("every registered op carries a DuckDB oracle") {
    // an op checked only by its row count is a deliberate act that must
    // change this pin
    val rowsOnly = SparkEntry.allOps.filter(_.oracle.isEmpty).map(_.name)
    assert(rowsOnly.isEmpty, s"ops without an oracle: ${rowsOnly.mkString(", ")}")
  }
}
