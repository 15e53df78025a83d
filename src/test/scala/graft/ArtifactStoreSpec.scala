package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArtifactStore, Tables}

/** Spark jobs started while `body` runs (listener-bus flushed on both sides). */
object JobCount {
  def apply(spark: SparkSession)(body: => Unit): Long = {
    val sc = spark.sparkContext
    val l = new Bench.ResourceListener
    ListenerBridge.flush(sc)
    sc.addSparkListener(l)
    try { body; ListenerBridge.flush(sc); l.jobs.get() }
    finally sc.removeSparkListener(l)
  }
}

/** The parquet schema memo behind `ArtifactStore.readParquet`: a DataFrame
  * over an unchanged path builds without a Spark job, and the memo never
  * serves a schema across a content change or a schema-setting change. The
  * footer row counts of `ArtifactStore.parquetRows` are never stale either.
  */
class ArtifactStoreSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def fixtureCopy(tag: String): Path = {
    val d = Files.createTempDirectory(s"graft-schemamemo-$tag")
    Files.list(Paths.get(TestSession.sf)).forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    d
  }

  test("a fixture table's second build starts no Spark job") {
    val d = fixtureCopy("orders").toString
    val first = JobCount(spark)(Tables.orders(spark, d))
    assert(first >= 1, "a fresh path must resolve its schema")
    assert(JobCount(spark)(Tables.orders(spark, d)) == 0,
      "the second build of an unchanged table must reuse the resolved schema")
  }

  test("a table rewritten in place with a new column is read with the new schema") {
    val d = fixtureCopy("rewrite")
    val before = Tables.orders(spark, d.toString)
    assert(!before.columns.contains("o_extra"))
    val staged = Files.createTempDirectory("graft-schemamemo-staged")
    before.withColumn("o_extra", lit(7L))
      .coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val part = Files.list(staged).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, d.resolve("orders.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val after = Tables.orders(spark, d.toString)
    assert(after.columns.contains("o_extra"),
      s"stale schema served for a rewritten table: ${after.columns.mkString(",")}")
    assert(after.select("o_extra").distinct().collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("flipping nanosAsLong between two reads of one path resolves the schema again") {
    val k = "spark.sql.legacy.parquet.nanosAsLong"
    val d = fixtureCopy("nanos").toString
    val prev = spark.conf.getOption(k)
    try {
      spark.conf.set(k, "false")
      Tables.table(spark, d, "events")
      spark.conf.set(k, "true")
      assert(JobCount(spark)(Tables.table(spark, d, "events")) == 1,
        "a schema resolved under nanosAsLong=false must not serve a read under true")
      spark.conf.set(k, "false")
      assert(JobCount(spark)(Tables.table(spark, d, "events")) == 0)
    } finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("footer row counts equal count(), start no job, and follow a rewrite") {
    val d = fixtureCopy("rows")
    val path = d.resolve("orders.parquet").toString
    val want = spark.read.parquet(path).count()
    var got = 0L
    assert(JobCount(spark) { got = ArtifactStore.parquetRows(spark, path) } == 0)
    assert(got == want)
    val staged = Files.createTempDirectory("graft-rowcount-staged")
    spark.read.parquet(path).limit(3).coalesce(1).write.mode("overwrite").parquet(staged.toString)
    assert(ArtifactStore.parquetRows(spark, staged.toString) == 3L, "a Spark-written dir")
    val part = Files.list(staged).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, d.resolve("orders.parquet"), StandardCopyOption.REPLACE_EXISTING)
    assert(ArtifactStore.parquetRows(spark, path) == 3L, "stale row count served for a rewritten file")
  }
}
