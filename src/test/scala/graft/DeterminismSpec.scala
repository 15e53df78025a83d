package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The engine-wide partitioning-invariance sweep: every registered operator
  * must produce bit-identical rows when the shuffle partitioning changes —
  * the property that makes results reproducible on any cluster size, which
  * the per-op DuckDB oracle cannot check (it compares one run). Since r11
  * the sketch ops are exact integer arithmetic (KMV, Bloom, Count-Min), so
  * no op is exempt.
  */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def canon(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    rows.length + ":" + md.digest().map("%02x".format(_)).mkString
  }

  test("every exact op is invariant to the shuffle partitioning") {
    val sf = TestSession.sf
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val failures = scala.collection.mutable.Buffer[String]()
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        val a = canon(fn(spark, sf))
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val b = canon(fn(spark, sf))
        spark.catalog.clearCache()
        if (a != b) failures += s"$name: 3-part $a != 7-part $b"
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(failures.isEmpty,
      s"partitioning-dependent results:\n${failures.mkString("\n")}")
  }
}
