package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session configuration every entry point starts from, so the
  * mains, the tests and the benchmark's mirror of it cannot drift apart.
  */
class SessionSpec extends AnyFunSuite {
  private val noEnv = Map.empty[String, String]
  private val aqeInitial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  test("conf: the eight settings, in builder order, for a fixture dir") {
    val emptyFixture = Files.createTempDirectory("graft-session").toString
    assert(Session.conf(8, Some(emptyFixture), noEnv) == Seq(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      aqeInitial -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "10000",
      "spark.shuffle.sort.bypassMergeThreshold" -> "0",
      "spark.local.dir" -> Scale.scratchDir))
    // without a fixture dir only the AQE initial count is left out
    assert(Session.conf(8, None, noEnv) ==
      Session.conf(8, Some(emptyFixture), noEnv).filter(_._1 != aqeInitial))
  }

  test("AQE sizing: cpus at 0 bytes, 32 MB of parquet per partition, clamped at 1024") {
    assert(Session.initialPartitions(4, 0L) == 4)
    assert(Session.initialPartitions(4, 1L << 30) == 32)
    assert(Session.initialPartitions(64, 1L << 30) == 64)
    assert(Session.initialPartitions(4, 1L << 40) == 1024)
  }

  test("env: SPARK_MASTER replaces local[cpus]; SPARK_GRAFT_CPUS defaults to 4") {
    assert(Session.conf(4, None, Map("SPARK_MASTER" -> "spark://h:7077")).head ==
      "spark.master" -> "spark://h:7077")
    assert(Session.cpus(noEnv) == 4)
    assert(Session.cpus(Map("SPARK_GRAFT_CPUS" -> "16")) == 16)
  }

  test("the test session carries the factory's settings; shuffle.partitions stays a run-time knob") {
    val spark = TestSession.spark
    Session.conf(4, None).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    val sqlConf = spark.sessionState.conf
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(sqlConf.numShufflePartitions == 7)
      // why the factory sets the AQE initial count only for a fixture dir:
      // once set, it overrides the run-time knob (DeterminismSpec flips it)
      spark.conf.set(aqeInitial, "4")
      assert(sqlConf.numShufflePartitions == 4)
    } finally {
      spark.conf.unset(aqeInitial)
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }
}
