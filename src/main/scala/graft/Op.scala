package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine operation: a named query over a scale-factor
  * directory, plus (when SQL-expressible) an equivalent DuckDB oracle
  * query over the same parquet tables. Modules expose `def ops: Seq[Op]`
  * and [[SparkEntry]] aggregates them into the driver contract.
  */
final case class Op(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Op {
  /** Convenience for oracle-backed ops. */
  def sql(name: String, oracleSql: String)(
      fn: (SparkSession, String) => DataFrame): Op =
    Op(name, fn, Some(oracleSql))
}
