package graft

import org.apache.spark.sql.SparkSession

/** Fixture-schema pre-flight — the round-4 lesson promoted to a first-class
  * check: the driver regenerated the testdata with `events.ts` re-encoded
  * (TIMESTAMP(NANOS)-as-long → timestamp[us]) and the only symptom was 27
  * opaque query failures. This module loads every fixture table's ACTUAL
  * schema at Bench/Verify startup, compares it column-by-column against the
  * schema contract the operators were built for, and surfaces any drift as a
  * NAMED diff ("events.ts: expected timestamp, loaded bigint") inside the
  * run's artifact — so a future regeneration shows up as one readable line,
  * not a failure cascade.
  *
  * A separate whole-registry analysis sweep is deliberately NOT run here:
  * Verify/Bench already execute every registered query and record per-query
  * failures (RegistrySpec's analysis sweep remains the test-time gate), and
  * several iterative ops do driver-side work at plan-construction time, so a
  * pre-sweep would double their cost for no extra signal. The schema diff is
  * the piece that was missing: it NAMES the root cause.
  */
object Preflight {

  /** The fixture schema contract (Spark `simpleString` types) the operator
    * registry is built against. `timestamp` matches any timestamp flavor the
    * parquet reader may surface (LTZ/NTZ are normalized by the readers);
    * anything else — a legacy nanos `bigint`, a dropped column — diffs.
    */
  val expected: Seq[(String, Seq[(String, String)])] = Seq(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
      "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"))

  /** Loaded `col:type` schema string per fixture table (or a marked read
    * error) — emitted verbatim into the bench artifact.
    */
  def loadedSchemas(spark: SparkSession, dir: String): Seq[(String, String)] =
    expected.map { case (name, _) =>
      val rendered =
        try sources.Tables.table(spark, dir, name).schema
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        catch { case e: Throwable =>
          s"<unreadable: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(80)}>"
        }
      name -> rendered
    }

  /** `timestamp`, `timestamp_ntz` et al. satisfy an expected `timestamp` —
    * the readers normalize the flavor; only a NON-timestamp encoding drifts.
    */
  private def matches(expectedType: String, loaded: String): Boolean =
    if (expectedType == "timestamp") loaded.startsWith("timestamp")
    else loaded == expectedType

  /** Named, human-readable schema drift: one line per missing table, missing
    * or type-shifted column, and unexpected extra column. Empty = contract
    * holds. Column ORDER is not part of the contract (all readers select by
    * name).
    */
  def schemaDiff(spark: SparkSession, dir: String): Seq[String] =
    expected.flatMap { case (name, cols) =>
      val loaded =
        try Some(sources.Tables.table(spark, dir, name).schema
          .map(f => f.name -> f.dataType.simpleString))
        catch { case e: Throwable => None }
      loaded match {
        case None => Seq(s"$name: table unreadable at $dir")
        case Some(actual) =>
          val actualMap = actual.toMap
          val missingOrShifted = cols.flatMap { case (c, t) =>
            actualMap.get(c) match {
              case None => Some(s"$name.$c: expected $t, column MISSING")
              case Some(lt) if !matches(t, lt) =>
                Some(s"$name.$c: expected $t, loaded $lt")
              case _ => None
            }
          }
          val extra = actual.collect {
            case (c, t) if !cols.exists(_._1 == c) => s"$name.$c: unexpected column ($t)"
          }
          missingOrShifted ++ extra
      }
    }
}
