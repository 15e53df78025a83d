package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Op
import graft.functions.Portable.{dsum, dsumSql}
import graft.sources.Tables

/** Dimensional-warehouse maintenance operators: SCD Type-2 history build,
  * CDC snapshot diffing, and merge/upsert application — the operations that
  * turn an append-only fact stream into maintainable dimension state.
  * (North-star extension; the reference pipeline rebuilds its KPI tables from
  * scratch each run — reference: ecs/transformation/transform_task.py:213-274 —
  * which stops being viable when the dimension is 100 TB. These ops are the
  * incremental alternative.)
  *
  * Scale shape: every window in [[scd2]] is partitioned by the dimension key
  * (no global sort anywhere), and all three stages of one call share that one
  * key-hash shuffle. [[snapshotDiff]] is a single co-partitioned full-outer
  * join on the key; [[applyChanges]] is one left join + union. Nothing here
  * collects to the driver.
  */
object Warehouse {

  // --------------------------------------------------------------------------
  // SCD Type-2
  // --------------------------------------------------------------------------

  /** Collapse a change log (one row per observation of `attr` at time `ts`)
    * into SCD Type-2 validity intervals: one row per (key, run of equal
    * attr values), with `valid_from` / `valid_to` (null = current), a
    * 1-based `version`, an `is_current` 0/1 flag, and the observation count
    * backing the run.
    *
    * Gaps-and-islands: a change flag vs `lag(attr)`, a running sum over the
    * same (key, ts, tieBreak) ordering to number islands, then one aggregate
    * per island and a `lead` to close each interval. `tieBreak` must make
    * the per-key ordering total (e.g. a unique row id), or run boundaries
    * would be nondeterministic under equal timestamps.
    *
    * All four window/aggregate stages are partitioned by `key` and reuse one
    * hash partitioning — a single shuffle of the log, no global sort. At
    * 100 TB the log shuffles once on the dimension key, and island state is
    * per-key, so skew is bounded by the hottest single entity's history.
    */
  def scd2(log: DataFrame, key: String, attr: String, ts: String,
      tieBreak: String): DataFrame = {
    val byTime = Window.partitionBy(key).orderBy(col(ts), col(tieBreak))
    val flagged = log.withColumn("_chg",
      when(lag(col(attr), 1).over(byTime).isNull
        || lag(col(attr), 1).over(byTime) =!= col(attr), 1).otherwise(0))
    val islands = flagged.withColumn("version",
      sum(col("_chg")).over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))
    val runs = islands.groupBy(col(key), col("version"))
      .agg(min(col(attr)).as(attr), // constant within an island
        min(col(ts)).as("valid_from"),
        count(lit(1)).as("n_obs"))
    val byVersion = Window.partitionBy(key).orderBy(col("version"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .withColumn("is_current", when(col("valid_to").isNull, 1).otherwise(0))
  }

  /** Incremental SCD2 maintenance: merge a stored history with the history
    * of a NEWER batch (every arriving observation later than every stored
    * one per key — the watermark contract a daily warehouse load satisfies
    * by construction). The stored history is never rebuilt:
    *
    *  - keys untouched by the batch pass through;
    *  - a batch whose first run CONTINUES the stored current value merges
    *    into that run (observation counts add, `valid_from` keeps the
    *    original onset, the run inherits the batch run's closure);
    *  - otherwise the stored current run CLOSES at the batch's first
    *    `valid_from`;
    *  - remaining batch runs append with versions shifted to continue the
    *    stored numbering.
    *
    * Must equal `scd2(full log)` bit-for-bit — the registered op shares the
    * full rebuild's oracle verbatim. At 100 TB this is THE difference
    * between a daily dimension load that touches one day of change and one
    * that re-sorts all of history: every join here is key-grain, and only
    * current runs and the batch shuffle.
    */
  def scd2Merge(stored: DataFrame, batch: DataFrame, key: String,
      attr: String): DataFrame = {
    val hist = stored.filter(col("is_current") === 0)
    val curr = stored.filter(col("is_current") === 1)
    val first = batch.filter(col("version") === 1)
      .select(col(key), col(attr).as("a_new"), col("valid_from").as("f_new"),
        col("n_obs").as("m_new"), col("valid_to").as("vt_new"),
        col("is_current").as("ic_new"))
    val j = curr.join(first, Seq(key), "left")
    val untouched = j.filter(col("a_new").isNull)
      .select(curr.columns.map(col): _*)
    val merged = j.filter(col("a_new").isNotNull && col(attr) === col("a_new"))
      .select(col(key), col("version"), col(attr), col("valid_from"),
        (col("n_obs") + col("m_new")).as("n_obs"),
        col("vt_new").as("valid_to"), col("ic_new").as("is_current"))
    val closed = j.filter(col("a_new").isNotNull && col(attr) =!= col("a_new"))
      .select(col(key), col("version"), col(attr), col("valid_from"),
        col("n_obs"), col("f_new").as("valid_to"), lit(0).as("is_current"))
    val shiftInfo = curr.select(col(key), col("version").as("v_cur"),
      col(attr).as("a_cur"))
    val appended = batch
      .join(first.select(col(key), col("a_new")), Seq(key))
      .join(shiftInfo, Seq(key), "left")
      .withColumn("mergedk", col("a_cur").isNotNull && col("a_cur") === col("a_new"))
      .filter(!(col("mergedk") && col("version") === 1)) // run 1 absorbed above
      .select(col(key),
        (col("version") + when(col("v_cur").isNull, 0)
          .when(col("mergedk"), col("v_cur") - 1)
          .otherwise(col("v_cur"))).as("version"),
        col(attr), col("valid_from"), col("n_obs"), col("valid_to"),
        col("is_current"))
    hist.select(curr.columns.map(col): _*)
      .unionByName(untouched).unionByName(merged).unionByName(closed)
      .unionByName(appended)
  }

  // --------------------------------------------------------------------------
  // CDC: snapshot, diff, apply
  // --------------------------------------------------------------------------

  /** Trailing-window activity snapshot of the orders fact as of `asOf`:
    * per user active in the prior `windowDays`, the order count, exact spend,
    * and last order date. The kind of serving-store table CDC maintains.
    */
  def activitySnapshot(orders: DataFrame, asOf: String, windowDays: Int): DataFrame =
    orders
      .filter(col("o_orderdate") > expr(s"TIMESTAMP '$asOf' - INTERVAL $windowDays DAYS")
        && col("o_orderdate") <= lit(asOf).cast("timestamp"))
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("spend"),
        max(col("o_orderdate")).as("last_order"))

  private def snapshotSql(asOf: String, windowDays: Int): String =
    s"""SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
       |       ${dsumSql("o_totalprice")} AS spend, MAX(o_orderdate) AS last_order
       |FROM orders
       |WHERE o_orderdate > TIMESTAMP '$asOf' - INTERVAL $windowDays DAY
       |  AND o_orderdate <= TIMESTAMP '$asOf'
       |GROUP BY o_custkey""".stripMargin

  /** CDC diff of two snapshots sharing schema (`key` + payload columns):
    * one row per changed key with `change_type` ∈ insert/update/delete,
    * old and new payload values side by side (null on the absent side).
    * Unchanged keys (all payload columns null-safe equal) are dropped.
    *
    * One full-outer sort-merge join on the key; both sides arrive hash-
    * partitioned the same way, so at scale this is the minimal one-shuffle
    * formulation (and with both snapshots bucketed by key it is shuffle-free).
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    val payload = a.columns.filter(_ != key).toSeq
    require(payload.toSet == b.columns.filter(_ != key).toSet,
      "snapshots must share schema")
    val unchanged = payload.map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _)
    val out = Seq(coalesce(col(s"a.$key"), col(s"b.$key")).as(key),
      when(col(s"a.$key").isNull, "insert")
        .when(col(s"b.$key").isNull, "delete")
        .otherwise("update").as("change_type")) ++
      payload.flatMap(c => Seq(col(s"a.$c").as(s"old_$c"), col(s"b.$c").as(s"new_$c")))
    a.as("a").join(b.as("b"), col(s"a.$key") === col(s"b.$key"), "full_outer")
      .filter(col(s"a.$key").isNull || col(s"b.$key").isNull || !unchanged)
      .select(out: _*)
  }

  /** Apply a [[snapshotDiff]] change set to a base snapshot (MERGE semantics):
    * deletes remove the key, inserts/updates take the `new_*` payload. By
    * construction `applyChanges(a, snapshotDiff(a, b)) == b` — the roundtrip
    * the registered op pins against the direct oracle.
    *
    * One left join (base × change keys — at CDC scale the change set is the
    * small side and broadcasts) plus a union of the upsert payload: the
    * 100 TB base is never shuffled, only streamed once.
    */
  def applyChanges(base: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val payload = base.columns.filter(_ != key).toSeq
    val untouched = base.join(changes.select(col(key)), Seq(key), "left_anti")
    val upserts = changes.filter(col("change_type") =!= "delete")
      .select(col(key) +: payload.map(c => col(s"new_$c").as(c)): _*)
    untouched.unionByName(upserts)
  }

  // --------------------------------------------------------------------------
  // Registered ops + DuckDB oracles
  // --------------------------------------------------------------------------

  /** Snapshot instants for the CDC ops: 180-day activity windows six months
    * apart — enough churn that insert/update/delete are all non-empty at
    * every fixture SF.
    */
  val cdcAsOfA = "2000-01-01"
  val cdcAsOfB = "2000-07-01"
  val cdcWindowDays = 180

  /** As-of instant for the SCD2 time-travel read — mid-history, so current
    * and superseded versions both appear at every fixture SF.
    */
  val scd2AsOf = "1998-07-01"

  /** Shared SCD2-history CTE chain (priority per customer) — the
    * `warehouse_scd2_priority` oracle body, reused verbatim by the as-of
    * read so both ops pin the same history.
    */
  private val scd2PriorityCtes =
    """log AS (
      |  SELECT o_custkey AS user_id, o_orderpriority AS priority,
      |         o_orderdate AS ts, o_orderkey AS oid
      |  FROM orders),
      |flagged AS (
      |  SELECT *, CASE WHEN LAG(priority) OVER w IS NULL
      |                   OR LAG(priority) OVER w <> priority THEN 1 ELSE 0 END AS chg
      |  FROM log WINDOW w AS (PARTITION BY user_id ORDER BY ts, oid)),
      |islands AS (
      |  SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, oid
      |                                ROWS UNBOUNDED PRECEDING) AS INTEGER) AS version
      |  FROM flagged),
      |runs AS (
      |  SELECT user_id, version, MIN(priority) AS priority,
      |         MIN(ts) AS valid_from, COUNT(*) AS n_obs
      |  FROM islands GROUP BY user_id, version),
      |hist AS (
      |  SELECT user_id, version, priority, valid_from, n_obs,
      |         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
      |         CASE WHEN LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
      |                IS NULL THEN 1 ELSE 0 END AS is_current
      |  FROM runs)""".stripMargin

  /** The priority change log as a frame (shared by both SCD2 ops). */
  private def priorityLog(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_custkey").as("user_id"), col("o_orderpriority").as("priority"),
      col("o_orderdate").as("ts"), col("o_orderkey").as("oid"))

  private val diffSql =
    s"""WITH a AS (${snapshotSql(cdcAsOfA, cdcWindowDays)}),
       |b AS (${snapshotSql(cdcAsOfB, cdcWindowDays)})
       |SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       |       CASE WHEN a.user_id IS NULL THEN 'insert'
       |            WHEN b.user_id IS NULL THEN 'delete'
       |            ELSE 'update' END AS change_type,
       |       a.n_orders AS old_n_orders, b.n_orders AS new_n_orders,
       |       a.spend AS old_spend, b.spend AS new_spend,
       |       a.last_order AS old_last_order, b.last_order AS new_last_order
       |FROM a FULL JOIN b ON a.user_id = b.user_id
       |WHERE a.user_id IS NULL OR b.user_id IS NULL
       |   OR a.n_orders IS DISTINCT FROM b.n_orders
       |   OR a.spend IS DISTINCT FROM b.spend
       |   OR a.last_order IS DISTINCT FROM b.last_order""".stripMargin

  def ops: Seq[Op] = Seq(
    // SCD Type-2 history of each customer's order priority.
    Op.sql("warehouse_scd2_priority",
      s"""WITH $scd2PriorityCtes
         |SELECT user_id, version, priority, valid_from, n_obs, valid_to,
         |       is_current
         |FROM hist""".stripMargin) { (s, d) =>
      scd2(priorityLog(s, d), "user_id", "priority", "ts", "oid").drop("ts", "oid")
    },

    // Time-travel read: the dimension AS OF an instant — exactly one row
    // per key whose validity interval covers it. The consumer-side filter
    // `valid_from <= T < valid_to` over the SCD2 history; with history
    // stored sorted/partitioned on valid_from this prunes at the file level,
    // so a 100 TB history answers a point-in-time read from the slice of
    // versions open at T.
    // Fact × SCD2 dimension at EVENT time: each order joins the priority
    // version valid on its order date — the star-schema temporal join
    // ("revenue by the segment the customer was in WHEN they ordered",
    // which a current-version join silently misstates). Key-equi-join on
    // user_id with the validity range as a riding filter — never a range
    // cross product; per-user version counts bound the fan-out.
    Op.sql("warehouse_dim_asof_join",
      s"""WITH $scd2PriorityCtes
         |SELECT h.priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
         |       ${dsumSql("o.o_totalprice")} AS revenue
         |FROM orders o JOIN hist h ON h.user_id = o.o_custkey
         |  AND h.valid_from <= o.o_orderdate
         |  AND (h.valid_to IS NULL OR h.valid_to > o.o_orderdate)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val hist = scd2(priorityLog(s, d), "user_id", "priority", "ts", "oid")
      Tables.orders(s, d)
        .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ots"),
          col("o_totalprice"))
        .join(hist.select(col("user_id"), col("priority"), col("valid_from"),
          col("valid_to")), Seq("user_id"))
        .filter(col("valid_from") <= col("ots")
          && (col("valid_to").isNull || col("valid_to") > col("ots")))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"))
    },

    Op.sql("warehouse_scd2_asof",
      s"""WITH $scd2PriorityCtes
         |SELECT user_id, version, priority, valid_from, n_obs, valid_to,
         |       is_current
         |FROM hist
         |WHERE valid_from <= TIMESTAMP '$scd2AsOf'
         |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '$scd2AsOf')""".stripMargin) {
      (s, d) =>
      scd2(priorityLog(s, d), "user_id", "priority", "ts", "oid").drop("ts", "oid")
        .filter(col("valid_from") <= lit(scd2AsOf).cast("timestamp")
          && (col("valid_to").isNull
            || col("valid_to") > lit(scd2AsOf).cast("timestamp")))
    },

    // Incremental SCD2: stored history + newer-batch history merge —
    // the oracle is the FULL-rebuild history query verbatim.
    Op.sql("warehouse_scd2_incremental",
      s"""WITH $scd2PriorityCtes
         |SELECT user_id, version, priority, valid_from, n_obs, valid_to,
         |       is_current
         |FROM hist""".stripMargin) { (s, d) =>
      val log = priorityLog(s, d)
      val split = lit("1998-01-01").cast("timestamp")
      scd2Merge(
        scd2(log.filter(col("ts") < split), "user_id", "priority", "ts", "oid"),
        scd2(log.filter(col("ts") >= split), "user_id", "priority", "ts", "oid"),
        "user_id", "priority")
    },

    // Point-in-time activity snapshot (the CDC base table).
    Op.sql("cdc_snapshot_activity", snapshotSql(cdcAsOfB, cdcWindowDays)) { (s, d) =>
      activitySnapshot(Tables.orders(s, d), cdcAsOfB, cdcWindowDays)
    },

    // Change set between the two snapshot instants.
    Op.sql("cdc_snapshot_diff", diffSql) { (s, d) =>
      val orders = Tables.orders(s, d)
      snapshotDiff(
        activitySnapshot(orders, cdcAsOfA, cdcWindowDays),
        activitySnapshot(orders, cdcAsOfB, cdcWindowDays), "user_id")
    },

    // MERGE roundtrip: base + change set must reproduce the target snapshot,
    // so the oracle is the DIRECT snapshot-at-B query — the diff/apply pair
    // has to agree with a computation that never saw either op.
    Op.sql("cdc_merge_apply", snapshotSql(cdcAsOfB, cdcWindowDays)) { (s, d) =>
      val orders = Tables.orders(s, d)
      val a = activitySnapshot(orders, cdcAsOfA, cdcWindowDays)
      val b = activitySnapshot(orders, cdcAsOfB, cdcWindowDays)
      applyChanges(a, snapshotDiff(a, b, "user_id"), "user_id")
    },
  )
}
