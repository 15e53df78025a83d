package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Op
import graft.functions.Portable.{dsum, dsumSql}
import graft.sources.Tables

/** Event-time operators over the `events` table (north-star extension;
  * SURVEY.md §7.3 step 8). Batch-expressible so DuckDB can oracle-check them;
  * [[graft.streaming.StreamingKpis]] runs the same shapes under Structured
  * Streaming with watermarks.
  *
  * Scale: hourly rollup and user stats are single-shuffle hash aggregates;
  * sessionization is one shuffle on user_id + an in-partition sort (Spark
  * window functions) — the canonical distributed sessionize.
  */
object EventOps {

  val sessionGapUs: Long = 30L * 60 * 1000 * 1000 // 30 min

  /** Tumbling 1-hour event-time windows per event_type — expressed with
    * Spark's `window()` (streaming-compatible); start == date_trunc('hour').
    */
  /** Top users per day by event count (k = [[topUsersK]]): pre-aggregate to
    * (day, user) grain — one shuffle reduces the event stream to a bounded
    * frame — then rank WITHIN each day partition (window partitions are
    * day-sized, never global). Ties break on user_id.
    */
  val topUsersK = 3

  def topUsersDaily(events: DataFrame, k: Int = topUsersK): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("day").orderBy(col("n_events").desc, col("user_id"))
    daily.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
  }

  /** Keep-newest record per key — the CDC/compaction dedup shape (latest
    * event per user here). One hash aggregate via `max_by` over a
    * (ts, event_id) ordering struct: partial aggregation keeps ≤1 row per
    * key per task map-side, so no window sort and no per-key shuffle of the
    * full history — the formulation that survives 100 TB of updates where
    * `row_number() = 1` would sort every key's history. Ties on ts break on
    * event_id (highest wins), so the survivor is deterministic.
    */
  def latestPerUser(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        max_by(
          struct(col("ts"), col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("last.ts").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"),
        col("n_events"))

  /** Event-type transition matrix (first-order Markov): for every observed
    * (from → to) pair of CONSECUTIVE events within a user's timeline, the
    * transition count and the conditional probability P(to | from).
    *
    * Scale shape: one shuffle on user_id with an in-partition (ts, event_id)
    * sort — the inherent cost of sequence analysis; per-user history is the
    * natural unit and never crosses executors. Everything after the `lead`
    * collapses to type-pair grain (|event types|² rows), so the probability
    * window runs over a dashboard-sized frame. p = n / total is two exact
    * integers under one IEEE division → bit-identical to the oracle.
    */
  def typeTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val counts = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    counts.withColumn("p",
      col("n").cast(DoubleType) /
        sum(col("n")).over(Window.partitionBy("from_type")).cast(DoubleType))
  }

  /** Power-iteration rounds for [[markovStationary]]. */
  val stationaryRounds = 4

  /** π grid: 10⁹ steps of probability mass. */
  val piGrid = 1000000000L

  /** Stationary distribution of the session-transition chain: where does
    * the average journey CONCENTRATE — the single-vector summary of the
    * [[typeTransitions]] matrix (a state with high π is where sessions
    * spend their time; the funnel op measures progression, this measures
    * equilibrium). [[stationaryRounds]] synchronous power-iteration rounds
    * on exact integer grids: per-row transition probabilities on the ppm
    * grid, π on the 10⁹ grid, every update `Σ (π·p) div 1e6` — the
    * PageRank recurrence applied to the behavioral chain, equally
    * partitioning-invariant. The observed chain is SUB-stochastic (each
    * user's last event has no successor; truncated rows lose ≤ |states|
    * ppm per row), so total π mass decays slightly per round — reported
    * as-is rather than renormalized, keeping every number exact.
    *
    * Scale shape: ONE user-keyed shuffle builds the transition counts
    * (the typeTransitions plan); everything after is at state-pair grain
    * (|event types|² rows), broadcast through the rounds.
    */
  /** The transition matrix on the ppm grid + the state universe — the
    * shared kernel of [[markovStationary]] and [[conversionPropensity]].
    * One user-keyed shuffle; both outputs are state-grain and
    * localCheckpoint'd for the iteration that follows.
    */
  private def transitionsPpm(events: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rs", sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"),
        expr("(n * 1000000) div rs").as("p_ppm"))
      .localCheckpoint()
    val states = t.select(col("from_type").as("event_type"))
      .unionByName(t.select(col("to_type").as("event_type")))
      .distinct().localCheckpoint()
    (t, states)
  }

  def markovStationary(events: DataFrame): DataFrame = {
    val (t, states) = transitionsPpm(events)
    val k = states.count()
    var pi = states.withColumn("pi_q", lit(piGrid / k))
    for (i <- 1 to stationaryRounds) {
      graft.LoopProf.timed("markov", i) {
        val moved = t
          .join(broadcast(pi.withColumnRenamed("event_type", "from_type")), "from_type")
          .groupBy(col("to_type").as("event_type"))
          .agg(sum(expr("(pi_q * p_ppm) div 1000000")).as("m"))
        val prev = pi
        pi = states.join(moved, Seq("event_type"), "left")
          .select(col("event_type"), coalesce(col("m"), lit(0L)).as("pi_q"))
          .localCheckpoint()
        // i > 1 is load-bearing: round 1's prev is a projection OVER the
        // loop-invariant `states` checkpoint that every later round reads
        if (i > 1) graft.Release.releaseCheckpoint(prev)
      }
    }
    pi
  }

  /** Rounds (max steps) for [[conversionPropensity]]. */
  val propensityRounds = 4

  /** Conversion propensity by state: the probability (ppm) that a session
    * currently at state i reaches `purchase` within [[propensityRounds]]
    * transitions — first-hit value iteration with the target held
    * absorbing at 1e6:
    *   v_r(i) = Σ_j p(i→j) · u(j),   u(j) = 1e6 if j = target else v_{r−1}(j)
    * — the "how close is each state to money" readout that turns the
    * transition matrix into a decision surface (stationary says where
    * sessions SIT, this says where they're GOING). Σ_j p ≤ 1e6 and u ≤
    * 1e6 keep every update inside the grid — exact BIGINT throughout.
    *
    * Same plan skeleton as [[markovStationary]]: one user-keyed shuffle
    * builds the matrix, then state-grain broadcast rounds.
    */
  def conversionPropensity(events: DataFrame, target: String = "purchase",
      rounds: Int = propensityRounds): DataFrame = {
    val (t, states) = transitionsPpm(events)
    var v = states.withColumn("v_q",
      when(col("event_type") === target, lit(1000000L)).otherwise(lit(0L)))
    for (i <- 1 to rounds) {
      graft.LoopProf.timed("propensity", i) {
        val u = v.select(col("event_type").as("to_type"),
          when(col("event_type") === target, lit(1000000L)).otherwise(col("v_q"))
            .as("u_q"))
        val moved = t.join(broadcast(u), "to_type")
          .groupBy(col("from_type").as("event_type"))
          .agg(sum(expr("(p_ppm * u_q) div 1000000")).as("m"))
        val prev = v
        v = states.join(moved, Seq("event_type"), "left")
          .select(col("event_type"),
            when(col("event_type") === target, lit(1000000L))
              .otherwise(coalesce(col("m"), lit(0L))).as("v_q"))
          .localCheckpoint()
        // i > 1 load-bearing: round 1's prev sits over the shared `states`
        // checkpoint (see markovStationary)
        if (i > 1) graft.Release.releaseCheckpoint(prev)
      }
    }
    v
  }

  /** Dwell times per transition: for each consecutive (from → to) event
    * pair within a user's timeline, the count and min/avg/max gap in whole
    * seconds — [[typeTransitions]] with the clock attached (how long users
    * sit on a view before carting is the product metric; the probability
    * alone isn't). Same single user-keyed shuffle; the aggregate collapses
    * to type-pair grain, and the average is an exact integer-second sum
    * under one IEEE division.
    */
  def dwellTimes(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_secs",
        expr("(unix_micros(lead(ts, 1) over (partition by user_id order by ts, event_id)) - unix_micros(ts)) div 1000000"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"),
        min(col("gap_secs")).as("min_gap_secs"),
        max(col("gap_secs")).as("max_gap_secs"),
        (sum(col("gap_secs")).cast(DoubleType) / count(lit(1))).as("avg_gap_secs"))
  }

  /** Gaps-and-islands run-length encoding: each user's timeline split into
    * maximal runs of the SAME event_type (run_seq is the 1-based run index,
    * with the run's bounds and length) — the classic sessionless sequence
    * compaction (bot detection: long single-type runs; engagement: type
    * switching cadence).
    *
    * Scale shape: the same single user-keyed shuffle as [[typeTransitions]];
    * the change-flag + running-sum windows and the final run aggregate all
    * share that one partitioning, so Catalyst plans ONE exchange and the
    * run groupBy needs no second shuffle (user_id is a prefix of the
    * grouping key... the aggregate is partial map-side either way).
    */
  def typeRuns(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_seq", sum(col("chg")).over(w))
      .groupBy(col("user_id"), col("run_seq"))
      .agg(
        min(col("event_type")).as("event_type"), // constant within a run
        min(col("ts")).as("run_start"),
        max(col("ts")).as("run_end"),
        count(lit(1)).as("run_len"))
  }

  def hourlyRollup(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Session numbering shared by [[sessionize]] and [[sessionPaths]]: the
    * lag/cumsum gap split. Both windows and the downstream session aggregate
    * share ONE user-keyed shuffle; ordering (ts, event_id) is deterministic
    * for equal timestamps.
    */
  private def numberedSessions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > sessionGapUs, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Gap thresholds (minutes) swept by [[sessionGapSweep]]. */
  val sessionGapSweepMin: Seq[Long] = Seq(5L, 15L, 30L, 60L, 120L)

  /** Sessionization-threshold tuning sweep: session count and mean session
    * size (×1000 grid) at each candidate idle-gap threshold — the report
    * read before fixing [[sessionGapUs]] (too small fragments intent, too
    * large merges visits). ONE user-keyed window pass computes every
    * event's idle gap; each threshold is then a conditional count over the
    * same gap column (events explode ×|thresholds| into a hash aggregate —
    * never a re-sessionization per candidate).
    */
  def sessionGapSweep(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .select(col("gap_us"),
        explode(array(sessionGapSweepMin.map(lit): _*)).as("gap_minutes"))
      .groupBy(col("gap_minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("gap_us").isNull ||
          col("gap_us") > col("gap_minutes") * 60000000L, 1L).otherwise(0L))
          .as("n_sessions"))
      .select(col("gap_minutes"), col("n_events"), col("n_sessions"),
        expr("(n_events * 1000) div n_sessions").as("events_per_session_x1000"))
  }

  /** Gap-based sessionization: a new session starts after > 30 min idle. */
  def sessionize(events: DataFrame): DataFrame =
    numberedSessions(events)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))

  /** Per-session ordered action path ("view>click>purchase") — the
    * behavioral-sequence export a sequence-model training pipeline reads
    * (each session becomes one training example). The path is assembled
    * in-group: collect the (ts, event_id, type) structs, `array_sort` (struct
    * field order = the deterministic session ordering), project the types.
    *
    * Scale shape: the same single user-keyed shuffle as [[sessionize]];
    * per-group state is one session's events — bounded by the 30-min gap
    * rule, never by user-lifetime history.
    */
  def sessionPaths(events: DataFrame): DataFrame =
    numberedSessions(events)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        concat_ws(">",
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type"))).as("path"))

  /** Top converting session paths: of sessions containing a purchase, the
    * k most frequent action paths — the funnel-discovery complement of the
    * fixed-stage [[funnel]]. Deterministic top-k (count desc, path) via
    * TakeOrdered: after [[sessionPaths]] the frame is path-grain, and the
    * bounded heap never sorts it globally.
    */
  val conversionPathsK = 20

  def conversionPaths(events: DataFrame, k: Int = conversionPathsK): DataFrame =
    sessionPaths(events)
      .filter(col("path").contains("purchase"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("total_events"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)

  /** Sliding event-time windows: 1-hour windows every 30 minutes — each
    * event lands in exactly 2 overlapping windows (length/slide), computed by
    * Spark's `window(ts, len, slide)` without materializing the overlap join.
    */
  def slidingRollup(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sessionization via Spark's native `session_window` grouping — the
    * streaming-compatible formulation (state merges windows incrementally;
    * [[sessionize]] is the window-function batch formulation). Boundary
    * semantics: an event exactly `gap` after its predecessor starts a NEW
    * session here (window is half-open), where the lag formulation keeps it.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Per-user activity profile: one hash aggregate with a distinct. */
  def userStats(events: DataFrame): DataFrame =
    events.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("event_type")).as("n_event_types"),
      dsum(col("value")).as("total_value"),
      min(col("ts")).as("first_seen"),
      max(col("ts")).as("last_seen"))

  /** Ordered conversion funnel over the event stream. A user reaches stage
    * i+1 only with an event of that type STRICTLY AFTER their first stage-i
    * time (first view → first later click → first later purchase) — the
    * sequential semantics a product-analytics funnel means, not three
    * independent existence checks.
    *
    * Scale design: one filtered min-aggregate + one equi-join on user_id per
    * stage — each stage's frame shrinks monotonically, no window over the
    * full stream, no driver state. The final 3-row window is trivial.
    */
  val funnelStages: Seq[String] = Seq("view", "click", "purchase")

  def funnel(events: DataFrame, stages: Seq[String] = funnelStages): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // each stage frame is consumed twice (the next stage + its count row);
    // persisting keeps the counts union from re-running every upstream
    // stage's scan+aggregate chain per branch
    val firstByStage = stages.tail.scanLeft(
      events.filter(col("event_type") === stages.head)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)) {
      case (prev, stage) =>
        events.filter(col("event_type") === stage)
          .join(prev.select(col("user_id"), col("t").as("prev_t")), "user_id")
          .filter(col("ts") > col("prev_t"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
          .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val counts = stages.zip(firstByStage).zipWithIndex.map {
      case ((stage, reached), i) =>
        reached.agg(count(lit(1)).as("users"))
          .select(lit((i + 1).toLong).as("stage_idx"), lit(stage).as("stage"), col("users"))
    }.reduce(_.unionAll(_))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("stage_idx"))
    counts.withColumn("conv_from_prev",
      col("users").cast(DoubleType) / lag(col("users"), 1).over(w))
  }

  /** Per-minute event-rate threshold above which a user is bot-flagged. */
  val botPerMinute = 3L

  /** Bot-rate screen per user: burst detection at minute grain — total
    * events, active minutes, the PEAK events-in-one-minute, and a flag when
    * the peak crosses [[botPerMinute]]. Automated traffic is the classic
    * training-data contaminant in behavioral logs (a scraper's clicks teach
    * a recommender to recommend everything); the peak-rate signal separates
    * it from heavy humans, who spread the same volume over many minutes.
    * Two hash aggregates — (user, minute) grain absorbs the stream
    * map-side, then user grain; exact integers.
    */
  def botRate(events: DataFrame, perMinute: Long = botPerMinute): DataFrame =
    events
      .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("m"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"), count(lit(1)).as("active_minutes"),
        max(col("c")).as("max_per_minute"))
      .withColumn("bot_flag", (col("max_per_minute") >= perMinute).cast(IntegerType))

  /** Rolling-window lengths (days) for [[stickiness]]. */
  val stickinessWeek = 7
  val stickinessMonth = 28

  /** Engagement stickiness: per calendar day, DAU plus the rolling 7-day
    * (WAU) and 28-day (MAU) unique-user counts ending that day, and the
    * DAU/MAU ratio on the ppm integer grid — the standard product-health
    * dashboard metric (a stickiness of 1e6 means every monthly user shows
    * up daily).
    *
    * Scale shape: the corpus collapses to the distinct (user, day) grid
    * FIRST (one hash aggregate absorbs the raw stream map-side), and each
    * rolling window is computed by replicating each (user, day) row onto
    * the ≤ w target days it can serve — so the shuffled volume is
    * |users×days| · w, never a self-join of the event stream, and there is
    * no per-day rescan of a 28-day window. Counts and ratios are exact
    * BIGINTs; the day spine is dense (gap days report 0/0/0).
    */
  def stickiness(events: DataFrame): DataFrame =
    stickinessFromGrid(userDayGrid(events))

  /** The distinct (user, day) activity grid — [[stickiness]]'s sufficient
    * statistic, and the mergeable state of the incremental path: grids of
    * two event batches combine by distinct-union (set union is exact
    * regardless of how events were split), so stored state never re-reads
    * history.
    */
  def userDayGrid(events: DataFrame): DataFrame =
    events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()

  /** Incremental [[stickiness]]: stored grid ∪ arriving batch's grid. Must
    * equal the full recompute bit-for-bit — the registered op shares the
    * full path's oracle verbatim.
    */
  def stickinessIncremental(stored: DataFrame, arriving: DataFrame): DataFrame =
    stickinessFromGrid(
      userDayGrid(stored).unionByName(userDayGrid(arriving)).distinct())

  private def stickinessFromGrid(grid: DataFrame): DataFrame = {
    val ud = grid.persist()
    val span = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    def rolling(w: Int, name: String): DataFrame = ud
      .crossJoin(broadcast(span))
      .select(col("user_id"),
        explode(sequence(col("day"),
          least(date_add(col("day"), w - 1), col("d1")))).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as(name))
    val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    spine
      .join(dau, Seq("day"), "left")
      .join(rolling(stickinessWeek, "wau"), Seq("day"), "left")
      .join(rolling(stickinessMonth, "mau"), Seq("day"), "left")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"),
        coalesce(col("mau"), lit(0L)).as("mau"))
      .withColumn("stickiness_ppm",
        when(col("mau") === 0, lit(0L))
          .otherwise(expr("(dau * 1000000) div mau")))
  }

  /** Seasonal lag (days) for [[forecastNaive]]. */
  val forecastLagDays = 7

  /** Seasonal-naive forecast evaluation: predict each day's event count
    * with the count from the same weekday one week earlier, and report the
    * per-type absolute-error profile — the BASELINE every real forecasting
    * model must beat (a model that loses to last-week-same-day is worse
    * than no model; this op is the denominator of that comparison, MASE's
    * scaling term). Errors are exact integer counts; the mean is reported
    * in milli-units (`sum·1000 div n`).
    *
    * Scale shape: the stream collapses to (type, day) grain; the forecast
    * is a self-equi-join on (type, day − 7) of that tiny frame — no windows,
    * no dense spine needed (a day with no lagged observation is excluded
    * from scoring, which is the standard holdout rule).
    */
  def forecastNaive(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val lagged = daily.select(col("event_type"),
      date_add(col("day"), forecastLagDays).as("day"), col("c").as("f"))
    daily.join(lagged, Seq("event_type", "day"))
      .select(col("event_type"), abs(col("c") - col("f")).as("abs_err"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"), sum(col("abs_err")).as("sum_abs_err"))
      .withColumn("mae_milli", expr("(sum_abs_err * 1000) div n_eval"))
  }

  /** EWMA window (days) for [[forecastEwma]] — weights 2^(w−i)/(2^w−1). */
  val ewmaWindowDays = 8

  /** Truncated exponentially-weighted forecast evaluation: predict each
    * day's per-type event count with the α = 1/2 exponential moving
    * average of the previous [[ewmaWindowDays]] days,
    *   f(d) = (Σ_{i=1..w} c(d−i) · 2^(w−i)) div (2^w − 1),
    * and report the per-type absolute-error profile — the smoothing
    * counterpart to [[forecastNaive]]'s seasonal baseline (naive wins on
    * strong weekly seasonality, EWMA wins on level shifts; a forecasting
    * stack reports both). The halving weights sum to 2^w − 1, so the
    * normalized forecast is ONE exact integer division of an exact
    * BIGINT-weighted sum — bit-deterministic under any partitioning, no
    * recursive state.
    *
    * Scale shape: the stream collapses to (type, day) grain first; each
    * daily count then fans out to the w future days it informs (a
    * broadcast-range explode of a TINY frame — w rows per (type, day),
    * never per event) and one hash aggregate per (type, day) builds the
    * weighted sum. Only days with the full w-day history are scored (the
    * holdout rule, mirroring the naive baseline's lag-present rule).
    */
  def forecastEwma(events: DataFrame): DataFrame = {
    val w = ewmaWindowDays
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val contrib = daily
      .withColumn("i", explode(sequence(lit(1), lit(w))))
      .select(col("event_type"), expr("date_add(day, i)").as("day"),
        expr(s"c * shiftleft(1L, $w - i)").as("wc"))
    val fc = contrib.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_obs"), sum(col("wc")).as("wsum"))
      .filter(col("n_obs") === w)
      .select(col("event_type"), col("day"),
        expr(s"wsum div ${(1L << w) - 1}").as("f"))
    daily.join(fc, Seq("event_type", "day"))
      .select(col("event_type"), abs(col("c") - col("f")).as("abs_err"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"), sum(col("abs_err")).as("sum_abs_err"))
      .withColumn("mae_milli", expr("(sum_abs_err * 1000) div n_eval"))
  }

  /** Hash-split A/B readout: users are assigned a variant by the parity of
    * the portable 60-bit hash of their id — the deterministic, sticky,
    * engine-portable bucketing every experimentation system needs (the same
    * user lands in the same arm on any engine, any partitioning, any day).
    * Per variant: user count, purchase count, exact spend (decimal-sum rule)
    * and purchases-per-user on the ppm grid.
    *
    * Scale shape: one user-grain aggregate absorbs the stream map-side,
    * then a 2-row variant aggregate. Nothing here is proportional to more
    * than |users|.
    */
  def abLift(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
        sum(when(col("event_type") === "purchase",
          col("value").cast(DecimalType(18, 4)))).as("spend_d"))
      .select((graft.functions.Portable.hash60(col("user_id").cast(StringType)) % 2)
        .as("variant"), col("np"), col("spend_d"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("np")).as("n_purchases"),
        sum(col("spend_d")).cast(DoubleType).as("spend"))
      .withColumn("purchases_per_user_ppm",
        expr("(n_purchases * 1000000) div n_users"))

  /** Two-proportion z-test on conversion between the A/B variants — the
    * DECISION gate on top of [[abLift]]'s readout (ship/hold needs a
    * significance call, not just per-variant means). Conversion = user had
    * ≥ 1 purchase; variants are the same portable hash split as [[abLift]].
    *
    * Exactness: the pooled z² is the RATIONAL z² = (x₁n₂ − x₂n₁)²·N /
    * (n₁n₂·X(N−X)) with X = x₁+x₂, N = n₁+n₂, evaluated from ONE shared
    * SQL expression ([[abZ2Sql]]) on both engines: every integer
    * subexpression stays within BIGINT (≤ ~10¹⁶ at any realistic readout),
    * and the double multiplies/divide run in the identical order, so the
    * value is bit-identical (the dailyAnomalies z-score discipline — a
    * pure-BIGINT form would overflow on diff²·N past ~10⁵ users).
    * Degenerate splits (X = 0 or X = N: zero pooled variance) report
    * z2 = 0, not significant.
    *
    * Scale shape: one user-grain aggregate, one 2-row variant aggregate,
    * one broadcast cross of two 1-row frames.
    */
  def abSignificance(events: DataFrame): DataFrame = {
    val users = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      .select((graft.functions.Portable.hash60(col("user_id").cast(StringType)) % 2)
        .as("variant"), col("converted"))
    val v = users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
    val a = v.filter(col("variant") === 0)
      .select(col("n").as("n1"), col("x").as("x1"))
    val b = v.filter(col("variant") === 1)
      .select(col("n").as("n2"), col("x").as("x2"))
    a.crossJoin(broadcast(b))
      .select(col("n1"), col("x1"), col("n2"), col("x2"),
        expr(abZ2Sql).as("z2"),
        expr(s"CAST(CASE WHEN ($abZ2Sql) >= $abZ2Crit THEN 1 ELSE 0 END AS INT)")
          .as("significant"))
  }

  /** z² ≥ 1.96² — the two-sided 95% critical value. */
  val abZ2Crit = 3.8415

  /** The pooled two-proportion z² over columns (n1, x1, n2, x2) — ONE
    * expression string shared verbatim by the Spark plan and the DuckDB
    * oracle, so every multiply/divide runs in the identical IEEE order.
    */
  val abZ2Sql: String =
    "CASE WHEN (x1 + x2) = 0 OR (x1 + x2) = (n1 + n2) THEN 0.0 " +
      "ELSE CAST((x1*n2 - x2*n1) AS DOUBLE) * CAST((x1*n2 - x2*n1) AS DOUBLE) " +
      "* CAST((n1 + n2) AS DOUBLE) " +
      "/ (CAST((n1*n2) AS DOUBLE) * CAST((x1 + x2)*(n1 + n2 - x1 - x2) AS DOUBLE)) END"

  /** Robust daily anomaly screen: median/MAD instead of mean/stddev — a
    * single extreme day inflates a z-score's own threshold (masking), but
    * barely moves the median, so MAD flags exactly the outliers the z-test
    * is blind to. Flag: |count − median| > 3·MAD.
    *
    * Exactness: medians are computed as MIDDLE-SUMS on doubled integer
    * grids — `med2` = sum of the two middle daily counts (2× grid; an odd
    * day-count contributes its middle twice), `dev2` = |2·c − med2| (2×),
    * `mad4` = middle-sum of dev2 (4×) — and the flag `2·dev2 > 3·mad4` is
    * the 3-MAD rule cleared of denominators. No doubles anywhere, so the
    * result is bit-stable under any partitioning (engine `median()`
    * builtins differ on interpolation; the middle-sum rank recipe doesn't).
    *
    * Scale shape: the stream collapses to (type, day) grain first; every
    * window partitions by event_type (state bounded by days-per-type — the
    * calendar, not the corpus); the two per-type stat frames broadcast.
    */
  def madAnomalies(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val rk = daily
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("rn", row_number().over(byType.orderBy(col("c"), col("day"))))
    def middleSum(rank: Column, x: Column): Column = sum(
      when(rank === expr("(n + 1) div 2"), x).otherwise(lit(0L)) +
        when(rank === expr("(n + 2) div 2"), x).otherwise(lit(0L)))
    val med = rk.groupBy(col("event_type"))
      .agg(middleSum(col("rn"), col("c")).as("med2"))
    val dev = rk.join(broadcast(med), "event_type")
      .withColumn("dev2", abs(lit(2) * col("c") - col("med2")))
    val drk = dev.withColumn("drn",
      row_number().over(byType.orderBy(col("dev2"), col("day"))))
    val madt = drk.groupBy(col("event_type"))
      .agg(middleSum(col("drn"), col("dev2")).as("mad4"))
    dev.join(broadcast(madt), "event_type")
      .select(col("event_type"), col("day"), col("c").as("n_events"),
        col("med2"), col("mad4"),
        (lit(2) * col("dev2") > lit(3) * col("mad4")).cast(IntegerType)
          .as("is_anomaly"))
  }

  /** Attribution lookback for [[multitouchCredit]]. */
  val touchWindowHours = 24

  /** Touch event types that can receive purchase credit. */
  val touchTypes: Seq[String] = Seq("view", "click")

  /** Linear multi-touch attribution: every purchase distributes one unit of
    * credit (1e6 ppm) equally across the user's view/click touches in the
    * prior 24 h; output is (touch day, touch type) grain with the touch
    * count, the number of purchases reached, and the summed credit. The
    * floor-division per touch keeps credit exact-integer (a purchase with n
    * touches hands out n·(1e6 div n) ≤ 1e6 ppm — the standard budget-safe
    * rounding).
    *
    * Scale shape: purchases join touches on the USER equi-key (the range
    * predicate rides the join as a filter), so the shuffle is user-grain
    * and the per-key fan-out is bounded by one user's 24 h activity — never
    * a time-range cross join. The per-purchase touch count is a window over
    * the purchase id, partitioned (no global sort).
    */
  def multitouchCredit(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
    val t = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("event_id").as("tid"), col("user_id"), col("event_type"), col("ts"))
    val attributed = p.join(t, Seq("user_id"))
      .filter(col("ts") <= col("pts")
        && col("ts") > col("pts") - expr(s"INTERVAL $touchWindowHours HOURS"))
      .select(col("pid"), col("tid"), col("event_type"),
        to_date(col("ts")).as("day"))
    val n = Window.partitionBy(col("pid"))
    attributed
      .withColumn("n", count(lit(1)).over(n))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("touches"),
        countDistinct(col("pid")).as("purchases"),
        sum(expr("1000000 div n")).as("credit_ppm"))
  }

  /** Time-decay attribution: [[multitouchCredit]]'s linear split replaced
    * by recency weighting — each touch in the 24 h window carries weight
    * `2^(3 − Δ/6h)` (8/4/2/1 by 6-hour bucket, most-recent heaviest) and a
    * purchase's unit of credit divides proportionally:
    * `credit = w·1e6 div Σw`. The halving-bucket weights keep everything
    * BIGINT (a float `exp(−λΔt)` would ULP-drift across engines) while
    * preserving exactly the property marketers buy time-decay for: a touch
    * minutes before purchase outweighs one from yesterday 8:1.
    *
    * Plan shape: identical to the linear op — user-equi-join with the
    * range predicate riding it, per-purchase weight-sum window (bounded by
    * touches-per-purchase), one (day, type) rollup. The Δ-seconds term is
    * `unix_timestamp` truncation on both engines (DuckDB's
    * `DATE_DIFF('second', …)` counts the same boundary crossings).
    */
  def decayCredit(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
    val t = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("event_id").as("tid"), col("user_id"), col("event_type"), col("ts"))
    val attributed = p.join(t, Seq("user_id"))
      .filter(col("ts") <= col("pts")
        && col("ts") > col("pts") - expr(s"INTERVAL $touchWindowHours HOURS"))
      .select(col("pid"), col("tid"), col("event_type"),
        to_date(col("ts")).as("day"),
        expr("shiftleft(1L, cast(3 - ((unix_timestamp(pts) - unix_timestamp(ts)) div 21600) as int))")
          .as("w"))
    val ws = Window.partitionBy(col("pid"))
    attributed
      .withColumn("wsum", sum(col("w")).over(ws))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("touches"),
        countDistinct(col("pid")).as("purchases"),
        sum(expr("(w * 1000000) div wsum")).as("credit_ppm"))
  }

  /** [[funnel]] split by the [[abLift]] experiment arm: stage user-counts
    * and stage-over-stage conversion PER VARIANT — the readout that says
    * whether a treatment moved conversion AT a stage rather than just in
    * aggregate (an A/B lift on purchases can hide "more clicks, worse
    * click→purchase"). Arms come from the same sticky hash60-parity
    * assignment, so the two ops always agree on who is in which arm.
    *
    * Plan: the funnel's staged joins unchanged (monotone-shrinking
    * user-grain frames); each stage frame collapses to a 2-row variant
    * count; the conversion ratio is a window over the 6-row result.
    */
  def funnelByVariant(events: DataFrame,
      stages: Seq[String] = funnelStages): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val firstByStage = stages.tail.scanLeft(
      events.filter(col("event_type") === stages.head)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)) {
      case (prev, stage) =>
        events.filter(col("event_type") === stage)
          .join(prev.select(col("user_id"), col("t").as("prev_t")), "user_id")
          .filter(col("ts") > col("prev_t"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
          .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val counts = stages.zip(firstByStage).zipWithIndex.map {
      case ((stage, reached), i) =>
        reached
          .select((graft.functions.Portable.hash60(col("user_id").cast(StringType)) % 2)
            .as("variant"))
          .groupBy(col("variant")).agg(count(lit(1)).as("users"))
          .select(lit(i + 1L).as("stage_idx"), lit(stage).as("stage"),
            col("variant"), col("users"))
    }.reduce(_ unionByName _)
    counts.withColumn("conv_from_prev",
      col("users").cast(DoubleType) /
        lag(col("users"), 1).over(
          Window.partitionBy(col("variant")).orderBy(col("stage_idx"))))
  }

  /** Max seconds between consecutive funnel stages for [[funnelWindowed]]. */
  val funnelWindowSec = 86400L

  /** The funnel with a CONVERSION WINDOW: stage k counts a user only if
    * their first stage-k event lands within [[funnelWindowSec]] of their
    * stage-(k−1) entry time — "clicked within a day of viewing, purchased
    * within a day of that", the form product analytics actually reports
    * (the unwindowed [[funnel]] credits a purchase years later). Same
    * monotone-shrinking staged-join shape; the window predicate rides the
    * existing stage join, so the plan cost is identical.
    */
  def funnelWindowed(events: DataFrame, stages: Seq[String] = funnelStages,
      windowSec: Long = funnelWindowSec): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val inWindow = col("ts") > col("prev_t") &&
      col("ts") <= col("prev_t") + expr(s"INTERVAL $windowSec SECONDS")
    val firstByStage = stages.tail.scanLeft(
      events.filter(col("event_type") === stages.head)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)) {
      case (prev, stage) =>
        events.filter(col("event_type") === stage)
          .join(prev.select(col("user_id"), col("t").as("prev_t")), "user_id")
          .filter(inWindow)
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
          .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val counts = stages.zip(firstByStage).zipWithIndex.map {
      case ((stage, reached), i) =>
        reached.agg(count(lit(1)).as("users"))
          .select(lit((i + 1).toLong).as("stage_idx"), lit(stage).as("stage"), col("users"))
    }.reduce(_.unionAll(_))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("stage_idx"))
    counts.withColumn("conv_from_prev",
      col("users").cast(DoubleType) / lag(col("users"), 1).over(w))
  }

  val anomalyZ = 2.0

  /** Daily volume anomalies: days whose event count sits ≥ [[anomalyZ]]
    * standard deviations from the corpus mean — the monitoring check a
    * pipeline runs on every ingest. Mean and stddev derive from EXACT integer
    * aggregates (Σx, Σx², n — population stddev via
    * `sqrt(n·Σx² − (Σx)²)/n`), so the double expression tree is identical on
    * both engines and the op stays oracle-checkable. Two hash-aggregates and
    * a broadcast of one stats row; the daily grain is tiny at any scale.
    */
  def dailyAnomalies(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val st = daily.agg(count(lit(1)).as("n_days"),
      sum(col("n_events")).as("sx"),
      sum(col("n_events") * col("n_events")).as("sxx"))
    val mean = col("sx").cast(DoubleType) / col("n_days")
    val std = sqrt((col("sxx") * col("n_days") - col("sx") * col("sx"))
      .cast(DoubleType)) / col("n_days")
    daily.crossJoin(broadcast(st))
      .select(col("day"), col("n_events"),
        ((col("n_events").cast(DoubleType) - mean) / std).as("zscore"))
      .filter(abs(col("zscore")) >= anomalyZ)
  }

  /** Interval-OVERLAP join (the Flink interval-join shape, which the as-of
    * family deliberately does not cover: as-of matches each row to ONE
    * nearest partner; this finds ALL (session, incident-window) pairs whose
    * time ranges intersect — "which sessions ran during the incident", the
    * blast-radius query every volume anomaly triggers). Windows are the
    * [[dailyAnomalies]] days ±1 day (half-open [day−1, day+2)).
    *
    * Scale shape: NOT a cross join with a range filter. Both sides explode
    * into the calendar DAYS they touch (bounded: a session spans 1-2 days
    * under the 30-min gap rule, a window exactly 3), meet on a day-bucket
    * EQUI-join, verify the exact overlap predicate, and dedupe pairs that
    * met in several buckets — the standard bucketed interval-join recipe
    * that survives BOTH sides large (at fixture scale AQE broadcasts the
    * tiny window side; the plan needs no rewrite when it grows).
    * `overlap_us` is exact integer microseconds.
    */
  def sessionIncidentOverlap(events: DataFrame): DataFrame = {
    val sess = sessionize(events).select(col("user_id"), col("session_seq"),
      col("session_start"), col("session_end"))
    val win = dailyAnomalies(events).select(col("day").as("anomaly_day"),
      date_add(col("day"), -1).cast(TimestampType).as("window_start"),
      date_add(col("day"), 2).cast(TimestampType).as("window_end"))
    val sb = sess.withColumn("bday",
      explode(sequence(to_date(col("session_start")), to_date(col("session_end")))))
    val wb = win.withColumn("bday",
      explode(sequence(date_add(col("anomaly_day"), -1), date_add(col("anomaly_day"), 1))))
    sb.join(wb, "bday")
      .filter(col("session_start") < col("window_end") &&
        col("session_end") >= col("window_start"))
      .select(col("user_id"), col("session_seq"), col("anomaly_day"),
        col("session_start"), col("session_end"),
        (least(unix_micros(col("session_end")), unix_micros(col("window_end"))) -
          greatest(unix_micros(col("session_start")), unix_micros(col("window_start"))))
          .as("overlap_us"))
      .distinct()
  }

  /** Weekday-adjusted volume anomalies: each day scored against ITS OWN
    * weekday's mean/std — the seasonality correction [[dailyAnomalies]]
    * lacks (a quiet Sunday is normal; the same count on a Tuesday is an
    * incident). Same exact-integer moment recipe (sqrt is IEEE
    * correctly-rounded → bit-identical); weekday baselines are a broadcast
    * 7-row frame. Zero-variance weekdays are excluded on both engines
    * rather than risking engine-specific division-by-zero semantics.
    */
  def weekdayAnomalies(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("dow", dayofweek(col("day")))
    val st = daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n_events")).as("sx"),
        sum(col("n_events") * col("n_events")).as("sxx"))
      .filter(col("sxx") * col("n_days") - col("sx") * col("sx") > 0)
    val mean = col("sx").cast(DoubleType) / col("n_days")
    val std = sqrt((col("sxx") * col("n_days") - col("sx") * col("sx"))
      .cast(DoubleType)) / col("n_days")
    daily.join(broadcast(st), "dow")
      .select(col("day"), col("dow"), col("n_events"),
        ((col("n_events").cast(DoubleType) - mean) / std).as("zscore"))
      .filter(abs(col("zscore")) >= weekdayAnomalyZ)
  }

  /** Lower than [[anomalyZ]]: per-weekday baselines have ~n/7 samples. */
  val weekdayAnomalyZ = 1.5

  /** Time-to-convert: for each user, the first view and the first purchase
    * STRICTLY AFTER it, with the delay in whole seconds — the activation
    * latency metric. One filtered min-aggregate, one equi-join on user_id,
    * one more min — the [[funnel]] stage shape, kept to two event types.
    */
  def timeToConvert(events: DataFrame): DataFrame = {
    val firstViews = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    events.filter(col("event_type") === "purchase")
      .join(firstViews, "user_id")
      .filter(col("ts") > col("first_view"))
      .groupBy(col("user_id"), col("first_view"))
      .agg(min(col("ts")).as("first_purchase"))
      .select(col("user_id"), col("first_view"), col("first_purchase"),
        expr("(unix_micros(first_purchase) - unix_micros(first_view)) div 1000000")
          .as("secs_to_convert"))
  }

  /** Weekly retention cohorts: users grouped by the ISO week of their first
    * event; `n_users` counts how many of each cohort are active `week_offset`
    * weeks later — the activation/retention matrix every growth dashboard
    * draws. Two hash-aggregates plus one equi-join on user_id; the output is
    * O(n_weeks²/2) rows — trivial next to the event stream at any scale.
    * A user contributes at most one row per (cohort, offset) by construction
    * (`active` is distinct per week), so a plain count suffices — no
    * distinct-expand.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firsts = events.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"),
        to_date(date_trunc("week", col("first_ts"))).as("cohort_week"))
    val active = events
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    active.join(firsts, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast(LongType).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Calendar-spine densification + LOCF: daily per-type counts/revenue over
    * the FULL corpus date range — gap days materialize with n_events = 0 and
    * a null day_value, and `locf_value` carries the last observed day's
    * value forward (the time-series-model feed shape: no missing rows, no
    * nulls in the carried metric after first observation).
    *
    * Scale shape: the spine is |types| × |days| (tiny — it broadcasts into
    * the left join against the day-grain aggregate); the corpus is touched
    * only by the first aggregate. The LOCF window partitions by type —
    * bounded by days-per-type, never a global sort. Revenue uses the
    * decimal-sum-then-double rule so gap-free days are bit-identical to the
    * oracle.
    */
  def dailyDenseLocf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("day_value"))
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("day_value"),
        last(col("day_value"), ignoreNulls = true).over(w).as("locf_value"))
  }

  // --------------------------------------------------------------------------
  // Registered ops + DuckDB oracles
  // --------------------------------------------------------------------------

  private val eventsCte =
    "ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  /** The portable "$.k" extraction rule: a double that is integral, else
    * NULL (see the events_props_variant_ksum registration comment).
    */
  private def integralK(d: Column): Column =
    when(d === floor(d), d.cast(LongType))

  /** Shared oracle for both props-ksum ops — the same integral-double rule
    * spelled in DuckDB (TRY_CAST to DOUBLE, then the d = FLOOR(d) guard).
    */
  private lazy val propsKsumOracle: String =
    s"""WITH $eventsCte,
       |x AS (SELECT event_type, TRY_CAST(props->>'$$.k' AS DOUBLE) AS kd FROM ev)
       |SELECT event_type,
       |       CAST(SUM(CASE WHEN kd = FLOOR(kd) THEN CAST(kd AS BIGINT) END) AS BIGINT) AS k_sum,
       |       COUNT(*) AS n_events
       |FROM x GROUP BY event_type""".stripMargin

  def ops: Seq[Op] = mainOps ++ anomalyAndAttributionOps

  private def mainOps: Seq[Op] = Seq(
    // Densified daily series with zero-filled gaps and LOCF carry-forward.
    Op.sql("events_daily_dense_locf",
      s"""WITH $eventsCte,
         |daily AS (
         |  SELECT CAST(ts AS DATE) AS day, event_type,
         |         CAST(COUNT(*) AS BIGINT) AS n_events,
         |         ${dsumSql("value")} AS day_value
         |  FROM ev GROUP BY 1, 2),
         |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
         |spine AS (
         |  SELECT t.event_type,
         |         CAST(unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
         |                                     CAST(s.d1 AS TIMESTAMP),
         |                                     INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM (SELECT DISTINCT event_type FROM daily) t CROSS JOIN span s)
         |SELECT sp.event_type, sp.day,
         |       COALESCE(d.n_events, 0) AS n_events, d.day_value,
         |       last_value(d.day_value IGNORE NULLS)
         |         OVER (PARTITION BY sp.event_type ORDER BY sp.day
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
         |FROM spine sp LEFT JOIN daily d
         |  ON d.event_type = sp.event_type AND d.day = sp.day""".stripMargin) { (s, d) =>
      dailyDenseLocf(Tables.events(s, d))
    },
    Op.sql("events_hourly",
      s"""WITH $eventsCte
         |SELECT date_trunc('hour', ts) AS hour_start, event_type,
         |       COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
         |FROM ev GROUP BY 1, 2""".stripMargin) { (s, d) =>
      hourlyRollup(Tables.events(s, d))
    },

    Op.sql("events_top_users_daily",
      s"""WITH $eventsCte,
         |daily AS (
         |  SELECT CAST(ts AS DATE) AS day, user_id, COUNT(*) AS n_events
         |  FROM ev GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY day
         |    ORDER BY n_events DESC, user_id) AS rank
         |  FROM daily)
         |SELECT day, user_id, n_events, rank FROM ranked WHERE rank <= $topUsersK""".stripMargin) { (s, d) =>
      topUsersDaily(Tables.events(s, d))
    },

    Op.sql("events_latest_per_user",
      s"""WITH $eventsCte,
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rn,
         |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
         |  FROM ev)
         |SELECT user_id, ts AS last_ts, event_id AS last_event_id,
         |       event_type AS last_event_type, value AS last_value, n_events
         |FROM ranked WHERE rn = 1""".stripMargin) { (s, d) =>
      latestPerUser(Tables.events(s, d))
    },

    Op.sql("events_type_transitions",
      s"""WITH $eventsCte,
         |nx AS (
         |  SELECT event_type AS from_type,
         |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         |  FROM ev),
         |t AS (SELECT from_type, to_type, COUNT(*) AS n FROM nx
         |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
         |SELECT from_type, to_type, n,
         |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
         |FROM t""".stripMargin) { (s, d) =>
      typeTransitions(Tables.events(s, d))
    },

    // Stationary distribution of the transition chain (4 unrolled rounds).
    Op.sql("events_markov_stationary", {
      val rounds = (1 to stationaryRounds).map { r =>
        val prev = s"p${r - 1}"
        s"""m$r AS (
           |  SELECT tp.to_type AS s, SUM((p.pi * tp.p) // 1000000) AS m
           |  FROM tp JOIN $prev p ON p.s = tp.from_type GROUP BY 1),
           |p$r AS (
           |  SELECT st.s, COALESCE(m$r.m, 0) AS pi
           |  FROM st LEFT JOIN m$r ON m$r.s = st.s)""".stripMargin
      }.mkString(",\n")
      s"""WITH $eventsCte,
         |nx AS (
         |  SELECT event_type AS from_type,
         |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS to_type
         |  FROM ev),
         |t AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n FROM nx
         |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |tp AS (SELECT from_type, to_type,
         |              (n * 1000000) // SUM(n) OVER (PARTITION BY from_type) AS p
         |       FROM t),
         |st AS (SELECT from_type AS s FROM t UNION SELECT to_type FROM t),
         |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM st),
         |p0 AS (SELECT s, $piGrid // ns.k AS pi FROM st CROSS JOIN ns),
         |$rounds
         |SELECT s AS event_type, CAST(pi AS BIGINT) AS pi_q
         |FROM p$stationaryRounds""".stripMargin
    }) { (s, d) =>
      markovStationary(Tables.events(s, d))
    },

    // First-hit conversion propensity per state (target absorbing at 1e6).
    Op.sql("events_conversion_propensity", {
      val rounds = (1 to propensityRounds).map { r =>
        val prev = s"v${r - 1}"
        s"""u$r AS (
           |  SELECT s AS to_type,
           |         CASE WHEN s = 'purchase' THEN 1000000 ELSE v END AS u
           |  FROM $prev),
           |mm$r AS (
           |  SELECT tp.from_type AS s, SUM((tp.p * u$r.u) // 1000000) AS m
           |  FROM tp JOIN u$r ON u$r.to_type = tp.to_type GROUP BY 1),
           |v$r AS (
           |  SELECT st.s,
           |         CASE WHEN st.s = 'purchase' THEN 1000000
           |              ELSE COALESCE(mm$r.m, 0) END AS v
           |  FROM st LEFT JOIN mm$r ON mm$r.s = st.s)""".stripMargin
      }.mkString(",\n")
      s"""WITH $eventsCte,
         |nx AS (
         |  SELECT event_type AS from_type,
         |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS to_type
         |  FROM ev),
         |t AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n FROM nx
         |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |tp AS (SELECT from_type, to_type,
         |              (n * 1000000) // SUM(n) OVER (PARTITION BY from_type) AS p
         |       FROM t),
         |st AS (SELECT from_type AS s FROM t UNION SELECT to_type FROM t),
         |v0 AS (SELECT s, CASE WHEN s = 'purchase' THEN 1000000 ELSE 0 END AS v
         |       FROM st),
         |$rounds
         |SELECT s AS event_type, CAST(v AS BIGINT) AS v_q
         |FROM v$propensityRounds""".stripMargin
    }) { (s, d) =>
      conversionPropensity(Tables.events(s, d))
    },

    Op.sql("events_dwell_times",
      s"""WITH $eventsCte,
         |nx AS (
         |  SELECT event_type AS from_type,
         |    LEAD(event_type) OVER w AS to_type,
         |    (epoch_us(LEAD(ts) OVER w) - epoch_us(ts)) // 1000000 AS gap_secs
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT from_type, to_type, COUNT(*) AS n,
         |       MIN(gap_secs) AS min_gap_secs, MAX(gap_secs) AS max_gap_secs,
         |       CAST(SUM(gap_secs) AS DOUBLE) / COUNT(*) AS avg_gap_secs
         |FROM nx WHERE to_type IS NOT NULL
         |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      dwellTimes(Tables.events(s, d))
    },

    Op.sql("events_type_runs",
      s"""WITH $eventsCte,
         |flagged AS (
         |  SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN LAG(event_type) OVER w IS NULL
         |           OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |runs AS (
         |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run_seq
         |  FROM flagged)
         |SELECT user_id, CAST(run_seq AS BIGINT) AS run_seq,
         |       MIN(event_type) AS event_type,
         |       MIN(ts) AS run_start, MAX(ts) AS run_end, COUNT(*) AS run_len
         |FROM runs GROUP BY user_id, run_seq""".stripMargin) { (s, d) =>
      typeRuns(Tables.events(s, d))
    },

    // Idle-gap tuning curve: sessions + mean size per candidate threshold.
    Op.sql("events_session_gap_sweep", {
      val list = sessionGapSweepMin.mkString(", ")
      s"""WITH $eventsCte,
         |g AS (
         |  SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id)) AS gap_us
         |  FROM ev),
         |t AS (SELECT unnest([$list]) AS gap_minutes)
         |SELECT CAST(gap_minutes AS BIGINT) AS gap_minutes,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > gap_minutes * CAST(60000000 AS BIGINT)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
         |  CAST((COUNT(*) * 1000) // SUM(CASE WHEN gap_us IS NULL
         |           OR gap_us > gap_minutes * CAST(60000000 AS BIGINT) THEN 1 ELSE 0 END)
         |       AS BIGINT) AS events_per_session_x1000
         |FROM g, t GROUP BY gap_minutes""".stripMargin
    }) { (s, d) =>
      sessionGapSweep(Tables.events(s, d))
    },

    Op.sql("events_sessions",
      s"""WITH $eventsCte,
         |gapped AS (
         |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM ev),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR epoch_us(ts) - epoch_us(prev_ts) > $sessionGapUs
         |                 THEN 1 ELSE 0 END AS new_sess
         |  FROM gapped),
         |numbered AS (
         |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                                ROWS UNBOUNDED PRECEDING) AS session_seq
         |  FROM flagged)
         |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         |       MIN(ts) AS session_start, MAX(ts) AS session_end,
         |       COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
         |FROM numbered GROUP BY user_id, session_seq""".stripMargin) { (s, d) =>
      sessionize(Tables.events(s, d))
    },

    // Sliding windows: the oracle replicates each event to its two covering
    // 30-min-grid window starts (µs arithmetic — exact on both engines).
    Op.sql("events_sliding_rollup",
      s"""WITH $eventsCte,
         |cand AS (
         |  SELECT event_type, value,
         |         unnest([(epoch_us(ts)//1800000000)*1800000000,
         |                 (epoch_us(ts)//1800000000)*1800000000 - 1800000000]) AS sus
         |  FROM ev)
         |SELECT make_timestamp(sus) AS window_start, event_type,
         |       COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
         |FROM cand GROUP BY 1, 2""".stripMargin) { (s, d) =>
      slidingRollup(Tables.events(s, d))
    },

    // Native session_window grouping; oracle = the lag/cumsum formulation
    // with the half-open boundary (>= gap starts a new session).
    Op.sql("events_session_windows",
      s"""WITH $eventsCte,
         |gapped AS (
         |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM ev),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR epoch_us(ts) - epoch_us(prev_ts) >= $sessionGapUs
         |                 THEN 1 ELSE 0 END AS new_sess
         |  FROM gapped),
         |numbered AS (
         |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                                ROWS UNBOUNDED PRECEDING) AS session_seq
         |  FROM flagged)
         |SELECT user_id, MIN(ts) AS session_start,
         |       COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
         |FROM numbered GROUP BY user_id, session_seq""".stripMargin) { (s, d) =>
      sessionWindows(Tables.events(s, d))
    },

    Op.sql("events_session_paths",
      s"""WITH $eventsCte,
         |gapped AS (
         |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM ev),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR epoch_us(ts) - epoch_us(prev_ts) > $sessionGapUs
         |                 THEN 1 ELSE 0 END AS new_sess
         |  FROM gapped),
         |numbered AS (
         |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                                ROWS UNBOUNDED PRECEDING) AS session_seq
         |  FROM flagged)
         |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         |       MIN(ts) AS session_start, COUNT(*) AS n_events,
         |       string_agg(event_type, '>' ORDER BY ts, event_id) AS path
         |FROM numbered GROUP BY user_id, session_seq""".stripMargin) { (s, d) =>
      sessionPaths(Tables.events(s, d))
    },

    Op.sql("events_conversion_paths",
      s"""WITH $eventsCte,
         |gapped AS (
         |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM ev),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR epoch_us(ts) - epoch_us(prev_ts) > $sessionGapUs
         |                 THEN 1 ELSE 0 END AS new_sess
         |  FROM gapped),
         |numbered AS (
         |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                                ROWS UNBOUNDED PRECEDING) AS session_seq
         |  FROM flagged),
         |paths AS (
         |  SELECT user_id, session_seq, COUNT(*) AS n_events,
         |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
         |  FROM numbered GROUP BY user_id, session_seq)
         |SELECT path, COUNT(*) AS n_sessions, CAST(SUM(n_events) AS BIGINT) AS total_events
         |FROM paths WHERE path LIKE '%purchase%'
         |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT $conversionPathsK""".stripMargin) { (s, d) =>
      conversionPaths(Tables.events(s, d))
    },

    // Range uniques from the day-partitioned KMV sketch store. Hash-gated
    // since r10 (previously rows-only over HLL++ binary registers): the
    // k-min synopsis is portable integers, and k-min of the union ≡ k-min
    // of the per-day k-mins, so the oracle derives the SAME estimate from
    // the raw events that the engine reads off merged stored sketches —
    // the store path (partition pruning, merge algebra, incremental
    // rebuild) is what the hash now certifies. Estimator branch exercised
    // at gate scale (fixture range holds > K distinct users).
    Op.sql("events_range_uniques_sketch", {
      import graft.functions.{Kmv, Portable}
      s"""WITH ev AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |         ${Portable.hash60Sql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events
         |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
         |    AND user_id IS NOT NULL),
         |km AS (SELECT h FROM (SELECT DISTINCT h FROM ev) ORDER BY h LIMIT ${Kmv.K}),
         |est AS (SELECT COUNT(*) AS dk, MAX(h) AS vk FROM km)
         |SELECT (SELECT MIN(day) FROM ev) AS day_from,
         |       (SELECT MAX(day) FROM ev) AS day_to,
         |       (SELECT COUNT(DISTINCT day) FROM ev) AS n_days,
         |       ${Kmv.estimateSql("dk", "vk")} AS users_approx,
         |       (SELECT COUNT(*) FROM ev) AS n_events
         |FROM est""".stripMargin
    }) { (s, d) =>
      graft.sources.SketchStore.uniquesBetween(s,
        graft.sources.SketchStore.ensureFixture(s, d), "2024-01-08", "2024-01-21")
    },

    // Range quantiles from the day-partitioned histogram store (the
    // quantile twin of the uniques sketch above). The oracle replays the
    // IEEE-exact power-of-two bucket grid and the ceil-rank pick from the
    // raw events — certifying the store build + merge + pick chain.
    Op.sql("events_range_value_quantiles", {
      import graft.sources.HistStore.{histBuckets, histScale, quantilesPpm}
      s"""WITH ev AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |         CAST(LEAST(GREATEST(CAST(FLOOR(value * $histScale) AS BIGINT), 0),
         |                    ${histBuckets - 1}) AS INTEGER) AS bucket
         |  FROM events
         |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-25'
         |    AND value IS NOT NULL),
         |hist AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM ev GROUP BY 1),
         |cum AS (SELECT bucket, CAST(SUM(cnt) OVER (ORDER BY bucket
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |        FROM hist),
         |meta AS (SELECT MIN(day) AS day_from, MAX(day) AS day_to,
         |                CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
         |                CAST(COUNT(*) AS BIGINT) AS n_values,
         |                CAST(SUM(CASE WHEN bucket = ${histBuckets - 1} THEN 1 ELSE 0 END)
         |                     * 1000000 // COUNT(*) AS BIGINT) AS top_bucket_ppm,
         |                CAST(SUM(CASE WHEN bucket = 0 THEN 1 ELSE 0 END)
         |                     * 1000000 // COUNT(*) AS BIGINT) AS bucket0_ppm
         |         FROM ev),
         |q AS (SELECT CAST(unnest([${quantilesPpm.mkString(", ")}]) AS BIGINT) AS q_ppm),
         |t AS (SELECT meta.*, q.q_ppm,
         |        CAST(q_ppm * (n_values // 1000000)
         |          + (q_ppm * (n_values % 1000000) + 999999) // 1000000 AS BIGINT)
         |          AS target_rank
         |      FROM meta CROSS JOIN q)
         |SELECT day_from, day_to, n_days, n_values, top_bucket_ppm, bucket0_ppm,
         |       q_ppm, target_rank,
         |       (SELECT MIN(bucket) FROM cum WHERE cum.cum >= t.target_rank) AS bucket,
         |       (SELECT MIN(bucket) FROM cum WHERE cum.cum >= t.target_rank) / $histScale
         |         AS value_edge
         |FROM t""".stripMargin
    }) { (s, d) =>
      graft.sources.HistStore.valueQuantilesBetween(s,
        graft.sources.HistStore.ensureFixture(s, d), "2024-01-05", "2024-01-25")
    },

    // Day-grain value-distribution drift off the same stored histograms
    // (TVD ppm vs the all-days blend; raw events never rescanned). The
    // oracle replays grid + blend + TVD from the raw table.
    Op.sql("events_daily_hist_drift", {
      import graft.sources.HistStore.{histBuckets, histScale}
      s"""WITH b AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |         CAST(LEAST(GREATEST(CAST(FLOOR(value * $histScale) AS BIGINT), 0),
         |                    ${histBuckets - 1}) AS INTEGER) AS bucket
         |  FROM events WHERE value IS NOT NULL),
         |sc AS (SELECT day, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         |st AS (SELECT day, CAST(SUM(c) AS BIGINT) AS s_tot FROM sc GROUP BY 1),
         |cc AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cc_c FROM sc GROUP BY 1),
         |ct AS (SELECT CAST(SUM(cc_c) AS BIGINT) AS c_tot FROM cc),
         |grid AS (
         |  SELECT s.day, g.bucket, COALESCE(sc.c, 0) AS sc_c, g.cc_c,
         |         st.s_tot, ct.c_tot
         |  FROM (SELECT DISTINCT day FROM sc) s
         |  CROSS JOIN cc g
         |  LEFT JOIN sc ON sc.day = s.day AND sc.bucket = g.bucket
         |  JOIN st ON st.day = s.day CROSS JOIN ct)
         |SELECT day,
         |       CAST(SUM(ABS(sc_c * 1000000 // s_tot - cc_c * 1000000 // c_tot)) // 2
         |            AS BIGINT) AS tvd_ppm,
         |       CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |       CAST(SUM(CASE WHEN bucket = ${histBuckets - 1} THEN sc_c ELSE 0 END)
         |            * 1000000 // MAX(s_tot) AS BIGINT) AS top_bucket_ppm,
         |       CAST(SUM(CASE WHEN bucket = 0 THEN sc_c ELSE 0 END)
         |            * 1000000 // MAX(s_tot) AS BIGINT) AS bucket0_ppm
         |FROM grid GROUP BY day""".stripMargin
    }) { (s, d) =>
      graft.sources.HistStore.dailyHistDrift(s,
        graft.sources.HistStore.ensureFixture(s, d))
    },

    // Adjacent-day two-sample KS off the same stored grids: integer-ppm
    // max-CDF-gap, exactly replayed by the oracle from the raw events
    // (grid → per-day counts → union-bucket CDFs → max gap).
    Op.sql("events_hist_ks_adjacent", {
      import graft.sources.HistStore.{histBuckets, histScale}
      s"""WITH b AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |         CAST(LEAST(GREATEST(CAST(FLOOR(value * $histScale) AS BIGINT), 0),
         |                    ${histBuckets - 1}) AS INTEGER) AS bucket
         |  FROM events WHERE value IS NOT NULL),
         |sc AS (SELECT day, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         |st AS (SELECT day, CAST(SUM(c) AS BIGINT) AS tot FROM sc GROUP BY 1),
         |pairs0 AS (SELECT day AS day_a, tot AS tot_a,
         |                  LEAD(day) OVER (ORDER BY day) AS day_b,
         |                  LEAD(tot) OVER (ORDER BY day) AS tot_b
         |           FROM st),
         |pairs AS (SELECT * FROM pairs0 WHERE day_b IS NOT NULL),
         |u AS (SELECT p.day_a, p.day_b, p.tot_a, p.tot_b, sc.bucket,
         |             CAST(SUM(CASE WHEN sc.day = p.day_a THEN sc.c ELSE 0 END) AS BIGINT) AS ca,
         |             CAST(SUM(CASE WHEN sc.day = p.day_b THEN sc.c ELSE 0 END) AS BIGINT) AS cb
         |      FROM pairs p JOIN sc ON sc.day IN (p.day_a, p.day_b)
         |      GROUP BY 1, 2, 3, 4, 5),
         |cum AS (SELECT *, CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
         |               CAST(SUM(cb) OVER w AS BIGINT) AS cum_b
         |        FROM u
         |        WINDOW w AS (PARTITION BY day_a ORDER BY bucket
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT day_a, day_b, CAST(MAX(tot_a) AS BIGINT) AS n_a,
         |       CAST(MAX(tot_b) AS BIGINT) AS n_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |       CAST(MAX(ABS(cum_a * 1000000 // tot_a - cum_b * 1000000 // tot_b))
         |            AS BIGINT) AS ks_ppm
         |FROM cum GROUP BY day_a, day_b""".stripMargin
    }) { (s, d) =>
      graft.sources.HistStore.adjacentDayKs(s,
        graft.sources.HistStore.ensureFixture(s, d))
    },

    Op.sql("events_daily_anomalies",
      s"""WITH $eventsCte,
         |daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
         |          FROM ev GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n_days, CAST(SUM(n_events) AS BIGINT) AS sx,
         |              CAST(SUM(n_events * n_events) AS BIGINT) AS sxx
         |       FROM daily)
         |SELECT day, n_events,
         |       (CAST(n_events AS DOUBLE) - CAST(sx AS DOUBLE) / n_days)
         |         / (sqrt(CAST(sxx * n_days - sx * sx AS DOUBLE)) / n_days) AS zscore
         |FROM daily CROSS JOIN st
         |WHERE ABS((CAST(n_events AS DOUBLE) - CAST(sx AS DOUBLE) / n_days)
         |          / (sqrt(CAST(sxx * n_days - sx * sx AS DOUBLE)) / n_days)) >= $anomalyZ""".stripMargin) { (s, d) =>
      dailyAnomalies(Tables.events(s, d))
    },

    Op.sql("events_weekday_anomalies",
      s"""WITH $eventsCte,
         |daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
         |          FROM ev GROUP BY 1),
         |dw AS (SELECT *, CAST(dayofweek(day) + 1 AS INTEGER) AS dow FROM daily),
         |st AS (SELECT dow, COUNT(*) AS n_days, CAST(SUM(n_events) AS BIGINT) AS sx,
         |              CAST(SUM(n_events * n_events) AS BIGINT) AS sxx
         |       FROM dw GROUP BY dow
         |       HAVING SUM(n_events * n_events) * COUNT(*) - SUM(n_events) * SUM(n_events) > 0),
         |z AS (
         |  SELECT dw.day, dw.dow, dw.n_events,
         |         (CAST(dw.n_events AS DOUBLE) - CAST(st.sx AS DOUBLE) / st.n_days)
         |           / (sqrt(CAST(st.sxx * st.n_days - st.sx * st.sx AS DOUBLE)) / st.n_days) AS zscore
         |  FROM dw JOIN st USING (dow))
         |SELECT day, dow, n_events, zscore FROM z
         |WHERE ABS(zscore) >= $weekdayAnomalyZ""".stripMargin) { (s, d) =>
      weekdayAnomalies(Tables.events(s, d))
    },

    Op.sql("events_time_to_convert",
      s"""WITH $eventsCte,
         |fv AS (SELECT user_id, MIN(ts) AS first_view FROM ev
         |       WHERE event_type = 'view' GROUP BY user_id),
         |fp AS (SELECT e.user_id, fv.first_view, MIN(e.ts) AS first_purchase
         |       FROM ev e JOIN fv ON fv.user_id = e.user_id
         |       WHERE e.event_type = 'purchase' AND e.ts > fv.first_view
         |       GROUP BY e.user_id, fv.first_view)
         |SELECT user_id, first_view, first_purchase,
         |       (epoch_us(first_purchase) - epoch_us(first_view)) // 1000000 AS secs_to_convert
         |FROM fp""".stripMargin) { (s, d) =>
      timeToConvert(Tables.events(s, d))
    },

    Op.sql("events_retention_cohorts",
      s"""WITH $eventsCte,
         |f AS (SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
         |      FROM ev GROUP BY user_id),
         |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM ev)
         |SELECT cohort_week, CAST((week - cohort_week) / 7 AS BIGINT) AS week_offset,
         |       COUNT(*) AS n_users
         |FROM a JOIN f USING (user_id)
         |GROUP BY cohort_week, week_offset""".stripMargin) { (s, d) =>
      retentionCohorts(Tables.events(s, d))
    },

    // JSON scalar extraction from the props column (codegen'd
    // get_json_object; no UDF), aggregated per event type.
    // The same extraction through Spark 4's VARIANT type: props parse ONCE
    // into a binary variant and fields extract typed — at many fields per
    // event this beats get_json_object's per-field string re-parse.
    //
    // Extraction CONTRACT (ADVICE r3 — the engines' native casts disagree
    // on edge inputs: DuckDB TRY_CAST('1.5' AS BIGINT) rounds to 2, a Spark
    // string cast yields NULL, a Spark variant long-get truncates to 1, and
    // a plain variant_get would even THROW on {"k":"abc"}): a value
    // contributes iff it reads as a DOUBLE that is integral (d = floor(d));
    // everything else — missing key, malformed JSON, non-numeric, fractional
    // — is NULL. Both ops, both oracles, and the spec pin this one rule.
    Op.sql("events_props_variant_ksum", propsKsumOracle) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(sum(integralK(try_variant_get(try_parse_json(col("props")), "$.k", "double")))
          .as("k_sum"),
          count(lit(1)).as("n_events"))
    },

    Op.sql("events_props_ksum", propsKsumOracle) { (s, d) =>
      // try_cast, not cast: under ANSI (Spark 4 default) a plain cast
      // would THROW on a non-numeric k instead of contributing NULL
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(sum(integralK(get_json_object(col("props"), "$.k").try_cast(DoubleType)))
          .as("k_sum"),
          count(lit(1)).as("n_events"))
    },

    Op.sql("events_funnel",
      s"""WITH $eventsCte,
         |s1 AS (SELECT user_id, MIN(ts) AS t FROM ev
         |       WHERE event_type = 'view' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e JOIN s1 USING (user_id)
         |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e JOIN s2 USING (user_id)
         |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id),
         |counts AS (
         |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage, COUNT(*) AS users FROM s1
         |  UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
         |  UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3)
         |SELECT stage_idx, stage, users,
         |       CAST(users AS DOUBLE) / lag(users) OVER (ORDER BY stage_idx) AS conv_from_prev
         |FROM counts""".stripMargin) { (s, d) =>
      funnel(Tables.events(s, d))
    },

    // Minute-grain burst detection: peak per-minute rate + bot flag.
    Op.sql("events_bot_rate",
      s"""WITH $eventsCte,
         |pm AS (SELECT user_id, date_trunc('minute', ts) AS m, COUNT(*) AS c
         |       FROM ev GROUP BY 1, 2)
         |SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
         |       CAST(COUNT(*) AS BIGINT) AS active_minutes,
         |       CAST(MAX(c) AS BIGINT) AS max_per_minute,
         |       CAST(CASE WHEN MAX(c) >= $botPerMinute THEN 1 ELSE 0 END AS INTEGER) AS bot_flag
         |FROM pm GROUP BY user_id""".stripMargin) { (s, d) =>
      botRate(Tables.events(s, d))
    },

    // The funnel with a per-stage conversion window (next stage within a
    // day of the previous stage's entry).
    Op.sql("events_funnel_windowed",
      s"""WITH $eventsCte,
         |s1 AS (SELECT user_id, MIN(ts) AS t FROM ev
         |       WHERE event_type = 'view' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e JOIN s1 USING (user_id)
         |       WHERE e.event_type = 'click' AND e.ts > s1.t
         |         AND e.ts <= s1.t + INTERVAL $funnelWindowSec SECOND
         |       GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e JOIN s2 USING (user_id)
         |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
         |         AND e.ts <= s2.t + INTERVAL $funnelWindowSec SECOND
         |       GROUP BY e.user_id),
         |counts AS (
         |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage, COUNT(*) AS users FROM s1
         |  UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
         |  UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3)
         |SELECT stage_idx, stage, users,
         |       CAST(users AS DOUBLE) / lag(users) OVER (ORDER BY stage_idx) AS conv_from_prev
         |FROM counts""".stripMargin) { (s, d) =>
      funnelWindowed(Tables.events(s, d))
    },

    Op.sql("events_user_stats",
      s"""WITH $eventsCte
         |SELECT user_id, COUNT(*) AS n_events,
         |       COUNT(DISTINCT event_type) AS n_event_types,
         |       ${dsumSql("value")} AS total_value,
         |       MIN(ts) AS first_seen, MAX(ts) AS last_seen
         |FROM ev GROUP BY user_id""".stripMargin) { (s, d) =>
      userStats(Tables.events(s, d))
    },

    // DAU / rolling-WAU / rolling-MAU engagement stickiness per day.
    Op.sql("events_stickiness", stickinessOracle) { (s, d) =>
      stickiness(Tables.events(s, d))
    },

    // Incremental stickiness: stored (user, day) grid ∪ the arriving batch's
    // — the full-recompute oracle, verbatim (set-union state is exact).
    Op.sql("events_stickiness_incremental", stickinessOracle) { (s, d) =>
      val ev = Tables.events(s, d)
      stickinessIncremental(
        ev.filter(col("event_id") % 10 < 8),
        ev.filter(col("event_id") % 10 >= 8))
    },

    // Hash-split A/B readout: per variant, users / purchases / exact spend.
    // Funnel split by experiment arm: per-variant stage conversion.
    Op.sql("events_funnel_by_variant",
      s"""WITH $eventsCte,
         |s1 AS (SELECT user_id, MIN(ts) AS t FROM ev
         |       WHERE event_type = 'view' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e JOIN s1 USING (user_id)
         |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e JOIN s2 USING (user_id)
         |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id),
         |counts AS (
         |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
         |         CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)
         |           % 2 AS variant,
         |         CAST(COUNT(*) AS BIGINT) AS users
         |  FROM s1 GROUP BY 3
         |  UNION ALL
         |  SELECT 2, 'click',
         |         CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)
         |           % 2,
         |         COUNT(*)
         |  FROM s2 GROUP BY 3
         |  UNION ALL
         |  SELECT 3, 'purchase',
         |         CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)
         |           % 2,
         |         COUNT(*)
         |  FROM s3 GROUP BY 3)
         |SELECT stage_idx, stage, variant, users,
         |       CAST(users AS DOUBLE)
         |         / lag(users) OVER (PARTITION BY variant ORDER BY stage_idx)
         |         AS conv_from_prev
         |FROM counts""".stripMargin) { (s, d) =>
      funnelByVariant(Tables.events(s, d))
    },

    Op.sql("events_ab_lift",
      s"""WITH $eventsCte,
         |u AS (
         |  SELECT user_id,
         |         CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)
         |           % 2 AS variant,
         |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |              AS BIGINT) AS np,
         |         SUM(CASE WHEN event_type = 'purchase'
         |                  THEN CAST(value AS DECIMAL(18,4)) END) AS spend_d
         |  FROM ev GROUP BY user_id)
         |SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
         |       CAST(SUM(np) AS BIGINT) AS n_purchases,
         |       CAST(SUM(spend_d) AS DOUBLE) AS spend,
         |       CAST((SUM(np) * 1000000) // COUNT(*) AS BIGINT)
         |         AS purchases_per_user_ppm
         |FROM u GROUP BY variant""".stripMargin) { (s, d) =>
      abLift(Tables.events(s, d))
    },

    // Two-proportion z-test decision gate on conversion between the hash
    // variants: z² comes from ONE expression string shared verbatim with
    // the Spark plan (identical IEEE op order), so value AND flag are
    // bit-reproducible.
    Op.sql("events_ab_significance",
      s"""WITH $eventsCte,
         |u AS (SELECT user_id,
         |             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |               AS converted
         |      FROM ev GROUP BY user_id),
         |uv AS (SELECT CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)
         |                % 2 AS variant,
         |              converted
         |       FROM u),
         |v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
         |             CAST(SUM(converted) AS BIGINT) AS x
         |      FROM uv GROUP BY variant),
         |ab AS (SELECT a.n AS n1, a.x AS x1, b.n AS n2, b.x AS x2
         |       FROM (SELECT n, x FROM v WHERE variant = 0) a
         |       CROSS JOIN (SELECT n, x FROM v WHERE variant = 1) b)
         |SELECT n1, x1, n2, x2, $abZ2Sql AS z2,
         |       CAST(CASE WHEN ($abZ2Sql) >= $abZ2Crit THEN 1 ELSE 0 END AS INTEGER)
         |         AS significant
         |FROM ab""".stripMargin) { (s, d) =>
      abSignificance(Tables.events(s, d))
    },
  )

  /** Shared by the full and incremental stickiness ops. */
  private lazy val stickinessOracle: String =
      s"""WITH $eventsCte,
         |ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM ev),
         |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
         |spine AS (
         |  SELECT CAST(unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
         |                                     CAST(s.d1 AS TIMESTAMP),
         |                                     INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM span s),
         |dau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
         |        FROM ud GROUP BY 1),
         |wau AS (SELECT s.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
         |        FROM spine s JOIN ud u
         |          ON u.day BETWEEN s.day - ${stickinessWeek - 1} AND s.day
         |        GROUP BY 1),
         |mau AS (SELECT s.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
         |        FROM spine s JOIN ud u
         |          ON u.day BETWEEN s.day - ${stickinessMonth - 1} AND s.day
         |        GROUP BY 1)
         |SELECT s.day, COALESCE(d.dau, 0) AS dau, COALESCE(w.wau, 0) AS wau,
         |       COALESCE(m.mau, 0) AS mau,
         |       CASE WHEN COALESCE(m.mau, 0) = 0 THEN 0
         |            ELSE (COALESCE(d.dau, 0) * 1000000) // m.mau
         |       END AS stickiness_ppm
         |FROM spine s LEFT JOIN dau d USING (day)
         |LEFT JOIN wau w ON w.day = s.day
         |LEFT JOIN mau m ON m.day = s.day""".stripMargin

  private def anomalyAndAttributionOps: Seq[Op] = Seq(
    // Interval-overlap join: every (session, anomaly-window) pair whose time
    // ranges intersect. The oracle joins on the raw range predicate; the
    // Spark plan buckets both sides by calendar day and equi-joins (the
    // large-x-large interval-join recipe) — same pair set, verified exactly.
    Op.sql("events_session_overlap",
      s"""WITH $eventsCte,
         |daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
         |          FROM ev GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n_days, CAST(SUM(n_events) AS BIGINT) AS sx,
         |              CAST(SUM(n_events * n_events) AS BIGINT) AS sxx
         |       FROM daily),
         |win AS (SELECT day AS anomaly_day,
         |               CAST(day - INTERVAL 1 DAY AS TIMESTAMP) AS window_start,
         |               CAST(day + INTERVAL 2 DAY AS TIMESTAMP) AS window_end
         |        FROM daily CROSS JOIN st
         |        WHERE ABS((CAST(n_events AS DOUBLE) - CAST(sx AS DOUBLE) / n_days)
         |                  / (sqrt(CAST(sxx * n_days - sx * sx AS DOUBLE)) / n_days))
         |              >= $anomalyZ),
         |gapped AS (
         |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM ev),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR epoch_us(ts) - epoch_us(prev_ts) > $sessionGapUs
         |                 THEN 1 ELSE 0 END AS new_sess
         |  FROM gapped),
         |numbered AS (
         |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                                ROWS UNBOUNDED PRECEDING) AS session_seq
         |  FROM flagged),
         |sess AS (SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         |                MIN(ts) AS session_start, MAX(ts) AS session_end
         |         FROM numbered GROUP BY user_id, session_seq)
         |SELECT s.user_id, s.session_seq, w.anomaly_day,
         |       s.session_start, s.session_end,
         |       LEAST(epoch_us(s.session_end), epoch_us(w.window_end))
         |         - GREATEST(epoch_us(s.session_start), epoch_us(w.window_start))
         |         AS overlap_us
         |FROM sess s JOIN win w
         |  ON s.session_start < w.window_end AND s.session_end >= w.window_start"""
        .stripMargin) { (s, d) =>
      sessionIncidentOverlap(Tables.events(s, d))
    },

    // Seasonal-naive forecast baseline: |count − count(day−7)| per type.
    Op.sql("events_forecast_naive",
      s"""WITH $eventsCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |                 CAST(COUNT(*) AS BIGINT) AS c
         |          FROM ev GROUP BY 1, 2),
         |sc AS (SELECT d.event_type, ABS(d.c - p.c) AS abs_err
         |       FROM daily d JOIN daily p
         |         ON p.event_type = d.event_type
         |        AND p.day = d.day - $forecastLagDays)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |       CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err,
         |       CAST((SUM(abs_err) * 1000) // COUNT(*) AS BIGINT) AS mae_milli
         |FROM sc GROUP BY event_type""".stripMargin) { (s, d) =>
      forecastNaive(Tables.events(s, d))
    },

    // Truncated EWMA forecast baseline: halving weights over the previous
    // 8 days, one exact integer division per forecast.
    Op.sql("events_forecast_ewma", {
      val w = ewmaWindowDays
      s"""WITH $eventsCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |                 CAST(COUNT(*) AS BIGINT) AS c
         |          FROM ev GROUP BY 1, 2),
         |off AS (SELECT unnest(generate_series(1, $w)) AS i),
         |contrib AS (SELECT d.event_type, d.day + CAST(o.i AS INTEGER) AS day,
         |                   d.c * (1::BIGINT << ($w - o.i)) AS wc
         |            FROM daily d CROSS JOIN off o),
         |fc AS (SELECT event_type, day, SUM(wc) // ${(1L << w) - 1} AS f
         |       FROM contrib GROUP BY 1, 2 HAVING COUNT(*) = $w),
         |sc AS (SELECT d.event_type, ABS(d.c - fc.f) AS abs_err
         |       FROM daily d JOIN fc USING (event_type, day))
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |       CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err,
         |       CAST((SUM(abs_err) * 1000) // COUNT(*) AS BIGINT) AS mae_milli
         |FROM sc GROUP BY event_type""".stripMargin
    }) { (s, d) =>
      forecastEwma(Tables.events(s, d))
    },

    // Robust (median/MAD) daily anomaly screen on exact integer grids.
    Op.sql("events_anomaly_mad",
      s"""WITH $eventsCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |                 CAST(COUNT(*) AS BIGINT) AS c
         |          FROM ev GROUP BY 1, 2),
         |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY 1),
         |rk AS (SELECT d.*, st.n,
         |              ROW_NUMBER() OVER (PARTITION BY d.event_type
         |                                 ORDER BY d.c, d.day) AS rn
         |       FROM daily d JOIN st ON st.event_type = d.event_type),
         |med AS (SELECT event_type,
         |               CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN c ELSE 0 END
         |                       + CASE WHEN rn = (n + 2) // 2 THEN c ELSE 0 END)
         |                    AS BIGINT) AS med2
         |        FROM rk GROUP BY 1),
         |dev AS (SELECT r.event_type, r.day, r.c, r.n,
         |               ABS(2 * r.c - m.med2) AS dev2, m.med2
         |        FROM rk r JOIN med m ON m.event_type = r.event_type),
         |drk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
         |                                     ORDER BY dev2, day) AS drn
         |        FROM dev),
         |madt AS (SELECT event_type,
         |                CAST(SUM(CASE WHEN drn = (n + 1) // 2 THEN dev2 ELSE 0 END
         |                        + CASE WHEN drn = (n + 2) // 2 THEN dev2 ELSE 0 END)
         |                     AS BIGINT) AS mad4
         |         FROM drk GROUP BY 1)
         |SELECT d.event_type, d.day, d.c AS n_events, d.med2, t.mad4,
         |       CAST(CASE WHEN 2 * d.dev2 > 3 * t.mad4 THEN 1 ELSE 0 END
         |            AS INTEGER) AS is_anomaly
         |FROM dev d JOIN madt t ON t.event_type = d.event_type""".stripMargin) {
      (s, d) =>
      madAnomalies(Tables.events(s, d))
    },

    // Linear multi-touch purchase attribution at (touch day, type) grain.
    // Time-decay attribution: halving-bucket recency weights (8/4/2/1).
    Op.sql("events_decay_credit",
      s"""WITH $eventsCte,
         |p AS (SELECT event_id AS pid, user_id, ts AS pts FROM ev
         |      WHERE event_type = 'purchase'),
         |t AS (SELECT event_id AS tid, user_id, event_type, ts FROM ev
         |      WHERE event_type IN (${touchTypes.map("'" + _ + "'").mkString(", ")})),
         |a AS (SELECT p.pid, t.tid, t.event_type, CAST(t.ts AS DATE) AS day,
         |             (1::BIGINT << CAST(3 - (DATE_DIFF('second', t.ts, p.pts) // 21600)
         |                                AS INTEGER)) AS w
         |      FROM p JOIN t ON t.user_id = p.user_id
         |        AND t.ts <= p.pts AND t.ts > p.pts - INTERVAL $touchWindowHours HOUR),
         |n AS (SELECT pid, CAST(SUM(w) AS BIGINT) AS wsum FROM a GROUP BY 1)
         |SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS touches,
         |       CAST(COUNT(DISTINCT a.pid) AS BIGINT) AS purchases,
         |       CAST(SUM((a.w * 1000000) // n.wsum) AS BIGINT) AS credit_ppm
         |FROM a JOIN n ON n.pid = a.pid GROUP BY 1, 2""".stripMargin) { (s, d) =>
      decayCredit(Tables.events(s, d))
    },

    Op.sql("events_multitouch_credit",
      s"""WITH $eventsCte,
         |p AS (SELECT event_id AS pid, user_id, ts AS pts FROM ev
         |      WHERE event_type = 'purchase'),
         |t AS (SELECT event_id AS tid, user_id, event_type, ts FROM ev
         |      WHERE event_type IN (${touchTypes.map("'" + _ + "'").mkString(", ")})),
         |a AS (SELECT p.pid, t.tid, t.event_type, CAST(t.ts AS DATE) AS day
         |      FROM p JOIN t ON t.user_id = p.user_id
         |        AND t.ts <= p.pts AND t.ts > p.pts - INTERVAL $touchWindowHours HOUR),
         |n AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY 1)
         |SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS touches,
         |       CAST(COUNT(DISTINCT a.pid) AS BIGINT) AS purchases,
         |       CAST(SUM(1000000 // n.n) AS BIGINT) AS credit_ppm
         |FROM a JOIN n ON n.pid = a.pid GROUP BY 1, 2""".stripMargin) { (s, d) =>
      multitouchCredit(Tables.events(s, d))
    },
  )
}
