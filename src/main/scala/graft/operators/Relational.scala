package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Op
import graft.functions.Portable._
import graft.sources.Tables

/** The reference's projection / filter / set-op layer as standalone, oracle-checked
  * operators (SURVEY.md §2.1 P1-P8, F1, U1, L1, D2).
  *
  * Each op is a pure Catalyst plan: projections collapse into the parquet scan
  * (`ReadSchema` prunes columns), filters push down (`PushedFilters`), and the
  * union is a zero-shuffle `Union` node — all verified via `.explain` at build
  * time and all shapes that scale linearly at 100 TB.
  */
object Relational {

  /** P1+P2+P4+P5+P7: rename → project → cast → date-derive → conditional flag,
    * the full scalar layer of prepare_data_for_kpis
    * (reference: ecs/transformation/transform_task.py:159-211) on the orders side.
    */
  def orderFlags(orders: DataFrame): DataFrame =
    orders.select(
      col("order_id"),
      col("user_id").cast(LongType).as("user_id"),
      to_date(col("created_at")).as("order_date"),
      when(col("returned_at").isNotNull, 1).otherwise(0).cast(IntegerType)
        .as("returned_order_flag"))

  /** U1: union-all of per-part files of one logical table
    * (reference: validate_task.py:270 `pd.concat`; transform_task.py:131 multi-path
    * read). Spark's `Union` is metadata-only — no shuffle, parts stay partitioned.
    */
  def unionParts(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_ unionByName _)

  /** Skew-mitigating left equi-join: each left row gets one of `buckets`
    * salts, the (small) right side is replicated once per salt, and the join
    * key becomes (key, salt) — a single hot key spreads over `buckets`
    * reducers instead of one straggler. Result is row-identical to the plain
    * join. (AQE's skew-join handles most cases at runtime; this is the
    * explicit tool for the pathological ones AQE can't split, e.g. one key
    * with billions of rows.)
    *
    * Cost model, MEASURED on the zipf skew fixture (PERF.md r12, 12M-row
    * fact with a 28% hot key against a 3M-row dim, AQE off): the salt is
    * free — the dim REPLICATION is the bill. buckets=8 flattened the
    * straggler (x2.1 → x1.5) and beat the plain join (6.2 → 4.0 s), but
    * buckets=32 pushed 96M replicated dim rows through the shuffle and ran
    * 1.8x SLOWER than the skewed join it was "fixing". Use this blanket
    * form only when the right side is reference-data small; for a real dim
    * use [[skewSplitLeftJoin]], which replicates |hot keys| x buckets rows
    * instead of |dim| x buckets.
    */
  def saltedLeftJoin(left: DataFrame, right: DataFrame, key: String,
      buckets: Int): DataFrame = {
    val saltedLeft = left.withColumn("_salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(buckets.toLong)))
    val replicatedRight = right.withColumn("_salt",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    saltedLeft.join(replicatedRight, Seq(key, "_salt"), "left").drop("_salt")
  }

  /** Sampled hot-key estimate for [[skewSplitLeftJoin]]: keys whose share of
    * a `fraction` seeded sample exceeds `minShare` of the sampled rows. The
    * result is a DRIVER-BOUNDED set (at most 1/minShare keys can each hold
    * more than a minShare fraction — 1/0.01 = 100 longs here), collected
    * like the other bounded driver artifacts (codebooks, prefix-sum
    * offsets). One narrow sampled aggregate; the full table is never
    * shuffled. Misclassification is SAFE: the join below is row-identical
    * whichever side of the split a key lands on — a missed hot key only
    * costs the plain-join straggler it would have cost anyway, a false
    * positive only a few replicated dim rows.
    */
  def hotKeys(df: DataFrame, key: String, fraction: Double = 0.01,
      minShare: Double = 0.01): Seq[Long] = {
    // the Seq[Long] contract only holds for integral keys — a string key
    // would silently cast to null and classify nothing as hot (ADVICE r12
    // nit); fail loudly and point at the typed alternative
    val kt = df.schema(key).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(kt),
      s"hotKeys requires an integral key column; '$key' is $kt — " +
        "use hotKeysAny, or hash a non-numeric key to a Long (xxhash64) " +
        "before the skew split")
    hotKeysAny(df, key, fraction, minShare)
      .map { case n: Number => n.longValue() }
  }

  /** [[hotKeys]] for a key of ANY equi-joinable type (string category ids,
    * decimals — the r12 verdict's string-keyed-skew gap): the same sampled
    * estimator, with the hot keys collected as their own driver values
    * instead of through the Long cast. No hashing, so no collision caveat:
    * classification is exact on the values themselves, and the set stays
    * driver-bounded at ≤ 1/minShare entries regardless of key width.
    */
  def hotKeysAny(df: DataFrame, key: String, fraction: Double = 0.01,
      minShare: Double = 0.01): Seq[Any] = {
    // share denominator = the sample's own size, summed from the persisted
    // key-grain aggregate — NOT a df.count(), which would be a second full
    // pass over a 100 TB fact just to learn a number the sample already
    // knows. One corpus scan total; the persisted frame is key-grain.
    val sampled = df.sample(withReplacement = false, fraction, seed = 7L)
      .groupBy(col(key)).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = sampled.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
      sampled.filter(col("c") >= lit(minShare) * math.max(1L, n))
        .select(col(key)).collect().map(_.get(0)).toSeq
    } finally sampled.unpersist()
  }

  /** Targeted skew join — the shape that actually survives 100 TB. The
    * blanket [[saltedLeftJoin]] replicates the ENTIRE right side `buckets`
    * times, which is affordable for a reference-data dim but absurd for a
    * 100 GB one (measured on the zipf fixture: at 32 buckets the dim
    * replication itself became the bottleneck, 2-3x the plain join's
    * wall — PERF.md r12). This variant splits on a broadcast hot-key set:
    * hot left rows salted against ONLY the hot slice of the right side
    * (|hot keys| x buckets replicated rows — bytes, not gigabytes), cold
    * rows take the plain co-partitioned join, and the union is
    * row-identical to the plain join whichever keys were classified hot.
    * This is also what AQE's OptimizeSkewedJoin does at runtime for
    * sort-merge joins past `skewedPartitionThresholdInBytes` (256 MB by
    * default — cluster-sized; a local fixture must scale it down to see
    * the split, PERF.md r12); the explicit operator covers what AQE
    * cannot: joins below its byte threshold but above the straggler
    * budget, non-SMJ plans, and engines running with AQE off.
    */
  def skewSplitLeftJoin(left: DataFrame, right: DataFrame, key: String,
      hot: Seq[Any], buckets: Int): DataFrame = {
    if (hot.isEmpty) return left.join(right, Seq(key), "left")
    val isHot = col(key).isInCollection(hot)
    val cold = left.filter(!isHot).join(right, Seq(key), "left")
    val hotJoined = saltedLeftJoin(
      left.filter(isHot), right.filter(isHot), key, buckets)
    // unionByName: the salted branch drops its salt column but may order
    // columns differently after the join
    cold.unionByName(hotJoined.select(cold.columns.map(col).toIndexedSeq: _*))
  }

  /** Per-source token budget for [[tokenBudgetSample]]. */
  val tokenBudget = 800L

  /** Token-budget mixture: per source, take documents in deterministic
    * hash order until the source's TOKEN budget is filled (kept iff the
    * running token total through the doc stays ≤ budget — no straddling
    * doc, so a doc alone above budget never enters). This is the
    * LLM-mixture primitive "N tokens of web, M tokens of code" that
    * row-count quotas ([[graft.operators.TextOps]] quota sampling) cannot
    * express.
    *
    * The running total is a DISTRIBUTED PREFIX SUM, not a per-source
    * window (|sources| straggler tasks at 100 TB): range-partition by
    * (source, hash, id), cumsum locally inside each (partition, source)
    * run, then add each run's broadcast offset — the per-(partition,
    * source) token totals, prefix-summed on the driver (parts × sources
    * rows, a bounded artifact like the k-means codebooks). Membership is a
    * pure function of content hashes — rerun- and partitioning-invariant.
    */
  def tokenBudgetSample(docs: DataFrame, budget: Long = tokenBudget): DataFrame = {
    val spark = docs.sparkSession
    // size-based range fan-out (capped: the per-(partition, source) offsets
    // fold back as a bounded driver artifact)
    val parts = graft.Scale.partitionsFor(docs, graft.Scale.maxRangePartitions)
    val toks = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
      hexToLong(md5(col("doc_id").cast(StringType)), 1).as("h"))
    val local = toks
      .repartitionByRange(parts, col("source"), col("h"), col("doc_id"))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lcs", sum(col("n_tokens")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("_pid"), col("source")).orderBy(col("h"), col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .localCheckpoint()
    val runTotals = local.groupBy(col("_pid"), col("source"))
      .agg(sum(col("n_tokens")).as("t")).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val offArr = graft.Scale.offsetArrayByKey(runTotals)
    local
      .withColumn("cum_tokens",
        element_at(element_at(offArr, col("source")), col("_pid") + 1) + col("_lcs"))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** Token budget for [[qualityBudgetSample]]. */
  val qualityBudget = 1200L

  /** Quality-ordered token-budget fill — the distillation sampler: take
    * documents in DESCENDING composite-quality order (ties by doc_id)
    * until the global token budget fills; a doc enters only if the
    * running total through it stays within budget. This is "give me the
    * best N tokens", the curation step between scoring and training that
    * the hash-ordered [[tokenBudgetSample]] (fair mixture) deliberately
    * does not express.
    *
    * Scale shape: the same distributed-prefix-sum recipe — range-partition
    * by (quality desc, doc_id) so partition order IS quality order, local
    * cumsum per partition, broadcast per-partition offsets (a parts-sized
    * driver artifact) — no global window, no single-task sort. Membership
    * is a pure function of content, so the sample is rerun- and
    * partitioning-invariant (DeterminismSpec covers it like every op).
    */
  def qualityBudgetSample(docs: DataFrame, budget: Long = qualityBudget): DataFrame = {
    val spark = docs.sparkSession
    val parts = graft.Scale.partitionsFor(docs, graft.Scale.maxRangePartitions)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val toks = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .join(TextOps.qualityScore(docs).select(col("doc_id"), col("quality")), "doc_id")
    val local = toks
      .repartitionByRange(parts, col("quality").desc, col("doc_id"))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lcs", sum(col("n_tokens")).over(w))
      .localCheckpoint()
    val runTotals = local.groupBy(col("_pid")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offArr = graft.Scale.offsetArray(runTotals)
    local
      .withColumn("cum_tokens", element_at(offArr, col("_pid") + 1) + col("_lcs"))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_tokens"))
  }

  /** Feature-hash bucket count for [[dsirSample]] (the paper's hashed
    * n-gram table, sized down to the fixture; a power of two so the
    * modulo is one AND in codegen).
    */
  val dsirBuckets = 1024L

  /** Token budget for the DSIR-selected training subset. */
  val dsirTokenBudget = 1500L

  /** DSIR data selection — "Data Selection for Language Models via
    * Importance Resampling" (Xie et al., NeurIPS 2023, arXiv:2302.03169):
    * represent each document as a bag of HASHED BIGRAMS over
    * [[dsirBuckets]] buckets, estimate a target bucket distribution from
    * the English slice and a raw distribution from the whole corpus,
    * weight each document by how much more target-like than corpus-like
    * its buckets are, and keep the heaviest documents until a token
    * budget fills. Every document keeps its audit row; `selected` marks
    * the budgeted prefix.
    *
    * Two deliberate deviations keep the op bit-portable to the DuckDB
    * oracle (no cross-engine libm anywhere in the result):
    *  - the paper's log-likelihood ratio Σ c_b·(log t_b − log r_b)
    *    becomes the ppm-LINEAR affinity gap Σ c_b·(t_ppm[b] − r_ppm[b]) —
    *    integer arithmetic end-to-end with the same "target-heavy buckets
    *    pull a document up, corpus-common buckets pull it down" signal;
    *  - Gumbel-noise resampling becomes deterministic top-weight
    *    selection (the paper's own noise-free variant), so membership is
    *    a pure function of corpus content — rerun- and
    *    partitioning-invariant like every sampler here.
    *
    * Scale shape: ONE corpus tokenization feeds everything (the persisted
    * bucket-count frame at (doc, bucket) grain — ≤[[dsirBuckets]] rows per
    * document); both distributions fold to [[dsirBuckets]]-row broadcast
    * artifacts, so scoring is a broadcast join + per-doc aggregate (the
    * corpus never shuffles at bucket grain); selection is the
    * [[qualityBudgetSample]] distributed-prefix-sum recipe — no global
    * window, no single-task sort.
    */
  /** The lazy scoring stage of [[dsirSample]] (everything up to the
    * selection prefix-sum): doc_id, n_tokens, n_bigrams, target_ppm_sum,
    * raw_ppm_sum, weight_ppm. Exposed separately so the plan shape (the
    * ppm distribution tables must BROADCAST into the scoring join) is
    * pinnable by PlanSpec — [[dsirSample]] itself executes eagerly for the
    * offset collect, which hides this subtree from explain.
    *
    * `target` is the predicate defining the target corpus slice — DSIR's
    * production point is an ARBITRARY target (a quality tier, a domain, a
    * held-out corpus tag), not just English; the default keeps the
    * registered op and its oracle unchanged. It is evaluated against the
    * feature frame's columns (doc_id, lang), so any docs-level predicate
    * over those survives; a predicate over other columns must be
    * pre-joined into `docs` first.
    */
  private[graft] def dsirScores(docs: DataFrame,
      target: Column = col("lang") === "en"): DataFrame = {
    val ws = split(col("text"), " ")
    // fan the bigram explode out first (r13): the fixture table arrives as
    // one file = one scan task, and the tokenize+md5 projection was the
    // query's serial stage — sized from the corpus, floors at
    // defaultParallelism (the hashedShingles convention)
    val feats = docs.repartition(graft.Scale.partitionsFor(docs))
      .filter(size(ws) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(ws) - 1),
          i => concat_ws(" ", slice(ws, i, lit(2))))).as("bg"))
      .select(col("doc_id"), col("lang"),
        (hash60(col("bg")) % dsirBuckets).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      // eager checkpoint, not persist (r13): five consumers read this frame
      // (both distribution aggregates, their broadcast totals, the scoring
      // join) and a lazily-built cache leaves each of them able to re-run
      // the tokenize+hash subtree when blocks lag or evict — materialized
      // blocks make every re-read a scan
      .localCheckpoint()
    val raw = feats.groupBy(col("b")).agg(sum(col("c")).as("rb"))
    val tgt = feats.filter(target)
      .groupBy(col("b")).agg(sum(col("c")).as("tb"))
    val ppm = raw
      .crossJoin(broadcast(raw.agg(sum(col("rb")).as("nr"))))
      .join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(tgt.agg(sum(col("tb")).as("ntg"))))
      .select(col("b"),
        expr("(rb * 1000000) div nr").as("r_ppm"),
        coalesce(expr("(tb * 1000000) div ntg"), lit(0L)).as("t_ppm"))
      // the 1024-row distribution artifact is MATERIALIZED here (r13):
      // without it every downstream consumer re-ran the raw/tgt aggregates
      // over the (doc, bucket) frame — the ppm subtree appears under the
      // scoring join AND both of its broadcast-total subqueries, and the
      // selection stage executes the whole chain twice more (range-sampling
      // pass + real exchange); measured at sf0.1 those repeats were ~20 of
      // the query's 32 executor-cpu-s. A checkpointed 1024-row frame makes
      // each re-read free while keeping the broadcast hint below intact.
      .localCheckpoint()
    val perDoc = feats.join(broadcast(ppm), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("t_ppm")).as("target_ppm_sum"),
        sum(col("c") * col("r_ppm")).as("raw_ppm_sum"))
    docs
      .select(col("doc_id"), size(ws).cast(LongType).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("target_ppm_sum"), lit(0L)).as("target_ppm_sum"),
        coalesce(col("raw_ppm_sum"), lit(0L)).as("raw_ppm_sum"),
        (coalesce(col("target_ppm_sum"), lit(0L))
          - coalesce(col("raw_ppm_sum"), lit(0L))).as("weight_ppm"))
  }

  def dsirSample(docs: DataFrame, budget: Long = dsirTokenBudget,
      target: Column = col("lang") === "en"): DataFrame = {
    // checkpointed (r13): the range exchange below executes its child TWICE
    // (the range-partitioner's sampling pass, then the real exchange), and
    // `scored` is the whole scoring chain — doc-grain rows, so the
    // materialization is corpus/|docs|-bounded and the second pass reads
    // blocks instead of re-scoring the corpus
    val scored = dsirScores(docs, target).localCheckpoint()
    // fan-out sized from the SCAN-rooted docs frame: `scored` is
    // join-rooted, so its stats degrade to the defaultSizeInBytes sentinel
    // and partitionsFor would never grow with the corpus (ADVICE r12)
    val parts = graft.Scale.partitionsFor(docs, graft.Scale.maxRangePartitions)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(col("weight_ppm").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val local = scored
      .repartitionByRange(parts, col("weight_ppm").desc, col("doc_id"))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lcs", sum(col("n_tokens")).over(w))
      .localCheckpoint()
    val runTotals = local.groupBy(col("_pid")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offArr = graft.Scale.offsetArray(runTotals)
    local
      .withColumn("cum_tokens", element_at(offArr, col("_pid") + 1) + col("_lcs"))
      .select(col("doc_id"), col("n_tokens"), col("n_bigrams"),
        col("target_ppm_sum"), col("raw_ppm_sum"), col("weight_ppm"),
        col("cum_tokens"), (col("cum_tokens") <= budget).as("selected"))
  }

  /** L1 made deterministic: top-N categories by exact decimal revenue.
    * (The reference's `show(5)` is an arbitrary-order sample; a defined ordering
    * is the useful capability.)
    */
  def topCategoriesByRevenue(consolidated: DataFrame, n: Int): DataFrame =
    consolidated.groupBy(col("category"))
      .agg(sum(col("sale_price").cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("category"))
      .limit(n)

  // --------------------------------------------------------------------------
  // Registered ops + DuckDB oracles
  // --------------------------------------------------------------------------

  /** Per-stratum sampling rates in permille (stratum = order status). */
  val samplingRates: Seq[(String, Int)] = Seq("F" -> 50, "O" -> 200, "P" -> 500)

  /** Deterministic stratified sample: each stratum keeps rows whose md5-derived
    * bucket (0-999) falls under its permille rate, plus the Horvitz-Thompson
    * weight (1000/rate) for unbiased downstream estimates.
    *
    * Scale design: a pure narrow filter — no shuffle, no RNG state, and the
    * SAME rows survive on any cluster size or rerun (hash-based sampling is
    * the reproducible alternative to `df.sample`'s seeded-per-partition RNG,
    * which changes membership whenever partitioning changes).
    */
  def stratifiedSample(orders: DataFrame,
      rates: Seq[(String, Int)] = samplingRates): DataFrame = {
    val rate = rates.foldLeft(lit(0)) { case (acc, (k, v)) =>
      when(col("o_orderstatus") === k, lit(v)).otherwise(acc)
    }
    orders.select(
        col("o_orderkey").as("order_id"),
        col("o_orderstatus").as("status"),
        (hexToLong(md5(col("o_orderkey").cast(StringType)), 1) % 1000).as("bucket"),
        rate.as("rate"))
      .filter(col("bucket") < col("rate"))
      .withColumn("weight", lit(1000).cast(DoubleType) / col("rate"))
  }

  /** Sample size for [[bottomKUniform]]. */
  val uniformK = 1000

  /** Deterministic uniform k-sample: the k rows with the smallest seeded
    * content hash — bottom-k sampling, the distributed reservoir. Ranking by
    * a hash of the key is a uniform permutation of the table, so the result
    * is an exact uniform sample without replacement, reproducible on any
    * partitioning and stable under reruns (`df.sample`'s per-partition RNG
    * changes membership whenever partitioning does).
    *
    * Scale shape: `orderBy(...).limit(k)` plans as TakeOrderedAndProject —
    * each task keeps only its own k smallest rows in a bounded heap and the
    * singleton merge sees tasks × k candidates; the table is never globally
    * sorted and never shuffles on a data key (PlanSpec locks the shape).
    * Growing the corpus only swaps members at the hash boundary.
    */
  def bottomKUniform(orders: DataFrame, k: Int = uniformK): DataFrame =
    orders.select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("user_id"),
        hexToLong(md5(concat(col("o_orderkey").cast(StringType), lit("|u1"))), 1).as("skey"))
      .orderBy(col("skey"), col("order_id"))
      .limit(k)

  /** Sample size for [[weightedPrioritySample]]. */
  val priorityK = 500

  /** Deterministic weighted sample without replacement (sequential Poisson /
    * priority sampling, Ohlsson 1998): rank every row by
    * `priority = u / w` where `u` is its seeded content hash (a fixed
    * uniform) and `w` its weight, keep the k smallest — heavy rows get
    * proportionally small priorities, so inclusion probability is
    * approximately proportional to weight, and membership is reproducible
    * on any partitioning. `priority` is one IEEE division of a hash-derived
    * integer by the weight both engines read identically from parquet, so
    * the oracle matches bit-for-bit.
    *
    * Scale shape: same bounded TakeOrdered plan as [[bottomKUniform]] — a
    * per-task k-heap and a singleton merge; no global sort, no RNG state.
    */
  def weightedPrioritySample(orders: DataFrame, k: Int = priorityK): DataFrame =
    orders.select(
        col("o_orderkey").as("order_id"),
        col("o_totalprice").as("weight"),
        (hexToLong(md5(concat(col("o_orderkey").cast(StringType), lit("|w1"))), 1)
          .cast(DoubleType) / col("o_totalprice")).as("priority"))
      .orderBy(col("priority"), col("order_id"))
      .limit(k)

  /** Per-group sample size for [[uniformPerDay]]. */
  val perDayK = 5

  /** Deterministic per-group uniform sample: the k smallest seeded content
    * hashes WITHIN each group (k orders per order date) — the group-local
    * [[bottomKUniform]], and the uniform counterpart of
    * [[TextOps.quotaPerSourceAgg]]'s lowest-id quota. Membership is a pure
    * function of (order_id, day), so a group's sample only changes when
    * that group's rows do.
    *
    * Scale shape: the rank window partitions by day — each sort is local
    * to one day's rows, never global. A pathological single-giant-group
    * corpus takes the bounded TopKAggregator formulation proven in
    * [[TextOps.quotaPerSourceAgg]] with the hash as the score.
    */
  def uniformPerDay(orders: DataFrame, k: Int = perDayK): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day").orderBy("skey", "order_id")
    orders.select(
        to_date(col("o_orderdate")).as("day"),
        col("o_orderkey").as("order_id"),
        hexToLong(md5(concat(col("o_orderkey").cast(StringType), lit("|g1"))), 1).as("skey"))
      .withColumn("day_rank", row_number().over(w).cast(LongType))
      .filter(col("day_rank") <= k)
  }

  /** Target bytes per output file for [[fileSizing]] (power of two; the
    * production knob is ~128 MiB parquet — the fixture constant keeps the
    * report non-degenerate at test scale).
    */
  val targetFileBytes = 4096L

  /** Writer file-sizing plan: per source, the byte estimate (text payload
    * dominates a document table), the output file count at
    * [[targetFileBytes]], and rows per file — the numbers a
    * `repartition(files).write.partitionBy(source)` call is fed to avoid
    * both the small-files problem (metadata pressure, seek-bound scans) and
    * the giant-file problem (no intra-file parallelism). One source-grain
    * aggregate; the plan itself is the artifact, not the write.
    */
  def fileSizing(docs: DataFrame, target: Long = targetFileBytes): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("est_bytes"))
      .select(col("source"), col("n_rows"), col("est_bytes"),
        greatest(lit(1L), expr(s"(est_bytes + ${target - 1}) div $target"))
          .as("n_files"))
      .withColumn("rows_per_file",
        expr("(n_rows + n_files - 1) div n_files"))

  /** Simulated file count for [[pruningStats]]. */
  val pruneFiles = 64

  /** Probe product ids for [[pruningStats]] (fixed, like the query sets). */
  val pruneProbes: Seq[Long] = (1L to 1901L by 100)

  /** Data-skipping effectiveness scorecard: how many of [[pruneFiles]]
    * equal-row files a point query on `product_id` must READ under three
    * write layouts — single-column supplier sort (the "sorted by the
    * wrong column" baseline: every file spans the full product range),
    * the Z-order interleave of (product, supplier), and the Hilbert walk
    * of the same plane. Measured at sf0.01: supplier 63.2, Z-order 2.4,
    * Hilbert 3.15 files/probe — both curves crush the wrong sort, and
    * Z-order edges out Hilbert on SINGLE-AXIS point probes (its tiles
    * are axis-aligned; Hilbert's superior 2-D locality pays off on 2-D
    * RANGE queries instead, which is exactly the trade-off the two
    * clustering ops exist to let a table owner choose). Files are
    * simulated by
    * exact global rank (`file = (rank−1)·F div N`), each file keeps its
    * (min, max) product stats — precisely what parquet row-group pruning
    * consults — and a probe touches a file iff min ≤ probe ≤ max. This
    * turns [[graft.sources.Layout]]'s clustering claim into a measured,
    * oracle-checked number (the Delta OPTIMIZE ZORDER effectiveness
    * readout).
    *
    * Scale shape: ranks come from [[Analytics.withGlobalRowNumber]] (range
    * shuffle + partitioned window + broadcast offsets — no single-task
    * sort); file stats are a 2·F-row aggregate; probes are a broadcast
    * 40-row frame joined to the file-stats frame. The fact table streams
    * twice (once per layout), nothing else is proportional to it.
    */
  def pruningStats(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    graft.functions.GraftExpressions.register(spark)
    // persisted: all three layout rank passes consume the same scan + key
    // derivations; without the cache the parquet scan and both interleave
    // kernels run once per layout
    val base = lineitem.select(col("l_orderkey"), col("l_linenumber"),
      col("l_suppkey"), col("l_partkey").as("product_id"),
      zorderKey(col("l_partkey"), 16, col("l_suppkey"), 16).as("z"),
      graft.functions.GraftExpressions
        .hilbert(col("l_partkey"), col("l_suppkey")).as("hil"))
      .localCheckpoint()
    def fileStats(layout: String, sort: Seq[org.apache.spark.sql.Column]) = {
      val (ranked, n) = Analytics.withGlobalRowNumber(base, "rn", sort)
      ranked.select(lit(layout).as("layout"),
        expr(s"((rn - 1) * $pruneFiles) div ${n}L").as("file_id"),
        col("product_id"))
        .groupBy(col("layout"), col("file_id"))
        .agg(min(col("product_id")).as("lo"), max(col("product_id")).as("hi"))
    }
    // the three layout rank passes are INDEPENDENT eager pipelines (each a
    // range sample + exchange + window + checkpoint + offsets collect), so
    // they run as overlapped concurrent jobs (guide §2.6): the scheduler
    // back-fills each pass's straggler tail with the next pass's tasks, and
    // the op's wall approaches one pass instead of three. `base` is an
    // eager checkpoint, so the threads read materialized blocks instead of
    // racing to build a cache; all jobs complete before the op returns (the
    // inter-query release contract stays single-threaded).
    import scala.concurrent.ExecutionContext.Implicits.global
    val passes = Seq(
      ("supplier", Seq(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))),
      ("zorder", Seq(col("z"), col("l_orderkey"), col("l_linenumber"))),
      ("hilbert", Seq(col("hil"), col("l_orderkey"), col("l_linenumber"))))
      .map { case (l, sort) => scala.concurrent.Future(fileStats(l, sort)) }
    val files = scala.concurrent.Await
      .result(scala.concurrent.Future.sequence(passes),
        scala.concurrent.duration.Duration.Inf)
      .reduce(_.unionByName(_))
    val pl = Seq("supplier", "zorder", "hilbert")
      .flatMap(l => pruneProbes.map(p => (l, p)))
      .toDF("layout", "probe_id")
    broadcast(pl)
      .join(files,
        pl("layout") === files("layout") &&
          col("probe_id") >= col("lo") && col("probe_id") <= col("hi"),
        "left")
      .groupBy(pl("layout").as("layout"), col("probe_id"))
      .agg(count(col("file_id")).as("files_touched"))
  }

  def ops: Seq[Op] = Seq(
    // The domain views themselves are the P1/P2 projection layer.
    Op.sql("proj_products", s"${Tables.domainCtes} SELECT * FROM products")(Tables.products),

    // Token-budget mixture via distributed prefix sum.
    Op.sql("sample_token_budget",
      s"""WITH tk AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         ${graft.functions.Portable.hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1)} AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM tk)
         |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= $tokenBudget""".stripMargin) { (s, d) =>
      tokenBudgetSample(Tables.documents(s, d))
    },

    // Distillation sampler: best-quality docs until the token budget fills.
    Op.sql("sample_quality_budget",
      s"""WITH q AS (${TextOps.qualityCteSql}),
         |tk AS (SELECT doc_id,
         |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |       FROM documents),
         |c AS (
         |  SELECT t.doc_id, q.quality, t.n_tokens,
         |         SUM(t.n_tokens) OVER (ORDER BY q.quality DESC, t.doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM tk t JOIN q USING (doc_id))
         |SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= $qualityBudget""".stripMargin) { (s, d) =>
      qualityBudgetSample(Tables.documents(s, d))
    },

    // DSIR importance selection (see [[dsirSample]]); the oracle replays
    // the hashed-bigram distributions and the integer affinity gap exactly,
    // with a plain global window standing in for the distributed prefix sum.
    Op.sql("sample_importance_dsir",
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
         |bgx AS (SELECT doc_id, lang,
         |          unnest([ws[i] || ' ' || ws[i+1] FOR i IN generate_series(1, len(ws) - 1)]) AS bg
         |        FROM w WHERE len(ws) >= 2),
         |f AS (SELECT doc_id, lang, ${hash60Sql("bg")} % $dsirBuckets AS b,
         |             CAST(COUNT(*) AS BIGINT) AS c
         |      FROM bgx GROUP BY 1, 2, 3),
         |rawd AS (SELECT b, CAST(SUM(c) AS BIGINT) AS rb FROM f GROUP BY 1),
         |tgtd AS (SELECT b, CAST(SUM(c) AS BIGINT) AS tb FROM f WHERE lang = 'en' GROUP BY 1),
         |nr AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM f),
         |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM f WHERE lang = 'en'),
         |ppm AS (SELECT rawd.b, (rawd.rb * 1000000) // nr.n AS r_ppm,
         |               COALESCE((tgtd.tb * 1000000) // nt.n, 0) AS t_ppm
         |        FROM rawd CROSS JOIN nr CROSS JOIN nt
         |        LEFT JOIN tgtd ON tgtd.b = rawd.b),
         |pd AS (SELECT f.doc_id, CAST(SUM(f.c) AS BIGINT) AS n_bigrams,
         |              CAST(SUM(f.c * p.t_ppm) AS BIGINT) AS target_ppm_sum,
         |              CAST(SUM(f.c * p.r_ppm) AS BIGINT) AS raw_ppm_sum
         |       FROM f JOIN ppm p USING (b) GROUP BY 1),
         |sc AS (SELECT d.doc_id,
         |              CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |              COALESCE(p.n_bigrams, 0) AS n_bigrams,
         |              COALESCE(p.target_ppm_sum, 0) AS target_ppm_sum,
         |              COALESCE(p.raw_ppm_sum, 0) AS raw_ppm_sum,
         |              COALESCE(p.target_ppm_sum, 0) - COALESCE(p.raw_ppm_sum, 0) AS weight_ppm
         |       FROM documents d LEFT JOIN pd p USING (doc_id))
         |SELECT doc_id, n_tokens, n_bigrams, target_ppm_sum, raw_ppm_sum,
         |       CAST(weight_ppm AS BIGINT) AS weight_ppm,
         |       CAST(SUM(n_tokens) OVER (ORDER BY weight_ppm DESC, doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
         |       CAST(SUM(n_tokens) OVER (ORDER BY weight_ppm DESC, doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         <= $dsirTokenBudget AS selected
         |FROM sc""".stripMargin) { (s, d) =>
      dsirSample(Tables.documents(s, d))
    },

    // Salted skew join, oracle-checked against the PLAIN join's SQL — the
    // salt must be invisible in the result (row-identical multiset).
    Op.sql("join_salted_order_priority",
      """SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_no,
        |       l.l_quantity AS quantity, o.o_orderpriority AS priority
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin) {
      (s, d) =>
        val li = Tables.lineitem(s, d).select(
          col("l_orderkey").as("order_id"), col("l_linenumber").as("line_no"),
          col("l_quantity").as("quantity"))
        val dim = Tables.orders(s, d).select(
          col("o_orderkey").as("order_id"), col("o_orderpriority").as("priority"))
        saltedLeftJoin(li, dim, "order_id", buckets = 8)
    },

    // Targeted skew-split join, same oracle contract as the blanket salted
    // join: the hot/cold split and the salt must both be invisible in the
    // result. A fixed literal hot set keeps the query deterministic AND
    // exercises both branches (the sf fixtures are uniform, so a sampled
    // estimate would classify nothing hot and skip the salted branch; the
    // sampling estimator is spec-tested on an engineered skew frame).
    Op.sql("join_skew_split_order_priority",
      """SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_no,
        |       l.l_quantity AS quantity, o.o_orderpriority AS priority
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin) {
      (s, d) =>
        val li = Tables.lineitem(s, d).select(
          col("l_orderkey").as("order_id"), col("l_linenumber").as("line_no"),
          col("l_quantity").as("quantity"))
        val dim = Tables.orders(s, d).select(
          col("o_orderkey").as("order_id"), col("o_orderpriority").as("priority"))
        skewSplitLeftJoin(li, dim, "order_id", hot = Seq(1L, 2L, 3L), buckets = 8)
    },

    // String-keyed targeted skew split (VERDICT r12: hotKeys was Long-only).
    // Same row-identity oracle contract as the Long-keyed op — the hot/cold
    // split and the salt must be invisible in the result; a fixed literal hot
    // set keeps the query deterministic and exercises both branches (each
    // event_type holds ~20% of the fixture, so two of five types take the
    // salted path). The sampled any-type estimator is spec-tested on an
    // engineered skew frame (QualitySpec).
    Op.sql("join_skew_split_event_type",
      """WITH tc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
        |            FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, tc.n_type
        |FROM events e LEFT JOIN tc USING (event_type)""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d).select(col("event_id"), col("event_type"))
        val dim = Tables.events(s, d)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
        skewSplitLeftJoin(ev, dim, "event_type",
          hot = Seq("view", "purchase"), buckets = 8)
    },

    Op.sql("proj_order_flags",
      s"""${Tables.domainCtes}
         |SELECT order_id, CAST(user_id AS BIGINT) AS user_id,
         |       CAST(created_at AS DATE) AS order_date,
         |       CAST(CASE WHEN returned_at IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS returned_order_flag
         |FROM orders_v""".stripMargin) { (s, d) =>
      orderFlags(Tables.ordersDomain(s, d))
    },

    // F1: isin date pruning on its own (transform_task.py:220,240).
    Op.sql("filter_dates_isin",
      s"""${Tables.domainCtes}
         |SELECT order_id, user_id, CAST(created_at AS DATE) AS order_date
         |FROM orders_v
         |WHERE CAST(created_at AS DATE) IN ${Kpi.incrementalDatesSqlList}""".stripMargin) { (s, d) =>
      Tables.ordersDomain(s, d)
        .select(col("order_id"), col("user_id"), to_date(col("created_at")).as("order_date"))
        .filter(col("order_date").isin(Kpi.incrementalDates: _*))
    },

    // U1: split lineitem into two disjoint part-files, union back — must equal
    // the whole table (union-all invariance to file partitioning, SURVEY §5.2).
    Op.sql("union_file_parts",
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem") { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      unionParts(Seq(
        li.filter(col("l_linenumber") % 2 === 0),
        li.filter(col("l_linenumber") % 2 === 1)))
    },

    // S1 as an oracle-checked op: the schema-enforced multi-part CSV scan
    // must reproduce the source table exactly after a write/read round trip
    // (types, nulls, timestamps — the reference's whole ingestion surface).
    Op.sql("csv_roundtrip_orders",
      s"""${Tables.domainCtes}
         |SELECT order_id, user_id, created_at, returned_at FROM orders_v""".stripMargin) { (s, d) =>
      // built once per fixture content stamp: a fixture rewritten in place
      // is exported again, and a crashed or partial export is rewritten
      val out = graft.sources.ArtifactStore.ensure(d, "csvexport", "v1") { dir =>
        Tables.ordersDomain(s, d).write.mode("overwrite")
          .option("header", "true")
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
          .csv(s"$dir/orders")
      } + "/orders"
      graft.sources.Csv.read(s, graft.sources.Csv.ordersSchema, Seq(out))
    },

    // S2: deterministic row-limited sample (the reference's SAMPLE_SIZE read;
    // ordered so the sampled SET is well-defined).
    Op.sql("sample_orders_limit",
      s"""${Tables.domainCtes}
         |SELECT order_id, user_id, CAST(created_at AS DATE) AS order_date
         |FROM orders_v ORDER BY order_id LIMIT 100""".stripMargin) { (s, d) =>
      Tables.ordersDomain(s, d)
        .select(col("order_id"), col("user_id"), to_date(col("created_at")).as("order_date"))
        .orderBy(col("order_id")).limit(100)
    },

    Op.sql("sample_stratified_orders", {
      val rateCase = samplingRates
        .map { case (k, v) => s"WHEN '$k' THEN $v" }
        .mkString("CASE o_orderstatus ", " ", " ELSE 0 END")
      s"""SELECT order_id, status, bucket, rate, CAST(1000 AS DOUBLE) / rate AS weight
         |FROM (
         |  SELECT o_orderkey AS order_id, o_orderstatus AS status,
         |         ${hexToLongSql("md5(CAST(o_orderkey AS VARCHAR))", 1)} % 1000 AS bucket,
         |         $rateCase AS rate
         |  FROM orders)
         |WHERE bucket < rate""".stripMargin
    }) { (s, d) => stratifiedSample(Tables.orders(s, d)) },

    // Z-order clustering key (the layout side lives in sources/Layout): the
    // oracle pins the MSB-aligned interleave arithmetic bit-for-bit.
    Op.sql("layout_zorder_key",
      s"""SELECT l_orderkey AS order_id, l_partkey AS product_id,
         |       l_suppkey AS supplier_id,
         |       ${zorderKeySql("l_partkey", 16, "l_suppkey", 16)} AS z
         |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey").as("order_id"),
        col("l_partkey").as("product_id"),
        col("l_suppkey").as("supplier_id"),
        zorderKey(col("l_partkey"), 16, col("l_suppkey"), 16).as("z"))
    },

    // Hilbert clustering key: the locality-superior alternative to Z-order
    // (consecutive keys are ALWAYS grid neighbors — no Z-jump across the
    // plane), via the codegen'd 16-level walk; the oracle spells the same
    // walk as 16 nested subqueries.
    Op.sql("layout_hilbert_key", {
      val inner = graft.functions.Portable
        .hilbertKeySql("l_partkey", "l_suppkey")
        .replace("__SRC__",
          "(SELECT l_orderkey AS order_id, l_partkey, l_suppkey FROM lineitem)")
      s"""SELECT order_id, l_partkey AS product_id, l_suppkey AS supplier_id,
         |       hd AS h
         |FROM ($inner)""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftExpressions.register(s)
      Tables.lineitem(s, d).select(
        col("l_orderkey").as("order_id"),
        col("l_partkey").as("product_id"),
        col("l_suppkey").as("supplier_id"),
        graft.functions.GraftExpressions
          .hilbert(col("l_partkey"), col("l_suppkey")).as("h"))
    },

    // Writer file-sizing plan per source: bytes, file count, rows per file.
    Op.sql("layout_file_sizing",
      s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(n_chars) AS BIGINT) AS est_bytes,
         |  GREATEST(1, (CAST(SUM(n_chars) AS BIGINT) + ${targetFileBytes - 1})
         |              // $targetFileBytes) AS n_files,
         |  (CAST(COUNT(*) AS BIGINT)
         |   + GREATEST(1, (CAST(SUM(n_chars) AS BIGINT) + ${targetFileBytes - 1})
         |              // $targetFileBytes) - 1)
         |  // GREATEST(1, (CAST(SUM(n_chars) AS BIGINT) + ${targetFileBytes - 1})
         |              // $targetFileBytes) AS rows_per_file
         |FROM documents GROUP BY source""".stripMargin) { (s, d) =>
      fileSizing(Tables.documents(s, d))
    },

    // Data-skipping scorecard: files touched per product point query under
    // supplier-sort vs Z-order simulated layouts (min/max stats pruning).
    Op.sql("layout_pruning_stats", {
      val hilbertInner = graft.functions.Portable
        .hilbertKeySql("product_id", "l_suppkey")
        .replace("__SRC__",
          """(SELECT l_orderkey, l_linenumber, l_suppkey,
            |        l_partkey AS product_id FROM lineitem)""".stripMargin)
      s"""WITH base AS (
         |  SELECT l_orderkey, l_linenumber, l_suppkey, product_id,
         |         ${zorderKeySql("product_id", 16, "l_suppkey", 16)} AS z,
         |         hd AS hil
         |  FROM ($hilbertInner)),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
         |r AS (
         |  SELECT product_id, 'supplier' AS layout,
         |         ROW_NUMBER() OVER (ORDER BY l_suppkey, l_orderkey, l_linenumber) AS rn
         |  FROM base
         |  UNION ALL
         |  SELECT product_id, 'zorder' AS layout,
         |         ROW_NUMBER() OVER (ORDER BY z, l_orderkey, l_linenumber) AS rn
         |  FROM base
         |  UNION ALL
         |  SELECT product_id, 'hilbert' AS layout,
         |         ROW_NUMBER() OVER (ORDER BY hil, l_orderkey, l_linenumber) AS rn
         |  FROM base),
         |files AS (
         |  SELECT layout, ((rn - 1) * $pruneFiles) // nn.n AS file_id,
         |         MIN(product_id) AS lo, MAX(product_id) AS hi
         |  FROM r CROSS JOIN nn GROUP BY 1, 2),
         |probes AS (SELECT CAST(unnest(generate_series(1, 1901, 100)) AS BIGINT)
         |             AS probe_id),
         |pl AS (SELECT l.layout, p.probe_id
         |       FROM (SELECT DISTINCT layout FROM files) l CROSS JOIN probes p)
         |SELECT pl.layout, pl.probe_id,
         |       CAST(COUNT(f.file_id) AS BIGINT) AS files_touched
         |FROM pl LEFT JOIN files f
         |  ON f.layout = pl.layout AND pl.probe_id >= f.lo AND pl.probe_id <= f.hi
         |GROUP BY 1, 2""".stripMargin
    }) { (s, d) =>
      pruningStats(Tables.lineitem(s, d))
    },

    Op.sql("sample_weighted_priority",
      s"""SELECT o_orderkey AS order_id, o_totalprice AS weight,
         |  CAST(${hexToLongSql("md5(CAST(o_orderkey AS VARCHAR) || '|w1')", 1)} AS DOUBLE)
         |    / o_totalprice AS priority
         |FROM orders ORDER BY priority, order_id LIMIT $priorityK""".stripMargin) { (s, d) =>
      weightedPrioritySample(Tables.orders(s, d))
    },

    Op.sql("sample_bottomk_uniform",
      s"""SELECT o_orderkey AS order_id, o_custkey AS user_id,
         |       ${hexToLongSql("md5(CAST(o_orderkey AS VARCHAR) || '|u1')", 1)} AS skey
         |FROM orders ORDER BY skey, order_id LIMIT $uniformK""".stripMargin) { (s, d) =>
      bottomKUniform(Tables.orders(s, d))
    },

    Op.sql("sample_uniform_per_day",
      s"""SELECT day, order_id, skey, day_rank FROM (
         |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderkey AS order_id,
         |         ${hexToLongSql("md5(CAST(o_orderkey AS VARCHAR) || '|g1')", 1)} AS skey,
         |         ROW_NUMBER() OVER (PARTITION BY CAST(o_orderdate AS DATE)
         |           ORDER BY ${hexToLongSql("md5(CAST(o_orderkey AS VARCHAR) || '|g1')", 1)},
         |                    o_orderkey) AS day_rank
         |  FROM orders)
         |WHERE day_rank <= $perDayK""".stripMargin) { (s, d) =>
      uniformPerDay(Tables.orders(s, d))
    },

    // Set operations (EXCEPT/INTERSECT): customers active in 1995 but not
    // 1996, and in both — capabilities the reference lacks entirely.
    Op.sql("set_customers_churned",
      s"""${Tables.domainCtes}
         |SELECT DISTINCT user_id FROM orders_v WHERE CAST(created_at AS DATE) < DATE '1996-01-01'
         |EXCEPT
         |SELECT DISTINCT user_id FROM orders_v WHERE CAST(created_at AS DATE) >= DATE '1996-01-01'""".stripMargin) { (s, d) =>
      val o = Tables.ordersDomain(s, d)
        .select(col("user_id"), to_date(col("created_at")).as("d"))
      o.filter(col("d") < "1996-01-01").select("user_id").distinct()
        .except(o.filter(col("d") >= "1996-01-01").select("user_id").distinct())
    },

    Op.sql("set_customers_retained",
      s"""${Tables.domainCtes}
         |SELECT DISTINCT user_id FROM orders_v WHERE CAST(created_at AS DATE) < DATE '1996-01-01'
         |INTERSECT
         |SELECT DISTINCT user_id FROM orders_v WHERE CAST(created_at AS DATE) >= DATE '1996-01-01'""".stripMargin) { (s, d) =>
      val o = Tables.ordersDomain(s, d)
        .select(col("user_id"), to_date(col("created_at")).as("d"))
      o.filter(col("d") < "1996-01-01").select("user_id").distinct()
        .intersect(o.filter(col("d") >= "1996-01-01").select("user_id").distinct())
    },

    Op.sql("topn_categories",
      s"""${Tables.domainCtes},
         |consolidated AS (
         |  SELECT p.category, i.sale_price
         |  FROM order_items i LEFT JOIN products p ON i.product_id = p.id)
         |SELECT category, CAST(SUM(CAST(sale_price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |FROM consolidated GROUP BY category
         |ORDER BY revenue DESC, category LIMIT 5""".stripMargin) { (s, d) =>
      topCategoriesByRevenue(Kpi.consolidatedOf(s, d), 5)
    },
  )
}
