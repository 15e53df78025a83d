package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Op
import graft.functions.{GraftExpressions, Scored, TopKAggregator}
import graft.sources.{ArtifactStore, Tables}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (north-star extension; SURVEY.md §7.3 step 8).
  *
  * Two strategies:
  *  - [[bruteForceTopK]]: exact top-k for a bounded query set — a broadcast of
  *    the (small) query side against the full corpus, cost O(|Q|·N), linear in
  *    the corpus. The correctness baseline.
  *  - [[lshTopK]]: sign-projection LSH bucketing ([[Dedup.lshBucket]]) —
  *    queries only score vectors in their own bucket, cost O(|Q|·N/2^bits).
  *    The 100 TB path; recall < 1 by construction and measured against the
  *    brute-force baseline in tests.
  *
  * Scoring is the quantized cosine ([[graft.functions.QuantizedDot]] — one
  * codegen'd integer dot per scored pair, norms precomputed per vector),
  * which is bit-identical on every engine, so both ops are fully
  * DuckDB-oracle-checked; ties broken by vec_id.
  */
object Similarity {

  val defaultK = 10

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact cosine top-k neighbors for each query vector (queries = rows
    * matching `queryPred`, e.g. `vec_id < 5`). The query side is broadcast —
    * the corpus never shuffles.
    */
  def bruteForceTopK(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val corpus = embs.select(col("vec_id"), col("embedding"),
      GraftExpressions.qdot(col("embedding"), col("embedding")).as("n2"))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosQ(col("q_emb"), col("embedding"), col("q_n2"), col("n2")).as("cos"))
    rankTopK(scored, k)
  }

  /** LSH-bucketed top-k: as [[bruteForceTopK]] but candidates restricted to
    * the query's sign-projection bucket.
    */
  def lshTopK(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame = {
    val bucketed = Dedup.bucketedWithNorm(embs)
    val queries = bucketed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"), col("n2").as("q_n2"))
    val scored = bucketed.join(broadcast(queries),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosQ(col("q_emb"), col("embedding"), col("q_n2"), col("n2")).as("cos"))
    rankTopK(scored, k)
  }

  /** [[bruteForceTopK]] recomputed through the bounded [[TopKAggregator]]:
    * identical results (same score, same tie-break), but candidates reduce to
    * ≤ k per task map-side before any shuffle — the formulation that survives
    * a 100 TB corpus where the window version would shuffle and sort every
    * scored row.
    */
  def bruteForceTopKAgg(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val spark = embs.sparkSession
    import spark.implicits._
    val corpus = embs.select(col("vec_id"), col("embedding"),
      GraftExpressions.qdot(col("embedding"), col("embedding")).as("n2"))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosQ(col("q_emb"), col("embedding"), col("q_n2"), col("n2")).as("cos"))
      .as[(Long, Long, Double)]
    scored
      .groupByKey(_._1)
      .agg(new TopKAggregator[(Long, Long, Double)](k,
        { case (_, id, cos) => Scored(id, cos) }).toColumn)
      .flatMap { case (q, top) =>
        top.iterator.zipWithIndex.map { case (s, i) => (q, s.id, s.score, i + 1) }
      }
      .toDF("query_id", "neighbor_id", "cos", "rank")
  }

  // --------------------------------------------------------------------------
  // Registered ops + DuckDB oracles
  // --------------------------------------------------------------------------

  /** IVF cell count (coarse quantizer size). */
  val ivfCells = 16

  /** One collected coarse-codebook entry: cell id, centroid vector, and the
    * centroid's own quantized norm (computed on the driver with the exact
    * same quantization — [[qdotLocal]]).
    */
  private final case class Cent(cell: Long, emb: Array[Float], cn2: Long)

  /** Collect a (cell, c_emb) centroid frame to the driver — ≤[[ivfCells]]
    * rows, the [[pqCodebook]] driver-artifact size class.
    */
  private def collectedCentroids(centroids: DataFrame): Seq[Cent] = {
    val spark = centroids.sparkSession
    import spark.implicits._
    centroids.select(col("cell"), col("c_emb")).as[(Long, Seq[Float])]
      .collect().toSeq.sortBy(_._1)
      .map { case (c, e) => Cent(c, e.toArray, qdotLocal(e.toArray, e.toArray)) }
  }

  /** The argmax-dot cell choice as ONE narrow projection against the
    * driver-collected codebook (r13, guide §2.4 — remove shuffles
    * outright): per row, `greatest` over ≤[[ivfCells]] candidate structs
    * `(qdot(emb, centroid), -cell, centroid_n2)` picks (dot desc, cell
    * asc) — bit-identical to the broadcast-join + per-vector ROW_NUMBER
    * shape this replaces, with no join (16× row inflation gone) and no
    * vec_id exchange + sort. The struct's (d, nc) prefix is unique per
    * candidate (nc is), so the trailing cn2 payload never participates in
    * the comparison. Fields: `d` = best quantized dot, `nc` = −cell,
    * `cn2` = the chosen centroid's quantized norm (for residuals).
    */
  private def bestCellStruct(emb: Column, cb: Seq[Cent]): Column = {
    val cands = cb.map { c =>
      struct(GraftExpressions.qdot(emb, typedLit(c.emb.toSeq)).as("d"),
        lit(-c.cell).as("nc"), lit(c.cn2).as("cn2"))
    }
    if (cands.size == 1) cands.head else greatest(cands: _*)
  }

  /** IVF-style ANN: a deterministic coarse quantizer (the first `ivfCells`
    * vectors serve as centroids — a k-means iteration would refine them, but
    * the index/probe mechanics are identical) assigns every vector to the
    * cell whose centroid maximizes the quantized dot; queries score only
    * their own cell. The inverted-file analog of [[lshTopK]]: cost
    * O(|Q|·N/cells), recall measured against brute force in tests.
    *
    * Plan (r13): the codebook collects to the driver once (≤[[ivfCells]]
    * rows) and assignment is a pure narrow projection ([[bestCellStruct]])
    * — the old broadcast-join + per-vector ROW_NUMBER paid a full-corpus
    * exchange + sort plus a 16× candidate inflation for the same argmax.
    */
  def ivfAssign(embs: DataFrame): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val cb = collectedCentroids(embs.filter(col("vec_id") < ivfCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb")))
    if (cb.isEmpty)
      // empty centroid set: the old inner join produced zero rows
      return embs.select(col("vec_id"), col("embedding"),
        lit(0L).as("cell"), lit(0L).as("n2")).filter(lit(false))
    embs
      .repartition(graft.Scale.partitionsFor(embs))
      .select(col("vec_id"), col("embedding"),
        (-bestCellStruct(col("embedding"), cb).getField("nc")).as("cell"),
        GraftExpressions.qdot(col("embedding"), col("embedding")).as("n2"))
  }

  /** One Lloyd (k-means) refinement step for the IVF coarse quantizer: the
    * per-cell mean of the assigned vectors, emitted in LONG form
    * (cell, dim, centroid, n_members) — one row per centroid component, so
    * the result is flat-schema and driver-checkable.
    *
    * Scale design: explode-by-dimension then ONE hash-aggregate keyed
    * (cell, dim) — cells × dims is tiny, the explode is a narrow map, and
    * the per-dim sums are exact integers on the [[meanGrid]] power-of-two
    * grid, so the means are exact and order-independent (bit-identical on
    * any partitioning — the property that makes distributed k-means runs
    * reproducible).
    * Iterating to convergence is this step in the [[Dedup.connectedComponents]]
    * loop shape; the assignment mechanics are [[ivfAssign]] unchanged.
    */
  /** 2^30: element values are scaled onto this power-of-two grid before the
    * integer sum. Multiplying a double by a power of two is EXACT (exponent
    * shift), and every float32 payload value is already a multiple of the
    * grid, so the floor is a no-op and the per-cell mean is the exact mean —
    * no decimal quantization whose HALF_UP (Spark) vs half-even (DuckDB)
    * rounding diverges once a cell is large enough to hit a tie (it did at
    * sf0.1, at the 9th decimal).
    */
  private val meanGrid = 1073741824.0

  def ivfTrainStep(embs: DataFrame): DataFrame = {
    // consumed twice (member counts + the per-dim sums): persist so the
    // assignment cross-join + window runs once, not once per consumer
    val assigned = ivfAssign(embs).localCheckpoint()
    val members = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(floor(col("x").cast(org.apache.spark.sql.types.DoubleType) * meanGrid))
        .as("sx"))
      .join(members, "cell")
      .select(col("cell"), col("dim").cast(org.apache.spark.sql.types.LongType).as("dim"),
        (col("sx").cast(org.apache.spark.sql.types.DoubleType) / meanGrid / col("n_members"))
          .as("centroid"),
        col("n_members"))
  }

  /** Probe count for [[ivfMultiprobeTopK]]. */
  val ivfProbes = 2

  /** Multiprobe IVF: each query scores the vectors of its `probes` NEAREST
    * cells instead of only its own — the standard recall lever for inverted
    * files (a query near a cell boundary misses neighbors filed on the other
    * side; probing the runner-up cells recovers them). Cost scales linearly
    * in probes, still O(|Q|·probes·N/cells) — nowhere near brute force.
    * Deterministic (quantized dots, cell/id tie-breaks) → fully
    * oracle-checked; recall ≥ single-probe recall is spec-tested.
    */
  def ivfMultiprobeTopK(embs: DataFrame, queryPred: Column,
      probes: Int = ivfProbes, k: Int = defaultK): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val assigned = ivfAssign(embs)
    val cb = collectedCentroids(embs.filter(col("vec_id") < ivfCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb")))
    // top-`probes` cells per query as a narrow projection (r13): sort the
    // ≤ivfCells (−dot, cell) candidate structs ascending = (dot desc, cell
    // asc), slice the prefix, explode — same order the old per-query
    // ROW_NUMBER produced, without the centroid join + window exchange
    if (cb.isEmpty)
      return assigned.select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(0L).as("cos"), lit(1).as("rank"))
        .filter(lit(false))
    val qCands = array(cb.map { c =>
      struct((-GraftExpressions.qdot(col("embedding"), typedLit(c.emb.toSeq)))
        .as("nd"), lit(c.cell).as("cell"))
    }: _*)
    val qcells = embs.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        GraftExpressions.qdot(col("embedding"), col("embedding")).as("q_n2"),
        explode(slice(array_sort(qCands), 1, probes)).as("_c"))
      .select(col("query_id"), col("q_emb"), col("q_n2"),
        col("_c.cell").as("q_cell"))
    val scored = assigned.join(broadcast(qcells),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosQ(col("q_emb"), col("embedding"), col("q_n2"), col("n2")).as("cos"))
    rankTopK(scored, k)
  }

  /** Lloyd iterations for [[kmeansTrain]]'s coarse-quantizer codebook. */
  val kmeansIters = 3

  /** Assign every vector to the centroid maximizing the quantized dot —
    * [[ivfAssign]]'s mechanics against an ARBITRARY broadcast codebook.
    */
  private def assignTo(embs: DataFrame, centroids: DataFrame): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val cb = collectedCentroids(centroids)
    if (cb.isEmpty)
      return embs.select(col("vec_id"), col("embedding"), lit(0L).as("cell"))
        .filter(lit(false))
    embs
      .repartition(graft.Scale.partitionsFor(embs))
      .select(col("vec_id"), col("embedding"),
        (-bestCellStruct(col("embedding"), cb).getField("nc")).as("cell"))
  }

  /** Exact per-cell means in ARRAY form (same power-of-two grid as
    * [[ivfTrainStep]], so the means are exact and partitioning-independent).
    */
  private def cellMeans(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(floor(col("x").cast("double") * meanGrid)).as("sx"),
        count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("sx"), col("n")))),
          s => s.getField("sx").cast("double") / meanGrid / s.getField("n")).as("c_emb"),
        max(col("n")).as("n_members"))

  /** Full Lloyd training loop for the IVF codebook: [[ivfTrainStep]]
    * iterated to `iters` rounds. Per round: one broadcast-join assignment
    * plus one exact-integer mean aggregate over the corpus — the corpus
    * never shuffles, and the codebook state between rounds lives on the
    * driver (cells × dims doubles — tiny by design, like every k-means
    * implementation's reduce side). Means stay exact doubles end to end;
    * only the qdot input is float-cast, below the quantization grid.
    * A cell that loses every member drops out of the codebook (standard
    * empty-cluster behavior; reseeding is a policy choice left to callers).
    * Deterministic on any partitioning → rows-only check + spec: one
    * iteration reproduces [[ivfTrainStep]] bit-for-bit.
    */
  def kmeansTrain(embs: DataFrame, iters: Int = kmeansIters): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    var codebook: Seq[(Long, Seq[Double], Long)] =
      embs.filter(col("vec_id") < ivfCells)
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .collect().toSeq.map { case (c, e) => (c, e.map(_.toDouble), 0L) }
    for (_ <- 1 to iters) {
      val cents = codebook.map { case (c, e, _) => (c, e.map(_.toFloat)) }
        .toDF("cell", "c_emb")
      // exchange on (cell, vec_id) before the per-dim explode (r13):
      // `cell` is now an argmax EXPRESSION ([[bestCellStruct]]), and a
      // generator's codegen re-evaluates required child expressions per
      // GENERATED row — the 64-dim posexplode amplified the 16-candidate
      // argmax 64× (measured: cellMeans 10-12 → ~2.3 executor-cpu-s per
      // round once a boundary materializes `cell` as a concrete column).
      // A narrow exchange is that boundary at vector-grain cost and keeps
      // the round a single action; vec_id rides in the key so ≤16 cells
      // never fold the corpus onto ≤16 partitions — the (cell, dim)
      // aggregate re-exchanges only its cells×dims partial rows.
      val assigned = assignTo(embs, cents)
        .repartition(graft.Scale.partitionsFor(embs), col("cell"), col("vec_id"))
      codebook = cellMeans(assigned)
        .as[(Long, Seq[Double], Long)].collect().toSeq.sortBy(_._1)
    }
    // long form (cell, dim, centroid, n_members) — flat and driver-checkable
    codebook.flatMap { case (c, e, n) =>
      e.iterator.zipWithIndex.map { case (x, d) => (c, d.toLong, x, n) }
    }.toDF("cell", "dim", "centroid", "n_members")
  }

  // --------------------------------------------------------------------------
  // Product quantization (PQ) + asymmetric-distance (ADC) search
  // --------------------------------------------------------------------------

  /** PQ geometry: 64-dim vectors split into [[pqM]] subspaces of
    * [[pqSubDim]] dims, each quantized to one of [[pqK]] codewords — a
    * vector compresses from 256 bytes of float32 to [[pqM]] small codes.
    * That compression is the 100 TB lever: an ADC scan reads the CODES
    * table (a few bytes per vector) plus one m×k lookup table per query,
    * never the raw embeddings.
    */
  val pqM = 4
  val pqSubDim = 16
  val pqK = 16

  /** Driver-resident PQ codebook (like [[kmeansTrain]]'s): codeword j of
    * subspace s is the s-th slice of vector j — the same deterministic
    * seeding as [[ivfAssign]]'s coarse quantizer (a per-subspace Lloyd loop
    * would refine it; the encode/search mechanics are identical). Requires
    * vec_ids 0..pqK-1 present (the canonical layout of the embeddings
    * table), so codes index the codebook directly on both engines.
    */
  private def pqCodebook(embs: DataFrame): Array[Array[Array[Float]]] = {
    val spark = embs.sparkSession
    import spark.implicits._
    val base = embs.filter(col("vec_id") < pqK)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().sortBy(_._1)
    require(base.map(_._1).toSeq == (0L until pqK),
      s"PQ codebook seeding expects contiguous vec_ids 0..${pqK - 1}")
    Array.tabulate(pqM)(s => base.map(_._2.slice(s * pqSubDim, (s + 1) * pqSubDim).toArray))
  }

  /** Scala twin of [[GraftExpressions.qdot]] for driver-side codeword norms. */
  private def qdotLocal(a: Array[Float], b: Array[Float]): Long =
    a.iterator.zip(b.iterator).map { case (x, y) =>
      math.floor(x.toDouble * GraftExpressions.Quant).toLong *
        math.floor(y.toDouble * GraftExpressions.Quant).toLong
    }.sum

  /** Argmin codeword for subspace `s` — quantized L2²
    * (x·x − 2x·c + c·c, exact integers) against each codeword; first hit
    * wins, so ties break to the lowest code on both engines. One
    * [[GraftExpressions.PqArgminCode]] loop per subspace: the previous
    * unrolled `array_position(array(d_0…d_15), array_min(…))` tree put
    * 64 distance subtrees in one Generate consume method, crossed janino's
    * 64 KB limit, and silently dropped the whole encode out of whole-stage
    * codegen at every SF (r8 find — `Code grows beyond 64 KB`).
    */
  private def pqCodeExpr(emb: Column, cbS: Array[Array[Float]], s: Int): Column =
    GraftExpressions.pqArgmin(slice(emb, s * pqSubDim + 1, pqSubDim), cbS)

  /** One row per vector with its PQ code array — the compressed corpus
    * representation [[pqAdcTopK]] scans. Zero shuffle: the whole encode is
    * a narrow codegen projection against the broadcast-free driver-resident
    * codebook literals.
    */
  def pqCodesWide(embs: DataFrame): DataFrame =
    pqCodesWide(embs, pqCodebook(embs))

  /** [[pqCodesWide]] against an explicit codebook (seeded or refined). */
  def pqCodesWide(embs: DataFrame, cb: Array[Array[Array[Float]]]): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    embs.select(col("vec_id"),
      array((0 until pqM).map(s => pqCodeExpr(col("embedding"), cb(s), s)): _*).as("codes"))
  }

  /** One per-subspace Lloyd refinement step for the PQ codebook: every
    * vector's subspace slice is assigned to its nearest seed codeword (the
    * [[pqCodesWide]] argmin — exact quantized-integer L2²), then each
    * (subspace, code) cell re-centers on the EXACT mean of its member
    * slices — [[ivfTrainStep]]'s recipe run per subspace. Long form
    * (subspace, code, dim, centroid, n_members).
    *
    * Scale shape: ONE narrow scan (the code and its slice travel together
    * through an `inline` — no join back to the embeddings), then one hash
    * aggregate at (subspace, code, dim) grain — m·k·subDim = 1024 groups,
    * map-side partials absorb the corpus. Integer sums on the power-of-two
    * [[meanGrid]] make the refined centroids exact and partitioning-
    * independent, so training is reproducible on any cluster layout.
    */
  def pqTrainStep(embs: DataFrame): DataFrame =
    pqTrainStepFrom(embs, pqCodebook(embs))

  /** [[pqTrainStep]] against an ARBITRARY driver-resident codebook — the
    * per-round body of the full [[pqTrain]] loop.
    */
  def pqTrainStepFrom(embs: DataFrame, cb: Array[Array[Array[Float]]]): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val coded = array((0 until pqM).map { s =>
      struct(lit(s).as("subspace"),
        pqCodeExpr(col("embedding"), cb(s), s).as("code"),
        slice(col("embedding"), s * pqSubDim + 1, pqSubDim).as("sub"))
    }: _*)
    embs.select(inline(coded))
      .select(col("subspace"), col("code"), posexplode(col("sub")).as(Seq("dim", "x")))
      .groupBy(col("subspace"), col("code"), col("dim"))
      .agg(sum(floor(col("x").cast("double") * meanGrid)).as("sx"),
        count(lit(1)).as("n_members"))
      .select(col("subspace"), col("code"), col("dim"),
        (col("sx").cast("double") / meanGrid / col("n_members")).as("centroid"),
        col("n_members"))
  }

  /** Driver-resident REFINED codebook: the seed codewords re-centered by
    * one [[pqTrainStep]] (float-cast, like [[kmeansTrain]]'s round
    * codebooks); a codeword that attracted no members keeps its seed —
    * the standard empty-cell policy. The collect is m·k·subDim = 1024
    * rows, the same bounded-driver-artifact category as the k-means
    * codebook itself.
    */
  def pqCodebookRefined(embs: DataFrame): Array[Array[Array[Float]]] =
    pqCodebookTrained(embs, 1)

  /** Lloyd rounds for the full [[pqTrain]] loop (mirrors [[kmeansIters]]). */
  val pqIters = 3

  /** Codebook after `iters` FULL per-subspace Lloyd rounds — [[kmeansTrain]]'s
    * recipe applied to PQ: re-encode against the current codebook, re-center
    * every (subspace, code) cell on the exact integer-grid mean, float-cast
    * the round's codebook (the driver artifact is m·k·subDim = 1024 floats),
    * repeat. A cell that attracts no members keeps its previous codeword
    * (the standard empty-cell policy, shared with [[pqCodebookRefined]]).
    */
  def pqCodebookTrained(embs: DataFrame, iters: Int): Array[Array[Array[Float]]] = {
    // every round re-scans the corpus for its encode+sum pass; cache it so
    // rounds 2+ read executor-local blocks instead of re-reading parquet
    val cached = embs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // profiling only: round 0 = cache materialization + seed collect, so the
    // per-round records isolate the Lloyd body (encode + 1024-group agg)
    if (graft.LoopProf.enabled) graft.LoopProf.timed("pq_train", 0)(cached.count())
    var cb = pqCodebook(cached)
    for (i <- 1 to iters) {
      graft.LoopProf.timed("pq_train", i) {
        val next = cb.map(_.map(_.clone()))
        pqTrainStepFrom(cached, cb).collect().foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
        }
        cb = next
      }
    }
    cb
  }

  /** The full PQ training loop as a registered query: `iters` Lloyd rounds,
    * emitting the LAST round's exact-double means in the [[pqTrainStep]]
    * long form — `pqTrain(embs, 1)` is [[pqTrainStep]] bit-for-bit
    * (spec-pinned). Per round the corpus is scanned once (narrow re-encode +
    * one 1024-group hash aggregate); the codebook state between rounds is a
    * driver-resident 1024-float artifact, exactly the k-means shape.
    */
  def pqTrain(embs: DataFrame, iters: Int = pqIters): DataFrame =
    pqTrainStepFrom(embs, pqCodebookTrained(embs, iters - 1))

  /** [[pqCodesWide]] in flat (vec_id, subspace, code) form for the oracle. */
  def pqCodes(embs: DataFrame): DataFrame =
    pqCodesWide(embs)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("subspace", "code")))

  /** PQ/ADC top-k: queries keep their EXACT vector; corpus vectors are
    * replaced by their PQ codes. Each broadcast query row carries its
    * m×k lookup table (qdot of the query slice against every codeword —
    * computed once per query), so scoring a pair is [[pqM]] integer array
    * lookups, not a dot product, over a corpus representation 16× smaller
    * than the raw floats — the classic Jégou-style ADC scan, exact
    * integers end to end, hence fully oracle-checked. Approximation error
    * vs [[bruteForceTopK]] comes only from quantizing the corpus side.
    */
  private def pqAdcScored(embs: DataFrame, queryPred: Column): DataFrame =
    pqAdcScored(embs, queryPred, pqCodebook(embs))

  /** Test hook: the flat ADC-scored pair frame, for subset checks. */
  private[graft] def pqAdcScoredForTest(embs: DataFrame, queryPred: Column): DataFrame =
    pqAdcScored(embs, queryPred)

  private def pqAdcScored(embs: DataFrame, queryPred: Column,
      cb: Array[Array[Array[Float]]]): DataFrame =
    pqAdcScored(embs, queryPred, cb, pqCodesWide(embs, cb))

  /** The ADC pair scan over an EXPLICIT corpus codes frame (vec_id, codes)
    * — fresh-encoded by the overloads above, or read from the build-once
    * [[storedIndex]] artifact by the registered read ops (the two are
    * bit-identical; spec-pinned).
    */
  private def pqAdcScored(embs: DataFrame, queryPred: Column,
      cb: Array[Array[Array[Float]]], corpusCodes: DataFrame): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val lut = array((0 until pqM).map { s =>
      val qSub = slice(col("q_emb"), s * pqSubDim + 1, pqSubDim)
      array(cb(s).map(c => GraftExpressions.qdot(qSub, typedLit(c.toSeq))): _*)
    }: _*)
    val queries = embs.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("lut", lut)
      .select(col("query_id"), col("lut"))
    val adc = (0 until pqM).map { s =>
      element_at(element_at(col("lut"), s + 1), element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    corpusCodes.select(col("vec_id"), col("codes"))
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adc.as("adc"))
  }

  def pqAdcTopK(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id"))
    pqAdcScored(embs, queryPred)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[pqAdcTopK]] over a pre-encoded corpus codes frame (vec_id, codes) —
    * the stored-index read path: the scan never touches the float
    * embeddings except for the |Q| query rows' LUTs.
    */
  def pqAdcTopKFrom(codes: DataFrame, embs: DataFrame, queryPred: Column,
      k: Int = defaultK): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id"))
    pqAdcScored(embs, queryPred, pqCodebook(embs), codes)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[pqAdcTopK]] against the [[pqCodebookRefined]] one-Lloyd-step
    * codebook — identical scan mechanics (codes-only corpus + per-query
    * LUT); the re-centering reduces total quantization distortion (the
    * Lloyd guarantee, spec-asserted; per-query top-k recall is not
    * monotone in it and may move either way on a given corpus).
    */
  def pqAdcTopKRefined(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id"))
    pqAdcScored(embs, queryPred, pqCodebookRefined(embs))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[pqAdcTopK]] through the bounded [[TopKAggregator]] — identical rows
    * (ADC values are ≤ 2^46 integers, exact in the aggregator's double
    * score), but candidates reduce to ≤ k per task MAP-SIDE before any
    * shuffle: the window version shuffles |Q|·N scored rows; this one
    * shuffles |Q|·k·tasks. Combined with the codes-only scan, this is the
    * full 100 TB ANN read path: compressed corpus in, bounded heaps out.
    */
  def pqAdcTopKAgg(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame =
    pqAdcAggRank(pqAdcScored(embs, queryPred), k)

  /** [[pqAdcTopKAgg]] over a pre-encoded corpus codes frame — the bounded-
    * heap formulation of the stored-index read path.
    */
  def pqAdcTopKAggFrom(codes: DataFrame, embs: DataFrame, queryPred: Column,
      k: Int = defaultK): DataFrame =
    pqAdcAggRank(pqAdcScored(embs, queryPred, pqCodebook(embs), codes), k)

  private def pqAdcAggRank(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .agg(new TopKAggregator[(Long, Long, Long)](k,
        { case (_, id, adc) => Scored(id, adc.toDouble) }).toColumn)
      .flatMap { case (q, top) =>
        top.iterator.zipWithIndex.map { case (s, i) =>
          (q, s.id, s.score.toLong, i + 1)
        }
      }
      .toDF("query_id", "neighbor_id", "adc", "rank")
  }

  /** IVF-PQ / ADC top-k — the composed production ANN shape (the inverted-
    * file + product-quantization pairing of Jégou et al.'s ADC paper):
    * the coarse quantizer restricts each query to its `probes` nearest
    * cells' posting lists, and those candidates score by ADC over their
    * PQ codes instead of raw floats. [[ivfMultiprobeTopK]] bounds the
    * CANDIDATE COUNT (N·probes/cells per query); [[pqAdcTopK]] bounds the
    * BYTES PER CANDIDATE (pqM small codes); this op composes both bounds
    * into the read path that serves 100 TB: the scan side is the
    * cell-keyed codes table (a few bytes per vector — never the embedding
    * column past the one-time encode), each broadcast query row carries
    * its m×k LUT, and scoring a candidate is [[pqM]] integer array
    * lookups. Exact quantized integers + cell/code/id tie-breaks end to
    * end → fully oracle-checked; with `probes = ivfCells` the cell
    * restriction vanishes and the op equals [[pqAdcTopK]] row-for-row
    * (the composition identity the spec pins).
    */
  def ivfpqTopK(embs: DataFrame, queryPred: Column,
      probes: Int = ivfProbes, k: Int = defaultK): DataFrame = {
    val cb = pqCodebook(embs)
    // corpus side: cell + codes travel together; one narrow encode pass
    val codedCells = ivfAssign(embs).select(col("vec_id"), col("cell"),
      array((0 until pqM).map(s => pqCodeExpr(col("embedding"), cb(s), s)): _*).as("codes"))
    ivfpqTopKImpl(codedCells, embs, queryPred, cb, probes, k)
  }

  /** [[ivfpqTopK]] over a pre-encoded (vec_id, cell, codes) frame — the
    * stored-index read path: cells bound the candidates, stored codes bound
    * the bytes, and the one-time encode cost lives at index-build time
    * where it belongs ([[ensureCodes]]).
    */
  def ivfpqTopKFrom(codedCells: DataFrame, embs: DataFrame, queryPred: Column,
      probes: Int = ivfProbes, k: Int = defaultK): DataFrame =
    ivfpqTopKImpl(codedCells.select(col("vec_id"), col("cell"), col("codes")),
      embs, queryPred, pqCodebook(embs), probes, k)

  private def ivfpqTopKImpl(codedCells: DataFrame, embs: DataFrame,
      queryPred: Column, cb: Array[Array[Array[Float]]],
      probes: Int, k: Int): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val centroids = embs.filter(col("vec_id") < ivfCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"))
    val w = Window.partitionBy("vec_id").orderBy(
      GraftExpressions.qdot(col("embedding"), col("c_emb")).desc, col("cell"))
    val lut = array((0 until pqM).map { s =>
      val qSub = slice(col("q_emb"), s * pqSubDim + 1, pqSubDim)
      array(cb(s).map(c => GraftExpressions.qdot(qSub, typedLit(c.toSeq))): _*)
    }: _*)
    val qcells = embs.filter(queryPred)
      .join(broadcast(centroids))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= probes)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell").as("q_cell"))
      .withColumn("lut", lut)
      .select(col("query_id"), col("q_cell"), col("lut"))
    val adc = (0 until pqM).map { s =>
      element_at(element_at(col("lut"), s + 1), element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    // a corpus vector lives in exactly ONE cell, so it meets at most one of
    // a query's (distinct) probe rows — no dedup needed before ranking
    val scored = codedCells.join(broadcast(qcells),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adc.as("adc"))
    val wr = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(wr)).filter(col("rank") <= k)
  }

  /** Semantic near-dup pairs within IVF cells (the SemDeDup shape): candidate
    * pairs share a coarse-quantizer cell, verified by exact quantized cosine
    * ≥ τ. Complements [[Dedup.embeddingNearDups]]: hyperplane LSH buckets are
    * data-INdependent (fixed planes), while quantizer cells adapt to the
    * corpus distribution — dense regions get their own cells, so candidate
    * blocks track real semantic clusters. Same 100 TB shape as every dedup
    * op: one equi-join on a small blocking key (cell), pair work bounded by
    * cell sizes, norms computed once per vector, no all-pairs anywhere.
    */
  def semanticCellPairs(embs: DataFrame): DataFrame = {
    // consumed twice by the self-join; assignment (broadcast 16-centroid
    // cross + per-vector argmax window) should run once
    // eager checkpoint: the self-join sides race a lazy cache and each
    // re-run the assignment (r13 — the dsir/minhash finding)
    val assigned = ivfAssign(embs).localCheckpoint()
    assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Dedup.cosQ(col("a.embedding"), col("b.embedding"), col("a.n2"), col("b.n2"))
          .as("cos"))
      .filter(col("cos") >= Dedup.cosineTau)
  }

  /** Per-cell cap for [[cellQuota]]. */
  val cellQuotaN = 100

  /** Topic-balanced subsampling: cap every IVF cell (= embedding-space
    * topic bucket) at [[cellQuotaN]] vectors — the semantic analog of
    * [[graft.operators.TextOps.quotaPerSource]], used to stop one dense
    * topic from dominating a training mix the way one loud source would.
    * Each vector reports its cell, its deterministic rank within the cell
    * (vec_id order), the cell's size, and the keep decision; overflow is
    * visible as `cell_size - quota`, never silently dropped.
    *
    * Plan: the broadcast coarse-quantizer assignment ([[ivfAssign]]) plus
    * one cell-partitioned window — bounded per task because cells are sized
    * ∝ √N by construction; no global sort, no unbounded window.
    */
  def cellQuota(embs: DataFrame, quota: Int = cellQuotaN): DataFrame = {
    val w = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    ivfAssign(embs)
      .select(col("vec_id"), col("cell"))
      .withColumn("cell_rank", row_number().over(w).cast("long"))
      .withColumn("cell_size", count(lit(1)).over(
        Window.partitionBy(col("cell"))).cast("long"))
      .withColumn("cq_keep",
        (col("cell_rank") <= quota).cast("int"))
  }

  /** Neighbors per vector in the k-NN GRAPH (small — the near-dup /
    * clustering precursor keeps only each vector's closest few).
    */
  val knnK = 3

  /** IVF-blocked exact k-NN graph: EVERY vector's top-k nearest in-cell
    * neighbors by quantized cosine — the precursor artifact for semantic
    * clustering / SemDeDup-style curation (cluster the k-NN graph instead of
    * re-scoring pairs per downstream consumer).
    *
    * Scale shape: the all-pairs N² is blocked to Σ_cell |cell|² by the
    * coarse quantizer (cells ∝ √N keeps that near-linear at 100 TB); the
    * per-vector top-k window partitions by vec_id (N partitions, each
    * bounded by its cell size); norms computed once per vector. Recall loss
    * vs brute force is only cross-cell neighbors — the standard IVF
    * tradeoff, spec-measured on the fixture.
    */
  def knnGraph(embs: DataFrame, k: Int = knnK): DataFrame = {
    // eager checkpoint: self-join sides race a lazy cache (see
    // semanticCellPairs)
    val assigned = ivfAssign(embs).localCheckpoint()
    val scored = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.cell").as("cell"),
        col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        Dedup.cosQ(col("a.embedding"), col("b.embedding"), col("a.n2"), col("b.n2"))
          .as("cos"))
    // window keyed (cell, vec_id) — same partitions as (vec_id): a vector
    // belongs to exactly one cell, so every vec_id group lives inside one
    // cell group. With cell leading, a shuffled pair join's output (hash-
    // partitioned by the cell equi-key) already satisfies the window's
    // distribution and the full-pair-set exchange disappears (r13, guide
    // §2.4 two operations keyed the same way share one exchange).
    val w = Window.partitionBy(col("cell"), col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .drop("cell")
  }

  /** Top-k within the query's IVF cell. */
  def ivfTopK(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame = {
    val assigned = ivfAssign(embs)
    val queries = assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell").as("q_cell"), col("n2").as("q_n2"))
    val scored = assigned.join(broadcast(queries),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosQ(col("q_emb"), col("embedding"), col("q_n2"), col("n2")).as("cos"))
    rankTopK(scored, k)
  }

  /** DuckDB CTE chain ending in `assigned(vec_id, embedding, cell, n2)` —
    * shared by the IVF search oracle and the train-step oracle.
    */
  /** DuckDB twin of [[kmeansTrain]]: the fixed [[kmeansIters]]-round Lloyd
    * loop unrolled into a CTE chain. Round r assigns every vector against
    * codebook cb(r-1) (ROW_NUMBER argmax, the [[ivfAssignedCte]] shape),
    * aggregates exact integer per-dim sums on the 2^30 grid, and — for
    * non-final rounds — rebuilds the codebook as REAL(float32) arrays,
    * mirroring the Scala loop's `e.map(_.toFloat)` driver codebook. The
    * final SELECT emits the last round's means in exact double long form.
    */
  private lazy val kmeansTrainSql: String = {
    def assign(a: String, cb: String) =
      s"""$a AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${GraftExpressions.qdotSql("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
         |    FROM embeddings e CROSS JOIN $cb c)
         |  WHERE rn = 1)""".stripMargin
    def means(m: String, a: String) =
      s"""$m AS (
         |  SELECT cell, i - 1 AS dim,
         |         CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1073741824) AS BIGINT)) AS BIGINT) AS sx,
         |         COUNT(*) AS n
         |  FROM (SELECT cell, unnest(generate_series(1, len(embedding))) AS i,
         |               unnest(embedding) AS x FROM $a)
         |  GROUP BY cell, i)""".stripMargin
    def book(cb: String, m: String) =
      s"""$cb AS (
         |  SELECT cell, list(CAST(CAST(sx AS DOUBLE) / 1073741824 / n AS REAL) ORDER BY dim) AS c_emb
         |  FROM $m GROUP BY cell)""".stripMargin
    val seed =
      s"""WITH cb0 AS (
         |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings WHERE vec_id < $ivfCells)""".stripMargin
    val rounds = (1 to kmeansIters).flatMap { r =>
      Seq(assign(s"a$r", s"cb${r - 1}"), means(s"m$r", s"a$r")) ++
        (if (r < kmeansIters) Seq(book(s"cb$r", s"m$r")) else Nil)
    }
    (seed +: rounds).mkString(",\n") +
      s"""
         |SELECT cell, CAST(dim AS BIGINT) AS dim,
         |       CAST(sx AS DOUBLE) / 1073741824 / n AS centroid, n AS n_members
         |FROM m$kmeansIters""".stripMargin
  }

  private[operators] lazy val ivfAssignedCte: String =
    s"""cent AS (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings WHERE vec_id < $ivfCells),
       |assigned AS (
       |  SELECT vec_id, embedding, cell, n2 FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |           ${GraftExpressions.qdotSql("e.embedding", "e.embedding")} AS n2,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${GraftExpressions.qdotSql("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE rn = 1)""".stripMargin

  /** DuckDB CTE chain ending in `coded(vec_id, subspace, code)` + `cb` —
    * the oracle twin of [[pqCodes]] (1-based inclusive list slices mirror
    * Spark's `slice`; ORDER BY dist, code mirrors first-hit argmin).
    */
  /** DuckDB twin of the quantized L2² in [[pqCodeExpr]]. */
  private def qdistSql(x: String, c: String) =
    s"(${GraftExpressions.qdotSql(x, x)} - 2*${GraftExpressions.qdotSql(x, c)} + ${GraftExpressions.qdotSql(c, c)})"

  private lazy val pqCodedCtes: String = {
    s"""cb AS (
       |  SELECT CAST(s.s AS INTEGER) AS subspace, CAST(e.vec_id AS INTEGER) AS code,
       |         e.embedding[s.s*$pqSubDim+1 : s.s*$pqSubDim+$pqSubDim] AS c_sub
       |  FROM embeddings e CROSS JOIN generate_series(0, ${pqM - 1}) s(s)
       |  WHERE e.vec_id < $pqK),
       |sub AS (
       |  SELECT e.vec_id, CAST(s.s AS INTEGER) AS subspace,
       |         e.embedding[s.s*$pqSubDim+1 : s.s*$pqSubDim+$pqSubDim] AS x_sub
       |  FROM embeddings e CROSS JOIN generate_series(0, ${pqM - 1}) s(s)),
       |coded AS (
       |  SELECT vec_id, subspace, code FROM (
       |    SELECT sub.vec_id, sub.subspace, cb.code,
       |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.subspace
       |        ORDER BY ${qdistSql("sub.x_sub", "cb.c_sub")}, cb.code) AS rn
       |    FROM sub JOIN cb USING (subspace))
       |  WHERE rn = 1)""".stripMargin
  }

  /** Per-(subspace, code, dim) exact integer sums over the seed-coded
    * corpus — the shared train-step core of [[pqTrainStepOracle]] and
    * [[pqAdcRefinedOracle]]. Ends in `ts(subspace, code, dim, sx, n)`.
    */
  private lazy val pqTrainSumsCte: String =
    s"""ts AS (
       |  SELECT subspace, code, i - 1 AS dim,
       |         CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1073741824) AS BIGINT)) AS BIGINT) AS sx,
       |         COUNT(*) AS n
       |  FROM (SELECT c.subspace, c.code,
       |               unnest(generate_series(1, $pqSubDim)) AS i,
       |               unnest(s.x_sub) AS x
       |        FROM coded c JOIN sub s ON s.vec_id = c.vec_id AND s.subspace = c.subspace)
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** Oracle twin of [[pqTrainStep]]. */
  private lazy val pqTrainStepOracle: String =
    s"""WITH $pqCodedCtes,
       |$pqTrainSumsCte
       |SELECT subspace, code, CAST(dim AS INTEGER) AS dim,
       |       CAST(sx AS DOUBLE) / 1073741824 / n AS centroid, n AS n_members
       |FROM ts""".stripMargin

  /** Composed oracle twin of [[pqTrain]]: round 1 is the seed-coded sums
    * (`coded`/`ts` from the shared CTEs); every later round rebuilds the
    * float codebook (REAL cast ⇔ the Scala loop's `.toFloat`, COALESCE to
    * the previous codeword for empty cells), re-encodes, and re-sums; the
    * final SELECT emits the last round's exact double means.
    */
  private lazy val pqTrainOracle: String = {
    val rounds = (2 to pqIters).map { r =>
      val (pts, pcb) = if (r == 2) ("ts", "cb") else (s"ts${r - 1}", s"cb${r - 1}")
      s"""rcw$r AS (
         |  SELECT subspace, code,
         |         list(CAST(CAST(sx AS DOUBLE) / 1073741824 / n AS REAL) ORDER BY dim) AS c_sub
         |  FROM $pts GROUP BY 1, 2),
         |cb$r AS (
         |  SELECT p.subspace, p.code, COALESCE(r.c_sub, p.c_sub) AS c_sub
         |  FROM $pcb p LEFT JOIN rcw$r r ON r.subspace = p.subspace AND r.code = p.code),
         |coded$r AS (
         |  SELECT vec_id, subspace, code FROM (
         |    SELECT sub.vec_id, sub.subspace, c.code,
         |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.subspace
         |        ORDER BY ${qdistSql("sub.x_sub", "c.c_sub")}, c.code) AS rn
         |    FROM sub JOIN cb$r c USING (subspace))
         |  WHERE rn = 1),
         |ts$r AS (
         |  SELECT subspace, code, i - 1 AS dim,
         |         CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1073741824) AS BIGINT)) AS BIGINT) AS sx,
         |         COUNT(*) AS n
         |  FROM (SELECT c.subspace, c.code,
         |               unnest(generate_series(1, $pqSubDim)) AS i,
         |               unnest(s.x_sub) AS x
         |        FROM coded$r c JOIN sub s ON s.vec_id = c.vec_id AND s.subspace = c.subspace)
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pqCodedCtes,
       |$pqTrainSumsCte,
       |$rounds
       |SELECT subspace, code, CAST(dim AS INTEGER) AS dim,
       |       CAST(sx AS DOUBLE) / 1073741824 / n AS centroid, n AS n_members
       |FROM ts$pqIters""".stripMargin
  }

  /** Oracle twin of [[pqAdcTopKRefined]]: refined float codewords (seed
    * fallback for empty cells, mirroring [[pqCodebookRefined]]), corpus
    * re-encoded against them, then the same ADC scan.
    */
  private lazy val pqAdcRefinedOracle: String =
    s"""WITH $pqCodedCtes,
       |$pqTrainSumsCte,
       |rcw AS (
       |  SELECT subspace, code,
       |         list(CAST(CAST(sx AS DOUBLE) / 1073741824 / n AS REAL) ORDER BY dim) AS c_sub
       |  FROM ts GROUP BY 1, 2),
       |rcb AS (
       |  SELECT cb.subspace, cb.code, COALESCE(r.c_sub, cb.c_sub) AS c_sub
       |  FROM cb LEFT JOIN rcw r ON r.subspace = cb.subspace AND r.code = cb.code),
       |coded2 AS (
       |  SELECT vec_id, subspace, code FROM (
       |    SELECT sub.vec_id, sub.subspace, rcb.code,
       |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.subspace
       |        ORDER BY ${qdistSql("sub.x_sub", "rcb.c_sub")}, rcb.code) AS rn
       |    FROM sub JOIN rcb USING (subspace))
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
       |qsub AS (
       |  SELECT query_id, CAST(s.s AS INTEGER) AS subspace,
       |         embedding[s.s*$pqSubDim+1 : s.s*$pqSubDim+$pqSubDim] AS q_sub
       |  FROM q CROSS JOIN generate_series(0, ${pqM - 1}) s(s)),
       |scored AS (
       |  SELECT qs.query_id, c.vec_id AS neighbor_id,
       |         CAST(SUM(${GraftExpressions.qdotSql("qs.q_sub", "rcb.c_sub")}) AS BIGINT) AS adc
       |  FROM coded2 c
       |  JOIN rcb ON rcb.subspace = c.subspace AND rcb.code = c.code
       |  JOIN qsub qs ON qs.subspace = c.subspace
       |  WHERE c.vec_id <> qs.query_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, adc, CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= $defaultK""".stripMargin

  /** Oracle twin of [[ivfpqTopK]]: the multiprobe cell restriction joined
    * into the flat ADC scan (shared with the recall report).
    */
  private lazy val ivfpqOracle: String =
    s"""WITH $ivfAssignedCte,
       |$pqCodedCtes,
       |qc AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${GraftExpressions.qdotSql("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN cent c
       |    WHERE e.vec_id < 5)
       |  WHERE rn <= $ivfProbes),
       |qsub AS (
       |  SELECT e.vec_id AS query_id, CAST(s.s AS INTEGER) AS subspace,
       |         e.embedding[s.s*$pqSubDim+1 : s.s*$pqSubDim+$pqSubDim] AS q_sub
       |  FROM embeddings e CROSS JOIN generate_series(0, ${pqM - 1}) s(s)
       |  WHERE e.vec_id < 5),
       |scored AS (
       |  SELECT qs.query_id, c.vec_id AS neighbor_id,
       |         CAST(SUM(${GraftExpressions.qdotSql("qs.q_sub", "cb.c_sub")}) AS BIGINT) AS adc
       |  FROM coded c
       |  JOIN cb ON cb.subspace = c.subspace AND cb.code = c.code
       |  JOIN assigned a ON a.vec_id = c.vec_id
       |  JOIN qc ON qc.cell = a.cell
       |  JOIN qsub qs ON qs.subspace = c.subspace AND qs.query_id = qc.query_id
       |  WHERE c.vec_id <> qc.query_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, adc, CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= $defaultK""".stripMargin

  /** Oracle twin of the ADC scan (shared by the window and aggregator ops). */
  private lazy val pqAdcOracle: String =
    s"""WITH $pqCodedCtes,
       |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
       |qsub AS (
       |  SELECT query_id, CAST(s.s AS INTEGER) AS subspace,
       |         embedding[s.s*$pqSubDim+1 : s.s*$pqSubDim+$pqSubDim] AS q_sub
       |  FROM q CROSS JOIN generate_series(0, ${pqM - 1}) s(s)),
       |scored AS (
       |  SELECT qs.query_id, c.vec_id AS neighbor_id,
       |         CAST(SUM(${GraftExpressions.qdotSql("qs.q_sub", "cb.c_sub")}) AS BIGINT) AS adc
       |  FROM coded c
       |  JOIN cb ON cb.subspace = c.subspace AND cb.code = c.code
       |  JOIN qsub qs ON qs.subspace = c.subspace
       |  WHERE c.vec_id <> qs.query_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, adc, CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= $defaultK""".stripMargin

  /** ANN EVALUATION report: recall@k of each approximate method against the
    * exact brute-force ranking for the fixed query set — one row per
    * method. The harness a real deployment runs before trusting an index:
    * the recall/latency tradeoff is a measured number, not folklore. All
    * counts exact integers; recall on the ppm grid.
    *
    * Scale shape: each method runs its own (already scale-shaped) plan;
    * only the |Q|·k rank lists meet the brute-force list at a pair-grain
    * join. Brute force over the full corpus is the one genuinely expensive
    * leg — in production it runs on a SAMPLE of queries, which is exactly
    * what the fixed query set models.
    */
  def annRecallReport(embs: DataFrame, k: Int = defaultK): DataFrame = {
    val qp = col("vec_id") < 5
    // eager checkpoint: the total aggregate and every method's hit join
    // scan this as sibling stages; a lazy cache re-runs brute force per
    // racing consumer
    val bf = bruteForceTopK(embs, qp, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val total = bf.agg(count(lit(1)).as("total"))
    Seq(
      "ivf" -> ivfTopK(embs, qp, k),
      "ivf_multiprobe" -> ivfMultiprobeTopK(embs, qp, k = k),
      "ivfpq" -> ivfpqTopK(embs, qp, k = k),
      "pq_adc" -> pqAdcTopK(embs, qp, k),
      "sq8" -> sq8TopK(embs, qp, k),
      "sq8_rerank" -> sq8RerankTopK(embs, qp, k))
      .map { case (name, df) =>
        df.select(col("query_id"), col("neighbor_id"))
          .join(bf, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(total))
          .select(lit(name).as("method"), col("hits"), col("total"),
            expr("(hits * 1000000) div total").as("recall_ppm"))
      }
      .reduce(_.unionAll(_))
  }

  /** IVF index-health report: one row of cell-population statistics —
    * non-empty cell count, vector total, min/max cell size, and the skew
    * ratio `max_cell / (n_vectors / n_cells)` on the ppm grid (balanced
    * index = 1e6). THE operational audit for an inverted-file index: a
    * hot cell bounds worst-case probe latency and recall both, and at
    * 100 TB it is the signal to retrain the coarse quantizer or split the
    * cell. One cell-grain aggregate + a 1-row rollup; integer division
    * only.
    */
  def ivfCellStats(embs: DataFrame): DataFrame =
    ivfAssign(embs).groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_nonempty"), sum(col("sz")).as("n_vectors"),
        min(col("sz")).as("min_cell"), max(col("sz")).as("max_cell"))
      .select(lit(ivfCells.toLong).as("n_cells"), col("n_nonempty"),
        col("n_vectors"), col("min_cell"), col("max_cell"),
        expr(s"(max_cell * ${ivfCells}L * 1000000) div n_vectors").as("skew_ppm"))

  /** Batch-membership rule for the registered [[ivfIndexAppend]] query:
    * vec_id % 7 == 0 (above the codebook seeds) plays the newly arrived
    * batch — the dedup_clusters_incremental fixture convention.
    */
  val appendMod = 7

  /** Retrain triggers for [[ivfIndexAppend]]: the batch's mean quantization
    * residual exceeding 1.5× the stored corpus's (×1000 grid), or the batch
    * pushing a cell past 30% new members (ppm grid) — the two signals that
    * the stored coarse quantizer no longer represents the data arriving.
    */
  val appendDriftMaxX1000 = 1500L
  val appendShareMaxPpm = 300000L
  /** drift_x1000 sentinel when a cell's stored residual mean is exactly 0
    * (a cell holding only its own seed) but new residual mass arrived —
    * infinite relative drift, clamped to a loud finite value.
    */
  val appendDriftInfX1000 = 1000000L

  /** [[ivfAssign]]'s argmax-dot assignment against an EXPLICIT stored
    * codebook, carrying each vector's quantized L2² residual to its
    * centroid (x·x − 2x·c + c·c, exact integers) — the encode half of the
    * incremental index-maintenance loop.
    */
  private def assignWithResidual(embs: DataFrame, centroids: DataFrame): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val cb = collectedCentroids(centroids)
    if (cb.isEmpty)
      return embs.select(col("vec_id"), lit(0L).as("cell"), lit(0L).as("resid"))
        .filter(lit(false))
    // best.d = qdot(e, c_best); best.cn2 = qdot(c_best, c_best) precomputed
    // on the driver with the identical quantization — so the residual is
    // bit-identical to the old per-row three-qdot form
    embs
      .repartition(graft.Scale.partitionsFor(embs))
      .withColumn("_best", bestCellStruct(col("embedding"), cb))
      .select(col("vec_id"), (-col("_best.nc")).as("cell"),
        (GraftExpressions.qdot(col("embedding"), col("embedding"))
          - lit(2L) * col("_best.d") + col("_best.cn2")).as("resid"))
  }

  /** Incremental IVF index maintenance: encode a NEW vector batch against
    * the STORED coarse quantizer (seeded from the corpus — the codebook
    * that existed before the batch arrived) and emit the per-cell health
    * report an ingest loop reads: stored/new fill, the batch's share of
    * each cell (ppm), mean quantization residual on both sides (exact
    * integer grid), relative residual drift (×1000), and the retrain flag
    * ([[appendDriftMaxX1000]] / [[appendShareMaxPpm]]). The corpus is
    * never re-encoded: per batch this costs one broadcast-codebook narrow
    * assignment over the batch plus cell-grain aggregates — the
    * [[graft.operators.Dedup.incrementalMinhashPairs]] shape for the
    * vector tier, closing the one index family that previously required a
    * full retrain per append. Because the codebook is FIXED, batch encode
    * is bit-identical to what a full re-encode would assign the same rows
    * (spec-pinned), so append-then-query equals rebuild-then-query
    * exactly.
    *
    * In production `stored` cell stats come from the persisted index
    * (caller owns storage, the SketchStore convention); here both sides
    * compute from their slices so the whole report is oracle-checked.
    */
  def ivfIndexAppend(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val centroids = corpus.filter(col("vec_id") < ivfCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"))
    ivfIndexAppendImpl(
      assignWithResidual(corpus, centroids).groupBy(col("cell"))
        .agg(count(lit(1)).as("n_stored"), sum(col("resid")).as("sr_stored")),
      batch, centroids)
  }

  /** [[ivfIndexAppend]] with the stored side's cell stats read from a
    * pre-encoded (vec_id, cell, resid) index frame ([[storedIndex]]) — the
    * maintenance loop that actually composes with the store: the corpus is
    * NEVER re-encoded, only the incoming batch pays an encode, and the
    * health report aggregates the artifact's own rows. Per-vector (cell,
    * resid) depend only on the FIXED centroid set, so filtering the full-
    * table store to the corpus slice is bit-identical to encoding that
    * slice (the append-equals-rebuild contract, spec-pinned).
    */
  def ivfIndexAppendFrom(index: DataFrame, batch: DataFrame,
      centroids: DataFrame): DataFrame =
    ivfIndexAppendImpl(
      index.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_stored"), sum(col("resid")).as("sr_stored")),
      batch, centroids)

  private def ivfIndexAppendImpl(stored: DataFrame, batch: DataFrame,
      centroids: DataFrame): DataFrame = {
    val fresh = assignWithResidual(batch, centroids)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_new"), sum(col("resid")).as("sr_new"))
    // FULL outer on cell: argmax-dot assignment does not guarantee a seed
    // lands in its own cell, so a cell whose members are ALL from the new
    // batch must still surface (n_stored = 0, share = 100%, drift = the
    // infinite-relative sentinel → retrain) — only-new cells are the
    // strongest retrain signal the report exists for (ADVICE r8).
    stored.join(fresh, Seq("cell"), "full")
      .select(col("cell"),
        coalesce(col("n_stored"), lit(0L)).as("n_stored"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(expr("sr_stored div n_stored"), lit(0L)).as("stored_resid_mean"),
        coalesce(expr("sr_new div n_new"), lit(0L)).as("new_resid_mean"))
      .withColumn("new_share_ppm",
        expr("(n_new * 1000000) div (n_stored + n_new)"))
      .withColumn("drift_x1000",
        when(col("n_new") === 0L, 0L)
          .when(col("stored_resid_mean") === 0L,
            when(col("new_resid_mean") === 0L, 1000L)
              .otherwise(lit(appendDriftInfX1000)))
          .otherwise(expr("(new_resid_mean * 1000) div stored_resid_mean")))
      .withColumn("retrain",
        col("drift_x1000") > appendDriftMaxX1000 ||
          col("new_share_ppm") > appendShareMaxPpm)
  }

  // --------------------------------------------------------------------------
  // Vector index store: the one-time encode as a build-once artifact
  // --------------------------------------------------------------------------

  /** Baked into the store dir name — bump on any index-schema/build change. */
  val VectorStoreVersion = "v1"

  /** The full per-vector index row in ONE narrow encode pass: coarse cell,
    * quantized L2² residual to its centroid, PQ codes, and SQ8 codes —
    * everything the ANN read ops and the append health report consume.
    * Every column is bit-identical to the per-op fresh encodes
    * ([[ivfAssign]] / [[assignWithResidual]] / [[pqCodesWide]] /
    * [[sq8CodesWide]]) because each is a deterministic function of the
    * vector and the FIXED seeds — spec-pinned, so stored-read ≡ fresh-
    * encode row for row.
    */
  private[graft] def indexFrame(embs: DataFrame): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val cb = pqCodebook(embs)
    val coarse = collectedCentroids(embs.filter(col("vec_id") < ivfCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb")))
    embs
      .repartition(graft.Scale.partitionsFor(embs))
      .withColumn("_best", bestCellStruct(col("embedding"), coarse))
      .withColumn("n2", GraftExpressions.qdot(col("embedding"), col("embedding")))
      .select(col("vec_id"), (-col("_best.nc")).as("cell"),
        (col("n2") - lit(2L) * col("_best.d") + col("_best.cn2")).as("resid"),
        array((0 until pqM).map(s => pqCodeExpr(col("embedding"), cb(s), s)): _*)
          .as("codes"),
        transform(col("embedding"), x =>
          when(col("n2") === 0, lit(0)).otherwise(
            round(floor(x.cast("double") * GraftExpressions.Quant) * lit(127.0) /
              sqrt(col("n2").cast("double"))).cast("int"))).as("sq8"))
  }

  /** Build-once vector index for the fixture under `srcDir` (content-
    * stamped dir — the [[graft.sources.ArtifactStore]] convention shared
    * with the graph edge store). At 100 TB the one-time encode IS the point
    * of PQ/SQ8: the float corpus is read once at index-build time, and
    * every ANN read op scans the bytes-per-vector artifact instead of
    * re-encoding embeddings per query. Results are identical either way —
    * the oracles re-derive everything from the raw embeddings table.
    */
  def ensureCodes(spark: SparkSession, srcDir: String): String =
    ArtifactStore.ensure(srcDir, "vecstore", VectorStoreVersion) { dir =>
      indexFrame(Tables.embeddings(spark, srcDir))
        .write.mode("overwrite").parquet(s"$dir/index")
    }

  /** The stored (vec_id, cell, resid, codes, sq8) index (building it on
    * first use).
    */
  def storedIndex(spark: SparkSession, srcDir: String): DataFrame =
    ArtifactStore.readParquet(spark, s"${ensureCodes(spark, srcDir)}/index")

  /** Oracle twin of the registered `sim_index_append` split: stored corpus
    * = seeds ∪ (vec_id % [[appendMod]] ≠ 0), batch = the rest.
    */
  private lazy val indexAppendOracle: String = {
    val q = (x: String, y: String) => GraftExpressions.qdotSql(x, y)
    s"""WITH cent AS (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  WHERE vec_id < $ivfCells),
       |ar AS (
       |  SELECT vec_id, cell, resid, is_new FROM (
       |    SELECT e.vec_id, c.cell,
       |      (${q("e.embedding", "e.embedding")}
       |       - 2*${q("e.embedding", "c.c_emb")}
       |       + ${q("c.c_emb", "c.c_emb")}) AS resid,
       |      (e.vec_id >= $ivfCells AND e.vec_id % $appendMod = 0) AS is_new,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${q("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN cent c)
       |  WHERE rn = 1),
       |st AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_stored,
       |              CAST(SUM(resid) AS BIGINT) AS sr_stored
       |       FROM ar WHERE NOT is_new GROUP BY cell),
       |nw AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_new,
       |              CAST(SUM(resid) AS BIGINT) AS sr_new
       |       FROM ar WHERE is_new GROUP BY cell),
       |j AS (
       |  SELECT cell,
       |         COALESCE(st.n_stored, 0) AS n_stored,
       |         COALESCE(nw.n_new, 0) AS n_new,
       |         COALESCE(st.sr_stored // st.n_stored, 0) AS stored_resid_mean,
       |         COALESCE(nw.sr_new // nw.n_new, 0) AS new_resid_mean
       |  FROM st FULL OUTER JOIN nw USING (cell)),
       |r AS (
       |  SELECT *, (n_new * 1000000) // (n_stored + n_new) AS new_share_ppm,
       |    CASE WHEN n_new = 0 THEN 0
       |         WHEN stored_resid_mean = 0 THEN
       |           (CASE WHEN new_resid_mean = 0 THEN 1000
       |                 ELSE $appendDriftInfX1000 END)
       |         ELSE (new_resid_mean * 1000) // stored_resid_mean END AS drift_x1000
       |  FROM j)
       |SELECT cell, n_stored, n_new, stored_resid_mean, new_resid_mean,
       |       new_share_ppm, drift_x1000,
       |       (drift_x1000 > $appendDriftMaxX1000
       |        OR new_share_ppm > $appendShareMaxPpm) AS retrain
       |FROM r""".stripMargin
  }

  /** Embedding-corpus health: one row of quantized-norm statistics —
    * vector count, ZERO-norm count (a zero vector has no cosine direction
    * and silently poisons every similarity op: the first thing to audit
    * on a new embedding delivery), and min/avg/max n2 on the exact
    * integer grid (a collapsed norm range suggests un-normalized or
    * truncated exports). One codegen pass, one 1-row aggregate.
    */
  def normStats(embs: DataFrame): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    embs.select(GraftExpressions.qdot(col("embedding"), col("embedding")).as("n2"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero"),
        min(col("n2")).as("min_n2"), max(col("n2")).as("max_n2"),
        sum(col("n2")).as("sum_n2"))
      .withColumn("avg_n2", expr("sum_n2 div n_vectors"))
      .drop("sum_n2")
  }

  /** Truncation widths evaluated by [[truncatedRecall]]. */
  val truncDims: Seq[Int] = Seq(8, 16, 32)

  /** Matryoshka-style dimension-truncation evaluation: exact cosine top-k
    * computed with only the FIRST m dimensions of each embedding, scored
    * as recall@k against the full-dimension exact neighbors — the
    * measurement behind "can we search the first 16 dims and rerank",
    * which at 100 TB is a 4-8× scan-bandwidth lever on top of SQ8 (the
    * truncated scan reads m/64 of the vector bytes; the composed
    * trunc→full rerank is the same two-stage shape as [[sq8RerankTopK]]).
    * One row per width: hits, expected, recall ppm — exact integers.
    *
    * Plan: one brute-force pass per width over `slice`d vectors (queries
    * broadcast, corpus never shuffles — the [[bruteForceTopK]] shape);
    * rank lists meet the full-dim list at a pair-grain join; widths with
    * zero hits still report via the broadcast width frame.
    */
  def truncatedRecall(embs: DataFrame, dims: Seq[Int] = truncDims,
      k: Int = defaultK): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val qp = col("vec_id") < 5
    // eager checkpoint (see annRecallReport)
    val full = bruteForceTopK(embs, qp, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val expected = full.agg(count(lit(1)).as("n_expected"))
    val truncated = dims.map { m =>
      bruteForceTopK(
        embs.select(col("vec_id"), slice(col("embedding"), 1, m).as("embedding")),
        qp, k)
        .select(lit(m.toLong).as("dims"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    val hits = truncated.join(full, Seq("query_id", "neighbor_id"))
      .groupBy(col("dims")).agg(count(lit(1)).as("hits"))
    broadcast(dims.map(_.toLong).toDF("dims"))
      .join(hits, Seq("dims"), "left")
      .crossJoin(broadcast(expected))
      .select(col("dims"), coalesce(col("hits"), lit(0L)).as("hits"),
        col("n_expected"),
        expr("(coalesce(hits, 0) * 1000000) div n_expected").as("recall_ppm"))
  }

  /** Oracle twin of [[annRecallReport]]: each method's existing full oracle
    * embedded as a nested-WITH derived CTE, recall = pair-grain join counts.
    */
  private lazy val annRecallOracle: String = {
    val ivfQ =
      s"""WITH $ivfAssignedCte,
         |scored AS (
         |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM assigned q JOIN assigned v ON v.cell = q.cell AND v.vec_id <> q.vec_id
         |  WHERE q.vec_id < 5),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id FROM ranked WHERE rank <= $defaultK""".stripMargin
    val mpQ =
      s"""WITH $ivfAssignedCte,
         |qc AS (
         |  SELECT query_id, embedding, n2, cell FROM (
         |    SELECT e.vec_id AS query_id, e.embedding,
         |           ${GraftExpressions.qdotSql("e.embedding", "e.embedding")} AS n2,
         |           c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${GraftExpressions.qdotSql("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
         |    FROM embeddings e CROSS JOIN cent c
         |    WHERE e.vec_id < 5)
         |  WHERE rn <= $ivfProbes),
         |scored AS (
         |  SELECT q.query_id, v.vec_id AS neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM qc q JOIN assigned v ON v.cell = q.cell AND v.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id FROM ranked WHERE rank <= $defaultK""".stripMargin
    val sq8Q =
      s"""WITH $sq8CodesCtes,
         |$sq8ScoredCte,
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id FROM ranked WHERE rank <= $defaultK""".stripMargin
    val rrQ =
      s"""WITH $sq8CodesCtes,
         |$sq8ScoredCte,
         |c_ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS rank
         |  FROM scored),
         |cand AS (SELECT query_id, neighbor_id FROM c_ranked WHERE rank <= $rerankCandidates),
         |ev AS (
         |  SELECT vec_id, embedding, ${GraftExpressions.qdotSql("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |rescored AS (
         |  SELECT c.query_id, c.neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM cand c
         |  JOIN ev v ON v.vec_id = c.neighbor_id
         |  JOIN ev q ON q.vec_id = c.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM rescored)
         |SELECT query_id, neighbor_id FROM ranked WHERE rank <= $defaultK""".stripMargin
    def row(name: String, cte: String) =
      s"""SELECT '$name' AS method,
         |       (SELECT COUNT(*) FROM $cte JOIN bf USING (query_id, neighbor_id)) AS hits,
         |       (SELECT COUNT(*) FROM bf) AS total""".stripMargin
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM (${bruteForceOracle(defaultK.toString)})),
       |mi AS ($ivfQ),
       |mp AS ($mpQ),
       |mq AS (SELECT query_id, neighbor_id FROM ($pqAdcOracle)),
       |mv AS (SELECT query_id, neighbor_id FROM ($ivfpqOracle)),
       |ms AS ($sq8Q),
       |mr AS ($rrQ),
       |r AS (
       |  ${row("ivf", "mi")}
       |  UNION ALL ${row("ivf_multiprobe", "mp")}
       |  UNION ALL ${row("ivfpq", "mv")}
       |  UNION ALL ${row("pq_adc", "mq")}
       |  UNION ALL ${row("sq8", "ms")}
       |  UNION ALL ${row("sq8_rerank", "mr")})
       |SELECT method, CAST(hits AS BIGINT) AS hits, CAST(total AS BIGINT) AS total,
       |       CAST((hits * 1000000) // total AS BIGINT) AS recall_ppm
       |FROM r""".stripMargin
  }

  private def bruteForceOracle(kExpr: String): String =
    s"""WITH ev AS (
       |  SELECT vec_id, embedding, ${GraftExpressions.qdotSql("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
       |  FROM ev q JOIN ev v ON v.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= $kExpr""".stripMargin

  // --------------------------------------------------------------------------
  // Scalar (int8) quantization + two-stage re-ranked retrieval
  // --------------------------------------------------------------------------

  /** SQ8 code scale: codes span [−127, 127] — one signed byte per dimension. */
  val sq8Scale = 127

  /** Candidate depth of the re-rank first stage. */
  val rerankCandidates = 50

  /** One row per vector with its signed int8 code array — 4× smaller than
    * the raw floats (vs PQ's 64×, but with per-dimension fidelity). The code
    * is the UNIT-NORMALIZED vector on a 127-step grid:
    * `round(q_i · 127 / √(Σ q_i²))` with `q_i = floor(x_i · 2^20)` (the
    * [[GraftExpressions.QuantizedDot]] grid), so the integer dot of two code
    * arrays approximates 127² · cosine — ranking by it tracks cosine ranking,
    * which a raw (unnormalized, per-dim-affine) int8 dot does not. A zero
    * vector codes to all-zeros.
    *
    * Scale shape: per-row arithmetic only — NO corpus statistics pass, no
    * shuffle, nothing driver-resident. Every double op (float→double widen,
    * floor, ·127.0, IEEE sqrt, divide, half-away round) is order-pinned and
    * reproduced verbatim by the DuckDB oracle, so codes are bit-identical
    * across engines.
    */
  def sq8CodesWide(embs: DataFrame): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val n2 = GraftExpressions.qdot(col("embedding"), col("embedding"))
    val code = transform(col("embedding"), x =>
      when(col("n2") === 0, lit(0)).otherwise(
        round(floor(x.cast("double") * GraftExpressions.Quant) * lit(127.0) /
          sqrt(col("n2").cast("double"))).cast("int")))
    embs.withColumn("n2", n2).select(col("vec_id"), code.as("codes"))
  }

  /** Flat (vec_id, dim, code) form for the oracle. */
  def sq8Codes(embs: DataFrame): DataFrame =
    sq8CodesWide(embs).select(col("vec_id"), posexplode(col("codes")).as(Seq("dim", "code")))

  /** SQ8 top-k: the brute-force scan over signed int8 codes — an exact
    * integer dot per pair (64 byte-products ≈ 127² · cosine), ranking by
    * quantized similarity. The scan reads the 4×-compressed corpus;
    * approximation error vs [[bruteForceTopK]] comes only from the 8-bit
    * rounding of the unit vector, so recall is near-1 (spec-measured) at a
    * quarter of the scan bytes.
    */
  def sq8TopK(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame =
    sq8TopKFrom(sq8CodesWide(embs), queryPred, k)

  /** [[sq8TopK]] over a pre-encoded (vec_id, codes) frame — the stored-
    * index read path (queries pull their own code rows from the same
    * frame, so the float corpus is never touched).
    */
  def sq8TopKFrom(codes: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame = {
    GraftExpressions.register(codes.sparkSession)
    val queries = codes.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("codes").as("q_codes"))
    // codegen kernel, not aggregate(zip_with(...)): the HOF materializes a
    // zipped struct array per scored pair — IntDot is one tight fused loop
    val scored = codes.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        GraftExpressions.intdot(col("codes"), col("q_codes")).as("qscore"))
    val w = Window.partitionBy("query_id").orderBy(col("qscore").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Two-stage retrieval: the SQ8 integer scan proposes `rerankCandidates`
    * per query, then ONLY those pairs are re-scored with the exact quantized
    * cosine — the standard candidate-generation → re-rank shape every
    * production ANN system runs. At 100 TB the full corpus is touched once
    * through its compressed codes; the float vectors are fetched for
    * |Q|·C candidate rows only (the candidate frame broadcasts — the corpus
    * never shuffles).
    */
  def sq8RerankTopK(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame =
    sq8RerankTopKFrom(sq8CodesWide(embs), embs, queryPred, k)

  /** [[sq8RerankTopK]] with the candidate scan over a pre-encoded codes
    * frame; only the |Q|·C candidate re-rank touches floats.
    */
  def sq8RerankTopKFrom(codes: DataFrame, embs: DataFrame, queryPred: Column,
      k: Int = defaultK): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val cand = sq8TopKFrom(codes, queryPred, rerankCandidates)
      .select(col("query_id"), col("neighbor_id"))
    val corpus = embs.select(col("vec_id"), col("embedding"),
      GraftExpressions.qdot(col("embedding"), col("embedding")).as("n2"))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val rescored = corpus.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosQ(col("q_emb"), col("embedding"), col("q_n2"), col("n2")).as("cos"))
    rankTopK(rescored, k)
  }

  /** IVF + SQ8 + exact refine — the full production ANN stack in one plan
    * (FAISS's `IVF,SQ8` with a refine stage): the coarse quantizer restricts
    * each query to its own cell, the candidate scan reads ONLY the
    * 4×-compressed int8 codes of that cell (codegen [[graft.functions
    * .GraftExpressions.intdot]] kernel), the top [[rerankCandidates]] are
    * re-scored with the exact quantized cosine. At 100 TB: the float corpus
    * is read once at index-build time; a query touches cell-sized code
    * lists plus |Q|·C float rows — neither the codes nor the corpus ever
    * shuffle (queries, candidate ids, and stats all broadcast).
    */
  def ivfSq8TopK(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame =
    ivfSq8TopKFrom(ivfAssign(embs).select(col("vec_id"), col("cell"))
      .join(sq8CodesWide(embs), "vec_id"), embs, queryPred, k)

  /** [[ivfSq8TopK]] over a pre-encoded (vec_id, cell, codes) frame — the
    * stored-index read path for the composed IVF+SQ8+refine stack.
    */
  def ivfSq8TopKFrom(indexed: DataFrame, embs: DataFrame, queryPred: Column,
      k: Int = defaultK): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val q = indexed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("cell").as("q_cell"),
        col("codes").as("q_codes"))
    val scored = indexed.join(broadcast(q),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        GraftExpressions.intdot(col("codes"), col("q_codes")).as("qscore"))
    val w = Window.partitionBy("query_id").orderBy(col("qscore").desc, col("neighbor_id"))
    val cand = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= rerankCandidates)
      .select(col("query_id"), col("neighbor_id"))
    val corpus = embs.select(col("vec_id"), col("embedding"),
      GraftExpressions.qdot(col("embedding"), col("embedding")).as("n2"))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val rescored = corpus.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosQ(col("q_emb"), col("embedding"), col("q_n2"), col("n2")).as("cos"))
    rankTopK(rescored, k)
  }

  /** Shared oracle CTEs ending in `codes(vec_id, codes)` — the same
    * unit-normalize-then-round arithmetic as [[sq8CodesWide]], op for op.
    */
  private lazy val sq8CodesCtes: String =
    s"""ne AS (
       |  SELECT vec_id, embedding,
       |         ${GraftExpressions.qdotSql("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |codes AS (
       |  SELECT vec_id,
       |         [CASE WHEN n2 = 0 THEN 0
       |               ELSE CAST(round(CAST(${GraftExpressions.quantSql("x")} AS DOUBLE)
       |                          * 127.0 / sqrt(CAST(n2 AS DOUBLE))) AS INTEGER) END
       |          FOR x IN embedding] AS codes
       |  FROM ne)""".stripMargin

  /** SQ8 integer-dot scoring CTE over `codes`, queries `vec_id < 5`. */
  private lazy val sq8ScoredCte: String =
    s"""scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |         CAST(list_sum([CAST(x[1] AS BIGINT) * x[2]
       |                        FOR x IN list_zip(q.codes, v.codes)]) AS BIGINT) AS qscore
       |  FROM codes q JOIN codes v ON v.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5)""".stripMargin

  // --------------------------------------------------------------------------
  // Farthest-point (k-center) diverse sampling
  // --------------------------------------------------------------------------

  /** Points selected by [[fpsSample]] (seed + 7 greedy selections). */
  val fpsK = 8

  /** Deterministic seed point for [[fpsSample]]. */
  val fpsSeed = 0L

  /** Farthest-point sampling: the greedy 2-approximation to the k-center
    * problem — start from the seed vector and repeatedly add the point
    * farthest (max–min quantized L2²) from everything chosen so far. THE
    * standard coreset / diverse-subset selector for training-data curation:
    * k prototypes that cover the embedding space's extremes rather than its
    * density mass (the opposite bias to k-means centroids).
    *
    * Scale shape: the chosen set is a driver-resident array of ≤ k vectors
    * (the [[kmeansTrain]] codebook convention), so each round is ONE
    * narrow codegen scan — min-of-k quantized-dot distances in the
    * projection, no join, no shuffle — plus a 1-row `orderBy.limit(1)`
    * argmax (the Tokenizer BPE-argmax precedent; Spark plans it as
    * TakeOrderedAndProject, never a global sort). Total cost k scans of
    * the corpus; distances are exact integers on the [[GraftExpressions
    * .Quant]] grid, so selections are partitioning-invariant and
    * bit-match the unrolled oracle.
    */
  def fpsSample(embs: DataFrame, k: Int = fpsK): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    GraftExpressions.register(spark)
    val base = embs.select(col("vec_id"), col("embedding"),
      GraftExpressions.qdot(col("embedding"), col("embedding")).as("n2"))
      .persist()
    val seed = base.filter(col("vec_id") === fpsSeed)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].head()
    // (selection round, vec_id, min-dist at selection — null for the seed)
    var chosen = Vector[(Long, Long, Option[Long], Array[Float])](
      (0L, seed._1, None, seed._2.toArray))
    for (r <- 1 until k) {
      val dists = chosen.map { case (_, _, _, ce) =>
        col("n2") - lit(2L) * GraftExpressions.qdot(col("embedding"),
          typedLit(ce.toSeq)) + lit(qdotLocal(ce, ce))
      }
      val minDist = if (dists.size == 1) dists.head else least(dists: _*)
      val next = base
        .filter(!col("vec_id").isin(chosen.map(_._2): _*))
        .select(col("vec_id"), col("embedding"), minDist.as("dist"))
        .orderBy(col("dist").desc, col("vec_id"))
        .limit(1)
        .as[(Long, Seq[Float], Long)].head()
      chosen = chosen :+ ((r.toLong, next._1, Some(next._3), next._2.toArray))
    }
    base.unpersist()
    chosen.map { case (r, id, dq, _) => (r, id, dq) }
      .toDF("sel_round", "vec_id", "dist_q")
  }

  // --------------------------------------------------------------------------
  // MMR: maximal-marginal-relevance diversified retrieval
  // --------------------------------------------------------------------------

  /** Selections per query for [[mmrRerank]]. */
  val mmrK = 5

  /** Candidate-list size fed into the MMR selection. */
  val mmrCandidates = 20

  /** Fixed query vector for the registered MMR op. */
  val mmrQueryId = 0L

  /** Maximal-marginal-relevance rerank: from the IVF candidate list, greedily
    * pick results balancing closeness to the QUERY against distance from the
    * results already picked — the standard redundancy-killer for RAG result
    * lists (ten near-identical top hits carry one hit's information). With
    * λ = ½ the MMR objective clears denominators to exact integers on the
    * quantized-L2² grid: round 1 takes argmin d²(q, i); later rounds take
    * argmin of `d²(q, i) − min_{s∈S} d²(i, s)` (ties to the lower vec_id).
    *
    * Scale shape: candidate GENERATION is the distributed part and reuses
    * the IVF path (cell-pruned, broadcast query). The selection itself runs
    * on the driver over the ≤ [[mmrCandidates]]-row candidate list — the
    * bounded-artifact convention ([[kmeansTrain]] codebooks, BPE argmax):
    * per-query rerank state is O(k·dim) no matter the corpus size.
    */
  def mmrRerank(embs: DataFrame, queryId: Long = mmrQueryId, k: Int = mmrK,
      nCand: Int = mmrCandidates): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    GraftExpressions.register(spark)
    val cvecs = ivfTopK(embs, col("vec_id") === queryId, nCand)
      .select(col("neighbor_id"))
      .join(embs, col("neighbor_id") === embs("vec_id"))
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().map { case (id, e) => (id, e.toArray) }.sortBy(_._1).toVector
    val qvec = embs.filter(col("vec_id") === queryId)
      .select(col("embedding")).as[Seq[Float]].head().toArray
    def d2(a: Array[Float], b: Array[Float]): Long =
      qdotLocal(a, a) - 2L * qdotLocal(a, b) + qdotLocal(b, b)
    val dq = cvecs.map { case (id, e) => id -> d2(qvec, e) }.toMap
    var sel = Vector[(Long, Array[Float], Long)]() // (id, emb, score at pick)
    var rem = cvecs
    while (sel.length < k && rem.nonEmpty) {
      val scored = rem.map { case (id, e) =>
        val score =
          if (sel.isEmpty) dq(id)
          else dq(id) - sel.iterator.map(s => d2(e, s._2)).min
        (score, id, e)
      }
      val best = scored.minBy(t => (t._1, t._2))
      sel = sel :+ ((best._2, best._3, best._1))
      rem = rem.filterNot(_._1 == best._2)
    }
    sel.zipWithIndex.map { case ((id, _, sc), i) => ((i + 1).toLong, id, sc) }
      .toDF("sel_round", "vec_id", "score_q")
  }

  /** Unrolled [[mmrRerank]] oracle: the IVF in-cell candidate CTE, then per
    * selection round a min-over-chosen marginal score and a 1-row ordered
    * limit — the [[fpsOracle]] recipe anchored to a query.
    */
  private def mmrOracle: String = {
    val qd = (a: String, b: String) => GraftExpressions.qdotSql(a, b)
    val cols = "sel_round, vec_id, embedding, n2, dq2, score_q"
    val rounds = (2 to mmrK).map { r =>
      val prev = s"ch${r - 1}"
      s"""d$r AS (
         |  SELECT v.vec_id, v.embedding, v.n2, v.dq2,
         |         v.dq2 - MIN(v.n2 - 2 * ${qd("v.embedding", "s.embedding")} + s.n2)
         |           AS score
         |  FROM dq v CROSS JOIN $prev s
         |  WHERE v.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  GROUP BY v.vec_id, v.embedding, v.n2, v.dq2),
         |s$r AS (SELECT $r AS sel_round, vec_id, embedding, n2, dq2,
         |               score AS score_q
         |        FROM d$r ORDER BY score, vec_id LIMIT 1),
         |ch$r AS (SELECT $cols FROM $prev UNION ALL SELECT $cols FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ivfAssignedCte,
       |qv AS (SELECT vec_id, embedding, n2, cell FROM assigned
       |       WHERE vec_id = $mmrQueryId),
       |sc0 AS (SELECT v.vec_id, v.embedding, v.n2, ${Dedup.cosQSql("q", "v")} AS cos
       |        FROM qv q JOIN assigned v
       |          ON v.cell = q.cell AND v.vec_id <> q.vec_id),
       |cand AS (SELECT vec_id, embedding, n2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rank
       |    FROM sc0) WHERE rank <= $mmrCandidates),
       |dq AS (SELECT c.vec_id, c.embedding, c.n2,
       |              c.n2 - 2 * ${qd("c.embedding", "q.embedding")} + q.n2 AS dq2
       |       FROM cand c CROSS JOIN qv q),
       |s1 AS (SELECT 1 AS sel_round, vec_id, embedding, n2, dq2, dq2 AS score_q
       |       FROM dq ORDER BY dq2, vec_id LIMIT 1),
       |ch1 AS (SELECT $cols FROM s1),
       |$rounds
       |SELECT CAST(sel_round AS BIGINT) AS sel_round, vec_id,
       |       CAST(score_q AS BIGINT) AS score_q
       |FROM ch$mmrK""".stripMargin
  }

  /** Unrolled [[fpsSample]] oracle: per round, the min-distance frame over
    * the chosen-so-far CTE, a 1-row ordered limit, and the grown chosen set.
    */
  private def fpsOracle: String = {
    val qd = (a: String, b: String) => GraftExpressions.qdotSql(a, b)
    val rounds = (1 until fpsK).map { r =>
      val prev = s"ch${r - 1}"
      s"""d$r AS (
         |  SELECT v.vec_id, v.embedding, v.n2,
         |         MIN(v.n2 - 2 * ${qd("v.embedding", "c.embedding")} + c.n2) AS dist
         |  FROM emb v CROSS JOIN $prev c
         |  WHERE v.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  GROUP BY v.vec_id, v.embedding, v.n2),
         |s$r AS (SELECT $r AS sel_round, vec_id, embedding, n2, dist AS dist_q
         |        FROM d$r ORDER BY dist DESC, vec_id LIMIT 1),
         |ch$r AS (SELECT * FROM $prev UNION ALL SELECT * FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (SELECT vec_id, embedding,
       |               ${qd("embedding", "embedding")} AS n2 FROM embeddings),
       |ch0 AS (SELECT 0 AS sel_round, vec_id, embedding, n2,
       |               CAST(NULL AS BIGINT) AS dist_q
       |        FROM emb WHERE vec_id = $fpsSeed),
       |$rounds
       |SELECT CAST(sel_round AS BIGINT) AS sel_round, vec_id,
       |       CAST(dist_q AS BIGINT) AS dist_q
       |FROM ch${fpsK - 1}""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Binary (sign-bit) embedding codes — the 32× compression tier
  // --------------------------------------------------------------------------

  /** 64-bit sign-binarized embedding code: bit `i` set iff `embedding[i] > 0`
    * (strict — a zero coordinate contributes 0). One BIGINT per vector: the
    * 32× compression tier below SQ8 (8×) and PQ, completing the engine's
    * float → SQ8 → PQ → binary ladder. Encode is a once-per-vector HOF fold
    * (bitwise OR accumulate — bit 63 lands exactly on the sign bit with no
    * overflow); scoring is one `bit_count(xor)` per pair, the cheapest
    * possible candidate scan. Dims beyond 64 would take one word per 64
    * coordinates; the fixture (and this encode) uses the first 64, the
    * [[truncatedRecall]] Matryoshka convention.
    */
  def binaryCodes(embs: DataFrame): DataFrame =
    // slice BEFORE zip_with: zip_with pads the shorter side with nulls, so an
    // un-truncated >64-dim embedding would pair its tail with null indexes and
    // null out the whole OR-fold instead of using the first 64 coordinates
    embs.select(col("vec_id"), expr(
      "aggregate(zip_with(slice(embedding, 1, 64), sequence(0, 63), (v, i) -> " +
        "IF(v > CAST(0 AS FLOAT), shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
        "CAST(0 AS BIGINT), (a, x) -> a | x)").as("code"))

  /** Two-stage binary retrieval: Hamming scan over the 8-byte codes proposes
    * [[rerankCandidates]] per query (ASC distance, vec_id ties), then ONLY
    * those pairs are re-scored with the exact quantized cosine — the
    * [[sq8RerankTopK]] shape at 4× less candidate-scan I/O. At 100 TB the
    * corpus is touched once through one BIGINT per vector (codes never
    * shuffle; queries, candidates, and the rerank frame broadcast) — the
    * binary-code sweep every embedding-heavy pipeline runs before the
    * precise stage.
    */
  def binaryTopK(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val codes = binaryCodes(embs)
    val queries = codes.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("code").as("q_code"))
    val scored = codes.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        bit_count(col("code").bitwiseXOR(col("q_code"))).cast("long").as("hamming"))
    val cw = Window.partitionBy("query_id").orderBy(col("hamming").asc, col("neighbor_id"))
    val cand = scored.withColumn("rank", row_number().over(cw))
      .filter(col("rank") <= rerankCandidates)
      .select(col("query_id"), col("neighbor_id"))
    val corpus = embs.select(col("vec_id"), col("embedding"),
      GraftExpressions.qdot(col("embedding"), col("embedding")).as("n2"))
    val qe = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val rescored = corpus.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(qe), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosQ(col("q_emb"), col("embedding"), col("q_n2"), col("n2")).as("cos"))
    rankTopK(rescored, k)
  }

  /** [[binaryTopK]] with the Hamming stage through the bounded
    * [[TopKAggregator]] (score = −hamming, so the DESC/id-ASC buffer order
    * IS hamming-ASC/id-ASC — results interchangeable with the window
    * formulation): each task reduces its partition to ≤ 50 candidates
    * map-side before any shuffle, so the corpus-×-queries scored frame never
    * shuffles — the formulation that survives a 100 TB corpus, per the
    * [[bruteForceTopKAgg]] convention. The exact refine tail is unchanged
    * (it only ever sees the bounded candidate frame).
    */
  def binaryTopKAgg(embs: DataFrame, queryPred: Column, k: Int = defaultK): DataFrame = {
    GraftExpressions.register(embs.sparkSession)
    val spark = embs.sparkSession
    import spark.implicits._
    val codes = binaryCodes(embs)
    val queries = codes.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("code").as("q_code"))
    val scored = codes.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        bit_count(col("code").bitwiseXOR(col("q_code"))).cast("long").as("hamming"))
      .as[(Long, Long, Long)]
    val cand = scored.groupByKey(_._1)
      .agg(new TopKAggregator[(Long, Long, Long)](rerankCandidates,
        { case (_, id, h) => Scored(id, -h.toDouble) }).toColumn)
      .flatMap { case (q, top) => top.iterator.map(s => (q, s.id)) }
      .toDF("query_id", "neighbor_id")
    val corpus = embs.select(col("vec_id"), col("embedding"),
      GraftExpressions.qdot(col("embedding"), col("embedding")).as("n2"))
    val qe = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val rescored = corpus.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(qe), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Dedup.cosQ(col("q_emb"), col("embedding"), col("q_n2"), col("n2")).as("cos"))
    rankTopK(rescored, k)
  }

  /** Oracle CTEs ending in `codes(vec_id, code)` — HUGEINT bit accumulation
    * folded two's-complement to signed 64-bit (the media dhash convention).
    */
  private val binaryCodesCtes =
    """bh AS (SELECT vec_id,
      |         list_sum(list_transform(generate_series(0, 63), i ->
      |           CASE WHEN embedding[i+1] > 0 THEN 1::HUGEINT << i
      |                ELSE 0::HUGEINT END)) AS hu
      |       FROM embeddings),
      |codes AS (SELECT vec_id,
      |            CAST(COALESCE(hu, 0) - CASE WHEN COALESCE(hu, 0) >= 1::HUGEINT << 63
      |                           THEN 1::HUGEINT << 64 ELSE 0::HUGEINT END
      |                 AS BIGINT) AS code
      |          FROM bh)""".stripMargin

  def ops: Seq[Op] = Seq(
    // Farthest-point diverse sample (k-center greedy coreset).
    Op.sql("sim_fps_sample", fpsOracle) { (s, d) =>
      fpsSample(Tables.embeddings(s, d))
    },

    // MMR-diversified rerank of the IVF candidate list.
    Op.sql("sim_mmr_rerank", mmrOracle) { (s, d) =>
      mmrRerank(Tables.embeddings(s, d))
    },

    // Int8 scalar-quantized corpus representation.
    Op.sql("sim_sq8_codes",
      s"""WITH $sq8CodesCtes
         |SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim, code
         |FROM (SELECT vec_id, unnest(generate_series(1, len(codes))) AS i,
         |             unnest(codes) AS code FROM codes)""".stripMargin) { (s, d) =>
      sq8Codes(Tables.embeddings(s, d))
    },

    // Brute-force search over the compressed codes.
    Op.sql("sim_topk_sq8",
      s"""WITH $sq8CodesCtes,
         |$sq8ScoredCte,
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, qscore, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $defaultK""".stripMargin) { (s, d) =>
      sq8TopKFrom(storedIndex(s, d).select(col("vec_id"), col("sq8").as("codes")),
        col("vec_id") < 5)
    },

    // The composed IVF→SQ8-scan→exact-refine stack, one oracle.
    Op.sql("sim_topk_ivf_sq8",
      s"""WITH $ivfAssignedCte,
         |$sq8CodesCtes,
         |ix AS (SELECT a.vec_id, a.cell, c.codes
         |       FROM assigned a JOIN codes c USING (vec_id)),
         |q AS (SELECT vec_id AS query_id, cell AS q_cell, codes AS q_codes
         |      FROM ix WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, x.vec_id AS neighbor_id,
         |         CAST(list_sum([CAST(p[1] AS BIGINT) * p[2]
         |                        FOR p IN list_zip(x.codes, q.q_codes)]) AS BIGINT) AS qscore
         |  FROM ix x JOIN q ON x.cell = q.q_cell AND x.vec_id <> q.query_id),
         |cr AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY qscore DESC, neighbor_id) AS rank
         |  FROM scored),
         |cand AS (SELECT query_id, neighbor_id FROM cr WHERE rank <= $rerankCandidates),
         |ev AS (
         |  SELECT vec_id, embedding, ${GraftExpressions.qdotSql("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |rescored AS (
         |  SELECT c.query_id, c.neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM cand c
         |  JOIN ev v ON v.vec_id = c.neighbor_id
         |  JOIN ev q ON q.vec_id = c.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM rescored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $defaultK""".stripMargin) { (s, d) =>
      ivfSq8TopKFrom(
        storedIndex(s, d).select(col("vec_id"), col("cell"), col("sq8").as("codes")),
        Tables.embeddings(s, d), col("vec_id") < 5)
    },

    // Candidate-generation → exact re-rank, composed in one oracle.
    Op.sql("sim_topk_rerank",
      s"""WITH $sq8CodesCtes,
         |$sq8ScoredCte,
         |c_ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS rank
         |  FROM scored),
         |cand AS (SELECT query_id, neighbor_id FROM c_ranked WHERE rank <= $rerankCandidates),
         |ev AS (
         |  SELECT vec_id, embedding, ${GraftExpressions.qdotSql("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |rescored AS (
         |  SELECT c.query_id, c.neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM cand c
         |  JOIN ev v ON v.vec_id = c.neighbor_id
         |  JOIN ev q ON q.vec_id = c.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM rescored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $defaultK""".stripMargin) { (s, d) =>
      sq8RerankTopKFrom(storedIndex(s, d).select(col("vec_id"), col("sq8").as("codes")),
        Tables.embeddings(s, d), col("vec_id") < 5)
    },

    // Same query through the bounded aggregator — must equal the window
    // formulation's oracle exactly (same scores, same tie-break).
    Op.sql("sim_topk_agg", bruteForceOracle(defaultK.toString)) { (s, d) =>
      bruteForceTopKAgg(Tables.embeddings(s, d), col("vec_id") < 5)
    },

    Op.sql("sim_topk_bruteforce",
      s"""WITH ev AS (
         |  SELECT vec_id, embedding, ${GraftExpressions.qdotSql("embedding", "embedding")} AS n2
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM ev q JOIN ev v ON v.vec_id <> q.vec_id
         |  WHERE q.vec_id < 5),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $defaultK""".stripMargin) { (s, d) =>
      bruteForceTopK(Tables.embeddings(s, d), col("vec_id") < 5)
    },

    Op.sql("sim_topk_ivf",
      s"""WITH $ivfAssignedCte,
         |scored AS (
         |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM assigned q JOIN assigned v ON v.cell = q.cell AND v.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $defaultK""".stripMargin) { (s, d) =>
      ivfTopK(Tables.embeddings(s, d), col("vec_id") < 20)
    },

    Op.sql("sim_ivf_train_step",
      s"""WITH $ivfAssignedCte,
         |members AS (SELECT cell, COUNT(*) AS n_members FROM assigned GROUP BY cell),
         |sums AS (
         |  SELECT cell, i - 1 AS dim,
         |         CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1073741824) AS BIGINT)) AS BIGINT) AS sx
         |  FROM (SELECT cell, unnest(generate_series(1, len(embedding))) AS i,
         |               unnest(embedding) AS x
         |        FROM assigned)
         |  GROUP BY cell, i)
         |SELECT s.cell, s.dim,
         |       CAST(s.sx AS DOUBLE) / 1073741824 / m.n_members AS centroid, m.n_members
         |FROM sums s JOIN members m USING (cell)""".stripMargin) { (s, d) =>
      ivfTrainStep(Tables.embeddings(s, d))
    },

    // Full Lloyd loop: the fixed iteration count unrolls into a composed
    // CTE chain (assign→means→codebook per round — the dedup_clusters
    // recipe), so the whole training run is oracle-checked bit-for-bit.
    // Each round's codebook is float-cast exactly like kmeansTrain's
    // driver codebook (`e.map(_.toFloat)` ⇔ CAST(mean AS REAL)); the final
    // output is the LAST round's exact double means.
    Op.sql("sim_kmeans_train", kmeansTrainSql) { (s, d) =>
      kmeansTrain(Tables.embeddings(s, d))
    },

    Op.sql("sim_topk_ivf_multiprobe",
      s"""WITH $ivfAssignedCte,
         |qc AS (
         |  SELECT query_id, embedding, n2, cell FROM (
         |    SELECT e.vec_id AS query_id, e.embedding,
         |           ${GraftExpressions.qdotSql("e.embedding", "e.embedding")} AS n2,
         |           c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${GraftExpressions.qdotSql("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
         |    FROM embeddings e CROSS JOIN cent c
         |    WHERE e.vec_id < 20)
         |  WHERE rn <= $ivfProbes),
         |scored AS (
         |  SELECT q.query_id, v.vec_id AS neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM qc q JOIN assigned v ON v.cell = q.cell AND v.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $defaultK""".stripMargin) { (s, d) =>
      ivfMultiprobeTopK(Tables.embeddings(s, d), col("vec_id") < 20)
    },

    // Recall@k of each ANN method vs brute force — the index-evaluation
    // harness, one row per method, exact integers on the ppm grid.
    // Embedding delivery audit: zero-norm count + quantized norm range.
    Op.sql("sim_norm_stats",
      s"""WITH nn AS (
         |  SELECT ${GraftExpressions.qdotSql("embedding", "embedding")} AS n2
         |  FROM embeddings)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |       CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |       CAST(MIN(n2) AS BIGINT) AS min_n2,
         |       CAST(MAX(n2) AS BIGINT) AS max_n2,
         |       CAST(SUM(n2) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS avg_n2
         |FROM nn""".stripMargin) { (s, d) =>
      normStats(Tables.embeddings(s, d))
    },

    // IVF index health: cell-population stats + skew ratio (balanced = 1e6).
    Op.sql("sim_ivf_cell_stats",
      s"""WITH $ivfAssignedCte,
         |sz AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS sz
         |       FROM assigned GROUP BY 1)
         |SELECT CAST($ivfCells AS BIGINT) AS n_cells,
         |       CAST(COUNT(*) AS BIGINT) AS n_nonempty,
         |       CAST(SUM(sz) AS BIGINT) AS n_vectors,
         |       CAST(MIN(sz) AS BIGINT) AS min_cell,
         |       CAST(MAX(sz) AS BIGINT) AS max_cell,
         |       CAST(MAX(sz) * $ivfCells * 1000000 AS BIGINT)
         |         // CAST(SUM(sz) AS BIGINT) AS skew_ppm
         |FROM sz""".stripMargin) { (s, d) =>
      ivfCellStats(Tables.embeddings(s, d))
    },

    // Incremental vector-index maintenance: the batch (vec_id % 7 == 0,
    // above the seeds) encodes against the STORED coarse quantizer, and the
    // stored side's cell stats aggregate the build-once index artifact —
    // the corpus is never re-encoded. The per-cell report carries fill,
    // residual drift, and the retrain flag.
    Op.sql("sim_index_append", indexAppendOracle) { (s, d) =>
      val embs = Tables.embeddings(s, d)
      val corpusPred = col("vec_id") < ivfCells ||
        pmod(col("vec_id"), lit(appendMod)) =!= 0
      ivfIndexAppendFrom(
        storedIndex(s, d).filter(corpusPred).select(col("cell"), col("resid")),
        embs.filter(!corpusPred),
        embs.filter(col("vec_id") < ivfCells)
          .select(col("vec_id").as("cell"), col("embedding").as("c_emb")))
    },

    // Matryoshka truncation evaluation: recall@k of first-m-dims exact
    // search vs the full-dimension exact neighbors.
    Op.sql("sim_truncated_recall", {
      def bfCte(tag: String, embExpr: String) =
        s"""ev$tag AS (
           |  SELECT vec_id, $embExpr AS embedding,
           |         ${GraftExpressions.qdotSql(embExpr, embExpr)} AS n2
           |  FROM embeddings),
           |sc$tag AS (
           |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           |         ${Dedup.cosQSql("q", "v")} AS cos
           |  FROM ev$tag q JOIN ev$tag v ON v.vec_id <> q.vec_id
           |  WHERE q.vec_id < 5),
           |r$tag AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |                                 ORDER BY cos DESC, neighbor_id) AS rank
           |    FROM sc$tag) WHERE rank <= $defaultK)""".stripMargin
      val perDim = truncDims.map(m => bfCte(s"$m", s"embedding[1:$m]")).mkString(",\n")
      val union = truncDims
        .map(m => s"SELECT CAST($m AS BIGINT) AS dims, query_id, neighbor_id FROM r$m")
        .mkString("\n  UNION ALL ")
      s"""WITH ${bfCte("f", "embedding")},
         |$perDim,
         |tr AS (
         |  $union),
         |hits AS (
         |  SELECT t.dims, CAST(COUNT(*) AS BIGINT) AS hits
         |  FROM tr t JOIN rf USING (query_id, neighbor_id) GROUP BY 1),
         |expc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_expected FROM rf),
         |dimsv AS (SELECT CAST(unnest([${truncDims.mkString(", ")}]) AS BIGINT) AS dims)
         |SELECT d.dims, COALESCE(h.hits, 0) AS hits, e.n_expected,
         |       (COALESCE(h.hits, 0) * 1000000) // e.n_expected AS recall_ppm
         |FROM dimsv d LEFT JOIN hits h USING (dims) CROSS JOIN expc e""".stripMargin
    }) { (s, d) =>
      truncatedRecall(Tables.embeddings(s, d))
    },

    Op.sql("sim_ann_recall_report", annRecallOracle) { (s, d) =>
      annRecallReport(Tables.embeddings(s, d))
    },

    // Exact k-NN graph blocked by IVF cells — every vector is a query; the
    // clustering/SemDeDup precursor artifact.
    Op.sql("sim_knn_graph",
      s"""WITH $ivfAssignedCte,
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id, ${Dedup.cosQSql("a", "b")} AS cos
         |  FROM assigned a JOIN assigned b
         |    ON b.cell = a.cell AND b.vec_id <> a.vec_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT vec_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $knnK""".stripMargin) { (s, d) =>
      knnGraph(Tables.embeddings(s, d))
    },

    Op.sql("dedup_semantic_cells",
      s"""WITH $ivfAssignedCte
         |SELECT cell, vec_a, vec_b, cos FROM (
         |  SELECT a.cell AS cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         ${Dedup.cosQSql("a", "b")} AS cos
         |  FROM assigned a JOIN assigned b
         |    ON b.cell = a.cell AND a.vec_id < b.vec_id)
         |WHERE cos >= ${Dedup.cosineTau}""".stripMargin) { (s, d) =>
      semanticCellPairs(Tables.embeddings(s, d))
    },

    // Topic-balanced subsample: every IVF cell capped at cellQuotaN vectors.
    Op.sql("sample_cell_quota",
      s"""WITH $ivfAssignedCte
         |SELECT vec_id, cell,
         |  CAST(cell_rank AS BIGINT) AS cell_rank,
         |  CAST(cell_size AS BIGINT) AS cell_size,
         |  CAST(CASE WHEN cell_rank <= $cellQuotaN THEN 1 ELSE 0 END AS INTEGER)
         |    AS cq_keep
         |FROM (
         |  SELECT vec_id, cell,
         |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS cell_rank,
         |    COUNT(*) OVER (PARTITION BY cell) AS cell_size
         |  FROM assigned)""".stripMargin) { (s, d) =>
      cellQuota(Tables.embeddings(s, d))
    },

    Op.sql("sim_pq_codes",
      s"""WITH $pqCodedCtes
         |SELECT vec_id, subspace, code FROM coded""".stripMargin) { (s, d) =>
      pqCodes(Tables.embeddings(s, d))
    },

    Op.sql("sim_topk_pq_adc", pqAdcOracle) { (s, d) =>
      pqAdcTopKFrom(storedIndex(s, d), Tables.embeddings(s, d), col("vec_id") < 5)
    },

    // Same ADC scan through the bounded aggregator — must equal the window
    // formulation's oracle exactly (same integer scores, same tie-break).
    Op.sql("sim_topk_pq_adc_agg", pqAdcOracle) { (s, d) =>
      pqAdcTopKAggFrom(storedIndex(s, d), Tables.embeddings(s, d), col("vec_id") < 5)
    },

    // One per-subspace Lloyd step over the seed-coded corpus — the PQ
    // codebook-quality lever (VERDICT r3 #6), exact integers end to end.
    Op.sql("sim_pq_train_step", pqTrainStepOracle) { (s, d) =>
      pqTrainStep(Tables.embeddings(s, d))
    },

    // The FULL per-subspace Lloyd loop (VERDICT r4 #7): pqTrainStep iterated
    // the kmeansTrain way, composed unrolled oracle per round.
    Op.sql("sim_pq_train", pqTrainOracle) { (s, d) =>
      pqTrain(Tables.embeddings(s, d))
    },

    // The ADC scan against the refined codebook: train step → float
    // codewords → re-encode → search, all composed in one oracle.
    Op.sql("sim_topk_pq_adc_refined", pqAdcRefinedOracle) { (s, d) =>
      pqAdcTopKRefined(Tables.embeddings(s, d), col("vec_id") < 5)
    },

    // IVF-PQ: coarse cells bound the candidate count, stored PQ codes bound
    // the bytes per candidate — the composed production ANN read path.
    Op.sql("sim_topk_ivfpq", ivfpqOracle) { (s, d) =>
      ivfpqTopKFrom(storedIndex(s, d), Tables.embeddings(s, d), col("vec_id") < 5)
    },

    Op.sql("sim_topk_lsh",
      s"""WITH ${Dedup.bucketedWithNormSql},
         |scored AS (
         |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM bv q JOIN bv v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $defaultK""".stripMargin) { (s, d) =>
      lshTopK(Tables.embeddings(s, d), col("vec_id") < 20)
    },

    // The stored binary index artifact (one BIGINT per vector) — the
    // sim_pq_codes / sim_sq8_codes convention for the 32x tier.
    Op.sql("sim_binary_codes",
      s"""WITH $binaryCodesCtes
         |SELECT vec_id, code FROM codes""".stripMargin) { (s, d) =>
      binaryCodes(Tables.embeddings(s, d))
    },

    // Binary Hamming scan -> exact rerank, one composed plan: both engines
    // run the identical sign-pack, candidate ranking (hamming ASC, vec_id
    // ties) and quantized-cosine refine, so the full two-stage result is
    // bit-reproducible.
    Op.sql("sim_topk_binary", binaryTopKOracle) { (s, d) =>
      binaryTopK(Tables.embeddings(s, d), col("vec_id") < 5)
    },

    // The bounded-aggregator formulation: identical rows (the -hamming
    // buffer order IS the window's hamming-ASC/id-ASC), so it shares the
    // window variant's oracle verbatim — what changes is the PLAN (map-side
    // <=50-candidate reduction; the scored frame never shuffles).
    Op.sql("sim_topk_binary_agg", binaryTopKOracle) { (s, d) =>
      binaryTopKAgg(Tables.embeddings(s, d), col("vec_id") < 5)
    },
  )

  /** Shared oracle of [[binaryTopK]] / [[binaryTopKAgg]] (same rows by
    * construction).
    */
  private lazy val binaryTopKOracle: String =
      s"""WITH $binaryCodesCtes,
         |q AS (SELECT vec_id AS query_id, code AS q_code FROM codes WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |         CAST(bit_count(xor(c.code, q.q_code)) AS BIGINT) AS hamming
         |  FROM codes c JOIN q ON c.vec_id <> q.query_id),
         |cr AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY hamming, neighbor_id) AS rank
         |  FROM scored),
         |cand AS (SELECT query_id, neighbor_id FROM cr WHERE rank <= $rerankCandidates),
         |ev AS (SELECT vec_id, embedding,
         |              ${GraftExpressions.qdotSql("embedding", "embedding")} AS n2
         |       FROM embeddings),
         |rescored AS (
         |  SELECT c.query_id, c.neighbor_id, ${Dedup.cosQSql("q", "v")} AS cos
         |  FROM cand c
         |  JOIN ev v ON v.vec_id = c.neighbor_id
         |  JOIN ev q ON q.vec_id = c.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM rescored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $defaultK""".stripMargin
}
