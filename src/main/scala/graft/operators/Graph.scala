package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Op
import graft.sources.Tables

/** Graph analytics over relationships the warehouse already holds — here the
  * product co-purchase graph (parts bought together in one order). The
  * reference has no graph layer at all; this is the extension-surface module
  * for link-structure signals (product importance, recommendation seeds).
  *
  * Everything is expressed as plain Catalyst plans — edges are a DataFrame,
  * an iteration is a join + aggregate — so AQE, broadcast selection, and
  * whole-stage codegen apply as usual. Iterative ranks `localCheckpoint`
  * every round (the shared-subtree plan-walk lesson from
  * [[Dedup.connectedComponents]]).
  *
  * Determinism contract: ranks live on a 2^40 integer grid and every
  * operation is integer multiply / integer divide / integer sum — sums of
  * longs are associative, so results are bit-identical regardless of
  * partitioning, and the DuckDB oracle (same grid, `//` for `div`) matches
  * exactly. No floating point anywhere: float addition is non-associative,
  * so a double-valued PageRank would differ run to run at scale. All
  * quantities are non-negative, where truncating (`div`) and flooring
  * (`//`) division agree.
  */
object Graph {

  /** Rank grid: 2^40 steps of probability mass. */
  val prGrid: Long = 1L << 40

  /** Damping factor 0.85 as the rational 17/20 — exact in integer ops. */
  val prDampNum = 17L
  val prDampDen = 20L

  /** Fixed iteration count for the registered query (unrolled in the oracle). */
  val prIters = 3

  /** Baskets above this size are dropped when building edges (degenerate
    * mega-orders — same guard and value as [[Analytics.basketMaxItems]]).
    */
  val copurchaseCap: Int = Analytics.basketMaxItems

  /** Symmetric weighted co-purchase edges: w(a,b) = number of (size-capped)
    * orders containing both products. One shuffle to basket grain, pairs
    * exploded within each basket (bounded by [[copurchaseCap]]² per order),
    * one aggregate to edge grain — never an order-keyed self-join of the
    * fact table.
    */
  /** Distinct user→product purchase edges — the bipartite graph [[salsa]]
    * walks. Unlike [[copurchaseEdges]] there is no pair explosion to cap:
    * the edge count is bounded by the order-items row count.
    */
  def userProductEdges(orders: DataFrame, items: DataFrame): DataFrame =
    items.select(col("order_id"), col("product_id"))
      .join(orders.select(col("order_id"), col("user_id")), "order_id")
      .select(col("user_id").as("u"), col("product_id").as("p"))
      .distinct()

  def copurchaseEdges(orderItems: DataFrame): DataFrame = {
    val baskets = orderItems
      .groupBy(col("order_id"))
      .agg(array_sort(collect_set(col("product_id"))).as("items"))
      .filter(size(col("items")) <= copurchaseCap)
    baskets
      .select(explode(flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + lit(2), size(col("items"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("w"))
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst"), col("w")),
        struct(col("b").as("src"), col("a").as("dst"), col("w")))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.w"))
  }

  /** Broadcast ceiling for node-grain STATE frames in the iterative ops
    * (ranks / labels / distances). Below it, broadcasting the state into
    * the edge join keeps the persisted edge table from ever re-shuffling;
    * above it, every task rebuilding a corpus-proportional hash map per
    * round dominates the wall clock (measured: the unconditional hint
    * drove label propagation to 19.4× wall for 10× data at sf10 — PERF.md
    * round 7) and at web scale outright breaks. Past the ceiling the ops
    * pre-partition the edges by `src` ONCE and let the per-round join
    * shuffle only the node-grain state — the bucketed-Pregel shape whose
    * per-round cost is one state shuffle, never an edge shuffle.
    */
  val stateBroadcastMaxNodes = 1L << 20

  private def stateHint(state: DataFrame, nNodes: Long): DataFrame =
    if (nNodes <= stateBroadcastMaxNodes) broadcast(state)
    // past the ceiling: UNHINTED — AQE picks the state-join strategy from
    // runtime stats (measured at sf10: AQE's choice 568 s vs a pinned
    // SHUFFLE_HASH 630 s vs the old pinned broadcast 800 s). The edge side
    // is hash-partitioned by src once (loopEdges), so whatever AQE picks,
    // only the node-grain state pays a per-round exchange.
    else state

  /** Pre-partition AND pre-sort the persisted loop edge table by `src`
    * above the broadcast ceiling. The fan-out is SIZE-BASED, estimated from
    * `sizeOf` (the raw edge frame, scan/narrow-rooted — NOT `e`, which may
    * be join-rooted and carry a multiplied garbage estimate): the implicit
    * `spark.sql.shuffle.partitions` this replaces left a 60 M-edge table on
    * 32 partitions at sf10 (PERF.md r7), and AQE only coalesces down — the
    * grow direction must be explicit.
    *
    * `sortWithinPartitions(src)` (r13): above the ceiling the per-round
    * state join plans as a sort-merge join, and an InMemoryRelation
    * propagates its cached plan's outputOrdering — so a cache sorted by the
    * join key ONCE serves every round's merge scan directly, where the
    * unsorted cache paid an O(E log E) edge-side Sort PER ROUND (measured
    * at sf10, 239 M edges: LPA round 1 wall 486 s → 51 s, round-1 task GC
    * 805 s → 36 s; the sorted columnar cache also builds cheaper because
    * clustered runs RLE-compress). Below the ceiling the state broadcasts
    * and the frame is returned untouched — small-fixture plans unchanged.
    */
  private def loopEdges(e: DataFrame, sizeOf: DataFrame, nNodes: Long): DataFrame =
    if (nNodes <= stateBroadcastMaxNodes) e
    else e.repartition(graft.Scale.partitionsFor(sizeOf), col("src"))
      .sortWithinPartitions(col("src"))

  /** Weighted PageRank on the 2^40 integer grid, fixed iteration count.
    *
    * Per round: every node sends `(p · w) div out_weight` along each out-edge
    * (one edge-grain join against the rank frame), contributions sum at the
    * destination (one aggregate), and
    * `p' = base + (17 · Σ) div 20` with `base = ((2^40 · 3) div 20) div N`.
    * Symmetric edges mean no dangling nodes (every node in the graph has
    * out-degree ≥ 1); nodes are exactly the edge endpoints.
    *
    * Scale shape: up to [[stateBroadcastMaxNodes]] the rank state lives on
    * the driver ([[driverRanks]]): each round is one broadcast join into the
    * persisted edges plus one aggregate, collected. Past the ceiling the op
    * switches itself to the bucketed shape — edges pre-partitioned by `src`
    * once, only the rank frame shuffles per round; the recurrence is
    * unchanged.
    */
  def pageRank(edges: DataFrame, iters: Int = prIters): DataFrame =
    // every node a seed: the personalized recurrence IS the global one
    ranks(edges, lit(true), iters, "pagerank")

  /** Personalized PageRank: identical recurrence to [[pageRank]] except the
    * teleport mass returns ONLY to the seed set — `base(v) = ((2^40·3) div
    * 20) div |seeds|` for seeds, 0 otherwise, and `p0` spreads the full grid
    * over the seeds. Rank then measures proximity to the seeds through
    * weighted co-purchase structure: the "products related to this basket"
    * recommendation primitive. Same integer-grid determinism and scale
    * shapes as the global walk.
    */
  def personalizedPageRank(edges: DataFrame, seedPred: Column,
      iters: Int = prIters): DataFrame =
    ranks(edges, seedPred, iters, "pagerank_personalized").filter(col("rank_q") > 0)

  /** The shared PageRank recurrence over the (node, ow, seed) frame: rank
    * state on the driver while `onDriver(n)` ([[driverRanks]]), the
    * bucketed shape otherwise ([[bucketedRanks]]). The node frame is
    * collected with a limit one past the ceiling, so a sub-ceiling graph
    * pays one aggregate for both its node count and its driver state.
    * Output: (product_id, rank_q) for every node.
    */
  private[graft] def ranks(edges: DataFrame, seedPred: Column, iters: Int, loop: String,
      onDriver: Long => Boolean = _ <= stateBroadcastMaxNodes): DataFrame = {
    val nodes = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      .select(col("src").as("node"), col("ow"), coalesce(seedPred, lit(false)).as("seed"))
    val local = nodes.limit(stateBroadcastMaxNodes.toInt + 1).collect()
    if (onDriver(local.length)) return driverRanks(edges, local, nodes.schema("node"), iters, loop)
    val persisted = nodes.persist()
    val r = bucketedRanks(edges, persisted, persisted.count(), iters, loop)
    persisted.unpersist()
    r
  }

  /** Past [[stateBroadcastMaxNodes]]: edges pre-partitioned by `src` once
    * ([[loopEdges]]), the rank frame checkpointed per round, and only the
    * node-grain state shuffles into the per-round edge join.
    */
  private def bucketedRanks(edges: DataFrame, nodes: DataFrame, n: Long, iters: Int,
      loop: String): DataFrame = {
    val e = loopEdges(edges.join(nodes.select(col("node").as("src"), col("ow")), "src"),
      edges, n).persist()
    val nSeeds = nodes.filter(col("seed")).count()
    val baseCol = when(col("seed"), lit(pprBase(nSeeds))).otherwise(lit(0L))
    // Round-0 state materialization (r9 LoopProf find): rounds 2+ read
    // their state from a checkpointed LogicalRDD while round 1 re-derived
    // the seed projection through the persisted node frame and paid the
    // first adaptive state exchange on top — a ~2× super-linear round-1
    // residual at sf10. Checkpointing the sized seed BEFORE the loop gives
    // round 1 exactly the shape rounds 2+ have; the one-time cost moves into
    // setup where the edge repartition already lives.
    var state = nodes.select(col("node"),
      when(col("seed"), lit(prGrid / nSeeds)).otherwise(lit(0L)).as("p"))
      .repartition(graft.Scale.partitionsFor(nodes), col("node"))
      .localCheckpoint()
    // profiling only: materialize the persisted edge table as "round 0" so
    // the per-round records measure the loop body alone, not the one-time
    // repartition+persist that round 1 would otherwise absorb
    if (graft.LoopProf.enabled) graft.LoopProf.timed(loop, 0)(e.count())
    (1 to iters).foreach { i =>
      graft.LoopProf.timed(loop, i) {
        val contrib = e.join(stateHint(state, n), e("src") === state("node"))
          .select(col("dst"), expr("(p * w) div ow").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        val prev = state
        state = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
          .select(col("node"),
            (baseCol +
              expr(s"($prDampNum * coalesce(s, CAST(0 AS BIGINT))) div $prDampDen"))
              .as("p"))
          .localCheckpoint()
        // bounded in-flight state: the eager checkpoint above no longer
        // reads prev, so round i-1's blocks release NOW, not at the end of
        // the query — at scale, iters × node-grain block accumulation is
        // storage pressure the loop never needs
        graft.Release.releaseCheckpoint(prev)
      }
    }
    e.unpersist()
    state.select(col("node").as("product_id"), col("p").as("rank_q"))
  }

  /** Teleport share of each seed in [[personalizedPageRank]]. */
  private def pprBase(nSeeds: Long): Long = {
    require(nSeeds > 0, "personalized PageRank needs at least one seed in the graph")
    (prGrid * (prDampDen - prDampNum) / prDampDen) / nSeeds
  }

  /** The PageRank recurrence below [[stateBroadcastMaxNodes]], with the
    * rank state on the driver. `rows` are the collected (node, ow, seed).
    * Each round broadcasts the nonzero (node, p, ow) state into one join
    * against the persisted edges, aggregates `Σ (p · w) div ow` per `dst`
    * and collects it; `p' = base(v) + (17 · Σ) div 20` is then applied on
    * the driver in exact `Long` arithmetic. This is [[bucketedRanks]]'
    * recurrence bit for bit (every quantity is a non-negative long, where
    * `/` and `div` agree; a zero-rank node contributes 0 either way),
    * without the per-round checkpoint and node-grain join.
    */
  private def driverRanks(edges: DataFrame, rows: Array[org.apache.spark.sql.Row],
      nodeField: StructField, iters: Int, loop: String): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = edges.sparkSession
    val ids = rows.map(_.get(0))
    val ow = rows.map(_.getLong(1))
    val seed = rows.map(_.getBoolean(2))
    val nSeeds = seed.count(identity).toLong
    val base = pprBase(nSeeds)
    val teleport = seed.map(if (_) base else 0L)
    var p = seed.map(if (_) prGrid / nSeeds else 0L)
    val index = ids.zipWithIndex.toMap
    val stateSchema = StructType(Seq(nodeField,
      StructField("p", LongType, nullable = false), StructField("ow", LongType, nullable = false)))
    val e = edges.select(col("src"), col("dst"), col("w")).persist()
    (1 to iters).foreach { i =>
      graft.LoopProf.timed(loop, i) {
        val live = ids.indices.filter(p(_) > 0).map(j => Row(ids(j), p(j), ow(j)))
        val state = spark.createDataFrame(java.util.Arrays.asList(live: _*), stateSchema)
        val s = new Array[Long](ids.length)
        e.join(broadcast(state), e("src") === state("node"))
          .groupBy(col("dst")).agg(sum(expr("(p * w) div ow")).as("s"))
          .collect()
          .foreach(r => index.get(r.get(0)).foreach(j => s(j) = r.getLong(1)))
        p = Array.tabulate(ids.length)(j => teleport(j) + prDampNum * s(j) / prDampDen)
      }
    }
    e.unpersist()
    val out = ids.indices.map(j => Row(ids(j), p(j)))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
      nodeField.copy(name = "product_id"), StructField("rank_q", LongType, nullable = false))))
  }

  /** Fixed iteration count for SALSA (unrolled in the oracle). */
  val salsaIters = 3

  /** SALSA hubs-and-authorities on the bipartite user→product purchase
    * graph (Lempel & Moran, "The stochastic approach for link-structure
    * analysis", WWW 2000) — the recommendation-ranking primitive HITS
    * popularized, in the degree-normalized variant large systems actually
    * run. Each round pushes hub mass u→p normalized by user degree
    * (`h div du` per edge) and authority mass p→u normalized by product
    * degree (`a div dp`): a random walk alternating sides, so, unlike raw
    * HITS (whose un-normalized sums grow ~degree× per round and overflow
    * any fixed grid), total mass is CONSERVED and every score stays on the
    * [[prGrid]] integer grid — same determinism contract as [[pageRank]]:
    * integer multiply/divide/sum only, bit-identical under any
    * partitioning, replayed exactly by the unrolled oracle.
    *
    * Output: one row per node, `node_type` 'hub' (users) / 'authority'
    * (products), `score_q` on the 2^40 grid.
    *
    * Scale shape: each half-step is one edge-grain join against node-grain
    * state (broadcast below [[stateBroadcastMaxNodes]], AQE's choice above
    * it) plus one hash aggregate — the [[pageRank]] loop shape with
    * ALTERNATING key sides, which above the ceiling takes two narrow
    * persisted edge copies (one per join key) so that no round exchanges
    * edge-grain rows; see the in-body comment for the sf10 measurement
    * behind that trade. State checkpoints per round and the predecessor
    * releases immediately (bounded in-flight blocks).
    */
  def salsa(bipartite: DataFrame, iters: Int = salsaIters): DataFrame = {
    val base = bipartite.persist()
    // degree frames persist: each round's node-grain normalization reads
    // them (r13 — degrees used to be JOINED ONTO EVERY EDGE ROW instead,
    // so each half-step paid the `div` per edge and the edge copies
    // carried a degree column; hoisting the division to node grain
    // (h div du is constant per u, so Σ over edges is unchanged — exact
    // integer equality, not an approximation) makes the edge frames pure
    // (u, p) and deleted the e = base⨝du⨝dp build outright, which alone
    // measured ~10 executor-cpu-s at sf0.1)
    val du = base.groupBy(col("u")).agg(count(lit(1)).as("du")).persist()
    val dp = base.groupBy(col("p")).agg(count(lit(1)).as("dp")).persist()
    val r = salsaLoop(base, du, dp, du.count(), dp.count(), iters)
    du.unpersist(); dp.unpersist(); base.unpersist()
    r
  }

  /** The SALSA iteration itself, over caller-provided (and caller-cached)
    * edge and degree frames — shared by [[salsa]] (derives them from a raw
    * bipartite frame) and [[salsaStored]] (reads the build-once bipartite
    * store, the [[storedEdges]] convention: the graph and its degrees are
    * ingest-time artifacts, so query time starts at the loop).
    */
  private[graft] def salsaLoop(base: DataFrame, du: DataFrame, dp: DataFrame,
      nU: Long, nP: Long, iters: Int): DataFrame = {
    val small = math.max(nU, nP) <= stateBroadcastMaxNodes
    // Past the broadcast ceiling, TWO narrow persisted copies — each
    // pre-partitioned by ITS half-step's join key — so no round ever
    // exchanges edge-grain rows (the per-round partial aggregate collapses
    // contributions to ~node grain before its exchange, as in pageRank).
    // 2× edge storage for zero per-round edge shuffles: measured at sf10
    // (1.5 M users > 2^20, ~55 M edges), the single-copy variant paid a
    // 55 M-row exchange + sort in every authority half-step and ran
    // 8 147 cpu-s with 36 GB spill — ×30 for the sf1→sf10 ×10 step, twice
    // the pagerank family's per-join cost; the dual-copy shape is the fix
    // (A/B in PERF.md r12 continuation). r13: the copies are (u, p) only —
    // the normalized contribution joins in at node grain.
    // (below the ceiling the single base frame serves both half-steps —
    // state broadcasts, so neither half-step shuffles edges anyway)
    val parts = if (small) 0 else graft.Scale.partitionsFor(base)
    // sortWithinPartitions on each copy's half-step key (r13): the
    // above-ceiling state join is a sort-merge join, and the cached sort
    // order serves every round's merge scan — the unsorted copies paid an
    // O(E log E) edge Sort per half-step (the loopEdges finding; see its
    // scaladoc for the sf10 A/B)
    val (eA, eH) = if (small) (base, base)
    else {
      (base.repartition(parts, col("u")).sortWithinPartitions(col("u")).persist(),
        base.repartition(parts, col("p")).sortWithinPartitions(col("p")).persist())
    }
    // node-grain degree frames co-partitioned with the loop state above the
    // ceiling, so the per-round normalization join never re-shuffles them
    val (duN, dpN) = if (small) (du, dp)
    else (du.repartition(parts, col("u")).persist(),
      dp.repartition(parts, col("p")).persist())
    var h = du.select(col("u"), lit(prGrid / nU).as("h"))
    // round-0 state materialization above the ceiling (the pageRank r9
    // LoopProf finding, re-measured here at sf10: round-1 cpu ran 1.7× of
    // round 3 because round 1 re-derived the seed through the degree
    // aggregate and paid the first state exchange on top; checkpointing the
    // seed at the edge copies' fan-out gives round 1 the shape rounds 2+
    // have)
    if (!small)
      h = h.repartition(parts, col("u")).localCheckpoint()
    var a: DataFrame = null
    // profiling only: materialize the persisted edge copies as "round 0" so
    // per-round records measure the loop body alone (pageRank convention)
    if (graft.LoopProf.enabled)
      graft.LoopProf.timed("salsa", 0) { eA.count(); eH.count() }
    (1 to iters).foreach { i =>
      graft.LoopProf.timed("salsa", i) {
        val (prevH, prevA) = (h, a)
        // normalization at NODE grain: hd(u) = h div du is constant per u,
        // so Σ_{(u,p)∈E} (h div du) = Σ_{(u,p)∈E} hd — bit-identical, and
        // the edge join ships one long per node instead of dividing per edge
        val hd = h.join(duN, "u")
          .select(col("u").as("hu"), expr("h div du").as("hd"))
        a = eA.join(stateHint(hd, nU), eA("u") === col("hu"))
          .select(col("p"), col("hd"))
          .groupBy(col("p")).agg(sum(col("hd")).as("a"))
          .localCheckpoint()
        val ad = a.join(dpN, "p")
          .select(col("p").as("ap"), expr("a div dp").as("ad"))
        h = eH.join(stateHint(ad, nP), eH("p") === col("ap"))
          .select(col("u"), col("ad"))
          .groupBy(col("u")).agg(sum(col("ad")).as("h"))
          .localCheckpoint()
        if (i > 1) graft.Release.releaseCheckpoint(prevH, prevA)
        else if (!small) graft.Release.releaseCheckpoint(prevH)
      }
    }
    if (!small) { eA.unpersist(); eH.unpersist(); duN.unpersist(); dpN.unpersist() }
    h.select(lit("hub").as("node_type"), col("u").as("node_id"),
        col("h").as("score_q"))
      .unionByName(a.select(lit("authority").as("node_type"),
        col("p").as("node_id"), col("a").as("score_q")))
  }

  /** Fixed iteration count for label propagation (unrolled in the oracle). */
  val lpaIters = 3

  /** Synchronous weighted label propagation — community detection with a
    * total-order determinism rule: every node starts labeled by its own id;
    * each round it adopts the label with the highest incoming edge-weight
    * mass, ties broken by SMALLEST label. Synchronous update + total
    * tie-break order make the result independent of partitioning and
    * execution order (asynchronous LPA is famously nondeterministic — that
    * variant cannot be oracle-checked and is deliberately not offered).
    *
    * Same scale shape as [[pageRank]]: label state is node-grain, broadcast
    * into the edge join below [[stateBroadcastMaxNodes]] and shuffled
    * against once-partitioned edges above it; the argmax runs as a hash
    * aggregate. Fixed rounds, `localCheckpoint` each.
    */
  def labelPropagation(edges: DataFrame, iters: Int = lpaIters): DataFrame = {
    val nodes = edges.select(col("src").as("node")).distinct().persist()
    val n = nodes.count()
    val e = loopEdges(edges.select(col("src"), col("dst"), col("w")), edges, n).persist()
    if (graft.LoopProf.enabled) graft.LoopProf.timed("lpa", 0)(e.count())
    var labels = nodes.select(col("node"), col("node").as("lab"))
    (1 to iters).foreach { i =>
      graft.LoopProf.timed("lpa", i) {
        // Two exchanges per round is the scale-correct shape (r13, examined
        // and kept): hash(dst, lab) for the tally KEEPS the map-side partial
        // aggregate, which reduces nothing in round 1 (labels near-distinct)
        // but collapses converged rounds ~24× (sf10 round 3: ~100 k groups
        // from 239 M joined rows) — a single hash(dst) repartition before
        // the aggregates would merge the two exchanges into one but shuffle
        // the full edge-grain row set EVERY round.
        val tally = e.join(stateHint(labels, n), e("src") === labels("node"))
          .groupBy(col("dst"), col("lab")).agg(sum(col("w")).as("wt"))
        // argmax by (wt desc, lab asc) as a HASH aggregate, not a sort window:
        // (wt, -lab) is unique per (dst, lab) row, so max_by is deterministic
        val prev = labels
        labels = tally.groupBy(col("dst").as("node"))
          .agg(max_by(col("lab"), struct(col("wt"), (-col("lab")).as("nl"))).as("lab"))
          .localCheckpoint()
        if (i > 1) graft.Release.releaseCheckpoint(prev) // bounded in-flight state (see pageRank)
      }
    }
    e.unpersist(); nodes.unpersist()
    labels.select(col("node").as("product_id"), col("lab").as("community"))
  }

  /** Hop limit for the registered BFS query (unrolled in the oracle). */
  val bfsHops = 3

  /** Hop-limited multi-source BFS: distance from the nearest seed, frontier
    * relaxation `d'(v) = min(d(v), min over in-edges d(src) + 1)` for a
    * fixed hop count. Node-grain distance state broadcasts per round (the
    * [[pageRank]] shape); unreached nodes drop from the output. Exact
    * integers throughout — nothing to drift.
    */
  def bfsDistances(edges: DataFrame, seedPred: Column,
      hops: Int = bfsHops): DataFrame = {
    // persisted for the loop — each hop's action would re-read the edge
    // store otherwise (same rationale as [[weightedSssp]]/[[pageRank]])
    val nodes = edges.select(col("src").as("node")).distinct().persist()
    val n = nodes.count()
    val e = loopEdges(edges.select(col("src"), col("dst")), edges, n).persist()
    var dist = nodes.select(col("node"),
      when(seedPred, lit(0)).otherwise(lit(null).cast(IntegerType)).as("d"))
    if (graft.LoopProf.enabled) graft.LoopProf.timed("bfs", 0)(e.count())
    (1 to hops).foreach { i =>
      graft.LoopProf.timed("bfs", i) {
        val relaxed = e.join(stateHint(dist.filter(col("d").isNotNull), n),
            e("src") === col("node"))
          .groupBy(col("dst")).agg((min(col("d")) + 1).as("nd"))
        val prev = dist
        dist = dist.join(relaxed, dist("node") === relaxed("dst"), "left")
          .select(dist("node"), least(col("d"), col("nd")).as("d"))
          .localCheckpoint()
        if (i > 1) graft.Release.releaseCheckpoint(prev) // bounded in-flight state (see pageRank)
      }
    }
    e.unpersist(); nodes.unpersist() // final dist state is checkpoint-materialized
    dist.filter(col("d").isNotNull)
      .select(col("node").as("product_id"), col("d").as("dist"))
  }

  /** Per-node triangle counts via degree orientation — the standard
    * skew-proof formulation: every undirected edge points from its
    * lower-(degree, id) endpoint to the higher one, wedges are generated
    * only at each edge's LOW endpoint (out-degrees under orientation are
    * O(√E)-bounded for real-world graphs — the hub that would explode a
    * naive wedge join becomes the TARGET of its edges, never the wedge
    * center), and each wedge probes the undirected edge set once. Every
    * triangle is found exactly once; the per-node explode then credits its
    * three corners.
    *
    * Joins: degree frame is node-grain (broadcast); the wedge self-join
    * keys on the wedge center; the closing probe keys on the (v1, v2) edge
    * pair — all equi-joins, AQE-splittable, no cross product anywhere.
    */
  /** Node-grain undirected degree over the symmetric edge table. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("n")).agg(count(lit(1)).as("dg"))

  /** Enumerate every triangle exactly once via DEGREE ORIENTATION — the
    * skew-proof core shared by [[triangleCounts]] and [[edgeJaccard]].
    * Each undirected edge points from its lower-(degree, id) endpoint to
    * the higher one; adjacency lists hold ONLY the oriented out-neighbors
    * N⁺ (O(√E)-bounded for real-world graphs — the bestseller hub becomes
    * the TARGET of its edges, so no row ever carries a hub-degree-sized
    * array), and a triangle a<b<c in the orientation order is found solely
    * at its lowest edge (a,b) as N⁺(a) ∩ N⁺(b) ∋ c. Output: one (u, v, w)
    * row per triangle, u→v oriented, w the apex.
    */
  /** Degree-oriented edges: every undirected edge as one (u, v) row with
    * (deg, id)(u) < (deg, id)(v).
    */
  def orientedEdges(edges: DataFrame): DataFrame = {
    val eu = edges.filter(col("src") < col("dst"))
      .select(col("src").as("s"), col("dst").as("d"))
    val deg = degrees(edges)
    val fwd = col("ds") < col("dd") || (col("ds") === col("dd") && col("s") < col("d"))
    eu
      .join(deg.select(col("n").as("s"), col("dg").as("ds")), "s")
      .join(deg.select(col("n").as("d"), col("dg").as("dd")), "d")
      .select(when(fwd, col("s")).otherwise(col("d")).as("u"),
        when(fwd, col("d")).otherwise(col("s")).as("v"))
  }

  /** N⁺ adjacency under degree orientation: per node, the sorted list of
    * its HIGHER-(deg, id) neighbors only — spec-pinned to stay within the
    * oriented out-degree bound on hub graphs (a star hub's list is empty).
    */
  def orientedAdjacency(edges: DataFrame): DataFrame =
    orientedEdges(edges).groupBy(col("u"))
      .agg(array_sort(collect_set(col("v"))).as("nbrs"))

  def orientedTriangles(edges: DataFrame): DataFrame = {
    // The oriented-edge frame feeds three consumers (the probe side and both
    // adjacency builds); localCheckpoint materializes it once instead of
    // re-deriving degrees + orientation per branch (the shared-subtree
    // plan-walk lesson — same as the iterative loops).
    val oe = orientedEdges(edges).localCheckpoint()
    val adjP = oe.groupBy(col("u"))
      .agg(array_sort(collect_set(col("v"))).as("nbrs"))
    oe
      .join(adjP.select(col("u"), col("nbrs").as("na")), "u")
      .join(adjP.select(col("u").as("v"), col("nbrs").as("nb")), "v")
      .select(col("u"), col("v"),
        explode(array_intersect(col("na"), col("nb"))).as("w"))
  }

  /** Modularity of the [[labelPropagation]] partition, per community on the
    * ppm grid: `Q_c = w_in/m − (d_c/m)²` with w_in the community's internal
    * directed weight, d_c its out-strength sum, m the total directed weight
    * — the standard "are these communities denser than chance" scorecard
    * that turns LPA from a label dump into an audited clustering (a
    * community with q_ppm ≤ 0 is no better than random wiring).
    *
    * Exactness: both ratio terms are floor divisions on the ppm grid and
    * `a²` is `(a_ppm · a_ppm) div 1e6` — all BIGINT, so the score is
    * partitioning-invariant. Plan: the LPA labels (node-grain, broadcast
    * by the same contract as LPA itself) join the edge list twice (src and
    * dst side) for w_in, once for d_c; community-grain aggregates after.
    */
  def modularity(edges: DataFrame): DataFrame =
    modularityOf(edges, labelPropagation(edges))

  /** [[modularity]] against an ALREADY-COMPUTED partition (the stored
    * community labels): the registered op consumes the build-once label
    * store, so the benchmarked plan is the scorecard itself, not a re-run
    * of the propagation it scores.
    */
  def modularityOf(edges: DataFrame, labels: DataFrame): DataFrame = {
    // eager checkpoint: the total-weight aggregate and both label joins
    // scan this as sibling stages of one action (lazy-cache race, r13)
    val e = edges.localCheckpoint()
    val comm = labels
    val m = e.agg(sum(col("w")).as("m"))
    val ca = comm.select(col("product_id").as("src"), col("community"))
    val cb = comm.select(col("product_id").as("dst"), col("community").as("cb"))
    val win = e.join(broadcast(ca), "src").join(broadcast(cb), "dst")
      .filter(col("community") === col("cb"))
      .groupBy(col("community")).agg(sum(col("w")).as("w_in"))
    val dcs = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      .join(broadcast(ca), "src")
      .groupBy(col("community")).agg(sum(col("ow")).as("dsum"))
    // e stays cached until the session's per-query cache clear — all three
    // consumers (w_in, d_c, m) and LPA's rounds read the same blocks
    dcs.join(win, Seq("community"), "left").crossJoin(broadcast(m))
      .select(col("community"), coalesce(col("w_in"), lit(0L)).as("w_in"),
        col("dsum"), col("m"))
      .select(col("community"), col("w_in"), col("dsum"),
        expr("""(w_in * 1000000) div m
               - (((dsum * 1000000) div m) * ((dsum * 1000000) div m)) div 1000000""")
          .as("q_ppm"))
  }

  /** Relaxation rounds for [[weightedSssp]] (diameter bound explored). */
  val ssspRounds = 4

  /** Edge length for [[weightedSssp]] on the integer grid: stronger
    * co-purchase ties are shorter — `1 + (1e6 div w)` — so the "distance"
    * between products is low along frequently-bought-together paths. The
    * +1 keeps every hop strictly positive (a zero-length hop would let
    * path length stop encoding hop effort on very heavy edges).
    */
  private def edgeLen: Column = expr("1 + (1000000 div w)")

  /** Single-source (multi-seed) weighted shortest paths: `rounds` synchronous
    * Bellman-Ford relaxations from the seed set, exact integer path lengths.
    * Per round: frontier state joins the edge list (state broadcast at node
    * grain — the documented bucketed fallback applies when nodes outgrow
    * broadcast), one dst-grain `min` aggregate, one `least` merge. Edges
    * never re-shuffle across rounds; state is node-grain, so per-round cost
    * is |E| map-side + |V| reduce — the [[bfsDistances]] plan with weighted
    * relaxation. Bounded rounds (not to-convergence) is deliberate: at
    * 100 TB the frontier beyond a few hops is the whole graph, and the
    * oracle pins the same bounded unrolling.
    */
  def weightedSssp(edges: DataFrame, seedPred: Column,
      rounds: Int = ssspRounds): DataFrame = {
    // persisted for the loop: each round's action re-reads the edge store
    // otherwise — `rounds` scans of a table that never changes mid-query
    // src ∪ dst: a sink-only node must still be reachable state
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct().persist()
    val n = nodes.count()
    val e = loopEdges(edges.select(col("src"), col("dst"), edgeLen.as("len")), edges, n)
      .persist()
    var dist = nodes.select(col("node"),
      when(seedPred, lit(0L)).otherwise(lit(null).cast(LongType)).as("d"))
    if (graft.LoopProf.enabled) graft.LoopProf.timed("sssp", 0)(e.count())
    (1 to rounds).foreach { i =>
      graft.LoopProf.timed("sssp", i) {
        val relaxed = e.join(stateHint(dist.filter(col("d").isNotNull), n),
            e("src") === col("node"))
          .groupBy(col("dst")).agg(min(col("d") + col("len")).as("nd"))
        val prev = dist
        dist = dist.join(relaxed, dist("node") === relaxed("dst"), "left")
          .select(dist("node"), least(col("d"), col("nd")).as("d"))
          .localCheckpoint()
        if (i > 1) graft.Release.releaseCheckpoint(prev) // bounded in-flight state (see pageRank)
      }
    }
    e.unpersist(); nodes.unpersist() // final dist state is checkpoint-materialized
    dist.filter(col("d").isNotNull)
      .select(col("node").as("product_id"), col("d").as("dist_q"))
  }

  /** Per-node triangle counts: credit the three corners of each enumerated
    * triangle — one explode + one node-grain aggregate over |triangles|
    * rows. The intermediate is the triangle set itself (the information-
    * theoretic floor for exact corner credits), never Σ C(deg, 2) wedges.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    orientedTriangles(edges)
      .select(explode(array(col("u"), col("v"), col("w"))).as("product_id"))
      .groupBy(col("product_id"))
      .agg(count(lit(1)).as("n_triangles"))

  /** Edge tie strength: neighborhood Jaccard of the two endpoints on the
    * ppm integer grid — `|N(u)∩N(v)| / |N(u)∪N(v)|`, the standard
    * link-strength / embeddedness score (an edge whose endpoints share most
    * neighbors is intra-community; one sharing none is a bridge).
    *
    * |N(u)∩N(v)| for an edge is exactly the number of triangles the edge
    * participates in, so the plan reuses [[orientedTriangles]]: each
    * triangle credits its three edges, an edge-grain aggregate yields the
    * common count, and node-grain degree joins supply |N(u)|, |N(v)| for
    * the denominator. NO adjacency arrays ride any edge row — the hub's
    * neighborhood never replicates, and per-edge cost is its triangle
    * count, not deg(u)+deg(v).
    */
  def edgeJaccard(edges: DataFrame): DataFrame = {
    val pair = (x: Column, y: Column) =>
      struct(least(x, y).as("a"), greatest(x, y).as("b"))
    val support = orientedTriangles(edges)
      .select(explode(array(
        pair(col("u"), col("v")),
        pair(col("u"), col("w")),
        pair(col("v"), col("w")))).as("p"))
      .groupBy(col("p.a").as("src"), col("p.b").as("dst"))
      .agg(count(lit(1)).as("tc"))
    val deg = degrees(edges)
    edges.filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))
      .join(support, Seq("src", "dst"), "left")
      .join(deg.select(col("n").as("src"), col("dg").as("da")), "src")
      .join(deg.select(col("n").as("dst"), col("dg").as("db")), "dst")
      .select(col("src"), col("dst"),
        coalesce(col("tc"), lit(0L)).as("common"), col("da"), col("db"))
      .select(col("src"), col("dst"), col("common"),
        expr("(common * 1000000) div (da + db - common)").as("jaccard_ppm"))
  }

  /** Walk length (steps) for [[randomWalks]]. */
  val walkLen = 3

  /** Walks started per seed node. */
  val walksPerSeed = 2

  /** Deterministic pseudo-random walk sampling — the node2vec/DeepWalk
    * corpus generator, made engine-portable: at step s, walk (seed, wid)
    * at node c moves to the neighbor n minimizing
    * `md5(seed|wid|s|c|n)` — a hash-derived uniform choice that is a PURE
    * FUNCTION of the walk identity and position, so every engine, every
    * partitioning, and every rerun samples the IDENTICAL walk corpus
    * (true RNG walks can never be oracle-checked or reproduced for
    * training-data lineage). Output: one row per (seed, wid, step, node)
    * visit.
    *
    * Scale shape: walk state is (seeds × walks) rows — broadcast into the
    * edge scan each step, the BFS/PageRank contract; per-step cost is one
    * broadcast join + a (seed, wid)-partitioned argmin window over the
    * candidate fan-out (bounded by Σ deg(current nodes)). Walks that
    * reach a sink simply end (inner join drops them) — impossible here on
    * the symmetric co-purchase graph but the defined semantics for
    * directed inputs.
    */
  def randomWalks(edges: DataFrame, seedPred: Column = col("node") < 8,
      steps: Int = walkLen, walks: Int = walksPerSeed): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var state = e.select(col("src").as("node")).distinct().filter(seedPred)
      .select(col("node").as("seed"),
        explode(sequence(lit(0), lit(walks - 1))).as("wid"))
      .select(col("seed"), col("wid"), lit(0).as("step"), col("seed").as("node"))
    var paths = state
    for (s <- 1 to steps) {
      val byWalk = Window.partitionBy(col("seed"), col("wid"))
        .orderBy(col("hv"), col("cand"))
      state = e.join(broadcast(state.select(col("seed"), col("wid"), col("node"))),
          col("src") === col("node"))
        .select(col("seed"), col("wid"), col("dst").as("cand"),
          md5(concat_ws("|", col("seed"), col("wid"), lit(s), col("node"),
            col("dst"))).as("hv"))
        .withColumn("rn", row_number().over(byWalk))
        .filter(col("rn") === 1)
        .select(col("seed"), col("wid"), lit(s).as("step"), col("cand").as("node"))
        .localCheckpoint()
      paths = paths.unionByName(state)
    }
    paths
  }

  /** Pair-counting Rand index between two node partitions on the ppm grid
    * — "do LPA's dense communities and the strong connected components
    * carve the graph the same way?" — the clustering-agreement audit that
    * needs NO logarithms (NMI does; the repo-wide exactness rule bans it):
    *   RI = (T − b1 − b2 + 2a) / T
    * with a = Σ_ij C(n_ij,2), b_k the per-partition pair sums, T = C(N,2)
    * — every term an exact BIGINT from cluster-size aggregates, never a
    * pair enumeration. RI = 1e6 ⟺ identical partitions.
    *
    * Scale: four aggregates over the node-grain label join; the ×1e6 grid
    * bounds N at ~4.3M nodes before BIGINT overflow — past that, compute
    * the index on a node sample (the standard practice for partition
    * comparison at web scale), which this op's shape supports unchanged.
    */
  def partitionAgreement(labelsA: DataFrame, labelsB: DataFrame): DataFrame = {
    val j = labelsA.join(labelsB, "product_id")
      .select(col("community").as("ca"), col("component_id").as("cb"))
      .localCheckpoint() // four sibling aggregates — lazy-cache race (r13)
    def pairSum(out: String, keys: Column*) =
      j.groupBy(keys: _*).agg(count(lit(1)).as("n"))
        .agg(sum(expr("(n * (n - 1)) div 2")).as(out))
    val a = pairSum("a", col("ca"), col("cb"))
    val b1 = pairSum("b1", col("ca"))
    val b2 = pairSum("b2", col("cb"))
    val t = j.agg(count(lit(1)).as("nn"))
      .select(col("nn"), expr("(nn * (nn - 1)) div 2").as("t"))
    t.crossJoin(broadcast(a)).crossJoin(broadcast(b1)).crossJoin(broadcast(b2))
      .select(col("nn").as("n_nodes"), col("a").as("both_pairs"),
        col("b1").as("a_pairs"), col("b2").as("b_pairs"),
        col("t").as("total_pairs"),
        expr("((t - b1 - b2 + 2*a) * 1000000) div t").as("rand_ppm"))
  }

  /** Skip-gram context window (steps) for [[walkSkipgrams]]. */
  val skipgramWindow = 2

  /** Skip-gram (center, context) pair counts from the [[randomWalks]]
    * corpus — the word2vec-style extraction a graph-embedding trainer
    * consumes: every ordered pair of visits within [[skipgramWindow]]
    * steps of each other on the same walk, aggregated to pair grain. The
    * join key is the walk identity (seed, wid), so the self-join fan-out
    * is bounded by walk length², never by graph size.
    */
  def walkSkipgrams(edges: DataFrame): DataFrame = {
    val w = randomWalks(edges)
      .select(col("seed"), col("wid"), col("step"), col("node"))
      .localCheckpoint()
    val a = w.select(col("seed"), col("wid"), col("step"), col("node").as("center"))
    val b = w.select(col("seed"), col("wid"), col("step").as("cstep"),
      col("node").as("context"))
    a.join(b, Seq("seed", "wid"))
      .filter(col("cstep") =!= col("step")
        && abs(col("cstep") - col("step")) <= skipgramWindow)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Shared walk-oracle CTE chain `w0..w{walkLen}` (after `e`). */
  private lazy val walksCtes: String = {
    def h(s: Int) =
      s"md5(CAST(p.seed AS VARCHAR) || '|' || CAST(p.wid AS VARCHAR) || '|' || " +
        s"'$s' || '|' || CAST(p.node AS VARCHAR) || '|' || CAST(e.dst AS VARCHAR))"
    val stepCtes = (1 to walkLen).map { s =>
      s"""w$s AS (
         |  SELECT seed, wid, $s AS step, cand AS node FROM (
         |    SELECT seed, wid, cand,
         |           ROW_NUMBER() OVER (PARTITION BY seed, wid
         |                              ORDER BY hv, cand) AS rn
         |    FROM (SELECT p.seed, p.wid, e.dst AS cand, ${h(s)} AS hv
         |          FROM w${s - 1} p JOIN e ON e.src = p.node))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""sv AS (SELECT DISTINCT src AS seed FROM e WHERE src < 8),
       |w0 AS (SELECT seed, wid, 0 AS step, seed AS node
       |       FROM sv CROSS JOIN (SELECT unnest(generate_series(0, ${walksPerSeed - 1}))
       |                           AS wid)),
       |$stepCtes""".stripMargin
  }

  /** UNION ALL of the walk-step CTEs. */
  private lazy val walksUnion: String = (0 to walkLen)
    .map(s => s"SELECT seed, wid, step, node FROM w$s")
    .mkString("\nUNION ALL ")

  /** Hub cap for [[linkPrediction]] wedge centers: a center with more
    * neighbors than this contributes no wedges. Principled, not a fudge —
    * each of a hub's wedges scores only `1/deg ≤ 1/cap` ppm (negligible by
    * construction), while its wedge COUNT is deg² (the one quadratic term
    * in the plan). Dropping hubs removes the blowup and only perturbs
    * scores below the 1/cap floor; the cap is part of the op's contract
    * and the oracle applies it identically.
    */
  val raHubCap = 64L

  /** Candidate pairs returned by [[linkPrediction]]. */
  val raTopN = 50

  /** Link prediction over the strong (w ≥ [[componentsMinW]]) co-purchase
    * subgraph via the RESOURCE-ALLOCATION index: for each non-adjacent
    * pair (a, b), `ra = Σ_{w ∈ N(a)∩N(b)} 1/deg(w)` — the classic
    * "recommend products that share well-connected common neighbors"
    * score, on the exact ppm grid (`1000000 div deg`, summed as BIGINT, so
    * ranking is partitioning-invariant).
    *
    * Plan: wedges are generated FROM THE CENTER — the symmetric edge list
    * self-joins on the center node, so each unordered neighbor pair
    * appears once via a < b — with centers degree-capped at [[raHubCap]]
    * BEFORE the join (the quadratic term is bounded by cap² per center,
    * never deg(hub)²); a (a, b) hash aggregate sums the scores; adjacency
    * is removed by a left_anti against the edge list; the global top-N is
    * TakeOrderedAndProject, never an unpartitioned window.
    */
  def linkPrediction(edges: DataFrame, minW: Long = componentsMinW,
      cap: Long = raHubCap, topN: Int = raTopN): DataFrame = {
    val e = edges.filter(col("w") >= minW).select(col("src"), col("dst"))
      .localCheckpoint() // degree/center/anti branches are siblings (r13)
    val deg = e.groupBy(col("src").as("n")).agg(count(lit(1)).as("dg"))
    val cen = e.select(col("src").as("c"), col("dst").as("x"))
      .join(deg.filter(col("dg") <= cap).select(col("n").as("c"), col("dg")), "c")
    val wedges = cen.select(col("c"), col("x").as("a"), col("dg"))
      .join(cen.select(col("c"), col("x").as("b")), "c")
      .filter(col("a") < col("b"))
    val scores = wedges.groupBy(col("a"), col("b"))
      .agg(sum(expr("1000000 div dg")).as("ra_ppm"),
        count(lit(1)).as("n_common"))
    scores
      .join(e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"), "left_anti")
      .select(col("a").as("src"), col("b").as("dst"), col("n_common"), col("ra_ppm"))
      .orderBy(col("ra_ppm").desc, col("src"), col("dst"))
      .limit(topN)
  }

  /** Local clustering coefficient per node on the ppm grid:
    * `cc = 2·triangles(n) / (deg(n)·(deg(n)−1))` — how close each node's
    * neighborhood is to a clique, the standard local-cohesion score that
    * separates "products bought with many UNRELATED things" (hub, cc→0)
    * from "products inside a tight bundle" (clique member, cc→1e6).
    * Nodes of degree < 2 have no defined coefficient and are excluded
    * (their wedge count is zero, not their cohesion).
    *
    * Plan: derives entirely from [[orientedTriangles]] (the skew-proof
    * enumeration) + the node-grain degree aggregate — one corner-credit
    * aggregate, one node-grain join, integer division only.
    */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val tri = orientedTriangles(edges)
      .select(explode(array(col("u"), col("v"), col("w"))).as("product_id"))
      .groupBy(col("product_id"))
      .agg(count(lit(1)).as("n_triangles"))
    degrees(edges).filter(col("dg") >= 2)
      .select(col("n").as("product_id"), col("dg"))
      .join(tri, Seq("product_id"), "left")
      .select(col("product_id"), col("dg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc_ppm",
        expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))"))
  }

  /** Degree distribution: nodes per distinct-neighbor count — the
    * power-law shape check that governs every skew decision in this
    * module (hub caps, degree orientation, broadcast bounds): a heavy
    * tail here is WHY triangles orient and RA-index caps its wedge
    * centers. Two hash aggregates, output bounded by max degree.
    */
  def degreeDistribution(edges: DataFrame): DataFrame =
    degrees(edges).groupBy(col("dg").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))

  /** Weighted degree centrality — the one-pass sanity baseline beside
    * [[pageRank]]: out-strength, distinct-neighbor count, and the node's
    * share of total edge weight on the same integer grid.
    */
  def degreeCentrality(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("product_id"))
      .agg(sum(col("w")).as("strength"), count(lit(1)).as("n_neighbors"))
    val tot = deg.agg(sum(col("strength")).as("total_w"))
    deg.crossJoin(broadcast(tot))
      .select(col("product_id"), col("strength"), col("n_neighbors"),
        expr(s"(strength * ${prGrid}L) div total_w").as("strength_share_q"))
  }

  /** Incremental edge maintenance: merge two edge tables built from
    * ORDER-DISJOINT item batches by weight ADDITION. Exact, not
    * approximate: co-purchase pairs, the basket cap, and the per-order
    * dedup are all order-local, so a batch can never change another
    * batch's pairs — the arriving orders are exploded once, ever, and the
    * stored edges are never recomputed (the search-index incremental
    * argument applied to the graph artifact).
    */
  def mergeEdges(stored: DataFrame, arriving: DataFrame): DataFrame =
    stored.unionByName(arriving)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))

  /** Minimum edge weight for the STRONG subgraph [[components]] runs on —
    * a single co-purchase is noise; repeated co-purchase is structure.
    */
  val componentsMinW = 2L

  /** Product communities as connected components of the strong (w ≥ minW)
    * co-purchase subgraph — the hard-clustering complement to
    * [[labelPropagation]] (LPA finds dense communities inside one connected
    * blob; components find the blobs). Reuses [[Dedup.connectedComponents]]
    * — alternating large-star/small-star, O(log² n) rounds, or the bounded
    * driver union-find below its size cutoff — so the graph path shares the
    * dedup path's convergence machinery and specs. Nodes with no strong
    * edge are singletons labeled by their own id.
    */
  def components(edges: DataFrame, minW: Long = componentsMinW): DataFrame = {
    val strong = edges.filter(col("w") >= minW && col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    val labels = Dedup.connectedComponents(strong)
    edges.select(col("src").as("product_id")).distinct()
      .join(labels.select(col("node").as("product_id"), col("label").as("cid")),
        Seq("product_id"), "left")
      .select(col("product_id"),
        coalesce(col("cid"), col("product_id")).as("component_id"))
  }

  /** k-core parameters: minimum in-subgraph degree and fixed peel rounds
    * (unrolled in the oracle, like the PageRank/BFS/LPA loops).
    */
  val kcoreK = 3L
  val kcoreRounds = 3

  /** k-core membership after [[kcoreRounds]] peel rounds over the STRONG
    * (w ≥ [[componentsMinW]]) subgraph: repeatedly drop nodes whose degree
    * within the surviving subgraph falls below k — the standard cohesion
    * filter (a node in the k-core has k neighbors that are themselves
    * k-connected, which a raw degree cut can't express). Fixed-round
    * truncation keeps the oracle unrollable; each round is one semi-join
    * restriction + one node-grain aggregate, `localCheckpoint`'d like every
    * iterative loop here. Peeling is monotone (the surviving set only
    * shrinks), so early convergence just makes later rounds no-ops.
    */
  def kcoreMembers(edges: DataFrame, k: Long = kcoreK,
      rounds: Int = kcoreRounds): DataFrame = {
    val strong = edges.filter(col("w") >= componentsMinW)
      .select(col("src"), col("dst"))
    var nodes = strong.groupBy(col("src").as("n")).agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= k).select(col("n"))
      .localCheckpoint()
    for (i <- 1 to rounds) {
      graft.LoopProf.timed("kcore", i) {
        nodes = strong
          .join(nodes.select(col("n").as("src")), "src")
          .join(nodes.select(col("n").as("dst")), "dst")
          .groupBy(col("src").as("n")).agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= k).select(col("n"))
          .localCheckpoint()
      }
    }
    nodes.select(col("n").as("product_id"))
  }

  // --------------------------------------------------------------------------
  // Edge store: the co-purchase graph as a build-once artifact
  // --------------------------------------------------------------------------

  /** Baked into the store dir name — bump on any edge-schema/build change. */
  val EdgeStoreVersion = "v1"

  /** Build-once co-purchase edge table for the fixture under `srcDir`
    * (content-stamped [[graft.sources.ArtifactStore]] dir — the FactStore/
    * SketchStore convention). An
    * edge table IS a maintained index at 100 TB: the fact scan + basket
    * explode runs once per corpus version, and every graph query
    * (PageRank, LPA, triangles, BFS, centrality) reads the KB..GB-scale
    * artifact instead of re-deriving it from the fact table. Results are
    * identical either way — the oracles derive edges from scratch.
    */
  def ensureEdges(spark: SparkSession, srcDir: String): String =
    graft.sources.ArtifactStore.ensure(srcDir, "edgestore", EdgeStoreVersion) { dir =>
      copurchaseEdges(Tables.orderItems(spark, srcDir))
        .write.mode("overwrite").parquet(s"$dir/edges")
    }

  /** The stored edge table (building it on first use). */
  def storedEdges(spark: SparkSession, srcDir: String): DataFrame =
    graft.sources.ArtifactStore.readParquet(spark, s"${ensureEdges(spark, srcDir)}/edges")

  /** Baked into the bipartite-store dir name. */
  val BipartiteStoreVersion = "v1"

  /** Build-once bipartite user→product purchase graph + its two degree
    * frames (r13) — the [[ensureEdges]] convention applied to the graph
    * [[salsa]] walks: the fact-scan + distinct + degree aggregates run once
    * per corpus version at ingest; query time reads (u, p), (u, du),
    * (p, dp) parquet and starts at the loop. Results are identical either
    * way — the oracle derives the graph from the raw tables.
    */
  def ensureBipartite(spark: SparkSession, srcDir: String): String =
    graft.sources.ArtifactStore.ensure(srcDir, "bipartite", BipartiteStoreVersion) { dir =>
      val e = userProductEdges(Tables.ordersDomain(spark, srcDir),
        Tables.orderItems(spark, srcDir)).persist()
      e.write.mode("overwrite").parquet(s"$dir/edges")
      e.groupBy(col("u")).agg(count(lit(1)).as("du"))
        .write.mode("overwrite").parquet(s"$dir/udeg")
      e.groupBy(col("p")).agg(count(lit(1)).as("dp"))
        .write.mode("overwrite").parquet(s"$dir/pdeg")
      e.unpersist()
    }

  /** [[salsa]] over the stored bipartite graph: node counts come from the
    * degree parquet footers and the loop starts immediately.
    */
  def salsaStored(spark: SparkSession, srcDir: String,
      iters: Int = salsaIters): DataFrame = {
    val dir = ensureBipartite(spark, srcDir)
    def read(t: String) = graft.sources.ArtifactStore.readParquet(spark, s"$dir/$t")
    val base = read("edges").persist()
    val du = read("udeg").persist()
    val dp = read("pdeg").persist()
    val r = salsaLoop(base, du, dp, du.count(), dp.count(), iters)
    du.unpersist(); dp.unpersist(); base.unpersist()
    r
  }

  /** Baked into the community-store dir name. */
  val CommunityStoreVersion = "v1"

  /** Build-once stored LPA partition over the stored edges — the nightly
    * community assignment a fleet of downstream consumers (modularity,
    * per-community rollups, serving joins) reads without re-running the
    * propagation. Stamped by the same source-fixture stamp as the edge
    * store, so a regenerated fixture rebuilds both.
    */
  def ensureCommunities(spark: SparkSession, srcDir: String): String =
    graft.sources.ArtifactStore.ensure(srcDir, "commstore", CommunityStoreVersion) { dir =>
      labelPropagation(storedEdges(spark, srcDir))
        .write.mode("overwrite").parquet(s"$dir/labels")
    }

  /** The stored community labels (building them on first use). */
  def storedCommunities(spark: SparkSession, srcDir: String): DataFrame =
    graft.sources.ArtifactStore.readParquet(spark, s"${ensureCommunities(spark, srcDir)}/labels")

  // --------------------------------------------------------------------------
  // Registered ops + DuckDB oracles
  // --------------------------------------------------------------------------

  /** Shared oracle CTEs: distinct capped baskets → symmetric weighted edges
    * (the a ≠ b self-join emits both directions) → out-weights → node count.
    */
  private val edgesCtes: String =
    s"""oi AS (SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id
       |       FROM lineitem),
       |ok AS (SELECT order_id FROM oi GROUP BY order_id
       |       HAVING COUNT(*) <= $copurchaseCap),
       |ob AS (SELECT oi.order_id, oi.product_id FROM oi JOIN ok USING (order_id)),
       |e AS (SELECT a.product_id AS src, b.product_id AS dst,
       |             CAST(COUNT(*) AS BIGINT) AS w
       |      FROM ob a JOIN ob b
       |        ON a.order_id = b.order_id AND a.product_id <> b.product_id
       |      GROUP BY 1, 2),
       |outw AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
       |nn AS (SELECT COUNT(*) AS n FROM outw)""".stripMargin

  /** LPA CTE chain ending in `l{lpaIters}(node, lab)` — shared by the LPA op
    * and the modularity scorecard so both pin the same partition.
    */
  private lazy val lpaCtes: String = {
    val rounds = (1 to lpaIters).map { r =>
      val prev = if (r == 1) "l0" else s"l${r - 1}"
      s"""t$r AS (
         |  SELECT e.dst, l.lab, SUM(e.w) AS wt
         |  FROM e JOIN $prev l ON l.node = e.src GROUP BY 1, 2),
         |l$r AS (
         |  SELECT dst AS node, lab FROM (
         |    SELECT dst, lab,
         |           ROW_NUMBER() OVER (PARTITION BY dst ORDER BY wt DESC, lab) AS rn
         |    FROM t$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS (SELECT src AS node, src AS lab FROM outw),
       |$rounds""".stripMargin
  }

  /** Unrolled PageRank oracle: p0 then [[prIters]] rounds of the identical
    * integer recurrence ([[pageRank]] scaladoc), HUGEINT-safe via the final
    * BIGINT cast.
    */
  private def pageRankOracle: String = {
    val rounds = (1 to prIters).map { i =>
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      s"""s$i AS (
         |  SELECT e.dst, SUM((p.p * e.w) // o.ow) AS s
         |  FROM e JOIN $prev p ON p.node = e.src JOIN outw o ON o.src = e.src
         |  GROUP BY e.dst),
         |p$i AS (
         |  SELECT o.src AS node,
         |         (($prGrid * ${prDampDen - prDampNum}) // $prDampDen) // nn.n
         |           + ($prDampNum * COALESCE(s$i.s, 0)) // $prDampDen AS p
         |  FROM outw o CROSS JOIN nn LEFT JOIN s$i ON s$i.dst = o.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCtes,
       |p0 AS (SELECT src AS node, $prGrid // nn.n AS p FROM outw CROSS JOIN nn),
       |$rounds
       |SELECT node AS product_id, CAST(p AS BIGINT) AS rank_q FROM p$prIters""".stripMargin
  }

  def ops: Seq[Op] = Seq(
    // The co-purchase edge table itself (symmetric, weighted).
    Op.sql("graph_copurchase_edges",
      s"""WITH $edgesCtes
         |SELECT src, dst, w FROM e""".stripMargin) { (s, d) =>
      copurchaseEdges(Tables.orderItems(s, d))
    },

    // Incremental edge maintenance: edges from order-disjoint batches merge
    // by weight addition — the oracle is the FULL from-scratch edge build.
    Op.sql("graph_edges_incremental",
      s"""WITH $edgesCtes
         |SELECT src, dst, w FROM e""".stripMargin) { (s, d) =>
      val items = Tables.orderItems(s, d)
      mergeEdges(
        copurchaseEdges(items.filter(col("order_id") % 10 < 8)),
        copurchaseEdges(items.filter(col("order_id") % 10 >= 8)))
    },

    // Fixed-iteration integer-grid PageRank over that graph.
    Op.sql("graph_pagerank", pageRankOracle) { (s, d) =>
      pageRank(storedEdges(s, d))
    },

    // Seed-teleport personalized PageRank (seeds = products < 5).
    Op.sql("graph_pagerank_personalized", {
      val rounds = (1 to prIters).map { i =>
        val prev = if (i == 1) "q0" else s"q${i - 1}"
        s"""z$i AS (
           |  SELECT e.dst, SUM((p.p * e.w) // o.ow) AS s
           |  FROM e JOIN $prev p ON p.node = e.src JOIN outw o ON o.src = e.src
           |  WHERE p.p > 0
           |  GROUP BY e.dst),
           |q$i AS (
           |  SELECT o.src AS node,
           |         CASE WHEN o.src < 5
           |              THEN (($prGrid * ${prDampDen - prDampNum}) // $prDampDen) // ns.k
           |              ELSE 0 END
           |           + ($prDampNum * COALESCE(z$i.s, 0)) // $prDampDen AS p
           |  FROM outw o CROSS JOIN ns LEFT JOIN z$i ON z$i.dst = o.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCtes,
         |ns AS (SELECT COUNT(*) AS k FROM outw WHERE src < 5),
         |q0 AS (SELECT src AS node,
         |              CASE WHEN src < 5 THEN $prGrid // ns.k ELSE 0 END AS p
         |       FROM outw CROSS JOIN ns),
         |$rounds
         |SELECT node AS product_id, CAST(p AS BIGINT) AS rank_q
         |FROM q$prIters WHERE p > 0""".stripMargin
    }) { (s, d) =>
      personalizedPageRank(storedEdges(s, d), col("node") < 5)
    },

    // SALSA hubs/authorities on the bipartite purchase graph (unrolled
    // oracle, same integer-grid replay discipline as the PageRank family).
    Op.sql("graph_salsa", {
      val rounds = (1 to salsaIters).map { i =>
        val prev = if (i == 1) "h0" else s"h${i - 1}"
        s"""a$i AS (SELECT be.p, CAST(SUM(hh.h // du.du) AS BIGINT) AS a
           |        FROM be JOIN $prev hh USING (u) JOIN du USING (u)
           |        GROUP BY 1),
           |h$i AS (SELECT be.u, CAST(SUM(aa.a // dp.dp) AS BIGINT) AS h
           |        FROM be JOIN a$i aa USING (p) JOIN dp USING (p)
           |        GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""${Tables.domainCtes},
         |be AS (SELECT DISTINCT o.user_id AS u, oi.product_id AS p
         |       FROM order_items oi JOIN orders_v o USING (order_id)),
         |du AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS du FROM be GROUP BY 1),
         |dp AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS dp FROM be GROUP BY 1),
         |nu AS (SELECT COUNT(*) AS n FROM du),
         |h0 AS (SELECT u, $prGrid // n AS h FROM du CROSS JOIN nu),
         |$rounds
         |SELECT 'hub' AS node_type, u AS node_id, h AS score_q FROM h$salsaIters
         |UNION ALL
         |SELECT 'authority' AS node_type, p AS node_id, a AS score_q
         |FROM a$salsaIters""".stripMargin
    }) { (s, d) =>
      salsaStored(s, d)
    },

    // Synchronous LPA communities (deterministic tie-break, unrolled oracle).
    Op.sql("graph_label_propagation",
      s"""WITH $edgesCtes,
         |$lpaCtes
         |SELECT node AS product_id, lab AS community FROM l$lpaIters""".stripMargin) {
      (s, d) =>
      labelPropagation(storedEdges(s, d))
    },

    // Modularity of the LPA partition — the community-quality scorecard.
    Op.sql("graph_modularity",
      s"""WITH $edgesCtes,
         |$lpaCtes,
         |comm AS (SELECT node, lab AS community FROM l$lpaIters),
         |m AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM e),
         |win AS (SELECT ca.community, CAST(SUM(e.w) AS BIGINT) AS w_in
         |        FROM e JOIN comm ca ON ca.node = e.src
         |               JOIN comm cb ON cb.node = e.dst
         |        WHERE ca.community = cb.community GROUP BY 1),
         |dcs AS (SELECT c.community, CAST(SUM(o.ow) AS BIGINT) AS dsum
         |        FROM outw o JOIN comm c ON c.node = o.src GROUP BY 1)
         |SELECT d.community, COALESCE(w.w_in, 0) AS w_in, d.dsum,
         |       CAST((COALESCE(w.w_in, 0) * 1000000) // m.m
         |            - (((d.dsum * 1000000) // m.m)
         |               * ((d.dsum * 1000000) // m.m)) // 1000000
         |            AS BIGINT) AS q_ppm
         |FROM dcs d LEFT JOIN win w ON w.community = d.community
         |CROSS JOIN m""".stripMargin) { (s, d) =>
      modularityOf(storedEdges(s, d), storedCommunities(s, d))
    },

    // Deterministic hash-driven random-walk corpus (node2vec precursor).
    Op.sql("graph_random_walks",
      s"""WITH $edgesCtes,
         |$walksCtes
         |$walksUnion""".stripMargin) { (s, d) =>
      randomWalks(storedEdges(s, d))
    },

    // Skip-gram training pairs from the walk corpus — the word2vec-style
    // (center, context) extraction a graph-embedding trainer consumes.
    Op.sql("graph_walk_skipgrams",
      s"""WITH $edgesCtes,
         |$walksCtes,
         |wu AS (
         |$walksUnion),
         |pairs AS (
         |  SELECT a.node AS center, b.node AS context
         |  FROM wu a JOIN wu b ON b.seed = a.seed AND b.wid = a.wid
         |    AND b.step <> a.step AND ABS(b.step - a.step) <= $skipgramWindow)
         |SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM pairs GROUP BY 1, 2""".stripMargin) { (s, d) =>
      walkSkipgrams(storedEdges(s, d))
    },

    // Resource-allocation link prediction: top non-adjacent pairs by
    // Σ 1/deg(common neighbor) on the ppm grid, hub-capped wedge centers.
    Op.sql("graph_link_prediction",
      s"""WITH $edgesCtes,
         |se AS (SELECT src, dst FROM e WHERE w >= $componentsMinW),
         |sdeg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS dg FROM se GROUP BY 1),
         |cen AS (SELECT se.src AS c, se.dst AS x, d.dg
         |        FROM se JOIN sdeg d ON d.n = se.src WHERE d.dg <= $raHubCap),
         |wed AS (SELECT a.c, a.x AS a, b.x AS b, a.dg
         |        FROM cen a JOIN cen b ON a.c = b.c AND a.x < b.x),
         |sc AS (SELECT a, b, CAST(SUM(1000000 // dg) AS BIGINT) AS ra_ppm,
         |              CAST(COUNT(*) AS BIGINT) AS n_common
         |       FROM wed GROUP BY 1, 2),
         |nonadj AS (SELECT sc.* FROM sc
         |           WHERE NOT EXISTS (SELECT 1 FROM se
         |                             WHERE se.src = sc.a AND se.dst = sc.b))
         |SELECT a AS src, b AS dst, n_common, ra_ppm
         |FROM nonadj ORDER BY ra_ppm DESC, src, dst LIMIT $raTopN""".stripMargin) {
      (s, d) =>
      linkPrediction(storedEdges(s, d))
    },

    // Hop-limited multi-source BFS from the seed products.
    Op.sql("graph_bfs_distances", {
      val rounds = (1 to bfsHops).map { r =>
        val prev = s"p${r - 1}"
        s"""t$r AS (
           |  SELECT e.dst AS node, MIN(p.d) + 1 AS nd
           |  FROM e JOIN $prev p ON p.node = e.src
           |  WHERE p.d IS NOT NULL GROUP BY e.dst),
           |p$r AS (
           |  SELECT p.node,
           |         CASE WHEN p.d IS NULL THEN t.nd WHEN t.nd IS NULL THEN p.d
           |              WHEN p.d < t.nd THEN p.d ELSE t.nd END AS d
           |  FROM $prev p LEFT JOIN t$r t ON t.node = p.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCtes,
         |p0 AS (SELECT src AS node,
         |              CASE WHEN src < 5 THEN 0 END AS d FROM outw),
         |$rounds
         |SELECT node AS product_id, CAST(d AS INTEGER) AS dist
         |FROM p$bfsHops WHERE d IS NOT NULL""".stripMargin
    }) { (s, d) =>
      bfsDistances(storedEdges(s, d), col("node") < 5)
    },

    // Per-node triangle participation under degree orientation.
    Op.sql("graph_triangles_per_node",
      s"""WITH $edgesCtes,
         |eu AS (SELECT src AS s, dst AS d FROM e WHERE src < dst),
         |deg AS (SELECT n, COUNT(*) AS dg
         |        FROM (SELECT s AS n FROM eu UNION ALL SELECT d FROM eu) GROUP BY n),
         |oe AS (
         |  SELECT CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND x.s < x.d)
         |              THEN x.s ELSE x.d END AS u,
         |         CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND x.s < x.d)
         |              THEN x.d ELSE x.s END AS v
         |  FROM eu x JOIN deg ds ON ds.n = x.s JOIN deg dd ON dd.n = x.d),
         |tri AS (
         |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
         |  FROM oe e1 JOIN oe e2 ON e1.u = e2.u AND e1.v < e2.v
         |  JOIN eu e3 ON e3.s = e1.v AND e3.d = e2.v)
         |SELECT product_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |FROM (SELECT unnest([n1, n2, n3]) AS product_id FROM tri)
         |GROUP BY product_id""".stripMargin) { (s, d) =>
      triangleCounts(storedEdges(s, d))
    },

    // Local clustering coefficient: 2·tri/(deg·(deg−1)) ppm per node.
    Op.sql("graph_clustering_coeff",
      s"""WITH $edgesCtes,
         |eu AS (SELECT src AS s, dst AS d FROM e WHERE src < dst),
         |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg
         |        FROM (SELECT s AS n FROM eu UNION ALL SELECT d FROM eu) GROUP BY n),
         |oe AS (
         |  SELECT CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND x.s < x.d)
         |              THEN x.s ELSE x.d END AS u,
         |         CASE WHEN ds.dg < dd.dg OR (ds.dg = dd.dg AND x.s < x.d)
         |              THEN x.d ELSE x.s END AS v
         |  FROM eu x JOIN deg ds ON ds.n = x.s JOIN deg dd ON dd.n = x.d),
         |tri AS (
         |  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
         |  FROM oe e1 JOIN oe e2 ON e1.u = e2.u AND e1.v < e2.v
         |  JOIN eu e3 ON e3.s = e1.v AND e3.d = e2.v),
         |tc AS (SELECT product_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |       FROM (SELECT unnest([n1, n2, n3]) AS product_id FROM tri)
         |       GROUP BY product_id)
         |SELECT deg.n AS product_id, deg.dg AS degree,
         |       COALESCE(tc.n_triangles, 0) AS n_triangles,
         |       (2 * COALESCE(tc.n_triangles, 0) * 1000000)
         |         // (deg.dg * (deg.dg - 1)) AS cc_ppm
         |FROM deg LEFT JOIN tc ON tc.product_id = deg.n
         |WHERE deg.dg >= 2""".stripMargin) { (s, d) =>
      clusteringCoeff(storedEdges(s, d))
    },

    // Neighborhood-Jaccard tie strength per undirected edge.
    Op.sql("graph_edge_jaccard",
      s"""WITH $edgesCtes,
         |adj AS (SELECT src, list(dst ORDER BY dst) AS nbrs FROM e GROUP BY src),
         |j AS (
         |  SELECT x.src, x.dst,
         |         CAST(len(list_intersect(a.nbrs, b.nbrs)) AS BIGINT) AS common,
         |         CAST(len(a.nbrs) AS BIGINT) AS da, CAST(len(b.nbrs) AS BIGINT) AS db
         |  FROM e x JOIN adj a ON a.src = x.src JOIN adj b ON b.src = x.dst
         |  WHERE x.src < x.dst)
         |SELECT src, dst, common,
         |       CAST((common * 1000000) // (da + db - common) AS BIGINT) AS jaccard_ppm
         |FROM j""".stripMargin) { (s, d) =>
      edgeJaccard(storedEdges(s, d))
    },

    // Components of the strong (w ≥ 2) subgraph — recursive min-label oracle.
    Op.sql("graph_components",
      s"""WITH RECURSIVE $edgesCtes,
         |se AS (SELECT src, dst FROM e WHERE w >= $componentsMinW AND src < dst),
         |sedges AS (SELECT src AS a, dst AS b FROM se
         |           UNION ALL SELECT dst, src FROM se),
         |reach(node, r) AS (
         |  SELECT DISTINCT a, a FROM sedges
         |  UNION
         |  SELECT reach.node, e.b FROM reach JOIN sedges e ON e.a = reach.r),
         |lab AS (SELECT node, MIN(r) AS component_id FROM reach GROUP BY node)
         |SELECT o.src AS product_id,
         |       COALESCE(lab.component_id, o.src) AS component_id
         |FROM outw o LEFT JOIN lab ON lab.node = o.src""".stripMargin) { (s, d) =>
      components(storedEdges(s, d))
    },

    // Degree distribution: the power-law shape check behind the skew levers.
    Op.sql("graph_degree_distribution",
      s"""WITH $edgesCtes,
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS dg FROM e GROUP BY src)
         |SELECT dg AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM deg GROUP BY 1""".stripMargin) { (s, d) =>
      degreeDistribution(storedEdges(s, d))
    },

    // Rand-index agreement between LPA communities and strong components.
    Op.sql("graph_partition_agreement",
      s"""WITH RECURSIVE $edgesCtes,
         |$lpaCtes,
         |comm AS (SELECT node, lab AS ca FROM l$lpaIters),
         |sse AS (SELECT src, dst FROM e WHERE w >= $componentsMinW AND src < dst),
         |sedges AS (SELECT src AS a, dst AS b FROM sse
         |           UNION ALL SELECT dst, src FROM sse),
         |reach(node, r) AS (
         |  SELECT DISTINCT a, a FROM sedges
         |  UNION
         |  SELECT reach.node, se2.b FROM reach JOIN sedges se2 ON se2.a = reach.r),
         |clab AS (SELECT node, MIN(r) AS component_id FROM reach GROUP BY node),
         |compo AS (SELECT o.src AS node, COALESCE(clab.component_id, o.src) AS cb
         |          FROM outw o LEFT JOIN clab ON clab.node = o.src),
         |j AS (SELECT c1.ca, c2.cb FROM comm c1 JOIN compo c2 ON c2.node = c1.node),
         |pa AS (SELECT CAST(SUM((n*(n-1))//2) AS BIGINT) AS a
         |       FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY ca, cb)),
         |pb1 AS (SELECT CAST(SUM((n*(n-1))//2) AS BIGINT) AS b1
         |        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY ca)),
         |pb2 AS (SELECT CAST(SUM((n*(n-1))//2) AS BIGINT) AS b2
         |        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY cb)),
         |pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
         |              CAST((COUNT(*)*(COUNT(*)-1))//2 AS BIGINT) AS t FROM j)
         |SELECT pt.nn AS n_nodes, pa.a AS both_pairs, pb1.b1 AS a_pairs,
         |       pb2.b2 AS b_pairs, pt.t AS total_pairs,
         |       ((pt.t - pb1.b1 - pb2.b2 + 2*pa.a) * 1000000) // pt.t AS rand_ppm
         |FROM pt CROSS JOIN pa CROSS JOIN pb1 CROSS JOIN pb2""".stripMargin) {
      (s, d) =>
      partitionAgreement(
        storedCommunities(s, d),
        components(storedEdges(s, d)))
    },

    // k-core membership after 3 unrolled peel rounds on the strong subgraph.
    Op.sql("graph_kcore", {
      val rounds = (1 to kcoreRounds).map { r =>
        val prev = s"n${r - 1}"
        s"""n$r AS (
           |  SELECT src AS n FROM (
           |    SELECT e.src, COUNT(*) AS dg
           |    FROM se e JOIN $prev a ON a.n = e.src JOIN $prev b ON b.n = e.dst
           |    GROUP BY e.src)
           |  WHERE dg >= $kcoreK)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCtes,
         |se AS (SELECT src, dst FROM e WHERE w >= $componentsMinW),
         |n0 AS (SELECT src AS n FROM (SELECT src, COUNT(*) AS dg FROM se GROUP BY src)
         |       WHERE dg >= $kcoreK),
         |$rounds
         |SELECT n AS product_id FROM n$kcoreRounds""".stripMargin
    }) { (s, d) =>
      kcoreMembers(storedEdges(s, d))
    },

    // Bounded Bellman-Ford weighted shortest paths from the seed set.
    Op.sql("graph_weighted_sssp", {
      val rounds = (1 to ssspRounds).map { r =>
        val prev = s"p${r - 1}"
        s"""t$r AS (
           |  SELECT el.dst AS node, MIN(p.d + el.len) AS nd
           |  FROM el JOIN $prev p ON p.node = el.src
           |  WHERE p.d IS NOT NULL GROUP BY el.dst),
           |p$r AS (
           |  SELECT p.node,
           |         CASE WHEN p.d IS NULL THEN t.nd WHEN t.nd IS NULL THEN p.d
           |              WHEN p.d < t.nd THEN p.d ELSE t.nd END AS d
           |  FROM $prev p LEFT JOIN t$r t ON t.node = p.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCtes,
         |el AS (SELECT src, dst, 1 + (1000000 // w) AS len FROM e),
         |vn AS (SELECT DISTINCT node
         |       FROM (SELECT src AS node FROM el UNION ALL SELECT dst FROM el)),
         |p0 AS (SELECT node,
         |              CASE WHEN node < 5 THEN CAST(0 AS BIGINT) END AS d FROM vn),
         |$rounds
         |SELECT node AS product_id, CAST(d AS BIGINT) AS dist_q
         |FROM p$ssspRounds WHERE d IS NOT NULL""".stripMargin
    }) { (s, d) =>
      weightedSssp(storedEdges(s, d), col("node") < 5)
    },

    // One-pass degree centrality baseline.
    Op.sql("graph_degree_centrality",
      s"""WITH $edgesCtes,
         |deg AS (SELECT src AS product_id, SUM(w) AS strength,
         |               CAST(COUNT(*) AS BIGINT) AS n_neighbors
         |        FROM e GROUP BY src),
         |tot AS (SELECT SUM(strength) AS total_w FROM deg)
         |SELECT product_id, CAST(strength AS BIGINT) AS strength,
         |       n_neighbors,
         |       CAST((strength * $prGrid) // total_w AS BIGINT) AS strength_share_q
         |FROM deg CROSS JOIN tot""".stripMargin) { (s, d) =>
      degreeCentrality(storedEdges(s, d))
    },
  )
}
