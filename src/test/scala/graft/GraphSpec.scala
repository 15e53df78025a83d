package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Mechanism tests for the graph module on hand-built graphs with known
  * structure, plus the integer-grid determinism contract.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // star: hub 1 ↔ leaves 2..5 (symmetric, unit weights)
  private def star = (2L to 5L).flatMap(l => Seq((1L, l, 1L), (l, 1L, 1L)))
    .toDF("src", "dst", "w")

  test("pagerank: hub of a star outranks leaves; leaves tie exactly") {
    val r = Graph.pageRank(star).collect()
      .map(x => x.getAs[Long]("product_id") -> x.getAs[Long]("rank_q")).toMap
    assert(r.size == 5)
    assert((2L to 5L).forall(l => r(1L) > r(l)), s"hub must dominate: $r")
    assert((3L to 5L).forall(l => r(l) == r(2L)), "symmetric leaves must tie bit-for-bit")
  }

  test("salsa: matches a serial integer replay; grid mass never grows") {
    val es = Seq((1L, 10L), (1L, 11L), (2L, 11L), (3L, 11L), (3L, 12L), (4L, 12L))
    val out = Graph.salsa(es.toDF("u", "p")).collect()
    // serial replay of the exact recurrence (floor division per edge)
    val du = es.groupBy(_._1).map { case (u, g) => u -> g.size.toLong }
    val dp = es.groupBy(_._2).map { case (p, g) => p -> g.size.toLong }
    val G = Graph.prGrid
    var h = du.keys.map(u => u -> G / du.size).toMap
    var a = Map.empty[Long, Long]
    (1 to Graph.salsaIters).foreach { _ =>
      a = es.groupBy(_._2).map { case (p, g) =>
        p -> g.map(e => h(e._1) / du(e._1)).sum }
      h = es.groupBy(_._1).map { case (u, g) =>
        u -> g.map(e => a(e._2) / dp(e._2)).sum }
    }
    val hubs = out.filter(_.getAs[String]("node_type") == "hub")
      .map(r => r.getAs[Long]("node_id") -> r.getAs[Long]("score_q")).toMap
    val auths = out.filter(_.getAs[String]("node_type") == "authority")
      .map(r => r.getAs[Long]("node_id") -> r.getAs[Long]("score_q")).toMap
    assert(hubs == h, s"hub scores must replay serially: $hubs vs $h")
    assert(auths == a, s"authority scores must replay serially: $auths vs $a")
    // mass is conserved up to floor losses — never amplified (the HITS
    // failure mode this variant exists to avoid)
    assert(hubs.values.sum <= G && auths.values.sum <= G)
    // the 3-buyer product must out-rank the 1-buyer product
    assert(auths(11L) > auths(10L))
  }

  test("pagerank: probability mass conserved up to integer truncation") {
    val edges = Graph.copurchaseEdges(
      graft.sources.Tables.orderItems(spark, TestSession.sf))
    val nEdges = edges.count()
    val ranks = Graph.pageRank(edges)
    val nNodes = ranks.count()
    val total = ranks.agg(sum("rank_q")).head.getLong(0)
    // each round loses < 1 grid step per edge-division + per-node base/damp
    // truncation; mass never increases
    val slack = Graph.prIters * (nEdges + 2 * nNodes + Graph.prDampDen)
    assert(total <= Graph.prGrid)
    assert(total >= Graph.prGrid - slack,
      s"mass $total lost more than $slack below ${Graph.prGrid}")
  }

  test("personalized pagerank: support is the seed's hop-ball; seeded ≠ global; star hub wins") {
    // path 1—2—3—4—5, seed {1}: a 3-iteration walk cannot reach node 5
    // (note: a SHORT walk's ranks oscillate with parity on a path, so no
    // per-hop monotonicity is asserted — only reachability and asymmetry)
    val und = (1L to 4L).map(i => (i, i + 1))
    val edges = und.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
      .toDF("src", "dst", "w")
    val r = Graph.personalizedPageRank(edges, col("node") === 1L).collect()
      .map(x => x.getAs[Long]("product_id") -> x.getAs[Long]("rank_q")).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L),
      s"support must be the 3-hop ball around the seed, got ${r.keySet}")
    // the global walk ranks the path's mirror nodes equally — the seeded
    // walk must break that symmetry (this is what 'personalized' means)
    val g = Graph.pageRank(edges).collect()
      .map(x => x.getAs[Long]("product_id") -> x.getAs[Long]("rank_q")).toMap
    assert(g(1L) == g(5L) && g(2L) == g(4L))
    assert(r(2L) != r.getOrElse(4L, 0L), "seeding must break mirror symmetry")
    // star seeded at the hub: hub dominates, leaves tie bit-for-bit
    val sr = Graph.personalizedPageRank(star, col("node") === 1L).collect()
      .map(x => x.getAs[Long]("product_id") -> x.getAs[Long]("rank_q")).toMap
    assert((2L to 5L).forall(l => sr(1L) > sr(l)), s"hub must dominate: $sr")
    assert((3L to 5L).forall(l => sr(l) == sr(2L)))
  }

  test("pagerank is partitioning-invariant (integer grid, associative sums)") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getAs[Long]("product_id") -> x.getAs[Long]("rank_q")).toMap
    assert(key(Graph.pageRank(star.repartition(7))) == key(Graph.pageRank(star)))
  }

  private def pinned(edges: org.apache.spark.sql.DataFrame, seed: org.apache.spark.sql.Column,
      onDriver: Boolean) =
    Graph.ranks(edges, seed, Graph.prIters, "t", onDriver = _ => onDriver)

  test("driver-state pagerank equals the bucketed shape bit for bit (global and personalized)") {
    // both shapes: local (one edge collect, rounds on the driver) and the
    // bucketed Spark loop
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("rank_q")).toMap
    val stored = Graph.storedEdges(spark, TestSession.sf)
    for ((edges, seed) <- Seq((star, col("node") === 1L), (stored, col("node") < 5))) {
      val global = key(Graph.pageRank(edges))
      assert(global.size > 1)
      val seeded = key(Graph.personalizedPageRank(edges, seed))
      assert(seeded.nonEmpty)
      for (onDriver <- Seq(true, false)) {
        assert(global == key(pinned(edges, lit(true), onDriver)), s"global walk, onDriver=$onDriver")
        assert(seeded == key(pinned(edges, seed, onDriver).filter(col("rank_q") > 0)),
          s"personalized walk, onDriver=$onDriver")
      }
    }
  }

  test("sub-ceiling pagerank over the stored edges runs in a pinned number of Spark jobs") {
    val edges = Graph.storedEdges(spark, TestSession.sf)
    edges.schema // the store build and its schema resolution are not the loop's
    val jobs = JobCount(spark)(Graph.pageRank(edges).write.format("noop").mode("overwrite").save())
    // edges under the local ceiling: the edge collect 1, the output 1. The
    // driver state with Spark rounds took 13, the per-round node join +
    // localCheckpoint before it 21
    assert(jobs <= 2, s"pagerank started $jobs Spark jobs")
  }

  test("pagerank: a p·w that overflows a long fails in both shapes, as ANSI Spark does") {
    // two nodes, p = 2^39 each after seeding: p·w = 2^69 in round 1
    val edges = Seq((1L, 2L, 1L << 30), (2L, 1L, 1L << 30)).toDF("src", "dst", "w")
    def overflowed(t: Throwable): Boolean =
      t.isInstanceOf[ArithmeticException] || (t.getCause != null && overflowed(t.getCause))
    for (onDriver <- Seq(true, false)) {
      val e = intercept[Exception](pinned(edges, lit(true), onDriver).collect())
      assert(overflowed(e), s"onDriver=$onDriver: expected an arithmetic overflow, got $e")
    }
    // the default shape for these edges is the local one
    assert(overflowed(intercept[Exception](Graph.pageRank(edges).collect())))
  }

  test("pagerank's local shape is chosen from a row bound that starts no Spark job") {
    val stored = Graph.storedEdges(spark, TestSession.sf)
    val n = stored.count()
    var bound: Option[Long] = None
    assert(JobCount(spark) { bound = Graph.edgeRows(stored) } == 0)
    assert(bound.contains(n))
    assert(Graph.edgeRows(star.filter(col("w") > 0).repartition(3)).contains(star.count()))
    // a generator or a join can multiply rows: no bound, so the bucketed shape
    assert(Graph.edgeRows(star.withColumn("k", explode(array(lit(1), lit(2))))).isEmpty)
    assert(Graph.edgeRows(star.join(star.select(col("src").as("dst")), "dst")).isEmpty)
  }

  test("stored salsa sizes its loop from the degree footers in a pinned number of Spark jobs") {
    def run() = Graph.salsaStored(spark, TestSession.sf).write.format("noop").mode("overwrite").save()
    run() // the store build and its schema resolutions are not the loop's
    val jobs = JobCount(spark)(run())
    // the degree reads persist (their cache builds are 3 of these); counting
    // them to size the loop as well took 32
    assert(jobs <= 29, s"salsa started $jobs Spark jobs")
  }

  test("copurchase edges are symmetric with equal weights, never self-loops") {
    val e = Graph.copurchaseEdges(graft.sources.Tables.orderItems(spark, TestSession.sf))
    assert(e.filter(col("src") === col("dst")).isEmpty)
    val asym = e.as("a").join(e.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src")
          && col("a.w") === col("b.w"), "left_anti")
    assert(asym.isEmpty, "every edge needs its equal-weight mirror")
  }

  test("triangles: K4 gives each node 3, a pendant node none; orientation dedups exactly") {
    // K4 on 1..4 (4 triangles, each node in 3) + pendant 5—1
    val und = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)) :+ ((1L, 5L))
    val edges = und.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
      .toDF("src", "dst", "w")
    val t = Graph.triangleCounts(edges).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("n_triangles")).toMap
    assert(t == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $t")
    // total participation = 3 × triangle count
    assert(t.values.sum == 3 * 4)
  }

  test("oriented adjacency: hub arrays stay within the out-degree bound (star + clique)") {
    // hub 100 at the center of a 40-spoke star, plus a DISJOINT K5 on 50..54.
    // Unoriented adjacency would give the hub a 40-element array replicated to
    // every incident edge; under degree orientation the hub is the TARGET of
    // all its edges, so its N⁺ list is empty and the max list length is
    // bounded by the clique's oriented out-degree (4), not the hub degree.
    val star = (1L to 40L).map(i => (i, 100L))
    val k5 = for (a <- 50L to 54L; b <- a + 1 to 54L) yield (a, b)
    val edges = (star ++ k5).flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
      .toDF("src", "dst", "w")
    val adj = Graph.orientedAdjacency(edges).collect()
      .map(r => r.getAs[Long]("u") -> r.getAs[Seq[Long]]("nbrs").length).toMap
    assert(!adj.contains(100L) || adj(100L) == 0,
      s"the hub must have no oriented out-neighbors, got ${adj.get(100L)}")
    assert(adj.values.max <= 4,
      s"max N⁺ length must be the clique bound (4), got ${adj.values.max}: $adj")
    // correctness on the same fixture: only K5 triangles exist, C(4,2)=6 each
    val t = Graph.triangleCounts(edges).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("n_triangles")).toMap
    assert(t == (50L to 54L).map(_ -> 6L).toMap, s"got $t")
  }

  test("label propagation: weighted cliques keep their community across a weak bridge") {
    // two triangles with internal weight 2, bridged 3—4 with weight 1
    val und = Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L),
      (4L, 5L, 2L), (4L, 6L, 2L), (5L, 6L, 2L), (3L, 4L, 1L))
    val edges = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .toDF("src", "dst", "w")
    val c = Graph.labelPropagation(edges).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("community")).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L),
      s"expected two communities rooted at min ids, got $c")
    val re = Graph.labelPropagation(edges.repartition(5)).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("community")).toMap
    assert(re == c, "LPA must be partitioning-invariant")
  }

  test("iterative loops hold bounded in-flight state: only the final round's checkpoint survives") {
    // each round localCheckpoints node-grain state; the loop must release
    // round r-1's blocks as soon as round r materializes — iters × |V|
    // block accumulation inside one query is storage pressure at scale
    val und = Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L),
      (4L, 5L, 2L), (4L, 6L, 2L), (5L, 6L, 2L), (3L, 4L, 1L))
    val edges = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .toDF("src", "dst", "w")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = Graph.labelPropagation(edges)
    labels.count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the returned frame's own (final-round) checkpoint is the only
    // loop block allowed to remain resident
    assert(leaked.size <= 1,
      s"LPA left ${leaked.size} persistent RDDs resident: $leaked")
  }

  test("bfs: path graph distances from the seed, hop limit cuts the tail") {
    // path 1—2—3—4—5—6, seed {1}: dist = position − 1, hop limit 3 drops 5,6
    val und = (1L to 5L).map(i => (i, i + 1))
    val edges = und.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
      .toDF("src", "dst", "w")
    val d = Graph.bfsDistances(edges, col("node") === 1L).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Int]("dist")).toMap
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3),
      s"expected the 3-hop ball around node 1, got $d")
    // two seeds: distance is to the NEAREST seed
    val d2 = Graph.bfsDistances(edges, col("node") === 1L || col("node") === 6L)
      .collect().map(r => r.getAs[Long]("product_id") -> r.getAs[Int]("dist")).toMap
    assert(d2 == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 1, 6L -> 0))
  }

  test("modularity: two disjoint triangles score +1/4 each on the ppm grid") {
    // LPA resolves each K3 to one community; per community w_in = 6 of
    // m = 12, d_c = 6 → q = 6/12 − (6/12)² = 1/4 exactly (250000 ppm)
    val tri = (base: Long) => Seq((base, base + 1), (base, base + 2),
      (base + 1, base + 2)).flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
    val edges = (tri(1L) ++ tri(4L)).toDF("src", "dst", "w")
    val q = Graph.modularity(edges).collect()
      .map(r => r.getAs[Long]("community") ->
        (r.getAs[Long]("w_in"), r.getAs[Long]("dsum"), r.getAs[Long]("q_ppm"))).toMap
    assert(q.size == 2, s"expected one community per triangle, got $q")
    assert(q.values.forall(_ == ((6L, 6L, 250000L))), s"got $q")
  }

  test("weighted sssp: strong two-hop path beats the weak direct edge") {
    // 1→2 weak (w=1, len 1000001); 1→3→2 strong (w=1000 each, len 1001/hop):
    // shortest 1→2 is VIA 3 at 2002, not the direct hop
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 1000L), (3L, 2L, 1000L))
      .toDF("src", "dst", "w")
    val d = Graph.weightedSssp(edges, col("node") === 1L).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("dist_q")).toMap
    assert(d == Map(1L -> 0L, 3L -> 1001L, 2L -> 2002L),
      s"expected the relaxed two-hop distance, got $d")
  }

  test("edge jaccard: K4 edges are embedded at 1/2; path edges are bridges at 0") {
    val k4 = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b))
      .flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }.toDF("src", "dst", "w")
    val jk = Graph.edgeJaccard(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("common"), r.getAs[Long]("jaccard_ppm"))).toMap
    assert(jk.size == 6 && jk.values.forall(_ == ((2L, 500000L))),
      s"every K4 edge shares the 2 other corners: 2/(3+3-2) = 0.5, got $jk")
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }.toDF("src", "dst", "w")
    val jp = Graph.edgeJaccard(path).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("jaccard_ppm")).toMap
    assert(jp((2L, 3L)) == 0L, "a pure bridge edge has zero neighborhood overlap")
  }

  test("incremental edges: order-disjoint batches merge to the full build exactly") {
    val items = graft.sources.Tables.orderItems(spark, TestSession.sf)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")) -> r.getAs[Long]("w")).toMap
    val full = key(Graph.copurchaseEdges(items))
    val merged = key(Graph.mergeEdges(
      Graph.copurchaseEdges(items.filter(col("order_id") % 2 === 0)),
      Graph.copurchaseEdges(items.filter(col("order_id") % 2 =!= 0))))
    assert(merged == full, "order-disjoint edge batches must merge exactly")
  }

  test("components: the weight threshold splits blobs a weak bridge would join") {
    // two w=2 triangles bridged by one w=1 edge (the LPA fixture): at
    // minW=2 the bridge vanishes → two components rooted at min ids; at
    // minW=1 everything connects into one
    val und = Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 3L, 2L),
      (4L, 5L, 2L), (4L, 6L, 2L), (5L, 6L, 2L), (3L, 4L, 1L))
    val edges = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .toDF("src", "dst", "w")
    val split = Graph.components(edges, minW = 2L).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("component_id")).toMap
    assert(split == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L),
      s"got $split")
    val joined = Graph.components(edges, minW = 1L).collect()
      .map(r => r.getAs[Long]("component_id")).distinct
    assert(joined.toSeq == Seq(1L), "the bridge must join everything at minW=1")
  }

  test("kcore: cliques survive the peel, path tails cascade off round by round") {
    // K5 on 1..5 (all w=2) + a path tail 5—6—7—8 (w=2): at k=3 the clique
    // survives (in-subgraph degree 4) and the tail peels — 8 dies round 1
    // (deg 1), then 7, then 6
    val und = (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)) ++
      Seq((5L, 6L), (6L, 7L), (7L, 8L))
    val edges = und.flatMap { case (a, b) => Seq((a, b, 2L), (b, a, 2L)) }
      .toDF("src", "dst", "w")
    val core = Graph.kcoreMembers(edges).collect()
      .map(_.getAs[Long]("product_id")).sorted.toSeq
    assert(core == (1L to 5L), s"got $core")
    // k=2 on a 7-path: the peel cascades inward one ring per round
    // (n0 = {2..6} → {3,4,5} → {4} → {}), pinning both the iteration and
    // its convergence to the true (empty) 2-core
    val path = (1L to 6L).map(i => (i, i + 1))
      .flatMap { case (a, b) => Seq((a, b, 2L), (b, a, 2L)) }
      .toDF("src", "dst", "w")
    val afterTwo = Graph.kcoreMembers(path, k = 2L, rounds = 2).collect()
      .map(_.getAs[Long]("product_id")).sorted.toSeq
    assert(afterTwo == Seq(4L), s"round-2 peel must leave the center, got $afterTwo")
    val converged = Graph.kcoreMembers(path, k = 2L).collect()
    assert(converged.isEmpty, "a path has no 2-core — round 3 must empty it")
  }

  test("link prediction: wedge scores 1/deg(center), adjacency excluded, hubs capped") {
    def sym(es: Seq[(Long, Long)]) =
      es.flatMap { case (a, b) => Seq((a, b, 2L), (b, a, 2L)) }.toDF("src", "dst", "w")
    // path 1—2—3: the one non-adjacent pair (1,3) scores 1/deg(2) = 500000 ppm
    val p = Graph.linkPrediction(sym(Seq((1L, 2L), (2L, 3L)))).collect()
    assert(p.length == 1)
    assert(p.head.getAs[Long]("src") == 1L && p.head.getAs[Long]("dst") == 3L
      && p.head.getAs[Long]("n_common") == 1L
      && p.head.getAs[Long]("ra_ppm") == 500000L, s"got ${p.head}")
    // triangle: every pair adjacent — nothing left to predict
    assert(Graph.linkPrediction(sym(Seq((1L, 2L), (2L, 3L), (1L, 3L)))).collect().isEmpty)
    // hub one past the cap: its wedges (the only wedges) must not be generated
    val over = sym((2L to 67L).map(l => (1L, l)))
    assert(Graph.linkPrediction(over).collect().isEmpty,
      "a center above raHubCap must contribute no candidate pairs")
    // hub exactly at the cap: C(64,2) candidates, all scoring 1000000/64
    val at = Graph.linkPrediction(sym((2L to 65L).map(l => (1L, l)))).collect()
    assert(at.length == Graph.raTopN)
    assert(at.forall(_.getAs[Long]("ra_ppm") == 1000000L / 64), "uniform 1/64 scores")
  }

  test("random walks: hops follow edges, leaves bounce to hub, rerun-identical") {
    val w = Graph.randomWalks(star).collect()
      .map(r => (r.getAs[Long]("seed"), r.getAs[Int]("wid"),
        r.getAs[Int]("step"), r.getAs[Long]("node")))
    // 5 seeds × 2 walks × 4 positions, no early deaths on a connected graph
    assert(w.length == 5 * Graph.walksPerSeed * (Graph.walkLen + 1), s"${w.length}")
    val byWalk = w.groupBy(t => (t._1, t._2)).view.mapValues(
      _.sortBy(_._3).map(_._4).toSeq).toMap
    byWalk.foreach { case ((seed, _), path) =>
      assert(path.head == seed, "walks start at their seed")
      // on a star every hop alternates hub/leaf: from a leaf the ONLY
      // neighbor is the hub; from the hub, some leaf
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(a == 1L ^ b == 1L, s"non-edge hop $a→$b in $path")
      }
    }
    // the hash-driven choice is a pure function of walk identity: a
    // different partitioning must sample the identical corpus
    val re = Graph.randomWalks(star.repartition(7)).collect()
      .map(r => (r.getAs[Long]("seed"), r.getAs[Int]("wid"),
        r.getAs[Int]("step"), r.getAs[Long]("node"))).toSet
    assert(re == w.toSet, "walk corpus must be partitioning-invariant")
  }

  test("degree distribution: star = one hub at 4, four leaves at 1") {
    val d = Graph.degreeDistribution(star).collect()
      .map(r => r.getAs[Long]("degree") -> r.getAs[Long]("n_nodes")).toMap
    assert(d == Map(4L -> 1L, 1L -> 4L), s"got $d")
  }

  test("partition agreement: identical = 1e6, crossed pairs score 2/6") {
    val a = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("product_id", "community")
    val same = a.withColumnRenamed("community", "component_id")
    val ri = Graph.partitionAgreement(a, same).collect().head
    assert(ri.getAs[Long]("rand_ppm") == 1000000L, s"identical must be 1e6: $ri")
    // crossed: A={12|34}, B={13|24} → a=0, b1=b2=2, T=6 → RI=2/6
    val crossed = Seq((1L, 1L), (3L, 1L), (2L, 2L), (4L, 2L))
      .toDF("product_id", "component_id")
    val rc = Graph.partitionAgreement(a, crossed).collect().head
    assert((rc.getAs[Long]("both_pairs"), rc.getAs[Long]("a_pairs"),
      rc.getAs[Long]("b_pairs"), rc.getAs[Long]("rand_ppm"))
      == ((0L, 2L, 2L, 333333L)), s"got $rc")
  }

  test("skipgrams: pair mass = walks x window pairs, matrix symmetric") {
    val sg = Graph.walkSkipgrams(star).collect()
      .map(r => (r.getAs[Long]("center"), r.getAs[Long]("context")) ->
        r.getAs[Long]("n_pairs")).toMap
    // a length-4 walk yields 10 ordered pairs within window 2; no walk
    // dies early on a connected graph → 5 seeds × 2 walks × 10
    assert(sg.values.sum == 5 * Graph.walksPerSeed * 10, s"mass ${sg.values.sum}")
    sg.foreach { case ((c, x), n) =>
      assert(sg.getOrElse((x, c), 0L) == n,
        s"ordered-pair extraction must be symmetric: ($c,$x)")
    }
  }

  test("clustering coefficient: clique 1e6, star hub 0, path middles excluded-edge") {
    def sym(es: Seq[(Long, Long)]) =
      es.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }.toDF("src", "dst", "w")
    // K4: every node deg 3, 3 triangles each → cc = 2·3/(3·2) = 1
    val k4 = sym(for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b))
    val cc4 = Graph.clusteringCoeff(k4).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("cc_ppm")).toMap
    assert(cc4.size == 4 && cc4.values.forall(_ == 1000000L), s"got $cc4")
    // star: hub deg 4 with no closed wedge → 0; leaves deg 1 excluded
    val ccS = Graph.clusteringCoeff(star).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("cc_ppm")).toMap
    assert(ccS == Map(1L -> 0L), s"got $ccS")
    // triangle + pendant: node 1 has deg 3 but only the one triangle
    // through 2-3 → cc = 2·1/(3·2) = 333333 ppm
    val tp = sym(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)))
    val ccT = Graph.clusteringCoeff(tp).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("cc_ppm")).toMap
    assert(ccT == Map(1L -> 333333L, 2L -> 1000000L, 3L -> 1000000L), s"got $ccT")
  }

  test("degree centrality: shares sum to the grid up to per-node truncation") {
    val d = Graph.degreeCentrality(star)
    val r = d.collect().map(x =>
      x.getAs[Long]("product_id") ->
        (x.getAs[Long]("strength"), x.getAs[Long]("n_neighbors"),
          x.getAs[Long]("strength_share_q"))).toMap
    assert(r(1L)._1 == 4 && r(1L)._2 == 4 && r(2L)._1 == 1)
    val tot = r.values.map(_._3).sum
    assert(tot <= Graph.prGrid && tot > Graph.prGrid - r.size)
  }
}
