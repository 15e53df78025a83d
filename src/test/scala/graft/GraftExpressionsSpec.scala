package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExpressions

/** Property tests (deterministic ScalaCheck sampling): the custom codegen
  * expressions must agree with their built-in / model formulations on
  * arbitrary inputs.
  */
class GraftExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val sortedSetGen: Gen[Seq[Long]] =
    Gen.listOf(Gen.chooseNum(-1000L, 1000L)).map(_.distinct.sorted.toSeq)

  private val vecGen: Gen[Seq[Float]] =
    Gen.listOfN(16, Gen.chooseNum(-2.0f, 2.0f)).map(_.toSeq)

  test("register binds each function once per session and rebinds a foreign one") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val names = Seq("graft_sorted_intersect_count", "graft_qdot", "graft_intdot",
      "graft_simhash32", "graft_minhash", "graft_sorted_run_stats", "graft_hilbert",
      "graft_dhash64", "graft_pq_argmin")
    def infos() = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    GraftExpressions.register(s)
    val first = infos()
    assert(first.forall(_.isDefined))
    GraftExpressions.register(s)
    // a re-registration stores a new ExpressionInfo (and logs a warning)
    assert(infos().zip(first).forall { case (a, b) => a.get eq b.get },
      "a second register call replaced a bound function")
    // a name bound to some other function is bound to graft's again
    registry.createOrReplaceTempFunction("graft_hilbert",
      _ => org.apache.spark.sql.catalyst.expressions.Literal(0L), "scala_udf")
    GraftExpressions.register(s)
    // the curve is a bijection: two distinct cells never share a distance
    val d = s.range(1).select(GraftExpressions.hilbert(lit(5L), lit(7L)),
      GraftExpressions.hilbert(lit(7L), lit(5L))).head()
    assert(d.getLong(0) != d.getLong(1), "a foreign graft_hilbert was left bound")
  }

  test("SortedIntersectCount == size(array_intersect) on sorted long sets") {
    import spark.implicits._
    GraftExpressions.register(spark)
    val pairs = samples(Gen.zip(sortedSetGen, sortedSetGen), 200)
    val rows = pairs.toDF("a", "b").select(
      GraftExpressions.sortedIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    assert(rows.length == pairs.length)
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("QuantizedDot equals the floor-quantized integer model; symmetric; self >= 0") {
    import spark.implicits._
    GraftExpressions.register(spark)
    val pairs = samples(Gen.zip(vecGen, vecGen), 100)
    val got = pairs.toDF("a", "b").select(
      GraftExpressions.qdot(col("a"), col("b")),
      GraftExpressions.qdot(col("b"), col("a")),
      GraftExpressions.qdot(col("a"), col("a"))).collect()
    pairs.zip(got).foreach { case ((a, b), r) =>
      val want = a.zip(b).map { case (x, y) =>
        math.floor(x.toDouble * GraftExpressions.Quant).toLong *
          math.floor(y.toDouble * GraftExpressions.Quant).toLong
      }.sum
      assert(r.getLong(0) == want)
      assert(r.getLong(0) == r.getLong(1)) // symmetric
      assert(r.getLong(2) >= 0L) // self-dot non-negative
    }
  }

  test("IntDot equals the zip-multiply model; codegen == interpreted") {
    import spark.implicits._
    GraftExpressions.register(spark)
    val intVec = Gen.listOfN(8, Gen.chooseNum(-127, 127))
    val pairs = samples(Gen.zip(intVec, intVec), 100)
    def run() = pairs.toDF("a", "b").select(
      GraftExpressions.intdot(col("a"), col("b")).as("fast")).collect().map(_.getLong(0))
    val on = run()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val off =
      try run()
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    assert(on.toSeq == off.toSeq)
    pairs.zip(on).foreach { case ((a, b), got) =>
      assert(got == a.zip(b).map { case (x, y) => x.toLong * y }.sum)
    }
  }

  test("SimHash32 equals the per-bit majority model on arbitrary hash sets") {
    import spark.implicits._
    GraftExpressions.register(spark)
    val sets = samples(Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)).map(_.toSeq), 200)
    val got = sets.toDF("h").select(GraftExpressions.simhash32(col("h"))).collect()
    sets.zip(got).foreach { case (hs, r) =>
      val want = (0 until 32).map { j =>
        val bitsum = hs.map(h => if (((h >>> j) & 1L) == 1L) 1 else -1).sum
        if (bitsum > 0) 1L << j else 0L
      }.sum
      assert(r.getLong(0) == want, s"simhash mismatch for $hs")
    }
    // empty set → 0
    assert(Seq(Seq.empty[Long]).toDF("h")
      .select(GraftExpressions.simhash32(col("h"))).head().getLong(0) == 0L)
  }

  test("MinHashSig equals the per-s array_min(zip_with) model") {
    import spark.implicits._
    GraftExpressions.register(spark)
    val mask = graft.functions.MinHashSig.Mask
    val pairGen = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.zip(Gen.listOfN(n, Gen.chooseNum(0L, mask)), Gen.listOfN(n, Gen.chooseNum(0L, mask))))
    val sets = samples(pairGen, 100)
    val got = sets.toDF("h1", "h2")
      .select(GraftExpressions.minhashSig(col("h1"), col("h2"), 12)).collect()
    sets.zip(got).foreach { case ((h1, h2), r) =>
      val want = (0 until 12).map(s =>
        h1.zip(h2).map { case (a, b) => (a + s * (b >> 4)) & mask }.min)
      assert(r.getSeq[Long](0) == want)
    }
  }

  test("sorted run stats: distinct count and max run, codegen == interpreted") {
    import spark.implicits._
    GraftExpressions.register(spark)
    val df = Seq(
      (1L, Seq("a", "a", "a", "b", "c", "c")), // 3 distinct, run of 3
      (2L, Seq("x")),                          // singleton
      (3L, Seq.empty[String])                  // empty → [0, 0]
    ).toDF("id", "arr")
    def run() = df.select(col("id"), GraftExpressions.sortedRunStats(col("arr")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val on = run()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val off =
      try run()
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    assert(on == off)
    assert(on(1L) == Seq(3L, 3L) && on(2L) == Seq(1L, 1L) && on(3L) == Seq(0L, 0L))
  }

  test("codegen and interpreted eval agree") {
    import spark.implicits._
    GraftExpressions.register(spark)
    val df = Seq((Seq(1L, 5L, 9L), Seq(5L, 9L, 11L))).toDF("a", "b")
    def run() = df.select(
      GraftExpressions.sortedIntersectCount(col("a"), col("b")),
      GraftExpressions.simhash32(col("a"))).head()
    val on = run()
    // NO_CODEGEN forces the interpreted nullSafeEval path — merely turning
    // wholeStage off still compiles expressions via fallback codegen
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val off =
      try run()
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    assert(on.getInt(0) == 2 && off.getInt(0) == 2)
    // 1,5,9: bit 0 set in all three (majority); bits 2 and 3 set in one of three each
    assert(on.getLong(1) == off.getLong(1) && on.getLong(1) == 1L)
  }

  test("PqArgminCode equals the unrolled array_position(array_min) tree; ties to lowest code") {
    import spark.implicits._
    GraftExpressions.register(spark)
    // deterministic codebook: 16 codewords × 16 dims on an irregular grid
    val cb: Array[Array[Float]] = Array.tabulate(16, 16)((j, i) =>
      ((j * 31 + i * 17) % 23 - 11) / 7.0f)
    def qdotLocal(a: Seq[Float], b: Seq[Float]): Long =
      a.zip(b).map { case (x, y) =>
        math.floor(x.toDouble * GraftExpressions.Quant).toLong *
          math.floor(y.toDouble * GraftExpressions.Quant).toLong
      }.sum
    val vecs = samples(vecGen, 150)
    val unrolled = vecs.toDF("sub").select((array_position(
      array(cb.map { c =>
        GraftExpressions.qdot(col("sub"), col("sub")) -
          lit(2L) * GraftExpressions.qdot(col("sub"), typedLit(c.toSeq)) +
          lit(qdotLocal(c.toSeq, c.toSeq))
      }: _*),
      array_min(array(cb.map { c =>
        GraftExpressions.qdot(col("sub"), col("sub")) -
          lit(2L) * GraftExpressions.qdot(col("sub"), typedLit(c.toSeq)) +
          lit(qdotLocal(c.toSeq, c.toSeq))
      }: _*))) - 1).cast("int")).collect().map(_.getInt(0))
    def runFast() = vecs.toDF("sub")
      .select(GraftExpressions.pqArgmin(col("sub"), cb)).collect().map(_.getInt(0))
    val fast = runFast()
    assert(fast.toSeq == unrolled.toSeq)
    // interpreted eval agrees with codegen
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp =
      try runFast()
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    assert(interp.toSeq == fast.toSeq)
    // duplicate codewords: the FIRST (lowest) index must win
    val dupCb = Array(cb(3), cb(3), cb(3))
    val tie = Seq(cb(3).toSeq).toDF("sub")
      .select(GraftExpressions.pqArgmin(col("sub"), dupCb)).head().getInt(0)
    assert(tie == 0)
    // truncated input slice: dot bounds by the shorter side, like qdot
    val short = Seq(Seq(0.5f, -0.25f)).toDF("sub")
      .select(GraftExpressions.pqArgmin(col("sub"), cb)).head().getInt(0)
    val shortModel = cb.zipWithIndex.map { case (c, j) =>
      val sub = Seq(0.5f, -0.25f)
      (qdotLocal(sub, sub) - 2L * qdotLocal(sub, c.toSeq.take(2)) +
        qdotLocal(c.toSeq, c.toSeq), j)
    }.min._2
    assert(short == shortModel)
    // null input → null
    assert(Seq((1L, None: Option[Seq[Float]])).toDF("id", "sub")
      .select(GraftExpressions.pqArgmin(col("sub"), cb)).head().isNullAt(0))
  }

  test("HilbertKey: bijective on a sub-square and ALWAYS neighbor-adjacent") {
    import spark.implicits._
    GraftExpressions.register(spark)
    // all of [0,32)²: high-level rotations keep it a valid Hilbert sub-curve,
    // so d must be exactly 0..1023 and consecutive d values must be Manhattan
    // neighbors — THE property Z-order lacks (its z-jumps teleport)
    val n = 32
    val pts = (0 until n).flatMap(x => (0 until n).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val rows = pts.select($"x", $"y",
        GraftExpressions.hilbert($"x", $"y").as("d")).collect()
      .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1)))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L until (n.toLong * n)).toSeq,
      "distances must be a bijection onto 0..n²−1")
    val jumps = rows.sliding(2).count { case Array((_, (x1, y1)), (_, (x2, y2))) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(jumps == 0, s"$jumps non-adjacent consecutive steps — not a Hilbert walk")
    // masking: coordinates beyond 16 bits wrap onto the grid, never throw
    val big = Seq((70000L, 140000L)).toDF("x", "y")
      .select(GraftExpressions.hilbert($"x", $"y")).collect().head.getLong(0)
    val masked = Seq((70000L & 0xFFFFL, 140000L & 0xFFFFL)).toDF("x", "y")
      .select(GraftExpressions.hilbert($"x", $"y")).collect().head.getLong(0)
    assert(big == masked)
  }
}
