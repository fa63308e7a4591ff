package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.vectors
import graft.operators.Similarity

/** The scale-aware ANN sizing rules and the subset-exactness contract
  * of the auto-sized near-dup operator (most Similarity coverage lives
  * in the oracle gate: q28/q29/q32/q42/q54/q62). */
class SimilaritySpec extends AnyFunSuite with SparkSpec with Matchers {

  test("lshTablesForRecall: more planes per table demand more tables") {
    // p = (1-θ/π)^b shrinks as b grows, so T must grow to hold recall
    val t4 = Similarity.lshTablesForRecall(4, 0.8, maxTables = 128)
    val t8 = Similarity.lshTablesForRecall(8, 0.8, maxTables = 128)
    val t12 = Similarity.lshTablesForRecall(12, 0.8, maxTables = 128)
    t4 should be < t8
    t8 should be < t12
    // threshold 1.0 → θ = 0 → every table hits: one suffices
    Similarity.lshTablesForRecall(8, 1.0) shouldBe 1
    // the recall target is a contract: a config that cannot meet it
    // within maxTables fails loudly instead of silently clamping
    an[IllegalArgumentException] should be thrownBy
      Similarity.lshTablesForRecall(24, 0.5, maxTables = 64)
    // degenerate thresholds are rejected, not sized to minimum work
    an[IllegalArgumentException] should be thrownBy
      Similarity.lshTablesForRecall(8, -1.0)
    an[IllegalArgumentException] should be thrownBy
      Similarity.lshTablesForRecall(8, 1.5)
  }

  test("auto-sized near-dup pairs are a subset of the exact answer, complete on near-identical vectors") {
    import spark.implicits._
    // 30 base directions plus 3 near-duplicates (tiny perturbation of
    // bases 0-2): the near-dups are far above threshold, the rest of
    // the pairs are random-direction (cos ~ 0 at dim 16)
    val dim = 16
    def vec(seed: Int): Seq[Double] =
      (0 until dim).map(i => math.sin(seed * 31.7 + i * 7.3))
    val rows =
      (0 until 30).map(i => (i.toLong, vec(i))) ++
        (0 until 3).map(i => (100L + i,
          vec(i).zipWithIndex.map { case (x, j) => x + 1e-3 * j }))
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairsExact(emb, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val auto = Similarity.lshNearDupPairsAuto(emb, 0.9, seed = 5L, dim = dim)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    auto.subsetOf(exact) shouldBe true // re-score: never a false positive
    // at miss-prob 1% per pair and 3 true pairs, completeness is the
    // overwhelmingly expected outcome — and deterministic for the
    // fixed seed, so this is a stable assertion, not a flaky one
    auto shouldBe exact
    exact.size should be >= 3
  }

  test("planesForSize holds in-bucket pairs near n·31/2 as n grows 10×") {
    import spark.implicits._
    // q54's central scaling claim (PLANS.md "Candidate growth MEASURED
    // at 1×–100×"): sizing the planes from n keeps bucket occupancy
    // near the target 32, so the in-bucket pair volume Σ C(c,2) stays
    // near n·31/2 instead of growing with n²
    val dim = 64
    def inBucketPairs(n: Int): Long = {
      val emb = (0 until n).map { i =>
        val r = new java.util.Random(5400000L + i)
        val v = Array.fill(dim)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        (i.toLong, v.toSeq.map(_ / norm))
      }.toDF("vec_id", "embedding")
      val planes = vectors.planeMatrix(54L, Similarity.planesForSize(n), dim)
      emb.groupBy(vectors.hyperplaneBucketFast(col("embedding"), planes))
        .count().agg(sum(col("count") * (col("count") - 1) / 2).cast("long"))
        .as[Long].head()
    }
    // measured: 36,846 pairs at n = 2,000 (6 planes, ratio 1.19) and
    // 286,426 at n = 20,000 (10 planes, ratio 0.92). The ±30% band
    // leaves 0.11 of margin above the first and 0.22 below the
    // second; keeping 6 planes at n = 20,000 reads ratio 12.0
    for (n <- Seq(2000, 20000)) {
      val ratio = inBucketPairs(n) / (n * 31.0 / 2)
      withClue(s"n=$n: ") { ratio should (be >= 0.7 and be <= 1.3) }
    }
  }

  test("probeRadiusForRecall: radius grows with tighter targets, shrinks with stronger floors") {
    // tighter miss target → larger radius (monotone non-decreasing)
    val r15 = Similarity.probeRadiusForRecall(8, 0.9, targetMiss = 0.15)
    val r05 = Similarity.probeRadiusForRecall(8, 0.9, targetMiss = 0.05)
    val r01 = Similarity.probeRadiusForRecall(8, 0.9, targetMiss = 0.01)
    r15 should be <= r05
    r05 should be <= r01
    // stronger similarity floor → planes agree more → smaller radius
    val weak = Similarity.probeRadiusForRecall(8, 0.7, targetMiss = 0.05)
    val strong = Similarity.probeRadiusForRecall(8, 0.99, targetMiss = 0.05)
    strong should be <= weak
    // more planes at the same floor/miss → radius does not shrink
    // (each extra plane is one more independent chance to flip)
    val p4 = Similarity.probeRadiusForRecall(4, 0.9, targetMiss = 0.05)
    val p16 = Similarity.probeRadiusForRecall(16, 0.9, targetMiss = 0.05)
    p4 should be <= p16
    // exact anchors: simFloor=1.0 → θ=0 → bucket identical → radius 0;
    // and the q97-scale derivation (4 planes, floor 0.9, miss 0.15)
    // lands on radius 1 — the radius q98's layout scan reads
    Similarity.probeRadiusForRecall(6, 1.0) shouldBe 0
    Similarity.probeRadiusForRecall(4, 0.9, targetMiss = 0.15) shouldBe 1
    // r = nPlanes covers every bucket, so the default cap always
    // terminates; an explicit IO-budget cap fails loudly instead
    Similarity.probeRadiusForRecall(4, 0.5, targetMiss = 0.001) shouldBe 4
    // ...including at sub-1e-15 targetMiss, where the accumulated
    // floating-point CDF either saturates to 1.0 early (a valid
    // smaller radius) or undershoots 1.0 at the full ball (the
    // r = nPlanes escape hatch) — terminates either way, never throws
    Similarity.probeRadiusForRecall(62, 0.9,
      targetMiss = 1e-16) should be <= 62
    an[IllegalArgumentException] should be thrownBy
      Similarity.probeRadiusForRecall(4, 0.5, targetMiss = 0.001,
        maxRadius = 2)
    an[IllegalArgumentException] should be thrownBy
      Similarity.probeRadiusForRecall(4, 1.5)
    an[IllegalArgumentException] should be thrownBy
      Similarity.probeRadiusForRecall(0, 0.9)
  }

  test("probeBuckets enumerates the Hamming ball, deterministically and without duplicates") {
    Similarity.probeBuckets(0b1010L, 4, 0) shouldBe Seq(0b1010L)
    val r1 = Similarity.probeBuckets(0b1010L, 4, 1)
    r1 shouldBe Seq(0b1010L, 0b1011L, 0b1000L, 0b1110L, 0b0010L)
    r1.distinct shouldBe r1
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val r2 = Similarity.probeBuckets(0b1010L, 4, 2)
    r2.size shouldBe (1 + 4 + 6)
    r2.foreach(b => ham(b, 0b1010L) should be <= 2)
    // full radius covers the whole bucket space
    Similarity.probeBuckets(7L, 4, 4).sorted shouldBe (0L until 16L)
    an[IllegalArgumentException] should be thrownBy
      Similarity.probeBuckets(0L, 4, 5)
    an[IllegalArgumentException] should be thrownBy
      Similarity.probeBuckets(0L, 0, 0)
  }

  test("multi-table top-k: true cosines, ranks dense per probe, floor-neighbors found") {
    import spark.implicits._
    val dim = 16
    def vec(seed: Int): Seq[Double] =
      (0 until dim).map(i => math.sin(seed * 31.7 + i * 7.3))
    // each base i has a near-identical partner 100+i (cos >> 0.9):
    // the planted neighbor every probe must surface at rank 1
    val rows =
      (0 until 30).map(i => (i.toLong, vec(i))) ++
        (0 until 30).map(i => (100L + i,
          vec(i).zipWithIndex.map { case (x, j) => x + 1e-3 * j }))
    val emb = rows.toDF("vec_id", "embedding")
    val topk = Similarity.lshTopKMultiAuto(emb, seed = 9L, dim = dim,
      k = 3, simFloor = 0.9).collect()
    // rank values are 1..k without gaps per probe
    topk.groupBy(_.getLong(0)).values.foreach { rs =>
      rs.map(_.getInt(3)).sorted shouldBe (1 to rs.length)
    }
    // every planted >= floor neighbor is found, at rank 1 (cos ~ 1
    // dominates the random-direction rest)
    val rank1 = topk.filter(_.getInt(3) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 30).foreach { i =>
      rank1(i.toLong) shouldBe 100L + i
      rank1(100L + i) shouldBe i.toLong
    }
    // reported cosines are TRUE cosines (exact re-rank, so each
    // reported value matches the brute-force pair cosine)
    val brute = Similarity.nearDupPairsExact(emb, -1.0)
      .select(col("id_a"), col("id_b"), col("cos"))
      .as[(Long, Long, Double)].collect()
      .flatMap(t => Seq((t._1, t._2) -> t._3, (t._2, t._1) -> t._3)).toMap
    topk.foreach { r =>
      r.getDouble(2) shouldBe brute((r.getLong(0), r.getLong(1)))
    }
  }

  test("marginMine: hand-computed margins, threshold verdicts, hub demotion") {
    import spark.implicits._
    // exact-arithmetic case (k=1): x1=(1,0), x2=(0,1); y1=(1,0),
    // y2=(0.8,0.6). cos: (x1,y1)=1, (x1,y2)=0.8, (x2,y1)=0,
    // (x2,y2)=0.6. k-NN means: ax(x1)=1, ax(x2)=0.6; ay(y1)=1,
    // ay(y2)=0.8. Best margins: x1→y1 1/((1+1)/2)=1.0 (accepted at
    // 0.9), x2→y2 0.6/((0.6+0.8)/2)=0.857143 (rejected)
    val xs = Seq((0L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val ys = Seq((1L, Seq(1.0, 0.0)), (3L, Seq(0.8, 0.6)))
      .toDF("vec_id", "embedding")
    val out = Similarity.marginMine(xs, ys, k = 1, threshold = 0.9)
      .orderBy("src_id")
      .as[(Long, Long, Double, Double, Boolean)].collect()
    out.length shouldBe 2
    out(0)._1 shouldBe 0L
    out(0)._2 shouldBe 1L
    out(0)._4 shouldBe 1.0 +- 2e-6
    out(0)._5 shouldBe true
    out(1)._1 shouldBe 2L
    out(1)._2 shouldBe 3L
    out(1)._3 shouldBe 0.6 +- 2e-6
    out(1)._4 shouldBe 0.857143 +- 2e-6
    out(1)._5 shouldBe false
    // HUB DEMOTION — the property the ratio margin exists for: yh
    // (a hub at 27°) has the HIGHEST raw cosine to x2 (45°), but is
    // also close to x1 (10°), so its k-NN mean is high and the
    // margin divides the ambient closeness back out; ys (72°) is
    // specific to x2 and wins on margin despite the lower cosine
    def ang(deg: Double) = Seq(math.cos(math.toRadians(deg)),
      math.sin(math.toRadians(deg)))
    val xs2 = Seq((0L, ang(10)), (2L, ang(45)))
      .toDF("vec_id", "embedding")
    val ys2 = Seq((1L, ang(27)), (3L, ang(72)))
      .toDF("vec_id", "embedding")
    val hub = Similarity.marginMine(xs2, ys2, k = 2, threshold = 1.0)
      .filter(col("src_id") === 2L)
      .as[(Long, Long, Double, Double, Boolean)].collect().head
    // raw cosine prefers the hub: cos(45°,27°)=cos 18° > cos 27°
    math.cos(math.toRadians(18)) should be >
      math.cos(math.toRadians(27))
    hub._2 shouldBe 3L // but margin picks the specific target
    hub._5 shouldBe true
  }

  test("marginMineIndexed: planted partners surface as best-margin at recall-sized tables") {
    import spark.implicits._
    val dim = 16
    // seeded Gaussian directions: genuinely independent vectors
    // (the sin(seed·c) fixture family ALIASES — seeds 1 and 1018
    // land ~0.28 rad apart mod 2π, cos 0.99 — which is exactly the
    // accidental near-dup a margin miner would rightly prefer)
    def vec(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      Seq.fill(dim)(r.nextGaussian())
    }
    // side X: 20 bases; side Y: each base's near-identical partner
    // (cos >> 0.9) plus 20 unrelated vectors as shortlist ballast
    val xs = (0 until 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val ys = ((0 until 20).map(i => (100L + i,
        vec(i).zipWithIndex.map { case (x, j) => x + 1e-3 * j })) ++
      (0 until 20).map(i => (200L + i, vec(1000 + i))))
      .toDF("vec_id", "embedding")
    val nPlanes = Similarity.planesForSize(40)
    val tables = (0 until
      Similarity.lshTablesForRecall(nPlanes, 0.9, 0.01))
      .map(t => graft.functions.vectors.planeMatrix(seed = 77L + t,
        nPlanes = nPlanes, dim = dim))
    val out = Similarity.marginMineIndexed(xs, ys, tables, k = 4,
      threshold = 1.0).collect()
    // every planted partner found (the ≥ 0.9 recall contract the
    // tables were sized for), best by margin, and accepted: a
    // near-identical pair's cosine dominates any shortlist mean
    out.length shouldBe 20
    out.foreach { r =>
      r.getLong(1) shouldBe 100L + r.getLong(0)
      r.getBoolean(4) shouldBe true
    }
  }

  test("marginProbeStore: planted partners mine from the clustered store; probe ball honors the radius") {
    import spark.implicits._
    val dim = 16
    def vec(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      Seq.fill(dim)(r.nextGaussian())
    }
    // store: 20 bases + 20 ballast, bucket-clustered; batch: each
    // base's near-identical partner
    val planes = graft.functions.vectors.planeMatrix(seed = 92L,
      nPlanes = 4, dim = dim)
    val store = ((0 until 20).map(i => (i.toLong, vec(i))) ++
      (0 until 20).map(i => (200L + i, vec(5000 + i))))
      .toDF("vec_id", "embedding")
      .withColumn("bucket", graft.functions.vectors
        .hyperplaneBucketFast(col("embedding"), planes))
    val root = java.nio.file.Files
      .createTempDirectory("graft_mps_").toString
    graft.sources.Layout.clusteredWrite(store, root + "/emb",
      numFiles = 4, col("bucket"))
    val batch = (0 until 20).map(i => (100L + i,
      vec(i).zipWithIndex.map { case (x, j) => x + 1e-3 * j }))
      .toDF("vec_id", "embedding")
    val radius = Similarity.probeRadiusForRecall(4, 0.9, 0.01)
    val out = Similarity.marginProbeStore(spark, root + "/emb",
      batch, planes, radius, k = 4, threshold = 1.0).collect()
    // every batch vector mines its base as the best (cos ≈ 1 beats
    // any ballast), and the forward margin accepts: the best stands
    // out from its shortlist mean unless the shortlist is ONLY the
    // partner (then margin = 1, still ≥ threshold 1.0)
    out.length shouldBe 20
    out.foreach { r =>
      r.getLong(1) shouldBe (r.getLong(0) - 100L)
      r.getDouble(3) should be >= 1.0
      r.getBoolean(4) shouldBe true
    }
    Scratch.deleteRecursively(new java.io.File(root))
  }

  test("marginMineStores: planted partners mine store-to-store with " +
    "the two-directional margin; engine ≡ dense marginMine on the " +
    "in-ball candidate set") {
    import spark.implicits._
    val dim = 16
    def vec(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      Seq.fill(dim)(r.nextGaussian())
    }
    val planes = graft.functions.vectors.planeMatrix(seed = 92L,
      nPlanes = 4, dim = dim)
    def bucketed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bucket", graft.functions.vectors
        .hyperplaneBucketFast(col("embedding"), planes))
    // X: 10 bases + ballast; Y: each base's near-identical partner
    // + ballast — the partner pair's cosine ≈ 1 dominates both
    // directions' shortlist means
    val xs = ((0 until 10).map(i => (i.toLong, vec(i))) ++
      (0 until 10).map(i => (300L + i, vec(7000 + i))))
      .toDF("vec_id", "embedding")
    val ys = ((0 until 10).map(i => (100L + i,
      vec(i).zipWithIndex.map { case (x, j) => x + 1e-3 * j })) ++
      (0 until 10).map(i => (400L + i, vec(8000 + i))))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft_mms_").toString
    graft.sources.Layout.clusteredWrite(bucketed(xs), root + "/x",
      numFiles = 4, col("bucket"))
    graft.sources.Layout.clusteredWrite(bucketed(ys), root + "/y",
      numFiles = 4, col("bucket"))
    val radius = Similarity.probeRadiusForRecall(4, 0.9, 0.01)
    val out = Similarity.marginMineStores(spark, root + "/x",
      root + "/y", planes, radius, k = 4, threshold = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(4)))).toMap
    // every base's best partner is its planted pair, accepted
    (0 until 10).foreach { i =>
      out(i.toLong)._1 shouldBe (100L + i)
      out(i.toLong)._2 shouldBe true
    }
    Scratch.deleteRecursively(new java.io.File(root))
  }

  test("semanticDedup marks within-cell near-dups as duplicates of their earliest neighbor") {
    import spark.implicits._
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    // cell 0: v1 ≡ v2 (cos 1), v3 at cos ≈ 0.994 to both → dup chain
    // collapses to the earliest id; cell 1: v4 alone → kept
    val emb = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(1.0, 0.0)),
      (3L, Seq(0.9, 0.1)),
      (4L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, cents, threshold = 0.99)
      .select("vec_id", "cell", "dup_of", "is_dup")
      .as[(Long, Int, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    out(1L) shouldBe ((0, None, false))
    out(2L) shouldBe ((0, Some(1L), true))
    out(3L) shouldBe ((0, Some(1L), true))
    out(4L) shouldBe ((1, None, false))
  }

  test("semanticDedup: cross-cell near-dups are out of contract; the occupancy guard fails loudly") {
    import spark.implicits._
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    // cos(v1, v2) ≈ 0.9998 but they straddle the cell boundary — the
    // cluster-bounded contract (the SemDeDup design) keeps both
    val straddle = Seq(
      (1L, Seq(0.71, 0.70)),
      (2L, Seq(0.70, 0.71))).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(straddle, cents, threshold = 0.99)
      .select("vec_id", "is_dup").as[(Long, Boolean)].collect().toMap
    kept shouldBe Map(1L -> false, 2L -> false)
    // a mega-cell (occupancy > maxCellSize) fails loudly instead of
    // silently going quadratic
    val ex = intercept[Exception] {
      Similarity.semanticDedup(
        Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.01))).toDF(
          "vec_id", "embedding"),
        cents, threshold = 0.99, maxCellSize = 1).collect()
    }
    ex.getMessage should include("refine the clustering")
  }

  test("labelCoherence: hand-computed sums; zero-centroid label fails loudly") {
    import spark.implicits._
    // label 0: (1,0) and (0,1) → sum direction (1,1), each cosine
    // 1/√2 → 0.707107 rounded; label 1: one vector → cosine 1
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 0),
      (3L, Seq(3.0f, 4.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCoherence(emb, "embedding", "label")
      .select(col("label"), col("n_vecs"), col("sum_cos"), col("min_cos"))
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1)
    out(0) shouldBe ((0, 2L, 1.414214, 0.707107))
    out(1) shouldBe ((1, 1L, 1.0, 1.0))
    // members that cancel leave a zero centroid — loud, not NaN
    val ex = intercept[IllegalArgumentException] {
      Similarity.labelCoherence(Seq(
        (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(-1.0f, 0.0f), 0))
        .toDF("vec_id", "embedding", "label"), "embedding", "label")
    }
    ex.getMessage should include("zero vector")
    // the label cap is loud too
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.labelCoherence(emb, "embedding", "label", maxLabels = 1)
    }
    ex2.getMessage should include("maxLabels")
  }

  test("labelAffinity: hand-computed centroid cosine; zero-centroid label is NULL") {
    import spark.implicits._
    // label 0 centroid direction (1,1); label 1 direction (3,4):
    // cos = 7 / (√2·5) = 0.98994949… → 0.989949
    // label 2 members cancel → zero centroid → NULL affinity
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 0),
      (3L, Seq(3.0f, 4.0f), 1),
      (4L, Seq(1.0f, 0.0f), 2), (5L, Seq(-1.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelAffinity(emb, "embedding", "label")
      .select(col("label_a"), col("label_b"), col("affinity"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    out((0, 1)) shouldBe Some(0.989949)
    out((0, 2)) shouldBe None
    out((1, 2)) shouldBe None
    out.size shouldBe 3
  }

  test("embeddingMoments: hand-computed exact moments; constant dim has zero variance numerator") {
    import spark.implicits._
    // label 0, dim 0 quantized values: 2^30, 0, 2^30 →
    // S = 2^31, Q = 2·2^60, var_num = 3·2·2^60 − (2^31)² = 2^61
    val emb = Seq(
      (1L, Seq(1.0f, 5.0f), 0), (2L, Seq(0.0f, 5.0f), 0),
      (3L, Seq(1.0f, 5.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingMoments(emb, "embedding", "label")
      .select(col("label"), col("pos"), col("n_vecs"),
        col("s_sum").cast("string"), col("q_sum").cast("string"),
        col("var_num").cast("string"))
      .as[(Int, Int, Long, String, String, String)]
      .collect().sortBy(_._2)
    out(0) shouldBe ((0, 0, 3L, "2147483648",
      "2305843009213693952", "2305843009213693952"))
    // dim 1 is constant 5.0 — its q² (25·2⁶⁰) OVERFLOWS int64, which
    // the decimal-square path must survive; collapsed ⇒ var_num = 0
    val q5 = BigInt(5) * (BigInt(1) << 30)
    out(1) shouldBe ((0, 1, 3L, (3 * q5).toString,
      (3 * q5 * q5).toString, "0"))
  }
}
