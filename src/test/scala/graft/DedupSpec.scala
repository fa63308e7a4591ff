package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.{hashes, text}
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with SparkSpec with Matchers {

  private lazy val corpus = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (3L, "completely different content about spark engines"),
      (4L, "spark engines process completely different content"), // same tokens, other order
      (5L, "")).toDF("doc_id", "text")
  }

  /** brute-force bigram Jaccard in Scala for the oracle side */
  private def bruteJaccard(a: String, b: String): Double = {
    def sh(s: String) = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    if (sa.isEmpty || sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  test("exactGroups keeps the minimum id as keeper") {
    import spark.implicits._
    val out = Dedup.exactGroups(corpus, Seq("text"), "doc_id")
      .select("keeper_id", "n_copies").as[(Long, Long)].collect()
    out.toSet should contain((0L, 2L)) // docs 0 and 2 collapse, keeper = 0
    out.map(_._2).sum shouldBe 6L // every source row accounted for
  }

  test("ngramJaccardPairs matches brute force (exact, inverted index)") {
    val texts = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = (for {
      a <- texts.keys; b <- texts.keys if a < b
      j = bruteJaccard(texts(a), texts(b)) if j >= 0.3
    } yield (a, b, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP))).toSet
    import spark.implicits._
    val got = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 2, 0.3)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2, BigDecimal(r._3).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    got shouldBe expected
  }

  test("jaccardPairsDense equals the inverted-index exact pairs (all columns)") {
    import spark.implicits._
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"),
        col("sz_b"), round(col("jaccard"), 6))
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val index = key(Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 2, 0.3))
    val dense = key(Dedup.jaccardPairsDense(corpus, "doc_id", "text", 2, 0.3))
    dense shouldBe index
    dense should not be empty
  }

  test("containmentPairsDense catches prefix-truncation Jaccard misses; overlap is exact") {
    import spark.implicits._
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val trunc = "alpha beta gamma delta epsilon" // first 5 of 20 tokens
    val docs = Seq((0L, long), (1L, trunc),
      (2L, "completely unrelated content about engines"))
      .toDF("doc_id", "text")
    // truncated copy: shingles are a strict subset of the parent's
    val got = Dedup.containmentPairsDense(docs, "doc_id", "text", 2, 0.9)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"),
        col("sz_b"), round(col("overlap"), 6), round(col("jaccard"), 6))
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    got.length shouldBe 1
    val (a, b, inter, szA, szB, ov, jc) = got.head
    (a, b) shouldBe (0L, 1L)
    inter shouldBe 4L // the 4 bigrams of the 5-token prefix
    (szA, szB) shouldBe (19L, 4L)
    ov shouldBe 1.0 // fully contained
    jc shouldBe BigDecimal(4.0 / 19.0).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    // ...and the symmetric dense path at the usual 0.5 threshold
    // ships the truncated copy as "unique" — the operator's reason
    Dedup.jaccardPairsDense(docs, "doc_id", "text", 2, 0.5)
      .count() shouldBe 0L
    // empty docs never divide by zero and never pair
    val withEmpty = docs.union(Seq((3L, ""), (4L, "")).toDF("doc_id", "text"))
    Dedup.containmentPairsDense(withEmpty, "doc_id", "text", 2, 0.9)
      .filter(col("doc_a") >= 3L || col("doc_b") >= 3L)
      .count() shouldBe 0L
  }

  test("containmentPairsDense equals seeded brute force, all columns; overlap dominates jaccard") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (0L until 14L).map(i =>
      (i, Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")))
    def sh(s: String) = s.split(" ").sliding(2).filter(_.length == 2)
      .map(_.mkString(" ")).toSet
    val expected = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      sa = sh(ta); sb = sh(tb)
      inter = sa.intersect(sb).size
      minSz = math.min(sa.size, sb.size) if minSz > 0
      ov = inter.toDouble / minSz if ov >= 0.3
    } yield (a, b, inter.toLong, sa.size.toLong, sb.size.toLong,
      BigDecimal(ov).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)).toSet
    val got = Dedup.containmentPairsDense(docs.toDF("doc_id", "text"),
        "doc_id", "text", 2, 0.3)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"),
        col("sz_b"), round(col("overlap"), 6), round(col("jaccard"), 6))
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    got.map(t => (t._1, t._2, t._3, t._4, t._5, t._6))
      .toSet shouldBe expected
    // overlap coefficient dominates jaccard on every surviving pair
    got.foreach(t => t._6 should be >= t._7)
  }

  test("containmentPairsIndexed equals the dense form (all columns, both fixtures)") {
    import spark.implicits._
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"),
        col("sz_b"), round(col("overlap"), 6), round(col("jaccard"), 6))
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSet
    // the seeded random corpus (same generator as the dense brute-force case)
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (0L until 14L).map(i =>
      (i, Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))).toDF("doc_id", "text")
    val dense = key(Dedup.containmentPairsDense(docs, "doc_id", "text", 2, 0.3))
    val index = key(Dedup.containmentPairsIndexed(docs, "doc_id", "text", 2, 0.3))
    index shouldBe dense
    index should not be empty
    // and on the shared corpus fixture, including the empty doc
    key(Dedup.containmentPairsIndexed(corpus, "doc_id", "text", 2, 0.5)) shouldBe
      key(Dedup.containmentPairsDense(corpus, "doc_id", "text", 2, 0.5))
    // the index form refuses t = 0 (shared-shingle completeness
    // needs t > 0; at 0 every pair qualifies and no index helps)
    intercept[IllegalArgumentException] {
      Dedup.containmentPairsIndexed(corpus, "doc_id", "text", 2, 0.0)
    }.getMessage should include("t > 0")
  }

  test("containmentPairsIndexed catches the prefix-truncation miss the symmetric path ships") {
    import spark.implicits._
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val trunc = "alpha beta gamma delta epsilon"
    val docs = Seq((0L, long), (1L, trunc),
      (2L, "completely unrelated content about engines"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairsIndexed(docs, "doc_id", "text", 2, 0.9)
      .select(col("doc_a"), col("doc_b"), round(col("overlap"), 6))
      .as[(Long, Long, Double)].collect()
    got.toSeq shouldBe Seq((0L, 1L, 1.0))
    // inert-guard mode proves the guarded answer exact; an active
    // guard claim fails loudly (the ngramJaccardPairs convention)
    Dedup.containmentPairsIndexed(docs, "doc_id", "text", 2, 0.9,
      maxShingleDf = Some(10), requireInertGuard = true)
      .count() shouldBe 1L
    intercept[IllegalArgumentException] {
      Dedup.containmentPairsIndexed(docs, "doc_id", "text", 2, 0.9,
        maxShingleDf = Some(1), requireInertGuard = true)
    }.getMessage should include("ACTIVE")
  }

  test("dense occupancy guard refuses the quadratic plan past maxDenseDocs") {
    val eJ = intercept[IllegalArgumentException] {
      Dedup.jaccardPairsDense(corpus, "doc_id", "text", 2, 0.3,
        maxDenseDocs = 3L)
    }
    eJ.getMessage should include("ngramJaccardPairs")
    val eC = intercept[IllegalArgumentException] {
      Dedup.containmentPairsDense(corpus, "doc_id", "text", 2, 0.3,
        maxDenseDocs = 3L)
    }
    eC.getMessage should include("containmentPairsIndexed")
  }

  test("pair store: builds once, re-reads without rebuild, rebuilds after crash residue") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_pairstore_spec_").toString
    val store = root + "/pairs_store"
    try {
      val direct = Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
        shingleN = 2, k = 16, bands = 8, threshold = 0.3)
        .collect().map(_.toSeq).toSet
      val got = Dedup.ensurePairStore(corpus, "doc_id", "text", store,
        shingleN = 2, k = 16, bands = 8, threshold = 0.3)
      got.collect().map(_.toSeq).toSet shouldBe direct
      direct should not be empty
      // second ensure READS — the published marker's mtime must not move
      val marker = new java.io.File(store + "/pairs/_SUCCESS")
      marker.isFile shouldBe true
      val t0 = marker.lastModified()
      Dedup.ensurePairStore(corpus, "doc_id", "text", store,
        shingleN = 2, k = 16, bands = 8, threshold = 0.3)
        .collect().map(_.toSeq).toSet shouldBe direct
      marker.lastModified() shouldBe t0
      // a crashed half-write (no _SUCCESS) is rebuilt, not trusted
      marker.delete() shouldBe true
      Dedup.ensurePairStore(corpus, "doc_id", "text", store,
        shingleN = 2, k = 16, bands = 8, threshold = 0.3)
        .collect().map(_.toSeq).toSet shouldBe direct
      marker.isFile shouldBe true
      // and no writer lease (the sibling `<root>.lease`) is left held
      new java.io.File(store + ".lease").exists() shouldBe false
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("requireInertGuard fails loudly when a shingle exceeds the guard") {
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 2, 0.3,
        maxShingleDf = Some(1), requireInertGuard = true).collect()
    }
    e.getMessage should include("guard is ACTIVE")
    // and an inert guard passes the same check
    Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 2, 0.3,
      maxShingleDf = Some(100), requireInertGuard = true).count() should be > 0L
  }

  test("skew guard only prunes candidates; surviving pairs stay exact") {
    import spark.implicits._
    val unguarded = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 2, 0.3)
      .select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect().toSet
    val guarded = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 2, 0.3,
      maxShingleDf = Some(2))
      .select("doc_a", "doc_b", "inter").as[(Long, Long, Long)].collect().toSet
    guarded.subsetOf(unguarded) shouldBe true
    // intersection counts (from full sets) agree wherever pairs survive
    guarded.foreach(p => unguarded should contain(p))
  }

  test("minhashNearDupPairs equals the exact pairs at a high threshold") {
    import spark.implicits._
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 2, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
      shingleN = 2, k = 64, bands = 32, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    lsh shouldBe exact
  }

  test("simhash: deterministic, equal for identical token streams, order-sensitive fingerprint") {
    import spark.implicits._
    val out = corpus.select(col("doc_id"),
      Dedup.simhash(col("text"), width = 60, hashFn = hashes.md5Hash60).as("sh"),
      hashes.rollingFingerprint(text.tokens(col("text"))).as("fp"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    out(0L) shouldBe out(2L)                 // identical docs agree on both
    out(0L)._1 should not be out(3L)._1      // different docs differ
    // near-dups are close in Hamming space, far docs are not
    val h01 = java.lang.Long.bitCount(out(0L)._1 ^ out(1L)._1)
    val h03 = java.lang.Long.bitCount(out(0L)._1 ^ out(3L)._1)
    h01 should be < h03
    // rolling fingerprint is ORDER-sensitive: same tokens, other order
    out(3L)._2 should not be out(4L)._2
  }

  test("connectedComponents labels every node with its component minimum") {
    import spark.implicits._
    // two chains + an isolated pair: {1,2,3,4}, {10,11}, {20,21}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    cc shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
  }

  test("connectedComponentsStar matches label propagation and converges in O(log n) on a chain") {
    import spark.implicits._
    // 41-node chain: diameter 40 — the worst case for label propagation
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // driverEdgeCap = 0 forces the distributed star rounds: this test
    // pins the O(log n) property of the DISTRIBUTED algorithm (the
    // 100 TB path); the driver fast path has its own parity test below
    val (labels, iters) =
      Dedup.starComponents(chain, "doc_a", "doc_b", 30, driverEdgeCap = 0)
    val got = labels.as[(Long, Long)].collect().toMap
    got.keySet shouldBe (0L to 40L).toSet
    got.values.toSet shouldBe Set(0L) // one component, min = 0
    iters should be <= 10 // O(log n), not O(diameter)
    // min-label propagation needs ~diameter rounds on the same graph
    // and now fails loudly instead of returning partial labels
    an[IllegalArgumentException] should be thrownBy
      Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIter = 10)
    // and the two algorithms agree when label propagation CAN converge
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val a = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val b = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    b shouldBe a
  }

  test("starComponents driver union-find fast path equals the distributed star rounds") {
    import spark.implicits._
    // adversarial mix: a long chain (deep trees for naive UF), two
    // cliques sharing a bridge, duplicate + reversed edges, an
    // isolated pair, and ids far apart so index order != arrival order
    val edges = (
      (0L until 25L).map(i => (1000L + i + 1, 1000L + i)) ++ // chain
        (for { a <- 0L until 6L; b <- 0L until 6L if a < b }
          yield (50L + a, 50L + b)) ++ // clique A
        (for { a <- 0L until 5L; b <- 0L until 5L if a < b }
          yield (90L + b, 90L + a)) ++ // clique B, reversed
        Seq((55L, 92L)) ++ // bridge A-B
        Seq((7L, 3L), (3L, 7L), (7L, 7L)) ++ // dup/reversed/self
        Seq((500000L, 2L))
    ).toDF("doc_a", "doc_b")
    val fast = Dedup.starComponents(edges, "doc_a", "doc_b", 30)
    val dist =
      Dedup.starComponents(edges, "doc_a", "doc_b", 30, driverEdgeCap = 0)
    fast._2 shouldBe 0 // the fast path ran (no distributed rounds)
    dist._2 should be > 0
    fast._1.as[(Long, Long)].collect().toMap shouldBe
      dist._1.as[(Long, Long)].collect().toMap
    // integer-typed ids take the fast path too, same output type
    val intEdges = Seq((2, 1), (2, 3), (10, 11)).toDF("doc_a", "doc_b")
    val intCc = Dedup.connectedComponentsStar(intEdges, "doc_a", "doc_b")
    intCc.schema("label").dataType shouldBe
      org.apache.spark.sql.types.IntegerType
    intCc.as[(Int, Int)].collect().toMap shouldBe
      Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10)
  }

  test("starComponents driver probe: an over-cap edge set is counted, " +
    "not fetched — at width 4 the driver receives ≤ cap+1 edge rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val cap = 8
    // 400 disjoint edges, hashed over the session's 4 shuffle
    // partitions (coalescing off keeps all four): far over the cap
    val edges = (0L until 400L).map(i => (2 * i + 1, 2 * i))
      .toDF("doc_a", "doc_b")
    // edge-set rows the probe's collects pull off the checkpoint
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "collect")
          fetched.addAndGet(new AdaptiveSparkPlanHelper {}
            .collect(qe.executedPlan) { case s: RDDScanExec =>
              s.metrics("numOutputRows").value }.sum)
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val (cc, rounds) = GraftSession.withConf(spark,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      Bridge.drainListenerBus(spark)
      spark.listenerManager.register(l)
      try {
        val r = Dedup.starComponents(edges, "doc_a", "doc_b", 30,
          driverEdgeCap = cap)
        Bridge.drainListenerBus(spark)
        r
      } finally spark.listenerManager.unregister(l)
    }
    fetched.get should be <= (cap + 1).toLong
    rounds should be > 0 // over the cap: the distributed rounds ran
    cc.as[(Long, Long)].collect().toMap shouldBe
      (0L until 400L).flatMap(i => Seq(2 * i -> 2 * i, (2 * i + 1) -> 2 * i))
        .toMap
  }

  test("simhashNearDupPairs (pigeonhole blocking) equals the all-pairs answer") {
    import spark.implicits._
    val fp = corpus.select(col("doc_id"),
      Dedup.simhashFast(graft.functions.text.tokens(col("text"))).as("fp"))
    val exact = fp.toDF("a", "fa").crossJoin(fp.toDF("b", "fb"))
      .filter(col("a") < col("b"))
      .withColumn("h", Dedup.hamming64(col("fa"), col("fb")))
      .filter(col("h") <= 5)
      .select("a", "b", "h").as[(Long, Long, Int)].collect().toSet
    val blocked = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", radius = 5)
      .as[(Long, Long, Int)].collect().toSet
    blocked shouldBe exact
    blocked should not be empty // docs 0 and 2 are identical (hamming 0)
  }

  test("hammingNearDupPairs: exact at the radius boundary on handmade fingerprints") {
    import spark.implicits._
    // hand-walked distances over {0, 15, 31, 1<<63, (1<<63)|1}:
    // the radius-4 boundary pair (1↔2) is IN, the 5-bit pairs
    // (1↔3, 2↔4, 3↔5) are OUT, and bit 63 (the sign bit)
    // participates like any other (1↔4 at hamming 1, 4↔5 at 1)
    val fp = Seq(
      (1L, 0L), (2L, 15L), (3L, 31L),
      (4L, Long.MinValue), (5L, Long.MinValue | 1L))
      .toDF("doc", "fp")
    val pairs = Dedup.hammingNearDupPairs(fp, radius = 4, width = 64,
        blocks = Some(8), keyBlocks = 1)
      .as[(Long, Long, Int)].collect().toSet
    pairs shouldBe Set((1L, 2L, 4), (2L, 3L, 1), (1L, 4L, 1),
      (1L, 5L, 2), (2L, 5L, 4), (4L, 5L, 1))
  }

  test("incrementalPhashAgainst: closest-stored attribution, misses " +
    "stay unflagged, mismatched blocking is rejected") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_phashidx_").toString
    try {
      // stored: 0 (fp 0), 1 (fp 0b11), 2 (far)
      val idx = Seq((0L, 0L), (1L, 3L), (2L, 0x0F0F0F0F0F0F0F0FL))
        .toDF("doc", "fp")
      Dedup.writePhashIndex(idx, root + "/idx", radius = 4,
        width = 64, blocks = Some(8), keyBlocks = 1)
      // batch: 10 at hamming (1 vs doc0, 2 vs doc1) → closest = 0;
      // 11 equidistant (2 vs doc0, 2 vs doc1... ) tie → smaller id;
      // 12 near nothing
      val batch = Seq(
        (10L, 1L),                       // d(0)=1, d(1)=2 → dup_of 0
        (11L, 5L),                       // d(0)=2, d(1)=2 → tie → 0
        (12L, 0x3333333333333333L))      // far from everything
        .toDF("doc", "fp")
      val out = Dedup.incrementalPhashAgainst(spark, batch,
          root + "/idx", radius = 4, width = 64, blocks = Some(8),
          keyBlocks = 1)
        .select("doc", "dup_of", "hamming", "is_dup")
        .as[(Long, Option[Long], Option[Int], Boolean)]
        .collect().map(r => r._1 -> r).toMap
      out(10L) shouldBe ((10L, Some(0L), Some(1), true))
      out(11L) shouldBe ((11L, Some(0L), Some(2), true))
      out(12L) shouldBe ((12L, None, None, false))
      // a marker with different blocking parameters is rejected —
      // it would silently lose recall against this index
      val ex = intercept[IllegalArgumentException] {
        Dedup.incrementalPhashAgainst(spark, batch, root + "/idx",
          radius = 2, width = 64, blocks = Some(8), keyBlocks = 1)
      }
      ex.getMessage should include("must block identically")
      new java.io.File(root + "/idx.lease").exists() shouldBe false
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("phash params check re-reads an index rebuilt at the same path " +
    "by another writer, even when the params dir keeps its mtime") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_phashparams_").toString
    try {
      val idx = root + "/idx"
      val fp = Seq((0L, 0L), (1L, 3L)).toDF("doc", "fp")
      def mark(radius: Int): Long = Dedup.incrementalPhashAgainst(spark,
          fp, idx, radius = radius, width = 64, blocks = Some(8),
          keyBlocks = 1).count()
      Dedup.writePhashIndex(fp, idx, radius = 4, width = 64,
        blocks = Some(8), keyBlocks = 1)
      mark(4) shouldBe 2L // caches the recorded params
      // another process rebuilds the params with radius 2 (so this
      // process's writePhashIndex invalidation never runs), and the
      // directory's mtime reads as before — a coarse-mtime
      // filesystem or a time-preserving copy
      val paramsDir = new java.io.File(idx + "/params")
      val mtime = paramsDir.lastModified()
      Seq((2, 64, 8, 1)).toDF("radius", "width", "blocks", "key_blocks")
        .write.mode("overwrite").parquet(paramsDir.toString)
      paramsDir.setLastModified(mtime) shouldBe true
      mark(2) shouldBe 2L
      intercept[IllegalArgumentException](mark(4))
        .getMessage should include("radius=2")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("phash mark pruning: pushed batch-key scan ≡ whole-store scan, " +
    "in-cap and over-cap regimes") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_phashprune_").toString
    try {
      // spread fingerprints over the key space (golden-ratio stride)
      // so the over-cap batch really exceeds DefaultMarkPruneCap
      // distinct bkeys: width 64 / blocks 4 → 16-bit keys, 4 tables
      def fps(ids: Range, salt: Long) = ids
        .map(i => (i.toLong, i * 0x9E3779B97F4A7C15L + salt))
        .toDF("doc", "fp")
      Dedup.writePhashIndex(fps(0 until 3000, 0L), root + "/idx",
        radius = 3, width = 64, blocks = Some(4), keyBlocks = 1)
      def mark(batch: org.apache.spark.sql.DataFrame, minBytes: Long) =
        Dedup.incrementalPhashAgainst(spark, batch, root + "/idx",
            radius = 3, width = 64, blocks = Some(4), keyBlocks = 1,
            pruneMinStoreBytes = minBytes)
          .select("doc", "dup_of", "hamming", "is_dup")
          .as[(Long, Option[Long], Option[Int], Boolean)]
          .collect().toSet
      // IN-CAP: a small batch (some fps equal to stored ones, some
      // one flip away, some novel) — pruned scan and full scan agree
      val small = Seq(
        (9001L, 7L * 0x9E3779B97F4A7C15L),        // = stored doc 7
        (9002L, 5L * 0x9E3779B97F4A7C15L ^ 1L),   // 1 flip off doc 5
        (9003L, 0x1234123412341234L))             // novel
        .toDF("doc", "fp")
      val pruned = mark(small, 0L)
      pruned shouldBe mark(small, Long.MaxValue)
      pruned.find(_._1 == 9001L).get._4 shouldBe true
      pruned.find(_._1 == 9003L).get._4 shouldBe false
      // OVER-CAP: force the fallback with a tiny explicit cap (the
      // production cap needs >50k distinct bkeys to trip — same code
      // path, spec-scale data): the collect caps out and the
      // scan-join fallback takes over, same verdicts
      val big = fps(5000 until 6500, 0L)
        .select((col("doc") + 10000L).as("doc"), col("fp"))
      def markCapped(minBytes: Long) =
        Dedup.incrementalPhashAgainst(spark, big, root + "/idx",
            radius = 3, width = 64, blocks = Some(4), keyBlocks = 1,
            pruneMinStoreBytes = minBytes, pruneCap = 16)
          .select("doc", "dup_of", "hamming", "is_dup")
          .as[(Long, Option[Long], Option[Int], Boolean)]
          .collect().toSet
      markCapped(0L) shouldBe markCapped(Long.MaxValue)
      // and the in-cap pruned path over the same big batch agrees too
      mark(big, 0L) shouldBe mark(big, Long.MaxValue)
      // empty batch under pruning: empty-relation short-circuit
      mark(fps(0 until 0, 0L), 0L) shouldBe Set.empty
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("pushed key-set read: an In in the scan's PushedFilters and no " +
    "join under the cap, the site's own form past it or with the gate " +
    "off, nothing for no keys, the semi-join's rows for null and Int keys") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val root = java.nio.file.Files
      .createTempDirectory("graft_pushedread_").toString
    try {
      // a long key column holding a null, as a one-file parquet store
      (None +: (0L until 20L).map(Some(_)))
        .map(k => (k, k.fold("none")(i => s"v$i"))).toDF("k", "v")
        .repartition(1).write.parquet(s"$root/store")
      val t = spark.read.parquet(s"$root/store")
      val kf = Seq(3L, 5L, 7L, 100L).toDF("k")
      val withNull = Seq(Some(3L), None).toDF("k")
      val ints = Seq(3, 5).toDF("k")
      def semi(keys: DataFrame): DataFrame => DataFrame =
        _.join(keys, Seq("k"), "left_semi")
      def anti(keys: DataFrame): DataFrame => DataFrame =
        _.join(keys, Seq("k"), "left_anti")
      // (case, key set, exclude, over-cap form, expected rows, plan)
      Seq(
        ("under the cap", Dedup.boundedKeys(kf, "k", 4), false, semi(kf),
          semi(kf)(t), "pushed"),
        ("past the cap", Dedup.boundedKeys(kf, "k", 3), false, semi(kf),
          semi(kf)(t), "join"),
        ("gate off", Dedup.boundedKeys(kf, "k", 4, gate = false), false,
          identity[DataFrame] _, t, "scan"),
        ("no keys", Dedup.boundedKeys(kf.limit(0), "k", 4), false,
          semi(kf), t.limit(0), "empty"),
        ("a null key", Dedup.boundedKeys(withNull, "k", 4), false,
          semi(withNull), semi(withNull)(t), "pushed"),
        ("Int keys on a long column", Some(Set[Any](3, 5)), false,
          semi(ints), semi(ints)(t), "pushed"),
        // under the cap the exclusion is `NOT IN`, which drops a null
        // key the anti-join keeps
        ("excluded keys", Dedup.boundedKeys(kf, "k", 4), true, anti(kf),
          anti(kf)(t).filter(col("k").isNotNull), "pushed"),
        ("excluded keys past the cap", Dedup.boundedKeys(kf, "k", 3), true,
          anti(kf), anti(kf)(t), "join")
      ).foreach { case (name, keys, exclude, overCap, want, plan) =>
        withClue(name) {
          val got = Dedup.restrictTo(t, "k", keys, 4, exclude)(overCap)
          got.collect().map(_.toString).sorted shouldBe
            want.collect().map(_.toString).sorted
          val exec = new AdaptiveSparkPlanHelper {}
          val p = got.queryExecution.executedPlan
          val joins = exec.collect(p) { case j: BaseJoinExec => j }
          val pushedIn = exec.collect(p) { case s: FileSourceScanExec =>
            s.metadata("PushedFilters") }.exists(_.contains("In(k,"))
          plan match {
            case "pushed" => (joins.isEmpty, pushedIn) shouldBe (true, true)
            case "join" => (joins.nonEmpty, pushedIn) shouldBe (true, false)
            case "scan" => (joins.isEmpty, pushedIn) shouldBe (true, false)
            case "empty" => got.collect() shouldBe empty
          }
        }
      }
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("simhash pigeonhole: wider-key Manku parameterizations give identical pairs") {
    import spark.implicits._
    val minimal = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", radius = 5)
      .as[(Long, Long, Int)].collect().toSet
    // 10 blocks of 6 bits, keys = every 2-combination (45 tables, 12-bit keys)
    val wide = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", radius = 5,
      blocks = Some(10), keyBlocks = 2)
      .as[(Long, Long, Int)].collect().toSet
    // 12 blocks of 5 bits, keys = every 3-combination (220 tables, 15-bit keys)
    val wider = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", radius = 5,
      blocks = Some(12), keyBlocks = 3)
      .as[(Long, Long, Int)].collect().toSet
    wide shouldBe minimal
    wider shouldBe minimal
    minimal should not be empty
    // recall-losing parameterizations are rejected loudly
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashNearDupPairs(corpus, "doc_id", "text", radius = 5,
        blocks = Some(6), keyBlocks = 2)
  }

  test("simhashParamsForSize widens the key with the corpus, and auto ≡ fixed") {
    import spark.implicits._
    // occupancy = n / 2^keyBits regardless of table count, so the
    // key width must track log2 n (PLANS.md "Candidate growth
    // MEASURED at 1×–100×": fixed 10-bit keys go superlinear past
    // ~10k docs)
    Dedup.simhashParamsForSize(500) shouldBe (6, 1) // 10-bit keys, 6 tables
    Dedup.simhashParamsForSize(50000) shouldBe (10, 2) // 12-bit, 45 tables
    Dedup.simhashParamsForSize(5000000) shouldBe (10, 3) // 18-bit, 120 tables
    Dedup.simhashParamsForSize(3000000000L) shouldBe (10, 5) // 30-bit, 252
    // every derived config satisfies the recall-1 pigeonhole constraint
    for (n <- Seq(1L, 100L, 10000L, 1000000L, Long.MaxValue / 2)) {
      val (b, k) = Dedup.simhashParamsForSize(n)
      (60 % b) shouldBe 0
      k should be <= (b - 5)
      (k * (60 / b)) should be <= 63
    }
    val auto = Dedup.simhashNearDupPairsAuto(corpus, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    auto shouldBe Dedup.simhashNearDupPairs(corpus, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
  }

  test("hamming64 counts differing bits") {
    import spark.implicits._
    Seq((0xFFL, 0x0FL)).toDF("a", "b")
      .select(Dedup.hamming64(col("a"), col("b")))
      .as[Int].head() shouldBe 4
  }

  test("contaminationScores: exact matched-fraction per doc; empty docs score zero") {
    import spark.implicits._
    val evalSet = Seq((100L, "a b c d")).toDF("doc_id", "text")
    // bigrams: eval = {a b, b c, c d}
    val corpus = Seq(
      (1L, "a b c x"), // {a b, b c, c x} → 2/3 matched
      (2L, "p q r"),   // no overlap → 0
      (3L, ""),        // empty → 0, no division
      (4L, "a b c d")) // exact copy → 1.0
      .toDF("doc_id", "text")
    val out = Dedup.contaminationScores(corpus, evalSet,
        "doc_id", "text", n = 2)
      .select(col("doc_id"), col("n_shingles"), col("n_matched"),
        round(col("contamination"), 6))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    out(0) shouldBe ((1L, 3L, 2L, 0.666667))
    out(1) shouldBe ((2L, 2L, 0L, 0.0))
    out(2) shouldBe ((3L, 0L, 0L, 0.0))
    out(3) shouldBe ((4L, 3L, 3L, 1.0))
  }

  test("incrementalDedup keeps only content absent from the corpus") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "brand new doc"),       // genuinely new
      (11L, "alpha beta gamma"),    // re-crawl under a new id
      (12L, "delta"),               // re-crawl
      (13L, "brand new doc"))       // intra-batch dup of 10 survives
      .toDF("doc_id", "text")       // (incremental op dedups vs CORPUS)
    val kept = Dedup.incrementalDedup(batch, corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    kept shouldBe Set(10L, 13L)
  }

  test("incrementalDedupBloom equals incrementalDedup, even with an overloaded sketch") {
    import spark.implicits._
    val corpusDf = (1L to 400L).map(i => (i, s"corpus document number $i"))
      .toDF("doc_id", "text")
    val batch = (
      (380L to 420L).map(i => (i + 10000L, s"corpus document number $i")) ++
        Seq((20000L, "entirely fresh content"),
          (20001L, "entirely fresh content"))) // intra-batch dup survives
      .toDF("doc_id", "text")
    val expected = Dedup.incrementalDedup(batch, corpusDf, "text")
      .select("doc_id").as[Long].collect().toSet
    expected shouldBe ((401L to 420L).map(_ + 10000L).toSet + 20000L + 20001L)
    // well-sized sketch and a deliberately overloaded 1-item sketch
    // (fpp ≈ 1, everything routes through the exact confirm joins)
    for (cap <- Seq(1L, 1L << 12)) {
      val kept = Dedup.incrementalDedupBloom(batch, corpusDf, "text", cap)
        .select("doc_id").as[Long].collect().toSet
      kept shouldBe expected
    }
  }

  test("incrementalDedupBloom never shuffles the corpus: might_contain prefilter + broadcast joins only") {
    import spark.implicits._
    val corpusDf = (1L to 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val batch = Seq((200L, "doc 5"), (201L, "new stuff")).toDF("doc_id", "text")
    val out = Dedup.incrementalDedupBloom(batch, corpusDf, "text", 1L << 10)
    val plan = out.queryExecution.executedPlan.toString
    plan should include("might_contain")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "ShuffledHashJoin"
    out.select("doc_id").as[Long].collect().toSet shouldBe Set(201L)
  }

  test("incrementalDedupBloom clamps to the session runtime-filter caps and stays exact") {
    import spark.implicits._
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    // tiny caps force BOTH clamps (items 10^9 → 64, bits ~613 → 512)
    GraftSession.withConf(spark, itemsKey -> "64", bitsKey -> "512") {
      val corpusDf = (1L to 300L).map(i => (i, s"clamp doc $i"))
        .toDF("doc_id", "text")
      val batch = (250L to 320L).map(i => (i + 10000L, s"clamp doc $i"))
        .toDF("doc_id", "text")
      val expected = Dedup.incrementalDedup(batch, corpusDf, "text")
        .select("doc_id").as[Long].collect().toSet
      expected shouldBe (301L to 320L).map(_ + 10000L).toSet
      // an honest 10^9 estimate must neither throw at analysis time
      // (BloomFilterAggregate rejects above-cap sizes) nor change the
      // answer: undersizing only raises the false-positive rate, and
      // every false positive dies in the exact confirm join
      val kept = Dedup.incrementalDedupBloom(batch, corpusDf, "text",
          expectedItems = 1000000000L)
        .select("doc_id").as[Long].collect().toSet
      kept shouldBe expected
    }
  }

  test("incrementalDedupBloom with an empty corpus keeps the whole batch") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    Dedup.incrementalDedupBloom(batch, empty, "text", 16L)
      .select("doc_id").as[Long].collect().toSet shouldBe Set(1L, 2L)
  }

  test("resolveDuplicates keeps the highest-quality member per component, min id on ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, 5L, "s1"), (2L, 9L, "s1"), (3L, 9L, "s2"), // chain {1,2,3}: q 9 tie → id 2
      (4L, 1L, "s2"),                                 // singleton: always kept
      (5L, 3L, "s3"), (6L, 2L, "s3"))                 // {5,6} → 5
      .toDF("doc_id", "q", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.resolveDuplicates(docs, pairs, "doc_id", "q")
      .select("doc_id").as[Long].collect().toSet
    kept shouldBe Set(2L, 4L, 5L)
  }

  test("image quality keeper (q179 rule): bright-cell argmax per " +
    "group, min id on ties, singletons kept — shared resolveDuplicates") {
    import spark.implicits._
    // group A: docs 1/2/3 pairwise within radius (popcounts 2, 4, 4)
    //   → argmax 4 is tied between 2 and 3 → min id 2 wins
    // group B: docs 10/11 (popcounts 14, 16) → the NON-min-id 11
    //   wins on quality — the case q178's min-id rule gets wrong
    // singleton: doc 20 survives untouched
    val fp = Seq(
      (1L, 3L),                 // 0b0011            popcount 2
      (2L, 0xC | 0x3L),         // 0b1111            popcount 4
      (3L, 0x30 | 0x3L),        // 0b110011          popcount 4
      (10L, 0x00FF00000000FC00L), // popcount 14
      (11L, 0x00FF00000000FF00L), // +2 bits: popcount 16, hamming 2
      (20L, 0x5555000000000000L))
      .toDF("doc", "fp")
    val pairs = graft.operators.Dedup.hammingNearDupPairs(fp,
      radius = 4, width = 64, blocks = Some(8), keyBlocks = 1)
    val docs = fp.withColumn("bright_cells",
      org.apache.spark.sql.functions.bit_count(col("fp")).cast("long"))
    val kept = graft.operators.Dedup
      .resolveDuplicates(docs, pairs, "doc", "bright_cells")
      .select("doc", "bright_cells")
      .as[(Long, Long)].collect().toSet
    // group A {1,2,3}: tie 2 vs 3 at popcount 4 → min id 2
    // group B {10,11}: 11 wins on popcount 16 > 14 (NOT the min id)
    kept shouldBe Set((2L, 4L), (11L, 16L), (20L, 8L))
  }

  test("dupSpanStats counts positions whose n-gram occurs in another doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f", "s1"), // grams: "a b c d e", "b c d e f"
      (2L, "a b c d e x", "s1"), // shares "a b c d e" with doc 1
      (3L, "p q r s t", "s2"),   // unique gram
      (4L, "too short", "s2"))   // < 5 tokens → no row
      .toDF("doc_id", "text", "source")
    val out = Dedup.dupSpanStats(docs, "doc_id", "text", n = 5,
        carryCols = Seq("source"))
      .as[(Long, String, Long, Long)].collect()
      .map { case (d, s, t0, sh) => d -> ((s, t0, sh)) }.toMap
    out shouldBe Map(
      1L -> (("s1", 2L, 1L)), 2L -> (("s1", 2L, 1L)),
      3L -> (("s2", 1L, 0L)))
  }

  test("dupSpanStats keeps positional multiplicity but intra-doc repeats are not shared") {
    import spark.implicits._
    // "a a a a a a" has TWO positions of the same gram — multiplicity
    // kept in total_ngrams, but a single-doc gram is never shared
    val docs = Seq((1L, "a a a a a a")).toDF("doc_id", "text")
    val out = Dedup.dupSpanStats(docs, "doc_id", "text", n = 5)
      .as[(Long, Long, Long)].collect()
    out shouldBe Array((1L, 2L, 0L))
  }

  test("flagNearDupAgainst flags exactly the threshold-crossing corpus docs") {
    import spark.implicits._
    // eval bigrams {a b, b c, c d, d e}; corpus jaccards vs it:
    // 1 → 1.0 (identical), 2 → 2/6, 4 → 2/5, 3 → 0 (disjoint)
    val corpus = Seq(
      (1L, "a b c d e"), (2L, "a b c x y"),
      (3L, "p q r s"), (4L, "c d e f")).toDF("doc_id", "text")
    val evalSet = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    def flags(th: Double): Map[Long, Boolean] =
      Dedup.flagNearDupAgainst(corpus, evalSet, "doc_id", "text", 2, th)
        .select("doc_id", "contaminated_neardup")
        .as[(Long, Boolean)].collect().toMap
    flags(0.5) shouldBe Map(1L -> true, 2L -> false, 3L -> false, 4L -> false)
    flags(0.3) shouldBe Map(1L -> true, 2L -> true, 3L -> false, 4L -> true)
    // an empty eval set flags nothing (vacuous truth, documented)
    val none = Dedup.flagNearDupAgainst(
      corpus, evalSet.filter(col("doc_id") < 0), "doc_id", "text", 2, 0.5)
      .select("doc_id", "contaminated_neardup")
      .as[(Long, Boolean)].collect().toMap
    none.values.toSet shouldBe Set(false)
  }

  test("stripHotLines strips df>maxDf lines everywhere, preserving line order") {
    import spark.implicits._
    // HOT appears in 4 distinct docs (twice in doc 4 — distinct
    // semantics count it once); HOT2 in exactly 2 → at maxDf=2 only
    // HOT is boilerplate
    val docs = Seq(
      (1L, "HOT\nalpha\nHOT2"),
      (2L, "HOT\nbeta\nHOT2"),
      (3L, "gamma\nHOT"),
      (4L, "HOT\nHOT")).toDF("doc_id", "text")
    val out = Dedup.stripHotLines(docs, "doc_id", "text", maxDf = 2)
      .select("doc_id", "text", "lines_before", "lines_kept")
      .as[(Long, String, Int, Int)].collect()
      .map { case (d, t, b, k) => d -> ((t, b, k)) }.toMap
    out(1L) shouldBe (("alpha\nHOT2", 3, 2))
    out(2L) shouldBe (("beta\nHOT2", 3, 2))
    out(3L) shouldBe (("gamma", 2, 1))
    // a doc that was ALL boilerplate survives as an empty row — the
    // caller decides whether to drop empties
    out(4L) shouldBe (("", 2, 0))
  }

  test("stripHotLines: no hot lines is a no-op; the broadcast guard fails loudly") {
    import spark.implicits._
    val docs = Seq((1L, "a\nb"), (2L, "c")).toDF("doc_id", "text")
    val clean = Dedup.stripHotLines(docs, "doc_id", "text", maxDf = 1)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    clean shouldBe Map(1L -> "a\nb", 2L -> "c")
    val hotDocs = Seq((1L, "x"), (2L, "x"), (3L, "x"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.stripHotLines(hotDocs, "doc_id", "text", maxDf = 1,
        maxHotLines = 0).collect()
    }
    ex.getMessage should include("hot-line set exceeds")
  }

  test("appendPairStore: two batch appends reproduce the from-scratch " +
    "pair store bit for bit, dup docs' signatures included") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_pairappend_").toString
    try {
      // doc1/doc2 an in-corpus near-dup pair; 3/4 unrelated
      val a = (1 to 11).map(i => s"a$i").mkString(" ")
      val c0 = Seq(
        (1L, a),
        (2L, a + " z1"),                     // J(1,2) = 10/11
        (3L, (1 to 8).map(i => s"p$i").mkString(" ")),
        (4L, (1 to 8).map(i => s"q$i").mkString(" ")))
        .toDF("doc_id", "text")
      // batch1: doc10 near-dups doc1 (J = 8/14) AND doc2 (8/15);
      // doc11 novel
      val b1 = Seq(
        (10L, (1 to 9).map(i => s"a$i").mkString(" ") +
          " x1 x2 x3 x4"),
        (11L, (1 to 8).map(i => s"r$i").mkString(" ")))
        .toDF("doc_id", "text")
      // batch2: doc20 near-dups doc10 ONLY (J(10,20) = 9/12,
      // J(1,20) = 5/14 < 0.5) — the pair exists in a from-scratch
      // build iff batch1's DUP doc 10 made it into the index
      val b2 = Seq(
        (20L, (4 to 9).map(i => s"a$i").mkString(" ") +
          " x1 x2 x3 x4")).toDF("doc_id", "text")
      val idx = root + "/idx"; val store = root + "/store"
      Dedup.writeNearDupIndex(c0, "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, dir = idx)
      Dedup.writePairStore(c0, "doc_id", "text", store,
        shingleN = 2, k = 64, bands = 32, threshold = 0.5)
      def pairKeys(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val d1 = Dedup.appendPairStore(b1, "doc_id", "text", idx, store,
        shingleN = 2, k = 64, bands = 32, threshold = 0.5)
      pairKeys(d1) shouldBe Set((1L, 10L), (2L, 10L))
      val d2 = Dedup.appendPairStore(b2, "doc_id", "text", idx, store,
        shingleN = 2, k = 64, bands = 32, threshold = 0.5)
      pairKeys(d2) shouldBe Set((10L, 20L))
      // the maintained store equals a from-scratch build over the
      // full corpus — full rows, not just keys
      val scratch =
        Dedup.minhashNearDupPairs(c0.unionByName(b1).unionByName(b2),
          "doc_id", "text", shingleN = 2, k = 64, bands = 32,
          threshold = 0.5).collect().map(_.toSeq).toSet
      Dedup.readPairStore(spark, store)
        .collect().map(_.toSeq).toSet shouldBe scratch
      scratch.size shouldBe 4
      // no writer lease left held on either artifact
      new java.io.File(store + ".lease").exists() shouldBe false
      new java.io.File(idx + ".lease").exists() shouldBe false
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("appendPairStore tagged: sealed retry is a no-op read-back; a " +
    "torn index half is detected and redone to the from-scratch state") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_pairtag_").toString
    try {
      val a = (1 to 11).map(i => s"a$i").mkString(" ")
      val c0 = Seq(
        (1L, a),
        (2L, (1 to 8).map(i => s"p$i").mkString(" ")))
        .toDF("doc_id", "text")
      val b1 = Seq(
        (10L, (1 to 9).map(i => s"a$i").mkString(" ") + " x1 x2 x3 x4"),
        (11L, (1 to 8).map(i => s"r$i").mkString(" ")))
        .toDF("doc_id", "text")
      val idx = root + "/idx"; val store = root + "/store"
      Dedup.writeNearDupIndex(c0, "doc_id", "text", 2, 64, 32, idx)
      Dedup.writePairStore(c0, "doc_id", "text", store, 2, 64, 32, 0.5)
      def append() = Dedup.appendPairStore(b1, "doc_id", "text", idx,
        store, 2, 64, 32, 0.5, commitTag = Some("t1"))
      def pairRows() = Dedup.readPairStore(spark, store)
        .collect().map(_.toSeq).toSet
      def countAll() = (
        Dedup.readPairStore(spark, store).count(),
        spark.read.parquet(s"$idx/bands").count(),
        spark.read.parquet(s"$idx/shingles").count())
      val d1 = append().collect().map(_.toSeq).toSet
      val afterFirst = countAll()
      // FULLY SEALED retry: both markers present — the call reads the
      // sealed segment back and appends NOTHING
      append().collect().map(_.toSeq).toSet shouldBe d1
      countAll() shouldBe afterFirst
      // TORN retry: simulate a crash between the pair commit and the
      // index commit — index marker and its tag-named segment files
      // gone, pairs still sealed. The retry must detect the tear and
      // redo ONLY the index half.
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_commits/t1"),
        false) shouldBe true
      Seq("bands", "shingles").foreach { t =>
        fs.globStatus(new org.apache.hadoop.fs.Path(
            s"$idx/$t/seg-t1-*"))
          .foreach(st => fs.delete(st.getPath, false))
      }
      append().collect().map(_.toSeq).toSet shouldBe d1
      countAll() shouldBe afterFirst
      // the healed store equals a from-scratch build over c0 + b1
      pairRows() shouldBe Dedup.minhashNearDupPairs(
        c0.unionByName(b1), "doc_id", "text", 2, 64, 32, 0.5)
        .collect().map(_.toSeq).toSet
      // a later batch can pair against b1's docs through the healed
      // index (the signatures really landed)
      val b2 = Seq((20L, (1 to 8).map(i => s"r$i").mkString(" ") +
        " y1")).toDF("doc_id", "text")
      Dedup.appendPairStore(b2, "doc_id", "text", idx, store,
          2, 64, 32, 0.5, commitTag = Some("t2"))
        .select("doc_a", "doc_b").as[(Long, Long)]
        .collect().toSet shouldBe Set((11L, 20L))
      new java.io.File(store + ".lease").exists() shouldBe false
      new java.io.File(idx + ".lease").exists() shouldBe false
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("appendPairStore: a held INDEX lease aborts WRITE-FREE — no " +
    "pairs strand without the batch's signatures") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_pairlease_").toString
    try {
      val c0 = Seq(
        (1L, (1 to 11).map(i => s"a$i").mkString(" ")),
        (2L, (1 to 8).map(i => s"p$i").mkString(" ")))
        .toDF("doc_id", "text")
      val idx = root + "/idx"; val store = root + "/store"
      Dedup.writeNearDupIndex(c0, "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, dir = idx)
      Dedup.writePairStore(c0, "doc_id", "text", store,
        shingleN = 2, k = 64, bands = 32, threshold = 0.5)
      val pairsBefore = Dedup.readPairStore(spark, store).count()
      val bandsBefore = spark.read.parquet(s"$idx/bands").count()
      // a concurrent index writer holds the index lease: the append
      // must fail BEFORE its first write — a pairs-appended /
      // signatures-missing tear would silently break from-scratch
      // equality for every later batch
      graft.sources.StoreLease.acquire(spark, idx, "concurrent-writer")
      val b1 = Seq((10L, (1 to 9).map(i => s"a$i").mkString(" ") +
        " x1 x2 x3 x4")).toDF("doc_id", "text")
      val ex = intercept[IllegalStateException] {
        Dedup.appendPairStore(b1, "doc_id", "text", idx, store,
          shingleN = 2, k = 64, bands = 32, threshold = 0.5)
      }
      ex.getMessage should include("write-leased")
      Dedup.readPairStore(spark, store).count() shouldBe pairsBefore
      spark.read.parquet(s"$idx/bands").count() shouldBe bandsBefore
      // the aborted append released ITS OWN (store) lease on the way
      // out — only the concurrent writer's index lease remains
      new java.io.File(store + ".lease").exists() shouldBe false
      graft.sources.StoreLease.release(spark, idx, "concurrent-writer")
      // lease released → the same append now lands whole
      Dedup.appendPairStore(b1, "doc_id", "text", idx, store,
        shingleN = 2, k = 64, bands = 32, threshold = 0.5)
        .count() should be > 0L
      spark.read.parquet(s"$idx/bands").count() should be > bandsBefore
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  /** Index tables at `idx`: `corpus.head` written by
    * writeNearDupIndex, each later frame appended untagged. */
  private def pairMarkIndex(idx: String,
      corpus: org.apache.spark.sql.DataFrame*): Unit = {
    Dedup.writeNearDupIndex(corpus.head, "doc_id", "text",
      shingleN = 2, k = 64, bands = 32, dir = idx)
    corpus.tail.foreach(c => Dedup.appendToNearDupIndex(c, "doc_id",
      "text", shingleN = 2, k = 64, bands = 32, dir = idx))
  }

  /** `body` over fresh mark inputs of `batch` against the index at
    * `idx`: (sets, banded) persisted and released after, and the
    * index tables read with their declared schemas. */
  private def withMarkInputs[T](batch: org.apache.spark.sql.DataFrame,
      idx: String)(body: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => T): T = {
    val (sets, banded) = Dedup.pairMarkInputs(batch, "doc_id", "text",
      shingleN = 2, k = 64, bands = 32)
    val (storeBands, storeSets) = Dedup.readIndexTables(spark, idx,
      org.apache.spark.sql.types.LongType)
    try body(sets, banded, storeBands, storeSets)
    finally {
      banded.unpersist(blocking = true)
      sets.unpersist(blocking = true)
    }
  }

  /** A frame's rows as sorted strings: a multiset comparison. */
  private def rowStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The pair-mark fixtures: (name, index corpus, batch, threshold). */
  private def pairMarkCases: Seq[(String,
      Seq[org.apache.spark.sql.DataFrame], org.apache.spark.sql.DataFrame,
      Double)] = {
    import spark.implicits._
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val a11 = (1 to 11).map(i => s"a$i").mkString(" ")
    val a12 = a11 + " z1"                    // J(a11, a12) = 10/11
    val a9x = (1 to 9).map(i => s"a$i").mkString(" ") +
      " x1 x2 x3 x4"                         // J(a9x, a11) = 8/14
    val p8 = (1 to 8).map(i => s"p$i").mkString(" ")
    // J(a7y, a11) = 6/21, through exactly ONE shared band
    val a7y = ((1 to 7).map(i => s"a$i") ++ (1 to 11).map(i => s"y$i"))
      .mkString(" ")
    Seq(
      // batch-internal pairs only, beside a null-text and an
      // empty-text doc
      ("empty store", Seq(docs()),
        docs((1L, a11), (2L, a12), (3L, null), (4L, ""), (5L, p8)), 0.5),
      // cross pairs normalize to doc_a < doc_b
      ("store ids above batch ids", Seq(docs((100L, a11), (101L, p8))),
        docs((1L, a12), (2L, a9x)), 0.5),
      // doc 10's band and shingle rows are in the store twice, so
      // its one band shared with doc 24 counts twice at the gate
      ("double-appended untagged segment",
        Seq(docs((1L, p8), (2L, null), (3L, "")), docs((10L, a11)),
          docs((10L, a11))),
        docs((20L, a12), (21L, null), (22L, ""), (23L, a9x), (24L, a7y)),
        0.25))
  }

  test("appendPairStore mark: the driver kernel equals the scan-join " +
    "twin in all six columns, multiplicities included; under a small " +
    "cap the twin runs") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_pairmark_").toString
    try pairMarkCases.zipWithIndex.foreach {
      case ((name, corpus, batch, threshold), i) =>
        val idx = s"$root/idx$i"
        pairMarkIndex(idx, corpus: _*)
        val twin = withMarkInputs(batch, idx) { (s, b, sb, ss) =>
          rowStrings(Dedup.pairMarkTwin(s, b, sb, ss, threshold))
        }
        info(s"$name: ${twin.mkString("; ")}")
        twin should not be empty
        withMarkInputs(batch, idx) { (s, b, sb, ss) =>
          Dedup.pairMarkDriver(s, b, sb, ss,
              org.apache.spark.sql.types.LongType, threshold,
              Dedup.DefaultMarkPruneCap)
            .map(rowStrings) shouldBe Some(twin)
        }
        withMarkInputs(batch, idx) { (s, b, sb, ss) =>
          Dedup.pairMarkDriver(s, b, sb, ss,
            org.apache.spark.sql.types.LongType, threshold, 1) shouldBe None
          rowStrings(Dedup.pairMark(s, b, sb, ss,
            org.apache.spark.sql.types.LongType, threshold, 1)) shouldBe twin
        }
        name match {
          case "store ids above batch ids" =>
            twin.map(_.split('|').take(2).mkString("|")) shouldBe
              Seq("1|100", "1|2", "2|100")
          case "double-appended untagged segment" =>
            // one re-score row per stored copy of doc 10
            twin.count(_.startsWith("10|20|")) shouldBe 2
            twin.count(_.startsWith("10|24|")) shouldBe 2
          case _ =>
        }
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("appendPairStore mark: the driver kernel runs at most half the " +
    "twin's jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.Bridge
    val root = java.nio.file.Files
      .createTempDirectory("graft_pairmarkjobs_").toString
    try {
      val (_, corpus, batch, threshold) = pairMarkCases.last
      val idx = s"$root/idx"
      pairMarkIndex(idx, corpus: _*)
      /** Spark jobs started while `body` runs. */
      def jobs(body: => Any): Int = {
        val n = new java.util.concurrent.atomic.AtomicInteger()
        val l = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            n.incrementAndGet()
        }
        Bridge.drainListenerBus(spark)
        spark.sparkContext.addSparkListener(l)
        try { body; Bridge.drainListenerBus(spark) }
        finally spark.sparkContext.removeSparkListener(l)
        n.get
      }
      val kernelJobs = withMarkInputs(batch, idx) { (s, b, sb, ss) =>
        jobs(Dedup.pairMarkDriver(s, b, sb, ss,
          org.apache.spark.sql.types.LongType, threshold,
          Dedup.DefaultMarkPruneCap).get)
      }
      val twinJobs = withMarkInputs(batch, idx) { (s, b, sb, ss) =>
        jobs(Dedup.pairMarkTwin(s, b, sb, ss, threshold)
          .localCheckpoint(eager = true))
      }
      info(s"pair mark jobs: kernel $kernelJobs, twin $twinJobs")
      2 * kernelJobs should be <= twinJobs
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("appendPairStore mark: band rows past the cap stop the kernel " +
    "before any shingle set reaches the driver; under the cap only " +
    "the candidates' sets do") {
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.graft.Bridge
    val root = java.nio.file.Files
      .createTempDirectory("graft_pairmarkcap_").toString
    try {
      val (_, corpus, batch, threshold) = pairMarkCases.last
      val idx = s"$root/idx"
      pairMarkIndex(idx, corpus: _*)
      /** Per frame collected while `body` runs: its columns and the
        * key sets of its pushed isin filters. */
      def collected(body: => Any): Seq[(Seq[String], Set[Set[Any]])] = {
        val seen = new java.util.concurrent.ConcurrentLinkedQueue[
          (Seq[String], Set[Set[Any]])]()
        val l = new QueryExecutionListener {
          override def onSuccess(f: String, qe: QueryExecution,
              ns: Long): Unit =
            if (f == "collect") seen.add((qe.analyzed.output.map(_.name),
              qe.analyzed.flatMap(_.expressions.flatMap(_.collect {
                case i: InSet => i.hset.toSet
              })).toSet))
          override def onFailure(f: String, qe: QueryExecution,
              e: Exception): Unit = ()
        }
        Bridge.drainListenerBus(spark)
        spark.listenerManager.register(l)
        try { body; Bridge.drainListenerBus(spark) }
        finally spark.listenerManager.unregister(l)
        seen.toArray.toSeq.map(_.asInstanceOf[(Seq[String], Set[Set[Any]])])
      }
      // 3 texted batch docs × 32 bands = 96 band rows against a cap of 50
      withMarkInputs(batch, idx) { (s, b, sb, ss) =>
        val reads = collected {
          Dedup.pairMarkDriver(s, b, sb, ss,
            org.apache.spark.sql.types.LongType, threshold,
            cap = 50) shouldBe None
        }
        reads.map(_._1) shouldBe Seq(Seq("doc", "band", "band_hash"))
      }
      // under the default cap the one shingle read asks for the
      // candidates only: stored doc 10 and batch docs 20, 23, 24 —
      // not the pairless null- and empty-text docs 21, 22
      withMarkInputs(batch, idx) { (s, b, sb, ss) =>
        val reads = collected {
          Dedup.pairMarkDriver(s, b, sb, ss,
            org.apache.spark.sql.types.LongType, threshold,
            Dedup.DefaultMarkPruneCap).get
        }
        reads.filter(_._1.contains("shingles")) shouldBe Seq(
          (Seq("doc", "shingles", "is_store"),
            Set[Set[Any]](Set(10L), Set(20L, 23L, 24L))))
      }
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("appendPairStore mark: a templated cluster past the kernel's " +
    "band-match budget runs the twin") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_pairmarkbudget_").toString
    try {
      val idx = s"$root/idx"
      pairMarkIndex(idx, Seq.empty[(Long, String)].toDF("doc_id", "text"))
      // 20 copies of one text: 640 band rows and 32 × C(20, 2) = 6,080
      // internal band matches gating 190 pairs
      val text = (1 to 11).map(i => s"t$i").mkString(" ")
      val batch = (1L to 20L).map(_ -> text).toDF("doc_id", "text")
      val twin = withMarkInputs(batch, idx) { (s, b, sb, ss) =>
        rowStrings(Dedup.pairMarkTwin(s, b, sb, ss, 0.5))
      }
      twin should have size 190
      withMarkInputs(batch, idx) { (s, b, sb, ss) =>
        def kernel(cap: Int) = Dedup.pairMarkDriver(s, b, sb, ss,
          org.apache.spark.sql.types.LongType, 0.5, cap)
        // every read fits 640, but 6,080 matches pass 8 × 640
        kernel(640) shouldBe None
        kernel(800).map(rowStrings) shouldBe Some(twin)
      }
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("appendPairStore's declared index and pair schemas are what " +
    "writeNearDupIndex and writePairStore write, empty store included") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val root = java.nio.file.Files
      .createTempDirectory("graft_pairschema_").toString
    try {
      val a11 = (1 to 11).map(i => s"a$i").mkString(" ")
      Seq(
        "long ids" -> (Seq((1L, a11), (2L, a11 + " z1"))
          .toDF("doc_id", "text"), LongType),
        "int ids" -> (Seq((1, a11), (2, a11 + " z1"))
          .toDF("doc_id", "text"), IntegerType),
        "empty bootstrap" -> (Seq.empty[(Long, String)]
          .toDF("doc_id", "text"), LongType)
      ).foreach { case (name, (corpus, docType)) =>
        val (idx, store) = (s"$root/$name/idx", s"$root/$name/store")
        Dedup.writeNearDupIndex(corpus, "doc_id", "text",
          shingleN = 2, k = 64, bands = 32, dir = idx)
        Dedup.writePairStore(corpus, "doc_id", "text", store,
          shingleN = 2, k = 64, bands = 32, threshold = 0.5)
        val (bands, shingles) = Dedup.indexTableSchemas(docType)
        withClue(name) {
          spark.read.parquet(s"$idx/bands").schema shouldBe bands
          spark.read.parquet(s"$idx/shingles").schema shouldBe shingles
          spark.read.parquet(s"$store/pairs").schema shouldBe
            Dedup.pairTableSchema(docType)
        }
      }
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("incremental near-dup ingest flags batch docs against the stored index") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_nd_index_").toString
    try {
      val corpus = Seq(
        (1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "the quick brown fox jumps over the lazy dog tonight"),
        (3L, "completely different content about spark and catalyst"))
        .toDF("doc_id", "text")
      Dedup.writeNearDupIndex(corpus, "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, dir = root + "/idx")
      val batch = Seq(
        // exact copy of the 1/2 dup group → dup_of = min id 1
        (10L, "the quick brown fox jumps over the lazy dog tonight"),
        // near copy (one word appended) → still >= 0.5
        (11L, "the quick brown fox jumps over the lazy dog tonight again"),
        // fresh content → kept
        (12L, "totally new material never indexed before anywhere"))
        .toDF("doc_id", "text")
      val out = Dedup.incrementalNearDupAgainst(spark, batch, "doc_id",
          "text", root + "/idx", shingleN = 2, k = 64, bands = 32,
          threshold = 0.5)
        .select("doc_id", "dup_of", "is_dup")
        .as[(Long, Option[Long], Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      out(10L) shouldBe ((Some(1L), true))
      out(11L) shouldBe ((Some(1L), true))
      out(12L) shouldBe ((None, false))
      // the ingest verdicts equal the direct exact-Jaccard answer
      // (subset-exactness away from the S-curve knee)
      val exactDups = Dedup.rescoreJaccardAB(
        corpus.select(col("doc_id").as("doc_a"))
          .crossJoin(batch.select(col("doc_id").as("doc_b"))),
        Dedup.shingleSets(corpus, "doc_id", "text", 2),
        Dedup.shingleSets(batch, "doc_id", "text", 2), 0.5)
        .groupBy("doc_b").agg(min("doc_a").as("dup_of"))
        .as[(Long, Long)].collect().toMap
      out.collect { case (id, (Some(d), _)) => id -> d } shouldBe exactDups
      // rebuilding over a live index fails loudly (ErrorIfExists)
      an[Exception] should be thrownBy
        Dedup.writeNearDupIndex(corpus, "doc_id", "text", 2, 64, 32,
          root + "/idx")
      // appending into a bare dir fails loudly (half-index guard)
      val bare = intercept[IllegalArgumentException] {
        Dedup.appendToNearDupIndex(batch, "doc_id", "text", 2, 64, 32,
          root + "/nonexistent")
      }
      bare.getMessage should include("no index at")
      // a real append grows the store: the batch's fresh doc becomes
      // findable, so re-checking the SAME batch now flags everything
      Dedup.appendToNearDupIndex(
        batch.filter(col("doc_id") === 12L), "doc_id", "text", 2, 64, 32,
        root + "/idx")
      val again = Dedup.incrementalNearDupAgainst(spark,
          batch.select((col("doc_id") + 100L).as("doc_id"), col("text")),
          "doc_id", "text", root + "/idx", 2, 64, 32, 0.5)
        .select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect().toMap
      again(112L) shouldBe Some(12L) // caught by the APPENDED signature
      // the point-fetch re-score (forced past the small-store
      // fallback) and the default scan-join are the same operator on
      // the same store
      val viaPointFetch = Dedup.incrementalNearDupAgainst(spark,
          batch.select((col("doc_id") + 100L).as("doc_id"), col("text")),
          "doc_id", "text", root + "/idx", 2, 64, 32, 0.5,
          pointFetchMinStoreBytes = 0L)
        .select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect().toMap
      viaPointFetch shouldBe again
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("at-least-once replay: a re-ingested batch is never a dup of itself; compaction reclaims the double append") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_nd_replay_").toString
    try {
      Dedup.writeNearDupIndex(
        Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
          .toDF("doc_id", "text"),
        "doc_id", "text", 2, 64, 32, root + "/idx")
      val batch = Seq(
        (10L, "the quick brown fox jumps over the lazy dog tonight"),
        (11L, "totally new material never indexed before anywhere"))
        .toDF("doc_id", "text")
      def ingest() = Dedup.ingestBatchAgainst(spark, batch, "doc_id",
          "text", root + "/idx", 2, 64, 32, 0.5)
        .select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect().toMap
      val first = ingest()
      first(10L) shouldBe Some(1L)
      first(11L) shouldBe None // fresh → signatures appended
      // replay the SAME batch (the crash-after-append scenario): doc
      // 11's own stored signatures must NOT mark it a dup of itself
      val replay = ingest()
      replay shouldBe first
      val shingles = () => spark.read.parquet(root + "/idx/shingles")
        .filter(col("doc") === 11L).count()
      shingles() shouldBe 2L // replay re-appended — verdict-neutral
      Dedup.compactNearDupIndex(spark, root + "/idx")
      shingles() shouldBe 1L // compaction reclaimed the duplicate
      // and the store still resolves new near-dups to the ingested doc
      val probe = Dedup.incrementalNearDupAgainst(spark,
          Seq((111L, "totally new material never indexed before anywhere"))
            .toDF("doc_id", "text"),
          "doc_id", "text", root + "/idx", 2, 64, 32, 0.5)
        .select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect().toMap
      probe(111L) shouldBe Some(11L)
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("split leakage guard: val docs near-dupping a train doc are flagged; val-only output") {
    import spark.implicits._
    // fold: id % 10 == 0 → val
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // val = train 3
      (3L, "the quick brown fox jumps over the lazy dog tonight"), // train
      (20L, "totally new material never indexed before anywhere"), // val, clean
      (7L, "completely different content about spark and catalyst"), // train
      (30L, "completely different content about spark and catalyst today")) // val ~ train 7
      .toDF("doc_id", "text")
    val out = Dedup.splitLeakage(docs, "doc_id", "text",
        id => pmod(id, lit(10)) === 0,
        shingleN = 2, k = 64, bands = 32, threshold = 0.5)
      .select("doc_id", "leak_from", "is_leaked")
      .as[(Long, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // only the val fold comes back; train docs never appear
    out.keySet shouldBe Set(10L, 20L, 30L)
    out(10L) shouldBe ((Some(3L), true)) // exact copy of a train doc
    out(20L) shouldBe ((None, false)) // clean val doc
    out(30L) shouldBe ((Some(7L), true)) // near-dup (one word appended)
  }

  test("splitLeakageTagged ≡ splitLeakage on a predicate-expressible " +
    "fold (the two forms cannot drift)") {
    import spark.implicits._
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (20L, "totally new material never indexed before anywhere"),
      (7L, "completely different content about spark and catalyst"),
      (30L, "completely different content about spark and catalyst today"))
      .toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "leak_from", "is_leaked")
      .as[(Long, Option[Long], Boolean)].collect().toSet
    val pred = norm(Dedup.splitLeakage(docs, "doc_id", "text",
      id => pmod(id, lit(10)) === 0,
      shingleN = 2, k = 64, bands = 32, threshold = 0.5))
    val tagged = norm(Dedup.splitLeakageTagged(
      docs.withColumn("_v", pmod(col("doc_id"), lit(10)) === 0),
      "doc_id", "text", "_v",
      shingleN = 2, k = 64, bands = 32, threshold = 0.5))
    tagged shouldBe pred
  }

  test("splitLeakageIndexed ≡ splitLeakage from the at-rest index " +
    "(the corpus text never re-tokenized)") {
    import spark.implicits._
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (20L, "totally new material never indexed before anywhere"),
      (7L, "completely different content about spark and catalyst"),
      (30L, "completely different content about spark and catalyst today"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_sli_").toString
    try {
      Dedup.writeNearDupIndex(docs, "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, dir = root + "/idx")
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "leak_from", "is_leaked")
        .as[(Long, Option[Long], Boolean)].collect().toSet
      val dataflow = norm(Dedup.splitLeakage(docs, "doc_id", "text",
        id => pmod(id, lit(10)) === 0,
        shingleN = 2, k = 64, bands = 32, threshold = 0.5))
      val indexed = norm(Dedup.splitLeakageIndexed(spark,
        root + "/idx",
        docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select("doc_id"),
        "doc_id", threshold = 0.5))
      indexed shouldBe dataflow
      // the big-store regime (sentinel 0 forces it): pushed val-id /
      // val-band-hash / target-id pruning is semantically free —
      // identical verdicts through the point-fetch plans
      val pruned = norm(Dedup.splitLeakageIndexed(spark,
        root + "/idx",
        docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select("doc_id"),
        "doc_id", threshold = 0.5, pruneMinStoreBytes = 0L))
      pruned shouldBe dataflow
      // over-cap fallback: a 1-key cap exceeds on every pushed set,
      // so all three sequential fallbacks run — same verdicts
      val overCap = norm(Dedup.splitLeakageIndexed(spark,
        root + "/idx",
        docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select("doc_id"),
        "doc_id", threshold = 0.5, pruneMinStoreBytes = 0L,
        pruneCap = 1))
      overCap shouldBe dataflow
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("componentGroupsBounded ≡ componentGroups on the seeded " +
    "components; multi-hop chain and key co-membership both traversed") {
    import spark.implicits._
    // component {1,2,3,4}: pair chain 1-2-3 (two hops) plus key
    // group u34 pulling 4 — one seed must reach all of it, because
    // a partial reach would mint a wrong min-label
    val docs = Seq((1L, "u1"), (2L, "u2"), (3L, "u34"), (4L, "u34"),
      (5L, "u5"), (6L, "u6")).toDF("doc_id", "ckey")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val full = Dedup.componentGroups(docs, "doc_id", col("ckey"),
      pairs).as[(Long, Long)].collect().toMap
    val bounded = Dedup.componentGroupsBounded(docs, "doc_id",
      col("ckey"), pairs, Seq(1L).toDF("doc_id"))
      .as[(Long, Long)].collect().toMap
    bounded.keySet shouldBe Set(1L, 2L, 3L, 4L)
    bounded.foreach { case (d, g) => g shouldBe full(d) }
    // a singleton seed labels itself and pulls nothing else
    Dedup.componentGroupsBounded(docs, "doc_id", col("ckey"), pairs,
      Seq(5L).toDF("doc_id"))
      .as[(Long, Long)].collect().toMap shouldBe Map(5L -> 5L)
    // an over-tight round bound fails loudly instead of mislabeling
    an[IllegalArgumentException] should be thrownBy
      Dedup.componentGroupsBounded(docs, "doc_id", col("ckey"),
        pairs, Seq(1L).toDF("doc_id"), maxRounds = 1)
  }

  test("componentGroups: near-dup pairs and same-url groups merge; " +
    "the component fold leaks zero where the naive fold leaks") {
    import spark.implicits._
    // 1 ≈ 2 (near-dup pair), 2 and 3 share a url-canon, 4 isolated:
    // one component {1, 2, 3} labeled 1, plus singleton 4
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight", "u1"),
      (2L, "the quick brown fox jumps over the lazy dog today", "u2"),
      (3L, "totally different content about spark and catalyst", "u2"),
      (4L, "completely unrelated material never seen anywhere", "u3"))
      .toDF("doc_id", "text", "canon_url")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      shingleN = 2, k = 64, bands = 32, threshold = 0.5)
    pairs.select("doc_a", "doc_b").as[(Long, Long)].collect()
      .toSet shouldBe Set((1L, 2L))
    val grp = Dedup.componentGroups(docs, "doc_id", col("canon_url"),
        pairs)
      .as[(Long, Long)].collect().toMap
    grp shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L)
    // leakage contrast: force 1 into "val" and 2 into "train" with a
    // naive per-doc fold — the near-dup pair straddles and leaks;
    // the component fold puts the whole {1,2,3} group on one side,
    // so the SAME machinery measures zero
    val naive = Dedup.splitLeakageTagged(
      docs.withColumn("_v", col("doc_id") === 1L),
      "doc_id", "text", "_v", 2, 64, 32, 0.5)
    naive.filter(col("is_leaked")).count() shouldBe 1L
    val byGroup = docs.join(
      Dedup.componentGroups(docs, "doc_id", col("canon_url"), pairs),
      Seq("doc_id"))
    val componentFold = Dedup.splitLeakageTagged(
      byGroup.withColumn("_v", col("group") === 1L),
      "doc_id", "text", "_v", 2, 64, 32, 0.5)
    componentFold.count() shouldBe 3L // the whole component is val
    componentFold.filter(col("is_leaked")).count() shouldBe 0L
  }

  test("tagged ingest (exactly-once): a retried batch leaves store and verdicts in the single-run state") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_nd_tag_").toString
    try {
      Dedup.writeNearDupIndex(
        Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
          .toDF("doc_id", "text"),
        "doc_id", "text", 2, 64, 32, root + "/idx")
      // 10 dups the store; 11 and 12 are fresh AND near-dups of each
      // other — the batch-internal pair the as-of mark must NOT flag,
      // even on a retry that finds both already committed
      val batch = Seq(
        (10L, "the quick brown fox jumps over the lazy dog tonight"),
        (11L, "totally new material never indexed before anywhere"),
        (12L, "totally new material never indexed before anywhere again"))
        .toDF("doc_id", "text")
      def ingest() = Dedup.ingestBatchAgainst(spark, batch, "doc_id",
          "text", root + "/idx", 2, 64, 32, 0.5, commitTag = Some("b0"))
        .select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect().toMap
      def storeState(): (Set[(Long, Seq[String])], Set[(Long, Int, Long)]) = (
        spark.read.parquet(root + "/idx/shingles")
          .as[(Long, Seq[String])].collect()
          .map { case (d, s) => (d, s.sorted) }.toSet,
        spark.read.parquet(root + "/idx/bands")
          .as[(Long, Int, Long)].collect().toSet)
      def shingleFiles(): Set[String] = {
        val dir = new java.io.File(root + "/idx/shingles")
        dir.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet
      }
      val first = ingest()
      first(10L) shouldBe Some(1L)
      first(11L) shouldBe None
      first(12L) shouldBe None // batch-internal pair: NOT marked
      Dedup.isBatchCommitted(spark, root + "/idx", "b0") shouldBe true
      val (sh1, bd1) = storeState()
      val files1 = shingleFiles()
      files1.count(_.startsWith("seg-b0-")) shouldBe 1 // tag-named segment
      // retry of a COMMITTED batch (crash after marker): append
      // skipped, verdicts replay-stable — 11/12 still unmarked even
      // though both now sit in the store (the batch-id anti-join)
      ingest() shouldBe first
      storeState() shouldBe ((sh1, bd1))
      shingleFiles() shouldBe files1
      // the committed-retry contract holds through the FORCED
      // point-fetch re-score too (the big-store plan)
      Dedup.ingestBatchAgainst(spark, batch, "doc_id", "text",
          root + "/idx", 2, 64, 32, 0.5,
          pointFetchMinStoreBytes = 0L, commitTag = Some("b0"))
        .select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect().toMap shouldBe first
      storeState() shouldBe ((sh1, bd1))
      // retry of a HALF-LANDED append (crash after the file moves,
      // before the marker): segment files present, no marker — the
      // retry cleans its own tag files, redoes the append, re-seals
      val marker = new java.io.File(root + "/idx/_commits/b0")
      marker.delete() shouldBe true
      ingest() shouldBe first
      storeState() shouldBe ((sh1, bd1))
      Dedup.isBatchCommitted(spark, root + "/idx", "b0") shouldBe true
      // a SECOND batch under its own tag composes: 13 dups the
      // batch-0 ingest of 11 through the STORE
      val b1 = Seq(
        (13L, "totally new material never indexed before anywhere"))
        .toDF("doc_id", "text")
      val second = Dedup.ingestBatchAgainst(spark, b1, "doc_id",
          "text", root + "/idx", 2, 64, 32, 0.5, commitTag = Some("b1"))
        .select("doc_id", "dup_of")
        .as[(Long, Option[Long])].collect().toMap
      second(13L) shouldBe Some(11L)
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("MinHashAgg: lane-for-lane identical to the composed k-wide min(xxhash64) form") {
    // the parity contract that makes the imperative aggregate a pure
    // plan optimization: identical signatures => identical bands =>
    // identical candidates => identical oracle-visible results
    val sh = Dedup.shingleSets(corpus.filter(col("text") =!= ""), "doc_id", "text", 2)
      .select(col("doc"), explode(col("shingles")).as("shingle"))
      .select(col("doc"), xxhash64(col("shingle")).as("h0"))
    val fast = Dedup.signaturesFromBaseHashes(sh, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composed = Dedup.signaturesComposed(sh, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    composed.keySet shouldBe fast.keySet
    composed.foreach { case (doc, sig) => fast(doc) shouldBe sig }
    // and partial-merge correctness: the same result from a 1-row-
    // per-partition layout (every merge path exercised)
    val spread = Dedup.signaturesFromBaseHashes(sh.repartition(7), 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    spread shouldBe fast
    // NULL-input parity: Spark's hash expressions SKIP null children,
    // so the composed min(xxhash64(lit(i), h0)) treats a null-h0 row
    // as the seed hashInt(i, 42) — the imperative aggregate must fold
    // the same value, not drop the row (a group that is ALL nulls
    // makes the divergence visible in every lane)
    val shNull = sh.select(col("doc"),
      when(col("doc") === 0L, lit(null).cast("long"))
        .otherwise(col("h0")).as("h0"))
    val fastN = Dedup.signaturesFromBaseHashes(shNull, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composedN = Dedup.signaturesComposed(shNull, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    fastN shouldBe composedN
    // SQL surface (GraftExtensions): the same aggregate by name
    sh.createOrReplaceTempView("mh_sql_in")
    val sqlRes = sh.sparkSession.sql(
      "SELECT doc, minhash_sketch(h0, 16) AS signature " +
        "FROM mh_sql_in GROUP BY doc")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    sqlRes shouldBe fast
  }

  test("contaminationExcision: hand-walked islands — overlapping " +
    "windows union once, short docs and clean docs re-attach at zero") {
    import spark.implicits._
    val evalSet = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    // eval 3-grams: "a b c", "b c d", "c d e"
    // doc 1: matches at pos 2,3 (island 1: [2,5)∪[3,6) = 4 tokens)
    //        and pos 7,8,9 (island 2: [7,10)∪[8,11)∪[9,12) = 5)
    val docs = Seq(
      (1L, "z a b c d z a b c d e"),
      (2L, "q r s"),
      (3L, "a b")).toDF("doc_id", "text")
    val out = Dedup.contaminationExcision(docs, evalSet,
        "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d, nt, gm, ex) => d -> ((nt, gm, ex)) }.toMap
    out shouldBe Map(
      1L -> ((11L, 5L, 9L)),
      2L -> ((3L, 0L, 0L)),
      3L -> ((2L, 0L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.contaminationExcision(docs, evalSet, "doc_id", "text",
        n = 1)
    }.getMessage should include("n must be")
  }

  test("contaminationExcisedDocs: the cleaned string is the kept " +
    "tokens in order; whole-doc excision hashes NULL") {
    import spark.implicits._
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    val evalSet = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "z a b c d z a b c d e"), // kept positions 1 and 6: "z z"
      (2L, "a b c d e"),             // fully excised -> NULL hash
      (3L, "q r s")).toDF("doc_id", "text") // clean -> absent
    val out = Dedup.contaminationExcisedDocs(docs, evalSet,
        "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    out.keySet shouldBe Set(1L, 2L)
    out(1L) shouldBe ((11L, 9L, Some(md5h("z z"))))
    out(2L) shouldBe ((5L, 5L, None))
  }

  test("selfDupExcision: ExactSubstr keeper — the min-(doc,pos) " +
    "occurrence survives, later cross-doc and within-doc repeats " +
    "excise, islands union overlaps") {
    import spark.implicits._
    // "a b c" occurs at (1,1) owner, (2,3), (4,1), (4,5);
    // "b c d" at (1,2) owner, (2,4); "c d e" at (1,3) owner, (2,5).
    // d2 matched pos 3,4,5 -> one island [3,8) = 5 tokens;
    // d4 matched pos 1 and 5 -> [1,4) and [5,8) = 6 tokens.
    val docs = Seq(
      (1L, "a b c d e x y"),
      (2L, "q q a b c d e"),
      (3L, "m n o"),
      (4L, "a b c z a b c")).toDF("doc_id", "text")
    val out = Dedup.selfDupExcision(docs, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d, nt, gd, ex) => d -> ((nt, gd, ex)) }.toMap
    out shouldBe Map(
      1L -> ((7L, 0L, 0L)),
      2L -> ((7L, 3L, 5L)),
      3L -> ((3L, 0L, 0L)),
      4L -> ((7L, 2L, 6L)))
    intercept[IllegalArgumentException] {
      Dedup.selfDupExcision(docs, "doc_id", "text", n = 1)
    }.getMessage should include("n in [2, 64]")
  }

  test("selfDupExcisedDocs: kept tokens hash to the hand-built " +
    "cleaned strings; a fully-duplicated doc hashes NULL") {
    import spark.implicits._
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    // same corpus as the selfDupExcision test plus doc 5, a verbatim
    // copy of doc 1: d2 keeps "q q" ([3,8) excised), d4 keeps "z"
    // ([1,4) and [5,8) excised), d5 is excised to nothing
    val docs = Seq(
      (1L, "a b c d e x y"),
      (2L, "q q a b c d e"),
      (3L, "m n o"),
      (4L, "a b c z a b c"),
      (5L, "a b c d e x y")).toDF("doc_id", "text")
    val out = Dedup.selfDupExcisedDocs(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    out.keySet shouldBe Set(2L, 4L, 5L) // affected docs only
    out(2L) shouldBe ((7L, 5L, Some(md5h("q q"))))
    out(4L) shouldBe ((7L, 6L, Some(md5h("z"))))
    out(5L) shouldBe ((7L, 7L, None))
  }

  test("selfDupMaximalSpans: 60-token verbatim repeat is ONE maximal " +
    "span; sub-threshold repeats pass; overlapping runs union") {
    import spark.implicits._
    val t60 = (1 to 60).map(i => s"t$i").mkString(" ")
    val a12 = (1 to 12).map(i => s"a$i").mkString(" ")
    val b11 = (1 to 11).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, t60),               // owner of the planted 60-token span
      (2L, t60),               // verbatim repeat -> one span of 60
      (3L, "t1 t2 t3 t4 t5 u1 u2 u3"), // 5-token repeat < minSpan
      (4L, a12),               // owner of the a-prefix
      (5L, "a12 " + b11),      // owner of the a12+b suffix
      // matched runs {1..10} and {12..21} (the a11-a12-b1 gram is
      // globally unique): two 12-token spans overlapping at pos 12,
      // union [1,24) = 23 tokens
      (6L, a12 + " " + b11)).toDF("doc_id", "text")
    val out = Dedup.selfDupMaximalSpans(docs, "doc_id", "text",
        n = 3, minSpan = 10)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (d, nt, sp, mx, ex) => d -> ((nt, sp, mx, ex)) }.toMap
    out shouldBe Map(
      1L -> ((60L, 0L, 0L, 0L)),
      2L -> ((60L, 1L, 60L, 60L)),
      3L -> ((8L, 0L, 0L, 0L)),
      4L -> ((12L, 0L, 0L, 0L)),
      5L -> ((12L, 0L, 0L, 0L)),
      6L -> ((23L, 2L, 12L, 23L)))
    intercept[IllegalArgumentException] {
      Dedup.selfDupMaximalSpans(docs, "doc_id", "text", n = 3,
        minSpan = 2)
    }.getMessage should include("minSpan >= n")
  }

  test("dupCentrality: integer power iteration matches the hand-walked " +
    "star graph; hub ranks first") {
    import spark.implicits._
    // star: 10 is the hub, 1/2/3 its leaves. Hand-walk (floor div):
    //   r0: all 1000
    //   r1: hub 150+850*3000 div 1000 = 2700
    //       leaf 150+850*(1000 div 3) div 1000 = 150+283 = 433
    //   r2: hub 150+850*(3*433) div 1000 = 150+1104 = 1254
    //       leaf 150+850*(2700 div 3) div 1000 = 150+765 = 915
    //   r3: hub 150+850*(3*915) div 1000 = 150+2333 = 2483
    //       leaf 150+850*(1254 div 3) div 1000 = 150+355 = 505
    val pairs = Seq((10L, 1L), (10L, 2L), (10L, 3L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.dupCentrality(pairs, rounds = 3, topK = 10)
      .as[(Long, Long, Long)].collect().toSeq
    out shouldBe Seq(
      (10L, 2483L, 3L), (1L, 505L, 1L), (2L, 505L, 1L), (3L, 505L, 1L))
  }

  test("dupCentrality: topK truncates deterministically (rank desc, " +
    "doc_id asc) and rounds are guarded") {
    import spark.implicits._
    val pairs = Seq((10L, 1L), (10L, 2L), (10L, 3L))
      .toDF("doc_a", "doc_b")
    val top2 = Dedup.dupCentrality(pairs, rounds = 3, topK = 2)
      .as[(Long, Long, Long)].collect().toSeq
    top2 shouldBe Seq((10L, 2483L, 3L), (1L, 505L, 1L))
    intercept[IllegalArgumentException] {
      Dedup.dupCentrality(pairs, rounds = 0, topK = 5)
    }.getMessage should include("rounds")
  }
}
