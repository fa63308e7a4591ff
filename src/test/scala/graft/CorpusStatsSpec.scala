package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.CorpusStats

class CorpusStatsSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("rareTokenStats counts distinct tokens and df<=maxDf tokens per doc") {
    import spark.implicits._
    // df: the=3, cat=2, sat=1, dog=1, mat=1, cat(along with repeats) —
    // repeated tokens inside one doc count once (distinct semantics)
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the cat cat"), // 'cat' repeated: distinct_tokens = 2
      (3L, "the dog mat")).toDF("doc_id", "text")
    val out = CorpusStats.rareTokenStats(docs, "doc_id", "text", maxDf = 1L)
      .as[(Long, Long, Long)].collect()
      .map { case (d, n, r) => d -> ((n, r)) }.toMap
    // doc 1: tokens {the, cat, sat} → sat has df 1 → rare = 1
    // doc 2: tokens {the, cat}      → none rare
    // doc 3: tokens {the, dog, mat} → dog, mat rare
    out shouldBe Map(
      1L -> ((3L, 1L)), 2L -> ((2L, 0L)), 3L -> ((3L, 2L)))
  }

  test("rareTokenStats boundary: df == maxDf counts as rare; empty docs emit no row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta"),
      (2L, "alpha beta"),
      (3L, "   ")).toDF("doc_id", "text")
    val out = CorpusStats.rareTokenStats(docs, "doc_id", "text", maxDf = 2L)
      .as[(Long, Long, Long)].collect()
      .map { case (d, n, r) => d -> ((n, r)) }.toMap
    // alpha/beta have df 2 = maxDf → rare; doc 3 has no tokens → absent
    out shouldBe Map(1L -> ((2L, 2L)), 2L -> ((2L, 2L)))
  }

  test("pmiCollocations: hand-computed PMI, minCount prunes, ties break on words") {
    import spark.implicits._
    // "a b a b" + "a b c": unigrams a:3 b:3 c:1 (NU=7); bigrams
    // "a b":3 "b a":1 "b c":1 (NB=5). minCount 2 keeps only "a b":
    // PMI = ln((3/5) / ((3/7)·(3/7)))
    val docs = Seq("a b a b", "a b c").toDF("text")
    val out = graft.operators.CorpusStats
      .pmiCollocations(docs, "text", minCount = 2, k = 10).collect()
    out.length shouldBe 1
    out.head.getString(0) shouldBe "a"
    out.head.getString(1) shouldBe "b"
    out.head.getLong(2) shouldBe 3L
    out.head.getDouble(3) shouldBe
      math.log((3.0 / 5) / ((3.0 / 7) * (3.0 / 7))) +- 1e-6
    // minCount 1 admits the singletons; k truncates by
    // (pmi desc, w1, w2) deterministically — and the fixture plants
    // an EXACT tie: "b c" has PMI ln((1/5)/((3/7)(1/7))) = ln(49/15)
    // = ln(147/45) = "a b"'s value, so the word tie-break decides
    val all = graft.operators.CorpusStats
      .pmiCollocations(docs, "text", minCount = 1, k = 2).collect()
    all.length shouldBe 2
    all.map(r => (r.getString(0), r.getString(1))).toSeq shouldBe
      Seq(("a", "b"), ("b", "c"))
    all(1).getDouble(3) shouldBe math.log(49.0 / 15) +- 1e-6
  }

  test("phraseMerge: greedy left-to-right merges as run-parity; non-promoted pairs untouched") {
    import spark.implicits._
    // corpus A: 6 × "a a a a" — only "a a" clears minCount 5. A
    // doc's candidates sit at positions 0,1,2 (ONE run): greedy
    // merges (0,1) and (2,3) — odd ranks 1 and 3 — never the
    // overlapping middle. corpus B: 2 × "b c b" — no pair reaches
    // minCount, zero merges
    val docs = ((0 until 6).map(i => (i.toLong, "s1", "a a a a")) ++
      Seq((10L, "s2", "b c b"), (11L, "s2", "b c b")))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.CorpusStats
      .phraseMerge(docs, "doc_id", "text", "source",
        minCount = 5, k = 20)
      .orderBy("source").collect()
    out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq shouldBe
      Seq(("s1", 6L, 24L, 12L), ("s2", 2L, 6L, 0L))
    // several promoted phrases chaining through one run: in
    // "x y x y x z" all three pairs promote, candidates 0..4 are one
    // run, and greedy takes ranks 1, 3, 5 → (x y)(x y)(x z)
    val chain = (0 until 5).map(i => (i.toLong, "s", "x y x y x z"))
      .toDF("doc_id", "source", "text")
    val c = graft.operators.CorpusStats
      .phraseMerge(chain, "doc_id", "text", "source",
        minCount = 5, k = 20).collect().head
    (c.getLong(1), c.getLong(2), c.getLong(3)) shouldBe ((5L, 30L, 15L))
  }

  test("classifierCalibration: floor-binning splits negative logits below zero; totals reconcile") {
    import spark.implicits._
    val docs = (0 until 30).map(i =>
      (i.toLong, s"src${i % 3}", s"word$i token$i value$i common common"))
      .toDF("doc_id", "source", "text")
    val scores = graft.operators.CorpusStats
      .linearClassifierScores(docs, "doc_id", "text", buckets = 64)
    val nNeg = scores.filter(col("logit") < 0).count()
    val nPos = scores.filter(col("logit") >= 0).count()
    // binWidth huge → exactly one bin per sign: floor semantics put
    // every negative logit in bin -1 (integer division would
    // truncate them into bin 0 and merge the signs)
    val cal = graft.operators.CorpusStats.classifierCalibration(
      docs, "doc_id", "text", buckets = 64, binWidth = 1000000000L,
      positive = col("doc_id") % 2 === 0)
      .orderBy("bin").collect()
    cal.map(_.getLong(0)).toSeq shouldBe
      Seq(-1L, 0L).filter(b => if (b < 0) nNeg > 0 else nPos > 0)
    cal.map(_.getLong(1)).sum shouldBe 30L
    cal.foreach { r =>
      r.getLong(3) should be <= r.getLong(1) // n_pos <= n_docs
      val rate = r.getLong(4)
      rate should (be >= 0L and be <= 1000L)
      rate shouldBe (r.getLong(3) * 1000) / r.getLong(1)
    }
  }

  test("calibratedGateReport: threshold = smallest bin whose " +
    "cumulative-from-top milli rate meets the target; edge targets") {
    import spark.implicits._
    val docs = (0 until 30).map(i =>
      (i.toLong, s"src${i % 3}", s"word$i token$i value$i common common"))
      .toDF("doc_id", "source", "text")
    val positive = col("doc_id") % 2 === 0
    def run(target: Long,
        pos: org.apache.spark.sql.Column = positive) =
      graft.operators.CorpusStats.calibratedGateReport(docs,
        "doc_id", "text", "source", buckets = 64, binWidth = 500,
        positive = pos, targetMilli = target).collect()
    // independent hand-walk over the calibration table (shared
    // binning): smallest bin whose descending-cumulative floor-milli
    // rate meets the target
    val cal = graft.operators.CorpusStats.classifierCalibration(
        docs, "doc_id", "text", buckets = 64, binWidth = 500,
        positive = positive)
      .select("bin", "n_docs", "n_pos")
      .as[(Long, Long, Long)].collect()
    def expected(target: Long): Option[Long] = {
      var cp = 0L; var cd = 0L
      cal.sortBy(-_._1).flatMap { case (b, n, p) =>
        cd += n; cp += p
        if ((cp * 1000L) / cd >= target) Some(b) else None
      }.minOption
    }
    val mid = run(500)
    mid.map(_.getLong(1)).distinct.toSeq shouldBe
      Seq(expected(500).get)
    mid.foreach(r => r.getLong(2) shouldBe r.getLong(1) * 500)
    // target 0: every bin qualifies, thr = the MINIMUM bin edge ≤
    // every logit — the gate accepts everything
    val all = run(0)
    all.map(_.getLong(1)).distinct.toSeq shouldBe Seq(expected(0).get)
    all.map(_.getLong(4)).sum shouldBe all.map(_.getLong(3)).sum
    // unachievable target (no positives anywhere): thr columns NULL,
    // the gate accepts nothing — not a silent fallback
    val none = run(1, pos = lit(false))
    none.foreach { r =>
      r.isNullAt(1) shouldBe true
      r.isNullAt(2) shouldBe true
      r.getLong(4) shouldBe 0L
    }
  }

  test("curriculumTiers: balanced ntiles per source with monotone loss spans") {
    import spark.implicits._
    val docs = (0 until 40).map(i =>
      (i.toLong, s"s${i % 2}",
        (0 to i % 7).map(j => s"w${(i * 3 + j) % 11}").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.CorpusStats
      .curriculumTiers(docs, "doc_id", "text", "source",
        tiers = 4, minCount = 1).collect()
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      rows.map(_.getInt(1)).sorted shouldBe (1 to 4)
      // ntile balance: tier sizes differ by at most one
      val sizes = rows.map(_.getLong(2))
      (sizes.max - sizes.min) should be <= 1L
      // spans are monotone: a harder tier never starts below an
      // easier tier's max
      val byTier = rows.sortBy(_.getInt(1))
      byTier.sliding(2).foreach {
        case Array(a, b) =>
          b.getDouble(5) should be >= a.getDouble(5)
        case _ => ()
      }
      // every ranked doc lands in exactly one tier
      sizes.sum shouldBe 20L
    }
  }

  test("unigramLogLoss scores docs by Laplace-smoothed mean -ln p") {
    import spark.implicits._
    // corpus: a×3, b×1, c×1 → N=5, V=3; p(tok) = (c+1)/8
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = CorpusStats.unigramLogLoss(docs, "doc_id", "text",
        minCount = 1)
      .select("doc_id", "n_tok", "nll").as[(Long, Int, Double)]
      .collect().map { case (d, n, s) => d -> ((n, s)) }.toMap
    val pA = 4.0 / 8; val pB = 2.0 / 8; val pC = 2.0 / 8
    out(1L)._1 shouldBe 3
    out(1L)._2 shouldBe
      (-(math.log(pA) + math.log(pA) + math.log(pB)) / 3) +- 1e-12
    out(2L)._2 shouldBe
      (-(math.log(pA) + math.log(pC)) / 2) +- 1e-12
  }

  test("unigramLogLoss: sub-minCount tokens score as OOV; empty docs score null") {
    import spark.implicits._
    val docs = Seq((1L, "a a a"), (2L, "a b"), (3L, " "))
      .toDF("doc_id", "text")
    // N=5, V=2; minCount=2 keeps only 'a' in the map, so 'b' (c=1)
    // falls back to the OOV numerator 0+1 — same as a never-seen token
    val out = CorpusStats.unigramLogLoss(docs, "doc_id", "text",
        minCount = 2)
      .select("doc_id", "nll").as[(Long, Option[Double])]
      .collect().toMap
    val pA = 5.0 / 7; val pOov = 1.0 / 7
    out(2L).get shouldBe
      (-(math.log(pA) + math.log(pOov)) / 2) +- 1e-12
    out(3L) shouldBe None
  }

  test("unigramLogLossAgainst: the model comes from TRAIN, the rows from SCORE") {
    import spark.implicits._
    // train corpus: a×3, b×1 → N=4, V=2; p = (c+1)/6
    val train = Seq((1L, "a a b"), (2L, "a")).toDF("doc_id", "text")
    // 'z' never appears in train → OOV numerator 1, even though the
    // scored frame is full of it
    val score = Seq((10L, "a z z")).toDF("doc_id", "text")
    val out = CorpusStats.unigramLogLossAgainst(train, score,
        "doc_id", "text", minCount = 1)
      .select("doc_id", "n_tok", "nll").as[(Long, Int, Double)]
      .collect().head
    val pA = 4.0 / 6; val pOov = 1.0 / 6
    out._1 shouldBe 10L
    out._2 shouldBe 3
    out._3 shouldBe
      (-(math.log(pA) + 2 * math.log(pOov)) / 3) +- 1e-12
  }

  test("domainExcessWeights: hand-walked excess and floor-division weights") {
    import spark.implicits._
    // reference slice = doc_id % 2 = 0 (docs 0, 2): all-'a' text.
    // domain X repeats the reference language (zero excess, clamped),
    // domain Y is all-'z' (OOV under the reference model, in-vocab
    // under the full model → positive excess)
    val docs = Seq(
      (0L, "X", "a a a a"), (2L, "Y", "a a a a"),
      (1L, "X", "a a a a"), (3L, "Y", "z z z z"))
      .toDF("doc_id", "source", "text")
    val out = CorpusStats.domainExcessWeights(docs, "source",
        "doc_id", "text", col("doc_id") % 2 === 0, minCount = 1)
      .select("source", "n_docs", "excess_micro", "weight_milli")
      .as[(String, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // replay the arithmetic: ref model a×8 (N=8, V=1): p(a)=9/9=1
    // (nll 0), OOV=1/9; full model a×12, z×4 (N=16, V=2): p(a)=13/18,
    // p(z)=5/18
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP)
    val refA = r6(0.0); val refZ = r6(-math.log(1.0 / 9))
    val fullA = r6(-math.log(13.0 / 18)); val fullZ = r6(-math.log(5.0 / 18))
    val exX = ((refA + refA - fullA - fullA) * 1000000).toLong.max(0L) / 2
    val exY = ((refA + refZ - fullA - fullZ) * 1000000).toLong.max(0L) / 2
    out("X")._3 shouldBe exX
    out("Y")._3 shouldBe exY
    out("X")._2 shouldBe 2L
    // Y holds all the excess → weight_milli floor(1000·exY/total)
    val totalEx = exX + exY
    out("Y")._4 shouldBe (exY * 1000 / totalEx)
    out("X")._4 shouldBe (exX * 1000 / totalEx)
  }

  test("domainExcessWeights: an empty reference slice yields zero weights, not a crash") {
    import spark.implicits._
    val docs = Seq((1L, "X", "a b"), (2L, "Y", "c d"))
      .toDF("doc_id", "source", "text")
    // refFilter matches nothing → the reference model is empty; the
    // separate-build form returned NULL nll_ref (zero weights), and
    // the fused aggregate must not turn that into -Infinity + an
    // ANSI decimal-cast failure
    val out = CorpusStats.domainExcessWeights(docs, "source",
        "doc_id", "text", lit(false), minCount = 1)
      .select("source", "excess_micro", "weight_milli")
      .as[(String, Long, Long)].collect()
    out.length shouldBe 2
    out.map(r => (r._2, r._3)).toSet shouldBe Set((0L, 0L))
  }

  test("unigramLogLoss fails loudly when the vocabulary exceeds the broadcast guard") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      CorpusStats.unigramLogLoss(docs, "doc_id", "text",
        minCount = 1, maxVocab = 2).collect()
    }
    ex.getMessage should include("vocabulary exceeds")
  }

  test("bigramLogLoss scores docs by smoothed mean -ln p(w2|w1)") {
    import spark.implicits._
    // unigrams: a×3, b×3, c×1, x×1 → V=4
    // bigrams: "a b"×3, "b a"×1, "b c"×1
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = CorpusStats.bigramLogLoss(docs, "doc_id", "text",
        minCount = 1)
      .select("doc_id", "n_tok", "nll2")
      .as[(Long, Int, Option[Double])]
      .collect().map { case (d, n, s) => d -> ((n, s)) }.toMap
    val pAB = 4.0 / 7 // (3+1)/(c1(a)=3 + V=4)
    val pBA = 2.0 / 7; val pBC = 2.0 / 7
    out(1L)._1 shouldBe 4
    out(1L)._2.get shouldBe
      (-(math.log(pAB) + math.log(pBA) + math.log(pAB)) / 3) +- 1e-12
    out(2L)._2.get shouldBe
      (-(math.log(pAB) + math.log(pBC)) / 2) +- 1e-12
    out(3L)._2 shouldBe None // a single token has no transitions
  }

  test("bigramLogLoss: sub-minCount bigrams score as unseen; guard fails loudly") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // minCount=2: only "a b" (c=3) stays in the bigram map; unigrams
    // a×3/b×3 stay, c (c=1) drops → OOV denominator V only
    val out = CorpusStats.bigramLogLoss(docs, "doc_id", "text",
        minCount = 2)
      .select("doc_id", "nll2").as[(Long, Option[Double])]
      .collect().toMap
    val v = 3.0 // unigram vocabulary: a, b, c
    val pAB = 4.0 / (3 + v)
    val pBA = 1.0 / (3 + v) // bigram dropped → numerator 0+1
    val pBC = 1.0 / (3 + v)
    out(1L).get shouldBe
      (-(math.log(pAB) + math.log(pBA) + math.log(pAB)) / 3) +- 1e-12
    out(2L).get shouldBe
      (-(math.log(pAB) + math.log(pBC)) / 2) +- 1e-12
    val ex = intercept[Exception] {
      CorpusStats.bigramLogLoss(docs, "doc_id", "text",
        minCount = 1, maxBigrams = 1).collect()
    }
    ex.getMessage should include("vocabulary exceeds")
  }

  test("heavyHitterTokens equals the exact groupBy answer, threshold boundary inclusive") {
    import spark.implicits._
    // skewed corpus: 'hot' x12, 'warm' x5, 'edge' x4, tail singletons
    val docs = Seq(
      (1L, ("hot " * 6 + "warm warm edge edge").trim),
      (2L, ("hot " * 6 + "warm warm warm edge edge").trim),
      (3L, "t1 t2 t3 t4 t5 t6 t7 t8")).toDF("doc_id", "text")
    val exact = docs
      .select(explode(graft.functions.text.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 4)
      .as[(String, Long)].collect().toMap
    val hh = CorpusStats.heavyHitterTokens(docs, "text", minCount = 4)
      .as[(String, Long)].collect().toMap
    hh shouldBe exact
    hh shouldBe Map("hot" -> 12L, "warm" -> 5L, "edge" -> 4L)
  }

  test("heavyHitterTokens: threshold above every count yields empty; empty corpus yields empty") {
    import spark.implicits._
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text")
    CorpusStats.heavyHitterTokens(docs, "text", minCount = 100)
      .count() shouldBe 0L
    val empty = Seq((1L, " ")).toDF("doc_id", "text")
    CorpusStats.heavyHitterTokens(empty, "text", minCount = 1)
      .count() shouldBe 0L
  }

  private val dsirDocs = Seq(
    (1L, "alpha beta alpha beta", true),
    (2L, "alpha beta alpha", true),
    (3L, "gamma delta epsilon", false),
    (4L, "gamma delta gamma", false),
    (5L, "alpha beta", false), // unlabeled doc that LOOKS like target
    (6L, "   ", false))

  test("dsirWeights: target-like docs score positive, off-target negative, empty zero") {
    import spark.implicits._
    // corpus must outweigh the ½B smoothing mass (512 pseudo-counts at
    // B=1024) for signs to be meaningful — replicate each doc 20×,
    // the same reason production targets are corpora, not samples
    val docs = dsirDocs.flatMap { case (id, text, isT) =>
      (0 until 20).map(k => (id * 100 + k, text, isT))
    }.toDF("doc_id", "text", "is_t")
    val out = CorpusStats.dsirWeights(docs, "text", col("is_t"),
        buckets = 1024)
      .select("doc_id", "n_feat", "wt_micros").as[(Long, Int, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    out(600L) shouldBe ((0, 0L)) // no tokens → no features → weight 0
    // 4 tokens → 4 unigram + 3 bigram features
    out(100L)._1 shouldBe 7
    out(100L)._2 should be > 0L
    out(200L)._2 should be > 0L
    // selection is by CONTENT, not by the label: doc 5 shares the
    // target slice's vocabulary and scores positive despite is_t=false
    out(500L)._2 should be > 0L
    out(300L)._2 should be < 0L
    out(400L)._2 should be < 0L
  }

  test("dsirWeights micros match an independent md5 recomputation and survive repartitioning") {
    import spark.implicits._
    val B = 1024
    // independent implementation: MessageDigest md5 + plain Scala,
    // no Spark expressions shared with the operator under test
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    def featsOf(s: String): Seq[Int] = {
      val t = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val uni = t.map(tok => (md5h(tok) % B).toInt)
      val bi = t.sliding(2).filter(_.size == 2)
        .map(p => (md5h(p.mkString(" ")) % B).toInt).toSeq
      uni ++ bi
    }
    val raw = new Array[Long](B); val tgt = new Array[Long](B)
    dsirDocs.foreach { case (_, text, isT) =>
      featsOf(text).foreach { b =>
        raw(b) += 1; if (isT) tgt(b) += 1
      }
    }
    val rTot = raw.sum.toDouble; val tTot = tgt.sum.toDouble
    def lamMicro(b: Int): Long =
      if (raw(b) == 0L) 0L
      else BigDecimal(
        math.log((tgt(b) + 0.5) / (tTot + 0.5 * B)) -
          math.log((raw(b) + 0.5) / (rTot + 0.5 * B)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .underlying.unscaledValue.longValueExact
    val expected = dsirDocs.map { case (id, text, _) =>
      id -> featsOf(text).map(lamMicro).sum
    }.toMap
    val docs = dsirDocs.toDF("doc_id", "text", "is_t")
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      CorpusStats.dsirWeights(df, "text", col("is_t"), buckets = B)
        .select("doc_id", "wt_micros").as[(Long, Long)].collect().toMap
    run(docs) shouldBe expected
    // integer micros make the fold exact → partitioning cannot move it
    run(docs.repartition(7)) shouldBe expected
  }

  test("zipfSlope recovers a planted power law and NULLs a " +
    "single-rank source") {
    import spark.implicits._
    // Source "z": token t_r appears round(1000/r) times, r = 1..20 —
    // an exact Zipf(1) head, so the fitted slope must sit near −1.
    // Source "one": a single distinct token — zero x-variance → NULL.
    val zipfText = (1 to 20).flatMap { r =>
      Seq.fill(math.round(1000.0 / r).toInt)(f"t$r%02d")
    }.mkString(" ")
    val docs = Seq(("z", zipfText), ("one", "solo solo solo"))
      .toDF("source", "text")
    val out = CorpusStats.zipfSlope(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toMap
    out("one")._1 shouldBe 1L
    out("one")._2 shouldBe None
    out("z")._1 shouldBe 20L
    val slope = out("z")._2.get
    slope should (be > -1.05 and be < -0.95)
    // order-free exactness: repartitioning cannot move the fit
    val rerun = CorpusStats.zipfSlope(docs.repartition(5), "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toMap
    rerun shouldBe out
  }

  test("zipfSlope ranks ties deterministically and caps the head") {
    import spark.implicits._
    // 6 tokens all with frequency 2 — ranks decided by token order;
    // maxRank = 3 keeps only the first three
    val docs = Seq(("s", "f e d c b a f e d c b a")).toDF("source", "text")
    val out3 = CorpusStats.zipfSlope(docs, "text", "source", maxRank = 3)
      .collect()(0)
    out3.getLong(1) shouldBe 3L
    // all y equal (ln 2) → a flat fit: slope 0 up to the 9-decimal
    // rounding of the summed terms
    math.abs(out3.getDouble(2)) should be <= 1e-6
  }

  test("linearClassifierScores: logits match an independent md5 " +
    "recomputation; empty docs re-attach at logit 0") {
    import spark.implicits._
    val B = 4096
    // independent implementation: MessageDigest md5 + plain Scala,
    // no Spark expressions shared with the operator under test
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    def weightOf(bucket: Long): Long =
      md5h(bucket.toString) % 2001L - 1000L
    def featsOf(s: String): Seq[String] = {
      val t = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val fixture = Seq(
      (1L, "The cat sat on the mat"),
      (2L, "unique gibberish zxqv"),
      (3L, ""), // empty: zero features, must re-attach at logit 0
      (4L, "one"))
    val expected = fixture.map { case (id, text) =>
      val fs = featsOf(text)
      id -> ((fs.size.toLong, fs.map(f => weightOf(md5h(f) % B)).sum))
    }.toMap
    val out = CorpusStats.linearClassifierScores(
        fixture.toDF("doc_id", "text"), "doc_id", "text", buckets = B)
      .select("doc_id", "n_feats", "logit")
      .as[(Long, Long, Long)].collect()
      .map { case (d, n, l) => d -> ((n, l)) }.toMap
    out shouldBe expected
    out(3L) shouldBe ((0L, 0L)) // the re-attach case, named
    // accept is exactly logit >= 0
    val acc = CorpusStats.linearClassifierScores(
        fixture.toDF("doc_id", "text"), "doc_id", "text", buckets = B)
      .select("doc_id", "logit", "accept")
      .as[(Long, Long, Boolean)].collect()
    acc.foreach { case (_, l, a) => a shouldBe (l >= 0L) }
    // NULL text is unscored, not scored as empty: NULL in all three
    val nul = CorpusStats.linearClassifierScores(
        Seq((5L, null: String)).toDF("doc_id", "text"), "doc_id",
        "text", buckets = B)
      .select("n_feats", "logit", "accept").head()
    (0 until 3).map(nul.isNullAt) shouldBe Seq(true, true, true)
  }

  test("importanceSample: keys match an independent md5+Gumbel " +
    "recomputation; selection is deterministic top-n") {
    import spark.implicits._
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    def keyOf(id: Long, wt: Long): Long = {
      val u = (md5h(s"$id:clock") % 999999L + 1L).toDouble / 1000000.0d
      val g = -math.log(-math.log(u))
      wt + BigDecimal.valueOf(g)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .underlying.unscaledValue.longValueExact
    }
    val weighted = Seq((1L, 500000L), (2L, -2000000L), (3L, 0L),
      (4L, 1500000L), (5L, -500000L), (6L, 0L))
    val expected = weighted.map { case (id, wt) => (id, keyOf(id, wt)) }
      .sortBy { case (id, k) => (-k, id) }.take(4)
    val out = CorpusStats.importanceSample(
        weighted.toDF("doc_id", "wt_micros"), "doc_id", "wt_micros",
        n = 4)
      .select("doc_id", "key_micros")
      .as[(Long, Long)].collect().toSeq
    out shouldBe expected
    intercept[IllegalArgumentException] {
      CorpusStats.importanceSample(
        weighted.toDF("doc_id", "wt_micros"), "doc_id", "wt_micros",
        n = 0)
    }.getMessage should include("n must be")
  }

  test("linearClassifierScores guards its bucket range loudly") {
    import spark.implicits._
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      CorpusStats.linearClassifierScores(docs, "doc_id", "text",
        buckets = 1)
    }.getMessage should include("buckets")
  }

  test("spanCorruptionStats: mask clock matches an independent md5 " +
    "recomputation; consecutive masked runs group into spans; empty " +
    "and unmasked docs re-attach at zero") {
    import spark.implicits._
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    def expectedFor(id: Long, tx: String, pct: Int)
        : (Long, Long, Long) = {
      val toks = tx.trim.toLowerCase.split("\\s+")
        .filter(_.nonEmpty).toSeq
      val masked = (1 to toks.size)
        .filter(p => md5h(s"$id:$p:sc") % 100L < pct.toLong)
      val spans = masked.foldLeft((0L, Int.MinValue)) {
        case ((n, prev), p) =>
          (if (p == prev + 1) n else n + 1L, p)
      }._1
      (toks.size.toLong, masked.size.toLong, spans)
    }
    val fixture = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then " +
        "some more words arrive to be masked by the clock"),
      (2L, ""), // zero tokens: must re-attach at (0, 0, 0)
      (3L, "one"),
      (4L, (1 to 80).map(i => s"tok$i").mkString(" ")))
    def run(pct: Int) = CorpusStats.spanCorruptionStats(
        fixture.toDF("doc_id", "text"), "doc_id", "text",
        maskPct = pct)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d, nt, tm, ns) => d -> ((nt, tm, ns)) }.toMap
    val out15 = run(15)
    out15 shouldBe fixture
      .map { case (id, tx) => id -> expectedFor(id, tx, 15) }.toMap
    out15(2L) shouldBe ((0L, 0L, 0L))
    // a dense rate forces multi-position runs: spans < masked proves
    // the gaps-and-islands grouping actually merged adjacent marks
    val out60 = run(60)
    out60 shouldBe fixture
      .map { case (id, tx) => id -> expectedFor(id, tx, 60) }.toMap
    val (_, tm4, ns4) = out60(4L)
    ns4 should be < tm4
    intercept[IllegalArgumentException] {
      CorpusStats.spanCorruptionStats(fixture.toDF("doc_id", "text"),
        "doc_id", "text", maskPct = 0)
    }.getMessage should include("maskPct")
  }

  test("classifierGateReportAt: Some(0) reproduces the fixed gate; a " +
    "floor threshold accepts all; None accepts none") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta"), (2L, "s1", "one two"),
      (3L, "s2", "lorem ipsum dolor sit amet"), (4L, "s2", "tiny"))
      .toDF("doc_id", "source", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.orderBy("source").collect().map(_.toSeq).toSet
    rows(CorpusStats.classifierGateReportAt(docs, "doc_id", "text",
      "source", buckets = 64, Some(0L))) shouldBe
      rows(CorpusStats.classifierGateReport(docs, "doc_id", "text",
        "source", buckets = 64))
    val floor = CorpusStats.classifierGateReportAt(docs, "doc_id",
      "text", "source", buckets = 64, Some(Long.MinValue))
      .select("source", "n_docs", "n_accept")
      .as[(String, Long, Long)].collect()
      .map { case (s, n, a) => s -> ((n, a)) }.toMap
    floor shouldBe Map("s1" -> ((2L, 2L)), "s2" -> ((2L, 2L)))
    val none = CorpusStats.classifierGateReportAt(docs, "doc_id",
      "text", "source", buckets = 64, None)
      .agg(sum("n_accept")).as[Long].head()
    none shouldBe 0L
  }
}
