package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{text, vectors}
import graft.operators.{CorpusStats, Dedup, Retrieval, Similarity}

/** ONE wall+process-cpu measurement helper for every probe main in
  * this file — the same pattern was spelled four slightly different
  * ways (one with an unchecked asInstanceOf that would throw on a
  * non-HotSpot JVM where the others degrade to -1). */
private[graft] object ProbeTiming {
  def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Runs `f`, prints one `$tag $name  <wall> s  cpu=<cpu> s[  rows=n]`
    * line (cpu −1.00 when the JVM exposes no process-CPU bean). */
  def timed[A](tag: String, name: String, rows: A => Option[Long] = (_: A) => None)(
      f: => A): A = {
    val t0 = System.nanoTime(); val c0 = cpuNanos()
    val r = f
    val cpu = if (c0 < 0) -1.0 else (cpuNanos() - c0) / 1e9
    val rowsSuffix = rows(r).map(n => s"  rows=$n").getOrElse("")
    println(f"$tag $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
      f"cpu=$cpu%8.2f s$rowsSuffix")
    r
  }
}

/** Ad-hoc plan-fragment timing harness (dev tool, not part of the
  * driver contract). */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.cpus)
    val docs = Tables(spark, sfDir, "documents")
    docs.count()

    def time(name: String)(f: => Long): Unit = {
      ProbeTiming.timed("PROBE", name, (n: Long) => Some(n))(f); ()
    }

    // q69's scan-time kernel, run twice: the first-use number carries
    // whole-stage-codegen JIT, the second is the steady-state cost a
    // long suite actually pays per additional use
    for (round <- Seq("1st", "2nd")) time(s"q69_kernel_$round") {
      docs.select(text.dupNgramFraction(text.tokens(col("text")), 3)
        .as("f")).agg(sum("f")).head(); 1L
    }

    time("docs_tokenize") {
      docs.select(size(text.tokens(col("text"))).as("n")).agg(sum("n")).head(); 1L
    }
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 2)
    time("shingle_sets") {
      sets.select(size(col("shingles")).as("n")).agg(sum("n")).head(); 1L
    }
    val sh = sets.select(col("doc"), explode(col("shingles")).as("shingle"))
    time("explode_count") { sh.count() }
    val posting = sh.groupBy("shingle")
      .agg(sort_array(collect_list(col("doc"))).as("docs"))
      .filter(size(col("docs")) >= 2)
    time("posting_lists") { posting.count() }
    time("posting_pair_volume") {
      // long arithmetic: a >65k-doc posting list would overflow Int
      posting.select((size(col("docs")).cast("long") *
          (size(col("docs")).cast("long") - 1) / 2).as("p"))
        .agg(sum("p")).head().getAs[Number](0).longValue()
    }
    val pairExpr = flatten(transform(col("docs"), (x, i) =>
      transform(slice(col("docs"), i + lit(2), size(col("docs"))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
    val inter = posting.select(explode(pairExpr).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_g"))
    time("pair_agg") { inter.count() }
    time("full_q27") {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.18, Some(100)).count()
    }
    // q30 stage breakdown
    val sets30 = Dedup.shingleSets(docs, "doc_id", "text", 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("q30_sets_materialize") { sets30.count() }
    val sh30 = sets30.select(col("doc"), explode(col("shingles")).as("shingle"))
      .select(col("doc"), xxhash64(col("shingle")).as("h0"))
    // the ONE shared signature definition — a re-implementation here
    // could silently drift from what q30 actually runs
    val sigs = Dedup.signaturesFromBaseHashes(sh30, 64)
    time("q30_signatures") { sigs.count() }
    // minBandMatches = 2, matching minhashNearDupPairs' real call —
    // the default 1 would time a candidate set orders of magnitude
    // larger than the stage q30 executes
    val cand = Dedup.minhashCandidatePairs(sigs, 32, 64, minBandMatches = 2)
    time("q30_candidates") { cand.count() }
    time("q30_full") {
      Dedup.minhashNearDupPairs(docs, "doc_id", "text", 2, 64, 32, 0.5).count()
    }
    spark.stop()
  }
}

/** Occupancy-vs-scale measurement (dev tool): candidate-stage volumes
  * for the bucketed dedup/ANN operators (q30 MinHash bands, q46
  * SimHash pigeonhole, q54 auto-sized hyperplane LSH) measured at
  * growing corpus sizes, against the formulas PLANS.md argues from.
  * Two sweeps:
  *  - NATURAL: the sf0.001 → sf0.01 → sf0.1 fixtures (100× span, the
  *    real generator distribution);
  *  - SYNTHETIC beyond sf0.1: documents re-sampled token-by-token from
  *    the fixture's own vocabulary with per-(doc, replica, position)
  *    hashes (same vocabulary and length distribution, so shingle dfs
  *    keep growing linearly — the dense-corpus regime); embeddings
  *    replicated with deterministic per-component perturbation (local
  *    density preserved, replicas spread across hyperplanes).
  * Prints one PROBE_SCALE line per measurement (markdown-ready cells).
  */
object ProbeScale {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.cpus)
    import spark.implicits._

    // Σ over buckets of C(c,2) — the rows a same-bucket self-join
    // emits, i.e. the cost driver of every bucketed candidate stage
    def bucketPairs(buckets: DataFrame): (Long, Long, Long) = {
      val r = buckets.groupBy(buckets.columns.map(col): _*)
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1) / 2).as("pairs"),
          max(col("c")).as("maxc"), count(lit(1)).as("nbuckets"))
        .head()
      (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue(),
        r.getAs[Number](2).longValue())
    }

    def measureDocs(tag: String, docs: DataFrame): Unit = {
      val n = docs.count()
      // q30: band-bucket emissions + surviving >=2-band candidates.
      // sets is consumed exactly once (while sigs materializes), so
      // persisting it would only add memory pressure to the very
      // occupancy measurement being taken.
      val sets = Dedup.shingleSets(docs, "doc_id", "text", 2)
      val sh = sets.select(col("doc"), explode(col("shingles")).as("s"))
        .select(col("doc"), xxhash64(col("s")).as("h0"))
      val sigs = Dedup.signaturesFromBaseHashes(sh, 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val banded = sigs.select(col("doc"),
        posexplode(transform(sequence(lit(0), lit(31)),
          b => xxhash64(b, concat_ws(",",
            slice(col("signature"), b * 2 + 1, lit(2))))))
          .as(Seq("band", "band_hash")))
      val (q30emit, q30max, _) = bucketPairs(banded.select("band", "band_hash"))
      val q30cand = Dedup.minhashCandidatePairs(sigs, 32, 64,
        minBandMatches = 2).count()
      sigs.unpersist(blocking = false)
      // q46: pigeonhole bucket emissions at the minimal (6,1) and the
      // widened (10,3) parameterizations (same exact output)
      def simhashEmissions(blocks: Int, keyBlocks: Int): (Long, Long) = {
        val width = 60
        val blockBits = width / blocks
        val mask = (1L << blockBits) - 1
        val fp = docs.select(col("doc_id").as("doc"),
          Dedup.simhashFast(text.tokens(col("text")), width).as("fp"))
        def blockVal(b: Int) =
          shiftrightunsigned(col("fp"), b * blockBits).bitwiseAND(lit(mask))
        val keys = (0 until blocks).combinations(keyBlocks).toSeq.map(combo =>
          combo.foldLeft(lit(0L))((acc, b) =>
            shiftleft(acc, blockBits).bitwiseOR(blockVal(b))))
        val blocked = fp.select(col("doc"),
          posexplode(array(keys: _*)).as(Seq("tbl", "bkey")))
        val (p, m, _) = bucketPairs(blocked.select("tbl", "bkey"))
        (p, m)
      }
      val (q46e61, q46m61) = simhashEmissions(6, 1)
      val (q46e103, q46m103) = simhashEmissions(10, 3)
      println(s"PROBE_SCALE docs $tag n=$n " +
        s"q30_emissions=$q30emit q30_max_bucket=$q30max q30_candidates=$q30cand " +
        s"q46_61_emissions=$q46e61 q46_61_max=$q46m61 " +
        s"q46_103_emissions=$q46e103 q46_103_max=$q46m103")
    }

    def measureEmb(tag: String, emb: DataFrame): Unit = {
      val n = emb.count()
      val nPlanes = Similarity.planesForSize(n)
      val planes = vectors.planeMatrix(54L, nPlanes, 64)
      val buckets = emb.select(
        vectors.hyperplaneBucketFast(col("embedding"), planes).as("b"))
      val (pairs, maxc, nb) = bucketPairs(buckets)
      println(s"PROBE_SCALE emb $tag n=$n planes=$nPlanes " +
        s"q54_inbucket_pairs=$pairs max_bucket=$maxc buckets=$nb " +
        s"pred_pairs=${n.toDouble * 31 / 2}")
    }

    // `ProbeScale spans` runs only the q81 sweep; no arg = everything
    val mode = args.headOption.getOrElse("full")

    // ── natural sweep over the generated fixtures ──
    if (mode == "full") {
      for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
        val dir = s"/root/testdata/$sf"
        if (new java.io.File(dir).isDirectory) {
          measureDocs(sf, Tables(spark, dir, "documents"))
          measureEmb(sf, Tables(spark, dir, "embeddings"))
        }
      }
    }

    // ── `ProbeScale bpe`: the two BPE training executions measured
    // against each other — the per-step Spark-job loop (one full job
    // + localCheckpoint per merge; the q146 gate form at nMerges=5)
    // vs the driver-side incremental trainer (operators.Bpe) on the
    // ONE collected vocabulary-grain word table. The point of the
    // row: per-merge cost of the job loop is scheduler-bound (≈
    // constant per step regardless of vocabulary), so production
    // vocabularies (30k merges) are hours of sequential jobs, while
    // the in-memory trainer's per-merge cost is micro-seconds at the
    // same semantics (parity-specced in BpeSpec). Vocabulary for the
    // deep run is the sf0.01 table replica-amplified with
    // replica-unique atom bodies (replicas share NO pairs, so merge
    // capacity scales exactly ×replicas — clean growth, no
    // cross-replica interference). ──
    if (mode == "bpe") {
      val dir = "/root/testdata/sf0.01"
      val wordTable = Tables(spark, dir, "documents")
        .select(explode(text.tokens(col("text"))).as("w"))
        .filter(!col("w").rlike("[<>\\x01]"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= 2)
        .select(regexp_replace(col("w"), "(.)", "<$1>").as("str"),
          col("freq"))
      // warm the scan + codegen BEFORE either timed region: the
      // subtraction below misattributes (or goes negative) if one
      // side pays the cold FS-cache/JIT cost and the other does not
      wordTable.as[(String, Long)].collect()
      val tc0 = System.nanoTime()
      val words = wordTable.as[(String, Long)].collect().toSeq
      val countWall = (System.nanoTime() - tc0) / 1e9
      val tq0 = System.nanoTime()
      SparkEntry.queries("q146_bpe_train")(spark, dir).collect()
      val q146Wall = (System.nanoTime() - tq0) / 1e9
      val sparkPerMerge = math.max(0.0, (q146Wall - countWall) / 5.0)
      for (replicas <- Seq(1, 8, 32)) {
        val amp = (0 until replicas).flatMap(r =>
          words.map { case (s, f) => (s.replace(">", s"~$r>"), f) })
        // capacity-bounded target: every replica multiplies capacity.
        // No floor above the per-replica capacity bound — a max(64, _)
        // would push replicas=1 past what the sf0.01 vocabulary can
        // support and abort in Bpe.train's no-pairs-left require
        // instead of measuring
        val nMerges = math.max(1,
          math.min(1000 * replicas / 32, 64 * replicas))
        val td0 = System.nanoTime()
        val rules = graft.operators.Bpe.train(amp, nMerges)
        val driverWall = (System.nanoTime() - td0) / 1e9
        println(f"PROBE_SCALE bpe replicas=$replicas vocab=${amp.size} " +
          f"merges=$nMerges driver_wall=$driverWall%.3fs " +
          f"driver_per_merge=${driverWall / nMerges * 1000}%.3fms " +
          f"spark_per_merge=${sparkPerMerge * 1000}%.0fms " +
          f"spark_30k_extrapolated=${sparkPerMerge * 30000 / 60}%.0fmin " +
          f"driver_30k_extrapolated=${driverWall / nMerges * 30000}%.1fs " +
          f"rules=${rules.size}")
      }
    }

    // ── `ProbeScale video`: q155's scale claim measured — the GVID
    // sampler's decode cost must scale with SAMPLED frames, not
    // container size, because skipped frames are passed over via the
    // length prefix without touching their bytes. Fixed corpus of
    // 12-frame videos, stride swept 1/2/4/12: if the claim holds,
    // wall falls ~linearly with 1/stride down to the per-row floor. ──
    if (mode == "video") {
      import org.apache.spark.sql.Row
      import graft.operators.{Multimodal, PngEncoder, VideoStats}
      val nVideos = 20000
      val media = Multimodal.decodePartitions[(Long, Array[Byte])](
        spark.range(nVideos).toDF("event_id")
          .repartition(spark.sparkContext.defaultParallelism),
        (rows: Iterator[Row]) => {
          val enc = new PngEncoder()
          rows.map { r =>
            val id = r.getLong(0)
            val frames = (0 until 12).map { f =>
              enc.encode(8, 6,
                (((id + f) % 256L).toInt << 16),
                (((id * 7 + f) % 256L).toInt))
            }
            (id, Multimodal.encodeVideo(frames))
          }
        })(org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.BINARY))
        .toDF("event_id", "payload")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      media.count() // materialize the encode outside the timed region
      for (stride <- Seq(1, 2, 4, 12)) {
        val t0 = System.nanoTime()
        val n = Multimodal.decodePartitions[VideoStats](
          media, Multimodal.decodeSampledVideoStats(stride)).count()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"PROBE_SCALE video stride=$stride videos=$n " +
          f"frames_decoded=${n * ((12 + stride - 1) / stride)} " +
          f"wall=$wall%.2fs")
      }
      media.unpersist(blocking = false)
    }

    // ── synthetic sweep beyond sf0.1 ──
    val docs01 = Tables(spark, "/root/testdata/sf0.1", "documents")
    val vocab = docs01
      .select(explode(text.tokens(col("text"))).as("t"))
      .distinct().orderBy("t").as[String].collect()
    val vocabLit = array(vocab.map(lit(_)): _*)
    def resampleDocs(replicas: Int): DataFrame =
      docs01
        .select(col("doc_id"), size(text.tokens(col("text"))).as("len"))
        .crossJoin(spark.range(replicas).toDF("rep"))
        .select(
          (col("doc_id") * replicas + col("rep")).as("doc_id"),
          array_join(transform(sequence(lit(1), col("len")),
            i => element_at(vocabLit,
              (pmod(xxhash64(col("doc_id"), col("rep"), i),
                lit(vocab.length)) + 1).cast("int"))), " ").as("text"))
    val emb01 = Tables(spark, "/root/testdata/sf0.1", "embeddings")
    def perturbEmb(replicas: Int): DataFrame =
      emb01
        .crossJoin(spark.range(replicas).toDF("rep"))
        .select(
          (col("vec_id") * replicas + col("rep")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x * (lit(1.0) + lit(0.5) *
              ((pmod(xxhash64(col("vec_id"), col("rep"), i), lit(2001))
                - 1000).cast("double") / 1000.0))).as("embedding"))

    // growth regime B: the VOCABULARY grows with the corpus (each
    // replica draws from its own suffixed token space — the way a real
    // corpus grows by adding new content domains, where shingle dfs
    // stay ~constant instead of growing linearly)
    def resampleDocsScaledVocab(replicas: Int): DataFrame =
      docs01
        .select(col("doc_id"), size(text.tokens(col("text"))).as("len"))
        .crossJoin(spark.range(replicas).toDF("rep"))
        .select(
          (col("doc_id") * replicas + col("rep")).as("doc_id"),
          array_join(transform(sequence(lit(1), col("len")),
            i => concat(element_at(vocabLit,
              (pmod(xxhash64(col("doc_id"), col("rep"), i),
                lit(vocab.length)) + 1).cast("int")),
              lit("~"), col("rep").cast("string"))), " ").as("text"))

    // q81's cost drivers at scale: the gram-support table size, the
    // shared fraction, and the hottest gram's position count (the
    // join-back skew driver). Same two growth regimes as measureDocs.
    def measureSpans(tag: String, docs: DataFrame): Unit = {
      val pos = docs.select(col("doc_id").as("doc"),
        explode(text.positionalShingles(text.tokens(col("text")), 5))
          .as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val positions = pos.count()
      val r = pos.groupBy("g")
        .agg(countDistinct(col("doc")).as("d"), count(lit(1)).as("c"))
        .agg(count(lit(1)).as("grams"),
          sum(when(col("d") >= 2, 1L).otherwise(0L)).as("shared"),
          max(col("c")).as("hottest"))
        .head()
      pos.unpersist(blocking = false)
      println(s"PROBE spans/$tag positions=$positions " +
        s"grams=${r.getLong(0)} shared=${r.getLong(1)} " +
        s"hottest_gram_positions=${r.getLong(2)}")
    }

    if (mode == "full") {
      for (r <- Seq(1, 4, 10)) measureDocs(s"dense${r}x", resampleDocs(r))
      for (r <- Seq(4, 10)) measureDocs(s"grow${r}x", resampleDocsScaledVocab(r))
      for (r <- Seq(1, 10, 100)) measureEmb(s"synth${r}x", perturbEmb(r))
    }
    if (mode == "full" || mode == "spans") {
      for (r <- Seq(1, 4, 10)) measureSpans(s"dense${r}x", resampleDocs(r))
      for (r <- Seq(4, 10)) measureSpans(s"grow${r}x", resampleDocsScaledVocab(r))
    }

    // ── `ProbeScale corpus`: the q107/q108 cost drivers ──
    // q108's claim is SHUFFLE REDUCTION: the exchange of the exact
    // count carries (per-partition-distinct) CANDIDATE tokens instead
    // of the full vocabulary. Measured: vocabulary keys vs candidate
    // keys/rows surviving the sketch probe at the registered
    // phi=0.1% threshold, in both growth regimes (dense: vocabulary
    // fixed, stream grows — candidates shrink as the threshold rises;
    // grow: vocabulary grows with the corpus — the regime the sketch
    // exists for).
    def measureHH(tag: String, docs: DataFrame): Unit = {
      import org.apache.spark.sql.graft.{Bridge, CmsEstimate}
      val toks = docs.select(explode(text.tokens(col("text"))).as("token"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = toks.count()
      val th = math.max(5L, n / 1000L)
      val bytes = toks.agg(count_min_sketch(col("token"), lit(1e-4),
        lit(0.99), lit(42)).as("s")).head.getAs[Array[Byte]]("s")
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
      val est = Bridge.column(
        CmsEstimate(Bridge.expression(col("token")), cms))
      val vocabKeys = toks.distinct().count()
      val candRows = toks.filter(est >= th).count()
      val candKeys = toks.filter(est >= th).distinct().count()
      val result = graft.operators.CorpusStats
        .heavyHitterTokens(docs, "text", th).count()
      toks.unpersist(blocking = false)
      println(f"PROBE_SCALE hh/$tag n_tokens=$n th=$th " +
        f"vocab_keys=$vocabKeys cand_keys=$candKeys cand_rows=$candRows " +
        f"result=$result key_reduction=${vocabKeys.toDouble / candKeys}%.1f")
    }

    // q107's claim is a BOUNDED quadratic: the within-cell pair volume
    // Σ C(c,2) vs all-pairs n(n-1)/2 at the registered 16 seeded
    // centroids. With FIXED centroids the fraction holds (~1/cells
    // under even occupancy) but absolute pairs grow ~n²/cells — the
    // measured justification for the scaladoc's "centroids sized for
    // ~constant occupancy" instruction and the occupancy guard.
    def measureSemDedup(tag: String, emb: DataFrame): Unit = {
      val cents = vectors.planeMatrix(seed = 7L, nPlanes = 16, dim = 64)
      val n = emb.count()
      val cells = emb.select(
        vectors.assignCellFast(col("embedding"), cents).as("cell"))
      val (pairs, maxc, nb) = bucketPairs(cells)
      val allPairs = n * (n - 1) / 2
      println(f"PROBE_SCALE semdedup/$tag n=$n cells_used=$nb " +
        f"incell_pairs=$pairs max_cell=$maxc allpairs=$allPairs " +
        f"frac=${pairs.toDouble / allPairs}%.4f " +
        f"occupancy=${n.toDouble / nb}%.0f")
    }

    // regime C for q108: heavy head + SINGLETON TAIL — half the
    // stream drawn from the fixture vocabulary, half unique
    // per-position tokens (URLs/numbers/typos in a real crawl). The
    // fixture's own 31-token vocabulary makes every token a heavy
    // hitter (measured: key_reduction=1.0 at every sf), so THIS is
    // the regime the sketch filter exists for.
    def resampleDocsLongTail(replicas: Int): DataFrame =
      docs01
        .select(col("doc_id"), size(text.tokens(col("text"))).as("len"))
        .crossJoin(spark.range(replicas).toDF("rep"))
        .select(
          (col("doc_id") * replicas + col("rep")).as("doc_id"),
          array_join(transform(sequence(lit(1), col("len")), i => {
            val h = xxhash64(col("doc_id"), col("rep"), i)
            when(pmod(h, lit(2)) === 0,
              element_at(vocabLit,
                (pmod(h, lit(vocab.length)) + 1).cast("int")))
              .otherwise(concat(lit("u"), pmod(h, lit(1L << 40))))
          }), " ").as("text"))

    if (mode == "corpus") {
      for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
        val dir = s"/root/testdata/$sf"
        if (new java.io.File(dir).isDirectory)
          measureHH(sf, Tables(spark, dir, "documents"))
      }
      for (r <- Seq(4, 10)) measureHH(s"dense${r}x", resampleDocs(r))
      for (r <- Seq(4, 10)) measureHH(s"grow${r}x", resampleDocsScaledVocab(r))
      for (r <- Seq(1, 4, 10)) measureHH(s"tail${r}x", resampleDocsLongTail(r))
      measureSemDedup("sf0.1", emb01)
      for (r <- Seq(10, 100)) measureSemDedup(s"synth${r}x", perturbEmb(r))
      // the production knob: TRAINED centroids (Lloyd on a bounded
      // sample) vs the oracle-mirrorable seeded planes — same plan,
      // different balance
      val trained = Similarity.trainIvfCentroids(emb01, k = 16)
      val n01 = emb01.count()
      val cellsT = emb01.select(
        vectors.assignCellFast(col("embedding"), trained).as("cell"))
      val (pT, mT, nbT) = bucketPairs(cellsT)
      println(f"PROBE_SCALE semdedup/sf0.1-trained n=$n01 " +
        f"cells_used=$nbT incell_pairs=$pT max_cell=$mT " +
        f"frac=${pT.toDouble / (n01 * (n01 - 1) / 2)}%.4f")
    }

    // ── `ProbeScale ingest`: the q109/q111 mark cost as the STORE
    // grows with a FIXED batch — the measurement behind the
    // cost-based point-fetch switch (Dedup.markAgainstIndex). The
    // scan-join re-score reads the whole shingles store per mark, so
    // its cost grows with store size; the point-fetch path collects
    // the candidate target ids and prunes the id-clustered store, so
    // its cost tracks the batch. Both paths are forced via the
    // sentinel thresholds and report warm second-run wall times. ──
    if (mode == "build") {
      // writeNearDupIndex phase dissection: the ingest sweep measured
      // the BUILD at ~40-57 process-cpu-seconds FLAT across 1x/4x/10x
      // stores — fixed overhead, not per-row work. Split it: shingle
      // materialize / signature+band write / clustered shingle write,
      // twice, so first-use codegen+JIT separates from steady state.
      import graft.operators.Dedup
      val docsB = Tables(spark, "/root/testdata/sf0.1", "documents")
        .select(col("doc_id"), col("text"))
      def phase(name: String)(f: => Unit): Unit =
        ProbeTiming.timed("PROBE_BUILD", name)(f)
      for (round <- Seq("1st", "2nd")) {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_build_$round").toString
        try {
          val sets = Dedup.shingleSets(docsB, "doc_id", "text", 2)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          phase(s"sets_materialize_$round") { sets.count() }
          val sigs = Dedup.signaturesFromBaseHashes(
            sets.select(col("doc"), explode(col("shingles")).as("shingle"))
              .select(col("doc"), xxhash64(col("shingle")).as("h0")), 64)
          phase(s"bands_write_$round") {
            Dedup.bandedSignatures(sigs, 32, 64)
              .write.mode("errorifexists").parquet(root + "/bands")
          }
          phase(s"shingles_write_$round") {
            sets.repartitionByRange(32, col("doc"))
              .sortWithinPartitions(col("doc"))
              .write.mode("errorifexists").parquet(root + "/shingles")
          }
          sets.unpersist(blocking = false)
        } finally Scratch.deleteRecursively(new java.io.File(root))
      }
    }
    // ── `ProbeScale hardneg`: q119's candidate machinery at scale.
    // hardNegatives shares q95's auto-sized multi-table LSH candidate
    // stage (measured ~n^1.2 there) but adds a DISTINCT over the
    // emitted pairs, two emb point joins, a cross-label filter, and a
    // per-vector argmax window — measure the stage volumes directly
    // so the multi-table contract (auto-sized keys, bounded
    // occupancy) is verified on THIS operator, not inherited on
    // faith. ──
    if (mode == "hardneg") {
      def measureHardNeg(tag: String, emb: DataFrame): Unit = {
        val n = emb.count()
        val nPlanes = Similarity.planesForSize(n)
        val nTables = Similarity.lshTablesForRecall(nPlanes, 0.9, 0.01)
        val tables = (0 until nTables).map(i =>
          vectors.planeMatrix(seed = 119L + i, nPlanes = nPlanes, dim = 64))
        val bucketed = emb.select(col("vec_id"),
          posexplode(vectors.multiTableBucketsFast(col("embedding"), tables))
            .as(Seq("tbl", "bucket")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (bktPairs, maxBkt, _) = bucketPairs(bucketed.select("tbl", "bucket"))
        val a = bucketed.toDF("vec_id", "tbl", "bucket")
        val b = bucketed.toDF("nb_id", "tbl", "bucket")
        val cand = a.join(b, Seq("tbl", "bucket"))
          .filter(col("vec_id") =!= col("nb_id"))
          .select("vec_id", "nb_id").distinct().count()
        bucketed.unpersist(blocking = false)
        val t0 = System.nanoTime()
        val result = Similarity.hardNegatives(emb, tables).count()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"PROBE_SCALE hardneg/$tag n=$n planes=$nPlanes " +
          f"tables=$nTables bucket_pair_emissions=$bktPairs " +
          f"max_bucket=$maxBkt distinct_candidates=$cand " +
          f"cand_per_vec=${cand.toDouble / n}%.1f result=$result " +
          f"full_wall=$wall%.2fs")
      }
      val embL = Tables(spark, "/root/testdata/sf0.1", "embeddings")
      // label-retaining twin of perturbEmb: replicas inherit the base
      // vector's label, so cross-label pair density stays realistic
      def perturbEmbLabeled(replicas: Int): DataFrame =
        embL.crossJoin(spark.range(replicas).toDF("rep"))
          .select(
            (col("vec_id") * replicas + col("rep")).as("vec_id"),
            col("label"),
            transform(col("embedding"), (x, i) =>
              (x.cast("double") * (lit(1.0) + lit(0.5) *
                ((pmod(xxhash64(col("vec_id"), col("rep"), i), lit(2001))
                  - 1000).cast("double") / 1000.0))).cast("float"))
              .as("embedding"))
      measureHardNeg("1x", embL)
      measureHardNeg("10x", perturbEmbLabeled(10))
      measureHardNeg("100x", perturbEmbLabeled(100))
    }

    // q156's scale claim measured: scoring cost must track FEATURE
    // VOLUME (unigrams + bigrams ≈ 2·tokens, linear in corpus size)
    // while the broadcast model stays constant — the property that
    // makes a classifier gate a scan at 100 TB, not a join problem
    if (mode == "classify") {
      def measureClassify(tag: String, docs: DataFrame): Unit = {
        val n = docs.count()
        val t0 = System.nanoTime()
        val r = CorpusStats
          .linearClassifierScores(docs, "doc_id", "text", buckets = 4096)
          .agg(sum(col("n_feats")).as("feats"),
            sum(when(col("accept"), 1L).otherwise(0L)).as("acc"))
          .head()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"PROBE_SCALE classify/$tag n=$n " +
          f"feats=${r.getLong(0)} accepted=${r.getLong(1)} " +
          f"feats_per_doc=${r.getLong(0).toDouble / n}%.1f " +
          f"wall=$wall%.2fs")
      }
      val docsC = Tables(spark, "/root/testdata/sf0.1", "documents")
        .select(col("doc_id"), col("text"))
      def replicateDocs(r: Int): DataFrame =
        docsC.crossJoin(spark.range(r).toDF("rep"))
          .select((col("doc_id") * r + col("rep")).as("doc_id"),
            col("text"))
      measureClassify("1x", docsC)
      measureClassify("10x", replicateDocs(10))
      measureClassify("100x", replicateDocs(100))
    }

    // Shared by the excise/selfdup probes: replicate a (doc_id, text)
    // frame r× WITHOUT a join. A crossJoin(range) puts a Join node in
    // the analyzed plan, which makes widenForCpu treat the frame as
    // already shuffle-width-governed — but a broadcast-NLJ output
    // keeps the 2-split scan width, so the probe would measure a
    // narrow kernel the real operator never runs. posexplode keeps
    // the frame scan-shaped, so the operator's own width policy (the
    // thing under test) decides.
    def replicateJoinFree(df: DataFrame, r: Int): DataFrame =
      df.select(col("doc_id"), col("text"),
          posexplode(array_repeat(lit(1), r)).as(Seq("rep", "_one")))
        .select((col("doc_id") * r + col("rep")).as("doc_id"),
          col("text"))

    // q163's scale claim measured: the island window must only ever
    // see MATCHED positions (the semi-join reduction), so its input
    // volume tracks the CONTAMINATION MASS, not the corpus — a 100×
    // corpus against a fixed eval fold costs 100× scan but the
    // window stage stays match-bounded
    if (mode == "excise") {
      def measureExcise(tag: String, train: DataFrame,
          evalSet: DataFrame): Unit = {
        val n = train.count()
        val t0 = System.nanoTime()
        val r = Dedup.contaminationExcision(train, evalSet,
            "doc_id", "text", n = 8)
          .agg(sum(col("grams_matched")).as("gm"),
            sum(col("tokens_excised")).as("ex"),
            sum(when(col("tokens_excised") > 0L, 1L).otherwise(0L))
              .as("aff"))
          .head()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"PROBE_SCALE excise/$tag n=$n " +
          f"matched_positions=${r.getLong(0)} " +
          f"tokens_excised=${r.getLong(1)} affected=${r.getLong(2)} " +
          f"wall=$wall%.2fs")
      }
      val docsE = Tables(spark, "/root/testdata/sf0.1", "documents")
      val isEval = col("doc_id") % 17 === 3
      val evalSet = docsE.filter(isEval).select(col("text"))
        .localCheckpoint()
      val train = docsE.filter(!isEval)
        .select(col("doc_id"), col("text"))
      // warm the whole excision chain (tokenize + md5 kernel codegen,
      // semi-join, island window) BEFORE the timed points — the r12
      // table's 1× row read 4.57 s cold vs 1.0-1.4 s steady-state, so
      // without this the small points measure the JIT, not the
      // operator (the bench-calibration convention; same rationale as
      // the build probe's warm second run)
      Dedup.contaminationExcision(train, evalSet, "doc_id", "text",
          n = 8)
        .agg(sum(col("tokens_excised"))).head()
      measureExcise("1x", train, evalSet)
      measureExcise("10x", replicateJoinFree(train, 10), evalSet)
      measureExcise("100x", replicateJoinFree(train, 100), evalSet)
    }

    // q166/q168/q170's ADVERSARIAL regime measured: replication makes
    // every replica a verbatim dup, so matched (non-owner) positions
    // grow toward the FULL position stream — (r−1)/r of corpus
    // positions at r× — the worst case for the "owner table bounded
    // by the duplicated-gram count" claim (a cleaned corpus keeps
    // matched positions orders of magnitude below the token stream;
    // a maximally-duplicated one cannot). The claim under test here
    // is the WALK: matched-position volume is the island/run windows'
    // input, both stay doc-partitioned, so wall must track corpus
    // volume / width even when the reduction gives nothing.
    if (mode == "selfdup") {
      def measureSelfDup(tag: String, docs: DataFrame): Unit = {
        val n = docs.count()
        val t0 = System.nanoTime()
        val r = Dedup.selfDupExcision(docs, "doc_id", "text", n = 8)
          .agg(sum(col("n_tok")).as("toks"),
            sum(col("grams_deduped")).as("gd"),
            sum(col("tokens_excised")).as("ex"))
          .head()
        val wall = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val m = Dedup.selfDupMaximalSpans(docs, "doc_id", "text",
            n = 8, minSpan = 50)
          .agg(sum(col("spans")).as("sp"),
            sum(col("tokens_excised")).as("ex"))
          .head()
        val wallM = (System.nanoTime() - t1) / 1e9
        println(f"PROBE_SCALE selfdup/$tag n=$n " +
          f"tokens=${r.getLong(0)} matched=${r.getLong(1)} " +
          f"excised=${r.getLong(2)} wall=$wall%.2fs | " +
          f"spans50=${m.getLong(0)} span_excised=${m.getLong(1)} " +
          f"wall_spans=$wallM%.2fs")
      }
      val docsS = Tables(spark, "/root/testdata/sf0.1", "documents")
        .select(col("doc_id"), col("text"))
      // warm pass (the excise-probe convention) — BOTH measured
      // operators: selfDupMaximalSpans has stages selfDupExcision
      // never runs (run-grouping window, variable-width union window,
      // span checkpoint join), so warming only the excision would
      // leave the 1× wall_spans billing their codegen/JIT
      Dedup.selfDupExcision(docsS, "doc_id", "text", n = 8)
        .agg(sum(col("tokens_excised"))).head()
      Dedup.selfDupMaximalSpans(docsS, "doc_id", "text", n = 8,
          minSpan = 50)
        .agg(sum(col("tokens_excised"))).head()
      measureSelfDup("1x", docsS)
      measureSelfDup("3x", replicateJoinFree(docsS, 3))
      measureSelfDup("10x", replicateJoinFree(docsS, 10))
    }

    // q172's scale claims measured: the pigeonhole blocking join's
    // CANDIDATE volume (what actually shuffles/compares) vs the
    // all-pairs n²/2 it replaces, and how widening the key
    // (keyBlocks 1 → 2: 8 tables/8-bit keys → 28 tables/16-bit keys)
    // trades table count for exponentially fewer per-bucket
    // collisions. Fingerprints come from the q172 generation
    // ARITHMETIC, not the decode — the blocking is the claim under
    // test (decode cost is the q92/q149 story), and the oracle gate
    // already proves arithmetic ≡ decoded hashes. Growth here is the
    // adversarial direction: more ids = linearly bigger dup groups
    // (25 fixed patterns), so TRUE pairs grow quadratically — wall
    // must track candidates/pairs, never n².
    if (mode == "phash") {
      val fpExpr = (0 until 64).map { i =>
        s"((CAST((((id % 50) + 1) * ${i + 3}) % 97 AS BIGINT) % 2" +
          s" + CASE WHEN (id div 8) % 3 >= 1" +
          s"     AND ((id div 8) * 13) % 64 = $i THEN 1 ELSE 0 END" +
          s" + CASE WHEN (id div 8) % 3 >= 2" +
          s"     AND ((id div 8) * 13 + 29) % 64 = $i THEN 1 ELSE 0 END" +
          s") % 2) * shiftleft(CAST(1 AS BIGINT), $i)"
      }.mkString(" + ")
      def fpFrame(nIds: Long): DataFrame =
        spark.range(0, nIds).filter("id % 8 = 0")
          .selectExpr("id AS doc", s"($fpExpr) AS fp")
          .repartition(32, col("doc"))
          .localCheckpoint()
      // counts come from the ENGINE's own key packing
      // (Dedup.pigeonholeKeys) — a hand-copied blocking here would
      // keep printing counts for a packing the engine no longer runs
      // if the fold/mask/combination enumeration ever changed
      def candidates(fp: DataFrame, blocks: Int, keyBlocks: Int): Long =
        Dedup.pigeonholeKeys(fp, radius = 4, width = 64,
            Some(blocks), keyBlocks)
          .groupBy(col("tbl"), col("bkey"))
          .agg(count(lit(1)).as("n"))
          .agg(sum(expr("n * (n - 1) div 2"))).head().getLong(0)
      def measurePhash(tag: String, nIds: Long): Unit = {
        val fp = fpFrame(nIds)
        val n = fp.count()
        def run(kb: Int): (Long, Double) = {
          val t0 = System.nanoTime()
          val pairs = Dedup.hammingNearDupPairs(fp, radius = 4,
            width = 64, blocks = Some(8), keyBlocks = kb).count()
          (pairs, (System.nanoTime() - t0) / 1e9)
        }
        val (p1, w1) = run(1)
        val (p2, w2) = run(2)
        require(p1 == p2, s"keyBlocks must not change the answer: $p1 != $p2")
        val c1 = candidates(fp, 8, 1)
        val c2 = candidates(fp, 8, 2)
        println(f"PROBE_SCALE phash/$tag images=$n pairs=$p1 " +
          f"allpairs=${n * (n - 1) / 2} cand_kb1=$c1 cand_kb2=$c2 " +
          f"wall_kb1=$w1%.2fs wall_kb2=$w2%.2fs")
        org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(fp)
      }
      // warm the join/codegen shapes once — and free the warm-up
      // frame's checkpoint blocks before the measured runs
      val warmFp = fpFrame(2000)
      Dedup.hammingNearDupPairs(warmFp, radius = 4, width = 64,
        blocks = Some(8), keyBlocks = 1).count()
      org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(warmFp)
      measurePhash("1x", 10000)   // the sf0.01 gate population
      measurePhash("4x", 40000)
      measurePhash("10x", 100000) // the sf0.1 bench population
      // The fixture is the DUP-DOMINATED regime: candidates ≈
      // T × true pairs, so widening the key only multiplies the
      // table count. The regime where keyBlocks EARNS the tables —
      // web-scale sparse near-dups — is measured with random
      // fingerprints (xxhash64 of the id: ~zero true pairs, all
      // candidates are 2^-keyBits random collisions).
      def sparse(nIds: Long): DataFrame =
        spark.range(0, nIds)
          .selectExpr("id AS doc",
            "xxhash64(CAST(id AS STRING)) AS fp")
          .repartition(32, col("doc"))
          .localCheckpoint()
      Seq(12500L, 125000L).foreach { n =>
        val fp = sparse(n)
        val c1 = candidates(fp, 8, 1)
        val c2 = candidates(fp, 8, 2)
        println(f"PROBE_SCALE phash/sparse_$n images=$n " +
          f"allpairs=${n * (n - 1) / 2} cand_kb1=$c1 cand_kb2=$c2 " +
          f"reduction_kb2=${c1.toDouble / c2.max(1L)}%.1fx")
        org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(fp)
      }
    }

    // ── `ProbeScale phashmark`: the r13 weak-item fix measured — the
    // per-micro-batch phash mark against at-rest stores of 1×/4×/10×
    // size, pushed batch-key pruning vs the whole-store scan-join.
    // The ingest contract says per-batch cost tracks the BATCH, not
    // the corpus: under pruning the mark wall must stay ~flat as the
    // store grows 10×, while the scan-join grows with it. ──
    if (mode == "phashmark") {
      def sparseFp(nIds: Long, offset: Long): DataFrame =
        spark.range(0, nIds)
          .selectExpr(s"id + $offset AS doc",
            "xxhash64(CAST(id AS STRING)) AS fp")
      // Pruning skips ROW GROUPS holding none of the batch's keys, so
      // its effect depends on the RG-count-to-batch-keys ratio: at
      // 100 TB that ratio is ~10^6 RGs to ~10^3-10^4 keys; at sandbox
      // bytes the default 128 MB row groups collapse the whole store
      // into a handful of RGs and NOTHING can prune, whatever the
      // predicate. Emulate the production ratio by shrinking
      // parquet.block.size for the store build (layout emulation,
      // not a semantics knob — verdict parity is specced separately).
      val hc = spark.sparkContext.hadoopConfiguration
      val oldBlock = hc.get("parquet.block.size")
      hc.setInt("parquet.block.size", 64 << 10)
      try {
        val batch = sparseFp(20, 50000000L)
          .repartition(4, col("doc")).localCheckpoint()
        for (r <- Seq(1, 4, 10)) {
          val n = 100000L * r
          // the parameterization the operator itself would pick for
          // THIS corpus size (occupancy-held key widths — the index
          // is rebuilt as the corpus outgrows its key space, so each
          // regime is measured with its own honest index)
          val (bl, kb) = Dedup.simhashParamsForSize(n, radius = 4,
            width = 60)
          val root = java.nio.file.Files
            .createTempDirectory(s"graft_probe_phashmark_$r").toString
          try {
            ProbeTiming.timed("PROBE_SCALE", s"phashmark/store${r}x build") {
              Dedup.writePhashIndex(sparseFp(n, 0L), root + "/idx",
                radius = 4, width = 60, Some(bl), kb)
            }
            def mark(minBytes: Long): Double = {
              def run(): Double = {
                val t0 = System.nanoTime()
                Dedup.incrementalPhashAgainst(spark, batch, root + "/idx",
                  radius = 4, width = 60, Some(bl), kb,
                  pruneMinStoreBytes = minBytes).count()
                (System.nanoTime() - t0) / 1e9
              }
              run(); run() // warm second run (the excise convention)
            }
            val scan = mark(Long.MaxValue)
            val pruned = mark(0L)
            println(f"PROBE_SCALE phashmark/store${r}x stored=$n " +
              f"tables=(${bl},${kb}) batch=20 " +
              f"scanjoin=$scan%.2fs pruned=$pruned%.2fs")
          } finally Scratch.deleteRecursively(new java.io.File(root))
        }
        org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(batch)
      } finally {
        if (oldBlock == null) hc.unset("parquet.block.size")
        else hc.set("parquet.block.size", oldBlock)
      }
    }

    // ── `ProbeScale blocklist`: the q185 claim measured — the
    // Aho-Corasick pass is ONE text scan whatever the pattern count,
    // vs the per-pattern contains chain whose text work grows
    // linearly in P. Patterns are fixture-vocabulary bigram phrases
    // (some really match) padded with never-matching entries — the
    // realistic regime: most of a blocklist never fires. Both forms
    // compute the SAME n_hit total (asserted), so the walls compare
    // equal work. Warm-once-measure-second (the excise convention).
    if (mode == "blocklist") {
      val docs = Tables(spark, "/root/testdata/sf0.1", "documents")
        .select(col("doc_id"), col("text")).localCheckpoint()
      val vocab = docs
        .select(explode(graft.functions.text.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(30)
        .collect().map(_.getString(0))
      def pats(p: Int): Seq[String] = (0 until p).map { i =>
        if (i % 4 == 0)
          s"${vocab(i % vocab.length)} ${vocab((i * 7 + 1) % vocab.length)}"
        else f"zqx$i%04d"
      }
      def wall(f: => Long): (Double, Long) = {
        f; val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      for (p <- Seq(8, 80, 800)) {
        val ps = pats(p)
        val (acW, acN) = wall(graft.operators.Blocklist
          .tag(docs, "doc_id", "text", ps)
          .agg(sum(col("n_hit"))).head.getLong(0))
        // the form an engine writes without the automaton: one
        // contains() per pattern per row (size(filter(...)) over the
        // pattern array — the per-term `+`-reduce chain variant
        // STACK-OVERFLOWS the analyzer at P=800 before it can even
        // be measured, which is its own scale verdict)
        val chain = size(filter(array(ps.map(lit): _*),
          x => contains(col("text"), x))).cast("long")
        val (chW, chN) = wall(docs.select(chain.as("n"))
          .agg(sum(col("n"))).head.getLong(0))
        require(acN == chN, s"parity broke: ac=$acN chain=$chN")
        println(f"PROBE_SCALE blocklist/p$p hits=$acN " +
          f"ac=$acW%.2fs chain=$chW%.2fs")
      }
      org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(docs)
    }

    // ── `ProbeScale margin`: q184-vs-q187 measured — the exact
    // cross-score's pair volume grows n² while the recall-sized LSH
    // collide candidate set (the ENGINE's own blocking,
    // Similarity.collideCandidates) grows far slower, and the walls
    // follow the pair volumes. Vectors are hash-uniform directions
    // (independent by construction — the sin-fixture aliasing trap
    // is documented in SimilaritySpec). ──
    if (mode == "margin") {
      def emb(n: Long, salt: String): DataFrame =
        spark.range(n).select(col("id").as("vec_id"),
          expr(s"""transform(sequence(0, 63), i ->
            CAST((pmod(xxhash64(concat(CAST(id AS STRING), ':$salt:',
              CAST(i AS STRING))), 2000001) - 1000000) / 1000000.0
              AS FLOAT))""").as("embedding"))
          .localCheckpoint()
      for (n <- Seq(1000L, 2000L, 4000L)) {
        val xs = emb(n, "x"); val ys = emb(n, "y")
        val nPlanes = Similarity.planesForSize(2 * n)
        val tables = (0 until
          Similarity.lshTablesForRecall(nPlanes, 0.9, 0.01))
          .map(t => vectors.planeMatrix(seed = 1870L + t,
            nPlanes = nPlanes, dim = 64))
        def wall(f: => Long): (Double, Long) = {
          f; val t0 = System.nanoTime(); val r = f
          ((System.nanoTime() - t0) / 1e9, r)
        }
        val (cW, cands) = wall(
          Similarity.collideCandidates(xs, ys, tables).count())
        val (eW, _) = wall(Similarity.marginMine(xs, ys, 4, 1.1).count())
        val (iW, _) = wall(
          Similarity.marginMineIndexed(xs, ys, tables, 4, 1.1).count())
        println(f"PROBE_SCALE margin/n$n cross=${n * n} " +
          f"cands=$cands tables=${tables.size} planes=$nPlanes " +
          f"candscan=$cW%.2fs exact=$eW%.2fs indexed=$iW%.2fs")
        org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(xs)
        org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(ys)
      }
    }

    // ── `ProbeScale marginstores`: q199's two-sided at-rest form
    // measured against the dense cross-score — candidates come from
    // the ENUMERATED bucket-ball relation (|occupied X buckets| ×
    // ball size, never n²) with the Y scan isin-pruned, and the
    // candidate volume is computed exactly from the two bucket
    // histograms (Σ over in-ball bucket pairs of cnt_x·cnt_y — the
    // same relation the engine joins). ──
    if (mode == "marginstores") {
      def emb(n: Long, salt: String): DataFrame =
        spark.range(n).select(col("id").as("vec_id"),
          expr(s"""transform(sequence(0, 63), i ->
            CAST((pmod(xxhash64(concat(CAST(id AS STRING), ':$salt:',
              CAST(i AS STRING))), 2000001) - 1000000) / 1000000.0
              AS FLOAT))""").as("embedding"))
          .localCheckpoint()
      for (n <- Seq(1000L, 4000L, 16000L)) {
        val xs = emb(n, "x"); val ys = emb(n, "y")
        val nPlanes = Similarity.planesForSize(2 * n)
        val planes = vectors.planeMatrix(seed = 1990L,
          nPlanes = nPlanes, dim = 64)
        val radius = Similarity.probeRadiusForRecall(nPlanes, 0.9, 0.01)
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_ms_$n").toString
        def writeStore(df: DataFrame, path: String): Unit =
          graft.sources.Layout.clusteredWrite(
            df.withColumn("bucket",
              vectors.hyperplaneBucketFast(col("embedding"), planes)),
            path, numFiles = 8, col("bucket"))
        writeStore(xs, root + "/x"); writeStore(ys, root + "/y")
        // exact candidate volume from the bucket histograms
        def hist(path: String): Map[Long, Long] =
          spark.read.parquet(path).groupBy(col("bucket")).count()
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val hx = hist(root + "/x"); val hy = hist(root + "/y")
        val cands = hx.toSeq.map { case (bx, cx) =>
          Similarity.probeBuckets(bx, nPlanes, radius)
            .map(by => cx * hy.getOrElse(by, 0L)).sum
        }.sum
        def wall(f: => Long): (Double, Long) = {
          f; val t0 = System.nanoTime(); val r = f
          ((System.nanoTime() - t0) / 1e9, r)
        }
        val (sW, _) = wall(Similarity.marginMineStores(spark,
          root + "/x", root + "/y", planes, radius, 4, 1.1).count())
        val (eW, _) = wall(Similarity.marginMine(xs, ys, 4, 1.1).count())
        println(f"PROBE_SCALE marginstores/n$n cross=${n * n} " +
          f"ball_cands=$cands planes=$nPlanes radius=$radius " +
          f"stores=$sW%.2fs exact=$eW%.2fs")
        org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(xs)
        org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(ys)
        graft.Scratch.deleteRecursively(new java.io.File(root))
      }
    }

    // ── `ProbeScale ndguard`: q204's steady-state claim measured —
    // the indexed split-leakage guard checks a roughly CONSTANT-sized
    // new eval set against an ever-growing corpus, so its wall must
    // track the VAL side, not the store: under the pushed val-id /
    // val-band-hash / target-id pruning (splitLeakageIndexed's
    // big-store regime) the index scans prune to the eval set's
    // colliding neighborhoods, while the dataflow splitLeakage
    // re-tokenizes and re-signs the WHOLE corpus per check. Corpus =
    // sf0.01 documents replica-amplified with replica-unique token
    // bodies (replicas share no shingles — candidate volume stays
    // val-sized as the corpus grows; the bpe-probe amplification
    // trick); val manifest = a FIXED 50 original docs, so the leaks
    // found are IDENTICAL at every scale (asserted — the invariant
    // that proves all three executions answer the same question).
    // Store build billed separately (the prepareSharedStores
    // convention). Small parquet row groups emulate the production
    // RG-count-to-val-keys ratio (the phashmark layout-emulation
    // note). ──
    if (mode == "ndguard") {
      val base = Tables(spark, "/root/testdata/sf0.01", "documents")
        .select(col("doc_id"), col("text"))
      def corpus(r: Int): DataFrame =
        base.crossJoin(spark.range(r).toDF("rep"))
          .select((col("doc_id") * r + col("rep")).as("doc_id"),
            when(col("rep") === 0, col("text"))
              .otherwise(expr("""array_join(transform(
                split(text, ' '), t -> concat(t, '_', rep)), ' ')"""))
              .as("text"))
          .localCheckpoint()
      val hc = spark.sparkContext.hadoopConfiguration
      val oldBlock = hc.get("parquet.block.size")
      hc.setInt("parquet.block.size", 64 << 10)
      try {
        for (r <- Seq(1, 10, 40, 200)) {
          val docs = corpus(r)
          val nDocs = docs.count()
          val valIds = docs.filter(col("doc_id") % r === 0 &&
              col("doc_id") < lit(50L) * r)
            .select("doc_id").localCheckpoint()
          val root = java.nio.file.Files
            .createTempDirectory(s"graft_probe_ndg_$r").toString
          try {
            ProbeTiming.timed("PROBE_SCALE", s"ndguard/corpus${r}x build") {
              Dedup.writeNearDupIndex(docs, "doc_id", "text",
                shingleN = 2, k = 64, bands = 32, dir = root + "/idx")
            }
            def wall(f: => Long): (Double, Long) = {
              f; val t0 = System.nanoTime(); val n = f
              ((System.nanoTime() - t0) / 1e9, n)
            }
            def leaked(df: DataFrame): Long =
              df.filter(col("is_leaked")).count()
            val (prunedW, prunedN) = wall(leaked(
              Dedup.splitLeakageIndexed(spark, root + "/idx", valIds,
                "doc_id", 0.5, pruneMinStoreBytes = 0L)))
            val (scanW, scanN) = wall(leaked(
              Dedup.splitLeakageIndexed(spark, root + "/idx", valIds,
                "doc_id", 0.5, pruneMinStoreBytes = Long.MaxValue)))
            val (dataW, dataN) = wall(leaked(
              Dedup.splitLeakage(docs, "doc_id", "text",
                id => id % r === 0 && id < lit(50L) * r,
                shingleN = 2, k = 64, bands = 32, threshold = 0.5)))
            require(prunedN == dataN && scanN == dataN,
              s"parity broke: pruned=$prunedN scan=$scanN data=$dataN")
            // the scan-volume argument independent of wall noise: the
            // train-bands relation the pruned plan joins (rows whose
            // band_hash collides with a val band) vs the whole bands
            // table the scan-join reads — the former tracks the VAL
            // side, the latter the corpus
            val bandsAll = spark.read.parquet(root + "/idx/bands")
            val bandsTotal = bandsAll.count()
            val valHashes = bandsAll
              .join(valIds.select(col("doc_id").as("doc")), Seq("doc"),
                "semi")
              .select("band_hash").distinct()
            val bandsPruned = bandsAll
              .join(valHashes, Seq("band_hash"), "semi").count()
            println(f"PROBE_SCALE ndguard/corpus${r}x docs=$nDocs " +
              f"val=50 leaked=$dataN bands_total=$bandsTotal " +
              f"bands_colliding=$bandsPruned pruned=$prunedW%.2fs " +
              f"scanjoin=$scanW%.2fs dataflow=$dataW%.2fs")
          } finally Scratch.deleteRecursively(new java.io.File(root))
          org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(valIds)
          org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(docs)
        }
      } finally {
        if (oldBlock == null) hc.unset("parquet.block.size")
        else hc.set("parquet.block.size", oldBlock)
      }
    }

    // ── `ProbeScale foldcc`: the fold-at-ingest label claim
    // measured — a micro-batch needs component labels for ITS docs
    // only, so per-batch cost must track the batch's neighborhood
    // (componentGroupsBounded: frontier expansion + induced-subgraph
    // CC) rather than re-running CC over everything seen
    // (componentGroups — q205's full form, the cheaper plan only at
    // small scale). Corpus = sf0.01 documents replica-amplified with
    // replica-unique token bodies (the ndguard trick: replicas share
    // no shingles) and 3-doc ckey groups; batch = 20 fresh docs
    // copying rep-0 texts (real near-dup edges into the corpus).
    // Docs + pairs live as parquet (the at-rest posture both
    // regimes read); labels asserted identical per regime. ──
    if (mode == "foldcc") {
      val base = Tables(spark, "/root/testdata/sf0.01", "documents")
        .select(col("doc_id"), col("text"))
      for (r <- Seq(1, 10, 40, 200)) {
        val corpus = base.crossJoin(spark.range(r).toDF("rep"))
          .select((col("doc_id") * r + col("rep")).as("doc_id"),
            when(col("rep") === 0, col("text"))
              .otherwise(expr("""array_join(transform(
                split(text, ' '), t -> concat(t, '_', rep)), ' ')"""))
              .as("text"))
        val batch = base.filter(col("doc_id") < 20)
          .select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
        val seen = corpus.unionByName(batch)
          .withColumn("ckey",
            expr("concat('k', CAST(doc_id div 3 AS STRING))"))
          .localCheckpoint()
        val nDocs = seen.count()
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_fcc_$r").toString
        try {
          ProbeTiming.timed("PROBE_SCALE", s"foldcc/corpus${r}x pairs") {
            Dedup.writePairStore(seen, "doc_id", "text",
              root + "/pairs", shingleN = 2, k = 64, bands = 32,
              threshold = 0.5)
          }
          seen.select("doc_id", "ckey")
            .write.parquet(root + "/docs")
          val docsAt = spark.read.parquet(root + "/docs")
          val pairsAt = spark.read.parquet(root + "/pairs/pairs")
            .select(col("doc_a"), col("doc_b"))
          val nPairs = pairsAt.count()
          val batchIds = batch.select(col("doc_id")).localCheckpoint()
          def labelsOf(df: DataFrame): Map[Long, Long] = df
            .join(batchIds, Seq("doc_id"), "semi")
            .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
          def wall[T](f: => T): (Double, T) = {
            f; val t0 = System.nanoTime(); val v = f
            ((System.nanoTime() - t0) / 1e9, v)
          }
          val (fullW, fullL) = wall(labelsOf(
            Dedup.componentGroups(docsAt, "doc_id", col("ckey"),
              pairsAt)))
          val (bndW, bndL) = wall(labelsOf(
            Dedup.componentGroupsBounded(docsAt, "doc_id",
              col("ckey"), pairsAt, batchIds)))
          require(bndL == fullL,
            s"label parity broke at ${r}x: $bndL vs $fullL")
          println(f"PROBE_SCALE foldcc/corpus${r}x docs=$nDocs " +
            f"pairs=$nPairs batch=20 full=$fullW%.2fs " +
            f"bounded=$bndW%.2fs")
        } finally Scratch.deleteRecursively(new java.io.File(root))
        org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(seen)
      }
    }

    // ── `ProbeScale foldlabel`: the persisted union-find label
    // store's claim measured against the incumbent bounded-CC
    // regime — per-batch labeling as a POINT LOOKUP + driver-side
    // merge (LabelStore.update: three pushed-predicate store reads,
    // zero CC rounds) vs componentGroupsBounded's frontier-fixpoint
    // walk (flat but floored at its per-round scheduler cost —
    // ProbeScale foldcc). Same corpus/batch construction as foldcc;
    // the pair-store build and the one-time label bootstrap are
    // billed separately (the prepareSharedStores convention); the
    // update path is warmed on a throwaway batch (the twice-run JIT
    // convention, adapted to a mutating operator); batch labels
    // asserted identical across store and bounded CC. ──
    if (mode == "foldlabel") {
      import graft.operators.LabelStore
      val base = Tables(spark, "/root/testdata/sf0.01", "documents")
        .select(col("doc_id"), col("text"))
      for (r <- Seq(1, 10, 40, 200)) {
        val corpus = base.crossJoin(spark.range(r).toDF("rep"))
          .select((col("doc_id") * r + col("rep")).as("doc_id"),
            when(col("rep") === 0, col("text"))
              .otherwise(expr("""array_join(transform(
                split(text, ' '), t -> concat(t, '_', rep)), ' ')"""))
              .as("text"))
        val batch = base.filter(col("doc_id") < 20)
          .select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
        val seen = corpus.unionByName(batch)
          .withColumn("ckey",
            expr("concat('k', CAST(doc_id div 3 AS STRING))"))
          .localCheckpoint()
        val nDocs = seen.count()
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_fl_$r").toString
        try {
          ProbeTiming.timed("PROBE_SCALE",
              s"foldlabel/corpus${r}x pairs") {
            Dedup.writePairStore(seen, "doc_id", "text",
              root + "/pairs", shingleN = 2, k = 64, bands = 32,
              threshold = 0.5)
          }
          seen.select("doc_id", "ckey")
            .write.parquet(root + "/docs")
          val docsAt = spark.read.parquet(root + "/docs")
          val pairsAt = spark.read.parquet(root + "/pairs/pairs")
            .select(col("doc_a"), col("doc_b"))
          val nPairs = pairsAt.count()
          val batchIds = batch.select(col("doc_id")).localCheckpoint()
          val batchDocs = docsAt.join(batchIds, Seq("doc_id"), "semi")
            .localCheckpoint()
          val corpusDocs = docsAt.join(batchIds, Seq("doc_id"), "anti")
          val aIds = batchIds.withColumnRenamed("doc_id", "doc_a")
          val bIds = batchIds.withColumnRenamed("doc_id", "doc_b")
          val batchPairs = pairsAt.join(aIds, Seq("doc_a"), "semi")
            .unionByName(pairsAt.join(bIds, Seq("doc_b"), "semi"))
            .distinct().localCheckpoint()
          val corpusPairs = pairsAt.join(aIds, Seq("doc_a"), "anti")
            .join(bIds, Seq("doc_b"), "anti")
          ProbeTiming.timed("PROBE_SCALE",
              s"foldlabel/corpus${r}x bootstrap") {
            LabelStore.bootstrap(spark, root + "/labels", corpusDocs,
              "doc_id", col("ckey"), corpusPairs)
          }
          val warmDocs = spark.range(5)
            .select((col("id") + 8000000L).as("doc_id"),
              concat(lit("w"), col("id")).as("ckey"))
          LabelStore.update(spark, root + "/labels", warmDocs,
            "doc_id", "ckey", pairsAt.limit(0), "warm")
          val t0 = System.nanoTime()
          LabelStore.update(spark, root + "/labels", batchDocs,
            "doc_id", "ckey", batchPairs, "b0")
          val storeW = (System.nanoTime() - t0) / 1e9
          def labelsOf(df: DataFrame): Map[Long, Long] = df
            .join(batchIds, Seq("doc_id"), "semi")
            .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
          def wall[T](f: => T): (Double, T) = {
            f; val s0 = System.nanoTime(); val v = f
            ((System.nanoTime() - s0) / 1e9, v)
          }
          val storeL = labelsOf(
            LabelStore.lookup(spark, root + "/labels", batchIds))
          val (bndW, bndL) = wall(labelsOf(
            Dedup.componentGroupsBounded(docsAt, "doc_id",
              col("ckey"), pairsAt, batchIds)))
          require(storeL == bndL,
            s"label parity broke at ${r}x: $storeL vs $bndL")
          println(f"PROBE_SCALE foldlabel/corpus${r}x docs=$nDocs " +
            f"pairs=$nPairs batch=20 bounded=$bndW%.2fs " +
            f"labelstore=$storeW%.2fs")
        } finally Scratch.deleteRecursively(new java.io.File(root))
        org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(seen)
      }
    }

    // ── `ProbeScale folddrift`: the fold-drift LIFECYCLE's growth
    // story as the LANDED MANIFEST grows (the foldcc/foldlabel
    // probes grow the corpus; this grows the history the drift leg
    // and refold read). Per scale: a fold store seeded with N
    // manifest rows across P sealed batch partitions (singleton
    // components, label store pre-bootstrapped), then ONE 20-doc
    // near-dup batch streamed through componentFoldIngest with the
    // drift monitor on — fold_drift[b0] read from Phases under BOTH
    // regimes (gate sentinel MaxValue = full manifest scan, 0 =
    // touched-member isin pushed into the prior read) — and one
    // gated `refold` (half the batch ids are SMALLER than their
    // partners, so labels genuinely move and the rewrite + leakage
    // re-measure leg runs). Drift rows asserted equal across
    // regimes. ──
    if (mode == "folddrift") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.operators.LabelStore
      import graft.streaming.Streams
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      def foldOf(h: org.apache.spark.sql.Column) =
        graft.operators.Relational.foldOf(h)
      def seed(root: String, n: Long, parts: Int): Unit = {
        val docs = spark.range(n)
          .select(col("id").as("doc_id"),
            concat(lit("c"), col("id")).as("ckey"), lit("s").as("source"))
          .localCheckpoint()
        val texts = docs.select(col("doc_id"),
          concat(lit("t"), col("doc_id"), lit("a t"), col("doc_id"),
            lit("b w"), col("doc_id") % 50).as("text"))
        docs.write.parquet(root + "/store/docs/docs")
        Dedup.writePairStore(texts.limit(0), "doc_id", "text",
          root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
          threshold = 0.5)
        ProbeTiming.timed("PROBE_SCALE", s"folddrift index n=$n") {
          Dedup.writeNearDupIndex(texts, "doc_id", "text",
            shingleN = 2, k = 64, bands = 32,
            dir = root + "/store/index")
        }
        ProbeTiming.timed("PROBE_SCALE", s"folddrift bootstrap n=$n") {
          LabelStore.bootstrap(spark, root + "/store/labels", docs,
            "doc_id", col("ckey"),
            spark.read.parquet(root + "/store/pairs/pairs")
              .select(col("doc_a"), col("doc_b")))
        }
        // landed manifests: one row per doc, NEGATIVE batch ids so
        // the stream's batch 0 reads them all as prior
        docs.select(col("doc_id"), col("source"),
            col("doc_id").as("group"),
            foldOf(graft.functions.hashes
              .md5Hash60(col("doc_id").cast("string")) % 10)
              .as("split"),
            foldOf(graft.functions.hashes
              .md5Hash60(col("doc_id").cast("string")) % 10)
              .as("dsplit"),
            lit(false).as("inherited"),
            (-(col("doc_id") % parts) - 1).as("batch_id"))
          // ONE file per landed partition (a compacted manifest —
          // the un-repartitioned write leaves 32 files per dir and
          // the drift read's cost becomes pure file listing)
          .repartition(col("batch_id"))
          .write.partitionBy("batch_id").parquet(root + "/out")
      }
      def oneBatch(root: String, n: Long, gate: Long): Double = {
        // 20 copies of spread-out partners; HALF get ids smaller
        // than any partner (negative), so their components' min
        // labels move — real drift for the refold leg
        val batch = (0 until 20).map { i =>
          val partner = (i.toLong * 37L) % n
          val id = if (i % 2 == 0) -(i.toLong + 1) else 9000000L + i
          (id, s"b$i", "s",
            s"t${partner}a t${partner}b w${partner % 50}")
        }
        val input = MemoryStream[(Long, String, String, String)]
        graft.Phases.drain()
        val q = Streams.componentFoldIngest(
          input.toDF().toDF("doc_id", "ckey", "source", "text"),
          "doc_id", "text", "ckey", "source", root + "/store",
          root + "/out", root + "/ckpt", shingleN = 2, k = 64,
          bands = 32, threshold = 0.5,
          boundedCcMinStoreBytes = gate,
          driftDir = Some(root + "/drift"))
        try { input.addData(batch: _*); q.processAllAvailable() }
        finally q.stop()
        graft.Phases.drain().collectFirst {
          case (name, sec) if name.startsWith("fold_drift") => sec
        }.getOrElse(-1.0)
      }
      // strip first-use codegen/JIT before the measured scales
      locally {
        val warm = java.nio.file.Files
          .createTempDirectory("graft_probe_fdw_").toString
        try { seed(warm, 200L, 2); oneBatch(warm, 200L, 0L); () }
        finally Scratch.deleteRecursively(new java.io.File(warm))
      }
      for (r <- Seq(1, 10, 100)) {
        val n = 2000L * r
        val parts = 10 * r
        val roots = Seq("scan" -> Long.MaxValue, "pruned" -> 0L).map {
          case (tag, gate) =>
            val root = java.nio.file.Files
              .createTempDirectory(s"graft_probe_fd_${tag}_$r").toString
            seed(root, n, parts)
            (tag, gate, root)
        }
        val walls = roots.map { case (tag, gate, root) =>
          tag -> oneBatch(root, n, gate) }.toMap
        val driftRows = roots.map { case (_, _, root) =>
          spark.read.parquet(root + "/drift")
            .select("doc_id", "old_split", "new_split", "drifted")
            .collect().map(_.toSeq).toSet
        }
        require(driftRows(0) == driftRows(1),
          s"drift regime parity broke at ${r}x")
        val nDrift = driftRows.head.size
        val nMoved = driftRows.head.count(_(3) == true)
        // refold on the pruned root: the gated rewrite + the
        // leakage re-measure leg (the full repair wall)
        val t0 = System.nanoTime()
        val lines = graft.Main.run(spark,
          Seq("refold", roots(1)._3 + "/store", roots(1)._3 + "/out"))
        val refoldW = (System.nanoTime() - t0) / 1e9
        require(lines.exists(_.contains("rewritten")),
          s"refold did not rewrite at ${r}x: $lines")
        require(lines.exists(_.contains("repair verified")),
          s"refold re-measure missing at ${r}x: $lines")
        println(f"PROBE_SCALE folddrift/manifest${r}x rows=$n " +
          f"parts=$parts drift_rows=$nDrift moved=$nMoved " +
          f"drift_scan=${walls("scan")}%.2fs " +
          f"drift_pruned=${walls("pruned")}%.2fs refold=$refoldW%.2fs")
        roots.foreach { case (_, _, root) =>
          Scratch.deleteRecursively(new java.io.File(root)) }
      }
    }

    // ── `ProbeScale mmingest`: the q211 composition's per-batch
    // cost as the at-rest fingerprint store grows — the pair-grain
    // phash mark (phashPairsAgainst, the edge feed) + the label
    // store merge, on a PRODUCTION-shaped sparse store (random
    // 64-bit fingerprints: no accidental within-radius pairs, so
    // batch pair volume is exactly the planted near-dups and stays
    // flat as the store grows 100×). The q211 gate query itself runs
    // on the adversarial dup-dense fixture (50-pattern cliques, the
    // q178/q179 defense) — THIS measures the steady-state shape.
    // Pair sets asserted = the planted set at every scale; labels
    // asserted equal across scan/pruned regimes. ──
    if (mode == "mmingest") {
      import graft.operators.LabelStore
      for (r <- Seq(1, 10, 100)) {
        val n = 2000L * r
        val stored = spark.range(n)
          .select(col("id").as("doc"),
            xxhash64(col("id"), lit("mm")).as("fp"))
          .localCheckpoint()
        // batch: 10 near-dups of spread-out stored docs (2 bit
        // flips — inside radius 4) + 10 fresh random fingerprints
        val batch = spark.range(10)
          .select((col("id") + 9000000L).as("doc"),
            (xxhash64((col("id") * 37L) % n, lit("mm"))
              .bitwiseXOR(lit(3L))).as("fp"))
          .unionByName(spark.range(10)
            .select((col("id") + 9500000L).as("doc"),
              xxhash64(col("id"), lit("fresh")).as("fp")))
          .localCheckpoint()
        val expected = (0 until 10).map { i =>
          val partner = (i.toLong * 37L) % n
          (math.min(partner, 9000000L + i),
            math.max(partner, 9000000L + i))
        }.toSet
        def run(tag: String, gate: Long): (Double, Double) = {
          val root = java.nio.file.Files
            .createTempDirectory(s"graft_probe_mm_${tag}_$r").toString
          try {
            Dedup.writePhashIndex(stored, root + "/index",
              radius = 4, width = 64, blocks = Some(8), keyBlocks = 1)
            // warm the code paths on a throwaway store (JIT strip)
            val t0 = System.nanoTime()
            val pairs = Dedup.phashPairsAgainst(spark, batch,
              root + "/index", radius = 4, width = 64,
              blocks = Some(8), keyBlocks = 1,
              pruneMinStoreBytes = gate)
            val got = pairs.select(col("doc_a"), col("doc_b"))
              .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
            val markW = (System.nanoTime() - t0) / 1e9
            require(got == expected,
              s"mmingest pairs broke at ${r}x/$tag: $got")
            val t1 = System.nanoTime()
            LabelStore.update(spark, root + "/labels",
              batch.select(col("doc"),
                lit(null).cast("string").as("k")),
              "doc", "k", pairs, "b0")
            val updW = (System.nanoTime() - t1) / 1e9
            (markW, updW)
          } finally Scratch.deleteRecursively(new java.io.File(root))
        }
        run("warm", Long.MaxValue) // JIT/codegen strip
        val (scanM, scanU) = run("scan", Long.MaxValue)
        val (pruneM, pruneU) = run("pruned", 0L)
        println(f"PROBE_SCALE mmingest/store${r}x stored=$n batch=20 " +
          f"pairs=${expected.size} mark_scan=$scanM%.2fs " +
          f"mark_pruned=$pruneM%.2fs update_scan=$scanU%.2fs " +
          f"update_pruned=$pruneU%.2fs")
      }
    }

    // ── `ProbeScale mmbatch`: the at-ingest manifest's PER-BATCH
    // FIXED cost along the axes `mmingest` does not vary — batch
    // COUNT (many small crawl batches vs few large, constant total
    // docs) and MODALITY count. Each (modality, batch) pays lease
    // acquisitions, a label-store update (three pushed store reads
    // + a sealed append), the keys/items seal, and the batch's
    // delta-leg derivation — costs independent of batch SIZE, so
    // they dominate exactly when a pipeline runs fine-grained
    // batches. The table prices that tradeoff (PLANS.md). ──
    if (mode == "mmbatch") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      import spark.implicits._
      val D = 240
      val docRows = (0 until D).map(i =>
        (i.toLong, s"c$i", "s", 10L + i % 7, 5L + i % 11))
      def run(nBatches: Int, nMod: Int): Double = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_mb_${nBatches}_$nMod")
          .toString
        val mediaOf = (bs: SparkSession, b: DataFrame) => {
          val ids = b.select(col("doc_id")).localCheckpoint()
          (0 until nMod).map { m =>
            (s"mod$m",
              ids.select(col("doc_id").as("doc"),
                xxhash64(col("doc_id"), lit(m)).as("fp"),
                col("doc_id").as("owner")),
              (c: org.apache.spark.sql.Column) => c)
          }
        }
        val input = MemoryStream[(Long, String, String, Long, Long)]
        val q = graft.streaming.Streams.modalityManifestIngest(
          input.toDF().toDF("doc_id", "canon", "source", "n_chars",
            "toks"),
          "doc_id", "canon", "source", "n_chars", "toks", mediaOf,
          root, s"$root/ckpt", radius = 4, width = 64, blocks = 8,
          keyBlocks = 1,
          foldOf10 = h => graft.operators.Relational.foldOf(h % 10))
        val per = D / nBatches
        val t0 = System.nanoTime()
        try (0 until nBatches).foreach { k =>
          input.addData(docRows.filter(r =>
            math.min((r._1 / per).toInt, nBatches - 1) == k): _*)
          q.processAllAvailable()
        } finally q.stop()
        val w = (System.nanoTime() - t0) / 1e9
        val manifest = graft.streaming.Streams
          .modalityManifestFromDeltas(spark, root, "source")
        require(manifest.agg(sum(col("n_items"))).collect()(0)
            .getLong(0) == D.toLong * (nMod + 1),
          s"mmbatch items broke at b$nBatches m$nMod")
        Scratch.deleteRecursively(new java.io.File(root))
        w
      }
      run(2, 3) // JIT/codegen strip
      for (nb <- Seq(1, 4, 16); nm <- Seq(1, 3, 6)) {
        val w = run(nb, nm)
        println(f"PROBE_SCALE mmbatch/b${nb}m$nm docs=$D " +
          f"batches=$nb modalities=$nm wall=$w%.2fs " +
          f"per_batch=${w / nb}%.2fs")
      }
    }

    // ── `ProbeScale prepbatch`: the training-prep ingest's
    // per-batch FIXED cost vs batch grain (the mmbatch table's
    // sibling for the text capstone): constant total docs, batch
    // count varies — each batch pays the pair-store mark, the
    // label-store update, the flags scoring seal and the delta-leg
    // derivation regardless of batch size. ──
    if (mode == "prepbatch") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      import spark.implicits._
      val D = 240
      // every 8th doc an exact twin of its predecessor, every 16th
      // a near-dup — real flip work in every batch split
      val docRows = (0 until D).map { i =>
        val base = (1 to 10).map(j => s"w${(i / 8) * 10 + j}")
          .mkString(" ")
        val txt =
          if (i % 8 == 7) base
          else if (i % 16 == 14) base + " x1 x2"
          else base + s" u$i"
        (i.toLong, s"s${i % 4}", txt)
      }
      val evalDocs = Seq((9999L, "e1 e2 e3 e4 e5 e6"))
        .toDF("doc_id", "text")
      def run(nBatches: Int): Double = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_pb_$nBatches").toString
        val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
        Dedup.writeNearDupIndex(empty, "doc_id", "text",
          shingleN = 2, k = 64, bands = 32, dir = s"$root/index")
        Dedup.writePairStore(empty, "doc_id", "text", s"$root/pairs",
          shingleN = 2, k = 64, bands = 32, threshold = 0.5)
        val input = MemoryStream[(Long, String, String)]
        val q = graft.streaming.Streams.trainingPrepIngest(
          input.toDF().toDF("doc_id", "source", "text"),
          "doc_id", "text", "source", evalDocs, root,
          s"$root/ckpt", shingleN = 2, k = 64, bands = 32,
          threshold = 0.5)
        val per = D / nBatches
        val t0 = System.nanoTime()
        try (0 until nBatches).foreach { k =>
          input.addData(docRows.filter(r =>
            math.min((r._1 / per).toInt, nBatches - 1) == k): _*)
          q.processAllAvailable()
        } finally q.stop()
        val w = (System.nanoTime() - t0) / 1e9
        val rep = graft.streaming.Streams
          .trainingPrepReportFromDeltas(spark, root, "source",
            budgetTokens = 1000000L)
        require(rep.agg(sum(col("n_raw"))).collect()(0)
            .getLong(0) == D.toLong,
          s"prepbatch raw count broke at b$nBatches")
        Scratch.deleteRecursively(new java.io.File(root))
        w
      }
      run(2) // JIT/codegen strip
      for (nb <- Seq(1, 4, 16)) {
        val w = run(nb)
        println(f"PROBE_SCALE prepbatch/b$nb docs=$D batches=$nb " +
          f"wall=$w%.2fs per_batch=${w / nb}%.2fs")
      }
    }

    // ── `ProbeScale prepgrow`: the prep DELTA LEG vs STORE GROWTH
    // — prepbatch priced batch grain at constant store size; this
    // one holds the streamed batch fixed (240 docs) and grows the
    // at-rest store 1×/10×/100× underneath it (built through
    // trainingPrepBootstrap — the attach path), then times the ONE
    // next streamed batch with the delta leg's share attributed
    // from its phase tag. The claim under test (r18 verdict): the
    // delta derivation's keyMin(flagsAll, …) and membersIn inputs
    // are semi-joins that READ the full flags/labels tables per
    // batch, so its wall would grow with the corpus even though
    // every aggregate is bounded by the batch's touched state. ──
    if (mode == "prepgrow") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      import spark.implicits._
      val B = 240
      // the prepbatch fixture shape, parameterized by id: every 8th
      // doc an exact twin of its predecessor, every 16th a near-dup
      def mk(i: Long): (Long, String, String) = {
        val base = (1 to 10).map(j => s"w${(i / 8) * 10 + j}")
          .mkString(" ")
        val txt =
          if (i % 8 == 7) base
          else if (i % 16 == 14) base + " x1 x2"
          else base + s" u$i"
        (i, s"s${i % 4}", txt)
      }
      val evalDocs = Seq((999999L, "e1 e2 e3 e4 e5 e6"))
        .toDF("doc_id", "text")
      def run(grow: Int): (Double, Double, Double) = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_pg_$grow").toString
        val corpus = (0L until grow.toLong * B).map(mk)
        graft.streaming.Streams.trainingPrepBootstrap(
          corpus.toDF("doc_id", "source", "text"), "doc_id", "text",
          "source", evalDocs, root, shingleN = 2, k = 64,
          bands = 32, threshold = 0.5)
        val batch = (grow.toLong * B until grow.toLong * B + B).map(mk)
        val input = MemoryStream[(Long, String, String)]
        // pushed store reads FORCED (sentinel 0): the probe prices
        // the AT-SCALE plan — the sub-gate semi-join form is already
        // flat by the r18 measurements
        val q = graft.streaming.Streams.trainingPrepIngest(
          input.toDF().toDF("doc_id", "source", "text"),
          "doc_id", "text", "source", evalDocs, root,
          s"$root/ckpt", shingleN = 2, k = 64, bands = 32,
          threshold = 0.5, pushMinStoreBytes = 0L)
        Phases.drain() // bootstrap phases are not the batch's
        val t0 = System.nanoTime()
        try { input.addData(batch: _*); q.processAllAvailable() }
        finally q.stop()
        val w = (System.nanoTime() - t0) / 1e9
        val ph = Phases.drain()
        def phase(p: String): Double =
          ph.filter(_._1.startsWith(p)).map(_._2).sum
        val rep = graft.streaming.Streams
          .trainingPrepReportFromDeltas(spark, root, "source",
            budgetTokens = 1000000L)
        require(rep.agg(sum(col("n_raw"))).collect()(0)
            .getLong(0) == (grow.toLong + 1L) * B,
          s"prepgrow raw count broke at g$grow")
        Scratch.deleteRecursively(new java.io.File(root))
        (w, phase("prep_ingest"), phase("prep_deltas"))
      }
      run(1) // JIT/codegen strip
      for (g <- Seq(1, 10, 100)) {
        val (w, ing, del) = run(g)
        println(f"PROBE_SCALE prepgrow/g$g store_docs=${g * B} " +
          f"batch_docs=$B wall=$w%.2fs ingest=$ing%.2fs " +
          f"delta_leg=$del%.2fs")
      }
    }

    // q157's two scale claims measured: per-round cost tracks the
    // EDGE LIST (pair-store grain, not corpus grain), and rounds
    // compose LINEARLY because ranks are localCheckpointed per round
    // (an unmaterialized loop would compound plans instead)
    if (mode == "centrality") {
      val base = Dedup.minhashNearDupPairs(
        Tables(spark, "/root/testdata/sf0.1", "documents"),
        "doc_id", "text", 2, 64, 32, 0.5)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      def replicatePairs(r: Int): DataFrame =
        base.crossJoin(spark.range(r).toDF("rep"))
          .select((col("doc_a") * r + col("rep")).as("doc_a"),
            (col("doc_b") * r + col("rep")).as("doc_b"))
          .localCheckpoint()
      def measureCentrality(tag: String, pairs: DataFrame,
          rounds: Int): Unit = {
        val nPairs = pairs.count()
        val t0 = System.nanoTime()
        val top = Dedup.dupCentrality(pairs, rounds, topK = 20)
          .collect()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"PROBE_SCALE centrality/$tag pairs=$nPairs " +
          f"rounds=$rounds top1_rank=${top.head.getLong(1)} " +
          f"wall=$wall%.2fs")
      }
      val big = replicatePairs(100)
      measureCentrality("1x_r3", base, 3)
      measureCentrality("10x_r3", replicatePairs(10), 3)
      measureCentrality("100x_r3", big, 3)
      measureCentrality("100x_r6", big, 6)
      measureCentrality("100x_r12", big, 12)
    }

    // q131's decision drivers: the dense path's pre-filter survivor
    // volume (what survives iub/min(sz) >= t into the exact re-score)
    // and the inverted-index emission sum Σ C(df,2) (what the sparse
    // path would shuffle) — in BOTH vocabulary regimes, because the
    // dense-vs-index choice flips exactly where shingle dfs stop
    // growing with the corpus
    if (mode == "containment") {
      def measureContainment(tag: String, docsIn: DataFrame,
          exactCount: Boolean): Unit = {
        import org.apache.spark.sql.graft.{Bridge, SortedLongIntersectCount}
        val docs = docsIn.select(col("doc_id"), col("text"))
        val n = docs.count()
        val sets = Dedup.shingleSets(docs, "doc_id", "text", 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // index emissions: Σ over shingles of C(df,2)
        val (idxEmit, idxMax, _) = bucketPairs(
          sets.select(col("doc"), explode(col("shingles")).as("s"))
            .select("s"))
        val (survivors, exact) = if (exactCount) {
          val hashed = sets.select(col("doc"),
            sort_array(transform(col("shingles"), s => xxhash64(s)))
              .as("hs"),
            size(col("shingles")).cast("long").as("sz"))
          val par = spark.sparkContext.defaultParallelism
          val a = hashed.repartition(par).toDF("doc_a", "hs_a", "sz_a")
          val b = hashed.toDF("doc_b", "hs_b", "sz_b")
          val surv = a.join(broadcast(b), col("doc_a") < col("doc_b"))
            .withColumn("iub", Bridge.column(SortedLongIntersectCount(
              Bridge.expression(col("hs_a")),
              Bridge.expression(col("hs_b")))))
            .filter(least(col("sz_a"), col("sz_b")) > 0 &&
              col("iub").cast("double") /
                least(col("sz_a"), col("sz_b")).cast("double") >= 0.9)
            .count()
          val ex = Dedup.containmentPairsDense(docs, "doc_id", "text",
            2, 0.9).count()
          (surv, ex)
        } else (-1L, -1L)
        sets.unpersist(blocking = false)
        // both CODE paths, walled (r11: the indexed form is now in
        // code, parity-specced — measure the decision, don't argue it)
        val (denseWall, idxWall, idxPairs) = if (exactCount) {
          val t0 = System.nanoTime()
          Dedup.containmentPairsDense(docs, "doc_id", "text", 2, 0.9)
            .count()
          val dw = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          val ip = Dedup.containmentPairsIndexed(docs, "doc_id", "text",
            2, 0.9).count()
          (dw, (System.nanoTime() - t1) / 1e9, ip)
        } else (-1.0, -1.0, -1L)
        println(f"PROBE_SCALE containment $tag n=$n " +
          f"total_pairs=${n * (n - 1) / 2} idx_emissions=$idxEmit " +
          f"idx_max_df=$idxMax pf_survivors=$survivors exact_pairs=$exact " +
          f"dense_wall=$denseWall%.2fs indexed_wall=$idxWall%.2fs " +
          f"indexed_pairs=$idxPairs")
      }
      measureContainment("sf0.01", Tables(spark, "/root/testdata/sf0.01",
        "documents"), exactCount = true)
      measureContainment("1x", docs01, exactCount = true)
      // 10x in both regimes: emission sums only — the dense exact
      // count at 50k docs is 1.25G merge ops, exactly the regime the
      // numbers below are meant to warn about
      measureContainment("10x_fixedvocab", resampleDocs(10),
        exactCount = false)
      measureContainment("10x_scaledvocab", resampleDocsScaledVocab(10),
        exactCount = false)
    }

    // q146/q147's scale claim measured: training is VOCABULARY-grain
    // (the pair-count stage touches Σ_w (|w|−1) rows over DISTINCT
    // words, not corpus tokens) — constant as a fixed-vocabulary
    // corpus grows, linear only when the vocabulary itself grows
    if (mode == "bpe") {
      def measureBpe(tag: String, docs: DataFrame): Unit = {
        val tok = docs.select(explode(text.tokens(col("text"))).as("w"))
        val nTok = tok.count()
        val vocab = tok.groupBy("w").agg(count(lit(1)).as("freq"))
          .filter(col("freq") >= 2)
        val r = vocab.agg(count(lit(1)),
          sum(length(col("w")) - 1)).head()
        println(s"PROBE_SCALE bpe $tag corpus_tokens=$nTok " +
          s"vocab_words=${r.getLong(0)} pair_stage_rows=${r.getLong(1)}")
      }
      measureBpe("sf0.01", Tables(spark, "/root/testdata/sf0.01",
        "documents"))
      measureBpe("1x", docs01)
      measureBpe("10x_fixedvocab", resampleDocs(10))
      measureBpe("10x_scaledvocab", resampleDocsScaledVocab(10))
    }

    if (mode == "ingest") {
      val docsBase = Tables(spark, "/root/testdata/sf0.1", "documents")
        .select(col("doc_id"), col("text"))
      // offset far above every store replica's id space (r*1e6): an
      // id collision would trip the ingest paths' same-doc-replay
      // interpretation and skew the 10x regime's pair volume
      val batch = docsBase.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nb = batch.count()
      for (r <- Seq(1, 4, 10)) {
        val store = (0 until r).map(k => docsBase.select(
          (col("doc_id") + k * 1000000L).as("doc_id"), col("text")))
          .reduce(_ unionByName _)
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_probe_ingest_$r").toString
        try {
          ProbeTiming.timed("PROBE_SCALE", s"ingest/store${r}x build") {
            Dedup.writeNearDupIndex(store, "doc_id", "text", 2, 64, 32,
              root + "/idx")
          }
          def mark(minBytes: Long): Double = {
            def run(): Double = {
              val t0 = System.nanoTime()
              Dedup.incrementalNearDupAgainst(spark, batch, "doc_id",
                "text", root + "/idx", 2, 64, 32, 0.5,
                pointFetchMinStoreBytes = minBytes).count()
              (System.nanoTime() - t0) / 1e9
            }
            run(); run() // warm second run
          }
          val scan = mark(Long.MaxValue)
          val fetch = mark(0L)
          println(f"PROBE_SCALE ingest/store${r}x batch=$nb " +
            f"scanjoin=$scan%.2fs pointfetch=$fetch%.2fs")
          // few-targets regime: a tiny batch whose candidate ids fit
          // parquet's In-pushdown threshold, where OR'd equality
          // filters actually skip row groups of the id-sorted store
          def markSmall(minBytes: Long): Double = {
            val small = batch.limit(4)
            def run(): Double = {
              val t0 = System.nanoTime()
              Dedup.incrementalNearDupAgainst(spark, small, "doc_id",
                "text", root + "/idx", 2, 64, 32, 0.5,
                pointFetchMinStoreBytes = minBytes).count()
              (System.nanoTime() - t0) / 1e9
            }
            run(); run()
          }
          println(f"PROBE_SCALE ingest-small/store${r}x batch=4 " +
            f"scanjoin=${markSmall(Long.MaxValue)}%.2fs " +
            f"pointfetch=${markSmall(0L)}%.2fs")
        } finally Scratch.deleteRecursively(new java.io.File(root))
      }
      batch.unpersist(blocking = false)
    }

    // ── `ProbeScale retrieval`: q122/q126/q127's cost drivers at
    // scale. The dataflow claim is "only posting-grain volume leaves
    // the scan" — measure the pruned posting count against the
    // body-grain token volume in BOTH growth regimes (DENSE: fixed
    // vocabulary, query-term dfs grow with the corpus → postings
    // linear; GROW: new content domains, old terms don't recur →
    // postings ~constant). The indexed claim is "a query batch reads
    // only its buckets' files" — measure store rows, the touched-file
    // fraction, and warm dataflow-vs-indexed query walls. ──
    if (mode == "retrieval") {
      val queries = Seq((1, "dup stream window"),
        (2, "vector query fast"), (3, "customer batch"))
      val allTerms = queries.flatMap(_._2.split(" ")).distinct
      def measureRetr(tag: String, docsIn: DataFrame): Unit = {
        val docs = docsIn.select(col("doc_id"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = docs.count()
        val toks = docs.select(explode(text.tokens(col("text"))).as("t"))
        val totalToks = toks.count()
        val prunedPostings = toks.filter(col("t").isin(allTerms: _*))
          .count()
        val root = java.nio.file.Files
          .createTempDirectory("graft_probe_retr_").toString
        try {
          val t0 = System.nanoTime()
          Retrieval.writePostingsIndex(docs, "doc_id", "text",
            root + "/idx", nBuckets = 64, numFiles = 8)
          val build = (System.nanoTime() - t0) / 1e9
          val store = spark.read.parquet(root + "/idx/postings")
          val storeRows = store.count()
          val buckets = allTerms.toDF("tok")
            .select(pmod(xxhash64(col("tok")), lit(64L)))
            .as[Long].collect().distinct.toSeq
          val touched = store.filter(col("bucket").isin(buckets: _*))
            .select(input_file_name()).distinct().count()
          val files = store.select(input_file_name()).distinct().count()
          def warmWall(f: () => Unit): Double = {
            f()
            val t = System.nanoTime(); f()
            (System.nanoTime() - t) / 1e9
          }
          val flowWall = warmWall(() =>
            Retrieval.bm25TopK(docs, "doc_id", "text", queries).count())
          val idxWall = warmWall(() =>
            Retrieval.bm25TopKIndexed(spark, root + "/idx", queries)
              .count())
          println(f"PROBE_SCALE retrieval/$tag n=$n " +
            f"corpus_tokens=$totalToks pruned_postings=$prunedPostings " +
            f"store_rows=$storeRows build=$build%.2fs " +
            f"files_touched=$touched/$files " +
            f"dataflow_wall=$flowWall%.2fs indexed_wall=$idxWall%.2fs")
        } finally {
          Scratch.deleteRecursively(new java.io.File(root))
          docs.unpersist(blocking = false)
        }
      }
      measureRetr("1x", docs01)
      for (r <- Seq(4, 10)) measureRetr(s"dense${r}x", resampleDocs(r))
      for (r <- Seq(4, 10))
        measureRetr(s"grow${r}x", resampleDocsScaledVocab(r))
    }
    spark.stop()
  }
}

/** Shared measurement fixtures — ONE definition of the planted
  * near-duplicate arithmetic, used by both [[ProbeRecall]] (the dev
  * sweep tabled in PLANS.md) and RecallSpec (the CI gate): if the
  * noise formula drifts, both the measurement and the gate move
  * together instead of silently decoupling. */
object ProbeFixtures {
  /** ±2% per-component deterministic noise: replicas are TRUE
    * near-duplicates of their base vector (cos ≈ 0.9998), so the
    * planted pair set is a known ground truth at any scale. vec 2b
    * and 2b+1 are the same base vector's two replicas (replicas=2). */
  def plantNearDups(spark: SparkSession, emb: DataFrame,
      replicas: Int): DataFrame =
    emb.crossJoin(spark.range(replicas).toDF("rep"))
      .select(
        (col("vec_id") * replicas + col("rep")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") * (lit(1.0) + lit(0.02) *
            ((pmod(xxhash64(col("vec_id"), col("rep"), i), lit(2001))
              - 1000).cast("double") / 1000.0))).cast("float"))
          .as("embedding"))
}

/** Measured RECALL vs brute force for the approximate ANN operators
  * (dev tool, companion to [[ProbeScale]]'s candidate-count sweeps):
  * candidate growth says the plans stay cheap as n grows; this
  * measures that they stay CORRECT ENOUGH — the other half of the
  * 100 TB story. One PROBE_RECALL line per (operator, scale):
  *
  *  - q54 (lshTopKAuto, k=5 neighbors/vector): recall@5 over a
  *    deterministic 500-probe sample against the exact per-probe
  *    top-5 (full-corpus broadcast scan per probe, tie order
  *    cos DESC, nb_id — identical on both sides);
  *  - q62 (lshNearDupPairsAuto, threshold 0.8): pair recall — found
  *    pairs over exact all-pairs ≥ threshold (the output is
  *    subset-exact, so recall IS the whole error). The natural
  *    fixtures have zero true pairs at 0.8, so the sweep PLANTS
  *    near-duplicates (replicas with ±2% per-component noise) and
  *    also reports the planted-only rate at 10× where full all-pairs
  *    is no longer worth the shuffle;
  *  - q42 (ivfTopK, 16 centroids, nProbe=4, k=10): mean recall@10
  *    over 20 probe queries vs bruteForceTopK;
  *  - q93 (AnnTopKToLshPrune defaults: 8 tables × 4 planes, seed
  *    93): mean recall@10 over the same 20 probes through the
  *    rewrite rule's bucket-collision prune.
  */
object ProbeRecall {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.cpus)
    import org.apache.spark.sql.expressions.Window

    val dim = 64

    // planting lives in ProbeFixtures (shared with RecallSpec's CI gate)
    def plantNearDups(emb: DataFrame, replicas: Int): DataFrame =
      ProbeFixtures.plantNearDups(spark, emb, replicas)

    // ProbeScale's ±50% spread (local density preserved, replicas
    // pushed apart) — the "corpus grew 10×" regime for q54/q42/q93
    def perturbEmb(emb: DataFrame, replicas: Int): DataFrame =
      emb.crossJoin(spark.range(replicas).toDF("rep"))
        .select(
          (col("vec_id") * replicas + col("rep")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") * (lit(1.0) + lit(0.5) *
              ((pmod(xxhash64(col("vec_id"), col("rep"), i), lit(2001))
                - 1000).cast("double") / 1000.0))).cast("float"))
            .as("embedding"))

    /** Exact top-k neighbor set for a deterministic probe sample:
      * probes broadcast against the full corpus, one pass. */
    def exactTopK(emb: DataFrame, probes: DataFrame, k: Int): DataFrame = {
      val p = probes.select(col("vec_id").as("p_id"),
        col("embedding").as("p_emb"))
      emb.crossJoin(broadcast(p))
        .filter(col("vec_id") =!= col("p_id"))
        .withColumn("cos", vectors.cosineFast(col("embedding"), col("p_emb")))
        .withColumn("rnk", row_number().over(Window.partitionBy("p_id")
          .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rnk") <= k)
        .select(col("p_id"), col("vec_id").as("nb_id"))
    }

    def recallTopK(op: String, tag: String, emb: DataFrame,
        approxDf: DataFrame): Unit = {
      val n = emb.count()
      val probeStep = math.max(1L, n / 500)
      val probes = emb.filter(pmod(col("vec_id"), lit(probeStep)) === 0)
      val exact = exactTopK(emb, probes, 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val truth = exact.count()
      val approx = approxDf.select(col("vec_id").as("p_id"), col("nb_id"))
      val hit = exact.join(approx, Seq("p_id", "nb_id"), "left_semi").count()
      exact.unpersist(blocking = false)
      println(f"PROBE_RECALL $op $tag n=$n probes=${truth / 5} " +
        f"recall@5=${hit.toDouble / truth}%.4f")
    }

    def recall54(tag: String, emb: DataFrame): Unit =
      recallTopK("q54", tag, emb,
        Similarity.lshTopKAuto(emb, seed = 77L, dim = dim, k = 5))

    def recall95(tag: String, emb: DataFrame): Unit =
      recallTopK("q95", tag, emb,
        Similarity.lshTopKMultiAuto(emb, seed = 95L, dim = dim, k = 5,
          simFloor = 0.9))

    /** The q95 CONTRACT measurement: plant one true ≥-floor neighbor
      * per vector (its ±2% replica, cos ≈ 0.9998) and measure the
      * fraction the multi-table search finds — this is the
      * lshTablesForRecall miss-rate claim applied to top-k. */
    def recall95Contract(tag: String, base: DataFrame): Unit = {
      val emb = plantNearDups(base, 2)
      val n = emb.count()
      val approx = Similarity.lshTopKMultiAuto(
        emb, seed = 95L, dim = dim, k = 5, simFloor = 0.9)
      // vec_id 2b and 2b+1 are the same base vector's two replicas
      val planted = emb.select(col("vec_id").as("p_id"))
        .filter(pmod(col("p_id"), lit(2)) === 0)
        .withColumn("nb_id", col("p_id") + 1)
      val hit = planted.join(
        approx.select(col("vec_id").as("p_id"), col("nb_id")),
        Seq("p_id", "nb_id"), "left_semi").count()
      val total = planted.count()
      println(f"PROBE_RECALL q95 ${tag}_contract n=$n planted=$total " +
        f"recall=${hit.toDouble / total}%.4f target_miss<=0.01")
    }

    /** Pair recall for the q62 path. `targetOccupancy` is the ONE
      * knob that trades per-table width against table count as n
      * grows: lshTablesForRecall holds miss ≤ 1% and FAILS LOUDLY
      * past maxTables (at n=10k the q62 defaults would need 105
      * tables — the documented contract), so larger sweeps raise the
      * occupancy exactly the way a production caller would. */
    def recall62(tag: String, emb: DataFrame, targetOccupancy: Int): Unit = {
      val n = emb.count()
      val found = Similarity.lshNearDupPairsAuto(
        emb, threshold = 0.8, seed = 2000L, dim = dim,
        targetOccupancy = targetOccupancy)
        .select("id_a", "id_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val foundN = found.count()
      // full brute-force ground truth: every pair at cos >= 0.8
      val t = Similarity.nearDupPairsExact(emb, 0.8).select("id_a", "id_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val trueN = t.count()
      val hit = t.join(found, Seq("id_a", "id_b"), "left_semi").count()
      found.unpersist(blocking = false)
      t.unpersist(blocking = false)
      val r = if (trueN == 0) Double.NaN else hit.toDouble / trueN
      println(f"PROBE_RECALL q62 $tag n=$n occupancy=$targetOccupancy " +
        f"true_pairs=$trueN found=$foundN recall=$r%.4f target_miss<=0.01")
    }

    def recallPointQueries(tag: String, emb: DataFrame): Unit = {
      val n = emb.count()
      val centroids = vectors.planeMatrix(seed = 7L, nPlanes = 16, dim = dim)
      val rewriteTables = (0 until 8).map(t =>
        vectors.planeMatrix(93L + t, 4, dim))
      // q100's at-rest representation: top-k ranked on DEQUANTIZED
      // int8 vectors — measures how much ranking the 4× compression
      // costs (expected: almost none)
      val deq = emb
        .withColumn("scale", vectors.quantizeScale(col("embedding")))
        .select(col("vec_id"), vectors.dequantizeInt8(
          vectors.quantizeInt8(col("embedding"), col("scale")),
          col("scale")).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var ivfHits = 0; var rewHits = 0; var quantHits = 0; var total = 0
      for (q <- 0 until 20) {
        val exact = Similarity.bruteForceTopK(emb, q.toLong, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val ivf = Similarity.ivfTopK(emb, centroids, q.toLong,
          nProbe = 4, k = 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val quant = Similarity.bruteForceTopK(deq, q.toLong, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val qv = emb.filter(col("vec_id") === q)
          .select("embedding").head.getSeq[Float](0)
        val pruned = rewriteTables.map(planes =>
          vectors.hyperplaneBucketFast(col("embedding"), planes) ===
            vectors.hyperplaneBucketFast(typedLit(qv), planes))
          .reduce(_ || _)
        val rew = emb.filter(col("vec_id") =!= q).filter(pruned)
          .orderBy(vectors.cosineFast(col("embedding"),
            typedLit(qv)).desc, col("vec_id"))
          .limit(10).select("vec_id").collect().map(_.getLong(0)).toSet
        ivfHits += (exact & ivf).size
        rewHits += (exact & rew).size
        quantHits += (exact & quant).size
        total += exact.size
      }
      println(f"PROBE_RECALL q42 $tag n=$n probes=20 " +
        f"recall@10=${ivfHits.toDouble / total}%.4f")
      println(f"PROBE_RECALL q93 $tag n=$n probes=20 " +
        f"recall@10=${rewHits.toDouble / total}%.4f")
      println(f"PROBE_RECALL q100 $tag n=$n probes=20 " +
        f"recall@10=${quantHits.toDouble / total}%.4f")
      deq.unpersist(blocking = false)
    }

    /** q97/q98: recall@5 of the stored-bucket layout scan as the
      * multi-probe radius grows — the files-vs-recall trade the
      * layout knob buys. Candidates are bucket-determined (Hamming
      * ball via bit_count(xor) ≤ radius, the q98 oracle's own form),
      * so the measurement runs on the raw table. */
    def recallLayoutProbe(tag: String, emb: DataFrame): Unit = {
      import org.apache.spark.sql.expressions.Window
      val n = emb.count()
      val nPlanes = Similarity.planesForSize(n)
      val planes = vectors.planeMatrix(97L, nPlanes, dim)
      val bucketed = emb.withColumn("bucket",
        vectors.hyperplaneBucketFast(col("embedding"), planes))
      val probeStep = math.max(1L, n / 100)
      val probes = bucketed.filter(pmod(col("vec_id"), lit(probeStep)) === 0)
        .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"),
          col("bucket").as("p_bucket"))
      val exact = exactTopK(emb, probes.select(
          col("p_id").as("vec_id"), col("p_emb").as("embedding")), 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val truth = exact.count()
      def comb(n: Int, k: Int): Long =
        (0 until k).foldLeft(1L)((acc, i) => acc * (n - i) / (i + 1))
      for (radius <- Seq(0, 1, 2)) {
        val cand = bucketed.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("p_id"))
          .filter(expr("bit_count(bucket ^ p_bucket)") <= radius)
          .withColumn("cos", vectors.cosineFast(col("embedding"), col("p_emb")))
          .withColumn("rnk", row_number().over(Window.partitionBy("p_id")
            .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rnk") <= 5)
          .select(col("p_id"), col("vec_id").as("nb_id"))
        val hit = exact.join(cand, Seq("p_id", "nb_id"), "left_semi").count()
        val bucketsRead = (0 to radius).map(r => comb(nPlanes, r)).sum
        println(f"PROBE_RECALL q98 ${tag}_radius$radius n=$n " +
          f"buckets_read=$bucketsRead/${1L << nPlanes} " +
          f"recall@5=${hit.toDouble / truth}%.4f")
      }
      exact.unpersist(blocking = false)
    }

    /** The q98/q101 CONTRACT measurement: plant one true ≥-floor
      * neighbor per vector (its ±2% replica, cos ≈ 0.9998) and
      * measure the fraction whose stored bucket lands within r bit
      * flips of its pair's — the multi-probe candidate decision
      * measured directly, at every radius up to the DERIVED one
      * (probeRadiusForRecall: floor 0.9, miss 0.15). RecallSpec pins
      * the same claim at sf0.001 in CI. */
    def recallProbeContract(tag: String, base: DataFrame): Unit = {
      val emb = plantNearDups(base, 2)
      val n = emb.count()
      val nPlanes = Similarity.planesForSize(n)
      val planes = vectors.planeMatrix(97L, nPlanes, dim)
      val b = emb.select(col("vec_id"),
        vectors.hyperplaneBucketFast(col("embedding"), planes).as("bucket"))
      val pairs = b.filter(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("vec_id"), col("bucket").as("b_a"))
        .join(b.select((col("vec_id") - 1).as("vec_id"),
          col("bucket").as("b_b")), "vec_id")
        .select(expr("bit_count(b_a ^ b_b)").as("dist"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = pairs.count()
      val derived = Similarity.probeRadiusForRecall(
        nPlanes, simFloor = 0.9, targetMiss = 0.15)
      for (radius <- 0 to math.min(nPlanes, derived + 1)) {
        val hit = pairs.filter(col("dist") <= radius).count()
        println(f"PROBE_RECALL q101 ${tag}_radius$radius n=$n " +
          f"planes=$nPlanes planted=$total " +
          f"recall=${hit.toDouble / total}%.4f " +
          f"derived_radius=$derived contract>=0.85@derived")
      }
      pairs.unpersist(blocking = false)
    }

    val emb001 = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val emb01 = Tables(spark, "/root/testdata/sf0.1", "embeddings")

    recallProbeContract("1x", emb001)
    recallProbeContract("10x", emb01)
    // `ProbeRecall q101` runs only the probe-contract sweep above
    // (the ProbeScale arg convention); no arg = everything
    if (args.headOption.contains("q101")) { spark.stop(); return }
    // q54/q42/q93/q95: 1× = the sf0.1 fixture (2,000 vectors);
    // 10× = 20,000 synthetic
    recall54("1x", emb01)
    recall54("10x", perturbEmb(emb01, 10))
    recall95("1x", emb01)
    recall95("10x", perturbEmb(emb01, 10))
    recall95Contract("1x", emb001)
    recall95Contract("10x", emb01)
    recallLayoutProbe("1x", emb01)
    // q62: planted near-dups (the natural fixtures have zero true
    // pairs at 0.8, so recall would be 0/0). 1× = sf0.01 base × 2
    // (1,000 vectors, q62's default occupancy holds the ≤1% miss
    // contract); 10× = sf0.1 base × 2 (10,000 vectors, occupancy
    // raised to 128 to stay within maxTables — the production knob)
    recall62("1x_planted", plantNearDups(emb001, 2), targetOccupancy = 32)
    recall62("10x_planted", plantNearDups(emb01, 2), targetOccupancy = 128)
    recallPointQueries("1x", emb01)
    recallPointQueries("10x", perturbEmb(emb01, 10))
    spark.stop()
  }
}
