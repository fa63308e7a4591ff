package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{hashes, text}

/** Corpus-statistics signals: per-document measures that need a pass
  * over the WHOLE corpus (document frequencies), unlike the pure
  * scan-time signals in graft.functions.text (quality ratios,
  * repetition, lang-id). The reference's tooling has no corpus-level
  * text statistics; this family covers the training-data-pipeline
  * side (OOV/rare-token filtering, IDF-style weighting inputs).
  */
object CorpusStats {

  /** Per-document rare-token counts against corpus document
    * frequency: how many of a document's DISTINCT tokens appear in at
    * most `maxDf` documents corpus-wide. High counts flag gibberish,
    * boilerplate IDs, or mojibake — the "too many out-of-vocabulary
    * tokens" quality cut — with integer-only arithmetic so the result
    * is exactly reproducible (no float IDF in the gate; callers can
    * derive ln(N/df) weights from the same `df` table).
    *
    * Scale shape: `array_distinct` runs BEFORE the explode, so the
    * (doc, token) stream is map-side-deduplicated without a shuffle;
    * the DF table is one hash aggregate on token (map-side partial
    * combine collapses each partition's vocabulary first); the join
    * back re-uses the token partitioning and AQE broadcasts the DF
    * table when the vocabulary is small. Three shuffles total —
    * tokens, join, per-doc aggregate — each on a high-cardinality
    * key, none carrying document bodies.
    *
    * Documents with zero tokens produce no output row (they have no
    * (doc, token) pairs); left-join from the corpus to re-attach them
    * if the downstream filter needs explicit zeros. */
  def rareTokenStats(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1: $maxDf")
    // the tokenize + explode pass feeds both the DF aggregate and the
    // join probe side — persist so it runs once (same pattern as
    // Dedup.ngramJaccardPairs); the per-doc result is materialized
    // before the cache is released
    val pairs = docs.select(
      col(idCol).as("doc"),
      explode(array_distinct(text.tokens(col(textCol)))).as("tok"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dfTab = pairs.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val out = pairs.join(dfTab, "tok")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("distinct_tokens"),
        sum(when(col("df") <= maxDf, 1L).otherwise(0L)).as("rare_tokens"))
      .localCheckpoint(eager = true)
    pairs.unpersist(blocking = false)
    out
  }

  /** Unigram language-model log-loss per document: train a Laplace-
    * smoothed unigram LM on the corpus itself, then score every
    * document by its mean negative log-likelihood — the cheap
    * perplexity-style quality signal (the KenLM-filter shape from the
    * CCNet pipeline, with the n-gram order cut to 1 so the model is
    * one aggregate). Low loss = tokens the corpus considers ordinary;
    * high loss = gibberish, mojibake, or off-distribution text.
    * p(tok) = (c(tok) + 1) / (N + V) with c = corpus count (0 for
    * out-of-vocabulary), N = total tokens, V = distinct tokens.
    * Returns the input plus `n_tok` and `nll` (null for empty docs).
    *
    * Scale shape (100 TB): the model build is ONE hash aggregate over
    * the token stream (map-side combine collapses each partition's
    * vocabulary first) reduced to a single broadcast row — vocabulary
    * grows ~log with corpus size, not linearly, and `maxVocab` fails
    * loudly if `minCount` is set so low the map would not broadcast.
    * Scoring is then a pure per-row fold over the token array against
    * the broadcast map: the corpus is scanned twice but NEVER
    * shuffled. The fold order is the token order, so the double sum
    * is deterministic (an exploded avg() would be partition-order
    * sensitive in the last ulp). */
  def unigramLogLoss(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long, maxVocab: Int = 4000000): DataFrame =
    unigramLogLossAgainst(docs, docs, idCol, textCol, minCount, maxVocab)

  /** [[unigramLogLoss]] with the TRAIN/SCORE split explicit: the
    * model trains on `train` and scores `score` — the cross-scoring
    * primitive behind reference-vs-proxy loss comparisons (q173
    * domain reweighting scores one corpus under two models). The
    * self-scored form is `unigramLogLoss(docs) =
    * unigramLogLossAgainst(docs, docs)`; all contracts above hold
    * with "the corpus" read as `train` for the model and `score` for
    * the scan. */
  def unigramLogLossAgainst(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String,
      minCount: Long, maxVocab: Int = 4000000): DataFrame = {
    val (lmBc, modelN) =
      unigramLmBroadcast(train, textCol, minCount, maxVocab)
    val toks = text.tokens(col(textCol))
    val nllSum = org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.UnigramNllSum(
        org.apache.spark.sql.graft.Bridge.expression(toks), lmBc))
    score
      .withColumn("n_tok", size(toks))
      .withColumn("nll",
        when(col("n_tok") === 0 || lit(modelN == 0.0),
          lit(null).cast("double"))
          .otherwise(nllSum / col("n_tok")))
  }

  /** The Laplace unigram model over `train`'s token stream as a
    * broadcast [[org.apache.spark.sql.graft.UnigramLm]] kernel (plus
    * its N, so callers can null-guard an empty model): one token
    * aggregate, (N, V) read from the FULL vocabulary by a bounded
    * 1-row lookup, stored entries only where c >= minCount (rare
    * tokens score ~like OOV anyway) collected under the `maxVocab`
    * loud guard — the bigramLogLoss convention, replacing the former
    * 1-row broadcast-MapType model: Catalyst's map `element_at` is a
    * LINEAR key scan per probe (the LmScore.scala measurement), so
    * the old fold paid O(vocab) per token across the whole
    * unigram-loss family; the HashMap kernel probes O(1) and scores
    * the same strict left-to-right double sum bit for bit
    * (CorpusStatsSpec hand-computed pins unchanged). Deliberately
    * NOT widenForCpu'd: the zero-corpus-shuffle contract is the
    * point, and the tokenize kernel measured LIGHTER than the
    * exchange it would add (isolated sf0.1 A/B: 1.8 s → 2.5 s
    * widened). Registered with [[releaseLmBroadcasts]] — callers
    * that materialize the scoring frame release the model. */
  private def unigramLmBroadcast(train: DataFrame, textCol: String,
      minCount: Long, maxVocab: Int)
      : (org.apache.spark.broadcast.Broadcast[
          org.apache.spark.sql.graft.UnigramLm], Double) = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val counts = train
      .select(explode(text.tokens(col(textCol))).as("_lm_tok"))
      .groupBy(col("_lm_tok")).agg(count(lit(1)).as("_lm_c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nv = counts.agg(
      coalesce(sum(col("_lm_c")), lit(0L)), count(lit(1))).head()
    val kept = counts.filter(col("_lm_c") >= minCount)
      .limit(maxVocab + 1).collect()
    counts.unpersist(blocking = false)
    require(kept.length <= maxVocab,
      s"unigramLogLoss: vocabulary exceeds $maxVocab " +
        s"(${kept.length}+) — raise minCount=$minCount for this corpus")
    val m = new java.util.HashMap[String, Long](kept.length * 2)
    kept.foreach(r => m.put(r.getString(0), r.getLong(1)))
    val n = nv.getLong(0).toDouble
    val bc = train.sparkSession.sparkContext.broadcast(
      new org.apache.spark.sql.graft.UnigramLm(m, n,
        nv.getLong(1).toDouble))
    liveLmBroadcasts.add((Thread.currentThread().getId, bc))
    (bc, n)
  }

  /** NS MIXING: DOMAIN REWEIGHTING BY EXCESS LOSS — one
    * multiplicative-weights step of the DoReMi recipe (Xie et al.
    * 2023), re-expressed with static unigram models: score every
    * document under a REFERENCE model (trained on `refFilter` rows
    * only) and under the FULL-corpus model, aggregate per domain, and
    * weight each domain by its clamped excess
    * `max(0, mean(nll_ref) − mean(nll_full))` — high excess = content
    * the full corpus models well but the reference slice cannot,
    * i.e. the domains that add the most information over the
    * reference. (DoReMi iterates this with trained proxies; this is
    * the data-engine primitive for one step — the loss oracle, the
    * per-domain aggregation, and the weight normalization.)
    *
    * Integer-exact surface (the repo convention): per-doc nll rounds
    * to 6 decimals and sums as DECIMAL(20,6); the per-domain excess
    * lands in integer MICRO units via an exact ×1e6 cast and
    * non-negative integer division by n_docs, and `weight_milli` is
    * `1000·excess_micro div Σ excess_micro` — floor division on
    * non-negative longs, bit-equal in Spark and DuckDB.
    *
    * Scale shape (100 TB): ONE token aggregate builds BOTH models
    * (per-token conditional counts — the reference slice is a corpus
    * subset, so a second tokenize+shuffle would recount the same
    * stream), then both models ride one projection over a SINGLE
    * scoring scan (scoring them separately would force a corpus-wide
    * join on the doc id to line the two losses up), one domain-grain
    * aggregate, and a broadcast 1-row total for the normalization —
    * the corpus is scanned exactly twice and never shuffles, no
    * global window, no driver-side loop. */
  def domainExcessWeights(docs: DataFrame, sourceCol: String,
      idCol: String, textCol: String, refFilter: Column,
      minCount: Long, maxVocab: Int = 4000000): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    // BOTH models from ONE token aggregate: the reference slice is a
    // subset of the corpus, so per-token (c_full, c_ref) conditional
    // counts in a single groupBy replace two separate model builds —
    // at 100 TB that is one fewer full-corpus tokenize+shuffle (the
    // corpus is now scanned twice total: models, then scoring). The
    // counts land in two broadcast UnigramLm kernels (the
    // unigramLmBroadcast convention — O(1) probes instead of the
    // MapType linear scan): (N, V) per model from one bounded 1-row
    // aggregate over the FULL vocabulary (V counts c >= 1), stored
    // entries where c >= minCount under the maxVocab loud guard
    // (c_ref <= c_full, so one filter bounds both maps).
    val toks0 = text.tokens(col(textCol))
    val perTok = docs
      .select(explode(toks0).as("_lm_tok"),
        when(refFilter, 1L).otherwise(0L).as("_lm_ref"))
      .groupBy(col("_lm_tok"))
      .agg(count(lit(1)).as("_c_full"), sum(col("_lm_ref")).as("_c_ref"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nv = perTok.agg(
      coalesce(sum(col("_c_full")), lit(0L)),
      count(lit(1)),
      coalesce(sum(col("_c_ref")), lit(0L)),
      count(when(col("_c_ref") >= 1, lit(1)))).head()
    val kept = perTok.filter(col("_c_full") >= minCount)
      .limit(maxVocab + 1).collect()
    perTok.unpersist(blocking = false)
    require(kept.length <= maxVocab,
      s"domainExcessWeights: vocabulary exceeds $maxVocab " +
        s"(${kept.length}+) — raise minCount=$minCount for this corpus")
    val mFull = new java.util.HashMap[String, Long](kept.length * 2)
    val mRef = new java.util.HashMap[String, Long](kept.length * 2)
    kept.foreach { r =>
      mFull.put(r.getString(0), r.getLong(1))
      if (r.getLong(2) >= minCount) mRef.put(r.getString(0), r.getLong(2))
    }
    val (nFull, nRef) = (nv.getLong(0).toDouble, nv.getLong(2).toDouble)
    val sc = docs.sparkSession.sparkContext
    val bcFull = sc.broadcast(new org.apache.spark.sql.graft.UnigramLm(
      mFull, nFull, nv.getLong(1).toDouble))
    val bcRef = sc.broadcast(new org.apache.spark.sql.graft.UnigramLm(
      mRef, nRef, nv.getLong(3).toDouble))
    liveLmBroadcasts.add((Thread.currentThread().getId, bcFull))
    liveLmBroadcasts.add((Thread.currentThread().getId, bcRef))
    // the N === 0 arm keeps the separate-build semantics for an EMPTY
    // model slice: an empty reference slice lands as N = V = 0.0 —
    // and -ln((0+1)/(0+0)) is -Infinity, which ANSI mode refuses to
    // cast to the decimal the domain sums use. NULL, not a crash.
    def meanNll(bc: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.sql.graft.UnigramLm], modelN: Double): Column = {
      val s = org.apache.spark.sql.graft.Bridge.column(
        org.apache.spark.sql.graft.UnigramNllSum(
          org.apache.spark.sql.graft.Bridge.expression(col("_dw_toks")),
          bc))
      when(col("_dw_n") === 0 || lit(modelN == 0.0),
        lit(null).cast("double"))
        .otherwise(s / col("_dw_n").cast("double"))
    }
    // widenForCpu: the scoring pass is now a pure per-row kernel over
    // a possibly one-split corpus scan (the former explode's exchange
    // used to widen the model side; the scoring side never had one) —
    // the q69 policy seam
    val scored = Relational.widenForCpu(docs, col(idCol))
      .withColumn("_dw_toks", toks0)
      .withColumn("_dw_n", size(col("_dw_toks")))
      .select(col(sourceCol),
        meanNll(bcRef, nRef).as("nll_ref"),
        meanNll(bcFull, nFull).as("nll_full"))
    val dom = scored
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(round(col("nll_ref"), 6).cast("decimal(20,6)")).as("_sr"),
        sum(round(col("nll_full"), 6).cast("decimal(20,6)")).as("_sf"))
      .withColumn("excess_micro",
        // `div`, not `/`: Spark's / on integers is DOUBLE division,
        // and the sums overflow a double's 53-bit mantissa long
        // before they overflow a BIGINT — integer floor division is
        // also exactly what DuckDB's // does on non-negatives
        when(col("_sr") > col("_sf"),
          expr("CAST((_sr - _sf) * 1000000 AS BIGINT) div n_docs"))
          .otherwise(lit(0L)).cast("long"))
    val total = dom.agg(
      sum(col("excess_micro")).as("_te"))
    dom.crossJoin(broadcast(total))
      .select(col(sourceCol), col("n_docs"),
        col("_sr").cast("double").as("sum_ref_nll"),
        col("_sf").cast("double").as("sum_full_nll"),
        col("excess_micro"),
        when(col("_te") === 0, lit(0L))
          .otherwise(expr("(excess_micro * 1000) div _te"))
          .cast("long").as("weight_milli"))
  }

  /** NS: order-2 extension of [[unigramLogLoss]] — train a
    * Laplace-smoothed BIGRAM LM on the corpus (two aggregates) and
    * score every document by its mean negative log CONDITIONAL
    * likelihood over its bigrams: p(w2|w1) = (c(w1 w2) + 1) /
    * (c1(w1) + V), V = full unigram vocabulary. The unigram model
    * sees only marginal token frequency; this one sees transitions —
    * low nll2 = transitions the corpus repeats verbatim (templates,
    * boilerplate), high nll2 = transitions it never makes. Returns
    * the input plus `n_tok` and `nll2` (null below 2 tokens).
    *
    * Scale shape (100 TB): the q106 contract at order 2 — two hash
    * aggregates over the token/bigram streams (map-side combine),
    * each reduced to a BOUNDED planning collect (the q108 sketch
    * convention: `maxBigrams` fails loudly when `minCount` is set too
    * low for the model to be driver-held; bigram vocabulary grows
    * sublinearly for natural text). The model ships to executors as a
    * codegen reference object with O(1) hash probes — a broadcast
    * MapType column scores the same values, but Catalyst's map
    * element_at is a linear key scan and measured ~10× slower at a
    * ~10³-entry map (see sparkbridge/LmScore.scala). Scoring is one
    * per-row kernel call in bigram order (deterministic double sum):
    * the corpus is scanned three times, never shuffled. Bigram keys
    * are space-joined token pairs — unambiguous because tokenization
    * splits on whitespace. */
  /** PMI COLLOCATIONS — adjacent-pair pointwise mutual information
    * over the corpus: PMI(w1,w2) = ln(p(w1,w2) / (p(w1)·p(w2))) with
    * the pair probability from bigram counts over total bigrams and
    * the marginals from unigram counts over total tokens. This is
    * the phrase-promotion signal vocabulary/tokenizer pipelines rank
    * by (the word2vec phrase pass scores the same ratio family): a
    * high-PMI adjacent pair co-occurs far above chance and earns a
    * multi-word vocabulary entry.
    *
    * Shape: token-keyed aggregates riding the tokenize scan (the
    * corpus explodes to token/bigram grain and aggregates with
    * map-side combine — document bodies never shuffle), the
    * `minCount` filter prunes the bigram table BEFORE the two
    * vocabulary joins (unhinted, the q120 convention — AQE
    * broadcasts small vocabularies), totals ride as 1-row broadcast
    * crossJoins, and the top-k executes as TakeOrderedAndProject.
    * The identical unigram-aggregate subtree feeds both marginal
    * joins and the total — exchange reuse computes it once.
    *
    * Exactness: all counts are exact integers; PMI is ONE double
    * expression over them with a fixed operation order mirrored
    * verbatim in the oracle SQL, rounded to 6 — ties broken by
    * (w1, w2). */
  def pmiCollocations(docs: DataFrame, textCol: String,
      minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(k >= 1, s"k must be >= 1: $k")
    val toks = docs.select(text.tokens(col(textCol)).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val nuTot = uni.agg(sum(col("n")).as("nu"))
    val bigAll = toks.select(explode(docBigrams(col("toks"))).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nab"))
    val nbTot = bigAll.agg(sum(col("nab")).as("nb"))
    bigAll.filter(col("nab") >= minCount)
      .select(element_at(split(col("b"), " "), 1).as("w1"),
        element_at(split(col("b"), " "), 2).as("w2"),
        col("nab"))
      .join(uni.toDF("w1", "na"), "w1")
      .join(uni.toDF("w2", "nbw"), "w2")
      .crossJoin(broadcast(nuTot))
      .crossJoin(broadcast(nbTot))
      .select(col("w1"), col("w2"), col("nab").as("n_ab"),
        round(log(
          (col("nab").cast("double") / col("nb").cast("double")) /
            ((col("na").cast("double") / col("nu").cast("double")) *
              (col("nbw").cast("double") / col("nu").cast("double")))),
          6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** PHRASE MERGE APPLICATION — the APPLY step of phrase promotion
    * ([[pmiCollocations]] finds the phrases; this rewrites the token
    * stream): greedy left-to-right non-overlapping merge of every
    * adjacent pair in the promoted set — the word2vec phrases pass.
    * Greedy application is SEQUENTIAL (a merge consumes its right
    * token, blocking the candidate one position over), which
    * re-expresses relationally: within each RUN of consecutive
    * candidate positions, exactly the odd-indexed (1st, 3rd, …)
    * candidates merge. Runs group by the i − row_number() trick;
    * all-integer, so both engines compute the identical merge set.
    * Per-source report: docs, tokens before, tokens merged (each
    * merge saves one token).
    *
    * Shape: the phrase set is the bounded top-k (broadcast); the
    * candidate positions ride the bigram explode of one tokenize
    * scan; two window shuffles on doc id; bodies never shuffle. */
  def phraseMerge(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, minCount: Long, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val phrases = pmiCollocations(docs, textCol, minCount, k)
      .select(concat_ws(" ", col("w1"), col("w2")).as("b"))
    val toks = docs.select(col(idCol).as("doc"),
      col(sourceCol).as("source"),
      text.tokens(col(textCol)).as("toks"))
    val cand = toks.select(col("doc"),
        posexplode(docBigrams(col("toks"))).as(Seq("i", "b")))
      .join(broadcast(phrases), "b")
    val runs = cand.withColumn("run", col("i") -
      row_number().over(w.partitionBy(col("doc")).orderBy(col("i"))))
    val merges = runs
      .withColumn("rn", row_number().over(
        w.partitionBy(col("doc"), col("run")).orderBy(col("i"))))
      .filter(col("rn") % 2 === 1)
      .groupBy(col("doc")).agg(count(lit(1)).as("nm"))
    toks.select(col("doc"), col("source"), size(col("toks")).as("nt"))
      .join(merges, Seq("doc"), "left")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc")).as("n_docs"),
        sum(col("nt")).as("tokens_before"),
        coalesce(sum(col("nm")), lit(0L)).as("tokens_merged"))
  }

  /** Space-joined bigrams of a token array, in token order.
    * Zip-with-shifted, NOT index-into-toks: a lambda that indexes
    * `toks` re-evaluates the tokenize kernel PER ELEMENT (lambdas
    * don't share subexpressions with their arguments — measured
    * O(n_tok²) per doc, 17.6 s for the sf0.1 scoring pass before
    * this formulation); HOF arguments are evaluated once. zip_with
    * pads to the longer input, and concat_ws skips the padded null,
    * so the slice drops the final (w_n, null) pair. */
  private def docBigrams(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(slice(
        zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b)),
        lit(1), size(toks) - 1))

  /** Broadcast LM models handed out by [[bigramLogLoss]] and not yet
    * released — the lifecycle hook of the r13 advice: the scoring
    * frame is LAZY, so the function itself cannot know when the
    * broadcast is safe to drop. Callers that materialize the result
    * (a sink write, a collect, a bench run) call
    * [[releaseLmBroadcasts]] afterwards, mirroring how the persisted
    * count frames are unpersisted inline. */
  private val liveLmBroadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, org.apache.spark.broadcast.Broadcast[_])]()

  /** Destroy the tracked LM broadcasts ([[bigramLogLoss]]) that THIS
    * THREAD created, once their scoring results are materialized;
    * returns how many were released. Thread-scoped, not global: the
    * registry is process-wide, and a global drain would let one
    * caller destroy a broadcast belonging to a different still-lazy
    * consumer in the same JVM (a concurrent streaming micro-batch, a
    * parallel test suite), failing its tasks with unfetchable blocks.
    * bigramLogLoss builds its broadcast eagerly at plan-construction
    * time, so creator thread = the thread that called bigramLogLoss —
    * construct and release on the same thread (Bench/Verify mains and
    * foreachBatch bodies already do). Safe to call when none are
    * live. Do NOT call while this thread's own bigramLogLoss result
    * is still lazy — its tasks would fail to fetch the destroyed
    * blocks. */
  def releaseLmBroadcasts(): Int = {
    val tid = Thread.currentThread().getId
    var n = 0
    val it = liveLmBroadcasts.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e._1 == tid) {
        it.remove()
        e._2.destroy()
        n += 1
      }
    }
    n
  }

  def bigramLogLoss(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long, maxBigrams: Int = 4000000): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val toks0 = text.tokens(col(textCol))
    // V from the FULL vocabulary (pre-filter), stored entries only
    // where worth keeping — the q106 smoothing/storage split. Bounded
    // planning collects: limit(max+1) caps driver memory BEFORE the
    // size check fires.
    def countEntries(keyed: DataFrame, what: String)
        : java.util.HashMap[String, Long] = {
      val rows = keyed.filter(col("_bg_c") >= minCount)
        .limit(maxBigrams + 1).collect()
      require(rows.length <= maxBigrams,
        s"bigramLogLoss: $what vocabulary exceeds $maxBigrams — " +
          s"raise minCount=$minCount for this corpus")
      val m = new java.util.HashMap[String, Long](rows.length * 2)
      rows.foreach(r => m.put(r.getString(0), r.getLong(1)))
      m
    }
    val uniCounts = docs
      .select(explode(toks0).as("_bg_k"))
      .groupBy(col("_bg_k")).agg(count(lit(1)).as("_bg_c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (uniMap, vocabV) = graft.Phases.time("uni_collect") {
      val v = uniCounts.count().toDouble
      (countEntries(uniCounts, "unigram"), v)
    }
    uniCounts.unpersist(blocking = false)
    val biMap = graft.Phases.time("bi_collect") {
      countEntries(docs
        .select(explode(docBigrams(toks0)).as("_bg_k"))
        .groupBy(col("_bg_k")).agg(count(lit(1)).as("_bg_c")),
        "bigram")
    }
    // Broadcast, not a closure capture: as a bare addReferenceObj the
    // maps serialize with the task closure of every scoring stage
    // (the r12 q112 regression); the broadcast stub ships in bytes
    // and executors fetch the maps once. Tracked for
    // [[releaseLmBroadcasts]] — the maps can be large near the
    // maxBigrams cap, and a long-lived session calling this
    // repeatedly would otherwise accumulate driver/executor broadcast
    // blocks with no release point.
    val lmBc = graft.Phases.time("model_broadcast") {
      docs.sparkSession.sparkContext.broadcast(
        new org.apache.spark.sql.graft.BigramLm(uniMap, biMap, vocabV))
    }
    liveLmBroadcasts.add((Thread.currentThread().getId, lmBc))
    val toks = text.tokens(col(textCol))
    val nll2Sum = org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.BigramNllSum(
        org.apache.spark.sql.graft.Bridge.expression(toks), lmBc))
    docs
      .withColumn("n_tok", size(toks))
      .withColumn("nll2",
        when(col("n_tok") < 2, lit(null).cast("double"))
          .otherwise(nll2Sum / (col("n_tok") - 1)))
  }

  /** EXACT heavy-hitter tokens via a two-pass count-min-sketch plan
    * (Cormode & Muthukrishnan 2005): pass 1 builds ONE bounded sketch
    * over the token stream; pass 2 filters tokens by the sketch's
    * never-undercounting estimate BEFORE the exact count shuffle, so
    * only candidate-heavy tokens are exchanged. The exact count +
    * threshold filter after the shuffle makes the result EXACTLY the
    * `count >= minCount` token set: CMS overestimation only admits
    * extra candidates, never loses one, and the exact pass evicts the
    * extras. Returns (token, n).
    *
    * Scale shape (100 TB): a Zipfian token stream's plain groupBy
    * shuffles the full vocabulary (billions of keys); the sketch probe
    * cuts the exchange to the candidate set, a 100-1000× shuffle
    * reduction at high thresholds. The sketch is O(depth × width)
    * bytes, built by one map-side-combined aggregate and read back as
    * ONE row — a bounded planning lookup (the q42 centroid
    * convention), not a corpus materialization. `eps` bounds the
    * overestimate at eps·N with probability `confidence`, i.e. the
    * candidate set only degrades toward the plain groupBy when
    * minCount ≲ eps·N — callers hunting rarer tokens shrink eps
    * (sketch grows as 1/eps) or use the plain aggregate. */
  def heavyHitterTokens(docs: DataFrame, textCol: String, minCount: Long,
      eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    import org.apache.spark.sql.graft.{Bridge, CmsEstimate}
    // both passes (sketch build, probe-filtered exact count) tokenize
    // and sketch-hash the corpus BEFORE any shuffle — widen the
    // one-hot-file scan once (no-op if the input is already wide)
    val docsW = Relational.widenForCpu(docs, col(textCol))
    val toks = docsW.select(explode(text.tokens(col(textCol))).as("token"))
    // bounded planning lookup: one row holding the KB-sized sketch
    val bytes = toks
      .agg(count_min_sketch(col("token"), lit(eps), lit(confidence),
        lit(seed)).as("_hh_cms"))
      .head.getAs[Array[Byte]]("_hh_cms")
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
    toks
      .filter(Bridge.column(
        CmsEstimate(Bridge.expression(col("token")), cms)) >= minCount)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** DSIR-style importance weight per document (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * hash every unigram and bigram into `buckets` feature buckets,
    * fit bag-of-words distributions for a TARGET slice (`isTarget`)
    * and for the RAW corpus (all rows, target included), and score
    * each document by its log-likelihood ratio
    * Σ_f count_f(doc) · λ_f with
    * λ_f = ln((t_f + ½)/(T + ½B)) − ln((r_f + ½)/(R + ½B)).
    * Weight > 0 ⇔ the document's hashed n-gram profile looks more
    * like the target distribution than the raw corpus — the
    * importance-resampling selection signal for domain-matched
    * training data. Returns the input plus `n_feat` and `wt_micros`.
    *
    * Exactness contract: each λ_f is rounded to 6 decimals ON THE
    * DRIVER (BigDecimal HALF_UP — the round() semantics both engines
    * share) and carried as integer MICROS, so the per-document sum is
    * exact integer arithmetic — order-independent and bit-identical
    * in any engine that sums the same rounded λ values. Callers
    * surface `wt_micros / 1e6` for display.
    *
    * Scale shape (100 TB): the model is ONE hash aggregate over the
    * hashed-feature stream — map-side combine collapses every
    * partition to ≤ `buckets` rows, so the shuffle AND the planning
    * collect are bounded by construction at `buckets` rows (a
    * tighter bound than the q108 sketch: the feature space is the
    * hash range itself). λ ships to executors as a B-element literal
    * array probed O(1) inside one scan-time fold in feature order —
    * the corpus is scanned twice and NEVER shuffled (the
    * unigram/bigram-LM contract). Raw counts deliberately include
    * the target slice: both distributions stay fixed as the corpus
    * grows, so weights are comparable across partitions and
    * snapshots. */
  def dsirWeights(docs: DataFrame, textCol: String, isTarget: Column,
      buckets: Int = 1024): DataFrame =
    dsirScoreWith(dsirModelMicros(docs, textCol, isTarget, buckets),
      docs, textCol)

  /** The TRAINING half of [[dsirWeights]]: the bucket-λ model in
    * exact integer micros, as a driver-held array (bounded by
    * `buckets`, loudly guarded). Factored out so a STATIC model —
    * DSIR's production shape: estimate once on a reference corpus —
    * can score other frames, including streaming micro-batches
    * (Streams.resampleIngest), with [[dsirScoreWith]]. */
  def dsirModelMicros(docs: DataFrame, textCol: String,
      isTarget: Column, buckets: Int = 1024): Array[Long] = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20]: $buckets")
    // the training pass runs ~2 md5 hashes per token BEFORE any
    // shuffle — on a one-hot-file corpus that is the q69 serial-scan
    // hazard (measured: 17 s wall on ONE task at sf0.1). Widen first.
    val docsW = Relational.widenForCpu(docs, col(textCol))
    // bounded planning lookup: ≤ `buckets` rows by construction
    val stats = docsW
      .select(explode(dsirFeats(text.tokens(col(textCol)), buckets))
        .as("_ds_b"), isTarget.as("_ds_t"))
      .groupBy(col("_ds_b"))
      .agg(count(lit(1)).as("_ds_r"),
        sum(when(col("_ds_t"), 1L).otherwise(0L)).as("_ds_tc"))
      .collect()
    require(stats.length <= buckets,
      s"dsirWeights: ${stats.length} buckets from a $buckets-bucket " +
        "hash — feature hashing is broken")
    val rArr = new Array[Long](buckets)
    val tArr = new Array[Long](buckets)
    stats.foreach { row =>
      val b = row.getInt(0)
      rArr(b) = row.getLong(1)
      tArr(b) = row.getLong(2)
    }
    val rTot = rArr.sum.toDouble
    val tTot = tArr.sum.toDouble
    // λ in exact integer micros; unobserved buckets keep 0 (no
    // document can reference them — they never appeared in the scan)
    Array.tabulate(buckets) { b =>
      if (rArr(b) == 0L) 0L
      else {
        val lam = math.log((tArr(b) + 0.5) / (tTot + 0.5 * buckets)) -
          math.log((rArr(b) + 0.5) / (rTot + 0.5 * buckets))
        BigDecimal(lam).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .underlying.unscaledValue.longValueExact
      }
    }
  }

  /** The SCORING half of [[dsirWeights]]: fold the λ-micros model
    * (a codegen literal — ships with the plan, no join) over each
    * document's hashed features. `buckets` is the model's length —
    * the two halves cannot disagree on the hash range. */
  def dsirScoreWith(lamMicros: Array[Long], docs: DataFrame,
      textCol: String): DataFrame = {
    val buckets = lamMicros.length
    require(buckets >= 2 && buckets <= (1 << 20),
      s"dsirScoreWith: model length must be in [2, 2^20] (a bucket " +
        s"per hash value): $buckets")
    val docsW = Relational.widenForCpu(docs, col(textCol))
    val lamLit = typedLit(lamMicros.toSeq)
    val f = dsirFeats(text.tokens(col(textCol)), buckets)
    docsW
      .withColumn("n_feat", size(f))
      .withColumn("wt_micros",
        aggregate(f, lit(0L), (acc, b) => acc + element_at(lamLit, b + 1)))
  }

  /** Hashed unigram+bigram bucket stream shared by both [[dsirWeights]]
    * halves (md5-60 % buckets — the cross-engine convention). */
  private def dsirFeats(toks: Column, buckets: Int): Column = concat(
    transform(toks,
      t => (hashes.md5Hash60(t) % buckets).cast("int")),
    transform(docBigrams(toks),
      g => (hashes.md5Hash60(g) % buckets).cast("int")))

  /** ONE definition of the corpus DATA CARD's per-document scoring
    * chain, shared by its three registered query forms (batch,
    * streaming, incremental) and the `report` CLI verb. Language
    * scores are PRECOMPUTED columns (the predictedFromScores
    * contract): the when-chain references each score ~|langs| times,
    * and a non-cheap alias is not inlined by CollapseProject, so
    * each marker filter runs once per row. */
  def dataCardScored(d: DataFrame): DataFrame = {
    val withT = d.withColumn("_toks", text.tokens(col("text")))
    val withScores = text.langMarkers.foldLeft(withT) {
      case (df, (l, m)) =>
        df.withColumn(s"_s_$l", text.langScore(col("_toks"), m))
    }
    withScores
      .withColumn("n_tok", size(col("_toks")).cast("long"))
      .withColumn("q", text.qualityScoreTokens(col("text"), col("_toks")))
      .withColumn("rep3", text.dupNgramFraction(col("_toks"), 3))
      .withColumn("pred", text.predictedFromScores(
        text.langMarkers.map { case (l, _) => l -> col(s"_s_$l") }))
  }

  /** The card's five form-independent aggregate columns; each form
    * appends its own quality-sum and label-diversity spelling
    * (exact-double vs decimal-retaining, countDistinct vs set). */
  def dataCardAggCols: Seq[Column] = Seq(
    count(lit(1)).as("n_docs"),
    sum(col("n_tok")).as("total_tokens"),
    sum(col("n_chars")).as("total_chars"),
    sum(when(col("rep3") >= 0.1, 1L).otherwise(0L)).as("n_repetitive"),
    sum(when(col("pred") === col("lang"), 1L).otherwise(0L))
      .as("n_lang_agree"))

  /** The batch data card (q116's exact shape): per-source report
    * over documents carrying (doc_id, text, lang, source, n_chars). */
  def dataCard(docs: DataFrame): DataFrame = {
    val aggCols = dataCardAggCols ++ Seq(
      sum(col("q").cast("decimal(20,6)")).cast("double")
        .as("sum_quality"),
      countDistinct(col("lang")).as("n_langs"))
    dataCardScored(docs).groupBy(col("source"))
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Per-source VOCABULARY DRIFT: KL(source ‖ corpus) over token
    * distributions — the distribution-shift monitor a crawl pipeline
    * runs per ingest source (a source whose token mix diverges from
    * the corpus is new-domain, spammy, or broken upstream). p_st =
    * source token share, p_t = corpus share (source included, so
    * every source token exists corpus-wide and the ratio needs no
    * smoothing). Exactness contract: each token's contribution
    * p_st·ln(p_st/p_t) is rounded to 9 decimals and summed as
    * DECIMAL — the sum is order-free and bit-identical in any engine
    * that rounds the same contributions (a raw double sum would be
    * partition-order sensitive in the last ulp).
    *
    * Scale shape (100 TB): two hash aggregates on token keys
    * (map-side combine); nothing body-grain past the scan. The
    * corpus-vocabulary join is deliberately UNHINTED: web-corpus
    * token distributions are heavy-tailed, so the distinct-token
    * count grows with corpus size (billions of rows at 100 TB —
    * Heaps' law, not ~log), and a forced broadcast of that table is
    * a driver OOM. Both join sides are token-keyed, so the at-scale
    * plan is a co-partitioned shuffle join; AQE picks broadcast
    * on its own while the vocabulary is actually small. Only
    * `srcTotals` (one row per source) is broadcast by hint. */
  def vocabDrift(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val pairs = Relational.widenForCpu(docs, col(textCol))
      .select(col(sourceCol).as("_vd_src"),
        explode(text.tokens(col(textCol))).as("_vd_tok"))
    val bySource = pairs.groupBy(col("_vd_src"), col("_vd_tok"))
      .agg(count(lit(1)).as("_vd_nst"))
    val srcTotals = bySource.groupBy(col("_vd_src"))
      .agg(sum(col("_vd_nst")).as("_vd_ns"))
    val corpus = bySource.groupBy(col("_vd_tok"))
      .agg(sum(col("_vd_nst")).as("_vd_nt"))
    // ONE planning count for the corpus token total (the q108/q114
    // convention — a 1-row broadcast crossJoin would plan a BNLJ for
    // a scalar): pairs has one row per token occurrence
    val nTotal = pairs.count().toDouble
    val contrib = bySource
      .join(corpus, "_vd_tok")
      .join(broadcast(srcTotals), "_vd_src")
      .withColumn("_vd_c", round(
        (col("_vd_nst").cast("double") / col("_vd_ns").cast("double")) *
          log((col("_vd_nst").cast("double") * lit(nTotal))
            / (col("_vd_ns").cast("double") * col("_vd_nt").cast("double"))),
        9))
    contrib.groupBy(col("_vd_src").as(sourceCol))
      .agg(max(col("_vd_ns")).as("n_tokens"), // constant per group
        sum(col("_vd_c").cast("decimal(28,9)")).cast("double").as("kl"))
  }

  /** ZIPF power-law fit per source: the least-squares slope of
    * ln(frequency) against ln(rank) over the top-`maxRank` tokens — a
    * natural-language corpus sits near −1; a slope far off flags
    * machine-generated text, boilerplate floods, or tokenizer damage
    * in one number per ingest source (the corpus-health analog of
    * [[vocabDrift]], sensitive to SHAPE rather than direction).
    *
    * The head cap is the operator, not a shortcut: Zipf fits are done
    * on the distribution head (the tail bends for every real corpus),
    * and it simultaneously bounds the regression input —
    * WindowGroupLimit prunes every partition to its local top-maxRank
    * BEFORE the rank shuffle, so the window state is O(maxRank) per
    * source no matter how large the vocabulary grows (the q114 top-3
    * convention with a per-source frame).
    *
    * Exactness: closed-form slope from DECIMAL-summed, 9-decimal-
    * rounded ln() terms (the q113/q120 convention) — every sum is
    * order-free, the final arithmetic is a fixed double expression
    * over exact sums, and ranks are total-ordered by (freq desc, token
    * asc), so both engines fit identical point sets. A single-rank
    * source has zero x-variance — slope is NULL there (mirror with
    * nullif). */
  def zipfSlope(docs: DataFrame, textCol: String, sourceCol: String,
      maxRank: Int = 1000): DataFrame = {
    require(maxRank >= 2, s"need >= 2 ranks for a slope: $maxRank")
    val freq = docs
      .select(col(sourceCol).as("_zf_src"),
        explode(text.tokens(col(textCol))).as("_zf_tok"))
      .groupBy(col("_zf_src"), col("_zf_tok"))
      .agg(count(lit(1)).as("_zf_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_zf_src"))
      .orderBy(col("_zf_c").desc, col("_zf_tok").asc)
    val ranked = freq.withColumn("_zf_r", row_number().over(w))
      .filter(col("_zf_r") <= maxRank)
      .select(col("_zf_src"),
        round(log(col("_zf_r").cast("double")), 9).as("_zf_x"),
        round(log(col("_zf_c").cast("double")), 9).as("_zf_y"))
    def dsum(c: Column) = sum(c.cast("decimal(28,9)"))
    val sums = ranked.groupBy(col("_zf_src"))
      .agg(count(lit(1)).as("_zf_n"),
        dsum(col("_zf_x")).cast("double").as("_zf_sx"),
        dsum(col("_zf_y")).cast("double").as("_zf_sy"),
        dsum(round(col("_zf_x") * col("_zf_y"), 9)).cast("double")
          .as("_zf_sxy"),
        dsum(round(col("_zf_x") * col("_zf_x"), 9)).cast("double")
          .as("_zf_sxx"))
    val n = col("_zf_n").cast("double")
    val den = n * col("_zf_sxx") - col("_zf_sx") * col("_zf_sx")
    sums.select(col("_zf_src").as(sourceCol),
      col("_zf_n").as("n_ranks"),
      round((n * col("_zf_sxy") - col("_zf_sx") * col("_zf_sy")) /
        when(den === 0.0d, lit(null)).otherwise(den), 6)
        .as("zipf_slope"))
  }

  /** NS: GUMBEL-TOP-K IMPORTANCE RESAMPLING — the SELECTION stage
    * that consumes [[dsirWeights]]' log-weights (DSIR, Xie et al.
    * 2023, runs exactly this pair: estimate importance weights, then
    * sample the training subset ∝ exp(λ)). Sampling-without-
    * replacement ∝ exp(λ) is the Gumbel-top-k identity: draw
    * g_i = −ln(−ln u_i) with u_i uniform, keep the top n by
    * λ_i + g_i. The clock u_i is a deterministic per-doc hash
    * (md5-60 % 10⁶, the repo's seedable-uniform convention), so the
    * sample is reproducible and the oracle replays it exactly; the
    * Gumbel term is rounded at 6 decimals and carried as exact
    * integer micros added to `wtMicrosCol` — the λ convention, so
    * ulp-level ln() differences cannot move a key across engines
    * except at a rounding boundary (the accepted q106/q112/q125
    * exposure).
    *
    * Scale shape (100 TB): keys are scan-time arithmetic (no joins,
    * no model); the top-n is TakeOrdered — per-partition heaps, one
    * n-row driver merge, never a global sort. n must be driver-
    * bounded (it is the training-subset size divided by nothing —
    * callers selecting >10⁷ rows should instead threshold on
    * key_micros from a sampled quantile, which this operator's
    * deterministic keys make exact-repeatable); guarded loudly.
    * Returns the sampled rows: input columns + `key_micros`,
    * deterministic order (key desc, id asc). */
  def importanceSample(weighted: DataFrame, idCol: String,
      wtMicrosCol: String, n: Int,
      clockSalt: String = ":clock"): DataFrame = {
    require(n >= 1 && n <= 10000000,
      s"importanceSample: n must be in [1, 10^7] (driver-merged " +
        s"TakeOrdered): $n")
    val u = (hashes.md5Hash60(
      concat(col(idCol).cast("string"), lit(clockSalt)))
      % 999999L + 1L).cast("double") / 1000000.0d
    val gMicros = (round(-log(-log(u)), 6).cast("decimal(20,6)")
      * 1000000).cast("long")
    weighted
      .withColumn("key_micros", col(wtMicrosCol) + gMicros)
      .orderBy(col("key_micros").desc, col(idCol))
      .limit(n)
  }

  /** NS: HASHED-NGRAM LINEAR CLASSIFIER INFERENCE — score every
    * document with an external linear model (the fastText /
    * logistic-regression shape used for corpus quality gates: one
    * weight per hashed unigram+bigram bucket, accept iff the logit
    * clears a threshold). The companion to [[dsirWeights]]: DSIR
    * LEARNS its bucket weights from the corpus itself; this operator
    * APPLIES a model that arrives from outside as a (bucket, weight)
    * table — the classifier-filter stage every production pipeline
    * (CCNet, GPT-3's WebText filter, FineWeb-Edu) runs after its
    * rule-based cuts.
    *
    * Dataflow is a per-row fold over an array literal: the
    * `buckets` weights are collected once on the driver and inlined
    * into the plan as one array, and each document's logit is an
    * `aggregate` over its own feature array (tokens + bigrams) that
    * looks every feature's bucket up in that literal. No join, no
    * exchange: scoring the corpus is one scan at any size. Weights
    * are integers, so per-doc logits are exact order-independent
    * integer sums in both engines (the repo-wide no-float-surface
    * convention); the fixture model derives each bucket's weight from
    * the bucket id via md5-60 — deterministic, seedable, and
    * reproducible in SQL, standing in for trained parameters without
    * shipping a binary blob.
    *
    * Returns `docs` plus `n_feats` (hashed features scored), `logit`
    * (integer score; 0 for an empty document) and `accept`
    * (logit >= 0). A NULL `textCol` yields NULL in all three: the
    * document is unscored, not scored as empty. */
  def linearClassifierScores(docs: DataFrame, idCol: String,
      textCol: String, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 22),
      s"linearClassifierScores: buckets must be in [2, 2^22]: $buckets")
    val spark = docs.sparkSession
    // The static model, by the ONE weight definition (md5-60 of the
    // bucket id, shifted into [-1000, 1000]) — collected ONCE as a
    // bounded planning lookup (`buckets` rows, capped at 2^22 by the
    // require above; the q42 centroid convention) and shipped as an
    // array literal. The per-doc logit is then a pure per-row fold
    // over the feature array: the former explode → broadcast join →
    // re-group-by-doc shape shuffled tens of millions of
    // one-feature rows per corpus scan just to sum them straight
    // back to doc grain (r20 baseline: q156 6.5 s wall on 12 cpu-s —
    // exchange-bound, not compute-bound). Long sums are
    // order-insensitive, so the fold is bit-identical to the
    // aggregate it replaces (CorpusStatsSpec pins the logits against
    // an independent MessageDigest recomputation); zero
    // shuffles at ANY corpus size — scoring 100 TB is one scan.
    val wArr: Array[Long] = {
      import spark.implicits._
      spark.range(0, buckets)
        .orderBy(col("id"))
        .select((hashes.md5Hash60(col("id").cast("string"))
          % 2001L - 1000L).as("w"))
        .as[Long].collect()
    }
    val wLit = typedlit(wArr)
    // widenForCpu: the per-feature md5 now runs AT SCAN WIDTH (the
    // explode's re-shuffle used to widen it as a side effect) — a
    // one-split corpus scan must not serialize whole cpu-seconds of
    // hashing (the q69 hazard)
    val wide = graft.operators.Relational.widenForCpu(docs, col(idCol))
    val toks = text.tokens(col(textCol))
    // materialized as its own projection column: n_feats and the
    // logit fold both reference it, and a non-cheap expression
    // referenced twice stays un-collapsed (CollapseProject's
    // duplication guard) — tokenize+bigram runs ONCE per row
    wide
      .withColumn("_lc_feats", concat(toks, docBigrams(toks)))
      .withColumn("n_feats", size(col("_lc_feats")).cast("long"))
      .withColumn("logit", aggregate(col("_lc_feats"), lit(0L),
        (acc, f) => acc + element_at(wLit,
          (hashes.md5Hash60(f) % buckets).cast("int") + 1)))
      .withColumn("accept", col("logit") >= 0L)
      .drop("_lc_feats")
  }

  /** The calibration family's ONE binning rule: double-floor so
    * negative logits bin DOWNWARD (integer division would merge the
    * two bins around zero — specced); shared by
    * [[classifierCalibration]] and [[calibratedGateReport]] so the
    * reliability table and the threshold chooser cannot drift. */
  private def logitBin(binWidth: Long): Column =
    floor(col("logit").cast("double") / binWidth).cast("long")

  /** CLASSIFIER CALIBRATION — the reliability table a pipeline reads
    * before trusting a gate threshold: logits bucketed into
    * fixed-width bins, each bin's observed positive rate measured
    * against an independent reference signal (`positive` — here the
    * rule-based quality score; production passes human labels or a
    * stronger teacher's verdicts). A calibrated gate's rate climbs
    * with the bin, and the accept threshold is read directly off
    * this table instead of guessed. Dataflow is
    * [[linearClassifierScores]] plus one aggregate; bins by
    * floor(logit / width) through double floor — exact, logits are
    * small integers — so negative logits bin downward (Spark/DuckDB
    * integer division would truncate toward zero and merge the two
    * bins around 0). Rates in integer milli (floor). */
  def classifierCalibration(docs: DataFrame, idCol: String,
      textCol: String, buckets: Int, binWidth: Long,
      positive: Column): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1: $binWidth")
    linearClassifierScores(docs, idCol, textCol, buckets)
      .select(logitBin(binWidth).as("bin"),
        col("logit"), positive.as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("logit")).as("sum_logit"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("pos_rate_milli",
        expr("(n_pos * 1000) div n_docs"))
  }

  /** CURRICULUM TIERS — the difficulty-ordered schedule a
    * curriculum-learning run feeds from: every document scored by
    * [[unigramLogLoss]] (the model-free difficulty proxy; production
    * swaps in a trained scorer through the same column), ranked
    * WITHIN its source (cross-source loss scales are not comparable
    * — the q70 percentile argument), and cut into `tiers` equal
    * ntile buckets: tier 1 = easiest. Per-(source, tier) report:
    * doc/token mass and the loss span, i.e. exactly the table a
    * scheduler needs to budget phase lengths. One window shuffle on
    * source + one aggregate; the model broadcast and both corpus
    * scans never shuffle bodies. Loss ranked and reported at
    * round-6 (the cross-engine float recipe), ties by doc_id;
    * zero-token docs (NULL loss) are excluded — they cannot be
    * ranked by difficulty. */
  def curriculumTiers(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, tiers: Int, minCount: Long): DataFrame = {
    require(tiers >= 2, s"tiers must be >= 2: $tiers")
    val scored = unigramLogLoss(docs, idCol, textCol, minCount)
      .withColumn("nll6", round(col("nll"), 6))
      .filter(col("nll6").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col("nll6"), col(idCol))
    scored.withColumn("tier", ntile(tiers).over(w))
      .groupBy(col(sourceCol), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        min(col("nll6")).as("min_nll"),
        max(col("nll6")).as("max_nll"))
  }

  /** ONE definition of the classifier gate's per-source aggregate
    * (the [[dataCardAggCols]] convention), shared by its four forms:
    * batch (q156), streaming sealed partials (Streams
    * .classifierIngest / q158), incremental partial-merge (q161),
    * and the `classify` CLI verb. All-integer and additive, so
    * partial aggregates merge exactly. */
  def classifierGateAggCols: Seq[Column] = Seq(
    count(lit(1)).as("n_docs"),
    sum(when(col("accept"), 1L).otherwise(0L)).as("n_accept"),
    sum(col("logit")).as("sum_logit"),
    sum(col("n_feats")).as("sum_feats"))

  /** [[linearClassifierScores]] + the per-source gate report in one
    * call — the shape every gate form reduces to. */
  def classifierGateReport(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, buckets: Int): DataFrame =
    linearClassifierScores(docs, idCol, textCol, buckets)
      .groupBy(col(sourceCol))
      .agg(classifierGateAggCols.head, classifierGateAggCols.tail: _*)

  /** [[classifierGateReport]] at an EXPLICIT threshold — the gate
    * half shared by the streaming calibrated gate (Streams
    * .calibratedClassifierIngest / q203) and the incremental
    * calibrated gate (q207): the threshold is a static training-run
    * decision ([[chooseCalibratedThreshold]]), and the partials are
    * computed AT it, so at-rest partials and a fresh slice merge
    * exactly. None (unachievable target) accepts NOTHING — the q201
    * contract, not a silent `logit >= 0` fallback. */
  def classifierGateReportAt(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, buckets: Int,
      thresholdLogit: Option[Long]): DataFrame =
    linearClassifierScores(docs, idCol, textCol, buckets)
      .withColumn("accept", thresholdLogit
        .map(t => col("logit") >= lit(t)).getOrElse(lit(false)))
      .groupBy(col(sourceCol))
      .agg(classifierGateAggCols.head, classifierGateAggCols.tail: _*)

  /** The chooser half of [[calibratedGateReport]] alone — ONE walk
    * implementation shared with the streaming form (q203 computes
    * the threshold once on the at-rest corpus, then streams batches
    * through it: thresholds are a training-run decision, not a
    * per-batch one — the temperatureMix cuts convention). Input: a
    * (bin, pos-boolean) frame; output: the smallest qualifying bin,
    * None when no bin meets the target. Bounded planning collect,
    * guarded loudly. */
  private[graft] def chooseThresholdBin(binPos: DataFrame,
      targetMilli: Long): Option[Long] = {
    val Seq(binCol, posCol) = binPos.columns.toSeq
    val bins = binPos
      .groupBy(col(binCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(posCol), 1L).otherwise(0L)).as("p"))
      .limit(100001).collect()
    require(bins.length <= 100000,
      "chooseThresholdBin: bin table exceeds the bounded-planning " +
        s"contract (${bins.length} bins) — widen binWidth")
    // descending walk: after processing bin b, (cp, cd) hold the
    // cumulative (positives, docs) of ALL bins >= b — floor-divided
    // milli rate, long arithmetic end to end (mirrors the oracle's
    // HUGEINT // division on non-negative counts)
    var cp = 0L
    var cd = 0L
    val qualifying = bins.sortBy(r => -r.getLong(0)).flatMap { r =>
      cd += r.getLong(1)
      cp += r.getLong(2)
      if ((cp * 1000L) / cd >= targetMilli) Some(r.getLong(0)) else None
    }
    if (qualifying.isEmpty) None else Some(qualifying.min)
  }

  /** The chosen gate threshold in LOGIT units for a corpus — the
    * standalone chooser the streaming gate (q203) feeds from:
    * scores, bins, and walks exactly as [[calibratedGateReport]]
    * does, returning thr = qualifying-bin-edge × binWidth (None =
    * unachievable target → the gate accepts nothing). */
  def chooseCalibratedThreshold(docs: DataFrame, idCol: String,
      textCol: String, buckets: Int, binWidth: Long,
      positive: Column, targetMilli: Long): Option[Long] = {
    require(binWidth >= 1, s"binWidth must be >= 1: $binWidth")
    require(targetMilli >= 0 && targetMilli <= 1000,
      s"targetMilli must be in [0, 1000]: $targetMilli")
    chooseThresholdBin(
      linearClassifierScores(docs, idCol, textCol, buckets)
        .select(logitBin(binWidth).as("bin"), positive.as("pos")),
      targetMilli).map(_ * binWidth)
  }

  /** CALIBRATION-DRIVEN THRESHOLD + GATE — the calibrate → choose →
    * gate loop closed: instead of the fixed `logit >= 0` gate
    * (q156) or a human reading the q188 reliability table, the
    * threshold is CHOSEN from a stated target precision — the
    * smallest bin edge whose cumulative-from-the-top observed
    * positive rate (integer milli, the [[classifierCalibration]]
    * bins via [[logitBin]]) meets `targetMilli` — and fed straight
    * through the gate. If NO bin meets the target the gate accepts
    * nothing (thr columns NULL): an unachievable precision target
    * is an empty accept set, not a silent fallback.
    *
    * One scoring pass: the scored frame is localCheckpointed and
    * feeds BOTH the calibration aggregate and the gate (re-running
    * [[linearClassifierScores]] twice would double the dominant
    * tokenize+hash cost). The bin table is a bounded planning
    * collect (|bins| ≤ logit span / binWidth — guarded loudly); the
    * cumulative walk and the comparison are driver-side integer
    * arithmetic, the q124 bounded-planning convention. Per-source
    * report: (source, thr_bin, thr_logit, n_docs, n_accept,
    * sum_logit). */
  def calibratedGateReport(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, buckets: Int,
      binWidth: Long, positive: Column, targetMilli: Long): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1: $binWidth")
    require(targetMilli >= 0 && targetMilli <= 1000,
      s"targetMilli must be in [0, 1000]: $targetMilli")
    val scored = linearClassifierScores(docs, idCol, textCol, buckets)
      .withColumn("_cal_pos", positive)
      .localCheckpoint()
    val thrBin = chooseThresholdBin(scored
      .select(logitBin(binWidth).as("bin"), col("_cal_pos")), targetMilli)
    val accept = thrBin
      .map(b => col("logit") >= lit(b * binWidth))
      .getOrElse(lit(false))
    scored.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(accept, 1L).otherwise(0L)).as("n_accept"),
        sum(col("logit")).as("sum_logit"))
      .select(col("source"),
        thrBin.map(lit(_)).getOrElse(lit(null))
          .cast("long").as("thr_bin"),
        thrBin.map(b => lit(b * binWidth)).getOrElse(lit(null))
          .cast("long").as("thr_logit"),
        col("n_docs"), col("n_accept"), col("sum_logit"))
  }

  /** NS: T5 SPAN-CORRUPTION accounting (Raffel et al. 2020): the
    * denoising-pretraining example builder's exact size report. Each
    * token position is masked by an independent deterministic md5
    * clock (the [[importanceSample]] convention — seedable via
    * `clockSalt`, replayable in SQL); RUNS of consecutive masked
    * positions form the corruption spans, each replaced by one
    * sentinel on the input side and emitted as (sentinel + span
    * tokens) on the target side. Returns one row per document:
    * `n_tok`, `tokens_masked`, `n_spans` — from which the T5 length
    * accounting is pure integer arithmetic (input = n_tok −
    * tokens_masked + n_spans, target = tokens_masked + n_spans).
    *
    * Spans are gaps-and-islands on CONSECUTIVE positions (pos −
    * row_number per doc), not the n-gram window walk — a masked run
    * is maximal runs of adjacent positions, where the excision
    * family's walk unions [pos, pos+n) windows.
    *
    * Scale shape (100 TB): the position stream reduces at the mask
    * filter (maskPct% survives) BEFORE the only doc-partitioned
    * window; the per-doc report is one hash aggregate; empty and
    * fully-unmasked docs re-attach at zero via the doc-grain left
    * join. No global window, integer end to end. */
  def spanCorruptionStats(docs: DataFrame, idCol: String,
      textCol: String, maskPct: Int, clockSalt: String = ":sc")
      : DataFrame = {
    require(maskPct >= 1 && maskPct <= 99,
      s"spanCorruptionStats: maskPct in [1, 99]: $maskPct")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("_sc_id"),
      size(text.tokens(col(textCol))).cast("long").as("n_tok"))
    val positions = docs
      .select(col(idCol).as("_sc_id"),
        text.tokens(col(textCol)).as("_sc_toks"))
      .select(col("_sc_id"),
        explode(when(size(col("_sc_toks")) >= 1,
          sequence(lit(1), size(col("_sc_toks"))))
          .otherwise(array().cast("array<int>"))).as("_sc_p"))
    val masked = positions.filter(
      hashes.md5Hash60(concat(col("_sc_id").cast("string"), lit(":"),
        col("_sc_p").cast("string"), lit(clockSalt))) % 100L
        < maskPct.toLong)
    val w = Window.partitionBy(col("_sc_id")).orderBy(col("_sc_p"))
    val spans = masked
      .withColumn("_sc_grp", col("_sc_p") - row_number().over(w))
      .groupBy(col("_sc_id"))
      .agg(count(lit(1)).as("tokens_masked"),
        countDistinct(col("_sc_grp")).as("n_spans"))
    toks.join(spans, Seq("_sc_id"), "left")
      .select(col("_sc_id").as(idCol), col("n_tok"),
        coalesce(col("tokens_masked"), lit(0L)).as("tokens_masked"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
  }
}
