package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{hashes, text}

/** Deduplication family for the documents pipeline: exact, n-gram
  * Jaccard (exact, inverted-index), MinHash+LSH (approximate candidate
  * generation + exact re-score — the 100 TB path), and SimHash.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison.
  * Exact dedup is one hash aggregate; Jaccard/MinHash build an
  * inverted index (explode → self-join on the index key) so only
  * documents sharing a shingle/band ever meet in the join, and the
  * band join is a shuffle on a high-cardinality key. Ultra-frequent
  * shingles (stop-shingles) are droppable via `maxShingleDf` to cap
  * skew on a 1000-executor cluster; candidates are always re-scored
  * against the FULL shingle sets, so the guard affects candidate
  * recall only, never the similarity arithmetic.
  */
object Dedup {

  /** Exact dedup on a set of columns: keep the row with the minimum
    * `idCol` per duplicate group (deterministic keeper — a bare
    * dropDuplicates keeps an arbitrary row, which would never be
    * oracle-stable). */
  def exactGroups(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** (doc, shingles) pairs: each document's DISTINCT word n-gram set
    * (codegen'd row kernel — see text.wordShinglesFast). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // widenForCpu: tokenize+shingle is whole CPU-seconds per million
    // tokens and a one-file corpus scan plans ~1 split (the q69
    // hazard) — widen BEFORE the kernel so the cost scales with
    // cores, not input files; a no-op on already-wide inputs
    Relational.widenForCpu(docs, col(idCol)).select(
      col(idCol).as("doc"),
      text.wordShinglesFast(col(textCol), n).as("shingles"))

  /** Exact Jaccard re-score of candidate (doc_a, doc_b) pairs against
    * the full shingle sets: |A∩B| / (|A|+|B|-|A∩B|) >= threshold.
    * Two hash joins on doc id + a per-pair array intersection — no
    * pair explosion beyond the candidate set itself. */
  def rescoreJaccard(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    rescoreJaccardAB(candidates, sets, sets, threshold)

  /** [[rescoreJaccard]] with DISTINCT set tables per pair side — the
    * incremental-ingest shape, where doc_a resolves against the stored
    * corpus index and doc_b against the new batch. This join itself
    * tolerates id collisions between the two spaces (each side only
    * ever looks up its own table), but note the ingest callers above
    * it ([[incrementalNearDupAgainst]]/[[ingestBatchAgainst]]) REQUIRE
    * store-unique ids: they interpret an id-equal candidate pair as
    * the same document re-presented (an at-least-once replay), never
    * as a dup pair — see markAgainstIndex. */
  def rescoreJaccardAB(candidates: DataFrame, setsA: DataFrame,
      setsB: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(setsA.toDF("doc_a", "s_a"), "doc_a")
      .join(setsB.toDF("doc_b", "s_b"), "doc_b")
      .withColumn("inter", size(array_intersect(col("s_a"), col("s_b"))).cast("long"))
      .withColumn("sz_a", size(col("s_a")).cast("long"))
      .withColumn("sz_b", size(col("s_b")).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")

  /** Exact near-dup pairs by n-gram Jaccard similarity >= threshold.
    * Candidate generation is an inverted index on shingles (explode →
    * self-join on shingle), then candidates are re-scored exactly on
    * the full sets by [[rescoreJaccard]].
    *
    * `maxShingleDf` drops shingles appearing in more than that many
    * docs from the INDEX ONLY (skew guard: one shingle shared by d
    * docs produces d²/2 join rows on a single key). The guard's
    * exactness contract is explicit:
    *  - `requireInertGuard = true` (the registered-query mode): the
    *    operator CHECKS that no posting list exceeds the guard and
    *    fails loudly when one does — the result is then provably the
    *    unguarded exact answer, never silently missing recall.
    *  - `requireInertGuard = false` with an active guard: approximate
    *    candidate recall. The pre-filter then tests an UPPER bound on
    *    |A∩B| — inter_g + min(hot_a, hot_b), where hot_x counts doc
    *    x's shingles the guard dropped — so a pair sharing at least
    *    one indexed shingle is never wrongly pruned; only pairs whose
    *    overlap is 100% guard-dropped shingles can be missed (pure
    *    boilerplate overlap — the pairs a dedup pipeline drops the
    *    guard precisely to avoid paying for). Re-scoring always uses
    *    full sets, so OUTPUT columns are exact either way.
    * On a fixed-vocabulary corpus every shingle's df grows linearly
    * with the corpus, so exact threshold joins are inherently
    * candidate-bound; the recall-controlled scale path for near-dup
    * detection is [[minhashNearDupPairs]]. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleDf: Option[Int] = None,
      requireInertGuard: Boolean = false): DataFrame = {
    // tokenize+shingle is the dominant per-pass cost and this plan
    // references the sets four times (posting index, sizes, and both
    // re-score sides) — persist so it computes once, unpersist before
    // returning (the result is eagerly materialized first).
    // MEMORY_AND_DISK: spills rather than OOMs at scale.
    val sets = shingleSets(docs, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sh = sets.select(col("doc"), explode(col("shingles")).as("shingle"))
    // Exactness contract (see scaladoc): when the caller claims the
    // unguarded exact answer, prove the guard inert — one light
    // aggregate over the cached sets — rather than silently losing
    // recall at a scale where the guard goes active (ADVICE r2).
    maxShingleDf.foreach { m =>
      if (requireInertGuard) {
        val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > m).limit(1).count()
        require(hot == 0L,
          s"maxShingleDf=$m guard is ACTIVE (some shingle has df > $m): " +
            "the result would lose recall vs the exact answer. Raise the " +
            "guard, drop the exactness claim (requireInertGuard=false), " +
            "or use minhashNearDupPairs as the scale path.")
      }
    }
    // Posting-list inverted index: ONE pass over the exploded shingles
    // (tokenization is the dominant cost and is never recomputed for a
    // second join side), one shuffle on the shingle key. Each posting
    // list emits its doc pairs locally; a second shuffle aggregates
    // per-pair shared-shingle counts. The skew guard is a filter on
    // posting-list size — a shingle in >m docs would emit m²/2 pairs
    // AND make collect_list a hot key, so it leaves the index.
    // Survivors — a tiny set — are re-scored on the full sets so the
    // OUTPUT columns are always exact.
    val posting = sh.groupBy("shingle")
      .agg(sort_array(collect_list(col("doc"))).as("docs"))
      .filter(size(col("docs")) >= 2)
    val guarded = maxShingleDf match {
      case Some(m) => posting.filter(size(col("docs")) <= m)
      case None => posting
    }
    val pairExpr = flatten(transform(col("docs"), (x, i) =>
      transform(slice(col("docs"), i + lit(2), size(col("docs"))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
    val sizes = sets.select(col("doc"),
      size(col("shingles")).cast("long").as("sz"))
    // hot_x = shingles of doc x dropped from the index — only needed
    // when the guard may be active (approximate mode); inert/absent
    // guards skip the extra join entirely.
    val sized =
      if (maxShingleDf.isEmpty || requireInertGuard)
        sizes.withColumn("hot", lit(0L))
      else {
        val hotPerDoc = posting.filter(size(col("docs")) > maxShingleDf.get)
          .select(explode(col("docs")).as("doc"))
          .groupBy("doc").agg(count(lit(1)).as("hot0"))
        sizes.join(hotPerDoc, Seq("doc"), "left")
          .select(col("doc"), col("sz"),
            coalesce(col("hot0"), lit(0L)).as("hot"))
      }
    // Candidate pre-filter on the UPPER bound of |A∩B|: inter_g
    // (shared indexed shingles) + min(hot_a, hot_b). Since Jaccard is
    // increasing in the intersection, ub/(sz_a+sz_b-ub) >= J for every
    // true pair sharing >= 1 indexed shingle — no false pruning.
    val candidates = guarded
      .select(explode(pairExpr).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_g"))
      .join(sized.toDF("doc_a", "sz_a", "hot_a"), "doc_a")
      .join(sized.toDF("doc_b", "sz_b", "hot_b"), "doc_b")
      .withColumn("ub", col("inter_g") + least(col("hot_a"), col("hot_b")))
      .filter(col("ub").cast("double") /
        (col("sz_a") + col("sz_b") - col("ub")).cast("double") >= threshold)
      .select("doc_a", "doc_b")
    // Materialize the (small) result while `sets` is still cached,
    // then release the cache — the r2 bench showed leaked blocks from
    // 40+ sequential queries compounding into a 10x slowdown on later
    // entries. localCheckpoint blocks are ContextCleaner-managed:
    // freed when the returned frame is GC'd, not leaked for the
    // session's lifetime like CacheManager entries.
    val out = rescoreJaccard(candidates, sets, threshold)
      .localCheckpoint(eager = true)
    sets.unpersist(blocking = false)
    out
  }

  /** Exact near-dup pairs by n-gram Jaccard for DENSE-similarity
    * corpora: a broadcast all-pairs join whose per-pair work is one
    * codegen'd merge over sorted shingle-HASH arrays, followed by an
    * exact re-score of the surviving candidates on the string sets.
    *
    * Why it exists alongside [[ngramJaccardPairs]]: the inverted-index
    * path emits Σ_s C(df_s, 2) candidate rows. On a shared-vocabulary
    * corpus dfs grow linearly with the corpus, so that sum OVERTAKES
    * the n²/2 all-pairs count (measured on the fixtures at sf0.1:
    * 36.5M index emissions vs 12.5M total pairs) — the index is then
    * strictly MORE work than brute force, and brute force needs no
    * shuffle beyond one n-row broadcast. Pick the index when shingle
    * dfs are small relative to n (sparse overlap), this when not.
    *
    * Exactness: equal strings hash equal, so the hash-merge count is
    * an upper bound on the true intersection (a collision can only
    * inflate it) — the threshold filter on it passes a SUPERSET of
    * the true answer, and [[rescoreJaccard]] on the full string sets
    * reduces that to exactly the true pairs. Both paths produce the
    * identical exact output (spec-asserted). */
  def jaccardPairsDense(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxDenseDocs: Long = DefaultMaxDenseDocs): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, SortedLongIntersectCount}
    def interUpperBound(a: Column, b: Column): Column =
      Bridge.column(SortedLongIntersectCount(
        Bridge.expression(a), Bridge.expression(b)))
    // persisted: the hash-array build and the final re-score both
    // read it; released after the result materializes (r2 leak fix)
    val sets = shingleSets(docs, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    denseOccupancyGuard(sets, "jaccardPairsDense", maxDenseDocs,
      "ngramJaccardPairs (inverted index) or minhashNearDupPairs (LSH)")
    val hashed = sets.select(
      col("doc"),
      sort_array(transform(col("shingles"), s => xxhash64(s))).as("hs"),
      size(col("shingles")).cast("long").as("sz"))
    // the streamed side must be SPREAD: a small parquet input arrives
    // as one partition, which would serialize the whole O(n²) merge
    // onto one core (measured: 506s single-task vs 24s spread at
    // sf0.1, before the hash-merge cut per-pair cost further). One
    // tiny round-robin shuffle of n rows buys full parallelism.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val a = hashed.repartition(par).toDF("doc_a", "hs_a", "sz_a")
    val b = hashed.toDF("doc_b", "hs_b", "sz_b")
    val candidates = a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .withColumn("iub", interUpperBound(col("hs_a"), col("hs_b")))
      // two-empty-docs pairs have union 0; guard the division (ANSI
      // divide-by-zero throws even for doubles, and the optimizer may
      // evaluate this predicate before the doc_a < doc_b condition)
      .withColumn("jub",
        when(col("sz_a") + col("sz_b") - col("iub") > 0,
          col("iub").cast("double") /
            (col("sz_a") + col("sz_b") - col("iub")).cast("double"))
          .otherwise(lit(0.0)))
      .filter(col("jub") >= threshold)
      .select("doc_a", "doc_b")
    val out = rescoreJaccard(candidates, sets, threshold)
      .localCheckpoint(eager = true)
    sets.unpersist(blocking = false)
    out
  }

  /** ASYMMETRIC near-dup pairs by the overlap coefficient
    * |A∩B| / min(|A|,|B|) — Broder's containment measure evaluated on
    * the smaller side of each pair. This is the dedup regime Jaccard
    * structurally misses: a document fully QUOTED inside one 4× its
    * size has containment 1.0 but Jaccard ≈ 0.25, invisible at any
    * useful symmetric threshold — yet it is exactly the training-set
    * hazard (the small doc's content is duplicated verbatim). The
    * reference's replay tooling has no corpus analytics at all
    * (pulsar_replay.py — capture/replay only); this family is the
    * north-star extension built on the same shingle machinery as q27.
    *
    * Shape: the [[jaccardPairsDense]] broadcast pair scan (one n-row
    * broadcast, per-pair codegen'd sorted-hash merge — see that
    * scaladoc for why dense corpora prefer it to the inverted index),
    * with the candidate pre-filter bound rewritten for containment:
    * iub / min(sz) ≥ t is an upper bound on the true overlap because
    * the hash-merge count can only inflate the intersection. The
    * exact re-score divides by min(|A|,|B|) on the full string sets.
    * At sparse-overlap scale the same swap applies to the inverted
    * index: containment ≥ t with t > 0 implies a shared shingle, so
    * index candidates are complete there too; the sketch-based scale
    * path is LSH Ensemble-style containment banding (the q30 S-curve
    * argument does NOT carry over — MinHash estimates Jaccard, and
    * resemblance-banded candidates under-recall one-sided
    * containment, which is why the exact forms matter here).
    *
    * Output per surviving pair: sizes, exact intersection, overlap
    * AND jaccard (both 6-rounded — integer inputs make the doubles
    * engine-identical), so a consumer can see precisely which pairs
    * a symmetric threshold would have missed. */
  def containmentPairsDense(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      maxDenseDocs: Long = DefaultMaxDenseDocs): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, SortedLongIntersectCount}
    def interUpperBound(a: Column, b: Column): Column =
      Bridge.column(SortedLongIntersectCount(
        Bridge.expression(a), Bridge.expression(b)))
    val sets = shingleSets(docs, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    denseOccupancyGuard(sets, "containmentPairsDense", maxDenseDocs,
      "containmentPairsIndexed (inverted index, complete for t > 0)")
    val hashed = sets.select(
      col("doc"),
      sort_array(transform(col("shingles"), s => xxhash64(s))).as("hs"),
      size(col("shingles")).cast("long").as("sz"))
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val a = hashed.repartition(par).toDF("doc_a", "hs_a", "sz_a")
    val b = hashed.toDF("doc_b", "hs_b", "sz_b")
    val candidates = a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .withColumn("iub", interUpperBound(col("hs_a"), col("hs_b")))
      // empty-set docs have min size 0; guard the ANSI division
      .withColumn("oub",
        when(least(col("sz_a"), col("sz_b")) > 0,
          col("iub").cast("double") /
            least(col("sz_a"), col("sz_b")).cast("double"))
          .otherwise(lit(0.0)))
      .filter(col("oub") >= threshold)
      .select("doc_a", "doc_b")
    val out = rescoreContainment(candidates, sets, threshold)
    sets.unpersist(blocking = false)
    out
  }

  /** Exact containment re-score of candidate pairs on the full string
    * sets (shared by [[containmentPairsDense]] and
    * [[containmentPairsIndexed]] — both paths emit the identical
    * exact output, spec-asserted). Emits overlap AND jaccard so a
    * consumer sees which pairs a symmetric threshold would miss.
    * Eagerly materialized (callers unpersist `sets` right after). */
  private def rescoreContainment(candidates: DataFrame,
      sets: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(sets.toDF("doc_a", "s_a"), "doc_a")
      .join(sets.toDF("doc_b", "s_b"), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("s_a"), col("s_b"))).cast("long"))
      .withColumn("sz_a", size(col("s_a")).cast("long"))
      .withColumn("sz_b", size(col("s_b")).cast("long"))
      .withColumn("overlap",
        when(least(col("sz_a"), col("sz_b")) > 0,
          col("inter").cast("double") /
            least(col("sz_a"), col("sz_b")).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("jaccard",
        when(col("sz_a") + col("sz_b") - col("inter") > 0,
          col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
          .otherwise(lit(0.0)))
      .filter(col("overlap") >= threshold)
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "overlap",
        "jaccard")
      .localCheckpoint(eager = true)

  /** Default ceiling for the dense (broadcast all-pairs) regime: past
    * this the broadcast side itself is the bottleneck (gigabytes of
    * hashed shingle arrays to every executor) and the quadratic scan
    * is certainly the wrong plan — the guard fails LOUDLY naming the
    * sub-quadratic alternative instead of letting the job OOM an hour
    * in (the q105/q106 loud-require convention). */
  val DefaultMaxDenseDocs: Long = 1L << 20

  /** The dense-regime occupancy guard: counts the (already-persisted)
    * shingle sets — materializing the cache the caller reads next, so
    * the count is not an extra corpus pass — and refuses the
    * quadratic plan past `maxDenseDocs`. */
  private def denseOccupancyGuard(sets: DataFrame, op: String,
      maxDenseDocs: Long, alternative: String): Unit = {
    val nDocs = sets.count()
    require(nDocs <= maxDenseDocs,
      s"$op: $nDocs docs exceed maxDenseDocs=$maxDenseDocs — the " +
        s"broadcast all-pairs scan is the wrong plan at this size; " +
        s"use $alternative, or raise maxDenseDocs deliberately.")
  }

  /** ASYMMETRIC near-dup pairs by the overlap coefficient, the
    * INVERTED-INDEX form of [[containmentPairsDense]] — the scale
    * path for sparse-overlap corpora where n²/2 pairs is unpayable
    * but shingle document frequencies are small.
    *
    * Completeness: containment(A,B) = |A∩B| / min(|A|,|B|) ≥ t with
    * t > 0 implies |A∩B| ≥ 1 — every qualifying pair shares at least
    * one shingle and therefore meets in some posting list, so index
    * candidates are COMPLETE (the same shared-shingle argument as the
    * symmetric index; it does NOT require t high, only t > 0 — which
    * the `threshold > 0` require pins). The candidate pre-filter
    * bound is the containment rewrite of the symmetric one:
    * ub / min(sz) ≥ overlap for ub = inter_g + min(hot_a, hot_b) ≥
    * |A∩B|, so no true pair is pruned. With an ACTIVE df guard
    * (`maxShingleDf` set, `requireInertGuard=false`) the same
    * approximation caveat as [[ngramJaccardPairs]] applies: a pair
    * whose overlap is 100% guard-dropped shingles can be missed;
    * `requireInertGuard=true` proves the guard inert and the answer
    * exact. Survivors are re-scored exactly on the full string sets —
    * identical output columns to the dense form (parity
    * spec-asserted).
    *
    * Scale shape: one tokenize+shingle pass, one shuffle on the
    * shingle key, Σ_s C(df_s, 2) candidate emissions — sub-quadratic
    * exactly when dfs are small relative to n, the mirror-image
    * trade to the dense form (see [[jaccardPairsDense]]'s measured
    * crossover). MinHash banding is NOT a substitute here: resemblance
    * bands under-recall one-sided containment (a doc quoted inside
    * one 4× its size has J ≈ 0.25 — below any useful resemblance
    * band — at containment 1.0), which is why the exact index form
    * carries the scale regime. */
  def containmentPairsIndexed(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      maxShingleDf: Option[Int] = None,
      requireInertGuard: Boolean = false): DataFrame = {
    require(threshold > 0.0,
      s"containmentPairsIndexed: threshold must be > 0 (got " +
        s"$threshold) — shared-shingle completeness holds only for " +
        "t > 0; at t = 0 every pair qualifies and no index helps")
    val sets = shingleSets(docs, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sh = sets.select(col("doc"), explode(col("shingles")).as("shingle"))
    maxShingleDf.foreach { m =>
      if (requireInertGuard) {
        val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > m).limit(1).count()
        require(hot == 0L,
          s"maxShingleDf=$m guard is ACTIVE (some shingle has df > $m): " +
            "the result would lose recall vs the exact answer. Raise " +
            "the guard or drop the exactness claim " +
            "(requireInertGuard=false).")
      }
    }
    val posting = sh.groupBy("shingle")
      .agg(sort_array(collect_list(col("doc"))).as("docs"))
      .filter(size(col("docs")) >= 2)
    val guarded = maxShingleDf match {
      case Some(m) => posting.filter(size(col("docs")) <= m)
      case None => posting
    }
    val pairExpr = flatten(transform(col("docs"), (x, i) =>
      transform(slice(col("docs"), i + lit(2), size(col("docs"))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
    val sizes = sets.select(col("doc"),
      size(col("shingles")).cast("long").as("sz"))
    val sized =
      if (maxShingleDf.isEmpty || requireInertGuard)
        sizes.withColumn("hot", lit(0L))
      else {
        val hotPerDoc = posting.filter(size(col("docs")) > maxShingleDf.get)
          .select(explode(col("docs")).as("doc"))
          .groupBy("doc").agg(count(lit(1)).as("hot0"))
        sizes.join(hotPerDoc, Seq("doc"), "left")
          .select(col("doc"), col("sz"),
            coalesce(col("hot0"), lit(0L)).as("hot"))
      }
    // Containment pre-filter on the UPPER bound of |A∩B|: overlap is
    // increasing in the intersection, so ub / min(sz) >= overlap for
    // every pair sharing >= 1 indexed shingle — no false pruning.
    // min(sz) >= 1 here by construction (both docs appear in a
    // posting list, so both have >= 1 shingle): the division is safe.
    val candidates = guarded
      .select(explode(pairExpr).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_g"))
      .join(sized.toDF("doc_a", "sz_a", "hot_a"), "doc_a")
      .join(sized.toDF("doc_b", "sz_b", "hot_b"), "doc_b")
      .withColumn("ub", col("inter_g") + least(col("hot_a"), col("hot_b")))
      .filter(col("ub").cast("double") /
        least(col("sz_a"), col("sz_b")).cast("double") >= threshold)
      .select("doc_a", "doc_b")
    val out = rescoreContainment(candidates, sets, threshold)
    sets.unpersist(blocking = false)
    out
  }

  /** MinHash signatures: k independent permutations approximated by
    * re-hashing ONE base hash of the shingle — the variable-length
    * string is hashed once per row, and the k family members are
    * xxhash64(i, h0) over the fixed 8-byte value (64 string hashes
    * per row were the dominant cost of the signature job). Computed
    * with one explode + one hash aggregate whose partial (map-side)
    * combine folds the k mins before the shuffle. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame =
    signaturesFromBaseHashes(
      // widenForCpu: same scan-width policy as shingleSets — the
      // tokenize+shingle explode below is the signature job's
      // dominant per-row cost
      Relational.widenForCpu(docs, col(idCol)).select(
          col(idCol).as("doc"),
          explode(text.wordShingles(text.tokens(col(textCol)), shingleN))
            .as("shingle"))
        .select(col("doc"), xxhash64(col("shingle")).as("h0")),
      k)

  /** Shared signature aggregation over an exploded (doc, h0)
    * base-hash frame — ONE definition of the k-member hash family, so
    * [[minhashSignatures]] and [[minhashNearDupPairs]] cannot drift
    * apart (the q30/q44 oracle story depends on them being
    * bit-identical). */
  private[graft] def signaturesFromBaseHashes(sh: DataFrame, k: Int): DataFrame = {
    // ONE imperative all-lanes aggregate, not k separate min-agg
    // columns: the k-wide HashAggregate generated ~27 cpu-s of
    // first-use JIT per query plan (PLANS.md "the one-aggregate
    // minhash"), paid again by every signature-building query;
    // MinHashAgg is one shared tight
    // loop, bit-identical lanes (DedupSpec's MinHashAgg parity case
    // pins it against the composed form below)
    import org.apache.spark.sql.graft.{Bridge, MinHashAgg}
    sh.groupBy("doc")
      .agg(Bridge.column(
        MinHashAgg(Bridge.expression(col("h0")), k).toAggregateExpression())
        .as("signature"))
  }

  /** The composed spelling [[signaturesFromBaseHashes]] replaced —
    * kept as the parity REFERENCE the spec asserts lane-for-lane
    * equality against (the codegen-kernel convention: every custom
    * kernel keeps its compositional twin in CI). */
  private[graft] def signaturesComposed(sh: DataFrame, k: Int): DataFrame =
    sh.groupBy("doc")
      .agg(min(xxhash64(lit(0), col("h0"))).as("h0_"),
        (1 until k).map(i => min(xxhash64(lit(i), col("h0"))).as(s"h${i}_")): _*)
      .select(col("doc"),
        array((0 until k).map(i => col(s"h${i}_")): _*).as("signature"))

  /** The ONE banding definition: (doc, band, band_hash) rows from
    * minhash signatures — shared by [[minhashCandidatePairs]] and the
    * at-rest index ([[writeNearDupIndex]]); a second spelling here
    * would silently miss candidates when it drifted. */
  private def bandedSignatures(signatures: DataFrame, bands: Int,
      k: Int): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide signature width $k")
    val r = k / bands
    signatures.select(
      col("doc"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, concat_ws(",",
          slice(col("signature"), b * r + 1, lit(r))))))
        .as(Seq("band", "band_hash")))
  }

  /** MinHash LSH candidate pairs: split the k-wide signature into
    * `bands` bands of k/bands rows, hash each band, and join docs
    * landing in the same (band, bandHash) bucket. `k` is the signature
    * width the CALLER built the signatures with — passing it avoids a
    * driver-side action (and a double execution of the signature job)
    * during plan construction.
    *
    * `minBandMatches` requires that many band collisions per pair
    * (the count aggregate replaces the plain distinct — same
    * shuffle). On a shared-vocabulary corpus single-band collisions
    * are dominated by low-similarity pairs (442k of them at sf0.1);
    * requiring 2 keeps P(miss) at J=0.5 (k=64, r=2) at 0.0012 while
    * shrinking the exact-re-score input by orders of magnitude.
    * Approximate: recall follows the (bands, rows, minBandMatches)
    * S-curve; callers re-score candidates exactly. */
  def minhashCandidatePairs(signatures: DataFrame, bands: Int, k: Int,
      minBandMatches: Int = 1): DataFrame = {
    val banded = bandedSignatures(signatures, bands, k)
    val l = banded.toDF("doc_a", "band", "band_hash")
    val rr = banded.toDF("doc_b", "band", "band_hash")
    l.join(rr, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= minBandMatches)
      .select("doc_a", "doc_b")
  }

  /** End-to-end MinHash near-dup pairs: signatures → LSH banding →
    * EXACT Jaccard re-score on the full shingle sets. The output is a
    * subset of the exact ngram-Jaccard pairs; candidate generation
    * passes `minBandMatches = 2` to [[minhashCandidatePairs]], so with
    * the default parameters (k=64, bands=32, i.e. r=2) a pair at
    * similarity s is missed with probability P(X < 2), X ~
    * Binomial(32, s²): (1-s²)³² + 32·s²·(1-s²)³¹ ≈ 1.2e-3 at s=0.5
    * and < 1e-20 at s=0.9 — so at `threshold` ≥ 0.5 the result equals
    * the exact answer unless a fixture pair sits at the S-curve knee,
    * and is verified against the exact oracle. */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    // single tokenize pass shared by the signature job and both
    // re-score sides (see ngramJaccardPairs for the persist rationale)
    val sets = shingleSets(docs, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = signaturesFromBaseHashes(
      sets.select(col("doc"), explode(col("shingles")).as("shingle"))
        .select(col("doc"), xxhash64(col("shingle")).as("h0")),
      k)
    val candidates = minhashCandidatePairs(sigs, bands, k, minBandMatches = 2)
    // materialize before releasing the shared shingle cache (see
    // ngramJaccardPairs for the leak rationale)
    val out = rescoreJaccard(candidates, sets, threshold)
      .localCheckpoint(eager = true)
    sets.unpersist(blocking = false)
    out
  }

  /** SimHash over the token stream: per token a `width`-bit hash votes
    * ±1 on each bit position; the sign of each accumulated position
    * becomes the output bit. Pure fold — no shuffle. `hashFn` defaults
    * to xxhash64 (fast path); pass [[hashes.md5Hash60]] with width=60
    * for a fingerprint the DuckDB oracle can mirror verbatim.
    * (Bit positions are unrolled at plan-build time because Spark's
    * shift functions take a literal shift amount.) */
  def simhash(textCol: Column, width: Int = 64,
      hashFn: Column => Column = c => xxhash64(c)): Column = {
    val hs = transform(text.tokens(textCol), t => hashFn(t))
    val votes = aggregate(
      hs,
      array_repeat(lit(0L), width),
      (acc, h) => array((0 until width).map { j =>
        element_at(acc, j + 1) +
          when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, lit(1L))
            .otherwise(lit(-1L))
      }: _*))
    val powers = array((0 until width).map(j => lit(1L << j)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v >= 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Connected components over an undirected pair graph by iterative
    * min-label propagation: every node's label converges to the
    * smallest id in its component — which IS the deterministic dedup
    * keeper. Each iteration is one join + one aggregate;
    * `localCheckpoint` truncates the growing lineage (the classic
    * iterative-DataFrame failure mode) and the loop stops as soon as
    * an iteration changes nothing. Diameters of near-dup graphs are
    * tiny (dup clusters are cliques-ish), so iterations ≈ 2-3; the
    * 100 TB upgrade path is large-star/small-star, same interface. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val sym = edges
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // `ckpt` is the iteration's materialized frame; each new iteration
    // frees the superseded one's blocks (Bridge.freeLocalCheckpoint)
    // instead of leaking every iteration's copy for the session.
    var ckpt = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var labels = ckpt
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val nbrMin = sym.join(labels, col("dst") === col("node"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nbr"))
        .select(col("src").as("n2"), col("nbr"))
      val stepped = labels.join(nbrMin, col("node") === col("n2"), "left")
        .select(col("node"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        .localCheckpoint(true)
      changed = stepped.filter(col("label") =!= col("old_label")).count()
      Bridge.freeLocalCheckpoint(ckpt)
      ckpt = stepped
      labels = stepped.select("node", "label")
      iter += 1
    }
    // min-label propagation needs ~diameter iterations; a silent
    // partial result would assign wrong keepers — fail loudly instead
    // (same policy as the streaming timeout guards). Release the
    // cached frames BEFORE throwing: a bench harness that catches
    // per-query failures and continues must not inherit the leak.
    if (changed != 0L) {
      sym.unpersist(blocking = false)
      Bridge.freeLocalCheckpoint(ckpt)
      throw new IllegalArgumentException(
        s"connectedComponents did not converge within $maxIter iterations " +
          "(graph diameter exceeds maxIter); raise maxIter or use " +
          "connectedComponentsStar")
    }
    sym.unpersist(blocking = false)
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (the Kiveris et al. SOCC'14 two-phase algorithm —
    * the published MapReduce/Spark method for web-scale graphs):
    * large-star hangs every node's larger neighbors off its
    * neighborhood minimum, small-star does the same for smaller
    * neighbors, and the edge set converges to per-component stars
    * centered at the component minimum in O(log n) rounds on ANY
    * graph — vs ~diameter rounds for [[connectedComponents]]'s
    * min-label propagation, which a chain-shaped dup graph can push
    * to hundreds of rounds. Same output contract: (node, label =
    * component minimum id). Each round is two aggregate+join shuffles
    * on node keys; superseded iterations' checkpoints are freed as
    * the loop advances. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame =
    starComponents(pairs, aCol, bCol, maxIter)._1

  /** Edge-count gate below which [[starComponents]] runs its
    * driver-side union-find fast path instead of the distributed
    * star rounds — the [[graft.operators.LabelStore.DefaultUfEdgeCap]]
    * convention applied to the shared CC core: a sorted-array
    * union-find over millions of edges is sub-second, vs ~2 shuffle
    * jobs + 2 driver materializations PER star round (the fixed cost
    * that dominated the fixture-scale CC consumers: q178/q208's
    * keeper chains measured 6-11 s of mostly round overhead). Driver
    * memory near the cap: the bounded collect materializes each
    * canonical edge as a boxed `Row` (~100 bytes with its two boxed
    * longs) and the labels go back out as a second `Row` array of up
    * to twice as many nodes, so a collect near the default cap holds
    * on the order of 1 GB of transient driver heap — the primitive
    * arrays the union-find itself runs on (16 bytes per edge) are the
    * small part. Past the cap — the 100 TB edge set — the distributed
    * rounds run unchanged. */
  val DefaultDriverCcEdgeCap: Int = 5000000

  /** [[connectedComponentsStar]] plus the round count (spec asserts
    * the O(log n) behavior against label propagation on a chain;
    * the driver fast path reports 0 rounds). `driverEdgeCap = 0`
    * forces the distributed star rounds (the spec's pin of the
    * O(log n) property, and the twin the parity test runs against). */
  private[graft] def starComponents(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int,
      driverEdgeCap: Int = DefaultDriverCcEdgeCap): (DataFrame, Int) = {
    import org.apache.spark.sql.graft.Bridge
    // canonical working edge set: (u, v) with v < u, no self-loops
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    // fixed-point detection on (count, order-independent hash sum) —
    // one tiny aggregate per round instead of a full except() diff.
    // DECIMAL accumulation: a long sum of 64-bit hashes overflows
    // (and ANSI mode makes that an error, not a wraparound).
    def sig(e: DataFrame): (Long, String) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
    }
    var cur = sig(edges)
    // ── bounded driver fast path (the LabelStore ufCap convention):
    // the first round's signature COUNTS the checkpointed edge set
    // before anything is collected — a limit(cap+1) collect would
    // fetch up to cap+1 rows from every partition of its first wave
    // (limit.initialNumPartitions = the session's cores) before
    // falling through. At or under the cap the collect IS the whole
    // canonical edge set and a sorted-array union-find labels every
    // endpoint with its component minimum — identical output contract
    // to the star rounds (min-id label per edge endpoint), pinned by
    // DedupSpec's driver≡star parity case. Integral id types only;
    // anything exotic falls through to the distributed rounds.
    locally {
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val dt = edges.schema("u").dataType
      if (driverEdgeCap > 0 && (dt == LongType || dt == IntegerType) &&
          cur._1 <= driverEdgeCap) {
        val head = edges.collect()
        Bridge.freeLocalCheckpoint(edges)
        val m = head.length
        val us = new Array[Long](m)
        val vs = new Array[Long](m)
        var i = 0
        while (i < m) {
          val r = head(i)
          if (dt == LongType) { us(i) = r.getLong(0); vs(i) = r.getLong(1) }
          else { us(i) = r.getInt(0).toLong; vs(i) = r.getInt(1).toLong }
          i += 1
        }
        // sorted distinct node universe: index order = id order, so
        // rooting every union at the smaller INDEX makes each final
        // root the component MINIMUM by construction
        val all = new Array[Long](2 * m)
        System.arraycopy(us, 0, all, 0, m)
        System.arraycopy(vs, 0, all, m, m)
        java.util.Arrays.sort(all)
        var n = 0
        i = 0
        while (i < 2 * m) {
          if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
          i += 1
        }
        val parent = new Array[Int](n)
        i = 0
        while (i < n) { parent(i) = i; i += 1 }
        def find(x0: Int): Int = {
          var x = x0
          while (parent(x) != x) { // path halving
            parent(x) = parent(parent(x)); x = parent(x)
          }
          x
        }
        def idx(v: Long): Int =
          java.util.Arrays.binarySearch(all, 0, n, v)
        i = 0
        while (i < m) {
          val ra = find(idx(us(i)))
          val rb = find(idx(vs(i)))
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
          i += 1
        }
        val sess = pairs.sparkSession
        val rows = new Array[org.apache.spark.sql.Row](n)
        i = 0
        while (i < n) {
          val lbl = all(find(i))
          rows(i) =
            if (dt == LongType) org.apache.spark.sql.Row(all(i), lbl)
            else org.apache.spark.sql.Row(all(i).toInt, lbl.toInt)
          i += 1
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", dt),
          org.apache.spark.sql.types.StructField("label", dt)))
        // parallelize (not a LocalRelation) so a multi-million-row
        // label set is task data, not a plan-embedded literal
        val labels = sess.createDataFrame(
          sess.sparkContext.parallelize(rows.toSeq,
            math.max(1, n / 500000)), schema)
        return (labels, 0)
      }
    }
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // large-star: every undirected edge is processed at its SMALLER
      // endpoint u; larger neighbors v re-attach to m = min(Γ(u)∪{u})
      val sym = edges.select(col("u"), col("v"))
        .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // duplicates are harmless here (min and the next join tolerate
      // them; small-star dedups at round end) — a distinct would cost
      // an extra shuffle per round for nothing
      val large = sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // m <= u < v: canonical
        .filter(col("u") =!= col("v"))
      // small-star: each edge processed at its LARGER endpoint u;
      // smaller neighbors (and u itself) re-attach to m = min(Γ(u))
      val ssMin = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(ssMin, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // m < v: canonical
        .unionAll(ssMin.select(col("u"), col("m").as("v"))) // (u, m), m < u
        .distinct()
      val next = small.localCheckpoint(true)
      val nxt = sig(next)
      converged = nxt == cur
      Bridge.freeLocalCheckpoint(edges)
      edges = next
      cur = nxt
      iter += 1
    }
    if (!converged) { // free the working set before failing loudly
      Bridge.freeLocalCheckpoint(edges)
      throw new IllegalArgumentException(
        s"connectedComponentsStar did not converge within $maxIter rounds")
    }
    // at the fixed point every edge is (member, component minimum)
    val labels = edges.select(col("u").as("node"), col("v").as("label"))
      .unionAll(edges.select(col("v").as("node"), col("v").as("label"))
        .distinct())
      .distinct()
    (labels, iter)
  }

  /** Codegen'd md5-60 SimHash over a token array column — the fast
    * form of `simhash(c, 60, hashes.md5Hash60)` (bit-identical;
    * asserted by ExpressionSpec). */
  def simhashFast(tokens: Column, width: Int = 60): Column = {
    import org.apache.spark.sql.graft.{Bridge, SimHashMd5}
    Bridge.column(SimHashMd5(Bridge.expression(tokens), width))
  }

  /** Hamming distance between two simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs, EXACT for the given radius — the
    * Charikar/Manku construction used at web scale. The w-bit
    * fingerprint splits into `nBlocks` disjoint blocks; a pair within
    * `radius` bit flips agrees exactly on ≥ nBlocks − radius of them,
    * so joining on every `keyBlocks`-combination of block values
    * (C(nBlocks, keyBlocks) tables) finds every such pair as long as
    * keyBlocks ≤ nBlocks − radius — recall 1 by pigeonhole, and the
    * Hamming post-filter gives precision 1. No all-pairs join: the
    * shuffle key is (table, packed block values).
    *
    * SCALING THE KEY WIDTH (r2 verdict): with the minimal
    * nBlocks = radius+1, keyBlocks = 1, buckets hold n/2^(w/(r+1))
    * docs — fixed forever, so in-bucket candidate pairs grow
    * quadratically. Raising nBlocks and keyBlocks widens the join key
    * to keyBlocks·w/nBlocks bits at C(nBlocks, keyBlocks) tables:
    * candidates ≈ T·n²/2^keyBits shrink EXPONENTIALLY in the key
    * width for a polynomial table cost — e.g. w=60, r=5: (6,1) = 6
    * tables/10-bit keys; (10,3) = 120 tables/18-bit keys, 256× fewer
    * per-bucket collisions at 20× the rows; (12,7) = 792 tables/35-bit
    * keys for web scale. Same output for ANY valid parameters. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      radius: Int = 5, width: Int = 60, blocks: Option[Int] = None,
      keyBlocks: Int = 1): DataFrame = {
    // widenForCpu: tokenize+simhash is the heavy scan-time kernel here
    val fp = Relational.widenForCpu(docs, col(idCol)).select(col(idCol).as("doc"),
      simhashFast(text.tokens(col(textCol)), width).as("fp"))
    hammingNearDupPairs(fp, radius, width, blocks, keyBlocks)
  }

  /** The Manku pigeonhole join over an ALREADY-COMPUTED fingerprint
    * frame `(doc, fp)` — the blocking/verify core of
    * [[simhashNearDupPairs]], exposed for fingerprints that don't
    * come from text simhash (e.g. the q172 image perceptual hash:
    * any 64-bit-or-less signature where "near duplicate" means small
    * Hamming distance gets the same recall-1 blocking). Identical
    * parameter contract and the same key-width scaling story as the
    * simhash form (scaladoc above). */
  def hammingNearDupPairs(fp: DataFrame, radius: Int, width: Int,
      blocks: Option[Int] = None, keyBlocks: Int = 1): DataFrame = {
    val blocked = pigeonholeKeys(fp, radius, width, blocks, keyBlocks)
    blocked.toDF("doc_a", "fp_a", "tbl", "bkey")
      .join(blocked.toDF("doc_b", "fp_b", "tbl", "bkey"), Seq("tbl", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", hamming64(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= radius)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
  }

  /** The pigeonhole key table of a `(doc, fp)` frame: one row per
    * (doc, table, packed block-combination key) — the blocking grain
    * [[hammingNearDupPairs]] self-joins and the phash index stores
    * at rest. Parameter contract as documented on the simhash form.
    * `private[graft]` because the modality ingest
    * (Streams.modalityManifestIngest) writes its phash key segments
    * from the same key packing. */
  private[graft] def pigeonholeKeys(fp: DataFrame, radius: Int,
      width: Int, blocks: Option[Int], keyBlocks: Int): DataFrame = {
    val nBlocks = blocks.getOrElse(radius + 1)
    require(width % nBlocks == 0, s"blocks=$nBlocks must divide width $width")
    require(keyBlocks >= 1 && keyBlocks <= nBlocks - radius,
      s"pigeonhole needs keyBlocks <= blocks - radius " +
        s"($keyBlocks > $nBlocks - $radius would lose recall)")
    val blockBits = width / nBlocks
    require(keyBlocks * blockBits <= 63,
      s"packed key is ${keyBlocks * blockBits} bits; must fit a long")
    val mask = (1L << blockBits) - 1
    def blockVal(b: Int): Column =
      shiftrightunsigned(col("fp"), b * blockBits).bitwiseAND(lit(mask))
    // one packed key per keyBlocks-combination of blocks
    val keys = (0 until nBlocks).combinations(keyBlocks).toSeq.map { combo =>
      combo.foldLeft(lit(0L))((acc, b) =>
        shiftleft(acc, blockBits).bitwiseOR(blockVal(b)))
    }
    fp.select(col("doc"), col("fp"),
      posexplode(array(keys: _*)).as(Seq("tbl", "bkey")))
  }

  /** AT-REST fingerprint index for the image perceptual-hash family:
    * `dir/keys` holds the [[pigeonholeKeys]] table (doc, fp, tbl,
    * bkey), RANGE-CLUSTERED on bkey (tight non-overlapping per-file
    * spans + bkey-sorted row groups, the Layout.clusteredWrite
    * shape) so the mark's pushed batch-key filter prunes files and
    * row groups instead of deserializing the store — the phash
    * analog of writeNearDupIndex. Parameters are part of the index
    * contract (the marker must block identically); they are recorded
    * in `dir/params` and re-checked on read. */
  def writePhashIndex(fp: DataFrame, dir: String, radius: Int,
      width: Int, blocks: Option[Int] = None, keyBlocks: Int = 1): Unit = {
    val spark = fp.sparkSession
    graft.sources.StoreLease.withLease(spark, dir, "phash-index-build") {
      pigeonholeKeys(fp, radius, width, blocks, keyBlocks)
        .repartitionByRange(col("bkey"))
        .sortWithinPartitions(col("bkey"), col("tbl"))
        .write.mode("overwrite").parquet(s"$dir/keys")
      import spark.implicits._
      Seq((radius, width, blocks.getOrElse(radius + 1), keyBlocks))
        .toDF("radius", "width", "blocks", "key_blocks")
        .write.mode("overwrite").parquet(s"$dir/params")
      phashParamsCache.remove(dir) // rebuilt: next check re-reads
    }
  }

  /** Incremental IMAGE near-dup marking — [[incrementalNearDupAgainst]]
    * on the perceptual-hash modality: every batch fingerprint joins
    * its pigeonhole keys against the AT-REST index
    * ([[writePhashIndex]]) and is flagged with its CLOSEST stored
    * doc within `radius` bit flips (smallest Hamming, ties to the
    * smallest stored id). Returns every batch row: (doc, fp, dup_of
    * nullable, hamming nullable, is_dup). The corpus is touched only
    * through the index; the join is batch-keys × stored-keys on
    * (tbl, bkey) — batch-sized shuffle, recall 1 by the pigeonhole
    * argument, exact Hamming post-filter. Index parameters are
    * re-checked against the caller's (a mismatched blocking would
    * silently lose recall).
    *
    * Once the store crosses `pruneMinStoreBytes` the mark stops
    * scanning it whole: the batch's bkey set is pushed into the
    * bkey-clustered key store ([[restrictTo]]), so parquet row-group
    * stats prune the scan to the batch's own key neighborhoods and
    * per-batch mark cost tracks the BATCH, not the corpus (sentinels:
    * 0 = always prune, Long.MaxValue = always scan — the
    * Streams-probes-once contract of the minhash point-fetch).
    *
    * SINGLE-WRITER assumption (mark-only path): the key-store read
    * here is lease-free, so a concurrent index writer can be
    * mid-append during the scan. The streaming driver serializes
    * batches (one writer by construction); multi-session deployments
    * must serialize external writers against reads themselves or use
    * [[ingestPhashBatchAgainst]], whose mark runs under the store
    * lease. */
  def incrementalPhashAgainst(spark: org.apache.spark.sql.SparkSession,
      batchFp: DataFrame, indexDir: String, radius: Int, width: Int,
      blocks: Option[Int] = None, keyBlocks: Int = 1,
      pruneMinStoreBytes: Long = DefaultPointFetchMinStoreBytes,
      pruneCap: Int = DefaultMarkPruneCap): DataFrame = {
    checkPhashParams(spark, indexDir, radius, width, blocks, keyBlocks)
    // persistKeys = false: the mark-only path reads the key table
    // once, where a persist would be pure materialization overhead
    // left resident until session end (the markAgainstIndex rationale)
    markPhashCore(spark, batchFp, indexDir, radius, width, blocks,
      keyBlocks, persistKeys = false, pruneMinStoreBytes, pruneCap)._2
  }

  /** ALL within-radius pairs touching a batch: batch × at-rest index
    * ([[writePhashIndex]] layout) plus the batch's internal pairs —
    * the PAIR-GRAIN twin of [[incrementalPhashAgainst]] (which
    * reduces to the single closest stored partner). This is the edge
    * feed of an incremental media component store (a [[LabelStore]]
    * on the perceptual modality): component connectivity needs EVERY
    * within-radius edge, not the argmin — a batch doc inside the
    * radius of two mutually-distant stored docs is exactly the
    * bridge that merges their components. Returns (doc_a, doc_b,
    * hamming) with doc_a < doc_b, distinct (multi-table collisions
    * deduped, the [[hammingNearDupPairs]] convention). Same as-of
    * semantics as the mark (a replayed batch's own committed keys
    * are anti-joined out) and the same store-side pruning past the
    * size gate. */
  def phashPairsAgainst(spark: org.apache.spark.sql.SparkSession,
      batchFp: DataFrame, indexDir: String, radius: Int, width: Int,
      blocks: Option[Int] = None, keyBlocks: Int = 1,
      pruneMinStoreBytes: Long = DefaultPointFetchMinStoreBytes,
      pruneCap: Int = DefaultMarkPruneCap,
      materialize: Boolean = true): DataFrame = {
    checkPhashParams(spark, indexDir, radius, width, blocks, keyBlocks)
    val keys0 = pigeonholeKeys(batchFp, radius, width, blocks,
      keyBlocks)
    val prune = storeAtLeastBytes(spark, s"$indexDir/keys",
      pruneMinStoreBytes)
    // the lazy form cannot unpersist after its (deferred) single
    // action, so it re-derives the batch-grain keys instead of
    // retaining a cache for the stream's lifetime
    val keys =
      if (prune && materialize)
        keys0.persist(StorageLevel.MEMORY_AND_DISK)
      else keys0
    val stored = restrictTo(spark.read.parquet(s"$indexDir/keys"), "bkey",
        boundedKeys(keys, "bkey", pruneCap, prune), pruneCap)(identity)
      .toDF("doc_a", "fp_a", "tbl", "bkey")
      .join(broadcast(batchFp.select(col("doc").as("_pp_batch_id"))),
        col("doc_a") === col("_pp_batch_id"), "left_anti")
    val cross = keys.toDF("doc_b", "fp_b", "tbl", "bkey")
      .join(stored, Seq("tbl", "bkey"))
      .withColumn("hamming", hamming64(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= radius)
      .select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        col("hamming"))
    val plan = cross
      .unionByName(hammingNearDupPairs(batchFp, radius, width,
        blocks, keyBlocks))
      .distinct()
    // materialize=false for single-action consumers (the label-store
    // update COLLECTS the pairs once, before any store mutation) —
    // one job saved per call; the default stays safe for callers
    // that read the frame after appending to the index
    val out =
      if (materialize) plan.localCheckpoint(eager = true) else plan
    if (materialize && prune) keys.unpersist(blocking = false)
    out
  }

  /** Session cache of each phash index's recorded params: the check
    * is a 1-row parquet read, but it ran as ONE SPARK JOB per mark /
    * pair call — per (modality, batch) fixed cost on the streaming
    * ingests (r19 probe: ~6 param-check jobs per 3-modality batch).
    * Params are immutable for a built index; [[writePhashIndex]] is
    * the only in-repo writer and invalidates on (re)build. External
    * rebuilds from another process fall under the index family's
    * documented single-writer contract. */
  private val phashParamsCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Seq[(String, Long, Long)], (Int, Int, Int, Int))]()

  private def checkPhashParams(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, radius: Int, width: Int, blocks: Option[Int],
      keyBlocks: Int): Unit = {
    // cache keyed by the params files' (name, length, mtime): an index
    // deleted (versionedStoreDir prune, Scratch cleanup) or rebuilt
    // by an external process at the same path must fail or re-read
    // here, not pass from a stale entry. Every rebuild writes part
    // files under fresh job-UUID names, so the key moves even where
    // the directory's mtime does not (a coarse-mtime filesystem, a
    // time-preserving copy). One FS listing per call, no Spark job;
    // a MISSING params dir throws from the listing, which is the
    // loud failure the check exists for
    val pPath = new org.apache.hadoop.fs.Path(s"$indexDir/params")
    val fs = pPath.getFileSystem(spark.sessionState.newHadoopConf())
    val stamp = fs.listStatus(pPath).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sorted
    val cached = phashParamsCache.get(indexDir)
    val rec =
      if (cached != null && cached._1 == stamp) cached._2
      else {
        val p = spark.read.parquet(s"$indexDir/params").head()
        val r = (p.getInt(0), p.getInt(1), p.getInt(2), p.getInt(3))
        phashParamsCache.put(indexDir, (stamp, r))
        r
      }
    require(rec == (radius, width, blocks.getOrElse(radius + 1),
        keyBlocks),
      s"phash index $indexDir was built with (radius=${rec._1}, " +
        s"width=${rec._2}, blocks=${rec._3}, " +
        s"keyBlocks=${rec._4}) — the marker must block identically")
  }

  /** The shared mark pass: returns (the batch's key table, the marked
    * batch). The marked frame is eagerly materialized so a caller can
    * mutate the index it was computed against without recomputing the
    * join ([[ingestPhashBatchAgainst]]); the key table is handed back
    * so the fused append never re-derives keys from fingerprints. */
  private def markPhashCore(spark: org.apache.spark.sql.SparkSession,
      batchFp: DataFrame, indexDir: String, radius: Int, width: Int,
      blocks: Option[Int], keyBlocks: Int, persistKeys: Boolean,
      pruneMinStoreBytes: Long,
      pruneCap: Int = DefaultMarkPruneCap): (DataFrame, DataFrame) = {
    val keys0 = pigeonholeKeys(batchFp, radius, width, blocks, keyBlocks)
    // STORE-SIDE PRUNING (the r13 scale veto, closed): past the size
    // threshold the whole-store scan-join is the wrong plan — the
    // batch's bkey set is pushed into the bkey-clustered key store
    // ([[restrictTo]]), so the scan reads only the batch's key
    // neighborhoods and per-batch mark IO stops growing with the
    // corpus.
    val prune = storeAtLeastBytes(spark, s"$indexDir/keys",
      pruneMinStoreBytes)
    // the ingest path reads keys twice (mark probe + fresh slice) and
    // the pruning path twice (key collect + mark probe) — cache for
    // either; the plain mark-only path reads it once
    val keys =
      if (persistKeys || prune) keys0.persist(StorageLevel.MEMORY_AND_DISK)
      else keys0
    val storedScan = restrictTo(spark.read.parquet(s"$indexDir/keys"),
      "bkey", boundedKeys(keys, "bkey", pruneCap, prune), pruneCap)(
      identity)
    // AS-OF-BATCH-START semantics, exactly, even on replay (the
    // markAgainstIndex rationale): a retried batch whose append
    // already committed finds its own keys in the store — without
    // this anti-join it would mark its docs as dups of themselves
    // (hamming 0) and of their batch-mates, verdicts the original
    // run (correctly) did not produce. Bounded: one row per batch
    // doc, broadcast.
    val stored = storedScan
      .toDF("doc_a", "fp_a", "tbl", "bkey")
      .join(broadcast(batchFp.select(col("doc").as("_mk_batch_id"))),
        col("doc_a") === col("_mk_batch_id"), "left_anti")
    val marks = keys
      .toDF("doc", "fp", "tbl", "bkey")
      .join(stored, Seq("tbl", "bkey"))
      .withColumn("hamming", hamming64(col("fp"), col("fp_a")))
      .filter(col("hamming") <= radius)
      .groupBy(col("doc"))
      .agg(min(struct(col("hamming"), col("doc_a"))).as("_best"))
      .select(col("doc"), col("_best.doc_a").as("dup_of"),
        col("_best.hamming").as("hamming"))
    val out = batchFp.join(marks, Seq("doc"), "left")
      .select(col("doc"), col("fp"), col("dup_of"), col("hamming"),
        col("dup_of").isNotNull.as("is_dup"))
      .localCheckpoint(eager = true)
    // cached only for the pruning double-read: release now that the
    // mark is materialized (the ingest path keeps its cache for the
    // fresh-keys slice and unpersists in its own finally)
    if (!persistKeys && prune) keys.unpersist(blocking = false)
    (keys, out)
  }

  /** [[incrementalPhashAgainst]] fused with the index append of the
    * FRESH images' keys — the per-micro-batch step of continuous
    * image ingest (Streams.phashIngest), the [[ingestBatchAgainst]]
    * contract on the phash modality: dup images resolve to a stored
    * doc and are NOT appended (the keeper convention — chained
    * near-dups re-resolve to the original, never to each other), and
    * the appended keys are sliced from the mark pass's cached table,
    * never re-derived. `commitTag` makes the append EXACTLY-ONCE
    * under micro-batch retry (the tagged stage → move-in → marker
    * protocol of the minhash ingest — a committed tag skips the
    * append, a half-landed one cleans its own `seg-<tag>-*` files
    * and redoes). */
  def ingestPhashBatchAgainst(spark: org.apache.spark.sql.SparkSession,
      batchFp: DataFrame, indexDir: String, radius: Int, width: Int,
      blocks: Option[Int] = None, keyBlocks: Int = 1,
      commitTag: Option[String] = None,
      pruneMinStoreBytes: Long = DefaultPointFetchMinStoreBytes)
      : DataFrame = {
    checkPhashParams(spark, indexDir, radius, width, blocks, keyBlocks)
    val alreadyCommitted =
      commitTag.exists(t => isBatchCommitted(spark, indexDir, t))
    def markBatch() = markPhashCore(spark, batchFp, indexDir, radius,
      width, blocks, keyBlocks, persistKeys = true, pruneMinStoreBytes)
    if (alreadyCommitted) {
      // replay of a sealed batch: no append will run, and the store
      // cannot be mutated by THIS call — the as-of anti-join inside
      // the mark already hides the batch's own committed keys
      val (keys, out) = markBatch()
      keys.unpersist(blocking = false)
      out
    } else graft.sources.StoreLease.withLease(spark, indexDir,
        commitTag.fold("phash-ingest")(t => s"phash-ingest-$t")) {
      // the lease covers the MARK as well as the append (r13 advice):
      // the eager mark materialization reads the key store, and a
      // concurrent writer mid-append during that read would tear the
      // as-of view — under the lease the view is a sealed store
      val (keys, out) = markBatch()
      try {
        val dupIds = out.filter(col("is_dup")).select(col("doc"))
        val freshKeys = keys
          .join(broadcast(dupIds), Seq("doc"), "left_anti")
          // one bkey-clustered file per ingest segment (the shingles
          // append convention) — row-group stats keep pruning the
          // segment; compaction restores file-level spans
          .repartitionByRange(1, col("bkey"))
          .sortWithinPartitions(col("bkey"), col("tbl"))
        commitTag match {
          case None =>
            freshKeys.write.mode("append").parquet(s"$indexDir/keys")
          case Some(tag) =>
            taggedSegmentAppend(spark, indexDir, tag,
              Seq("keys" -> freshKeys))
        }
        out
      } finally keys.unpersist(blocking = false)
    }
  }

  /** Scale-aware pigeonhole parameterization: the cheapest valid
    * (blocks, keyBlocks) whose packed key is wide enough to keep
    * expected bucket occupancy ≈ `targetOccupancy`. Occupancy is
    * n / 2^keyBits for ANY table count, so the key width must grow
    * with log2 n — PLANS.md "Candidate growth MEASURED at 1×–100×"
    * measured the fixed minimal (6,1) 10-bit keys going superlinear
    * past ~10k docs, exactly the saturation this rule moves out of
    * reach. Valid configs: blocks
    * divides width, keyBlocks ≤ blocks − radius (the recall-1
    * pigeonhole constraint), packed key ≤ 63 bits. Among configs wide
    * enough, the fewest tables wins (tables multiply the shuffle
    * rows); if none is wide enough the widest valid key is used.
    * Derived picks at radius 5, width 60: n=500 → (6,1);
    * n=50k → (10,2); n=5M → (10,3); n=3G → (10,5). */
  def simhashParamsForSize(n: Long, radius: Int = 5, width: Int = 60,
      targetOccupancy: Int = 32): (Int, Int) = {
    val needed = math.max(1, math.ceil(
      math.log(math.max(n, 1L).toDouble / targetOccupancy) /
        math.log(2.0)).toInt)
    def tables(b: Int, k: Int): Long = // C(b, k), stepwise-exact
      (1 to k).foldLeft(1L)((acc, i) => acc * (b - i + 1) / i)
    val configs = for {
      b <- (radius + 1) to width if width % b == 0
      k <- 1 to (b - radius)
      bits = k * (width / b) if bits <= 63
    } yield (b, k, bits)
    val wide = configs.filter(_._3 >= needed)
    val (b, k, _) =
      if (wide.nonEmpty) wide.minBy { case (b, k, bits) => (tables(b, k), bits) }
      else configs.maxBy { case (b, k, bits) => (bits, -tables(b, k)) }
    (b, k)
  }

  /** [[simhashNearDupPairs]] with (blocks, keyBlocks) derived from the
    * corpus size — one `count()` planning statistic (an explicit
    * model-sizing step, like Similarity.lshTopKAuto; not a hidden
    * mid-plan action). Output is identical to any fixed valid
    * parameterization (exactness is parameter-independent); only the
    * candidate volume changes. */
  def simhashNearDupPairsAuto(docs: DataFrame, idCol: String,
      textCol: String, radius: Int = 5, width: Int = 60,
      targetOccupancy: Int = 32): DataFrame = {
    val (b, k) = simhashParamsForSize(
      docs.count(), radius, width, targetOccupancy)
    simhashNearDupPairs(docs, idCol, textCol, radius, width, Some(b), k)
  }

  /** Benchmark DECONTAMINATION — flag documents sharing any word
    * n-gram with a benchmark/eval set, so training data never
    * memorizes the test set. For a benchmark that fits a broadcast
    * (the normal case: eval sets are thousands of items, corpora are
    * billions), the check is a per-row array_intersect against the
    * literal shingle set — zero shuffle, codegen'd, linear scan; the
    * huge-benchmark fallback is the same explode + semi-join shape as
    * [[ngramJaccardPairs]]'s index. Returns the input plus a
    * `contaminated` flag (callers filter or audit). */
  def flagContaminated(docs: DataFrame, textCol: String,
      n: Int, benchmarkShingles: Seq[String]): DataFrame = {
    require(benchmarkShingles.nonEmpty, "empty benchmark set")
    val bench = array(benchmarkShingles.map(lit): _*)
    docs.withColumn("contaminated",
      size(array_intersect(
        text.wordShinglesFast(col(textCol), n), bench)) > 0)
  }

  /** [[flagContaminated]] for a benchmark set too large to inline —
    * the join form: explode the corpus shingles once, LEFT SEMI join
    * against the benchmark shingle table (Spark broadcasts it when it
    * fits, shuffles both sides on the shingle key when it does not —
    * either way no row of clean text ever moves), then mark the hit
    * doc ids with a left join. Identical flags to the literal form
    * (spec-asserted). `bench` must have a `shingle` string column. */
  def flagContaminatedJoin(docs: DataFrame, idCol: String,
      textCol: String, n: Int, bench: DataFrame): DataFrame = {
    val hits = docs
      .select(col(idCol).as("_cid"),
        explode(text.wordShinglesFast(col(textCol), n)).as("shingle"))
      .join(bench.select(col("shingle")), Seq("shingle"), "left_semi")
      .select(col("_cid")).distinct()
      .withColumn("_hit", lit(true))
    docs
      .join(hits, docs(idCol) === hits("_cid"), "left")
      .withColumn("contaminated", coalesce(col("_hit"), lit(false)))
      .drop("_cid", "_hit")
  }

  /** NEAR-duplicate decontamination — the fuzzy complement of
    * [[flagContaminated]]: flag corpus documents whose word-n-gram
    * Jaccard similarity with ANY eval-set document reaches
    * `threshold`, catching paraphrased/reformatted benchmark leakage
    * an exact shingle intersect misses. Returns the corpus plus a
    * `contaminated_neardup` flag.
    *
    * Shape for scale: the eval side is explicitly `broadcast()` (eval
    * sets are thousands of rows; corpora are billions), so the
    * shingle-match join is shuffle-free over the corpus scan; the only
    * shuffle is the (corpus doc, eval doc) candidate aggregate, whose
    * size is bounded by matching pairs — never an all-pairs join. The
    * Jaccard is EXACT: distinct shingles on both sides, intersection
    * counted by equi-join, |A∪B| from the two set sizes. A corpus doc
    * sharing no shingle with any eval doc never leaves its scan
    * partition. An empty eval set flags nothing (vacuous-truth
    * semantics — callers wanting a loud contract should assert their
    * eval set is non-empty upstream). */
  def flagNearDupAgainst(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1]: $threshold")
    val cx = corpus.select(col(idCol).as("_cid"),
      text.wordShinglesFast(col(textCol), n).as("_sh"))
      .withColumn("_csz", size(col("_sh")))
      .select(col("_cid"), col("_csz"), explode(col("_sh")).as("_s"))
    val ex = evalSet.select(col(idCol).as("_eid"),
      text.wordShinglesFast(col(textCol), n).as("_sh"))
      .withColumn("_esz", size(col("_sh")))
      .select(col("_eid"), col("_esz"), explode(col("_sh")).as("_s"))
    val hits = cx.join(broadcast(ex), Seq("_s"))
      .groupBy(col("_cid"), col("_eid"), col("_csz"), col("_esz"))
      .agg(count(lit(1)).as("_inter"))
      .filter(col("_inter").cast("double") /
        (col("_csz") + col("_esz") - col("_inter")).cast("double")
        >= threshold)
      .select(col("_cid")).distinct()
      .withColumn("_hit", lit(true))
    corpus
      .join(hits, corpus(idCol) === hits("_cid"), "left")
      .withColumn("contaminated_neardup", coalesce(col("_hit"), lit(false)))
      .drop("_cid", "_hit")
  }

  /** GRADED contamination — the continuous complement of the binary
    * [[flagContaminated]] family: per corpus document, the fraction
    * of its distinct n-gram shingles that appear ANYWHERE in the eval
    * set (containment of the doc in the eval union). The binary flag
    * answers "touches a benchmark?"; this answers "how much of the
    * doc IS benchmark text?" — the number a pipeline needs to pick a
    * cutoff deliberately instead of inheriting one (see q135, which
    * rolls these scores into a per-source threshold-sensitivity
    * report: rates at several cutoffs in one pass tell you whether
    * your chosen threshold sits on a cliff of the distribution).
    *
    * Scale shape (the [[flagContaminatedJoin]] contract): the corpus
    * is scanned twice and its text never shuffles — the match branch
    * ships only (id, shingle-hit) rows into a semi-join against the
    * DISTINCT eval shingle table (AQE broadcasts it while small,
    * token-keyed shuffle join beyond that), and the per-doc counts
    * join back to the (id, set-size) projection. Exactness: the score
    * is a ratio of two integers — identical doubles in both engines —
    * and consumers compare/sum it under the rounded-decimal
    * convention. Empty docs score 0.0. */
  def contaminationScores(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    contaminationScoresAgainst(corpus, evalSet
      .select(explode(text.wordShinglesFast(col(textCol), n))
        .as("shingle"))
      .distinct(), idCol, textCol, n)

  /** [[contaminationScores]] against a PRECOMPUTED distinct eval
    * shingle frame (one `shingle` column) — the streaming-ingest
    * form: the eval reference is static per stream, so its shingle
    * set is derived once and reused by every micro-batch instead of
    * re-shingled per batch. */
  def contaminationScoresAgainst(corpus: DataFrame,
      evalSh: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val cx = corpus.select(col(idCol),
        text.wordShinglesFast(col(textCol), n).as("_sh"))
      .withColumn("_csz", size(col("_sh")).cast("long"))
    val hits = cx
      .select(col(idCol), explode(col("_sh")).as("shingle"))
      .join(evalSh, Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_m"))
    cx.select(col(idCol), col("_csz"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_matched", coalesce(col("_m"), lit(0L)))
      .withColumn("contamination",
        when(col("_csz") > 0,
          col("n_matched").cast("double") / col("_csz").cast("double"))
          .otherwise(lit(0.0)))
      .select(col(idCol), col("_csz").as("n_shingles"),
        col("n_matched"), col("contamination"))
  }

  /** NS: CONTAMINATION SPAN EXCISION — the finest-grain
    * decontamination form (the GPT-3/PaLM appendix recipe): instead
    * of DROPPING a document that shares n-grams with the eval fold
    * ([[contaminationScores]] + a threshold), locate every token
    * position whose n-gram matches the eval set and EXCISE the
    * union of the n-token windows around the matches — the document
    * survives minus its contaminated spans. Returns one row per
    * input document: `n_tok`, `grams_matched` (matching positions),
    * and `tokens_excised` (the exact union length of the matched
    * windows — overlapping windows counted once).
    *
    * Exact integer arithmetic end-to-end: match positions are
    * 1-based token indices, windows are [pos, pos+n), and the union
    * is the classic islands computation — a window over (doc, pos)
    * marks a new island when pos clears the running max window end,
    * and each island contributes max(pos)+n−min(pos) tokens. Both
    * engines run the identical island walk, so the oracle match is
    * bit-exact with no float surface.
    *
    * Scale shape (100 TB): eval n-grams are a bounded md5-60 set
    * (eval suites are fixed-size); positions stream out of the scan
    * and reduce by a LEFT SEMI join before any window runs — the
    * per-doc window sees only MATCHED positions (rare by
    * construction), never the corpus token stream; all windows are
    * doc-partitioned (no global window). */
  def contaminationExcision(docs: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val (toks, intervals) =
      excisionIntervals(docs, evalSet, idCol, textCol, n,
        "contaminationExcision")
    val perDoc = intervals
      .groupBy(col("_ce_id"))
      .agg(sum(col("_ce_e") - col("_ce_a")).cast("long")
        .as("tokens_excised"),
        sum(col("_ce_m")).as("grams_matched"))
    toks
      .select(col("_ce_id"), size(col("_ce_toks")).cast("long")
        .as("n_tok"))
      .join(perDoc, Seq("_ce_id"), "left")
      .select(col("_ce_id").as(idCol), col("n_tok"),
        coalesce(col("grams_matched"), lit(0L)).as("grams_matched"),
        coalesce(col("tokens_excised"), lit(0L)).as("tokens_excised"))
  }

  /** Shared match-and-union core of [[contaminationExcision]] and
    * [[contaminationExcisedDocs]]: tokenize, hash every n-gram
    * position, LEFT SEMI against the distinct eval grams, and union
    * overlapping windows with the doc-partitioned island walk.
    * Returns (`toks`: _ce_id/_ce_toks for every input doc,
    * `intervals`: one row per excision island — _ce_id, _ce_a
    * inclusive 1-based start, _ce_e exclusive end, _ce_m matched
    * positions inside it). ONE definition, so the report and the
    * surgery can never disagree on what gets excised. */
  private def excisionIntervals(docs: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int, caller: String)
      : (DataFrame, DataFrame) = {
    require(n >= 2 && n <= 64, s"$caller: n must be in [2, 64]: $n")
    val evalGrams = evalSet
      .withColumn("_ce_toks", text.tokens(col(textCol)))
      .select(explode(gramPositions(col("_ce_toks"), n)).as("_ce_p"),
        col("_ce_toks"))
      .select(gramHashAt(col("_ce_toks"), col("_ce_p"), n).as("_ce_g"))
      .distinct()
    val toks = docs.select(col(idCol).as("_ce_id"),
      text.tokens(col(textCol)).as("_ce_toks"))
    // the match scan computes one md5 per token position over the
    // WHOLE corpus — widen past file width before the kernel, exactly
    // as selfDupExcision does (few input files otherwise pin the
    // hottest scan of the family to tasks_max = file count)
    val matched = Relational.widenForCpu(toks, col("_ce_id"))
      .select(col("_ce_id"),
        explode(gramPositions(col("_ce_toks"), n)).as("_ce_p"),
        col("_ce_toks"))
      .select(col("_ce_id"), col("_ce_p"),
        gramHashAt(col("_ce_toks"), col("_ce_p"), n).as("_ce_g"))
      .join(evalGrams, Seq("_ce_g"), "left_semi")
    (toks, islandIntervals(matched, n))
  }

  /** md5-60 hash of the n-gram of `toks` starting at 1-based `pos`. */
  private def gramHashAt(toks: Column, pos: Column, n: Int): Column =
    hashes.md5Hash60(array_join(slice(toks, pos, lit(n)), " "))

  /** 1-based n-gram start positions of `toks` (empty when too short). */
  private def gramPositions(toks: Column, n: Int): Column =
    when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))

  /** ONE rendering of the overlap-union island walk shared by the
    * contamination excision family and [[selfDupExcision]]: `matched`
    * is (_ce_id, _ce_p) — the positions whose n-gram matched — and
    * the result is one row per excision island (_ce_id, _ce_a
    * inclusive 1-based start, _ce_e exclusive end, _ce_m matched
    * positions inside it). Doc-partitioned windows over MATCHED
    * positions only; exact integer arithmetic end to end. */
  private def islandIntervals(matched: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_ce_id")).orderBy(col("_ce_p"))
    val prevEnd = max(col("_ce_p") + n)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    matched
      .withColumn("_ce_s",
        when(prevEnd.isNull || col("_ce_p") >= prevEnd, 1L)
          .otherwise(0L))
      .withColumn("_ce_isl", sum(col("_ce_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("_ce_id"), col("_ce_isl"))
      .agg(min(col("_ce_p")).as("_ce_a"),
        (max(col("_ce_p")) + n).as("_ce_e"),
        count(lit(1)).as("_ce_m"))
      // island-grain (tiny); materialized once so the report's two
      // consumers (and the surgery's three) don't re-run the corpus
      // match chain per plan branch
      .localCheckpoint()
  }

  /** The SURGERY half of [[contaminationExcision]] — materialize the
    * cleaned documents themselves (the q136→q154 move: first the
    * report, then the transformation it prices). For every AFFECTED
    * document (tokens_excised > 0), rebuild the token stream minus
    * the excised windows and return `(idCol, n_tok, tokens_excised,
    * clean_hash)` where `clean_hash` is the md5-60 of the kept
    * tokens re-joined in order (NULL when excision consumed the
    * whole document). The hash — not the text — is the output
    * contract: the oracle rebuilds the same cleaned string
    * independently, so a bit-exact hash match proves the surgery,
    * while the report keeps bounded row width.
    *
    * Scale shape: everything downstream of the match is
    * affected-doc-grain (rare by construction); the only corpus-
    * grain work is the same scan+semi-join as the report. Kept
    * tokens reassemble with array_sort over (pos, token) structs —
    * per-doc grain, no global sort. */
  def contaminationExcisedDocs(docs: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val (_, intervals) =
      excisionIntervals(docs, evalSet, idCol, textCol, n,
        "contaminationExcisedDocs")
    excisedDocsFrom(docs, idCol, textCol, intervals)
  }

  /** The SURGERY core shared by [[contaminationExcisedDocs]] and
    * [[selfDupExcisedDocs]]: given the excision islands (_ce_id,
    * _ce_a inclusive 1-based start, _ce_e exclusive end), rebuild
    * every AFFECTED document's token stream minus the excised
    * windows and return `(idCol, n_tok, tokens_excised, clean_hash)`
    * — clean_hash the md5-60 of the kept tokens re-joined in order,
    * NULL when excision consumed the whole document. ONE definition,
    * so the eval-fold surgery and the self-dedup surgery cannot
    * drift. Everything below the islands is affected-doc grain. */
  private def excisedDocsFrom(docs: DataFrame, idCol: String,
      textCol: String, intervals: DataFrame): DataFrame = {
    val covered = intervals
      .select(col("_ce_id"),
        explode(sequence(col("_ce_a"), col("_ce_e") - 1))
          .as("_ce_cp"))
    val affected = intervals
      .groupBy(col("_ce_id"))
      .agg(sum(col("_ce_e") - col("_ce_a")).cast("long")
        .as("tokens_excised"))
    // tokenize ONLY the affected documents (rare by construction):
    // the semi join runs on raw ids BEFORE the tokenize projection,
    // so the surgery's corpus-grain work is exactly the one match
    // scan that produced the islands
    val affToks = docs
      .select(col(idCol).as("_ce_id"), col(textCol))
      .join(affected.select(col("_ce_id")), Seq("_ce_id"), "left_semi")
      .select(col("_ce_id"), text.tokens(col(textCol)).as("_ce_toks"))
    val kept = affToks
      .select(col("_ce_id"),
        posexplode(col("_ce_toks")).as(Seq("_ce_p0", "_ce_t")))
      .select(col("_ce_id"), (col("_ce_p0") + 1).as("_ce_cp"),
        col("_ce_t"))
      .join(covered, Seq("_ce_id", "_ce_cp"), "left_anti")
      .groupBy(col("_ce_id"))
      .agg(hashes.md5Hash60(array_join(
        transform(
          array_sort(collect_list(struct(col("_ce_cp"), col("_ce_t")))),
          x => x.getField("_ce_t")), " ")).as("clean_hash"))
    affToks
      .select(col("_ce_id"),
        size(col("_ce_toks")).cast("long").as("n_tok"))
      .join(affected, Seq("_ce_id"))
      .join(kept, Seq("_ce_id"), "left")
      .select(col("_ce_id").as(idCol), col("n_tok"),
        col("tokens_excised"), col("clean_hash"))
  }

  /** The SURGERY half of [[selfDupExcision]] — the ExactSubstr
    * TRANSFORM proper (Lee et al. 2022: the deduplicated corpus, not
    * just its price): for every affected document, materialize the
    * token stream minus every non-owner duplicated window (the q166
    * report's exact islands — one match core, one island walk, one
    * surgery core, so the report and the surgery can never disagree)
    * as `(idCol, n_tok, tokens_excised, clean_hash)`. The first
    * (min (doc, pos)) occurrence of every duplicated gram survives
    * somewhere in the corpus by construction; clean_hash is NULL
    * when a document was excised to nothing (a verbatim re-post of
    * earlier content). Scale shape: identical to [[selfDupExcision]]
    * plus affected-doc-grain rebuild — the corpus-grain work is the
    * one gram-keyed shuffle pair. */
  def selfDupExcisedDocs(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 2 && n <= 64, s"selfDupExcisedDocs: n in [2, 64]: $n")
    val (_, matched, pos) = selfDupMatched(docs, idCol, textCol, n)
    // islandIntervals EAGERLY checkpoints the (tiny) island table, so
    // the positional gram cache can release here and the surgery
    // itself stays a lazy, auditable plan (the q164 shape)
    val intervals = islandIntervals(matched, n)
    pos.unpersist(blocking = false)
    excisedDocsFrom(docs, idCol, textCol, intervals)
  }

  /** NS: EXACT-SUBSTRING SELF-DEDUP — the ExactSubstr recipe of Lee
    * et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): a span of >= n consecutive tokens that occurs MORE THAN
    * ONCE in the corpus (across documents or repeated inside one) is
    * excised from every occurrence EXCEPT THE FIRST — the span-grain
    * complement of the whole-doc keeper (q84) and the eval-set
    * excision ([[contaminationExcision]], which this shares its
    * island walk with). "First" is the (doc id, position) order, so
    * the keeper rule is deterministic and oracle-replayable.
    *
    * Dataflow: hash every n-gram position; per gram, the OWNER is
    * min(struct(id, pos)) — a hash aggregate whose partial (map-side)
    * min collapses a page's repeated boilerplate before the exchange;
    * only grams with >1 occurrence survive the owner table; positions
    * re-join it on the gram hash and every non-owner occurrence is a
    * matched position. Matched positions widen to n-token windows and
    * union by the shared doc-partitioned island walk. Returns one row
    * per input document: `n_tok`, `grams_deduped` (non-owner
    * positions), `tokens_excised` (exact union length).
    *
    * Scale shape (100 TB): Lee et al. build a monolithic suffix
    * array; the distributed equivalent is exactly this gram-keyed
    * shuffle pair — positions shuffle once on the 60-bit gram hash
    * (sort-free hash aggregate, not a suffix sort), and the join-back
    * probe streams the same exchange. The owner table is bounded by
    * the DUPLICATED gram count (<< corpus positions in a cleaned
    * corpus); the per-doc window sees only matched positions. No
    * global window, no driver materialization, integer end to end. */
  def selfDupExcision(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2 && n <= 64, s"selfDupExcision: n in [2, 64]: $n")
    val (toks, matched, pos) = selfDupMatched(docs, idCol, textCol, n)
    val perDoc = islandIntervals(matched, n)
      .groupBy(col("_ce_id"))
      .agg(sum(col("_ce_e") - col("_ce_a")).cast("long")
        .as("tokens_excised"),
        sum(col("_ce_m")).as("grams_deduped"))
    val out = toks
      .select(col("_ce_id"), size(col("_ce_toks")).cast("long")
        .as("n_tok"))
      .join(perDoc, Seq("_ce_id"), "left")
      .select(col("_ce_id").as(idCol), col("n_tok"),
        coalesce(col("grams_deduped"), lit(0L)).as("grams_deduped"),
        coalesce(col("tokens_excised"), lit(0L)).as("tokens_excised"))
      .localCheckpoint(eager = true)
    pos.unpersist(blocking = false)
    out
  }

  /** Shared non-owner match scan of [[selfDupExcision]] and
    * [[selfDupMaximalSpans]]: tokenize, hash every n-gram position,
    * find each gram's owner (min (doc, pos) struct), and return every
    * NON-owner occurrence of a duplicated gram. ONE definition, so
    * the fixed-grain excision report and the maximal-span report can
    * never disagree on what counts as duplicated. Returns (`toks`:
    * _ce_id/_ce_toks for every input doc, `matched`: non-owner
    * (_ce_id, _ce_p) positions, `pos`: the persisted positional gram
    * stream — callers materialize their result, then unpersist it).
    * The positional stream feeds BOTH the owner aggregate and the
    * join probe — persisted so the tokenize+hash runs once (the
    * dupSpanStats pattern). */
  private def selfDupMatched(docs: DataFrame, idCol: String,
      textCol: String, n: Int): (DataFrame, DataFrame, DataFrame) = {
    val toks = docs.select(col(idCol).as("_ce_id"),
      text.tokens(col(textCol)).as("_ce_toks"))
    val pos = Relational.widenForCpu(toks, col("_ce_id"))
      .select(col("_ce_id"),
        explode(gramPositions(col("_ce_toks"), n)).as("_ce_p"),
        col("_ce_toks"))
      .select(col("_ce_id"), col("_ce_p"),
        gramHashAt(col("_ce_toks"), col("_ce_p"), n).as("_ce_g"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val owners = pos
      .groupBy(col("_ce_g"))
      .agg(min(struct(col("_ce_id"), col("_ce_p"))).as("_ce_o"),
        count(lit(1)).as("_ce_c"))
      .filter(col("_ce_c") > 1L)
      .select(col("_ce_g"), col("_ce_o"))
    val matched = pos
      .join(owners, Seq("_ce_g"))
      .filter(struct(col("_ce_id"), col("_ce_p")) =!= col("_ce_o"))
      .select(col("_ce_id"), col("_ce_p"))
    (toks, matched, pos)
  }

  /** NS: MAXIMAL-SPAN EXACT-SUBSTRING REPORT — the span-length half
    * of the ExactSubstr recipe (Lee et al. 2022 §4.1: remove maximal
    * duplicated substrings of >= 50 tokens; [[selfDupExcision]] is
    * the fixed-gram-grain union). A maximal span is a maximal run of
    * CONSECUTIVE non-owner duplicated-gram positions — gaps-and-
    * islands on position − row_number, the strictly tighter grouping
    * than the overlap-union island walk (which merges runs up to n−1
    * apart) — covering run_len + n − 1 tokens. Only spans of
    * `minSpan`+ tokens qualify: sub-threshold duplication (idioms,
    * short quotes) is tolerated, exactly the Lee et al. length gate.
    * Returns one row per input document: `n_tok`, `spans` (qualifying
    * maximal spans), `max_span` (longest, 0 when none), and
    * `tokens_excised` — the UNION length of the qualifying spans
    * (adjacent runs < n apart produce overlapping intervals; the
    * variable-width interval-union walk is span-grain, rare by
    * construction).
    *
    * Scale shape (100 TB): identical to [[selfDupExcision]] — ONE
    * gram-keyed shuffle pair (sort-free hash aggregate + join-back
    * probe, never a suffix sort), then every window is
    * doc-partitioned over MATCHED positions only. The run walk and
    * the interval union add two span-grain windows, bounded by the
    * duplicated-position count, not the corpus. */
  def selfDupMaximalSpans(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minSpan: Int): DataFrame = {
    require(n >= 2 && n <= 64, s"selfDupMaximalSpans: n in [2, 64]: $n")
    require(minSpan >= n,
      s"selfDupMaximalSpans: minSpan >= n required: $minSpan < $n")
    import org.apache.spark.sql.expressions.Window
    val (toks, matched, pos) = selfDupMatched(docs, idCol, textCol, n)
    val wp = Window.partitionBy(col("_ce_id")).orderBy(col("_ce_p"))
    val spans = matched
      .withColumn("_ce_run", col("_ce_p") - row_number().over(wp))
      .groupBy(col("_ce_id"), col("_ce_run"))
      .agg(min(col("_ce_p")).as("_ce_a"),
        (max(col("_ce_p")) + n).as("_ce_e"))
      .filter(col("_ce_e") - col("_ce_a") >= minSpan)
      .select(col("_ce_id"), col("_ce_a"), col("_ce_e"))
      // span-grain (tiny); materialized once so the count/max branch
      // and the union-walk branch don't re-run the corpus match chain
      .localCheckpoint()
    val perDoc = spans
      .groupBy(col("_ce_id"))
      .agg(count(lit(1)).as("spans"),
        max(col("_ce_e") - col("_ce_a")).cast("long").as("max_span"))
    // variable-width interval union: runs < n apart overlap once
    // widened to token intervals, so summing span lengths would
    // double-count the overlap — same prevEnd walk as
    // islandIntervals, over span ends instead of pos + n
    val wu = Window.partitionBy(col("_ce_id"))
      .orderBy(col("_ce_a"), col("_ce_e"))
    val prevEnd = max(col("_ce_e"))
      .over(wu.rowsBetween(Window.unboundedPreceding, -1))
    val unionLen = spans
      .withColumn("_ce_s",
        when(prevEnd.isNull || col("_ce_a") >= prevEnd, 1L)
          .otherwise(0L))
      .withColumn("_ce_isl", sum(col("_ce_s"))
        .over(wu.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("_ce_id"), col("_ce_isl"))
      .agg(min(col("_ce_a")).as("_ce_ua"), max(col("_ce_e")).as("_ce_ue"))
      .groupBy(col("_ce_id"))
      .agg(sum(col("_ce_ue") - col("_ce_ua")).cast("long")
        .as("tokens_excised"))
    val out = toks
      .select(col("_ce_id"), size(col("_ce_toks")).cast("long")
        .as("n_tok"))
      .join(perDoc, Seq("_ce_id"), "left")
      .join(unionLen, Seq("_ce_id"), "left")
      .select(col("_ce_id").as(idCol), col("n_tok"),
        coalesce(col("spans"), lit(0L)).as("spans"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        coalesce(col("tokens_excised"), lit(0L)).as("tokens_excised"))
      .localCheckpoint(eager = true)
    pos.unpersist(blocking = false)
    out
  }

  /** Incremental-ingest exact dedup: keep only batch documents whose
    * content is absent from the already-ingested corpus — the
    * every-new-crawl step of a continuously growing training corpus
    * (re-crawled pages arrive with new ids but identical bodies).
    *
    * Anti-joins on md5(content), NOT the content itself, so the
    * corpus side shuffles 16-byte digests instead of document bodies
    * — at 100 TB the corpus-side shuffle is metadata-sized, and the
    * (small) new batch is the only side carrying text. md5 is a
    * deliberate exactness trade: a collision silently drops one new
    * document, at ~2⁻⁶⁴ birthday odds even for 10¹⁰-doc corpora —
    * the industry-standard contract for content-hash dedup (an
    * actually-exact variant would re-verify candidate hash matches
    * against the corpus text store). The DuckDB oracle applies the
    * identical md5 anti-join. */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame = {
    val seen = corpus
      .select(md5(col(textCol).cast("binary")).as("_seen_h")).distinct()
    batch.join(seen,
      md5(col(textCol).cast("binary")) === col("_seen_h"), "left_anti")
  }

  /** Bloom-accelerated incremental dedup: semantically identical to
    * [[incrementalDedup]] (same md5 anti-join contract) but built as
    * a runtime-filter pipeline so the CORPUS NEVER SHUFFLES — the
    * shape that survives a 10¹⁰-document corpus where the plain
    * anti-join would shuffle every corpus digest per ingest batch.
    *
    * Plan (scan-only on the corpus, broadcast-only joins):
    *  1. One corpus scan folds xxhash64(text) into a Bloom sketch via
    *     Spark's native `BloomFilterAggregate` (the same machinery
    *     Catalyst's InjectRuntimeFilter uses), attached as a scalar
    *     subquery — no driver-side collect; partial sketches OR-merge
    *     to one `numBits`-bit value (~150 KB at fpp=0.01 for 2¹⁷
    *     items), broadcast by subquery execution.
    *  2. Batch rows failing `might_contain` are DEFINITELY new
    *     (Bloom has no false negatives) and bypass all joins.
    *  3. The maybe-dup remainder — true dups + an fpp fraction of the
    *     batch, small by construction — broadcasts against a second
    *     corpus scan (LeftSemi, build side = maybe digests) to confirm
    *     which digests really exist, then a broadcast anti-join
    *     removes the confirmed dups. False positives die here, so the
    *     result is EXACTLY `incrementalDedup`'s (DedupSpec asserts
    *     equivalence, including under a deliberately overloaded
    *     1-item-capacity sketch where fpp ≈ 1).
    *
    * The batch side is scanned twice (definite-new + maybe branches)
    * — scans are shuffle-free and cheap next to the corpus-digest
    * shuffle this shape eliminates; persist `batch` first if it is
    * expensive to recompute. Size `expectedItems` from corpus table
    * stats (row count); an undersized sketch only raises the false-
    * positive rate, never breaks correctness. */
  def incrementalDedupBloom(batch: DataFrame, corpus: DataFrame,
      textCol: String, expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    require(expectedItems > 0, s"expectedItems must be > 0: $expectedItems")
    // BloomFilterAggregate rejects estimatedNumItems/numBits above the
    // session's runtime-filter caps (spark.sql.optimizer.runtime.
    // bloomFilter.maxNumItems/maxNumBits, defaults 4M / 67M bits) at
    // ANALYSIS time — so an honest 10¹⁰-row corpus estimate would
    // throw before running. Clamp to the caps: undersizing only raises
    // the false-positive rate, which the confirm join absorbs; raise
    // the two confs to let a bigger sketch through.
    val conf = batch.sparkSession.conf
    def cap(key: String, dflt: Long): Long =
      conf.getOption(key).map(_.toLong).getOrElse(dflt)
    val items = expectedItems.min(cap(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 4000000L))
    val idealBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(items, fpp)
    val numBits = idealBits
      .min(cap("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 67108864L))
    // the clamp is invisible in results (the confirm join absorbs any
    // fpp) but NOT in cost: at a 10^10-row corpus estimate the maybe
    // branch quietly grows to ~the whole batch. Say so.
    if (items < expectedItems || numBits < idealBits)
      org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
        s"bloom sketch clamped to session runtime-filter caps " +
          s"(items $expectedItems -> $items, bits $idealBits -> " +
          s"$numBits): false-positive rate rises above fpp=$fpp and " +
          "the confirm-join branch grows accordingly; raise " +
          "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/" +
          "maxNumBits to restore the sized sketch")
    val sketch = Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(xxhash64(col(textCol))),
        Bridge.expression(lit(items)),
        Bridge.expression(lit(numBits))).toAggregateExpression())
    val bloom = corpus.agg(sketch.as("bf")).scalar()
    // null only when the corpus is empty (BloomFilterAggregate yields
    // null for a zero-cardinality sketch) — then nothing is a dup and
    // the definite-new branch correctly keeps everything
    val mightBeDup = coalesce(
      Bridge.column(BloomFilterMightContain(
        Bridge.expression(bloom),
        Bridge.expression(xxhash64(col(textCol))))),
      lit(false))
    val definiteNew = batch.filter(!mightBeDup)
    val maybe = batch.filter(mightBeDup)
    val maybeDigests = maybe
      .select(md5(col(textCol).cast("binary")).as("_d")).distinct()
    val confirmed = corpus
      .select(md5(col(textCol).cast("binary")).as("_seen_h"))
      .join(broadcast(maybeDigests), col("_seen_h") === col("_d"), "left_semi")
      .distinct()
    maybe.join(broadcast(confirmed),
        md5(col(textCol).cast("binary")) === col("_seen_h"), "left_anti")
      .unionByName(definiteNew)
  }

  /** Resolve near-duplicate groups to KEPT documents: connected
    * components over the candidate `pairs` (large-star/small-star,
    * O(log n) rounds), then one row per component — the member with
    * the highest `qualityCol` (ties → smallest id, so the keeper is
    * deterministic under any partitioning). Documents in no pair are
    * their own component and always kept. This is the step that turns
    * pair detection (MinHash/SimHash/embedding) into an actual
    * deduplicated corpus; quality-argmax (not min-id) keeping is what
    * training pipelines want — the best re-crawl wins, not the first.
    *
    * One extra shuffle beyond the CC rounds: the per-component
    * row_number window. The window partitions on component id, whose
    * cardinality ~ corpus size; group sizes are near-dup cluster
    * sizes (small by construction), so no skew concern. */
  def resolveDuplicates(docs: DataFrame, pairs: DataFrame, idCol: String,
      qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = connectedComponentsStar(pairs, "doc_a", "doc_b")
      .toDF("_cc_id", "_comp")
    val withComp = docs
      .join(cc, docs(idCol) === col("_cc_id"), "left")
      .withColumn("_comp", coalesce(col("_comp"), col(idCol)))
      .drop("_cc_id")
    val w = Window.partitionBy(col("_comp"))
      .orderBy(col(qualityCol).desc, col(idCol))
    withComp.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_comp")
  }

  /** Exact duplicated-span accounting (the suffix-array-style exact
    * substring dedup signal, re-expressed as joins): for every token
    * position of every document, is the n-gram starting there present
    * in at least one OTHER document? Returns one row per document
    * with ≥ 1 n-gram: (doc, carry..., total_ngrams, shared_ngrams) —
    * shared_ngrams/total_ngrams is the fraction of the document
    * covered by text duplicated elsewhere, the cut criterion for
    * boilerplate and templated spam that per-document signals
    * (repetition, quality) cannot see.
    *
    * Scale shape: positional grams explode map-side (no shuffle);
    * cross-document support is one hash aggregate on the gram
    * (count distinct doc plans as the standard two-phase distinct
    * aggregate); the join back is gram-co-partitioned; the final
    * per-doc aggregate is the only row-reducing shuffle. Nothing
    * carries document bodies past the explode. Production knob: key
    * the support table on a 60-bit gram hash instead of the string
    * (graft.functions.hashes) to shrink shuffle width — kept as the
    * raw string here so the oracle mirror shares the exact join key.
    * Documents with fewer than n tokens have no positions and emit
    * no row (mirror of the oracle's empty range). */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int, carryCols: Seq[String] = Nil): DataFrame = {
    // tokenize + positional explode is the dominant cost and feeds
    // BOTH the support aggregate and the join probe side — persist so
    // it runs once (see ngramJaccardPairs for the pattern rationale);
    // the per-doc result is materialized before the cache is released
    // widenForCpu: the positional explode multiplies rows ~tokens×,
    // so the narrow input must already be full-width going in
    val pos = Relational.widenForCpu(docs, col(idCol)).select(
      col(idCol).as("doc") +: carryCols.map(col) :+
        explode(text.positionalShingles(text.tokens(col(textCol)), n))
          .as("g"): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val support = pos.groupBy(col("g"))
      .agg(countDistinct(col("doc")).as("docs_with"))
    val out = pos.join(support, "g")
      .groupBy(col("doc") +: carryCols.map(col): _*)
      .agg(count(lit(1)).as("total_ngrams"),
        sum(when(col("docs_with") >= 2, 1L).otherwise(0L))
          .as("shared_ngrams"))
      .localCheckpoint(eager = true)
    pos.unpersist(blocking = false)
    out
  }

  /** Line-level boilerplate removal (the CCNet/C4 paragraph-dedup
    * cut, Wenzek et al. 2020; the reference has no analog): a line
    * occurring in more than `maxDf` DISTINCT documents is boilerplate
    * (nav menus, cookie banners, copyright footers) and is stripped
    * from every document, preserving the order of surviving lines.
    * Returns the input with `textCol` rewritten plus `lines_before` /
    * `lines_kept` counters.
    *
    * Scale shape (100 TB): the only corpus-wide shuffle is the
    * line-support aggregate, and countDistinct's partial expand
    * dedups (line, doc) map-side so a page's repeated line collapses
    * before the exchange. The hot set is reduced to ONE row — by
    * definition of boilerplate (df > maxDf) it is tiny relative to
    * the corpus — and broadcast back, so the documents themselves
    * NEVER shuffle: the strip is a per-row array filter against the
    * broadcast set. `maxHotLines` guards the broadcast: a
    * misconfigured maxDf (below the corpus's natural duplication
    * rate) would balloon the hot set, and the query fails loudly at
    * execution instead of OOMing the driver. */
  def stripHotLines(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Long, maxHotLines: Int = 1000000): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1: $maxDf")
    // deliberately NOT widenForCpu'd: the zero-corpus-shuffle contract
    // is the operator's point, and the per-row kernel (line split +
    // set filter) measured LIGHTER than the exchange it would add
    // (isolated sf0.1 A/B: 2.6 s → 3.4 s widened)
    val support = docs
      .select(col(idCol).as("_hl_doc"),
        explode(split(col(textCol), "\n")).as("_hl_line"))
      .groupBy(col("_hl_line"))
      .agg(countDistinct(col("_hl_doc")).as("_hl_df"))
    // one row, empty array when nothing is hot; sorted so the
    // broadcast payload is deterministic
    val hot = support.filter(col("_hl_df") > maxDf)
      .agg(sort_array(collect_list(col("_hl_line"))).as("_hl_hot"))
    val guarded = when(size(col("_hl_hot")) > maxHotLines,
      raise_error(concat(
        lit(s"stripHotLines: hot-line set exceeds $maxHotLines ("),
        size(col("_hl_hot")).cast("string"),
        lit(s") — maxDf=$maxDf is below this corpus's natural " +
          "duplication rate"))))
      .otherwise(col("_hl_hot"))
    docs.crossJoin(broadcast(hot))
      .withColumn("_hl_keep",
        filter(split(col(textCol), "\n"),
          x => !array_contains(guarded, x)))
      .withColumn("lines_before", size(split(col(textCol), "\n")))
      .withColumn("lines_kept", size(col("_hl_keep")))
      .withColumn(textCol, array_join(col("_hl_keep"), "\n"))
      .drop("_hl_hot", "_hl_keep")
  }

  /** Build the AT-REST near-dup signature index for a corpus:
    * `<dir>/bands` = the (doc, band, band_hash) LSH banding rows and
    * `<dir>/shingles` = (doc, shingles), both written once. Incremental
    * batches then near-dup-check against the corpus WITHOUT re-reading
    * or re-tokenizing it ([[incrementalNearDupAgainst]]) — the near-dup
    * analog of [[incrementalDedup]]'s digest anti-join. ErrorIfExists:
    * silently clobbering an index another pipeline is probing is the
    * lake-layout equivalent of a torn write. */
  /** NEAR-DUP PAIR STORE — the at-rest artifact ONE LEVEL UP from the
    * signature index: the exact-rescored near-dup PAIR SET itself
    * (doc_a, doc_b, inter, sz_a, sz_b, jaccard), materialized once
    * per corpus version. Governance reports are all views over this
    * one table — cross-source attribution, dup census, and keeper
    * resolution each read bounded pair rows instead of re-paying the
    * LSH candidate scan per report (the r10 audit billed the
    * attribution report's re-scan alone at 4+ s per run; at 100 TB
    * the re-scan per report is the difference between "dashboards
    * read a table" and "dashboards launch a corpus job").
    *
    * Build is [[minhashNearDupPairs]] — banded LSH candidates,
    * exact-rescored, so the stored pairs are exact Jaccard rows.
    * RECALL CONTRACT (consumer-facing): stored pair VALUES are exact,
    * but pair MEMBERSHIP is LSH-candidate-bounded — a pair the
    * banding never surfaced (P(miss) follows the (k, bands,
    * minBandMatches=2) S-curve, ≈1.2e-3 at J=0.5 with k=64/b=32,
    * <1e-20 at J=0.9) is absent from the store, and every governance
    * view over it (attribution, census, keeper, centrality) inherits
    * that recall. Corpora that run through the oracle gate verify
    * end-to-end that no needed pair was lost; other corpora near the
    * S-curve knee should raise bands or threshold margin.
    * Publish contract: parquet's `_SUCCESS` under `store/pairs` is
    * the marker; [[ensurePairStore]] treats its absence as "not
    * built" and a crashed half-write is clobbered by the rebuild's
    * overwrite mode. Concurrent builders serialize on the store's
    * writer lease (StoreLease — the q111 at-rest convention) with a
    * double-check after acquisition, so exactly one session pays the
    * build and the rest read. */
  def writePairStore(docs: DataFrame, idCol: String, textCol: String,
      store: String, shingleN: Int, k: Int, bands: Int,
      threshold: Double): Unit =
    minhashNearDupPairs(docs, idCol, textCol, shingleN, k, bands,
      threshold)
      .write.mode("overwrite").parquet(s"$store/pairs")

  /** Read the pair table of a store written by [[writePairStore]]. */
  def readPairStore(spark: org.apache.spark.sql.SparkSession,
      store: String): DataFrame =
    spark.read.parquet(s"$store/pairs")

  /** Build-if-absent + read: the consumer entry point (scaladoc on
    * [[writePairStore]]). The build is phase-tagged
    * (`pair_store_build`) so a bench wall that includes it decomposes
    * from the artifact alone. */
  def ensurePairStore(docs: DataFrame, idCol: String, textCol: String,
      store: String, shingleN: Int, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    val marker = new org.apache.hadoop.fs.Path(s"$store/pairs/_SUCCESS")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      graft.sources.StoreLease.withLease(spark, store,
        "pair-store-build") {
        if (!fs.exists(marker)) // double-check under the lease
          graft.Phases.time("pair_store_build") {
            writePairStore(docs, idCol, textCol, store, shingleN, k,
              bands, threshold)
          }
      }
    }
    readPairStore(spark, store)
  }

  /** INCREMENTAL PAIR-STORE MAINTENANCE — extend an existing pair
    * store with one ingest batch instead of rebuilding per corpus
    * version: the batch append is the pair-grain twin of
    * [[appendToNearDupIndex]], and together they keep BOTH at-rest
    * artifacts current as the corpus grows. Appends to
    * `store/pairs` exactly the pairs a from-scratch
    * [[writePairStore]] over corpus+batch would add:
    *  - CROSS pairs (batch doc × indexed corpus doc), candidates
    *    from batch-bands × stored-bands collisions, and
    *  - BATCH-INTERNAL pairs (batch doc × batch doc),
    * both at the usual minBandMatches=2 gate and exact-rescored, and
    * normalized to the store's doc_a < doc_b convention. Band-match
    * counts are PER-PAIR, so candidate membership is independent of
    * the rest of the corpus — the incremental pair set provably
    * equals the from-scratch one (same banding, same gate, same
    * re-score; DedupSpec asserts row equality), inheriting the same
    * S-curve recall contract.
    *
    * The batch's signatures then append to the index for EVERY batch
    * doc — dups included, unlike [[ingestBatchAgainst]]'s fresh-only
    * append: the pair store covers the whole corpus (the keeper and
    * census read dup rows by design), so a later batch must be able
    * to pair against THIS batch's dups too, or the store would
    * silently diverge from the from-scratch build one append later.
    *
    * `(shingleN, k, bands)` MUST match the index build (the
    * [[incrementalNearDupAgainst]] contract). Returns the appended
    * pair rows. Scale shape: the corpus is touched only through the
    * index (read with its declared schemas, no footer inference) and
    * never re-tokenizes; the batch's sets and bands are computed in
    * Spark either way. Two regimes for the mark, split at
    * [[DefaultMarkPruneCap]]: while every key set and collected row
    * set of the batch fits under it, the driver kernel
    * ([[pairMarkDriver]]) reads only the stored band rows of the
    * batch's band hashes (a pushed `band_hash` isin) and the
    * candidates' stored shingle sets (a pushed `doc` isin), and
    * returns the fresh pairs as a local relation, so the write leg
    * and `overlapWith` read them without re-executing a plan; past
    * it the twin ([[pairMarkTwin]]) scan-joins the whole index
    * tables. Crash safety: BOTH leases (pair store + index)
    * are acquired before the first byte lands, so a lease conflict
    * from a concurrent writer aborts write-free. With a `commitTag`
    * the append is EXACTLY-ONCE under retry (the
    * [[taggedSegmentAppend]] stage → move-in → marker protocol, one
    * marker PER ROOT): a crash between the pair commit and the index
    * commit is detected by the retry as pairs-sealed/index-unsealed,
    * which redoes only the index half — the recomputed content is
    * identical because the as-of store state is unchanged (half-moved
    * uncommitted seg files are cleaned BEFORE the store reads).
    * Without a tag the appends are plain parquet (the untagged
    * [[ingestBatchAgainst]] contract): wrap the call per ingest batch
    * and rebuild on a torn append. */
  def appendPairStore(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, store: String, shingleN: Int, k: Int,
      bands: Int, threshold: Double,
      commitTag: Option[String] = None,
      overlapWith: Option[DataFrame => Unit] = None): DataFrame = {
    val spark = batch.sparkSession
    val docType = batch.schema(idCol).dataType
    val pairsCommitted =
      commitTag.exists(t => isBatchCommitted(spark, store, t))
    val indexCommitted =
      commitTag.exists(t => isBatchCommitted(spark, indexDir, t))
    if (pairsCommitted && indexCommitted) {
      // fully sealed retry: both halves landed — return the sealed
      // pair segment itself (tag-named files) instead of redoing
      // work; a sealed EMPTY segment has a marker but no part files,
      // so fall back to the store's empty-slice schema
      val seg = new org.apache.hadoop.fs.Path(
        s"$store/pairs/seg-${commitTag.get}-*")
      val fs = seg.getFileSystem(spark.sessionState.newHadoopConf())
      val matches = fs.globStatus(seg)
      val pairsRead = spark.read.schema(pairTableSchema(docType))
      val sealed0 =
        if (matches == null || matches.isEmpty)
          pairsRead.parquet(s"$store/pairs").limit(0)
        else pairsRead.parquet(seg.toString)
      // the overlap continuation must run on the sealed-retry path
      // too (its OWN pieces may be the uncommitted ones) — serially
      // here, there are no writes to overlap with
      overlapWith.foreach(f => f(sealed0))
      return sealed0
    }
    val ptag = commitTag.getOrElse("")
    val (sets, banded, storeBands, storeSets) =
        graft.Phases.time(s"pairs_prep[$ptag]") {
      // retry hygiene BEFORE the store reads: a crashed attempt's
      // half-moved seg files would otherwise pollute the as-of view
      // this redo computes from (e.g. batch docs pairing against
      // their own partially-appended signatures)
      commitTag.foreach { tag =>
        if (!pairsCommitted)
          cleanTaggedSegments(spark, store, tag, Seq("pairs"))
        if (!indexCommitted)
          cleanTaggedSegments(spark, indexDir, tag,
            Seq("bands", "shingles"))
      }
      val (sets, banded) =
        pairMarkInputs(batch, idCol, textCol, shingleN, k, bands)
      val (storeBands, storeSets) =
        readIndexTables(spark, indexDir, docType)
      (sets, banded, storeBands, storeSets)
    }
    try {
    // BOTH leases acquired before the first write: a conflict with a
    // concurrent index writer (appendToNearDupIndex, compact-ndindex)
    // must abort the whole append, not strand pairs without the
    // batch's signatures — that tear would silently break the
    // from-scratch-equality contract for every later batch.
    // The mark's store reads also happen under the leases: a
    // concurrent compaction's write-then-swap between the read and
    // our append would hand the mark a torn as-of view (the same
    // hazard incrementalPhashAgainst closed in r14).
    val fresh = graft.sources.StoreLease.withLease(spark, store,
        commitTag.fold("pair-store-append")(t => s"pair-append-$t")) {
      graft.sources.StoreLease.withLease(spark, indexDir,
          commitTag.fold("index-append")(t => s"index-append-$t")) {
        val freshMat = graft.Phases.time(s"pairs_mark[$ptag]") {
          pairMark(sets, banded, storeBands, storeSets, docType,
            threshold, DefaultMarkPruneCap)
        }
        // index growth: ALL batch docs' signatures, the
        // writeIndexTables append layout (one clustered file per
        // table per batch) — reusing the cached tables instead of
        // the second tokenize+minhash pass appendToNearDupIndex
        // would run
        val bandsOut = banded
          .repartitionByRange(1, col("band_hash"))
          .sortWithinPartitions(col("band_hash"))
        val setsOut = sets.repartitionByRange(1, col("doc"))
          .sortWithinPartitions(col("doc"))
        val writeLeg: () => Unit = () =>
          graft.Phases.time(s"pairs_write[$ptag]") {
          commitTag match {
            case None =>
              freshMat.write.mode("append").parquet(s"$store/pairs")
              bandsOut.write.mode("append").parquet(s"$indexDir/bands")
              setsOut.write.mode("append").parquet(s"$indexDir/shingles")
            case Some(tag) =>
              // pairs first, then index — the retry's per-root markers
              // distinguish the crash point and redo only the unsealed
              // half (scaladoc); the SEAL ORDER within this leg is
              // load-bearing (index-committed ⇒ pairs-committed keeps
              // a retry's mark from pairing the batch against its own
              // already-appended signatures), so the two appends stay
              // sequential inside the one leg
              if (!pairsCommitted)
                taggedSegmentAppend(spark, store, tag,
                  Seq("pairs" -> freshMat))
              if (!indexCommitted)
                taggedSegmentAppend(spark, indexDir, tag,
                  Seq("bands" -> bandsOut, "shingles" -> setsOut))
          }
          }
        overlapWith match {
          case None => writeLeg()
          case Some(f) =>
            // LEASE HOLD WINDOW, widened knowingly (r19 ADVICE): the
            // continuation runs while BOTH leases are held, so the
            // hold spans the whole batch chain, not just the write
            // phase. The continuation never touches the leased roots
            // (disjoint stores by contract), but a batch exceeding
            // StoreLease.DefaultStaleAfterMs (30 min) would make the
            // live lease reclaimable by a concurrent writer
            // mid-batch — acceptable under the ingest family's
            // documented single-writer assumption, and a multi-writer
            // deployment should raise staleAfterMs for streaming
            // appends rather than narrow this hold (releasing before
            // the continuation would re-open the torn-as-of-view
            // hazard the leases exist for).
            // FUSED CONTINUATION (graft.Par, r19): the caller's
            // downstream chain (label-store merge, fold sink — all
            // on OTHER store roots) reads only the already-
            // materialized freshMat, never this store or the index,
            // so it overlaps the write leg instead of queueing
            // behind it. Crash analysis: any leg subset may land;
            // every piece is exactly-once under its own marker, so
            // a replay redoes only the missing pieces from the same
            // materialized as-of state (StreamingSpec convergence
            // pins).
            graft.Par.run(Seq(writeLeg, () => f(freshMat)))
            ()
        }
        freshMat
      }
    }
    fresh
    } finally {
      banded.unpersist(blocking = false)
      sets.unpersist(blocking = false)
    }
  }

  /** The batch side of [[appendPairStore]]'s mark, both persisted:
    * `(sets, banded)` = the batch's (doc, shingles) sets and its
    * (doc, band, band_hash) MinHash band rows, computed in Spark by
    * the same definitions the index build uses, so they are
    * bit-identical to the index rows they are matched against. */
  private[graft] def pairMarkInputs(batch: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int, bands: Int)
      : (DataFrame, DataFrame) = {
    val sets = shingleSets(batch, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = bandedSignatures(signaturesFromBaseHashes(
      sets.select(col("doc"), explode(col("shingles")).as("shingle"))
        .select(col("doc"), xxhash64(col("shingle")).as("h0")),
      k), bands, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    (sets, banded)
  }

  /** The schemas [[writeNearDupIndex]] writes for `(bands,
    * shingles)` over ids of type `docType`, as parquet reads them
    * back (every field nullable). Declared so a per-batch reader
    * skips the footer inference. */
  private[graft] def indexTableSchemas(
      docType: org.apache.spark.sql.types.DataType)
      : (org.apache.spark.sql.types.StructType,
        org.apache.spark.sql.types.StructType) = {
    import org.apache.spark.sql.types._
    (StructType(Seq(StructField("doc", docType),
        StructField("band", IntegerType),
        StructField("band_hash", LongType))),
      StructType(Seq(StructField("doc", docType),
        StructField("shingles", ArrayType(StringType)))))
  }

  /** The schema [[writePairStore]] writes over ids of type `docType`,
    * as parquet reads it back. */
  private[graft] def pairTableSchema(
      docType: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_a", docType),
      StructField("doc_b", docType), StructField("inter", LongType),
      StructField("sz_a", LongType), StructField("sz_b", LongType),
      StructField("jaccard", DoubleType)))
  }

  /** The `(bands, shingles)` tables of the index at `indexDir`, read
    * with their declared schemas ([[indexTableSchemas]]). */
  private[graft] def readIndexTables(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      docType: org.apache.spark.sql.types.DataType)
      : (DataFrame, DataFrame) = {
    val (bs, ss) = indexTableSchemas(docType)
    (spark.read.schema(bs).parquet(s"$indexDir/bands"),
      spark.read.schema(ss).parquet(s"$indexDir/shingles"))
  }

  /** [[appendPairStore]]'s mark: the batch's fresh pair rows against
    * the index as of now. The driver kernel ([[pairMarkDriver]])
    * runs while the batch's bounded state fits under `cap`; past it
    * the distributed twin ([[pairMarkTwin]]) runs, checkpointed. */
  private[graft] def pairMark(sets: DataFrame, banded: DataFrame,
      storeBands: DataFrame, storeSets: DataFrame,
      docType: org.apache.spark.sql.types.DataType, threshold: Double,
      cap: Int): DataFrame =
    pairMarkDriver(sets, banded, storeBands, storeSets, docType,
        threshold, cap)
      .getOrElse(pairMarkTwin(sets, banded, storeBands, storeSets,
        threshold).localCheckpoint(eager = true))

  /** The over-cap twin of [[pairMarkDriver]]: cross pairs (batch
    * bands × stored bands) and batch-internal pairs, each at the
    * minBandMatches=2 gate, exact-rescored and normalized to
    * doc_a < doc_b. A scan-join of the whole index tables — the only
    * form that fits past the cap, and the reference the kernel's
    * specs compare against. */
  private[graft] def pairMarkTwin(sets: DataFrame, banded: DataFrame,
      storeBands: DataFrame, storeSets: DataFrame,
      threshold: Double): DataFrame = {
    val crossCand = banded.toDF("doc_b", "band", "band_hash")
      .join(storeBands.toDF("doc_a", "band", "band_hash"),
        Seq("band", "band_hash"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= 2)
      .select("doc_a", "doc_b")
    // store ids need not be smaller than batch ids — normalize each
    // cross pair to the from-scratch doc_a < doc_b convention
    // (inter/jaccard are symmetric; sizes swap with the ids)
    val cross = rescoreJaccardAB(crossCand, storeSets, sets, threshold)
      .select(
        when(col("doc_a") < col("doc_b"), struct(
          col("doc_a").as("a"), col("doc_b").as("b"),
          col("sz_a").as("za"), col("sz_b").as("zb")))
          .otherwise(struct(
            col("doc_b").as("a"), col("doc_a").as("b"),
            col("sz_b").as("za"), col("sz_a").as("zb"))).as("_pp"),
        col("inter"), col("jaccard"))
      .select(col("_pp.a").as("doc_a"), col("_pp.b").as("doc_b"),
        col("inter"), col("_pp.za").as("sz_a"),
        col("_pp.zb").as("sz_b"), col("jaccard"))
    val internalCand = banded.toDF("doc_a", "band", "band_hash")
      .join(banded.toDF("doc_b", "band", "band_hash"),
        Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= 2)
      .select("doc_a", "doc_b")
    cross.unionByName(
      rescoreJaccardAB(internalCand, sets, sets, threshold))
  }

  /** The driver kernel of [[appendPairStore]]'s mark — the bounded
    * regime (the Streams.prepDeltaDriver convention). Each read is a
    * bounded collect ([[boundedRows]], [[boundedIn]]):
    *
    *  1. the batch's band rows — small fixed-size rows, so the cap
    *     check runs before any shingle set leaves the executors;
    *  2. the stored band rows of the batch's band hashes (a pushed
    *     `band_hash` isin);
    *  3. the candidates' shingle sets, in one single-job collect of
    *     two pushed `doc` isin reads: the cross candidates' stored
    *     sets and the candidate batch docs' persisted sets.
    *
    * Candidates (cross pairs with doc_a ≠ doc_b, internal pairs with
    * doc_a < doc_b, each sharing ≥ 2 (band, band_hash) rows) and
    * their exact Jaccard are computed in Scala between steps 2 and
    * 3 and after 3, reproducing [[pairMarkTwin]] row for row:
    * duplicate store rows count in the band gate and repeat in the
    * re-score as the joins repeat them, `inter` counts distinct
    * shared elements (`array_intersect`), and cross pairs are
    * normalized to doc_a < doc_b. Returned as one local frame.
    *
    * None — the caller runs the twin — when any key set or collected
    * row set passes `cap`, when either candidate enumeration passes
    * `8 × cap` band-pair matches (a templated cluster's quadratic
    * bucket would otherwise fill the driver heap before the gate
    * thins it), when the ids are not longs, or when a candidate
    * meets a null or empty shingle set (Spark's size/divide
    * semantics there are the twin's). At `bands` bands per doc,
    * step 1 alone sends batches above `cap / bands` docs (~1,560 at
    * the default 50,000 and 32 bands) to the twin. The kernel wins
    * at training-prep's ~200-doc batches, but against a 4,000-doc
    * store the twin was already faster at 1,000 and 1,500 docs: the
    * step-2 read grows with the key set. Jobs and walls against the
    * twin, that sweep included: PLANS.md "Training-prep pair mark on
    * the driver". */
  private[graft] def pairMarkDriver(sets: DataFrame, banded: DataFrame,
      storeBands: DataFrame, storeSets: DataFrame,
      docType: org.apache.spark.sql.types.DataType, threshold: Double,
      cap: Int): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    import scala.collection.mutable
    // (band, band_hash) → the band rows' docs, one per row (a null id
    // never passes the twin's id filters)
    def buckets(rows: Array[Row]): Map[(Int, Long), Array[Long]] =
      rows.filterNot(_.isNullAt(0))
        .groupBy(r => (r.getInt(1), r.getLong(2)))
        .map { case (key, rs) => key -> rs.map(_.getLong(0)) }
    // the pairs matched ≥ 2 times; None past 8 × cap matches or past
    // cap gated pairs
    def gated(matches: Iterator[(Long, Long)])
        : Option[Seq[(Long, Long)]] = {
      val (n, budget) = (mutable.HashMap.empty[(Long, Long), Int], 8L * cap)
      var seen = 0L
      while (seen <= budget && matches.hasNext) {
        val p = matches.next()
        n(p) = n.getOrElse(p, 0) + 1
        seen += 1
      }
      if (seen > budget) None
      else Some(n.iterator.collect { case (p, c) if c >= 2 => p }.toSeq)
        .filter(_.size <= cap)
    }
    // (doc, shingles) rows → each doc's sets, one per row
    def byDoc(rs: Array[Row]): Map[Long, Array[Seq[String]]] =
      rs.groupBy(_.getLong(0)).map { case (d, g) =>
        d -> g.map(r => if (r.isNullAt(1)) null else r.getSeq[String](1))
      }
    // the store's sets of `storeDocs` (is_store = true) and the
    // batch's sets of `batchDocs`, in one bounded collect — coalesced
    // to the first take round's width, so the union's partitions are
    // read in one job
    def candidateSets(storeDocs: Set[Long], batchDocs: Set[Long])
        : Option[Array[Row]] = {
      def side(t: DataFrame, isStore: Boolean, keys: Set[Long]) =
        if (keys.isEmpty) None
        else Some(t.filter(pushedIn(t, "doc", keys))
          .select(col("doc"), col("shingles"), lit(isStore).as("is_store")))
      val width = sets.sparkSession.conf
        .get("spark.sql.limit.initialNumPartitions", "1").toInt
      if (storeDocs.size > cap || batchDocs.size > cap) None
      else Seq(side(storeSets, true, storeDocs),
          side(sets, false, batchDocs)).flatten
        .reduceOption(_ unionByName _)
        .fold(Option(Array.empty[Row]))(
          u => boundedRows(u.coalesce(width), cap))
    }
    if (docType != LongType) None
    else for {
      batchRows <- boundedRows(banded.select("doc", "band", "band_hash"),
        cap)
      batchBuckets = buckets(batchRows)
      storeRows <- boundedIn(storeBands.select("doc", "band", "band_hash"),
        "band_hash", batchBuckets.keySet.map(_._2), cap)
      cross <- gated(buckets(storeRows).iterator.flatMap {
        case (key, as) =>
          batchBuckets.get(key).iterator.flatMap { bs =>
            for (a <- as.iterator; b <- bs.iterator if a != b)
              yield (a, b)
          }
      })
      internal <- gated(batchBuckets.valuesIterator.flatMap { ds =>
        for (a <- ds.iterator; b <- ds.iterator if a < b) yield (a, b)
      })
      shRows <- candidateSets(cross.map(_._1).toSet,
        cross.map(_._2).toSet ++ internal.flatMap(p => Seq(p._1, p._2)))
      rows <- {
        val (storeSh, batchSh) = shRows.partition(_.getBoolean(2))
        val (storeOf, batchOf) = (byDoc(storeSh), byDoc(batchSh))
        val out = mutable.ArrayBuffer.empty[Row]
        var ok = true
        // every (set of a) × (set of b) the two re-score joins pair up
        def score(a: Long, b: Long,
            setsA: Map[Long, Array[Seq[String]]]): Unit =
          for (sa <- setsA.getOrElse(a, Array.empty);
               sb <- batchOf.getOrElse(b, Array.empty) if ok) {
            if (sa == null || sb == null || sa.isEmpty && sb.isEmpty)
              ok = false
            else {
              val inB = sb.toSet
              val inter = sa.iterator.distinct.count(inB.contains).toLong
              val (za, zb) = (sa.size.toLong, sb.size.toLong)
              val j = inter.toDouble / (za + zb - inter).toDouble
              if (j >= threshold)
                out += (if (a < b) Row(a, b, inter, za, zb, j)
                  else Row(b, a, inter, zb, za, j))
            }
          }
        cross.foreach { case (a, b) => score(a, b, storeOf) }
        internal.foreach { case (a, b) => score(a, b, batchOf) }
        Some(out.toSeq).filter(_ => ok)
      }
    } yield sets.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), pairTableSchema(docType))
  }

  /** NS GOVERNANCE: DUPLICATION-GRAPH CENTRALITY — rank documents by
    * how central they sit in the near-dup graph (PageRank shape,
    * damping 0.85, `rounds` bounded power-iteration steps over the
    * undirected pair edges). The keeper (q84) resolves duplicates,
    * the attribution report (q133) bills source→source flow, the
    * census (q140) counts components; this is the fourth consumer
    * of the SAME at-rest pair store:
    * WHICH documents are the duplication hubs — the canonical copies
    * boilerplate radiates from, the first things a curator should
    * read when a census row looks wrong.
    *
    * Exact integer arithmetic end-to-end (the repo convention):
    * ranks are milli-scaled longs seeded at 1000, each step is
    * rank' = 150 + (850 * Σ_in(rank_u div deg_u)) div 1000 — floor
    * division on non-negative longs is identical in Spark (`div`)
    * and DuckDB (`//`), so a wholly independent SQL recompute lands
    * bit-equal, no float surface anywhere.
    *
    * Scale shape (100 TB): the graph is pair-store grain — dup
    * participants only, typically orders of magnitude smaller than
    * the corpus — and each round is ONE join of the edge list to the
    * node-grain rank table plus one dst-grain aggregate; consecutive
    * rounds reuse the `src` hash partitioning of the edge side, and
    * the corpus itself is never touched. Ranks are localCheckpointed
    * per round so the plan stays round-bounded (the q146 per-step
    * convention) instead of compounding `rounds` joins into one tree.
    * Rows out: `topK` (rank desc, doc_id asc — deterministic set). */
  def dupCentrality(pairs: DataFrame, rounds: Int, topK: Int)
      : DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"dupCentrality: rounds must be in [1, 16]: $rounds")
    require(topK >= 1, s"dupCentrality: topK must be >= 1: $topK")
    // checkpoint the edge list BEFORE iterating (the connected-
    // components precedent): each round launches its own job, and an
    // unmaterialized edges plan would re-derive and re-shuffle the
    // pair-store union once per round
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    var ranks = deg.select(col("src").as("id"), lit(1000L).as("rank_milli"))
    for (_ <- 1 to rounds) {
      ranks = edges
        .join(ranks.select(col("id").as("src"), col("rank_milli")), "src")
        .join(deg, "src")
        .select(col("dst").as("id"),
          expr("rank_milli div deg").as("_dc_c"))
        .groupBy(col("id"))
        .agg((lit(150L) + expr("850 * sum(_dc_c) div 1000"))
          .as("rank_milli"))
        .localCheckpoint()
    }
    ranks.join(deg.select(col("src").as("id"), col("deg")), "id")
      .select(col("id").as("doc_id"), col("rank_milli"),
        col("deg").as("n_neighbors"))
      .orderBy(col("rank_milli").desc, col("doc_id"))
      .limit(topK)
  }

  def writeNearDupIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, dir: String): Unit =
    writeIndexTables(docs, idCol, textCol, shingleN, k, dir, bands,
      "errorifexists")

  /** Append `docs`' signatures to an EXISTING index written by
    * [[writeNearDupIndex]] — the store-growth half of continuous
    * ingest (Streams.nearDupIngest): fresh docs' bands/shingles land
    * as NEW parquet files only, no rewrite of what's already indexed
    * (the clusteredAppend posture). `(shingleN, k, bands)` MUST match
    * the build — same contract as [[incrementalNearDupAgainst]].
    * Fails loudly when the index does not exist: appending into a
    * bare directory would mint a half-index whose probes silently
    * miss every pre-existing document. */
  def appendToNearDupIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, dir: String): Unit = {
    val bandsPath = new org.apache.hadoop.fs.Path(s"$dir/bands")
    val fs = bandsPath.getFileSystem(
      docs.sparkSession.sessionState.newHadoopConf())
    require(fs.exists(bandsPath),
      s"appendToNearDupIndex: no index at $dir (missing $bandsPath) — " +
        "build it with writeNearDupIndex first")
    writeIndexTables(docs, idCol, textCol, shingleN, k, dir, bands, "append")
  }

  /** Compaction for the at-rest signature index: every ingest batch
    * appends one id-sorted shingles file whose span covers roughly
    * the whole id range (fresh ids interleave with re-crawl offsets),
    * so point-fetch pruning dilutes with batch count exactly as
    * Layout.pruningDilution measures for any log-structured store —
    * probe `Layout.pruningDilution(spark, s"$dir/shingles", "doc")`
    * for the trigger. Rewrites the shingles table globally
    * re-clustered by doc id and consolidates the bands table's
    * per-batch files — deduplicating rows a crashed-and-replayed
    * ingest batch appended twice (at-least-once appends are benign
    * for verdicts; compaction is where the waste is reclaimed) —
    * each table via a write-then-swap sibling.
    *
    * SINGLE-WRITER, lease-enforced (graft.sources.StoreLease): an
    * ingest stream holding the index's writer lease makes a
    * concurrent compaction fail loudly at open, and vice versa — run
    * with ingest paused. The swap is read → delete → rename, so
    * between delete and rename the live table is briefly absent — a
    * crash there leaves the `.compacting` sibling to recover by hand
    * (same contract as Layout.compact; real atomicity comes from a
    * table format's commit protocol, which is the seam this path
    * plugs into). */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    graft.sources.StoreLease.withLease(spark, dir, "compact") {
    val conf = spark.sparkContext.hadoopConfiguration
    def swapRewrite(sub: String)(
        write: (DataFrame, String) => Unit): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/$sub.compacting")
      val fs = p.getFileSystem(conf)
      require(fs.exists(p), s"compactNearDupIndex: no $sub table at $dir")
      fs.delete(tmp, true) // stale sibling from a crashed run
      write(spark.read.parquet(p.toString), tmp.toString)
      require(fs.delete(p, true), s"could not remove old table $p")
      require(fs.rename(tmp, p), s"could not move compacted table to $p")
    }
    val n = math.max(1, spark.sparkContext.defaultParallelism)
    swapRewrite("shingles") { (df, out) =>
      // shingle sets are deterministic per doc, so replay duplicates
      // are EXACT row copies: full-row dedup collapses them, and any
      // id that still has two rows carries two different texts — a
      // violated id contract (a retired id re-used for new content),
      // which must fail loudly here rather than let an arbitrary row
      // win and silently corrupt the index
      val rowDeduped = df.dropDuplicates()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val conflicted = rowDeduped.groupBy(col("doc"))
        .agg(count(lit(1)).as("_c")).filter(col("_c") > 1)
        .select(col("doc")).limit(5).collect()
      require(conflicted.isEmpty,
        "compactNearDupIndex: same id with DIFFERENT shingle sets in " +
          s"the store (ids e.g. ${conflicted.mkString(", ")}) — an id " +
          "was re-used for new content; the id contract requires " +
          "store-unique ids")
      rowDeduped
        .repartitionByRange(n, col("doc"))
        .sortWithinPartitions(col("doc")).write.parquet(out)
      rowDeduped.unpersist(blocking = false)
    }
    swapRewrite("bands") { (df, out) =>
      // restore the band_hash clustering (the writeIndexTables build
      // layout) so the mark's pushed batch-hash filter keeps pruning
      // after compaction
      df.dropDuplicates()
        .repartitionByRange(n, col("band_hash"))
        .sortWithinPartitions(col("band_hash"))
        .write.parquet(out)
    }
    }

  /** The compaction cycle for the PHASH index ([[writePhashIndex]] /
    * [[ingestPhashBatchAgainst]]): a long-running ingest stream lands
    * one bkey-clustered segment file per micro-batch, and the
    * accumulated segments dilute the mark's row-group pruning (every
    * segment overlays another full key range — the
    * Layout.pruningDilution hazard, here on `keys`/bkey). Rewrite the
    * key table as ONE globally range-clustered generation:
    * write-then-swap under the store lease (the compactNearDupIndex
    * protocol — a crash leaves the old table or a stale `.compacting`
    * sibling, never a half-store). Replay-landed duplicate rows are
    * exact copies ((doc, fp, tbl, bkey) is deterministic per doc) and
    * collapse under full-row dedup; a doc id carrying two DIFFERENT
    * fingerprints is a violated id contract and fails loudly.
    * `params` is generation-invariant and untouched; verdicts before
    * and after are identical (MainSpec). */
  def compactPhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    graft.sources.StoreLease.withLease(spark, dir, "compact-phash") {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(s"$dir/keys")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/keys.compacting")
      val fs = p.getFileSystem(conf)
      require(fs.exists(p), s"compactPhashIndex: no keys table at $dir")
      fs.delete(tmp, true) // stale sibling from a crashed run
      val rowDeduped = spark.read.parquet(p.toString).dropDuplicates()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val conflicted = rowDeduped
        .groupBy(col("doc"), col("tbl"))
        .agg(count(lit(1)).as("_c")).filter(col("_c") > 1)
        .select(col("doc")).limit(5).collect()
      require(conflicted.isEmpty,
        "compactPhashIndex: same id with DIFFERENT fingerprints in " +
          s"the store (ids e.g. ${conflicted.mkString(", ")}) — an id " +
          "was re-used for new content; the id contract requires " +
          "store-unique ids")
      rowDeduped
        .repartitionByRange(
          math.max(1, spark.sparkContext.defaultParallelism),
          col("bkey"))
        .sortWithinPartitions(col("bkey"), col("tbl"))
        .write.parquet(tmp.toString)
      rowDeduped.unpersist(blocking = false)
      require(fs.delete(p, true), s"could not remove old table $p")
      require(fs.rename(tmp, p), s"could not move compacted table to $p")
    }

  private def writeIndexTables(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int, dir: String, bands: Int,
      mode: String): Unit =
    graft.sources.StoreLease.withLease(docs.sparkSession, dir,
        s"index-$mode") {
    val sets = shingleSets(docs, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = signaturesFromBaseHashes(
      sets.select(col("doc"), explode(col("shingles")).as("shingle"))
        .select(col("doc"), xxhash64(col("shingle")).as("h0")),
      k)
    // build = defaultParallelism range-files; append = ONE clustered
    // file per batch (the log-structured segment shape; compaction =
    // rebuild, same cycle as clusteredAppend)
    val nFiles =
      if (mode == "append") 1
      else math.max(1, docs.sparkSession.sparkContext.defaultParallelism)
    // the bands table is the CANDIDATE-PROBE side of the mark
    // (markAgainstIndex): cluster it by band_hash so the pushed
    // batch-hash filter prunes files/row-groups instead of reading
    // every stored signature per micro-batch (the r13 scale veto)
    bandedSignatures(sigs, bands, k)
      .repartitionByRange(nFiles, col("band_hash"))
      .sortWithinPartitions(col("band_hash"))
      .write.mode(mode).parquet(s"$dir/bands")
    // the shingles table is the POINT-FETCH side of the re-score
    // (markAgainstIndex): cluster it by doc id so a pushed id filter
    // prunes files/row-groups instead of deserializing every stored
    // array
    sets.repartitionByRange(nFiles, col("doc"))
      .sortWithinPartitions(col("doc"))
      .write.mode(mode).parquet(s"$dir/shingles")
    sets.unpersist(blocking = false)
    }

  /** Incremental near-dup INGEST: flag every new document whose exact
    * n-gram Jaccard against some INDEXED document clears `threshold`,
    * resolving to the smallest matching corpus id. Returns the batch
    * plus (dup_of nullable, is_dup).
    *
    * Scale shape (100 TB): the corpus is touched ONLY through the
    * index — the candidate join is batch-bands against stored bands
    * (shuffle sized by the batch plus colliding store rows), and the
    * exact re-score POINT-FETCHES the candidate targets' stored
    * shingle sets: up to `pointFetchCap` distinct target ids are
    * collected (a bounded planning lookup) and pushed as an id filter
    * into the id-clustered shingles store, pruning files/row-groups;
    * beyond the cap a sequential scan-join takes over (the cheaper
    * plan at that cardinality). Nothing re-tokenizes, re-hashes, or
    * re-shuffles corpus text; ingest cost scales with the batch.
    * Same S-curve contract
    * as [[minhashNearDupPairs]] (k, bands, minBandMatches=2): subset-
    * exact, complete away from the knee — `(shingleN, k, bands)` MUST
    * match the index build or candidates are silently wrong, so they
    * are parameters of BOTH calls by design.
    *
    * ID CONTRACT: ids must be unique across store+batch. An id-equal
    * match is interpreted as the SAME document re-presented (the
    * at-least-once replay case) and is never reported as a dup pair;
    * re-using a retired store id for different content would make
    * that doc invisible to marking and is caught loudly at the next
    * compaction (same-id-different-shingles check). */
  def incrementalNearDupAgainst(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, indexDir: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      pointFetchCap: Int = 50000,
      pointFetchMinStoreBytes: Long = DefaultPointFetchMinStoreBytes): DataFrame =
    markAgainstIndex(spark, newDocs, idCol, textCol, indexDir,
      shingleN, k, bands, threshold, appendFresh = false, pointFetchCap,
      pointFetchMinStoreBytes)

  /** [[incrementalNearDupAgainst]] fused with the store append of the
    * FRESH docs' signatures — the per-micro-batch step of continuous
    * ingest (Streams.nearDupIngest). Fusing matters: the mark pass
    * already computed every batch doc's shingle set and banded
    * signature, so the append is an anti-join slice of those cached
    * tables instead of a second tokenize+minhash over the fresh texts
    * (measured: the separate-append form re-ran the k-pass minhash
    * kernel per batch — the single biggest avoidable cost in the q111
    * stream at sf0.1).
    *
    * `commitTag` (e.g. the micro-batch id) makes the store append
    * IDEMPOTENT under retry: the fresh segment files are staged,
    * moved in under tag-derived names, and sealed with a commit
    * marker — a retried tag skips the append when the marker exists
    * and cleans+redoes its own files when it does not, so the store
    * converges to exactly the single-run state whatever step the
    * first attempt crashed at. Untagged calls keep the plain
    * best-effort parquet append. */
  def ingestBatchAgainst(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, indexDir: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      pointFetchCap: Int = 50000,
      pointFetchMinStoreBytes: Long = DefaultPointFetchMinStoreBytes,
      commitTag: Option[String] = None)
      : DataFrame =
    markAgainstIndex(spark, newDocs, idCol, textCol, indexDir,
      shingleN, k, bands, threshold, appendFresh = true, pointFetchCap,
      pointFetchMinStoreBytes, commitTag)

  /** NEAR-DUP-AWARE SPLIT LEAKAGE GUARD: flag every EVAL-side
    * document whose exact n-gram Jaccard against some TRAIN-side
    * document clears `threshold` — the decontamination pass every
    * training pipeline runs before trusting an eval split (a val doc
    * that near-dups a train doc measures memorization, not
    * generalization). `isVal` maps the id column to the split
    * predicate, so the split POLICY stays the caller's: a modulo
    * fold here (SQL-mirrorable for the oracle), a salted hash in
    * production — the guard is policy-agnostic.
    *
    * Returns the VAL slice of `docs` plus (leak_from nullable,
    * is_leaked): leak_from = the smallest train id whose overlap
    * clears the threshold.
    *
    * Scale shape (100 TB): one shingle pass over the corpus, one
    * banded-signature frame split into the two sides by predicate
    * (both persisted once — never recomputed per side), the standard
    * val-bands × train-bands candidate join (volume ∝ val fraction ×
    * banded collisions, NOT all-pairs), and the exact re-score joins
    * by doc id on the candidate set only. Same S-curve contract as
    * [[minhashNearDupPairs]] (k, bands, minBandMatches=2):
    * subset-exact, complete away from the knee. */
  /** NEAR-DUP-COMPONENT GROUPS — the group key the component-aware
    * split (q197/q198) folds by: connected components over the UNION
    * of the near-dup pair edges (the at-rest pair store — the
    * q44/q84 machinery) and same-`urlKey` edges (each doc linked to
    * its key group's min id — the CC-equivalent rendering of "same
    * canonical url ⇒ same group"), so two documents share a group
    * exactly when a chain of near-duplication OR url-identity
    * connects them. Returns (idCol, group) with group = the
    * component's min member id (itself when unique).
    *
    * Scale shape: the url edges are one key-grain aggregate + one
    * equi-join (no new pair machinery); the CC is the O(log n)
    * large-star/small-star rounds over edge-grain frames — the
    * corpus itself never enters the component computation. */
  def componentGroups(docs: DataFrame, idCol: String, urlKey: Column,
      pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val keyed = docs.select(col(idCol).as("_cg_id"),
      urlKey.as("_cg_key"))
    val canonEdges = keyed
      .join(keyed.groupBy(col("_cg_key"))
        .agg(min(col("_cg_id")).as("_cg_min")), "_cg_key")
      .filter(col("_cg_id") =!= col("_cg_min"))
      .select(col("_cg_id").as(aCol), col("_cg_min").as(bCol))
    val cc = connectedComponentsStar(
      pairs.select(col(aCol), col(bCol)).unionByName(canonEdges),
      aCol, bCol).toDF("_cg_id", "_cg_grp")
    docs.select(col(idCol))
      .join(cc, col(idCol) === col("_cg_id"), "left")
      .select(col(idCol),
        coalesce(col("_cg_grp"), col(idCol)).as("group"))
  }

  /** [[componentGroups]] restricted to the components CONTAINING
    * `seedIds` — the per-batch form of fold-at-ingest at corpus
    * scale: a micro-batch needs component labels for ITS docs only,
    * and those are exact from the batch components' CLOSED reachable
    * subgraph, so per-batch cost tracks the batch's neighborhood
    * instead of re-running CC over everything seen so far (the q205
    * full form's honest scale limit). Frontier expansion alternates
    * pair edges and same-key co-membership until fixpoint — rounds
    * bounded by component diameter, which post-LSH dup components
    * keep shallow; at fixpoint every ckey group and every pair edge
    * touching the reach is wholly inside it, so the induced
    * subgraph's [[componentGroups]] labels equal the full corpus
    * run's for every seeded component (DedupSpec pins equality,
    * StreamingSpec pins the forced-bounded ingest ≡ the full one).
    * Fails loudly if the diameter exceeds `maxRounds` — a silently
    * unclosed reach would mint wrong min-labels. */
  def componentGroupsBounded(docs: DataFrame, idCol: String,
      urlKey: Column, pairs: DataFrame, seedIds: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    // deliberately NOT checkpointed: both are corpus-scale relations
    // (re-)read per round as lazy scans — only the frontier (batch-
    // neighborhood-sized) materializes; a checkpoint here would copy
    // the corpus into block storage per batch, the exact cost this
    // operator exists to avoid
    val keyed = docs.select(col(idCol).as("_cgb_id"),
      urlKey.as("_cgb_key"))
    val p = pairs.select(col("doc_a"), col("doc_b"))
    var reach = seedIds
      .select(col(seedIds.columns.head).cast("long").as("_cgb_id"))
      .distinct().localCheckpoint()
    var n = reach.count()
    var grew = true
    var rounds = 0
    while (grew && rounds < maxRounds) {
      val viaA = p.join(reach.withColumnRenamed("_cgb_id", "doc_a"),
        Seq("doc_a")).select(col("doc_b").as("_cgb_id"))
      val viaB = p.join(reach.withColumnRenamed("_cgb_id", "doc_b"),
        Seq("doc_b")).select(col("doc_a").as("_cgb_id"))
      val keys = keyed.join(reach, Seq("_cgb_id"))
        .select(col("_cgb_key")).distinct()
      val viaK = keyed.join(keys, Seq("_cgb_key"))
        .select(col("_cgb_id"))
      val next = reach.unionByName(viaA).unionByName(viaB)
        .unionByName(viaK).distinct().localCheckpoint()
      val m = next.count()
      grew = m > n
      Bridge.freeLocalCheckpoint(reach)
      reach = next; n = m; rounds += 1
    }
    require(!grew, s"componentGroupsBounded: reach still growing " +
      s"after $maxRounds rounds — component diameter exceeds the " +
      "bound; raise maxRounds (an unclosed reach would mint wrong " +
      "min-labels)")
    val subDocs = docs.join(
      reach.select(col("_cgb_id").as(idCol)), Seq(idCol), "semi")
    // one-sided semi is complete: at fixpoint an edge touching the
    // reach has BOTH endpoints inside it
    val subPairs = p.join(reach.withColumnRenamed("_cgb_id", "doc_a"),
      Seq("doc_a"), "semi")
    val out = componentGroups(subDocs, idCol, urlKey, subPairs)
      .localCheckpoint(eager = true)
    Bridge.freeLocalCheckpoint(reach)
    out
  }

  /** COMPONENT-AWARE SPLIT — [[Relational.groupAwareSplit]] with the
    * [[componentGroups]] key: fold assignment by deterministic hash
    * of the near-dup-component ∪ url-group id, so NO near-duplicate
    * pair (and no same-url pair) can straddle train/eval — the
    * by-construction guarantee of the leakage class q121 measures
    * (q190 prevents only the same-URL subclass; this closes the
    * near-dup remainder). Same output shape as q190: per (source,
    * split) doc/group mass plus `n_rescued` = docs a naive doc-level
    * fold would have scattered across the boundary. */
  def componentGroupSplit(docs: DataFrame, idCol: String,
      sourceCol: String, urlKey: Column, pairs: DataFrame): DataFrame =
    Relational.groupAwareSplit(
      docs.join(componentGroups(docs, idCol, urlKey, pairs),
        Seq(idCol)),
      idCol, sourceCol, col("group").cast("string"))

  /** [[splitLeakage]] with the val membership as a PRECOMPUTED
    * boolean column instead of an id predicate — the form a
    * group/component fold needs (its val set depends on a CC-label
    * join no pure id expression can reproduce). Identical candidate
    * and re-score semantics; the flag rides a doc-grain join onto
    * the signature frames (one extra co-partitioned equi-join — the
    * predicate form stays the zero-join variant for folds the id
    * alone decides; DedupSpec pins the two forms equal on a
    * predicate-expressible fold). */
  def splitLeakageTagged(docs: DataFrame, idCol: String,
      textCol: String, valFlagCol: String, shingleN: Int, k: Int,
      bands: Int, threshold: Double): DataFrame = {
    val flags = docs.select(col(idCol).as("doc"),
      col(valFlagCol).cast("boolean").as("_slt_v"))
    val sets = shingleSets(docs, idCol, textCol, shingleN)
      .join(flags, "doc")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = bandedSignatures(signaturesFromBaseHashes(
      sets.select(col("doc"), explode(col("shingles")).as("shingle"))
        .select(col("doc"), xxhash64(col("shingle")).as("h0")),
      k), bands, k)
      .join(flags, "doc")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val valB = banded.filter(col("_slt_v")).drop("_slt_v")
      .toDF("doc_b", "band", "band_hash")
    val trainB = banded.filter(!col("_slt_v")).drop("_slt_v")
      .toDF("doc_a", "band", "band_hash")
    val candidates = valB.join(trainB, Seq("band", "band_hash"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= 2)
      .select("doc_a", "doc_b")
    val leaks = rescoreJaccardAB(candidates,
        sets.filter(!col("_slt_v")).select(col("doc"), col("shingles")),
        sets.filter(col("_slt_v")).select(col("doc"), col("shingles")),
        threshold)
      .groupBy(col("doc_b").as(idCol))
      .agg(min(col("doc_a")).as("leak_from"))
    val out = docs.filter(col(valFlagCol))
      .join(leaks, Seq(idCol), "left")
      .withColumn("is_leaked", col("leak_from").isNotNull)
      .localCheckpoint(eager = true)
    banded.unpersist(blocking = false)
    sets.unpersist(blocking = false)
    out
  }

  /** [[splitLeakage]] against the AT-REST signature index — the
    * steady-state shape: an eval-split guard runs once per NEW eval
    * set, and re-tokenizing the corpus per check is the wrong
    * execution when the signatures already live at rest
    * ([[writeNearDupIndex]] builds them, the continuous-ingest
    * appends keep them current, compact-ndindex reclusters them).
    * `valIds` is the eval membership (an id-grain frame — typically
    * a manifest, not the corpus); BOTH candidate sides and BOTH
    * exact-rescore sides read the index tables only. The corpus
    * text is never touched: candidate volume is the val-bands ×
    * train-bands collision set (∝ val fraction), the re-score joins
    * at-rest shingle sets by doc id, and the verdicts land at
    * val grain. Same S-curve contract as the dataflow forms
    * ((shingleN, k, bands) fixed at index build; minBandMatches=2);
    * DedupSpec pins indexed ≡ tagged on a shared corpus, under both
    * store-size regimes.
    *
    * Past `pruneMinStoreBytes` (metadata-only probe, the
    * [[markAgainstIndex]] cost gate) the guard stops reading the
    * index tables whole — the steady-state regime where the corpus
    * dwarfs every eval set: three pushed key-set reads
    * ([[restrictTo]]) — the val-id set into BOTH index reads' val
    * sides (point-fetch — the tables are doc-clustered), the val
    * side's band_hash set into the train-side bands scan (row-group
    * pruning to colliding neighborhoods — collision equality makes
    * the filter semantically free), and the candidates' doc_a set
    * into the train-side shingles. Guard wall then tracks the VAL
    * side as the store grows (PLANS.md "Guard cost vs corpus
    * growth"). */
  def splitLeakageIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, valIds: DataFrame, idCol: String,
      threshold: Double,
      pruneMinStoreBytes: Long = DefaultPointFetchMinStoreBytes,
      pruneCap: Int = DefaultMarkPruneCap): DataFrame = {
    val ids = valIds.select(col(idCol).cast("long").as("doc"))
      .distinct().localCheckpoint() // read by three joins below
    val storeIsBig = storeAtLeastBytes(spark, s"$indexDir/shingles",
      pruneMinStoreBytes)
    val bands = spark.read.parquet(s"$indexDir/bands")
    val sets = spark.read.parquet(s"$indexDir/shingles")
    val valIdKeys = boundedKeys(ids, "doc", pruneCap, storeIsBig)
    def valFetch(t: DataFrame): DataFrame =
      restrictTo(t, "doc", valIdKeys, pruneCap)(identity)
        .join(ids, Seq("doc"), "semi")
    val valB0 = valFetch(bands)
    // read twice under pruning (band-key collect + collision join)
    val valB =
      if (storeIsBig) valB0.persist(StorageLevel.MEMORY_AND_DISK)
      else valB0
    val trainB = restrictTo(bands, "band_hash",
        boundedKeys(valB, "band_hash", pruneCap, storeIsBig), pruneCap)(
        identity)
      .join(ids, Seq("doc"), "anti")
    val candidates0 = valB.toDF("doc_b", "band", "band_hash")
      .join(trainB.toDF("doc_a", "band", "band_hash"),
        Seq("band", "band_hash"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= 2)
      .select("doc_a", "doc_b")
    // read twice under pruning (target-id collect + re-score join)
    val candidates =
      if (storeIsBig) candidates0.persist(StorageLevel.MEMORY_AND_DISK)
      else candidates0
    val trainSets = restrictTo(sets, "doc",
      boundedKeys(candidates, "doc_a", pruneCap, storeIsBig), pruneCap)(
      _.join(ids, Seq("doc"), "anti"))
    val leaks = rescoreJaccardAB(candidates, trainSets,
        valFetch(sets), threshold)
      .groupBy(col("doc_b").as(idCol))
      .agg(min(col("doc_a")).as("leak_from"))
    val out0 = ids.select(col("doc").as(idCol))
      .join(leaks, Seq(idCol), "left")
      .withColumn("is_leaked", col("leak_from").isNotNull)
    if (!storeIsBig) out0 // lazy, nothing cached — the small-store plan
    else {
      // materialize before releasing the caches (the
      // ngramJaccardPairs leak rationale)
      val out = out0.localCheckpoint(eager = true)
      candidates.unpersist(blocking = false)
      valB.unpersist(blocking = false)
      out
    }
  }

  def splitLeakage(docs: DataFrame, idCol: String, textCol: String,
      isVal: Column => Column, shingleN: Int, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = bandedSignatures(signaturesFromBaseHashes(
      sets.select(col("doc"), explode(col("shingles")).as("shingle"))
        .select(col("doc"), xxhash64(col("shingle")).as("h0")),
      k), bands, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val valB = banded.filter(isVal(col("doc")))
      .toDF("doc_b", "band", "band_hash")
    val trainB = banded.filter(!isVal(col("doc")))
      .toDF("doc_a", "band", "band_hash")
    val candidates = valB.join(trainB, Seq("band", "band_hash"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= 2)
      .select("doc_a", "doc_b")
    val leaks = rescoreJaccardAB(candidates,
        sets.filter(!isVal(col("doc"))),
        sets.filter(isVal(col("doc"))), threshold)
      .groupBy(col("doc_b").as(idCol))
      .agg(min(col("doc_a")).as("leak_from"))
    // materialize before releasing the caches (the ngramJaccardPairs
    // leak rationale)
    val out = docs.filter(isVal(col(idCol)))
      .join(leaks, Seq(idCol), "left")
      .withColumn("is_leaked", col("leak_from").isNotNull)
      .localCheckpoint(eager = true)
    banded.unpersist(blocking = false)
    sets.unpersist(blocking = false)
    out
  }

  /** Has the tagged batch's store append already committed? The
    * marker is written strictly AFTER the segment files land in the
    * tables (see the tagged branch of [[markAgainstIndex]]), so a
    * present marker proves the full append is in the store. Markers
    * live under `_commits/` — underscore-prefixed, invisible to
    * parquet reads of the sibling tables. */
  def isBatchCommitted(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, tag: String): Boolean = {
    val p = commitMarkerPath(indexDir, tag)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private def commitMarkerPath(indexDir: String, tag: String) =
    new org.apache.hadoop.fs.Path(s"$indexDir/_commits/$tag")

  /** The cost-based default for the point-fetch re-score: below this
    * store size a sequential scan-join measures cheaper than the
    * planning lookup + id filter at every sandbox-reachable scale
    * (PLANS.md "Ingest mark cost vs store growth"). ONE constant
    * shared by the batch defaults above and Streams.nearDupIngest's
    * once-per-stream probe — retune it in one place. */
  val DefaultPointFetchMinStoreBytes: Long = 256L << 20

  /** The cap of every pushed key-set read ([[boundedKeys]] +
    * [[restrictTo]]: the mark scans, the leakage guard, the label
    * store, the manifest/drift/straddle reads, the refold) and of
    * both driver kernels' bounded collects ([[boundedRows]],
    * [[boundedIn]]). See [[restrictTo]] for why the pushed form wins
    * under it and a scan or join past it. */
  val DefaultMarkPruneCap: Int = 50000

  /** The rows of `df` as a bounded collect (`limit(cap + 1)`); None
    * past `cap` rows. The read step of the driver kernels
    * ([[pairMarkDriver]], Streams.prepDeltaDriver), whose caller runs
    * the distributed twin on None. */
  private[graft] def boundedRows(df: DataFrame, cap: Int)
      : Option[Array[org.apache.spark.sql.Row]] =
    Some(df.limit(cap + 1).collect()).filter(_.length <= cap)

  /** `col(c).isin(keys)` built as the Catalyst `InSet` the optimizer
    * makes of a large isin, which still pushes to parquet as `In`:
    * written as In's literal children, a batch's ~6,400 band hashes
    * cost every analyzer and optimizer rule a walk over them
    * (PLANS.md "Training-prep pair mark on the driver"). Keys whose
    * literal type differs from the column's keep the plain isin and
    * its type coercion. */
  private[graft] def pushedIn(t: DataFrame, c: String, keys: Set[_])
      : Column = {
    import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
    import org.apache.spark.sql.graft.Bridge
    val lits = keys.toSeq.map(Literal(_))
    if (lits.forall(_.dataType == t.schema(c).dataType))
      Bridge.column(InSet(Bridge.expression(col(c)),
        lits.map(_.value).toSet))
    else col(c).isin(keys.toSeq: _*)
  }

  /** The rows of `t` whose `c` is in `keys`, read with a pushed
    * [[pushedIn]] as a [[boundedRows]] collect; None past `cap` keys
    * or rows. */
  private[graft] def boundedIn(t: DataFrame, c: String, keys: Set[_],
      cap: Int): Option[Array[org.apache.spark.sql.Row]] =
    if (keys.isEmpty) Some(Array.empty[org.apache.spark.sql.Row])
    else if (keys.size > cap) None
    else boundedRows(t.filter(pushedIn(t, c, keys)), cap)

  /** The key set of a [[restrictTo]] read: `df`'s distinct `c`
    * values as a [[boundedRows]] collect. None past `cap` keys, and
    * None without a job when `gate` is off (the caller's store-size
    * verdict: below it the scan or join is the cheaper plan and the
    * collect would be pure per-batch fixed cost). */
  private[graft] def boundedKeys(df: DataFrame, c: String, cap: Int,
      gate: Boolean = true): Option[Set[Any]] =
    if (!gate) None
    else boundedRows(df.select(col(c)).distinct(), cap)
      .map(_.iterator.map(_.get(0)).toSet)

  /** `t`'s rows whose `c` is in `keys` (with `exclude`, the other
    * rows) — THE pushed key-set read of a growing store. Up to `cap`
    * keys it is one [[pushedIn]] filter, which parquet evaluates as
    * its native set predicate against row-group stats, dictionaries
    * and blooms, so the scan skips row groups holding none of the
    * keys and needs no join (an empty key set reads nothing). For
    * None or more keys it is the caller's `overCap` form of `t` — a
    * semi- or anti-join, or the whole scan where a later join
    * restricts it — since at that size one sequential pass reads
    * less than scattered per-key probes. A null key matches nothing,
    * as in a join. */
  private[graft] def restrictTo(t: DataFrame, c: String,
      keys: Option[Iterable[Any]], cap: Int, exclude: Boolean = false)(
      overCap: DataFrame => DataFrame): DataFrame =
    keys.filter(_.size <= cap).map(_.iterator.filter(_ != null).toSet)
      match {
        case None => overCap(t)
        case Some(ks) if ks.isEmpty => if (exclude) t else t.limit(0)
        case Some(ks) =>
          val in = pushedIn(t, c, ks)
          t.filter(if (exclude) !in else in)
      }

  /** Metadata-only store-size probe with the sentinel contract the
    * streaming drivers rely on (0 = decide big WITHOUT the FS
    * listing, Long.MaxValue = decide small): a recursive
    * getContentSummary per micro-batch is an O(files) LIST on an
    * object store, so Streams probes once per stream and passes the
    * decision down as a sentinel. */
  private[graft] def storeAtLeastBytes(
      spark: org.apache.spark.sql.SparkSession,
      path: String, minBytes: Long): Boolean =
    if (minBytes == 0L) true
    else if (minBytes == Long.MaxValue) false
    else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.exists(p) && fs.getContentSummary(p).getLength >= minBytes
    }

  private def markAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, idCol: String, textCol: String, indexDir: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      appendFresh: Boolean, pointFetchCap: Int,
      pointFetchMinStoreBytes: Long,
      commitTag: Option[String] = None): DataFrame = {
    // a tagged batch whose marker exists already has its signatures
    // in the store (the retry of a crashed-after-commit micro-batch):
    // skip the append entirely — re-appending would duplicate rows
    val alreadyCommitted =
      commitTag.exists(t => isBatchCommitted(spark, indexDir, t))
    val willAppend = appendFresh && !alreadyCommitted
    // ONE store-size decision (metadata-only, sentinel-aware) drives
    // BOTH store-sided plans: the band-scan pruning below and the
    // shingles point-fetch re-score — the two tables grow together,
    // and Streams probes once per stream for the pair of them
    val storeIsBig = storeAtLeastBytes(spark, s"$indexDir/shingles",
      pointFetchMinStoreBytes)
    val storeSets = spark.read.parquet(s"$indexDir/shingles")
    val sets = shingleSets(newDocs, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded0 = bandedSignatures(signaturesFromBaseHashes(
      sets.select(col("doc"), explode(col("shingles")).as("shingle"))
        .select(col("doc"), xxhash64(col("shingle")).as("h0")),
      k), bands, k)
    // the append path reads banded twice (candidate probe + fresh
    // slice) and the band-pruning path twice (hash collect +
    // candidate probe) — cache for either; the plain mark-only path
    // reads it once, where a persist would be pure materialization
    // overhead
    val banded =
      if (willAppend || storeIsBig)
        banded0.persist(StorageLevel.MEMORY_AND_DISK)
      else banded0
    // BAND-SCAN PRUNING (the r13 scale veto, closed): past the size
    // threshold the stored bands table is not read whole per batch —
    // the batch's band_hash set is pushed into the band_hash-clustered
    // store ([[restrictTo]]) so the scan reads colliding neighborhoods
    val storeBands = restrictTo(spark.read.parquet(s"$indexDir/bands"),
      "band_hash", boundedKeys(banded, "band_hash", DefaultMarkPruneCap,
        storeIsBig), DefaultMarkPruneCap)(identity)
    val candidates0 = banded
      .toDF("doc_b", "band", "band_hash")
      .join(storeBands.toDF("doc_a", "band", "band_hash"),
        Seq("band", "band_hash"))
      // an id-equal pair is the SAME document re-presented (an
      // at-least-once replay finding its own appended signatures),
      // never a dup pair — without this, a replayed batch marks its
      // own novel docs as duplicates of themselves and downstream
      // discards them; ids are unique across store+batch by contract
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= 2)
      // AS-OF-BATCH-START semantics, exactly, even on replay: a
      // retried batch whose append already committed finds ALL its
      // fresh docs' signatures in the store, so without this a
      // replayed batch would mark batch-internal near-dup pairs the
      // original run (correctly) did not — anti-join the store side
      // against the batch's own ids (bounded: one row per batch doc,
      // broadcast). Subsumes nothing in the id-equal filter above —
      // that one prunes the per-band hash collisions early; this one
      // removes the cross-id batch self-matches after the cheap
      // band-count reduction.
      .join(broadcast(sets.select(col("doc").as("_mk_batch_id"))),
        col("doc_a") === col("_mk_batch_id"), "left_anti")
      .select("doc_a", "doc_b")
    // POINT-FETCH the candidate targets' stored shingles when it can
    // win: the doc_a set (bounded by pointFetchCap, the q101 planning
    // lookup) is pushed into the id-CLUSTERED shingles store
    // ([[restrictTo]]), so the re-score deserializes only matching
    // row groups. A SMALL store keeps the scan-join (measured at
    // sf0.1: filtering a few-MB store costs more than scanning it —
    // pruning pays when the store dwarfs the batch, the actual 100 TB
    // regime). The store-size probe is metadata-only.
    // cache candidates only when the planning lookup will read them a
    // second time (small-store scan-join path reads them exactly once)
    val candidates =
      if (storeIsBig) candidates0.persist(StorageLevel.MEMORY_AND_DISK)
      else candidates0
    val fetchSets = restrictTo(storeSets, "doc",
      boundedKeys(candidates, "doc_a", pointFetchCap, storeIsBig),
      pointFetchCap)(identity)
    val dupOf = rescoreJaccardAB(candidates, fetchSets, sets, threshold)
      .groupBy(col("doc_b").as(idCol))
      .agg(min(col("doc_a")).as("dup_of"))
    // materialize before releasing the batch shingle cache (the
    // ngramJaccardPairs leak rationale)
    val out = newDocs.join(dupOf, Seq(idCol), "left")
      .withColumn("is_dup", col("dup_of").isNotNull)
      .localCheckpoint(eager = true)
    // single-writer lease across the store mutation: a second
    // concurrent ingest stream appending to this index fails loudly
    // at its own batch instead of interleaving segment files
    if (willAppend) graft.sources.StoreLease.withLease(spark, indexDir,
        commitTag.fold("ingest")(t => s"ingest-$t")) {
      // dup ids from the materialized result: a driver-side bounded
      // collect would cap batch size — the broadcast anti-join doesn't
      val dupIds = out.filter(col("is_dup")).select(col(idCol).as("doc"))
      // one clustered file per table per ingest batch (see
      // writeIndexTables): bands by band_hash for the mark probe,
      // shingles by doc for the point-fetch
      val freshBands = banded.join(broadcast(dupIds), Seq("doc"), "left_anti")
        .repartitionByRange(1, col("band_hash"))
        .sortWithinPartitions(col("band_hash"))
      val freshSets = sets.join(broadcast(dupIds), Seq("doc"), "left_anti")
        .repartitionByRange(1, col("doc")).sortWithinPartitions(col("doc"))
      commitTag match {
        case None =>
          freshBands.write.mode("append").parquet(s"$indexDir/bands")
          freshSets.write.mode("append").parquet(s"$indexDir/shingles")
        case Some(tag) =>
          taggedSegmentAppend(spark, indexDir, tag,
            Seq("bands" -> freshBands, "shingles" -> freshSets))
      }
    }
    candidates.unpersist(blocking = false)
    banded.unpersist(blocking = false)
    sets.unpersist(blocking = false)
    out
  }

  /** Delete any half-landed `seg-<tag>-*` files of an UNCOMMITTED tag
    * under `root`'s tables — the retry-hygiene half of
    * [[taggedSegmentAppend]], also called BEFORE a tagged path reads
    * the store (a crashed attempt's partially-moved files must not
    * pollute the as-of view the redo computes from). */
  private[graft] def cleanTaggedSegments(
      spark: org.apache.spark.sql.SparkSession, rootDir: String,
      tag: String, tables: Seq[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(conf)
    tables.foreach { t =>
      val table = new org.apache.hadoop.fs.Path(root, t)
      if (fs.exists(table))
        fs.globStatus(new org.apache.hadoop.fs.Path(
            table, s"seg-$tag-*"))
          .foreach(st => fs.delete(st.getPath, false))
    }
  }

  /** EXACTLY-ONCE store append under retry, the one implementation
    * of the seal protocol every tagged store shares: stage → move-in
    * with tag-named files → marker. A crash anywhere before the
    * marker leaves either untouched tables or some `seg-<tag>-*`
    * files with no marker; the retry deletes exactly those files and
    * redoes the append — the staged content is a pure function of
    * (batch, as-of store), so the redo reproduces what the crash
    * interrupted. A crash AFTER the marker is the caller's
    * isBatchCommitted skip ([[sealOnce]] packages both). Caller
    * holds the store lease. */
  private[graft] def taggedSegmentAppend(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      tag: String, tables: Seq[(String, DataFrame)]): Unit = {
    // Layout.segments recovers the tag from `seg-<tag>-part-*` by
    // splitting on "-part-" — a tag containing it would truncate
    require(!tag.contains("-part-"),
      s"""tagged append: tag must not contain "-part-": $tag""")
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(conf)
    cleanTaggedSegments(spark, indexDir, tag, tables.map(_._1))
    val staging =
      new org.apache.hadoop.fs.Path(root, s".staging/$tag")
    fs.delete(staging, true) // stale from a crashed attempt
    // staging writes overlap (graft.Par, r19): the tables land in
    // DISJOINT staging subdirs, and nothing below reads them until
    // every write returned — a multi-table seal (labels+anchors,
    // keys+items, docs+champs) was paying one sequential write job
    // per table of per-batch fixed cost
    graft.Par.run(tables.map { case (t, df) =>
      () => df.write.parquet(
        new org.apache.hadoop.fs.Path(staging, t).toString)
    })
    tables.foreach { case (t, _) =>
      val table = new org.apache.hadoop.fs.Path(root, t)
      fs.listStatus(new org.apache.hadoop.fs.Path(staging, t))
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith("part-"))
        .foreach { st =>
          val dst = new org.apache.hadoop.fs.Path(
            table, s"seg-$tag-${st.getPath.getName}")
          require(fs.rename(st.getPath, dst),
            s"tagged append: could not move ${st.getPath} to $dst")
        }
    }
    val marker = commitMarkerPath(indexDir, tag)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    fs.delete(staging, true)
  }

  /** Seal `tables` into `root` as tag `tag` exactly once: skip if the
    * tag is committed, else take the store lease as `owner` and run
    * [[taggedSegmentAppend]]. `tables` is evaluated only for an
    * uncommitted tag, inside the lease — so any per-seal work
    * (deriving the rows, guards on the store) is skipped on a
    * committed retry. Returns whether this call landed the seal. */
  private[graft] def sealOnce(spark: org.apache.spark.sql.SparkSession,
      root: String, tag: String, owner: String)(
      tables: => Seq[(String, DataFrame)]): Boolean =
    !isBatchCommitted(spark, root, tag) && {
      graft.sources.StoreLease.withLease(spark, root, owner) {
        taggedSegmentAppend(spark, root, tag, tables)
      }
      true
    }
}
