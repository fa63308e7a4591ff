package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, per the standard ANN playbook:
  *  - [[bruteForceTopK]]: exact scan — cosine against a (broadcast)
  *    query point, then TakeOrderedAndProject. On a cluster this is a
  *    single pass over the vectors with k results per partition and k
  *    at the driver; the correct baseline and the recall oracle.
  *  - [[lshTopK]] / [[lshNearDupPairs]]: random-hyperplane LSH —
  *    bucket vectors by their sign pattern against a LITERAL plane
  *    matrix ([[vectors.planeMatrix]], generated driver-side), search
  *    only within buckets. Sub-linear candidate sets at 100 TB at the
  *    cost of recall; because the planes are plan-time constants, the
  *    DuckDB oracle inlines the same literals and verifies the
  *    approximate result EXACTLY (no `no_oracle` escape hatch).
  */
object Similarity {

  /** Exact top-k by cosine against the single query row selected by
    * `queryVecId`. The query side is one row, so the join is a
    * broadcast nested loop over a 1-row build side — effectively a
    * map. Output: vec_id, cos (rounded for float-safe comparison;
    * ordering uses the exact value). */
  def bruteForceTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    emb.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("cos",
        vectors.cosineFast(col("embedding"), col("q_embedding")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
  }

  /** Approximate per-vector top-k neighbors via hyperplane LSH with a
    * literal plane matrix: bucket every vector, join within buckets,
    * rank per probe. Fewer planes → bigger buckets → higher recall,
    * more work; the in-bucket join shuffles on the bucket key only. */
  def lshTopK(emb: DataFrame, planes: Seq[Array[Double]], k: Int): DataFrame = {
    val bucketed = emb.select(
      col("vec_id"), col("embedding"),
      vectors.hyperplaneBucketFast(col("embedding"), planes).as("bucket"))
    val a = bucketed.toDF("vec_id", "embedding", "bucket")
    val b = bucketed.toDF("nb_id", "nb_embedding", "bucket")
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("vec_id") =!= col("nb_id"))
      .withColumn("cos", vectors.cosineFast(col("embedding"), col("nb_embedding")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nb_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("nb_id"), round(col("cos"), 6).as("cos"),
        col("rnk"))
  }

  /** Scale-aware hyperplane count: enough planes that EXPECTED bucket
    * occupancy stays ≈ `targetOccupancy` as the corpus grows —
    * nPlanes = ceil(log2(n / targetOccupancy)). The in-bucket
    * self-join then does O(n · occupancy) work at ANY corpus size,
    * instead of O(n²/2^fixedPlanes) blowing up 100× per 10× growth
    * the way a fixed plane count does (r2 verdict on [[lshTopK]]'s
    * call site). Clamped: ≥ minPlanes keeps buckets meaningful on
    * tiny corpora, ≤ maxPlanes caps bucket-id width. */
  def planesForSize(n: Long, targetOccupancy: Int = 32,
      minPlanes: Int = 4, maxPlanes: Int = 24): Int = {
    val raw = math.ceil(
      math.log(math.max(n, 1L).toDouble / targetOccupancy) / math.log(2.0)).toInt
    math.min(maxPlanes, math.max(minPlanes, raw))
  }

  /** [[lshTopK]] with the plane count derived from the corpus size:
    * one `count()` planning statistic (an explicit model-sizing step,
    * like [[trainIvfCentroids]] — not a hidden mid-plan action)
    * chooses [[planesForSize]] planes seeded from `seed`. The planes
    * are still driver-side literals, so an oracle can inline the
    * matrix the rule derives at the verify scale. */
  def lshTopKAuto(emb: DataFrame, seed: Long, dim: Int, k: Int,
      targetOccupancy: Int = 32): DataFrame = {
    val n = emb.count()
    val planes = graft.functions.vectors.planeMatrix(
      seed, planesForSize(n, targetOccupancy), dim)
    lshTopK(emb, planes, k)
  }

  /** Exact near-duplicate vector pairs (cos >= threshold) via an
    * explicit all-pairs join. O(n²) — test/oracle baseline ONLY; the
    * registered scale path is [[lshNearDupPairs]]. */
  def nearDupPairsExact(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", vectors.cosineFast(col("e_a"), col("e_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** IVF (inverted-file) approximate top-k: coarse-quantize every
    * vector to its nearest centroid cell, search only the query's
    * `nProbe` nearest cells, exact-cosine re-rank the candidates.
    * The registered query uses DETERMINISTIC seeded centroids
    * ([[graft.functions.vectors.planeMatrix]]) so the DuckDB oracle
    * reproduces the identical cell assignment from the same literals;
    * production swaps in trained centroids ([[trainIvfCentroids]]) —
    * the plan does not change. At scale the assignment is one
    * codegen'd map pass and the probe filter prunes the scan to
    * nProbe/nCells of the corpus. */
  def ivfTopK(emb: DataFrame, centroids: Seq[Array[Double]],
      queryVecId: Long, nProbe: Int, k: Int): DataFrame = {
    import graft.functions.vectors.{assignCellFast, cosineFast, nearestCentroidsFast}
    val assigned = emb.select(col("vec_id"), col("embedding"),
      assignCellFast(col("embedding"), centroids).as("cell"))
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"),
        nearestCentroidsFast(col("embedding"), centroids, nProbe).as("probes"))
    assigned.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .filter(array_contains(col("probes"), col("cell")))
      .withColumn("cos", cosineFast(col("embedding"), col("q_embedding")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cell"), round(col("cos"), 6).as("cos"))
  }

  /** Production IVF training hook: one deterministic bounded sample +
    * a few Lloyd iterations, driver-side — an explicit TRAINING step
    * (like fitting any model), not part of a query plan. The returned
    * centroids drop into [[ivfTopK]] unchanged. */
  def trainIvfCentroids(emb: DataFrame, k: Int, iters: Int = 3,
      sampleN: Int = 2048): Seq[Array[Double]] = {
    val sample = emb.orderBy("vec_id").limit(sampleN)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.length >= k, s"need at least $k sample vectors")
    val dim = sample.head.length
    var centroids = sample.take(k).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        for (c <- 0 until k) {
          var d = 0.0
          var i = 0
          while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c)))
    }
    centroids.toSeq
  }

  /** Multi-table LSH near-duplicate pairs with exact re-score: each
    * vector lands in one bucket per table (`tables` literal plane
    * matrices), candidate pairs are bucket collisions in ANY table,
    * and every candidate is re-scored with the exact cosine before the
    * threshold filter — so the output is a subset of the exact answer,
    * never a superset. With T tables of b planes a true pair at
    * cosine c is missed with probability (1-(1-θ/π)^b)^T, θ=acos(c):
    * ~0.4% at c=0.9 and ~6% at c=0.8 for T=16, b=8. Candidates scale
    * with per-bucket occupancy (n/2^b per table), not n². */
  def lshNearDupPairs(emb: DataFrame, threshold: Double,
      tables: Seq[Seq[Array[Double]]]): DataFrame = {
    val bucketed = emb.select(
      col("vec_id"),
      posexplode(vectors.multiTableBucketsFast(col("embedding"), tables))
        .as(Seq("tbl", "bucket")))
    val a = bucketed.toDF("id_a", "tbl", "bucket")
    val b = bucketed.toDF("id_b", "tbl", "bucket")
    val candidates = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b")), "id_b")
      .withColumn("cos", vectors.cosineFast(col("e_a"), col("e_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Recall-targeted table count: enough independent tables that a
    * TRUE pair at cosine `threshold` is missed with probability ≤
    * `targetMiss`, given `nPlanes` planes per table —
    * T = ceil(ln targetMiss / ln(1 − (1−θ/π)^nPlanes)), θ = acos.
    * Composed with [[planesForSize]] (occupancy ≈ constant per table)
    * the total candidate work is T·n·occupancy ≈ n^(1+|log2(1−θ/π)|)
    * — e.g. n^1.22 at threshold 0.9 — sub-quadratic at any corpus
    * size, with recall held at the target instead of drifting as n
    * grows.
    *
    * The recall target is a CONTRACT: if it would take more than
    * `maxTables` tables (very large n with a low threshold), this
    * fails loudly instead of silently clamping — the caller then
    * loosens targetMiss, raises maxTables, or accepts drift
    * explicitly, the same loud-failure convention as
    * Dedup.requireInertGuard. Degenerate thresholds outside (−1, 1]
    * are rejected (θ = π needs infinitely many tables; NaN would
    * silently size to 1). */
  def lshTablesForRecall(nPlanes: Int, threshold: Double,
      targetMiss: Double = 0.01, maxTables: Int = 64): Int = {
    require(threshold > -1.0 && threshold <= 1.0,
      s"threshold $threshold outside (-1, 1]")
    val p = math.pow(1.0 - math.acos(threshold) / math.Pi, nPlanes)
    if (p >= 1.0) 1
    else {
      val needed = math.ceil(
        math.log(targetMiss) / math.log(1.0 - p)).toInt
      require(needed <= maxTables,
        s"holding miss<=$targetMiss at threshold=$threshold with " +
          s"$nPlanes planes/table needs $needed tables > maxTables=" +
          s"$maxTables: loosen targetMiss, raise maxTables, or accept " +
          "recall drift explicitly")
      math.max(1, needed)
    }
  }

  /** Multi-table per-vector top-k: candidate = bucket collision in
    * ANY of the T tables ([[lshNearDupPairs]]'s candidate scheme
    * applied to neighbor search), exact-cosine re-rank per probe.
    * The single-table [[lshTopK]] holds COST (occupancy ≈ constant)
    * but not RECALL: ProbeRecall measured 6.6% recall@5 on the
    * near-orthogonal fixture vectors, which is inherent — one
    * sign-pattern collision at cos ≈ 0.3 has probability
    * (1−θ/π)^planes ≈ 0.4^6. Multiple independent tables are the
    * standard fix, and [[lshTablesForRecall]] PINS the miss rate for
    * every neighbor at cos ≥ the floor the caller names; weaker
    * neighbors remain best-effort (that part no LSH can promise
    * without scanning everything). Work: T·n·occupancy candidate
    * rows, dedup'd before the re-rank join — sub-quadratic at any n,
    * same arithmetic as the near-dup path. */
  def lshTopKMulti(emb: DataFrame, tables: Seq[Seq[Array[Double]]],
      k: Int): DataFrame = {
    val bucketed = emb.select(
      col("vec_id"),
      posexplode(vectors.multiTableBucketsFast(col("embedding"), tables))
        .as(Seq("tbl", "bucket")))
    val a = bucketed.toDF("vec_id", "tbl", "bucket")
    val b = bucketed.toDF("nb_id", "tbl", "bucket")
    val candidates = a.join(b, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("nb_id"))
      .select("vec_id", "nb_id").distinct()
    val pairs = candidates
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(emb.select(col("vec_id").as("nb_id"),
        col("embedding").as("nb_embedding")), "nb_id")
      .withColumn("cos",
        vectors.cosineFast(col("embedding"), col("nb_embedding")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nb_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("nb_id"),
        round(col("cos"), 6).as("cos"), col("rnk"))
  }

  /** [[lshTopKMulti]] with both knobs derived the standard way:
    * planes from [[planesForSize]] (occupancy held as n grows),
    * table count from [[lshTablesForRecall]] at `simFloor` — the
    * similarity level above which neighbors are guaranteed (miss ≤
    * targetMiss). One count() planning statistic, plan-time literal
    * planes (oracle-mirrorable), the q54/q62 conventions. */
  def lshTopKMultiAuto(emb: DataFrame, seed: Long, dim: Int, k: Int,
      simFloor: Double = 0.9, targetMiss: Double = 0.01,
      targetOccupancy: Int = 32): DataFrame = {
    val nPlanes = planesForSize(emb.count(), targetOccupancy)
    val nTables = lshTablesForRecall(nPlanes, simFloor, targetMiss)
    val tables = (0 until nTables).map(i =>
      graft.functions.vectors.planeMatrix(seed + i, nPlanes, dim))
    lshTopKMulti(emb, tables, k)
  }

  /** HARD-NEGATIVE mining for contrastive training pairs: for every
    * vector, the single most-similar LSH-candidate neighbor carrying
    * a DIFFERENT label — the "looks alike, isn't" pair that contrastive
    * objectives learn most from. Candidates come from bucket collision
    * in ANY of `tables` (the [[lshTopKMulti]] machinery: subset-exact,
    * so the oracle replays the identical candidate set from the same
    * seeded plane literals); the cross-label filter runs BEFORE the
    * re-score join output is ranked, and WindowGroupLimit prunes each
    * partition to its local best before the ranking shuffle. Vectors
    * with no cross-label candidate produce no row (mirrored). At
    * 100 TB this is the standard ANN-candidate mining shape: no
    * all-pairs anywhere, candidate volume ∝ T·n·occupancy. */
  def hardNegatives(emb: DataFrame,
      tables: Seq[Seq[Array[Double]]]): DataFrame = {
    val bucketed = emb.select(
      col("vec_id"),
      posexplode(vectors.multiTableBucketsFast(col("embedding"), tables))
        .as(Seq("tbl", "bucket")))
    val a = bucketed.toDF("vec_id", "tbl", "bucket")
    val b = bucketed.toDF("nb_id", "tbl", "bucket")
    val candidates = a.join(b, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("nb_id"))
      .select("vec_id", "nb_id").distinct()
    val pairs = candidates
      .join(emb.select(col("vec_id"), col("embedding"), col("label")),
        "vec_id")
      .join(emb.select(col("vec_id").as("nb_id"),
        col("embedding").as("nb_embedding"),
        col("label").as("neg_label")), "nb_id")
      .filter(col("label") =!= col("neg_label"))
      .withColumn("cos",
        vectors.cosineFast(col("embedding"), col("nb_embedding")))
    // rank on the ROUNDED cosine (q114's convention): the unrounded
    // fold is bit-identical across engines only while both sum in
    // the same order — ranking on round(·, 6) with the nb_id
    // tiebreak keeps rank-1 stable even if a kernel ever reorders
    // the fold (SIMD/pairwise summation)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(round(col("cos"), 6).desc, col("nb_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("label"), col("nb_id"),
        col("neg_label"), round(col("cos"), 6).as("cos"))
  }

  /** MARGIN-BASED BITEXT MINING (Artetxe & Schwenk, "Margin-based
    * Parallel Corpus Mining in Low-Resource Conditions" /
    * CCMatrix-family alignment, public papers): candidate pair (x, y)
    * scores cos(x, y) normalized by the mean cosine of each side's k
    * nearest neighbors on the OTHER side —
    * `margin = cos(x,y) / ((avgTopK(x→Y) + avgTopK(y→X)) / 2)`.
    * An absolute cosine threshold fails on real embedding spaces
    * because HUB points are close to everything; the ratio margin
    * cancels each point's ambient similarity level, which is why the
    * mined-bitext pipelines rank by margin, not cosine. Each x
    * reports its best-margin y and whether it clears `threshold`.
    *
    * This is the EXACT dense form (the [[bruteForceTopK]] tier):
    * both sides cross-scored with the codegen'd cosine — the
    * smaller side broadcast, documented bounded by the caller. At
    * corpus scale the cross-score is replaced by each side's ANN
    * shortlist (the q101 at-rest index per side; the paper itself
    * approximates the k-NN means from the shortlist) and the margin
    * arithmetic below is UNCHANGED — it only ever sees (src, tgt,
    * cos) rows plus per-point top-k means, both of which the
    * shortlist provides.
    *
    * Exactness recipe (q119/q120): cosines round to 6 decimals at
    * the pair grain, the k-NN means are DECIMAL sums of those
    * rounded values divided as doubles, every window orders by the
    * rounded value with an id tiebreak — so both engines run
    * identical IEEE ops on identical inputs and the margins compare
    * bit-equal. */
  def marginMine(xs: DataFrame, ys: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val x = xs.select(col("vec_id").as("src_id"),
      col("embedding").as("x_emb"))
    val y = ys.select(col("vec_id").as("tgt_id"),
      col("embedding").as("y_emb"))
    marginFromScored(x.crossJoin(broadcast(y))
      .select(col("src_id"), col("tgt_id"),
        round(vectors.cosineFast(col("x_emb"), col("y_emb")), 6)
          .as("cos")), k, threshold)
  }

  /** [[marginMine]]'s scale form: candidates from the multi-table
    * hyperplane-LSH collide join (the [[hardNegatives]] blocking —
    * an equi-join on (table, bucket), never a cross-score), the k-NN
    * means from the SHORTLIST (the paper's own approximation: the
    * true k-NN mean is a shortlist mean once the tables are sized
    * for recall at the relevant floor — [[lshTablesForRecall]]), and
    * the identical margin arithmetic. Sources with an empty
    * shortlist produce no row — at mining thresholds they could
    * never accept. Plane matrices are plan-time literals, so the
    * oracle inlines them and verifies this approximate plan
    * EXACTLY (the q62/q119 convention). */
  def marginMineIndexed(xs: DataFrame, ys: DataFrame,
      tables: Seq[Seq[Array[Double]]], k: Int,
      threshold: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val scored = collideCandidates(xs, ys, tables)
      .join(xs.select(col("vec_id").as("src_id"),
        col("embedding").as("x_emb")), "src_id")
      .join(ys.select(col("vec_id").as("tgt_id"),
        col("embedding").as("y_emb")), "tgt_id")
      .select(col("src_id"), col("tgt_id"),
        round(vectors.cosineFast(col("x_emb"), col("y_emb")), 6)
          .as("cos"))
    marginFromScored(scored, k, threshold)
  }

  /** FORWARD-MARGIN MINING AGAINST THE AT-REST STORE — the margin
    * family's ingest leg: a bounded batch of query vectors mined
    * against the bucket-clustered embedding store (the q97 layout).
    * Per batch vector the candidate set is its multi-probe ball —
    * every stored bucket within `radius` sign-bit flips
    * ([[probeRadiusForRecall]] sizes radius for a recall floor) —
    * and the score is the FORWARD margin `cos_best / mean(top-k
    * cos)`: at ingest only the store side has an index, and the
    * forward variant is the margin the mined-bitext papers use when
    * the two-directional means are unavailable. ≥ 1 by construction
    * (the best is in its own mean); a pair is interesting when the
    * best STANDS OUT from its shortlist, i.e. margin clears
    * `threshold`.
    *
    * Scale shape: the batch's UNION probe ball is a bounded literal
    * set (|batch| × ball, guarded loudly) pushed as ONE isin into
    * the bucket-clustered scan — parquet file/row-group stats prune
    * the store instead of reading it (the q98/q101 convention; the
    * point-fetch idea on the embedding store). The per-pair ball
    * membership then evaluates on the PRUNED slice as a Hamming
    * predicate under a broadcast of the bounded batch. Batch vectors
    * whose ball holds no stored row produce no output (the
    * [[marginMineIndexed]] contract — at mining thresholds they
    * could never accept). Exactness recipe unchanged (round-6
    * cosines, DECIMAL shortlist mean, id tie-breaks); plane literals
    * inline in the oracle. */
  def marginProbeStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, batch: DataFrame,
      planes: Seq[Array[Double]], radius: Int, k: Int,
      threshold: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val b = batch.select(col("vec_id").as("src_id"),
      col("embedding").as("q_emb"),
      vectors.hyperplaneBucketFast(col("embedding"), planes).as("qb"))
      .localCheckpoint() // bounded; read for the ball AND the join
    val ball = b.select(col("qb")).distinct().collect()
      .flatMap(r => probeBuckets(r.getLong(0), planes.size, radius))
      .distinct.toSeq
    require(ball.size <= (1 << 20),
      s"probe-ball pushdown of ${ball.size} buckets exceeds the " +
        "bounded-literal contract — shrink the batch or the radius")
    val pruned = spark.read.parquet(storeDir)
      .filter(col("bucket").isin(ball: _*))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cos").desc, col("tgt_id"))
    val ranked = pruned.join(broadcast(b),
        bit_count(col("bucket").bitwiseXOR(col("qb"))) <= radius)
      .select(col("src_id"),
        col("vec_id").as("tgt_id"),
        round(vectors.cosineFast(col("embedding"), col("q_emb")), 6)
          .as("cos"))
      // positive-cosine only, mirroring [[marginFromScored]]: the
      // forward margin is a ratio of similarities and needs a
      // positive scale — a mixed-sign shortlist could zero (or
      // sign-flip) the DECIMAL mean and turn an anti-similar pair
      // into an inflated "accepted" margin
      .filter(col("cos") > 0)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .localCheckpoint() // best row + shortlist stats read it twice
    val stats = ranked.groupBy(col("src_id"))
      .agg(sum(col("cos").cast(
          org.apache.spark.sql.types.DecimalType(18, 6))).as("s"),
        count(lit(1)).as("c"))
    ranked.filter(col("rk") === 1)
      .select(col("src_id"), col("tgt_id"), col("cos"))
      .join(stats, "src_id")
      .withColumn("margin", round(
        col("cos").cast("double") /
          (col("s").cast("double") / col("c")), 6))
      .select(col("src_id"), col("tgt_id"), col("cos"), col("margin"),
        (col("margin") >= threshold).as("accepted"))
  }

  /** TWO-SIDED AT-REST MARGIN MINING — the CCMatrix production
    * shape: BOTH sides live as bucket-clustered stores (the q97
    * layout) and the margin is the true two-directional Artetxe
    * ratio — [[marginFromScored]], the SAME core as the dense
    * (q184) and LSH-indexed (q187) forms, so the arithmetic cannot
    * drift; [[marginProbeStore]]'s forward variant exists precisely
    * for when only ONE side has an index, and this closes that gap.
    *
    * Candidates: each X-side OCCUPIED bucket's multi-probe ball —
    * every Y bucket within `radius` sign-bit flips, ENUMERATED via
    * [[probeBuckets]] (the enumeration IS the Hamming-≤-radius
    * bucket relation, so no per-pair distance post-filter is
    * needed) — lands as a bounded broadcast (xb, yb) frame; the
    * distinct ball targets push as ONE isin into the Y store scan
    * (parquet file/row-group pruning, the q98/q101 convention); X
    * streams through an equi-join on its own bucket column. Neither
    * corpus is ever cross-scored, collected, or broadcast — only
    * the occupied-bucket set is (bounded by 2^|planes| and guarded
    * loudly). Exactness recipe unchanged (round-6 cosines, DECIMAL
    * shortlist means, id tie-breaks); plane literals inline in the
    * oracle so the at-rest plan verifies exactly. */
  def marginMineStores(spark: org.apache.spark.sql.SparkSession,
      storeX: String, storeY: String, planes: Seq[Array[Double]],
      radius: Int, k: Int, threshold: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val x = spark.read.parquet(storeX)
    val y = spark.read.parquet(storeY)
    val xb = x.select(col("bucket")).distinct().collect()
      .map(_.getLong(0))
    require(xb.length <= (1 << 20),
      s"occupied-bucket collect of ${xb.length} exceeds the " +
        "bounded-literal contract — use more planes per store shard")
    val ballPairs = xb.toSeq.flatMap(b =>
      probeBuckets(b, planes.size, radius).map(t => (b, t)))
    require(ballPairs.size <= (1 << 20),
      s"ball expansion of ${ballPairs.size} bucket pairs exceeds " +
        "the bounded-literal contract — shrink the radius")
    import spark.implicits._
    val ball = broadcast(ballPairs.toDF("xb", "yb"))
    val targets = ballPairs.map(_._2).distinct
    val scored = x
      .select(col("vec_id").as("src_id"),
        col("embedding").as("x_emb"), col("bucket").as("xb"))
      .join(ball, "xb")
      .join(y.filter(col("bucket").isin(targets: _*))
          .select(col("vec_id").as("tgt_id"),
            col("embedding").as("y_emb"), col("bucket").as("yb")),
        "yb")
      .select(col("src_id"), col("tgt_id"),
        round(vectors.cosineFast(col("x_emb"), col("y_emb")), 6)
          .as("cos"))
    marginFromScored(scored, k, threshold)
  }

  /** The LSH collide candidate pair set of the indexed margin miner
    * — (src_id, tgt_id) distinct over same-(table, bucket)
    * collisions ([[hardNegatives]]' blocking on a two-sided input). */
  private def collideCandidates(xs: DataFrame, ys: DataFrame,
      tables: Seq[Seq[Array[Double]]]): DataFrame = {
    def bucketed(f: DataFrame, id: String) = f.select(
      col("vec_id").as(id),
      posexplode(vectors.multiTableBucketsFast(col("embedding"), tables))
        .as(Seq("tbl", "bucket")))
    bucketed(xs, "src_id")
      .join(bucketed(ys, "tgt_id"), Seq("tbl", "bucket"))
      .select("src_id", "tgt_id").distinct()
  }

  /** The margin arithmetic over a (src_id, tgt_id, cos) candidate
    * set — shared by the exact and indexed forms so the two cannot
    * drift (exactness recipe documented on [[marginMine]]).
    *
    * Candidates are POSITIVE-cosine only: the margin is a ratio of
    * similarities and needs a positive scale. Without the filter, a
    * target whose entire (shortlist) neighborhood is negative gets a
    * NEGATIVE k-NN mean, and a negative cosine over a negative
    * denominator flips into a large positive margin — an
    * anti-similar pair outranking every real one (surfaced by the
    * planted-pair spec on the indexed form, where one-candidate
    * shortlists make it easy to hit). A pair at cos ≤ 0 is never a
    * mining candidate. */
  private def marginFromScored(scoredIn: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    // three windows and a join re-read the pair set; without the
    // checkpoint the codegen'd scoring subtree would re-run per reader
    val scored = scoredIn.filter(col("cos") > 0).localCheckpoint()
    def topKMean(key: String, other: String) = {
      val w = Window.partitionBy(col(key))
        .orderBy(col("cos").desc, col(other))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .groupBy(col(key))
        .agg(sum(col("cos").cast(
            org.apache.spark.sql.types.DecimalType(18, 6))).as("s"),
          count(lit(1)).as("c"))
    }
    val ax = topKMean("src_id", "tgt_id").toDF("src_id", "sx", "cx")
    val ay = topKMean("tgt_id", "src_id").toDF("tgt_id", "sy", "cy")
    val m = scored.join(ax, "src_id").join(ay, "tgt_id")
      .withColumn("margin", round(
        col("cos").cast("double") /
          ((col("sx").cast("double") / col("cx") +
            col("sy").cast("double") / col("cy")) / lit(2.0)), 6))
    val best = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id"))
    m.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("src_id"), col("tgt_id"), col("cos"), col("margin"),
        (col("margin") >= threshold).as("accepted"))
  }

  /** Multi-probe LSH probe list (Lv et al., public technique): the
    * query's bucket plus every bucket within `radius` bit flips of it
    * over the `nPlanes` sign bits. Against a STORED-bucket layout
    * (q97) this is the recall knob that needs NO new layout and NO
    * extra tables: radius 0 reads one bucket's files, radius 1 reads
    * nPlanes+1 of the 2^nPlanes buckets, ... — each flipped bit
    * admits neighbors that landed one hyperplane away, which is
    * exactly where near misses go. Deterministic order (radius-major,
    * then ascending flip positions); distinct by construction since
    * each combination of flips yields a distinct XOR mask. */
  def probeBuckets(bucket: Long, nPlanes: Int, radius: Int): Seq[Long] = {
    require(nPlanes >= 1 && nPlanes <= 62, s"nPlanes out of range: $nPlanes")
    require(radius >= 0 && radius <= nPlanes,
      s"radius $radius outside [0, $nPlanes]")
    (0 to radius).flatMap(r =>
      (0 until nPlanes).combinations(r).map(flips =>
        flips.foldLeft(bucket)((b, i) => b ^ (1L << i))))
  }

  /** Recall-targeted probe radius — [[lshTablesForRecall]]'s analog
    * for the STORED-layout multi-probe path ([[probeBuckets]]): the
    * smallest Hamming radius r such that a neighbor at cosine ≥
    * `simFloor` lands within r bit flips of the query's bucket with
    * probability ≥ 1 − `targetMiss`.
    *
    * Arithmetic: each hyperplane separates the pair independently
    * with probability 1 − p, p = 1 − θ/π, θ = acos(simFloor) — so the
    * Hamming distance between the two buckets is Binomial(nPlanes,
    * 1−p) and P(distance ≤ r) is its CDF, evaluated exactly (the same
    * per-plane probability [[lshTablesForRecall]] exponentiates; here
    * the recall is bought with FILES of one layout instead of extra
    * tables or layout rewrites).
    *
    * The recall target is a CONTRACT (the loud-failure convention of
    * lshTablesForRecall): if no radius ≤ `maxRadius` reaches it, this
    * fails instead of silently returning a radius that degrades to a
    * near-full scan — the caller then loosens targetMiss, raises
    * maxRadius explicitly, or adds planes/tables. maxRadius defaults
    * to nPlanes (always satisfiable, since r = nPlanes covers every
    * bucket); production callers cap it at the IO budget they mean
    * (buckets read = Σ_{i≤r} C(nPlanes, i)). */
  def probeRadiusForRecall(nPlanes: Int, simFloor: Double,
      targetMiss: Double = 0.01, maxRadius: Int = -1): Int = {
    require(nPlanes >= 1 && nPlanes <= 62, s"nPlanes out of range: $nPlanes")
    require(simFloor > -1.0 && simFloor <= 1.0,
      s"simFloor $simFloor outside (-1, 1]")
    require(targetMiss > 0.0 && targetMiss < 1.0,
      s"targetMiss $targetMiss outside (0, 1)")
    val cap = if (maxRadius < 0) nPlanes else math.min(maxRadius, nPlanes)
    val p = 1.0 - math.acos(simFloor) / math.Pi // per-plane agreement
    // exact binomial CDF: C(n,i) p^(n-i) (1-p)^i accumulated in order
    def term(i: Int): Double = {
      var c = 1.0
      var j = 0
      while (j < i) { c = c * (nPlanes - j) / (j + 1); j += 1 }
      c * math.pow(p, nPlanes - i) * math.pow(1.0 - p, i)
    }
    var cdf = 0.0
    var r = 0
    while (r <= cap) {
      cdf += term(r)
      // r = nPlanes is the complete ball — probability 1 by
      // construction, even when the accumulated floating-point CDF
      // lands a few ulps under 1.0 (a sub-1e-15 targetMiss would
      // otherwise make the documented always-satisfiable default throw)
      if (cdf >= 1.0 - targetMiss || r == nPlanes) return r
      r += 1
    }
    throw new IllegalArgumentException(
      s"holding miss<=$targetMiss at simFloor=$simFloor with $nPlanes " +
        s"planes needs probe radius > maxRadius=$cap (CDF at $cap = " +
        f"$cdf%.4f): loosen targetMiss, raise maxRadius, or accept " +
        "recall drift explicitly")
  }

  /** [[lshNearDupPairs]] with BOTH knobs derived from the corpus:
    * planes per table from [[planesForSize]] (one count() planning
    * statistic, the q54 pattern) and table count from
    * [[lshTablesForRecall]]. The planes stay driver-side literals, so
    * an oracle can inline the matrices the rule derives at the verify
    * scale; the output stays subset-exact (every candidate re-scored
    * with the exact cosine). */
  def lshNearDupPairsAuto(emb: DataFrame, threshold: Double, seed: Long,
      dim: Int, targetMiss: Double = 0.01,
      targetOccupancy: Int = 32): DataFrame = {
    val nPlanes = planesForSize(emb.count(), targetOccupancy)
    val nTables = lshTablesForRecall(nPlanes, threshold, targetMiss)
    val tables = (0 until nTables).map(i =>
      graft.functions.vectors.planeMatrix(seed + i, nPlanes, dim))
    lshNearDupPairs(emb, threshold, tables)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * coarse-cluster the embedding space on the given centroids, then
    * WITHIN each cluster mark every vector that has an earlier-id
    * neighbor at cosine >= `threshold` as a duplicate of its smallest
    * such neighbor. The clustering bounds the quadratic — only
    * same-cell pairs are ever compared, and cross-cluster near-dups
    * are deliberately out of contract (the paper's design: that
    * restriction is exactly what makes the pass tractable at corpus
    * scale). Returns (vec_id, cell, dup_of nullable, is_dup).
    *
    * Scale shape (100 TB): cell assignment is one codegen'd map pass,
    * no shuffle. The pair pass shuffles the corpus ONCE on cell and is
    * quadratic only within a cell — with centroids sized for ~constant
    * occupancy, total work is n × occupancy, not n². Per-cell occupancy
    * is checked against `maxCellSize` via a |centroids|-row broadcast
    * of the cell-size aggregate, and the query fails loudly when a
    * degenerate clustering (one mega-cell) would silently reintroduce
    * the all-pairs blow-up. The keeper rule (min earlier id, not
    * connected components) is ONE aggregate — single-round and
    * deterministic; transitive chains collapse to their earliest
    * member, the one-exemplar-per-group outcome SemDeDup keeps. */
  def semanticDedup(emb: DataFrame, centroids: Seq[Array[Double]],
      threshold: Double, maxCellSize: Int = 1000000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold $threshold outside (0, 1]")
    val assigned = emb.select(col("vec_id"), col("embedding"),
      vectors.assignCellFast(col("embedding"), centroids).as("cell"))
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("_sd_n"))
    val guarded = assigned.join(broadcast(sizes), Seq("cell"))
      .withColumn("cell",
        when(col("_sd_n") > maxCellSize, raise_error(concat(
          lit("semanticDedup: cell "), col("cell").cast("string"),
          lit(" holds "), col("_sd_n").cast("string"),
          lit(s" vectors (> $maxCellSize) — refine the clustering or " +
            "raise maxCellSize"))))
          .otherwise(col("cell")))
      .drop("_sd_n")
    val a = guarded.select(col("cell"), col("vec_id").as("_sd_ida"),
      col("embedding").as("_sd_ea"))
    val b = guarded.select(col("cell"), col("vec_id").as("_sd_idb"),
      col("embedding").as("_sd_eb"))
    val dupOf = a.join(b, Seq("cell"))
      .filter(col("_sd_ida") < col("_sd_idb"))
      .filter(vectors.cosineFast(col("_sd_ea"), col("_sd_eb")) >= threshold)
      .groupBy(col("_sd_idb").as("vec_id"))
      .agg(min(col("_sd_ida")).as("dup_of"))
    guarded.join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** PER-(LABEL, DIMENSION) EMBEDDING MOMENTS — exact integer first
    * and second moments of every embedding dimension within every
    * label, plus the population-variance NUMERATOR n·Σq² − (Σq)²:
    * the representation-health report behind whitening stats,
    * dead-dimension detection (var_num ≈ 0 ⇒ the dim is constant
    * inside the label — a collapsed direction contrastive training
    * cannot use), and cross-label discriminability (dims whose s_sum
    * barely moves across labels carry no class signal).
    *
    * Same quantization contract as [[labelCoherence]] (floor(x·2³⁰) —
    * exact products, engine-identical floor). The SQUARE is taken in
    * decimal, not long: q² overflows int64 the moment a component
    * exceeds ~2.93 (|q| > 2^31·√2 ⇒ q² > 2^63), which ANSI mode turns
    * into a runtime throw and legacy mode into silent garbage; both
    * moments then aggregate as 38-digit decimals and the variance
    * numerator is decimal arithmetic end to end — the output has ZERO
    * float surface, so there is nothing to round and nothing for
    * engines to disagree on. One exploded hash aggregate; map-side
    * combine bounds the only shuffle at |labels|·dim rows per task,
    * corpus-independent. */
  def embeddingMoments(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val quant = 1073741824.0 // 2^30
    val qd = col("q").cast("decimal(19,0)")
    emb
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "comp")))
      .select(col("label"), col("pos"),
        floor(col("comp").cast("double") * quant).cast("long").as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(qd).cast("decimal(38,0)").as("s_sum"),
        sum(qd * qd).cast("decimal(38,0)").as("q_sum"))
      .withColumn("var_num",
        (col("n_vecs").cast("decimal(20,0)") * col("q_sum") -
          col("s_sum") * col("s_sum")).cast("decimal(38,0)"))
  }

  /** LABEL AFFINITY MATRIX — cosine between every pair of label
    * centroid directions: the between-class complement of
    * [[labelCoherence]]'s within-class signal. High affinity names
    * the label pairs a classifier (or a contrastive objective) will
    * confuse; combined with coherence it separates "two tight but
    * overlapping classes" from "one diffuse class".
    *
    * Built entirely on [[embeddingMoments]]' integer centroid sums:
    * the pairwise dot and both norms are DECIMAL sums of integer
    * products (exact at any magnitude), and the final ratio divides
    * doubles obtained by CORRECTLY-ROUNDED decimal→double casts —
    * measured identical in both engines — so the only float ops are
    * the last divide/sqrt on identical inputs. Volumes after the one
    * moments shuffle are |labels|²·dim rows — driver-trivial
    * regardless of corpus size. Zero-centroid labels yield NULL
    * affinity (undefined direction), deterministically. */
  def labelAffinity(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val cent = embeddingMoments(emb, vecCol, labelCol)
      .select(col("label"), col("pos"), col("s_sum"))
    val n2 = cent.groupBy(col("label"))
      .agg(sum(col("s_sum") * col("s_sum")).cast("decimal(38,0)")
        .as("n2"))
    val a = cent.toDF("label_a", "pos", "ca")
    val b = cent.toDF("label_b", "pos", "cb")
    a.join(b, Seq("pos")).filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("ca") * col("cb")).cast("decimal(38,0)").as("dot"))
      .join(n2.toDF("label_a", "na"), Seq("label_a"))
      .join(n2.toDF("label_b", "nb"), Seq("label_b"))
      .select(col("label_a"), col("label_b"),
        when(col("na") > 0 && col("nb") > 0,
          round(col("dot").cast("double") /
            (sqrt(col("na").cast("double")) *
              sqrt(col("nb").cast("double"))), 6))
          .as("affinity"))
  }

  /** PER-LABEL EMBEDDING COHERENCE — each label's mean cosine to its
    * own centroid direction, the intra-class compactness signal that
    * flags mislabeled or noise-flooded classes before a contrastive
    * run wastes epochs on them (low sum_cos/n ⇒ the label is not one
    * cluster; very low min_cos names the worst offenders).
    *
    * Scale shape: ONE posexplode feeding a hash aggregate — partial
    * (map-side) combine collapses each task to |labels|·dim rows
    * before the only shuffle, so shuffle volume is tasks·labels·dim
    * regardless of corpus size; the centroid table is a BOUNDED
    * planning collect (|labels|·dim, loudly guarded — cardinality is
    * checked with a bounded distinct BEFORE the collect, so an
    * id-typed label column fails fast instead of OOMing the driver),
    * embedded back as literals for scan-time scoring (the q115
    * convention).
    *
    * Exactness without division or rounding: the centroid is the
    * per-label component SUM — cosine is scale-invariant, so the sum
    * direction IS the mean direction — and components are quantized
    * to exact integers first (floor(x·2³⁰): float mantissas make the
    * product exact, floor is engine-identical where double→long CASTs
    * are not — Spark truncates, DuckDB rounds). Integer sums stay
    * < 2⁵³, so the double centroid literal is exact in both engines;
    * only the final per-row cosine rounds (6 dp). */
  def labelCoherence(emb: DataFrame, vecCol: String, labelCol: String,
      maxLabels: Int = 1024): DataFrame = {
    val quant = 1073741824.0 // 2^30
    // cardinality gate BEFORE the |labels|·dim collect: the count is
    // bounded by limit(maxLabels + 1), so a runaway label column
    // (an id passed by mistake) costs one cheap aggregate, not an
    // unbounded driver materialization
    val nLabels = emb.select(col(labelCol)).distinct()
      .limit(maxLabels + 1).count()
    require(nLabels <= maxLabels,
      s"labelCoherence: distinct labels exceed maxLabels=$maxLabels " +
        "— the centroid literal would not broadcast; raise the cap " +
        "or pre-bucket the labels (is the label column actually " +
        "an id?)")
    val cent = emb
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "comp")))
      .select(col("label"), col("pos"),
        floor(col("comp").cast("double") * quant).cast("long").as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("cq"))
      .collect()
    val byLabel: Map[Any, Seq[Double]] = cent
      .groupBy(_.get(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(_.getLong(2).toDouble).toSeq
      }
    require(byLabel.nonEmpty, "labelCoherence: no vectors")
    byLabel.foreach { case (l, arr) =>
      require(arr.exists(_ != 0.0),
        s"labelCoherence: label $l's quantized centroid is the zero " +
          "vector (its members cancel) — coherence to it is undefined; " +
          "drop or split the label upstream")
    }
    // ONE map literal + element_at, not a |labels|-deep when-chain:
    // a chain is O(labels) comparisons per row and blows past the
    // JVM method-size limit (→ interpreted fallback) near the cap
    val centMap: Map[String, Seq[Double]] =
      byLabel.map { case (l, arr) => String.valueOf(l) -> arr }
    val centLit = element_at(typedLit(centMap),
      col(labelCol).cast("string"))
    emb
      .select(col(labelCol).as("label"),
        round(vectors.cosineFast(col(vecCol), centLit), 6).as("cos"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("cos").cast("decimal(20,6)")).cast("double")
          .as("sum_cos"),
        min(col("cos")).as("min_cos"))
  }
}
