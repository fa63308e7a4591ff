package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.vectors
import graft.operators.Similarity

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
  * (dev tool; results in PLANS.md "ANN recall MEASURED at 1×/10×",
  * the companion of PLANS.md "Candidate growth MEASURED at 1×–100×"):
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

    // ±50% per-component spread (local density preserved, replicas
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
    // `ProbeRecall q101` runs only the probe-contract sweep above;
    // no arg = everything
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
