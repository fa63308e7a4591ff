package graft

import org.apache.spark.sql.catalyst.expressions.ArraysOverlap
import org.apache.spark.sql.{functions => F, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.Dedup
import graft.sources.Layout

class RulesSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def overlapCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.expressions
      .map(_.collect { case o: ArraysOverlap => o }.size).sum

  // RDD-backed input: a LocalRelation would be constant-folded by
  // ConvertToLocalRelation before the injected rule could matter
  private def arraysDf(containsNull: Boolean): DataFrame = {
    val schema = StructType(Seq(
      StructField("x", ArrayType(StringType, containsNull), nullable = false),
      StructField("y", ArrayType(StringType, containsNull), nullable = false)))
    val rows = Seq(
      Row(Seq("a", "b"), Seq("b", "c")),
      Row(Seq("a"), Seq("c")))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  test("intersection-count overlap tests rewrite to arrays_overlap") {
    val df = arraysDf(containsNull = false)
    val gt = df.filter(F.size(array_intersect(col("x"), col("y"))) > 0)
    overlapCount(gt) shouldBe 1
    gt.count() shouldBe 1L
    val eq = df.filter(F.size(array_intersect(col("x"), col("y"))) === 0)
    overlapCount(eq) shouldBe 1
    eq.count() shouldBe 1L
  }

  test("the rewrite fires in flagContaminated's plan and preserves flags") {
    import spark.implicits._
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "the key agg rose"), Row(2L, "nothing shared here")), 1),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
    val flagged = Dedup.flagContaminated(docs, "text", 2, Seq("key agg"))
    // the flag is a projection (CASE over the predicate); the
    // short-circuit must appear in the optimized plan
    overlapCount(flagged) shouldBe 1
    flagged.select("doc_id", "contaminated").as[(Long, Boolean)]
      .collect().toMap shouldBe Map(1L -> true, 2L -> false)
  }

  test("arrays with nullable elements are NOT rewritten (null semantics differ)") {
    val df = arraysDf(containsNull = true)
    val q = df.filter(F.size(array_intersect(col("x"), col("y"))) > 0)
    overlapCount(q) shouldBe 0
    q.count() shouldBe 1L
  }

  // ── AnnTopKToLshPrune ──

  import graft.functions.vectors
  import graft.plans.AnnTopKToLshPrune
  import org.apache.spark.sql.graft.HyperplaneBuckets

  private def bucketFilterCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.exists(_.isInstanceOf[HyperplaneBuckets]) => f
    }.size

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val queryVec: Seq[Float] =
    emb.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)

  /** The rule's target shape: exact cosine top-k against a literal. */
  private def cosineTopK(k: Int): DataFrame =
    emb.filter(col("vec_id") =!= 0)
      .orderBy(
        vectors.cosineFast(col("embedding"), typedLit(queryVec)).desc,
        col("vec_id"))
      .limit(k)
      .select(col("vec_id"),
        round(vectors.cosineFast(col("embedding"), typedLit(queryVec)), 6)
          .as("cos"))

  private def withAnnRewrite[A](body: => A): A =
    GraftSession.withConf(spark, AnnTopKToLshPrune.EnabledKey -> "true")(body)

  test("ANN rewrite is off by default and opt-in via conf") {
    bucketFilterCount(cosineTopK(10)) shouldBe 0
    withAnnRewrite { bucketFilterCount(cosineTopK(10)) shouldBe 1 }
    // and off again once the conf is cleared (no sticky plan state)
    bucketFilterCount(cosineTopK(10)) shouldBe 0
  }

  test("q93 restores a caller's ANN-rewrite opt-in instead of unsetting it") {
    withAnnRewrite {
      SparkEntry.queries("q93_ann_rewrite")(spark, "/root/testdata/sf0.001")
        .count() should be > 0L
      spark.conf.getOption(AnnTopKToLshPrune.EnabledKey) shouldBe Some("true")
    }
  }

  test("ANN rewrite result equals the hand-built bucket-pruned plan") {
    val rewritten = withAnnRewrite { cosineTopK(10).collect().toSeq }
    // hand-built equivalent with the rule's default knobs (4 planes,
    // 8 tables, seed 93), conf OFF — the rewrite must compute exactly
    // this, candidate-for-candidate
    val dim = queryVec.size
    val tables = (0 until 8).map(t => vectors.planeMatrix(93L + t, 4, dim))
    val pruned = tables.map { planes =>
      vectors.hyperplaneBucketFast(col("embedding"), planes) ===
        vectors.hyperplaneBucketFast(typedLit(queryVec), planes)
    }.reduce(_ || _)
    val manual = emb.filter(col("vec_id") =!= 0).filter(pruned)
      .orderBy(
        vectors.cosineFast(col("embedding"), typedLit(queryVec)).desc,
        col("vec_id"))
      .limit(10)
      .select(col("vec_id"),
        round(vectors.cosineFast(col("embedding"), typedLit(queryVec)), 6)
          .as("cos"))
    bucketFilterCount(manual) shouldBe 1 // sanity: same filter shape
    rewritten shouldBe manual.collect().toSeq
  }

  test("ANN rewrite returns a subset of the exact top-k ranking") {
    val exact = cosineTopK(10).collect().map(_.getLong(0)).toSet
    val approx = withAnnRewrite { cosineTopK(10).collect() }
    approx.length should be <= 10
    // every returned cosine is a true cosine (exact re-rank), so the
    // approximate list is the exact list restricted to candidates:
    // measure recall and require the fixture's deterministic floor
    val recall = approx.count(r => exact(r.getLong(0))).toDouble / 10
    recall should be >= 0.5
  }

  test("ANN rewrite fires through the SQL surface too") {
    graft.plans.GraftExtensions.register(spark)
    emb.createOrReplaceTempView("rules_emb")
    val arr = "array(" + queryVec.map(v => s"CAST($v AS FLOAT)")
      .mkString(", ") + ")"
    val sql = s"""SELECT vec_id,
      |  round(cosine_sim(embedding, $arr), 6) AS cos
      |FROM rules_emb WHERE vec_id <> 0
      |ORDER BY cosine_sim(embedding, $arr) DESC, vec_id LIMIT 10""".stripMargin
    bucketFilterCount(spark.sql(sql)) shouldBe 0 // off by default
    withAnnRewrite {
      val df = spark.sql(sql)
      bucketFilterCount(df) shouldBe 1
      // and the SQL path computes exactly what the DataFrame path does
      df.collect().toSeq shouldBe cosineTopK(10).collect().toSeq
    }
  }

  test("ANN rewrite fires on an uncorrelated scalar-subquery query vector") {
    graft.plans.GraftExtensions.register(spark)
    emb.createOrReplaceTempView("rules_emb")
    // the "query vector from a lookup" shape: no literal anywhere —
    // the rule must execute the one-row subquery at planning time to
    // derive the bucket predicate, and leave the sort key's subquery
    // in place for execution
    val sql = """SELECT vec_id,
      |  round(cosine_sim(embedding,
      |    (SELECT embedding FROM rules_emb WHERE vec_id = 0)), 6) AS cos
      |FROM rules_emb WHERE vec_id <> 0
      |ORDER BY cosine_sim(embedding,
      |    (SELECT embedding FROM rules_emb WHERE vec_id = 0)) DESC,
      |  vec_id LIMIT 10""".stripMargin
    bucketFilterCount(spark.sql(sql)) shouldBe 0 // off by default
    withAnnRewrite {
      val df = spark.sql(sql)
      bucketFilterCount(df) shouldBe 1
      // the lookup returns vec 0's vector, so the pruned candidates —
      // and therefore the rows — are exactly the literal path's
      df.collect().toSeq shouldBe cosineTopK(10).collect().toSeq
    }
    // a zero-row lookup (scalar subquery → null) must NOT rewrite:
    // the unpruned plan keeps the engine's null-cosine semantics
    withAnnRewrite {
      val empty = spark.sql(sql.replace("WHERE vec_id = 0",
        "WHERE vec_id = -12345"))
      bucketFilterCount(empty) shouldBe 0
    }
  }

  // ── AnnTopKToIndexScan (index selection over a registered store) ──

  test("index selection: a registered at-rest store serves plain cosine top-k") {
    import graft.plans.AnnIndex
    graft.plans.GraftExtensions.register(spark)
    val root = java.nio.file.Files
      .createTempDirectory("graft_rulespec_idx_").toString
    val store = root + "/idx"
    val dim = queryVec.size
    val planes = vectors.planeMatrix(4242L, 4, dim)
    val stored = emb
      .withColumn("scale", vectors.quantizeScale(col("embedding")))
      .select(col("vec_id"),
        vectors.hyperplaneBucketFast(col("embedding"), planes).as("bucket"),
        vectors.quantizeInt8(col("embedding"), col("scale")).as("codes"),
        col("scale"))
    graft.sources.Layout.clusteredWrite(stored, store, 4, col("bucket"))
    def topk(k: Int): DataFrame = emb.filter(col("vec_id") =!= 0)
      .orderBy(
        vectors.cosineFast(col("embedding"), typedLit(queryVec)).desc,
        col("vec_id"))
      .limit(k)
      .select(col("vec_id"),
        round(vectors.cosineFast(col("embedding"), typedLit(queryVec)), 6)
          .as("cos"))
    // not registered → the plan is the plain exact scan
    AnnIndex.servedBy(topk(5), store) shouldBe false
    AnnIndex.register(spark, AnnIndex.Meta("spec",
      "/root/testdata/sf0.001/embeddings.parquet", store,
      "vec_id", "embedding", "bucket", "codes", "scale",
      planesSeed = 4242L, nPlanes = 4, dim = dim, radius = 1,
      shortlist = 20))
    try {
      val served = topk(5)
      AnnIndex.servedBy(served, store) shouldBe true
      // hand-built q101 navigation with the same knobs: probe-ball
      // bucket prune, dequantized shortlist (user filter transplanted),
      // exact re-rank — the rule must compute exactly this
      val qb = spark.range(1)
        .select(vectors.hyperplaneBucketFast(typedLit(queryVec), planes))
        .head.getLong(0)
      val probes = graft.operators.Similarity.probeBuckets(qb, 4, 1)
      val shortlist = spark.read.parquet(store)
        .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= 0)
        .orderBy(
          vectors.cosineFast(
            vectors.dequantizeInt8(col("codes"), col("scale")),
            typedLit(queryVec)).desc,
          col("vec_id"))
        .limit(20).select("vec_id")
      val manual = emb.join(shortlist, "vec_id")
        .orderBy(
          vectors.cosineFast(col("embedding"), typedLit(queryVec)).desc,
          col("vec_id"))
        .limit(5)
        .select(col("vec_id"),
          round(vectors.cosineFast(col("embedding"), typedLit(queryVec)), 6)
            .as("cos"))
      served.collect().toSeq shouldBe manual.collect().toSeq
      // k beyond the registered shortlist must NOT be served (the
      // re-rank is only exact over the stored m candidates)
      AnnIndex.servedBy(topk(21), store) shouldBe false
      // both opt-ins on: index selection wins, the LSH prune defers
      withAnnRewrite {
        val both = topk(5)
        AnnIndex.servedBy(both, store) shouldBe true
        bucketFilterCount(both) shouldBe 0
        both.collect().toSeq shouldBe manual.collect().toSeq
      }
    } finally {
      AnnIndex.unregister(spark, "spec")
      Scratch.deleteRecursively(new java.io.File(root))
    }
    // unregistered again → back to the exact plan (no sticky state)
    AnnIndex.servedBy(topk(5), store) shouldBe false
  }

  test("AnnIndex persistence: save/load round-trip, moved store, CLI inspection, loud on a bare dir") {
    import graft.plans.AnnIndex
    graft.plans.GraftExtensions.register(spark)
    val root = java.nio.file.Files
      .createTempDirectory("graft_rulespec_meta_").toString
    val store = root + "/idx"
    val dim = queryVec.size
    val planes = vectors.planeMatrix(4242L, 4, dim)
    val stored = emb
      .withColumn("scale", vectors.quantizeScale(col("embedding")))
      .select(col("vec_id"),
        vectors.hyperplaneBucketFast(col("embedding"), planes).as("bucket"),
        vectors.quantizeInt8(col("embedding"), col("scale")).as("codes"),
        col("scale"))
    graft.sources.Layout.clusteredWrite(stored, store, 4, col("bucket"))
    val meta = AnnIndex.Meta("spec",
      "/root/testdata/sf0.001/embeddings.parquet", store,
      "vec_id", "embedding", "bucket", "codes", "scale",
      planesSeed = 4242L, nPlanes = 4, dim = dim, radius = 1,
      shortlist = 20)
    try {
      AnnIndex.save(spark, meta)
      AnnIndex.load(spark, store) shouldBe meta
      // adopt from disk → the rule serves, same as in-memory register
      AnnIndex.registerFrom(spark, store)
      try {
        val served = emb.filter(col("vec_id") =!= 0)
          .orderBy(
            vectors.cosineFast(col("embedding"), typedLit(queryVec)).desc,
            col("vec_id"))
          .limit(5)
        AnnIndex.servedBy(served, store) shouldBe true
      } finally AnnIndex.unregister(spark, "spec")
      // a MOVED store registers where it actually lives, not the
      // stale path recorded at save time
      val moved = root + "/idx_moved"
      java.nio.file.Files.move(java.nio.file.Paths.get(store),
        java.nio.file.Paths.get(moved))
      AnnIndex.load(spark, moved).indexPath shouldBe
        new java.io.File(moved).getAbsolutePath
      // the CLI inspection verb surfaces the persisted fields
      val out = Main.run(spark, Seq("index", moved))
      out.head should include("index spec")
      out.mkString should include("radius=1")
      // a directory without the meta file fails loudly
      val ex = intercept[IllegalArgumentException] {
        AnnIndex.load(spark, root)
      }
      ex.getMessage should include("not a graft ANN store")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("index selection serves from a multi-segment (appended) store; saved metadata needs no post-append refresh") {
    import graft.plans.AnnIndex
    graft.plans.GraftExtensions.register(spark)
    val root = java.nio.file.Files
      .createTempDirectory("graft_rulespec_seg_").toString
    val store = root + "/idx"
    val dim = queryVec.size
    val planes = vectors.planeMatrix(4242L, 4, dim)
    def stored(d: DataFrame): DataFrame = d
      .withColumn("scale", vectors.quantizeScale(col("embedding")))
      .select(col("vec_id"),
        vectors.hyperplaneBucketFast(col("embedding"), planes).as("bucket"),
        vectors.quantizeInt8(col("embedding"), col("scale")).as("codes"),
        col("scale"))
    // base segment covers HALF the primary; the other half arrives as
    // a later clusteredAppend ingest segment — the q103 lifecycle
    Layout.clusteredAppend(stored(emb.filter(col("vec_id") % 2 === 0)),
      store, "base", 4, col("bucket"))
    AnnIndex.save(spark, AnnIndex.Meta("specseg",
      "/root/testdata/sf0.001/embeddings.parquet", store,
      "vec_id", "embedding", "bucket", "codes", "scale",
      planesSeed = 4242L, nPlanes = 4, dim = dim, radius = 1,
      shortlist = 20))
    AnnIndex.registerFrom(spark, store)
    try {
      // the append lands AFTER save+register, with NO metadata
      // refresh: Meta carries paths + build knobs only (no segment
      // list), and the rule reads the store root, so partition
      // discovery picks up new `seg=` directories on every plan —
      // append and registration compose with zero coordination
      Layout.clusteredAppend(stored(emb.filter(col("vec_id") % 2 === 1)),
        store, "ingest1", 4, col("bucket"))
      val served = emb.filter(col("vec_id") =!= 0)
        .orderBy(
          vectors.cosineFast(col("embedding"), typedLit(queryVec)).desc,
          col("vec_id"))
        .limit(5)
        .select(col("vec_id"),
          round(vectors.cosineFast(col("embedding"), typedLit(queryVec)), 6)
            .as("cos"))
      AnnIndex.servedBy(served, store) shouldBe true
      // hand-built navigation over the WHOLE two-segment store: the
      // rule must compute exactly this (and candidates from BOTH
      // segments must be reachable — an odd top hit can only come
      // from the appended segment)
      val qb = spark.range(1)
        .select(vectors.hyperplaneBucketFast(typedLit(queryVec), planes))
        .head.getLong(0)
      val probes = graft.operators.Similarity.probeBuckets(qb, 4, 1)
      val shortlist = spark.read.parquet(store)
        .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= 0)
        .orderBy(
          vectors.cosineFast(
            vectors.dequantizeInt8(col("codes"), col("scale")),
            typedLit(queryVec)).desc,
          col("vec_id"))
        .limit(20).select("vec_id")
      val manual = emb.join(shortlist, "vec_id")
        .orderBy(
          vectors.cosineFast(col("embedding"), typedLit(queryVec)).desc,
          col("vec_id"))
        .limit(5)
        .select(col("vec_id"),
          round(vectors.cosineFast(col("embedding"), typedLit(queryVec)), 6)
            .as("cos"))
      val servedRows = served.collect().toSeq
      servedRows shouldBe manual.collect().toSeq
      // both segments genuinely contribute shortlist candidates
      val ids = shortlist.collect().map(_.getLong(0)).toSet
      ids.exists(_ % 2 == 0) shouldBe true
      ids.exists(_ % 2 == 1) shouldBe true
    } finally {
      AnnIndex.unregister(spark, "specseg")
      Scratch.deleteRecursively(new java.io.File(root))
    }
  }

  test("ANN rewrite does NOT fire on vector-vector (non-literal) top-k") {
    withAnnRewrite {
      // q28's shape: the query side comes from a join, not a literal
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val df = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .orderBy(vectors.cosineFast(col("embedding"), col("qe")).desc)
        .limit(10)
      bucketFilterCount(df) shouldBe 0
      df.count() shouldBe 10L
    }
  }
}
