package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.CatalogOps
import graft.functions.{codec, hashes, text, urls, vectors}
import graft.gen.Generator
import graft.operators.{CorpusStats, Dedup, Multimodal, Relational, Retrieval, Similarity}
import graft.replay.Replay
import graft.sources.{Bucketing, Layout, SnapshotIO}
import graft.streaming.Streams

/** Driver contract: the full query surface of the engine, one entry
  * per operator from SURVEY.md §2, each with a DuckDB oracle where
  * SQL-expressible. Column names are aliased identically on both
  * sides; aggregates accumulate in DECIMAL and surface as DOUBLE so
  * results are bit-stable under any partitioning (see
  * Relational.exactSum).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** events.ts → micro-precision TimestampType, whatever generation
    * is on disk (the streaming queries' standard event-time column;
    * the raw-type probe is Tables.eventsRawTsType — one definition). */
  private def eventsTsMicros(s: SparkSession, dir: String): Column =
    Tables.eventsTsToMicros(Tables.eventsRawTsType(s, dir))

  /** ms-truncated twin (q56's oracle mirrors ms-precision gaps). */
  private def eventsTsMillis(s: SparkSession, dir: String): Column =
    Tables.eventsTsToMillis(Tables.eventsRawTsType(s, dir))

  /** Data-card scoring/aggregates live in CorpusStats (shared with
    * the `report` CLI verb); local aliases keep the query
    * registrations terse. */
  private def dataCardScored(d: DataFrame): DataFrame =
    CorpusStats.dataCardScored(d)
  private def dataCardAggs: Seq[Column] = CorpusStats.dataCardAggCols

  /** Ephemeral checkpoint dir on tmpfs when available (the
    * drainToTable rationale: none of a memory-sink drain's files need
    * to survive this JVM; fsync-to-disk is pure overhead). ONE
    * definition of the root-selection policy for every drain. */
  private def ephemeralCheckpoint(name: String): java.io.File = {
    val shm = new java.io.File("/dev/shm")
    val root = if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(System.getProperty("java.io.tmpdir"))
    new java.io.File(root, s"graft-ckpt-$name-${System.nanoTime()}")
  }

  /** Collect a BOUNDED (aggregate-sized) result, recursively delete
    * the scratch directory its plan reads from, and re-surface the
    * rows as a local DataFrame — the q58 lesson generalized: a lazy
    * plan over scratch files must be fully consumed before the files
    * go, and repeated bench/verify runs must not accumulate scratch
    * under /tmp. Only for results whose cardinality is a handful of
    * rows (here: 1-row layout aggregates, per-topic snapshots). */
  /** [[materializeThenClean]] minus the delete — for results read
    * off a SHARED version-keyed store that later queries in the same
    * run still consume (the ensurePairStore convention; stale
    * versions are pruned by versionedStoreDir itself). */
  private def materialize(s: SparkSession,
      bounded: DataFrame): DataFrame = {
    val rows = bounded.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), bounded.schema)
  }

  private def materializeThenClean(s: SparkSession,
      bounded: DataFrame, scratchRoot: String): DataFrame = {
    // delete in finally: a failed collect (task failure/OOM) must not
    // leak the scratch copy — Bench/Verify catch per-query Throwables
    // and keep running, so a leak here accumulates across runs
    val rows =
      try bounded.collect()
      finally Scratch.deleteRecursively(new java.io.File(scratchRoot))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), bounded.schema)
  }

  /** The derived per-event topic name — ONE definition feeding both
    * the distinct catalog ([[topicsFromEvents]]) and the counted
    * captures (q96); mirrored verbatim in SQL by [[topicSqlExpr]].
    * Unbound Column: resolves user_id/event_type/event_id against
    * whatever plan it is selected into. */
  private def topicCol: Column =
    concat(
      lit("persistent://tn"), (col("user_id") % 3).cast("string"),
      lit("/ns"), (col("user_id") % 5).cast("string"),
      lit("/"), col("event_type"),
      when(col("event_id") % 3 === 0,
        concat(lit("-partition-"), (col("event_id") % 4).cast("string")))
        .otherwise(lit("")))

  /** Derived topic catalog: a deterministic topic name per event so
    * catalog operators (SURVEY §2.1 S5/U1, §2.5 A2, §2.7 L2) run over
    * fixture data. Mirrored verbatim in SQL by [[topicsCte]]. */
  private def topicsFromEvents(ev: DataFrame): DataFrame =
    ev.select(topicCol.as("topic")).distinct()

  /** A capture for q96: the per-topic message counts of a snapshot. */
  private def topicCountsFromEvents(ev: DataFrame): DataFrame =
    ev.select(topicCol.as("topic"))
      .groupBy("topic").agg(count(lit(1)).as("n"))

  // NOTE: single physical line per concat chain — this fragment is
  // interpolated into stripMargin'd strings, where a line-leading
  // "||" would lose its first '|' to the margin stripper.
  private val topicSqlExpr: String =
    "'persistent://tn' || " +
      "CAST(user_id % 3 AS VARCHAR) || '/ns' || " +
      "CAST(user_id % 5 AS VARCHAR) || '/' || event_type || " +
      "CASE WHEN event_id % 3 = 0 THEN '-partition-' || " +
      "CAST(event_id % 4 AS VARCHAR) ELSE '' END"

  private val topicsCte: String =
    s"WITH topics AS (SELECT DISTINCT $topicSqlExpr AS topic FROM events)"

  /** DuckDB word-n-gram-shingle expression over a `toks` list column,
    * mirroring graft.functions.text.wordShingles(tokens, n) — the
    * SINGLE source for every oracle that shingles (q27/q30/q44/q53/
    * q64 all interpolate this; hand-copies drifted once and were
    * flagged in review). */
  private def sqlShingles(n: Int): String =
    s"list_distinct(list_transform(" +
      s"range(1, greatest(len(toks) - ${n - 2}, 1)), " +
      s"i -> array_to_string(list_slice(toks, i, i + ${n - 1}), ' ')))"

  /** DuckDB token expression mirroring graft.functions.text.tokens,
    * over an arbitrary column/fragment. */
  private def sqlTokensOf(c: String): String =
    s"list_filter(string_split_regex(trim(lower($c)), '\\s+'), x -> len(x) > 0)"

  private val sqlTokens = sqlTokensOf("text")

  /** The q25 quality score (length / stopword / punctuation thirds,
    * rounded 6) as a DuckDB expression over in-scope `toks` and
    * `text` columns — shared by corpusReportSql (q116/q117) and the
    * q153 manifest oracle. */
  private lazy val sqlQualityExpr: String = {
    val stops = text.stopwordsEn.map(w => s"'$w'").mkString(",")
    s"""round((
       |      least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) +
       |      least((CASE WHEN len(toks) = 0 THEN 0.0
       |        ELSE CAST(len(list_filter(toks, x -> x IN ($stops)))
       |          AS DOUBLE) / CAST(len(toks) AS DOUBLE) END) * 10.0,
       |        1.0) +
       |      greatest(1.0 -
       |        (CAST(length(text) -
       |          length(regexp_replace(text, '[.,!?;:]', '', 'g'))
       |          AS DOUBLE)
       |         / greatest(CAST(length(text) AS DOUBLE), 1.0))
       |        * 10.0, 0.0)) / 3.0, 6)""".stripMargin
  }

  // ── LSH plane matrices: driver-side literal constants, shared by the
  // Spark plan AND the DuckDB oracle SQL (vectors.planeMatrix scaladoc
  // explains why this makes approximate queries exactly verifiable) ──
  private val embDim = 64

  /** q187's LSH tables (seed 187): sized exactly like q119's —
    * planes from the verify-scale corpus size, table count from the
    * 0.9-floor / 1% miss recall contract. Plan-time literals, so the
    * oracle inlines them (the q62/q119 convention). */
  private val q187Tables: Seq[Seq[Array[Double]]] = {
    val nPlanes = Similarity.planesForSize(500)
    val nTables = Similarity.lshTablesForRecall(nPlanes, 0.9, 0.01)
    (0 until nTables).map(t => vectors.planeMatrix(seed = 187L + t,
      nPlanes = nPlanes, dim = embDim))
  }

  /** q185's blocklist — ONE definition rendered into both the engine
    * call and the oracle's VALUES list. Deliberate composition:
    * multi-word phrases, a NESTED pair ("table" inside "table part" —
    * exercises the automaton's failure-link output merge), and a
    * never-matching entry so the no-hit path gates. */
  private val q185Patterns = Seq("table", "table part", "slow fast",
    "customer query", "batch batch", "spark", "agg join",
    "zz-never-present")
  private val q32Planes: Seq[Array[Double]] =
    vectors.planeMatrix(seed = 42L, nPlanes = 8, dim = embDim)
  private val q29Tables: Seq[Seq[Array[Double]]] =
    (0 until 16).map(tbl => vectors.planeMatrix(1000L + tbl, 8, embDim))
  /** IVF coarse-quantizer centroids: seeded literals (same oracle
    * trick as the planes); production trains real centroids via
    * Similarity.trainIvfCentroids without changing the plan. */
  private val ivfCentroids: Seq[Array[Double]] =
    vectors.planeMatrix(seed = 7L, nPlanes = 16, dim = embDim)
  /** q54's oracle mirror of the SCALE-AWARE plane derivation: the
    * sizing rule applied to the verify-scale corpus (sf0.01 has 500
    * embeddings → planesForSize(500, 32) = 4 planes). The Spark side
    * derives the same count from a live count() at any scale; the
    * oracle is pinned to the scale the driver verifies at. */
  private val q54Planes: Seq[Array[Double]] =
    vectors.planeMatrix(seed = 77L,
      nPlanes = Similarity.planesForSize(500), dim = embDim)
  /** q93's oracle mirror of the ANN rewrite rule's default knobs
    * (plans.AnnTopKToLshPrune: 8 tables × 4 planes, seed 93) — the
    * same matrices the rule derives at optimization time, re-derived
    * here as oracle literals. */
  private val q93Tables: Seq[Seq[Array[Double]]] =
    (0 until 8).map(t => vectors.planeMatrix(seed = 93L + t,
      nPlanes = 4, dim = embDim))
  /** q95's oracle mirror of lshTopKMultiAuto's derivation at the
    * verify scale (sf0.01, 500 vectors): planesForSize(500) = 4
    * planes, lshTablesForRecall(4, floor 0.9, miss 0.01) = 6 tables
    * (the q54 pinned-scale convention). */
  private val q95Tables: Seq[Seq[Array[Double]]] = {
    val nPlanes = Similarity.planesForSize(500)
    val nTables = Similarity.lshTablesForRecall(nPlanes, 0.9, 0.01)
    (0 until nTables).map(t => vectors.planeMatrix(seed = 95L + t,
      nPlanes = nPlanes, dim = embDim))
  }
  /** q119's oracle mirror (the q95 pinned-scale convention): same
    * derivation at the verify scale, seed 119. */
  private val q119Tables: Seq[Seq[Array[Double]]] = {
    val nPlanes = Similarity.planesForSize(500)
    val nTables = Similarity.lshTablesForRecall(nPlanes, 0.9, 0.01)
    (0 until nTables).map(t => vectors.planeMatrix(seed = 119L + t,
      nPlanes = nPlanes, dim = embDim))
  }
  /** q97's single layout table (4 planes → 16 buckets at the verify
    * scale): the bucket is a STORED clustering column there, so one
    * table is the layout-key convention (multi-probe reads more
    * buckets of the same layout, it does not need more tables). */
  private val q97Planes: Seq[Array[Double]] =
    vectors.planeMatrix(seed = 97L, nPlanes = Similarity.planesForSize(500),
      dim = embDim)
  /** q98/q101's probe radius, DERIVED from a recall contract instead
    * of hardcoded: a neighbor at cos ≥ 0.9 lands within this many bit
    * flips of the query's bucket with probability ≥ 0.85 (with 4
    * planes the binomial CDF gives radius 1 → 5 of 16 buckets read;
    * a production layout with 20+ planes reads a far smaller
    * fraction at the same contract). The oracle SQL pins the derived
    * value at the verify scale, the q54 pinned-scale convention. */
  private val q98Radius: Int = Similarity.probeRadiusForRecall(
    q97Planes.size, simFloor = 0.9, targetMiss = 0.15)

  /** Render a Double so DuckDB parses back the identical IEEE value
    * (Double.toString is the shortest round-tripping decimal). */
  private def sqlDouble(d: Double): String = d.toString

  private def sqlPlaneList(p: Array[Double]): String =
    "[" + p.map(sqlDouble).mkString(",") + "]::DOUBLE[]"

  /** DuckDB mirror of vectors.dotLit: identical strict left fold. */
  private def sqlDotLit(vec: String, p: Array[Double]): String =
    s"list_reduce(list_transform(range(1, ${embDim + 1}), " +
      s"i -> CAST($vec[i] AS DOUBLE) * (${sqlPlaneList(p)})[i]), (a,b) -> a+b)"

  /** DuckDB mirror of vectors.dotProduct (vector × vector). */
  private def sqlDotVec(x: String, y: String): String =
    s"list_reduce(list_transform(range(1, ${embDim + 1}), " +
      s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (a,b) -> a+b)"

  /** DuckDB mirror of vectors.hyperplaneBucketLit. */
  private def sqlBucket(vec: String, planes: Seq[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"CASE WHEN ${sqlDotLit(vec, p)} >= 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", " + ", ")")

  import Relational.{exactSum, exactAvg}

  /** Shared scaffold for the REGISTERED streaming queries: the events
    * fixture as a bounded stream (Trigger.AvailableNow) → `build`'s
    * aggregation → a memory sink, drained to completion. One
    * definition of the safety-critical drain logic: on timeout the
    * query is STOPPED before failing, so an orphaned stream cannot
    * keep running micro-batches under later queries. */
  private def eventsStream(s: SparkSession, dir: String,
      tsExpr: Column): DataFrame = {
    Tables(s, dir, "events") // sets the nanos-as-long reader conf
    s.readStream
      .schema(s.read.parquet(s"$dir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", tsExpr)
  }

  /** An ISOLATED session for one drain: same SparkContext/SharedState,
    * own SQLConf. The drain wants 8 state partitions (see
    * [[drainToTable]]); a session-global override — even one restored
    * in `finally` — leaks into any batch query planned on the same
    * session DURING the drain. A cloned session makes the override
    * structurally invisible to the caller's session instead of
    * relying on Bench/Verify being strictly sequential. The WHOLE
    * stream pipeline (source included) must be built from this
    * session: a streaming query reads conf from the session of the
    * DataFrame it starts from. Two properties to keep in mind:
    * newSession() starts from the BUILDER confs, not the parent's
    * runtime conf — any runtime conf a stream needs must be (re-)set
    * through this session (eventsStream does, via Tables' reader
    * conf) — and the drained table stays bound to the clone, so a
    * caller's post-drain batch aggregation also plans at 8
    * partitions (right-sized: memory-sink tables are driver-held and
    * small by contract). */
  private def drainSession(s: SparkSession): SparkSession = {
    val ns = s.newSession()
    // streaming aggs here are partitioning-agnostic by design
    // (DECIMAL partials, oracle-gated); per-partition state is KBs,
    // so 8 state partitions beat 32 — a real deployment sizes the
    // SAME conf to its state volume
    ns.conf.set("spark.sql.shuffle.partitions", "8")
    ns
  }

  private def drainToTable(name: String, mode: String,
      out: DataFrame): DataFrame = {
    // A bounded drain pays fixed machinery per (micro-batch × state
    // partition): state-store commit files plus offset/commit-log
    // fsyncs. State partitions are sized by [[drainSession]]; the
    // checkpoint goes to tmpfs when available instead of the
    // fsync-to-disk default temp dir — none of its files need to
    // survive this JVM for a memory-sink drain.
    val ss = out.sparkSession // the isolated drain session
    val ckpt = ephemeralCheckpoint(name)
    try {
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(300000)) {
        q.stop()
        throw new IllegalStateException(
          s"$name streaming query did not drain within 300s")
      }
      ss.table(name)
    } finally {
      Scratch.deleteRecursively(ckpt)
    }
  }

  private def runEventsStream(s: SparkSession, dir: String, name: String,
      mode: String, tsExpr: Column,
      build: DataFrame => DataFrame): DataFrame = {
    val ns = drainSession(s)
    drainToTable(name, mode, build(eventsStream(ns, dir, tsExpr)))
  }

  /** Flagship query (driver smoke-checks rows > 0 on sf0.001): the
    * reference's composed list_topics pipeline — 3-source union →
    * first-wins dedup → partition rollup → priority sort → limit,
    * as one plan (SURVEY §3.3). */
  def entry(spark: SparkSession): DataFrame =
    queries("q50_list_topics")(spark, "/root/testdata/sf0.001")

  /** Streaming queries that EXECUTE on construction: they drain into
    * a memory sink and return the sink table, so their batch plan is
    * only a memory-relation scan. Plan dumps and plan audits skip
    * them; StreamingSpec covers their micro-batch plans. */
  val streamingQueries: Set[String] = Set(
    "q45_streaming_buckets", "q51_streaming_append",
    "q56_streaming_sessions", "q73_streaming_dedup",
    "q80_stream_interval_join", "q85_stream_static_join",
    "q87_tws_sequence", "q111_stream_neardup_ingest",
    "q117_stream_corpus_report")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── A5: partial+final hash aggregation (TPC-H Q1 shape).
    // widenForCpu: the fixture's lineitem is one single-row-group
    // file (one split no matter what maxPartitionBytes says), so the
    // decimal partial aggregation — the expensive half of this plan —
    // would run on ONE core without the keyed widen ──
    "q01_pricing_summary" -> ((s, dir) => {
      Relational.widenForCpu(t(s, dir, "lineitem"), col("l_orderkey"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(20,4)") *
            (lit(1) - col("l_discount").cast("decimal(20,4)")))
            .cast("double").as("sum_disc_price"),
          exactAvg(col("l_quantity")).as("avg_qty"),
          exactAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // ── J4: multi-way join, broadcast dimensions. Lineitem is
    // pre-aggregated to one row per order BELOW the join (a rewrite
    // Catalyst does not do), so the fact-fact shuffle carries order
    // grain instead of lineitem grain — DECIMAL partials keep the
    // re-aggregated revenue exact, and the per-order grain makes
    // countDistinct(o_orderkey) a plain count ──
    "q02_revenue_by_nation" -> ((s, dir) => {
      // widenForCpu: same single-split lineitem hazard as q01 — the
      // per-order decimal pre-aggregation is the heavy stage
      val liAgg = Relational
        .widenForCpu(t(s, dir, "lineitem"), col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(20,4)") *
          (lit(1) - col("l_discount").cast("decimal(20,4)"))).as("rev_dec"))
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      liAgg.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(col("rev_dec")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // ── L2+U3: top-k with deterministic tie-break (TakeOrdered) ──
    "q03_top_orders" -> ((s, dir) => {
      Relational.widenForCpu(t(s, dir, "lineitem"), col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(20,4)") *
          (lit(1) - col("l_discount").cast("decimal(20,4)"))).as("rev_dec"))
        .orderBy(col("rev_dec").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("rev_dec").cast("double").as("revenue"))
    }),

    // ── J3/J4: left-semi join (EXISTS) ──
    "q04_semi_join_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-06-01").cast("timestamp"))
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // ── J3: left-anti join (NOT EXISTS) ──
    "q05_anti_join_segments" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          exactSum(col("c_acctbal")).as("sum_acctbal"))
    }),

    // ── A6/§2.9: top-k per group via ranking window ──
    "q06_topk_per_customer" -> ((s, dir) => {
      Relational.topKPerGroup(
        t(s, dir, "orders"),
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("rnk"))
    }),

    // ── §2.9: running-frame window aggregation ──
    "q07_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("decimal(20,4)")).over(w)
            .cast("double").as("running_qty"))
    }),

    // ── A5: grouping sets / rollup ──
    "q08_rollup_returns" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
    }),

    // ── A5: distinct aggregates ──
    "q09_distinct_priority" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("sum_price"))
    }),

    // ── U4: intersect ──
    "q10_set_intersect" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "view").select(col("user_id"))
        .intersect(
          ev.filter(col("event_type") === "purchase").select(col("user_id")))
    }),

    // ── U4: except ──
    "q11_set_except" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "click").select(col("user_id"))
        .except(
          ev.filter(col("event_type") === "error").select(col("user_id")))
    }),

    // ── A2: partition→parent rollup on the derived topic catalog ──
    "q12_catalog_rollup" -> ((s, dir) =>
      CatalogOps.rollupPartitions(topicsFromEvents(t(s, dir, "events")))),

    // ── P2: partition-shard filter ──
    "q13_partition_filter" -> ((s, dir) =>
      CatalogOps.dropPartitionShards(topicsFromEvents(t(s, dir, "events")))),

    // ── P5+L2: priority patterns first, then lexical, capped ──
    "q14_priority_limit" -> ((s, dir) =>
      CatalogOps.priorityLimit(
        topicsFromEvents(t(s, dir, "events")),
        CatalogOps.defaultPriorityPatterns, 40)),

    // ── U1: 3-source union with first-occurrence dedup ──
    "q15_union_dedup" -> ((s, dir) => {
      val topics = topicsFromEvents(t(s, dir, "events"))
      val base = CatalogOps.dropPartitionShards(topics)
      val part = topics.filter(col("topic").rlike(CatalogOps.partitionSuffix))
      val sys = t(s, dir, "events").select(
        concat(lit("persistent://system/ns/"), col("event_type")).as("topic"))
        .distinct()
      CatalogOps.unionDedupTopics(base, part, sys)
    }),

    // ── L1: per-key cap (max_messages_per_topic shape) ──
    "q16_per_key_cap" -> ((s, dir) =>
      CatalogOps.capPerGroup(
        t(s, dir, "events"),
        col("user_id"), Seq(col("ts"), col("event_id")), 5)
        .select(col("user_id"), col("event_id"))),

    // ── S5 shape: positional head/tail trim per group ──
    "q17_trim_head_tail" -> ((s, dir) =>
      CatalogOps.trimHeadTail(
        t(s, dir, "events"),
        col("event_type"), col("event_id"), 3, 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))),

    // ── F14: JSON body projection (get_json_object) ──
    "q18_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(
          sum(col("k")).as("sum_k"),
          (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"),
          count(lit(1)).as("n"))),

    // ── T7 batch analog: tumbling time buckets ──
    "q19_hourly_buckets" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(
          unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))),

    // ── §2.9: lag/lead inter-event gaps ──
    "q20_event_gaps" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("gap_ms",
          unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w)))
        .groupBy(col("user_id"))
        .agg(
          count(col("gap_ms")).as("n_gaps"),
          sum(col("gap_ms")).as("sum_gap_ms"),
          (sum(col("gap_ms")).cast("double") / count(col("gap_ms")))
            .as("avg_gap_ms"))
        .filter(col("n_gaps") > 0)
    }),

    // ── T7: gap-based sessionization ──
    "q21_sessionize" -> ((s, dir) =>
      Relational.sessionize(
        t(s, dir, "events"),
        col("user_id"), col("ts"), 1800L, Seq(col("event_id")))
        .groupBy(col("user_id"))
        .agg((max(col("session_id")) + 1).as("n_sessions"),
          count(lit(1)).as("n_events"))),

    // ── J5: as-of join (latest click at or before each purchase) ──
    "q22_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      Relational.asOfJoin(purchases, clicks, "user_id", "ts", "ts",
        "event_id", "click_event_id")
        .select(col("event_id"), col("user_id"), col("click_event_id"))
    }),

    // ── NS dedup: exact (hash-groupBy, deterministic keeper) ──
    "q23_dedup_exact" -> ((s, dir) =>
      // widenForCpu: full-text hashing on the one-split documents scan
      Dedup.exactGroups(
        Relational.widenForCpu(t(s, dir, "documents"), col("doc_id")),
        Seq("text"), "doc_id")
        .select(col("keeper_id"), col("n_copies"))),

    // ── NS text: token counting ──
    "q24_token_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(col("n_tokens")).cast("double") / count(lit(1)))
            .as("avg_tokens"),
          max(col("n_tokens")).as("max_tokens"))),

    // ── NS text: quality scoring ──
    "q25_quality_scores" -> ((s, dir) =>
      // widenForCpu: ~3 cpu-s of per-row quality kernels on a
      // one-split scan (heavier than the exchange, unlike q105/q106)
      Relational.widenForCpu(t(s, dir, "documents"), col("doc_id"))
        .withColumn("q", text.qualityScore(col("text")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("q").cast("decimal(20,6)")).cast("double").as("sum_quality"),
          min(col("q")).as("min_quality"),
          max(col("q")).as("max_quality"))),

    // ── NS text: language identification (marker-word argmax) ──
    "q26_lang_id" -> ((s, dir) => {
      // PRECOMPUTED score columns (the predictedFromScores contract):
      // the inline predictedLang spelling re-evaluates each langScore
      // ~|langs| times inside the argmax when-chain — and each score
      // re-tokenizes — multiplying the per-row filter cost ~25×
      // (r19 bench: 74 cpu-s for a 5-way argmax). One projection per
      // score evaluates each filter once; the oracle SQL already has
      // this shape (scores in a subquery). Result-identical.
      val toksd = Relational.widenForCpu(t(s, dir, "documents"),
          col("doc_id"))
        .withColumn("_toks", text.tokens(col("text")))
      val scored = text.langMarkers.foldLeft(toksd) { case (df, (l, m)) =>
        df.withColumn(s"_s_$l", text.langScore(col("_toks"), m))
      }
      scored
        .withColumn("predicted", text.predictedFromScores(
          text.langMarkers.map { case (l, _) => l -> col(s"_s_$l") }))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    }),

    // ── NS dedup: exact n-gram Jaccard pairs. This corpus is DENSE
    // (fixed ~931-bigram vocabulary shared by every doc), so the
    // inverted index emits MORE candidate rows than the total pair
    // count (36.5M vs 12.5M at sf0.1) — the dense-path broadcast join
    // with a codegen'd sorted-merge intersection is strictly less
    // work and shuffle-free. The inverted-index exact path is
    // registered on a sparse slice as q53; the recall-controlled
    // scale path for near-dup detection is q30's MinHash ──
    "q27_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairsDense(
        t(s, dir, "documents"), "doc_id", "text", n = 2, threshold = 0.18)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("sz_a"), col("sz_b"), round(col("jaccard"), 6).as("jaccard"))),

    // ── NS similarity: exact brute-force cosine top-k ──
    "q28_ann_bruteforce" -> ((s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), queryVecId = 0, k = 10)),

    // ── NS dedup: embedding near-dup pairs — multi-table hyperplane
    // LSH candidates + exact cosine re-score (subset-exact, so the
    // exact all-pairs oracle still applies; no O(n²) join anywhere) ──
    "q29_neardup_embeddings" -> ((s, dir) =>
      Similarity.lshNearDupPairs(
        t(s, dir, "embeddings"), threshold = 0.8, tables = q29Tables)),

    // ── NS dedup: MinHash signatures + LSH banding + exact Jaccard
    // re-score (S-curve at k=64/r=2 makes misses ~impossible above
    // the 0.5 threshold, so the exact-pairs oracle verifies it) ──
    "q30_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(
        t(s, dir, "documents"), "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("sz_a"), col("sz_b"), round(col("jaccard"), 6).as("jaccard"))),

    // ── NS dedup: SimHash fingerprints (60-bit md5-derived hash so
    // the oracle mirrors the bit arithmetic verbatim; codegen'd
    // kernel, bit-identical to the HOF form) ──
    "q31_simhash_buckets" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          Dedup.simhashFast(text.tokens(col("text"))).as("simhash"))),

    // ── NS similarity: LSH-bucketed approximate top-k; the literal
    // plane matrix is inlined into the oracle, which reproduces the
    // same approximate result exactly ──
    "q32_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(t(s, dir, "embeddings"), planes = q32Planes, k = 5)),

    // ── NS text: rolling-hash document fingerprint (order-sensitive
    // chained md5-60 fold, mirrored by DuckDB list_reduce) ──
    "q33_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          hashes.rollingFingerprint(text.tokens(col("text"))).as("fp"))),

    // ── S8/F7-F15: deterministic synthetic emailSend generator
    // (shared with the streaming publish pipeline via gen.Generator) ──
    "q34_generator" -> ((s, dir) => {
      val base = lit(1704067200L) // 2024-01-01T00:00:00Z
      s.range(0, 1000).select(Generator.emailSendColumns(
        col("id"), timestamp_seconds(base + col("id"))): _*)
    }),

    // ── P1/P6/F5-F6: envelope projection with binary round-trip ──
    "q35_envelope_encode" -> ((s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          base64(encode(col("props"), "UTF-8")).as("props_b64"),
          octet_length(encode(col("props"), "UTF-8")).as("props_bytes"),
          unix_millis(col("ts")).as("publish_ms"))),

    // ── J1/J2: tenant→namespace→topic hierarchy expansion as real
    // joins over catalog DataFrames ──
    "q36_catalog_join" -> ((s, dir) => {
      val re = "persistent://([^/]+)/([^/]+)/(.+)"
      val parsed = topicsFromEvents(t(s, dir, "events")).select(
        regexp_extract(col("topic"), re, 1).as("tenant"),
        regexp_extract(col("topic"), re, 2).as("namespace"),
        col("topic"))
      val tenants = parsed.select("tenant").distinct()
      val namespaces = parsed.select("tenant", "namespace").distinct()
      tenants
        .join(namespaces, Seq("tenant"))                 // J1
        .join(parsed, Seq("tenant", "namespace"))        // J2
        .groupBy(col("tenant"))
        .agg(countDistinct(col("namespace")).as("n_namespaces"),
          count(lit(1)).as("n_topics"))
    }),

    // ── P3/P4: system-tenant/namespace anti-filter (config.json:12-13
    // semantics: drop public/pulsar/system resources) ──
    "q37_exclude_system" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val user = topicsFromEvents(ev)
      val sys = ev.select(concat(lit("persistent://pulsar/ns/"),
          col("event_type")).as("topic")).distinct()
        .unionAll(ev.select(concat(lit("persistent://public/default/"),
          col("event_type")).as("topic")).distinct())
      val all = user.unionAll(sys).withColumn("tenant",
        regexp_extract(col("topic"), "persistent://([^/]+)/", 1))
      CatalogOps.excludeSystem(all, "tenant", CatalogOps.systemTenants)
        .select(col("topic"), col("tenant"))
    }),

    // ── P6: binary/text payload discrimination with round-trip proof.
    // Every third payload gets an 0xFF prefix (never valid UTF-8), so
    // both branches of encodeContent/decodeContent are exercised ──
    "q38_binary_codec" -> ((s, dir) => {
      val payload = when(col("event_id") % 3 === 0,
          concat(unhex(lit("FF")), encode(col("props"), "UTF-8")))
        .otherwise(encode(col("props"), "UTF-8"))
      val enc = codec.encodeContent(payload)
      t(s, dir, "events").select(
        col("event_id"),
        enc.getField("content").as("content"),
        enc.getField("binary_encoded").as("binary_encoded"),
        (codec.decodeContent(enc.getField("content"),
          enc.getField("binary_encoded")) === payload).as("roundtrip_ok"))
    }),

    // ── S5: CLI fixed-width table parse (head/tail trim + column
    // extraction) over deterministically synthesized numbered lines ──
    "q39_cli_parse" -> ((s, dir) => {
      // event_id is dense 0..N-1 in the fixture, so the line ordinal in
      // event_id order is event_id+1 — arithmetic, not a global
      // no-partition window (which would plan ONE task; PlanAuditSpec
      // gates that class). Real CLI input gets line_no from
      // CatalogOps.readCliLines' posexplode, also window-free.
      val lines = t(s, dir, "events").filter(col("event_id") < 30)
        .select(
          format_string("%d topic-%d active", col("event_id"), col("user_id"))
            .as("line"),
          (col("event_id") + 1).cast("long").as("line_no"))
      CatalogOps.parseCliTable(lines, "line", "line_no",
        headerLines = 3, footerLines = 1, fieldIdx = 1)
    }),

    // ── F2: reversible topic↔file-name codec (the fix for the
    // reference's lossy "_"↔"/" mapping), plus the lossy compat
    // mapping shown corrupting underscore topics ──
    "q40_topic_codec" -> ((s, dir) => {
      val topics = t(s, dir, "events").select(
        concat(lit("persistent://t_"), col("event_type"),
          lit("/ns_"), (col("user_id") % 5).cast("string"),
          lit("/topic_"), (col("event_id") % 7).cast("string")).as("topic"))
        .distinct()
      topics.select(
        col("topic"),
        codec.sanitizeTopic(col("topic")).as("file_name"),
        (codec.desanitizeTopic(codec.sanitizeTopic(col("topic"))) ===
          col("topic")).as("roundtrip_ok"),
        codec.desanitizeTopicLossy(codec.sanitizeTopicLossy(col("topic")))
          .as("lossy_roundtrip"))
    }),

    // ── Multimodal: binary media column with magic-byte sniffing,
    // frame sampling, and the content-fingerprint feature vector —
    // the codec-free half of the 100 TB media-pipeline shape (the
    // real pixel decode is q92) ──
    "q41_multimodal" -> ((s, dir) => {
      val payload = when(col("event_id") % 3 === 0,
          concat(unhex(lit("FFD8")), encode(col("props"), "UTF-8")))
        .when(col("event_id") % 3 === 1,
          concat(unhex(lit("89504E47")), encode(col("props"), "UTF-8")))
        .otherwise(encode(col("props"), "UTF-8"))
      val meta = Multimodal.mediaMetadata(payload)
      // widenForCpu: sniff + frame-sample + hash features cost ~11
      // cpu-s at sf0.1 on a one-split events scan (tasks_max=1 in the
      // r8 bench artifact — the exact shape the policy exists for)
      Relational.widenForCpu(t(s, dir, "events"), col("event_id")).select(
        col("event_id"),
        meta.getField("mime").as("mime"),
        meta.getField("n_bytes").as("n_bytes"),
        size(Multimodal.frameSample(payload, frameSize = 16, maxFrames = 4))
          .as("n_frames"),
        round(element_at(Multimodal.hashFeatures(payload, k = 4), 1), 6)
          .as("f0"))
    }),

    // ── NS similarity: IVF approximate top-k — cell assignment via a
    // codegen'd nearest-centroid kernel, nProbe-cell search, exact
    // cosine re-rank; centroid literals shared with the oracle ──
    "q42_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), ivfCentroids,
        queryVecId = 0, nProbe = 4, k = 10)),

    // ── NS dedup: near-dup GROUP resolution — connected components
    // over the pair graph, min-id keeper per component (what a corpus
    // pipeline actually applies after pair generation). Pair
    // generation is the MinHash+exact-rescore SCALE path (bucketed
    // candidates, no guard-inertness requirement at any corpus size);
    // at threshold 0.5 its output equals the exact pair set the
    // oracle computes (q30's verified property). Like q30, oracle
    // equality depends on no fixture pair sitting at the S-curve knee
    // (P(miss) ≈ 1.2e-3 at s=0.5, <1e-20 at s=0.9 — and this corpus
    // is bimodal: pairs sit at J≥0.9 or ≤0.15, never near 0.5) ──
    "q44_neardup_groups" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDupPairs(
        docs, "doc_id", "text", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      val cc = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
        .toDF("doc_id", "keeper")
      docs.select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("keeper"), col("doc_id")).as("group_keeper"))
    }),

    // ── T7/§2.9: SLIDING event-time windows (2h size, 1h slide —
    // every event lands in two windows) ──
    "q47_sliding_windows" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
        .select(unix_millis(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value"))),

    // ── §2.9: RANGE window frame — per-user rolling 1-hour sum keyed
    // on event time (vs q07's ROWS frame) ──
    "q48_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_millis(col("ts")))
        .rangeBetween(-3600000L, 0L)
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        sum(col("value").cast("decimal(20,4)")).over(w)
          .cast("double").as("rolling_1h"))
    }),

    // ── A5: CUBE grouping sets (all 4 combinations, vs q08's rollup) ──
    // the repartition spreads the Expand+partial-agg across cores:
    // the fixture lineitem is ONE parquet file with ONE row group, so
    // the scan yields a single split and the whole 4x Expand would run
    // on one thread (at 100 TB the scan itself provides thousands of
    // splits and this repartition would be dropped). One cheap narrow
    // shuffle of the 4-column projection buys 32x map parallelism —
    // and bounds the damage when a host-contention episode slows
    // single-thread throughput (see PLANS.md bench context)
    "q49_cube_returns" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
        .repartition(32)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), exactSum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))),

    // ── NS dedup: SimHash near-dup pairs — pigeonhole blocking makes
    // the bucketed join EXACT for the radius (recall 1 by
    // construction), verified against the all-pairs oracle ──
    "q46_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(
        t(s, dir, "documents"), "doc_id", "text", radius = 5)),

    // ── T7 for real: a STRUCTURED STREAMING execution verified by the
    // DuckDB oracle — the events file read as a bounded stream
    // (Trigger.AvailableNow), hourly buckets aggregated in complete
    // mode into a memory sink, the sink table returned as the result.
    // Same oracle SQL as the batch analog q19 ──
    "q45_streaming_buckets" -> ((s, dir) =>
      runEventsStream(s, dir, "q45_mem", "complete",
        eventsTsMicros(s, dir),
        _.groupBy(
            unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            exactSum(col("value")).as("sum_value")))),

    // ── NS text: BPE-style subword-unit token counting (the LLM
    // token-budget estimator, vs q24's whitespace words) ──
    "q43_bpe_tokens" -> ((s, dir) =>
      // widenForCpu: the BPE regex kernel costs ~6 cpu-s at sf0.1 on a
      // one-split documents scan (tasks_max=1 in the r8 bench artifact)
      Relational.widenForCpu(t(s, dir, "documents"), col("doc_id"))
        .withColumn("n_bpe", text.bpeTokenCount(col("text")).cast("long"))
        .withColumn("n_ws", text.tokenCount(col("text")).cast("long"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_bpe")).as("total_bpe"),
          sum(col("n_ws")).as("total_ws"),
          (sum(col("n_bpe")).cast("double") / sum(col("n_ws")))
            .as("bpe_per_word"))),

    // ── THE FLAGSHIP COMPOSED CATALOG PIPELINE (SURVEY §3.3
    // list_topics, pulsar_remote_inspector.py:394-597): 3-source
    // union → first-occurrence dedup → partition rollup → priority
    // sort → limit, as ONE declarative plan. Each stage is verified
    // individually by q15/q12/q14; this registers the composition ──
    "q50_list_topics" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val topics = topicsFromEvents(ev)
      val base = CatalogOps.dropPartitionShards(topics)
      val part = topics.filter(col("topic").rlike(CatalogOps.partitionSuffix))
      val sys = ev.select(
        concat(lit("persistent://system/ns/"), col("event_type")).as("topic"))
        .distinct()
      val merged = CatalogOps.unionDedupTopics(base, part, sys)
        .select("topic")
      val rolled = CatalogOps.rollupPartitions(merged, "topic")
      CatalogOps.priorityLimit(
        rolled, CatalogOps.defaultPriorityPatterns, 40, "parent_topic")
    }),

    // ── T7/T8 for real: APPEND-mode streaming with a watermark — the
    // production shape for unbounded 100 TB/day ingest (q45 proves
    // complete mode; complete mode cannot scale because it re-emits
    // all state every trigger). Only windows the final watermark has
    // closed are emitted, which the oracle reproduces by filtering
    // hourly buckets to window_end <= max(ts) - delay ──
    "q51_streaming_append" -> ((s, dir) =>
      runEventsStream(s, dir, "q51_mem", "append",
        eventsTsMicros(s, dir),
        _.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            exactSum(col("value")).as("sum_value"))
          .select(unix_millis(col("window.start")).as("win_start"),
            col("event_type"), col("n"), col("sum_value")))),

    // ── Skew-safe EXACT count-distinct: value-salted two-phase
    // aggregation — no reducer ever holds a hot key's full distinct
    // set (the thing that OOMs a plain countDistinct at 100 TB when
    // one key dominates). Result is exact: each distinct value lands
    // in exactly one salt cell ──
    "q52_salted_distinct" -> ((s, dir) =>
      Relational.saltedCountDistinct(
        t(s, dir, "events"),
        Seq(col("event_type")), col("user_id"), salt = 16,
        outCol = "n_users")),

    // ── NS dedup: the INVERTED-INDEX exact Jaccard path with its
    // guard contract — requireInertGuard PROVES the skew guard inert
    // before claiming the exact answer, failing loudly at a scale
    // where it would silently lose recall (ADVICE r2). Registered on
    // the doc_id%5 slice, where shingle dfs stay small relative to n
    // and the index emits fewer rows than all-pairs — the regime this
    // path is FOR (q27's dense corpus is the opposite regime) ──
    "q53_jaccard_posting" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 2, threshold = 0.18,
        maxShingleDf = Some(2000), requireInertGuard = true)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("sz_a"), col("sz_b"), round(col("jaccard"), 6).as("jaccard"))),

    // ── NS similarity: SCALE-AWARE LSH top-k — the plane count is
    // derived from the corpus size (one explicit count() planning
    // statistic) so bucket occupancy stays ~constant as data grows:
    // the r2 verdict's fix for q32's forever-fixed 256 buckets. At
    // the verify scale the rule picks 4 planes; the oracle inlines
    // exactly that matrix ──
    "q54_ann_lsh_auto" -> ((s, dir) =>
      Similarity.lshTopKAuto(
        t(s, dir, "embeddings"), seed = 77L, dim = embDim, k = 5)),

    // ── THE FLAGSHIP LLM-CORPUS-CLEANING PIPELINE, composed as one
    // plan: language-ID filter → quality-score filter → exact dedup
    // (deterministic min-id keeper, left-semi back to the kept rows)
    // → per-source corpus statistics. The shape every training-data
    // pipeline runs before tokenization; all stages individually
    // verified by q23/q24/q25/q26 ──
    "q55_corpus_clean" -> ((s, dir) => {
      // tokenize ONCE per row (every signal reads the array column),
      // and dedup via a ranking window instead of a groupBy+semi-join
      // so the scoring projection is computed ONCE, not once per join
      // side — one shuffle on the dedup key, same min-id keeper
      val withScores = text.langMarkers.foldLeft(
        Relational.widenForCpu(t(s, dir, "documents"), col("doc_id"))
          .withColumn("toks", text.tokens(col("text")))) {
        case (d, (l, m)) =>
          d.withColumn(s"s_$l", text.langScore(col("toks"), m))
      }
      val scored = withScores
        .withColumn("predicted", text.predictedFromScores(
          text.langMarkers.map { case (l, _) => l -> col(s"s_$l") }))
        .withColumn("q", text.qualityScoreTokens(col("text"), col("toks")))
        .filter(col("predicted") === "en" && col("q") >= 0.4)
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("q").cast("decimal(20,6)")).cast("double")
            .as("sum_quality"))
    }),

    // ── T7 streaming SESSION windows in append mode: gap-merged
    // per-user sessions, only sessions the watermark has closed are
    // emitted (the streaming form of q21). Event time is truncated
    // to MILLISECONDS before windowing so the gap arithmetic is
    // exactly mirrorable in the ms-precision oracle — sub-ms jitter
    // at a 30-minute gap is noise, not signal ──
    "q56_streaming_sessions" -> ((s, dir) =>
      runEventsStream(s, dir, "q56_mem", "append",
        eventsTsMillis(s, dir),
        _.withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_millis(col("session_window.start")).as("sess_start"),
            col("user_id"), col("n_events")))),

    // ── K1/K2/S3 + L4 IN THE CORRECTNESS GATE: a full snapshot
    // ROUND-TRIP — events become wire envelopes (binary-discriminated
    // content, q38's encoding), Replay.capture writes the reference's
    // snapshot layout, SnapshotIO.readMessages reads it back, and the
    // result aggregates per topic with an ORDER-SENSITIVE checksum
    // (sum of seq × payload bytes) the DuckDB oracle reproduces from
    // the raw events — so payload fidelity AND per-topic replay order
    // are both oracle-verified, not just spec-verified ──
    "q58_snapshot_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q58_snap").toString
      val ev = t(s, dir, "events")
      val topicExpr = concat(
        lit("persistent://tn"), (col("user_id") % 3).cast("string"),
        lit("/ns"), (col("user_id") % 5).cast("string"),
        lit("/"), col("event_type"))
      val payload = when(col("event_id") % 3 === 0,
          concat(unhex(lit("FF")), encode(col("props"), "UTF-8")))
        .otherwise(encode(col("props"), "UTF-8"))
      val enc = codec.encodeContent(payload)
      val w = Window.partitionBy(topicExpr).orderBy(col("event_id"))
      val env = ev.select(
        topicExpr.as("topic"),
        enc.getField("content").as("content"),
        enc.getField("binary_encoded").as("binary_encoded"),
        map(lit("eid"), col("event_id").cast("string")).as("properties"),
        col("ts").as("publish_ts"),
        lit(null).cast("timestamp").as("event_ts"),
        lit(null).cast("string").as("partition_key"),
        (row_number().over(w) - 1).cast("long").as("seq"))
      Replay.capture(env, tmp)
      val agg = SnapshotIO.readMessages(s, tmp)
        .select(col("topic"), col("seq"),
          octet_length(codec.decodeContent(
            col("content"), col("binary_encoded"))).cast("long")
            .as("payload_bytes"))
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n"),
          max(col("seq")).as("max_seq"),
          sum(col("payload_bytes")).as("total_bytes"),
          sum(col("seq") * col("payload_bytes")).as("order_sum"))
      // bounded collect (one row per topic — the query's own
      // cardinality) BEFORE deleting the scratch snapshot: a
      // checkpoint whose source files are gone turns any block loss
      // into an unrecoverable failure, and the local rows need no
      // executor blocks at all
      materializeThenClean(s, agg, tmp)
    }),

    // ── NS: token-budget SHARD PACKING — the sequence-packing step of
    // training-data prep: documents are assigned greedily (in stable
    // doc_id order per source) to fixed-token-budget shards; a shard
    // is the unit a trainer streams. One window cumsum shuffle on the
    // pack key; shard_id = the shard containing the doc's start
    // offset, so assignment is deterministic and order-stable ──
    "q57_token_shards" -> ((s, dir) => {
      val budget = 4096L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "documents")
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("shard_id",
          floor((col("cum") - col("n_tokens")).cast("double") / budget)
            .cast("long"))
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"))
    }),

    // ── F1: project-ID auto-detection + campaign-range derivation
    // (pulsar_remote_inspector.py:188-199, the publish flow's
    // auto-detect at :264-281, probed by the `ranges` CLI verb at
    // :701-716). Topics synthesized with positive cases (both the
    // "ingestion-N" and "post-ingestion-N" spellings) AND the
    // reference's negative cases (no ingestion segment; an ingestion
    // segment with no digits) → null project id, publish-default 1.
    // The campaign range is derived per effective project the way the
    // reference's example invocation does with --campaign-start/count ──
    "q59_project_ranges" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val topic = concat(
        lit("persistent://eventbus/org-"),
        (col("user_id") % 3).cast("string"), lit("/"),
        when(col("event_id") % 4 === 0,
          concat(lit("post-ingestion-"), (col("user_id") % 500).cast("string")))
          .when(col("event_id") % 4 === 1,
            concat(lit("ingestion-"), (col("user_id") % 200).cast("string")))
          .when(col("event_id") % 4 === 2, col("event_type"))
          .otherwise(lit("post-ingestion-x")))
      val campaigns = Generator.campaignRange(
        lit(1000) + col("project_id_effective") * 20, lit(20))
      ev.select(topic.as("topic")).distinct()
        .withColumn("project_id",
          Generator.projectIdFromTopic(col("topic")))
        .withColumn("project_id_effective",
          coalesce(col("project_id"), lit(1)))
        .withColumn("campaigns", campaigns)
        .select(col("topic"), col("project_id"),
          col("project_id_effective"),
          element_at(col("campaigns"), 1).as("campaign_start"),
          element_at(col("campaigns"), -1).as("campaign_end"),
          size(col("campaigns")).cast("long").as("n_campaigns"))
    }),

    // ── §7.5 co-located bucketed join through the ORACLE gate
    // (BucketingSpec asserts the zero-Exchange plan property; this
    // registers the RESULT): both fact tables written bucketed+sorted
    // on the join key, then joined with no shuffle on either side —
    // the one-time layout decision that removes the recurring
    // fact-fact Exchange from a daily 100 TB pipeline ──
    "q60_bucketed_join" -> ((s, dir) => {
      Bucketing.writeBucketed(
        t(s, dir, "lineitem").select(
          col("l_orderkey").as("okey"),
          col("l_extendedprice"), col("l_discount")),
        "graft_q60_lineitem", Seq("okey"), 8)
      Bucketing.writeBucketed(
        t(s, dir, "orders").select(
          col("o_orderkey").as("okey"), col("o_orderpriority")),
        "graft_q60_orders", Seq("okey"), 8)
      Bucketing.cotableJoin(
          s, "graft_q60_lineitem", "graft_q60_orders", Seq("okey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(20,4)") *
            (lit(1) - col("l_discount").cast("decimal(20,4)")))
            .cast("double").as("revenue"))
    }),

    // ── NS dedup: q46's SimHash pigeonhole with the key width AUTO-
    // SIZED from the corpus (Dedup.simhashParamsForSize) — PLANS.md
    // "Candidate growth MEASURED at 1×–100×" measured fixed keys
    // saturating superlinearly past ~10k docs; this is the
    // parameterization a 100 TB run would use. Output is identical to
    // q46's (exactness is parameter-independent), so the same
    // all-pairs oracle verifies both ──
    "q61_simhash_auto" -> ((s, dir) =>
      Dedup.simhashNearDupPairsAuto(
        t(s, dir, "documents"), "doc_id", "text", radius = 5)),

    // ── NS ANN: q29's multi-table hyperplane near-dup with BOTH knobs
    // derived from the corpus — planes per table from planesForSize
    // (occupancy ≈ constant) and table count from lshTablesForRecall
    // (1% miss at the threshold). Total candidate work ≈ n^1.2 at any
    // scale with recall HELD instead of drifting as n grows. Output is
    // subset-exact (every candidate exact-cosine re-scored), so the
    // exact all-pairs oracle verifies it like q29 ──
    "q62_neardup_auto" -> ((s, dir) =>
      Similarity.lshNearDupPairsAuto(
        t(s, dir, "embeddings"), threshold = 0.8, seed = 2000L,
        dim = embDim)),

    // ── NS corpus prep: PII SCRUBBING — the redaction pass every
    // training pipeline runs before anything else. The fixture text is
    // synthetic-vocab, so PII spans are INJECTED deterministically
    // per doc_id (same fixture-synthesis pattern as q59's topics),
    // then redacted and audited per source. Pure per-row regex
    // expressions: zero shuffle below the final aggregate ──
    "q63_pii_redact" -> ((s, dir) => {
      // widenForCpu: three regex passes per row at scan time — same
      // single-split hazard as q69
      val injected = Relational.widenForCpu(t(s, dir, "documents"), col("doc_id"))
        .withColumn("text2",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" call 555-867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" or ping 10.0."),
              (col("doc_id") % 256).cast("string"), lit(".77")))
          .otherwise(col("text")))
      injected
        .withColumn("red", text.redactPii(col("text2")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("red") =!= col("text2"), 1L).otherwise(0L))
            .as("docs_redacted"),
          sum(text.piiCount(col("text2"), text.emailRe)).as("emails"),
          sum(text.piiCount(col("text2"), text.phoneRe)).as("phones"),
          sum(text.piiCount(col("text2"), text.ipv4Re)).as("ips"),
          sum((length(col("text2")) - length(col("red"))).cast("long"))
            .as("chars_removed"))
    }),

    // ── NS corpus prep: benchmark DECONTAMINATION — drop documents
    // sharing any bigram with the eval set so training data never
    // memorizes the benchmark. Broadcast-literal intersect per row
    // (eval sets are small; corpora are not): zero shuffle below the
    // aggregate ──
    "q64_decontaminate" -> ((s, dir) => {
      val flagged = Dedup.flagContaminated(
        t(s, dir, "documents"), "text", 2, benchmarkBigrams)
      flagged
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("contaminated"), 1L).otherwise(0L))
            .as("n_contaminated"),
          sum(when(!col("contaminated"), col("n_tokens"))
            .otherwise(0L)).as("kept_tokens"))
    }),

    // ── NS corpus prep: deterministic STRATIFIED SAMPLING — the
    // domain-mixing step: each source keeps its configured fraction,
    // decided by a content hash (reproducible across engines and
    // partitionings — the oracle applies the identical md5
    // arithmetic), never a RNG. A pure scan-time filter at 100 TB ──
    "q65_stratified_sample" -> ((s, dir) => {
      val kept = Relational.stratifiedSample(
        t(s, dir, "documents"), col("source"), col("doc_id"), mixRates)
      kept
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"))
    }),

    // ── THE CAPSTONE: the ENTIRE training-data prep pipeline as ONE
    // declarative plan — PII redaction → tokenize once → language +
    // quality filters → benchmark decontamination → exact dedup →
    // stratified source mixing → token-budget shard packing → per-
    // shard stats. Every filter is scan-time (zero shuffle); the only
    // shuffles are the dedup window, the pack window, and the final
    // aggregate. Each stage is individually oracle-verified by
    // q63/q55/q64/q23/q65/q57; this registers the COMPOSITION, which
    // is what actually runs at 100 TB ──
    "q66_full_prep" -> ((s, dir) => {
      val budget = 4096L
      val injected = t(s, dir, "documents").withColumn("text2",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" call 555-867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" or ping 10.0."),
              (col("doc_id") % 256).cast("string"), lit(".77")))
          .otherwise(col("text")))
      val withToks = injected
        .withColumn("clean", text.redactPii(col("text2")))
        .withColumn("toks", text.tokens(col("clean")))
      val withScores = text.langMarkers.foldLeft(withToks) {
        case (d, (l, m)) =>
          d.withColumn(s"s_$l", text.langScore(col("toks"), m))
      }
      val bench = array(benchmarkBigrams.map(lit): _*)
      val filtered = withScores
        .withColumn("predicted", text.predictedFromScores(
          text.langMarkers.map { case (l, _) => l -> col(s"s_$l") }))
        .withColumn("q", text.qualityScoreTokens(col("clean"), col("toks")))
        .filter(col("predicted") === "en" && col("q") >= 0.4)
        .filter(size(array_intersect(
          text.wordShinglesFast(col("clean"), 2), bench)) === 0)
      val wd = Window.partitionBy(col("clean")).orderBy(col("doc_id"))
      val deduped = filtered
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1)
      val sampled = Relational.stratifiedSample(
        deduped, col("source"), col("doc_id"), mixRates)
      val wp = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      sampled
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("cum", sum(col("n_tokens")).over(wp))
        .withColumn("shard_id",
          floor((col("cum") - col("n_tokens")).cast("double") / budget)
            .cast("long"))
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"))
    }),

    // ── skew-safe SALTED JOIN: hot-key fact rows spread over `salt`
    // reducers, dim hot rows replicated salt ways — the guaranteed-
    // at-plan-time answer to a heavy-head key that would send a
    // double-digit share of 100 TB to one reducer. Result ≡ the plain inner
    // join (oracle verifies); hotKeys is a planning statistic like
    // the IVF/LSH sizing counts ──
    "q67_skewed_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val joined = Relational.skewedJoin(
        li, ord, "l_orderkey", "o_orderkey",
        factId = col("l_orderkey") * 10 + col("l_linenumber"),
        hotKeys = q67HotKeys, salt = 8)
      joined.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          Relational.exactSum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
    }),

    // ── INTERVAL JOIN via bucket expansion: lineitems shipped inside
    // any 7-day campaign window, as an EQUI-join on a 2-day cell id
    // (hash-partitionable) + exact range re-filter — never a
    // nested-loop theta join ──
    "q68_range_join" -> ((s, dir) => {
      val wins = t(s, dir, "orders")
        .filter(col("o_orderkey") % 400 === 1)
        .select(col("o_orderkey").as("win_id"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("win_start"),
          (unix_millis(col("o_orderdate").cast("timestamp")) +
            lit(7L * 86400000L)).as("win_end"))
      val pts = t(s, dir, "lineitem")
        .select(col("l_quantity"),
          unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"))
      Relational.rangeJoin(pts, wins,
        "ship_ms", "win_start", "win_end", bucketWidth = 2L * 86400000L)
        .groupBy(col("win_id"))
        .agg(count(lit(1)).as("n_items"),
          Relational.exactSum(col("l_quantity")).as("sum_qty"))
    }),

    // ── NS text: intra-document REPETITION filter (duplicate-trigram
    // fraction, the Gopher-style repetitious-text signal corpus-level
    // dedup can't see). The fixture corpus has near-zero natural
    // repetition (p99 ≈ 0.018 measured), so docs with doc_id % 7 == 0
    // get a phrase repeated onto them deterministically — same
    // injection idiom as q63's PII. Pure scan-time expression ──
    "q69_repetition_filter" -> ((s, dir) => {
      // widenForCpu: the trigram kernel costs ~9 cpu-s at sf0.1 and the
      // single-file documents scan plans ONE split — without widening
      // the whole kernel runs on 1-2 cores (r7's one perf-weak finding)
      val injected = Relational.widenForCpu(t(s, dir, "documents"), col("doc_id"))
        .withColumn("text2",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(q69RepeatedPhrase)))
          .otherwise(col("text")))
      injected
        .withColumn("frac",
          text.dupNgramFraction(text.tokens(col("text2")), 3))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("frac") >= 0.1, 1L).otherwise(0L))
            .as("n_repetitive"),
          sum(col("frac").cast("decimal(20,6)")).cast("double")
            .as("sum_frac"))
    }),

    // ── NS text: per-language PERCENTILE quality threshold — the
    // relative form of quality filtering ("drop the worst quartile of
    // each language") used when absolute thresholds don't transfer
    // across languages. percent_rank inside one window shuffle on the
    // predicted language; everything else is scan-time ──
    "q70_quality_percentile" -> ((s, dir) => {
      // widenForCpu: tokenize + per-language scoring before the window
      // shuffle — same single-split hazard as q69
      val base = Relational.widenForCpu(t(s, dir, "documents"), col("doc_id"))
        .withColumn("toks", text.tokens(col("text")))
      val scored = text.langMarkers.foldLeft(base) {
        case (d, (l, m)) =>
          d.withColumn(s"s_$l", text.langScore(col("toks"), m))
      }
        .withColumn("predicted", text.predictedFromScores(
          text.langMarkers.map { case (l, _) => l -> col(s"s_$l") }))
        .withColumn("q", text.qualityScoreTokens(col("text"), col("toks")))
      val w = Window.partitionBy(col("predicted"))
        .orderBy(col("q"), col("doc_id"))
      scored.withColumn("pr", percent_rank().over(w))
        .filter(col("pr") >= 0.25)
        .groupBy(col("predicted"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("q")).as("min_q"),
          sum(size(col("toks")).cast("long")).as("kept_tokens"))
    }),

    // ── NS corpus prep: TOKEN-BUDGET MIXTURE sampling — the "data
    // mixing" step: given target mixture weights and a total token
    // budget, derive each source's sampling rate r = min(1, B·w/T)
    // from its token total and sample deterministically at that rate.
    // Fully declarative: the per-source totals are a tiny map-side-
    // combined aggregate joined BACK by broadcast — no collect, no
    // driver-side rate table, and the corpus itself never shuffles ──
    "q72_budget_mixture" -> ((s, dir) => {
      val budget = 5000.0 // tokens
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
      val totals = docs.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("src_tokens"))
      val w = q72Weights.foldLeft(lit(0.0)) { case (els, (k, v)) =>
        when(col("source") === k, lit(v)).otherwise(els)
      }
      val rates = totals.withColumn("rate",
        least(lit(1.0),
          lit(budget) * w / col("src_tokens").cast("double")))
      val h = hashes.md5Hash60(
        concat(lit("mix-"), col("doc_id").cast("string")))
      docs.join(broadcast(rates), Seq("source"))
        .filter(pmod(h, lit(1000L)) <
          floor(col("rate") * 1000.0).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"),
          round(max(col("rate")), 6).as("rate"))
    }),

    // ── NS corpus prep: NEAR-dup benchmark decontamination — the
    // fuzzy complement of q64's exact shingle intersect: drop corpus
    // docs whose bigram Jaccard vs ANY eval doc (source src7 stands
    // in for the benchmark) reaches 0.5, catching paraphrased leakage.
    // Eval side broadcast; only the bounded candidate aggregate
    // shuffles ──
    "q71_neardup_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val flagged = Dedup.flagNearDupAgainst(
        docs.filter(col("source") =!= "src7"),
        docs.filter(col("source") === "src7"),
        "doc_id", "text", n = 2, threshold = 0.5)
      flagged
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("contaminated_neardup"), 1L).otherwise(0L))
            .as("n_near"),
          sum(when(!col("contaminated_neardup"), col("n_tokens"))
            .otherwise(0L)).as("kept_tokens"))
    }),

    // ── T8 executed for real: STREAMING DEDUP via
    // dropDuplicatesWithinWatermark — the bounded-state ingest dedup
    // (dedup state is held only `delay` past the event-time frontier,
    // so it cannot grow unboundedly at 100 TB/day). Events with
    // event_id % 10 == 0 are injected twice into the stream; the
    // operator must restore exactly-once, which the plain per-type
    // aggregate oracle verifies (a missed dup doubles n AND
    // sum_value) ──
    "q73_streaming_dedup" -> ((s, dir) => {
      val deduped = runEventsStream(s, dir, "q73_mem", "append",
        eventsTsMicros(s, dir),
        df => Streams.dedupWithinWatermark(
          df.withColumn("_rep",
            explode(when(col("event_id") % 10 === 0,
              array(lit(1), lit(2))).otherwise(array(lit(1)))))
            .drop("_rep"),
          "ts", Seq("event_id"), "1 hour")
          .select(col("event_id"), col("event_type"), col("value")))
      deduped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          exactSum(col("value")).as("sum_value"))
    }),

    // ── NS corpus prep: INCREMENTAL-INGEST exact dedup — the
    // every-new-crawl step: drop batch docs already in the corpus by
    // content hash. The batch here is src18/src19 plus a simulated
    // re-crawl (corpus docs re-arriving under NEW ids), which the
    // anti-join must drop entirely: a missed duplicate surfaces as an
    // extra source row in the output and fails the hash compare ──
    "q74_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newSrc = Seq("src18", "src19")
      val corpus = docs.filter(!col("source").isin(newSrc: _*))
      val recrawl = corpus.filter(col("doc_id") % 37 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
      val batch = docs.filter(col("source").isin(newSrc: _*))
        .unionByName(recrawl)
      Dedup.incrementalDedup(batch, corpus, "text")
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_new"),
          sum(col("n_tokens")).as("new_tokens"))
    }),

    // ── PIVOT (wide reshape) with an EXPLICIT value list — the
    // scale-correct form: pivot without values runs a distinct
    // collect over the whole column at plan time; with values the
    // reshape is one ordinary hash aggregate ──
    "q75_pivot_events" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("day_ms", unix_millis(date_trunc("day", col("ts"))))
        .groupBy(col("day_ms"))
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
        .na.fill(0L, eventTypes)),

    // ── RANGE-CLUSTERED layout through the gate: write lineitem
    // clustered on l_shipdate (each file gets a tight non-overlapping
    // span → parquet min/max stats prune whole files), then answer a
    // date-range query from the clustered copy. The oracle reads the
    // RAW table: layout must be invisible in the result. The written
    // copy goes to a PER-CALL unique temp dir (a fixed path would race
    // a concurrent Verify/Bench process's Overwrite mid-scan) and is
    // consumed before any cleanup could touch it (the q58 lesson) ──
    "q76_clustered_scan" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q76_").toString
      val scratch = root + "/lineitem"
      Layout.clusteredWrite(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_shipdate")),
        scratch, numFiles = 16, col("l_shipdate"))
      val agg = s.read.parquet(scratch)
        .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-01-01").cast("timestamp"))
        .agg(count(lit(1)).as("n_items"),
          Relational.exactSum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"))
      // 1-row result: consume it, then reclaim the scratch copy
      // (repeated bench/verify runs were accumulating /tmp data)
      materializeThenClean(s, agg, root)
    }),

    // ── GROUPING SETS — the general form between rollup (q08) and
    // cube (q49): exactly the requested grain combinations, one
    // Expand of factor |sets| (here 3, vs cube's 4) → partial agg →
    // one shuffle ──
    "q77_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          Relational.exactSum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))),

    // ── NS corpus prep: BLOOM-ACCELERATED incremental dedup — same
    // md5 anti-join contract as q74 but as a runtime-filter pipeline
    // (corpus → in-plan Bloom subquery → might_contain prefilter →
    // broadcast confirm/anti joins): the corpus never shuffles, which
    // is the shape that survives a 10¹⁰-doc corpus. Batch = src15-17
    // plus a simulated re-crawl (corpus docs under new ids) that the
    // dedup must drop entirely; a missed dup fails the hash compare ──
    "q78_bloom_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newSrc = Seq("src15", "src16", "src17")
      val corpus = docs.filter(!col("source").isin(newSrc: _*))
      val recrawl = corpus.filter(col("doc_id") % 23 === 0)
        .withColumn("doc_id", col("doc_id") + 200000L)
      val batch = docs.filter(col("source").isin(newSrc: _*))
        .unionByName(recrawl)
      // capacity from table stats at real scale; any fixed size keeps
      // correctness (undersizing only raises the fp rate)
      Dedup.incrementalDedupBloom(batch, corpus, "text",
          expectedItems = 1L << 17)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_new"), min(col("doc_id")).as("min_id"))
    }),

    // ── NS corpus statistics: rare-token (OOV) scoring against
    // corpus-wide document frequency — the quality cut that needs a
    // full-corpus pass, not a scan-time ratio. The fixture's 31-token
    // shared vocabulary has no naturally rare tokens, so rare markers
    // are injected deterministically from doc_id (doc_id % 101 spreads
    // 125 marked docs to df 1-2 at sf0.01 — both sides of the df ≤ 2
    // boundary are exercised); every aggregate is integer-only ──
    "q79_rare_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" m"),
            (col("doc_id") % 101).cast("string")))
          .otherwise(col("text")))
      CorpusStats.rareTokenStats(docs, "doc_id", "text", maxDf = 2L)
        .orderBy(desc("rare_tokens"), desc("distinct_tokens"), col("doc"))
        .limit(20)
    }),

    // ── T7: STREAM-STREAM interval join, executed as a real
    // append-mode run — purchases paired with the same user's clicks
    // from the preceding 24 h. Both sides carry watermarks and the
    // join condition bounds both event times, so the symmetric hash
    // join's state is evictable (the unbounded-state trap at
    // 100 TB/day is a join with no time bound). Single AvailableNow
    // drain → the emitted pairs are the complete batch-join answer,
    // which is exactly what the oracle computes ──
    "q80_stream_interval_join" -> ((s, dir) => {
      val ns = drainSession(s)
      val tsExpr = eventsTsMicros(s, dir)
      val purchases = eventsStream(ns, dir, tsExpr)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
      val clicks = eventsStream(ns, dir, tsExpr)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("value").as("c_value"))
      val joined = Streams.intervalJoin(purchases, clicks,
        leftKey = "p_user", rightKey = "c_user",
        leftTsCol = "p_ts", rightTsCol = "c_ts",
        delay = "1 hour", lookback = "24 HOURS")
      drainToTable("q80_mem", "append", joined)
        .groupBy(col("p_user"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("p_id")).as("n_purchases"),
          Relational.exactSum(col("c_value")).as("click_value"))
        .select(col("p_user").as("user_id"), col("n_pairs"),
          col("n_purchases"), col("click_value"))
    }),

    // ── NS exact duplicated-span detection — the exact-substring
    // dedup signal (suffix-array method, join-shaped): fraction of
    // each doc's 5-gram positions whose text also occurs in another
    // document. Complements MinHash/SimHash (whole-doc, approximate):
    // this is span-level and exact — it sees the boilerplate header
    // pasted into otherwise-unique docs. The fixture's near-dups and
    // shared-vocabulary collisions give 71 docs a nonzero signal ──
    "q81_dup_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dupSpanStats(docs, "doc_id", "text", n = 5,
          carryCols = Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("total_ngrams")).as("total_ngrams"),
          sum(col("shared_ngrams")).as("shared_ngrams"))
    }),

    // ── Z-ORDER (Morton) clustered layout — the two-dimensional
    // complement of q76's range clustering: events rewritten clustered
    // on (user_id, day), then scanned with a predicate on BOTH
    // dimensions. Each file covers a bounded box in user AND time, so
    // parquet min/max stats prune on either column (LayoutSpec
    // measures it); the result is layout-invariant, which is exactly
    // what the oracle checks. The write is billed inside the query ──
    "q82_zorder_scan" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q82_").toString
      val scratch = root + "/events"
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"), col("value"))
      // day number since epoch < 2^15; user_id < 2^15 at any SF here
      Layout.zorderWrite(ev, scratch, numFiles = 16, bits = 15,
        col("user_id"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long"))
      val agg = s.read.parquet(scratch)
        .filter(col("user_id").between(10L, 20L) &&
          col("ts") >= lit("2024-01-10").cast("timestamp") &&
          col("ts") < lit("2024-01-20").cast("timestamp"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          Relational.exactSum(col("value")).as("sum_value"))
      // 1-row result: consume it, then reclaim the scratch copy
      materializeThenClean(s, agg, root)
    }),

    // ── J5 as a NATIVE whole-operator plan (extension ladder rung c:
    // LogicalPlan + SparkStrategy + SparkPlan): q22's as-of semantics
    // through AsOfJoinExec — two co-partitioned exchanges, two sorts,
    // one O(1)-state merge pass; no union blow-up, no window frame.
    // Value attached is the click's `value` (ties on ts → max value,
    // resolved identically by the oracle's per-(user, ts) MAX) ──
    "q83_asof_native" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      Relational.asOfJoinNative(purchases, clicks, "user_id", "ts", "ts",
        "value", "click_value")
        .select(col("event_id"), col("user_id"), col("click_value"))
    }),

    // ── NS dedup capstone: near-dup pairs → connected components →
    // QUALITY-ARGMAX keeper per group (longest doc wins, ties → min
    // id) → kept-corpus stats. Turns pair detection into an actual
    // deduplicated corpus; a wrong keeper or a lost/extra doc shifts
    // the per-source sums and fails the hash compare ──
    "q84_dedup_keeper" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
      // pairs come from the shared at-rest PAIR STORE (one build per
      // corpus version, shared with q133/q140 — nearDupPairStore);
      // the exact-recompute oracle still verifies the full chain
      val pairs = nearDupPairStore(s, dir)
      Dedup.resolveDuplicates(docs, pairs, "doc_id", "n_tokens")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"))
    }),

    // ── T7: STREAM-STATIC join, executed as a real append-mode run —
    // the enrichment shape (stream × slowly-changing dimension): the
    // static side is broadcast into every micro-batch, no watermark
    // and no join state at all (only the streaming side flows).
    // Completes the streaming join matrix next to q80's
    // stream-stream form ──
    "q85_stream_static_join" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = runEventsStream(s, dir, "q85_mem", "append",
        eventsTsMicros(s, dir),
        st => st.filter(col("event_type") === "purchase")
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .select(col("c_mktsegment"), col("value")))
      joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_purchases"),
          Relational.exactSum(col("value")).as("sum_value"))
    }),

    // ── SQL surface end-to-end: the engine's registered functions
    // (tokenize / word_shingles — the codegen'd kernels behind the
    // text pipeline) driven ENTIRELY through spark.sql over a temp
    // view, proving a SQL-only user gets the same kernels the
    // DataFrame API plans (GraftExtensions registration) ──
    "q86_sql_surface" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_documents")
      s.sql("""SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(cardinality(tokenize(text))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(cardinality(word_shingles(text, 2))) AS BIGINT)
        |    AS n_shingles
        |FROM graft_documents GROUP BY lang""".stripMargin)
    }),

    // ── T7 on the NEW transformWithState API (Spark 4 arbitrary
    // state v2, RocksDB state store): per-user arrival sequencer as a
    // REAL append-mode run — the streaming row-number whose per-key
    // count lives in a typed ValueState. The provider conf is set for
    // this query only and restored after (the older stateful ops keep
    // the default HDFS-backed store) ──
    "q87_tws_sequence" -> ((s, dir) => {
      import s.implicits._
      val ns = drainSession(s)
      Streams.withRocksDbStateStore(ns) {
        val st = eventsStream(ns, dir, eventsTsMicros(s, dir))
          .select(col("user_id"), unix_micros(col("ts")), col("event_id"))
          .as[(Long, Long, Long)]
        val seq = Streams.arrivalSequence(st)
          .toDF("user_id", "event_id", "seq")
        drainToTable("q87_mem", "append", seq)
      }
    }),

    // ── Time-series regularization: resample to a dense hourly grid
    // and FORWARD-FILL across the 215 empty buckets — the gap-fill
    // step before any train/serve feature join. The spine is built
    // IN-PLAN (1-row bounds agg cross-joined under sequence/explode,
    // no driver collect); the fill is one ordered window per series.
    // Hours before a series' first datum stay null, exactly as the
    // oracle's IGNORE NULLS window does ──
    "q88_gap_fill" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // widen ONLY the hourly-aggregate input (the decimal partial
      // agg is the heavy stage); bounds and the spine stay narrow
      val hourly = Relational.widenForCpu(ev, col("event_id"))
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          Relational.exactSum(col("value")).as("sum_value"))
      val bounds = ev.agg(
        min(date_trunc("hour", col("ts"))).as("lo"),
        max(date_trunc("hour", col("ts"))).as("hi"))
      val spine = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"),
            expr("INTERVAL 1 HOUR"))).as("h"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), unix_millis(col("h")).as("hour_ms"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("sum_value"), ignoreNulls = true).over(w)
            .as("filled_sum"))
    }),

    // ── NS INCREMENTAL-INGEST capstone (the every-new-crawl path,
    // complementing q66's full-rebuild prep): Bloom exact-dedup vs
    // the corpus (drops clean re-crawls) → corpus-vocabulary gate
    // (drops docs carrying tokens the corpus has NEVER seen — the
    // gibberish/mojibake cut scored against EXISTING corpus stats,
    // the production shape where stats are precomputed; unknown
    // tokens are injected deterministically, and marker-carrying
    // re-crawls that slip past the exact dedup die here instead) →
    // token-budget shard pack of the accepted batch. Each stage's
    // semantics is individually verified by q78/q79/q57; this gates
    // their composition ──
    "q89_incremental_prep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newSrc = Seq("src15", "src16", "src17")
      val corpus = docs.filter(!col("source").isin(newSrc: _*))
      val recrawl = corpus.filter(col("doc_id") % 23 === 0)
        .withColumn("doc_id", col("doc_id") + 200000L)
      val batch = docs.filter(col("source").isin(newSrc: _*))
        .unionByName(recrawl)
        .withColumn("text",
          // % 7 is coprime to the 20-source doc_id stride, so the
          // unknown-token injection thins EVERY source instead of
          // wiping one whole source (% 5 would: 20 ≡ 0 mod 5)
          when(col("doc_id") % 7 === 1,
            concat(col("text"), lit(" zq"),
              (col("doc_id") % 3).cast("string")))
            .otherwise(col("text")))
      val fresh = Dedup.incrementalDedupBloom(batch, corpus, "text",
        expectedItems = 1L << 17)
      val vocab = corpus
        .select(explode(array_distinct(text.tokens(col("text"))))
          .as("tok")).distinct()
      val unknowns = fresh
        .select(col("doc_id"),
          explode(array_distinct(text.tokens(col("text")))).as("tok"))
        .join(vocab.withColumn("_known", lit(1)), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(when(col("_known").isNull, 1L).otherwise(0L))
          .as("unknown_tokens"))
      // LEFT join: a zero-token doc has no explode rows, hence no
      // unknowns row — it has nothing unknown and must pass the gate
      val accepted = fresh.join(unknowns, Seq("doc_id"), "left")
        .filter(coalesce(col("unknown_tokens"), lit(0L)) === 0L)
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      accepted
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("shard_id",
          floor((col("cum") - col("n_tokens")).cast("double") / 4096L)
            .cast("long"))
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"))
    }),

    // ── A6 through the ORACLE gate on the NATIVE aggregate: the
    // registered SQL top_k (TypedImperativeAggregate, bounded
    // 16-byte-entry heap, map-side partial merge) — previously only
    // spec-verified against the window form; here DuckDB's
    // ROW_NUMBER window IS the oracle. Exploded to flat rows so the
    // hash compare sees scalars, not array<struct> ──
    "q90_topk_native" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("graft_events")
      s.sql("""SELECT event_type, top_k(value, event_id, 3) AS tk
        |FROM graft_events GROUP BY event_type""".stripMargin)
        .select(col("event_type"), posexplode(col("tk")).as(Seq("r", "e")))
        .select(col("event_type"), (col("r") + 1).cast("long").as("rank"),
          col("e.id").as("event_id"), col("e.score").as("value"))
    }),

    // ── the VECTOR SQL surface through the oracle: the codegen'd
    // cosine_sim kernel driven entirely from spark.sql (registered by
    // GraftExtensions) — a SQL-only user's similarity query plans the
    // same expression the DataFrame ANN operators use (q28/q32/q54) ──
    "q91_sql_cosine" -> ((s, dir) => {
      t(s, dir, "embeddings").createOrReplaceTempView("graft_embeddings")
      s.sql("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(cosine_sim(a.embedding, b.embedding), 6) AS cos
        |FROM graft_embeddings a JOIN graft_embeddings b
        |  ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 40 AND b.vec_id < 40
        |ORDER BY cos DESC, id_a, id_b LIMIT 15""".stripMargin)
    }),

    // ── Multimodal, REAL pixels: per-partition PNG encode → the
    // javax.imageio decode kernel through the decodePartitions seam.
    // Image parameters (even width, two solid half-colors) derive
    // from event_id, so the oracle predicts the DECODED width /
    // height / per-channel means from arithmetic alone — a match
    // proves actual pixels were decoded and averaged, retiring the
    // r2-r5 decode stub. Both kernels are iterator-to-iterator
    // (codec init amortized per task, no partition materialization) ──
    "q92_image_stats" -> ((s, dir) => {
      import s.implicits._
      Multimodal.decodePartitions[graft.operators.ImageStats](
        twoTonePngs(s, dir), Multimodal.decodeImageStats)
        .toDF("event_id", "width", "height", "mean_r", "mean_g",
          "mean_b")
    }),

    // ── NS multimodal: NEAREST-NEIGHBOR RESIZE over REAL pixels —
    // the thumbnail/normalization step before feature extraction,
    // on the same generated two-tone PNGs as q92: decode via
    // javax.imageio, sample the 5×3 output grid with integer index
    // arithmetic, report the SAMPLED channel means. The oracle
    // predicts them from the generation arithmetic: every even-width
    // two-tone image samples 3 left columns and 2 right (⌊i·w/5⌋ <
    // w/2 iff i ≤ 2), a 9:6 pixel mix that DIFFERS from the full
    // image's 1:1 — a match proves the resize's sampling really ran,
    // not a full-image pass ──
    "q149_image_resize" -> ((s, dir) => {
      import s.implicits._
      Multimodal.decodePartitions[graft.operators.ImageStats](
        twoTonePngs(s, dir), Multimodal.decodeResizedStats(5, 3))
        .toDF("event_id", "width", "height", "mean_r", "mean_g",
          "mean_b")
    }),

    // ── NS multimodal: FRAME-STRIDED AUDIO RESAMPLE over REAL
    // decoded WAV — q149's idea on the second modality: only every
    // 4th frame contributes to the amplitude statistic, selected by
    // integer frame arithmetic the oracle replays over the generation
    // formula (a strided subset whose mean differs from the full
    // signal's, so a match proves the stride really ran) ──
    "q150_audio_resample" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.decodePartitions[(Long, Array[Byte])](
        t(s, dir, "events").select(col("event_id"))
          .repartition(s.sparkContext.defaultParallelism),
        rows => {
          val enc = new graft.operators.WavEncoder() // once per task
          rows.map { r =>
            val id = r.getLong(0)
            val n = 64 + (id % 64L).toInt
            val samples = Array.tabulate(n)(i =>
              ((((id + i) % 256L).toInt - 128) * 256).toShort)
            (id, enc.encode(samples, 8000))
          }
        }).toDF("event_id", "payload")
      Multimodal.decodePartitions[graft.operators.AudioStats](
        media, Multimodal.decodeResampledAudioStats(4))
        .toDF("event_id", "n_samples", "sample_rate", "channels",
          "mean_abs")
    }),

    // ── NS dedup: the INVERTED-INDEX containment form over q131's
    // exact fixture — identical output, wholly different physical
    // plan (posting-list candidates + containment upper-bound
    // pre-filter instead of the dense broadcast scan; complete for
    // t > 0 by the shared-shingle argument, containmentPairsIndexed
    // scaladoc). The two registrations share ONE oracle recompute:
    // the equivalence contract for the sparse-overlap scale path,
    // gated end-to-end every run ──
    "q151_containment_indexed" -> ((s, dir) => {
      // QUARTER slice: the gate proves the indexed plan's exactness;
      // the full fixture is the dense regime where this plan is
      // deliberately the wrong execution (PLANS.md "Containment
      // dedup cost drivers": 43.6 s indexed vs 1.65 s dense at sf0.1
      // full) — running it full-bore in the bench would contradict
      // the operator's own regime contract. The oracle mirrors the
      // slice.
      val base = t(s, dir, "documents")
        .filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
      val injected = base
        .filter(col("doc_id") % 11 === 4)
        .withColumn("toks", text.tokens(col("text")))
        .filter(size(col("toks")) >= 16)
        .select((col("doc_id") * 10 + 7000000L).as("doc_id"),
          array_join(slice(col("toks"), lit(1),
            floor(size(col("toks")) / 4).cast("int")), " ").as("text"))
      Dedup.containmentPairsIndexed(base.unionByName(injected),
          "doc_id", "text", n = 2, threshold = 0.9)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("sz_a"), col("sz_b"),
          round(col("overlap"), 6).as("overlap"),
          round(col("jaccard"), 6).as("jaccard"),
          (round(col("jaccard"), 6) < 0.5).as("jaccard_missed"))
    }),

    // ── NS tokenizer training at PRODUCTION depth: the same q146
    // merge-learning contract at 80 rules — past bpePerStepJobLimit,
    // so bpeMerges runs the DRIVER-SIDE incremental trainer
    // (operators.Bpe: one distributed word count, in-memory merge
    // loop at ~0.05 ms/merge vs ~250 ms/merge of sequential Spark
    // jobs — PLANS.md "BPE at production vocabulary sizes"). The
    // oracle replays all 80 merges as chained MATERIALIZED CTEs:
    // identical rules from a wholly different execution, gated
    // end-to-end ──
    "q152_bpe_train_deep" -> ((s, dir) => {
      import s.implicits._
      bpeMerges(s, dir, nMerges = 80).toDF("step", "pair", "merged", "cnt")
    }),

    // ── NS multimodal: VIDEO FRAME SAMPLING over a REAL frame
    // container — the third modality beside q92/q149 (image) and
    // q102/q150 (audio): a GVID container of 4..8 really-encoded
    // PNG frames per video; every 2nd frame is DECODED (all pixels
    // visited), the frames between are SKIPPED via the length prefix
    // without touching their bytes — decode cost scales with sampled
    // frames, not container size, the property that makes
    // frame-sampling viable on a 100 TB video corpus. Frame colors
    // vary per frame, so the sampled means differ from the all-frame
    // means: the oracle's generation-arithmetic prediction proves
    // the stride AND the decode both ran ──
    "q155_video_framesample" -> ((s, dir) => {
      import s.implicits._
      Multimodal.decodePartitions[graft.operators.VideoStats](
        framePackedVideos(s, dir),
        Multimodal.decodeSampledVideoStats(2))
        .toDF("event_id", "n_frames", "n_sampled", "width", "height",
          "mean_r", "mean_g", "mean_b")
    }),

    // ── NS training-prep: the MATERIALIZED PACKED WINDOWS — q136
    // reports what packing costs; this emits the packing itself, one
    // row per (source, context window): which docs land in it (span
    // ids), how many tokens fill it, how much padding the tail
    // carries. The table a dataloader actually consumes (window →
    // member docs), from the SAME per-source cumsum (q57/q136 integer
    // window arithmetic — floor on exact small doubles); a doc
    // spanning k windows contributes its per-window token overlap via
    // least/greatest on pure BIGINTs, so every fill is exact. Empty
    // docs add nothing to the cumsum and are excluded from the
    // explode (a zero-length doc spans no window; sequence() would
    // descend). Scale shape: one window function + one explode at
    // tokens/W row growth + one hash aggregate — no joins, no
    // collects ──
    "q154_packed_windows" -> ((s, dir) => {
      val W = 256L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "documents")
        .withColumn("n", text.tokenCount(col("text")).cast("long"))
        .withColumn("cum", sum(col("n")).over(w))
        .filter(col("n") > 0)
        .withColumn("w_start",
          floor((col("cum") - col("n")).cast("double") / W).cast("long"))
        .withColumn("w_end",
          floor((col("cum") - 1).cast("double") / W).cast("long"))
        .select(col("source"), col("doc_id"), col("n"), col("cum"),
          explode(sequence(col("w_start"), col("w_end"))).as("win"))
        .withColumn("fill",
          least(col("cum"), (col("win") + 1) * W) -
            greatest(col("cum") - col("n"), col("win") * W))
        .groupBy(col("source"), col("win"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          sum(col("fill")).as("fill_tokens"))
        .withColumn("pad_tokens", lit(W) - col("fill_tokens"))
    }),

    // ── NS the FLAGSHIP COMPOSITION: a full training-data prep
    // pipeline as ONE manifest — exact dedup (min-id keeper on
    // md5(text)) → near-dup keeper (the SHARED pair store + q84's
    // resolution rule) → eval-fold decontamination (q135's graded
    // score, < 0.5) → quality floor (q25's rounded score, ≥ 0.4) →
    // temperature mixing over the survivors (q124's integer cuts).
    // Per source, the count surviving EACH stage plus the mixed
    // token mass: the one report that says where a source's budget
    // went. Engineered as CUMULATIVE per-doc flags in one frame —
    // one aggregate, no per-stage rescans (each stage's flag is
    // pure per-doc given the stage inputs; only the near-dup keeper
    // and the mix cuts depend on the surviving SET, and both are
    // computed on exactly that set). The two localCheckpoints bound
    // re-execution of the four-consumer DAG; a production run would
    // persist the flag table between stages instead ──
    "q153_training_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isEval = col("doc_id") % 17 === 3
      val scored = dataCardScored(docs.filter(!isEval))
        .select(col("doc_id"), col("source"), col("text"),
          col("n_tok"), col("q"))
      val wEx = Window.partitionBy(md5(col("text")))
        .orderBy(col("doc_id"))
      val base = Phases.time("score_and_exact") {
        scored
          .withColumn("f_exact", row_number().over(wEx) === 1)
          .localCheckpoint(eager = true)
      }
      val exact = base.filter(col("f_exact"))
      val ids = exact.select(col("doc_id"))
      // pair membership depends only on the two docs, so restricting
      // the corpus-version pair store to exact survivors IS the pair
      // set of the survivor subset
      val pairs = nearDupPairStore(s, dir)
        .join(ids.toDF("doc_a"), "doc_a")
        .join(ids.toDF("doc_b"), "doc_b")
        .select("doc_a", "doc_b")
      val keepers = Dedup
        .resolveDuplicates(exact, pairs, "doc_id", "n_tok")
        .select(col("doc_id"), lit(true).as("k_nd"))
      val contam = Dedup.contaminationScores(
          docs.filter(!isEval), docs.filter(isEval),
          "doc_id", "text", n = 3)
        .select(col("doc_id"), col("contamination"))
      val flagged = Phases.time("neardup_contam_flags") {
        base
          .join(keepers, Seq("doc_id"), "left")
          .join(contam, Seq("doc_id"), "left")
          .withColumn("f_nd",
            col("f_exact") && coalesce(col("k_nd"), lit(false)))
          .withColumn("f_ct", col("f_nd") &&
            coalesce(col("contamination"), lit(0.0)) < 0.5)
          .withColumn("f_q", col("f_ct") && col("q") >= 0.4)
          .localCheckpoint(eager = true)
      }
      val qual = flagged.filter(col("f_q"))
      val cuts = Phases.time("mix_cuts") {
        Relational.temperatureMixCuts(qual, "source", "text",
          budgetTokens = q124Budget)
      }
      val mixed = Relational
        .temperatureMix(qual, col("source"), col("doc_id"), cuts)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_mixed"),
          sum(col("n_tok")).as("tokens_mixed"))
      flagged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("f_exact"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("f_nd"), 1L).otherwise(0L)).as("n_neardup"),
          sum(when(col("f_ct"), 1L).otherwise(0L)).as("n_decontam"),
          sum(when(col("f_q"), 1L).otherwise(0L)).as("n_quality"))
        .join(mixed, Seq("source"), "left")
        .select(col("source"), col("n_raw"), col("n_exact"),
          col("n_neardup"), col("n_decontam"), col("n_quality"),
          coalesce(col("n_mixed"), lit(0L)).as("n_mixed"),
          coalesce(col("tokens_mixed"), lit(0L)).as("tokens_mixed"))
    }),

    // ── NS: hashed-ngram LINEAR CLASSIFIER filter — the model-based
    // quality gate (fastText shape) every production pipeline runs
    // after its rule cuts. Model = bounded (bucket, weight) table,
    // BROADCAST-joined to the exploded feature stream (the corpus
    // never shuffles below the doc-grain partial agg); integer
    // weights ⇒ exact integer logits in both engines. The oracle
    // regenerates the same md5-seeded model and re-scores from
    // scratch (CorpusStats.linearClassifierScores) ──
    "q156_quality_classifier" -> ((s, dir) =>
      CorpusStats.classifierGateReport(t(s, dir, "documents"),
        "doc_id", "text", "source", buckets = 4096)),

    // ── NS GOVERNANCE: duplication-graph CENTRALITY — the fourth
    // consumer of the shared at-rest pair store (q84 keeper, q133
    // attribution, q140 census): bounded power iteration (PageRank
    // shape, integer-scaled milli ranks) surfaces the HUB documents
    // boilerplate radiates from. Each round is one edge→rank join +
    // one dst-grain agg over the pair-grain graph; the corpus is
    // never touched. The oracle recomputes the exact dense pair set
    // and unrolls the same three integer rounds as chained CTEs ──
    "q157_dup_centrality" -> ((s, dir) =>
      Dedup.dupCentrality(nearDupPairStore(s, dir), rounds = 3,
        topK = 20)),

    // ── NS streaming: the q156 classifier gate at INGEST time —
    // three micro-batches scored against the static broadcast model,
    // additive integer per-source partials landed as sealed batchId
    // segments (exactly-once, the q139 convention), report = one
    // re-aggregation of the at-rest partials. Same oracle as q156:
    // the streaming decomposition must converge to the batch answer
    // bit for bit ──
    "q158_stream_classifier" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q158_").toString
      val rows = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)].collect().toSeq
      val input = MemoryStream[(Long, String, String)]
      val stream = input.toDF().toDF("doc_id", "source", "text")
      val ckpt = ephemeralCheckpoint("q158")
      val q = Streams.classifierIngest(stream, "doc_id", "text",
        "source", buckets = 4096, root, ckpt.getAbsolutePath)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(_._1 % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val report = s.read.parquet(root + "/partials")
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_accept")).as("n_accept"),
          sum(col("sum_logit")).as("sum_logit"),
          sum(col("sum_feats")).as("sum_feats"))
      materializeThenClean(s, report, root)
    }),

    // ── NS: the q156 gate's INCREMENTAL form — the q118/q138 triple
    // convention completed on the classifier side (batch q156 /
    // streaming q158 / incremental q161): yesterday's per-source
    // integer partials at rest, only the NEW slice scored today,
    // report = one re-aggregation. Integer logits are additive by
    // construction, so the merge is exact — same shared oracle ──
    "q161_incremental_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = col("doc_id") % 5 === 0
      def partials(d: org.apache.spark.sql.DataFrame) =
        CorpusStats.classifierGateReport(d, "doc_id", "text",
          "source", buckets = 4096)
      val root = java.nio.file.Files
        .createTempDirectory("graft_q161_").toString
      partials(docs.filter(!isNew)).write.parquet(root + "/gate")
      val merged = s.read.parquet(root + "/gate")
        .unionByName(partials(docs.filter(isNew)))
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_accept")).as("n_accept"),
          sum(col("sum_logit")).as("sum_logit"),
          sum(col("sum_feats")).as("sum_feats"))
      materializeThenClean(s, merged, root)
    }),

    // ── NS: CONTAMINATION SPAN EXCISION — the finest decontamination
    // grain (q64 drops docs at a cutoff, q135 grades them; this
    // EXCISES the matching spans and keeps the document): every
    // train position whose 8-gram matches the eval fold, widened to
    // its 8-token window, overlaps unioned by an exact integer
    // island walk. Matched positions only ever reach the doc-
    // partitioned window (rare by construction) — the corpus token
    // stream reduces at the semi join. Both engines run the
    // identical walk; no float surface ──
    "q163_contamination_excision" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isEval = col("doc_id") % 17 === 3
      Dedup.contaminationExcision(docs.filter(!isEval),
          docs.filter(isEval), "doc_id", "text", n = 8)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("tokens_excised") > 0L, 1L).otherwise(0L))
            .as("n_affected"),
          sum(col("n_tok")).as("tokens_total"),
          sum(col("tokens_excised")).as("tokens_excised"),
          sum(col("grams_matched")).as("grams_matched"))
    }),

    // ── NS: the excision SURGERY materialized (q136→q154 move:
    // report, then the transformation it prices): for every affected
    // doc, the kept tokens re-joined in order and md5-60 hashed —
    // the oracle rebuilds the same cleaned string from scratch, so
    // the hash match proves the surgery token for token. Everything
    // below the match is affected-doc grain ──
    "q164_excised_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isEval = col("doc_id") % 17 === 3
      Dedup.contaminationExcisedDocs(docs.filter(!isEval),
        docs.filter(isEval), "doc_id", "text", n = 8)
    }),

    // ── NS: LENGTH-BUCKETED BATCHING WASTE — the packing family's
    // fourth angle (q136 packs, q143 truncates, q154 materializes;
    // this prices DYNAMIC BATCHING): docs pad to their power-of-2
    // length bucket (kernels compile per bucket), so waste per
    // bucket is bucket·n_docs − Σlen, vs padding everything to the
    // global max. One scan, bucket-grain agg, a broadcast scalar for
    // the global max — all integer, the bucket CASE chain identical
    // in both engines (no float log2) ──
    "q165_bucket_batching" -> ((s, dir) => {
      val lens = t(s, dir, "documents")
        .select(size(text.tokens(col("text"))).cast("long").as("len"))
        .filter(col("len") > 0L)
      val bucket = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L,
        4096L).foldRight(lit(8192L)) { (b, acc) =>
        when(col("len") <= b, b).otherwise(acc)
      }
      val gmax = lens.agg(max(col("len")).as("gmax"))
      // the TOP bucket is open-ended: docs past the last power of 2
      // pad to the bucket's own max length (greatest(bucket, max len)
      // — a closed 8192 constant would price impossible negative
      // waste for longer documents)
      lens.withColumn("bucket", bucket)
        .crossJoin(broadcast(gmax))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("len")).as("sum_tokens"),
          max(col("len")).as("_bb_ml"),
          max(col("gmax")).as("_bb_gm"))
        .select(col("bucket"), col("n_docs"),
          expr("(n_docs + 7) div 8").as("n_batches"),
          col("sum_tokens"),
          (greatest(col("bucket"), col("_bb_ml")) * col("n_docs")
            - col("sum_tokens")).as("waste_bucketed"),
          (col("_bb_gm") * col("n_docs") - col("sum_tokens"))
            .as("waste_unbucketed"))
    }),

    // ── NS: EXACT-SUBSTRING SELF-DEDUP (ExactSubstr, Lee et al.
    // 2022) — a span of >= 8 consecutive tokens occurring MORE THAN
    // ONCE in the corpus is excised from every occurrence except the
    // first (min (doc_id, pos)): the span-grain complement of the
    // whole-doc keeper (q84) and the eval-set excision (q163, which
    // this shares its island walk with). Per gram the owner is a
    // map-side-combining min-struct aggregate — repeated boilerplate
    // collapses before the exchange — and only duplicated grams
    // survive to the join-back; the oracle replays the same rule as
    // ROW_NUMBER() > 1 over (gram hash, doc, pos). Integer walk ──
    "q166_selfdup_excision" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.selfDupExcision(docs, "doc_id", "text", n = 8)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("tokens_excised") > 0L, 1L).otherwise(0L))
            .as("n_affected"),
          sum(col("n_tok")).as("tokens_total"),
          sum(col("tokens_excised")).as("tokens_excised"),
          sum(col("grams_deduped")).as("grams_deduped"))
    }),

    // ── NS: T5 SPAN-CORRUPTION REPORT (Raffel et al. 2020) — the
    // denoising example builder's exact size accounting: each
    // position masked by a deterministic md5 clock (15%), runs of
    // consecutive masked positions are the corruption spans (one
    // sentinel each side), so input = total − masked + spans and
    // target = masked + spans. Both engines replay the same clock
    // and the same gaps-and-islands grouping — integer end to end ──
    "q167_span_corruption" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusStats.spanCorruptionStats(docs, "doc_id", "text",
          maskPct = 15)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tokens_total"),
          sum(col("tokens_masked")).as("tokens_masked"),
          sum(col("n_spans")).as("n_spans"),
          sum(col("n_tok") - col("tokens_masked") + col("n_spans"))
            .as("input_tokens"),
          sum(col("tokens_masked") + col("n_spans"))
            .as("target_tokens"))
    }),

    // ── NS: MAXIMAL-SPAN EXACT-SUBSTRING REPORT (Lee et al. 2022
    // §4.1's length gate) — q166 excises at fixed 8-gram grain; this
    // reports the MAXIMAL duplicated spans (maximal runs of
    // consecutive non-owner gram positions, pos − row_number
    // gaps-and-islands) and keeps only spans >= 50 tokens, the
    // paper's threshold. tokens_excised is the interval UNION of the
    // qualifying spans (runs < n apart overlap once widened). The
    // oracle replays the same owner rule, the same run grouping, and
    // the same union walk — integer end to end ──
    "q168_maximal_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.selfDupMaximalSpans(docs, "doc_id", "text",
          n = 8, minSpan = 50)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("spans") > 0L, 1L).otherwise(0L))
            .as("n_affected"),
          sum(col("n_tok")).as("tokens_total"),
          sum(col("spans")).as("spans"),
          max(col("max_span")).as("max_span"),
          sum(col("tokens_excised")).as("tokens_excised"))
    }),

    // ── T7+NS: STREAMING EXCISION — q164's surgery as a LIVE ingest
    // (the q139/q128 sealed-segment lifecycle): three deterministic
    // micro-batches of train docs excised against the static eval
    // fold, each landing its affected docs' surgery rows as one
    // sealed batchId segment (exactly-once under retry, spec-pinned
    // in StreamingSpec). Excision is doc-local, so the drained
    // store re-reads to EXACTLY the batch q164 rows — the shared
    // oracle (one rendering) proves the kept-text hashes bit for
    // bit across the whole streaming lifecycle ──
    "q169_stream_excision" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q169_").toString
      val rows = t(s, dir, "documents")
        .filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val evalSet = t(ns, dir, "documents")
        .filter(col("doc_id") % 17 === 3)
        .select(col("doc_id"), col("text"))
      val input = MemoryStream[(Long, String)]
      val stream = input.toDF().toDF("doc_id", "text")
      val ckpt = ephemeralCheckpoint("q169")
      val q = Streams.excisionIngest(stream, evalSet, "doc_id",
        "text", root, ckpt.getAbsolutePath, n = 8)
      try
        (0 until 3).foreach { r =>
          Phases.time(s"drain[b$r]") {
            input.addData(rows.filter(_._1 % 3 == r))
            q.processAllAvailable()
          }
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val surgery = s.read.parquet(root + "/partials")
        .select(col("doc_id"), col("n_tok"), col("tokens_excised"),
          col("clean_hash"))
      materializeThenClean(s, surgery, root)
    }),

    // ── NS MIXING, the UP-SAMPLING half: fractional EPOCHS per
    // source (LLM data-recipe semantics — every doc repeats
    // floor(e) times plus once more with probability frac(e)) from
    // the q124 √n temperature weights WITHOUT the 1000 clamp: rare
    // sources repeat, abundant ones select, ONE deterministic
    // salted-hash family for both regimes (a stratum under 1000
    // milli reproduces temperatureMix's kept set exactly). The
    // manifest materializes as (doc, epoch) rows in the scan
    // projection — explode over a per-row integer sequence, NO
    // shuffle; the report prices it per source. Integer end to
    // end ──
    "q171_epoch_upsample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val epochs = Relational.epochMixMilli(docs, "source", "text",
        budgetTokens = q171Budget)
      Relational.epochUpsample(docs, col("source"), col("doc_id"),
          epochs)
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
        .groupBy(col("source"), col("epoch_milli"))
        .agg(count(lit(1)).as("eff_docs"),
          sum(col("n_tokens")).as("eff_tokens"),
          max(col("epoch")).as("max_epoch"))
        .select(col("source"), col("epoch_milli"), col("eff_docs"),
          col("eff_tokens"), col("max_epoch"))
    }),

    // ── NS multimodal dedup: IMAGE PERCEPTUAL-HASH NEAR-DUP — the
    // aHash-family pipeline (LAION-style image dedup): decode REAL
    // pixels, nearest-neighbor-sample an 8×8 grid, threshold integer
    // luma into a 64-bit fingerprint, then the SAME Manku pigeonhole
    // blocking the text simhash family uses (recall 1 at radius ≤ 4
    // with 8 blocks, Hamming post-filter for precision 1 — never
    // all-pairs; at corpus scale keyBlocks widens the join key, the
    // hammingNearDupPairs scaling note). The oracle rebuilds every
    // hash from the generation arithmetic and joins all pairs, so a
    // match proves decode + grid sampling + packing bit for bit ──
    "q172_image_phash_dedup" -> ((s, dir) => phashPairs(s, dir)._2),

    // ── NS multimodal dedup: AUDIO — the family's fourth leg (text
    // simhash, image q172, video q180, audio THIS): real WAV payloads
    // decode through the javax.sound seam and fingerprint as a
    // 64-window energy contour (decodeAudioEnergyHash — window mean
    // |amplitude| thresholded, the grid hash's idea on the time
    // axis), then the SAME recall-1 pigeonhole blocking joins the
    // fingerprints. The oracle rebuilds every hash bit from the
    // generation arithmetic (the q102 proof: an oracle match means a
    // real RIFF parse + sample decode ran, per window) ──
    "q183_audio_phash_dedup" -> ((s, dir) => audioPhashPairs(s, dir)._2),

    // ── NS similarity: MARGIN-BASED BITEXT MINING — the
    // embedding-space pair-alignment recipe (LASER/CCMatrix family):
    // the corpus split into two "language" sides (even/odd vec_id —
    // production passes two real embedding sets), every x scored
    // against every y, and the pair score is the RATIO margin
    // cos/(mean of both sides' k-NN cosines) — hubs that are close
    // to everything get their ambient similarity divided back out.
    // Exact dense form (the q28 tier) with the ANN-shortlist swap
    // documented on the operator; threshold 1.10 splits the fixture
    // 117 accepted / 133 rejected so BOTH verdicts gate ──
    "q184_bitext_margin" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.marginMine(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        k = 4, threshold = 1.10)
    }),

    // ── NS similarity: INDEXED MARGIN MINING — q184's arithmetic on
    // the SCALE path: candidates from the multi-table hyperplane-LSH
    // collide join (an equi-join on (table, bucket) — the cross-score
    // is gone), k-NN means from the shortlist (the paper's own
    // approximation), margin/threshold identical by construction
    // (ONE shared core, Similarity.marginFromScored). Plane literals
    // inlined in the oracle, so the approximate plan verifies
    // exactly ──
    "q187_bitext_margin_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.marginMineIndexed(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        q187Tables, k = 4, threshold = 1.10)
    }),

    // ── NS quality: CLASSIFIER CALIBRATION — the reliability table
    // read before trusting q156's gate threshold: fixed-width logit
    // bins × observed positive rate under an independent reference
    // signal (the q25 rule-based quality score at its fixture
    // median 0.8, so the reference splits —
    // production passes human labels through the same column). One
    // aggregate over the q156 scoring dataflow; double-floor binning
    // so negative logits bin downward ──
    "q188_classifier_calibration" -> ((s, dir) =>
      CorpusStats.classifierCalibration(t(s, dir, "documents"),
        "doc_id", "text", buckets = 4096, binWidth = 2000,
        positive = functions.text.qualityScore(col("text")) >= 0.8)),

    // ── NS mixing: CURRICULUM TIERS — the difficulty-ordered
    // schedule a curriculum run budgets from: q106's unigram loss as
    // the difficulty proxy, ntile-ranked WITHIN each source (loss
    // scales are not cross-source comparable — the q70 percentile
    // argument), per-(source, tier) doc/token mass + loss span. One
    // window shuffle + one aggregate; bodies never shuffle ──
    "q189_curriculum_tiers" -> ((s, dir) =>
      CorpusStats.curriculumTiers(t(s, dir, "documents"),
        "doc_id", "text", "source", tiers = 4, minCount = 3)),

    // ── NS training-data: GROUP-AWARE SPLIT — fold assignment by
    // canonical-URL GROUP hash, so URL-duplicates can never straddle
    // train/eval (q121 measures leakage, THIS prevents the
    // within-group class of it by construction); n_rescued counts
    // the docs a naive doc-level split would have scattered across
    // the boundary. Shares q110/q175's canonicalization so the
    // group rule cannot drift from the dedup rule ──
    "q190_group_split" -> ((s, dir) =>
      Relational.groupAwareSplit(syntheticUrlDocs(s, dir),
        "doc_id", "source",
        functions.urls.canonicalize(col("url")))),

    // ── NS similarity: MARGIN INGEST — the margin family's AT-REST
    // leg (exact q184, LSH-collide q187, THIS against the stored
    // layout): the odd half arrives as a batch and mines against the
    // bucket-clustered store of the even half through its multi-probe
    // ball — ONE pushed isin over the batch's union ball prunes the
    // store files (the q98/q101 convention), then the FORWARD margin
    // (best cos over the shortlist mean) scores each batch vector.
    // Plane + radius literals inline in the oracle, so the
    // approximate at-rest plan verifies exactly ──
    "q192_margin_ingest" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q192_").toString
      val store = root + "/embeddings"
      val emb = t(s, dir, "embeddings")
      Layout.clusteredWrite(
        emb.filter(col("vec_id") % 2 === 0)
          .withColumn("bucket",
            vectors.hyperplaneBucketFast(col("embedding"), q97Planes)),
        store, numFiles = 8, col("bucket"))
      val out = Similarity.marginProbeStore(s, store,
        emb.filter(col("vec_id") % 2 =!= 0),
        q97Planes, radius = q98Radius, k = 4, threshold = 1.15)
      materializeThenClean(s, out, root)
    }),

    // ── T7+NS: STREAMING MARGIN MINER — q192 at ingest time, the
    // family's lifecycle closed (exact q184 / collide q187 / at-rest
    // q192 / streaming THIS): three micro-batches mine the static
    // clustered store, verdicts land as sealed exactly-once
    // segments, and the drained union equals batch q192 bit for bit
    // (the forward margin is per-vector) — ONE shared oracle ──
    "q193_stream_margin" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q193_").toString
      val store = root + "/embeddings"
      val emb = t(s, dir, "embeddings")
      Layout.clusteredWrite(
        emb.filter(col("vec_id") % 2 === 0)
          .withColumn("bucket",
            vectors.hyperplaneBucketFast(col("embedding"), q97Planes)),
        store, numFiles = 8, col("bucket"))
      val rows = emb.filter(col("vec_id") % 2 =!= 0)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      val input = MemoryStream[(Long, Seq[Float])]
      val stream = input.toDF().toDF("vec_id", "embedding")
      val ckpt = ephemeralCheckpoint("q193")
      val q = Streams.marginIngest(stream, store, q97Planes,
        q98Radius, k = 4, threshold = 1.15, root,
        ckpt.getAbsolutePath)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(_._1 % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val out = s.read.parquet(root + "/partials")
        .select("src_id", "tgt_id", "cos", "margin", "accepted")
      materializeThenClean(s, out, root)
    }),

    // ── NS CAPSTONE: CURATED CURRICULUM MANIFEST — the round's new
    // operators composed end-to-end the way a training run consumes
    // them: the blocklist gate (q185) keeps the clean docs, the
    // difficulty model TRAINS ON THE SURVIVORS (a model trained on
    // pre-filter text would rank by content the gate just removed),
    // curriculum tiers within source (q189), the leakage-safe fold
    // from the canonical-URL group (q190), and the manifest a
    // scheduler reads: per-(split, tier) doc/token mass. Each stage
    // is oracle-verified alone by its own query; THIS verifies the
    // composition ──
    "q194_curated_manifest" -> ((s, dir) => {
      val docs = syntheticUrlDocs(s, dir)
      // the multi-word phrases only: the full q185 list includes
      // single common tokens that flag 92% of this fixture (fine for
      // gating the automaton, degenerate as a curation gate); the
      // phrase subset flags a realistic ~22%
      val clean = operators.Blocklist.tag(docs, "doc_id", "text",
          q185Patterns.filter(_.contains(' ')))
        .filter(!col("flagged")).select("doc_id")
      val scored = CorpusStats.unigramLogLoss(docs.join(clean, "doc_id"),
          "doc_id", "text", minCount = 3)
        .withColumn("nll6", round(col("nll"), 6))
        .filter(col("nll6").isNotNull)
      def fold(h: Column) = Relational.foldOf(h)
      scored
        .withColumn("tier", ntile(4).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"))
            .orderBy(col("nll6"), col("doc_id"))))
        .withColumn("split",
          fold(functions.hashes.md5Hash60(col("canon")) % 10))
        .groupBy(col("split"), col("tier"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"),
          countDistinct(col("source")).as("n_sources"))
    }),

    // ── NS multimodal dedup: AUDIO PHASH INGEST — the q176
    // lifecycle on the audio modality (batch q183 / incremental
    // THIS / streaming q196, completing the family image q172/q176/
    // q177 and video q180/q182 already have): the stored index
    // holds the even-m audio half; the batch half carries UNSHIFTED
    // patterns on even m (every one has a stored same-pattern
    // partner ≤ 4 flips away) and SHIFTED patterns on odd m (the
    // 25 odd residues the store has never heard — min cross-distance
    // 12 > radius), so both verdicts gate. Same modality-agnostic
    // phash index + pushed-key pruning as the image legs; the
    // oracle rebuilds every energy-contour bit from generation
    // arithmetic (the q102/q183 proof obligation) ──
    "q195_audio_phash_ingest" -> ((s, dir) => {
      import s.implicits._
      // residue filters BEFORE the encode seam, tiny (doc, fp)
      // frames checkpointed — the q176 single-codec-pass rationale
      def fpOf(filter: Column, shift: Int) =
        Multimodal.decodePartitions[(Long, Long)](
          patternWavs(s, dir, filter, shift),
          Multimodal.decodeAudioEnergyHash(64, 1000))
          .toDF("doc", "fp")
          .localCheckpoint()
      val root = java.nio.file.Files
        .createTempDirectory("graft_q195_").toString
      Dedup.writePhashIndex(fpOf(col("event_id") % 32 === 0, 0),
        root + "/idx", radius = 4, width = 64, blocks = Some(8),
        keyBlocks = 1)
      // % 64 residues, not (id / 32) % 2: Column./ is DOUBLE division
      // (id ≡ 16 mod 32 ⇒ id % 64 ∈ {16, 48} ⇔ (id // 32) % 2 ∈ {0, 1})
      val batch = fpOf(col("event_id") % 64 === 16, 0)
        .unionByName(fpOf(col("event_id") % 64 === 48, 1))
      val res = Dedup.incrementalPhashAgainst(s, batch, root + "/idx",
        radius = 4, width = 64, blocks = Some(8), keyBlocks = 1)
      materializeThenClean(s, res, root)
    }),

    // ── T7+NS: CONTINUOUS AUDIO PHASH INGEST — the q177 lifecycle
    // on the audio modality: the stored index holds the even-m half
    // (unshifted patterns); the streamed audio is ALL
    // pattern-rotated (content the store has never heard), so batch
    // 1 is all fresh and batches 2/3 can ONLY be flagged through
    // index growth — a failed sealed append surfaces as dup counts
    // collapsing in the oracle compare, and every dup_of id pins
    // WHICH earlier streamed clip it resolved to ──
    "q196_stream_audio_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q196_").toString
      // index build on the PARENT session (corpus-scale); fp frames
      // checkpointed — the q176 single-codec-pass rationale
      val idxFp = Multimodal.decodePartitions[(Long, Long)](
        patternWavs(s, dir, col("event_id") % 32 === 0),
        Multimodal.decodeAudioEnergyHash(64, 1000))
        .toDF("doc", "fp").localCheckpoint()
      Dedup.writePhashIndex(idxFp, root + "/idx",
        radius = 4, width = 64, blocks = Some(8), keyBlocks = 1)
      val rows = Multimodal.decodePartitions[(Long, Long)](
        patternWavs(s, dir, col("event_id") % 32 === 16, patShift = 1),
        Multimodal.decodeAudioEnergyHash(64, 1000))
        .collect().toSeq
      val input = MemoryStream[(Long, Long)]
      val stream = input.toDF().toDF("doc", "fp")
      val ckpt = ephemeralCheckpoint("q196")
      val q = Streams.phashIngest(stream, root + "/idx", root + "/out",
        ckpt.getAbsolutePath, radius = 4, width = 64,
        blocks = Some(8), keyBlocks = 1)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(t => (t._1 / 32) % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val res = s.read.parquet(root + "/out")
        .select(col("doc"), col("fp"), col("dup_of"), col("hamming"),
          col("is_dup"))
      materializeThenClean(s, res, root)
    }),

    // ── NS training-data: INDEXED SPLIT-LEAKAGE GUARD — the
    // steady-state shape of q121/q198's measurement: an eval-split
    // guard runs once per NEW eval set, so re-tokenizing the corpus
    // per check is the wrong execution when the signatures already
    // live at rest (the shared writeNearDupIndex store — one build
    // per corpus version, the pair-store convention). The val
    // manifest is the only input; candidates are val-bands ×
    // train-bands collisions read from the index, the exact re-score
    // joins at-rest shingle sets, the corpus text is never touched.
    // Naive md5 doc-fold val set, so leaks are NONZERO here — the
    // contrast q198's component fold reads as zero ──
    "q204_split_leakage_indexed" -> ((s, dir) => {
      val idx = nearDupSignatureIndex(s, dir)
      val docs = t(s, dir, "documents")
      val valIds = docs.filter(
          functions.hashes.md5Hash60(col("doc_id").cast("string"))
            % 10 === 1)
        .select("doc_id")
      Dedup.splitLeakageIndexed(s, idx, valIds, "doc_id",
          threshold = 0.5)
        // source from the corpus metadata (id-grain equi-join; a
        // production eval manifest carries its own metadata columns)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_val"),
          sum(when(col("is_leaked"), 1L).otherwise(0L)).as("n_leaked"),
          coalesce(sum(col("leak_from")), lit(0L)).as("sum_leak_from"))
    }),

    // ── T7+NS: STREAMING COMPONENT-AWARE FOLD ASSIGNMENT — q197's
    // leakage-safe folds decided AT INGEST (Streams
    // .componentFoldIngest scaladoc): each micro-batch grows the
    // pair store (appendPairStore), labels its docs by the connected
    // component AS OF the grown store ∪ same-key min-edges, and
    // seals per-doc fold manifests. The streamed copies are
    // key-unique (a re-scrape from an unknown site), so they can
    // inherit their original's fold ONLY through the store's grown
    // cross pairs — n_inherited > 0 in batches 1/2 and 0 in batch 0
    // is the growth signal the oracle pins (the q111 chained-growth
    // convention on the fold grain) ──
    "q205_stream_component_fold" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q205_").toString
      val docs = syntheticUrlDocs(s, dir)
      val orig = docs.select(col("doc_id"),
        (col("doc_id") % 3).cast("int").as("b"),
        col("canon").as("ckey"), col("source"), col("text"))
      def copies(res: Int, off: Long, b: Int) = docs
        .filter(col("doc_id") % 3 === res && col("doc_id") % 7 === 0)
        .select((col("doc_id") + off).as("doc_id"),
          lit(b).cast("int").as("b"),
          concat(lit("copy-"), (col("doc_id") + off).cast("string"))
            .as("ckey"),
          col("source"), col("text"))
      val rows = orig
        .unionByName(copies(0, 3000000L, 1))
        .unionByName(copies(1, 4000000L, 2))
        .as[(Long, Int, String, String, String)].collect().toSeq
      // seed EMPTY stores: the writeNearDupIndex / writePairStore
      // layout must exist before batch 0 appends into it (an empty
      // parquet table carries the schema)
      val emptyDocs = docs.select(col("doc_id"), col("text")).limit(0)
      Dedup.writeNearDupIndex(emptyDocs, "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, dir = root + "/store/index")
      Dedup.writePairStore(emptyDocs, "doc_id", "text",
        root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      orig.select(col("doc_id"), col("ckey"), col("source")).limit(0)
        .write.parquet(root + "/store/docs/docs")
      val input = MemoryStream[(Long, String, String, String)]
      val stream = input.toDF()
        .toDF("doc_id", "ckey", "source", "text")
      val ckpt = ephemeralCheckpoint("q205")
      val q = Streams.componentFoldIngest(stream, "doc_id", "text",
        "ckey", "source", root + "/store", root + "/out",
        ckpt.getAbsolutePath, shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(_._2 == r)
            .map(t => (t._1, t._3, t._4, t._5)))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val res = s.read.parquet(root + "/out")
        .groupBy(col("batch_id").cast("long").as("batch_id"),
          col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("group")).as("n_groups"),
          sum(when(col("inherited"), 1L).otherwise(0L))
            .as("n_inherited"),
          sum(when(col("dsplit") =!= col("split"), 1L).otherwise(0L))
            .as("n_rescued"))
      materializeThenClean(s, res, root)
    }),

    // ── T7+NS: TWO GROWING-STORE MARGIN INGEST — the CCMatrix
    // steady state (Streams.marginIngestBothGrowing scaladoc): both
    // sides live as tagged-append bucket stores, each batch mines
    // its new vectors of EACH side against the OTHER side's store
    // as of batch start (both probe directions through the same
    // enumerated-ball relation), verdicts seal before ONE atomic
    // two-table append. 65-80 best-partners per direction at the
    // gate SFs sit in GROWN segments, not the seeds — failed growth
    // on either side collapses them in the oracle compare ──
    "q206_stream_margin_both_grow" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q206_").toString
      val emb = t(s, dir, "embeddings")
      val gen = expr("vec_id div 2") % 4
      def seed(residue: Int, path: String): Unit =
        Layout.clusteredWrite(
          emb.filter(col("vec_id") % 2 === residue && gen === 3)
            .withColumn("bucket",
              vectors.hyperplaneBucketFast(col("embedding"), q97Planes)),
          path, numFiles = 8, col("bucket"))
      seed(0, root + "/store/x")
      seed(1, root + "/store/y")
      val rows = emb.filter(gen =!= 3)
        .select(col("vec_id"), col("embedding"),
          when(col("vec_id") % 2 === 0, "x").otherwise("y")
            .as("side"))
        .as[(Long, Seq[Float], String)].collect().toSeq
      val input = MemoryStream[(Long, Seq[Float], String)]
      val stream = input.toDF().toDF("vec_id", "embedding", "side")
      val ckpt = ephemeralCheckpoint("q206")
      val q = Streams.marginIngestBothGrowing(stream, root + "/store",
        "x", "y", q97Planes, q98Radius, k = 4, threshold = 1.15,
        root, ckpt.getAbsolutePath)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(t => (t._1 / 2) % 4 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val out = s.read.parquet(root + "/partials")
        .select("dir", "src_id", "tgt_id", "cos", "margin", "accepted")
      materializeThenClean(s, out, root)
    }),

    // ── NS: INCREMENTAL CALIBRATED GATE — the q156/q158/q161 triple
    // completed at the CALIBRATED threshold (batch q201 / streaming
    // q203 / THIS): the threshold is chosen ONCE on the at-rest
    // corpus (doc_id % 5 <> 0 — yesterday's crawl), its per-source
    // integer partials land at rest, and only the NEW slice scores
    // today; the merge is one re-aggregation, exact because every
    // partial is additive AT the shared threshold (CorpusStats
    // .classifierGateReportAt — ONE gate-at-threshold
    // implementation with the streaming leg). targetMilli = 750
    // picks a DIFFERENT bin on the old slice than the full corpus
    // would at sf0.001 (3 vs 4), so the oracle pins the chooser's
    // provenance, not just the merge arithmetic ──
    "q207_incremental_calibrated" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isNew = col("doc_id") % 5 === 0
      val binWidth = 2000L
      val thr = CorpusStats.chooseCalibratedThreshold(
        docs.filter(!isNew), "doc_id", "text", buckets = 4096,
        binWidth = binWidth,
        positive = functions.text.qualityScore(col("text")) >= 0.8,
        targetMilli = 750)
      def partials(d: org.apache.spark.sql.DataFrame) =
        CorpusStats.classifierGateReportAt(d, "doc_id", "text",
          "source", buckets = 4096, thr)
      val root = java.nio.file.Files
        .createTempDirectory("graft_q207_").toString
      partials(docs.filter(!isNew)).write.parquet(root + "/gate")
      val merged = s.read.parquet(root + "/gate")
        .unionByName(partials(docs.filter(isNew)))
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_accept")).as("n_accept"),
          sum(col("sum_logit")).as("sum_logit"),
          sum(col("sum_feats")).as("sum_feats"))
        .withColumn("thr_bin",
          thr.map(t => lit(t / binWidth)).getOrElse(lit(null))
            .cast("long"))
        .withColumn("thr_logit",
          thr.map(lit(_)).getOrElse(lit(null)).cast("long"))
        .select("source", "thr_bin", "thr_logit", "n_docs",
          "n_accept", "sum_logit", "sum_feats")
      materializeThenClean(s, merged, root)
    }),

    // ── T7+NS: STREAMING CALIBRATED GATE — the q201 loop's
    // streaming leg, completing calibrate → choose → gate as a
    // lifecycle (batch q201 / THIS): the threshold is CHOSEN ONCE on
    // the at-rest corpus (a training-run decision — the
    // temperatureMix static-recipe convention) and every micro-batch
    // gates at it, additive per-source integer partials landing as
    // sealed exactly-once segments; the drained union re-aggregates
    // to the batch answer bit for bit under ONE shared oracle chain
    // (the q201 chooser CTEs + the gate partials) ──
    "q203_stream_calibrated_gate" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val binWidth = 2000L
      val thr = CorpusStats.chooseCalibratedThreshold(
        t(s, dir, "documents"), "doc_id", "text", buckets = 4096,
        binWidth = binWidth,
        positive = functions.text.qualityScore(col("text")) >= 0.8,
        targetMilli = 700)
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q203_").toString
      val rows = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)].collect().toSeq
      val input = MemoryStream[(Long, String, String)]
      val stream = input.toDF().toDF("doc_id", "source", "text")
      val ckpt = ephemeralCheckpoint("q203")
      val q = Streams.calibratedClassifierIngest(stream, "doc_id",
        "text", "source", buckets = 4096, thr, root,
        ckpt.getAbsolutePath)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(_._1 % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val report = s.read.parquet(root + "/partials")
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_accept")).as("n_accept"),
          sum(col("sum_logit")).as("sum_logit"),
          sum(col("sum_feats")).as("sum_feats"))
        .withColumn("thr_bin",
          thr.map(t => lit(t / binWidth)).getOrElse(lit(null))
            .cast("long"))
        .withColumn("thr_logit",
          thr.map(lit(_)).getOrElse(lit(null)).cast("long"))
        .select("source", "thr_bin", "thr_logit", "n_docs",
          "n_accept", "sum_logit", "sum_feats")
      materializeThenClean(s, report, root)
    }),

    // ── T7+NS: CONTINUOUS VIDEO PHASH INGEST — the modality matrix
    // completed: every media modality now has batch, incremental,
    // AND streaming dedup legs (image q172/q176/q177, audio
    // q183/q195/q196, video q180/q182/THIS). The stored index holds
    // the even generations' frame hashes (content classes 0-24);
    // every streamed video is novelMod=1-promoted to the 25-49
    // classes the store has never seen, so batch 1 is all fresh and
    // later frames can only be flagged through sealed index growth
    // (same-class streamed videos are 50 generations apart — present
    // at sf0.01, absent at sf0.001, where the all-fresh answer is
    // the correct census) ──
    "q202_stream_video_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q202_").toString
      def frames(half: org.apache.spark.sql.DataFrame) =
        Multimodal.decodePartitions[(Long, Int, Long)](
          half, Multimodal.decodeSampledVideoGridHash(2, 8, 8, 128))(
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaInt,
            org.apache.spark.sql.Encoders.scalaLong))
          .toDF("vid", "frame", "fp")
          .select((col("vid") * 8 + col("frame")).as("doc"), col("fp"))
      val gen = expr("event_id div 40") // integer floor division
      Dedup.writePhashIndex(
        frames(patternVideos(s, dir, gen % 2 === 0)).localCheckpoint(),
        root + "/idx", radius = 4, width = 64, blocks = Some(8),
        keyBlocks = 1)
      val rows = frames(
        patternVideos(s, dir, gen % 2 === 1, novelMod = 1))
        .as[(Long, Long)].collect().toSeq
      val input = MemoryStream[(Long, Long)]
      val stream = input.toDF().toDF("doc", "fp")
      val ckpt = ephemeralCheckpoint("q202")
      val q = Streams.phashIngest(stream, root + "/idx", root + "/out",
        ckpt.getAbsolutePath, radius = 4, width = 64,
        blocks = Some(8), keyBlocks = 1)
      try
        // batch r = odd generations with ((g-1)/2) % 3 = r; doc/8 =
        // the video's event id, /40 = its generation
        (0 until 3).foreach { r =>
          input.addData(rows.filter(t =>
            ((t._1 / 8 / 40 - 1) / 2) % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val res = s.read.parquet(root + "/out")
        .select(col("doc"), col("fp"), col("dup_of"), col("hamming"),
          col("is_dup"))
      materializeThenClean(s, res, root)
    }),

    // ── NS training-data: COMPONENT-AWARE SPLIT — q190 closes the
    // same-URL leakage subclass; this closes the near-dup remainder:
    // fold assignment by the CONNECTED COMPONENT over near-dup pair
    // edges (the shared at-rest pair store — q84/q133/q140/q157's
    // fifth consumer) unioned with same-canonical-url edges, so NO
    // near-duplicate pair can straddle train/eval by construction.
    // Same output shape as q190; n_rescued prices the naive fold's
    // damage. The oracle recomputes the exact dense pair set,
    // unions the canon min-edges, walks the components recursively,
    // and replays the identical fold arithmetic ──
    "q197_component_split" -> ((s, dir) =>
      Dedup.componentGroupSplit(syntheticUrlDocs(s, dir),
        "doc_id", "source", functions.urls.canonicalize(col("url")),
        nearDupPairStore(s, dir))),

    // ── NS training-data: the q121 leakage measurement RE-RUN over
    // q197's component folds — the loop closed: q121 measures
    // near-dup leakage (nonzero under the naive id fold), q197
    // prevents it by construction, THIS proves the zero is EARNED
    // (the full banded-candidate + exact-re-score machinery finds
    // nothing, and the oracle's independent exact leakage join over
    // the recursive components agrees). Per-source val populations
    // keep the answer non-degenerate ──
    "q198_component_split_leakage" -> ((s, dir) => {
      val docs = syntheticUrlDocs(s, dir)
      val grp = Dedup.componentGroups(docs, "doc_id",
        functions.urls.canonicalize(col("url")),
        nearDupPairStore(s, dir))
      val flagged = docs.join(grp, Seq("doc_id"))
        .withColumn("_q198_val",
          functions.hashes.md5Hash60(col("group").cast("string"))
            % 10 === 1)
      Dedup.splitLeakageTagged(flagged, "doc_id", "text", "_q198_val",
          shingleN = 2, k = 64, bands = 32, threshold = 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_val"),
          sum(when(col("is_leaked"), 1L).otherwise(0L)).as("n_leaked"),
          coalesce(sum(col("leak_from")), lit(0L)).as("sum_leak_from"))
    }),

    // ── NS similarity: TWO-SIDED AT-REST MARGIN MINING — the
    // CCMatrix production shape closing the margin family (dense
    // q184, indexed q187, forward-only at-rest q192/q193, THIS):
    // both sides bucket-clustered at rest, candidates from each
    // X-bucket's enumerated probe ball (bounded broadcast; the Y
    // scan pruned by ONE pushed isin), and the TRUE two-directional
    // Artetxe margin through the same marginFromScored core as
    // q184/q187 — so all four forms share one arithmetic. Plane +
    // radius literals inline in the oracle ──
    "q199_margin_two_sided" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q199_").toString
      val emb = t(s, dir, "embeddings")
      def writeStore(residue: Int, path: String): Unit =
        Layout.clusteredWrite(
          emb.filter(col("vec_id") % 2 === residue)
            .withColumn("bucket",
              vectors.hyperplaneBucketFast(col("embedding"), q97Planes)),
          path, numFiles = 8, col("bucket"))
      writeStore(0, root + "/x")
      writeStore(1, root + "/y")
      val out = Similarity.marginMineStores(s, root + "/x",
        root + "/y", q97Planes, radius = q98Radius, k = 4,
        threshold = 1.10)
      materializeThenClean(s, out, root)
    }),

    // ── T7+NS: GROWING-STORE MARGIN INGEST — q193 mined a STATIC
    // store; this gives the embedding store the standard lifecycle
    // (the q111/q177 growth convention): each micro-batch mines the
    // store AS OF its start, seals its verdicts, then appends its
    // OWN bucketed vectors as a tagged segment — so batch 2's best
    // partners can come from batch 1's appended vectors (56-60 of
    // the fixture's 250 best-partners do), which a failed append
    // surfaces as in the oracle compare ──
    "q200_stream_margin_grow" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q200_").toString
      val emb = t(s, dir, "embeddings")
      Layout.clusteredWrite(
        emb.filter(col("vec_id") % 2 === 0)
          .withColumn("bucket",
            vectors.hyperplaneBucketFast(col("embedding"), q97Planes)),
        root + "/store/emb", numFiles = 8, col("bucket"))
      val rows = emb.filter(col("vec_id") % 2 =!= 0)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      val input = MemoryStream[(Long, Seq[Float])]
      val stream = input.toDF().toDF("vec_id", "embedding")
      val ckpt = ephemeralCheckpoint("q200")
      val q = Streams.marginIngestGrowing(stream, root + "/store",
        "emb", q97Planes, q98Radius, k = 4, threshold = 1.15, root,
        ckpt.getAbsolutePath)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(t => (t._1 / 2) % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val out = s.read.parquet(root + "/partials")
        .select("src_id", "tgt_id", "cos", "margin", "accepted")
      materializeThenClean(s, out, root)
    }),

    // ── NS text quality: CALIBRATION-DRIVEN GATE — the calibrate →
    // choose → gate loop closed (q156 gates at a fixed logit 0,
    // q188 emits the reliability table a human would read; THIS
    // picks the threshold FROM the table): smallest bin edge whose
    // cumulative-from-the-top positive rate meets the stated target
    // precision (integer milli, bounded planning collect), fed
    // straight through the per-source gate — one scoring pass feeds
    // both halves. The fixture chooses DIFFERENT bins at the two
    // gate SFs (3 at sf0.001, 6 at sf0.01), so the choice
    // arithmetic itself is what the oracle verifies ──
    "q201_calibrated_gate" -> ((s, dir) =>
      CorpusStats.calibratedGateReport(t(s, dir, "documents"),
        "doc_id", "text", "source", buckets = 4096, binWidth = 2000,
        positive = functions.text.qualityScore(col("text")) >= 0.8,
        targetMilli = 700)),

    // ── NS corpus stats: PHRASE MERGE — q186's phrases APPLIED (the
    // word2vec phrases pass): greedy left-to-right non-overlapping
    // merge over the token stream, re-expressed relationally as
    // run-parity selection over candidate positions (sequential
    // semantics, zero float); per-source token savings ──
    "q191_phrase_merge" -> ((s, dir) =>
      CorpusStats.phraseMerge(t(s, dir, "documents"),
        "doc_id", "text", "source", minCount = 5, k = 20)),

    // ── NS text filtering: BLOCKLIST TAGGING — the taboo-word gate
    // (the C4-family "bad words" filter) as ONE Aho-Corasick pass
    // per document, cost independent of the pattern count (the
    // per-pattern contains chain the oracle replays is O(P·len) —
    // fine for the oracle's 8 literals, three orders worse at the
    // 10^4-entry production lists the automaton exists for). Narrow
    // map, zero shuffle; includes a never-matching pattern so the
    // no-hit path gates too ──
    "q185_blocklist_tags" -> ((s, dir) =>
      operators.Blocklist.tag(t(s, dir, "documents"),
        "doc_id", "text", q185Patterns)),

    // ── NS corpus stats: PMI COLLOCATIONS — adjacent-pair pointwise
    // mutual information, the phrase-promotion signal a tokenizer/
    // vocabulary pass ranks by: token-keyed aggregates riding the
    // tokenize scan (bodies never shuffle), minCount prunes before
    // the vocabulary joins, totals broadcast, top-k as
    // TakeOrderedAndProject ──
    "q186_pmi_collocations" -> ((s, dir) =>
      CorpusStats.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5, k = 20)),

    // ── T7+NS: STREAMING TEMPERATURE MIX — q124's recipe applied at
    // ingest (the mixing family's lifecycle completed: batch q124,
    // up-sampling q171, streaming THIS). Cuts are the STATIC recipe
    // from the at-rest corpus; selection is row-local and
    // deterministic, so per-(source, cut) integer partials are
    // additive across micro-batches: sealed batchId segments,
    // exactly-once under retry, and the drained report equals batch
    // q124 bit for bit — the SAME oracle gates both forms ──
    "q174_stream_mix" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q174_").toString
      val docs = t(s, dir, "documents")
      val cuts = Relational.temperatureMixCuts(docs, "source", "text",
        budgetTokens = q124Budget)
      val rows = docs.select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)].collect().toSeq
      val input = MemoryStream[(Long, String, String)]
      val stream = input.toDF().toDF("doc_id", "source", "text")
      val ckpt = ephemeralCheckpoint("q174")
      val q = Streams.mixIngest(stream, cuts, "doc_id", "text",
        "source", root, ckpt.getAbsolutePath)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(_._1 % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val report = s.read.parquet(root + "/partials")
        .groupBy(col("source"), col("mix_cut"))
        .agg(sum(col("n_kept")).as("n_kept"),
          sum(col("kept_tokens")).as("kept_tokens"))
        .select(col("source"), col("mix_cut").as("cut"),
          col("n_kept"), col("kept_tokens"))
      materializeThenClean(s, report, root)
    }),

    // ── NS multimodal dedup, the INCREMENTAL form: mark a batch of
    // images against an AT-REST fingerprint index (q109's ingest
    // convention on the q172 modality): the index stores the
    // pigeonhole key table bkey-sorted; the batch joins its own keys
    // against it — batch-sized shuffle, corpus touched only through
    // the index, recall 1, exact Hamming verdicts with closest-
    // stored-doc attribution. The residue filters below cannot push
    // through the opaque encode seam (each half re-pays the fixture
    // encode — fixture plumbing only); a production ingest filters
    // ids BEFORE any codec work.
    // The oracle rebuilds both halves' hashes arithmetically and
    // takes each batch image's (hamming, id)-min stored neighbor ──
    "q176_phash_ingest" -> ((s, dir) => {
      import s.implicits._
      // the residue filter goes BEFORE the encode seam and the tiny
      // (doc, fp) frame is checkpointed: each half pays its codec
      // pass exactly once — unfiltered/uncached, the index build,
      // the key derivation, and the mark join each re-ran the full
      // 12.5k-image encode (measured 8.5 s vs ~3 s at sf0.1)
      def fpOf(residue: Int) = Multimodal.decodePartitions[(Long, Long)](
        patternPngs(s, dir, col("event_id") % 16 === residue),
        Multimodal.decodeGridHash(8, 8, 128))
        .toDF("doc", "fp")
        .localCheckpoint()
      val root = java.nio.file.Files
        .createTempDirectory("graft_q176_").toString
      Dedup.writePhashIndex(fpOf(0), root + "/idx",
        radius = 4, width = 64, blocks = Some(8), keyBlocks = 1)
      val res = Dedup.incrementalPhashAgainst(s, fpOf(8), root + "/idx",
        radius = 4, width = 64, blocks = Some(8), keyBlocks = 1)
      materializeThenClean(s, res, root)
    }),

    // ── T7+NS: CONTINUOUS IMAGE PHASH INGEST — the q111 lifecycle
    // completing the image-dedup family (batch q172 / incremental
    // q176 / streaming THIS): the stored index holds the q176 half;
    // the streamed images carry SHIFTED base patterns (content the
    // store has never seen — min cross-distance 12 > radius), so
    // batch 1 is all fresh and batches 2/3 can ONLY be flagged if
    // the index grew between batches — a failed append surfaces as
    // dup counts collapsing in the oracle compare, and cross-batch
    // dup_of ids pin WHICH earlier image each one resolved to ──
    "q177_stream_phash_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q177_").toString
      // index build on the PARENT session (corpus-scale); fp frames
      // checkpointed — the q176 single-codec-pass rationale
      val idxFp = Multimodal.decodePartitions[(Long, Long)](
        patternPngs(s, dir, col("event_id") % 16 === 0),
        Multimodal.decodeGridHash(8, 8, 128))
        .toDF("doc", "fp").localCheckpoint()
      Dedup.writePhashIndex(idxFp, root + "/idx",
        radius = 4, width = 64, blocks = Some(8), keyBlocks = 1)
      val rows = Multimodal.decodePartitions[(Long, Long)](
        patternPngs(s, dir, col("event_id") % 16 === 8, patShift = 1),
        Multimodal.decodeGridHash(8, 8, 128))
        .collect().toSeq
      val input = MemoryStream[(Long, Long)]
      val stream = input.toDF().toDF("doc", "fp")
      val ckpt = ephemeralCheckpoint("q177")
      val q = Streams.phashIngest(stream, root + "/idx", root + "/out",
        ckpt.getAbsolutePath, radius = 4, width = 64,
        blocks = Some(8), keyBlocks = 1)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(t => (t._1 / 16) % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val res = s.read.parquet(root + "/out")
        .select(col("doc"), col("fp"), col("dup_of"), col("hamming"),
          col("is_dup"))
      materializeThenClean(s, res, root)
    }),

    // ── NS multimodal governance: IMAGE DUP KEEPER — the q44
    // resolution step on the q172 pair set, closing the modality's
    // governance loop (pairs → groups → keeper): large-star/
    // small-star connected components over the Hamming near-dup
    // pairs, every image labeled with its group's min id (itself
    // when unique). Same O(log n)-round CC machinery, same
    // recursive-reach oracle shape as the text form — only the edge
    // set (decoded-pixel fingerprints) is new ──
    "q178_image_dup_keeper" -> ((s, dir) => {
      val (fp, pairs) = phashPairs(s, dir)
      val cc = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
        .toDF("doc", "keeper")
      fp.select(col("doc"))
        .join(cc, Seq("doc"), "left")
        .select(col("doc"),
          coalesce(col("keeper"), col("doc")).as("group_keeper"))
    }),

    // ── NS multimodal dedup: QUALITY-RULE IMAGE KEEPER — q178
    // resolves groups to min-id; the curator's rule is quality-argmax
    // (keep the best copy, not the first): the SAME
    // Dedup.resolveDuplicates the text keeper (q84) runs, so the two
    // modalities cannot drift on tie/argmax semantics. Quality here
    // is decoded bright-cell mass — popcount of the grid hash, bit i
    // = cell i decoded bright — a number measured from real pixels
    // that the oracle rebuilds from the generation arithmetic alone
    // (the q172 proof pattern); a production corpus passes
    // resolution/bytes/sharpness in the same column ──
    "q179_image_quality_keeper" -> ((s, dir) => {
      val (fp, pairs) = phashPairs(s, dir)
      val docs = fp.withColumn("bright_cells",
        bit_count(col("fp")).cast("long"))
      Dedup.resolveDuplicates(docs, pairs, "doc", "bright_cells")
        .select(col("doc"), col("bright_cells"))
    }),

    // ── NS multimodal dedup: VIDEO perceptual near-dup — the third
    // leg of the image family (batch q172, incremental q176,
    // streaming q177, THIS at the video grain): every 2nd frame of
    // each GVID container decodes to a 64-bit grid hash
    // (decodeSampledVideoGridHash — frame seeking by length prefix,
    // decode cost tracks sampled frames), the FRAME-grain hashes run
    // the SAME recall-1 pigeonhole blocking as q172
    // (hammingNearDupPairs — never all-pairs), and frame pairs
    // aggregate to video pairs by MIN Hamming: a clip or re-encode
    // shares SOME frames, and one matching frame pair is the dup
    // signal. Frame ids pack as vid*8 + frame (nf = 5 < 8, lossless)
    // so the blocking core is reused unchanged; the oracle rebuilds
    // every frame hash from the generation arithmetic (the q172
    // proof pattern on the q155 container) ──
    "q180_video_phash_dedup" -> ((s, dir) => videoPhashPairs(s, dir)._2),

    // ── NS dedup: URL-LEVEL DEDUP WITH A KEEPER — the CommonCrawl
    // re-crawl step: group documents by CANONICAL url (q110's
    // canonicalization — utm noise and fragments collapse), keep the
    // longest document per group (ties to the smallest id), report
    // kept/dropped mass per source. The rank rides a
    // canon-partitioned window — ONE hash shuffle on the canonical
    // url, no global window, no driver materialization; the report
    // needs every row's verdict (dropped mass too), so no rank-k
    // pre-prune applies ──
    "q175_url_dedup_keeper" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canon"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      syntheticUrlDocs(s, dir)
        .withColumn("rk", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rk") === 1, col("n_chars").cast("long"))
            .otherwise(0L)).as("chars_kept"),
          sum(when(col("rk") > 1, col("n_chars").cast("long"))
            .otherwise(0L)).as("chars_dropped"))
    }),

    // ── NS mixing: DOMAIN REWEIGHTING BY EXCESS LOSS — one DoReMi
    // multiplicative-weights step with static unigram models: every
    // doc scored under the reference-slice model (doc_id % 7 < 2)
    // and the full-corpus model, per-source clamped excess in exact
    // integer micro units, weights normalized by floor division —
    // the domains the reference slice can't model get the budget.
    // ONE token aggregate builds both models, one shuffle-free
    // scoring scan, one source-grain aggregate (domainExcessWeights
    // scaladoc) ──
    "q173_domain_reweight" -> ((s, dir) =>
      CorpusStats.domainExcessWeights(t(s, dir, "documents"),
        "source", "doc_id", "text", col("doc_id") % 7 < 2,
        minCount = 3)),

    // ── NS multimodal dedup: VIDEO INGEST — q176's incremental
    // marking at the video grain, closing the video family's
    // lifecycle next to batch q180: the even-generation half's frame
    // hashes land in the SAME at-rest phash index machinery
    // (writePhashIndex on frame-packed ids), the odd-generation half
    // marks against it frame-by-frame (incrementalPhashAgainst —
    // batch-sized shuffle, corpus touched only through the index,
    // pushed-key pruning once the store is big), and frame verdicts
    // aggregate to video verdicts by (min hamming, min stored frame)
    // — equal to the global min over all (frame, stored) pairs, which
    // is exactly what the oracle replays. One in seven odd
    // generations carries a NOVEL pattern (25..49) the index half
    // never produced, so real misses gate the left join ──
    "q182_video_phash_ingest" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q182_").toString
      def frames(half: org.apache.spark.sql.DataFrame) =
        Multimodal.decodePartitions[(Long, Int, Long)](
          half, Multimodal.decodeSampledVideoGridHash(2, 8, 8, 128))(
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaInt,
            org.apache.spark.sql.Encoders.scalaLong))
          .toDF("vid", "frame", "fp")
          .select((col("vid") * 8 + col("frame")).as("doc"), col("fp"))
      val gen = expr("event_id div 40") // integer floor division
      Phases.time("index_build") {
        Dedup.writePhashIndex(
          frames(patternVideos(s, dir, gen % 2 === 0, novelMod = 7)),
          root + "/idx", radius = 4, width = 64, blocks = Some(8),
          keyBlocks = 1)
      }
      val marked = Dedup.incrementalPhashAgainst(s,
        frames(patternVideos(s, dir, gen % 2 === 1, novelMod = 7)),
        root + "/idx", radius = 4, width = 64, blocks = Some(8),
        keyBlocks = 1)
      val out = marked
        .groupBy(expr("doc div 8").as("vid"))
        .agg(min(when(col("is_dup"),
          struct(col("hamming"), col("dup_of")))).as("_best"))
        .select(col("vid"),
          expr("_best.dup_of div 8").as("dup_of_vid"),
          col("_best.hamming").as("min_hamming"),
          col("_best").isNotNull.as("is_dup"))
      materializeThenClean(s, out, root)
    }),

    // ── NS mixing: the DoReMi LOOP ITERATED — q173 is one
    // multiplicative-weights step; the recipe is reweight → resample
    // → retrain-proxy. Step 1: q173's weights over the corpus.
    // Step 2: Gumbel-top-n resample ∝ the DOMAIN weight (the q159
    // sampler with log-weight keys — sources the reference can
    // already model, weight 0, drop out entirely). Step 3: the SAME
    // reweight step over the sample — the next iterate's weights,
    // showing how one resample moves the excess. Driver-side
    // orchestration in the BPE convention: two bounded steps, all
    // counting distributed; the 400-row sample is the only
    // materialization between them. The oracle replays both steps as
    // the SAME chained CTEs (domainExcessCtes twice around the
    // sampling CTE) ──
    "q181_doremi_iterate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = col("doc_id") % 7 < 2
      val w1 = CorpusStats.domainExcessWeights(docs, "source",
          "doc_id", "text", ref, minCount = 3)
        .select(col("source"), col("weight_milli"))
      // log-weight Gumbel keys: top-n sampling proportional to the
      // domain weight; integer micro units end-to-end (the q159 key
      // arithmetic), weight-0 sources excluded before the log
      val weighted = docs.join(broadcast(w1), "source")
        .filter(col("weight_milli") > 0)
        .withColumn("wt_micros",
          (round(log(col("weight_milli").cast("double")), 6)
            .cast("decimal(20,6)") * 1000000).cast("long"))
      val sampled = CorpusStats
        .importanceSample(weighted, "doc_id", "wt_micros", n = 400)
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint() // bounded: 400 rows pin the sample once
      CorpusStats.domainExcessWeights(sampled, "source", "doc_id",
        "text", ref, minCount = 3)
    }),

    // ── NS: SELF-DEDUP SURGERY — the ExactSubstr TRANSFORM proper
    // (Lee et al. 2022: the deduplicated corpus, not just its
    // price): every affected doc's kept tokens re-joined in order
    // and md5-60 hashed, with the q166 report's exact islands (one
    // match core, one island walk, one surgery core shared with
    // q164/q169 — report and surgery cannot disagree). The oracle
    // rebuilds the cleaned strings from scratch, so the hash match
    // proves the dedup token for token ──
    "q170_selfdup_corpus" -> ((s, dir) =>
      Dedup.selfDupExcisedDocs(t(s, dir, "documents"), "doc_id",
        "text", n = 8)),

    // ── NS: EPOCH-SHUFFLE SHARD MANIFEST — the "reshuffle the
    // dataset every epoch" primitive: shard = top 4 bits of an
    // epoch-SALTED md5-60 key, so the permutation is deterministic,
    // seedable, epoch-varying, and balanced in expectation with NO
    // global sort (at scale the reshuffle write is one hash-partition
    // shuffle on the key prefix). The report proves all three
    // properties at once: per shard, both epochs' doc counts and
    // token mass (balance), plus how many docs KEPT their shard
    // across epochs (≈1/16 if the permutations are independent —
    // epoch-variation made visible). Exact integer arithmetic ──
    "q162_epoch_shards" -> ((s, dir) => {
      def shardOf(epoch: Int) =
        shiftright(hashes.md5Hash60(concat(col("doc_id").cast("string"),
          lit(s":epoch$epoch"))), 56)
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"),
          size(text.tokens(col("text"))).cast("long").as("n_tok"),
          shardOf(1).as("shard_e1"), shardOf(2).as("shard_e2"))
      val e1 = keyed.groupBy(col("shard_e1").as("shard"))
        .agg(count(lit(1)).as("n_docs_e1"),
          sum(col("n_tok")).as("tokens_e1"),
          sum(when(col("shard_e1") === col("shard_e2"), 1L)
            .otherwise(0L)).as("n_kept"))
      val e2 = keyed.groupBy(col("shard_e2").as("shard"))
        .agg(count(lit(1)).as("n_docs_e2"),
          sum(col("n_tok")).as("tokens_e2"))
      e1.join(e2, Seq("shard"), "full")
        .select(col("shard"),
          coalesce(col("n_docs_e1"), lit(0L)).as("n_docs_e1"),
          coalesce(col("tokens_e1"), lit(0L)).as("tokens_e1"),
          coalesce(col("n_docs_e2"), lit(0L)).as("n_docs_e2"),
          coalesce(col("tokens_e2"), lit(0L)).as("tokens_e2"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    }),

    // ── NS: DSIR's SECOND HALF — Gumbel-top-k importance RESAMPLING
    // of the q113 log-weights (estimate weights, then sample the
    // training subset ∝ exp(λ) — the actual DSIR recipe). Keys are
    // scan-time integer micros (λ + 6-decimal-rounded Gumbel from a
    // deterministic md5 clock); selection is TakeOrdered, never a
    // global sort. The oracle recomputes the weights via the SAME
    // shared CTE chain as q113 and replays the clock exactly ──
    "q159_importance_resample" -> ((s, dir) => {
      val w = CorpusStats.dsirWeights(t(s, dir, "documents"),
        "text", col("lang") === "en", buckets = 1024)
      CorpusStats.importanceSample(w, "doc_id", "wt_micros", n = 200)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(size(text.tokens(col("text"))).cast("long"))
            .as("tokens_sampled"),
          min(col("key_micros")).as("min_key_micros"),
          sum(col("key_micros")).as("sum_key_micros"))
    }),

    // ── NS streaming: the q159 reservoir kept LIVE — Gumbel keys
    // make top-n a semilattice (top-n of a union = top-n of partial
    // top-ns), so each micro-batch lands only ITS top-200 as a
    // sealed segment and the live sample is one exact re-merge. The
    // λ model is STATIC (DSIR's production shape: estimated once on
    // the reference corpus, shipped to the stream); oracle shared
    // verbatim with q159 ──
    "q160_stream_resample" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q160_").toString
      val model = CorpusStats.dsirModelMicros(t(s, dir, "documents"),
        "text", col("lang") === "en", buckets = 1024)
      val rows = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)].collect().toSeq
      val input = MemoryStream[(Long, String, String)]
      val stream = input.toDF().toDF("doc_id", "source", "text")
      val ckpt = ephemeralCheckpoint("q160")
      val q = Streams.resampleIngest(stream, model, "doc_id", "text",
        "source", n = 200, root, ckpt.getAbsolutePath)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(_._1 % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val report = s.read.parquet(root + "/partials")
        .orderBy(col("key_micros").desc, col("doc_id"))
        .limit(200)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("n_tok")).as("tokens_sampled"),
          min(col("key_micros")).as("min_key_micros"),
          sum(col("key_micros")).as("sum_key_micros"))
      materializeThenClean(s, report, root)
    }),

    // ── §4.2's last extension-ladder rung: the OPT-IN optimizer
    // rewrite (plans.AnnTopKToLshPrune) that turns a literal-query
    // EXACT cosine top-k — ORDER BY cosine_sim(emb, lit) DESC LIMIT k
    // — into the LSH bucket-pruned plan. The query below builds the
    // plain exact top-k; the rule inserts the multi-table bucket
    // filter; the oracle mirrors the PRUNED plan from the same seeded
    // plane literals — so the hash match proves both that the rewrite
    // fired (a require asserts it too) and that it computes exactly
    // the candidate-restricted answer. At 100 TB this is the rewrite
    // that turns an n-cosine full scan per query into a candidate
    // scan of ~T·n/2^planes rows ──
    "q93_ann_rewrite" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // one-row planning lookup: the query vector as a plan-time
      // literal (the rule's firing condition)
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0)
      val q = typedLit(qv)
      graft.plans.GraftExtensions.register(s)
      GraftSession.withConf(s,
          graft.plans.AnnTopKToLshPrune.EnabledKey -> "true") {
        val exactForm = emb.filter(col("vec_id") =!= 0)
          .orderBy(vectors.cosineFast(col("embedding"), q).desc,
            col("vec_id"))
          .limit(10)
          .select(col("vec_id"),
            round(vectors.cosineFast(col("embedding"), q), 6).as("cos"))
        val optimized = exactForm.queryExecution.optimizedPlan
        require(optimized.exists {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition.exists(
              _.isInstanceOf[org.apache.spark.sql.graft.HyperplaneBuckets])
          case _ => false
        }, "AnnTopKToLshPrune did not fire on the q93 plan")
        // pin the rewritten plan, then RESTORE the caller's conf: the
        // opt-in must not leak into queries materialized later;
        // downstream re-optimization (the verify write path builds a
        // fresh QueryExecution) is a no-op on the already-pruned plan
        org.apache.spark.sql.graft.Bridge.ofRows(s, optimized)
      }
    }),

    // ── J5 options parity: FORWARD as-of with TOLERANCE — "the next
    // click within 24 h after each purchase", the two knobs every
    // production as-of user reaches for (pandas merge_asof's
    // direction/tolerance). Same AsOfJoinExec merge, right side
    // sorted (ts, value DESC) so time ties resolve to max value with
    // zero buffering; the tolerance re-check nulls far candidates
    // without dropping rows. Oracle: DuckDB ASOF with the reversed
    // inequality + a CASE for the tolerance window ──
    "q94_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      Relational.asOfJoinNative(purchases, clicks, "user_id", "ts", "ts",
          "value", "next_click_value",
          direction = "forward", tolerance = 24L * 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("next_click_value"))
    }),

    // ── RECALL-PINNED multi-table ANN top-k — the measured answer to
    // ProbeRecall's q54 finding (single-table top-k recall 6.6% on
    // weakly-similar vectors): candidates from bucket collision in
    // ANY of T tables, T sized by lshTablesForRecall so every
    // neighbor at cos ≥ 0.9 is found with ≤1% miss. Same derivation
    // conventions as q54 (planes) and q62 (tables); the oracle
    // mirrors the identical candidate set from the same seeded
    // literals ──
    "q95_ann_topk_multi" -> ((s, dir) =>
      Similarity.lshTopKMultiAuto(
        t(s, dir, "embeddings"), seed = 95L, dim = embDim, k = 5,
        simFloor = 0.9)),

    // ── ANN AT REST: the LSH bucket as a STORAGE layout key — the
    // cost-model half of q93's story. A bucket filter computed per
    // row costs MORE flops than the cosine it avoids (T·P·dim vs
    // 3·dim), so the prune only truly wins when it prunes IO: here
    // the corpus is written range-clustered on a STORED bucket
    // column, and the query's bucket predicate skips whole files via
    // parquet min/max stats (LayoutSpec measures the pruning). At
    // 100 TB this is the similarity-search shape: the scan itself
    // reads ~1/2^planes of the corpus, and no cosine — not even a
    // bucket hash — is computed for pruned files. The write is
    // billed inside the query, the q76/q82 convention ──
    "q97_ann_clustered_scan" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q97_").toString
      val scratch = root + "/embeddings"
      val emb = t(s, dir, "embeddings")
      Layout.clusteredWrite(
        emb.withColumn("bucket",
          vectors.hyperplaneBucketFast(col("embedding"), q97Planes)),
        scratch, numFiles = 8, col("bucket"))
      // one-row planning lookup (q93's convention); the query-side
      // bucket goes through the SAME kernel as the stored column
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0)
      val q = typedLit(qv)
      val qb = s.range(1)
        .select(vectors.hyperplaneBucketFast(q, q97Planes))
        .head.getLong(0)
      val topk = s.read.parquet(scratch)
        .filter(col("bucket") === lit(qb) && col("vec_id") =!= 0)
        .orderBy(vectors.cosineFast(col("embedding"), q).desc,
          col("vec_id"))
        .limit(5)
        .select(col("vec_id"),
          round(vectors.cosineFast(col("embedding"), q), 6).as("cos"))
      materializeThenClean(s, topk, root)
    }),

    // ── MULTI-PROBE over the SAME layout (Lv et al.): the radius is
    // DERIVED from a recall contract, not hardcoded —
    // probeRadiusForRecall(4 planes, floor 0.9, miss 0.15) = 1, so
    // the scan reads the query bucket plus its 4 one-bit-flip
    // neighbors — 5 of 16 buckets — admitting neighbors that landed
    // one hyperplane away. The recall knob that costs files, not
    // tables or layout rewrites; ProbeRecall measures the recall
    // step radius 0 → 1 → 2, RecallSpec pins the planted-neighbor
    // contract in CI ──
    "q98_ann_multiprobe" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q98_").toString
      val scratch = root + "/embeddings"
      val emb = t(s, dir, "embeddings")
      Layout.clusteredWrite(
        emb.withColumn("bucket",
          vectors.hyperplaneBucketFast(col("embedding"), q97Planes)),
        scratch, numFiles = 8, col("bucket"))
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0)
      val q = typedLit(qv)
      val qb = s.range(1)
        .select(vectors.hyperplaneBucketFast(q, q97Planes))
        .head.getLong(0)
      val probes = Similarity.probeBuckets(qb, q97Planes.size, q98Radius)
      val topk = s.read.parquet(scratch)
        .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= 0)
        .orderBy(vectors.cosineFast(col("embedding"), q).desc,
          col("vec_id"))
        .limit(5)
        .select(col("vec_id"),
          round(vectors.cosineFast(col("embedding"), q), 6).as("cos"))
      materializeThenClean(s, topk, root)
    }),

    // ── S1 THROUGH THE ORACLE GATE: the DataSource V2 broker
    // connector end-to-end. Fixture events are published into the
    // injected broker (a driver publish loop over a bounded 1/20th
    // slice — the producer seam, exactly the reference's loop), then
    // read BACK through spark.read.format(BrokerSource) — one input
    // partition per topic — parsed, and aggregated per topic with an
    // order-sensitive checksum. The checksum binds payload fidelity
    // AND the per-topic seq contract through the connector; the
    // oracle reproduces seq as ROW_NUMBER in publish order ──
    "q99_connector_roundtrip" -> ((s, dir) => {
      import graft.sources.connector.BrokerRegistry
      val slice = t(s, dir, "events")
        .filter(col("event_id") % 20 === 0)
        .select(col("event_type"), col("event_id"))
        .orderBy(col("event_type"), col("event_id"))
        .collect()
      BrokerRegistry.clear()
      slice.foreach { r =>
        BrokerRegistry.publish(s"events-${r.getString(0)}",
          r.getLong(1).toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s.read.format("graft.sources.connector.BrokerSource").load()
        .select(col("topic"), col("seq"),
          col("payload").cast("string").cast("long").as("eid"))
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n_msgs"),
          sum((col("seq") + 1) * col("eid")).as("order_checksum"))
    }),

    // ── INT8 EMBEDDING QUANTIZATION — the 4×-smaller at-rest format
    // a 100 TB embedding corpus actually scans (symmetric per-vector
    // absmax int8, the standard public scheme). The top-k runs over
    // DEQUANTIZED vectors and the exact cosine rides along in the
    // output, so the quantization drift is IN THE DATA the oracle
    // hashes — both engines reproduce the identical floor(x/s + 0.5)
    // arithmetic (pinned instead of round() half-convention
    // roulette) ──
    "q100_quantized_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val withQ = emb
        .withColumn("scale", vectors.quantizeScale(col("embedding")))
        .withColumn("deq", vectors.dequantizeInt8(
          vectors.quantizeInt8(col("embedding"), col("scale")),
          col("scale")))
      val q = withQ.filter(col("vec_id") === 0)
        .select(col("deq").as("q_deq"), col("embedding").as("q_emb"))
      withQ.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_q", vectors.cosineFast(col("deq"), col("q_deq")))
        .withColumn("cos_exact",
          vectors.cosineFast(col("embedding"), col("q_emb")))
        .orderBy(col("cos_q").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("cos_q"), 6).as("cos_q"),
          round(col("cos_exact"), 6).as("cos_exact"))
    }),

    // ── SNAPSHOT GENERATION DIFF — the operational story the
    // reference's backup tooling implies but never implements: which
    // topics appeared, vanished, or changed message count between two
    // captures (the decision input before a selective restore).
    // Captures are simulated as two overlapping event subsets; the
    // diff is CatalogOps.snapshotDiff's full-outer + status tag ──
    "q96_snapshot_diff" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      CatalogOps.snapshotDiff(
        topicCountsFromEvents(ev.filter(col("event_id") % 7 =!= 0)),
        topicCountsFromEvents(ev.filter(col("event_id") % 5 =!= 0)))
    }),

    // ── THE ANN-AT-REST CAPSTONE: every rung of the similarity story
    // composed into the one stored shape a 100 TB embedding corpus
    // actually ships — (bucket, int8 codes, scale), 4× smaller than
    // float32, range-clustered on the STORED bucket column (q97's
    // layout), read with a recall-DERIVED multi-probe Hamming ball
    // (q98's knob via probeRadiusForRecall: floor 0.9, miss 0.15 →
    // radius 1 here), ranked on DEQUANTIZED codes (q100's pinned
    // floor(x/s + 0.5) arithmetic), then exact-re-ranked from full
    // precision for the final k — a bounded 20-id point-fetch against
    // the primary store, pruned by parquet vec_id stats. The index
    // path reads only the probed buckets' files and only int8 codes:
    // neither a full corpus pass nor a float32 byte until the
    // 20-row re-rank. RecallSpec pins the contract; the oracle
    // reproduces shortlist AND re-rank from the same literals, so the
    // hash match proves the whole composition ──
    "q101_ann_at_rest" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q101_").toString
      val scratch = root + "/embeddings_at_rest"
      val emb = t(s, dir, "embeddings")
      val stored = emb
        .withColumn("scale", vectors.quantizeScale(col("embedding")))
        .select(col("vec_id"),
          vectors.hyperplaneBucketFast(col("embedding"), q97Planes)
            .as("bucket"),
          vectors.quantizeInt8(col("embedding"), col("scale"))
            .as("codes"),
          col("scale"))
      Phases.time("index_build") {
        Layout.clusteredWrite(stored, scratch, numFiles = 8, col("bucket"))
      }
      // one-row planning lookups (the q97 convention); the query-side
      // bucket goes through the SAME kernel as the stored column
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0)
      val q = typedLit(qv)
      val qb = s.range(1)
        .select(vectors.hyperplaneBucketFast(q, q97Planes))
        .head.getLong(0)
      val probes = Similarity.probeBuckets(qb, q97Planes.size, q98Radius)
      val shortlist = s.read.parquet(scratch)
        .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= 0)
        .withColumn("cos_q", vectors.cosineFast(
          vectors.dequantizeInt8(col("codes"), col("scale")), q))
        .orderBy(col("cos_q").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"), col("cos_q"))
      // bounded 20-row planning collect (q93/q97 convention); the
      // index scratch is deleted the moment the shortlist is out —
      // the re-rank below touches only the primary store
      val ids =
        try Phases.time("probe")(shortlist.collect())
        finally Scratch.deleteRecursively(new java.io.File(root))
      val sl = s.createDataFrame(
        java.util.Arrays.asList(ids: _*), shortlist.schema)
      emb
        .filter(col("vec_id")
          .isin(ids.map(r => r.getLong(0): Any).toSeq: _*))
        .join(broadcast(sl), "vec_id")
        .withColumn("cos_exact", vectors.cosineFast(col("embedding"), q))
        .orderBy(col("cos_exact").desc, col("vec_id"))
        .limit(5)
        .select(col("vec_id"), round(col("cos_q"), 6).as("cos_q"),
          round(col("cos_exact"), 6).as("cos_exact"))
    }),

    // ── REAL AUDIO DECODE — q92's convention on the other JDK-native
    // codec family (javax.sound.sampled, WAV/PCM): deterministic
    // per-event sample waveforms are ENCODED into real RIFF/WAVE
    // containers per task, then DECODED back frame-by-frame; the
    // output statistics (frame count, rate, channels, mean
    // |amplitude|) are measured from decoded samples, while the
    // oracle predicts them from the generation arithmetic alone — a
    // hash match proves an actual decode ran. Same repartition-ids-
    // before-codec plan shape as q92 (codec cost scales with cores,
    // not input splits); compressed formats (mp3/flac) would plug a
    // codec library into the same decodePartitions seam ──
    "q102_audio_stats" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.decodePartitions[(Long, Array[Byte])](
        t(s, dir, "events").select(col("event_id"))
          .repartition(s.sparkContext.defaultParallelism),
        rows => {
          val enc = new graft.operators.WavEncoder() // once per task
          rows.map { r =>
            val id = r.getLong(0)
            val n = 64 + (id % 64L).toInt
            val samples = Array.tabulate(n)(i =>
              ((((id + i) % 256L).toInt - 128) * 256).toShort)
            (id, enc.encode(samples, 8000))
          }
        }).toDF("event_id", "payload")
      Multimodal.decodePartitions[graft.operators.AudioStats](
        media, Multimodal.decodeAudioStats)
        .toDF("event_id", "n_samples", "sample_rate", "channels",
          "mean_abs")
    }),

    // ── INCREMENTAL at-rest layout — the missing half of the q97/
    // q101 storage story: a 100 TB embedding store GROWS, and
    // rewriting it per ingest batch is not a plan. clusteredAppend
    // lands each batch as its own range-clustered `seg=` directory,
    // so the probe-ball predicate still prunes whole files WITHIN
    // every segment (per-segment parquet stats) and the existing
    // store is never touched. Two segments here — the base corpus
    // and an "ingest batch" — and the probe top-k over the segmented
    // store must equal q98's single-segment answer exactly: layout
    // is a performance property, never a correctness one, and the
    // shared oracle SQL is the proof ──
    "q103_ann_incremental" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q103_").toString
      val store = root + "/embeddings_segmented"
      val emb = t(s, dir, "embeddings")
      def bucketed(f: DataFrame) = f.withColumn("bucket",
        vectors.hyperplaneBucketFast(col("embedding"), q97Planes))
      Layout.clusteredAppend(
        bucketed(emb.filter(col("vec_id") % 2 === 0)), store, "base",
        numFiles = 8, col("bucket"))
      Layout.clusteredAppend(
        bucketed(emb.filter(col("vec_id") % 2 =!= 0)), store, "ingest1",
        numFiles = 4, col("bucket"))
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0)
      val q = typedLit(qv)
      val qb = s.range(1)
        .select(vectors.hyperplaneBucketFast(q, q97Planes))
        .head.getLong(0)
      val probes = Similarity.probeBuckets(qb, q97Planes.size, q98Radius)
      val topk = s.read.parquet(store)
        .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= 0)
        .orderBy(vectors.cosineFast(col("embedding"), q).desc,
          col("vec_id"))
        .limit(5)
        .select(col("vec_id"),
          round(vectors.cosineFast(col("embedding"), q), 6).as("cos"))
      materializeThenClean(s, topk, root)
    }),

    // ── INDEX SELECTION — q101's at-rest composition chosen by the
    // OPTIMIZER instead of hand-written driver code: the query below
    // is a PLAIN exact cosine top-k over the primary embeddings
    // parquet; registering the quantized store (AnnIndex) is the
    // opt-in that lets AnnTopKToIndexScan plan the probe-ball-pruned
    // dequantized shortlist as a broadcast semi-join under the user's
    // exact re-rank, with the vec_id filter transplanted into the
    // index scan. servedBy() asserts the plan actually reads the
    // store — a silent fallback to the exact full scan would still be
    // correct but is a 100 TB cost bug, so it fails loudly here. The
    // oracle mirrors the full quantize→bucket→probe→shortlist→re-rank
    // composition: the hash match proves the rule-driven plan computes
    // EXACTLY the hand-composed q101 navigation ──
    "q104_ann_index_rule" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      val root = java.nio.file.Files
        .createTempDirectory("graft_q104_").toString
      val store = root + "/embeddings_index"
      val emb = t(s, dir, "embeddings")
      val stored = emb
        .withColumn("scale", vectors.quantizeScale(col("embedding")))
        .select(col("vec_id"),
          vectors.hyperplaneBucketFast(col("embedding"), q97Planes)
            .as("bucket"),
          vectors.quantizeInt8(col("embedding"), col("scale"))
            .as("codes"),
          col("scale"))
      Phases.time("index_build") {
        Layout.clusteredWrite(stored, store, numFiles = 8, col("bucket"))
      }
      // persist the metadata WITH the store, then adopt it the way a
      // fresh session would (save → registerFrom) — the oracle gate
      // covers the persisted lifecycle, not just in-memory registration
      graft.plans.AnnIndex.save(s, graft.plans.AnnIndex.Meta(
        name = "q104", primaryPath = s"$dir/embeddings.parquet",
        indexPath = store, idCol = "vec_id", embCol = "embedding",
        bucketCol = "bucket", codesCol = "codes", scaleCol = "scale",
        planesSeed = 97L, nPlanes = q97Planes.size, dim = embDim,
        radius = q98Radius, shortlist = 20))
      graft.plans.AnnIndex.registerFrom(s, store)
      try {
        val qv = emb.filter(col("vec_id") === 0)
          .select("embedding").head.getSeq[Float](0)
        val q = typedLit(qv)
        val res = s.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id") =!= 0)
          .orderBy(vectors.cosineFast(col("embedding"), q).desc,
            col("vec_id"))
          .limit(5)
          .select(col("vec_id"),
            round(vectors.cosineFast(col("embedding"), q), 6).as("cos"))
        require(graft.plans.AnnIndex.servedBy(res, store),
          "q104: registered index did not serve the top-k")
        Phases.time("probe")(materializeThenClean(s, res, root))
      } finally graft.plans.AnnIndex.unregister(s, "q104")
    }),

    // ── NS line-level boilerplate dedup (the CCNet/C4 paragraph
    // cut): injected nav/footer lines cross the df threshold and are
    // stripped from every document; a doc's own body line survives
    // unless the fixture's exact-dup groups push it over maxDf too
    // (the oracle mirrors whatever the threshold decides). The
    // corpus never shuffles: support agg → one broadcast hot row →
    // per-row array filter (Dedup.stripHotLines scaladoc) ──
    "q105_line_dedup" -> ((s, dir) => {
      val injected = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(lit(q105NavLine + "\n"), col("text"),
            lit("\n" + q105FooterLine)))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit("\n" + q105FooterLine)))
          .otherwise(col("text")))
      Dedup.stripHotLines(injected, "doc_id", "text", maxDf = 5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("lines_before")).as("lines_before"),
          sum(col("lines_kept")).as("lines_kept"),
          sum(length(col("text"))).as("chars_after"))
    }),

    // ── NS unigram-LM log-loss filter (the KenLM-quality shape with
    // the n-gram order cut to 1): the model is trained on the corpus
    // itself in one aggregate, broadcast as a map, and every doc is
    // scored by a per-row fold — two scans, zero corpus shuffles
    // (CorpusStats.unigramLogLoss scaladoc). Injected unique junk
    // tokens are OOV to the smoothed model and drive the flagged
    // count ──
    "q106_unigram_loss" -> ((s, dir) => {
      val injected = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" qz"),
            (col("doc_id") * 7919 % 100003).cast("string"),
            lit("wx zv"),
            (col("doc_id") * 104729 % 100003).cast("string"),
            lit("qj wq"),
            (col("doc_id") * 1299709 % 100003).cast("string"),
            lit("zx jx"),
            (col("doc_id") * 15485863L % 100003).cast("string"),
            lit("qv xq"),
            (col("doc_id") * 32452843L % 100003).cast("string"),
            lit("vz zq"),
            (col("doc_id") * 49979687L % 100003).cast("string"),
            lit("xj qx"),
            (col("doc_id") * 67867967L % 100003).cast("string"),
            lit("jz vx"),
            (col("doc_id") * 86028121L % 100003).cast("string"),
            lit("zj")))
          .otherwise(col("text")))
      CorpusStats.unigramLogLoss(injected, "doc_id", "text",
          minCount = 3)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(round(col("nll"), 6) > q106Cut, 1L).otherwise(0L))
            .as("n_flagged"),
          sum(round(col("nll"), 6).cast("decimal(20,6)"))
            .cast("double").as("sum_nll"))
    }),

    // ── NS dedup: SemDeDup-style semantic dedup — cluster-bounded
    // near-dup marking over embeddings (Similarity.semanticDedup
    // scaladoc: one shuffle on cell, quadratic only within a cell).
    // Planted exact replicas of every 7th vector are the entire
    // positive set: the natural fixture has zero pairs anywhere near
    // cos 0.99 (PLANS.md's measured property), so the threshold sits
    // in a wide deterministic gap and both engines agree on every
    // pair decision. Per-cell summary: occupancy, dup count, keeper
    // checksum ──
    "q107_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          col("embedding"))
      Similarity.semanticDedup(emb.unionByName(planted), ivfCentroids,
          threshold = 0.99)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
          coalesce(sum(col("dup_of")), lit(0L)).as("sum_dup_of"))
    }),

    // ── NS corpus stats: EXACT heavy-hitter tokens via the two-pass
    // count-min-sketch plan (CorpusStats.heavyHitterTokens scaladoc:
    // the sketch probe cuts the exact-count shuffle to candidate
    // tokens; CMS never undercounts, so the final exact filter makes
    // the result precisely the >= threshold set — the oracle needs no
    // sketch, just the exact HAVING). Threshold = the phi-heavy-hitter
    // cut at phi = 0.1% of the token stream (floor 5), derived from
    // one planning count (the q67 statistic convention) and mirrored
    // by the oracle's scalar subquery ──
    "q108_heavy_hitters" -> ((s, dir) => {
      // widen once here; the operator's own widen then no-ops — the
      // planning count below tokenizes the corpus too
      val docs = Relational.widenForCpu(t(s, dir, "documents"),
        col("doc_id"))
      val nTok = docs.select(sum(size(text.tokens(col("text")))))
        .head.getLong(0)
      CorpusStats.heavyHitterTokens(docs, "text",
        minCount = math.max(5L, nTok / 1000L))
    }),

    // ── NS dedup: incremental near-dup INGEST against the at-rest
    // signature index — the near-dup analog of q74/q78's incremental
    // exact dedup. The corpus is indexed ONCE (bands + shingle sets,
    // billed in-query per the q101/q104 layout convention); the batch
    // (exact copies of every 7th doc, offset ids, plus fresh one-token
    // docs) then joins its bands against the store and exact-rescores
    // candidates only. Oracle = direct exact Jaccard batch × corpus:
    // equality holds because copies sit at J=1.0 and fresh docs at
    // J≈0 — nothing near the banding S-curve knee (the q44 argument)
    // ──
    "q109_neardup_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = java.nio.file.Files
        .createTempDirectory("graft_q109_").toString
      Dedup.writeNearDupIndex(docs, "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, dir = root + "/idx")
      val copies = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
          col("text"))
      val fresh = docs.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
          concat(lit("zz"), col("doc_id").cast("string")).as("text"))
      val res = Dedup.incrementalNearDupAgainst(s,
          copies.unionByName(fresh), "doc_id", "text", root + "/idx",
          shingleN = 2, k = 64, bands = 32, threshold = 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
          coalesce(sum(col("dup_of")), lit(0L)).as("sum_dup_of"))
      materializeThenClean(s, res, root)
    }),

    // ── Web-corpus URL curation: canonicalize (fragment strip, utm_*
    // tracking-param removal, authority case-fold), dedup by canonical
    // URL, filter by a broadcast domain blocklist, aggregate per
    // domain. URLs are synthesized deterministically from the fixture
    // (the q40 convention): doc_id%2 upper-cases the host (the
    // case-fold must collapse it), %3 picks the query decoration —
    // utm-only (canonicalizes to the bare page URL) vs mixed id+utm
    // (keeps ?id=k) vs none — and %5 adds a fragment. 100 TB shape:
    // canonicalization is scan-local codegen'd expression work; the
    // only shuffle is the domain groupBy (+ countDistinct expand); the
    // blocklist is a broadcast anti-join, never a shuffle. ──
    "q110_url_canonical" -> ((s, dir) => {
      import s.implicits._
      val withUrl = syntheticUrlDocs(s, dir)
      val blocklist = Seq("src2.example.com", "src9.example.com")
        .toDF("blocked_domain")
      // two-phase distinct instead of countDistinct(url) +
      // countDistinct(canon) in one aggregate: `canon` is a pure
      // function of `url`, so grouping by (domain, url) makes raw
      // urls distinct per domain with canon carried along, and the
      // second aggregate needs only ONE distinct — Spark plans the
      // multi-distinct form via ExpandExec (×3 row replication and a
      // wide generated class whose first-use JIT dominated this
      // query's wall), the single-distinct form without Expand
      withUrl
        .join(broadcast(blocklist),
          col("domain") === col("blocked_domain"), "left_anti")
        .groupBy(col("domain"), col("url"))
        .agg(count(lit(1)).as("_n"), min(col("canon")).as("_canon"),
          sum(col("n_chars")).as("_chars"))
        .groupBy(col("domain"))
        .agg(sum(col("_n")).as("n_docs"),
          count(lit(1)).as("n_urls_raw"),
          countDistinct(col("_canon")).as("n_urls_canon"),
          sum(col("_chars")).as("chars"))
        .orderBy(col("domain"))
    }),

    // ── T7+NS capstone: CONTINUOUS near-dup ingest — q109's at-rest
    // signature index driven by a stream (Streams.nearDupIngest):
    // each micro-batch is marked against the index AS OF its start,
    // fresh signatures append before the next batch. Three
    // deterministic MemoryStream batches prove store growth carries
    // the memory (streaming state is zero): batch 2's exact copies of
    // batch-1 src15 docs and batch 3's copies of batch-2 src16 docs
    // can only be flagged if the index grew between batches — a
    // failed append surfaces as n_dups collapsing in the oracle
    // compare. Cross-batch dup_of ids pin WHICH doc each copy
    // resolved to. ──
    "q111_stream_neardup_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      // fixture collection on the PARENT session (full shuffle width);
      // only the stream and its batch-scale marks run in the
      // 8-partition drain session. The base index is the SHARED
      // once-per-corpus-version store (ndingest_base — Bench bills it
      // in store_build_sec), CLONED into this query's scratch root
      // because the ingest appends to it: the wall below is the
      // ingest rounds plus a file copy, not a corpus-scale build.
      val docs = t(s, dir, "documents")
      val newSrc = q111NewSources
      val root = java.nio.file.Files
        .createTempDirectory("graft_q111_").toString
      val base = nearDupIngestBaseIndex(s, dir)
      Phases.time("index_clone") {
        val conf = s.sessionState.newHadoopConf()
        val srcP = new org.apache.hadoop.fs.Path(base)
        val dstP = new org.apache.hadoop.fs.Path(root + "/idx")
        val fs = srcP.getFileSystem(conf)
        require(org.apache.hadoop.fs.FileUtil
            .copy(fs, srcP, fs, dstP, false, conf),
          s"q111: could not clone base index $base to $dstP")
      }
      def rows(df: DataFrame): Seq[(Long, String, String)] =
        df.as[(Long, String, String)].collect().toSeq
      def slim(df: DataFrame): DataFrame =
        df.select(col("doc_id"), col("source"), col("text"))
      val b1 = rows(slim(docs.filter(col("source") === "src15"))
        .unionByName(docs.filter(!col("source").isin(newSrc: _*))
          .filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            col("source"), col("text"))))
      val b2 = rows(slim(docs.filter(col("source") === "src16"))
        .unionByName(docs.filter(col("source") === "src15")
          .filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"),
            col("source"), col("text"))))
      val b3 = rows(slim(docs.filter(col("source") === "src17"))
        .unionByName(docs.filter(col("source") === "src16")
          .filter(col("doc_id") % 5 === 1)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            col("source"), col("text"))))
      val input = MemoryStream[(Long, String, String)]
      val stream = input.toDF().toDF("doc_id", "source", "text")
      val ckpt = ephemeralCheckpoint("q111")
      val q = Streams.nearDupIngest(stream, "doc_id", "text",
        root + "/idx", root + "/out", ckpt.getAbsolutePath,
        shingleN = 2, k = 64, bands = 32, threshold = 0.5)
      try
        // per-batch drain walls (plus the finer mark_append/sink
        // splits recorded inside nearDupIngest) land in the bench
        // artifact via Phases — the driver-window figure decomposes
        // from the JSON alone, no clean-window rerun
        Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
          Phases.time(s"drain[b$i]") {
            input.addData(b); q.processAllAvailable()
          }
        }
      finally {
        // nested finally: a stop() that throws must not leak the
        // RAM-backed checkpoint across repeated bench/verify runs
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val res = ns.read.parquet(root + "/out")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
          coalesce(sum(col("dup_of")), lit(0L)).as("sum_dup_of"))
      materializeThenClean(s, res, root)
    }),

    // ── NS: bigram-LM template detection — q106's perplexity filter
    // at order 2. The injected docs repeat transitions built from the
    // fixture's OWN vocabulary, so the unigram model scores them as
    // ordinary; only the conditional (bigram) model sees the verbatim
    // repetition and scores them LOW — flag round(nll2,6) < cut (the
    // MADLAD-style boilerplate cut). Same 100 TB contract as q106:
    // two broadcast-reduced aggregates, per-row deterministic fold,
    // zero corpus shuffles. ──
    "q112_bigram_loss" -> ((s, dir) => {
      val injected = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(q112Boiler)))
          .otherwise(col("text")))
      CorpusStats.bigramLogLoss(injected, "doc_id", "text",
          minCount = 3)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(round(col("nll2"), 6) < q112Cut, 1L).otherwise(0L))
            .as("n_template"),
          sum(round(col("nll2"), 6).cast("decimal(20,6)"))
            .cast("double").as("sum_nll2"))
    }),

    // ── NS: DSIR importance weighting — select documents whose hashed
    // n-gram profile resembles a target domain (here: the corpus's
    // English slice). The model is one bounded-by-construction B-row
    // aggregate; scoring is a scan-time integer fold against the
    // driver-held λ array — zero corpus shuffles below the final
    // per-source aggregate. wt_micros is exact integer micros of the
    // 6-decimal-rounded λ sum, so both engines sum identical longs
    // and the /1e6 display division is bit-identical. ──
    "q113_dsir_weight" -> ((s, dir) => {
      CorpusStats.dsirWeights(t(s, dir, "documents"), "text",
          col("lang") === "en", buckets = 1024)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("wt_micros") > 0L, 1L).otherwise(0L))
            .as("n_selected"),
          (sum(col("wt_micros")).cast("double") / lit(1000000.0d))
            .as("sum_weight"))
    }),

    // ── NS text analysis: per-document TOP-3 KEYWORDS by tf·idf — the
    // classic extraction signal (salient terms for indexing, topic
    // tagging, dedup explanations). Two hash aggregates — (doc, tok)
    // term frequency, then tok document frequency — with the
    // vocabulary-sized df table broadcast back (AQE picks the
    // broadcast; vocabulary grows ~log corpus) and a per-doc ranking
    // window. Ranking compares the ROUNDED score, so both engines
    // order identical 6-decimal values and ulp-level ln() divergence
    // cannot flip ranks. Scale shape: the df branch re-scans the
    // corpus (two pruned scans beat materializing the token-grain tf
    // table at 100 TB — no cache pressure, column-pruned reads);
    // everything after the aggregates is token-grain, never
    // body-grain, and WindowGroupLimit prunes each partition to its
    // local top-3 BEFORE the ranking shuffle ──
    "q114_tfidf_keywords" -> ((s, dir) => {
      val docs = Relational.widenForCpu(t(s, dir, "documents"),
        col("doc_id"))
      val pairs = docs.select(col("doc_id"),
        explode(text.tokens(col("text"))).as("tok"))
      val tf = pairs.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      // ONE planning count (the q108/q67 statistic convention) —
      // a 1-row broadcast crossJoin would plan a BNLJ for a scalar
      val nDocs = t(s, dir, "documents").count().toDouble
      val scored = tf.join(dfTab, "tok")
        .withColumn("score",
          round(col("tf").cast("double") *
            log(lit(nDocs) / col("df").cast("double")), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("tok").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("tok"), col("score"))
    }),

    // ── NS similarity/quality: EMBEDDING OUTLIER detection — cosine
    // of every vector to its ASSIGNED centroid (the q42/q107 IVF
    // assignment), flagging vectors anti-aligned with even their
    // BEST cell (rounded cos < q115Cut ⇒ far from the whole centroid
    // model — the embedding-space analog of a quality filter: noise,
    // corrupt rows, out-of-distribution content). Measured gate-SF
    // distributions: p5 ≈ −0.03..−0.04, median ≈ 0.12 at sf0.001/
    // 0.01/0.1 — the −0.05 cut flags the 1–4% tail deterministically
    // (both engines compare the same 6-decimal value). Scale shape:
    // assignment + scoring are pure scan-time kernels against the
    // broadcast centroid literal; the only shuffle is the final
    // per-cell aggregate ──
    "q115_embedding_outliers" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val centLit = typedLit(ivfCentroids.map(_.toSeq))
      val assigned = emb.withColumn("cell",
        vectors.assignCellFast(col("embedding"), ivfCentroids))
      val cent = element_at(centLit, col("cell") + 1)
      def dot(a: Column, b: Column): Column = aggregate(
        zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0d), (acc, x) => acc + x)
      assigned.withColumn("cos",
        round(dot(col("embedding"), cent) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
            sqrt(dot(cent, cent))), 6))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("cos") < q115Cut, 1L).otherwise(0L))
            .as("n_outliers"),
          sum(col("cos").cast("decimal(20,6)")).cast("double")
            .as("sum_cos"))
    }),

    // ── NS corpus prep: the DATA CARD — per-source corpus report in
    // ONE fused scan pass: token volume, quality (decimal-summed for
    // determinism), intra-doc repetition rate, lang-id agreement with
    // the labeled lang, and label diversity. Every signal is a kernel
    // the suite already verifies individually (q24/q25/q26/q69); the
    // point here is the FUSION shape a real pipeline report runs —
    // tokenize once per row (codegen CSE shares `_toks` across all
    // four consumers), one widened scan, one aggregate, nothing
    // body-grain past the scan ──
    "q116_corpus_report" -> ((s, dir) => {
      val docs = Relational.widenForCpu(t(s, dir, "documents"),
        col("doc_id"))
      val aggCols = dataCardAggs ++ Seq(
        sum(col("q").cast("decimal(20,6)")).cast("double")
          .as("sum_quality"),
        countDistinct(col("lang")).as("n_langs"))
      dataCardScored(docs).groupBy(col("source"))
        .agg(aggCols.head, aggCols.tail: _*)
    }),

    // ── T7+NS: the data card as a STREAMING aggregate — q116's fused
    // per-doc kernels (tokenize-once, quality, repetition, lang
    // agreement) running inside a complete-mode streaming groupBy,
    // driven by three deterministic micro-batches (doc_id % 3) so the
    // aggregation state must carry across batches: a dropped batch or
    // reset state shows up as wrong counts in every column. The
    // nightly-report shape when the corpus arrives as a stream. Same
    // oracle arithmetic as q116, with the one streaming substitution:
    // size(collect_set(lang)) for countDistinct (distinct aggregates
    // are unsupported in streaming; the set is bounded by the label
    // vocabulary) ──
    "q117_stream_corpus_report" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val rows = Phases.time("fixture_collect") {
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"))
          .as[(Long, String, String, String, Long)].collect().toSeq
      }
      val input = MemoryStream[(Long, String, String, String, Long)]
      val stream = input.toDF()
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val aggCols = dataCardAggs ++ Seq(
        sum(col("q").cast("decimal(20,6)")).cast("double")
          .as("sum_quality"),
        size(collect_set(col("lang"))).cast("long").as("n_langs"))
      val agg = dataCardScored(stream).groupBy(col("source"))
        .agg(aggCols.head, aggCols.tail: _*)
      val ckpt = ephemeralCheckpoint("q117")
      val q = Phases.time("stream_start") {
        agg.writeStream.format("memory").queryName("q117_mem")
          .outputMode("complete")
          .option("checkpointLocation", ckpt.getAbsolutePath)
          .start()
      }
      try
        (0 until 3).foreach { r =>
          Phases.time(s"microbatch[b$r]") {
            input.addData(rows.filter(_._1 % 3 == r))
            q.processAllAvailable()
          }
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      ns.table("q117_mem")
    }),

    // ── NS: INCREMENTAL data card — the third form of the q116
    // report (batch q116, streaming q117): per-source ADDITIVE
    // partial sums stored at rest, a new crawl's partials merged in
    // WITHOUT rescanning corpus text — the every-new-batch shape for
    // corpus statistics at 100 TB (stats update cost scales with the
    // batch, not the corpus). Every column is additive by
    // construction: decimal quality sums stay decimal in the store
    // so re-aggregation is exact; label diversity stores the SET per
    // source and merges by union. The oracle is the full recompute
    // over all documents — additivity makes the incremental result
    // IDENTICAL, which is precisely the contract being verified.
    // Store build billed in-query (the q76/q101/q109 convention) ──
    "q118_incremental_corpus_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newSrc = "src19"
      def cardPartials(d: DataFrame): DataFrame = {
        val aggCols = dataCardAggs ++ Seq(
          sum(col("q").cast("decimal(20,6)")).as("sum_quality_dec"),
          collect_set(col("lang")).as("langs"))
        dataCardScored(Relational.widenForCpu(d, col("doc_id")))
          .groupBy(col("source")).agg(aggCols.head, aggCols.tail: _*)
      }
      val root = java.nio.file.Files
        .createTempDirectory("graft_q118_").toString
      // the at-rest stats store: one partial-sum row per source
      cardPartials(docs.filter(col("source") =!= newSrc))
        .write.parquet(root + "/stats")
      val merged = s.read.parquet(root + "/stats")
        .unionByName(cardPartials(docs.filter(col("source") === newSrc)))
        .groupBy(col("source")).agg(
          sum(col("n_docs")).as("n_docs"),
          sum(col("total_tokens")).as("total_tokens"),
          sum(col("total_chars")).as("total_chars"),
          sum(col("sum_quality_dec")).cast("double").as("sum_quality"),
          sum(col("n_repetitive")).as("n_repetitive"),
          sum(col("n_lang_agree")).as("n_lang_agree"),
          size(array_distinct(flatten(collect_list(col("langs")))))
            .cast("long").as("n_langs"))
      materializeThenClean(s, merged, root)
    }),

    // ── NS similarity/training-data: HARD-NEGATIVE mining — for every
    // vector, the most-similar LSH-candidate neighbor with a DIFFERENT
    // label (contrastive-pair prep: the "looks alike, isn't" examples).
    // Same recall-derived table count as q95, seeded at 119; the
    // oracle replays the identical candidate set from the same plane
    // literals, so the within-candidate ranking is exactly verified ──
    "q119_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val nPlanes = Similarity.planesForSize(emb.count())
      val nTables = Similarity.lshTablesForRecall(nPlanes, 0.9, 0.01)
      val tables = (0 until nTables).map(i =>
        vectors.planeMatrix(seed = 119L + i, nPlanes = nPlanes,
          dim = embDim))
      Similarity.hardNegatives(emb, tables)
    }),

    // ── NS corpus stats: per-source VOCABULARY DRIFT — KL(source ‖
    // corpus) over token distributions, the distribution-shift
    // monitor a crawl pipeline runs per ingest source. Exactness by
    // construction: per-token contributions rounded to 9 decimals and
    // DECIMAL-summed (order-free), so both engines add identical
    // values — the q113 integer-micros idea applied to an
    // information-theoretic signal ──
    "q120_vocab_drift" -> ((s, dir) =>
      CorpusStats.vocabDrift(t(s, dir, "documents"), "text", "source")),

    // ── NS training-data: NEAR-DUP-AWARE SPLIT LEAKAGE — the
    // decontamination pass every pipeline runs before trusting an
    // eval split: a val doc that near-dups a train doc measures
    // memorization, not generalization. Split policy is a modulo
    // fold (SQL-mirrorable; production passes a salted hash — the
    // operator is policy-agnostic). Planted positives: re-crawled
    // copies of train docs landing in the val fold, on top of the
    // fixture's natural duplication; leak_from pins WHICH train doc
    // each val doc leaks from. Same subset-exact LSH contract as
    // q109 (banded candidates, exact re-score, complete away from
    // the knee). ──
    "q121_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val injected = docs
        .filter(col("doc_id") % 13 === 5 && col("doc_id") % 10 =!= 0)
        .select((col("doc_id") * 10 + 6000000L).as("doc_id"),
          col("source"), col("text"))
      Dedup.splitLeakage(docs.unionByName(injected), "doc_id", "text",
          id => pmod(id, lit(10)) === 0,
          shingleN = 2, k = 64, bands = 32, threshold = 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_val"),
          sum(when(col("is_leaked"), 1L).otherwise(0L)).as("n_leaked"),
          coalesce(sum(col("leak_from")), lit(0L)).as("sum_leak_from"))
    }),

    // ── NS text retrieval: BM25 TOP-K — batch lexical retrieval as a
    // pure dataflow (no materialized index): ONE pruned body-grain
    // scan keeps only query-vocabulary tokens, everything after is
    // posting-grain, per-term contributions are 6-decimal-rounded and
    // DECIMAL-summed, and WindowGroupLimit pre-prunes the per-query
    // ranking (Retrieval.bm25TopK scaladoc carries the full 100 TB
    // shape). Query texts are driver-side literals mirrored verbatim
    // into the oracle's VALUES table ──
    "q122_bm25_topk" -> ((s, dir) =>
      Retrieval.bm25TopK(
        Relational.widenForCpu(t(s, dir, "documents"), col("doc_id")),
        "doc_id", "text", bm25Queries, k = 5)),

    // ── NS corpus prep: TOKEN-WINDOW CHUNKING — the RAG/context-
    // window splitter (32-token chunks, stride 24): chunk-grain rows
    // with start offsets, tail-aware lengths, and per-chunk rolling
    // fingerprints (chunk-level dedup/lineage keys). Pure per-row
    // expression — zero shuffles, one linear pass at any corpus size;
    // boundaries are integer-only arithmetic so both engines cut
    // identical chunks ──
    "q123_token_chunks" -> ((s, dir) =>
      Relational.widenForCpu(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
          explode(text.tokenChunks(text.tokens(col("text")),
            window = 32, stride = 24)).as("ch"))
        .select(col("doc_id"), col("ch.chunk_idx").as("chunk_idx"),
          col("ch.start_tok").as("start_tok"),
          col("ch.n_toks").as("n_toks"), col("ch.fp").as("fp"))),

    // ── NS training-data: TEMPERATURE-SCALED SOURCE MIXING (α = 1/2)
    // — allocate a token budget across sources with weight ∝ √tokens,
    // down-weighting giant crawl sources against small curated ones.
    // Integer-only cut derivation (floor(√n) weights, BigInt ratio —
    // Relational.temperatureMixCuts scaladoc) makes the selection
    // exactly SQL-mirrorable with zero float-boundary risk; the
    // corpus itself never shuffles (one bounded planning aggregate +
    // one scan-time hash filter) ──
    "q124_temperature_mix" -> ((s, dir) => {
      // deliberately NOT widenForCpu'd: measured at sf0.1, widening
      // cost 2.97 s / 24.4 cpu-s vs 0.88 s / 4.0 cpu-s unwidened —
      // the q105/q106 pattern (the 1-task CPU is JIT compiler
      // threads, not task work, and the widen shuffles full text
      // bodies for nothing). At scale the scan is one task PER FILE,
      // which is exactly the right width.
      val docs = t(s, dir, "documents")
      val cuts = Relational.temperatureMixCuts(docs, "source", "text",
        budgetTokens = q124Budget)
      Relational.temperatureMix(docs, col("source"), col("doc_id"), cuts)
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
        .groupBy(col("source"), col("mix_cut"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"))
        .select(col("source"), col("mix_cut").as("cut"),
          col("n_kept"), col("kept_tokens"))
    }),

    // ── NS corpus stats: ZIPF POWER-LAW FIT per source — the least-
    // squares slope of ln(freq) vs ln(rank) over each source's top
    // 1000 tokens: natural text sits near −1, so a drifted slope
    // flags machine-generated floods or tokenizer damage in one
    // number per source. Head-capped by construction (WindowGroupLimit
    // prunes to the local top-1000 before the rank shuffle) and
    // closed-form from decimal-summed rounded terms, so the fit is
    // order-free exact (CorpusStats.zipfSlope scaladoc) ──
    "q125_zipf_slope" -> ((s, dir) =>
      CorpusStats.zipfSlope(
        Relational.widenForCpu(t(s, dir, "documents"), col("text")),
        "text", "source")),

    // ── NS text retrieval, AT-REST form: q122's BM25 against a
    // bucket-clustered POSTINGS INDEX (the text analog of the q101
    // quantized ANN store) — the index is the SHARED version-keyed
    // store (bm25PostingsStore: built once per corpus version, phase
    // `index_build` billed to the first consumer or to Bench's
    // pre-build step), so the steady-state headline measures the
    // QUERY: it reads ONLY files whose bucket span intersects the
    // query terms' hash buckets, and the result is equal to the
    // dataflow form by construction (one shared scoring chain —
    // RetrievalSpec pins equality + pruning). Bounded k·|queries|
    // collect (the q101 convention); the store persists at rest ──
    "q126_bm25_indexed" -> ((s, dir) => {
      val store = bm25PostingsStore(s, dir)
      Phases.time("query") {
        val bounded = Retrieval.bm25TopKIndexed(s, store, bm25Queries,
          k = 5)
        s.createDataFrame(
          java.util.Arrays.asList(bounded.collect(): _*), bounded.schema)
      }
    }),

    // ── NS text retrieval, INCREMENTAL store lifecycle: q126's
    // postings index grown by SEGMENT APPEND (the q103 ANN-segment
    // convention — a 100 TB index cannot be rewritten per crawl
    // batch): base segment over half the corpus, one appended ingest
    // segment over the rest, per-segment additive stats merged at
    // query time. df/tf/dl come out identical to a from-scratch
    // build — postings are doc-local, so segmenting by doc never
    // changes a term's global posting set — making the appended
    // store result-equal to the q122 dataflow, which the shared
    // oracle verifies end-to-end ──
    "q127_bm25_index_append" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q127_").toString
      val store = root + "/postings_segmented"
      val docs = t(s, dir, "documents")
      Phases.time("build_base") {
        Retrieval.appendPostingsSegment(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          store, "base", nBuckets = 64, numFiles = 8)
      }
      Phases.time("append_segment") {
        Retrieval.appendPostingsSegment(
          docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text",
          store, "ingest1", nBuckets = 64, numFiles = 4)
      }
      Phases.time("query")(materializeThenClean(s,
        Retrieval.bm25TopKIndexed(s, store, bm25Queries, k = 5), root))
    }),

    // ── T7+NS: the postings index kept fresh by a STREAM — q127's
    // segment lifecycle driven from a micro-batch crawl feed
    // (Streams.postingsIngest): three deterministic batches
    // (doc_id % 3), each landing as one batchId-named sealed segment
    // through the IDEMPOTENT append (exactly-once under retry — the
    // q111 convention, spec-pinned in StreamingSpec). The store the
    // stream leaves behind must answer queries identically to the
    // q122 dataflow over the full corpus, which the shared oracle
    // verifies end-to-end ──
    "q128_stream_index_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q128_").toString
      val store = root + "/postings_streamed"
      // fixture collection on the PARENT session (full width); only
      // the stream and its batch-scale appends run in the drain
      // session — and each append itself plans at full width (the
      // width scope of Streams.microBatches)
      val all = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val batches = (0 until 3).map(i => all.filter(_._1 % 3 == i))
      val input = MemoryStream[(Long, String)]
      val stream = input.toDF().toDF("doc_id", "text")
      val ckpt = ephemeralCheckpoint("q128")
      val q = Streams.postingsIngest(stream, "doc_id", "text", store,
        ckpt.getAbsolutePath, nBuckets = 64, numFiles = 4)
      try
        batches.zipWithIndex.foreach { case (b, i) =>
          Phases.time(s"drain[b$i]") {
            input.addData(b); q.processAllAvailable()
          }
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      materializeThenClean(s,
        Retrieval.bm25TopKIndexed(s, store, bm25Queries, k = 5), root)
    }),

    // ── NS HYBRID RETRIEVAL: reciprocal-rank fusion of the lexical
    // (q122 BM25, top-100) and embedding-similarity (exact cosine,
    // top-100) arms — the production RAG retrieval shape. Query
    // vectors come from the embeddings table by qid (the q28
    // from-table convention, so the oracle needs no 64-double
    // literals); both arms rank on ROUNDED scores with id tiebreaks
    // and RRF sums 9-decimal-rounded 1/(60+rank) contributions over
    // integer ranks as decimals — exact end-to-end. Scale shape:
    // each arm prunes to its own top-100 (WindowGroupLimit) before
    // fusion ever sees a row ──
    "q129_hybrid_rrf" -> ((s, dir) => {
      val docs = Relational.widenForCpu(t(s, dir, "documents"),
        col("doc_id"))
      val bm25Arm = Retrieval
        .bm25TopK(docs, "doc_id", "text", bm25Queries, k = 100)
        .select(col("qid"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      // bounded planning collect of the |queries| query vectors
      val qvecs = emb
        .filter(col("vec_id").isin(bm25Queries.map(_._1.toLong): _*))
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1)))
        .sortBy(_._1)
      val cosBranches = qvecs.map { case (qid, v) =>
        emb.filter(col("vec_id") =!= qid.toLong)
          .select(lit(qid).as("qid"), col("vec_id").as("doc_id"),
            round(vectors.cosineFast(col("embedding"), typedLit(v)), 6)
              .as("cos"))
      }
      val wCos = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("doc_id").asc)
      val cosArm = cosBranches.reduce(_ unionByName _)
        .withColumn("rank", row_number().over(wCos))
        .filter(col("rank") <= 100)
        .select(col("qid"), col("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(bm25Arm, cosArm), k = 10)
    }),

    // ── NS SNIPPET SELECTION — the retrieve-then-highlight step a
    // RAG pipeline runs after ranking: for each query's TOP BM25
    // document, pick the q123 token-window chunk containing the most
    // query-term occurrences (tie → earliest chunk), i.e. the context
    // window actually handed to the model. Pure composition of two
    // verified primitives (q122 ranking + q123 chunk boundaries);
    // integer hit counts and integer tiebreaks make it exact with no
    // new float surface. Scale shape: the ranked side is |queries|
    // rows broadcast against the corpus — only the top documents'
    // bodies are ever chunked ──
    "q130_best_chunk" -> ((s, dir) => {
      val docs = Relational.widenForCpu(t(s, dir, "documents"),
        col("doc_id"))
      val top1 = Retrieval
        .bm25TopK(docs, "doc_id", "text", bm25Queries, k = 1)
        .select(col("qid"), col("doc_id"))
      val termArr = bm25Queries.foldLeft(
        lit(null).cast("array<string>")) { case (els, (qid, q)) =>
        val ts = q.trim.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty).distinct.toSeq
        when(col("qid") === qid, array(ts.map(lit): _*)).otherwise(els)
      }
      val chunks = broadcast(top1)
        .join(t(s, dir, "documents"), "doc_id")
        .select(col("qid"), col("doc_id"),
          text.tokens(col("text")).as("toks"))
        .select(col("qid"), col("doc_id"), col("toks"),
          explode(text.tokenChunks(col("toks"), window = 32,
            stride = 24)).as("ch"))
        .withColumn("hits", size(filter(
          slice(col("toks"), col("ch.start_tok"), col("ch.n_toks")),
          t => array_contains(termArr, t))))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("hits").desc, col("ch.chunk_idx").asc)
      chunks.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("qid"), col("doc_id"),
          col("ch.chunk_idx").as("chunk_idx"),
          col("ch.start_tok").as("start_tok"),
          col("ch.n_toks").as("n_toks"),
          col("hits").cast("long").as("n_hits"))
    }),

    // ── NS dedup: ASYMMETRIC CONTAINMENT — overlap-coefficient pairs
    // (|A∩B| / min|A|,|B|), the regime symmetric Jaccard structurally
    // misses: planted positives are PREFIX-TRUNCATED copies (the
    // first quarter of a doc re-crawled under a new id — the
    // quote-inclusion / boilerplate-wrapper hazard), whose shingles
    // are a strict subset of the parent's (containment 1.0, Jaccard
    // ≈ 0.25 — under every symmetric threshold). `jaccard_missed`
    // pins, pair by pair, exactly what a Jaccard-only pipeline would
    // have shipped as "unique". Dense-corpus broadcast pair scan with
    // the containment-rewritten pre-filter bound (containmentPairsDense
    // scaladoc carries the sparse/index and sketch scale paths) ──
    "q131_containment_pairs" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val injected = base
        .filter(col("doc_id") % 11 === 4)
        .withColumn("toks", text.tokens(col("text")))
        .filter(size(col("toks")) >= 16)
        .select((col("doc_id") * 10 + 7000000L).as("doc_id"),
          array_join(slice(col("toks"), lit(1),
            floor(size(col("toks")) / 4).cast("int")), " ").as("text"))
      Dedup.containmentPairsDense(base.unionByName(injected),
          "doc_id", "text", n = 2, threshold = 0.9)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("sz_a"), col("sz_b"),
          round(col("overlap"), 6).as("overlap"),
          round(col("jaccard"), 6).as("jaccard"),
          (round(col("jaccard"), 6) < 0.5).as("jaccard_missed"))
    }),

    // ── NS retrieval: MMR DIVERSIFIED RE-RANK — the greedy
    // relevance-vs-redundancy selection (λ·rel − (1−λ)·max-sim-to-
    // picked) between retrieval and the context window, so five
    // near-identical top hits collapse to one plus four that add
    // information. Arms: exact-cosine top-20 per query (the q28/q129
    // candidate convention; production swaps the ANN arm in), N²
    // within-query candidate sims, then the greedy loop unrolled into
    // five declarative stages (Retrieval.mmrRerank scaladoc — every
    // stage is candidate-grain, corpus-independent). The top-N frame
    // is bounded (|queries|·20 rows), so the eager localCheckpoint is
    // a bounded materialization that keeps the five stages from
    // re-running the corpus scan ──
    "q132_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qids = Seq(0L, 7L, 19L)
      val qvecs = emb.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
      val branches = qvecs.map { case (qid, v) =>
        emb.filter(col("vec_id") =!= qid)
          .select(lit(qid).as("qid"), col("vec_id").as("doc_id"),
            round(vectors.cosineFast(col("embedding"), typedLit(v)), 6)
              .as("rel"),
            col("embedding"))
      }
      val wRel = Window.partitionBy(col("qid"))
        .orderBy(col("rel").desc, col("doc_id").asc)
      val cands = branches.reduce(_ unionByName _)
        .withColumn("rk", row_number().over(wRel))
        .filter(col("rk") <= 20).drop("rk")
        .localCheckpoint(eager = true)
      val a = cands.select(col("qid"), col("doc_id").as("doc_a"),
        col("embedding").as("ea"))
      val b = cands.select(col("qid"), col("doc_id").as("doc_b"),
        col("embedding").as("eb"))
      val sims = a.join(b, Seq("qid"))
        .filter(col("doc_a") =!= col("doc_b"))
        .select(col("qid"), col("doc_a"), col("doc_b"),
          round(vectors.cosineFast(col("ea"), col("eb")), 6).as("sim"))
      Retrieval.mmrRerank(cands.select("qid", "doc_id", "rel"), sims,
          lambda = BigDecimal("0.7"), select = 5)
        .select(col("qid"), col("rank"), col("doc_id"),
          col("mmr").cast("double").as("mmr"))
    }),

    // ── NS governance: CROSS-SOURCE DUPLICATION ATTRIBUTION — the
    // near-dup pair set rolled up to a source×source matrix: which
    // ingest sources copy from which (doc id order ≈ crawl order, so
    // doc_a<doc_b reads "src_from published first, src_to re-crawled
    // it"). The report that decides which crawl source to demote when
    // dedup keeps eating its budget. Pairs come from the shared
    // at-rest PAIR STORE at the q30 near-dup threshold; the rollup
    // emits the exact-decimal SUM of rounded jaccards, not the mean —
    // sum/count division parks short-denominator quotients on 7-dp
    // rounding boundaries (the q132 hazard), while the sum is exact ──
    "q133_dup_attribution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the r10 version re-ran the dense pair scan per report (billed
      // at 4+ s); the report is now a cheap VIEW over the shared
      // at-rest pair store (one build per corpus version, shared with
      // q84/q140). The oracle stays the independent exact all-pairs
      // recompute, so "the banded store misses no pair this report
      // needs" is verified end-to-end on every run
      val pairs = nearDupPairStore(s, dir)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 6).as("jc"))
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.toDF("doc_a", "src_from"), "doc_a")
        .join(src.toDF("doc_b", "src_to"), "doc_b")
        .groupBy(col("src_from"), col("src_to"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_b")).as("n_copied_docs"),
          sum(col("jc").cast("decimal(20,6)")).cast("double")
            .as("sum_jaccard"))
    }),

    // ── NS embeddings: PER-LABEL COHERENCE — each label's cosine
    // mass to its own centroid direction, the intra-class compactness
    // report that flags mislabeled/noise-flooded classes before a
    // contrastive run wastes epochs on them. One exploded hash agg
    // (map-side combine ⇒ shuffle is labels·dim per task, corpus-
    // independent), bounded guarded centroid collect, scan-time
    // codegen cosine. Exact with NO division or mid-chain rounding:
    // integer-quantized component sums as the centroid direction —
    // cosine is scale-invariant, so sum ≡ mean (labelCoherence
    // scaladoc) ──
    "q134_label_coherence" -> ((s, dir) =>
      Similarity.labelCoherence(t(s, dir, "embeddings"),
        "embedding", "label")),

    // ── NS decontamination: THRESHOLD-SENSITIVITY SWEEP — the graded
    // complement of q64's binary flag: per-doc contamination = the
    // fraction of its shingles found anywhere in the eval fold,
    // rolled up per source at three cutoffs in ONE pass. If n_c20 ≫
    // n_c50 ≫ n_c80 the cutoff choice is load-bearing (the scores sit
    // on a cliff); if they agree, any cutoff ships the same corpus —
    // the report that makes the decontamination threshold a measured
    // decision. Threshold compares use the RAW ratio (identical
    // doubles from identical integers in both engines); only the sum
    // goes through the rounded-decimal convention ──
    "q135_contamination_sweep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isEval = col("doc_id") % 17 === 3
      Dedup.contaminationScores(docs.filter(!isEval),
          docs.filter(isEval), "doc_id", "text", n = 3)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("contamination") >= 0.2, 1L).otherwise(0L))
            .as("n_c20"),
          sum(when(col("contamination") >= 0.5, 1L).otherwise(0L))
            .as("n_c50"),
          sum(when(col("contamination") >= 0.8, 1L).otherwise(0L))
            .as("n_c80"),
          sum(round(col("contamination"), 6).cast("decimal(20,6)"))
            .cast("double").as("sum_score"))
    }),

    // ── NS training-prep: CONTEXT-WINDOW PACKING REPORT — what q57's
    // contiguous concatenation (doc_id order per source) actually
    // costs at a fixed model context (W=256 here): windows consumed,
    // padding waste at each source's tail, how many docs straddle a
    // window boundary (their loss is attention-truncated), and the
    // worst straddle span. The report a trainer reads to choose
    // between padding, packing, and doc-splitting. Pure integer
    // arithmetic off ONE per-source cumsum window (the q57 shape —
    // floor on exact small doubles, both engines identical); empty
    // docs never count as split. W=256 so the gate fixtures exercise
    // real splits (at 2048 every sf0.01 source fits one window and
    // every split column is a constant zero) ──
    "q136_packing_report" -> ((s, dir) => {
      val W = 256L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "documents")
        .withColumn("n", text.tokenCount(col("text")).cast("long"))
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("w_start",
          floor((col("cum") - col("n")).cast("double") / W).cast("long"))
        .withColumn("w_end",
          floor((col("cum") - 1).cast("double") / W).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          floor((max(col("cum")) + W - 1).cast("double") / W)
            .cast("long").as("n_windows"),
          (floor((max(col("cum")) + W - 1).cast("double") / W)
            .cast("long") * W - max(col("cum"))).as("waste_tokens"),
          sum(when(col("n") > 0 && col("w_end") > col("w_start"), 1L)
            .otherwise(0L)).as("n_split_docs"),
          max(when(col("n") > 0, col("w_end") - col("w_start") + 1)
            .otherwise(0L)).as("max_window_span"))
    }),

    // ── NS embeddings: PER-(LABEL, DIM) MOMENTS — exact integer
    // first/second moments + the population-variance numerator per
    // embedding dimension within each label: whitening stats,
    // dead-dimension detection (var_num ≈ 0 ⇒ a collapsed direction),
    // cross-label discriminability — with ZERO float surface in the
    // output (the q134 quantization + decimal aggregation; var_num
    // is decimal end to end, nothing to round, nothing for engines
    // to disagree on). The gate projection CASTS the decimals to
    // STRINGS: the comparison layer reads results through pandas,
    // which degrades 38-digit decimals to float64 — the exact
    // integers survive as text at any magnitude ──
    "q137_embedding_moments" -> ((s, dir) =>
      Similarity.embeddingMoments(t(s, dir, "embeddings"),
          "embedding", "label")
        .select(col("label"), col("pos"), col("n_vecs"),
          col("s_sum").cast("string").as("s_sum"),
          col("q_sum").cast("string").as("q_sum"),
          col("var_num").cast("string").as("var_num"))),

    // ── NS embeddings, INCREMENTAL form: q137's moments kept fresh
    // without rescanning the corpus — the additivity of the integer
    // moment formulation IS the contract (counts, Σq, Σq² merge by
    // summation; the variance numerator re-derives from merged sums),
    // exactly the q118 stats-store lifecycle: at-rest partials, a new
    // crawl batch's partials union in, update cost scales with the
    // batch. The oracle is q137's FULL recompute — merged ≡ from
    // scratch, verified end to end ──
    "q138_incremental_moments" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val isNew = col("vec_id") % 5 === 0
      def partials(d: DataFrame) =
        Similarity.embeddingMoments(d, "embedding", "label")
          .select("label", "pos", "n_vecs", "s_sum", "q_sum")
      val root = java.nio.file.Files
        .createTempDirectory("graft_q138_").toString
      partials(emb.filter(!isNew)).write.parquet(root + "/moments")
      val merged = s.read.parquet(root + "/moments")
        .unionByName(partials(emb.filter(isNew)))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("n_vecs")).as("n_vecs"),
          sum(col("s_sum")).cast("decimal(38,0)").as("s_sum"),
          sum(col("q_sum")).cast("decimal(38,0)").as("q_sum"))
        .select(col("label"), col("pos"), col("n_vecs"),
          col("s_sum").cast("string").as("s_sum"),
          col("q_sum").cast("string").as("q_sum"),
          (col("n_vecs").cast("decimal(20,0)") * col("q_sum") -
            col("s_sum") * col("s_sum")).cast("decimal(38,0)")
            .cast("string").as("var_num"))
      materializeThenClean(s, merged, root)
    }),

    // ── T7+NS: STREAMING DECONTAMINATION GATE — q135's graded
    // contamination kept live over a crawl stream: three deterministic
    // micro-batches of corpus docs scored against the static eval
    // fold inside foreachBatch, landing batchId-named ADDITIVE
    // per-source partials (exactly-once under retry — sealed segments
    // skipped, half-landed ones cleaned and redone; the q111/q128
    // convention, spec-pinned in StreamingSpec). The drained store's
    // one re-aggregation must equal the batch q135 report exactly —
    // the shared oracle verifies the whole lifecycle end to end ──
    "q139_stream_contamination" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q139_").toString
      val rows = t(s, dir, "documents")
        .filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)].collect().toSeq
      val evalSet = t(ns, dir, "documents")
        .filter(col("doc_id") % 17 === 3)
        .select(col("doc_id"), col("text"))
      val input = MemoryStream[(Long, String, String)]
      val stream = input.toDF().toDF("doc_id", "source", "text")
      val ckpt = ephemeralCheckpoint("q139")
      val q = Streams.contaminationIngest(stream, evalSet, "doc_id",
        "text", "source", root, ckpt.getAbsolutePath, n = 3)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(_._1 % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val report = s.read.parquet(root + "/partials")
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_c20")).as("n_c20"),
          sum(col("n_c50")).as("n_c50"),
          sum(col("n_c80")).as("n_c80"),
          sum(col("sum_score_dec")).cast("double").as("sum_score"))
      materializeThenClean(s, report, root)
    }),

    // ── NS governance: DUP CENSUS — the cluster-size histogram over
    // q44's near-dup components (singletons included): how much of
    // the corpus is unique vs 2-copies vs larger families, and how
    // many docs dedup would remove (n_docs − n_clusters summed over
    // sizes > 1). THE one-table summary a data lead reads before
    // approving a dedup run; q133 says who copies whom, this says how
    // deep the copying goes. Same LSH pair machinery + star CC as
    // q44, one extra integer aggregation ──
    "q140_dup_census" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // shared at-rest pair store (one build per corpus version,
      // shared with q84/q133 — nearDupPairStore)
      val pairs = nearDupPairStore(s, dir)
      val cc = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
        .toDF("doc_id", "keeper")
      docs.select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(coalesce(col("keeper"), col("doc_id")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (col("cluster_size") * count(lit(1))).as("n_docs"))
    }),

    // ── NS crawl monitoring: NOVELTY CURVE — per crawl batch, the
    // fraction of its distinct 3-gram shingles never seen in an
    // earlier batch. A healthy crawl keeps finding new content;
    // a falling-to-zero curve is the loop/stagnation signature that
    // says stop paying for the crawler (batch := doc_id mod 4 here,
    // the ingest-time proxy the fixtures support). Shuffles are all
    // shingle-keyed (distinct pairs → first-seen agg → join back) —
    // the token-keyed pattern that scales; the per-batch ratio is
    // two integers, identical doubles in both engines ──
    "q141_novelty_curve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("batch", pmod(col("doc_id"), lit(4)).cast("int"))
      val bs = docs
        .select(col("batch"),
          explode(text.wordShinglesFast(col("text"), 3)).as("sh"))
        .distinct()
      val firstSeen = bs.groupBy(col("sh")).agg(min(col("batch")).as("fb"))
      val counts = bs.join(firstSeen, Seq("sh"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("ds"),
          sum(when(col("fb") === col("batch"), 1L).otherwise(0L))
            .as("ns"))
      docs.groupBy(col("batch")).agg(count(lit(1)).as("n_docs"))
        .join(counts, Seq("batch"), "left")
        .select(col("batch"), col("n_docs"),
          coalesce(col("ds"), lit(0L)).as("distinct_shingles"),
          coalesce(col("ns"), lit(0L)).as("novel_shingles"),
          when(coalesce(col("ds"), lit(0L)) > 0,
            coalesce(col("ns"), lit(0L)).cast("double") /
              col("ds").cast("double"))
            .otherwise(lit(0.0)).as("novelty"))
    }),

    // ── NS embeddings: LABEL AFFINITY MATRIX — cosine between every
    // pair of label centroid directions, the between-class complement
    // of q134's within-class coherence: high affinity names the label
    // pairs a classifier or contrastive objective will confuse.
    // Exact-decimal dot/norm sums over q137's integer centroids; the
    // only float ops are the final divide/sqrt on correctly-rounded
    // decimal→double casts, measured identical across engines
    // (labelAffinity scaladoc) ──
    "q142_label_affinity" -> ((s, dir) =>
      Similarity.labelAffinity(t(s, dir, "embeddings"),
        "embedding", "label")),

    // ── NS training-prep: TRUNCATION-LOSS REPORT — for each candidate
    // context cap W, the tokens each source loses if docs are
    // truncated at W (the hard-cut alternative to q136's packing):
    // docs-over-cap count and exact token loss per (source, W) in one
    // scan, the number that picks the cap deliberately. W ∈
    // {32, 64, 96} sized to the fixture's 10–99-token docs so every
    // column is exercised; integer sums, one ratio of identical
    // integers at the end ──
    "q143_truncation_loss" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("n", text.tokenCount(col("text")).cast("long"))
        .select(col("source"), col("n"),
          explode(array(lit(32L), lit(64L), lit(96L))).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") > col("w"), 1L).otherwise(0L))
            .as("n_docs_over"),
          sum(col("n")).as("total_tokens"),
          sum(greatest(col("n") - col("w"), lit(0L)))
            .as("tokens_lost"))
        .withColumn("loss_frac",
          when(col("total_tokens") > 0,
            col("tokens_lost").cast("double") /
              col("total_tokens").cast("double"))
            .otherwise(lit(0.0)))),

    // ── NS corpus stats: "FIGHTIN' WORDS" — per-source discriminative
    // tokens by log-odds with an informative Dirichlet prior (Monroe
    // et al. 2008), z-scored: the tokens that make a source READ
    // different from the rest of the corpus (q114's tf·idf is
    // doc-grain salience; this is the source-grain contrast a mixture
    // designer reads). Two token-keyed hash aggregates + an UNHINTED
    // vocabulary join (the q120 heavy-tail convention) + a broadcast
    // source-totals join; n and V from one bounded planning collect
    // (the q108 convention). Exactness by the q114 pattern: identical
    // integer inputs → identical doubles, identical op order, ranking
    // on the ROUNDED z with the token tiebreak so ulp-level ln()
    // divergence cannot reorder engines ──
    "q144_fightin_words" -> ((s, dir) => {
      val docs = Relational.widenForCpu(t(s, dir, "documents"),
        col("doc_id"))
      val tok = docs.select(col("source"),
        explode(text.tokens(col("text"))).as("t"))
      // materialized once: sw feeds THREE consumers (the scored join,
      // wt, st) — left lazy, the plan re-scans and re-tokenizes the
      // corpus three times (measured: 3 parallel widen+tokenize
      // subtrees in the physical plan). The (source, token) grain is
      // far smaller than corpus text, so one materialization beats
      // two extra corpus passes at any scale
      val sw = tok.groupBy(col("source"), col("t"))
        .agg(count(lit(1)).as("y_sw"))
        .localCheckpoint(eager = true)
      val wt = sw.groupBy(col("t")).agg(sum(col("y_sw")).as("y_w"))
      val st = sw.groupBy(col("source")).agg(sum(col("y_sw")).as("n_s"))
      val g = wt.agg(sum(col("y_w")), count(lit(1))).head()
      val nTot = g.getLong(0).toDouble
      val aV = 0.5 * g.getLong(1).toDouble
      val scored = sw.join(wt, "t")
        .join(broadcast(st), "source")
        .withColumn("rest", col("y_w") - col("y_sw"))
        .withColumn("delta",
          log((col("y_sw").cast("double") + 0.5) /
            (col("n_s").cast("double") + aV -
              col("y_sw").cast("double") - 0.5)) -
          log((col("rest").cast("double") + 0.5) /
            (lit(nTot) - col("n_s").cast("double") + aV -
              col("rest").cast("double") - 0.5)))
        .withColumn("z", round(col("delta") /
          sqrt(lit(1.0) / (col("y_sw").cast("double") + 0.5) +
            lit(1.0) / (col("rest").cast("double") + 0.5)), 6))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("z").desc, col("t").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("source"), col("rank"), col("t").as("token"),
          col("z"))
    }),

    // ── T7+NS: STREAMING NOVELTY MONITOR — q141's curve kept live
    // over the crawl stream: an at-rest first-seen shingle store
    // grown per batch (novel shingles append as the batch's segment —
    // store growth IS the novelty count), metrics sealed beside it,
    // exactly-once under retry (Streams.noveltyIngest scaladoc). Four
    // ordered batches (doc_id % 4, q141's batch key); the drained
    // metrics must reproduce the batch q141 curve exactly — shared
    // oracle ──
    "q145_stream_novelty" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q145_").toString
      val rows = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      val input = MemoryStream[(Long, String)]
      val stream = input.toDF().toDF("doc_id", "text")
      val ckpt = ephemeralCheckpoint("q145")
      val q = Streams.noveltyIngest(stream, "text", root,
        ckpt.getAbsolutePath, n = 3)
      try
        (0 until 4).foreach { r =>
          input.addData(rows.filter(_._1 % 4 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val report = s.read.parquet(root + "/metrics")
        .select(col("batch"), col("n_docs"),
          col("ds").as("distinct_shingles"),
          col("ns").as("novel_shingles"),
          when(col("ds") > 0,
            col("ns").cast("double") / col("ds").cast("double"))
            .otherwise(lit(0.0)).as("novelty"))
      materializeThenClean(s, report, root)
    }),

    // ── NS tokenizer TRAINING: BPE merge learning (Sennrich et al.
    // 2016) — the canonical "build the tokenizer FROM the corpus"
    // step, distributed the way it actually scales: ONE corpus-grain
    // token count collapses everything to the (distinct word, freq)
    // vocabulary table, and the merge loop then runs at VOCABULARY
    // grain (pair counts are freq-weighted aggregates; each learned
    // rule is one bounded TakeOrdered planning lookup, applied as a
    // literal string rewrite). Symbol sequences ride as
    // bracket-delimited strings ("<a><b><c>") so a merge is
    // `replace(str, "<a><b>", "<ab>")` — both engines' replace() is
    // left-to-right non-overlapping, which IS greedy BPE application
    // semantics, and the bracket boundaries make substring collisions
    // impossible (tokens containing the reserved brackets are
    // filtered, documented). Ties break (count desc, pair asc).
    // Integer counts + string rewrites end to end — zero float
    // surface; the oracle replays all five merges as chained CTEs
    // with scalar-subquery rewrites ──
    "q146_bpe_train" -> ((s, dir) => {
      import s.implicits._
      bpeMerges(s, dir, nMerges = 5).toDF("step", "pair", "merged", "cnt")
    }),

    // ── T7+NS: STREAMING EMBEDDING MOMENTS — the third form of the
    // q137 report (batch q137, incremental q138, streaming here —
    // the q116/q117/q118 triple replayed on the embedding side):
    // three micro-batches of vectors land additive per-(label,dim)
    // partials as sealed batchId segments (exactly-once, the q139/
    // q145 convention), and the drained store re-aggregates to the
    // batch q137 answer bit for bit — shared oracle ──
    "q148_stream_moments" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q148_").toString
      val rows = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
        .as[(Long, Seq[Float], Int)].collect().toSeq
      val input = MemoryStream[(Long, Seq[Float], Int)]
      val stream = input.toDF().toDF("vec_id", "embedding", "label")
      val ckpt = ephemeralCheckpoint("q148")
      val q = Streams.momentsIngest(stream, "embedding", "label",
        root, ckpt.getAbsolutePath)
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(_._1 % 3 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val report = s.read.parquet(root + "/partials")
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("n_vecs")).as("n_vecs"),
          sum(col("s_sum")).cast("decimal(38,0)").as("s_sum"),
          sum(col("q_sum")).cast("decimal(38,0)").as("q_sum"))
        .select(col("label"), col("pos"), col("n_vecs"),
          col("s_sum").cast("string").as("s_sum"),
          col("q_sum").cast("string").as("q_sum"),
          (col("n_vecs").cast("decimal(20,0)") * col("q_sum") -
            col("s_sum") * col("s_sum")).cast("decimal(38,0)")
            .cast("string").as("var_num"))
      materializeThenClean(s, report, root)
    }),

    // ── NS tokenizer APPLICATION: the learned q146 merges applied to
    // the whole corpus (rules broadcast as plan literals — the
    // production direction: training is vocabulary-grain, application
    // is a pure scan) with the per-source COMPRESSION report: symbols
    // per token before (= characters) and after the merges — the
    // measured "is this tokenizer worth shipping" number, and the
    // per-source spread flags sources the tokenizer serves badly.
    // Symbol counts are '<' counts (integer string arithmetic); the
    // oracle replays training AND application in chained CTEs ──
    "q147_bpe_apply" -> ((s, dir) => {
      val rules = bpeMerges(s, dir, nMerges = 5)
      val base = Relational
        .widenForCpu(t(s, dir, "documents"), col("doc_id"))
        .select(col("source"),
          explode(text.tokens(col("text"))).as("w"))
        .filter(!col("w").rlike("[<>\\x01]"))
      val applied = rules.foldLeft(
        regexp_replace(col("w"), "(.)", "<$1>")) {
        case (c, (_, p, m, _)) => replace(c, lit(p), lit(m))
      }
      base
        .withColumn("n_syms",
          length(applied) - length(replace(applied, lit("<"), lit(""))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(length(col("w")).cast("long")).as("chars_before"),
          sum(col("n_syms").cast("long")).as("syms_after"))
        .withColumn("compression",
          col("syms_after").cast("double") /
            col("chars_before").cast("double"))
    }),

    // ── NS CAPSTONE: CROSS-MODALITY TRAINING-PREP MANIFEST — the
    // q153/q194 composition extended across the full media matrix:
    // ONE manifest a multimodal training run budgets from. Per
    // (modality, source, split): item count, survivors, and kept
    // mass, where an item survives only if BOTH its own modality's
    // keeper rule keeps it AND its owning document survives text
    // dedup (a dropped page drops its attachments — the crawl
    // semantics). Text keeper = the q175 canonical-URL rule (longest
    // doc per canon, ties to min id); media keepers = the q178
    // min-id star-CC rule over each modality's REAL decoded
    // fingerprints (image grid hash / audio energy contour / video
    // sampled-frame min-Hamming pairs); fold = the q190
    // canonical-URL group hash of the OWNING doc, so a media item
    // can never land across the split boundary from its page. Mass
    // is per-modality units measured from the real decode — tokens /
    // bright cells / loud windows / bright frame-cells — that the
    // oracle re-derives from generation arithmetic alone (the
    // q172/q179 proof pattern); a production corpus passes bytes or
    // durations in the same column. The fixture's attachment rule is
    // media_id % |documents| (a production corpus carries an explicit
    // doc_id on each media row); |documents| is a catalog-grade
    // count, not a corpus scan. Fingerprints come from the SHARED
    // at-rest store (mediaFingerprintStore — one real decode per
    // corpus version, billed as store_build_sec; the decode-path
    // proofs stay with q172/q183/q180, which decode in-query BY
    // DESIGN): the oracle re-derives every hash from generation
    // arithmetic, so its match proves the stored fingerprints are
    // the real decode's output. Every stage is oracle-proven alone
    // (q172/q175/q178/q180/q183/q190); THIS gates the composition ──
    "q208_modality_manifest" -> ((s, dir) => {
      def fold(h: Column) = Relational.foldOf(h)
      val nDocs = t(s, dir, "documents").count()
      val w = Window.partitionBy(col("canon"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      // referenced by the text rows AND three media joins — one
      // window pass, checkpointed (the phashPairs rationale)
      val docs = graft.Phases.time("q208_docs_ckpt") {
        syntheticUrlDocs(s, dir)
          .withColumn("split",
            fold(hashes.md5Hash60(col("canon")) % 10))
          .withColumn("doc_kept", row_number().over(w) === 1)
          .select(col("doc_id"), col("source"), col("split"),
            col("doc_kept"),
            text.tokenCount(col("text")).cast("long").as("toks"))
          .localCheckpoint()
      }
      // items: (id, is_keeper, mass) → per-(source, split) rollup
      // through the owning doc (broadcast — docs is catalog-sized
      // next to a media corpus)
      def rollup(modality: String, items: DataFrame): DataFrame =
        items
          .withColumn("doc_id", col("id") % nDocs)
          .join(broadcast(docs), Seq("doc_id"))
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_items"),
            sum(when(col("is_keeper") && col("doc_kept"), 1L)
              .otherwise(0L)).as("n_kept"),
            sum(when(col("is_keeper") && col("doc_kept"), col("mass"))
              .otherwise(0L)).as("kept_mass"))
          .withColumn("modality", lit(modality))
      def keeperJoin(withMass: DataFrame, cc: DataFrame): DataFrame =
        withMass.join(cc, Seq("id"), "left")
          .withColumn("is_keeper",
            coalesce(col("keeper"), col("id")) === col("id"))
      val fpStore = mediaFingerprintStore(s, dir)
      def docPairs(fp: DataFrame) = Dedup.hammingNearDupPairs(fp,
        radius = 4, width = 64, blocks = Some(8), keyBlocks = 1)
      // the three modality keeper chains are independent and each
      // one's CC is a DRIVER-SIDE loop of per-round jobs
      // (connectedComponentsStar) that runs eagerly at construction
      // — serialized they were most of this query's wall (r19
      // measured ~25-40 sequential CC-round jobs); graft.Par
      // overlaps them without changing any branch's plan
      val branches = graft.Par.run(Seq(
        () => graft.Phases.time("q208_img_cc") {
          val ifp = s.read.parquet(fpStore + "/img")
          keeperJoin(
            ifp.select(col("doc").as("id"),
              bit_count(col("fp")).cast("long").as("mass")),
            Dedup.connectedComponentsStar(docPairs(ifp),
              "doc_a", "doc_b").toDF("id", "keeper"))
        },
        () => graft.Phases.time("q208_aud_cc") {
          val afp = s.read.parquet(fpStore + "/aud")
          keeperJoin(
            afp.select(col("doc").as("id"),
              bit_count(col("fp")).cast("long").as("mass")),
            Dedup.connectedComponentsStar(docPairs(afp),
              "doc_a", "doc_b").toDF("id", "keeper"))
        },
        () => graft.Phases.time("q208_vid_cc") {
          val vfp = s.read.parquet(fpStore + "/vid")
          keeperJoin(
            vfp.select(expr("doc div 8").as("id"),
                bit_count(col("fp")).cast("long").as("fmass"))
              .groupBy(col("id")).agg(sum(col("fmass")).as("mass")),
            Dedup.connectedComponentsStar(
              videoPairsFromFrames(vfp)
                .select(col("vid_a"), col("vid_b")),
              "vid_a", "vid_b")
              .toDF("id", "keeper"))
        }))
      val (img, aud, vid) = (branches(0), branches(1), branches(2))
      val textRows = docs.groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("doc_kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("doc_kept"), col("toks")).otherwise(0L))
            .as("kept_mass"))
        .withColumn("modality", lit("text"))
      textRows
        .unionByName(rollup("image", img))
        .unionByName(rollup("audio", aud))
        .unionByName(rollup("video", vid))
        .select(col("modality"), col("source"), col("split"),
          col("n_items"), col("n_kept"), col("kept_mass"))
    }),

    // ── NS training-data: FOLD-DRIFT REPORT — the measured residual
    // of fold-at-ingest (q205's documented honest limit: landed docs
    // are never re-folded, so a LATER bridge doc can merge two
    // components that were folded separately — drift the at-ingest
    // assignment cannot prevent). THIS is the "when to re-fold"
    // number, the role pruningDilution plays for compaction:
    // at-ingest folds (each doc's component label AS OF its own
    // batch — the q205 read) compared against the FINAL component
    // fold. Per source: n_moved = docs a re-fold would move,
    // n_leaky_docs = docs in final components whose members'
    // at-ingest folds disagree (the eval-integrity damage a re-fold
    // repairs — a near-dup pair straddling train/eval TODAY).
    // Fixture: batch 0 = the corpus, batch 1 = bridge docs carrying
    // a partner doc's exact text (a jaccard-1 edge) plus the origin
    // doc's canon key (a same-key min-edge), so each bridge merges
    // two batch-0 components through both edge kinds. ONE pair pass
    // (edges tagged with the batch that makes them visible); both
    // prefixes label through the same componentGroups core
    // q197/q205 run ──
    "q209_fold_drift" -> ((s, dir) => {
      def fold(h: Column) = Relational.foldOf(h)
      val docs = syntheticUrlDocs(s, dir)
      val orig = docs.select(col("doc_id"), lit(0).as("b"),
        col("canon").as("ckey"), col("source"), col("text"))
      val partner = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ptext"))
      val bridges = docs.filter(col("doc_id") % 21 === 0)
        .join(partner, Seq("doc_id"))
        .select((col("doc_id") + 5000000L).as("doc_id"),
          lit(1).as("b"), col("canon").as("ckey"), col("source"),
          col("ptext").as("text"))
      // read by the pair pass and both prefix labelings
      val alld = orig.unionByName(bridges).localCheckpoint()
      val pairs = Dedup.minhashNearDupPairs(alld, "doc_id", "text",
          shingleN = 2, k = 64, bands = 32, threshold = 0.5)
        .join(alld.select(col("doc_id").as("doc_a"),
          col("b").as("ba")), "doc_a")
        .join(alld.select(col("doc_id").as("doc_b"),
          col("b").as("bb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          greatest(col("ba"), col("bb")).as("eb"))
        .localCheckpoint()
      def comps(p: Int) = Dedup.componentGroups(
        alld.filter(col("b") <= p), "doc_id", col("ckey"),
        pairs.filter(col("eb") <= p).select("doc_a", "doc_b"))
      // the two prefix labelings are independent eager CC runs
      // (driver-side round loops) over the same checkpointed
      // inputs — overlapped, plans unchanged (the q208 convention)
      val prefixes = graft.Par.run(Seq(() => comps(0), () => comps(1)))
      // read twice: batch-1 docs' at-ingest label IS the final label
      val fin = prefixes(1)
        .select(col("doc_id"), col("group").as("fgrp"))
        .localCheckpoint()
      val atIngest = alld.filter(col("b") === 0).select("doc_id")
        .join(prefixes(0), Seq("doc_id"))
        .select(col("doc_id"), col("group").as("igrp"))
        .unionByName(alld.filter(col("b") === 1).select("doc_id")
          .join(fin, Seq("doc_id"))
          .select(col("doc_id"), col("fgrp").as("igrp")))
      val rep = alld.select(col("doc_id"), col("source"))
        .join(atIngest, "doc_id").join(fin, "doc_id")
        .withColumn("isplit",
          fold(hashes.md5Hash60(col("igrp").cast("string")) % 10))
        .withColumn("fsplit",
          fold(hashes.md5Hash60(col("fgrp").cast("string")) % 10))
      val leaky = rep.groupBy(col("fgrp"))
        .agg(countDistinct(col("isplit")).as("_nsp"))
        .filter(col("_nsp") > 1)
        .select(col("fgrp"), lit(true).as("_lk"))
      rep.join(leaky, Seq("fgrp"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fgrp")).as("n_final_groups"),
          sum(when(col("isplit") =!= col("fsplit"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(when(col("_lk"), 1L).otherwise(0L)).as("n_leaky_docs"))
    }),

    // ── T7+NS: LIVE FOLD-DRIFT MONITOR — the drift lifecycle
    // closed (q209 measures at rest, `refold` repairs, THIS watches
    // AT INGEST): componentFoldIngest's drift leg compares, per
    // micro-batch, the PRIOR manifest rows in components the batch's
    // edges touched against the fold their NEW component label
    // implies, sealing doc-grain verdicts per batch — the alarm that
    // tells a curator WHEN to refold without a batch re-measure.
    // Fixture: batch 0 = the corpus, batches 1/2 = two waves of
    // q209's BRIDGE docs (a partner doc's exact text + the origin's
    // canon key), each wave merging batch-0 components — so real
    // drift lands in BOTH monitored batches and the zero-drift rows
    // (merges whose relabeled fold hashes unchanged) gate alongside
    // it. Oracle = the shared per-prefix component rendering read at
    // every (prior doc, later prefix) pair, restricted to
    // batch-touched components exactly as the sink restricts ──
    "q210_stream_fold_drift" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q210_").toString
      val docs = syntheticUrlDocs(s, dir)
      val orig = docs.select(col("doc_id"),
        lit(0).cast("int").as("b"),
        col("canon").as("ckey"), col("source"), col("text"))
      val partner = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ptext"))
      def bridges(res: Int, off: Long, b: Int) = docs
        .filter(col("doc_id") % 42 === res)
        .join(partner, Seq("doc_id"))
        .select((col("doc_id") + off).as("doc_id"),
          lit(b).cast("int").as("b"),
          col("canon").as("ckey"), col("source"),
          col("ptext").as("text"))
      val rows = orig
        .unionByName(bridges(0, 5000000L, 1))
        .unionByName(bridges(21, 6000000L, 2))
        .as[(Long, Int, String, String, String)].collect().toSeq
      val emptyDocs = docs.select(col("doc_id"), col("text")).limit(0)
      Dedup.writeNearDupIndex(emptyDocs, "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, dir = root + "/store/index")
      Dedup.writePairStore(emptyDocs, "doc_id", "text",
        root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      orig.select(col("doc_id"), col("ckey"), col("source")).limit(0)
        .write.parquet(root + "/store/docs/docs")
      val input = MemoryStream[(Long, String, String, String)]
      val stream = input.toDF()
        .toDF("doc_id", "ckey", "source", "text")
      val ckpt = ephemeralCheckpoint("q210")
      val q = Streams.componentFoldIngest(stream, "doc_id", "text",
        "ckey", "source", root + "/store", root + "/out",
        ckpt.getAbsolutePath, shingleN = 2, k = 64, bands = 32,
        threshold = 0.5, driftDir = Some(root + "/drift"))
      try
        (0 until 3).foreach { r =>
          input.addData(rows.filter(_._2 == r)
            .map(t => (t._1, t._3, t._4, t._5)))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      val res = s.read.parquet(root + "/drift")
        .groupBy(col("batch_id").cast("long").as("batch_id"),
          col("old_split"), col("new_split"))
        .agg(count(lit(1)).as("n_prior"),
          sum(when(col("drifted"), 1L).otherwise(0L)).as("n_drifted"))
      materializeThenClean(s, res, root)
    }),

    // ── NS training-data: CROSS-MODALITY MANIFEST AT INGEST — the
    // q208 composition maintained PER CRAWL BATCH (Streams
    // .modalityManifestIngest scaladoc): q208's three star-CCs
    // become per-modality LabelStores fed by the pair-grain phash
    // mark against the grown pigeonhole index, its corpus keeper
    // window becomes a monotone champion store, and the final
    // manifest is ONE read over the at-rest structures — no CC, no
    // window. The docs stream in three id-residue batches; each
    // batch's media fingerprints (the items whose OWNING doc is in
    // the batch) arrive with it, sliced from the shared phash store
    // (decode billed once in store_build_sec, the q208 convention).
    // Output ≡ the batch q208 answer bit for bit — ONE SHARED ORACLE
    // (the verdict-5 done criterion): the oracle cannot tell which
    // engine path produced the manifest, which is the whole claim ──
    "q211_stream_modality_manifest" -> ((s, dir) => {
      val root = ensureStreamedModalityStore(s, dir)
      val res = Streams.modalityManifestReport(s, root, "doc_id",
        "canon", "source", "toks", Seq("image", "audio", "video"),
        h => Relational.foldOf(h % 10))
      materialize(s, res)
    }),

    // ── NS streaming: the q211 manifest's PER-BATCH DELTA rows —
    // the curator read without the item-grain join: every batch of
    // the SAME at-ingest lifecycle also seals additive
    // (modality, source, split) delta partials (kept corrections
    // SIGNED — a champion dethronement or keeper merge subtracts
    // what it previously contributed), derived purely from at-rest
    // pre/post store views (store minus/plus the batch's own seg
    // files — retry recomputes identical rows), and the running
    // manifest is ONE SUM over the delta table: no label-store
    // read, no champion window, no CC. ONE SHARED ORACLE with
    // q208/q211 — the summed deltas must be bit-indistinguishable
    // from the batch-computed manifest ──
    "q214_modality_manifest_deltas" -> ((s, dir) => {
      val root = ensureStreamedModalityStore(s, dir)
      val res = Streams.modalityManifestFromDeltas(s, root, "source")
      materialize(s, res)
    }),


    // ── NS training-data: STORE-BACKED FOLD-DRIFT REPORT — q209's
    // at-rest measurement with the component RE-WALK removed (the
    // last of the r16 verdict's three label-store consumers: q210's
    // drift leg and `refold` already read the store): the q209
    // fixture streams through componentFoldIngest, and the report is
    // TWO STORE READS — the sealed manifests carry every doc's
    // at-ingest fold (q209's per-prefix labeling, decided when the
    // doc landed), the label store carries the final labels (≡ a
    // from-scratch componentGroups, LabelStoreSpec) — joined and
    // aggregated with the q209 arithmetic. No CC, no pair pass, no
    // re-tokenization at report time. ONE SHARED ORACLE with q209:
    // the store-backed report must be bit-indistinguishable from
    // the re-walk one ──
    "q212_fold_drift_stored" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      def fold(h: Column) = Relational.foldOf(h)
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val root = java.nio.file.Files
        .createTempDirectory("graft_q212_").toString
      val docs = syntheticUrlDocs(s, dir)
      val orig = docs.select(col("doc_id"), lit(0).as("b"),
        col("canon").as("ckey"), col("source"), col("text"))
      val partner = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("ptext"))
      val bridges = docs.filter(col("doc_id") % 21 === 0)
        .join(partner, Seq("doc_id"))
        .select((col("doc_id") + 5000000L).as("doc_id"),
          lit(1).as("b"), col("canon").as("ckey"), col("source"),
          col("ptext").as("text"))
      val rows = orig.unionByName(bridges)
        .as[(Long, Int, String, String, String)].collect().toSeq
      val emptyDocs = docs.select(col("doc_id"), col("text")).limit(0)
      Dedup.writeNearDupIndex(emptyDocs, "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, dir = root + "/store/index")
      Dedup.writePairStore(emptyDocs, "doc_id", "text",
        root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      orig.select(col("doc_id"), col("ckey"), col("source")).limit(0)
        .write.parquet(root + "/store/docs/docs")
      val input = MemoryStream[(Long, String, String, String)]
      val stream = input.toDF()
        .toDF("doc_id", "ckey", "source", "text")
      val ckpt = ephemeralCheckpoint("q212")
      val q = Streams.componentFoldIngest(stream, "doc_id", "text",
        "ckey", "source", root + "/store", root + "/out",
        ckpt.getAbsolutePath, shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      try
        (0 until 2).foreach { r =>
          input.addData(rows.filter(_._2 == r)
            .map(t => (t._1, t._3, t._4, t._5)))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      // the report: manifests (at-ingest folds) × label store
      // (final labels) — the q209 arithmetic over two store reads
      val man = s.read.parquet(root + "/out")
        .select(col("doc_id"), col("source"),
          col("split").as("isplit"))
      val fin = graft.operators.LabelStore
        .read(s, root + "/store/labels")
        .select(col("doc_id"), col("group").as("fgrp"))
      val rep = man.join(fin, Seq("doc_id"))
        .withColumn("fsplit",
          fold(hashes.md5Hash60(col("fgrp").cast("string")) % 10))
      val leaky = rep.groupBy(col("fgrp"))
        .agg(countDistinct(col("isplit")).as("_nsp"))
        .filter(col("_nsp") > 1)
        .select(col("fgrp"), lit(true).as("_lk"))
      val res = rep.join(leaky, Seq("fgrp"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fgrp")).as("n_final_groups"),
          sum(when(col("isplit") =!= col("fsplit"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(when(col("_lk"), 1L).otherwise(0L)).as("n_leaky_docs"))
      materializeThenClean(s, res, root)
    }),

    // ── NS streaming: the FLAGSHIP q153 composition AT INGEST — the
    // q211 move on the text capstone: three crawl micro-batches grow
    // the signature index + pair store + union-find label store and
    // seal each doc's STATIC attributes (exact key, token count,
    // quality, contamination vs the stream-static eval suite) once;
    // the manifest is then a STORE READ (exact keeper = min id per
    // sealed key, near-dup keeper = token-argmax within the label
    // store's component, mix cuts from the sealed counts) with no
    // re-tokenization, no pair recompute, no CC. Batches split by
    // id residue, so near-dup pairs and exact twins STRADDLE batches
    // — a later batch's doc flips an earlier doc's keeper verdict
    // only through store growth. ONE SHARED ORACLE with q153: the
    // decomposition must be bit-indistinguishable from the batch
    // pipeline ──
    "q213_stream_training_manifest" -> ((s, dir) => {
      val root = ensureTrainingPrepStore(s, dir)
      val rep = Streams.trainingPrepReport(s, root + "/store",
        "doc_id", "source", budgetTokens = q124Budget)
      materialize(s, rep)
    }),

    // ── NS streaming: the q213 manifest's PER-BATCH DELTA partials
    // — the q214 move on the text capstone: every crawl batch also
    // seals additive per-source survival-count deltas (SIGNED — a
    // dethroned exact champion or near-dup keeper subtracts what it
    // previously contributed) plus a per-(source, mix-bucket)
    // histogram of quality survivors, derived purely from at-rest
    // pre/post store views. The report is ONE SUM over the partials
    // — no flags windows, no label-store read, no per-doc pass; the
    // GLOBAL temperature mix stays exact because the histogram's
    // bucket grain is the selection hash itself (cuts re-derive
    // from summed totals, buckets under the cut ARE the mixed
    // docs). ONE SHARED ORACLE with q153/q213 — three consumers of
    // one oracle: batch, store read, delta sum ──
    "q215_training_manifest_deltas" -> ((s, dir) => {
      val root = ensureTrainingPrepStore(s, dir)
      val rep = Streams.trainingPrepReportFromDeltas(s,
        root + "/store", "source", budgetTokens = q124Budget)
      materialize(s, rep)
    })
  )

  /** The q211/q214 fixture stream: the full url-doc corpus in two
    * balanced div-8 id-residue batches through
    * [[Streams.modalityManifestIngest]] against a fresh temp store
    * root (returned for the caller's report read). Media
    * fingerprints are sliced from the shared phash store by OWNING
    * doc and travel with an explicit `owner` column — the engine
    * stores ownership instead of deriving fixture arithmetic. */
  /** ONE streamed modality-store lifecycle per corpus version (the
    * ensurePairStore convention applied to a STREAM): the first
    * consumer (q211 — or the Bench pre-build) pays the two-batch
    * at-ingest run under the store lease and seals a `_STREAMED`
    * marker; every later consumer (q214's delta sum) reads the same
    * stores at rest. A crashed half-stream (no marker) is deleted
    * and re-run whole — the sealed-batch machinery would resume it,
    * but whole-restart is the simpler invariant for a scratch-rooted
    * fixture store. */
  private def ensureStreamedModalityStore(s: SparkSession,
      dir: String): String = {
    val root = versionedStoreDir("graft_mmstream_store", dir,
      "r4w64b8k1")
    val marker = new org.apache.hadoop.fs.Path(s"$root/_STREAMED")
    val fs = marker.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      graft.sources.StoreLease.withLease(s, root, "mmstream-build") {
        if (!fs.exists(marker)) {
          Scratch.deleteRecursively(new java.io.File(root))
          graft.Phases.time("mmstream_build") {
            streamModalityInto(s, dir, root)
          }
          fs.create(marker, true).close()
        }
      }
    }
    root
  }

  private def streamModalityInto(s: SparkSession, dir: String,
      root: String): Unit = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ns = drainSession(s)
      import ns.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
      val nDocs = t(s, dir, "documents").count()
      val fpStore = mediaFingerprintStore(s, dir)
      val docRows = syntheticUrlDocs(s, dir)
        .select(col("doc_id"), col("canon"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          text.tokenCount(col("text")).cast("long").as("toks"))
        .as[(Long, String, String, Long, Long)].collect().toSeq
      val input = MemoryStream[(Long, String, String, Long, Long)]
      val stream = input.toDF()
        .toDF("doc_id", "canon", "source", "n_chars", "toks")
      val mediaOf = (bs: SparkSession,
          b: org.apache.spark.sql.DataFrame) => {
        val ids = b.select(col("doc_id").as("_q211_owner"))
          .localCheckpoint()
        // owner travels WITH the fingerprints (a media item knows
        // its document) — the engine stores it instead of deriving
        // ownership arithmetic that only the fixture knows
        def slice(tbl: String, ownerOf: Column) =
          bs.read.parquet(s"$fpStore/$tbl")
            .join(ids, ownerOf === col("_q211_owner"), "left_semi")
            .withColumn("owner", ownerOf)
        Seq(
          ("image", slice("img", col("doc") % nDocs),
            (c: Column) => c),
          ("audio", slice("aud", col("doc") % nDocs),
            (c: Column) => c),
          ("video",
            slice("vid",
              floor(col("doc") / 8).cast("long") % nDocs),
            (c: Column) => floor(c / 8).cast("long")))
      }
      val ckpt = ephemeralCheckpoint("mmstream")
      val q = Streams.modalityManifestIngest(stream, "doc_id",
        "canon", "source", "n_chars", "toks", mediaOf, root,
        ckpt.getAbsolutePath, radius = 4, width = 64, blocks = 8,
        keyBlocks = 1, foldOf10 = h => Relational.foldOf(h % 10))
      try
        // two id-residue batches: enough to prove incrementality
        // (near-dup pairs and champion upgrades cross the boundary;
        // StreamingSpec pins the multi-batch semantics) without a
        // third full store cycle on the bench wall
        (0 until 2).foreach { r =>
          // residue of doc_id/8, not doc_id: the media fixtures live
          // on multiples of 8/16/40, so any finer split leaves one
          // batch media-empty and streams nothing across the
          // boundary (measured: both halves carry ~50% of every
          // modality at all three SFs)
          input.addData(docRows.filter(t => (t._1 / 8) % 2 == r))
          q.processAllAvailable()
        }
      finally {
        try q.stop()
        finally Scratch.deleteRecursively(ckpt)
      }
      ()
  }

  /** ONE streamed training-prep lifecycle per corpus version — the
    * [[ensureStreamedModalityStore]] convention on the text
    * capstone: q213 (store-read report) and q215 (delta sum) share
    * the three-batch at-ingest run; Bench pre-builds it as
    * `prep_store` so the headline walls measure the reads. */
  private def ensureTrainingPrepStore(s: SparkSession,
      dir: String): String = {
    val root = versionedStoreDir("graft_prepstream_store", dir,
      "n2k64b32t05c3")
    val marker = new org.apache.hadoop.fs.Path(s"$root/_STREAMED")
    val fs = marker.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      graft.sources.StoreLease.withLease(s, root, "prepstream-build") {
        if (!fs.exists(marker)) {
          Scratch.deleteRecursively(new java.io.File(root))
          graft.Phases.time("prepstream_build") {
            streamTrainingPrepInto(s, dir, root)
          }
          fs.create(marker, true).close()
        }
      }
    }
    root
  }

  private def streamTrainingPrepInto(s: SparkSession, dir: String,
      root: String): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ns = drainSession(s)
    import ns.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
    val docs = t(s, dir, "documents")
    val isEval = col("doc_id") % 17 === 3
    val rows = docs.filter(!isEval)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)].collect().toSeq
    val emptyDocs = docs.select(col("doc_id"), col("text")).limit(0)
    Dedup.writeNearDupIndex(emptyDocs, "doc_id", "text",
      shingleN = 2, k = 64, bands = 32, dir = root + "/store/index")
    Dedup.writePairStore(emptyDocs, "doc_id", "text",
      root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
      threshold = 0.5)
    val input = MemoryStream[(Long, String, String)]
    val stream = input.toDF().toDF("doc_id", "source", "text")
    val ckpt = ephemeralCheckpoint("prepstream")
    val q = Streams.trainingPrepIngest(stream, "doc_id", "text",
      "source", docs.filter(isEval).select(col("doc_id"),
        col("text")), root + "/store", ckpt.getAbsolutePath,
      shingleN = 2, k = 64, bands = 32, threshold = 0.5)
    try
      (0 until 3).foreach { r =>
        input.addData(rows.filter(_._1 % 3 == r))
        q.processAllAvailable()
      }
    finally {
      try q.stop()
      finally Scratch.deleteRecursively(ckpt)
    }
    ()
  }

  /** The q92/q149 media fixture: one deterministic two-tone PNG per
    * event id, REALLY encoded (PngEncoder) inside the tasks.
    * Repartitioning the (8-byte) id column first matters: the narrow
    * scan is one input split, and mapPartitions parallelism IS
    * partition count — a cheap shuffle of ids buys every core for
    * the codec work (the plan shape a real media pipeline needs:
    * codec cost scales with cores, not files). */
  private def twoTonePngs(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Multimodal.decodePartitions[(Long, Array[Byte])](
      t(s, dir, "events").select(col("event_id"))
        .repartition(s.sparkContext.defaultParallelism),
      rows => {
        val enc = new graft.operators.PngEncoder() // once per task
        rows.map { r =>
          val id = r.getLong(0)
          def c(m: Long) = ((m * id) % 256L).toInt
          val left = (c(1) << 16) | (c(3) << 8) | c(5)
          val right = (c(7) << 16) | (c(11) << 8) | c(13)
          (id, enc.encode(
            8 + (id % 5L).toInt * 2, 6 + (id % 4L).toInt, left, right))
        }
      })(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
      .toDF("event_id", "payload")

  /** Shared by q110/q175: the deterministic synthetic-URL fixture —
    * every document gets a url derived from (source, lang, doc_id)
    * with utm-parameter and fragment noise on id-residue subsets, so
    * canonicalization genuinely collapses groups — plus its
    * canonical form and host. A canonicalization report is ABOUT
    * urls: docs with a NULL url are out of scope, filtered here in
    * lockstep with the oracle CTE ([[urlCanonCtes]]). */
  private def syntheticUrlDocs(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val hostCol = concat(
      when(col("doc_id") % 2 === 0, upper(col("source")))
        .otherwise(col("source")),
      lit(".example.com"))
    val rawUrl = concat(
      lit("https://"), hostCol,
      lit("/"), col("lang"), lit("/page/"),
      (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&utm_medium=m"),
          (col("doc_id") % 7).cast("string")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("?id="), (col("doc_id") % 10).cast("string"),
            lit("&utm_campaign=c"), (col("doc_id") % 4).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit("#sec"), (col("doc_id") % 4).cast("string")))
        .otherwise(lit("")))
    t(s, dir, "documents")
      .withColumn("url", rawUrl)
      .filter(col("url").isNotNull)
      .withColumn("canon", urls.canonicalize(col("url")))
      .withColumn("domain", urls.host(col("url")))
  }

  /** Shared by q172 (pairs) and q178 (keeper resolution of exactly
    * those pairs): the decoded fingerprint frame (checkpointed — the
    * blocking self-join references it on both sides, and an uncached
    * decode subtree would re-run the full codec pass per side) and
    * the radius-4 pigeonhole pair set. ONE definition so the
    * "pairs → groups → keeper" lifecycle cannot drift if the
    * radius/blocks/grid parameters are ever retuned. */
  private[graft] def phashPairs(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val fp = Multimodal.decodePartitions[(Long, Long)](
      patternPngs(s, dir), Multimodal.decodeGridHash(8, 8, 128))(
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .toDF("doc", "fp")
      .localCheckpoint()
    (fp, Dedup.hammingNearDupPairs(fp, radius = 4, width = 64,
      blocks = Some(8), keyBlocks = 1))
  }

  /** Read-only probe for the version-keyed shared fingerprint store
    * ([[mediaFingerprintStore]]'s layout): Some(root) only when the
    * store is already BUILT for this corpus version (the vid table's
    * _SUCCESS lands last, so its presence certifies all three) —
    * never builds. The health verbs consume through this: a census
    * over an existing store costs the blocking aggregate alone (the
    * q208 convention), while a missing store falls back to the
    * decoding forms. img-health stays decode-always — the
    * codec-path canary the builder keeps on purpose. */
  private[graft] def mediaFingerprintStoreIfBuilt(s: SparkSession,
      dir: String): Option[String] = {
    val store = versionedStoreDir("graft_phash_store", dir,
      "img8x8aud64vid258")
    val marker = new org.apache.hadoop.fs.Path(s"$store/vid/_SUCCESS")
    val fs = marker.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(marker)) Some(store) else None
  }

  /** Store-reading twins of [[phashPairs]] / [[audioPhashPairs]] /
    * [[videoPhashPairs]]: the same (fingerprints, pairs) contract
    * with the per-invocation decode pass replaced by one parquet
    * scan of the shared store (fingerprint content is identical by
    * construction — the store is built by the same decode lambdas).
    * None when the store is not built for this corpus version. */
  private[graft] def phashPairsStored(s: SparkSession, dir: String)
      : Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] =
    mediaFingerprintStoreIfBuilt(s, dir).map { st =>
      val fp = s.read.parquet(s"$st/img").localCheckpoint()
      (fp, Dedup.hammingNearDupPairs(fp, radius = 4, width = 64,
        blocks = Some(8), keyBlocks = 1))
    }

  private[graft] def audioPhashPairsStored(s: SparkSession,
      dir: String): Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] =
    mediaFingerprintStoreIfBuilt(s, dir).map { st =>
      val fp = s.read.parquet(s"$st/aud").localCheckpoint()
      (fp, Dedup.hammingNearDupPairs(fp, radius = 4, width = 64,
        blocks = Some(8), keyBlocks = 1))
    }

  private[graft] def videoPhashPairsStored(s: SparkSession,
      dir: String): Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] =
    mediaFingerprintStoreIfBuilt(s, dir).map { st =>
      val fp = s.read.parquet(s"$st/vid").localCheckpoint()
      (fp, videoPairsFromFrames(fp))
    }

  /** The q172 media fixture: one deterministic 16×16 gray PNG per
    * 8th event id (the slice keeps the oracle's all-pairs recompute
    * bounded). Pixels are solid 2×2 blocks on an 8×8 cell grid; cell
    * i (row-major) is bright (200) or dark (60) by
    * `base(id%50, i) XOR flip(id, i)` with
    * `base(p, i) = ((p+1)*(i+3) % 97) % 2` and `k = (id/8) % 3`
    * flipped positions at `((id/8)*13 + f*29) % 64`. The base MUST
    * be nonlinear in (p, i) jointly: any affine-in-i formula mod a
    * small prime collapses the 50 patterns to that prime's residue
    * classes (measured: 7 distinct patterns from a `%7` form); the
    * multiplicative form gives 50 distinct patterns at min pairwise
    * Hamming 16 — so same-pattern pairs (≤ 4 flips apart) are
    * cleanly inside radius 4 and cross-pattern pairs cleanly
    * outside, and the oracle rebuilds every 64-bit hash from id
    * arithmetic alone. Gray pixels make decoded luma exact. */
  private def patternPngs(s: SparkSession, dir: String,
      idFilter: Column = lit(true), patShift: Int = 0)
      : org.apache.spark.sql.DataFrame =
    Multimodal.decodePartitions[(Long, Array[Byte])](
      t(s, dir, "events").select(col("event_id"))
        .filter(col("event_id") % 8 === 0)
        // applied BEFORE the encode seam: a filter on the returned
        // frame cannot push through the opaque mapPartitions, so a
        // caller slicing the fixture (q176's index/batch halves)
        // must pass it here or pay the full encode pass per slice
        .filter(idFilter)
        .repartition(s.sparkContext.defaultParallelism),
      rows => {
        val enc = new graft.operators.PngEncoder() // once per task
        rows.map { r =>
          val id = r.getLong(0)
          // patShift rotates the base-pattern id: a slice whose ids
          // all sit on even residues mod 50 can be given the 25 ODD
          // patterns instead (q177's streamed images — new content
          // the stored index has never seen, min cross-distance
          // 16 − 4 > radius, so only index GROWTH can flag them)
          val p = ((id % 50L).toInt + patShift) % 50
          val m = id / 8
          val k = (m % 3L).toInt
          val flips =
            (0 until k).map(f => ((m * 13 + f * 29) % 64L).toInt).toSet
          (id, enc.encodePixels(16, 16, (x, y) => {
            val i = (y / 2) * 8 + (x / 2)
            val bit = ((((p + 1) * (i + 3)) % 97) % 2) ^
              (if (flips(i)) 1 else 0)
            val v = if (bit == 1) 200 else 60
            (v << 16) | (v << 8) | v
          }))
        }
      })(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
      .toDF("event_id", "payload")

  /** The q172 lifecycle's audio twin, shared by q183 and the
    * `aud-health` verb: the decoded energy-contour fingerprint frame
    * (checkpointed — the blocking self-join reads both sides, and an
    * uncached decode subtree would run the codec pass twice) and the
    * radius-4 pigeonhole pair set. */
  private[graft] def audioPhashPairs(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val fp = Multimodal.decodePartitions[(Long, Long)](
      patternWavs(s, dir),
      Multimodal.decodeAudioEnergyHash(64, 1000))(
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .toDF("doc", "fp")
      .localCheckpoint()
    (fp, Dedup.hammingNearDupPairs(fp, radius = 4, width = 64,
      blocks = Some(8), keyBlocks = 1))
  }

  /** The q180 dataflow, shared by the registration and the
    * `vid-health` verb: the frame-grain fingerprint frame
    * (checkpointed — the blocking self-join reads both sides) and
    * the VIDEO-grain near-dup pair set (min frame-pair Hamming per
    * video pair). Frame ids pack as vid*8+frame; frame-grain
    * doc_a < doc_b with distinct videos already implies
    * vid_a < vid_b. `div` = integer floor division, bit-equal to
    * DuckDB's `//`. */
  private[graft] def videoPhashPairs(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val fp = Multimodal.decodePartitions[(Long, Int, Long)](
      patternVideos(s, dir),
      Multimodal.decodeSampledVideoGridHash(2, 8, 8, 128))(
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaLong))
      .toDF("vid", "frame", "fp")
      .select((col("vid") * 8 + col("frame")).as("doc"), col("fp"))
      .localCheckpoint()
    (fp, videoPairsFromFrames(fp))
  }

  /** VIDEO-grain near-dup pairs from a frame-grain fingerprint frame
    * (doc packs as vid*8+frame): the blocking + min-Hamming
    * aggregation of [[videoPhashPairs]], factored so the
    * store-reading composition (q208) and the decoding gate (q180)
    * share one definition. */
  private def videoPairsFromFrames(
      fp: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Dedup.hammingNearDupPairs(fp, radius = 4, width = 64,
        blocks = Some(8), keyBlocks = 1)
      .select(expr("doc_a div 8").as("vid_a"),
        expr("doc_b div 8").as("vid_b"),
        col("hamming"))
      .filter(col("vid_a") =!= col("vid_b"))
      .groupBy(col("vid_a"), col("vid_b"))
      .agg(min(col("hamming")).as("min_hamming"),
        count(lit(1)).as("n_frame_pairs"))

  /** The q183 media fixture: one deterministic 16-bit PCM WAV per
    * 16th event id (the oracle's all-pairs recompute stays bounded).
    * 256 mono samples at 8 kHz laid out as 64 windows × 4 samples;
    * window w of audio id is LOUD (±9600) or QUIET (±160) by the
    * q172 pattern family — `base(p, w) XOR flip` with p = id % 50,
    * m = id/16, k = m % 3 flips at ((m·13 + f·29) % 64) — so the
    * min-distance argument (same-pattern pairs ≤ 4 apart,
    * cross-pattern ≥ 16 − 4 apart) is inherited, while the ENGINE
    * path is the audio codec: RIFF encode here, real javax.sound
    * decode + windowed energy in the query. Samples alternate sign
    * inside a window (a square tone, not DC); the energy hash's |s|
    * is sign-blind, so the decoded window means are exactly 9600 or
    * 160 against the 1000 threshold — the oracle rebuilds every
    * hash from id arithmetic alone. */
  private def patternWavs(s: SparkSession, dir: String,
      idFilter: Column = lit(true), patShift: Int = 0)
      : org.apache.spark.sql.DataFrame =
    Multimodal.decodePartitions[(Long, Array[Byte])](
      t(s, dir, "events").select(col("event_id"))
        .filter(col("event_id") % 16 === 0)
        // BEFORE the encode seam (the patternPngs rationale): a
        // caller slicing the fixture must pass the filter here or
        // pay the full encode pass per slice
        .filter(idFilter)
        .repartition(s.sparkContext.defaultParallelism),
      rows => {
        val enc = new graft.operators.WavEncoder() // once per task
        rows.map { r =>
          val id = r.getLong(0)
          // patShift rotates the base-pattern id (the patternPngs
          // mirror): q196's streamed audio carries the 25 ODD
          // patterns the stored index (even residues mod 50) has
          // never heard — only index GROWTH can flag them
          val p = ((id % 50L).toInt + patShift) % 50
          val m = id / 16
          val k = (m % 3L).toInt
          val flips =
            (0 until k).map(f => ((m * 13 + f * 29) % 64L).toInt).toSet
          val samples = Array.tabulate(256) { i =>
            val w = i / 4
            val bit = ((((p + 1) * (w + 3)) % 97) % 2) ^
              (if (flips(w)) 1 else 0)
            val a = if (bit == 1) 9600 else 160
            (if (i % 2 == 0) a else -a).toShort
          }
          (id, enc.encode(samples, 8000))
        }
      })(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
      .toDF("event_id", "payload")

  /** The q180 media fixture: one deterministic GVID container per
    * 40th event id, five 16×16 cell-grid PNG frames (the q172 pixel
    * form: 2×2 blocks on an 8×8 grid, gray 200/60). Frame f of video
    * v is `base(c, i) XOR flip(v, i) XOR mask(f, i)` with the q172
    * nonlinear base over content class c = (v/40) % 25, at most ONE
    * per-video flip (k = (v/40) % 2 at position ((v/40)*13 + 29) %
    * 64 — the re-encode artifact), and one per-frame mask bit
    * ((f*13 + 11) % 64 for f > 0 — motion). Same-content videos are
    * ≤ 1+1 apart on corresponding frames and ≤ 4 on any frame pair
    * (inside radius 4); cross-content frames are ≥ 16 − 4 = 12 apart
    * (the q172 min-distance argument) — so video-grain near-dup
    * groups are exactly the content classes, and the oracle rebuilds
    * every frame hash from id arithmetic alone. */
  private def patternVideos(s: SparkSession, dir: String,
      idFilter: Column = lit(true), novelMod: Int = 0)
      : org.apache.spark.sql.DataFrame =
    Multimodal.decodePartitions[(Long, Array[Byte])](
      t(s, dir, "events").select(col("event_id"))
        .filter(col("event_id") % 40 === 0)
        // BEFORE the encode seam (the patternPngs rationale)
        .filter(idFilter)
        .repartition(s.sparkContext.defaultParallelism),
      rows => {
        val enc = new graft.operators.PngEncoder() // once per task
        rows.map { r =>
          val id = r.getLong(0)
          val g = id / 40
          // novelMod > 0 promotes every ODD-generation video with
          // g % novelMod == 0 to the 25..49 pattern range — content
          // the even-generation (index) half has never produced, so
          // an ingest gate (q182) sees genuine misses; novelMod = 0
          // (q180) keeps the plain 25-class fixture
          val c0 = (g % 25L).toInt
          val c =
            if (novelMod > 0 && g % 2L == 1L && g % novelMod == 0L)
              c0 + 25
            else c0
          val flipPos =
            if (g % 2L == 1L) ((g * 13 + 29) % 64L).toInt else -1
          val frames = (0 until 5).map { f =>
            val maskPos = if (f > 0) (f * 13 + 11) % 64 else -1
            enc.encodePixels(16, 16, (x, y) => {
              val i = (y / 2) * 8 + (x / 2)
              val bit = ((((c + 1) * (i + 3)) % 97) % 2) ^
                (if (i == flipPos) 1 else 0) ^
                (if (i == maskPos) 1 else 0)
              val v = if (bit == 1) 200 else 60
              (v << 16) | (v << 8) | v
            })
          }
          (id, Multimodal.encodeVideo(frames))
        }
      })(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
      .toDF("event_id", "payload")

  /** The q155 media fixture: one deterministic GVID container per
    * 5th event id — 4..8 really-encoded two-tone PNG frames whose
    * colors vary PER FRAME (so the sampled-frame mean differs from
    * the all-frame mean and the oracle match proves the stride ran).
    * Same keyed-repartition rationale as [[twoTonePngs]]. */
  private def framePackedVideos(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Multimodal.decodePartitions[(Long, Array[Byte])](
      t(s, dir, "events").select(col("event_id"))
        .filter(col("event_id") % 5 === 0)
        .repartition(s.sparkContext.defaultParallelism),
      rows => {
        val enc = new graft.operators.PngEncoder() // once per task
        rows.map { r =>
          val id = r.getLong(0)
          // id is a multiple of 5 by the fixture filter, so id % 5
          // would pin nf at 4 and the oracle gate would never see
          // variable/odd frame counts or the trailing-skip path —
          // derive from id/5 instead, which spans all residues
          val nf = 4 + (id / 5 % 5L).toInt
          def c(m: Long, f: Int) = ((m * (id * 31 + f + 7)) % 256L).toInt
          val frames = (0 until nf).map { f =>
            val left = (c(1, f) << 16) | (c(3, f) << 8) | c(5, f)
            val right = (c(7, f) << 16) | (c(11, f) << 8) | c(13, f)
            enc.encode(8, 6, left, right)
          }
          (id, Multimodal.encodeVideo(frames))
        }
      })(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
      .toDF("event_id", "payload")

  /** The shared NEAR-DUP PAIR STORE for a fixture dir (Dedup
    * .ensurePairStore scaladoc): keyed by the dir's canonical path
    * AND the documents table's (length, mtime) signature — "once per
    * corpus version" made literal — so q84 (keeper), q133
    * (attribution) and q140 (census) share ONE pair build; the first
    * consumer to run pays it (phase `pair_store_build` in the bench
    * artifact), the rest read pairs at rest. Stale versions of the
    * same corpus dir are pruned on ensure — but only past a one-hour
    * grace window and only when no writer lease is held, so a
    * concurrent session still READING the superseded version is not
    * yanked mid-scan (the same documented residual as compaction's
    * swap gap: reader eviction needs a table format's commit
    * protocol). The dir key is a 128-bit md5 of the canonical path —
    * two distinct corpus dirs cannot collide into mutual
    * delete/rebuild ping-pong the way a 32-bit hashCode could.
    * Params are the audited q84/q140 regime (2-shingles, k=64,
    * bands=32, t=0.5); the exact-recompute oracles of all three
    * consumers stay unchanged — they verify end-to-end that the
    * banded build loses no pair the reports need, every run. */
  private def nearDupPairStore(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Dedup.ensurePairStore(t(s, dir, "documents"), "doc_id", "text",
      versionedStoreDir("graft_pair_store", dir, "n2k64b32t05"),
      shingleN = 2, k = 64, bands = 32, threshold = 0.5)

  /** The shared AT-REST SIGNATURE INDEX (bands + shingles,
    * writeNearDupIndex layout) for a fixture dir — the
    * [[nearDupPairStore]] convention on the signature grain: one
    * build per corpus version under a lease (double-checked marker),
    * every later consumer (q204's indexed leakage guard) reads it at
    * rest. */
  private def nearDupSignatureIndex(s: SparkSession,
      dir: String): String =
    ensureNearDupIndexStore(s, dir, "graft_ndindex_store",
      "n2k64b32", "ndindex_build", identity)

  /** The sources q111 streams IN — its base index covers everything
    * else, so cross-batch dups can only resolve through growth. */
  private val q111NewSources = Seq("src15", "src16", "src17")

  /** q111's pre-stream BASE index — the [[nearDupSignatureIndex]]
    * convention on the ingest fixture's base corpus (everything
    * except the streamed-in sources), so Bench bills the corpus-scale
    * build as `store_build_sec` and the q111 wall measures the ingest
    * rounds it actually runs (the r15 verdict's billing note). The
    * query CLONES the store into its scratch root before streaming —
    * the ingest APPENDS fresh signatures per batch, and a shared
    * at-rest store must never be mutated by a consumer. Its own
    * rootName family: versionedStoreDir's stale-version prune is
    * per-family, and two live paramsTags of one family for the same
    * corpus version would prune each other past the grace window. */
  private def nearDupIngestBaseIndex(s: SparkSession,
      dir: String): String =
    ensureNearDupIndexStore(s, dir, "graft_ndingest_base",
      "n2k64b32xnew", "ndingest_base_build",
      _.filter(!col("source").isin(q111NewSources: _*)))

  private def ensureNearDupIndexStore(s: SparkSession, dir: String,
      rootName: String, paramsTag: String, phaseTag: String,
      sel: DataFrame => DataFrame): String = {
    val store = versionedStoreDir(rootName, dir, paramsTag)
    // marker on the LAST-written table (bands first, shingles second)
    // so a half-built index never reads as complete. No outer lease:
    // writeNearDupIndex acquires the store's writer lease itself
    // (unlike writePairStore — ensurePairStore wraps that one), so a
    // concurrent builder serializes there and the loser fails loudly
    // on ErrorIfExists. Half-build debris from a crash is swept
    // before the rebuild.
    val marker =
      new org.apache.hadoop.fs.Path(s"$store/shingles/_SUCCESS")
    val fs = marker.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val root = new org.apache.hadoop.fs.Path(store)
      if (fs.exists(root)) fs.delete(root, true)
      Phases.time(phaseTag) {
        Dedup.writeNearDupIndex(sel(t(s, dir, "documents")),
          "doc_id", "text", shingleN = 2, k = 64, bands = 32,
          dir = store)
      }
    }
    store
  }

  /** The shared AT-REST POSTINGS INDEX for a fixture dir — the
    * retrieval twin of [[nearDupPairStore]], same version keying and
    * same billing convention: the first consumer to run pays the
    * build (phase `index_build`), every later q126 run reads the
    * index at rest — the honest steady-state shape (a 100 TB
    * postings index is built once per corpus version, not per
    * dashboard query). Bench pre-builds it before the timed loop and
    * reports the build as its own metric (store_build_sec). */
  private def bm25PostingsStore(s: SparkSession, dir: String): String = {
    val store = versionedStoreDir("graft_postings_store", dir, "b64f8")
    Retrieval.ensurePostingsIndex(t(s, dir, "documents"), "doc_id",
      "text", store, nBuckets = 64, numFiles = 8)
    store
  }

  /** The shared MEDIA FINGERPRINT store — the media analogue of
    * [[nearDupSignatureIndex]]: in a training pipeline every media
    * fingerprint lives at rest (ONE decode per corpus version — the
    * q176/q195/q182 index legs are exactly this posture), so a
    * COMPOSITION query like q208 reads fingerprints from the store
    * instead of re-running three codec passes per manifest refresh.
    * The decode-path proof obligation stays with the modality gates
    * (q172/q183/q180 decode in-query BY DESIGN — their oracles prove
    * the codec paths bit for bit); q208's oracle re-derives the same
    * hashes from generation arithmetic, so its hash match proves the
    * STORED fingerprints are the real decode's output (the q204
    * argument on the media grain). Built once per corpus version;
    * Bench bills the build as `store_build_sec` (the q111/q204
    * convention). Marker on the LAST-written table so a half-built
    * store never reads as complete. */
  private def mediaFingerprintStore(s: SparkSession,
      dir: String): String = {
    val store = versionedStoreDir("graft_phash_store", dir,
      "img8x8aud64vid258")
    val marker = new org.apache.hadoop.fs.Path(s"$store/vid/_SUCCESS")
    val fs = marker.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val root = new org.apache.hadoop.fs.Path(store)
      if (fs.exists(root)) fs.delete(root, true)
      Phases.time("phash_store_build") {
        val t2 = org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong)
        Multimodal.decodePartitions[(Long, Long)](
          patternPngs(s, dir), Multimodal.decodeGridHash(8, 8, 128))(t2)
          .toDF("doc", "fp").write.parquet(s"$store/img")
        Multimodal.decodePartitions[(Long, Long)](
          patternWavs(s, dir),
          Multimodal.decodeAudioEnergyHash(64, 1000))(t2)
          .toDF("doc", "fp").write.parquet(s"$store/aud")
        Multimodal.decodePartitions[(Long, Int, Long)](
          patternVideos(s, dir),
          Multimodal.decodeSampledVideoGridHash(2, 8, 8, 128))(
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaInt,
            org.apache.spark.sql.Encoders.scalaLong))
          .toDF("vid", "frame", "fp")
          .select((col("vid") * 8 + col("frame")).as("doc"), col("fp"))
          .write.parquet(s"$store/vid")
      }
    }
    store
  }

  /** Version-keyed scratch-store path for a fixture dir (the pair
    * store's keying, factored for every shared at-rest artifact):
    * keyed by the dir's canonical path AND the documents table's
    * (name, length, mtime) signature — "once per corpus version"
    * made literal. Stale versions of the same corpus dir are pruned
    * on ensure — but only past a one-hour grace window and only when
    * no writer lease is held, so a concurrent session still READING
    * the superseded version is not yanked mid-scan (the same
    * documented residual as compaction's swap gap). The dir key is a
    * 128-bit md5 of the canonical path — two distinct corpus dirs
    * cannot collide into mutual delete/rebuild ping-pong the way a
    * 32-bit hashCode could. Distinct store FAMILIES use distinct
    * `rootName` folders, so one family's prune can never collect
    * another family's live store. */
  private def versionedStoreDir(rootName: String, dir: String,
      paramsTag: String): String = {
    // md5 over the SORTED NUL-joined (name, length, mtime) tuples,
    // not an XOR fold: a fold of length^mtime can collide across
    // regenerated fixtures with identical sizes and second-grain
    // mtimes, silently reusing a stale store for a different corpus
    // version — the md5 of the full tuple list cannot
    def sigOf(f: java.io.File): String = {
      val tuples =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty)
            .map(c => s"${c.getName}\u0000${c.length}\u0000${c.lastModified}")
            .sorted
        else Array(s"${f.getName}\u0000${f.length}\u0000${f.lastModified}")
      java.security.MessageDigest.getInstance("md5")
        .digest(tuples.mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString.take(16)
    }
    val dirKey = java.security.MessageDigest.getInstance("md5")
      .digest(new java.io.File(dir).getCanonicalPath
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    val name =
      s"${dirKey}_${sigOf(new java.io.File(dir, "documents.parquet"))}" +
        s"_$paramsTag"
    val root = new java.io.File(sys.props("java.io.tmpdir"), rootName)
    val pruneGraceMs = 60L * 60 * 1000
    val now = System.currentTimeMillis()
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(dirKey + "_") &&
        f.getName != name && !f.getName.endsWith(".lease") &&
        now - f.lastModified() > pruneGraceMs &&
        !new java.io.File(root, f.getName + ".lease").exists())
      .foreach(Scratch.deleteRecursively)
    new java.io.File(root, name).toString
  }

  /** Pre-build the version-keyed shared at-rest stores that the
    * steady-state queries read, timing each build: Bench calls this
    * BEFORE the timed loop, so the q84/q126-family headlines measure
    * the QUERY and the once-per-corpus-version build cost is
    * reported as its own `store_build_sec` metric instead of riding
    * whichever consumer happens to run first. Near-no-op (a
    * metadata-only marker probe) when the stores already exist for
    * this corpus version.
    *
    * `selected` filters to the stores some selected query actually
    * reads (None = all): a SPARK_GRAFT_BENCH_ONLY=q1 iteration run
    * must not pay minutes of store build for queries it won't time.
    * Each build is failure-isolated (duration −1.0 in the result):
    * the consumers build lazily themselves, so a pre-build failure
    * (e.g. a live lease from a crashed sibling) belongs to the
    * consuming queries' own per-query isolation, not the whole run. */
  def prepareSharedStores(s: SparkSession, dir: String,
      selected: Option[Set[String]] = None): Seq[(String, Double)] = {
    val consumers = Map(
      "pair_store" ->
        Set("q84_dedup_keeper", "q133_dup_attribution", "q140_dup_census",
          "q153_training_manifest", "q157_dup_centrality",
          "q197_component_split", "q198_component_split_leakage"),
      "postings_index" -> Set("q126_bm25_indexed"),
      "ndindex_store" -> Set("q204_split_leakage_indexed"),
      "ndingest_base" -> Set("q111_stream_neardup_ingest"),
      "phash_store" -> Set("q208_modality_manifest",
        "q211_stream_modality_manifest", "q214_modality_manifest_deltas"),
      "mmstream_store" -> Set("q211_stream_modality_manifest",
        "q214_modality_manifest_deltas"),
      "prep_store" -> Set("q213_stream_training_manifest",
        "q215_training_manifest_deltas"))
    def wanted(store: String): Boolean =
      selected.forall(qs => consumers(store).exists(qs.contains))
    def timed(name: String)(body: => Unit): Option[(String, Double)] = {
      if (!wanted(name)) return None
      val t0 = System.nanoTime()
      try { body; Some(name -> ((System.nanoTime() - t0) / 1e9)) }
      catch {
        // NonFatal only (r13 advice): an OOM or other fatal JVM error
        // must propagate, not hide behind a lazy-rebuild sentinel
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] store pre-build $name failed " +
            s"(consumers will build lazily): ${e.getMessage}")
          Some(name -> -1.0)
      }
    }
    Seq(
      timed("pair_store") { nearDupPairStore(s, dir); () },
      timed("postings_index") { bm25PostingsStore(s, dir); () },
      timed("ndindex_store") { nearDupSignatureIndex(s, dir); () },
      timed("ndingest_base") { nearDupIngestBaseIndex(s, dir); () },
      timed("phash_store") { mediaFingerprintStore(s, dir); () },
      timed("mmstream_store") { ensureStreamedModalityStore(s, dir); () },
      timed("prep_store") { ensureTrainingPrepStore(s, dir); () })
      .flatten
  }

  /** Past this many merges the per-step Spark-job loop is the wrong
    * execution (each step is a full job + localCheckpoint: 30k merges
    * = 30k sequential scheduler round-trips over a vocabulary-grain
    * table) — [[bpeMerges]] switches to the in-memory incremental
    * trainer (operators.Bpe.train, semantics parity-specced) on the
    * ONE collected word-frequency table. */
  private val bpePerStepJobLimit = 64

  /** Driver-side memory guard for the vocabulary collect on the
    * [[Bpe]] path — vocabulary-grain, so corpus size never drives it,
    * but a degenerate tokenization could. */
  private val bpeMaxVocab = 10000000L

  /** The q146 BPE training loop — ONE corpus-grain token count, then
    * vocabulary-grain merge learning: freq-weighted pair counts, one
    * bounded TakeOrdered planning lookup per rule, literal string
    * rewrites between iterations (see the q146 registration note for
    * the bracket-string representation contract). Shared by q146
    * (emits the rules) and q147 (applies them corpus-wide).
    *
    * Production vocabulary sizes (nMerges > [[bpePerStepJobLimit]])
    * run the merge loop DRIVER-SIDE on the collected word table
    * (graft.operators.Bpe scaladoc for why; PLANS.md "BPE at
    * production vocabulary sizes" for the measured gap) — corpus-grain
    * counting stays distributed in both regimes. */
  private def bpeMerges(s: SparkSession, dir: String,
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    val words = Relational
      .widenForCpu(t(s, dir, "documents"), col("doc_id"))
      .select(explode(text.tokens(col("text"))).as("w"))
      .filter(!col("w").rlike("[<>\\x01]"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= 2)
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("str"),
        col("freq"))
      .localCheckpoint(eager = true)
    if (nMerges > bpePerStepJobLimit) {
      val n = words.count()
      require(n <= bpeMaxVocab,
        s"bpeMerges: $n vocabulary rows exceed $bpeMaxVocab — the " +
          "driver-side trainer would not fit; raise the guard " +
          "deliberately or pre-prune the vocabulary (minFreq)")
      val wf = words.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      return graft.operators.Bpe.train(wf, nMerges)
    }
    var cur = words
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    (1 to nMerges).foreach { step =>
      val syms = split(
        regexp_replace(col("str"), "><", ">\u0001<"), "\u0001")
      val pairs = when(size(syms) > 1,
        transform(sequence(lit(1), size(syms) - 1),
          i => concat(element_at(syms, i), element_at(syms, i + 1))))
        .otherwise(array().cast("array<string>"))
      val top = cur.select(col("freq"), explode(pairs).as("p"))
        .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("p").asc).limit(1).collect()
      require(top.nonEmpty,
        s"BPE: no pairs left before merge $step — lower nMerges")
      val (p, cnt) = (top(0).getString(0), top(0).getLong(1))
      val merged = p.replace("><", "")
      rules += ((step, p, merged, cnt))
      cur = cur
        .select(replace(col("str"), lit(p), lit(merged)).as("str"),
          col("freq"))
        .localCheckpoint(eager = true)
    }
    rules.result()
  }

  /** q115's outlier threshold on the ROUNDED cosine-to-centroid
    * (both engines compare round(cos, 6), so the cut decides on
    * identical values). Measured distributions: p5 ≈ −0.03..−0.04 —
    * −0.05 flags the anti-aligned 1–4% tail at every gate SF. */
  private val q115Cut: Double = -0.05

  /** q122's BM25 query set (driver-side literals, mirrored verbatim
    * into the oracle's VALUES table). Terms come from the fixture's
    * own vocabulary; `dup` is the rare discriminating term (df ≈ 5%
    * of docs), the rest are head terms, so the ranking exercises both
    * high- and low-idf contributions. */
  private val bm25Queries: Seq[(Int, String)] = Seq(
    (1, "dup stream window"),
    (2, "vector query fast"),
    (3, "customer batch"))

  /** q124's corpus-wide token budget (driver-side literal, mirrored
    * into the oracle SQL verbatim). ≈ a third of the sf0.01 corpus,
    * so cuts land strictly between 0 and 1000 there; at sf0.001 the
    * per-source targets exceed the source sizes and the min(1000)
    * saturation path runs — both regimes are gate-exercised. */
  private val q124Budget: Long = 20000L

  /** q171's epoch budget: sized so the gate-SF corpora (~27k tokens)
    * allocate > 1000 milli to every source — the genuinely-upsampled
    * regime the operator exists for — while sf0.1 (~271k tokens)
    * exercises the sub-1000 fractional-selection path. */
  private val q171Budget: Long = 60000L

  /** The independent DuckDB BM25 recompute shared by q122 (dataflow),
    * q126 (at-rest postings index), q127 (segment append), and q128
    * (streaming ingest): every engine form shares one scoring chain
    * over identical inputs, so one oracle verifies them all. q129
    * reuses the ranked CTE chain at k=100 as its lexical arm. */
  private lazy val bm25OracleSql: String =
    s"""${bm25RankCtes}
       |SELECT qid, CAST(rank AS INT) AS rank, doc_id, score
       |FROM rk WHERE rank <= 5""".stripMargin

  /** The WITH-chain ending in `rk` (qid, doc_id, score, rank) — the
    * shared body of [[bm25OracleSql]] and q129's lexical arm. */
  private lazy val bm25RankCtes: String = {
    val qtVals = bm25Queries.flatMap { case (qid, q) =>
      q.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => s"($qid, '$t')")
    }.mkString(", ")
    val termsList = bm25Queries
      .flatMap(_._2.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .distinct.map(t => s"'$t'").mkString("[", ", ", "]")
    val k1 = sqlDouble(1.2)
    val k1p1 = sqlDouble(1.2 + 1.0)
    val b = sqlDouble(0.75)
    val oneMinusB = sqlDouble(1.0 - 0.75)
    s"""WITH qt AS (SELECT * FROM (VALUES $qtVals) AS v(qid, tok)),
       |t0 AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(CAST(SUM(len(toks)) AS BIGINT) AS DOUBLE) /
       |      CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM t0),
       |post AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
       |    unnest(list_filter(toks,
       |      t -> list_contains($termsList, t))) AS tok
       |  FROM t0),
       |tf AS (SELECT doc_id, tok, max(dl) AS dl, COUNT(*) AS tf
       |  FROM post GROUP BY doc_id, tok),
       |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       |sc AS (SELECT qt.qid, tf.doc_id,
       |    round(
       |      ln((st.n - CAST(df.df AS DOUBLE) + 0.5) /
       |           (CAST(df.df AS DOUBLE) + 0.5) + 1.0) *
       |      ((CAST(tf.tf AS DOUBLE) * $k1p1) /
       |       (CAST(tf.tf AS DOUBLE) +
       |        $k1 * ($oneMinusB + $b * (tf.dl / st.avgdl)))),
       |      6) AS c
       |  FROM tf JOIN df USING (tok) JOIN qt USING (tok)
       |    CROSS JOIN st),
       |agg AS (SELECT qid, doc_id,
       |    CAST(SUM(CAST(c AS DECIMAL(20,6))) AS DOUBLE) AS score
       |  FROM sc GROUP BY qid, doc_id),
       |rk AS (SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM agg)""".stripMargin
  }

  /** The fixture's closed event-type vocabulary (driver-side literal:
    * pivot columns and the oracle's CASE sums must agree on it). */
  private val eventTypes: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** q69's injected repetition (driver-side literal, mirrored into the
    * oracle SQL verbatim — the corpus has near-zero natural trigram
    * repetition, so the signal needs deterministic positives). */
  private val q69RepeatedPhrase: String = " the quick brown fox" * 4

  /** q105's injected boilerplate lines (driver-side literals,
    * mirrored into the oracle SQL verbatim — plain ASCII, no quotes,
    * so they interpolate into both engines unescaped). */
  private val q105NavLine: String =
    "NAV home products pricing docs contact"
  private val q105FooterLine: String =
    "COPYRIGHT example corp all rights reserved"

  /** q112's boilerplate injection (driver-side literal, mirrored into
    * the oracle SQL verbatim — tokens from the fixture's own
    * vocabulary, so the signal is in the TRANSITIONS, not the words:
    * the unigram model scores these docs as ordinary). */
  private val q112Boiler: String = " key agg window table stream" * 6

  /** q112's flag threshold on the ROUNDED mean bigram log-loss:
    * templates repeat transitions, so they score LOW — flag
    * round(nll2, 6) < cut. Measured gate-SF distributions (minCount
    * 3): injected max ≈ 2.98/2.97/3.02 at sf0.001/0.01/0.1, clean min
    * ≈ 3.19/3.27/3.13 — 3.07 splits the gap at all three SFs. */
  private val q112Cut: Double = 3.07

  /** q106's flag threshold on the ROUNDED mean negative log-loss
    * (both engines compare round(nll, 6) so the cut is decided on
    * identical 6-decimal values). Measured gate-SF distributions:
    * clean docs max ≈ 3.72, junk-injected min ≈ 3.93 at sf0.001 and
    * sf0.01 — 3.8 splits the gap. At sf0.1 the clean tail crosses it
    * (max ≈ 4.02): a few long-tail docs flag too, deterministically
    * on both engines, which is the realistic behavior of a fixed
    * perplexity cut as the corpus grows. */
  private val q106Cut: Double = 3.8

  /** q67's hot-key planning statistic (driver-side literal, mirrored
    * conceptually by the oracle's plain join — hotness affects only
    * the physical spread, never the result). */
  private val q67HotKeys: Seq[Any] = (1L to 8L).map(k => k: Any)

  /** q64's eval-set bigrams (driver-side literal, mirrored into the
    * oracle SQL verbatim). */
  private val benchmarkBigrams: Seq[String] =
    Seq("key agg", "window table", "merge batch", "customer stream")

  /** q65's per-source mixing rates (strata absent keep everything). */
  private val mixRates: Map[String, Double] =
    Map("src0" -> 0.2, "src5" -> 0.5, "src10" -> 0.75, "src15" -> 0.0)

  /** q72's target mixture weights (driver-side literal, mirrored into
    * the oracle SQL; sources absent here get weight 0 → dropped). The
    * budget (5000) is sized so src0's ideal share exceeds its supply
    * (rate clamps to 1.0) while the others stay fractional — both
    * branches of min(1, B·w/T) execute. */
  private val q72Weights: Map[String, Double] =
    Map("src0" -> 0.4, "src3" -> 0.3, "src7" -> 0.2, "src12" -> 0.1)

  /** DuckDB mirror of Dedup.ngramJaccardPairs (bigrams) at the given
    * threshold — also the oracle for the MinHash+rescore path, whose
    * output equals the exact pairs at any threshold past the S-curve
    * knee (Dedup.minhashNearDupPairs scaladoc). */
  /** DuckDB mirror of the q141 novelty curve — shared by q141 (batch)
    * and q145 (the drained streaming first-seen store must reproduce
    * the identical curve). */
  private def noveltyCurveSql: String =
    s"""WITH d AS (SELECT CAST(doc_id % 4 AS INT) AS batch, doc_id,
       |    $sqlTokens AS toks FROM documents),
       |bs AS (SELECT DISTINCT batch, shingle FROM (
       |  SELECT batch, unnest(${sqlShingles(3)}) AS shingle FROM d)),
       |fs AS (SELECT shingle, MIN(batch) AS fb FROM bs
       |  GROUP BY shingle),
       |c AS (SELECT batch, COUNT(*) AS ds,
       |    CAST(SUM(CASE WHEN fb = batch THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ns
       |  FROM bs JOIN fs USING (shingle) GROUP BY batch),
       |nd AS (SELECT batch, COUNT(*) AS n_docs FROM d
       |  GROUP BY batch)
       |SELECT nd.batch, nd.n_docs,
       |  CAST(coalesce(c.ds, 0) AS BIGINT) AS distinct_shingles,
       |  CAST(coalesce(c.ns, 0) AS BIGINT) AS novel_shingles,
       |  CASE WHEN coalesce(c.ds, 0) > 0
       |    THEN CAST(c.ns AS DOUBLE) / CAST(c.ds AS DOUBLE)
       |    ELSE 0.0 END AS novelty
       |FROM nd LEFT JOIN c ON c.batch = nd.batch""".stripMargin

  /** DuckDB mirror of the q44 near-dup component labelling (recursive
    * reachability → min-label), shared by q44 and the q140 census. */
  /** The n-step BPE training replay as chained CTEs (shared by q146
    * at 5 steps and q152 at 80): freq-weighted pair counts,
    * (count desc, pair asc) selection, left-to-right non-overlapping
    * replace() via scalar subqueries. Every CTE is AS MATERIALIZED —
    * each w_i is referenced twice (pc_{i+1} and w_{i+1}), so an
    * INLINED chain re-plans the corpus scan 2^n times (measured: the
    * 80-step chain exhausts file handles before planning);
    * materialization pins linear evaluation. cnt CASTs to BIGINT
    * (DuckDB SUM → HUGEINT → pandas float64, the r10 hash-mismatch
    * root cause). */
  /** The per-merge CTE triplet chain (pc/m/w × nMerges) shared by
    * EVERY BPE oracle — q146's emit-rules form, q152's 80-step deep
    * form, and q147's apply form (whose w chain reads only p/merged
    * from each m; the extra step/cnt columns are inert there). ONE
    * builder so a semantics tweak (like r11's [<>\x01] filter) can
    * never be applied to one replay and missed in another — the r10
    * class of driver-only oracle divergence. */
  private def bpeTrainStepCtes(nMerges: Int): String =
    (1 to nMerges).map { i =>
      val prev = s"w${i - 1}"
      s"""pc$i AS MATERIALIZED (SELECT p, SUM(freq) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(sy)),
         |    j -> sy[CAST(j AS INT)] || sy[CAST(j AS INT) + 1]))
         |    AS p
         |  FROM (SELECT freq, regexp_extract_all(str, '<[^>]*>')
         |      AS sy FROM $prev))
         |  GROUP BY p),
         |m$i AS MATERIALIZED (SELECT CAST($i AS INT) AS step, p,
         |    replace(p, '><', '') AS merged,
         |    CAST(cnt AS BIGINT) AS cnt
         |  FROM pc$i ORDER BY cnt DESC, p ASC LIMIT 1),
         |w$i AS MATERIALIZED (SELECT replace($prev.str,
         |    (SELECT p FROM m$i),
         |    (SELECT merged FROM m$i)) AS str, freq
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")

  /** The freq>=2 bracket-string word table every BPE oracle trains
    * on, as the `w0` CTE (expects a `tok(t)` CTE in scope). */
  private val bpeWordTableCte: String =
    s"""w0 AS MATERIALIZED (SELECT regexp_replace(t, '(.)', '<\\1>', 'g')
       |    AS str, freq
       |  FROM (SELECT t, COUNT(*) AS freq FROM tok
       |        WHERE NOT regexp_matches(t, '[<>\\x01]') GROUP BY t)
       |  WHERE freq >= 2)""".stripMargin

  private def bpeTrainOracleSql(nMerges: Int): String = {
    val unions = (1 to nMerges)
      .map(i => s"SELECT step, p AS pair, merged, cnt FROM m$i")
      .mkString(" UNION ALL ")
    s"""WITH tok AS (SELECT unnest($sqlTokens) AS t
       |  FROM documents),
       |$bpeWordTableCte,
       |${bpeTrainStepCtes(nMerges)}
       |$unions""".stripMargin
  }

  /** The exact containment-pair recompute over the q131 fixture
    * (injected prefix-truncated copies) — shared by q131 (dense
    * engine plan, full corpus) and q151 (inverted-index engine plan,
    * quarter slice): one exact answer per input, two physical
    * strategies, which is the equivalence contract the two
    * registrations exist to pin. `where` restricts the base corpus
    * (q151: the gate proves the indexed PLAN, and the fixtures are
    * the dense regime where that plan is deliberately the wrong
    * execution at full scale — PLANS.md "Containment dedup cost
    * drivers" carries the full-corpus walls). */
  private def containmentPairsOracleSql(where: String = ""): String =
    s"""WITH tk AS (SELECT doc_id, $sqlTokens AS toks FROM documents
       |  $where),
       |inj AS (SELECT doc_id * 10 + 7000000 AS doc_id,
       |    list_slice(toks, 1, CAST(floor(len(toks) / 4) AS INT))
       |      AS toks
       |  FROM tk WHERE doc_id % 11 = 4 AND len(toks) >= 16),
       |all_t AS (SELECT doc_id, toks FROM tk
       |  UNION ALL SELECT doc_id, toks FROM inj),
       |sh AS (SELECT doc_id, ${sqlShingles(2)} AS s FROM all_t),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.s, b.s)) AS inter,
       |    len(a.s) AS sz_a, len(b.s) AS sz_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |scored AS (SELECT *,
       |    CASE WHEN least(sz_a, sz_b) > 0
       |      THEN CAST(inter AS DOUBLE) /
       |        CAST(least(sz_a, sz_b) AS DOUBLE)
       |      ELSE 0.0 END AS ov,
       |    CASE WHEN sz_a + sz_b - inter > 0
       |      THEN CAST(inter AS DOUBLE) /
       |        CAST(sz_a + sz_b - inter AS DOUBLE)
       |      ELSE 0.0 END AS jc
       |  FROM pairs)
       |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
       |  CAST(sz_a AS BIGINT) AS sz_a, CAST(sz_b AS BIGINT) AS sz_b,
       |  round(ov, 6) AS overlap, round(jc, 6) AS jaccard,
       |  round(jc, 6) < 0.5 AS jaccard_missed
       |FROM scored WHERE ov >= 0.9""".stripMargin

  /** The exact jaccard-0.5 near-dup pair CTEs over `documents` —
    * ends with `p(doc_a, doc_b)` (and leaves `sh(doc_id, s)` in
    * scope); ONE rendering shared by q44 (via [[neardupGroupsSql]]),
    * q197, and q198 so the pair rule cannot drift across the
    * dedup/split/leakage consumers. */
  private def neardupPairCtes: String =
    s"""sh AS (
       |  SELECT doc_id,
       |    ${sqlShingles(2)} AS s
       |  FROM (SELECT doc_id, $sqlTokens AS toks FROM documents)),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
       |      AS DOUBLE) >= 0.5)""".stripMargin

  /** The component-group CTEs of the q197/q198 split family: the
    * near-dup pair edges (`p`, from [[neardupPairCtes]]) unioned
    * with same-canon min-edges (requires [[urlCanonCtes]]'s `canon`
    * in scope), walked recursively to components — ends with
    * `g(doc_id, source, grp)`, grp = the component's min member id
    * (the doc itself when unique). Mirrors Dedup.componentGroups. */
  private def componentGroupCtes: String =
    s"""ce AS (
       |  SELECT c.doc_id AS doc_a, g0.mn AS doc_b
       |  FROM canon c JOIN (SELECT canon, MIN(doc_id) AS mn
       |    FROM canon GROUP BY canon) g0 ON c.canon = g0.canon
       |  WHERE c.doc_id <> g0.mn),
       |alle AS (SELECT doc_a, doc_b FROM p
       |  UNION SELECT doc_a, doc_b FROM ce),
       |cedges AS (SELECT doc_a AS src, doc_b AS dst FROM alle
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM alle),
       |creach AS (
       |  SELECT src AS node, src AS r FROM cedges
       |  UNION
       |  SELECT e.src AS node, re.r AS r
       |  FROM cedges e JOIN creach re ON e.dst = re.node),
       |clbl AS (SELECT node, MIN(r) AS label
       |  FROM creach GROUP BY node),
       |g AS (SELECT d.doc_id, d.source,
       |    COALESCE(l.label, d.doc_id) AS grp
       |  FROM documents d LEFT JOIN clbl l ON d.doc_id = l.node)"""
      .stripMargin

  private def neardupGroupsSql: String =
    s"""WITH RECURSIVE $neardupPairCtes,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p),
       |reach AS (
       |  SELECT src AS node, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS node, re.r AS r
       |  FROM edges e JOIN reach re ON e.dst = re.node),
       |lbl AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node)
       |SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS group_keeper
       |FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node""".stripMargin

  /** DuckDB mirror of the q135 contamination threshold sweep —
    * shared by q135 (batch) and q139 (the drained streaming store
    * must re-aggregate to the identical report). */
  private def contaminationSweepSql: String =
    s"""WITH tk AS (SELECT doc_id, source, ${sqlShingles(3)} AS sh
       |  FROM (SELECT doc_id, source, $sqlTokens AS toks
       |        FROM documents)),
       |ev AS (SELECT DISTINCT shingle FROM (
       |  SELECT unnest(sh) AS shingle FROM tk
       |  WHERE doc_id % 17 = 3)),
       |cx AS (SELECT doc_id, source, sh, len(sh) AS csz
       |  FROM tk WHERE doc_id % 17 <> 3),
       |m AS (SELECT c.doc_id, COUNT(*) AS nm
       |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM cx) c
       |  JOIN ev ON ev.shingle = c.shingle
       |  GROUP BY c.doc_id),
       |sc AS (SELECT cx.source,
       |    CASE WHEN csz > 0
       |      THEN CAST(coalesce(m.nm, 0) AS DOUBLE) /
       |        CAST(csz AS DOUBLE)
       |      ELSE 0.0 END AS score
       |  FROM cx LEFT JOIN m ON m.doc_id = cx.doc_id)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN score >= 0.2 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_c20,
       |  CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_c50,
       |  CAST(SUM(CASE WHEN score >= 0.8 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_c80,
       |  CAST(SUM(CAST(round(score, 6) AS DECIMAL(20,6)))
       |    AS DOUBLE) AS sum_score
       |FROM sc GROUP BY source""".stripMargin

  /** DuckDB mirror of Similarity.embeddingMoments over the embeddings
    * table — shared by q137 (direct) and q138 (incremental merge must
    * equal the full recompute). */
  private def momentsOracleSql: String =
    s"""WITH ex AS (
       |  SELECT label, CAST(i.range AS INT) - 1 AS pos,
       |    CAST(floor(CAST(embedding[CAST(i.range AS INT)]
       |      AS DOUBLE) * 1073741824.0) AS BIGINT) AS q
       |  FROM embeddings, range(1, ${embDim + 1}) i),
       |m AS (SELECT label, pos, COUNT(*) AS n,
       |    CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS ss,
       |    CAST(SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT))
       |      AS HUGEINT) AS qs
       |  FROM ex GROUP BY label, pos)
       |SELECT label, pos, n AS n_vecs,
       |  CAST(ss AS VARCHAR) AS s_sum,
       |  CAST(qs AS VARCHAR) AS q_sum,
       |  CAST(CAST(n AS HUGEINT) * qs - ss * ss AS VARCHAR)
       |    AS var_num
       |FROM m""".stripMargin

  private def jaccardPairsSql(threshold: Double,
      docFilter: String = "TRUE"): String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    ${sqlShingles(2)} AS s
       |  FROM (SELECT doc_id, $sqlTokens AS toks FROM documents
       |        WHERE $docFilter))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
       |  CAST(len(a.s) AS BIGINT) AS sz_a,
       |  CAST(len(b.s) AS BIGINT) AS sz_b,
       |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
       |      AS DOUBLE), 6) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |  CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
       |    AS DOUBLE) >= $threshold""".stripMargin

  /** DuckDB mirror of CorpusStats.dsirWeights' integer micros —
    * definition-for-definition (md5-60 % 1024 unigram+bigram buckets,
    * one-pass raw/target counts, λ rounded at 6 decimals carried as
    * exact micros, empty docs re-attached at 0). Ends in
    * `wa(doc_id, source, m)`; q113 aggregates it, q159 resamples
    * from it — ONE weight recompute shared by both consumers. */
  private def dsirMicrosCtes: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, source, lang, $sqlTokens AS toks
       |  FROM documents),
       |f AS (SELECT doc_id, source, lang,
       |    unnest(list_concat(
       |      list_transform(toks,
       |        t -> ${hashes.md5Hash60Sql("t")} % 1024),
       |      list_transform(range(1, len(toks)), i ->
       |        ${hashes.md5Hash60Sql("toks[i] || ' ' || toks[i+1]")}
       |          % 1024))) AS b
       |  FROM t0),
       |st AS (SELECT b, COUNT(*) AS r,
       |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t
       |  FROM f GROUP BY b),
       |tot AS (SELECT CAST(SUM(r) AS DOUBLE) AS rt,
       |    CAST(SUM(t) AS DOUBLE) AS tt FROM st),
       |lam AS (SELECT b,
       |    CAST(round(ln((t + 0.5) / (tt + 0.5 * 1024))
       |             - ln((r + 0.5) / (rt + 0.5 * 1024)), 6)
       |      AS DECIMAL(20,6)) AS lam
       |  FROM st CROSS JOIN tot),
       |w AS (SELECT f.doc_id,
       |    SUM(CAST(lam * 1000000 AS BIGINT)) AS m
       |  FROM f JOIN lam ON f.b = lam.b GROUP BY 1),
       |wa AS (SELECT d.doc_id, d.source, coalesce(w.m, 0) AS m
       |  FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id)""".stripMargin

  /** DuckDB mirror of the q159/q160 Gumbel-top-k sample report —
    * weights via [[dsirMicrosCtes]] (the SAME chain q113 aggregates),
    * the md5 clock replayed exactly, Gumbel term rounded at 6 and
    * carried as integer micros (importanceSample scaladoc). ONE
    * recompute verifies the batch sample AND the streaming
    * reservoir re-merge. */
  /** The q173 DoReMi step as prefixed CTEs over a
    * `$docsCte(doc_id, source, toks)` relation — one rendering shared
    * by q173 (one step over the corpus) and q181 (the step chained
    * twice around a Gumbel resample), mirroring how both engine
    * sides run the ONE CorpusStats.domainExcessWeights. Ends in
    * `${p}ex(source, n_docs, sr, sf, excess_micro)` + `${p}tot(te)`;
    * [[domainExcessSelect]] renders the final projection. */
  private def domainExcessCtes(p: String, docsCte: String): String =
    s"""${p}rtk AS (SELECT unnest(toks) AS tok FROM $docsCte
       |  WHERE doc_id % 7 < 2),
       |${p}rcounts AS (SELECT tok, COUNT(*) AS c FROM ${p}rtk
       |  GROUP BY tok),
       |${p}rtot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n,
       |    CAST(COUNT(*) AS DOUBLE) AS v FROM ${p}rcounts),
       |${p}rvocab AS (SELECT map(list(tok ORDER BY tok),
       |    list(c ORDER BY tok)) AS m FROM ${p}rcounts WHERE c >= 3),
       |${p}ftk AS (SELECT unnest(toks) AS tok FROM $docsCte),
       |${p}fcounts AS (SELECT tok, COUNT(*) AS c FROM ${p}ftk
       |  GROUP BY tok),
       |${p}ftot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n,
       |    CAST(COUNT(*) AS DOUBLE) AS v FROM ${p}fcounts),
       |${p}fvocab AS (SELECT map(list(tok ORDER BY tok),
       |    list(c ORDER BY tok)) AS m FROM ${p}fcounts WHERE c >= 3),
       |${p}sc AS (SELECT $docsCte.source,
       |    CASE WHEN len(toks) = 0 THEN NULL ELSE
       |      list_reduce(list_transform(toks, tk ->
       |        -ln((CAST(coalesce(
       |            list_extract(map_extract(rv.m, tk), 1), 0)
       |          AS DOUBLE) + 1.0) / (rt.n + rt.v))),
       |        (a, b) -> a + b) / len(toks) END AS nll_ref,
       |    CASE WHEN len(toks) = 0 THEN NULL ELSE
       |      list_reduce(list_transform(toks, tk ->
       |        -ln((CAST(coalesce(
       |            list_extract(map_extract(fv.m, tk), 1), 0)
       |          AS DOUBLE) + 1.0) / (ft.n + ft.v))),
       |        (a, b) -> a + b) / len(toks) END AS nll_full
       |  FROM $docsCte CROSS JOIN ${p}rvocab rv CROSS JOIN ${p}rtot rt
       |    CROSS JOIN ${p}fvocab fv CROSS JOIN ${p}ftot ft),
       |${p}dom AS (SELECT source, COUNT(*) AS n_docs,
       |    SUM(CAST(round(nll_ref, 6) AS DECIMAL(20,6))) AS sr,
       |    SUM(CAST(round(nll_full, 6) AS DECIMAL(20,6))) AS sf
       |  FROM ${p}sc GROUP BY source),
       |${p}ex AS (SELECT source, n_docs, sr, sf,
       |    CASE WHEN sr > sf
       |      THEN CAST((sr - sf) * 1000000 AS BIGINT) // n_docs
       |      ELSE 0 END AS excess_micro FROM ${p}dom),
       |${p}tot AS (SELECT SUM(excess_micro) AS te FROM ${p}ex)"""
      .stripMargin

  /** The final q173-shape projection over [[domainExcessCtes]]'s
    * `${p}ex` + `${p}tot`. */
  private def domainExcessSelect(p: String): String =
    s"""SELECT source, n_docs,
       |  CAST(sr AS DOUBLE) AS sum_ref_nll,
       |  CAST(sf AS DOUBLE) AS sum_full_nll,
       |  CAST(excess_micro AS BIGINT) AS excess_micro,
       |  CAST(CASE WHEN te = 0 THEN 0
       |    ELSE (excess_micro * 1000) // te END AS BIGINT)
       |    AS weight_milli
       |FROM ${p}ex CROSS JOIN ${p}tot""".stripMargin

  /** The PMI count chain over a caller-supplied `toksrc` select (must
    * expose a token-array column `t`; q191's variant also carries
    * doc_id/source for the downstream merge) — ends in `f(w1, w2,
    * nab)` with `uc/nu/nb` in scope; ONE rendering shared by q186
    * (find) and q191 (apply), mirroring
    * CorpusStats.pmiCollocations. */
  private def pmiCtes(toksrcSelect: String): String =
    s"""toksrc AS ($toksrcSelect),
       |uni AS (SELECT unnest(t) AS w FROM toksrc),
       |uc AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY w),
       |nu AS (SELECT CAST(SUM(n) AS BIGINT) AS nu FROM uc),
       |big AS (SELECT unnest(list_transform(
       |    range(1, CAST(len(t) AS BIGINT)),
       |    i -> t[i] || ' ' || t[i+1])) AS b FROM toksrc),
       |bc AS (SELECT b, COUNT(*) AS nab FROM big GROUP BY b),
       |nb AS (SELECT CAST(SUM(nab) AS BIGINT) AS nb FROM bc),
       |f AS (SELECT split_part(b, ' ', 1) AS w1,
       |    split_part(b, ' ', 2) AS w2, nab
       |  FROM bc WHERE nab >= 5)""".stripMargin

  /** The PMI scoring + top-k select over [[pmiCtes]]'s `f` —
    * minCount 5, k 20, round-6, (w1, w2) tie-break. */
  private val pmiTopSelect: String =
    s"""SELECT w1, w2, nab AS n_ab,
       |  round(ln((CAST(nab AS DOUBLE) / CAST(nb AS DOUBLE)) /
       |    ((CAST(a.n AS DOUBLE) / CAST(nu AS DOUBLE)) *
       |     (CAST(b2.n AS DOUBLE) / CAST(nu AS DOUBLE)))), 6)
       |    AS pmi
       |FROM f JOIN uc a ON f.w1 = a.w JOIN uc b2 ON f.w2 = b2.w
       |  CROSS JOIN nu CROSS JOIN nb
       |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  /** The Laplace-unigram per-doc NLL chain over `$from(doc_id,
    * source, text)`, minCount 3 — ends in `sc(doc_id, source, n_tok,
    * nll)`; ONE rendering shared by q106 (over its planted-gibberish
    * injection) and q189 (over plain documents), mirroring
    * CorpusStats.unigramLogLoss. */
  private def unigramNllCtes(from: String): String =
    s"""t0 AS (SELECT doc_id, source, $sqlTokens AS toks
       |  FROM $from),
       |tk AS (SELECT unnest(toks) AS tok FROM t0),
       |counts AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
       |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n,
       |    CAST(COUNT(*) AS DOUBLE) AS v FROM counts),
       |vocab AS (SELECT map(list(tok ORDER BY tok),
       |    list(c ORDER BY tok)) AS m FROM counts WHERE c >= 3),
       |sc AS (SELECT t0.doc_id, t0.source, len(toks) AS n_tok,
       |    CASE WHEN len(toks) = 0 THEN NULL ELSE
       |      list_reduce(list_transform(toks, tk ->
       |        -ln((CAST(coalesce(
       |            list_extract(map_extract(v.m, tk), 1), 0)
       |          AS DOUBLE) + 1.0) / (tot.n + tot.v))),
       |        (a, b) -> a + b) / len(toks) END AS nll
       |  FROM t0 CROSS JOIN vocab v CROSS JOIN tot)""".stripMargin

  /** The q192/q193 oracle — ONE rendering for the at-rest mine and
    * its streaming decomposition (drained union ≡ batch, the
    * per-vector forward margin): inlined plane literals give both
    * halves' buckets, the Hamming ball (q98 radius) gives the
    * candidates, then round-6 cosines, DECIMAL shortlist mean,
    * id tie-breaks. */
  private lazy val marginIngestSql: String = {
    val cos = s"${sqlDotVec("x.embedding", "y.embedding")} / " +
      s"(sqrt(${sqlDotVec("x.embedding", "x.embedding")}) * " +
      s"sqrt(${sqlDotVec("y.embedding", "y.embedding")}))"
    s"""WITH x AS (SELECT vec_id, embedding,
       |    ${sqlBucket("embedding", q97Planes)} AS bucket
       |  FROM embeddings WHERE vec_id % 2 = 0),
       |y AS (SELECT vec_id AS src_id, embedding,
       |    ${sqlBucket("embedding", q97Planes)} AS qb
       |  FROM embeddings WHERE vec_id % 2 <> 0),
       |p AS (SELECT y.src_id, x.vec_id AS tgt_id,
       |    round($cos, 6) AS cos
       |  FROM y JOIN x
       |    ON bit_count(xor(x.bucket, y.qb)) <= $q98Radius),
       |rk AS (SELECT src_id, tgt_id, cos, row_number() OVER (
       |    PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rk
       |  FROM p WHERE cos > 0),
       |top AS (SELECT * FROM rk WHERE rk <= 4),
       |st AS (SELECT src_id, SUM(CAST(cos AS DECIMAL(18,6))) AS s,
       |    COUNT(*) AS c
       |  FROM top GROUP BY src_id)
       |SELECT t.src_id, t.tgt_id, t.cos,
       |  round(CAST(t.cos AS DOUBLE) /
       |    (CAST(st.s AS DOUBLE) / st.c), 6) AS margin,
       |  round(CAST(t.cos AS DOUBLE) /
       |    (CAST(st.s AS DOUBLE) / st.c), 6) >= 1.15 AS accepted
       |FROM top t JOIN st USING (src_id) WHERE t.rk = 1""".stripMargin
  }

  /** DuckDB cosine between the two margin-mining sides' embedding
    * columns (aliases `$xa.embedding` / `$ya.embedding`). */
  private def marginCosSql(xa: String, ya: String): String =
    s"${sqlDotVec(s"$xa.embedding", s"$ya.embedding")} / " +
      s"(sqrt(${sqlDotVec(s"$xa.embedding", s"$xa.embedding")}) * " +
      s"sqrt(${sqlDotVec(s"$ya.embedding", s"$ya.embedding")}))"

  /** The margin arithmetic (k-NN DECIMAL means → ratio margin →
    * best-per-src, k = 4, threshold 1.10) as oracle SQL over an
    * in-scope `p(src_id, tgt_id, cos)` CTE — ONE rendering shared by
    * q184 (exact cross-score candidates) and q187 (LSH-collide
    * candidates), mirroring Similarity.marginFromScored so the two
    * forms cannot drift. */
  private val marginChainSql: String =
    s"""pp AS (SELECT * FROM p WHERE cos > 0),
       |ax AS (SELECT src_id, SUM(CAST(cos AS DECIMAL(18,6))) AS sx,
       |    COUNT(*) AS cx
       |  FROM (SELECT src_id, cos, row_number() OVER (
       |      PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rk
       |    FROM pp)
       |  WHERE rk <= 4 GROUP BY src_id),
       |ay AS (SELECT tgt_id, SUM(CAST(cos AS DECIMAL(18,6))) AS sy,
       |    COUNT(*) AS cy
       |  FROM (SELECT tgt_id, cos, row_number() OVER (
       |      PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rk
       |    FROM pp)
       |  WHERE rk <= 4 GROUP BY tgt_id),
       |m AS (SELECT pp.src_id, pp.tgt_id, pp.cos,
       |    round(CAST(pp.cos AS DOUBLE) /
       |      ((CAST(sx AS DOUBLE) / cx + CAST(sy AS DOUBLE) / cy)
       |       / 2.0), 6) AS margin
       |  FROM pp JOIN ax USING (src_id) JOIN ay USING (tgt_id)),
       |best AS (SELECT src_id, tgt_id, cos, margin,
       |    row_number() OVER (PARTITION BY src_id
       |      ORDER BY margin DESC, tgt_id) AS rk FROM m)
       |SELECT src_id, tgt_id, cos, margin,
       |  margin >= 1.10 AS accepted
       |FROM best WHERE rk = 1""".stripMargin

  /** The q180 frame-hash chain as prefixed CTEs — one rendering of
    * the patternVideos generation arithmetic (content base +
    * per-video flip + per-frame motion mask, sign bit packed the
    * phashHashCtes way) shared by q180 (all videos, plain content)
    * and q182 (index/batch halves with the novel-pattern rule in
    * `cExpr`). Ends in `${p}vh(id, f, fp)` over sampled frames
    * 0/2/4. */
  private def videoHashCtes(p: String, where: String,
      cExpr: String): String =
    s"""${p}vids AS (
       |  SELECT event_id AS id, $cExpr AS c,
       |         (event_id // 40) AS g
       |  FROM events WHERE event_id % 40 = 0 AND ($where)),
       |${p}vf AS (SELECT id, c, g, CAST(f.range AS BIGINT) AS f
       |  FROM ${p}vids, range(0, 5, 2) f),
       |${p}vbits AS (
       |  SELECT id, f, t.i AS i,
       |    ( (((c + 1) * (t.i + 3)) % 97) % 2
       |      + CASE WHEN g % 2 = 1 AND (g * 13 + 29) % 64 = t.i
       |          THEN 1 ELSE 0 END
       |      + CASE WHEN f > 0 AND (f * 13 + 11) % 64 = t.i
       |          THEN 1 ELSE 0 END
       |    ) % 2 AS b
       |  FROM ${p}vf CROSS JOIN (SELECT range AS i FROM range(64)) t),
       |${p}vh AS (
       |  SELECT id, f,
       |    CAST(SUM(CASE WHEN i < 63 THEN b * (1::BIGINT << i)
       |      ELSE 0 END) AS BIGINT)
       |    + CAST(MAX(CASE WHEN i = 63 THEN b ELSE 0 END) AS BIGINT)
       |      * (-9223372036854775807 - 1) AS fp
       |  FROM ${p}vbits GROUP BY id, f)""".stripMargin

  private def importanceResampleSql: String =
    s"""$dsirMicrosCtes,
       |ck AS (SELECT wa.doc_id, wa.source,
       |    wa.m + CAST(CAST(round(-ln(-ln(
       |      (${hashes.md5Hash60Sql(
                "CAST(wa.doc_id AS VARCHAR) || ':clock'")}
       |        % 999999 + 1) / 1000000.0)), 6) AS DECIMAL(20,6))
       |      * 1000000 AS BIGINT) AS key_m
       |  FROM wa),
       |top AS (SELECT doc_id, source, key_m FROM ck
       |  ORDER BY key_m DESC, doc_id LIMIT 200)
       |SELECT top.source, COUNT(*) AS n_sampled,
       |  CAST(SUM(len($sqlTokens)) AS BIGINT) AS tokens_sampled,
       |  CAST(MIN(key_m) AS BIGINT) AS min_key_micros,
       |  CAST(SUM(key_m) AS BIGINT) AS sum_key_micros
       |FROM top JOIN documents d ON top.doc_id = d.doc_id
       |GROUP BY top.source""".stripMargin

  /** ONE DuckDB rendering of the excision match-and-union chain —
    * the SQL twin of Dedup.excisionIntervals, shared by the q163
    * report and the q164 surgery exactly as the Scala side shares
    * one core (a hand-copy of the walk drifting between the two
    * oracles is the q146/q147 divergence class). Ends in
    * `iv(doc_id, a inclusive start, e exclusive end, m matched
    * positions)` plus `tr(doc_id, source, toks)` for the consumers. */
  private def excisionCtesSql(n: Int): String = {
    val g = hashes.md5Hash60Sql(
      s"array_to_string(toks[pos:pos+${n - 1}], ' ')")
    s"""WITH ev AS (
       |  SELECT DISTINCT $g AS g
       |  FROM (SELECT toks, unnest(range(1, greatest(
       |      len(toks) - ${n - 2}, 1))) AS pos
       |    FROM (SELECT $sqlTokens AS toks FROM documents
       |          WHERE doc_id % 17 = 3))),
       |tr AS (SELECT doc_id, source, $sqlTokens AS toks
       |  FROM documents WHERE doc_id % 17 <> 3),
       |p AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, toks, unnest(range(1, greatest(
       |        len(toks) - ${n - 2}, 1))) AS pos
       |    FROM tr)
       |  WHERE $g IN (SELECT g FROM ev)),
       |${islandWalkCtesSql(n)}""".stripMargin
  }

  /** The surgery-tail CTEs + final SELECT — the full kept-text
    * recompute (cover positions from the islands, anti-join per
    * token position, re-join in order, md5-60) — ONE rendering
    * consumed after in-scope `tr(doc_id, ..., toks)` and
    * `iv(doc_id, a, e, ...)` CTEs; shared by the eval-fold surgery
    * (q164, streaming q169) and the self-dedup surgery (q170),
    * exactly as the engine shares one excisedDocsFrom core. */
  private def surgeryTailSql: String =
    s"""aff AS (SELECT doc_id, CAST(SUM(e - a) AS BIGINT) AS exc
       |  FROM iv GROUP BY doc_id),
       |cp AS (SELECT doc_id, unnest(range(a, e)) AS cpos
       |  FROM iv),
       |tp AS (SELECT doc_id, toks, unnest(range(1,
       |      len(toks) + 1)) AS pos
       |  FROM tr WHERE doc_id IN (SELECT doc_id FROM aff)),
       |kept AS (SELECT tp.doc_id,
       |    string_agg(tp.toks[tp.pos], ' ' ORDER BY tp.pos)
       |      AS clean
       |  FROM tp LEFT JOIN cp ON tp.doc_id = cp.doc_id
       |    AND tp.pos = cp.cpos
       |  WHERE cp.cpos IS NULL
       |  GROUP BY tp.doc_id)
       |SELECT tr.doc_id, CAST(len(tr.toks) AS BIGINT) AS n_tok,
       |  aff.exc AS tokens_excised,
       |  ${hashes.md5Hash60Sql("kept.clean")} AS clean_hash
       |FROM tr JOIN aff ON tr.doc_id = aff.doc_id
       |LEFT JOIN kept ON tr.doc_id = kept.doc_id""".stripMargin

  /** The q164 surgery oracle: eval-fold excision CTEs + the shared
    * surgery tail. */
  private def excisedCorpusSql: String =
    excisionCtesSql(8) + ",\n" + surgeryTailSql

  /** tr + non-owner matched positions `p` for the self-dedup family
    * (q166/q168/q170) — ONE rendering of the ExactSubstr owner rule:
    * ROW_NUMBER() > 1 over (gram hash ORDER BY doc, pos) is
    * definitionally the engine's "every occurrence except the
    * min-(doc, pos) owner". */
  private def selfDupCtesSql(n: Int): String = {
    val g = hashes.md5Hash60Sql(
      s"array_to_string(toks[pos:pos+${n - 1}], ' ')")
    s"""WITH tr AS (SELECT doc_id, source, $sqlTokens AS toks
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |      ROW_NUMBER() OVER (PARTITION BY g
       |        ORDER BY doc_id, pos) AS rn
       |    FROM (SELECT doc_id, pos, $g AS g
       |      FROM (SELECT doc_id, toks, unnest(range(1, greatest(
       |          len(toks) - ${n - 2}, 1))) AS pos
       |        FROM tr)))
       |  WHERE rn > 1)""".stripMargin
  }

  /** The overlap-union island walk as DuckDB CTEs — the SQL twin of
    * Dedup.islandIntervals, consumed after an in-scope `p(doc_id,
    * pos)` CTE of matched positions; shared by the contamination
    * excision oracles (q163/q164) and the self-dedup oracle (q166)
    * exactly as the Scala side shares one walk. Ends in `iv(doc_id,
    * a inclusive start, e exclusive end, m matched positions)`. */
  private def islandWalkCtesSql(n: Int): String =
    s"""isl AS (SELECT doc_id, pos,
       |    CASE WHEN MAX(pos + $n) OVER (PARTITION BY doc_id
       |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
       |        AND 1 PRECEDING) IS NULL
       |      OR pos >= MAX(pos + $n) OVER (PARTITION BY doc_id
       |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
       |        AND 1 PRECEDING)
       |      THEN 1 ELSE 0 END AS s
       |  FROM p),
       |isl2 AS (SELECT doc_id, pos,
       |    SUM(s) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS island
       |  FROM isl),
       |iv AS (SELECT doc_id, MIN(pos) AS a, MAX(pos) + $n AS e,
       |    COUNT(*) AS m
       |  FROM isl2 GROUP BY doc_id, island)""".stripMargin

  /** DuckDB mirror of CorpusStats.linearClassifierScores +
    * the per-source gate report — definition-for-definition: the same
    * md5-seeded (bucket, weight) model regenerated from scratch, the
    * same unigram+bigram feature stream, the same md5-60 % buckets
    * hashing, integer logits summed per doc then per source. Shared
    * by q156 (batch) and q158 (streaming ingest) — the BM25-family
    * convention: one oracle recompute verifies every engine form. */
  /** The classifier scoring chain (hashed-bucket model + unigram/
    * bigram features + per-doc integer logits) ending in
    * `j(doc_id, source, n_feats, logit)` — ONE rendering shared by
    * the gate forms (q156/q158/q161) and the calibration bins
    * (q188), mirroring CorpusStats.linearClassifierScores. */
  private def classifierLogitCtes: String = {
    val bH = hashes.md5Hash60Sql("CAST(b AS VARCHAR)")
    val fH = hashes.md5Hash60Sql("ft.f")
    s"""w AS (
       |  SELECT b AS bucket, $bH % 2001 - 1000 AS w
       |  FROM (SELECT unnest(range(0, 4096)) AS b)),
       |t0 AS (SELECT doc_id, source, $sqlTokens AS toks
       |  FROM documents),
       |ft AS (
       |  SELECT doc_id, unnest(toks) AS f FROM t0
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS f FROM t0),
       |sc AS (
       |  SELECT ft.doc_id, COUNT(*) AS n_feats,
       |    CAST(SUM(w.w) AS BIGINT) AS logit
       |  FROM ft JOIN w ON $fH % 4096 = w.bucket
       |  GROUP BY ft.doc_id),
       |j AS (
       |  SELECT t0.doc_id, t0.source,
       |    COALESCE(sc.n_feats, 0) AS n_feats,
       |    COALESCE(sc.logit, 0) AS logit
       |  FROM t0 LEFT JOIN sc ON t0.doc_id = sc.doc_id)""".stripMargin
  }

  /** The calibrated-gate chain (q201's chooser + gate) as ONE
    * rendering shared by the batch form and the streaming drain
    * (q203 adds sum_feats — the partials carry it). The chooser: MIN
    * qualifying bin under the HUGEINT-floor cumulative-from-top
    * milli rate, mirroring CorpusStats.chooseThresholdBin. */
  /** The q201 chooser + gate chain, shared by its batch (q201),
    * streaming (q203) and incremental (q207) legs. `chooserWhere`
    * restricts the CALIBRATION slice (q207 chooses on yesterday's
    * crawl only — the gate still scores everything); the gate's
    * accept comparison always reads the chosen bin. */
  private def calibratedGateOracleSql(withFeats: Boolean,
      chooserWhere: String = "", targetMilli: Int = 700): String = {
    val feats =
      if (withFeats)
        ",\n  CAST(SUM(j.n_feats) AS BIGINT) AS sum_feats"
      else ""
    s"""WITH $classifierLogitCtes,
       |q AS (SELECT doc_id, ($sqlQualityExpr) AS quality
       |  FROM (SELECT doc_id, text, $sqlTokens AS toks
       |        FROM documents)),
       |c AS (SELECT
       |    CAST(floor(CAST(j.logit AS DOUBLE) / 2000.0) AS BIGINT)
       |      AS bin,
       |    j.logit,
       |    CASE WHEN q.quality >= 0.8 THEN 1 ELSE 0 END AS pos
       |  FROM j JOIN q USING (doc_id) $chooserWhere),
       |cal AS (SELECT bin, COUNT(*) AS n_docs,
       |    CAST(SUM(pos) AS BIGINT) AS n_pos
       |  FROM c GROUP BY bin),
       |qual AS (SELECT c1.bin FROM cal c1 WHERE
       |    ((SELECT SUM(n_pos) FROM cal c2 WHERE c2.bin >= c1.bin)
       |      * 1000)
       |    // (SELECT SUM(n_docs) FROM cal c2 WHERE c2.bin >= c1.bin)
       |    >= $targetMilli),
       |thr AS (SELECT MIN(bin) AS thr_bin FROM qual)
       |SELECT j.source, t.thr_bin, t.thr_bin * 2000 AS thr_logit,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN j.logit >= t.thr_bin * 2000
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
       |  CAST(SUM(j.logit) AS BIGINT) AS sum_logit$feats
       |FROM j CROSS JOIN thr t GROUP BY j.source, t.thr_bin"""
      .stripMargin
  }

  /** DuckDB mirror of the q153 flagship training-prep manifest —
    * the whole pipeline replayed stage by stage (exact dedup,
    * survivor-restricted exact near-dup recompute, q135
    * contamination, q25 quality, q124 HUGEINT mix cuts). Shared
    * verbatim by q153 (batch) and q213 (at-ingest): the streamed
    * decomposition must converge to the batch answer bit for
    * bit. */
  private def trainingManifestSql: String =
    s"""WITH RECURSIVE train0 AS (
           |  SELECT doc_id, source, text, $sqlTokens AS toks
           |  FROM documents WHERE doc_id % 17 <> 3),
           |b AS (SELECT *, len(toks) AS n_tok,
           |    ROW_NUMBER() OVER (PARTITION BY md5(text)
           |      ORDER BY doc_id) AS rn_ex
           |  FROM train0),
           |exs AS (SELECT doc_id, toks, n_tok FROM b WHERE rn_ex = 1),
           |sh2 AS (SELECT doc_id, ${sqlShingles(2)} AS s FROM exs),
           |p AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
           |      AS DOUBLE) >= 0.5),
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
           |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p),
           |reach AS (
           |  SELECT src AS node, src AS r FROM edges
           |  UNION
           |  SELECT e.src AS node, re.r AS r
           |  FROM edges e JOIN reach re ON e.dst = re.node),
           |lbl AS (SELECT node, MIN(r) AS label FROM reach
           |  GROUP BY node),
           |dd AS (SELECT e.doc_id, e.n_tok,
           |    COALESCE(l.label, e.doc_id) AS comp
           |  FROM exs e LEFT JOIN lbl l ON e.doc_id = l.node),
           |nd AS (SELECT doc_id FROM (
           |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY comp
           |    ORDER BY n_tok DESC, doc_id) AS rn FROM dd)
           |  WHERE rn = 1),
           |evt AS (SELECT ${sqlShingles(3)} AS sh3 FROM (
           |  SELECT $sqlTokens AS toks FROM documents
           |  WHERE doc_id % 17 = 3)),
           |ev AS (SELECT DISTINCT shingle FROM (
           |  SELECT unnest(sh3) AS shingle FROM evt)),
           |cx AS (SELECT doc_id, ${sqlShingles(3)} AS sh3 FROM train0),
           |mm AS (SELECT c.doc_id, COUNT(*) AS nm
           |  FROM (SELECT doc_id, unnest(sh3) AS shingle FROM cx) c
           |  JOIN ev ON ev.shingle = c.shingle
           |  GROUP BY c.doc_id),
           |ct AS (SELECT cx.doc_id,
           |    CASE WHEN len(sh3) > 0
           |      THEN CAST(COALESCE(mm.nm, 0) AS DOUBLE) /
           |        CAST(len(sh3) AS DOUBLE)
           |      ELSE 0.0 END AS score
           |  FROM cx LEFT JOIN mm ON mm.doc_id = cx.doc_id),
           |fl AS (SELECT b.doc_id, b.source, b.n_tok,
           |    (b.rn_ex = 1) AS f_exact,
           |    (b.rn_ex = 1 AND b.doc_id IN (SELECT doc_id FROM nd))
           |      AS f_nd,
           |    (b.rn_ex = 1 AND b.doc_id IN (SELECT doc_id FROM nd)
           |      AND ct.score < 0.5) AS f_ct,
           |    (b.rn_ex = 1 AND b.doc_id IN (SELECT doc_id FROM nd)
           |      AND ct.score < 0.5 AND $sqlQualityExpr >= 0.4) AS f_q
           |  FROM b JOIN ct ON ct.doc_id = b.doc_id),
           |per AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n
           |  FROM fl WHERE f_q GROUP BY source),
           |w AS (SELECT source, n,
           |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS ws
           |  FROM per),
           |dn AS (SELECT CAST(SUM(ws) AS HUGEINT) AS denom FROM w),
           |cuts AS (SELECT source, least(
           |    (1000 * CAST($q124Budget AS HUGEINT) * CAST(ws AS HUGEINT))
           |      // (denom * CAST(n AS HUGEINT)),
           |    CAST(1000 AS HUGEINT)) AS cut
           |  FROM w CROSS JOIN dn),
           |mz AS (SELECT f.source, COUNT(*) AS n_mixed,
           |    CAST(SUM(f.n_tok) AS BIGINT) AS tokens_mixed
           |  FROM fl f JOIN cuts c ON c.source = f.source
           |  WHERE f.f_q AND ${hashes.md5Hash60Sql(
                "'mix-' || CAST(f.doc_id AS VARCHAR)")} % 1000 < c.cut
           |  GROUP BY f.source),
           |st AS (SELECT source, COUNT(*) AS n_raw,
           |    CAST(SUM(CASE WHEN f_exact THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_exact,
           |    CAST(SUM(CASE WHEN f_nd THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_neardup,
           |    CAST(SUM(CASE WHEN f_ct THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_decontam,
           |    CAST(SUM(CASE WHEN f_q THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_quality
           |  FROM fl GROUP BY source)
           |SELECT st.source, st.n_raw, st.n_exact, st.n_neardup,
           |  st.n_decontam, st.n_quality,
           |  COALESCE(mz.n_mixed, 0) AS n_mixed,
           |  COALESCE(mz.tokens_mixed, 0) AS tokens_mixed
           |FROM st LEFT JOIN mz ON mz.source = st.source""".stripMargin

  private def classifierGateSql: String =
    s"""WITH $classifierLogitCtes
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN logit >= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_accept,
       |  CAST(SUM(logit) AS BIGINT) AS sum_logit,
       |  CAST(SUM(n_feats) AS BIGINT) AS sum_feats
       |FROM j GROUP BY source""".stripMargin

  /** DuckDB mirror of Dedup.dupCentrality over the exact dense pair
    * set at the pair store's threshold — the q133 convention (the
    * oracle recomputes all pairs independently, so the hash match
    * also re-proves the banded store's recall) with the three
    * integer power-iteration rounds unrolled as chained CTEs.
    * `//` is DuckDB's floor division on BIGINT — identical to
    * Spark's `div` on the non-negative values here. */
  private def dupCentralitySql(rounds: Int, topK: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""r$i AS (SELECT e.dst AS id,
         |    CAST(150 + (850 * SUM(r.rank_milli // d.deg)) // 1000
         |      AS BIGINT) AS rank_milli
         |  FROM e JOIN r${i - 1} r ON e.src = r.id
         |    JOIN d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH sh AS (
       |  SELECT doc_id, ${sqlShingles(2)} AS s
       |  FROM (SELECT doc_id, $sqlTokens AS toks FROM documents)),
       |pr AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
       |      AS DOUBLE) >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pr),
       |d AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM e GROUP BY src),
       |r0 AS (SELECT src AS id, CAST(1000 AS BIGINT) AS rank_milli
       |  FROM d),
       |$roundCtes
       |SELECT r$rounds.id AS doc_id, r$rounds.rank_milli,
       |  d.deg AS n_neighbors
       |FROM r$rounds JOIN d ON r$rounds.id = d.src
       |ORDER BY rank_milli DESC, doc_id LIMIT $topK""".stripMargin
  }

  /** DuckDB mirror of the md5-60 SimHash per document (q31 and the
    * q46 pair join both build on it). */
  private def simhash60Sql: String = {
    val h = hashes.md5Hash60Sql("t")
    val sums = (0 until 60).map(j =>
      s"SUM(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val bits = (0 until 60).map(j =>
      s"CASE WHEN COALESCE(v.b$j, 0) >= 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""SELECT d.doc_id, $bits AS simhash
       |FROM documents d LEFT JOIN (
       |  SELECT doc_id, $sums FROM (
       |    SELECT doc_id, $h AS h FROM (
       |      SELECT doc_id, unnest($sqlTokens) AS t FROM documents))
       |  GROUP BY doc_id) v ON d.doc_id = v.doc_id""".stripMargin
  }

  /** DuckDB exact all-pairs cosine near-dup mirror, shared by q29
    * (fixed 16-table LSH) and q62 (auto-sized): both are subset-exact
    * and complete at the verify scale, so the exact answer verifies
    * them. */
  private def embNearDupExactSql: String =
    """SELECT id_a, id_b, round(cos_exact, 6) AS cos FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |    (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cos_exact
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |WHERE cos_exact >= 0.8""".stripMargin

  /** DuckDB all-pairs SimHash near-dup mirror, shared by q46 (fixed
    * pigeonhole params) and q61 (auto-sized): both must produce this
    * identical exact output. */
  /** The q172-family perceptual-hash reconstruction as oracle CTEs —
    * shared by q172/q176/q177: rebuilds each image's 64-bit hash from
    * the [[patternPngs]] generation arithmetic (base bit XOR explicit
    * k ≤ 2 flip terms; bit 63 lands via the explicit two's-complement
    * term because a BIGINT << 63 overflows). `pExpr` is the base
    * pattern id (q177's streamed half rotates it, the patShift
    * mirror); ends with `${prefix}h(id, fp)`. */
  private def phashHashCtes(prefix: String, where: String,
      pExpr: String, div: Int = 8): String =
    s"""${prefix}ids AS (
       |  SELECT event_id AS id, $pExpr AS p,
       |         (event_id // $div) AS m, ((event_id // $div) % 3) AS k
       |  FROM events WHERE event_id % $div = 0 AND ($where)),
       |${prefix}bits AS (
       |  SELECT id, t.i AS i,
       |    ( (((p + 1) * (t.i + 3)) % 97) % 2
       |      + CASE WHEN k >= 1 AND (m * 13) % 64 = t.i
       |          THEN 1 ELSE 0 END
       |      + CASE WHEN k >= 2 AND (m * 13 + 29) % 64 = t.i
       |          THEN 1 ELSE 0 END
       |    ) % 2 AS b
       |  FROM ${prefix}ids CROSS JOIN
       |    (SELECT range AS i FROM range(64)) t),
       |${prefix}h AS (
       |  SELECT id,
       |    CAST(SUM(CASE WHEN i < 63 THEN b * (1::BIGINT << i)
       |      ELSE 0 END) AS BIGINT)
       |    + CAST(MAX(CASE WHEN i = 63 THEN b ELSE 0 END) AS BIGINT)
       |      * (-9223372036854775807 - 1) AS fp
       |  FROM ${prefix}bits GROUP BY id)""".stripMargin

  /** The q44/q178 recursive-reach connected-component labeling over a
    * pair CTE `pairsCte(doc_a, doc_b)` as ONE shared rendering (the
    * sqlShingles rationale: hand-copies of the reach chain drift) —
    * shared by q178, q179, and q208's three per-modality keepers.
    * Ends with `${p}lbl(node, label)`: the min-id component label for
    * every pair-participating node (singletons absent — consumers
    * COALESCE to the node's own id). */
  private def ccLabelCtes(p: String, pairsCte: String): String =
    s"""${p}edges AS (SELECT doc_a AS src, doc_b AS dst FROM $pairsCte
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM $pairsCte),
       |${p}reach AS (
       |  SELECT src AS node, src AS r FROM ${p}edges
       |  UNION
       |  SELECT e.src AS node, re.r AS r
       |  FROM ${p}edges e JOIN ${p}reach re ON e.dst = re.node),
       |${p}lbl AS (SELECT node, MIN(r) AS label FROM ${p}reach
       |  GROUP BY node)""".stripMargin

  /** The per-prefix component construction of the q205/q209 oracles
    * as ONE shared rendering (the ccLabelCtes rationale at the
    * growth grain): expects `alld(doc_id, b, ckey, source, text)` in
    * scope. Emits exact-jaccard pairs with their edge-VISIBLE batch
    * (an edge appears when its LATER endpoint arrives), per-prefix
    * same-ckey min-edges, one prefix-parameterized recursive reach,
    * and `fa(doc_id, b, source, grp)` — each doc's component label
    * read AT ITS OWN batch's prefix (the fold-at-ingest read).
    * `lbl(pfx, node, label)` stays in scope for consumers reading
    * labels at OTHER prefixes (q209 reads the final prefix for the
    * drift compare). */
  private def perPrefixComponentCtes(nPrefixes: Int): String = {
    val pfxs = (0 until nPrefixes).map(i =>
      s"SELECT $i AS pfx").mkString(" UNION ALL ")
    s"""ash AS (SELECT doc_id, b, ${sqlShingles(2)} AS s
       |  FROM (SELECT doc_id, b, $sqlTokens AS toks FROM alld)),
       |ap AS (
       |  SELECT a.doc_id AS doc_a, z.doc_id AS doc_b,
       |    greatest(a.b, z.b) AS eb
       |  FROM ash a JOIN ash z ON a.doc_id < z.doc_id
       |  WHERE CAST(len(list_intersect(a.s, z.s)) AS DOUBLE) /
       |    CAST(len(a.s) + len(z.s) - len(list_intersect(a.s, z.s))
       |      AS DOUBLE) >= 0.5),
       |pfxs AS ($pfxs),
       |cep AS (
       |  SELECT m.pfx, x.doc_id AS doc_a, m.mn AS doc_b
       |  FROM (SELECT f.pfx, y.ckey, MIN(y.doc_id) AS mn
       |        FROM pfxs f JOIN alld y ON y.b <= f.pfx
       |        GROUP BY f.pfx, y.ckey) m
       |  JOIN alld x ON x.ckey = m.ckey AND x.b <= m.pfx
       |  WHERE x.doc_id <> m.mn),
       |pep AS (SELECT f.pfx, ap.doc_a, ap.doc_b
       |  FROM pfxs f JOIN ap ON ap.eb <= f.pfx),
       |alle AS (SELECT pfx, doc_a, doc_b FROM pep
       |  UNION SELECT pfx, doc_a, doc_b FROM cep),
       |ed AS (SELECT pfx, doc_a AS src, doc_b AS dst FROM alle
       |  UNION ALL SELECT pfx, doc_b AS src, doc_a AS dst
       |  FROM alle),
       |reach AS (
       |  SELECT pfx, src AS node, src AS r FROM ed
       |  UNION
       |  SELECT e.pfx, e.src AS node, re.r AS r
       |  FROM ed e JOIN reach re
       |    ON e.pfx = re.pfx AND e.dst = re.node),
       |lbl AS (SELECT pfx, node, MIN(r) AS label
       |  FROM reach GROUP BY pfx, node),
       |fa AS (
       |  SELECT d.doc_id, d.b, d.source,
       |    COALESCE(l.label, d.doc_id) AS grp
       |  FROM alld d LEFT JOIN lbl l
       |    ON l.pfx = d.b AND l.node = d.doc_id)""".stripMargin
  }

  /** The synthetic-URL fixture + canonicalization as oracle CTEs —
    * shared by q110 (canonicalization report) and q175 (keeper
    * dedup): mirrors [[syntheticUrlDocs]] and the urls.canonicalize /
    * urls.host arithmetic in DuckDB string functions. Ends with
    * `canon(doc_id, source, n_chars, url, domain, canon)`. */
  private lazy val urlCanonCtes: String =
    """u AS (
      |  SELECT doc_id, source, n_chars,
      |    'https://' ||
      |    CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source
      |    END || '.example.com/' || lang || '/page/' ||
      |    CAST(doc_id % 50 AS VARCHAR) ||
      |    CASE WHEN doc_id % 3 = 0
      |      THEN '?utm_source=feed&utm_medium=m' ||
      |        CAST(doc_id % 7 AS VARCHAR)
      |    WHEN doc_id % 3 = 1
      |      THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) ||
      |        '&utm_campaign=c' || CAST(doc_id % 4 AS VARCHAR)
      |    ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |      THEN '#sec' || CAST(doc_id % 4 AS VARCHAR)
      |    ELSE '' END AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id, source, n_chars, url,
      |    regexp_extract(split_part(url, '#', 1),
      |      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS head,
      |    substr(split_part(url, '#', 1),
      |      length(regexp_extract(split_part(url, '#', 1),
      |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) + 1) AS tail
      |  FROM u WHERE url IS NOT NULL),
      |canon AS (
      |  SELECT doc_id, source, n_chars, url,
      |    lower(regexp_extract(url,
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS domain,
      |    lower(head) || split_part(tail, '?', 1) ||
      |      CASE WHEN len(list_filter(
      |          string_split(substr(tail,
      |            length(split_part(tail, '?', 1)) + 2), '&'),
      |          p -> p <> '' AND NOT starts_with(p, 'utm_'))) > 0
      |        THEN '?' || array_to_string(list_filter(
      |          string_split(substr(tail,
      |            length(split_part(tail, '?', 1)) + 2), '&'),
      |          p -> p <> '' AND NOT starts_with(p, 'utm_')), '&')
      |      ELSE '' END AS canon
      |  FROM parts)""".stripMargin

  /** q124's oracle — shared verbatim by q174 (streaming form): the
    * √n temperature allocation (HUGEINT truncating ratio, min(1000)
    * saturation) and the salted-hash row selection. */
  private lazy val temperatureMixSql: String =
    s"""WITH per AS (SELECT source,
       |    CAST(SUM(len($sqlTokens)) AS BIGINT) AS n
       |  FROM documents GROUP BY source),
       |w AS (SELECT source, n,
       |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS ws
       |  FROM per),
       |d AS (SELECT CAST(SUM(ws) AS HUGEINT) AS denom FROM w),
       |cuts AS (SELECT source, least(
       |    (1000 * CAST($q124Budget AS HUGEINT) * CAST(ws AS HUGEINT))
       |      // (denom * CAST(n AS HUGEINT)),
       |    CAST(1000 AS HUGEINT)) AS cut
       |  FROM w CROSS JOIN d),
       |kept AS (SELECT doc.doc_id, doc.source,
       |    len(${sqlTokensOf("doc.text")}) AS dl, c.cut
       |  FROM documents doc JOIN cuts c ON doc.source = c.source
       |  WHERE ${hashes.md5Hash60Sql(
          "'mix-' || CAST(doc.doc_id AS VARCHAR)")} % 1000 < c.cut)
       |SELECT source, CAST(cut AS BIGINT) AS cut,
       |  COUNT(*) AS n_kept, CAST(SUM(dl) AS BIGINT) AS kept_tokens
       |FROM kept GROUP BY source, cut""".stripMargin

  private def simhashPairsSql: String =
    s"""WITH sq AS ($simhash60Sql)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sq a JOIN sq b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 5""".stripMargin

  /** The data-card oracle — shared verbatim by q116 (batch) and q117
    * (streaming complete-mode): the streaming form converges to the
    * identical full-corpus aggregate once the last micro-batch lands.
    * Each signal mirrors its individually-gated fragment (q25
    * quality, q26 lang whens, q69 repetition) over one shared
    * tokenization. */
  private lazy val corpusReportSql: String = {
        val markers = text.langMarkers
        def score(m: Seq[String]) =
          s"len(list_filter(toks, x -> x IN (${m.map(w => s"'$w'").mkString(",")})))"
        val scores = markers.map { case (l, m) => s"${score(m)} AS s_$l" }
        val langs = markers.map(_._1)
        val whens = langs.map { l =>
          val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o")
            .mkString(" AND ")
          s"WHEN $conds THEN '$l'"
        }
        s"""WITH base AS (
           |  SELECT source, lang, n_chars, text, $sqlTokens AS toks
           |  FROM documents),
           |sc AS (
           |  SELECT source, lang, n_chars,
           |    len(toks) AS n_tok,
           |    $sqlQualityExpr AS q,
           |    CASE WHEN len(toks) - 2 <= 0 THEN 0.0
           |      ELSE round(1.0 - CAST(len(${sqlShingles(3)}) AS DOUBLE)
           |        / CAST(len(toks) - 2 AS DOUBLE), 6) END AS rep3,
           |    CASE ${whens.mkString(" ")} ELSE '${langs.last}'
           |      END AS pred
           |  FROM (SELECT source, lang, n_chars, text, toks,
           |      ${scores.mkString(", ")} FROM base))
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           |  CAST(SUM(CAST(q AS DECIMAL(20,6))) AS DOUBLE)
           |    AS sum_quality,
           |  CAST(SUM(CASE WHEN rep3 >= 0.1 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_repetitive,
           |  CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_lang_agree,
           |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
           |FROM sc GROUP BY source""".stripMargin
      }

  /** The q208 manifest oracle, shared verbatim by q211 (the
    * at-ingest composition must be indistinguishable from the
    * batch-computed manifest). */
  private def modalityManifestSql: String =
    s"""WITH RECURSIVE $urlCanonCtes,
           |fd AS (SELECT c.doc_id, c.source,
           |    CASE ${hashes.md5Hash60Sql("c.canon")} % 10
           |      WHEN 0 THEN 'test' WHEN 1 THEN 'val'
           |      ELSE 'train' END AS split,
           |    (ROW_NUMBER() OVER (PARTITION BY c.canon
           |      ORDER BY c.n_chars DESC, c.doc_id)) = 1 AS doc_kept,
           |    len(${sqlTokensOf("d.text")}) AS toks
           |  FROM canon c JOIN documents d ON c.doc_id = d.doc_id),
           |nd AS (SELECT COUNT(*) AS n FROM documents),
           |${phashHashCtes("i", "TRUE", "(event_id % 50)")},
           |ip AS (SELECT a.id AS doc_a, b.id AS doc_b
           |  FROM ih a JOIN ih b ON a.id < b.id
           |  WHERE bit_count(xor(a.fp, b.fp)) <= 4),
           |${ccLabelCtes("i", "ip")},
           |iitem AS (SELECT h.id,
           |    COALESCE(l.label, h.id) = h.id AS is_keeper,
           |    CAST(bit_count(h.fp) AS BIGINT) AS mass
           |  FROM ih h LEFT JOIN ilbl l ON h.id = l.node),
           |${phashHashCtes("a", "TRUE", "(event_id % 50)", div = 16)},
           |ap AS (SELECT a.id AS doc_a, b.id AS doc_b
           |  FROM ah a JOIN ah b ON a.id < b.id
           |  WHERE bit_count(xor(a.fp, b.fp)) <= 4),
           |${ccLabelCtes("a", "ap")},
           |aitem AS (SELECT h.id,
           |    COALESCE(l.label, h.id) = h.id AS is_keeper,
           |    CAST(bit_count(h.fp) AS BIGINT) AS mass
           |  FROM ah h LEFT JOIN albl l ON h.id = l.node),
           |${videoHashCtes("", "TRUE", "((event_id // 40) % 25)")},
           |vp AS (SELECT a.id AS doc_a, b.id AS doc_b
           |  FROM vh a JOIN vh b ON a.id < b.id
           |  WHERE bit_count(xor(a.fp, b.fp)) <= 4
           |  GROUP BY a.id, b.id),
           |${ccLabelCtes("v", "vp")},
           |vm AS (SELECT id, CAST(SUM(bit_count(fp)) AS BIGINT) AS mass
           |  FROM vh GROUP BY id),
           |vitem AS (SELECT m.id,
           |    COALESCE(l.label, m.id) = m.id AS is_keeper, m.mass
           |  FROM vm m LEFT JOIN vlbl l ON m.id = l.node),
           |med AS (
           |  SELECT 'image' AS modality, id, is_keeper, mass FROM iitem
           |  UNION ALL SELECT 'audio', id, is_keeper, mass FROM aitem
           |  UNION ALL SELECT 'video', id, is_keeper, mass FROM vitem),
           |rows0 AS (
           |  SELECT m.modality, f.source, f.split,
           |    (m.is_keeper AND f.doc_kept) AS kept, m.mass
           |  FROM med m JOIN fd f ON f.doc_id = m.id % (SELECT n FROM nd)
           |  UNION ALL
           |  SELECT 'text' AS modality, source, split, doc_kept AS kept,
           |    toks AS mass
           |  FROM fd)
           |SELECT modality, source, split,
           |  COUNT(*) AS n_items,
           |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_kept,
           |  CAST(SUM(CASE WHEN kept THEN mass ELSE 0 END) AS BIGINT)
           |    AS kept_mass
           |FROM rows0 GROUP BY modality, source, split""".stripMargin

  /** The q209 drift-report oracle, shared verbatim by q212 (the
    * store-backed report reads manifests + the label store instead
    * of re-walking components — same answer by construction). */
  private def foldDriftSql: String = {
        def fold(h: String) =
          s"CASE $h % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val' " +
            "ELSE 'train' END"
        s"""WITH RECURSIVE $urlCanonCtes,
           |all0 AS (SELECT c.doc_id, 0 AS b, c.canon AS ckey,
           |    c.source, d.text
           |  FROM canon c JOIN documents d ON c.doc_id = d.doc_id),
           |br AS (SELECT o.doc_id + 5000000 AS doc_id, 1 AS b,
           |    o.canon AS ckey, o.source, p.text
           |  FROM canon o JOIN documents p ON p.doc_id = o.doc_id + 1
           |  WHERE o.doc_id % 21 = 0),
           |alld AS (SELECT * FROM all0 UNION ALL SELECT * FROM br),
           |${perPrefixComponentCtes(2)},
           |ffa AS (SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS fgrp
           |  FROM alld d LEFT JOIN lbl l
           |    ON l.pfx = 1 AND l.node = d.doc_id),
           |rep AS (SELECT fa.doc_id, fa.source, ffa.fgrp,
           |    ${fold(hashes.md5Hash60Sql("CAST(fa.grp AS VARCHAR)"))}
           |      AS isplit,
           |    ${fold(hashes.md5Hash60Sql("CAST(ffa.fgrp AS VARCHAR)"))}
           |      AS fsplit
           |  FROM fa JOIN ffa ON fa.doc_id = ffa.doc_id),
           |lk AS (SELECT fgrp FROM rep GROUP BY fgrp
           |  HAVING COUNT(DISTINCT isplit) > 1)
           |SELECT source, COUNT(*) AS n_docs,
           |  COUNT(DISTINCT fgrp) AS n_final_groups,
           |  CAST(SUM(CASE WHEN isplit <> fsplit THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_moved,
           |  CAST(SUM(CASE WHEN fgrp IN (SELECT fgrp FROM lk)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_docs
           |FROM rep GROUP BY source""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    def dec(x: String) = s"CAST(SUM(CAST($x AS DECIMAL(20,4))) AS DOUBLE)"
    Map(
      "q01_pricing_summary" ->
        s"""SELECT l_returnflag, l_linestatus,
           |  ${dec("l_quantity")} AS sum_qty,
           |  ${dec("l_extendedprice")} AS sum_base_price,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS sum_disc_price,
           |  ${dec("l_quantity")} / COUNT(*) AS avg_qty,
           |  ${dec("l_discount")} / COUNT(*) AS avg_disc,
           |  COUNT(*) AS count_order
           |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

      "q02_revenue_by_nation" ->
        """SELECT r_name, n_name,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS revenue,
          |  COUNT(DISTINCT o_orderkey) AS n_orders
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name""".stripMargin,

      "q03_top_orders" ->
        """SELECT l_orderkey, CAST(rev_dec AS DOUBLE) AS revenue FROM (
          |  SELECT l_orderkey,
          |    SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS rev_dec
          |  FROM lineitem GROUP BY l_orderkey
          |  ORDER BY rev_dec DESC, l_orderkey LIMIT 10)""".stripMargin,

      "q04_semi_join_priority" ->
        """SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders
          |WHERE o_orderkey IN (
          |  SELECT l_orderkey FROM lineitem
          |  WHERE l_shipdate > TIMESTAMP '1995-06-01 00:00:00')
          |GROUP BY o_orderpriority""".stripMargin,

      "q05_anti_join_segments" ->
        s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
           |  ${dec("c_acctbal")} AS sum_acctbal
           |FROM customer
           |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
           |GROUP BY c_mktsegment""".stripMargin,

      "q06_topk_per_customer" ->
        """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey
          |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          |  FROM orders) WHERE rnk <= 3""".stripMargin,

      "q07_running_total" ->
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) OVER (
          |    PARTITION BY l_suppkey
          |    ORDER BY l_shipdate, l_orderkey, l_linenumber
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          |    AS running_qty
          |FROM lineitem""".stripMargin,

      "q08_rollup_returns" ->
        s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           |  COALESCE(l_linestatus, 'ALL') AS linestatus,
           |  COUNT(*) AS n, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

      "q09_distinct_priority" ->
        s"""SELECT o_orderpriority,
           |  COUNT(DISTINCT o_custkey) AS n_customers,
           |  COUNT(*) AS n_orders,
           |  ${dec("o_totalprice")} AS sum_price
           |FROM orders GROUP BY o_orderpriority""".stripMargin,

      "q10_set_intersect" ->
        """SELECT user_id FROM events WHERE event_type = 'view'
          |INTERSECT
          |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,

      "q11_set_except" ->
        """SELECT user_id FROM events WHERE event_type = 'click'
          |EXCEPT
          |SELECT user_id FROM events WHERE event_type = 'error'""".stripMargin,

      "q12_catalog_rollup" ->
        s"""$topicsCte
           |SELECT regexp_replace(topic, '-partition-\\d+$$', '') AS parent_topic,
           |  COUNT(*) AS n_entries,
           |  CAST(SUM(CASE WHEN regexp_matches(topic, '-partition-\\d+$$')
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_partitions,
           |  MAX(regexp_matches(topic, '-partition-\\d+$$')) AS partitioned
           |FROM topics GROUP BY 1""".stripMargin,

      "q13_partition_filter" ->
        s"""$topicsCte
           |SELECT topic FROM topics
           |WHERE NOT regexp_matches(topic, '-partition-\\d+$$')""".stripMargin,

      "q14_priority_limit" ->
        s"""$topicsCte
           |SELECT topic, priority FROM (
           |  SELECT topic,
           |    CASE WHEN topic LIKE '%ns1%' OR topic LIKE '%dlq%'
           |      OR topic LIKE '%global%' THEN 0 ELSE 1 END AS priority
           |  FROM topics)
           |ORDER BY priority, topic LIMIT 40""".stripMargin,

      "q15_union_dedup" ->
        s"""$topicsCte
           |SELECT topic, MIN(src_rank) AS src_rank FROM (
           |  SELECT topic, 1 AS src_rank FROM topics
           |    WHERE NOT regexp_matches(topic, '-partition-\\d+$$')
           |  UNION ALL
           |  SELECT topic, 2 AS src_rank FROM topics
           |    WHERE regexp_matches(topic, '-partition-\\d+$$')
           |  UNION ALL
           |  SELECT DISTINCT 'persistent://system/ns/' || event_type AS topic,
           |    3 AS src_rank FROM events
           |) GROUP BY topic""".stripMargin,

      "q16_per_key_cap" ->
        """SELECT user_id, event_id FROM (
          |  SELECT user_id, event_id,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id) AS rn
          |  FROM events) WHERE rn <= 5""".stripMargin,

      "q17_trim_head_tail" ->
        """SELECT event_type, COUNT(*) AS n,
          |  CAST(SUM(event_id) AS BIGINT) AS sum_id FROM (
          |  SELECT event_type, event_id,
          |    row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn,
          |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
          |  FROM events) WHERE rn > 3 AND rn <= cnt - 1
          |GROUP BY event_type""".stripMargin,

      "q18_json_extract" ->
        """SELECT event_type,
          |  CAST(SUM(k) AS BIGINT) AS sum_k,
          |  CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k,
          |  COUNT(*) AS n
          |FROM (SELECT event_type,
          |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
          |GROUP BY event_type""".stripMargin,

      "q19_hourly_buckets" ->
        s"""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
           |  COUNT(*) AS n, ${dec("value")} AS sum_value
           |FROM events GROUP BY 1, 2""".stripMargin,

      "q20_event_gaps" ->
        """SELECT user_id, COUNT(gap_ms) AS n_gaps,
          |  CAST(SUM(gap_ms) AS BIGINT) AS sum_gap_ms,
          |  CAST(SUM(gap_ms) AS DOUBLE) / COUNT(gap_ms) AS avg_gap_ms
          |FROM (
          |  SELECT user_id,
          |    epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id)) AS gap_ms
          |  FROM events)
          |GROUP BY user_id HAVING COUNT(gap_ms) > 0""".stripMargin,

      "q21_sessionize" ->
        """SELECT user_id,
          |  CAST(SUM(is_new) AS BIGINT) AS n_sessions,
          |  COUNT(*) AS n_events
          |FROM (
          |  SELECT user_id,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
          |      THEN 1 ELSE 0 END AS is_new
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |GROUP BY user_id""".stripMargin,

      "q22_asof_join" ->
        """SELECT p.event_id, p.user_id, c.event_id AS click_event_id
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |ASOF LEFT JOIN (
          |  SELECT user_id, ts, MAX(event_id) AS event_id
          |  FROM events WHERE event_type = 'click'
          |  GROUP BY user_id, ts) c
          |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

      "q23_dedup_exact" ->
        """SELECT CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
          |  COUNT(*) AS n_copies
          |FROM documents GROUP BY text""".stripMargin,

      "q24_token_stats" ->
        s"""SELECT lang, COUNT(*) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           |  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
           |  CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
           |FROM (SELECT lang, len($sqlTokens) AS n_tokens FROM documents)
           |GROUP BY lang""".stripMargin,

      "q25_quality_scores" ->
        s"""WITH scored AS (
           |  SELECT source,
           |    round((
           |      least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) +
           |      least(stop_ratio * 10.0, 1.0) +
           |      greatest(1.0 - punct_ratio * 10.0, 0.0)) / 3.0, 6) AS q
           |  FROM (
           |    SELECT source,
           |      len(toks) AS n_tok,
           |      CASE WHEN len(toks) = 0 THEN 0.0
           |        ELSE CAST(len(list_filter(toks, x -> x IN
           |          ('the','a','an','and','of','to','in','is','it','that')))
           |          AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stop_ratio,
           |      CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
           |        / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio
           |    FROM (SELECT source, text, $sqlTokens AS toks FROM documents)))
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CAST(q AS DECIMAL(20,6))) AS DOUBLE) AS sum_quality,
           |  MIN(q) AS min_quality, MAX(q) AS max_quality
           |FROM scored GROUP BY source""".stripMargin,

      "q26_lang_id" -> {
        val markers = text.langMarkers
        def score(m: Seq[String]) =
          s"len(list_filter(toks, x -> x IN (${m.map(w => s"'$w'").mkString(",")})))"
        val scores = markers.map { case (l, m) => s"${score(m)} AS s_$l" }
        val langs = markers.map(_._1)
        val whens = langs.map { l =>
          val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o")
            .mkString(" AND ")
          s"WHEN $conds THEN '$l'"
        }
        s"""SELECT lang, predicted, COUNT(*) AS n FROM (
           |  SELECT lang,
           |    CASE ${whens.mkString(" ")} ELSE '${langs.last}' END AS predicted
           |  FROM (
           |    SELECT lang, ${scores.mkString(", ")}
           |    FROM (SELECT lang, $sqlTokens AS toks FROM documents)))
           |GROUP BY lang, predicted""".stripMargin
      },

      "q27_jaccard_pairs" -> jaccardPairsSql(0.18),

      "q30_minhash_lsh" -> jaccardPairsSql(0.5),

      "q31_simhash_buckets" -> simhash60Sql,

      "q46_simhash_neardup" -> simhashPairsSql,

      // same oracle: the auto-sized parameterization must produce the
      // identical exact output
      "q61_simhash_auto" -> simhashPairsSql,

      "q32_ann_lsh" -> {
        val cos = s"${sqlDotVec("a.embedding", "c.embedding")} / " +
          s"(sqrt(${sqlDotVec("a.embedding", "a.embedding")}) * " +
          s"sqrt(${sqlDotVec("c.embedding", "c.embedding")}))"
        s"""WITH b AS (
           |  SELECT vec_id, embedding,
           |    ${sqlBucket("embedding", q32Planes)} AS bucket
           |  FROM embeddings),
           |p AS (
           |  SELECT a.vec_id AS vec_id, c.vec_id AS nb_id, $cos AS cos
           |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id)
           |SELECT vec_id, nb_id, round(cos, 6) AS cos, rnk FROM (
           |  SELECT vec_id, nb_id, cos,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY cos DESC, nb_id) AS rnk
           |  FROM p) WHERE rnk <= 5""".stripMargin
      },

      "q33_fingerprint" ->
        s"""SELECT doc_id, ${hashes.rollingFingerprintSql(sqlTokens)} AS fp
           |FROM documents""".stripMargin,

      "q28_ann_bruteforce" ->
        """SELECT vec_id, round(cos_exact, 6) AS cos FROM (
          |  SELECT e.vec_id,
          |    list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) /
          |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
          |     sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))) AS cos_exact
          |  FROM embeddings e,
          |    (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
          |  WHERE e.vec_id <> 0
          |  ORDER BY cos_exact DESC, e.vec_id LIMIT 10)""".stripMargin,

      "q29_neardup_embeddings" -> embNearDupExactSql,

      // the auto-sized variant re-scores exactly too, so the same
      // exact all-pairs oracle verifies it
      "q62_neardup_auto" -> embNearDupExactSql,

      "q34_generator" ->
        """SELECT id,
          |  md5('evt-' || CAST(id AS VARCHAR)) AS event_id,
          |  md5('corr-' || CAST(id AS VARCHAR)) AS correlation_id,
          |  100 + (id * 1103515245 + 12345) % 7 AS project_id,
          |  'user+' || CAST((id * 69069 + 1) % 1000 AS VARCHAR)
          |    || '@example.com' AS user_key,
          |  7000 + (id * 40014 + 3) % 25 AS campaign_id,
          |  5000 + (id * 48271 + 7) % 10 AS template_id,
          |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS created_at,
          |  strftime(ts, '%Y-%m-%d %H:%M:%S.%gZ') AS ingest_start_time,
          |  strftime(ts, '%Y-%m-%d %H:%M:%S +00:00') AS es_created_at
          |FROM (
          |  SELECT range AS id,
          |    TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (range) SECOND AS ts
          |  FROM range(0, 1000))""".stripMargin,

      "q35_envelope_encode" ->
        """SELECT event_id,
          |  base64(encode(props)) AS props_b64,
          |  octet_length(encode(props)) AS props_bytes,
          |  epoch_ms(ts) AS publish_ms
          |FROM events""".stripMargin,

      "q36_catalog_join" ->
        s"""$topicsCte,
           |parsed AS (
           |  SELECT regexp_extract(topic, 'persistent://([^/]+)/([^/]+)/(.+)', 1) AS tenant,
           |    regexp_extract(topic, 'persistent://([^/]+)/([^/]+)/(.+)', 2) AS namespace,
           |    topic
           |  FROM topics)
           |SELECT tenant, COUNT(DISTINCT namespace) AS n_namespaces,
           |  COUNT(*) AS n_topics
           |FROM parsed GROUP BY tenant""".stripMargin,

      "q37_exclude_system" ->
        s"""$topicsCte,
           |allt AS (
           |  SELECT topic FROM topics
           |  UNION ALL
           |  SELECT DISTINCT 'persistent://pulsar/ns/' || event_type FROM events
           |  UNION ALL
           |  SELECT DISTINCT 'persistent://public/default/' || event_type FROM events)
           |SELECT topic,
           |  regexp_extract(topic, 'persistent://([^/]+)/', 1) AS tenant
           |FROM allt
           |WHERE regexp_extract(topic, 'persistent://([^/]+)/', 1)
           |  NOT IN ('public', 'pulsar', 'system')""".stripMargin,

      "q38_binary_codec" ->
        """SELECT event_id,
          |  CASE WHEN event_id % 3 = 0
          |    THEN base64(from_hex('FF') || encode(props)) ELSE props
          |  END AS content,
          |  (event_id % 3 = 0) AS binary_encoded,
          |  true AS roundtrip_ok
          |FROM events""".stripMargin,

      "q39_cli_parse" ->
        """SELECT 'topic-' || CAST(user_id AS VARCHAR) AS name FROM (
          |  SELECT user_id,
          |    row_number() OVER (ORDER BY event_id) AS rn,
          |    COUNT(*) OVER () AS cnt
          |  FROM events WHERE event_id < 30)
          |WHERE rn > 3 AND rn <= cnt - 1""".stripMargin,

      "q40_topic_codec" ->
        """WITH topics AS (
          |  SELECT DISTINCT 'persistent://t_' || event_type ||
          |    '/ns_' || CAST(user_id % 5 AS VARCHAR) ||
          |    '/topic_' || CAST(event_id % 7 AS VARCHAR) AS topic
          |  FROM events)
          |SELECT topic,
          |  regexp_replace(regexp_replace(regexp_replace(
          |    topic, '_', '_u', 'g'), '/', '_s', 'g'), ':', '_c', 'g')
          |    AS file_name,
          |  true AS roundtrip_ok,
          |  replace(replace(topic, '/', '_'), '_', '/') AS lossy_roundtrip
          |FROM topics""".stripMargin,

      "q41_multimodal" ->
        s"""WITH m AS (
           |  SELECT event_id,
           |    CASE WHEN event_id % 3 = 0 THEN from_hex('FFD8') || encode(props)
           |         WHEN event_id % 3 = 1 THEN from_hex('89504E47') || encode(props)
           |         ELSE encode(props) END AS payload
           |  FROM events)
           |SELECT event_id,
           |  CASE WHEN event_id % 3 = 0 THEN 'image/jpeg'
           |       WHEN event_id % 3 = 1 THEN 'image/png'
           |       ELSE 'application/octet-stream' END AS mime,
           |  octet_length(payload) AS n_bytes,
           |  least(CAST(ceil(CAST(octet_length(payload) AS DOUBLE) / 16) AS INT), 4)
           |    AS n_frames,
           |  round(CAST(${hashes.md5Hash60Sql("base64(payload) || '#0'")} % 1000
           |    AS DOUBLE) / 1000.0, 6) AS f0
           |FROM m""".stripMargin,

      "q42_ann_ivf" -> {
        // centroid literals as a DOUBLE[][] CTE; squared-L2 folds
        // mirror the codegen kernel's (x-c)*(x-c) left-to-right order
        val cents = "[" + ivfCentroids.map(c =>
          "[" + c.map(sqlDouble).mkString(",") + "]").mkString(",") +
          "]::DOUBLE[][]"
        def sqDist(vec: String, cent: String) =
          s"list_reduce(list_transform(range(1, ${embDim + 1}), " +
            s"i -> (CAST($vec[i] AS DOUBLE) - $cent[i]) * " +
            s"(CAST($vec[i] AS DOUBLE) - $cent[i])), (a,b) -> a+b)"
        val cos = s"${sqlDotVec("c.embedding", "q.qe")} / " +
          s"(sqrt(${sqlDotVec("c.embedding", "c.embedding")}) * " +
          s"sqrt(${sqlDotVec("q.qe", "q.qe")}))"
        s"""WITH cents AS (SELECT $cents AS m),
           |cells AS (SELECT unnest(range(0, ${ivfCentroids.size})) AS cell),
           |dists AS (
           |  SELECT e.vec_id, e.embedding, c.cell,
           |    ${sqDist("e.embedding", "ct.m[c.cell+1]")} AS dist
           |  FROM embeddings e CROSS JOIN cells c CROSS JOIN cents ct),
           |assigned AS (
           |  SELECT vec_id, embedding, CAST(cell AS INT) AS cell FROM (
           |    SELECT vec_id, embedding, cell,
           |      row_number() OVER (PARTITION BY vec_id
           |        ORDER BY dist, cell) AS rn
           |    FROM dists) WHERE rn = 1),
           |probes AS (
           |  SELECT cell FROM dists WHERE vec_id = 0
           |  ORDER BY dist, cell LIMIT 4)
           |SELECT vec_id, cell, round(cos, 6) AS cos FROM (
           |  SELECT c.vec_id, c.cell, $cos AS cos
           |  FROM assigned c,
           |    (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
           |  WHERE c.vec_id <> 0 AND c.cell IN (SELECT cell FROM probes)
           |  ORDER BY cos DESC, c.vec_id LIMIT 10)""".stripMargin
      },

      "q44_neardup_groups" -> neardupGroupsSql,

      // the five merges replayed as chained CTEs: same freq-weighted
      // pair counts, same (count desc, pair asc) selection, and the
      // same left-to-right non-overlapping replace() applied via
      // scalar subqueries — integer counts and string rewrites only.
      // cnt is CAST(... AS BIGINT): SUM(freq) is HUGEINT in DuckDB and
      // degrades to pandas float64 ("1234.0" vs the engine's "1234" —
      // the r10 driver-only hash mismatch; q147, which emits no cnt,
      // was green in the same run, which localized it)
      "q146_bpe_train" -> bpeTrainOracleSql(5),

      // the SAME replay at 80 steps gates the driver-side trainer
      // (operators.Bpe — the production path bpeMerges switches to
      // past bpePerStepJobLimit): identical rules from a wholly
      // different execution
      "q152_bpe_train_deep" -> bpeTrainOracleSql(80),

      // the sampled-frame means replayed from the generation
      // arithmetic (the q149 convention): frames 0,2,4,… of
      // nf = 4 + (id/5 % 5), colors (m·(31·id + f + 7)) % 256, two-tone
      // halves of an 8×6 frame ⇒ channel mean = Σ(left+right) /
      // (2·n_sampled) — the same rational the engine's pixel sums
      // divide to, and correctly-rounded IEEE division of identical
      // rationals is bit-identical
      "q155_video_framesample" ->
        """WITH fr AS (
          |  SELECT event_id, 4 + (event_id // 5 % 5) AS nf FROM events
          |  WHERE event_id % 5 = 0),
          |sf AS (
          |  SELECT event_id, nf, CAST(f.range AS BIGINT) AS f
          |  FROM fr, range(0, 8) f
          |  WHERE CAST(f.range AS BIGINT) < nf
          |    AND CAST(f.range AS BIGINT) % 2 = 0),
          |cs AS (
          |  SELECT event_id, nf, COUNT(*) AS ns,
          |    SUM((1 * (event_id * 31 + f + 7)) % 256 +
          |        (7 * (event_id * 31 + f + 7)) % 256) AS sr,
          |    SUM((3 * (event_id * 31 + f + 7)) % 256 +
          |        (11 * (event_id * 31 + f + 7)) % 256) AS sg,
          |    SUM((5 * (event_id * 31 + f + 7)) % 256 +
          |        (13 * (event_id * 31 + f + 7)) % 256) AS sb
          |  FROM sf GROUP BY event_id, nf)
          |SELECT event_id, CAST(nf AS INT) AS n_frames,
          |  CAST(ns AS INT) AS n_sampled,
          |  CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
          |  CAST(sr AS DOUBLE) / CAST(2 * ns AS DOUBLE) AS mean_r,
          |  CAST(sg AS DOUBLE) / CAST(2 * ns AS DOUBLE) AS mean_g,
          |  CAST(sb AS DOUBLE) / CAST(2 * ns AS DOUBLE) AS mean_b
          |FROM cs""".stripMargin,

      // the same per-source cumsum as q136's mirror, exploded to one
      // row per (doc, window) via range(), per-window overlap from
      // least/greatest on BIGINTs, every SUM-derived column CAST
      "q154_packed_windows" ->
        s"""WITH c AS (
           |  SELECT source, doc_id, len($sqlTokens) AS n,
           |    SUM(len($sqlTokens)) OVER (PARTITION BY source
           |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           |      AND CURRENT ROW) AS cum
           |  FROM documents),
           |wn AS (SELECT source, doc_id, n, cum,
           |    CAST(floor(CAST(cum - n AS DOUBLE) / 256) AS BIGINT)
           |      AS w_start,
           |    CAST(floor(CAST(cum - 1 AS DOUBLE) / 256) AS BIGINT)
           |      AS w_end
           |  FROM c WHERE n > 0),
           |e AS (SELECT source, doc_id, n, cum,
           |    CAST(unnest(range(w_start, w_end + 1)) AS BIGINT) AS win
           |  FROM wn),
           |f AS (SELECT source, doc_id, win,
           |    least(CAST(cum AS BIGINT), (win + 1) * 256) -
           |      greatest(CAST(cum - n AS BIGINT), win * 256) AS fill
           |  FROM e)
           |SELECT source, win, COUNT(*) AS n_docs,
           |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
           |  CAST(SUM(fill) AS BIGINT) AS fill_tokens,
           |  256 - CAST(SUM(fill) AS BIGINT) AS pad_tokens
           |FROM f GROUP BY source, win""".stripMargin,

      // the whole prep pipeline replayed stage by stage from the
      // proven mirrors: exact dedup (min-id per md5(text)), the q84
      // exact near-dup recompute RESTRICTED to exact survivors (pair
      // membership depends only on the two docs, so restriction
      // commutes), the q135 contamination score, the shared q25
      // quality expression, and the q124 HUGEINT mix-cut derivation
      // over the quality survivors
      "q153_training_manifest" -> trainingManifestSql,

      // the at-ingest decomposition must equal the batch flagship
      // manifest bit for bit — ONE SHARED ORACLE (the q211/q208
      // convention applied to the text capstone)
      "q213_stream_training_manifest" -> trainingManifestSql,

      // the summed per-batch delta partials re-aggregate to the
      // same manifest — the text capstone's third oracle consumer
      "q215_training_manifest_deltas" -> trainingManifestSql,

      // regenerates the md5-seeded model and re-scores every document
      // from scratch (classifierGateSql scaladoc)
      "q156_quality_classifier" -> classifierGateSql,

      // exact dense pair set + three unrolled integer rounds
      // (dupCentralitySql scaladoc)
      "q157_dup_centrality" -> dupCentralitySql(rounds = 3, topK = 20),

      // the streaming ingest converges to the batch gate exactly —
      // ONE shared recompute verifies both engine forms
      "q158_stream_classifier" -> classifierGateSql,

      // incremental partial-merge converges to the same gate —
      // third engine form, same single recompute
      "q161_incremental_classifier" -> classifierGateSql,

      // the identical island walk over matched 8-gram positions
      // (excisionCtesSql — ONE rendering shared with q164)
      "q163_contamination_excision" ->
        s"""${excisionCtesSql(8)},
           |pd AS (SELECT doc_id, CAST(SUM(e - a) AS BIGINT) AS exc,
           |    CAST(SUM(m) AS BIGINT) AS gm
           |  FROM iv GROUP BY doc_id)
           |SELECT tr.source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN COALESCE(pd.exc, 0) > 0 THEN 1
           |    ELSE 0 END) AS BIGINT) AS n_affected,
           |  CAST(SUM(len(tr.toks)) AS BIGINT) AS tokens_total,
           |  CAST(SUM(COALESCE(pd.exc, 0)) AS BIGINT)
           |    AS tokens_excised,
           |  CAST(SUM(COALESCE(pd.gm, 0)) AS BIGINT)
           |    AS grams_matched
           |FROM tr LEFT JOIN pd ON tr.doc_id = pd.doc_id
           |GROUP BY tr.source""".stripMargin,

      // same match + island chain as q163 (excisionCtesSql — ONE
      // rendering), then the cleaned string rebuilt independently
      // (range-exploded positions, covered anti-join, ordered
      // string_agg) and hashed — NULL when the whole document was
      // excised, in both engines
      "q164_excised_corpus" -> excisedCorpusSql,

      // the identical kept-text recompute gates the STREAMING
      // lifecycle too: excision is doc-local, so the drained sealed-
      // segment store must reproduce the batch surgery bit for bit
      "q169_stream_excision" -> excisedCorpusSql,

      // the self-dedup surgery: the shared owner rule + island walk
      // (q166's islands exactly) + the shared surgery tail (q164's
      // kept-text recompute exactly) — three shared renderings, zero
      // hand-copies
      "q170_selfdup_corpus" ->
        (selfDupCtesSql(8) + ",\n" + islandWalkCtesSql(8) + ",\n" +
          surgeryTailSql),

      // identical power-of-2 CASE chain (no float log2), same
      // integer waste arithmetic, global max as a scalar subquery
      "q165_bucket_batching" -> {
        val chain = Seq(16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
          .map(b => s"WHEN len <= $b THEN $b").mkString(" ")
        s"""WITH l AS (
           |  SELECT CAST(len($sqlTokens) AS BIGINT) AS len
           |  FROM documents),
           |lz AS (SELECT len, CASE $chain ELSE 8192 END AS bucket
           |  FROM l WHERE len > 0),
           |gm AS (SELECT MAX(len) AS gmax FROM l WHERE len > 0)
           |SELECT bucket, COUNT(*) AS n_docs,
           |  (COUNT(*) + 7) // 8 AS n_batches,
           |  CAST(SUM(len) AS BIGINT) AS sum_tokens,
           |  CAST(greatest(bucket, MAX(len)) * COUNT(*) - SUM(len)
           |    AS BIGINT) AS waste_bucketed,
           |  CAST((SELECT gmax FROM gm) * COUNT(*) - SUM(len)
           |    AS BIGINT) AS waste_unbucketed
           |FROM lz GROUP BY bucket""".stripMargin
      },

      // the shared ExactSubstr owner rule (selfDupCtesSql — ONE
      // rendering with q168/q170), then the shared island walk
      // (islandWalkCtesSql, ONE rendering with q163/q164)
      "q166_selfdup_excision" -> {
        s"""${selfDupCtesSql(8)},
           |${islandWalkCtesSql(8)},
           |pd AS (SELECT doc_id, CAST(SUM(e - a) AS BIGINT) AS exc,
           |    CAST(SUM(m) AS BIGINT) AS gd
           |  FROM iv GROUP BY doc_id)
           |SELECT tr.source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN COALESCE(pd.exc, 0) > 0 THEN 1
           |    ELSE 0 END) AS BIGINT) AS n_affected,
           |  CAST(SUM(len(tr.toks)) AS BIGINT) AS tokens_total,
           |  CAST(SUM(COALESCE(pd.exc, 0)) AS BIGINT)
           |    AS tokens_excised,
           |  CAST(SUM(COALESCE(pd.gd, 0)) AS BIGINT)
           |    AS grams_deduped
           |FROM tr LEFT JOIN pd ON tr.doc_id = pd.doc_id
           |GROUP BY tr.source""".stripMargin
      },

      // the same ExactSubstr owner rule (shared selfDupCtesSql),
      // then the maximal-run grouping (pos − ROW_NUMBER gaps-and-
      // islands), the >= 50 token length gate, and the
      // variable-width interval-union walk
      "q168_maximal_spans" -> {
        s"""${selfDupCtesSql(8)},
           |rr AS (SELECT doc_id, pos,
           |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id
           |      ORDER BY pos) AS rid
           |  FROM p),
           |runs AS (SELECT doc_id, MIN(pos) AS a, MAX(pos) + 8 AS e
           |  FROM rr GROUP BY doc_id, rid),
           |q AS (SELECT doc_id, a, e FROM runs WHERE e - a >= 50),
           |u0 AS (SELECT doc_id, a, e,
           |    CASE WHEN MAX(e) OVER (PARTITION BY doc_id
           |        ORDER BY a, e ROWS BETWEEN UNBOUNDED PRECEDING
           |        AND 1 PRECEDING) IS NULL
           |      OR a >= MAX(e) OVER (PARTITION BY doc_id
           |        ORDER BY a, e ROWS BETWEEN UNBOUNDED PRECEDING
           |        AND 1 PRECEDING)
           |      THEN 1 ELSE 0 END AS s
           |  FROM q),
           |u1 AS (SELECT doc_id, a, e,
           |    SUM(s) OVER (PARTITION BY doc_id ORDER BY a, e
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS isl
           |  FROM u0),
           |uv AS (SELECT doc_id, MIN(a) AS ua, MAX(e) AS ue
           |  FROM u1 GROUP BY doc_id, isl),
           |pd AS (SELECT doc_id, COUNT(*) AS spans,
           |    MAX(e - a) AS max_span
           |  FROM q GROUP BY doc_id),
           |pu AS (SELECT doc_id, CAST(SUM(ue - ua) AS BIGINT) AS exc
           |  FROM uv GROUP BY doc_id)
           |SELECT tr.source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN COALESCE(pd.spans, 0) > 0 THEN 1
           |    ELSE 0 END) AS BIGINT) AS n_affected,
           |  CAST(SUM(len(tr.toks)) AS BIGINT) AS tokens_total,
           |  CAST(SUM(COALESCE(pd.spans, 0)) AS BIGINT) AS spans,
           |  CAST(MAX(COALESCE(pd.max_span, 0)) AS BIGINT)
           |    AS max_span,
           |  CAST(SUM(COALESCE(pu.exc, 0)) AS BIGINT)
           |    AS tokens_excised
           |FROM tr LEFT JOIN pd ON tr.doc_id = pd.doc_id
           |  LEFT JOIN pu ON tr.doc_id = pu.doc_id
           |GROUP BY tr.source""".stripMargin
      },

      // the identical md5 mask clock and the identical pos − rn
      // gaps-and-islands span grouping; T5 length accounting is
      // integer arithmetic over the per-doc (total, masked, spans)
      "q167_span_corruption" -> {
        val clock = hashes.md5Hash60Sql(
          "CAST(doc_id AS VARCHAR) || ':' || " +
            "CAST(pos AS VARCHAR) || ':sc'")
        s"""WITH tr AS (SELECT doc_id, source, $sqlTokens AS toks
           |  FROM documents),
           |p AS (SELECT doc_id,
           |    unnest(range(1, len(toks) + 1)) AS pos
           |  FROM tr),
           |m AS (SELECT doc_id, pos FROM p
           |  WHERE $clock % 100 < 15),
           |sp AS (SELECT doc_id,
           |    CAST(COUNT(*) AS BIGINT) AS tm,
           |    CAST(COUNT(DISTINCT pos - rn) AS BIGINT) AS ns
           |  FROM (SELECT doc_id, pos, ROW_NUMBER() OVER (
           |      PARTITION BY doc_id ORDER BY pos) AS rn
           |    FROM m)
           |  GROUP BY doc_id)
           |SELECT tr.source, COUNT(*) AS n_docs,
           |  CAST(SUM(len(tr.toks)) AS BIGINT) AS tokens_total,
           |  CAST(SUM(COALESCE(sp.tm, 0)) AS BIGINT)
           |    AS tokens_masked,
           |  CAST(SUM(COALESCE(sp.ns, 0)) AS BIGINT) AS n_spans,
           |  CAST(SUM(len(tr.toks) - COALESCE(sp.tm, 0)
           |    + COALESCE(sp.ns, 0)) AS BIGINT) AS input_tokens,
           |  CAST(SUM(COALESCE(sp.tm, 0) + COALESCE(sp.ns, 0))
           |    AS BIGINT) AS target_tokens
           |FROM tr LEFT JOIN sp ON tr.doc_id = sp.doc_id
           |GROUP BY tr.source""".stripMargin
      },

      // epoch-salted md5-60 top-4-bit shards, both epochs + the
      // kept-shard count, mirrored definition-for-definition
      "q162_epoch_shards" -> {
        def sh(e: Int) =
          s"(${hashes.md5Hash60Sql(
            s"CAST(doc_id AS VARCHAR) || ':epoch$e'")} >> 56)"
        s"""WITH k AS (
           |  SELECT doc_id, CAST(len($sqlTokens) AS BIGINT) AS n_tok,
           |    ${sh(1)} AS shard_e1, ${sh(2)} AS shard_e2
           |  FROM documents),
           |e1 AS (SELECT shard_e1 AS shard, COUNT(*) AS n_docs_e1,
           |    CAST(SUM(n_tok) AS BIGINT) AS tokens_e1,
           |    CAST(SUM(CASE WHEN shard_e1 = shard_e2 THEN 1 ELSE 0
           |      END) AS BIGINT) AS n_kept
           |  FROM k GROUP BY shard_e1),
           |e2 AS (SELECT shard_e2 AS shard, COUNT(*) AS n_docs_e2,
           |    CAST(SUM(n_tok) AS BIGINT) AS tokens_e2
           |  FROM k GROUP BY shard_e2)
           |SELECT COALESCE(e1.shard, e2.shard) AS shard,
           |  COALESCE(e1.n_docs_e1, 0) AS n_docs_e1,
           |  COALESCE(e1.tokens_e1, 0) AS tokens_e1,
           |  COALESCE(e2.n_docs_e2, 0) AS n_docs_e2,
           |  COALESCE(e2.tokens_e2, 0) AS tokens_e2,
           |  COALESCE(e1.n_kept, 0) AS n_kept
           |FROM e1 FULL OUTER JOIN e2 ON e1.shard = e2.shard""".stripMargin
      },

      // weights via the SAME shared CTE chain as q113; the Gumbel
      // clock replayed from the same md5 uniform, rounded at 6 and
      // carried as exact micros (importanceSample scaladoc)
      "q159_importance_resample" -> importanceResampleSql,

      // the streaming reservoir re-merges to the batch sample
      // exactly (semilattice argument, resampleIngest scaladoc) —
      // same single recompute as q159
      "q160_stream_resample" -> importanceResampleSql,

      // training replayed (same five chained-CTE merges) and the
      // application expressed as the same nested replaces; symbol
      // counts are '<' counts in both engines
      "q147_bpe_apply" -> {
        val appliedExpr = (1 to 5).foldLeft(
          "regexp_replace(t, '(.)', '<\\1>', 'g')") { (acc, i) =>
          s"replace($acc, (SELECT p FROM m$i), (SELECT merged FROM m$i))"
        }
        s"""WITH tokS AS (SELECT source, unnest($sqlTokens) AS t
           |  FROM documents),
           |tok AS (SELECT t FROM tokS),
           |$bpeWordTableCte,
           |${bpeTrainStepCtes(5)},
           |ap AS (SELECT source, t, $appliedExpr AS a
           |  FROM tokS WHERE NOT regexp_matches(t, '[<>\\x01]'))
           |SELECT source, COUNT(*) AS n_tokens,
           |  CAST(SUM(len(t)) AS BIGINT) AS chars_before,
           |  CAST(SUM(len(a) - len(replace(a, '<', ''))) AS BIGINT)
           |    AS syms_after,
           |  CAST(SUM(len(a) - len(replace(a, '<', ''))) AS DOUBLE) /
           |    CAST(SUM(len(t)) AS DOUBLE) AS compression
           |FROM ap GROUP BY source""".stripMargin
      },

      // identical integer counts → identical doubles, the same op
      // order and parenthesization, the same rounded-z ranking with
      // the token tiebreak
      "q144_fightin_words" ->
        s"""WITH tok AS (SELECT source, unnest($sqlTokens) AS t
           |  FROM documents),
           |sw AS (SELECT source, t, COUNT(*) AS y_sw FROM tok
           |  GROUP BY source, t),
           |wt AS (SELECT t, SUM(y_sw) AS y_w FROM sw GROUP BY t),
           |st AS (SELECT source, SUM(y_sw) AS n_s FROM sw
           |  GROUP BY source),
           |g AS (SELECT CAST(SUM(y_w) AS DOUBLE) AS n,
           |    0.5 * CAST(COUNT(*) AS DOUBLE) AS av FROM wt),
           |sc AS (SELECT sw.source, sw.t,
           |    round((ln((CAST(sw.y_sw AS DOUBLE) + 0.5) /
           |        (CAST(st.n_s AS DOUBLE) + g.av -
           |          CAST(sw.y_sw AS DOUBLE) - 0.5)) -
           |      ln((CAST(wt.y_w - sw.y_sw AS DOUBLE) + 0.5) /
           |        (g.n - CAST(st.n_s AS DOUBLE) + g.av -
           |          CAST(wt.y_w - sw.y_sw AS DOUBLE) - 0.5))) /
           |      sqrt(1.0 / (CAST(sw.y_sw AS DOUBLE) + 0.5) +
           |        1.0 / (CAST(wt.y_w - sw.y_sw AS DOUBLE) + 0.5)),
           |      6) AS z
           |  FROM sw JOIN wt USING (t) JOIN st USING (source)
           |    CROSS JOIN g)
           |SELECT source, CAST(rk AS INT) AS rank, t AS token, z
           |FROM (SELECT *, row_number() OVER (PARTITION BY source
           |    ORDER BY z DESC, t ASC) AS rk FROM sc)
           |WHERE rk <= 3""".stripMargin,

      // identical integer truncation arithmetic per (source, W)
      "q143_truncation_loss" ->
        s"""WITH d AS (SELECT source, len($sqlTokens) AS n
           |  FROM documents),
           |x AS (SELECT source, n, unnest([32, 64, 96]) AS w FROM d)
           |SELECT source, CAST(w AS BIGINT) AS w, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN n > w THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_docs_over,
           |  CAST(SUM(n) AS BIGINT) AS total_tokens,
           |  CAST(SUM(greatest(n - w, 0)) AS BIGINT) AS tokens_lost,
           |  CASE WHEN SUM(n) > 0
           |    THEN CAST(SUM(greatest(n - w, 0)) AS DOUBLE) /
           |      CAST(SUM(n) AS DOUBLE)
           |    ELSE 0.0 END AS loss_frac
           |FROM x GROUP BY source, w""".stripMargin,

      // identical first-seen attribution over the same distinct
      // (batch, shingle) pairs; the ratio is two integers
      "q141_novelty_curve" -> noveltyCurveSql,

      // the drained first-seen store's metrics must reproduce the
      // batch curve exactly — the store-growth lifecycle contract
      "q145_stream_novelty" -> noveltyCurveSql,

      // the census is one aggregation over the SAME recursive
      // component labelling: exact integers only
      "q140_dup_census" ->
        s"""SELECT cluster_size, COUNT(*) AS n_clusters,
           |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
           |FROM (SELECT group_keeper, COUNT(*) AS cluster_size
           |      FROM ($neardupGroupsSql) g GROUP BY group_keeper)
           |GROUP BY cluster_size""".stripMargin,

      "q47_sliding_windows" ->
        s"""WITH e AS (
           |  SELECT event_type, value,
           |    epoch_ms(date_trunc('hour', ts)) AS h FROM events),
           |x AS (
           |  SELECT event_type, value,
           |    unnest([h, h - 3600000]) AS win_start FROM e)
           |SELECT win_start, event_type, COUNT(*) AS n,
           |  ${dec("value")} AS sum_value
           |FROM x GROUP BY 1, 2""".stripMargin,

      "q48_range_frame" ->
        """SELECT user_id, event_id,
          |  CAST(SUM(CAST(value AS DECIMAL(20,4))) OVER (
          |    PARTITION BY user_id ORDER BY epoch_ms(ts)
          |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE)
          |    AS rolling_1h
          |FROM events""".stripMargin,

      "q49_cube_returns" ->
        s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           |  COALESCE(l_linestatus, 'ALL') AS linestatus,
           |  COUNT(*) AS n, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

      "q45_streaming_buckets" ->
        s"""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
           |  COUNT(*) AS n, ${dec("value")} AS sum_value
           |FROM events GROUP BY 1, 2""".stripMargin,

      "q43_bpe_tokens" ->
        s"""SELECT lang, COUNT(*) AS n_docs,
           |  CAST(SUM(n_bpe) AS BIGINT) AS total_bpe,
           |  CAST(SUM(n_ws) AS BIGINT) AS total_ws,
           |  CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws) AS bpe_per_word
           |FROM (
           |  SELECT lang,
           |    len(regexp_extract_all(lower(text),
           |      '${text.bpePattern.replace("'", "''")}')) AS n_bpe,
           |    len($sqlTokens) AS n_ws
           |  FROM documents)
           |GROUP BY lang""".stripMargin,

      "q50_list_topics" ->
        s"""$topicsCte,
           |u AS (
           |  SELECT topic, MIN(src_rank) AS src_rank FROM (
           |    SELECT topic, 1 AS src_rank FROM topics
           |      WHERE NOT regexp_matches(topic, '-partition-\\d+$$')
           |    UNION ALL
           |    SELECT topic, 2 AS src_rank FROM topics
           |      WHERE regexp_matches(topic, '-partition-\\d+$$')
           |    UNION ALL
           |    SELECT DISTINCT 'persistent://system/ns/' || event_type AS topic,
           |      3 AS src_rank FROM events
           |  ) GROUP BY topic),
           |r AS (
           |  SELECT regexp_replace(topic, '-partition-\\d+$$', '') AS parent_topic,
           |    COUNT(*) AS n_entries,
           |    CAST(SUM(CASE WHEN regexp_matches(topic, '-partition-\\d+$$')
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_partitions,
           |    MAX(regexp_matches(topic, '-partition-\\d+$$')) AS partitioned
           |  FROM u GROUP BY 1)
           |SELECT parent_topic, n_entries, n_partitions, partitioned, priority
           |FROM (
           |  SELECT r.*, CASE WHEN parent_topic LIKE '%ns1%'
           |    OR parent_topic LIKE '%dlq%' OR parent_topic LIKE '%global%'
           |    THEN 0 ELSE 1 END AS priority FROM r)
           |ORDER BY priority, parent_topic LIMIT 40""".stripMargin,

      "q51_streaming_append" ->
        s"""WITH wm AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS w FROM events),
           |agg AS (
           |  SELECT epoch_ms(date_trunc('hour', ts)) AS win_start, event_type,
           |    COUNT(*) AS n, ${dec("value")} AS sum_value
           |  FROM events GROUP BY 1, 2)
           |SELECT win_start, event_type, n, sum_value
           |FROM agg, wm WHERE win_start + 3600000 <= wm.w""".stripMargin,

      "q52_salted_distinct" ->
        """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
          |FROM events GROUP BY event_type""".stripMargin,

      "q53_jaccard_posting" -> jaccardPairsSql(0.18, "doc_id % 5 = 0"),

      "q54_ann_lsh_auto" -> {
        val cos = s"${sqlDotVec("a.embedding", "c.embedding")} / " +
          s"(sqrt(${sqlDotVec("a.embedding", "a.embedding")}) * " +
          s"sqrt(${sqlDotVec("c.embedding", "c.embedding")}))"
        s"""WITH b AS (
           |  SELECT vec_id, embedding,
           |    ${sqlBucket("embedding", q54Planes)} AS bucket
           |  FROM embeddings),
           |p AS (
           |  SELECT a.vec_id AS vec_id, c.vec_id AS nb_id, $cos AS cos
           |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id)
           |SELECT vec_id, nb_id, round(cos, 6) AS cos, rnk FROM (
           |  SELECT vec_id, nb_id, cos,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY cos DESC, nb_id) AS rnk
           |  FROM p) WHERE rnk <= 5""".stripMargin
      },

      "q55_corpus_clean" -> {
        val markers = text.langMarkers
        def score(m: Seq[String]) =
          s"len(list_filter(toks, x -> x IN (${m.map(w => s"'$w'").mkString(",")})))"
        val scores = markers.map { case (l, m) => s"${score(m)} AS s_$l" }
        val langs = markers.map(_._1)
        val whens = langs.map { l =>
          val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o")
            .mkString(" AND ")
          s"WHEN $conds THEN '$l'"
        }
        val stops = text.stopwordsEn.map(w => s"'$w'").mkString(",")
        s"""WITH t0 AS (
           |  SELECT doc_id, source, text, $sqlTokens AS toks FROM documents),
           |sc AS (
           |  SELECT doc_id, source, text, toks,
           |    len(toks) AS n_tok,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |      ELSE CAST(len(list_filter(toks, x -> x IN ($stops)))
           |        AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stop_ratio,
           |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
           |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
           |    ${scores.mkString(", ")}
           |  FROM t0),
           |b AS (
           |  SELECT doc_id, source, text, toks,
           |    round((least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) +
           |      least(stop_ratio * 10.0, 1.0) +
           |      greatest(1.0 - punct_ratio * 10.0, 0.0)) / 3.0, 6) AS q,
           |    CASE ${whens.mkString(" ")} ELSE '${langs.last}' END AS predicted
           |  FROM sc),
           |filt AS (SELECT * FROM b WHERE predicted = 'en' AND q >= 0.4),
           |keep AS (SELECT MIN(doc_id) AS kid FROM filt GROUP BY text)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           |  CAST(SUM(CAST(q AS DECIMAL(20,6))) AS DOUBLE) AS sum_quality
           |FROM filt WHERE doc_id IN (SELECT kid FROM keep)
           |GROUP BY source""".stripMargin
      },

      "q56_streaming_sessions" ->
        """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
          |m AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS wm FROM events),
          |s AS (
          |  SELECT user_id, ms,
          |    CASE WHEN lag(ms) OVER w IS NULL
          |      OR ms - lag(ms) OVER w >= 1800000
          |      THEN 1 ELSE 0 END AS is_new
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
          |g AS (
          |  SELECT user_id, ms,
          |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms
          |      ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM s),
          |sess AS (
          |  SELECT user_id, sid, MIN(ms) AS sess_start,
          |    MAX(ms) + 1800000 AS sess_end, COUNT(*) AS n_events
          |  FROM g GROUP BY user_id, sid)
          |SELECT sess_start, user_id, n_events
          |FROM sess, m WHERE sess_end <= m.wm""".stripMargin,

      "q58_snapshot_roundtrip" ->
        """WITH e AS (
          |  SELECT 'persistent://tn' || CAST(user_id % 3 AS VARCHAR) ||
          |    '/ns' || CAST(user_id % 5 AS VARCHAR) || '/' || event_type
          |    AS topic,
          |    event_id,
          |    octet_length(encode(props)) +
          |      CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS pb
          |  FROM events),
          |r AS (
          |  SELECT topic, pb,
          |    ROW_NUMBER() OVER (PARTITION BY topic ORDER BY event_id) - 1
          |      AS seq
          |  FROM e)
          |SELECT topic, COUNT(*) AS n,
          |  CAST(MAX(seq) AS BIGINT) AS max_seq,
          |  CAST(SUM(pb) AS BIGINT) AS total_bytes,
          |  CAST(SUM(seq * pb) AS BIGINT) AS order_sum
          |FROM r GROUP BY topic""".stripMargin,

      "q57_token_shards" ->
        s"""WITH d AS (
           |  SELECT source, doc_id, len($sqlTokens) AS n_tokens
           |  FROM documents),
           |c AS (
           |  SELECT source, doc_id, n_tokens,
           |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM d)
           |SELECT source,
           |  CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 4096) AS BIGINT)
           |    AS shard_id,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
           |FROM c GROUP BY 1, 2""".stripMargin,

      "q59_project_ranges" ->
        """WITH topics AS (
          |  SELECT DISTINCT 'persistent://eventbus/org-' ||
          |    CAST(user_id % 3 AS VARCHAR) || '/' ||
          |    CASE WHEN event_id % 4 = 0
          |           THEN 'post-ingestion-' || CAST(user_id % 500 AS VARCHAR)
          |         WHEN event_id % 4 = 1
          |           THEN 'ingestion-' || CAST(user_id % 200 AS VARCHAR)
          |         WHEN event_id % 4 = 2 THEN event_type
          |         ELSE 'post-ingestion-x' END AS topic
          |  FROM events),
          |p AS (
          |  SELECT topic,
          |    CAST(NULLIF(regexp_extract(topic,
          |      '(?:post-)?ingestion-(\d+)', 1), '') AS INT) AS project_id
          |  FROM topics),
          |e AS (
          |  SELECT topic, project_id,
          |    COALESCE(project_id, 1) AS project_id_effective
          |  FROM p),
          |r AS (
          |  SELECT *, range(1000 + project_id_effective * 20,
          |    1000 + project_id_effective * 20 + 20) AS campaigns
          |  FROM e)
          |SELECT topic, project_id, project_id_effective,
          |  CAST(campaigns[1] AS INT) AS campaign_start,
          |  CAST(campaigns[-1] AS INT) AS campaign_end,
          |  CAST(len(campaigns) AS BIGINT) AS n_campaigns
          |FROM r""".stripMargin,

      "q60_bucketed_join" ->
        """SELECT o_orderpriority, COUNT(*) AS n_items,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority""".stripMargin,

      "q63_pii_redact" ->
        s"""WITH t2 AS (
           |  SELECT source,
           |    CASE WHEN doc_id % 3 = 0
           |           THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           |         WHEN doc_id % 3 = 1
           |           THEN text || ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' or ping 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77'
           |         ELSE text END AS text2
           |  FROM documents),
           |r AS (
           |  SELECT source, text2,
           |    regexp_replace(regexp_replace(regexp_replace(text2,
           |      '${text.emailRe}', '<EMAIL>', 'g'),
           |      '${text.phoneRe}', '<PHONE>', 'g'),
           |      '${text.ipv4Re}', '<IP>', 'g') AS red
           |  FROM t2)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN red <> text2 THEN 1 ELSE 0 END) AS BIGINT) AS docs_redacted,
           |  CAST(SUM(len(regexp_extract_all(text2, '${text.emailRe}'))) AS BIGINT) AS emails,
           |  CAST(SUM(len(regexp_extract_all(text2, '${text.phoneRe}'))) AS BIGINT) AS phones,
           |  CAST(SUM(len(regexp_extract_all(text2, '${text.ipv4Re}'))) AS BIGINT) AS ips,
           |  CAST(SUM(len(text2) - len(red)) AS BIGINT) AS chars_removed
           |FROM r GROUP BY source""".stripMargin,

      "q64_decontaminate" -> {
        val benchList = benchmarkBigrams
          .map(s => "'" + s + "'").mkString("[", ",", "]")
        s"""WITH sh AS (
           |  SELECT source,
           |    ${sqlShingles(2)} AS s,
           |    len(toks) AS n_tokens
           |  FROM (SELECT source, $sqlTokens AS toks FROM documents))
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN list_has_any(s, $benchList) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           |  CAST(SUM(CASE WHEN list_has_any(s, $benchList) THEN 0 ELSE n_tokens END) AS BIGINT) AS kept_tokens
           |FROM sh GROUP BY source""".stripMargin
      },

      "q65_stratified_sample" -> {
        val rateCase = "CASE " + mixRates.toSeq.sortBy(_._1).map {
          case (k, r) => s"WHEN source = '$k' THEN ${(r * 1000.0).toLong}"
        }.mkString(" ") + " ELSE 1000 END"
        s"""SELECT source, COUNT(*) AS n_kept,
           |  CAST(SUM(len($sqlTokens)) AS BIGINT) AS kept_tokens
           |FROM documents
           |WHERE ${hashes.md5Hash60Sql(
            "'samp-' || CAST(doc_id AS VARCHAR)")} % 1000 < $rateCase
           |GROUP BY source""".stripMargin
      },

      "q66_full_prep" -> {
        val markers = text.langMarkers
        def score(m: Seq[String]) =
          s"len(list_filter(toks, x -> x IN (${m.map(w => s"'$w'").mkString(",")})))"
        val scores = markers.map { case (l, m) => s"${score(m)} AS s_$l" }
        val langs = markers.map(_._1)
        val whens = langs.map { l =>
          val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o")
            .mkString(" AND ")
          s"WHEN $conds THEN '$l'"
        }
        val stops = text.stopwordsEn.map(w => s"'$w'").mkString(",")
        val benchList = benchmarkBigrams
          .map(s => "'" + s + "'").mkString("[", ",", "]")
        val rateCase = "CASE " + mixRates.toSeq.sortBy(_._1).map {
          case (k, r) => s"WHEN source = '$k' THEN ${(r * 1000.0).toLong}"
        }.mkString(" ") + " ELSE 1000 END"
        s"""WITH inj AS (
           |  SELECT doc_id, source,
           |    CASE WHEN doc_id % 3 = 0
           |           THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           |         WHEN doc_id % 3 = 1
           |           THEN text || ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' or ping 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77'
           |         ELSE text END AS text2
           |  FROM documents),
           |red AS (
           |  SELECT doc_id, source,
           |    regexp_replace(regexp_replace(regexp_replace(text2,
           |      '${text.emailRe}', '<EMAIL>', 'g'),
           |      '${text.phoneRe}', '<PHONE>', 'g'),
           |      '${text.ipv4Re}', '<IP>', 'g') AS clean
           |  FROM inj),
           |t0 AS (
           |  SELECT doc_id, source, clean, ${sqlTokensOf("clean")} AS toks
           |  FROM red),
           |sc AS (
           |  SELECT doc_id, source, clean, toks,
           |    len(toks) AS n_tok,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |      ELSE CAST(len(list_filter(toks, x -> x IN ($stops)))
           |        AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stop_ratio,
           |    CAST(length(clean) - length(regexp_replace(clean, '[.,!?;:]', '', 'g')) AS DOUBLE)
           |      / greatest(CAST(length(clean) AS DOUBLE), 1.0) AS punct_ratio,
           |    ${scores.mkString(", ")}
           |  FROM t0),
           |b AS (
           |  SELECT doc_id, source, clean, toks,
           |    round((least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) +
           |      least(stop_ratio * 10.0, 1.0) +
           |      greatest(1.0 - punct_ratio * 10.0, 0.0)) / 3.0, 6) AS q,
           |    CASE ${whens.mkString(" ")} ELSE '${langs.last}' END AS predicted
           |  FROM sc),
           |filt AS (
           |  SELECT * FROM b WHERE predicted = 'en' AND q >= 0.4
           |    AND NOT list_has_any(${sqlShingles(2)}, $benchList)),
           |keep AS (SELECT MIN(doc_id) AS kid FROM filt GROUP BY clean),
           |samp AS (
           |  SELECT * FROM filt
           |  WHERE doc_id IN (SELECT kid FROM keep)
           |    AND ${hashes.md5Hash60Sql(
              "'samp-' || CAST(doc_id AS VARCHAR)")} % 1000 < $rateCase),
           |c AS (
           |  SELECT source, doc_id, len(toks) AS n_tokens,
           |    SUM(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM samp)
           |SELECT source,
           |  CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 4096) AS BIGINT)
           |    AS shard_id,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
           |FROM c GROUP BY 1, 2""".stripMargin
      },

      // the oracle is the PLAIN inner join: salting must be invisible
      // in the result
      "q67_skewed_join" ->
        """SELECT o_orderpriority, COUNT(*) AS n_items,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority""".stripMargin,

      // the oracle is the PLAIN theta join: bucket expansion must be
      // invisible in the result
      "q68_range_join" ->
        """WITH wins AS (
          |  SELECT o_orderkey AS win_id,
          |    epoch_ms(o_orderdate) AS win_start,
          |    epoch_ms(o_orderdate) + 7 * 86400000 AS win_end
          |  FROM orders WHERE o_orderkey % 400 = 1)
          |SELECT win_id, COUNT(*) AS n_items,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
          |FROM wins JOIN lineitem
          |  ON epoch_ms(l_shipdate) >= win_start
          | AND epoch_ms(l_shipdate) <= win_end
          |GROUP BY win_id""".stripMargin,

      "q69_repetition_filter" ->
        s"""WITH inj AS (
           |  SELECT doc_id, source,
           |    CASE WHEN doc_id % 7 = 0 THEN text || '$q69RepeatedPhrase'
           |         ELSE text END AS text2
           |  FROM documents),
           |t0 AS (SELECT doc_id, source, ${sqlTokensOf("text2")} AS toks
           |       FROM inj),
           |f AS (
           |  SELECT doc_id, source,
           |    CASE WHEN len(toks) - 2 <= 0 THEN 0.0
           |      ELSE round(1.0 - CAST(len(${sqlShingles(3)}) AS DOUBLE) /
           |        CAST(len(toks) - 2 AS DOUBLE), 6) END AS frac
           |  FROM t0)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN frac >= 0.1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_repetitive,
           |  CAST(SUM(CAST(frac AS DECIMAL(20,6))) AS DOUBLE) AS sum_frac
           |FROM f GROUP BY source""".stripMargin,

      "q70_quality_percentile" -> {
        val markers = text.langMarkers
        def score(m: Seq[String]) =
          s"len(list_filter(toks, x -> x IN (${m.map(w => s"'$w'").mkString(",")})))"
        val scores = markers.map { case (l, m) => s"${score(m)} AS s_$l" }
        val langs = markers.map(_._1)
        val whens = langs.map { l =>
          val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o")
            .mkString(" AND ")
          s"WHEN $conds THEN '$l'"
        }
        val stops = text.stopwordsEn.map(w => s"'$w'").mkString(",")
        s"""WITH t0 AS (
           |  SELECT doc_id, text, $sqlTokens AS toks FROM documents),
           |sc AS (
           |  SELECT doc_id, toks, len(toks) AS n_tok,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |      ELSE CAST(len(list_filter(toks, x -> x IN ($stops)))
           |        AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stop_ratio,
           |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
           |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
           |    ${scores.mkString(", ")}
           |  FROM t0),
           |b AS (
           |  SELECT doc_id, toks,
           |    round((least(CAST(n_tok AS DOUBLE) / 50.0, 1.0) +
           |      least(stop_ratio * 10.0, 1.0) +
           |      greatest(1.0 - punct_ratio * 10.0, 0.0)) / 3.0, 6) AS q,
           |    CASE ${whens.mkString(" ")} ELSE '${langs.last}' END AS predicted
           |  FROM sc),
           |r AS (
           |  SELECT predicted, q, len(toks) AS n_tokens,
           |    percent_rank() OVER (PARTITION BY predicted
           |      ORDER BY q, doc_id) AS pr
           |  FROM b)
           |SELECT predicted, COUNT(*) AS n_kept, MIN(q) AS min_q,
           |  CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
           |FROM r WHERE pr >= 0.25 GROUP BY predicted""".stripMargin
      },

      "q71_neardup_decontaminate" ->
        s"""WITH sh AS (
           |  SELECT doc_id, source, len(toks) AS n_tokens,
           |    ${sqlShingles(2)} AS s
           |  FROM (SELECT doc_id, source, $sqlTokens AS toks
           |        FROM documents)),
           |e AS (SELECT s FROM sh WHERE source = 'src7'),
           |c AS (SELECT * FROM sh WHERE source <> 'src7'),
           |hit AS (
           |  SELECT DISTINCT c.doc_id FROM c JOIN e ON
           |    CAST(len(list_intersect(c.s, e.s)) AS DOUBLE) /
           |    CAST(len(c.s) + len(e.s) - len(list_intersect(c.s, e.s))
           |      AS DOUBLE) >= 0.5)
           |SELECT c.source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_near,
           |  CAST(SUM(CASE WHEN hit.doc_id IS NULL THEN n_tokens ELSE 0 END)
           |    AS BIGINT) AS kept_tokens
           |FROM c LEFT JOIN hit ON c.doc_id = hit.doc_id
           |GROUP BY c.source""".stripMargin,

      "q72_budget_mixture" -> {
        val wCase = "CASE " + q72Weights.toSeq.sortBy(_._1).map {
          case (k, v) => s"WHEN source = '$k' THEN $v"
        }.mkString(" ") + " ELSE 0.0 END"
        s"""WITH toks AS (
           |  SELECT doc_id, source, len($sqlTokens) AS n_tokens
           |  FROM documents),
           |tot AS (
           |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
           |  FROM toks GROUP BY source),
           |r AS (
           |  SELECT source,
           |    least(1.0, 5000.0 * ($wCase) / CAST(src_tokens AS DOUBLE))
           |      AS rate
           |  FROM tot),
           |k AS (
           |  SELECT t.source, t.n_tokens, r.rate FROM toks t
           |  JOIN r ON t.source = r.source
           |  WHERE ${hashes.md5Hash60Sql("'mix-' || CAST(doc_id AS VARCHAR)")}
           |    % 1000 < CAST(floor(rate * 1000) AS BIGINT))
           |SELECT source, COUNT(*) AS n_kept,
           |  CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
           |  round(MAX(rate), 6) AS rate
           |FROM k GROUP BY source""".stripMargin
      },

      // dedup must restore exactly-once after the x2 injection, so the
      // oracle is the PLAIN per-type aggregate of the raw events
      "q73_streaming_dedup" ->
        s"""SELECT event_type, COUNT(*) AS n, ${dec("value")} AS sum_value
           |FROM events GROUP BY event_type""".stripMargin,

      "q74_incremental_dedup" ->
        s"""WITH corpus AS (
           |  SELECT * FROM documents
           |  WHERE source NOT IN ('src18', 'src19')),
           |batch AS (
           |  SELECT doc_id, text, source FROM documents
           |  WHERE source IN ('src18', 'src19')
           |  UNION ALL
           |  SELECT doc_id + 100000 AS doc_id, text, source
           |  FROM corpus WHERE doc_id % 37 = 0),
           |kept AS (
           |  SELECT * FROM batch b WHERE NOT EXISTS (
           |    SELECT 1 FROM corpus c WHERE md5(c.text) = md5(b.text)))
           |SELECT source, COUNT(*) AS n_new,
           |  CAST(SUM(len($sqlTokens)) AS BIGINT) AS new_tokens
           |FROM kept GROUP BY source""".stripMargin,

      "q75_pivot_events" -> {
        val cols = eventTypes.map(t =>
          s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS \"$t\"")
        s"""SELECT epoch_ms(date_trunc('day', ts)) AS day_ms,
           |  ${cols.mkString(",\n  ")}
           |FROM events GROUP BY 1""".stripMargin
      },

      "q76_clustered_scan" ->
        """SELECT COUNT(*) AS n_items,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
          |  COUNT(DISTINCT l_orderkey) AS n_orders
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'""".stripMargin,

      "q77_grouping_sets" ->
        s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           |  COALESCE(l_linestatus, 'ALL') AS linestatus,
           |  COUNT(*) AS n, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem GROUP BY GROUPING SETS (
           |  (l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,

      "q78_bloom_dedup" ->
        """WITH corpus AS (
          |  SELECT * FROM documents
          |  WHERE source NOT IN ('src15', 'src16', 'src17')),
          |batch AS (
          |  SELECT doc_id, text, source FROM documents
          |  WHERE source IN ('src15', 'src16', 'src17')
          |  UNION ALL
          |  SELECT doc_id + 200000 AS doc_id, text, source
          |  FROM corpus WHERE doc_id % 23 = 0),
          |kept AS (
          |  SELECT * FROM batch b WHERE NOT EXISTS (
          |    SELECT 1 FROM corpus c WHERE md5(c.text) = md5(b.text)))
          |SELECT source, COUNT(*) AS n_new, MIN(doc_id) AS min_id
          |FROM kept GROUP BY source""".stripMargin,

      "q79_rare_tokens" ->
        s"""WITH marked AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 4 = 0
           |      THEN text || ' m' || CAST(doc_id % 101 AS VARCHAR)
           |      ELSE text END AS text
           |  FROM documents),
           |pairs AS (
           |  SELECT DISTINCT doc_id AS doc, unnest($sqlTokens) AS tok
           |  FROM marked),
           |dfs AS (
           |  SELECT tok, COUNT(*) AS df FROM pairs GROUP BY tok)
           |SELECT p.doc, COUNT(*) AS distinct_tokens,
           |  CAST(SUM(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS rare_tokens
           |FROM pairs p JOIN dfs d ON p.tok = d.tok
           |GROUP BY p.doc
           |ORDER BY rare_tokens DESC, distinct_tokens DESC, p.doc
           |LIMIT 20""".stripMargin,

      "q80_stream_interval_join" ->
        s"""SELECT p.user_id AS user_id, COUNT(*) AS n_pairs,
           |  COUNT(DISTINCT p.event_id) AS n_purchases,
           |  ${dec("c.value")} AS click_value
           |FROM events p JOIN events c
           |  ON c.user_id = p.user_id
           |  AND p.event_type = 'purchase' AND c.event_type = 'click'
           |  AND c.ts BETWEEN p.ts - INTERVAL 24 HOUR AND p.ts
           |GROUP BY p.user_id""".stripMargin,

      "q81_dup_spans" ->
        s"""WITH tk AS (
           |  SELECT doc_id, source, $sqlTokens AS t FROM documents),
           |g AS (
           |  SELECT doc_id, source,
           |    unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
           |      j -> array_to_string(t[j:j+4], ' '))) AS gram
           |  FROM tk),
           |sup AS (
           |  SELECT gram, COUNT(DISTINCT doc_id) AS docs_with
           |  FROM g GROUP BY gram),
           |per AS (
           |  SELECT doc_id, source, COUNT(*) AS total_ngrams,
           |    SUM(CASE WHEN docs_with >= 2 THEN 1 ELSE 0 END) AS shared_ngrams
           |  FROM g JOIN sup USING (gram) GROUP BY doc_id, source)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(total_ngrams) AS BIGINT) AS total_ngrams,
           |  CAST(SUM(shared_ngrams) AS BIGINT) AS shared_ngrams
           |FROM per GROUP BY source""".stripMargin,

      "q82_zorder_scan" ->
        s"""SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
           |  ${dec("value")} AS sum_value
           |FROM events
           |WHERE user_id BETWEEN 10 AND 20
           |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
           |  AND ts < TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,

      "q83_asof_native" ->
        """SELECT p.event_id, p.user_id, c.value AS click_value
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |ASOF LEFT JOIN (
          |  SELECT user_id, ts, MAX(value) AS value
          |  FROM events WHERE event_type = 'click'
          |  GROUP BY user_id, ts) c
          |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

      "q84_dedup_keeper" ->
        s"""WITH RECURSIVE sh AS (
           |  SELECT doc_id,
           |    ${sqlShingles(2)} AS s
           |  FROM (SELECT doc_id, $sqlTokens AS toks FROM documents)),
           |p AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
           |      AS DOUBLE) >= 0.5),
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
           |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p),
           |reach AS (
           |  SELECT src AS node, src AS r FROM edges
           |  UNION
           |  SELECT e.src AS node, re.r AS r
           |  FROM edges e JOIN reach re ON e.dst = re.node),
           |lbl AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
           |d AS (
           |  SELECT doc_id, source,
           |    CAST(len($sqlTokens) AS BIGINT) AS n_tokens,
           |    COALESCE(l.label, doc_id) AS comp
           |  FROM documents LEFT JOIN lbl l ON doc_id = l.node),
           |k AS (
           |  SELECT *, ROW_NUMBER() OVER (
           |    PARTITION BY comp ORDER BY n_tokens DESC, doc_id) AS rn
           |  FROM d)
           |SELECT source, COUNT(*) AS n_kept,
           |  CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
           |FROM k WHERE rn = 1 GROUP BY source""".stripMargin,

      "q85_stream_static_join" ->
        s"""SELECT c.c_mktsegment, COUNT(*) AS n_purchases,
           |  ${dec("e.value")} AS sum_value
           |FROM events e JOIN customer c ON e.user_id = c.c_custkey
           |WHERE e.event_type = 'purchase'
           |GROUP BY c.c_mktsegment""".stripMargin,

      "q86_sql_surface" ->
        s"""SELECT lang, COUNT(*) AS n_docs,
           |  CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
           |  CAST(SUM(len(${sqlShingles(2)})) AS BIGINT) AS n_shingles
           |FROM (SELECT lang, $sqlTokens AS toks FROM documents)
           |GROUP BY lang""".stripMargin,

      "q87_tws_sequence" ->
        """SELECT user_id, event_id,
          |  ROW_NUMBER() OVER (
          |    PARTITION BY user_id ORDER BY ts, event_id) AS seq
          |FROM events""".stripMargin,

      "q88_gap_fill" ->
        s"""WITH hourly AS (
           |  SELECT event_type, date_trunc('hour', ts) AS h,
           |    COUNT(*) AS n, ${dec("value")} AS sum_value
           |  FROM events GROUP BY 1, 2),
           |b AS (
           |  SELECT min(date_trunc('hour', ts)) AS lo,
           |    max(date_trunc('hour', ts)) AS hi FROM events),
           |spine AS (
           |  SELECT event_type,
           |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
           |  FROM (SELECT DISTINCT event_type FROM events) CROSS JOIN b)
           |SELECT s.event_type, epoch_ms(s.h) AS hour_ms,
           |  CAST(COALESCE(n, 0) AS BIGINT) AS n,
           |  last_value(sum_value IGNORE NULLS) OVER (
           |    PARTITION BY s.event_type ORDER BY s.h
           |    ROWS UNBOUNDED PRECEDING) AS filled_sum
           |FROM spine s LEFT JOIN hourly
           |  ON s.event_type = hourly.event_type AND s.h = hourly.h""".stripMargin,

      "q89_incremental_prep" ->
        s"""WITH corpus AS (
           |  SELECT * FROM documents
           |  WHERE source NOT IN ('src15', 'src16', 'src17')),
           |batch0 AS (
           |  SELECT doc_id, text, source FROM documents
           |  WHERE source IN ('src15', 'src16', 'src17')
           |  UNION ALL
           |  SELECT doc_id + 200000 AS doc_id, text, source
           |  FROM corpus WHERE doc_id % 23 = 0),
           |batch AS (
           |  SELECT doc_id, source,
           |    CASE WHEN doc_id % 7 = 1
           |      THEN text || ' zq' || CAST(doc_id % 3 AS VARCHAR)
           |      ELSE text END AS text
           |  FROM batch0),
           |fresh AS (
           |  SELECT * FROM batch b WHERE NOT EXISTS (
           |    SELECT 1 FROM corpus c WHERE md5(c.text) = md5(b.text))),
           |vocab AS (
           |  SELECT DISTINCT unnest($sqlTokens) AS tok FROM corpus),
           |unk AS (
           |  SELECT doc_id,
           |    SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS u
           |  FROM (SELECT DISTINCT doc_id, unnest($sqlTokens) AS tok
           |        FROM fresh) t
           |  LEFT JOIN vocab v ON t.tok = v.tok
           |  GROUP BY doc_id),
           |acc AS (
           |  SELECT f.source, f.doc_id, len($sqlTokens) AS n_tokens
           |  FROM fresh f LEFT JOIN unk ON f.doc_id = unk.doc_id
           |  WHERE COALESCE(unk.u, 0) = 0),
           |c AS (
           |  SELECT source, doc_id, n_tokens,
           |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM acc)
           |SELECT source,
           |  CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 4096) AS BIGINT)
           |    AS shard_id,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
           |FROM c GROUP BY 1, 2""".stripMargin,

      "q90_topk_native" ->
        """SELECT event_type, rank, event_id, value FROM (
          |  SELECT event_type, event_id, value,
          |    ROW_NUMBER() OVER (PARTITION BY event_type
          |      ORDER BY value DESC, event_id) AS rank
          |  FROM events) WHERE rank <= 3""".stripMargin,

      "q91_sql_cosine" ->
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
          |      CAST(b.embedding AS DOUBLE[])) /
          |    (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
          |        CAST(a.embedding AS DOUBLE[]))) *
          |     sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
          |        CAST(b.embedding AS DOUBLE[])))), 6) AS cos
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE a.vec_id < 40 AND b.vec_id < 40
          |ORDER BY cos DESC, id_a, id_b LIMIT 15""".stripMargin,

      // the oracle re-derives what the JVM-side decode MEASURED from
      // pixels, using only the generation arithmetic: solid half
      // colors at even width → channel mean = (left+right)/2 exactly
      // (integer-halves, so the double compare is exact)
      "q92_image_stats" ->
        """SELECT event_id,
          |  CAST(8 + (event_id % 5) * 2 AS INT) AS width,
          |  CAST(6 + (event_id % 4) AS INT) AS height,
          |  CAST((event_id % 256) + ((7 * event_id) % 256) AS DOUBLE) / 2
          |    AS mean_r,
          |  CAST(((3 * event_id) % 256) + ((11 * event_id) % 256) AS DOUBLE) / 2
          |    AS mean_g,
          |  CAST(((5 * event_id) % 256) + ((13 * event_id) % 256) AS DOUBLE) / 2
          |    AS mean_b
          |FROM events""".stripMargin,

      // rebuild each image's 64-bit perceptual hash from the
      // generation arithmetic (base bit XOR explicit k<=2 flip
      // terms; bit 63 lands via the explicit two's-complement term
      // because a BIGINT << 63 overflows), then join ALL pairs at
      // Hamming <= 4 — the fixture slice (every 8th event) keeps
      // this n^2 recompute bounded while the engine side runs the
      // pigeonhole blocking
      "q172_image_phash_dedup" ->
        s"""WITH ${phashHashCtes("", "TRUE", "(event_id % 50)")}
          |SELECT a.id AS doc_a, b.id AS doc_b,
          |  bit_count(xor(a.fp, b.fp)) AS hamming
          |FROM h a JOIN h b ON a.id < b.id
          |WHERE bit_count(xor(a.fp, b.fp)) <= 4""".stripMargin,

      // the SAME pattern-family CTEs at the audio grain (div 16 —
      // every 16th event is a WAV): what the oracle match proves is
      // engine-side — that the real RIFF decode's per-window energy
      // contour reproduces these bits exactly
      "q183_audio_phash_dedup" ->
        s"""WITH ${phashHashCtes("", "TRUE", "(event_id % 50)",
             div = 16)}
          |SELECT a.id AS doc_a, b.id AS doc_b,
          |  bit_count(xor(a.fp, b.fp)) AS hamming
          |FROM h a JOIN h b ON a.id < b.id
          |WHERE bit_count(xor(a.fp, b.fp)) <= 4""".stripMargin,

      // the same round-6 / DECIMAL-mean / rounded-window recipe as
      // the engine (Similarity.marginMine scaladoc): identical IEEE
      // ops on identical inputs, margins bit-equal; the chain after
      // the candidate CTE is ONE rendering shared with q187
      "q184_bitext_margin" ->
        s"""WITH x AS (SELECT vec_id AS src_id, embedding
           |  FROM embeddings WHERE vec_id % 2 = 0),
           |y AS (SELECT vec_id AS tgt_id, embedding
           |  FROM embeddings WHERE vec_id % 2 = 1),
           |p AS (SELECT src_id, tgt_id,
           |    round(${marginCosSql("x", "y")}, 6) AS cos
           |  FROM x CROSS JOIN y),
           |$marginChainSql""".stripMargin,

      // the LSH-collide candidate set from the INLINED plane
      // literals (the q119 shape), then the SAME margin chain —
      // what the match proves is the engine's equi-join blocking +
      // shortlist means compute exactly this
      "q187_bitext_margin_indexed" -> {
        val bucketCols = q187Tables.zipWithIndex.map { case (pl, i) =>
          s"${sqlBucket("embedding", pl)} AS b$i"
        }.mkString(",\n    ")
        val collide = q187Tables.indices
          .map(i => s"x.b$i = y.b$i").mkString("(", " OR ", ")")
        s"""WITH xb AS (SELECT vec_id AS src_id, embedding,
           |    $bucketCols
           |  FROM embeddings WHERE vec_id % 2 = 0),
           |yb AS (SELECT vec_id AS tgt_id, embedding,
           |    $bucketCols
           |  FROM embeddings WHERE vec_id % 2 = 1),
           |p AS (SELECT src_id, tgt_id,
           |    round(${marginCosSql("x", "y")}, 6) AS cos
           |  FROM xb x JOIN yb y ON $collide),
           |$marginChainSql""".stripMargin
      },

      // the q156 scoring chain (ONE shared rendering) + the q25/q55
      // quality reference, re-binned: what the match proves is the
      // engine's one-aggregate calibration over the same logits
      "q188_classifier_calibration" ->
        s"""WITH $classifierLogitCtes,
           |q AS (SELECT doc_id, ($sqlQualityExpr) AS quality
           |  FROM (SELECT doc_id, text, $sqlTokens AS toks
           |        FROM documents)),
           |c AS (SELECT
           |    CAST(floor(CAST(j.logit AS DOUBLE) / 2000.0) AS BIGINT)
           |      AS bin,
           |    j.logit,
           |    CASE WHEN q.quality >= 0.8 THEN 1 ELSE 0 END AS pos
           |  FROM j JOIN q USING (doc_id))
           |SELECT bin, COUNT(*) AS n_docs,
           |  CAST(SUM(logit) AS BIGINT) AS sum_logit,
           |  CAST(SUM(pos) AS BIGINT) AS n_pos,
           |  (CAST(SUM(pos) AS BIGINT) * 1000) // COUNT(*)
           |    AS pos_rate_milli
           |FROM c GROUP BY bin""".stripMargin,

      // the inlined plane literals give both halves' buckets, the
      // Hamming ball gives the candidates (the q98 radius), then the
      // forward-margin chain: round-6 cosines, DECIMAL shortlist
      // mean, id tie-breaks — identical IEEE ops on identical inputs
      "q192_margin_ingest" -> marginIngestSql,

      // the streaming decomposition converges to the batch mine
      // exactly (per-vector forward margins) — ONE shared recompute
      // verifies both engine forms
      "q193_stream_margin" -> marginIngestSql,

      // the shared canonicalization CTEs (q110/q175's rendering) +
      // the identical md5-60 fold arithmetic at both grains
      "q190_group_split" -> {
        def fold(h: String) =
          s"CASE $h % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val' " +
            "ELSE 'train' END"
        s"""WITH $urlCanonCtes,
           |s AS (SELECT source,
           |    ${fold(hashes.md5Hash60Sql("canon"))} AS split,
           |    canon,
           |    ${fold(hashes.md5Hash60Sql(
                  "CAST(doc_id AS VARCHAR)"))} AS dsplit
           |  FROM canon)
           |SELECT source, split, COUNT(*) AS n_docs,
           |  COUNT(DISTINCT canon) AS n_groups,
           |  CAST(SUM(CASE WHEN dsplit <> split THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_rescued
           |FROM s GROUP BY source, split""".stripMargin
      },

      // every stage from its own shared rendering: the q185 pattern
      // list, the q106 NLL chain over the SURVIVORS, the q189 ntile,
      // the q110/q175 canonicalization, the q190 fold arithmetic —
      // the capstone oracle is the stages' oracles chained
      "q194_curated_manifest" -> {
        val vals = q185Patterns.filter(_.contains(' '))
          .map(p => s"('$p')").mkString(", ")
        s"""WITH $urlCanonCtes,
           |pats AS (SELECT * FROM (VALUES $vals) AS pt(pat)),
           |flagged AS (SELECT DISTINCT d.doc_id FROM documents d
           |  JOIN pats p ON strpos(d.text, p.pat) > 0),
           |surv AS (SELECT doc_id, source, text FROM documents
           |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
           |${unigramNllCtes("surv")},
           |r AS (SELECT sc.doc_id, sc.source,
           |    round(sc.nll, 6) AS nll6, sc.n_tok
           |  FROM sc WHERE sc.nll IS NOT NULL),
           |ti AS (SELECT doc_id, source, n_tok,
           |    ntile(4) OVER (PARTITION BY source
           |      ORDER BY nll6, doc_id) AS tier FROM r),
           |fo AS (SELECT ti.*,
           |    CASE ${hashes.md5Hash60Sql("c.canon")} % 10
           |      WHEN 0 THEN 'test' WHEN 1 THEN 'val'
           |      ELSE 'train' END AS split
           |  FROM ti JOIN canon c ON ti.doc_id = c.doc_id)
           |SELECT split, CAST(tier AS INT) AS tier,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           |  COUNT(DISTINCT source) AS n_sources
           |FROM fo GROUP BY split, tier""".stripMargin
      },

      // the q106 NLL chain (ONE shared rendering, plain documents —
      // no gibberish injection here) + the identical ntile ranking
      "q189_curriculum_tiers" ->
        s"""WITH ${unigramNllCtes("documents")},
           |r AS (SELECT source, round(nll, 6) AS nll6, n_tok, doc_id
           |  FROM sc WHERE nll IS NOT NULL),
           |t AS (SELECT source, nll6, n_tok,
           |    ntile(4) OVER (PARTITION BY source
           |      ORDER BY nll6, doc_id) AS tier FROM r)
           |SELECT source, CAST(tier AS INT) AS tier,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           |  MIN(nll6) AS min_nll, MAX(nll6) AS max_nll
           |FROM t GROUP BY source, tier""".stripMargin,

      // the per-pattern strpos replay of the automaton's single
      // pass: n_hit = distinct patterns present, first_pos = the
      // earliest match start over all of them (exactly min(strpos)),
      // absent patterns contribute nothing, no-hit docs NULL
      "q185_blocklist_tags" -> {
        val vals = q185Patterns.map(p => s"('$p')").mkString(", ")
        s"""WITH pats AS (SELECT * FROM (VALUES $vals) AS t(pat)),
           |hits AS (SELECT d.doc_id,
           |    MIN(strpos(d.text, p.pat)) AS fp, COUNT(*) AS n
           |  FROM documents d JOIN pats p
           |    ON strpos(d.text, p.pat) > 0
           |  GROUP BY d.doc_id)
           |SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit,
           |  CAST(h.fp AS INT) AS first_pos,
           |  COALESCE(h.n, 0) > 0 AS flagged
           |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin
      },

      // identical count arithmetic and the identical one-ln PMI
      // expression (fixed op order — see CorpusStats.pmiCollocations);
      // ONE chain rendering shared with q191 (which applies the
      // phrases this query finds)
      "q186_pmi_collocations" ->
        s"""WITH ${pmiCtes("SELECT $TOKS AS t FROM documents"
             .replace("$TOKS", sqlTokens))}
           |$pmiTopSelect""".stripMargin,

      // the q186 chain (shared rendering) feeding the greedy
      // left-to-right merge as run-parity arithmetic: candidate
      // positions → consecutive runs (i − row_number) → odd ranks
      // merge — the identical all-integer merge set both engines
      // compute
      "q191_phrase_merge" ->
        s"""WITH ${pmiCtes(
             "SELECT doc_id, source, $TOKS AS t FROM documents"
               .replace("$TOKS", sqlTokens))},
           |ph AS (SELECT w1 || ' ' || w2 AS b
           |  FROM ($pmiTopSelect)),
           |pos AS (SELECT doc_id, u.i AS i, u.b AS b FROM (
           |  SELECT doc_id, unnest(list_transform(
           |      range(1, CAST(len(t) AS BIGINT)),
           |      i -> {'i': i, 'b': t[i] || ' ' || t[i+1]})) AS u
           |  FROM toksrc)),
           |cand AS (SELECT doc_id, i FROM pos JOIN ph USING (b)),
           |runs AS (SELECT doc_id, i,
           |    i - row_number() OVER (PARTITION BY doc_id
           |      ORDER BY i) AS run
           |  FROM cand),
           |mg AS (SELECT doc_id, COUNT(*) AS nm FROM (
           |    SELECT doc_id, row_number() OVER (
           |      PARTITION BY doc_id, run ORDER BY i) AS rn
           |    FROM runs) WHERE rn % 2 = 1 GROUP BY doc_id)
           |SELECT t.source, COUNT(DISTINCT t.doc_id) AS n_docs,
           |  CAST(SUM(len(t.t)) AS BIGINT) AS tokens_before,
           |  CAST(COALESCE(SUM(mg.nm), 0) AS BIGINT)
           |    AS tokens_merged
           |FROM toksrc t LEFT JOIN mg ON t.doc_id = mg.doc_id
           |GROUP BY t.source""".stripMargin,

      // two independent unigram-model CTE chains (reference slice /
      // full corpus, the q106 rendering twice), one scoring pass
      // computing both losses, then the exact-integer excess and
      // floor-division weights — `//` on non-negative BIGINTs is
      // Spark's `div`, so weight arithmetic is bit-equal. ONE shared
      // rendering ([[domainExcessCtes]]) with q181, which chains the
      // same step twice around a resample.
      "q173_domain_reweight" ->
        s"""WITH t0 AS (SELECT doc_id, source, $sqlTokens AS toks
           |  FROM documents),
           |${domainExcessCtes("", "t0")}
           |${domainExcessSelect("")}""".stripMargin,

      // the loop replayed: round-1 weights (domainExcessCtes over
      // t0), the Gumbel-key resample (q159's key arithmetic with
      // ln(weight_milli) log-weight micros), then the SAME step's
      // CTEs over the sampled 400 — weights₂ is the output
      "q181_doremi_iterate" ->
        s"""WITH t0 AS (SELECT doc_id, source, $sqlTokens AS toks
           |  FROM documents),
           |${domainExcessCtes("r1", "t0")},
           |w1 AS (SELECT source,
           |    CAST(CASE WHEN te = 0 THEN 0
           |      ELSE (excess_micro * 1000) // te END AS BIGINT)
           |      AS weight_milli
           |  FROM r1ex CROSS JOIN r1tot),
           |ck AS (SELECT d.doc_id,
           |    CAST(CAST(round(ln(w1.weight_milli), 6)
           |      AS DECIMAL(20,6)) * 1000000 AS BIGINT)
           |    + CAST(CAST(round(-ln(-ln(
           |      (${hashes.md5Hash60Sql(
                  "CAST(d.doc_id AS VARCHAR) || ':clock'")}
           |        % 999999 + 1) / 1000000.0)), 6) AS DECIMAL(20,6))
           |      * 1000000 AS BIGINT) AS key_m
           |  FROM documents d JOIN w1 ON d.source = w1.source
           |  WHERE w1.weight_milli > 0),
           |top AS (SELECT doc_id FROM ck
           |  ORDER BY key_m DESC, doc_id LIMIT 400),
           |t1 AS (SELECT doc_id, source, toks FROM t0
           |  WHERE doc_id IN (SELECT doc_id FROM top)),
           |${domainExcessCtes("r2", "t1")}
           |${domainExcessSelect("r2")}""".stripMargin,

      // the q44 recursive-reach CC over the phash pair set: every
      // image labeled with its group's min id, singletons with
      // themselves
      "q178_image_dup_keeper" ->
        s"""WITH RECURSIVE ${phashHashCtes("", "TRUE",
              "(event_id % 50)")},
           |p AS (
           |  SELECT a.id AS doc_a, b.id AS doc_b
           |  FROM h a JOIN h b ON a.id < b.id
           |  WHERE bit_count(xor(a.fp, b.fp)) <= 4),
           |${ccLabelCtes("", "p")}
           |SELECT i.id AS doc, COALESCE(l.label, i.id) AS group_keeper
           |FROM h i LEFT JOIN lbl l ON i.id = l.node""".stripMargin,

      // q178's recursive CC, resolved by the q84 keeper rule instead
      // of min-id: quality-argmax (bright-cell popcount) with min-id
      // ties — one kept row per component
      "q179_image_quality_keeper" ->
        s"""WITH RECURSIVE ${phashHashCtes("", "TRUE",
              "(event_id % 50)")},
           |p AS (
           |  SELECT a.id AS doc_a, b.id AS doc_b
           |  FROM h a JOIN h b ON a.id < b.id
           |  WHERE bit_count(xor(a.fp, b.fp)) <= 4),
           |${ccLabelCtes("", "p")},
           |d AS (SELECT i.id AS doc,
           |    CAST(bit_count(i.fp) AS BIGINT) AS bright_cells,
           |    COALESCE(l.label, i.id) AS comp
           |  FROM h i LEFT JOIN lbl l ON i.id = l.node),
           |k AS (SELECT doc, bright_cells, ROW_NUMBER() OVER (
           |    PARTITION BY comp ORDER BY bright_cells DESC, doc) AS rn
           |  FROM d)
           |SELECT doc, bright_cells FROM k WHERE rn = 1""".stripMargin,

      // every sampled frame's 64-bit hash rebuilt from the patternVideos
      // arithmetic (content base + per-video flip + per-frame mask,
      // sign bit packed the phashHashCtes way), then min-Hamming over
      // each video pair's frame pairs — a.id < b.id mirrors the
      // engine's frame-grain doc ordering restricted to distinct
      // videos
      "q180_video_phash_dedup" ->
        s"""WITH ${videoHashCtes("", "TRUE", "((event_id // 40) % 25)")}
          |SELECT a.id AS vid_a, b.id AS vid_b,
          |  CAST(MIN(bit_count(xor(a.fp, b.fp))) AS INT) AS min_hamming,
          |  COUNT(*) AS n_frame_pairs
          |FROM vh a JOIN vh b ON a.id < b.id
          |WHERE bit_count(xor(a.fp, b.fp)) <= 4
          |GROUP BY a.id, b.id""".stripMargin,

      // the two halves' frame hashes from the SAME shared rendering
      // (novel-pattern rule included), then each batch video's global
      // (hamming, stored-frame)-min — equal to the engine's
      // per-frame-then-per-video min composition
      "q182_video_phash_ingest" -> {
        val cRule = "CASE WHEN (event_id // 40) % 2 = 1 AND " +
          "(event_id // 40) % 7 = 0 THEN ((event_id // 40) % 25) + 25 " +
          "ELSE ((event_id // 40) % 25) END"
        s"""WITH ${videoHashCtes("i", "(event_id // 40) % 2 = 0", cRule)},
          |${videoHashCtes("b", "(event_id // 40) % 2 = 1", cRule)},
          |marks AS (SELECT b.id AS vid, i.id * 8 + i.f AS sdoc,
          |    bit_count(xor(b.fp, i.fp)) AS hamming
          |  FROM bvh b JOIN ivh i
          |    ON bit_count(xor(b.fp, i.fp)) <= 4),
          |best AS (SELECT vid, sdoc, hamming, ROW_NUMBER() OVER (
          |    PARTITION BY vid ORDER BY hamming, sdoc) AS rk
          |  FROM marks)
          |SELECT v.id AS vid, bs.sdoc // 8 AS dup_of_vid,
          |  CAST(bs.hamming AS INT) AS min_hamming,
          |  bs.sdoc IS NOT NULL AS is_dup
          |FROM (SELECT DISTINCT id FROM bvh) v
          |LEFT JOIN (SELECT vid, sdoc, hamming FROM best WHERE rk = 1) bs
          |  ON v.id = bs.vid""".stripMargin
      },

      // the q172 hash arithmetic over BOTH halves, then each batch
      // image's (hamming, id)-min stored neighbor within radius 4 —
      // the bounded halves make the all-pairs recompute cheap while
      // the engine side runs the key-table join against the index
      "q176_phash_ingest" ->
        s"""WITH ${phashHashCtes("", "event_id % 16 IN (0, 8)",
              "(event_id % 50)")},
          |idx AS (SELECT id, fp FROM h WHERE id % 16 = 0),
          |bat AS (SELECT id, fp FROM h WHERE id % 16 = 8),
          |marks AS (
          |  SELECT b.id AS doc, i.id AS doc_a,
          |    bit_count(xor(b.fp, i.fp)) AS hamming,
          |    row_number() OVER (PARTITION BY b.id
          |      ORDER BY bit_count(xor(b.fp, i.fp)), i.id) AS rk
          |  FROM bat b JOIN idx i
          |    ON bit_count(xor(b.fp, i.fp)) <= 4)
          |SELECT b.id AS doc, b.fp AS fp, m.doc_a AS dup_of,
          |  m.hamming AS hamming, m.doc_a IS NOT NULL AS is_dup
          |FROM bat b LEFT JOIN
          |  (SELECT doc, doc_a, hamming FROM marks WHERE rk = 1) m
          |  ON b.id = m.doc""".stripMargin,

      // the stored half (unshifted patterns) plus the streamed half
      // (rotated patterns — content the store has never seen), then
      // q111's chained-growth CTEs on the phash grain: each batch
      // marks against the index AS OF its start, fresh images join
      // the index before the next batch — batches 2/3 can only be
      // flagged through that growth
      "q177_stream_phash_ingest" -> {
        def mark(bn: Int, idx: String) =
          s"""d$bn AS (SELECT doc, doc_a, hamming FROM (
             |  SELECT b.id AS doc, i.id AS doc_a,
             |    bit_count(xor(b.fp, i.fp)) AS hamming,
             |    row_number() OVER (PARTITION BY b.id
             |      ORDER BY bit_count(xor(b.fp, i.fp)), i.id) AS rk
             |  FROM b$bn b JOIN $idx i
             |    ON bit_count(xor(b.fp, i.fp)) <= 4) WHERE rk = 1)"""
            .stripMargin
        s"""WITH ${phashHashCtes("s", "event_id % 16 = 0",
              "(event_id % 50)")},
           |${phashHashCtes("t", "event_id % 16 = 8",
              "((event_id % 50) + 1) % 50")},
           |b1 AS (SELECT id, fp FROM th WHERE (id // 16) % 3 = 0),
           |b2 AS (SELECT id, fp FROM th WHERE (id // 16) % 3 = 1),
           |b3 AS (SELECT id, fp FROM th WHERE (id // 16) % 3 = 2),
           |${mark(1, "sh")},
           |i1 AS (SELECT * FROM sh UNION ALL SELECT id, fp FROM b1
           |  WHERE id NOT IN (SELECT doc FROM d1)),
           |${mark(2, "i1")},
           |i2 AS (SELECT * FROM i1 UNION ALL SELECT id, fp FROM b2
           |  WHERE id NOT IN (SELECT doc FROM d2)),
           |${mark(3, "i2")}
           |SELECT s.id AS doc, s.fp AS fp, d.doc_a AS dup_of,
           |  d.hamming AS hamming, d.doc_a IS NOT NULL AS is_dup
           |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2
           |      UNION ALL SELECT * FROM b3) s
           |LEFT JOIN (SELECT * FROM d1 UNION ALL SELECT * FROM d2
           |      UNION ALL SELECT * FROM d3) d ON s.id = d.doc"""
          .stripMargin
      },

      // q177's chained-growth CTEs on the video FRAME grain: every
      // streamed video is class-promoted (novelMod = 1 — no stored
      // partner exists), so every dup was flagged through a sealed
      // cross-batch append; frame hashes rebuilt from the q180
      // generation arithmetic
      "q202_stream_video_ingest" -> {
        def mark(bn: Int, idx: String) =
          s"""d$bn AS (SELECT doc, doc_a, hamming FROM (
             |  SELECT b.doc, i.doc AS doc_a,
             |    bit_count(xor(b.fp, i.fp)) AS hamming,
             |    row_number() OVER (PARTITION BY b.doc
             |      ORDER BY bit_count(xor(b.fp, i.fp)), i.doc) AS rk
             |  FROM b$bn b JOIN $idx i
             |    ON bit_count(xor(b.fp, i.fp)) <= 4) WHERE rk = 1)"""
            .stripMargin
        s"""WITH ${videoHashCtes("s", "(event_id // 40) % 2 = 0",
              "(event_id // 40) % 25")},
           |${videoHashCtes("t", "(event_id // 40) % 2 = 1",
              "((event_id // 40) % 25) + 25")},
           |sd AS (SELECT id * 8 + f AS doc, fp FROM svh),
           |td AS (SELECT id * 8 + f AS doc, fp,
           |    ((id // 40 - 1) // 2) % 3 AS bn FROM tvh),
           |b1 AS (SELECT doc, fp FROM td WHERE bn = 0),
           |b2 AS (SELECT doc, fp FROM td WHERE bn = 1),
           |b3 AS (SELECT doc, fp FROM td WHERE bn = 2),
           |${mark(1, "sd")},
           |i1 AS (SELECT * FROM sd UNION ALL SELECT doc, fp FROM b1
           |  WHERE doc NOT IN (SELECT doc FROM d1)),
           |${mark(2, "i1")},
           |i2 AS (SELECT * FROM i1 UNION ALL SELECT doc, fp FROM b2
           |  WHERE doc NOT IN (SELECT doc FROM d2)),
           |${mark(3, "i2")}
           |SELECT s.doc, s.fp, d.doc_a AS dup_of,
           |  d.hamming AS hamming, d.doc_a IS NOT NULL AS is_dup
           |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2
           |      UNION ALL SELECT * FROM b3) s
           |LEFT JOIN (SELECT * FROM d1 UNION ALL SELECT * FROM d2
           |      UNION ALL SELECT * FROM d3) d ON s.doc = d.doc"""
          .stripMargin
      },

      // the exact dense pair set (q44's rendering) unioned with the
      // canon min-edges, walked recursively to components, then the
      // q190 fold arithmetic on the component label — every shared
      // fragment re-verified through a second consumer
      "q197_component_split" -> {
        def fold(h: String) =
          s"CASE $h % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val' " +
            "ELSE 'train' END"
        s"""WITH RECURSIVE $urlCanonCtes,
           |$neardupPairCtes,
           |$componentGroupCtes,
           |s AS (SELECT source,
           |    ${fold(hashes.md5Hash60Sql("CAST(grp AS VARCHAR)"))}
           |      AS split,
           |    grp,
           |    ${fold(hashes.md5Hash60Sql(
                  "CAST(doc_id AS VARCHAR)"))} AS dsplit
           |  FROM g)
           |SELECT source, split, COUNT(*) AS n_docs,
           |  COUNT(DISTINCT grp) AS n_groups,
           |  CAST(SUM(CASE WHEN dsplit <> split THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_rescued
           |FROM s GROUP BY source, split""".stripMargin
      },

      // the independent EXACT leakage join over the md5 doc-fold val
      // set — the engine reads only the at-rest signature index, the
      // oracle re-derives everything from text, so a hash match
      // proves the stored bands/shingles still speak for the corpus
      "q204_split_leakage_indexed" -> {
        s"""WITH $neardupPairCtes,
           |f AS (SELECT doc_id, source,
           |    ${hashes.md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 10
           |      = 1 AS is_val
           |  FROM documents),
           |vl AS (SELECT f.doc_id, f.source, sh.s
           |  FROM f JOIN sh ON f.doc_id = sh.doc_id WHERE f.is_val),
           |tr AS (SELECT f.doc_id, sh.s
           |  FROM f JOIN sh ON f.doc_id = sh.doc_id
           |  WHERE NOT f.is_val),
           |lk AS (SELECT v.doc_id, MIN(t.doc_id) AS leak_from
           |  FROM vl v JOIN tr t
           |    ON CAST(len(list_intersect(v.s, t.s)) AS DOUBLE) /
           |       CAST(len(v.s) + len(t.s)
           |         - len(list_intersect(v.s, t.s)) AS DOUBLE) >= 0.5
           |  GROUP BY v.doc_id)
           |SELECT v.source, COUNT(*) AS n_val,
           |  CAST(SUM(CASE WHEN lk.leak_from IS NOT NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
           |  CAST(COALESCE(SUM(lk.leak_from), 0) AS BIGINT)
           |    AS sum_leak_from
           |FROM vl v LEFT JOIN lk ON v.doc_id = lk.doc_id
           |GROUP BY v.source""".stripMargin
      },

      // the streamed fold assignment replayed as per-prefix recursive
      // components: edges (exact jaccard pairs ∪ per-prefix canon
      // min-edges) become visible when their LATER endpoint arrives,
      // each doc's label is read at ITS batch's prefix, and the fold/
      // inherited arithmetic mirrors the sink — ONE recursive CTE
      // parameterized by prefix instead of three copies
      "q205_stream_component_fold" -> {
        def fold(h: String) =
          s"CASE $h % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val' " +
            "ELSE 'train' END"
        s"""WITH RECURSIVE $urlCanonCtes,
           |all0 AS (
           |  SELECT d.doc_id, d.doc_id % 3 AS b, c.canon AS ckey,
           |    d.source, d.text
           |  FROM documents d JOIN canon c ON d.doc_id = c.doc_id),
           |cp AS (
           |  SELECT doc_id + 3000000 AS doc_id, 1 AS b,
           |    'copy-' || CAST(doc_id + 3000000 AS VARCHAR) AS ckey,
           |    source, text
           |  FROM documents WHERE doc_id % 3 = 0 AND doc_id % 7 = 0
           |  UNION ALL
           |  SELECT doc_id + 4000000, 2,
           |    'copy-' || CAST(doc_id + 4000000 AS VARCHAR),
           |    source, text
           |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 7 = 0),
           |alld AS (SELECT * FROM all0 UNION ALL SELECT * FROM cp),
           |${perPrefixComponentCtes(3)},
           |sp AS (
           |  SELECT fa.doc_id, fa.b, fa.grp,
           |    ${fold(hashes.md5Hash60Sql("CAST(grp AS VARCHAR)"))}
           |      AS split,
           |    ${fold(hashes.md5Hash60Sql(
                  "CAST(fa.doc_id AS VARCHAR)"))} AS dsplit,
           |    CASE WHEN o.doc_id IS NULL THEN 1 ELSE 0 END AS inh
           |  FROM fa LEFT JOIN alld o
           |    ON o.doc_id = fa.grp AND o.b = fa.b)
           |SELECT CAST(b AS BIGINT) AS batch_id, split,
           |  COUNT(*) AS n_docs,
           |  COUNT(DISTINCT grp) AS n_groups,
           |  CAST(SUM(inh) AS BIGINT) AS n_inherited,
           |  CAST(SUM(CASE WHEN dsplit <> split THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_rescued
           |FROM sp GROUP BY b, split""".stripMargin
      },

      // the q200 staged-growth chain on BOTH sides: per batch, two
      // mark passes (each side's new vectors vs the OTHER side's
      // store as of batch start), then both stores extend — a failed
      // append on either side collapses the later batches' grown
      // best-partners and fails the hash compare
      "q206_stream_margin_both_grow" -> {
        val cos = marginCosSql("x", "y")
        def mark(tag: String, batch: String, store: String) =
          s"""rk$tag AS (SELECT y.src_id, x.vec_id AS tgt_id,
             |    round($cos, 6) AS cos,
             |    row_number() OVER (PARTITION BY y.src_id
             |      ORDER BY round($cos, 6) DESC, x.vec_id) AS rk
             |  FROM $batch y JOIN $store x
             |    ON bit_count(xor(x.bucket, y.qb)) <= $q98Radius
             |  WHERE round($cos, 6) > 0),
             |top$tag AS (SELECT * FROM rk$tag WHERE rk <= 4),
             |st$tag AS (SELECT src_id,
             |    SUM(CAST(cos AS DECIMAL(18,6))) AS s, COUNT(*) AS c
             |  FROM top$tag GROUP BY src_id),
             |d$tag AS (SELECT t.src_id, t.tgt_id, t.cos,
             |  round(CAST(t.cos AS DOUBLE) /
             |    (CAST(st.s AS DOUBLE) / st.c), 6) AS margin,
             |  round(CAST(t.cos AS DOUBLE) /
             |    (CAST(st.s AS DOUBLE) / st.c), 6) >= 1.15 AS accepted
             |  FROM top$tag t JOIN st$tag st USING (src_id)
             |  WHERE t.rk = 1)""".stripMargin
        def grow(side: String, n: Int) =
          s"""s$side$n AS (SELECT * FROM s$side${n - 1} UNION ALL
             |  SELECT src_id AS vec_id, embedding, qb AS bucket
             |  FROM b$side$n)""".stripMargin
        val steps = (1 to 3).map { n =>
          val r = n - 1
          s"""b${"x"}$n AS (SELECT * FROM xv WHERE bn = $r),
             |b${"y"}$n AS (SELECT * FROM yv WHERE bn = $r),
             |${mark(s"x$n", s"bx$n", s"sy${n - 1}")},
             |${mark(s"y$n", s"by$n", s"sx${n - 1}")},
             |${grow("x", n)},
             |${grow("y", n)}""".stripMargin
        }.mkString(",\n")
        def out(d: String, dir: String) =
          s"SELECT '$dir' AS dir, src_id, tgt_id, cos, margin, " +
            s"accepted FROM $d"
        s"""WITH sx0 AS (SELECT vec_id, embedding,
           |    ${sqlBucket("embedding", q97Planes)} AS bucket
           |  FROM embeddings
           |  WHERE vec_id % 2 = 0 AND (vec_id // 2) % 4 = 3),
           |sy0 AS (SELECT vec_id, embedding,
           |    ${sqlBucket("embedding", q97Planes)} AS bucket
           |  FROM embeddings
           |  WHERE vec_id % 2 <> 0 AND (vec_id // 2) % 4 = 3),
           |xv AS (SELECT vec_id AS src_id, embedding,
           |    ${sqlBucket("embedding", q97Planes)} AS qb,
           |    (vec_id // 2) % 4 AS bn
           |  FROM embeddings
           |  WHERE vec_id % 2 = 0 AND (vec_id // 2) % 4 <> 3),
           |yv AS (SELECT vec_id AS src_id, embedding,
           |    ${sqlBucket("embedding", q97Planes)} AS qb,
           |    (vec_id // 2) % 4 AS bn
           |  FROM embeddings
           |  WHERE vec_id % 2 <> 0 AND (vec_id // 2) % 4 <> 3),
           |$steps
           |${out("dx1", "x2y")} UNION ALL ${out("dx2", "x2y")}
           |UNION ALL ${out("dx3", "x2y")}
           |UNION ALL ${out("dy1", "y2x")} UNION ALL ${out("dy2", "y2x")}
           |UNION ALL ${out("dy3", "y2x")}""".stripMargin
      },

      // the independent exact leakage join over the component folds:
      // every val doc exact-jaccard-scored against every non-val doc
      // — the oracle agreeing on ZERO leaks proves the engine's
      // banded pass missed nothing and the fold's guarantee is real
      "q198_component_split_leakage" -> {
        def fold(h: String) =
          s"CASE $h % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val' " +
            "ELSE 'train' END"
        s"""WITH RECURSIVE $urlCanonCtes,
           |$neardupPairCtes,
           |$componentGroupCtes,
           |f AS (SELECT g.doc_id, g.source,
           |    ${fold(hashes.md5Hash60Sql("CAST(grp AS VARCHAR)"))}
           |      AS split
           |  FROM g),
           |vl AS (SELECT f.doc_id, f.source, sh.s
           |  FROM f JOIN sh ON f.doc_id = sh.doc_id
           |  WHERE f.split = 'val'),
           |tr AS (SELECT f.doc_id, sh.s
           |  FROM f JOIN sh ON f.doc_id = sh.doc_id
           |  WHERE f.split <> 'val'),
           |lk AS (SELECT v.doc_id, MIN(t.doc_id) AS leak_from
           |  FROM vl v JOIN tr t
           |    ON CAST(len(list_intersect(v.s, t.s)) AS DOUBLE) /
           |       CAST(len(v.s) + len(t.s)
           |         - len(list_intersect(v.s, t.s)) AS DOUBLE) >= 0.5
           |  GROUP BY v.doc_id)
           |SELECT v.source, COUNT(*) AS n_val,
           |  CAST(SUM(CASE WHEN lk.leak_from IS NOT NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
           |  CAST(COALESCE(SUM(lk.leak_from), 0) AS BIGINT)
           |    AS sum_leak_from
           |FROM vl v LEFT JOIN lk ON v.doc_id = lk.doc_id
           |GROUP BY v.source""".stripMargin
      },

      // both stores' buckets from the inlined plane literals, the
      // candidate relation = bucket Hamming ≤ radius (exactly what
      // the engine's enumerated probe ball joins), then the SAME
      // two-directional margin chain as q184/q187 — one rendering,
      // four engine forms
      "q199_margin_two_sided" ->
        s"""WITH x AS (SELECT vec_id AS src_id, embedding,
           |    ${sqlBucket("embedding", q97Planes)} AS bx
           |  FROM embeddings WHERE vec_id % 2 = 0),
           |y AS (SELECT vec_id AS tgt_id, embedding,
           |    ${sqlBucket("embedding", q97Planes)} AS yb
           |  FROM embeddings WHERE vec_id % 2 <> 0),
           |p AS (SELECT x.src_id, y.tgt_id,
           |    round(${marginCosSql("x", "y")}, 6) AS cos
           |  FROM x JOIN y ON bit_count(xor(x.bx, y.yb)) <= $q98Radius),
           |$marginChainSql""".stripMargin,

      // q177's chained-growth CTEs on the margin grain: each batch's
      // forward margin against the store AS OF its start (the q192
      // rk/top/st/d chain per batch, cos > 0 guard included), the
      // batch's vectors joining the store before the next batch —
      // 56-60 of the 250 best-partners are only reachable through
      // that growth
      "q200_stream_margin_grow" -> {
        val cos = marginCosSql("x", "y")
        def mark(bn: Int, store: String) =
          s"""rk$bn AS (SELECT y.src_id, x.vec_id AS tgt_id,
             |    round($cos, 6) AS cos,
             |    row_number() OVER (PARTITION BY y.src_id
             |      ORDER BY round($cos, 6) DESC, x.vec_id) AS rk
             |  FROM b$bn y JOIN $store x
             |    ON bit_count(xor(x.bucket, y.qb)) <= $q98Radius
             |  WHERE round($cos, 6) > 0),
             |top$bn AS (SELECT * FROM rk$bn WHERE rk <= 4),
             |st$bn AS (SELECT src_id,
             |    SUM(CAST(cos AS DECIMAL(18,6))) AS s, COUNT(*) AS c
             |  FROM top$bn GROUP BY src_id),
             |d$bn AS (SELECT t.src_id, t.tgt_id, t.cos,
             |  round(CAST(t.cos AS DOUBLE) /
             |    (CAST(st.s AS DOUBLE) / st.c), 6) AS margin,
             |  round(CAST(t.cos AS DOUBLE) /
             |    (CAST(st.s AS DOUBLE) / st.c), 6) >= 1.15 AS accepted
             |  FROM top$bn t JOIN st$bn st USING (src_id)
             |  WHERE t.rk = 1)""".stripMargin
        s"""WITH s0 AS (SELECT vec_id, embedding,
           |    ${sqlBucket("embedding", q97Planes)} AS bucket
           |  FROM embeddings WHERE vec_id % 2 = 0),
           |yv AS (SELECT vec_id AS src_id, embedding,
           |    ${sqlBucket("embedding", q97Planes)} AS qb,
           |    (vec_id // 2) % 3 AS bn
           |  FROM embeddings WHERE vec_id % 2 <> 0),
           |b1 AS (SELECT * FROM yv WHERE bn = 0),
           |b2 AS (SELECT * FROM yv WHERE bn = 1),
           |b3 AS (SELECT * FROM yv WHERE bn = 2),
           |${mark(1, "s0")},
           |s1 AS (SELECT * FROM s0 UNION ALL
           |  SELECT src_id AS vec_id, embedding, qb AS bucket FROM b1),
           |${mark(2, "s1")},
           |s2 AS (SELECT * FROM s1 UNION ALL
           |  SELECT src_id AS vec_id, embedding, qb AS bucket FROM b2),
           |${mark(3, "s2")}
           |SELECT * FROM d1 UNION ALL SELECT * FROM d2
           |UNION ALL SELECT * FROM d3""".stripMargin
      },

      // the q188 bins re-aggregated, the threshold = MIN qualifying
      // bin under the HUGEINT-floor cumulative milli rate, and the
      // gate re-applied from the same scored frame — the choice
      // lands on DIFFERENT bins at the two gate SFs, so the chooser
      // arithmetic itself is what hash-matches
      "q201_calibrated_gate" -> calibratedGateOracleSql(false),

      // ONE shared chain (the q201 rendering + sum_feats) gates both
      // the batch form and the drained streaming partials — the
      // exactly-once decomposition must re-aggregate to the batch
      // answer bit for bit
      "q203_stream_calibrated_gate" -> calibratedGateOracleSql(true),

      // the shared q201 chain with the chooser restricted to the
      // at-rest slice (yesterday's crawl) at target 750 — merged
      // partials ≡ a full recompute at the chosen threshold, and at
      // sf0.001 the old slice picks bin 3 where the full corpus
      // would pick 4, pinning the chooser's provenance
      "q207_incremental_calibrated" -> calibratedGateOracleSql(true,
        chooserWhere = "WHERE doc_id % 5 <> 0", targetMilli = 750),

      // the q176 mark shape on the AUDIO hash CTEs (div = 16 — every
      // 16th event is a WAV; halves split mod 32): the batch's even-m
      // clips keep their stored patterns (all dup), its odd-m clips
      // rotate to the odd residues the store never heard (all fresh)
      "q195_audio_phash_ingest" ->
        s"""WITH ${phashHashCtes("s", "event_id % 32 = 0",
              "(event_id % 50)", div = 16)},
           |${phashHashCtes("t", "event_id % 32 = 16",
              "CASE WHEN (event_id // 32) % 2 = 0 THEN (event_id % 50)" +
                " ELSE ((event_id % 50) + 1) % 50 END", div = 16)},
           |marks AS (
           |  SELECT b.id AS doc, i.id AS doc_a,
           |    bit_count(xor(b.fp, i.fp)) AS hamming,
           |    row_number() OVER (PARTITION BY b.id
           |      ORDER BY bit_count(xor(b.fp, i.fp)), i.id) AS rk
           |  FROM th b JOIN sh i
           |    ON bit_count(xor(b.fp, i.fp)) <= 4)
           |SELECT b.id AS doc, b.fp AS fp, m.doc_a AS dup_of,
           |  m.hamming AS hamming, m.doc_a IS NOT NULL AS is_dup
           |FROM th b LEFT JOIN
           |  (SELECT doc, doc_a, hamming FROM marks WHERE rk = 1) m
           |  ON b.id = m.doc""".stripMargin,

      // q177's chained-growth CTEs on the audio grain: every streamed
      // clip is pattern-rotated (no stored partner exists), so every
      // dup in the answer was flagged through a sealed cross-batch
      // append
      "q196_stream_audio_ingest" -> {
        def mark(bn: Int, idx: String) =
          s"""d$bn AS (SELECT doc, doc_a, hamming FROM (
             |  SELECT b.id AS doc, i.id AS doc_a,
             |    bit_count(xor(b.fp, i.fp)) AS hamming,
             |    row_number() OVER (PARTITION BY b.id
             |      ORDER BY bit_count(xor(b.fp, i.fp)), i.id) AS rk
             |  FROM b$bn b JOIN $idx i
             |    ON bit_count(xor(b.fp, i.fp)) <= 4) WHERE rk = 1)"""
            .stripMargin
        s"""WITH ${phashHashCtes("s", "event_id % 32 = 0",
              "(event_id % 50)", div = 16)},
           |${phashHashCtes("t", "event_id % 32 = 16",
              "((event_id % 50) + 1) % 50", div = 16)},
           |b1 AS (SELECT id, fp FROM th WHERE (id // 32) % 3 = 0),
           |b2 AS (SELECT id, fp FROM th WHERE (id // 32) % 3 = 1),
           |b3 AS (SELECT id, fp FROM th WHERE (id // 32) % 3 = 2),
           |${mark(1, "sh")},
           |i1 AS (SELECT * FROM sh UNION ALL SELECT id, fp FROM b1
           |  WHERE id NOT IN (SELECT doc FROM d1)),
           |${mark(2, "i1")},
           |i2 AS (SELECT * FROM i1 UNION ALL SELECT id, fp FROM b2
           |  WHERE id NOT IN (SELECT doc FROM d2)),
           |${mark(3, "i2")}
           |SELECT s.id AS doc, s.fp AS fp, d.doc_a AS dup_of,
           |  d.hamming AS hamming, d.doc_a IS NOT NULL AS is_dup
           |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2
           |      UNION ALL SELECT * FROM b3) s
           |LEFT JOIN (SELECT * FROM d1 UNION ALL SELECT * FROM d2
           |      UNION ALL SELECT * FROM d3) d ON s.id = d.doc"""
          .stripMargin
      },

      // the 5×3 sampled grid reads 9 left + 6 right pixels of every
      // even-width two-tone image — the exact integer numerators the
      // engine sums, divided by the same 15
      "q149_image_resize" ->
        """SELECT event_id,
          |  CAST(8 + (event_id % 5) * 2 AS INT) AS width,
          |  CAST(6 + (event_id % 4) AS INT) AS height,
          |  CAST(9 * (event_id % 256) + 6 * ((7 * event_id) % 256)
          |    AS DOUBLE) / 15 AS mean_r,
          |  CAST(9 * ((3 * event_id) % 256) + 6 * ((11 * event_id) % 256)
          |    AS DOUBLE) / 15 AS mean_g,
          |  CAST(9 * ((5 * event_id) % 256) + 6 * ((13 * event_id) % 256)
          |    AS DOUBLE) / 15 AS mean_b
          |FROM events""".stripMargin,

      // multi-table candidates (collision in ANY table) → exact
      // cosine rank, from the same seeded plane literals
      "q95_ann_topk_multi" -> {
        val cos = s"${sqlDotVec("a.embedding", "c.embedding")} / " +
          s"(sqrt(${sqlDotVec("a.embedding", "a.embedding")}) * " +
          s"sqrt(${sqlDotVec("c.embedding", "c.embedding")}))"
        val bucketCols = q95Tables.zipWithIndex.map { case (planes, i) =>
          s"${sqlBucket("embedding", planes)} AS b$i"
        }.mkString(",\n    ")
        val collide = q95Tables.indices
          .map(i => s"a.b$i = c.b$i").mkString("(", " OR ", ")")
        s"""WITH b AS (
           |  SELECT vec_id, embedding,
           |    $bucketCols
           |  FROM embeddings),
           |p AS (
           |  SELECT a.vec_id AS vec_id, c.vec_id AS nb_id, $cos AS cos
           |  FROM b a JOIN b c ON a.vec_id <> c.vec_id AND $collide)
           |SELECT vec_id, nb_id, round(cos, 6) AS cos, rnk FROM (
           |  SELECT vec_id, nb_id, cos,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY cos DESC, nb_id) AS rnk
           |  FROM p) WHERE rnk <= 5""".stripMargin
      },

      // q95's candidate mirror + cross-label filter + rank 1: the
      // hard-negative choice is exactly verified within the replayed
      // candidate set
      "q119_hard_negatives" -> {
        val cos = s"${sqlDotVec("a.embedding", "c.embedding")} / " +
          s"(sqrt(${sqlDotVec("a.embedding", "a.embedding")}) * " +
          s"sqrt(${sqlDotVec("c.embedding", "c.embedding")}))"
        val bucketCols = q119Tables.zipWithIndex.map { case (planes, i) =>
          s"${sqlBucket("embedding", planes)} AS b$i"
        }.mkString(",\n    ")
        val collide = q119Tables.indices
          .map(i => s"a.b$i = c.b$i").mkString("(", " OR ", ")")
        s"""WITH b AS (
           |  SELECT vec_id, label, embedding,
           |    $bucketCols
           |  FROM embeddings),
           |p AS (
           |  SELECT a.vec_id AS vec_id, a.label AS label,
           |    c.vec_id AS nb_id, c.label AS neg_label, $cos AS cos
           |  FROM b a JOIN b c ON a.vec_id <> c.vec_id
           |    AND a.label <> c.label AND $collide)
           |SELECT vec_id, label, nb_id, neg_label,
           |  round(cos, 6) AS cos FROM (
           |  SELECT vec_id, label, nb_id, neg_label, cos,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY round(cos, 6) DESC, nb_id) AS rnk
           |  FROM p) WHERE rnk = 1""".stripMargin
      },

      // identical contribution arithmetic: round-9 per token, decimal
      // sum (order-free) — see CorpusStats.vocabDrift
      "q120_vocab_drift" ->
        s"""WITH pairs AS (
           |  SELECT source AS s, unnest(toks) AS tok
           |  FROM (SELECT source, $sqlTokens AS toks FROM documents)),
           |bs AS (SELECT s, tok, COUNT(*) AS nst
           |  FROM pairs GROUP BY s, tok),
           |st AS (SELECT s, SUM(nst) AS ns FROM bs GROUP BY s),
           |ct AS (SELECT tok, SUM(nst) AS nt FROM bs GROUP BY tok),
           |n AS (SELECT SUM(nt) AS n FROM ct),
           |c AS (SELECT bs.s,
           |    round((CAST(nst AS DOUBLE) / CAST(ns AS DOUBLE)) *
           |      ln((CAST(nst AS DOUBLE) * CAST(n.n AS DOUBLE)) /
           |         (CAST(ns AS DOUBLE) * CAST(nt AS DOUBLE))), 9) AS c,
           |    ns
           |  FROM bs JOIN ct USING (tok) JOIN st USING (s) CROSS JOIN n)
           |SELECT s AS source,
           |  CAST(MAX(ns) AS BIGINT) AS n_tokens,
           |  CAST(SUM(CAST(c AS DECIMAL(28,9))) AS DOUBLE) AS kl
           |FROM c GROUP BY s""".stripMargin,

      // exact-Jaccard recompute of the split-leakage guard: same
      // planted re-crawl copies, same modulo split, full val × train
      // exact join (the engine's LSH candidates are subset-exact, so
      // the exact answer IS the contract being checked)
      "q121_split_leakage" ->
        s"""WITH base AS (SELECT doc_id, source, text FROM documents),
           |all_docs AS (
           |  SELECT doc_id, source, text FROM base
           |  UNION ALL
           |  SELECT doc_id * 10 + 6000000, source, text FROM base
           |  WHERE doc_id % 13 = 5 AND doc_id % 10 <> 0),
           |sh AS (SELECT doc_id, source, doc_id % 10 = 0 AS is_val,
           |    ${sqlShingles(2)} AS s
           |  FROM (SELECT doc_id, source, $sqlTokens AS toks
           |    FROM all_docs)),
           |leaks AS (
           |  SELECT v.doc_id AS doc_id, min(t.doc_id) AS leak_from
           |  FROM sh v JOIN sh t ON v.is_val AND NOT t.is_val AND
           |    CAST(len(list_intersect(v.s, t.s)) AS DOUBLE) /
           |      CAST(len(v.s) + len(t.s) -
           |        len(list_intersect(v.s, t.s)) AS DOUBLE) >= 0.5
           |  GROUP BY v.doc_id)
           |SELECT sh.source, COUNT(*) AS n_val,
           |  CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_leaked,
           |  CAST(coalesce(SUM(l.leak_from), 0) AS BIGINT)
           |    AS sum_leak_from
           |FROM sh LEFT JOIN leaks l ON sh.doc_id = l.doc_id
           |WHERE sh.is_val
           |GROUP BY sh.source""".stripMargin,

      // the PRUNED plan the rewrite rule produces, mirrored from the
      // same seeded plane literals: candidates = bucket collision in
      // ANY of the 8 tables, exact cosine rank within candidates
      "q93_ann_rewrite" -> {
        val hit = q93Tables.map(planes =>
          s"(${sqlBucket("e.embedding", planes)} = " +
            s"${sqlBucket("q.qe", planes)})")
          .mkString("(", " OR ", ")")
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, round(cos_exact, 6) AS cos FROM (
           |  SELECT e.vec_id,
           |    list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) /
           |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           |     sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))) AS cos_exact
           |  FROM embeddings e, q
           |  WHERE e.vec_id <> 0 AND $hit
           |  ORDER BY cos_exact DESC, e.vec_id LIMIT 10)""".stripMargin
      },

      // the clustered scan's result is layout-invariant: the same
      // bucket-collision top-k from the raw table
      "q97_ann_clustered_scan" ->
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, round(cos_exact, 6) AS cos FROM (
           |  SELECT e.vec_id,
           |    list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) /
           |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           |     sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))) AS cos_exact
           |  FROM embeddings e, q
           |  WHERE e.vec_id <> 0
           |    AND ${sqlBucket("e.embedding", q97Planes)} =
           |        ${sqlBucket("q.qe", q97Planes)}
           |  ORDER BY cos_exact DESC, e.vec_id LIMIT 5)""".stripMargin,

      // the Hamming-ball probe set expressed declaratively: buckets
      // within the DERIVED radius (probeRadiusForRecall, floor 0.9 /
      // miss 0.15 → 1 at this scale) of the query's bucket
      "q98_ann_multiprobe" ->
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, round(cos_exact, 6) AS cos FROM (
           |  SELECT e.vec_id,
           |    list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) /
           |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           |     sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))) AS cos_exact
           |  FROM embeddings e, q
           |  WHERE e.vec_id <> 0
           |    AND bit_count(xor(${sqlBucket("e.embedding", q97Planes)},
           |                      ${sqlBucket("q.qe", q97Planes)})) <= $q98Radius
           |  ORDER BY cos_exact DESC, e.vec_id LIMIT 5)""".stripMargin,

      // the same pinned quantization arithmetic, lambda-captured
      // per-row scale; dequantized arrays are DOUBLE in both engines
      "q100_quantized_topk" -> {
        def dot(x: String, y: String) =
          s"list_dot_product($x, $y)"
        def cos(x: String, y: String) =
          s"${dot(x, y)} / (sqrt(${dot(x, x)}) * sqrt(${dot(y, y)}))"
        s"""WITH d AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
           |    greatest(list_max(list_transform(embedding,
           |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS scale
           |  FROM embeddings),
           |e AS (
           |  SELECT vec_id, emb,
           |    list_transform(emb, x -> floor(x / scale + 0.5) * scale)
           |      AS deq
           |  FROM d),
           |q AS (SELECT deq AS q_deq, emb AS q_emb FROM e WHERE vec_id = 0)
           |SELECT vec_id, round(cos_q, 6) AS cos_q,
           |  round(cos_exact, 6) AS cos_exact FROM (
           |  SELECT e.vec_id,
           |    ${cos("e.deq", "q.q_deq")} AS cos_q,
           |    ${cos("e.emb", "q.q_emb")} AS cos_exact
           |  FROM e, q WHERE e.vec_id <> 0
           |  ORDER BY cos_q DESC, e.vec_id LIMIT 10)""".stripMargin
      },

      // seq through the connector := position in per-topic publish
      // order, which the publish loop pins to (event_type, event_id)
      "q99_connector_roundtrip" ->
        """WITH m AS (
          |  SELECT event_type, event_id,
          |    ROW_NUMBER() OVER (PARTITION BY event_type
          |      ORDER BY event_id) AS rn
          |  FROM events WHERE event_id % 20 = 0)
          |SELECT 'events-' || event_type AS topic,
          |  COUNT(*) AS n_msgs,
          |  CAST(SUM(rn * event_id) AS BIGINT) AS order_checksum
          |FROM m GROUP BY 1""".stripMargin,

      "q96_snapshot_diff" ->
        s"""WITH ca AS (
           |  SELECT $topicSqlExpr AS topic, COUNT(*) AS n_a
           |  FROM events WHERE event_id % 7 <> 0 GROUP BY 1),
           |cb AS (
           |  SELECT $topicSqlExpr AS topic, COUNT(*) AS n_b
           |  FROM events WHERE event_id % 5 <> 0 GROUP BY 1)
           |SELECT COALESCE(ca.topic, cb.topic) AS topic,
           |  CASE WHEN ca.topic IS NULL THEN 'added'
           |       WHEN cb.topic IS NULL THEN 'removed'
           |       ELSE 'changed' END AS status,
           |  n_a, n_b
           |FROM ca FULL OUTER JOIN cb ON ca.topic = cb.topic
           |WHERE ca.topic IS NULL OR cb.topic IS NULL OR n_a <> n_b""".stripMargin,

      "q94_asof_forward" ->
        """SELECT p.event_id, p.user_id,
          |  CASE WHEN c.ts <= p.ts + INTERVAL 24 HOUR THEN c.value END
          |    AS next_click_value
          |FROM (SELECT event_id, user_id, ts FROM events
          |      WHERE event_type = 'purchase') p
          |ASOF LEFT JOIN (
          |  SELECT user_id, ts, MAX(value) AS value
          |  FROM events WHERE event_type = 'click'
          |  GROUP BY user_id, ts) c
          |  ON p.user_id = c.user_id AND p.ts <= c.ts""".stripMargin,

      // the whole at-rest composition mirrored from the same
      // literals: q97's bucket planes, q98's derived radius, q100's
      // pinned quantization arithmetic, then the 20-deep shortlist
      // and the exact re-rank — layout is a performance property, so
      // the raw-table mirror must produce the identical rows
      "q101_ann_at_rest" -> {
        def dot(x: String, y: String) =
          s"list_dot_product($x, $y)"
        def cos(x: String, y: String) =
          s"${dot(x, y)} / (sqrt(${dot(x, x)}) * sqrt(${dot(y, y)}))"
        s"""WITH d AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
           |    ${sqlBucket("embedding", q97Planes)} AS bucket,
           |    greatest(list_max(list_transform(embedding,
           |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS scale
           |  FROM embeddings),
           |e AS (
           |  SELECT vec_id, emb, bucket,
           |    list_transform(emb, x -> floor(x / scale + 0.5) * scale)
           |      AS deq
           |  FROM d),
           |q AS (SELECT emb AS q_emb, bucket AS q_bucket FROM e
           |      WHERE vec_id = 0),
           |shortlist AS (
           |  SELECT e.vec_id, ${cos("e.deq", "q.q_emb")} AS cos_q, e.emb
           |  FROM e, q
           |  WHERE e.vec_id <> 0
           |    AND bit_count(xor(e.bucket, q.q_bucket)) <= $q98Radius
           |  ORDER BY cos_q DESC, e.vec_id LIMIT 20)
           |SELECT vec_id, round(cos_q, 6) AS cos_q,
           |  round(cos_exact, 6) AS cos_exact FROM (
           |  SELECT s.vec_id, s.cos_q,
           |    ${cos("s.emb", "q.q_emb")} AS cos_exact
           |  FROM shortlist s, q
           |  ORDER BY cos_exact DESC, s.vec_id LIMIT 5)""".stripMargin
      },

      // IDENTICAL to q98's oracle by design: the segmented store must
      // return exactly the single-segment layout's probe-ball answer —
      // the shared raw-table mirror IS the layout-invariance proof
      "q103_ann_incremental" ->
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, round(cos_exact, 6) AS cos FROM (
           |  SELECT e.vec_id,
           |    list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) /
           |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           |     sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))) AS cos_exact
           |  FROM embeddings e, q
           |  WHERE e.vec_id <> 0
           |    AND bit_count(xor(${sqlBucket("e.embedding", q97Planes)},
           |                      ${sqlBucket("q.qe", q97Planes)})) <= $q98Radius
           |  ORDER BY cos_exact DESC, e.vec_id LIMIT 5)""".stripMargin,

      // the DECODED statistics predicted from generation arithmetic
      // alone: sample i of event e is ((e + i) % 256 - 128) * 256,
      // n = 64 + e % 64 — mean |amplitude| is an exact integer sum
      // divided by n in DOUBLE, identical in both engines
      "q102_audio_stats" ->
        """SELECT event_id,
          |  CAST(64 + event_id % 64 AS BIGINT) AS n_samples,
          |  8000 AS sample_rate,
          |  1 AS channels,
          |  CAST(list_sum(list_transform(
          |    range(0, CAST(64 + event_id % 64 AS INT)),
          |    i -> abs((event_id + i) % 256 - 128) * 256)) AS DOUBLE)
          |    / (64 + event_id % 64) AS mean_abs
          |FROM events""".stripMargin,

      // only frames 0, 4, 8, … contribute; the denominator is the
      // strided frame count ceil(n/4) — identical integers both sides
      "q150_audio_resample" ->
        """SELECT event_id,
          |  CAST(64 + event_id % 64 AS BIGINT) AS n_samples,
          |  8000 AS sample_rate,
          |  1 AS channels,
          |  CAST(list_sum(list_transform(
          |    range(0, CAST(64 + event_id % 64 AS INT), 4),
          |    i -> abs((event_id + i) % 256 - 128) * 256)) AS DOUBLE)
          |    / ((64 + event_id % 64 + 3) // 4) AS mean_abs
          |FROM events""".stripMargin,

      // IDENTICAL navigation to q101's oracle by design — the
      // rule-driven plan must compute exactly the hand-composed
      // shortlist + exact re-rank (only the output shape differs:
      // the plain user query surfaces just the exact cosine)
      "q104_ann_index_rule" -> {
        def dot(x: String, y: String) =
          s"list_dot_product($x, $y)"
        def cos(x: String, y: String) =
          s"${dot(x, y)} / (sqrt(${dot(x, x)}) * sqrt(${dot(y, y)}))"
        s"""WITH d AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
           |    ${sqlBucket("embedding", q97Planes)} AS bucket,
           |    greatest(list_max(list_transform(embedding,
           |      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS scale
           |  FROM embeddings),
           |e AS (
           |  SELECT vec_id, emb, bucket,
           |    list_transform(emb, x -> floor(x / scale + 0.5) * scale)
           |      AS deq
           |  FROM d),
           |q AS (SELECT emb AS q_emb, bucket AS q_bucket FROM e
           |      WHERE vec_id = 0),
           |shortlist AS (
           |  SELECT e.vec_id, ${cos("e.deq", "q.q_emb")} AS cos_q, e.emb
           |  FROM e, q
           |  WHERE e.vec_id <> 0
           |    AND bit_count(xor(e.bucket, q.q_bucket)) <= $q98Radius
           |  ORDER BY cos_q DESC, e.vec_id LIMIT 20)
           |SELECT vec_id, round(cos_exact, 6) AS cos FROM (
           |  SELECT s.vec_id, ${cos("s.emb", "q.q_emb")} AS cos_exact
           |  FROM shortlist s, q
           |  ORDER BY cos_exact DESC, s.vec_id LIMIT 5)""".stripMargin
      },

      "q105_line_dedup" ->
        s"""WITH injected AS (
           |  SELECT doc_id, source,
           |    CASE WHEN doc_id % 3 = 0
           |        THEN '$q105NavLine' || chr(10) || text || chr(10)
           |          || '$q105FooterLine'
           |      WHEN doc_id % 3 = 1
           |        THEN text || chr(10) || '$q105FooterLine'
           |      ELSE text END AS text
           |  FROM documents),
           |l AS (SELECT doc_id, unnest(string_split(text, chr(10)))
           |    AS line FROM injected),
           |sup AS (SELECT line, COUNT(DISTINCT doc_id) AS df
           |  FROM l GROUP BY line),
           |hot AS (SELECT coalesce(list(line), []) AS hl
           |  FROM sup WHERE df > 5),
           |c AS (SELECT i.doc_id, i.source,
           |    len(string_split(i.text, chr(10))) AS lines_before,
           |    list_filter(string_split(i.text, chr(10)),
           |      x -> NOT list_contains(h.hl, x)) AS keep
           |  FROM injected i CROSS JOIN hot h)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(lines_before) AS BIGINT) AS lines_before,
           |  CAST(SUM(len(keep)) AS BIGINT) AS lines_kept,
           |  CAST(SUM(length(array_to_string(keep, chr(10))))
           |    AS BIGINT) AS chars_after
           |FROM c GROUP BY source""".stripMargin,

      "q106_unigram_loss" ->
        s"""WITH injected AS (
           |  SELECT doc_id, source,
           |    CASE WHEN doc_id % 11 = 0
           |      THEN text || ' qz' ||
           |        CAST(doc_id * 7919 % 100003 AS VARCHAR) ||
           |        'wx zv' ||
           |        CAST(doc_id * 104729 % 100003 AS VARCHAR) ||
           |        'qj wq' ||
           |        CAST(doc_id * 1299709 % 100003 AS VARCHAR) ||
           |        'zx jx' ||
           |        CAST(doc_id * 15485863 % 100003 AS VARCHAR) ||
           |        'qv xq' ||
           |        CAST(doc_id * 32452843 % 100003 AS VARCHAR) ||
           |        'vz zq' ||
           |        CAST(doc_id * 49979687 % 100003 AS VARCHAR) ||
           |        'xj qx' ||
           |        CAST(doc_id * 67867967 % 100003 AS VARCHAR) ||
           |        'jz vx' ||
           |        CAST(doc_id * 86028121 % 100003 AS VARCHAR) || 'zj'
           |      ELSE text END AS text
           |  FROM documents),
           |${unigramNllCtes("injected")}
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN round(nll, 6) > $q106Cut
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           |  CAST(SUM(CAST(round(nll, 6) AS DECIMAL(20,6)))
           |    AS DOUBLE) AS sum_nll
           |FROM sc GROUP BY source""".stripMargin,

      "q107_semantic_dedup" -> {
        // same centroid-literal assignment mirror as q42 (row_number
        // over (dist, cell) ties-to-lower-id = the kernel's contract),
        // over the planted-replica corpus
        val cents = "[" + ivfCentroids.map(c =>
          "[" + c.map(sqlDouble).mkString(",") + "]").mkString(",") +
          "]::DOUBLE[][]"
        def sqDist(vec: String, cent: String) =
          s"list_reduce(list_transform(range(1, ${embDim + 1}), " +
            s"i -> (CAST($vec[i] AS DOUBLE) - $cent[i]) * " +
            s"(CAST($vec[i] AS DOUBLE) - $cent[i])), (a,b) -> a+b)"
        val cos = s"${sqlDotVec("a.embedding", "b.embedding")} / " +
          s"(sqrt(${sqlDotVec("a.embedding", "a.embedding")}) * " +
          s"sqrt(${sqlDotVec("b.embedding", "b.embedding")}))"
        s"""WITH cents AS (SELECT $cents AS m),
           |cells AS (SELECT unnest(range(0, ${ivfCentroids.size})) AS cell),
           |corpus AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 1000000, embedding FROM embeddings
           |  WHERE vec_id % 7 = 0),
           |dists AS (
           |  SELECT e.vec_id, e.embedding, c.cell,
           |    ${sqDist("e.embedding", "ct.m[c.cell+1]")} AS dist
           |  FROM corpus e CROSS JOIN cells c CROSS JOIN cents ct),
           |assigned AS (
           |  SELECT vec_id, embedding, CAST(cell AS INT) AS cell FROM (
           |    SELECT vec_id, embedding, cell,
           |      row_number() OVER (PARTITION BY vec_id
           |        ORDER BY dist, cell) AS rn
           |    FROM dists) WHERE rn = 1),
           |dup AS (
           |  SELECT b.vec_id, min(a.vec_id) AS dup_of
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE $cos >= 0.99
           |  GROUP BY b.vec_id)
           |SELECT s.cell, COUNT(*) AS n_vecs,
           |  CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dups,
           |  CAST(coalesce(SUM(d.dup_of), 0) AS BIGINT) AS sum_dup_of
           |FROM assigned s LEFT JOIN dup d ON s.vec_id = d.vec_id
           |GROUP BY s.cell""".stripMargin
      },

      "q108_heavy_hitters" ->
        s"""WITH tk AS (
           |  SELECT unnest(toks) AS tok
           |  FROM (SELECT $sqlTokens AS toks FROM documents)),
           |th AS (SELECT greatest(5, COUNT(*) // 1000) AS t FROM tk)
           |SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n
           |FROM tk GROUP BY tok
           |HAVING COUNT(*) >= (SELECT t FROM th)""".stripMargin,

      "q109_neardup_ingest" ->
        s"""WITH batch AS (
           |  SELECT doc_id + 1000000 AS doc_id, source, text
           |  FROM documents WHERE doc_id % 7 = 0
           |  UNION ALL
           |  SELECT doc_id + 2000000, source,
           |    'zz' || CAST(doc_id AS VARCHAR)
           |  FROM documents WHERE doc_id % 7 = 1),
           |cs AS (SELECT doc_id, ${sqlShingles(2)} AS s
           |  FROM (SELECT doc_id, $sqlTokens AS toks FROM documents)),
           |bs AS (SELECT doc_id, source, ${sqlShingles(2)} AS s
           |  FROM (SELECT doc_id, source, $sqlTokens AS toks
           |    FROM batch)),
           |dup AS (
           |  SELECT b.doc_id, min(c.doc_id) AS dup_of
           |  FROM bs b JOIN cs c ON
           |    CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) /
           |      CAST(len(b.s) + len(c.s) - len(list_intersect(b.s, c.s))
           |        AS DOUBLE) >= 0.5
           |  GROUP BY b.doc_id)
           |SELECT bs.source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dups,
           |  CAST(coalesce(SUM(d.dup_of), 0) AS BIGINT) AS sum_dup_of
           |FROM bs LEFT JOIN dup d ON bs.doc_id = d.doc_id
           |GROUP BY bs.source""".stripMargin,

      // mirrors the stream's index-as-of-batch-start semantics as
      // three staged passes: d1 marks batch 1 vs the corpus index,
      // i1 = index ∪ batch-1 fresh docs, d2 marks batch 2 vs i1, etc.
      // — a failed store append in the engine collapses d2/d3's
      // cross-batch dups and fails the hash compare
      "q111_stream_neardup_ingest" -> {
        def jac(a: String, b: String): String =
          s"CAST(len(list_intersect($a.s, $b.s)) AS DOUBLE) / " +
            s"CAST(len($a.s) + len($b.s) - " +
            s"len(list_intersect($a.s, $b.s)) AS DOUBLE) >= 0.5"
        s"""WITH corpus AS (
           |  SELECT doc_id, source, text FROM documents
           |  WHERE source NOT IN ('src15', 'src16', 'src17')),
           |b1 AS (
           |  SELECT doc_id, source, text FROM documents
           |  WHERE source = 'src15'
           |  UNION ALL
           |  SELECT doc_id + 3000000, source, text FROM corpus
           |  WHERE doc_id % 11 = 0),
           |b2 AS (
           |  SELECT doc_id, source, text FROM documents
           |  WHERE source = 'src16'
           |  UNION ALL
           |  SELECT doc_id + 4000000, source, text FROM documents
           |  WHERE source = 'src15' AND doc_id % 5 = 0),
           |b3 AS (
           |  SELECT doc_id, source, text FROM documents
           |  WHERE source = 'src17'
           |  UNION ALL
           |  SELECT doc_id + 5000000, source, text FROM documents
           |  WHERE source = 'src16' AND doc_id % 5 = 1),
           |csh AS (SELECT doc_id, ${sqlShingles(2)} AS s
           |  FROM (SELECT doc_id, $sqlTokens AS toks FROM corpus)),
           |s1 AS (SELECT doc_id, ${sqlShingles(2)} AS s
           |  FROM (SELECT doc_id, $sqlTokens AS toks FROM b1)),
           |s2 AS (SELECT doc_id, ${sqlShingles(2)} AS s
           |  FROM (SELECT doc_id, $sqlTokens AS toks FROM b2)),
           |s3 AS (SELECT doc_id, ${sqlShingles(2)} AS s
           |  FROM (SELECT doc_id, $sqlTokens AS toks FROM b3)),
           |d1 AS (SELECT b.doc_id, min(c.doc_id) AS dup_of
           |  FROM s1 b JOIN csh c ON ${jac("b", "c")}
           |  GROUP BY b.doc_id),
           |i1 AS (SELECT * FROM csh UNION ALL
           |  SELECT * FROM s1
           |  WHERE doc_id NOT IN (SELECT doc_id FROM d1)),
           |d2 AS (SELECT b.doc_id, min(c.doc_id) AS dup_of
           |  FROM s2 b JOIN i1 c ON ${jac("b", "c")}
           |  GROUP BY b.doc_id),
           |i2 AS (SELECT * FROM i1 UNION ALL
           |  SELECT * FROM s2
           |  WHERE doc_id NOT IN (SELECT doc_id FROM d2)),
           |d3 AS (SELECT b.doc_id, min(c.doc_id) AS dup_of
           |  FROM s3 b JOIN i2 c ON ${jac("b", "c")}
           |  GROUP BY b.doc_id),
           |marked AS (
           |  SELECT b1.source, b1.doc_id, d1.dup_of
           |  FROM b1 LEFT JOIN d1 ON b1.doc_id = d1.doc_id
           |  UNION ALL
           |  SELECT b2.source, b2.doc_id, d2.dup_of
           |  FROM b2 LEFT JOIN d2 ON b2.doc_id = d2.doc_id
           |  UNION ALL
           |  SELECT b3.source, b3.doc_id, d3.dup_of
           |  FROM b3 LEFT JOIN d3 ON b3.doc_id = d3.doc_id)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN dup_of IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dups,
           |  CAST(coalesce(SUM(dup_of), 0) AS BIGINT) AS sum_dup_of
           |FROM marked GROUP BY source""".stripMargin
      },

      // mirrors CorpusStats.bigramLogLoss definition-for-definition:
      // V from the FULL unigram vocabulary, maps filtered at
      // minCount=3, fold in bigram order, both engines round at 6
      // decimals before the cut and the sum
      "q112_bigram_loss" ->
        s"""WITH injected AS (
           |  SELECT doc_id, source,
           |    CASE WHEN doc_id % 13 = 0 THEN text || '$q112Boiler'
           |    ELSE text END AS text
           |  FROM documents),
           |t0 AS (SELECT doc_id, source, $sqlTokens AS toks
           |  FROM injected),
           |tk AS (SELECT unnest(toks) AS tok FROM t0),
           |uc AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
           |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uc),
           |m1 AS (SELECT map(list(tok ORDER BY tok),
           |    list(c ORDER BY tok)) AS m FROM uc WHERE c >= 3),
           |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
           |    i -> toks[i] || ' ' || toks[i + 1])) AS b FROM t0),
           |bc AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY b),
           |m2 AS (SELECT map(list(b ORDER BY b),
           |    list(c ORDER BY b)) AS m FROM bc WHERE c >= 3),
           |sc AS (SELECT t0.doc_id, t0.source,
           |    CASE WHEN len(toks) < 2 THEN NULL ELSE
           |      list_reduce(list_transform(range(1, len(toks)), i ->
           |        -ln((CAST(coalesce(list_extract(map_extract(m2.m,
           |              toks[i] || ' ' || toks[i + 1]), 1), 0)
           |            AS DOUBLE) + 1.0)
           |          / (CAST(coalesce(list_extract(map_extract(m1.m,
           |              toks[i]), 1), 0) AS DOUBLE) + tot.v))),
           |        (a, b) -> a + b) / (len(toks) - 1) END AS nll2
           |  FROM t0 CROSS JOIN m1 CROSS JOIN m2 CROSS JOIN tot)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN round(nll2, 6) < $q112Cut
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_template,
           |  CAST(SUM(CAST(round(nll2, 6) AS DECIMAL(20,6)))
           |    AS DOUBLE) AS sum_nll2
           |FROM sc GROUP BY source""".stripMargin,

      // mirrors CorpusStats.dsirWeights definition-for-definition:
      // hashed unigram+bigram buckets (md5-60 % 1024), one-pass
      // raw/target counts, λ rounded at 6 decimals then carried as
      // exact integer micros so the per-doc sum is order-independent
      // in both engines; empty-token docs re-attach with weight 0
      "q113_dsir_weight" ->
        s"""$dsirMicrosCtes
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_selected,
           |  CAST(SUM(m) AS DOUBLE) / 1000000.0 AS sum_weight
           |FROM wa GROUP BY source""".stripMargin,

      // both engines rank on the ROUNDED tf·idf (round 6) with a
      // token tiebreak, so ulp-level ln() differences cannot reorder
      "q114_tfidf_keywords" ->
        s"""WITH t0 AS (
           |  SELECT doc_id, $sqlTokens AS toks FROM documents),
           |pairs AS (SELECT doc_id, unnest(toks) AS tok FROM t0),
           |tf AS (SELECT doc_id, tok, COUNT(*) AS tf
           |  FROM pairs GROUP BY doc_id, tok),
           |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
           |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total
           |  FROM documents),
           |sc AS (SELECT tf.doc_id, tf.tok,
           |    round(CAST(tf.tf AS DOUBLE) *
           |      ln(n_total / CAST(df.df AS DOUBLE)), 6) AS score
           |  FROM tf JOIN df USING (tok) CROSS JOIN n),
           |rk AS (SELECT doc_id, tok, score,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY score DESC, tok ASC) AS rank
           |  FROM sc)
           |SELECT doc_id, CAST(rank AS INT) AS rank, tok, score
           |FROM rk WHERE rank <= 3""".stripMargin,

      // same centroid-literal assignment mirror as q42/q107; cosine
      // to the assigned centroid with the identical rounded-cut
      // comparison
      "q115_embedding_outliers" -> {
        val cents = "[" + ivfCentroids.map(c =>
          "[" + c.map(sqlDouble).mkString(",") + "]").mkString(",") +
          "]::DOUBLE[][]"
        def sqDist(vec: String, cent: String) =
          s"list_reduce(list_transform(range(1, ${embDim + 1}), " +
            s"i -> (CAST($vec[i] AS DOUBLE) - $cent[i]) * " +
            s"(CAST($vec[i] AS DOUBLE) - $cent[i])), (a,b) -> a+b)"
        def dotAC(a: String, b: String) =
          s"list_reduce(list_transform(range(1, ${embDim + 1}), " +
            s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), " +
            "(x,y) -> x+y)"
        s"""WITH cents AS (SELECT $cents AS m),
           |cells AS (SELECT unnest(range(0, ${ivfCentroids.size})) AS cell),
           |dists AS (
           |  SELECT e.vec_id, e.embedding, c.cell,
           |    ${sqDist("e.embedding", "ct.m[c.cell+1]")} AS dist
           |  FROM embeddings e CROSS JOIN cells c CROSS JOIN cents ct),
           |assigned AS (
           |  SELECT vec_id, embedding, CAST(cell AS INT) AS cell FROM (
           |    SELECT vec_id, embedding, cell,
           |      row_number() OVER (PARTITION BY vec_id
           |        ORDER BY dist, cell) AS rn
           |    FROM dists) WHERE rn = 1),
           |sc AS (
           |  SELECT a.cell,
           |    round(${dotAC("a.embedding", "ct.m[a.cell+1]")} /
           |      (sqrt(${dotAC("a.embedding", "a.embedding")}) *
           |       sqrt(${dotAC("ct.m[a.cell+1]", "ct.m[a.cell+1]")})),
           |      6) AS cos
           |  FROM assigned a CROSS JOIN cents ct)
           |SELECT cell, COUNT(*) AS n_vecs,
           |  CAST(SUM(CASE WHEN cos < $q115Cut THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_outliers,
           |  CAST(SUM(CAST(cos AS DECIMAL(20,6))) AS DOUBLE) AS sum_cos
           |FROM sc GROUP BY cell""".stripMargin
      },

      // every signal mirrors its individually-gated oracle fragment
      // (q25 quality, q26 lang whens, q69 repetition) over one shared
      // tokenization
      "q116_corpus_report" -> corpusReportSql,

      // the STREAMING form aggregates to the identical full-corpus
      // report once the last micro-batch lands (complete mode), and
      // the INCREMENTAL form merges additive partials to the same
      // totals — one oracle serves all three
      "q117_stream_corpus_report" -> corpusReportSql,

      "q118_incremental_corpus_report" -> corpusReportSql,



      // mirrors graft.functions.urls.canonicalize/host definition-for-
      // definition (regexp_extract head, split_part fragment/query
      // slicing, list_filter on utm_ prefix) — keep in lockstep
      "q110_url_canonical" ->
        s"""WITH $urlCanonCtes
          |SELECT domain, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT url) AS n_urls_raw,
          |  COUNT(DISTINCT canon) AS n_urls_canon,
          |  CAST(SUM(n_chars) AS BIGINT) AS chars
          |FROM canon
          |WHERE domain NOT IN ('src2.example.com', 'src9.example.com')
          |GROUP BY domain ORDER BY domain""".stripMargin,

      // same url/canon CTE chain, then the keeper window: rank 1 =
      // longest doc (ties to smallest id) per canonical url
      "q175_url_dedup_keeper" ->
        s"""WITH $urlCanonCtes,
          |ranked AS (
          |  SELECT source, n_chars,
          |    row_number() OVER (PARTITION BY canon
          |      ORDER BY n_chars DESC, doc_id) AS rk
          |  FROM canon)
          |SELECT source, COUNT(*) AS n_docs,
          |  CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_kept,
          |  CAST(SUM(CASE WHEN rk = 1 THEN n_chars ELSE 0 END)
          |    AS BIGINT) AS chars_kept,
          |  CAST(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END)
          |    AS BIGINT) AS chars_dropped
          |FROM ranked GROUP BY source""".stripMargin,

      // BM25 re-derived end-to-end: same tokenizer, same pruned
      // posting construction, same (N − df + 0.5)/(df + 0.5) + 1 idf
      // and (k1, b) saturation with identical parenthesization, the
      // same rounded-then-DECIMAL-summed contributions, and the same
      // (score desc, doc_id) rank — term literals and (k1, b) are the
      // shared driver-side constants
      "q122_bm25_topk" -> bm25OracleSql,

      // the indexed form is result-equal BY CONSTRUCTION (one shared
      // scoring chain over identical df/tf/dl/N inputs — the store
      // changes where postings are READ from, never their values), so
      // the same independent BM25 recompute verifies it; RetrievalSpec
      // additionally pins engine-side result equality and the store's
      // file pruning
      "q126_bm25_indexed" -> bm25OracleSql,

      // the appended store must converge to the identical answer:
      // postings are doc-local, so segmenting by doc changes no term's
      // global posting set and the merged additive stats equal the
      // from-scratch aggregate — the full-corpus recompute verifies
      // the whole append lifecycle end-to-end
      "q127_bm25_index_append" -> bm25OracleSql,

      // the STREAMED store converges to the same answer again: three
      // micro-batches partition the corpus by doc, each sealed
      // segment adds its doc-local postings, so the drained store ≡
      // a from-scratch build ≡ the q122 dataflow — one oracle for
      // the whole streaming lifecycle (idempotence under retry is
      // engine-side machinery, pinned by StreamingSpec)
      "q128_stream_index_ingest" -> bm25OracleSql,

      // both arms re-derived independently: the shared BM25 rank
      // chain at k=100, an exact-cosine rank from the same by-qid
      // query vectors (rounded-cos ordering, id tiebreak), then the
      // identical rounded-decimal RRF fold over integer ranks
      "q129_hybrid_rrf" -> {
        val qids = bm25Queries.map(_._1).mkString(", ")
        s"""${bm25RankCtes},
           |qs AS (SELECT vec_id AS qid, embedding AS qe
           |  FROM embeddings WHERE vec_id IN ($qids)),
           |cr AS (SELECT qid, doc_id,
           |    row_number() OVER (PARTITION BY qid
           |      ORDER BY cos DESC, doc_id ASC) AS rank
           |  FROM (SELECT q.qid, e.vec_id AS doc_id,
           |      round(${sqlDotVec("e.embedding", "q.qe")} /
           |        (sqrt(${sqlDotVec("e.embedding", "e.embedding")}) *
           |         sqrt(${sqlDotVec("q.qe", "q.qe")})), 6) AS cos
           |    FROM embeddings e CROSS JOIN qs q
           |    WHERE e.vec_id <> q.qid)),
           |contrib AS (
           |  SELECT qid, doc_id,
           |    round(1.0 / (60.0 + CAST(rank AS DOUBLE)), 9) AS c
           |  FROM rk WHERE rank <= 100
           |  UNION ALL
           |  SELECT qid, doc_id,
           |    round(1.0 / (60.0 + CAST(rank AS DOUBLE)), 9) AS c
           |  FROM cr WHERE rank <= 100),
           |f AS (SELECT qid, doc_id,
           |    CAST(SUM(CAST(c AS DECIMAL(20,9))) AS DOUBLE) AS rrf
           |  FROM contrib GROUP BY qid, doc_id),
           |fr AS (SELECT qid, doc_id, rrf,
           |    row_number() OVER (PARTITION BY qid
           |      ORDER BY rrf DESC, doc_id ASC) AS rank
           |  FROM f)
           |SELECT qid, CAST(rank AS INT) AS rank, doc_id, rrf
           |FROM fr WHERE rank <= 10""".stripMargin
      },

      // the same BM25 rank chain picks the top document, the same
      // integer chunk boundaries as q123 cut it, and the hit count is
      // an integer filter over the identical token slice — tie broken
      // by earliest chunk in both engines
      "q130_best_chunk" -> {
        val termCase = "CASE qid " + bm25Queries.map { case (qid, q) =>
          val ts = q.trim.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+").filter(_.nonEmpty).distinct
            .map(t => s"'$t'").mkString("[", ", ", "]")
          s"WHEN $qid THEN $ts"
        }.mkString(" ") + " END"
        s"""${bm25RankCtes},
           |top1 AS (SELECT qid, doc_id FROM rk WHERE rank = 1),
           |td AS (SELECT t1.qid, t1.doc_id, $sqlTokens AS toks
           |  FROM top1 t1 JOIN documents ON documents.doc_id = t1.doc_id),
           |m AS (SELECT qid, doc_id, toks, len(toks) AS L,
           |    CASE WHEN len(toks) = 0 THEN 0
           |         ELSE 1 + (greatest(len(toks) - 32, 0) + 23) // 24
           |    END AS n
           |  FROM td),
           |ch AS (SELECT qid, doc_id, toks, L,
           |    unnest(range(0, n)) AS i
           |  FROM m),
           |scored AS (SELECT qid, doc_id,
           |    CAST(i AS INT) AS chunk_idx,
           |    CAST(i * 24 + 1 AS INT) AS start_tok,
           |    CAST(least(32, L - (i * 24 + 1) + 1) AS INT) AS n_toks,
           |    CAST(len(list_filter(
           |      list_slice(toks, CAST(i * 24 + 1 AS BIGINT),
           |        least(i * 24 + 32, L)),
           |      t -> list_contains($termCase, t))) AS BIGINT) AS n_hits
           |  FROM ch),
           |best AS (SELECT *, row_number() OVER (PARTITION BY qid
           |    ORDER BY n_hits DESC, chunk_idx ASC) AS rk
           |  FROM scored)
           |SELECT qid, doc_id, chunk_idx, start_tok, n_toks, n_hits
           |FROM best WHERE rk = 1""".stripMargin
      },

      // full pairwise recompute with the same injected prefix-copies:
      // list_slice over the SAME token list the engine sliced (joining
      // non-empty tokens on single spaces and re-tokenizing is the
      // identity), overlap/jaccard from identical integers, rounded
      // identically; jaccard_missed decides on the rounded value
      "q131_containment_pairs" -> containmentPairsOracleSql(),

      // the IDENTICAL recompute gates the indexed form: one exact
      // answer, two engine plans (dense broadcast scan vs inverted-
      // index candidates) — the equivalence contract, not duplication
      "q151_containment_indexed" ->
        containmentPairsOracleSql("WHERE doc_id % 4 = 0"),

      // the greedy MMR path replayed step by step: identical rounded
      // rel/sim inputs, the score in EXACT DECIMAL (7-dp — double
      // arithmetic would park every score an ulp from a 6-dp round
      // boundary; see mmrRerank scaladoc), the doc_id tiebreak at
      // every argmax, and the exact decimal emitted as double
      "q132_mmr_rerank" -> {
        def cosSql(x: String, y: String) =
          s"${sqlDotVec(x, y)} / (sqrt(${sqlDotVec(x, x)}) * " +
            s"sqrt(${sqlDotVec(y, y)}))"
        val steps = (2 to 5).map { i =>
          val prev = (1 until i)
            .map(j => s"SELECT qid, doc_id FROM sel$j")
            .mkString(" UNION ALL ")
          s"""sel$i AS (
             |  SELECT qid, doc_id, $i AS rank, mmr FROM (
             |    SELECT *, row_number() OVER (PARTITION BY qid
             |        ORDER BY mmr DESC, doc_id ASC) AS rk FROM (
             |      SELECT c.qid, c.doc_id,
             |        CAST(0.7 AS DECIMAL(2,1)) *
             |          CAST(c.rel AS DECIMAL(20,6)) -
             |        CAST(0.3 AS DECIMAL(2,1)) *
             |          max(CAST(s.sim AS DECIMAL(20,6))) AS mmr
             |      FROM cand c
             |      JOIN sims s ON s.qid = c.qid AND s.doc_a = c.doc_id
             |      JOIN ($prev) p ON p.qid = s.qid AND p.doc_id = s.doc_b
             |      WHERE NOT EXISTS (SELECT 1 FROM ($prev) pp
             |        WHERE pp.qid = c.qid AND pp.doc_id = c.doc_id)
             |      GROUP BY c.qid, c.doc_id, c.rel))
             |  WHERE rk = 1)""".stripMargin
        }.mkString(",\n")
        val unions = (1 to 5).map(i => s"SELECT * FROM sel$i")
          .mkString(" UNION ALL ")
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
           |  FROM embeddings WHERE vec_id IN (0, 7, 19)),
           |sc AS (SELECT q.qid, e.vec_id AS doc_id, e.embedding AS emb,
           |    round(${cosSql("e.embedding", "q.qe")}, 6) AS rel
           |  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
           |cand AS (SELECT qid, doc_id, emb, rel FROM (
           |  SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY rel DESC, doc_id ASC) AS rk FROM sc)
           |  WHERE rk <= 20),
           |sims AS (SELECT a.qid, a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    round(${cosSql("a.emb", "b.emb")}, 6) AS sim
           |  FROM cand a JOIN cand b
           |    ON a.qid = b.qid AND a.doc_id <> b.doc_id),
           |sel1 AS (SELECT qid, doc_id, 1 AS rank,
           |    CAST(CAST(rel AS DECIMAL(20,6)) AS DECIMAL(24,7)) AS mmr
           |  FROM (
           |  SELECT qid, doc_id, rel, row_number() OVER (
           |      PARTITION BY qid ORDER BY rel DESC, doc_id ASC) AS rk
           |  FROM cand) WHERE rk = 1),
           |$steps
           |SELECT qid, CAST(rank AS INT) AS rank, doc_id,
           |  CAST(mmr AS DOUBLE) AS mmr
           |FROM ($unions)""".stripMargin
      },

      // the same exact pairwise jaccard recompute as q27/q30, joined
      // to each side's source; the matrix sums rounded jaccards as
      // exact decimals (no mean — see the registration note)
      "q133_dup_attribution" ->
        s"""WITH sh AS (
           |  SELECT doc_id, source, ${sqlShingles(2)} AS s
           |  FROM (SELECT doc_id, source, $sqlTokens AS toks
           |        FROM documents)),
           |pr AS (
           |  SELECT a.source AS src_from, b.source AS src_to,
           |    b.doc_id AS doc_b,
           |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |      CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
           |        AS DOUBLE), 6) AS jc
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
           |      AS DOUBLE) >= 0.5)
           |SELECT src_from, src_to, COUNT(*) AS n_pairs,
           |  CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_copied_docs,
           |  CAST(SUM(CAST(jc AS DECIMAL(20,6))) AS DOUBLE)
           |    AS sum_jaccard
           |FROM pr GROUP BY src_from, src_to""".stripMargin,

      // the same integer quantization (floor(x·2³⁰) — DuckDB CAST
      // rounds where Spark truncates, floor agrees), exact integer
      // centroid sums ordered into a list, and the shared
      // index-order dot-product fold; 1-based DuckDB subscripts ≡
      // the engine's 0-based posexplode by construction
      "q134_label_coherence" -> {
        def dot(x: String, y: String) = sqlDotVec(x, y)
        s"""WITH ex AS (
           |  SELECT label, CAST(i.range AS INT) AS pos,
           |    CAST(floor(CAST(embedding[CAST(i.range AS INT)]
           |      AS DOUBLE) * 1073741824.0) AS BIGINT) AS q
           |  FROM embeddings, range(1, ${embDim + 1}) i),
           |cent AS (SELECT label, pos, SUM(q) AS cq
           |  FROM ex GROUP BY label, pos),
           |cv AS (SELECT label,
           |    list(CAST(cq AS DOUBLE) ORDER BY pos) AS c
           |  FROM cent GROUP BY label),
           |sc AS (SELECT e.label,
           |    round(${dot("e.embedding", "cv.c")} /
           |      (sqrt(${dot("e.embedding", "e.embedding")}) *
           |       sqrt(${dot("cv.c", "cv.c")})), 6) AS cos
           |  FROM embeddings e JOIN cv ON cv.label = e.label)
           |SELECT label, COUNT(*) AS n_vecs,
           |  CAST(SUM(CAST(cos AS DECIMAL(20,6))) AS DOUBLE)
           |    AS sum_cos,
           |  MIN(cos) AS min_cos
           |FROM sc GROUP BY label""".stripMargin
      },

      // full recompute of the containment-in-eval-union ratio per
      // corpus doc (same integer inputs → identical doubles), same
      // raw-ratio threshold compares, same rounded-decimal sum
      "q135_contamination_sweep" -> contaminationSweepSql,

      // the drained partial store re-aggregates to the identical
      // batch report — the exactly-once lifecycle contract itself
      "q139_stream_contamination" -> contaminationSweepSql,

      // identical integer window arithmetic off the same per-source
      // doc_id-ordered cumsum; floor on exact small doubles. EVERY
      // output column is CAST(... AS BIGINT): cum is a window SUM and
      // DuckDB SUM(BIGINT) yields HUGEINT, which pandas degrades to
      // float64 — value-equal but hashing as "252.0" vs the engine's
      // int64 "252" (the r10 driver-only hash mismatch)
      "q136_packing_report" ->
        s"""WITH c AS (
           |  SELECT source, doc_id, len($sqlTokens) AS n,
           |    SUM(len($sqlTokens)) OVER (PARTITION BY source
           |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           |      AND CURRENT ROW) AS cum
           |  FROM documents),
           |wn AS (SELECT source, doc_id, n, cum,
           |    CAST(floor(CAST(cum - n AS DOUBLE) / 256) AS BIGINT)
           |      AS w_start,
           |    CAST(floor(CAST(cum - 1 AS DOUBLE) / 256) AS BIGINT)
           |      AS w_end
           |  FROM c)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(n) AS BIGINT) AS total_tokens,
           |  CAST(floor(CAST(MAX(cum) + 255 AS DOUBLE) / 256)
           |    AS BIGINT) AS n_windows,
           |  CAST(CAST(floor(CAST(MAX(cum) + 255 AS DOUBLE) / 256)
           |    AS BIGINT) * 256 - MAX(cum) AS BIGINT) AS waste_tokens,
           |  CAST(SUM(CASE WHEN n > 0 AND w_end > w_start
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           |  CAST(MAX(CASE WHEN n > 0 THEN w_end - w_start + 1
           |    ELSE 0 END) AS BIGINT) AS max_window_span
           |FROM wn GROUP BY source""".stripMargin,

      // same quantization, HUGEINT (int128) moment arithmetic where
      // the engine uses 38-digit decimals — identical integers out;
      // DuckDB's 1-based subscripts shift to the engine's 0-based pos
      "q137_embedding_moments" -> momentsOracleSql,

      // the additivity contract itself: the incremental merge must
      // reproduce the full-recompute answer bit for bit
      "q138_incremental_moments" -> momentsOracleSql,

      // the drained streaming partial store likewise
      "q148_stream_moments" -> momentsOracleSql,

      // same integer centroid sums, HUGEINT dot/norm products, and
      // the identical final divide over correctly-rounded casts
      "q142_label_affinity" ->
        s"""WITH ex AS (
           |  SELECT label, CAST(i.range AS INT) - 1 AS pos,
           |    CAST(floor(CAST(embedding[CAST(i.range AS INT)]
           |      AS DOUBLE) * 1073741824.0) AS BIGINT) AS q
           |  FROM embeddings, range(1, ${embDim + 1}) i),
           |cent AS (SELECT label, pos,
           |    CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS cq
           |  FROM ex GROUP BY label, pos),
           |n2 AS (SELECT label, SUM(cq * cq) AS n2 FROM cent
           |  GROUP BY label),
           |d AS (SELECT a.label AS label_a, b.label AS label_b,
           |    SUM(a.cq * b.cq) AS dot
           |  FROM cent a JOIN cent b
           |    ON a.pos = b.pos AND a.label < b.label
           |  GROUP BY a.label, b.label)
           |SELECT label_a, label_b,
           |  CASE WHEN na.n2 > 0 AND nb.n2 > 0
           |    THEN round(CAST(dot AS DOUBLE) /
           |      (sqrt(CAST(na.n2 AS DOUBLE)) *
           |       sqrt(CAST(nb.n2 AS DOUBLE))), 6)
           |  END AS affinity
           |FROM d JOIN n2 na ON na.label = d.label_a
           |  JOIN n2 nb ON nb.label = d.label_b""".stripMargin,

      // identical integer-only chunk boundaries (1 + ceil((L−32)/24)
      // chunks via truncating division; empty docs drop) and the
      // shared rolling-fingerprint mirror over the same slices —
      // DuckDB list_slice is (begin, inclusive-end), Spark slice is
      // (begin, length): begin + n_toks − 1 = least(i·24 + 32, L)
      "q123_token_chunks" ->
        s"""WITH t0 AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
           |m AS (SELECT doc_id, toks, len(toks) AS L,
           |    CASE WHEN len(toks) = 0 THEN 0
           |         ELSE 1 + (greatest(len(toks) - 32, 0) + 23) // 24
           |    END AS n
           |  FROM t0),
           |ch AS (SELECT doc_id, toks, L, unnest(range(0, n)) AS i
           |  FROM m)
           |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           |  CAST(i * 24 + 1 AS INT) AS start_tok,
           |  CAST(least(32, L - (i * 24 + 1) + 1) AS INT) AS n_toks,
           |  ${hashes.rollingFingerprintSql(
              "list_slice(toks, CAST(i * 24 + 1 AS BIGINT), " +
                "least(i * 24 + 32, L))")} AS fp
           |FROM ch""".stripMargin,

      // the cut derivation re-done in SQL over the same integers:
      // floor(sqrt) weights (IEEE sqrt is correctly rounded, so the
      // BIGINT weights match exactly), HUGEINT ratio with truncating
      // division, min(1000) saturation, then the same salted-hash
      // selection as q65's mirror
      "q124_temperature_mix" -> temperatureMixSql,

      // the drained partials re-aggregate to exactly the batch mix
      // report — selection is row-local and deterministic, so the
      // SAME oracle gates the streaming lifecycle form
      "q174_stream_mix" -> temperatureMixSql,

      // q124's allocation CTEs WITHOUT the least(1000) clamp, then
      // the copies arithmetic replayed per doc: base = e // 1000,
      // plus one when the salted hash lands under e % 1000 — the
      // engine's exploded (doc, epoch) rows aggregate to SUM(nc) /
      // SUM(nc·dl) / MAX(nc)−1 exactly
      "q171_epoch_upsample" ->
        s"""WITH per AS (SELECT source,
           |    CAST(SUM(len($sqlTokens)) AS BIGINT) AS n
           |  FROM documents GROUP BY source),
           |w AS (SELECT source, n,
           |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS ws
           |  FROM per),
           |d AS (SELECT CAST(SUM(ws) AS HUGEINT) AS denom FROM w),
           |em AS (SELECT source, CAST(
           |    (1000 * CAST($q171Budget AS HUGEINT) * CAST(ws AS HUGEINT))
           |      // (denom * CAST(n AS HUGEINT)) AS BIGINT) AS e
           |  FROM w CROSS JOIN d),
           |cp AS (SELECT doc.doc_id, doc.source,
           |    len(${sqlTokensOf("doc.text")}) AS dl, em.e,
           |    (em.e // 1000) + CASE WHEN ${hashes.md5Hash60Sql(
              "'epoch-' || CAST(doc.doc_id AS VARCHAR)")} % 1000
           |        < em.e % 1000 THEN 1 ELSE 0 END AS nc
           |  FROM documents doc JOIN em ON doc.source = em.source)
           |SELECT source, e AS epoch_milli,
           |  CAST(SUM(nc) AS BIGINT) AS eff_docs,
           |  CAST(SUM(nc * dl) AS BIGINT) AS eff_tokens,
           |  CAST(MAX(nc) - 1 AS BIGINT) AS max_epoch
           |FROM cp WHERE nc > 0
           |GROUP BY source, e""".stripMargin,

      // the same total order (freq desc, token asc), the same top-1000
      // head cap, and the same closed-form slope over decimal-summed
      // 9-decimal ln() terms, with nullif mirroring the zero-variance
      // NULL
      "q125_zipf_slope" ->
        s"""WITH pairs AS (SELECT source, unnest($sqlTokens) AS tok
           |  FROM documents),
           |freq AS (SELECT source, tok, COUNT(*) AS c
           |  FROM pairs GROUP BY source, tok),
           |rk AS (SELECT source, c,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY c DESC, tok ASC) AS r
           |  FROM freq),
           |pts AS (SELECT source,
           |    round(ln(CAST(r AS DOUBLE)), 9) AS x,
           |    round(ln(CAST(c AS DOUBLE)), 9) AS y
           |  FROM rk WHERE r <= 1000),
           |sums AS (SELECT source, COUNT(*) AS n,
           |    CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) AS sx,
           |    CAST(SUM(CAST(y AS DECIMAL(28,9))) AS DOUBLE) AS sy,
           |    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(28,9)))
           |      AS DOUBLE) AS sxy,
           |    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(28,9)))
           |      AS DOUBLE) AS sxx
           |  FROM pts GROUP BY source)
           |SELECT source, n AS n_ranks,
           |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
           |    nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0), 6)
           |    AS zipf_slope
           |FROM sums""".stripMargin,

      // every stage from its own proven rendering chained ACROSS
      // modalities (the q194 convention): the q110/q175
      // canonicalization + q190 fold + url-keeper window for the
      // text side; the q172/q183 phash CTEs and the q180 video CTEs
      // rebuild every media hash from generation arithmetic; the
      // q178 recursive reach labels each modality's keeper; the
      // fixture's media_id % |documents| attachment closes the
      // composition — a match proves the engine's three real decode
      // paths, three star-CCs, and the owner-fold join compose to
      // exactly this manifest
      "q208_modality_manifest" -> modalityManifestSql,

      // ONE SHARED ORACLE with q208 (the whole claim of the at-ingest
      // composition: the manifest is indistinguishable from the
      // batch-computed one)
      "q211_stream_modality_manifest" -> modalityManifestSql,

      // the summed per-batch delta partials must re-aggregate to the
      // same batch-computed manifest — the third consumer of ONE
      // oracle (q208 batch, q211 store read, q214 delta sum)
      "q214_modality_manifest_deltas" -> modalityManifestSql,


      // the q205 per-prefix component rendering (ONE shared CTE
      // chain) with a BRIDGE batch: batch-1 docs carry a partner
      // doc's exact text (a jaccard-1 edge) plus their origin's
      // canon key (a same-ckey min-edge), so each bridge merges two
      // batch-0 components — at-ingest labels read at each doc's own
      // prefix (fa), final labels at prefix 1 (ffa), and the
      // drift/leak arithmetic is a plain fold-hash compare
      "q209_fold_drift" -> foldDriftSql,

      // ONE SHARED ORACLE with q209 (the q208/q211 convention):
      // the store-backed at-rest drift report must be
      // indistinguishable from the re-walk one
      "q212_fold_drift_stored" -> foldDriftSql,

      // the shared per-prefix rendering with TWO bridge waves: lb
      // reads every doc's label at every prefix at or after its
      // arrival, tg marks the batch-touched groups per prefix
      // (labels-at-p of docs arriving in batch p — exactly the
      // sink's restriction), and dr compares each PRIOR doc's
      // at-ingest fold (fa.grp, what its sealed manifest stores)
      // against the fold its label at the later prefix implies
      "q210_stream_fold_drift" -> {
        def fold(h: String) =
          s"CASE $h % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val' " +
            "ELSE 'train' END"
        s"""WITH RECURSIVE $urlCanonCtes,
           |all0 AS (SELECT c.doc_id, 0 AS b, c.canon AS ckey,
           |    c.source, d.text
           |  FROM canon c JOIN documents d ON c.doc_id = d.doc_id),
           |br AS (SELECT o.doc_id + 5000000 AS doc_id, 1 AS b,
           |    o.canon AS ckey, o.source, p.text
           |  FROM canon o JOIN documents p ON p.doc_id = o.doc_id + 1
           |  WHERE o.doc_id % 42 = 0
           |  UNION ALL
           |  SELECT o.doc_id + 6000000, 2, o.canon, o.source, p.text
           |  FROM canon o JOIN documents p ON p.doc_id = o.doc_id + 1
           |  WHERE o.doc_id % 42 = 21),
           |alld AS (SELECT * FROM all0 UNION ALL SELECT * FROM br),
           |${perPrefixComponentCtes(3)},
           |lb AS (SELECT f.pfx, d.doc_id, d.b,
           |    COALESCE(l.label, d.doc_id) AS lbl_at
           |  FROM alld d JOIN pfxs f ON d.b <= f.pfx
           |  LEFT JOIN lbl l ON l.pfx = f.pfx AND l.node = d.doc_id),
           |tg AS (SELECT DISTINCT pfx, lbl_at AS g FROM lb
           |  WHERE b = pfx),
           |dr AS (SELECT CAST(lb.pfx AS BIGINT) AS batch_id,
           |    ${fold(hashes.md5Hash60Sql("CAST(fa.grp AS VARCHAR)"))}
           |      AS old_split,
           |    ${fold(hashes.md5Hash60Sql(
                  "CAST(lb.lbl_at AS VARCHAR)"))} AS new_split
           |  FROM lb
           |  JOIN fa ON fa.doc_id = lb.doc_id
           |  JOIN tg ON tg.pfx = lb.pfx AND tg.g = lb.lbl_at
           |  WHERE lb.b < lb.pfx)
           |SELECT batch_id, old_split, new_split,
           |  COUNT(*) AS n_prior,
           |  CAST(SUM(CASE WHEN old_split <> new_split THEN 1 ELSE 0
           |    END) AS BIGINT) AS n_drifted
           |FROM dr GROUP BY batch_id, old_split, new_split""".stripMargin
      }
    )
  }
}
