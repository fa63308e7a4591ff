package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, StreamingQueryListener, Trigger}

import graft.{GraftSession, Phases}
import graft.gen.Generator
import graft.operators.Dedup
import graft.sources.StoreLease

/** Structured Streaming surface of the engine (SURVEY §2.10 T1-T8,
  * §3.3). The reference's asyncio rate loop, sleep-based throttling
  * and manual progress counters (pulsar_remote_inspector.py:258-332)
  * all disappear into declarative pieces: the rate source provides
  * the msgs/sec contract, triggers provide batching, watermarks
  * provide late-data semantics, and the listener provides throughput
  * metering. Every transform here is also applicable to a `readStream`
  * from a real broker source — the logical plan does not change.
  */
object Streams {

  /** T3+S8: rate-limited synthetic emailSend stream. One wire-format
    * JSON message per rate tick; `rowsPerSecond` IS the reference's
    * `--rate` contract (pulsar_remote_inspector.py:291-319), enforced
    * by the source instead of a sleep loop. */
  def syntheticPublishStream(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong)
      .load() // (timestamp, value)
      .select(
        col("value").as("id"),
        Generator.emailSendJson(col("value"), col("timestamp")).as("value"))

  /** T1: bounded ingestion — drain everything available, then stop
    * (the declarative form of the reference's poll-until-5s-silence
    * loop, pulsar_backup_restore.py:115-117). File sink keeps the
    * run replayable; checkpoint gives exactly-once into the dir. */
  def runBounded(df: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    df.writeStream.format("json")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** T4: source-side backpressure for bounded file ingestion —
    * `maxFilesPerTrigger` caps each micro-batch's intake (the
    * receiver-queue-size backpressure knob of the reference's client,
    * config.json:5, declaratively). Trigger.AvailableNow still drains
    * the WHOLE backlog, but in bounded batches instead of one
    * unbounded gulp — constant memory per trigger at any backlog
    * size, which is what keeps a 100 TB catch-up read from OOMing. */
  def boundedFileStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      format: String = "json", maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toLong)
      .format(format)
      .load(dir)

  /** T8: streaming dedup bounded by a watermark — state for `idCols`
    * is kept only `delay` past the event-time frontier, so the state
    * store cannot grow unboundedly at 100 TB/day ingest. */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, idCols: Seq[String],
      delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** THE micro-batch sink of every exactly-once store ingest below:
    * `writeStream` + checkpoint + `foreachBatch`, with `body` run on
    * the batch's own session, the batch and its id, and timed as the
    * `<phase>[b<batchId>]` Phases reading.
    *
    * Width scope: the body is a BATCH job (no streaming state
    * anywhere in it), so when the stream runs inside a scoped narrow
    * session (an 8-partition drain sized for memory-sink streaming
    * aggregates, say) its stages must not inherit that throttle —
    * the session's shuffle-partition count is set to the context's
    * `defaultParallelism` for the body and restored on every exit
    * path. The restore matters because the stream's cloned session
    * also plans the STREAMING side of later micro-batches: a leaked
    * override would silently resize state-store partitioning if a
    * stateful operator were ever added upstream of a sink (today
    * every ingest's streaming plan is stateless, so the restore is
    * insurance). StreamingSpec pins both halves. */
  private[graft] def microBatches(df: DataFrame, checkpointDir: String,
      phase: String)(body: (SparkSession, DataFrame, Long) => Unit)
      : StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        GraftSession.withConf(s, "spark.sql.shuffle.partitions" ->
            s.sparkContext.defaultParallelism.toString) {
          Phases.time(s"$phase[b$batchId]")(body(s, batch, batchId))
        }
      }
      .start()

  /** The output half of the exactly-once contract: `df` lands in the
    * `batch_id=<batchId>` partition of `dir` with DYNAMIC overwrite,
    * so a retried batch replaces its own partition and never appends
    * a second copy. */
  private def sinkPartition(df: DataFrame, batchId: Long,
      dir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** T7+NS: CONTINUOUS near-dup ingest — the at-rest signature index
    * (Dedup.writeNearDupIndex) driven by a stream. Per micro-batch:
    * (1) mark the batch against the index AS OF the batch start
    * (Dedup.incrementalNearDupAgainst), (2) land the marked rows in
    * `outDir` (parquet append, + batch_id), (3) append the FRESH
    * docs' signatures to the index before the next batch — so a
    * duplicate arriving N batches later resolves to the earlier
    * ingested doc through the STORE, not through stream state.
    *
    * Scale posture: streaming state is ZERO — the operator's whole
    * memory is at rest, shared with the batch path (q109), growable
    * without rewrites (parquet append = new files only), and subject
    * to the same compaction lifecycle as any segmented store. The
    * engine serializes micro-batches, which is exactly the ordering
    * the index-growth contract needs; within one batch, marking is
    * against the index only (batch-internal near-dup pairs pass —
    * run the batch-pairs operator downstream if that matters).
    * Restart replays only unprocessed batches (checkpoint offset
    * tracking), and a replayed batch is EXACTLY-ONCE end to end:
    * both halves of the batch's effect are keyed on `batchId`. The
    * store append runs under `commitTag = b<batchId>`
    * (Dedup.ingestBatchAgainst) — segment files land under
    * tag-derived names and a commit marker seals them, so a retry
    * skips a committed append and cleans+redoes a half-landed one;
    * the output lands in a `batch_id=<id>` partition with DYNAMIC
    * overwrite, so a retry replaces its own partition and no other.
    * The mark itself is replay-stable: the candidate store side is
    * anti-joined against the batch's own ids, so a retried batch
    * that finds its own committed signatures in the store still
    * marks AS OF the batch's first start. Whatever step the first
    * attempt crashed at, the retried batch leaves the store and
    * outDir in the single-run state. */
  def nearDupIngest(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String, checkpointDir: String,
      shingleN: Int, k: Int, bands: Int,
      threshold: Double): StreamingQuery = {
    // probe the store size ONCE per stream, not per micro-batch (the
    // probe is a recursive listing — O(files) per call on an object
    // store); once a store crosses the point-fetch threshold it never
    // shrinks below it mid-stream (appends only), so the decision is
    // re-probed only while still small
    @volatile var knownBig = false
    microBatches(docs, checkpointDir, "neardup_ingest") { (s, b, batchId) =>
      if (!knownBig) knownBig = Dedup.storeAtLeastBytes(s,
        s"$indexDir/shingles", Dedup.DefaultPointFetchMinStoreBytes)
      // mark + append fused: the fresh docs' signatures are sliced
      // from the mark pass's cached tables, not recomputed from
      // text (Dedup.ingestBatchAgainst scaladoc); the marked result
      // is eagerly materialized inside, so the parquet write below
      // doesn't recompute the candidate join against the store the
      // append just mutated
      val marked = Phases.time(s"mark_append[b$batchId]") {
        Dedup.ingestBatchAgainst(s, b, idCol, textCol, indexDir,
          shingleN, k, bands, threshold,
          pointFetchMinStoreBytes = if (knownBig) 0L else Long.MaxValue,
          commitTag = Some(s"b$batchId"))
      }
      Phases.time(s"sink[b$batchId]")(sinkPartition(marked, batchId, outDir))
    }
  }

  /** CONTINUOUS POSTINGS-INDEX INGEST: keep the at-rest BM25 store
    * (Retrieval.writePostingsIndex lifecycle) fresh as the crawl
    * streams in — every micro-batch lands as one batchId-named
    * segment via the IDEMPOTENT append, so a crashed-then-retried
    * batch skips its committed segment or cleans-and-redoes a
    * half-landed one (exactly-once, the q111 convention; the one
    * remaining caller contract is the indexing one: a doc must arrive
    * in only one batch — dedup of re-crawls belongs to nearDupIngest,
    * UPSTREAM of this sink). Zero streaming state: the batch job is a
    * tokenize + aggregate + clustered write. Readers see every sealed
    * segment immediately; stats merge additively at query time, so
    * no reader-side refresh step exists to forget. */
  def postingsIngest(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, checkpointDir: String,
      nBuckets: Int = 64, numFiles: Int = 8): StreamingQuery =
    microBatches(docs, checkpointDir, "index_append") { (_, b, batchId) =>
      graft.operators.Retrieval.appendPostingsSegmentIdempotent(
        b, idCol, textCol, indexDir, s"batch$batchId", nBuckets, numFiles)
    }

  /** Streaming DECONTAMINATION GATE — the crawl-side monitor of the
    * q135 threshold sweep: each micro-batch of crawl docs is scored
    * against the STATIC eval shingle set (Dedup.contaminationScores —
    * batch semantics inside foreachBatch, so the doc-then-source
    * aggregation chain the streaming planner forbids is legal),
    * reduced to ADDITIVE per-source partials (counts at each cutoff +
    * a decimal score sum — the q118 additive-stats convention), and
    * landed as one batchId-named parquet segment. EXACTLY-ONCE under
    * micro-batch retry, the q111/q128 convention: a sealed (_SUCCESS)
    * segment is skipped verbatim, a half-landed one is cleaned and
    * redone. Zero streaming state; the live report is one
    * re-aggregation of the partials and converges to the batch q135
    * answer exactly (shared oracle). */
  def contaminationIngest(docs: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, sourceCol: String,
      storeRoot: String, checkpointDir: String,
      n: Int): StreamingQuery =
    sealedPartialsIngest(docs, storeRoot, checkpointDir, "contam") {
      b => graft.operators.Dedup
        .contaminationScores(b, evalSet, idCol, textCol, n)
        .join(b.select(col(idCol), col(sourceCol)), Seq(idCol))
        .groupBy(col(sourceCol))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("contamination") >= 0.2, 1L).otherwise(0L))
            .as("n_c20"),
          sum(when(col("contamination") >= 0.5, 1L).otherwise(0L))
            .as("n_c50"),
          sum(when(col("contamination") >= 0.8, 1L).otherwise(0L))
            .as("n_c80"),
          sum(round(col("contamination"), 6).cast("decimal(20,6)"))
            .as("sum_score_dec"))
    }

  /** Streaming CONTAMINATION EXCISION — q164's surgery kept live
    * over a crawl stream (the lifecycle form of
    * Dedup.contaminationExcisedDocs, closing the q163/q164 family's
    * streaming gap): each micro-batch of train docs is excised
    * against the STATIC eval fold inside foreachBatch and lands its
    * affected docs' surgery rows (doc_id, n_tok, tokens_excised,
    * clean_hash) as one sealed batchId segment. Excision is
    * DOC-LOCAL — a document's matched spans depend only on (doc,
    * eval fold), never on other corpus docs — so the drained store's
    * union IS the batch q164 answer bit for bit, with zero
    * cross-batch state. EXACTLY-ONCE under micro-batch retry (the
    * q139 sealed-segment convention: a sealed segment is skipped on
    * re-delivery, a half-landed one cleaned and redone —
    * StreamingSpec pins both modes). */
  def excisionIngest(docs: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, storeRoot: String,
      checkpointDir: String, n: Int): StreamingQuery =
    sealedPartialsIngest(docs, storeRoot, checkpointDir, "excision") {
      b => graft.operators.Dedup
        .contaminationExcisedDocs(b, evalSet, idCol, textCol, n)
    }

  /** ONE definition of the sealed-partials micro-batch sink shared
    * by the partial-landing ingests (contamination q139, excision
    * q169, moments q148, classifier q158, resampling q160): per-batch
    * writer lease and a batchId-named segment under
    * `storeRoot/partials`, EXACTLY-ONCE via [[sealedPartial]]. Each
    * ingest supplies only its per-batch partial computation. (The
    * store-GROWTH sinks — near-dup, postings index, novelty — have
    * multi-directory commit protocols of their own and deliberately
    * do not go through this helper.) */
  private def sealedPartialsIngest(docs: DataFrame, storeRoot: String,
      checkpointDir: String, tag: String)(
      partialOf: DataFrame => DataFrame): StreamingQuery =
    microBatches(docs, checkpointDir, s"${tag}_append") { (s, b, batchId) =>
      StoreLease.withLease(s, storeRoot, s"$tag-b$batchId") {
        sealedPartial(s, storeRoot, batchId)(partialOf(b))
      }
    }

  /** Land `df` as the `_SUCCESS`-sealed parquet segment
    * `storeRoot/partials/batch_id=<batchId>`, exactly once: a sealed
    * segment is skipped verbatim on re-delivery, a half-landed one
    * (files but no seal — a crashed attempt) is deleted and redone.
    * Caller holds the store lease. */
  private def sealedPartial(s: SparkSession, storeRoot: String,
      batchId: Long)(df: => DataFrame): Unit = {
    val seg = new Path(s"$storeRoot/partials/batch_id=$batchId")
    val fs = seg.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(seg, "_SUCCESS"))) {
      if (fs.exists(seg)) fs.delete(seg, true) // half-landed retry
      df.write.parquet(seg.toString)
    }
  }

  /** Streaming IMPORTANCE-RESAMPLING RESERVOIR — q159's Gumbel-top-k
    * selection kept live over a document stream. The mathematical
    * hook: Gumbel keys are per-document (deterministic md5 clock +
    * a STATIC λ model, DSIR's production shape — estimated once on a
    * reference corpus, passed in as `lamMicros`), so top-n is a
    * SEMILATTICE — top-n(A ∪ B) = top-n(top-n(A) ∪ top-n(B)) — and
    * the streaming reservoir is exact, not approximate: each batch
    * lands only its own top-n as a sealed batchId segment (n rows,
    * not the batch), and the live sample is one top-n re-merge of
    * the partials, equal to the batch q159 answer bit for bit.
    * EXACTLY-ONCE under micro-batch retry (the q111/q139 sealed-
    * segment convention). Zero streaming state. */
  def resampleIngest(docs: DataFrame, lamMicros: Array[Long],
      idCol: String, textCol: String, sourceCol: String, n: Int,
      storeRoot: String, checkpointDir: String): StreamingQuery =
    sealedPartialsIngest(docs, storeRoot, checkpointDir, "resample") {
      b =>
        val scored = graft.operators.CorpusStats
          .dsirScoreWith(lamMicros, b, textCol)
        graft.operators.CorpusStats
          .importanceSample(scored, idCol, "wt_micros", n)
          .select(col(idCol), col(sourceCol),
            size(graft.functions.text.tokens(col(textCol)))
              .cast("long").as("n_tok"),
            col("key_micros"))
    }

  /** CONTINUOUS IMAGE PHASH INGEST — the q111 lifecycle on the image
    * modality: each micro-batch of (doc, fp) fingerprints is marked
    * against the at-rest phash index AS OF its start and the fresh
    * (non-dup) keys append before the next batch
    * (Dedup.ingestPhashBatchAgainst — mark + append fused on one
    * cached key table), so store growth carries the cross-batch
    * memory and streaming state is zero. Marked rows land in
    * batchId-keyed partitions with dynamic overwrite; the tagged
    * store append skips committed batches and cleans half-landed
    * ones — exactly-once on both the output and the index. */
  def phashIngest(fps: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, radius: Int, width: Int,
      blocks: Option[Int] = None, keyBlocks: Int = 1): StreamingQuery = {
    // probe the key-store size ONCE per stream (the nearDupIngest
    // store-size latch)
    @volatile var knownBig = false
    microBatches(fps, checkpointDir, "phash_ingest") { (s, b, batchId) =>
      if (!knownBig) knownBig = Dedup.storeAtLeastBytes(s,
        s"$indexDir/keys", Dedup.DefaultPointFetchMinStoreBytes)
      val marked = Phases.time(s"phash_mark_append[b$batchId]") {
        Dedup.ingestPhashBatchAgainst(s, b, indexDir, radius, width,
          blocks, keyBlocks, commitTag = Some(s"b$batchId"),
          pruneMinStoreBytes = if (knownBig) 0L else Long.MaxValue)
      }
      Phases.time(s"sink[b$batchId]")(sinkPartition(marked, batchId, outDir))
    }
  }

  /** Streaming TEMPERATURE MIX — the q124 recipe applied at ingest
    * time, completing the mixing family's lifecycle (batch q124 /
    * up-sampling q171 / THIS). The per-stratum milli cuts are a
    * STATIC recipe (computed once on the at-rest corpus — mixing
    * ratios are a training-run decision, not a per-batch one) and
    * the salted-hash selection is per-ROW deterministic
    * (Relational.temperatureMix), so each micro-batch's kept
    * per-(source, cut) counts/token sums are ADDITIVE integer
    * partials: they land as one batchId-named sealed parquet segment
    * — EXACTLY-ONCE under micro-batch retry (the q111/q128/q139
    * convention: sealed segment skipped verbatim, half-landed
    * cleaned and redone) — and the live report is one re-aggregation
    * of the partials, equal to the batch q124 answer bit for bit
    * (shared oracle). Zero streaming state. */
  def mixIngest(docs: DataFrame, cuts: Seq[(String, Long)],
      idCol: String, textCol: String, sourceCol: String,
      storeRoot: String, checkpointDir: String): StreamingQuery =
    sealedPartialsIngest(docs, storeRoot, checkpointDir, "mix") {
      b =>
        graft.operators.Relational
          .temperatureMix(b, col(sourceCol), col(idCol), cuts)
          .withColumn("n_tokens",
            graft.functions.text.tokenCount(col(textCol)).cast("long"))
          .groupBy(col(sourceCol), col("mix_cut"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_tokens")).as("kept_tokens"))
    }

  /** Streaming MARGIN MINER — q192's forward-margin mining applied
    * at ingest: each micro-batch of query vectors mines the STATIC
    * bucket-clustered store through its probe ball
    * (Similarity.marginProbeStore — batch semantics inside
    * foreachBatch, the pushed union-ball pruning included), and the
    * per-vector verdicts land as one batchId-named sealed segment —
    * exactly-once under retry (sealed skip / half-landed redo). The
    * forward margin is PER-VECTOR (the shortlist is store-side
    * only), so the drained union equals the batch q192 answer bit
    * for bit: ONE shared oracle gates both forms. Zero streaming
    * state. */
  def marginIngest(batch: DataFrame, storeDir: String,
      planes: Seq[Array[Double]], radius: Int, k: Int,
      threshold: Double, storeRoot: String,
      checkpointDir: String): StreamingQuery =
    sealedPartialsIngest(batch, storeRoot, checkpointDir, "margin") {
      b => graft.operators.Similarity.marginProbeStore(
        b.sparkSession, storeDir, b, planes, radius, k, threshold)
    }

  /** [[marginIngest]] with a GROWING store — the q111/q177 growth
    * convention on the embedding modality: each micro-batch mines
    * the store AS OF its start (Similarity.marginProbeStore — the
    * pushed union-ball pruning included), lands its per-vector
    * verdicts as a batchId-named sealed segment, and then appends
    * its OWN vectors (bucketed, one bucket-sorted file) to the
    * store under the tagged-append seal — so later batches mine
    * against earlier batches' vectors, not just the initial corpus.
    *
    * Exactly-once under retry, two artifacts, strict write order
    * (verdict seal BEFORE store append):
    *  - both sealed → the whole batch is skipped;
    *  - verdicts sealed, append uncommitted (crash between) → only
    *    the append redoes, and it is a pure function of the batch —
    *    the redo reproduces what the crash interrupted;
    *  - neither → both redo, and because the append can only start
    *    after the verdict seal, the re-mine always sees the store
    *    WITHOUT this batch's own vectors (no self-matches, mark
    *    stays as-of-batch-start).
    * Half-landed append files are cleaned by the tagged protocol
    * before the redo. Zero streaming state. */
  def marginIngestGrowing(batch: DataFrame, storeParent: String,
      storeTable: String, planes: Seq[Array[Double]], radius: Int,
      k: Int, threshold: Double, storeRoot: String,
      checkpointDir: String): StreamingQuery =
    microBatches(batch, checkpointDir, "margin_grow") { (s, bd, batchId) =>
      // one lease over BOTH artifacts: the verdict seal and the store
      // append are one write sequence (the write-order contract above)
      StoreLease.withLease(s, storeParent, s"margin-grow-b$batchId") {
        sealedPartial(s, storeRoot, batchId) {
          graft.operators.Similarity.marginProbeStore(
            s, s"$storeParent/$storeTable", bd, planes, radius, k, threshold)
        }
        if (!Dedup.isBatchCommitted(s, storeParent, s"b$batchId"))
          Dedup.taggedSegmentAppend(s, storeParent, s"b$batchId",
            Seq(storeTable -> bucketed(bd, planes)))
      }
    }

  /** Embedding rows with their hyperplane bucket, as ONE
    * bucket-sorted file — the growing embedding stores' segment
    * layout. */
  private def bucketed(f: DataFrame, planes: Seq[Array[Double]]): DataFrame =
    f.withColumn("bucket", graft.functions.vectors
        .hyperplaneBucketFast(col("embedding"), planes))
      .repartitionByRange(1, col("bucket"))
      .sortWithinPartitions(col("bucket"))

  /** TWO GROWING-STORE MARGIN INGEST — the CCMatrix steady state
    * completing the margin lifecycle family (static two-sided q199,
    * ONE growing side q200, THIS): both corpora arrive continuously,
    * both live as bucket-clustered tagged-append stores, and each
    * micro-batch mines its NEW vectors of each side against the
    * OTHER side's store AS OF the batch start (Similarity
    * .marginProbeStore — the enumerated probe-ball relation with
    * pushed bucket pruning, both directions), then appends BOTH
    * sides' vectors as ONE tagged sealed segment pair (one commit
    * marker seals the x and y appends atomically). Verdict seal
    * strictly BEFORE the appends — an unsealed retry re-mines the
    * pre-append stores (no same-batch matches, as-of semantics
    * everywhere), a sealed-but-unappended retry redoes only the pure
    * append. A batch-2 x vector's best partner can be a batch-1 y
    * vector AND vice versa — accepted pairs exist that required BOTH
    * stores to grow, which is what the oracle's chained-growth CTEs
    * pin. Same-batch cross pairs are invisible by construction (both
    * probes read as-of-start stores) — the documented as-of residual
    * shared with q109/q111/q200; they surface when either side
    * re-crawls. Zero streaming state. */
  def marginIngestBothGrowing(batch: DataFrame, storeParent: String,
      xTable: String, yTable: String, planes: Seq[Array[Double]],
      radius: Int, k: Int, threshold: Double, storeRoot: String,
      checkpointDir: String): StreamingQuery =
    microBatches(batch, checkpointDir, "margin_grow2") { (s, b, batchId) =>
      StoreLease.withLease(s, storeParent, s"margin-grow2-b$batchId") {
        val bd = b.localCheckpoint()
        val bx = bd.filter(col("side") === "x").drop("side")
        val by = bd.filter(col("side") === "y").drop("side")
        sealedPartial(s, storeRoot, batchId) {
          graft.operators.Similarity.marginProbeStore(
              s, s"$storeParent/$yTable", bx, planes, radius, k, threshold)
            .withColumn("dir", lit("x2y"))
            .unionByName(graft.operators.Similarity
              .marginProbeStore(s, s"$storeParent/$xTable", by,
                planes, radius, k, threshold)
              .withColumn("dir", lit("y2x")))
        }
        if (!Dedup.isBatchCommitted(s, storeParent, s"b$batchId"))
          Dedup.taggedSegmentAppend(s, storeParent, s"b$batchId",
            Seq(xTable -> bucketed(bx, planes), yTable -> bucketed(by, planes)))
      }
    }

  /** STREAMING COMPONENT-AWARE FOLD ASSIGNMENT — q197's
    * leakage-safe train/val/test folds decided AT INGEST: a batch
    * q197 run re-folds the whole corpus per version, but a streamed
    * corpus needs each document's fold fixed when it lands (training
    * shards are append-only), and a near-duplicate arriving AFTER
    * its partner must inherit the partner's fold or the pair
    * straddles the eval boundary (exactly the leakage class q121
    * measures). Per micro-batch:
    *
    *  1. GROW the shared pair store + signature index
    *     (Dedup.appendPairStore, exactly-once under `b<batchId>`) —
    *     the batch's cross pairs against everything already seen are
    *     what lets a late near-dup inherit instead of hashing fresh.
    *     Under [[Dedup.DefaultMarkPruneCap]] the mark runs on the
    *     driver over pushed `band_hash`/`doc` isin reads of the
    *     index and hands the fresh pairs on as a local relation;
    *     past it the scan-join twin runs;
    *  2. derive the batch docs' component labels AS OF this batch —
    *     label = component min id over the grown pair store ∪
    *     same-key edges, so a later arrival inherits its partner's
    *     label when the partner's id is the component min (the
    *     fixture convention of every growth query). By default the
    *     labels come from the PERSISTED UNION-FIND LABEL STORE
    *     ([[graft.operators.LabelStore]] under `storeRoot/labels`,
    *     bootstrapped once from the pre-stream at-rest state): a
    *     point lookup of the batch edges' endpoints + a bounded
    *     driver-side merge, no per-batch component re-walk.
    *     `useLabelStore = false` keeps the r16 CC regimes (one
    *     componentGroups pass below the `boundedCcMinStoreBytes`
    *     gate, the componentGroupsBounded frontier walk past it) —
    *     labels provably identical across all three regimes
    *     (StreamingSpec parity pin; LabelStoreSpec pins the store
    *     against componentGroups on every batch prefix);
    *  3. assign folds by the q197 key rule (md5-60 of the label mod
    *     10: 0 test, 1 val, rest train — Relational.groupAwareSplit
    *     arithmetic) and land the per-doc fold manifest in a
    *     batch_id partition (dynamic overwrite — the exactly-once
    *     output half);
    *  4. append the batch's (id, key, source) rows to the seen-docs
    *     manifest (tagged sealed segment).
    *
    * An already-assigned doc is NEVER re-folded: a later merge can
    * relabel its component, but its manifest row is sealed — the
    * honest residual of fold-at-ingest (a pair whose endpoints were
    * both assigned before their connecting edge arrived can still
    * straddle; the by-construction guarantee covers every pair whose
    * later endpoint arrives after the edge is observable, which is
    * every pair the growing store can see). Replay-stable: the
    * seen-docs read anti-joins the batch's own ids, so a retry that
    * finds its own sealed manifest still computes the same
    * as-of-batch prefix; the pair append converges by its own seal
    * protocol; the fold sink overwrites only its own partition.
    *
    * Scale shape (100 TB): per-batch cost is the batch-sized mark
    * (appendPairStore: candidates = batch bands × store bands — under
    * the cap two pushed isin reads of the index, the stored band
    * rows of the batch's band hashes and the candidates' stored
    * shingle sets, scored on the driver; past it a scan-join of
    * the index tables) plus the label-store update — three
    * pushed-predicate store reads and a driver union-find over the
    * batch's label-grain edges (the LabelStore scaladoc; PLANS.md
    * "Per-batch label cost: persisted union-find store vs bounded
    * CC" tables the per-batch wall flat and below the CC regimes'
    * frontier floor as the corpus grows).
    * The corpus text never re-tokenizes and no regime re-walks
    * untouched components.
    *
    * `driftDir` (optional) turns on the LIVE DRIFT MONITOR — the
    * q209 measurement at ingest, the alarm that tells a curator WHEN
    * to run `refold` without a batch re-measure: per batch, the
    * PRIOR manifest rows whose components this batch's edges touched
    * (restricted to the batch docs' components — untouched
    * components cannot have drifted this batch, in either CC regime)
    * are compared against the fold their NEW component label implies,
    * and the doc-grain verdicts land in a batch_id partition
    * (dynamic overwrite — the same exactly-once convention as the
    * fold sink; batch 0 has no priors and writes nothing). The
    * sealed manifests themselves are never touched — drift is
    * MEASURED live and REPAIRED by refold, exactly as dilution is
    * measured by the health verbs and repaired by compact. */
  def componentFoldIngest(docs: DataFrame, idCol: String,
      textCol: String, keyCol: String, sourceCol: String,
      storeRoot: String, outDir: String, checkpointDir: String,
      shingleN: Int, k: Int, bands: Int,
      threshold: Double,
      boundedCcMinStoreBytes: Long =
        graft.operators.Dedup.DefaultPointFetchMinStoreBytes,
      driftDir: Option[String] = None,
      useLabelStore: Boolean = true): StreamingQuery = {
    // the regime latch: the pair store only GROWS, so the size gate
    // flips at most once per stream — once tripped, later batches
    // skip the O(files) store-size listing entirely (the
    // storeAtLeastBytes once-per-stream convention, adapted to a
    // store that grows under the probe)
    var boundedLatched = false
    // once-per-stream bootstrap latch for the label store (the
    // sealed marker is the cross-restart truth; the latch just
    // skips the per-batch exists() probe after the first).
    // volatile: set inside a fused leg thread (graft.Par), read by
    // the next batch's foreachBatch thread
    @volatile var bootstrapped = false
    microBatches(docs, checkpointDir, "fold_ingest") { (s, b, batchId) =>
      val tag = s"b$batchId"
      val indexDir = s"$storeRoot/index"
      val pairStore = s"$storeRoot/pairs"
      val docsStore = s"$storeRoot/docs"
      val batchDocs = b.select(col(idCol), col(keyCol),
        col(sourceCol)).localCheckpoint()
      if (!boundedLatched)
        boundedLatched = graft.operators.Dedup.storeAtLeastBytes(
          s, s"$pairStore/pairs", boundedCcMinStoreBytes)
      val labelRoot = s"$storeRoot/labels"
      // docs append: touches only docsStore — its own fused leg
      // (graft.Par) alongside the label/fold chain; the
      // bootstrap/CC-regime reads of docsStore anti-join the
      // batch ids out, so a concurrently landing batch segment
      // is invisible to them (the same argument that makes the
      // reads retry-proof)
      val docsLeg: () => Unit = () =>
        Dedup.sealOnce(s, docsStore, tag, s"docs-append-$tag") {
          Seq("docs" -> batchDocs.repartition(1))
        }
      // batch labels: (idCol, group) for the batch's docs, plus
      // a membership source for the drift leg (the touched
      // components' FULL member sets — evaluated only when the
      // drift monitor is on, and AFTER the label update landed)
      def labelGrp(freshPairs: org.apache.spark.sql.DataFrame)
          : (org.apache.spark.sql.DataFrame,
            () => org.apache.spark.sql.DataFrame) = {
          // THE LABEL STORE REGIME (default): labels are a point
          // lookup + bounded union-find merge against the at-rest
          // (doc → label) table — per-batch cost tracks the
          // batch's label-grain edge set, with NO per-batch
          // component re-walk (LabelStore scaladoc; LabelStoreSpec
          // pins prefix equality with componentGroups)
          if (!bootstrapped) {
            // seed from the PRE-batch at-rest state: a retry
            // that already appended this batch's pairs/docs is
            // anti-joined back out, so the bootstrap reads the
            // same state the first attempt saw
            val bIds = batchDocs.select(col(idCol))
            val priorDocs = s.read.parquet(s"$docsStore/docs")
              .join(bIds, Seq(idCol), "left_anti")
            val priorPairs = s.read.parquet(s"$pairStore/pairs")
              .join(bIds.select(col(idCol).as("doc_a")),
                Seq("doc_a"), "left_anti")
              .join(bIds.select(col(idCol).as("doc_b")),
                Seq("doc_b"), "left_anti")
              .select(col("doc_a"), col("doc_b"))
            graft.operators.LabelStore.bootstrap(s, labelRoot,
              priorDocs, idCol, col(keyCol), priorPairs)
            // SYNC GUARD (once per stream, two aggregates — the
            // refold convention): a store bootstrapped earlier
            // but then grown under useLabelStore=false skips the
            // re-seed via the committed bootstrap marker and
            // would merge batches against labels missing the
            // CC-regime batches' docs — wrong folds written
            // silently. Compare the PRE-batch state on both
            // sides (the store may legitimately hold this
            // batch's labels already: a retry whose label append
            // committed before the crash).
            val priorIds = priorDocs
              .select(col(idCol).cast("long").as("doc_id"))
            val lbl = graft.operators.LabelStore
              .read(s, labelRoot)
              .join(batchDocs.select(col(idCol).cast("long")
                .as("doc_id")), Seq("doc_id"), "left_anti")
              .localCheckpoint()
            // CONTAINMENT only, not count equality: the hazard
            // this guard exists for is DOCS MISSING LABELS
            // (batches merged under useLabelStore=false after
            // bootstrap). The label store may legitimately hold
            // MORE rows than the docs table — LabelStore.update
            // writes segment rows for absent edge endpoints (ids
            // in neither store nor batch) so their merged label
            // is readable at rest, and those rows are healthy,
            // not a sync failure.
            val missing = priorIds
              .join(lbl, Seq("doc_id"), "left_anti").count()
            require(missing == 0L,
              s"label store $labelRoot is out of sync with " +
                s"$docsStore ($missing prior docs have no " +
                "label): the store was grown without the label " +
                "store (useLabelStore=false) after bootstrap — " +
                "delete the label table to re-bootstrap, or " +
                "keep running with useLabelStore=false")
            org.apache.spark.sql.graft.Bridge
              .freeLocalCheckpoint(lbl)
            bootstrapped = true
          }
          val seg = graft.operators.LabelStore.update(s,
            labelRoot, batchDocs.select(col(idCol), col(keyCol)),
            idCol, keyCol,
            freshPairs.select(col("doc_a"), col("doc_b")), tag)
          val bl = batchDocs
            .select(col(idCol),
              col(idCol).cast("long").as("_ls_id"))
            .join(seg.withColumnRenamed("doc_id", "_ls_id"),
              Seq("_ls_id"))
            .select(col(idCol), col("group"))
          // touched membership = one group-filtered store read
          // (exact by merge monotonicity) — never a re-walk
          (bl, () => graft.operators.LabelStore.membersOf(s,
              labelRoot, bl.select(col("group")).distinct())
            .withColumnRenamed("doc_id", idCol))
      }
      // the r16 CC regimes, kept as the store-less fallback
      // (and the spec's parity twin): seen docs as of this
      // batch = committed manifest minus the batch's own ids
      // (a crashed attempt's half-landed manifest rows are
      // exactly batch rows — anti-joined out) ∪ the batch;
      // past the size gate the batch labels come from the
      // batch components' reachable subgraph only
      def ccGrp(): (org.apache.spark.sql.DataFrame,
          () => org.apache.spark.sql.DataFrame) = {
          val prior = s.read.parquet(s"$docsStore/docs")
            .join(batchDocs.select(col(idCol)), Seq(idCol),
              "left_anti")
          val seen = prior.unionByName(batchDocs)
          val storePairs = s.read.parquet(s"$pairStore/pairs")
            .select(col("doc_a"), col("doc_b"))
          val grp =
            if (boundedLatched)
              graft.operators.Dedup.componentGroupsBounded(seen,
                idCol, col(keyCol), storePairs,
                batchDocs.select(col(idCol)))
            else
              graft.operators.Dedup.componentGroups(seen,
                idCol, col(keyCol), storePairs)
          (batchDocs.select(col(idCol)).join(grp, Seq(idCol)),
            () => {
              val touched = grp.join(batchDocs.select(col(idCol)),
                Seq(idCol), "left_semi").select(col("group"))
                .distinct()
              grp.join(touched, Seq("group"), "left_semi")
            })
      }
      def foldOf(h: Column) = graft.operators.Relational.foldOf(h)
      def foldAndSink(grpBatch: org.apache.spark.sql.DataFrame,
          touchedMembers: () => org.apache.spark.sql.DataFrame)
          : Unit = {
      val folds = batchDocs
        .join(grpBatch, Seq(idCol))
        .withColumn("split", foldOf(graft.functions.hashes
          .md5Hash60(col("group").cast("string")) % 10))
        .withColumn("dsplit", foldOf(graft.functions.hashes
          .md5Hash60(col(idCol).cast("string")) % 10))
        // inherited = the component representative arrived in an
        // EARLIER batch: the fold came through the grown store
        .join(batchDocs.select(col(idCol).as("group"))
            .withColumn("_cf_own", lit(true)),
          Seq("group"), "left")
        .withColumn("inherited", col("_cf_own").isNull)
        .select(col(idCol), col(sourceCol), col("group"),
          col("split"), col("dsplit"), col("inherited"))
      // ONE lease acquisition covers the manifest write AND the
      // drift leg's prior-manifest read: the refold verb's
      // delete+rename swap contends on the same sibling lease,
      // so a live ingest and a refold cannot interleave (one of
      // them fails loudly instead of the swap silently destroying
      // a just-landed batch partition), and the drift read can
      // never observe the swap mid-flight (a transiently absent
      // path, or old_split from already-refolded manifests)
      graft.sources.StoreLease.withLease(s, outDir,
          s"fold-sink-$tag") {
        graft.Phases.time(s"fold_sink[b$batchId]") {
          // ONE file per sealed batch partition: the manifest's
          // steady-state readers (the drift leg's prior scan,
          // refold, q209-class reports) pay FILE COUNT, not
          // rows — PLANS.md "Fold-drift lifecycle vs
          // landed-manifest growth" measured the un-coalesced
          // layout (batch-width files per dir) at 4–5× the
          // compacted walls. A micro-batch manifest is
          // batch-sized; one file is the right grain (a giant
          // batch's write parallelism is bounded by this —
          // production can shard the partition by raising it)
          folds
            .withColumn("batch_id", lit(batchId))
            .repartition(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(outDir)
        }
        driftDir.foreach { dd =>
          graft.Phases.time(s"fold_drift[b$batchId]") {
            // only components containing a batch doc can have
            // drifted THIS batch (no new edge touches any other) —
            // so the membership restriction makes every labeling
            // regime (label store, bounded CC, full CC) emit
            // identical drift rows
            val grpTouched = touchedMembers()
              .localCheckpoint() // read twice (id collect + join)
            // POINT-FETCH (gated on the same latch as the CC
            // regime): past the store-size gate the touched
            // components' member ids are a pushed key-set read of
            // the prior-manifest scan (Dedup.restrictTo), so
            // per-batch drift IO tracks the batch's neighborhood
            // instead of the landed-manifest size; over the cap or
            // below the gate the manifest scan + join runs.
            val cap = Dedup.DefaultMarkPruneCap
            val priorMan = Dedup.restrictTo(s.read.parquet(outDir)
                .filter(col("batch_id") < batchId), idCol,
                Dedup.boundedKeys(grpTouched, idCol, cap,
                  boundedLatched), cap)(identity)
              .select(col(idCol), col("split").as("old_split"))
            // materialized UNDER the lease — the drift frame is
            // complete before the lease releases, whatever a
            // later consumer does with it
            val drift = priorMan.join(grpTouched, Seq(idCol))
              .withColumn("new_split",
                graft.operators.Relational.foldOf(
                  graft.functions.hashes.md5Hash60(
                    col("group").cast("string")) % 10))
              .select(col(idCol), col("old_split"),
                col("new_split"),
                (col("old_split") =!= col("new_split"))
                  .as("drifted"))
              .withColumn("batch_id", lit(batchId))
              .localCheckpoint(eager = true)
            // a zero-row dynamic-overwrite write emits only
            // _SUCCESS (no part files), so a monitoring consumer
            // reading driftDir before the first real drift row
            // fails schema inference — seed ONE schema-bearing
            // empty file under a batch_id=-1 partition instead
            // (idempotent: overwritten in place on retry; zero
            // rows, so no consumer ever sees it as data)
            // Path(parent, child) — a URI parse would throw on
            // paths holding spaces/URI-special characters
            val seedPath =
              new org.apache.hadoop.fs.Path(dd, "batch_id=-1")
            val fs = seedPath.getFileSystem(
              s.sparkContext.hadoopConfiguration)
            if (!fs.exists(seedPath))
              drift.limit(0).drop("batch_id").repartition(1)
                .write.mode("overwrite").parquet(seedPath.toString)
            if (!drift.isEmpty)
              drift.repartition(1) // one file per batch (ditto)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(dd)
          }
        }
      }
      }
      if (useLabelStore) {
        // FUSED BATCH FAN-OUT (graft.Par + the appendPairStore
        // overlap, r19): the label/fold chain reads only the
        // CHECKPOINTED fresh pairs and OTHER store roots (labels,
        // manifest, drift), never the pair store or the index —
        // so it and the docs leg overlap the pair/index write
        // phase instead of queueing behind it. Every piece keeps
        // its own tag/marker, so any crash replay redoes only
        // the missing pieces from the same as-of state
        // (StreamingSpec convergence pins).
        graft.operators.Dedup.appendPairStore(b,
          idCol, textCol, indexDir, pairStore, shingleN, k,
          bands, threshold, commitTag = Some(tag),
          overlapWith = Some { fp =>
            val (grpBatch, touchedMembers) = labelGrp(fp)
            graft.Par.run(Seq(
              () => foldAndSink(grpBatch, touchedMembers),
              docsLeg))
            ()
          })
        ()
      } else {
        // the CC regimes read the PAIR STORE itself post-append
        // — no overlap with the writes; the docs leg still
        // overlaps the fold/sink chain
        graft.operators.Dedup.appendPairStore(b,
          idCol, textCol, indexDir, pairStore, shingleN, k,
          bands, threshold, commitTag = Some(tag))
        val (grpBatch, touchedMembers) = ccGrp()
        graft.Par.run(Seq(
          () => foldAndSink(grpBatch, touchedMembers),
          docsLeg))
        ()
      }
    }
  }

  /** CROSS-MODALITY TRAINING-PREP MANIFEST AT INGEST — the q208
    * composition maintained per crawl batch instead of recomputed
    * per corpus version (the q118 incremental convention applied to
    * a composition whose parts are NOT plain counters): q208's three
    * expensive corpus-grain stages each become an incrementally
    * maintained at-rest structure, and the final manifest is ONE
    * read over those structures with no CC and no corpus window —
    * provably equal to the batch q208 answer (one shared oracle):
    *
    *  - per-modality NEAR-DUP COMPONENTS → a [[graft.operators
    *    .LabelStore]] per modality: each batch's fingerprints mark
    *    ALL within-radius pairs against the grown pigeonhole index
    *    ([[graft.operators.Dedup.phashPairsAgainst]] — the pair-grain
    *    mark), the label store union-find-merges them, and
    *    `is_keeper` at read time is the O(1) `label == id` (keeper =
    *    component min = the stored label, merge monotonicity);
    *  - the TEXT KEEPER WINDOW (max n_chars, tie min doc_id, per
    *    canon) → a CHAMPION STORE: per batch only the batch's
    *    per-canon best rows append; the winner is argmax over
    *    champion rows (canon-grain, ≪ corpus) because the champion
    *    order is monotone — a later batch can only improve it;
    *  - item masses and doc token counts → additive item/doc rows in
    *    sealed segments.
    *
    * All appends per (modality, batch) ride ONE [[graft.operators
    * .Dedup.taggedSegmentAppend]] marker (keys + items atomically);
    * the label store seals its own tag; every piece is EXACTLY-ONCE
    * under micro-batch retry and the whole batch converges on replay
    * (StreamingSpec). `mediaOf` maps a batch's doc rows to the
    * batch's media fingerprints per modality — (name, (doc, fp,
    * owner) frame where `owner` is the OWNING DOCUMENT's id (a media
    * item knows its document; the owner must land in the text store
    * in the same or an earlier batch), item-of-doc expression:
    * identity for doc-grain image/audio, `div 8` for frame-packed
    * video). ONE-BATCH-PER-ITEM: all of an item's fingerprint rows
    * must arrive in a single micro-batch — the delta leg reads the
    * item's items row as its arrival, so a straddling second row
    * would break the delta-sum ≡ store-read equality. Asserted
    * loudly at the items seal (bounded pushed-isin probe).
    *
    * PER-BATCH MANIFEST DELTAS: after every store seal, the batch's
    * additive (modality, source, split) delta rows — d_items /
    * d_kept / d_kept_mass, kept corrections SIGNED (a champion
    * dethronement or keeper merge subtracts what it previously
    * contributed) — seal LAST under `storeRoot/deltas`, derived
    * purely from at-rest state: post-state = the stores, pre-state =
    * the stores MINUS this batch's own seg files (the sealed-segment
    * layout makes the pre-batch view reconstructible, which is what
    * makes a crashed-after-stores retry recompute the identical
    * delta). A curator reads the RUNNING manifest as one sum over
    * the delta table ([[modalityManifestFromDeltas]]) with no
    * item-grain join — and it re-aggregates to
    * [[modalityManifestReport]]'s answer bit for bit (q214's shared
    * oracle; `foldOf10` injects the same split arithmetic the report
    * uses).
    *
    * Scale shape (100 TB): per batch every store is touched through
    * batch-sized key joins (pushed-bkey pruned past the size gate)
    * and the label stores' point-fetch updates; the corpus never
    * re-decodes (fingerprints arrive with the batch) and no stage
    * re-walks untouched components. The manifest read at the end is
    * one pass over item-grain stores — exactly the scan q208 already
    * pays — minus its three star-CCs and its corpus window. */
  def modalityManifestIngest(docs: DataFrame, idCol: String,
      canonCol: String, sourceCol: String, charsCol: String,
      toksCol: String,
      mediaOf: (SparkSession, DataFrame) =>
        Seq[(String, DataFrame, Column => Column)],
      storeRoot: String, checkpointDir: String, radius: Int,
      width: Int, blocks: Int, keyBlocks: Int,
      foldOf10: Column => Column,
      pushMinStoreBytes: Long =
        graft.operators.Dedup.DefaultPointFetchMinStoreBytes)
      : StreamingQuery = {
    var indexesSeeded = false
    // once-per-stream size-gate latch for the delta leg's pushed
    // store reads (the storeAtLeastBytes sentinel convention): the
    // corpus-grain docs table is the proxy — below the gate the
    // semi-join scans are the cheaper plan, past it the bounded
    // collects buy pruned scans; the gate flips at most once as the
    // store grows, and once tripped later batches skip the listing
    var pushLatched = false
    microBatches(docs, checkpointDir, "manifest_ingest") { (s, batch, batchId) =>
      val tag = s"b$batchId"
      val b = batch.localCheckpoint()
      val media = mediaOf(s, b)
      // once per stream: seed each modality's empty pigeonhole
      // index so batch 0's pair mark has a store to read (the
      // componentFoldIngest empty-store convention)
      if (!indexesSeeded) {
        media.foreach { case (name, fp0, _) =>
          val mRoot = s"$storeRoot/$name"
          val idxDir = s"$mRoot/index"
          // ATTACH GUARD (once per stream, one limit-1 probe per
          // modality — the trainingPrepIngest convention): an
          // index holding fingerprint docs the items table has
          // never seen means the MEDIA CORPUS predates this
          // store and was not bootstrapped — marking batches
          // against it would merge and report WITHOUT the
          // at-rest corpus, silently. Checked BEFORE the seed so
          // a malformed foreign index can never be overwritten.
          // The batch's own fp docs are excluded: keys+items
          // seal atomically per tag, so a crashed first attempt
          // cannot trip this, but the exclusion keeps the probe
          // retry-proof regardless.
          locally {
            val fs2 = new org.apache.hadoop.fs.Path(mRoot)
              .getFileSystem(s.sessionState.newHadoopConf())
            val itemsP = new org.apache.hadoop.fs.Path(
              s"$mRoot/items")
            val keysP = new org.apache.hadoop.fs.Path(
              s"$idxDir/keys")
            val itemsEmpty = !fs2.exists(itemsP) ||
              s.read.schema(MmItemsSchema)
                .parquet(itemsP.toString).limit(1).isEmpty
            val foreign = itemsEmpty && fs2.exists(keysP) && {
              !s.read.parquet(keysP.toString).select(col("doc"))
                .join(fp0.select(col("doc").cast("long")
                  .as("doc")).distinct(), Seq("doc"), "left_anti")
                .limit(1).isEmpty
            }
            require(!foreign,
              s"modality store $mRoot: the phash index holds " +
                "docs the items table has never seen — the " +
                "media corpus predates this store; run " +
                "modalityManifestBootstrap before streaming")
          }
          val marker = new org.apache.hadoop.fs.Path(
            s"$idxDir/params/_SUCCESS")
          val fs = marker.getFileSystem(
            s.sessionState.newHadoopConf())
          // the seed rides the SAME store lease the appends take
          // (media-append-*): two streams racing one storeRoot
          // now exclude loudly at the seed too, instead of both
          // writing params — the marker is re-checked inside the
          // lease so the loser of the race skips cleanly. The
          // single-writer contract is unchanged; this closes the
          // seed's consistency-by-convention gap.
          if (!fs.exists(marker))
            graft.sources.StoreLease.withLease(s, mRoot,
                s"index-seed-$name") {
              if (!fs.exists(marker)) {
                val emptyFp = s.createDataFrame(
                  s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("doc",
                      org.apache.spark.sql.types.LongType),
                    org.apache.spark.sql.types.StructField("fp",
                      org.apache.spark.sql.types.LongType))))
                graft.operators.Dedup.writePhashIndex(emptyFp,
                  idxDir, radius, width, Some(blocks), keyBlocks)
              }
            }
        }
        indexesSeeded = true
      }
      // TEXT leg: batch doc rows + the batch's per-canon
      // champion candidates, one marker for both tables
      val textRoot = s"$storeRoot/text"
      val textLeg: () => Unit = () =>
        Dedup.sealOnce(s, textRoot, tag, s"text-append-$tag") {
          mmTextTables(b, idCol, canonCol, sourceCol, charsCol, toksCol)
            .map { case (t, df) => t -> df.repartition(1) }
        }
      // MEDIA legs: per modality — pair-grain mark against the
      // grown index, label-store merge, then keys + item masses
      // in one sealed append. Each modality touches ONLY its own
      // store subtree, so the legs (and the text leg) run
      // CONCURRENTLY (graft.Par) — the fused-seal lever: the
      // per-batch fixed bill was ~1.2-1.5 s × modalities of
      // SEQUENTIAL small jobs (PLANS.md "Per-batch FIXED cost vs
      // batch grain"), now overlapped toward the slowest leg.
      val mediaLegs = media.map { case (name, fp0, itemOf) =>
        () => graft.Phases.time(s"mm_$name[b$batchId]") {
        val mRoot = s"$storeRoot/$name"
        val idxDir = s"$mRoot/index"
        val fp = graft.Phases.time(s"mm_${name}_fp[b$batchId]") {
          fp0.select(col("doc").cast("long").as("doc"),
            col("fp").cast("long").as("fp"),
            col("owner").cast("long").as("owner")).localCheckpoint()
        }
        // lazy: the label update collects the pairs exactly once,
        // before the keys append mutates the index
        val fpPairs = graft.operators.Dedup.phashPairsAgainst(s,
          fp, idxDir, radius, width, Some(blocks), keyBlocks,
          materialize = false)
        // item-grain edges (video: frame pairs → video pairs;
        // doc-grain modalities: identity). The grain collapse
        // needs a distinct + self-pair filter ONLY when itemOf
        // actually maps (video's frame → vid): for identity
        // modalities fpPairs is already doc_a < doc_b distinct,
        // so the extra distinct was a pure second shuffle of the
        // full candidate pair set per (modality, batch) — checked
        // semantically, not by name, so a future non-identity
        // mapping cannot silently skip the collapse
        val itemIdentity = org.apache.spark.sql.graft.Bridge
          .expression(itemOf(col("doc_a")))
          .semanticEquals(org.apache.spark.sql.graft.Bridge
            .expression(col("doc_a")))
        val itemPairs =
          if (itemIdentity) fpPairs.select(col("doc_a"), col("doc_b"))
          else fpPairs
            .select(itemOf(col("doc_a")).as("doc_a"),
              itemOf(col("doc_b")).as("doc_b"))
            .filter(col("doc_a") =!= col("doc_b"))
            .distinct()
        val items = fp
          .select(itemOf(col("doc")).as("id"),
            bit_count(col("fp")).cast("long").as("fmass"),
            col("owner").cast("long").as("owner"))
          .groupBy(col("id"))
          .agg(sum(col("fmass")).as("mass"),
            min(col("owner")).as("owner"))
        // no checkpoint: a cheap aggregate over the (already
        // checkpointed) batch fingerprints — recomputed once by
        // the update's collect and once inside the staged write
        graft.Phases.time(s"mm_${name}_label[b$batchId]") {
          graft.operators.LabelStore.update(s, s"$mRoot/labels",
            items.select(col("id"),
              lit(null).cast("string").as("_mm_key")),
            "id", "_mm_key", itemPairs, tag)
        }
        // the straddle guard runs only for an uncommitted tag, under
        // the seal's lease
        graft.Phases.time(s"mm_${name}_seal[b$batchId]") {
          Dedup.sealOnce(s, mRoot, tag, s"media-append-$tag") {
            // ONE-BATCH-PER-ITEM invariant, asserted (r18 ADVICE):
            // the delta leg reads an item's items row as its
            // arrival — a SECOND row for an already-stored item
            // (fingerprint rows straddling micro-batches) would
            // recount d_items and silently drop its kept mass from
            // the delta table while the store-read report counts
            // every row, breaking the q214 bit-for-bit claim. The
            // mediaOf contract pins only the OWNER doc's arrival,
            // so refuse loudly here: the batch's item ids must be
            // absent from the at-rest items table (this tag's own
            // files excluded — a crashed attempt's half-landed seg
            // is not a straddle). Bounded: a pushed key-set read of
            // the batch ids (Dedup.restrictTo), semi-join past the cap.
            graft.Phases.time(s"mm_${name}_straddle[b$batchId]") {
              val (_, itemsRest) = splitTable(s, s"$mRoot/items",
                tag, MmItemsSchema)
              val cap = Dedup.DefaultMarkPruneCap
              val straddle = Dedup.restrictTo(itemsRest, "id",
                  Dedup.boundedKeys(items, "id", cap), cap)(
                _.join(items.select(col("id")), Seq("id"), "left_semi"))
              require(straddle.limit(1).isEmpty,
                s"modality store $mRoot: batch $tag re-presents " +
                  "item ids the items table already holds — an " +
                  "item's fingerprint rows must arrive in ONE " +
                  "micro-batch (the delta leg's kept accounting " +
                  "reads the items row as the item's arrival)")
            }
            // repartition(1), not repartitionByRange(1, …): a
            // single-file segment needs no range boundaries, and
            // RangePartitioner's sampling pass is one more job on
            // the per-(modality, batch) FIXED bill (PLANS.md
            // "Per-batch FIXED cost vs batch grain"); the sort
            // inside the one partition gives the identical
            // bkey-clustered layout
            val keyRows = Dedup.pigeonholeKeys(fp,
                radius, width, Some(blocks), keyBlocks)
              .repartition(1)
              .sortWithinPartitions(col("bkey"), col("tbl"))
            Seq("index/keys" -> keyRows, "items" -> items.repartition(1))
          }
        }
        }
      }
      graft.Par.run(textLeg +: mediaLegs)
      // PER-BATCH MANIFEST DELTAS — sealed LAST, derived purely
      // from at-rest state (post = the stores, pre = the stores
      // minus this batch's seg files), so a crashed-after-stores
      // retry recomputes the identical rows. Residual (the
      // compact-labels class): compacting a store between a
      // mid-batch crash and its replay destroys the batch's seg
      // file identity — restart crashed streams before running
      // compaction verbs.
      val deltasRoot = s"$storeRoot/deltas"
      if (!pushLatched)
        pushLatched = graft.operators.Dedup.storeAtLeastBytes(
          s, s"$storeRoot/text/docs", pushMinStoreBytes)
      graft.Phases.time(s"mm_deltas[b$batchId]") {
        Dedup.sealOnce(s, deltasRoot, tag, s"deltas-append-$tag") {
          Seq("deltas" -> manifestDeltaRows(s, storeRoot,
            media.map(_._1), foldOf10, tag, idCol, canonCol,
            sourceCol, toksCol, pushLatched).repartition(1))
        }
      }
    }
  }

  /** The modality items table's read schema — shared by the delta
    * derivation and the ingest's one-batch-per-item guard. */
  private val MmItemsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("mass",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("owner",
        org.apache.spark.sql.types.LongType)))

  /** Data files of table `dir` split into (this tag's sealed seg
    * files, everything else) — the sealed-segment layout makes a
    * batch's PRE and POST store views both readable at rest, which
    * is what lets the delta leg derive its rows after every store
    * already sealed. Missing dirs and file lists read as empty
    * frames of `schema`. */
  private def splitTable(s: SparkSession, dir: String, tag: String,
      schema: org.apache.spark.sql.types.StructType)
      : (DataFrame, DataFrame) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    def rd(files: Seq[String]): DataFrame =
      if (files.isEmpty) s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else s.read.schema(schema).parquet(files: _*)
    if (!fs.exists(p)) (rd(Seq.empty), rd(Seq.empty))
    else {
      val files = fs.listStatus(p).filter(_.isFile).map(_.getPath)
        .filterNot(q => q.getName.startsWith("_") ||
          q.getName.startsWith("."))
      val (seg, rest) = files.partition(
        _.getName.startsWith(s"seg-$tag-part-"))
      (rd(seg.map(_.toString).toIndexedSeq),
        rd(rest.map(_.toString).toIndexedSeq))
    }
  }

  /** One batch's additive manifest delta rows — (modality, source,
    * split, d_items, d_kept, d_kept_mass): new items/docs add
    * d_items; kept corrections are SIGNED per flip source — a text
    * champion dethronement subtracts the old winner's contribution
    * at ITS (source, split) and adds the new one's; a media keeper
    * merge subtracts a dethroned keeper item's (mass at its owner's
    * combo). Every input is bounded by the batch's touched state:
    * batch segments, label rows the merge rewrote, and items owned
    * by docs whose champion status flipped. */
  private def manifestDeltaRows(s: SparkSession, storeRoot: String,
      modalities: Seq[String], foldOf10: Column => Column,
      tag: String, idCol: String, canonCol: String,
      sourceCol: String, toksCol: String,
      pushReads: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val textDocsSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField(canonCol, StringType),
      StructField(sourceCol, StringType),
      StructField(toksCol, LongType)))
    val champsSchema = StructType(Seq(
      StructField(canonCol, StringType),
      StructField(idCol, LongType),
      StructField("n_chars", LongType)))
    val itemsSchema = MmItemsSchema
    val split = foldOf10(
      graft.functions.hashes.md5Hash60(col(canonCol)))
    // no checkpoints on the split reads: they are at-rest parquet
    // scans already (re-reading a sealed file is cheaper than the
    // extra materialization job — the delta leg is per-batch FIXED
    // cost, PLANS.md "Per-batch FIXED cost vs batch grain")
    val (segDocs, _) =
      splitTable(s, s"$storeRoot/text/docs", tag, textDocsSchema)
    val (segCh, oldCh) =
      splitTable(s, s"$storeRoot/text/champs", tag, champsSchema)
    val champsAll = oldCh.unionByName(segCh)
    val docsAll = s.read.schema(textDocsSchema)
      .parquet(s"$storeRoot/text/docs")
    // every store-sided read below is a pushed key-set read
    // (Dedup.restrictTo) of a set bounded by the batch's touched
    // state; it semi-joins the key frame past the cap or below the
    // ingest's once-per-stream size gate (`pushReads`: there the
    // collects would be pure per-batch fixed cost, PLANS.md
    // "Per-batch FIXED cost vs batch grain")
    val cap = Dedup.DefaultMarkPruneCap
    // champion winners of a canon set, pre/post (the report's
    // argmax). The batch's canons come off this tag's own seg files,
    // so the champs scans prune to the batch's canon neighborhoods.
    // The ownCanons calls below stay semi-joins: their canon set
    // hangs off the lazy withOwner chain, and collecting it would
    // re-run the chain (the measured checkpoint-vs-lazy tradeoff
    // kept that chain lazy) — a residual, noted, not hidden.
    def winnersOf(ch: DataFrame, ks: Option[Set[Any]],
        canons: => DataFrame): DataFrame =
      Dedup.restrictTo(ch, canonCol, ks, cap)(
          _.join(canons, Seq(canonCol), "left_semi"))
        .groupBy(col(canonCol))
        .agg(max(struct(col("n_chars").cast("long").as("c"),
          (-col(idCol).cast("long")).as("negid"))).as("_d_best"))
        .select(col(canonCol),
          (-col("_d_best").getField("negid")).as("_d_win"))
    def winners(ch: DataFrame, canons: DataFrame): DataFrame =
      winnersOf(ch, None, canons)
    val batchCanons = segDocs.select(col(canonCol)).distinct()
    val batchCanonSet = Dedup.boundedKeys(segDocs, canonCol, cap,
      pushReads)
    val flips = graft.Phases.time(s"mmd_flips[$tag]") {
      winnersOf(champsAll, batchCanonSet, batchCanons)
        .withColumnRenamed("_d_win", "_d_new")
        .join(winnersOf(oldCh, batchCanonSet, batchCanons)
          .withColumnRenamed("_d_win", "_d_old"), Seq(canonCol), "left")
        .filter(col("_d_old").isNull || col("_d_old") =!= col("_d_new"))
        .localCheckpoint()
    }
    // the flip docs' attribute reads off the corpus-grain docs
    // table, pruned to the flip set (affOwners below is exactly the
    // union of new/old winners, so one restriction serves both
    // contrib calls and the per-modality owner probe)
    def contrib(win: DataFrame, docsFlips: DataFrame,
        sign: Long): DataFrame =
      win.join(docsFlips.select(col(idCol).as("_d_win"),
          col(sourceCol), col(toksCol)), Seq("_d_win"))
        .select(lit("text").as("modality"),
          col(sourceCol).as("source"), split.as("split"),
          lit(0L).as("d_items"), lit(sign).as("d_kept"),
          (lit(sign) * col(toksCol).cast("long")).as("d_kept_mass"))
    // docs whose champion status flipped — their media items' kept
    // contributions change even when no media edge touched them
    // flips/affOwners/affIds ARE checkpointed: each feeds 2–4
    // consumers, and measured walls (gate fixture) show the
    // checkpoint jobs beating the repeated-subtree plan the lazy
    // form compiles (PLANS.md "Per-batch FIXED cost vs batch grain"
    // prices the residual fixed cost; the fused batch fan-out is its
    // lever)
    val affOwners = graft.Phases.time(s"mmd_own[$tag]") {
      flips.select(col("_d_new").as("_d_doc"))
        .unionByName(flips.filter(col("_d_old").isNotNull)
          .select(col("_d_old").as("_d_doc")))
        .distinct().localCheckpoint()
    }
    val affOwnerSet = Dedup.boundedKeys(affOwners, "_d_doc",
      cap, pushReads)
    // the corpus-grain docs table pruned to the flip docs — serves
    // both signed contrib legs (their win sets are subsets of
    // affOwners by construction)
    val docsFlips = Dedup.restrictTo(docsAll, idCol, affOwnerSet, cap)(
      _.join(affOwners.withColumnRenamed("_d_doc", idCol), Seq(idCol),
        "left_semi"))
    val textKept = contrib(flips.select(col(canonCol),
        col("_d_new").as("_d_win")), docsFlips, 1L)
      .unionByName(contrib(flips.filter(col("_d_old").isNotNull)
        .select(col(canonCol), col("_d_old").as("_d_win")),
        docsFlips, -1L))
    val textItems = segDocs
      .select(lit("text").as("modality"),
        col(sourceCol).as("source"), split.as("split"),
        lit(1L).as("d_items"), lit(0L).as("d_kept"),
        lit(0L).as("d_kept_mass"))
    // one (modality, source, split)-grain PARTIAL aggregate per
    // branch — sums of longs are associative, so per-branch partials
    // re-aggregated below equal the single aggregate over the
    // unioned rows bit for bit (each modality's rows come from
    // exactly one branch anyway; text's two row sets stay in one
    // branch)
    def partialAgg(rows: DataFrame): DataFrame = rows
      .groupBy(col("modality"), col("source"), col("split"))
      .agg(sum(col("d_items")).as("d_items"),
        sum(col("d_kept")).as("d_kept"),
        sum(col("d_kept_mass")).as("d_kept_mass"))
    val mediaFns: Seq[() => Array[org.apache.spark.sql.Row]] =
      modalities.map { m => () => graft.Phases.time(
        s"mmd_$m[$tag]") {
      val mr = s"$storeRoot/$m"
      val (segIt, _) = splitTable(s, s"$mr/items", tag, itemsSchema)
      val itemsAll = s.read.schema(itemsSchema)
        .parquet(s"$mr/items")
      val (segLb, oldLb) = splitTable(s, s"$mr/labels/labels", tag,
        graft.operators.LabelStore.LabelsSchema)
      // the items scan prunes to the flip docs' owner
      // neighborhoods, then items/labels prune to the affected
      // item ids
      val affIds = segIt.select(col("id"))
        .unionByName(segLb.select(col("doc_id").as("id")))
        .unionByName(Dedup.restrictTo(itemsAll, "owner", affOwnerSet,
            cap)(_.join(affOwners.withColumnRenamed("_d_doc", "owner"),
            Seq("owner"), "left_semi"))
          .select(col("id")))
        .distinct().localCheckpoint()
      val affIdSet = Dedup.boundedKeys(affIds, "id", cap, pushReads)
      val itemsAff = Dedup.restrictTo(itemsAll, "id", affIdSet, cap)(
        _.join(affIds, Seq("id"), "left_semi"))
      def memIn(lb: DataFrame, as: String): DataFrame =
        Dedup.restrictTo(lb, "doc_id", affIdSet, cap)(
            _.join(affIds.withColumnRenamed("id", "doc_id"),
              Seq("doc_id"), "left_semi"))
          .groupBy(col("doc_id")).agg(min(col("group")).as(as))
          .withColumnRenamed("doc_id", "id")
      val pre = memIn(oldLb, "_d_gpre")
      val post = memIn(oldLb.unionByName(segLb), "_d_gpost")
      val affItemOwnerSet = Dedup.boundedKeys(itemsAff, "owner", cap,
        pushReads)
      val withOwner = itemsAff
        .join(pre, Seq("id"), "left")
        .join(post, Seq("id"))
        .join(Dedup.restrictTo(docsAll, idCol, affItemOwnerSet, cap)(
            _.join(itemsAff.select(col("owner").as(idCol)).distinct(),
              Seq(idCol), "left_semi"))
          .select(col(idCol).as("owner"), col(sourceCol),
            col(canonCol)), Seq("owner"))
      val ownCanons = withOwner.select(col(canonCol)).distinct()
      val scored = withOwner
        .join(winners(champsAll, ownCanons)
          .withColumnRenamed("_d_win", "_d_wpost"), Seq(canonCol))
        .join(winners(oldCh, ownCanons)
          .withColumnRenamed("_d_win", "_d_wpre"),
          Seq(canonCol), "left")
        .withColumn("_d_cpre",
          when(col("_d_gpre").isNotNull &&
            col("_d_gpre") === col("id") &&
            col("_d_wpre") === col("owner"), 1L).otherwise(0L))
        .withColumn("_d_cpost",
          when(col("_d_gpost") === col("id") &&
            col("_d_wpost") === col("owner"), 1L).otherwise(0L))
      val keptRows = scored.select(lit(m).as("modality"),
        col(sourceCol).as("source"), split.as("split"),
        lit(0L).as("d_items"),
        (col("_d_cpost") - col("_d_cpre")).as("d_kept"),
        ((col("_d_cpost") - col("_d_cpre")) * col("mass"))
          .as("d_kept_mass"))
      val segItOwnerSet = Dedup.boundedKeys(segIt, "owner", cap,
        pushReads)
      val itemRows = segIt
        .join(Dedup.restrictTo(docsAll, idCol, segItOwnerSet, cap)(
            _.join(segIt.select(col("owner").as(idCol)).distinct(),
              Seq(idCol), "left_semi"))
          .select(col(idCol).as("owner"), col(sourceCol),
            col(canonCol)), Seq("owner"))
        .select(lit(m).as("modality"), col(sourceCol).as("source"),
          split.as("split"), lit(1L).as("d_items"),
          lit(0L).as("d_kept"), lit(0L).as("d_kept_mass"))
      partialAgg(keptRows.unionByName(itemRows)).collect()
    } }
    // FUSED BRANCH EVALUATION (r19, graft.Par): the per-modality
    // delta chains and the text chain are independent until the
    // final re-aggregation, but the old single lazy plan evaluated
    // them SERIALLY inside one seal-time job (mmd_seal measured
    // 3.4-7.6 s/batch at sf0.1 — a ~40-scan DAG compiled and run
    // single-file). Each branch now aggregates and collects
    // concurrently (rows are (modality × source × split)-bounded),
    // and the returned frame is the re-aggregation over the local
    // partials — the seal write becomes a trivial job.
    val textFn: () => Array[org.apache.spark.sql.Row] =
      () => graft.Phases.time(s"mmd_text[$tag]") {
        partialAgg(textItems.unionByName(textKept)).collect()
      }
    val aggSchema = partialAgg(textItems).schema
    val parts = graft.Par.run(textFn +: mediaFns).flatten
    s.createDataFrame(
        java.util.Arrays.asList(parts: _*), aggSchema)
      .groupBy(col("modality"), col("source"), col("split"))
      .agg(sum(col("d_items")).as("d_items"),
        sum(col("d_kept")).as("d_kept"),
        sum(col("d_kept_mass")).as("d_kept_mass"))
      .filter(col("d_items") =!= 0L || col("d_kept") =!= 0L ||
        col("d_kept_mass") =!= 0L)
  }

  /** The RUNNING manifest as one sum over the sealed per-batch
    * delta rows [[modalityManifestIngest]] maintains — the curator
    * read with NO item-grain join, NO label-store read and NO
    * champion window: re-aggregates to [[modalityManifestReport]]'s
    * answer bit for bit (q214's shared oracle — d_items only ever
    * adds, and every kept correction lands at a combo whose items
    * already landed, so the row sets agree too). */
  def modalityManifestFromDeltas(s: SparkSession, storeRoot: String,
      sourceCol: String): DataFrame =
    s.read.parquet(s"$storeRoot/deltas/deltas")
      .groupBy(col("modality"), col("source"), col("split"))
      .agg(sum(col("d_items")).as("n_items"),
        sum(col("d_kept")).as("n_kept"),
        sum(col("d_kept_mass")).as("kept_mass"))
      .withColumnRenamed("source", sourceCol)
      .select(col("modality"), col(sourceCol), col("split"),
        col("n_items"), col("n_kept"), col("kept_mass"))

  /** The final manifest read over the stores
    * [[modalityManifestIngest]] maintains — q208's output shape from
    * pure store lookups: champions give `doc_kept` (argmax over
    * canon-grain champion rows), each modality's label store gives
    * `is_keeper` (`label == id`), and the per-(modality, source,
    * split) rollup is the q208 aggregation verbatim. `foldOf10` maps
    * the canon hash residue to the split (the Relational.foldOf
    * convention, injected so this file needs no oracle arithmetic). */
  def modalityManifestReport(s: SparkSession, storeRoot: String,
      idCol: String, canonCol: String, sourceCol: String,
      toksCol: String, modalities: Seq[String],
      foldOf10: Column => Column): DataFrame = {
    val champs = s.read.parquet(s"$storeRoot/text/champs")
      .groupBy(col(canonCol))
      .agg(max(struct(col("n_chars").cast("long").as("c"),
        (-col(idCol).cast("long")).as("negid"))).as("_mm_best"))
      .select(col(canonCol),
        (-col("_mm_best").getField("negid")).as("_mm_winner"))
    val docs = s.read.parquet(s"$storeRoot/text/docs")
      .join(champs, Seq(canonCol))
      .withColumn("split",
        foldOf10(graft.functions.hashes.md5Hash60(col(canonCol))))
      .withColumn("doc_kept", col(idCol) === col("_mm_winner"))
      .select(col(idCol), col(sourceCol), col("split"),
        col("doc_kept"), col(toksCol).cast("long").as("toks"))
      .localCheckpoint()
    val textRows = docs.groupBy(col(sourceCol), col("split"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("doc_kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("doc_kept"), col("toks")).otherwise(0L))
          .as("kept_mass"))
      .withColumn("modality", lit("text"))
    val mediaRows = modalities.map { name =>
      s.read.parquet(s"$storeRoot/$name/items")
        .join(graft.operators.LabelStore.read(s, s"$storeRoot/$name/labels")
            .withColumnRenamed("doc_id", "id"),
          Seq("id"))
        .withColumn("is_keeper", col("group") === col("id"))
        .withColumn(idCol, col("owner"))
        .join(broadcast(docs), Seq(idCol))
        .groupBy(col(sourceCol), col("split"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("is_keeper") && col("doc_kept"), 1L)
            .otherwise(0L)).as("n_kept"),
          sum(when(col("is_keeper") && col("doc_kept"), col("mass"))
            .otherwise(0L)).as("kept_mass"))
        .withColumn("modality", lit(name))
    }
    val rep = mediaRows.foldLeft(textRows)(_ unionByName _)
      .select(col("modality"), col(sourceCol), col("split"),
        col("n_items"), col("n_kept"), col("kept_mass"))
    // collect-and-free, the trainingPrepReport convention: the docs
    // checkpoint feeds the text rollup and every media join —
    // returning the lazy plan would pin its blocks for the session
    // (rows are (modality × source × split)-bounded)
    val rows = rep.collect()
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(docs)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), rep.schema)
  }

  /** ATTACH a modality-manifest store to a PRE-EXISTING media corpus
    * — the [[trainingPrepBootstrap]] convention on the q211 capstone
    * (the symmetry the r18 round left open): a stream arriving at a
    * corpus that predates its store pays the full-corpus pass ONCE —
    * per modality a phash pigeonhole index build, the within-radius
    * pair self-join ([[graft.operators.Dedup.hammingNearDupPairs]] —
    * banded, never all-pairs), a segmented [[graft.operators
    * .LabelStore.bootstrap]] at item grain, and the item-mass rows;
    * for text the doc rows + per-canon champion rows; and ONE
    * bootstrap delta row set = the attach-state manifest, so
    * [[modalityManifestFromDeltas]] reconciles from genesis — and
    * every later [[modalityManifestIngest]] batch grows from there.
    *
    * Exactly-once PIECEWISE, the prep-bootstrap protocol: the index
    * guards on its params marker, the label bootstrap on its own
    * segmented markers, text / items / deltas on `bootstrap` tags —
    * a crashed attach resumes at the piece that did not land, and
    * the delta seal runs LAST because it reads the built stores.
    * Genesis equivalence is pinned in StreamingSpec: bootstrap(A)
    * then stream(B) reads identically to stream(A, B) from empty on
    * BOTH the store-read report (q211) and the delta sum (q214).
    *
    * `media` is the corpus's fingerprints per modality in the
    * [[modalityManifestIngest]] `mediaOf` shape — (name, (doc, fp,
    * owner) frame, item-of-doc expression) — evaluated over the
    * WHOLE corpus instead of a batch. */
  def modalityManifestBootstrap(docs: DataFrame, idCol: String,
      canonCol: String, sourceCol: String, charsCol: String,
      toksCol: String,
      media: Seq[(String, DataFrame, Column => Column)],
      storeRoot: String, radius: Int, width: Int, blocks: Int,
      keyBlocks: Int, foldOf10: Column => Column): Unit = {
    val s = docs.sparkSession
    val conf = s.sessionState.newHadoopConf()
    // 1. TEXT: doc rows + per-canon champion rows, one tagged seal
    // (the ingest's text leg over the whole corpus)
    Dedup.sealOnce(s, s"$storeRoot/text", "bootstrap",
        "text-append-bootstrap") {
      mmTextTables(docs, idCol, canonCol, sourceCol, charsCol, toksCol)
    }
    // 2. per modality: index build, label bootstrap, item rows
    media.foreach { case (name, fp0, itemOf) =>
      val mRoot = s"$storeRoot/$name"
      val idxDir = s"$mRoot/index"
      val fp = fp0.select(col("doc").cast("long").as("doc"),
        col("fp").cast("long").as("fp"),
        col("owner").cast("long").as("owner")).localCheckpoint()
      // 2a. the pigeonhole index over the whole corpus (marker =
      // params, written after keys inside writePhashIndex's lease)
      val params = new org.apache.hadoop.fs.Path(
        s"$idxDir/params/_SUCCESS")
      if (!params.getFileSystem(conf).exists(params))
        graft.operators.Dedup.writePhashIndex(
          fp.select(col("doc"), col("fp")), idxDir, radius, width,
          Some(blocks), keyBlocks)
      // 2b. item-grain within-radius edges — the banded self-join,
      // then frame pairs collapse to item pairs (video); the label
      // bootstrap seals segmented under its own markers
      val itemPairs = graft.operators.Dedup.hammingNearDupPairs(
          fp.select(col("doc"), col("fp")), radius, width,
          Some(blocks), keyBlocks)
        .select(itemOf(col("doc_a")).as("doc_a"),
          itemOf(col("doc_b")).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
        .distinct()
      val items = fp
        .select(itemOf(col("doc")).as("id"),
          bit_count(col("fp")).cast("long").as("fmass"),
          col("owner").cast("long").as("owner"))
        .groupBy(col("id"))
        .agg(sum(col("fmass")).as("mass"),
          min(col("owner")).as("owner"))
      graft.operators.LabelStore.bootstrap(s, s"$mRoot/labels",
        items.select(col("id")), "id", lit(null).cast("string"),
        itemPairs)
      // 2c. the item-mass rows (keys already live in the index —
      // the bootstrap's only tagged table here is items)
      Dedup.sealOnce(s, mRoot, "bootstrap", "media-append-bootstrap") {
        Seq("items" -> items)
      }
      org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(fp)
    }
    // 3. ONE bootstrap delta row set = the attach-state manifest,
    // derived from the just-built stores through the same read the
    // report uses — sealed LAST so a crashed attach recomputes it
    // from complete stores
    Dedup.sealOnce(s, s"$storeRoot/deltas", "bootstrap",
        "deltas-append-bootstrap") {
      val d = modalityManifestReport(s, storeRoot, idCol, canonCol,
          sourceCol, toksCol, media.map(_._1), foldOf10)
        .select(col("modality"), col(sourceCol).as("source"),
          col("split"), col("n_items").as("d_items"),
          col("n_kept").as("d_kept"),
          col("kept_mass").as("d_kept_mass"))
      Seq("deltas" -> d.repartition(1))
    }
  }

  /** The modality-manifest TEXT store's two tables for a set of doc
    * rows — `docs` (id, canon, source, tokens; long-pinned, because
    * the delta leg re-reads these files with an explicit (long,
    * string, string, long) schema) and `champs`, the rows' per-canon
    * best (max n_chars, ties min id) champion candidates. */
  private def mmTextTables(d: DataFrame, idCol: String,
      canonCol: String, sourceCol: String, charsCol: String,
      toksCol: String): Seq[(String, DataFrame)] =
    Seq("docs" -> d.select(col(idCol).cast("long").as(idCol),
        col(canonCol).cast("string").as(canonCol),
        col(sourceCol).cast("string").as(sourceCol),
        col(toksCol).cast("long").as(toksCol)),
      "champs" -> d.groupBy(col(canonCol))
        .agg(max(struct(col(charsCol).cast("long").as("c"),
          (-col(idCol).cast("long")).as("negid"))).as("_mm_best"))
        .select(col(canonCol),
          (-col("_mm_best").getField("negid")).as(idCol),
          col("_mm_best").getField("c").as("n_chars")))

  /** TRAINING-PREP MANIFEST AT INGEST — the q153 flagship text
    * composition (exact dedup → near-dup keeper → eval-fold
    * decontamination → quality floor → temperature mix) maintained
    * per crawl batch instead of recomputed per corpus version (the
    * q211 move on the flagship text pipeline): every stage's
    * PER-DOC inputs are decided once, at ingest, against the grown
    * stores; [[trainingPrepReport]] then resolves the set-dependent
    * stages from the stores with NO re-tokenization, NO pair
    * recompute and NO CC — and must equal the batch q153 answer bit
    * for bit (one shared oracle). Per micro-batch of CRAWL docs
    * (the eval reference is STATIC — a benchmark suite, the q85
    * stream-static convention — and never enters the stores):
    *
    *  1. GROW the shared signature index + pair store
    *     ([[graft.operators.Dedup.appendPairStore]], exactly-once
    *     under `b<batchId>`) — a later near-dup reaches its earlier
    *     partner only through the grown index;
    *  2. merge the fresh pair edges into the corpus [[graft
    *     .operators.LabelStore]] (pair edges only, no key edges) —
    *     components over EVERY streamed doc, exact losers included:
    *     exact-dup twins carry identical shingle sets, hence
    *     identical pair adjacency, so any path through a loser
    *     reroutes through its surviving champion and the partition
    *     RESTRICTED to exact survivors at read time equals the CC
    *     over survivor-restricted pairs (q153's form) exactly;
    *  3. seal the batch docs' STATIC per-doc attributes as one
    *     tagged segment: exact key (md5 of the text), token count,
    *     the q25 quality score, and the q135 contamination score
    *     against the stream-static eval shingle set (derived once
    *     per stream, not per batch). These never change once
    *     written — every LATER-KNOWLEDGE flag (keeper status, mix
    *     membership) is derived at read time, which is what lets a
    *     later batch's near-dup flip an earlier doc's keeper verdict
    *     through store growth alone;
    *  4. seal the batch's additive report deltas LAST
    *     ([[prepDeltas]]), derived from the at-rest pre/post store
    *     views. Two regimes, split at [[Dedup.DefaultMarkPruneCap]]
    *     (the [[graft.operators.LabelStore.update]] `planDriver` /
    *     `planDistributed` convention): while every key set and row
    *     set of the batch's affected state fits under the cap, the
    *     driver kernel ([[prepDeltaDriver]]) runs six bounded pushed
    *     store reads and derives the per-doc flags in Scala; past it
    *     the distributed twin ([[prepDeltaRows]]) runs its chain of
    *     checkpointed semi-join queries. One shared tail
    *     ([[prepDeltaTail]]) aggregates either into the sealed rows.
    *
    * Scale shape (100 TB): per batch one batch-sized mark against
    * the grown index — two regimes, split at
    * [[Dedup.DefaultMarkPruneCap]] ([[Dedup.appendPairStore]]): under
    * the cap the driver kernel reads only the stored band rows of the
    * batch's band hashes (a pushed `band_hash` isin) and the cross
    * candidates' stored shingle sets (a pushed `doc` isin), past it
    * the twin scan-joins the whole index tables — one bounded
    * label-store merge, one batch-grain scoring pass (tokenize +
    * shingle the BATCH only; the eval set is bounded and
    * pre-shingled), three sealed appends, and a delta
    * derivation whose reads are bounded by the batch's touched state
    * — a handful of pushed collects under the cap, the twin's
    * per-step semi-join scans past it (the only form that fits the
    * driver's memory there). The corpus is never re-read,
    * re-tokenized or re-walked. */
  def trainingPrepIngest(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, evalDocs: DataFrame,
      storeRoot: String, checkpointDir: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      contamN: Int = 3): StreamingQuery = {
    // static per stream: the eval suite's distinct n-gram shingles
    val evalSh = evalShingles(evalDocs, textCol, contamN)
      .localCheckpoint(eager = true)
    // once-per-stream attach guard latch (the componentFoldIngest
    // sync-guard convention)
    var attachChecked = false
    microBatches(docs, checkpointDir, "prep_ingest") { (s, batch, batchId) =>
      val tag = s"b$batchId"
      val b = batch.localCheckpoint()
      if (!attachChecked) {
        // ATTACH GUARD (once per stream, one limit-1 probe): a
        // signature index holding docs the flags store has never
        // seen means the corpus predates this prep store and was
        // not bootstrapped — merging batches against it would
        // label and report WITHOUT the at-rest corpus, silently.
        // The batch's own ids are excluded so a crashed first
        // attempt (pairs appended, flags not yet sealed) still
        // replays cleanly.
        val fp = new org.apache.hadoop.fs.Path(
          s"$storeRoot/flags/flags")
        val fs = fp.getFileSystem(s.sessionState.newHadoopConf())
        val flagsEmpty = !fs.exists(fp) ||
          s.read.parquet(fp.toString).limit(1).isEmpty
        val foreign = flagsEmpty && {
          val sh = new org.apache.hadoop.fs.Path(
            s"$storeRoot/index/shingles")
          fs.exists(sh) && !s.read.parquet(sh.toString)
            .select(col("doc"))
            .join(b.select(col(idCol).cast("long").as("doc")),
              Seq("doc"), "left_anti")
            .limit(1).isEmpty
        }
        require(!foreign,
          s"prep store $storeRoot: the signature index holds " +
            "docs the flags store has never seen — the corpus " +
            "predates this store; run trainingPrepBootstrap " +
            "before streaming")
        attachChecked = true
      }
      // FUSED BATCH FAN-OUT (the graft.Par scaladoc): the
      // index/pairs/labels chain and the flags scoring leg are
      // independent until the delta derivation — the pair mark
      // reads the signature index, the scoring leg reads only
      // the batch and the stream-static eval shingles. Running
      // them concurrently overlaps the scoring leg's
      // tokenize+shingle wall with the mark's store probes
      // (PLANS.md "the prepbatch table" priced the sequential
      // form at ~4.4-6.6 s/batch of fixed cost).
      val pairLeg: () => Unit = () => {
        // the label merge reads only the CHECKPOINTED fresh
        // pairs and the labels root — overlapped with the
        // pair/index write phase (the componentFoldIngest
        // convention, r19)
        graft.Phases.time(s"prep_pairs[b$batchId]") {
          graft.operators.Dedup.appendPairStore(b,
            idCol, textCol, s"$storeRoot/index",
            s"$storeRoot/pairs", shingleN, k, bands, threshold,
            commitTag = Some(tag),
            overlapWith = Some { fp =>
              graft.Phases.time(s"prep_label[b$batchId]") {
                graft.operators.LabelStore.update(s,
                  s"$storeRoot/labels",
                  b.select(col(idCol),
                    lit(null).cast("string").as("_tp_key")),
                  idCol, "_tp_key",
                  fp.select(col("doc_a"), col("doc_b")), tag)
              }
              ()
            })
        }
        ()
      }
      val flagsRoot = s"$storeRoot/flags"
      val flagsLeg: () => Unit = () =>
        graft.Phases.time(s"prep_flags[b$batchId]") {
          Dedup.sealOnce(s, flagsRoot, tag, s"flags-append-$tag") {
            Seq("flags" -> prepFlagRows(b, evalSh, idCol, textCol,
              sourceCol, contamN).repartition(1))
          }
        }
      graft.Par.run(Seq(pairLeg, flagsLeg))
      // PER-BATCH REPORT DELTAS — sealed LAST, the q214
      // convention on the text capstone: additive per-source
      // survival-count deltas plus a per-(source, mix-bucket)
      // histogram of quality survivors, derived purely from
      // at-rest pre/post store views (store minus/plus this
      // batch's seg files), so a crashed-after-stores retry
      // recomputes identical rows
      val deltasRoot = s"$storeRoot/deltas"
      graft.Phases.time(s"prep_deltas[b$batchId]") {
        Dedup.sealOnce(s, deltasRoot, tag, s"deltas-append-$tag") {
          val (cnt, hist) = prepDeltas(s, storeRoot, tag, idCol,
            sourceCol)
          Seq("counts" -> cnt.repartition(1),
            "mixhist" -> hist.repartition(1))
        }
      }
    }
  }

  /** The eval suite's distinct word `n`-gram shingles — the static
    * reference every contamination score is taken against. */
  private def evalShingles(evalDocs: DataFrame, textCol: String,
      n: Int): DataFrame =
    evalDocs
      .select(explode(graft.functions.text.wordShinglesFast(
        col(textCol), n)).as("shingle"))
      .distinct()

  /** The prep flags table's rows for a set of docs — their STATIC
    * per-doc attributes: exact key (md5 of the text), token count,
    * the q25 quality score, and the q135 contamination score against
    * the eval shingles `evalSh`. */
  private def prepFlagRows(d: DataFrame, evalSh: DataFrame,
      idCol: String, textCol: String, sourceCol: String,
      contamN: Int): DataFrame = {
    val scored = d
      .withColumn("_toks", graft.functions.text.tokens(col(textCol)))
      .withColumn("n_tok", size(col("_toks")).cast("long"))
      .withColumn("q", graft.functions.text
        .qualityScoreTokens(col(textCol), col("_toks")))
      .withColumn("ex_key", md5(col(textCol)))
    val contam = Dedup
      .contaminationScoresAgainst(d, evalSh, idCol, textCol, contamN)
      .select(col(idCol), col("contamination"))
    scored.join(contam, Seq(idCol))
      .select(col(idCol).cast("long").as(idCol),
        col(sourceCol).cast("string").as(sourceCol),
        col("ex_key"), col("n_tok"), col("q"), col("contamination"))
  }

  /** One batch's additive q153-report delta rows (counts, mixhist),
    * derived from at-rest pre/post store views (post = the stores,
    * pre = the stores minus this batch's seg files, so a
    * crashed-after-stores retry recomputes identical rows):
    *
    *  - counts: per source, signed deltas of the five survival
    *    counters (d_raw, d_exact, d_nd, d_ct, d_q) — a dethroned
    *    exact champion or near-dup keeper SUBTRACTS what it
    *    previously contributed;
    *  - mixhist: per (source, mix-bucket), signed (d_n, d_toks)
    *    over QUALITY SURVIVORS, where bucket = the q124 selection
    *    hash mod 1000 — the temperature mix is a global decision
    *    (cuts move with every batch), but bucket-grain partials
    *    make it summable: the report derives the cuts from the
    *    summed totals and counts the buckets under each source's
    *    cut, which is exactly the per-doc hash test.
    *
    * The affected set is closed under "flag could change": batch
    * docs, pre/post exact champions of batch keys, and every
    * pre/post member of components containing a touched or
    * key-flipped doc (components merge as units, so the pre-groups
    * and post-groups of touched docs cover both sides). The driver
    * kernel derives its per-doc flags while the affected state fits
    * under `cap`; the distributed twin takes over past it. */
  private[graft] def prepDeltas(s: SparkSession, storeRoot: String,
      tag: String, idCol: String, sourceCol: String,
      cap: Int = Dedup.DefaultMarkPruneCap): (DataFrame, DataFrame) =
    prepDeltaTail(
      prepDeltaDriver(s, storeRoot, tag, idCol, sourceCol, cap)
        .getOrElse(prepDeltaRows(s, storeRoot, tag, idCol, sourceCol,
          cap)),
      idCol, sourceCol)

  /** The prep flags table's read schema. */
  private def prepFlagsSchema(idCol: String, sourceCol: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField(idCol, LongType),
      StructField(sourceCol, StringType),
      StructField("ex_key", StringType),
      StructField("n_tok", LongType),
      StructField("q", DoubleType),
      StructField("contamination", DoubleType)))
  }

  /** The per-doc frame both delta paths hand to [[prepDeltaTail]]:
    * the affected docs' flags rows, `_seg` (the row is this batch's),
    * exact-champion status pre/post (`_tp_expre` is null where Spark
    * three-valued logic makes it so) and the pre/post near-dup
    * champion of the doc's component (null outside one). */
  private def prepDocSchema(idCol: String, sourceCol: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField(idCol, LongType),
      StructField(sourceCol, StringType),
      StructField("n_tok", LongType),
      StructField("q", DoubleType),
      StructField("contamination", DoubleType),
      StructField("_seg", BooleanType),
      StructField("_tp_expre", BooleanType),
      StructField("_tp_expost", BooleanType),
      StructField("_tp_cpre", LongType),
      StructField("_tp_cpost", LongType)))
  }

  /** A [[splitTable]] pair as one view tagged `_seg` (true for this
    * tag's seg files): PRE is the `!_seg` rows, POST all of them. */
  private def withSeg(seg: DataFrame, rest: DataFrame): DataFrame =
    seg.withColumn("_seg", lit(true))
      .unionByName(rest.withColumn("_seg", lit(false)))

  /** The driver kernel of the prep delta leg — the bounded regime
    * (the [[graft.operators.LabelStore.update]] `planDriver`
    * convention). Each step is one pushed `isin` read of a tagged
    * at-rest view, collected as `limit(cap + 1)`:
    *
    *  1. this batch's flags rows ∥ this batch's label docs;
    *  2. pre/post exact champion (min id) of the batch keys — the key
    *     flips;
    *  3. pre/post label of the core docs (batch docs ∪ flip docs);
    *  4. pre/post members of the affected groups;
    *  5. flags rows of the affected ids;
    *  6. pre/post champion of their keys (those step 2 did not read).
    *
    * The per-doc flags [[prepDeltaRows]] derives are then computed in
    * Scala, row for row (including its join multiplicities and
    * nulls), and returned as one local frame. None when any key set
    * or collected row set passes `cap`: the caller runs the twin. */
  private[graft] def prepDeltaDriver(s: SparkSession, storeRoot: String,
      tag: String, idCol: String, sourceCol: String,
      cap: Int = Dedup.DefaultMarkPruneCap): Option[DataFrame] = {
    val (segFl, oldFl) = splitTable(s, s"$storeRoot/flags/flags", tag,
      prepFlagsSchema(idCol, sourceCol))
    val (segLb, oldLb) = splitTable(s, s"$storeRoot/labels/labels", tag,
      graft.operators.LabelStore.LabelsSchema)
    val (fl, lb) = (withSeg(segFl, oldFl), withSeg(segLb, oldLb))
    def bounded(df: DataFrame): Option[Array[Row]] =
      Dedup.boundedRows(df, cap)
    def fetch(t: DataFrame, c: String, keys: Set[_],
        cols: String*): Option[Array[Row]] =
      Dedup.boundedIn(t.select(cols.map(col): _*), c, keys, cap)
    // (key, value, _seg) rows → per key, min value over the PRE rows
    // and over the POST rows (Spark's min: nulls skipped)
    def mins[K](rows: Array[Row]): (Map[K, Long], Map[K, Long]) = {
      val live = rows.filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      def min(rs: Array[Row]): Map[K, Long] = rs.groupBy(_.getAs[K](0))
        .map { case (k, g) => k -> g.map(_.getLong(1)).min }
      (min(live.filterNot(_.getBoolean(2))), min(live))
    }
    def keyMins(keys: Set[String]) = fetch(fl, "ex_key", keys,
      "ex_key", idCol, "_seg").map(mins[String])
    def labelMins(c: String, keys: Set[Long]) = fetch(lb, c, keys,
      "doc_id", "group", "_seg").map(mins[Long])
    def longs(rows: Array[Row], i: Int): Set[Long] =
      rows.iterator.filterNot(_.isNullAt(i)).map(_.getLong(i)).toSet
    def strings(rows: Array[Row], i: Int): Set[String] =
      rows.iterator.filterNot(_.isNullAt(i)).map(_.getString(i)).toSet
    val batch = graft.Par.run(Seq(
      () => bounded(segFl.select(col(idCol), col("ex_key"))),
      () => bounded(segLb.select(col("doc_id")))))
    for {
      segRows <- batch(0)
      segLbRows <- batch(1)
      batchKeys = strings(segRows, 1)
      (bkPre, bkPost) <- keyMins(batchKeys)
      flipDocs = batchKeys.flatMap { k =>
        val (kOld, kNew) = (bkPre.get(k), bkPost.get(k))
        if (kOld == kNew) Nil else kOld.toList ++ kNew
      }
      core = longs(segRows, 0) ++ longs(segLbRows, 0) ++ flipDocs
      (lPre, lPost) <- labelMins("doc_id", core)
      (gPre, gPost) <- labelMins("group",
        lPre.values.toSet ++ lPost.values)
      att <- fetch(fl, idCol, core ++ gPre.keySet ++ gPost.keySet,
        idCol, sourceCol, "ex_key", "n_tok", "q", "contamination",
        "_seg")
      (akPre, akPost) <- keyMins(strings(att, 2) -- batchKeys)
    } yield {
      val (kPre, kPost) = (bkPre ++ akPre, bkPost ++ akPost)
      // the twin's left join against the PRE flags rows repeats a
      // doc's rows once per PRE row
      val nPre = att.filterNot(_.getBoolean(6)).groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.length }
      // exact-champion status as Spark evaluates
      // `coalesce(pre, false) && id === kmin` (a null kmin gives null)
      def ex(id: Long, k: Option[Long]): java.lang.Boolean =
        k.fold[java.lang.Boolean](null)(m => m == id)
      val docs = att.map { r =>
        val (id, key) = (r.getLong(0), Option(r.getString(2)))
        val exPre: java.lang.Boolean =
          if (nPre.contains(id)) ex(id, key.flatMap(kPre.get))
          else false
        (r, exPre, ex(id, key.flatMap(kPost.get)))
      }
      // near-dup champion per component: argmax (n_tok, -id) over its
      // exact survivors (max(struct) orders a null n_tok first)
      val rank = Ordering.by((r: Row) =>
        (Option(r.getAs[java.lang.Long](3)).map(_.longValue),
          -r.getLong(0)))
      def champs(group: Map[Long, Long], exact: Array[Row])
          : Map[Long, Long] =
        exact.flatMap(r => group.get(r.getLong(0)).map(_ -> r))
          .groupBy(_._1)
          .map { case (g, rs) => g -> rs.map(_._2).max(rank).getLong(0) }
      val cPre = champs(gPre, docs.collect {
        case (r, e, _) if java.lang.Boolean.TRUE == e => r })
      val cPost = champs(gPost, docs.collect {
        case (r, _, e) if java.lang.Boolean.TRUE == e => r })
      def champ(group: Map[Long, Long], c: Map[Long, Long],
          id: Long): java.lang.Long =
        group.get(id).flatMap(c.get).fold[java.lang.Long](null)(
          Long.box)
      val rows = docs.toSeq.flatMap { case (r, exPre, exPost) =>
        val id = r.getLong(0)
        Seq.fill(nPre.getOrElse(id, 1))(Row(id, r.get(1), r.get(3),
          r.get(4), r.get(5), r.get(6), exPre, exPost,
          champ(gPre, cPre, id), champ(gPost, cPost, id)))
      }
      s.createDataFrame(java.util.Arrays.asList(rows: _*),
        prepDocSchema(idCol, sourceCol))
    }
  }

  /** The over-cap twin of [[prepDeltaDriver]]: the same per-doc
    * frame derived by a chain of checkpointed Spark queries, the only
    * form that fits the driver past `cap` (and the reference the
    * kernel's specs compare against). Every read is bounded by the
    * batch's touched state. Kept as separate checkpointed steps on
    * purpose: one fused lazy plan measured 17.5 s for the delta leg
    * (PLANS.md "Training-prep delta leg on the driver" — Catalyst
    * re-analyses the duplicated subtrees). */
  private[graft] def prepDeltaRows(s: SparkSession, storeRoot: String,
      tag: String, idCol: String, sourceCol: String,
      cap: Int = Dedup.DefaultMarkPruneCap): DataFrame = {
    val lbSchema = graft.operators.LabelStore.LabelsSchema
    val (segFl0, oldFl) = splitTable(s, s"$storeRoot/flags/flags", tag,
      prepFlagsSchema(idCol, sourceCol))
    val segFl = segFl0.localCheckpoint()
    val flagsAll = withSeg(segFl, oldFl)
    val (segLb, oldLb) =
      splitTable(s, s"$storeRoot/labels/labels", tag, lbSchema)
    val allLb = oldLb.unionByName(segLb)
    // PUSHED key-set reads (Dedup.restrictTo, r18 verdict #3): every
    // key set below (batch keys, affected groups, affected ids) is
    // bounded by the batch's touched state and already materialized,
    // so the flags/labels reads are stats/dictionary-pruned scans
    // with no join, not a broadcast + whole-store scan PER BATCH.
    // Doc-id sets prune row groups hard (flags/labels segments are
    // id-clustered per batch); ex_key (md5) sets cannot use min/max
    // stats but still drop the join exchange and keep
    // dictionary/bloom pruning. Past the cap each read semi-joins.
    // exact-champion flips among the batch's keys
    val batchKeys = segFl.select(col("ex_key")).distinct()
    val batchKeySet = Dedup.boundedKeys(segFl, "ex_key", cap)
    def keyMin(fl: DataFrame, ks: Option[Set[Any]],
        kf: => DataFrame): DataFrame =
      Dedup.restrictTo(fl, "ex_key", ks, cap)(
          _.join(kf, Seq("ex_key"), "left_semi"))
        .groupBy(col("ex_key"))
        .agg(min(col(idCol)).as("_tp_kmin"))
    val keyFlips = graft.Phases.time(s"tpd_flips[$tag]") {
      keyMin(flagsAll, batchKeySet, batchKeys)
        .withColumnRenamed("_tp_kmin", "_tp_knew")
        .join(keyMin(oldFl, batchKeySet, batchKeys)
          .withColumnRenamed("_tp_kmin", "_tp_kold"),
          Seq("ex_key"), "left")
        .filter(col("_tp_kold").isNull ||
          col("_tp_kold") =!= col("_tp_knew"))
        .localCheckpoint()
    }
    // core docs: the batch's flags and label docs, plus both sides
    // of every key flip
    val coreDocs = graft.Phases.time(s"tpd_core[$tag]") {
      segLb.select(col("doc_id"))
        .unionByName(segFl.select(col(idCol).as("doc_id")))
        .unionByName(keyFlips.select(col("_tp_knew").as("doc_id")))
        .unionByName(keyFlips.filter(col("_tp_kold").isNotNull)
          .select(col("_tp_kold").as("doc_id")))
        .distinct().localCheckpoint()
    }
    val coreDocSet = Dedup.boundedKeys(coreDocs, "doc_id", cap)
    def curLabels(lb: DataFrame): DataFrame =
      Dedup.restrictTo(lb, "doc_id", coreDocSet, cap)(
          _.join(coreDocs, Seq("doc_id"), "left_semi"))
        .groupBy(col("doc_id"))
        .agg(min(col("group")).as("group"))
    val affGroups = graft.Phases.time(s"tpd_groups[$tag]") {
      curLabels(oldLb).select(col("group"))
        .unionByName(curLabels(allLb).select(col("group")))
        .distinct().localCheckpoint()
    }
    // members of the affected components, pre and post. affGroups
    // can hold labels retired at the other side (a PRE label that
    // died this batch matches stale POST rows), so each side takes
    // min(group) per doc — exact for every fetched doc because an
    // affected doc's true current label is itself in affGroups
    // (components merge as units, and retired labels never return)
    val affGroupSet = Dedup.boundedKeys(affGroups, "group", cap)
    def membersIn(lb: DataFrame, as: String): DataFrame =
      Dedup.restrictTo(lb, "group", affGroupSet, cap)(
          _.join(affGroups, Seq("group"), "left_semi"))
        .groupBy(col("doc_id")).agg(min(col("group")).as(as))
    val memPre = membersIn(oldLb, "_tp_gpre")
    val memPost = membersIn(allLb, "_tp_gpost")
    val affIds = graft.Phases.time(s"tpd_ids[$tag]") {
      memPre.select(col("doc_id"))
        .unionByName(memPost.select(col("doc_id")))
        .unionByName(coreDocs)
        .distinct().localCheckpoint()
    }
    val affIdSet = Dedup.boundedKeys(affIds, "doc_id", cap)
    def affIdsIn(t: DataFrame): DataFrame =
      Dedup.restrictTo(t, idCol, affIdSet, cap)(_.join(
        affIds.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_semi"))
    val att = graft.Phases.time(s"tpd_att[$tag]") {
      affIdsIn(flagsAll).localCheckpoint()
    }
    val preSeen = affIdsIn(oldFl)
      .select(col(idCol), lit(true).as("_tp_pre"))
    // exact-champion status over ALL affected docs' keys
    val affKeys = att.select(col("ex_key")).distinct()
    val affKeySet = Dedup.boundedKeys(att, "ex_key", cap)
    val kPre = keyMin(oldFl, affKeySet, affKeys)
      .withColumnRenamed("_tp_kmin", "_tp_kpre")
    val kPost = keyMin(flagsAll, affKeySet, affKeys)
      .withColumnRenamed("_tp_kmin", "_tp_kpost")
    val base = graft.Phases.time(s"tpd_base[$tag]") {
      att
        .join(preSeen, Seq(idCol), "left")
        .join(kPre, Seq("ex_key"), "left")
        .join(kPost, Seq("ex_key"), "left")
        .join(memPre.withColumnRenamed("doc_id", idCol),
          Seq(idCol), "left")
        .join(memPost.withColumnRenamed("doc_id", idCol),
          Seq(idCol), "left")
        .withColumn("_tp_expre",
          coalesce(col("_tp_pre"), lit(false)) &&
            col(idCol) === col("_tp_kpre"))
        .withColumn("_tp_expost", col(idCol) === col("_tp_kpost"))
        .localCheckpoint()
    }
    // near-dup champions per affected component, pre and post —
    // the argmax over EXACT SURVIVORS of the component (q153's
    // resolveDuplicates rule: n_tok desc, ties min id)
    def champs(groupCol: String, exCol: String): DataFrame =
      base.filter(col(groupCol).isNotNull && col(exCol))
        .groupBy(col(groupCol))
        .agg(max(struct(col("n_tok").as("t"),
          (-col(idCol)).as("negid"))).as("_tp_best"))
        .select(col(groupCol),
          (-col("_tp_best").getField("negid")).as("_tp_champ"))
    graft.Phases.time(s"tpd_scored[$tag]") {
      base
        .join(champs("_tp_gpre", "_tp_expre")
          .withColumnRenamed("_tp_champ", "_tp_cpre"),
          Seq("_tp_gpre"), "left")
        .join(champs("_tp_gpost", "_tp_expost")
          .withColumnRenamed("_tp_champ", "_tp_cpost"),
          Seq("_tp_gpost"), "left")
        .select(prepDocSchema(idCol, sourceCol).fieldNames
          .map(col).toIndexedSeq: _*)
        .localCheckpoint()
    }
  }

  /** The shared tail of both delta paths: the per-doc frame's
    * near-dup / decontamination / quality flags, pre and post,
    * aggregated into (counts, mixhist). `d_raw` counts the batch's
    * own rows (`_seg`). */
  private[graft] def prepDeltaTail(docs: DataFrame, idCol: String,
      sourceCol: String): (DataFrame, DataFrame) = {
    val scored = docs
      .withColumn("_tp_ndpre",
        col("_tp_expre") && col(idCol) === col("_tp_cpre"))
      .withColumn("_tp_ndpost",
        col("_tp_expost") && col(idCol) === col("_tp_cpost"))
      .withColumn("_tp_ctpre",
        col("_tp_ndpre") && col("contamination") < 0.5)
      .withColumn("_tp_ctpost",
        col("_tp_ndpost") && col("contamination") < 0.5)
      .withColumn("_tp_qpre", col("_tp_ctpre") && col("q") >= 0.4)
      .withColumn("_tp_qpost", col("_tp_ctpost") && col("q") >= 0.4)
    def n(c: String): Column = when(col(c), 1L).otherwise(0L)
    def d(post: String, pre: String): Column = sum(n(post) - n(pre))
    val counts = scored.groupBy(col(sourceCol))
      .agg(sum(n("_seg")).as("d_raw"),
        d("_tp_expost", "_tp_expre").as("d_exact"),
        d("_tp_ndpost", "_tp_ndpre").as("d_nd"),
        d("_tp_ctpost", "_tp_ctpre").as("d_ct"),
        d("_tp_qpost", "_tp_qpre").as("d_q"))
      .select(col(sourceCol).as("source"), col("d_raw"),
        col("d_exact"), col("d_nd"), col("d_ct"), col("d_q"))
      .filter(col("d_raw") =!= 0L || col("d_exact") =!= 0L ||
        col("d_nd") =!= 0L || col("d_ct") =!= 0L ||
        col("d_q") =!= 0L)
    val sign = when(col("_tp_qpost") && !col("_tp_qpre"), 1L)
      .when(!col("_tp_qpost") && col("_tp_qpre"), -1L)
    val hist = scored
      .withColumn("_tp_sign", sign)
      .filter(col("_tp_sign").isNotNull)
      .withColumn("bucket", pmod(graft.functions.hashes.md5Hash60(
        concat(lit("mix-"), col(idCol).cast("string"))), lit(1000L)))
      .groupBy(col(sourceCol), col("bucket"))
      .agg(sum(col("_tp_sign")).as("d_n"),
        sum(col("_tp_sign") * col("n_tok")).as("d_toks"))
      .select(col(sourceCol).as("source"), col("bucket"),
        col("d_n"), col("d_toks"))
      .filter(col("d_n") =!= 0L || col("d_toks") =!= 0L)
    (counts, hist)
  }

  /** The per-doc resolved survival flags over the prep stores —
    * [[trainingPrepReport]]'s core, shared with the attach-time
    * bootstrap delta ([[trainingPrepBootstrap]]): exact keeper =
    * min id per sealed exact key (one window), near-dup keeper =
    * token-argmax within the label store's component restricted to
    * exact survivors (one window over the store-read labels),
    * floors compare the sealed scores. Returns the flags table plus
    * f_exact / f_nd / f_ct / f_q, eagerly checkpointed (multiple
    * consumers). */
  private def prepFlagsResolved(s: SparkSession, storeRoot: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flags = s.read.parquet(s"$storeRoot/flags/flags")
    val wEx = Window.partitionBy(col("ex_key")).orderBy(col(idCol))
    val base = flags
      .withColumn("f_exact", row_number().over(wEx) === 1)
      .localCheckpoint(eager = true)
    val labels = graft.operators.LabelStore
      .read(s, s"$storeRoot/labels")
      .withColumnRenamed("doc_id", "_tp_lid")
    val wNd = Window.partitionBy(col("_tp_comp"))
      .orderBy(col("n_tok").desc, col(idCol))
    val keepers = base.filter(col("f_exact"))
      .join(labels, base(idCol) === col("_tp_lid"), "left")
      .withColumn("_tp_comp", coalesce(col("group"), col(idCol)))
      .withColumn("_tp_rn", row_number().over(wNd))
      .filter(col("_tp_rn") === 1)
      .select(col(idCol), lit(true).as("k_nd"))
    val out = base
      .join(keepers, Seq(idCol), "left")
      .withColumn("f_nd",
        col("f_exact") && coalesce(col("k_nd"), lit(false)))
      .withColumn("f_ct", col("f_nd") && col("contamination") < 0.5)
      .withColumn("f_q", col("f_ct") && col("q") >= 0.4)
      .localCheckpoint(eager = true)
    // `out` is materialized (eager): the inner checkpoint's blocks
    // are dead lineage from here — free them NOW instead of leaving
    // them resident for the session (the free-after-use convention;
    // callers own freeing `out` once their aggregation lands)
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(base)
    out
  }

  /** ATTACH a training-prep store to a PRE-EXISTING corpus — the
    * componentFoldIngest bootstrap convention on the text capstone:
    * a stream arriving at a corpus that predates its prep store
    * pays the full-corpus pass ONCE (signature index + pair store
    * build, segmented label-store bootstrap, a sealed flags
    * backfill scoring every doc, and ONE bootstrap delta row set so
    * [[trainingPrepReportFromDeltas]] reconciles from genesis), and
    * every later [[trainingPrepIngest]] batch grows from there.
    * Exactly-once piecewise: the index/pair builds guard on their
    * own markers, the label bootstrap on its segmented markers, the
    * flags and delta backfills on `bootstrap` tags — a crashed
    * attach resumes at the piece that did not land. Genesis
    * equivalence is pinned in StreamingSpec: bootstrap(A) then
    * stream(B) reads identically to stream(A, B) from empty. */
  def trainingPrepBootstrap(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, evalDocs: DataFrame,
      storeRoot: String, shingleN: Int, k: Int, bands: Int,
      threshold: Double, contamN: Int = 3): Unit = {
    val s = docs.sparkSession
    val conf = s.sessionState.newHadoopConf()
    // 1. the signature index (marker = the LAST-written table)
    val idxMarker = new org.apache.hadoop.fs.Path(
      s"$storeRoot/index/shingles/_SUCCESS")
    if (!idxMarker.getFileSystem(conf).exists(idxMarker))
      graft.operators.Dedup.writeNearDupIndex(docs, idCol, textCol,
        shingleN, k, bands, s"$storeRoot/index")
    // 2. the pair store (ensure: lease + marker)
    graft.operators.Dedup.ensurePairStore(docs, idCol, textCol,
      s"$storeRoot/pairs", shingleN, k, bands, threshold)
    // 3. the label store — pair edges only (null keys: the q213
    // convention), segmented sealed bootstrap
    graft.operators.LabelStore.bootstrap(s, s"$storeRoot/labels",
      docs, idCol, lit(null).cast("string"),
      graft.operators.Dedup.readPairStore(s, s"$storeRoot/pairs")
        .select(col("doc_a"), col("doc_b")))
    // 4. flags backfill: the ingest leg's scoring, corpus-wide once
    Dedup.sealOnce(s, s"$storeRoot/flags", "bootstrap",
        "flags-append-bootstrap") {
      Seq("flags" -> prepFlagRows(docs, evalShingles(evalDocs, textCol,
        contamN), idCol, textCol, sourceCol, contamN))
    }
    // 5. ONE bootstrap delta row set = the attach-state report
    // (counts + full mix histogram), so the delta sums reconcile
    // from genesis — derived from the backfilled stores through the
    // same flag-resolution core the report uses
    lazy val flagged = prepFlagsResolved(s, storeRoot, idCol)
    val sealedNow = Dedup.sealOnce(s, s"$storeRoot/deltas",
        "bootstrap", "deltas-append-bootstrap") {
      val counts = flagged.groupBy(col(sourceCol))
        .agg(count(lit(1)).as("d_raw"),
          sum(when(col("f_exact"), 1L).otherwise(0L)).as("d_exact"),
          sum(when(col("f_nd"), 1L).otherwise(0L)).as("d_nd"),
          sum(when(col("f_ct"), 1L).otherwise(0L)).as("d_ct"),
          sum(when(col("f_q"), 1L).otherwise(0L)).as("d_q"))
        .withColumnRenamed(sourceCol, "source")
      val hist = flagged.filter(col("f_q"))
        .withColumn("bucket",
          pmod(graft.functions.hashes.md5Hash60(
            concat(lit("mix-"), col(idCol).cast("string"))),
            lit(1000L)))
        .groupBy(col(sourceCol), col("bucket"))
        .agg(count(lit(1)).as("d_n"),
          sum(col("n_tok")).as("d_toks"))
        .withColumnRenamed(sourceCol, "source")
      Seq("counts" -> counts.repartition(1),
        "mixhist" -> hist.repartition(1))
    }
    if (sealedNow)
      org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(flagged)
  }

  /** The q153 report as ONE SUM over the sealed per-batch delta
    * partials [[trainingPrepIngest]] maintains — no flags-store
    * windows, no label-store read, no per-doc pass: survival
    * counters sum per source; the temperature mix re-derives its
    * BigInt cuts from the histogram's summed token totals (the same
    * [[graft.operators.Relational.temperatureMixCutsFromCounts]]
    * arithmetic) and counts the buckets under each source's cut —
    * exactly the per-doc hash test, bucket grain. Shares q153's
    * oracle verbatim (q215). */
  def trainingPrepReportFromDeltas(s: SparkSession,
      storeRoot: String, sourceCol: String,
      budgetTokens: Long): DataFrame = {
    val counts = s.read.parquet(s"$storeRoot/deltas/counts")
      .groupBy(col("source"))
      .agg(sum(col("d_raw")).as("n_raw"),
        sum(col("d_exact")).as("n_exact"),
        sum(col("d_nd")).as("n_neardup"),
        sum(col("d_ct")).as("n_decontam"),
        sum(col("d_q")).as("n_quality"))
    val hist = s.read.parquet(s"$storeRoot/deltas/mixhist")
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("d_n")).as("n"), sum(col("d_toks")).as("toks"))
      .localCheckpoint()
    val totals = hist.groupBy(col("source"))
      .agg(sum(col("toks")).as("n"))
    val cuts = graft.operators.Relational
      .temperatureMixCutsFromCounts(totals, "source", "n",
        budgetTokens)
    val cutCol = cuts.foldLeft(lit(0L)) { case (e, (k, c)) =>
      when(col("source") === k, lit(c)).otherwise(e)
    }
    val mixed = hist.filter(col("bucket") < cutCol)
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_mixed"),
        sum(col("toks")).as("tokens_mixed"))
    val rep = counts.join(mixed, Seq("source"), "left")
      .select(col("source").as(sourceCol), col("n_raw"),
        col("n_exact"), col("n_neardup"), col("n_decontam"),
        col("n_quality"),
        coalesce(col("n_mixed"), lit(0L)).as("n_mixed"),
        coalesce(col("tokens_mixed"), lit(0L)).as("tokens_mixed"))
    // collect-and-free, the trainingPrepReport convention: the hist
    // checkpoint feeds the cuts AND the mixed aggregate — freeing it
    // needs the per-source rows (aggregate-sized) off the lazy plan
    val rows = rep.collect()
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(hist)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), rep.schema)
  }

  /** The manifest read over the stores [[trainingPrepIngest]]
    * maintains — q153's per-source report from pure store reads:
    * exact keeper = min doc id per sealed exact key; near-dup
    * keeper = quality-argmax (token count, ties min id) within the
    * label store's component, restricted to exact survivors (the
    * restriction-commutes argument in the ingest scaladoc);
    * contamination and quality floors compare the SEALED scores;
    * the temperature mix derives its integer cuts from the SEALED
    * token counts ([[graft.operators.Relational
    * .temperatureMixCutsFromCounts]] — same BigInt arithmetic, no
    * re-tokenization) and selects by the same salted hash. Cost at
    * read time: two store scans, three windows/aggregates — no CC,
    * no pair pass, nothing body-grain. */
  def trainingPrepReport(s: SparkSession, storeRoot: String,
      idCol: String, sourceCol: String,
      budgetTokens: Long): DataFrame = {
    val flagged = prepFlagsResolved(s, storeRoot, idCol)
    val qual = flagged.filter(col("f_q"))
    val cuts = graft.operators.Relational
      .temperatureMixCutsFromCounts(qual, sourceCol, "n_tok",
        budgetTokens)
    val mixed = graft.operators.Relational
      .temperatureMix(qual, col(sourceCol), col(idCol), cuts)
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_mixed"),
        sum(col("n_tok")).as("tokens_mixed"))
    val rep = flagged.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("f_exact"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("f_nd"), 1L).otherwise(0L)).as("n_neardup"),
        sum(when(col("f_ct"), 1L).otherwise(0L)).as("n_decontam"),
        sum(when(col("f_q"), 1L).otherwise(0L)).as("n_quality"))
      .join(mixed, Seq(sourceCol), "left")
      .select(col(sourceCol), col("n_raw"), col("n_exact"),
        col("n_neardup"), col("n_decontam"), col("n_quality"),
        coalesce(col("n_mixed"), lit(0L)).as("n_mixed"),
        coalesce(col("tokens_mixed"), lit(0L)).as("tokens_mixed"))
    // per-source rows: aggregate-sized by construction. Collect and
    // re-surface as a local frame so the resolved-flags checkpoint
    // can be FREED here — returning the lazy plan would pin its
    // blocks for the caller's lifetime (the free-after-use
    // convention; Bench/Verify never free inner checkpoints they
    // cannot see)
    val rows = rep.collect()
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(flagged)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), rep.schema)
  }

  /** Streaming CLASSIFIER GATE — the q156 hashed-ngram linear
    * classifier applied at ingest time: each micro-batch of crawl
    * docs is scored against the STATIC (bucket, weight) model
    * (CorpusStats.linearClassifierScores — broadcast model, batch
    * semantics inside foreachBatch), reduced to ADDITIVE per-source
    * integer partials (n_docs, n_accept, sum_logit, sum_feats — all
    * longs, so partial sums are order- and batching-independent),
    * and landed as one batchId-named sealed parquet segment —
    * EXACTLY-ONCE under micro-batch retry (the q111/q128/q139
    * convention: sealed segment skipped verbatim, half-landed
    * cleaned and redone). Zero streaming state; the live accept-rate
    * report is one re-aggregation of the partials and equals the
    * batch q156 answer bit for bit (shared oracle). */
  def classifierIngest(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, buckets: Int,
      storeRoot: String, checkpointDir: String): StreamingQuery =
    sealedPartialsIngest(docs, storeRoot, checkpointDir, "classify") {
      b => graft.operators.CorpusStats
        .classifierGateReport(b, idCol, textCol, sourceCol, buckets)
    }

  /** [[classifierIngest]] at a CALIBRATION-CHOSEN threshold — the
    * q201 loop's streaming leg (calibrate → choose → gate, applied
    * at ingest): the threshold is a STATIC training-run decision
    * (CorpusStats.chooseCalibratedThreshold on the at-rest corpus —
    * the temperatureMix static-recipe convention), each micro-batch
    * scores against the broadcast model and gates at `logit >=
    * thresholdLogit` (None = unachievable target → nothing accepted,
    * the q201 contract), and the ADDITIVE per-source integer
    * partials land as sealed batchId segments — exactly-once, zero
    * streaming state, drained union re-aggregates to the batch q203
    * answer bit for bit. */
  def calibratedClassifierIngest(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, buckets: Int,
      thresholdLogit: Option[Long], storeRoot: String,
      checkpointDir: String): StreamingQuery =
    sealedPartialsIngest(docs, storeRoot, checkpointDir, "calgate") {
      b => graft.operators.CorpusStats.classifierGateReportAt(
        b, idCol, textCol, sourceCol, buckets, thresholdLogit)
    }

  /** Streaming EMBEDDING MOMENTS — q137's exact integer moments kept
    * live over an embedding stream: each micro-batch's per-(label,
    * dim) partials (count, Σq, Σq² — additive by construction, the
    * q138 contract) land as one batchId-named sealed segment,
    * exactly-once under retry (sealed skip / half-landed redo). The
    * report is one re-aggregation of the partials and equals the
    * batch q137 answer bit for bit. Zero streaming state. */
  def momentsIngest(emb: DataFrame, vecCol: String, labelCol: String,
      storeRoot: String, checkpointDir: String): StreamingQuery =
    sealedPartialsIngest(emb, storeRoot, checkpointDir, "moments") {
      b => graft.operators.Similarity
        .embeddingMoments(b, vecCol, labelCol)
        .select(col("label"), col("pos"), col("n_vecs"),
          col("s_sum"), col("q_sum"))
    }

  /** Streaming NOVELTY MONITOR — the q141 curve kept live over the
    * crawl stream: the at-rest store holds every shingle's FIRST-SEEN
    * record (novel shingles of each batch append as a batchId-named
    * segment — store growth IS the novelty count, the q109/q111
    * store-growth idea at shingle grain), and each batch's metrics
    * row (docs, distinct shingles, novel shingles) lands beside it.
    * EXACTLY-ONCE under retry: the metrics seal (_SUCCESS, written
    * last) covers the pair — a sealed batch is skipped whole, a
    * half-landed one has both its segment and metrics cleaned and
    * redone, and the anti-join against the store then sees exactly
    * the pre-batch state again. Zero streaming state; batches must
    * arrive in crawl order for "earlier" to mean what q141 means.
    *
    * Known cost at scale: the per-batch anti-join scans the WHOLE
    * first-seen store (it grows like the corpus vocabulary —
    * sublinearly in tokens, but unboundedly). The production
    * completion is the q109 treatment: shingle-hash-bucket the
    * store's segments (Layout.clusteredAppend) so each batch's
    * anti-join prunes to the file buckets its own shingles hash
    * into, and compact on dilution — same lifecycle, same verbs. */
  def noveltyIngest(docs: DataFrame, textCol: String,
      storeRoot: String, checkpointDir: String, n: Int): StreamingQuery =
    microBatches(docs, checkpointDir, "novelty_append") { (s, b, batchId) =>
      StoreLease.withLease(s, storeRoot, s"novelty-b$batchId") {
        val seg = new Path(s"$storeRoot/shingles/batch_id=$batchId")
        val met = new Path(s"$storeRoot/metrics/batch_id=$batchId")
        val fs = seg.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(new Path(met, "_SUCCESS"))) {
          if (fs.exists(met)) fs.delete(met, true) // half-landed
          if (fs.exists(seg)) fs.delete(seg, true)
          val nDocs = b.count()
          val sh = b.select(explode(graft.functions.text
              .wordShinglesFast(col(textCol), n)).as("sh"))
            .distinct()
            .localCheckpoint(eager = true)
          val shinglesRoot = new Path(s"$storeRoot/shingles")
          val seen =
            if (fs.exists(shinglesRoot) &&
              fs.listStatus(shinglesRoot).nonEmpty)
              s.read.parquet(shinglesRoot.toString).select("sh")
            else s.createDataFrame(
              java.util.Collections.emptyList[Row](), sh.schema)
          val novel = sh.join(seen, Seq("sh"), "left_anti")
            .localCheckpoint(eager = true)
          novel.write.parquet(seg.toString)
          s.range(1).select(
              lit(batchId).cast("int").as("batch"),
              lit(nDocs).as("n_docs"),
              lit(sh.count()).as("ds"),
              lit(novel.count()).as("ns"))
            .write.parquet(met.toString) // seal written last
        }
      }
    }

  /** T7: tumbling event-time windows (streaming analog of q19). */
  def tumblingCounts(df: DataFrame, tsCol: String, delay: String,
      windowDur: String, keyCols: Column*): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur) +: keyCols: _*)
      .agg(count(lit(1)).as("n"))

  /** T7: gap-based session windows (streaming analog of q21). */
  def sessionCounts(df: DataFrame, tsCol: String, delay: String,
      gap: String, keyCols: Column*): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap) +: keyCols: _*)
      .agg(count(lit(1)).as("n"))

  /** T7: stream-stream interval INNER join — each left row pairs with
    * the right rows sharing its key whose event time is at most
    * `lookback` EARLIER (rightTs ∈ [leftTs - lookback, leftTs]): the
    * "purchase joined to its preceding clicks" shape. Both sides get
    * event-time watermarks and the join condition bounds both times,
    * which is exactly what Spark's symmetric hash join needs to EVICT
    * state — without the time bound each side's state would grow
    * forever at 100 TB/day; with it, rows are dropped once the other
    * side's watermark passes their eviction horizon. Column names
    * must be disjoint across the two inputs (rename before calling —
    * self-joins otherwise resolve ambiguously). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTsCol: String, rightTsCol: String,
      delay: String, lookback: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, delay)
    val r = right.withWatermark(rightTsCol, delay)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTsCol) >= col(leftTsCol) - expr(s"INTERVAL $lookback") &&
        col(rightTsCol) <= col(leftTsCol))
  }

  /** T7 on Spark 4's NEW arbitrary-state API (transformWithState +
    * StatefulProcessor, state store = RocksDB): per-key arrival
    * sequencer — every (key, ts, id) row gets its 1-based position in
    * the key's event-time order, with the per-key count carried
    * across micro-batches in a ValueState. Rows are sorted by
    * (ts, id) WITHIN each batch before numbering, so the output is
    * deterministic and, when batches arrive in event-time order (one
    * AvailableNow batch trivially qualifies), equals the batch
    * ROW_NUMBER window — which is exactly what the q87 oracle checks.
    * vs mapGroupsWithState ([[runningCounts]]): typed per-state
    * encoders, multiple named states per key, TTL support, and timers
    * — the API the 100 TB ingest path should be written against. */
  def arrivalSequence(ds: Dataset[(Long, Long, Long)]): Dataset[(Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new ArrivalSeqProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Run `body` with the RocksDB state store provider set on the
    * session — transformWithState requires it. The conf is read at
    * stream START, so only queries started inside `body` are
    * affected; the previous provider (or its absence) is restored on
    * every exit path. */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T =
    GraftSession.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state" +
          ".RocksDBStateStoreProvider"))(body)

  private class ArrivalSeqProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), (Long, Long, Long)] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      val sorted = rows.toArray.sortBy(r => (r._2, r._3))
      var n = if (seen.exists()) seen.get() else 0L
      val out = sorted.map { r => n += 1; (key, r._3, n) }
      seen.update(n)
      out.iterator
    }
  }

  /** T7: arbitrary keyed state — running per-key totals that survive
    * across micro-batches (mapGroupsWithState). */
  def runningCounts(ds: Dataset[(String, Long)]): Dataset[(String, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size
          state.update(c)
          (key, c)
      }
  }

  /** T6/T7: streaming per-key order monitor via flatMapGroupsWithState
    * — keeps each key's highest seen `seq` across micro-batches and
    * emits one row per OUT-OF-ORDER arrival (seq ≤ the watermark seen
    * so far). Empty output stream == the replay ordering contract
    * holds end to end. */
  def orderViolations(ds: Dataset[(String, Long)]): Dataset[(String, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          var maxSeen = state.getOption.getOrElse(Long.MinValue)
          val bad = scala.collection.mutable.ListBuffer.empty[(String, Long, Long)]
          rows.foreach { case (_, seq) =>
            if (seq <= maxSeen) bad += ((key, seq, maxSeen))
            else maxSeen = seq
          }
          state.update(maxSeen)
          bad.iterator
      }
  }

  /** K3/K4: producer sink seam — each micro-batch is handed to the
    * injected `send` function partition-by-partition, one producer
    * per task in production (the batching/linger knobs of the
    * reference's client, pulsar_remote_inspector.py:174-179, live in
    * the injected client). Combined with [[syntheticPublishStream]]'s
    * rate source and a ProcessingTime trigger this reproduces the
    * rate-limited async publish loop declaratively. */
  def toProducerSink(df: DataFrame, checkpointDir: String,
      send: Iterator[org.apache.spark.sql.Row] => Unit,
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds")): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.foreachPartition(send)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** K5: console sink (streaming show). */
  def toConsole(df: DataFrame, numRows: Int = 20): StreamingQuery =
    df.writeStream.format("console")
      .option("numRows", numRows.toLong)
      .option("truncate", false)
      .start()

  /** A4/T5: throughput metering — the reference's every-500-messages
    * progress print (pulsar_remote_inspector.py:311-314) becomes a
    * listener fed by the engine's own per-batch progress events. */
  final class ThroughputListener extends StreamingQueryListener {
    val totalRows = new AtomicLong(0L)
    @volatile var lastRowsPerSecond: Double = 0.0
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      totalRows.addAndGet(e.progress.numInputRows)
      lastRowsPerSecond = e.progress.processedRowsPerSecond
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
