package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERSISTED UNION-FIND LABEL STORE — the at-rest (doc → component
  * label) table that makes fold-at-ingest's per-batch labeling a
  * POINT LOOKUP + BOUNDED MERGE instead of a per-batch component
  * re-walk (the [[Dedup.componentGroups]] /
  * [[Dedup.componentGroupsBounded]] regimes both re-derive labels
  * from the edge store every micro-batch; even the bounded form pays
  * a frontier-fixpoint scheduler floor per batch — ProbeScale
  * `foldcc`). Labels are [[Dedup.componentGroups]]' exactly: the
  * component min member id over the union of near-dup pair edges and
  * same-key edges — the store is a PHYSICAL move, not a semantic one
  * (LabelStoreSpec pins store ≡ componentGroups on every batch
  * prefix; StreamingSpec pins the store-backed ingest ≡ the CC one).
  *
  * Layout under `root`: table `labels` (doc_id, group) and table
  * `anchors` (ckey, doc_id), both grown by the
  * [[Dedup.taggedSegmentAppend]] sealed-segment convention (stage →
  * move-in → `_commits/<tag>` marker), so every batch's update is
  * EXACTLY-ONCE under micro-batch retry. The store leans on one
  * structural invariant, MERGE MONOTONICITY: components only ever
  * merge, so a doc's label strictly DECREASES across its segment
  * rows, which gives three O(1)-per-row read rules with no
  * latest-wins bookkeeping (no seq column, no window):
  *  - a doc's CURRENT label = min(group) over its rows;
  *  - a RETIRED label never returns (when label g dies, every row
  *    holding g is rewritten in the same sealed segment, and any
  *    later component containing doc g has min < g) — so a row whose
  *    group is a current label IS current, making group-filtered
  *    membership reads ([[membersOf]]) exact without deduplication;
  *  - per doc each group value appears at most once, so at most one
  *    of its rows matches any current-label filter.
  *
  * Scale shape (100 TB): per batch the store is touched through
  * three pushed-predicate reads — batch-node `isin` into `labels`
  * (current-label lookup), batch-key `isin` into `anchors` (same-key
  * edge endpoints), retired-label `isin` into `labels` (the rewrite
  * scan, whose row volume is the merged components' membership —
  * data-proportional, no rounds). The merge itself runs as a
  * DRIVER-SIDE union-find over the batch's edges up to
  * [[DefaultUfEdgeCap]] (collected as boxed `Row`s, ~100 bytes
  * each — millions fit a driver; a dup-dominated batch whose
  * cliques exceed even that first collapses its OWN connectivity
  * to a spanning star, one batch-grain CC) — zero CC rounds on the
  * common path; only a pathological batch degrades to the
  * distributed twin ([[Dedup.connectedComponentsStar]] at label
  * grain).
  * [[Dedup.DefaultMarkPruneCap]] separately bounds the literal
  * `isin` sets pushed into the store scans (the splitLeakageIndexed
  * convention); above it each scan swaps to its semi-join twin
  * while the merge stays on the driver. */
object LabelStore {

  /** Edge/row budget of the driver-side union-find. Both bounded
    * collects materialize boxed `Row`s (~100 bytes for an edge's two
    * boxed longs; a batch row adds its key string), so near the
    * default the two collects hold on the order of 1 GB of transient
    * driver heap — far above any sane micro-batch's TOUCHED relation,
    * yet a hard bound so a pathological batch degrades to the
    * distributed twin instead of an OOM. Distinct from
    * [[Dedup.DefaultMarkPruneCap]], which bounds literal isin pushes
    * into store scans. */
  val DefaultUfEdgeCap: Int = 5000000

  val LabelsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("group", LongType)))
  val AnchorsSchema: StructType = StructType(Seq(
    StructField("ckey", StringType), StructField("doc_id", LongType)))

  private def readTable(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Current labels of every doc in the store: min(group) per doc
    * (the merge-monotonicity read rule). One aggregation over the
    * whole store — the at-rest consumer's form (q209-class reports,
    * refold); per-batch consumers use [[lookup]]/[[membersOf]]. */
  def read(spark: SparkSession, root: String): DataFrame =
    readTable(spark, s"$root/labels", LabelsSchema)
      .groupBy(col("doc_id")).agg(min(col("group")).as("group"))

  /** Point-fetch the current labels of `ids` (a (doc_id) frame):
    * bounded id sets push as an `isin` into the labels read
    * (row-group pruning — the store is the scan's only input); over
    * the cap the semi-join twin takes over. Docs absent from the
    * store are absent from the result (callers coalesce to own id:
    * an unseen doc is its own component). */
  def lookup(spark: SparkSession, root: String, ids: DataFrame,
      pruneCap: Int = Dedup.DefaultMarkPruneCap): DataFrame = {
    val idF = ids.select(col(ids.columns.head).cast("long")
      .as("doc_id")).distinct()
    val keys: Array[Any] =
      idF.limit(pruneCap + 1).collect().map(_.get(0))
    val t = readTable(spark, s"$root/labels", LabelsSchema)
    val pre =
      if (keys.length <= pruneCap)
        t.filter(col("doc_id").isin(keys.toIndexedSeq: _*))
      else t.join(idF, Seq("doc_id"), "semi")
    pre.groupBy(col("doc_id")).agg(min(col("group")).as("group"))
  }

  /** Full membership of the components labeled by `groups` (a
    * one-column frame of CURRENT labels): a group-filtered read —
    * exact without latest-wins by merge monotonicity (a row holding
    * a current label is current). The drift monitor's form: touched
    * components' members are one pushed-predicate scan, never a
    * frontier walk. */
  def membersOf(spark: SparkSession, root: String, groups: DataFrame,
      pruneCap: Int = Dedup.DefaultMarkPruneCap): DataFrame = {
    val gF = groups.select(col(groups.columns.head).cast("long")
      .as("group")).distinct()
    val keys: Array[Any] =
      gF.limit(pruneCap + 1).collect().map(_.get(0))
    val t = readTable(spark, s"$root/labels", LabelsSchema)
    if (keys.length <= pruneCap)
      t.filter(col("group").isin(keys.toIndexedSeq: _*))
    else t.join(gF, Seq("group"), "semi")
  }

  /** Seed the store from at-rest state — the once-per-store form for
    * a stream attaching to a corpus that predates its label store
    * (docs + pair store already populated): one full
    * [[Dedup.componentGroups]] run, landed as PER-ID-RANGE SEALED
    * SEGMENTS (`<tag>-p<k>`, ~`segmentRows` rows each,
    * doc-range-clustered — the compact-labels layout, so a fresh
    * store starts compact) whose union ≡ the monolithic bootstrap
    * (LabelStoreSpec equality pin). The final `tag` marker seals
    * only after every range landed — it stays the single
    * cross-restart truth a consumer checks.
    *
    * Crash-resume protocol (the reason retry granularity tracks a
    * SEGMENT instead of the corpus): the CC result is first frozen
    * into a scratch layout under the store root with a done marker;
    * segments seal only FROM a done scratch, each under its own
    * commit marker, so a retry reuses the frozen scratch and
    * re-seals only the missing segments (no CC re-run); scratch
    * deletes before the final marker (a crash in that window
    * re-runs the CC once, finds every segment committed, and only
    * re-seals the marker). Segment assignment is VALUE-deterministic
    * — fixed-width doc-id ranges for labels, a stable key hash for
    * anchors, both derived from (n, min, max) of the same data — so
    * even a regenerated scratch reproduces every segment bit for
    * bit and committed segments can never overlap or miss rows
    * against a sibling from another attempt. (The cost: segment
    * SIZES are balanced only as far as the id distribution is —
    * dense auto-increment ids split evenly, pathological sparse ids
    * skew sizes but never correctness.) Empty stores seal an empty
    * bootstrap — the marker alone then certifies "label store
    * current from genesis". */
  def bootstrap(spark: SparkSession, root: String, docs: DataFrame,
      idCol: String, urlKey: Column, pairs: DataFrame,
      tag: String = "bootstrap",
      segmentRows: Long = 8000000L): Unit = {
    if (Dedup.isBatchCommitted(spark, root, tag)) return
    require(segmentRows > 0, s"segmentRows must be > 0: $segmentRows")
    val conf = spark.sessionState.newHadoopConf()
    val scratch =
      new org.apache.hadoop.fs.Path(root, s".bootstrap-scratch-$tag")
    val fs = scratch.getFileSystem(conf)
    val done =
      new org.apache.hadoop.fs.Path(scratch, "_SCRATCH_DONE")
    if (!fs.exists(done)) {
      fs.delete(scratch, true) // stale from a crashed CC attempt
      val labels = Dedup.componentGroups(docs, idCol, urlKey, pairs)
        .select(col(idCol).cast("long").as("doc_id"),
          col("group").cast("long").as("group"))
      val anchors = docs
        .select(col(idCol).cast("long").as("doc_id"),
          urlKey.cast("string").as("ckey"))
        .filter(col("ckey").isNotNull)
        .groupBy(col("ckey")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("ckey"), col("doc_id"))
      val labelsMat = labels.localCheckpoint(eager = true)
      val n = labelsMat.count()
      val files = math.max(1L,
        (n + segmentRows - 1L) / segmentRows).toInt
      if (n > 0) {
        val b = labelsMat
          .agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        val segWidth = math.max(1L, (mx - mn) / files + 1L)
        labelsMat
          .withColumn("_seg",
            ((col("doc_id") - mn) / segWidth).cast("int"))
          .repartition(files, col("_seg"))
          .sortWithinPartitions(col("_seg"), col("doc_id"))
          .write.partitionBy("_seg").parquet(
            new org.apache.hadoop.fs.Path(scratch, "labels").toString)
        anchors
          .withColumn("_seg",
            pmod(xxhash64(col("ckey")), lit(files.toLong))
              .cast("int"))
          .repartition(files, col("_seg"))
          .sortWithinPartitions(col("_seg"), col("ckey"))
          .write.partitionBy("_seg").parquet(
            new org.apache.hadoop.fs.Path(scratch, "anchors")
              .toString)
      }
      org.apache.spark.sql.graft.Bridge
        .freeLocalCheckpoint(labelsMat)
      fs.create(done, true).close()
    }
    def segIdsOf(table: String): Seq[Int] = {
      val d = new org.apache.hadoop.fs.Path(scratch, table)
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).filter(_.isDirectory).map(_.getPath
          .getName).filter(_.startsWith("_seg="))
        .map(_.stripPrefix("_seg=").toInt).toIndexedSeq
    }
    def segRead(table: String, k: Int,
        schema: StructType): DataFrame = {
      val d = new org.apache.hadoop.fs.Path(scratch,
        s"$table/_seg=$k")
      if (fs.exists(d)) spark.read.schema(schema).parquet(d.toString)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
    }
    (segIdsOf("labels") ++ segIdsOf("anchors")).distinct.sorted
      .foreach { k =>
        val segTag = s"$tag-p$k"
        Dedup.sealOnce(spark, root, segTag, s"labels-$segTag") {
          Seq("labels" -> segRead("labels", k, LabelsSchema),
            "anchors" -> segRead("anchors", k, AnchorsSchema))
        }
      }
    fs.delete(scratch, true)
    graft.sources.StoreLease.withLease(spark, root,
        s"labels-$tag") {
      Dedup.taggedSegmentAppend(spark, root, tag, Seq.empty)
    }
  }

  /** ONE BATCH of the incremental union-find: merge this
    * micro-batch's new edges into the store and return the sealed
    * segment's rows — the batch docs' labels plus every rewritten
    * row (docs whose component merged into a smaller label).
    *
    * `batchDocs` is the batch at (id, key) grain; `batchPairs` the
    * batch's NEW near-dup pair rows (the [[Dedup.appendPairStore]]
    * return — every new edge has a batch endpoint, which is what
    * bounds the touched-label set). Same-key edges are derived from
    * the `anchors` table: a batch doc keyed K links to K's anchor
    * (the first doc ever seen with K) — connectivity-equivalent to
    * componentGroups' key-min edges, and label arithmetic never
    * depends on WHICH member anchors the key (labels are min over
    * actual member ids).
    *
    * Exactly-once under retry: a committed tag returns the sealed
    * segment's rows verbatim; an uncommitted retry cleans its own
    * half-landed seg files BEFORE the store reads (so the as-of view
    * is the pre-batch state) and redoes the identical update. A
    * committed tag whose seg files were removed by `compact-labels`
    * (markers survive compaction) recomputes the batch docs' rows
    * from the store itself via [[lookup]] — the store holds their
    * current labels, and a replayed batch is the stream's NEXT
    * batch, so no later merge can have moved them: without this, a
    * crash between the label append and the fold-sink write followed
    * by compaction would make the replay's fast path return an empty
    * frame and the batch's manifest partition would silently never
    * land. */
  def update(spark: SparkSession, root: String, batchDocs: DataFrame,
      idCol: String, keyCol: String, batchPairs: DataFrame,
      tag: String,
      pruneCap: Int = Dedup.DefaultMarkPruneCap,
      ufCap: Int = DefaultUfEdgeCap): DataFrame = {
    if (Dedup.isBatchCommitted(spark, root, tag)) {
      val seg = sealedSegment(spark, root, tag)
      val compacted = seg.isEmpty && !batchDocs.isEmpty
      return if (!compacted) seg
      else lookup(spark, root,
          batchDocs.select(col(idCol)), pruneCap)
        .select(col("doc_id"), col("group"))
    }
    Dedup.cleanTaggedSegments(spark, root, tag,
      Seq("labels", "anchors"))
    val b = batchDocs.select(
        col(idCol).cast("long").as("doc_id"),
        col(keyCol).cast("string").as("ckey"))
      .distinct()
    val pairs = batchPairs.select(col("doc_a").cast("long"),
      col("doc_b").cast("long"))
    // per-batch job economy (a streaming consumer pays this EVERY
    // micro-batch, ProbeScale foldlabel): the two bounding collects
    // run directly on the lazy frames (no checkpoint jobs), the
    // driver plan's segment stays LAZY through the staged write (the
    // rewrite scan reads the table once, inside that write, before
    // any file moves), and the returned frame is the SEALED segment
    // read back — literally "the sealed segment's rows", with no
    // eager materialization job
    // TWO separate bounds (they answer different questions):
    //  - `ufCap` bounds what the DRIVER MERGE ingests — edges and
    //    batch rows arrive as boxed `Row`s (~100 bytes each), so
    //    millions fit a driver and a Scala union-find over them is
    //    sub-second; a dup-dominated batch (near-dup cliques carry
    //    C(n,2) pairs) stays on the fast driver path instead of
    //    falling into distributed label-grain CC rounds;
    //  - `pruneCap` keeps its store-wide meaning (the
    //    splitLeakageIndexed convention): the largest literal set
    //    pushed as an isin into a store scan — above it the scans
    //    swap to their semi-join twins but the merge STAYS on the
    //    driver.
    val storeTag = new org.apache.hadoop.fs.Path(root)
      .getParent.getName
    // the two bounding collects are independent jobs (batch rows vs
    // the pair feed — for streaming consumers the latter executes
    // the whole mark); overlap them (graft.Par, r19)
    val collected = graft.Phases.time(
        s"ls_collect:$storeTag[$tag]") {
      graft.Par.run(Seq(
        () => b.limit(ufCap + 1).collect(),
        () => pairs.limit(ufCap + 1).collect()))
    }
    val (bRows, pRows0) = (collected(0), collected(1))
    // beyond even ufCap: collapse the batch's OWN connectivity to a
    // spanning star first — one BATCH-grain CC, connectivity-exact
    // (every member linked to its batch-component min), edge count
    // ≤ touched nodes — and retry the bounded collect
    val (pairsEff, pRows) =
      if (pRows0.length <= ufCap) (pairs, pRows0)
      else {
        val star = Dedup.connectedComponentsStar(pairs,
            "doc_a", "doc_b")
          .toDF("doc_a", "doc_b")
          .filter(col("doc_a") =!= col("doc_b"))
          .localCheckpoint() // read by the collect and (maybe) the
                             // distributed fallback's joins
        (star, star.limit(ufCap + 1).collect())
      }
    val driverSized =
      bRows.length <= ufCap && pRows.length <= ufCap
    val (segLabels, newAnchors) = graft.Phases.time(
        s"ls_plan:$storeTag[$tag]") {
      if (driverSized)
        planDriver(spark, root, bRows.map(r =>
            (r.getLong(0), Option(r.getString(1)))),
          pRows.map(r => (r.getLong(0), r.getLong(1))), pruneCap)
      else {
        val (l, a) = planDistributed(spark, root,
          b.localCheckpoint(), pairsEff)
        // over-cap frames are read twice (staging write + return
        // would recompute them AFTER the append mutated the store)
        (l.localCheckpoint(eager = true), a)
      }
    }
    graft.Phases.time(s"ls_append:$storeTag[$tag]") {
      graft.sources.StoreLease.withLease(spark, root,
          s"labels-append-$tag") {
        // ONE file per table per batch (the manifest-layout finding:
        // steady-state readers pay file count; compact-labels is the
        // backstop, not the first line)
        Dedup.taggedSegmentAppend(spark, root, tag,
          Seq("labels" -> segLabels.repartition(1),
            "anchors" -> newAnchors.repartition(1)))
      }
    }
    sealedSegment(spark, root, tag)
  }

  /** The sealed `tag` segment's label rows (empty frame for an
    * empty sealed segment). Explicit file list, not the glob string:
    * a glob path makes the reader probe it as a streaming-sink
    * metadata dir first (a logged FileNotFoundException WARN on
    * every sealed retry). */
  private def sealedSegment(spark: SparkSession, root: String,
      tag: String): DataFrame = {
    val seg = new org.apache.hadoop.fs.Path(
      s"$root/labels/seg-$tag-*")
    val fs = seg.getFileSystem(spark.sessionState.newHadoopConf())
    val matches = fs.globStatus(seg)
    if (matches == null || matches.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        LabelsSchema)
    else spark.read.schema(LabelsSchema)
      .parquet(matches.map(_.getPath.toString).toIndexedSeq: _*)
  }

  /** The bounded (common) regime: two collects bound the whole merge
    * — the batch's (id, key) rows and its pair rows — after which the
    * union-find runs on the driver over LABEL-grain edges (≤ one per
    * batch edge) and the only distributed work left is the pushed
    * rewrite scan. Returns (segment label rows, new anchor rows). */
  private def planDriver(spark: SparkSession, root: String,
      bRows: Array[(Long, Option[String])],
      pRows: Array[(Long, Long)], pruneCap: Int)
      : (DataFrame, DataFrame) = {
    val batchIds = bRows.map(_._1)
    val batchKeys = bRows.flatMap(_._2).distinct
    // anchors of the batch's keys (≤ one row per key by the
    // append-if-absent rule below)
    import spark.implicits._
    // isin when the key set fits the push cap, semi-join twin above
    // it (the splitLeakageIndexed convention) — the merge itself
    // stays on the driver either way
    def fetch(t: DataFrame, c: String, keys: Seq[Any]): DataFrame =
      if (keys.size <= pruneCap) t.filter(col(c).isin(keys: _*))
      else t.join(broadcast(keys.map(k => Tuple1(k.toString))
          .toDF("_ls_k")),
        col(c).cast("string") === col("_ls_k"), "left_semi")
    val anchorMap: Map[String, Long] =
      if (batchKeys.isEmpty) Map.empty
      else fetch(readTable(spark, s"$root/anchors", AnchorsSchema),
          "ckey", batchKeys.toIndexedSeq)
        .groupBy(col("ckey")).agg(min(col("doc_id")).as("doc_id"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // key edges: within-batch to the batch key-min, plus one edge
    // from that min to the key's at-rest anchor (transitively the
    // whole key group connects)
    val byKey = bRows.collect { case (id, Some(k)) => (k, id) }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
    val keyEdges = byKey.iterator.flatMap { case (k, ids) =>
      val m = ids.min
      val within = ids.iterator.filter(_ != m).map(i => (i, m))
      anchorMap.get(k).filter(_ != m).map(a => (m, a)) match {
        case Some(e) => within ++ Iterator((e._1, e._2))
        case None => within
      }
    }.toArray
    val edges = pRows ++ keyEdges
    val nodes = (batchIds ++ edges.iterator
      .flatMap(e => Iterator(e._1, e._2))).distinct
    // current labels of every touched node (absent ⇒ own id)
    val curMap: Map[Long, Long] =
      if (nodes.isEmpty) Map.empty[Long, Long]
      else fetch(readTable(spark, s"$root/labels", LabelsSchema),
          "doc_id", nodes.toIndexedSeq)
        .groupBy(col("doc_id")).agg(min(col("group")).as("group"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val curLabel: Map[Long, Long] = curMap.withDefault(identity)
    // union-find over label-grain edges, min label wins
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(curLabel(a)), find(curLabel(b)))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val changed: Map[Long, Long] = parent.keys
      .map(l => l -> find(l)).filter { case (o, n) => o != n }.toMap
    val batchIdSet = batchIds.toSet
    // rows the segment must carry beyond the rewrite scan: the batch
    // docs, plus any edge endpoint absent from BOTH the store and the
    // batch whose merged label differs from its own id — without its
    // row a later lookup would coalesce it back to its own id (a
    // wrong label). Shipped pair feeds only emit edges with a store-
    // or batch-resident far endpoint, but the store's correctness
    // must not hang on an unstated caller precondition.
    val absentRows = nodes.iterator
      .filterNot(batchIdSet.contains).filterNot(curMap.contains)
      .map(id => (id, find(id)))
      .filter { case (id, g) => g != id }.toArray
    val batchRows =
      batchIds.map(id => (id, find(curLabel(id)))) ++ absentRows
    val segLabels =
      if (changed.isEmpty)
        batchRows.toSeq.toDF("doc_id", "group")
      else {
        // the rewrite scan: every at-rest row holding a retired
        // label is that doc's CURRENT row (merge monotonicity) —
        // one pushed filter + one broadcast remap, no rounds; past
        // the push cap the retired set rides the same semi-join twin
        // as every other over-cap store probe (parquet stats keep
        // pruning under the broadcast join's runtime filter instead
        // of an unpushed full-table scan)
        val remap = broadcast(
          changed.toSeq.toDF("group", "_ls_new"))
        val retired = readTable(spark, s"$root/labels", LabelsSchema)
        val pushed = fetch(retired, "group", changed.keys.toIndexedSeq)
        val exclBatch =
          if (batchIdSet.size <= pruneCap)
            (d: DataFrame) => d.filter(
              !col("doc_id").isin(batchIdSet.toIndexedSeq: _*))
          else (d: DataFrame) => d.join(
            broadcast(batchIds.toIndexedSeq.toDF("doc_id")),
            Seq("doc_id"), "left_anti")
        val rewrites = exclBatch(pushed
          .join(remap, Seq("group"))
          .select(col("doc_id"), col("_ls_new").as("group")))
        batchRows.toSeq.toDF("doc_id", "group")
          .unionByName(rewrites)
      }
    val newAnchors = byKey.iterator
      .filterNot { case (k, _) => anchorMap.contains(k) }
      .map { case (k, ids) => (k, ids.min) }.toSeq
      .toDF("ckey", "doc_id")
    (segLabels, newAnchors)
  }

  /** The over-cap regime: every driver collect swaps for its
    * semi-join twin and the label-grain merge runs
    * [[Dedup.connectedComponentsStar]] — at that batch size the
    * sequential scans read less than scattered per-key probes would
    * (the pruneCap convention), and label-grain CC is already
    * collapsed (≪ doc-grain rounds). */
  private def planDistributed(spark: SparkSession, root: String,
      b: DataFrame, pairs: DataFrame): (DataFrame, DataFrame) = {
    val labels = readTable(spark, s"$root/labels", LabelsSchema)
    val anchors = readTable(spark, s"$root/anchors", AnchorsSchema)
    val bKeys = b.filter(col("ckey").isNotNull)
    val keyMin = bKeys.groupBy(col("ckey"))
      .agg(min(col("doc_id")).as("_ls_min"))
    val withinE = bKeys.join(keyMin, Seq("ckey"))
      .filter(col("doc_id") =!= col("_ls_min"))
      .select(col("doc_id").as("doc_a"), col("_ls_min").as("doc_b"))
    val anchorE = keyMin
      .join(anchors.groupBy(col("ckey"))
        .agg(min(col("doc_id")).as("_ls_anchor")), Seq("ckey"))
      .filter(col("_ls_min") =!= col("_ls_anchor"))
      .select(col("_ls_min").as("doc_a"),
        col("_ls_anchor").as("doc_b"))
    val edges = pairs.unionByName(withinE).unionByName(anchorE)
      .localCheckpoint()
    val nodes = edges.select(col("doc_a").as("doc_id"))
      .unionByName(edges.select(col("doc_b").as("doc_id")))
      .unionByName(b.select(col("doc_id")))
      .distinct().localCheckpoint()
    val cur = nodes
      .join(labels.join(nodes, Seq("doc_id"), "semi")
          .groupBy(col("doc_id")).agg(min(col("group")).as("_ls_g")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_ls_g"), col("doc_id")).as("_ls_cur"),
        col("_ls_g").isNotNull.as("_ls_in_store"))
      .localCheckpoint()
    val labelEdges = edges
      .join(cur.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("_ls_cur", "_ls_la"), Seq("doc_a"))
      .join(cur.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("_ls_cur", "_ls_lb"), Seq("doc_b"))
      .select(col("_ls_la"), col("_ls_lb"))
    val cc = Dedup.connectedComponentsStar(labelEdges,
      "_ls_la", "_ls_lb").toDF("_ls_old", "_ls_newg")
    val changed = cc.filter(col("_ls_old") =!= col("_ls_newg"))
      .localCheckpoint()
    val batchRows = b.select(col("doc_id"))
      .join(cur, Seq("doc_id"))
      .join(changed.withColumnRenamed("_ls_old", "_ls_cur"),
        Seq("_ls_cur"), "left")
      .select(col("doc_id"),
        coalesce(col("_ls_newg"), col("_ls_cur")).as("group"))
    val rewrites = labels
      .join(changed.withColumnRenamed("_ls_old", "group"),
        Seq("group"))
      .join(b.select(col("doc_id")), Seq("doc_id"), "anti")
      .select(col("doc_id"), col("_ls_newg").as("group"))
    // endpoints absent from both the store and the batch whose
    // merged label differs from their own id (see planDriver)
    val absentRows = cur.filter(!col("_ls_in_store"))
      .join(b.select(col("doc_id")), Seq("doc_id"), "anti")
      .join(changed.withColumnRenamed("_ls_old", "_ls_cur"),
        Seq("_ls_cur"), "left")
      .select(col("doc_id"),
        coalesce(col("_ls_newg"), col("_ls_cur")).as("group"))
      .filter(col("group") =!= col("doc_id"))
    val newAnchors = keyMin
      .join(anchors.select(col("ckey")), Seq("ckey"), "anti")
      .select(col("ckey"), col("_ls_min").as("doc_id"))
    (batchRows.unionByName(rewrites).unionByName(absentRows),
      newAnchors)
  }
}
