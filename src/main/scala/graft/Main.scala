package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{CatalogOps, DdlSink}
import graft.functions.codec
import graft.gen.Generator
import graft.replay.Replay
import graft.sources.{Layout, SnapshotIO}

/** User-facing CLI over the engine's pipelines — the counterpart of
  * the reference's argparse / interactive menu entry points
  * (pulsar_backup_restore.py:384-409, pulsar_remote_inspector.py:
  * 619-726), re-expressed over the injected seams. Broker IO does not
  * exist in this environment, so every command grounds in files: the
  * snapshot interchange layout (SnapshotIO), the native parquet
  * layout, and per-topic replay output files. Production swaps the
  * injected send/DDL functions for a real client without touching any
  * plan.
  *
  * {{{
  * graft.Main list-topics <snapshotDir> [limit]
  * graft.Main capture <nativeParquetDir> <snapshotDir>
  * graft.Main replay <snapshotDir> <outDir>
  * graft.Main restore <snapshotDir>        # dry-run: ordered DDL
  * graft.Main publish <outDir> <count>
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    // contract passthroughs so the whole surface drives from one CLI;
    // dispatched BEFORE building a session (each main picks its own
    // width — getOrCreate here would silently override theirs)
    args.toSeq match {
      case Seq("bench", rest @ _*) => Bench.main(rest.toArray); return
      case Seq("verify", sfDir, outDir) =>
        Verify.main(Array(sfDir, outDir)); return
      case Seq("explain", rest @ _*) => Explain.main(rest.toArray); return
      case _ => ()
    }
    val spark = GraftSession(GraftSession.cpus,
      sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    try run(spark, args.toSeq).foreach(println)
    finally spark.stop()
  }

  /** Optional trailing numeric argument: `None` when PRESENT but
    * unparseable (→ usage text, not a NumberFormatException),
    * `Some(dflt)` when absent. */
  private def intArg(rest: Seq[String], dflt: Int): Option[Int] =
    rest.headOption.map(_.toIntOption).getOrElse(Some(dflt))

  private def doubleArg(rest: Seq[String], dflt: Double): Option[Double] =
    rest.headOption.map(_.toDoubleOption).getOrElse(Some(dflt))

  /** Command dispatch, returning the lines `main` prints — directly
    * testable without capturing stdout. */
  def run(spark: SparkSession, args: Seq[String]): Seq[String] = args match {
    case Seq("list-topics", dir, rest @ _*)
        if intArg(rest, 100).isDefined =>
      listTopics(spark, dir, intArg(rest, 100).get)
    case Seq("capture", nativeDir, snapDir) => capture(spark, nativeDir, snapDir)
    case Seq("replay", snapDir, outDir, rest @ _*)
        if restoreArgs(rest).isDefined =>
      replay(spark, snapDir, outDir, restoreArgs(rest).get)
    case Seq("restore", snapDir, rest @ _*)
        if restoreArgs(rest).isDefined =>
      restore(spark, snapDir, restoreArgs(rest).get)
    case Seq("publish", outDir, count) if count.toLongOption.isDefined =>
      publish(spark, outDir, count.toLong)
    case Seq("import", refDir, destDir) =>
      // a migrating user's snapshots are in the REFERENCE's literal
      // layout (colon file names Hadoop paths cannot carry) — rewrite
      // them into the engine's reversible names, then any other
      // command works on destDir
      SnapshotIO.importReferenceSnapshot(refDir, destDir)
      Seq(s"imported reference snapshot $refDir into $destDir")
    case Seq("delete", snapDir, rest @ _*) =>
      delete(spark, snapDir, force = rest.contains("--force"))
    case Seq("print", snapDir, rest @ _*)
        if intArg(rest, 20).isDefined =>
      printMessages(spark, snapDir, intArg(rest, 20).get)
    case Seq("sample") =>
      // one deterministic emailSend envelope, the inspector's `sample`
      // verb (pulsar_remote_inspector.py:650,697-700)
      Seq(spark.range(1)
        .select(Generator.emailSendJson(
          col("id"), timestamp_seconds(lit(1704067200L))))
        .collect()(0).getString(0))
    case Seq("compact", storeDir, key, rest @ _*)
        if doubleArg(rest, 2.0).isDefined =>
      compactStore(spark, storeDir, key, doubleArg(rest, 2.0).get)
    case Seq("compact-ndindex", indexDir, rest @ _*)
        if doubleArg(rest, 2.0).isDefined =>
      compactNdIndex(spark, indexDir, doubleArg(rest, 2.0).get)
    case Seq("compact-phash", indexDir, rest @ _*)
        if doubleArg(rest, 2.0).isDefined =>
      compactPhash(spark, indexDir, doubleArg(rest, 2.0).get)
    case Seq("compact-labels", labelRoot, rest @ _*)
        if doubleArg(rest, 2.0).isDefined =>
      compactLabels(spark, labelRoot, doubleArg(rest, 2.0).get,
        rest.drop(1).headOption)
    case Seq("compact-deltas", deltasRoot, rest @ _*)
        if doubleArg(rest, 2.0).isDefined =>
      compactDeltas(spark, deltasRoot, doubleArg(rest, 2.0).get)
    case Seq("prep-health", storeRoot, rest @ _*)
        if rest.size <= 1 =>
      prepHealth(spark, storeRoot,
        rest.headOption.map(_.toLong).getOrElse(20000L))
    case Seq("img-health", sfDir, rest @ _*) =>
      imgHealth(spark, sfDir, rest.headOption)
    case Seq("aud-health", sfDir) => audHealth(spark, sfDir)
    case Seq("vid-health", sfDir) => vidHealth(spark, sfDir)
    case Seq("media-health", sfDir) => mediaHealth(spark, sfDir)
    case Seq("refold", storeRoot, manifestDir, rest @ _*)
        if intArg(rest, 0).isDefined &&
          intArg(rest.drop(1), 500).isDefined =>
      refold(spark, storeRoot, manifestDir, intArg(rest, 0).get,
        intArg(rest.drop(1), 500).get)
    case Seq("index", storeDir) => indexInfo(spark, storeDir)
    case Seq("labels", labelRoot, rest @ _*) if rest.size <= 1 =>
      labelsInfo(spark, labelRoot, rest.headOption)
    case Seq("lease", storeDir) => leaseInfo(spark, storeDir, doBreak = false)
    case Seq("lease", storeDir, "--break") =>
      leaseInfo(spark, storeDir, doBreak = true)
    case Seq("ranges", rest @ _*) => ranges(rest)
    case Seq("diff", dirA, dirB, rest @ _*)
        if intArg(rest, 100).isDefined =>
      diff(spark, dirA, dirB, intArg(rest, 100).get)
    case Seq("report", sfDir) => report(spark, sfDir)
    case Seq("classify", sfDir) => classify(spark, sfDir)
    case Seq("excise", sfDir) => excise(spark, sfDir)
    case Seq("emb-health", sfDir) => embHealth(spark, sfDir)
    case Seq("prep", sfDir) => prep(spark, sfDir)
    case Seq("index-postings", docsParquet, storeRoot, rest @ _*)
        if intArg(rest, 64).isDefined &&
          intArg(rest.drop(1), 8).isDefined =>
      indexPostings(spark, docsParquet, storeRoot,
        intArg(rest, 64).get, intArg(rest.drop(1), 8).get)
    case Seq("bm25", storeRoot, query, rest @ _*)
        if intArg(rest, 5).isDefined =>
      bm25(spark, storeRoot, query, intArg(rest, 5).get)
    case _ => Seq(
      "usage: graft.Main <command> ...",
      "  list-topics <snapshotDir> [limit]   composed catalog listing",
      "  capture <nativeParquetDir> <snapshotDir>   parquet -> snapshot",
      "  replay <snapshotDir> <outDir> [--since <snapshotA>]   ordered " +
        "per-topic replay (--since re-sends only topics added/changed " +
        "since snapshotA)",
      "  restore <snapshotDir> [--since <snapshotA>]   dry-run DDL " +
        "(parents first; --since restores only topics added/changed " +
        "since snapshotA)",
      "  delete <snapshotDir> [--force]      DDL children-first; gated",
      "  print <snapshotDir> [limit]         decoded messages in order",
      "  sample                              one emailSend wire message",
      "  compact <storeDir> <key> [maxDilution]   measure pruning " +
        "dilution of a segmented clustered store; rewrite when over " +
        "budget (default 2.0)",
      "  compact-ndindex <indexDir> [maxDilution]   same cycle for a " +
        "near-dup signature index: measure the shingles table's " +
        "dilution; re-cluster shingles + consolidate bands when over " +
        "budget",
      "  compact-phash <indexDir> [maxDilution]   same cycle for a " +
        "phash fingerprint index: measure the key table's bkey " +
        "dilution; rewrite as one clustered generation when over " +
        "budget",
      "  compact-labels <labelRoot> [maxDilution [docsDir]]   same " +
        "cycle for a union-find label store: measure superseded-row " +
        "dilution (rewrite history per doc); rewrite to one current " +
        "row per doc, doc-clustered, when over budget; with docsDir " +
        "also measure ANCHOR dilution (keys retired from the docs " +
        "table) and drop retired anchors when over budget",
      "  compact-deltas <deltasRoot> [maxDilution]   sum-compact the " +
        "additive delta partials (q214 modality deltas, q215 " +
        "counts/mixhist) to one row per key combo when row dilution " +
        "exceeds the budget; sealed-batch markers survive",
      "  prep-health <prepStoreRoot> [budgetTokens]   training-prep " +
        "store health card: the manifest from the sealed delta " +
        "partials plus keeper-churn and dilution telemetry",
      "  img-health <sfDir> [phashIndexDir]   image-modality health " +
        "report: dup pairs, dup groups, largest group, index " +
        "segment count + dilution",
      "  vid-health <sfDir>                  video-modality health " +
        "census (decode -> frame hashes -> video pairs -> groups)",
      "  aud-health <sfDir>                  audio-modality health " +
        "report: decoded fingerprints, dup pairs, dup groups, " +
        "largest group",
      "  media-health <sfDir>                cross-modality census: " +
        "one items/pairs/groups table over image+audio+video plus " +
        "the roll-up totals row",
      "  refold <foldStoreRoot> <manifestDir> [maxMovedMilli] " +
        "[thresholdMilli]   measure fold drift (at-ingest vs final " +
        "component folds, the q209 arithmetic), rewrite the " +
        "manifests at the final folds when moved docs exceed the " +
        "gate (default 0 = any drift), then VERIFY the repair: " +
        "re-measure val/train near-dup leakage over the rewritten " +
        "manifests against the store's signature index (jaccard " +
        "threshold in milli, default 500 — must match the ingest " +
        "contract)",
      "  index <storeDir>                    show a store's persisted " +
        "ANN metadata (what AnnIndex.registerFrom adopts)",
      "  labels <labelRoot> [docsDir]        union-find label store " +
        "health: row history vs current docs (compact-labels " +
        "dilution), component census, anchor keys (+ anchor " +
        "dilution vs the docs table when docsDir is given)",
      "  lease <storeDir> [--break]          show a store's writer " +
        "lease; --break force-reclaims a dead writer's lease",
      "  ranges [--test-topic <topic>]       ID ranges + extraction test",
      "  diff <snapshotA> <snapshotB> [limit]   added/removed/changed topics",
      "  publish <outDir> <count>            synthetic emailSend messages",
      "  import <referenceSnapshotDir> <destDir>   rewrite reference layout",
      "  verify <sfDir> <outDir>             correctness dump (graft.Verify)",
      "  bench                               timing run (graft.Bench)",
      "  explain [outDir]                    plan dumps (graft.Explain)",
      "  report <sfDir>                      per-source corpus data card " +
        "(token volume, quality, repetition, lang agreement)",
      "  classify <sfDir>                    model-based quality gate " +
        "(per source: accept rate, mean logit under the hashed-ngram " +
        "classifier)",
      "  excise <sfDir>                      contamination span surgery " +
        "(per source: affected docs, exact token mass excised vs " +
        "dropping whole documents)",
      "  emb-health <sfDir>                  per-label embedding health " +
        "(coherence mass, worst member, dead dimensions)",
      "  prep <sfDir>                        training-prep manifest " +
        "(per source: survivors of dedup/decontam/quality/mix stages)",
      "  index-postings <docsParquet> <storeRoot> [nBuckets] [numFiles]" +
        "   build the at-rest BM25 postings index (doc_id/text " +
        "columns; `compact <storeRoot>/postings bucket` re-clusters " +
        "an appended store)",
      "  bm25 <storeRoot> \"<query>\" [k]      top-k BM25 against a " +
        "postings store")
  }

  /** §3.3 list_topics over a snapshot's catalog files: the same
    * composed pipeline as the registered q50 (3-source union →
    * first-wins dedup → partition rollup → priority sort → limit). */
  private def listTopics(spark: SparkSession, dir: String,
      limit: Int): Seq[String] = {
    val base = SnapshotIO.readTopics(spark, dir)
    val all = SnapshotIO.readTopics(spark, dir, all = true)
    val part = all.filter(col("topic").rlike(CatalogOps.partitionSuffix))
    val sys = all.filter(
      regexp_extract(col("topic"), "persistent://([^/]+)/", 1)
        .isin("system", "pulsar"))
    val merged = CatalogOps
      .unionDedupTopics(base, part, sys)
      .select("topic")
    val rolled = CatalogOps.rollupPartitions(merged, "topic")
    val listed = CatalogOps.priorityLimit(
      rolled, CatalogOps.defaultPriorityPatterns, limit, "parent_topic")
    val rows = listed.collect() // bounded by `limit`
    val header = f"${"TOPIC"}%-60s ${"ENTRIES"}%8s ${"PARTS"}%6s"
    header +: rows.toSeq.map { r =>
      f"${r.getAs[String]("parent_topic")}%-60s ${r.getAs[Long]("n_entries")}%8d " +
        f"${r.getAs[Long]("n_partitions")}%6d"
    }
  }

  /** Generation diff between two snapshot captures: per-topic message
    * counts through CatalogOps.snapshotDiff (the q96 operator on the
    * operational surface) — the decision input before a selective
    * restore: what appeared, vanished, or changed since the last
    * capture. */
  private def diff(spark: SparkSession, dirA: String, dirB: String,
      limit: Int): Seq[String] = {
    def counts(dir: String) =
      SnapshotIO.readMessages(spark, dir)
        .groupBy("topic").agg(count(lit(1)).as("n"))
    val d = CatalogOps.snapshotDiff(counts(dirA), counts(dirB))
      .orderBy(col("status"), col("topic"))
      .limit(limit)
    val rows = d.collect() // bounded by `limit`
    val header = f"${"STATUS"}%-8s ${"TOPIC"}%-60s ${"N_A"}%8s ${"N_B"}%8s"
    def n(r: Row, c: String) =
      if (r.isNullAt(r.fieldIndex(c))) "-" else r.getAs[Long](c).toString
    header +: rows.toSeq.map { r =>
      f"${r.getAs[String]("status")}%-8s ${r.getAs[String]("topic")}%-60s " +
        f"${n(r, "n_a")}%8s ${n(r, "n_b")}%8s"
    }
  }

  /** §3.1 capture: native parquet layout → reference snapshot layout
    * (catalog text files + per-topic JSON arrays). */
  private def capture(spark: SparkSession, nativeDir: String,
      snapDir: String): Seq[String] = {
    val src = {
      val nested = new java.io.File(nativeDir, "messages_parquet")
      if (nested.isDirectory) nested.toString else nativeDir
    }
    val n = Replay.capture(spark.read.parquet(src), snapDir)
    Seq(s"captured $n messages to $snapDir")
  }

  /** Topics that need re-sending between two captures: message counts
    * added/changed per the q96 snapshot-diff plan, PLUS topics that
    * exist only in the newer catalog (created, possibly still empty —
    * the message-count diff alone would miss them). Shared by
    * `restore --since` and `replay --since`, so the two halves of a
    * selective recovery — DDL and data — agree on the delta by
    * construction. Count-based: a topic whose messages changed
    * content at identical count is invisible to this diff, the same
    * contract q96 documents. */
  private def deltaTopics(spark: SparkSession, sinceDir: String,
      snapDir: String): org.apache.spark.sql.DataFrame = {
    def counts(dir: String) =
      SnapshotIO.readMessages(spark, dir)
        .groupBy("topic").agg(count(lit(1)).as("n"))
    val msgDelta = CatalogOps.snapshotDiff(counts(sinceDir), counts(snapDir))
      .filter(col("status").isin("added", "changed"))
      .select("topic")
    val catalogAdded = SnapshotIO.readTopics(spark, snapDir).join(
      SnapshotIO.readTopics(spark, sinceDir), Seq("topic"), "left_anti")
    msgDelta.union(catalogAdded).distinct()
  }

  /** §3.2 replay: snapshot → decoded payloads → ordered per-topic
    * send. The injected sink writes one file per topic with one
    * base64 payload line per message, in seq order — the file-grounded
    * stand-in for a producer.
    *
    * With `--since <snapshotA>`: SELECTIVE replay — the completion of
    * `restore --since`'s DDL half: only messages of topics the
    * [[deltaTopics]] diff marks added/changed are re-sent, each
    * topic's stream complete and in capture order (the semi-join
    * restricts TOPICS, never rows within a topic, so the per-topic
    * ordering invariant of Replay.orderedReplay is untouched). */
  private def replay(spark: SparkSession, snapDir: String,
      outDir: String, since: Option[String]): Seq[String] = {
    val all = Replay.withPayload(SnapshotIO.readMessages(spark, snapDir))
    val (env, tag) = since match {
      case None => (all, "")
      case Some(sinceDir) =>
        (all.join(deltaTopics(spark, sinceDir, snapDir),
          Seq("topic"), "left_semi"), s" (delta since $sinceDir)")
    }
    // counted in the sink, not by a second read of the snapshot:
    // after the repartition on topic each topic sits in exactly one
    // partition (coalescing only merges partitions), so every topic
    // switch in a partition is one replayed topic
    val topics = spark.sparkContext.longAccumulator("replayed topics")
    Replay.orderedReplay(env, { it: Iterator[Row] =>
      if (it.hasNext) {
        val basePath = new org.apache.hadoop.fs.Path(outDir)
        val fs = basePath.getFileSystem(
          new org.apache.hadoop.conf.Configuration())
        fs.mkdirs(basePath)
        var cur: String = null
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        try {
          it.foreach { r =>
            val topic = r.getAs[String]("topic")
            if (topic != cur) { // partition is sorted by topic, then seq
              if (out != null) out.close()
              cur = topic
              topics.add(1L)
              out = fs.create(new org.apache.hadoop.fs.Path(
                basePath, codec.sanitizeTopicStr(topic) + ".txt"), true)
            }
            val b64 = java.util.Base64.getEncoder
              .encodeToString(r.getAs[Array[Byte]]("payload"))
            out.write((b64 + "\n").getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
          }
        } finally if (out != null) out.close()
      }
    })
    Seq(s"replayed ${topics.value} topics to $outDir$tag")
  }

  /** `restore [--since <snapshotA>]` argument tail: `Some(None)` =
    * full restore, `Some(Some(dir))` = selective, `None` = malformed
    * (→ usage text). */
  private def restoreArgs(rest: Seq[String]): Option[Option[String]] =
    rest match {
      case Seq() => Some(None)
      case Seq("--since", dir) => Some(Some(dir))
      case _ => None
    }

  /** K6 restore dry-run: the ordered DDL (tenants → namespaces →
    * topics) the reference would apply, printed instead of sent.
    *
    * With `--since <snapshotA>`: SELECTIVE restore — the q96
    * snapshot-diff plan (CatalogOps.snapshotDiff over per-topic
    * message counts) decides which topics actually need restoring
    * (added or changed since snapshotA; topics that merely VANISHED
    * are not re-created — the delta runs forward), and the DDL is
    * restricted to those topics plus exactly the parent namespaces/
    * tenants they need. At production catalog sizes this is the
    * difference between replaying the delta and replaying the
    * cluster. */
  private def restore(spark: SparkSession, snapDir: String,
      since: Option[String]): Seq[String] = {
    val allTenants = SnapshotIO.readTenants(spark, snapDir)
    val allNamespaces = SnapshotIO.readNamespaces(spark, snapDir)
    val allTopics = SnapshotIO.readTopics(spark, snapDir)
    val (tenants, namespaces, topics) = since match {
      case None => (allTenants, allNamespaces, allTopics)
      case Some(sinceDir) =>
        // added/changed message streams + created-but-empty topics
        // (deltaTopics — the same delta replay --since re-sends)
        val delta = deltaTopics(spark, sinceDir, snapDir)
        val topics = allTopics.join(delta, Seq("topic"), "left_semi")
        val nsOf = delta.select(regexp_extract(col("topic"),
          "persistent://([^/]+/[^/]+)/", 1).as("namespace"))
        val namespaces =
          allNamespaces.join(nsOf, Seq("namespace"), "left_semi")
        val tnOf = delta.select(regexp_extract(col("topic"),
          "persistent://([^/]+)/", 1).as("tenant"))
        val tenants = allTenants.join(tnOf, Seq("tenant"), "left_semi")
        (tenants, namespaces, topics)
    }
    val applied = DdlSink.restore(tenants, namespaces, topics,
      _ => (), _ => (), _ => ())
    applied.map { case (kind, name) => s"CREATE $kind $name" }
  }

  /** Menu option 4 (pulsar_backup_restore.py:274-291): delete
    * everything EXCEPT system resources, children first (topics →
    * namespaces → tenants — the reverse of restore). Gated the way the
    * reference gates on a typed confirmation: without --force this
    * refuses and shows what WOULD go; with --force it emits the
    * ordered DDL through the injected (here: no-op) admin client. */
  private def delete(spark: SparkSession, snapDir: String,
      force: Boolean): Seq[String] = {
    val tenants = CatalogOps.excludeSystem(
      SnapshotIO.readTenants(spark, snapDir), "tenant",
      CatalogOps.systemTenants)
    val namespaces = CatalogOps.excludeSystem(
      SnapshotIO.readNamespaces(spark, snapDir), "namespace",
      CatalogOps.systemNamespaces)
    // topics filter on their OWNING TENANT: the reference derives its
    // delete list from non-system namespaces only, so a system topic
    // in all_topics.txt must never reach the DDL (or the preview count)
    val topics = SnapshotIO.readTopics(spark, snapDir, all = true)
      .filter(!regexp_extract(col("topic"), "persistent://([^/]+)/", 1)
        .isin(CatalogOps.systemTenants: _*))
    if (!force) {
      val counts = Seq(
        "topic" -> topics.count(), "namespace" -> namespaces.count(),
        "tenant" -> tenants.count())
      counts.map { case (k, n) => s"would delete $n ${k}s" } :+
        "refusing to delete without --force (system resources are always preserved)"
    } else {
      val applied = DdlSink.deleteAll(tenants, namespaces, topics,
        _ => (), _ => (), _ => ())
      applied.map { case (kind, name) => s"DELETE $kind $name" } :+
        "deletion completed; system resources preserved"
    }
  }

  /** Menu option 5 (pulsar_backup_restore.py:295-382): decoded
    * messages in replay order (topic, then seq), capped at `limit` —
    * the cap bounds the driver-side collect the same way the
    * reference's print loop is humanly bounded. */
  private def printMessages(spark: SparkSession, snapDir: String,
      limit: Int): Seq[String] = {
    val rows = SnapshotIO.readMessages(spark, snapDir)
      .select(col("topic"), col("seq"),
        codec.decodeContent(col("content"), col("binary_encoded"))
          .cast("string").as("payload"),
        col("binary_encoded"))
      .orderBy(col("topic"), col("seq"))
      .limit(limit)
      .collect()
    rows.toSeq.map { r =>
      val tag = if (r.getAs[Boolean]("binary_encoded")) " [binary]" else ""
      val p = r.getAs[String]("payload")
      val preview = if (p.length > 120) p.take(117) + "..." else p
      s"${r.getAs[String]("topic")}[${r.getAs[Long]("seq")}]$tag: $preview"
    }
  }

  /** The segmented-store maintenance verb: measure
    * [[graft.sources.Layout.pruningDilution]] (mean files a point
    * lookup reads — segments accumulated by clusteredAppend each add
    * ~1) and run the documented compaction (clusteredWrite of the
    * union back to one globally clustered segment) only when the
    * measured dilution exceeds the budget — policy, not a blind
    * rewrite: compaction rewrites the whole store, so it has to buy
    * its cost back in probe IO. */
  /** Inspect a self-describing ANN store: the persisted metadata a
    * session adopts via AnnIndex.registerFrom. */
  private def indexInfo(spark: SparkSession, storeDir: String): Seq[String] = {
    val m = graft.plans.AnnIndex.load(spark, storeDir)
    Seq(
      s"index ${m.name}: ${m.indexPath}",
      s"  primary  ${m.primaryPath} (id=${m.idCol}, emb=${m.embCol})",
      s"  store    bucket=${m.bucketCol} codes=${m.codesCol} " +
        s"scale=${m.scaleCol}",
      s"  planes   seed=${m.planesSeed} n=${m.nPlanes} dim=${m.dim}",
      s"  serving  radius=${m.radius} shortlist=${m.shortlist}")
  }

  /** `labels` verb: the union-find label store's health card — the
    * inspection surface `index` gives the ANN store and the compact
    * verbs give the segmented stores: row history vs current docs
    * (the compact-labels dilution), component census (how much of
    * the corpus is folded together), and the anchor-key count. One
    * pass over the current labels; no pair store touched. */
  private def labelsInfo(spark: SparkSession,
      labelRoot: String, docsDir: Option[String] = None)
      : Seq[String] = {
    import graft.operators.LabelStore
    val totalRows = spark.read.schema(LabelStore.LabelsSchema)
      .parquet(s"$labelRoot/labels").count()
    val current = LabelStore.read(spark, labelRoot).localCheckpoint()
    val nDocs = current.count()
    val byGroup = current.groupBy(col("group"))
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val nGroups = byGroup.count()
    val multi = byGroup.filter(col("n") > 1)
      .agg(coalesce(sum(col("n")), lit(0L)),
        coalesce(count(lit(1)), lit(0L))).collect()(0)
    val (nGrouped, nMulti) = (multi.getLong(0), multi.getLong(1))
    val top = byGroup.orderBy(col("n").desc, col("group"))
      .limit(1).collect().headOption
    val nAnchors = spark.read.schema(LabelStore.AnchorsSchema)
      .parquet(s"$labelRoot/anchors").count()
    val dilution =
      if (nDocs == 0) 0.0 else (totalRows - nDocs).toDouble / nDocs
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(current)
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(byGroup)
    // anchor dilution (docsDir given): retired keys per live key —
    // the compact-anchors gate's input, on the health card
    val anchorLine = docsDir match {
      case None => s"  anchors: $nAnchors keys"
      case Some(dd) =>
        val docsT = spark.read.parquet(s"$dd/docs")
        val keyCol = docsT.schema.fieldNames(1)
        val nLive = spark.read
          .schema(LabelStore.AnchorsSchema)
          .parquet(s"$labelRoot/anchors")
          .join(docsT.select(col(keyCol).cast("string").as("ckey"))
            .filter(col("ckey").isNotNull).distinct(),
            Seq("ckey"), "left_semi")
          .count()
        val aDil =
          if (nLive == 0)
            (if (nAnchors == 0) 0.0 else nAnchors.toDouble)
          else (nAnchors - nLive).toDouble / nLive
        s"  anchors: $nAnchors keys ($nLive live in $dd, " +
          s"dilution ${num2(aDil)})"
    }
    Seq(
      s"label store $labelRoot: $totalRows rows for $nDocs docs " +
        s"(dilution ${num2(dilution)})",
      s"  components: $nGroups ($nMulti multi-doc covering " +
        s"$nGrouped docs)",
      anchorLine) ++
      top.map(r => s"  largest component: label ${r.getLong(0)} " +
        s"with ${r.getLong(1)} members").toSeq
  }

  /** Writer-lease inspection for any at-rest store; `--break`
    * force-reclaims a dead writer's lease (the operator override for
    * a crash younger than the staleness window — StoreLease.acquire
    * reclaims stale leases on its own). */
  private def leaseInfo(spark: SparkSession, storeDir: String,
      doBreak: Boolean): Seq[String] =
    graft.sources.StoreLease.holder(spark, storeDir) match {
      case None => Seq(s"no writer lease on $storeDir")
      case Some((owner, ts)) =>
        val age = (System.currentTimeMillis() - ts) / 1000
        val head = s"lease on $storeDir held by $owner (${age}s old)"
        if (!doBreak) Seq(head)
        else {
          graft.sources.StoreLease.break_(spark, storeDir)
          Seq(head, s"lease BROKEN — verify the holder is actually " +
            "dead; a live writer now races unprotected")
        }
    }

  /** Locale-pinned 2-decimal formatter shared by the compact verbs. */
  private def num2(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

  private def compactStore(spark: SparkSession, root: String, key: String,
      maxDilution: Double): Seq[String] = {
    val segs = Layout.segments(spark, root)
    val before = Layout.pruningDilution(spark, root, key)
    val nFiles = Layout.fileSpans(spark, root, key).count()
    val head = s"dilution ${num2(before)} over ${segs.size} segments " +
      s"($nFiles files; budget ${num2(maxDilution)})"
    if (before <= maxDilution)
      Seq(head, "within budget: no compaction needed")
    else {
      Layout.compact(spark, root, nFiles.toInt.max(1), col(key))
      val after = Layout.pruningDilution(spark, root, key)
      Seq(head,
        s"compacted ${segs.size} segments -> 1; dilution now ${num2(after)}")
    }
  }

  /** The [[compactStore]] cycle for a near-dup signature index
    * (Dedup.writeNearDupIndex layout): dilution is measured on the
    * shingles table — the side the index mark reads by pushed doc
    * ids (Dedup.pairMark), where per-batch appended
    * files overlap the id space — and an over-budget index has BOTH
    * tables rewritten (shingles re-clustered by doc, bands
    * consolidated) via Dedup.compactNearDupIndex's write-then-swap. */
  private def compactNdIndex(spark: SparkSession, indexDir: String,
      maxDilution: Double): Seq[String] = {
    val before = Layout.pruningDilution(spark, s"$indexDir/shingles", "doc")
    val nFiles = Layout.fileSpans(spark, s"$indexDir/shingles", "doc").count()
    val head = s"shingles dilution ${num2(before)} over $nFiles files " +
      s"(budget ${num2(maxDilution)})"
    if (before <= maxDilution)
      Seq(head, "within budget: no compaction needed")
    else {
      graft.operators.Dedup.compactNearDupIndex(spark, indexDir)
      val after = Layout.pruningDilution(spark, s"$indexDir/shingles", "doc")
      Seq(head, s"compacted; dilution now ${num2(after)}")
    }
  }

  /** `compact-phash` verb: the compact-ndindex cycle on the image
    * fingerprint index — streaming ingest lands one bkey-clustered
    * segment per micro-batch and accumulated segments dilute the
    * mark's row-group pruning; measure first, rewrite only over
    * budget (Dedup.compactPhashIndex: write-then-swap under the store
    * lease, verdict-invariant). */
  private def compactPhash(spark: SparkSession, indexDir: String,
      maxDilution: Double): Seq[String] = {
    val before = Layout.pruningDilution(spark, s"$indexDir/keys", "bkey")
    val nFiles = Layout.fileSpans(spark, s"$indexDir/keys", "bkey").count()
    val head = s"keys dilution ${num2(before)} over $nFiles files " +
      s"(budget ${num2(maxDilution)})"
    if (before <= maxDilution)
      Seq(head, "within budget: no compaction needed")
    else {
      graft.operators.Dedup.compactPhashIndex(spark, indexDir)
      val after = Layout.pruningDilution(spark, s"$indexDir/keys", "bkey")
      Seq(head, s"compacted; dilution now ${num2(after)}")
    }
  }

  /** `compact-labels` verb: the store-maintenance cycle on the
    * union-find label store (operators/LabelStore.scala) — every
    * batch appends a segment (batch rows + rewrites), so a doc's
    * history accumulates superseded rows that every min-group read
    * and every pushed isin scan must still visit. Dilution here is
    * ROW HISTORY, not key-span overlap: (total rows − current docs)
    * / current docs. Over budget, the store rewrites to exactly one
    * CURRENT row per doc, doc-range-clustered (the point-fetch
    * consumers probe by doc id; group-membership reads keep their
    * exactness either way — merge monotonicity survives compaction
    * because the surviving rows ARE the current labels). Write-then-
    * swap under the store root's lease, which the ingest's label
    * append also takes — a live ingest and this swap exclude each
    * other loudly. Commit markers under `_commits/` are untouched:
    * a batch re-delivered AFTER compaction still skips the merge
    * verbatim — its sealed segment files are gone, so the committed
    * fast path recomputes the batch docs' rows from the store itself
    * (LabelStore.lookup; LabelStoreSpec-pinned), which keeps a
    * replayed batch's fold-sink write intact even when the crash
    * landed the label append but not the manifest partition. */
  /** `compact-deltas` verb: the store-maintenance cycle on the
    * ADDITIVE delta partials (the q214 modality deltas, the q215
    * counts/mixhist) — every batch appends one sealed row set, so a
    * long-lived stream's curator read pays FILE COUNT and row
    * volume that a sum-compaction collapses for free (sums are
    * associative; the merged generation is one row per key combo).
    * Dilution here is rows per CURRENT key combo − 1. Write-then-
    * swap under the root's lease (the delta appends take the same
    * sibling lease, so a live ingest excludes loudly); commit
    * markers under `_commits/` survive, so a batch re-delivered
    * after compaction still skips its delta seal verbatim. Residual
    * (same class as compact-labels): the delta derivation of a
    * batch that crashed AFTER its stores sealed but BEFORE its
    * delta seal needs its own seg files in the OTHER stores, not
    * here — this verb never touches those. */
  private def compactDeltas(spark: SparkSession, deltasRoot: String,
      maxDilution: Double): Seq[String] = {
    // (table, key columns) — the two delta layouts
    val layouts = Seq(
      "deltas" -> Seq("modality", "source", "split"),
      "counts" -> Seq("source"),
      "mixhist" -> Seq("source", "bucket"))
    val fs = new org.apache.hadoop.fs.Path(deltasRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val present = layouts.filter { case (t, _) =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$deltasRoot/$t")) }
    require(present.nonEmpty,
      s"compact-deltas: no delta tables under $deltasRoot")
    present.flatMap { case (table, keys) =>
      val dir = s"$deltasRoot/$table"
      val all = spark.read.parquet(dir)
      val rows = all.count()
      val ks = keys.map(col)
      val aggs = all.columns.filterNot(keys.contains)
        .map(c => sum(col(c)).as(c))
      val sums = all.groupBy(ks: _*).agg(aggs.head, aggs.tail: _*)
        .localCheckpoint()
      val combos = sums.count()
      val dilution =
        if (combos == 0) 0.0 else rows.toDouble / combos - 1.0
      val head = s"$table: $rows rows over $combos key combos, " +
        s"dilution ${num2(dilution)} (budget ${num2(maxDilution)})"
      val out =
        if (dilution <= maxDilution)
          Seq(head, s"$table within budget: no compaction needed")
        else {
          graft.sources.StoreLease.withLease(spark, deltasRoot,
              s"compact-deltas-$table") {
            val p = new org.apache.hadoop.fs.Path(dir)
            val tmp = new org.apache.hadoop.fs.Path(s"$dir.compacting")
            fs.delete(tmp, true)
            sums.repartition(1).write.parquet(tmp.toString)
            require(fs.delete(p, true),
              s"could not remove old delta table $p")
            require(fs.rename(tmp, p),
              s"could not move compacted delta table to $p")
          }
          Seq(head, s"$table compacted to $combos rows (one per combo)")
        }
      org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(sums)
      out
    }
  }

  /** `prep-health` verb: the training-prep store's health card —
    * the q215 manifest from the sealed delta partials (the curator
    * read: no flags windows, no label-store read) plus the flip
    * telemetry the signed partials carry for free: how many sealed
    * batches, how much of the delta table is CORRECTION volume
    * (negative d_exact/d_nd — keeper churn a re-export would
    * inherit), and the delta tables' row dilution (the
    * compact-deltas gate's input). */
  private def prepHealth(spark: SparkSession, storeRoot: String,
      budgetTokens: Long): Seq[String] = {
    val man = graft.streaming.Streams.trainingPrepReportFromDeltas(
        spark, storeRoot, "source", budgetTokens)
      .orderBy(col("source")).collect()
    val cnt = spark.read.parquet(s"$storeRoot/deltas/counts")
      .localCheckpoint()
    val nRows = cnt.count()
    val neg = cnt.filter(col("d_exact") < 0 || col("d_nd") < 0)
      .count()
    // Hadoop FS, not java.io.File: the sibling verbs' convention —
    // a non-local store root (hdfs://, s3a://) must count the same.
    // The bootstrap attach marker is a batch-shaped commit but not a
    // crawl batch; report it separately instead of inflating the count
    val (batches, bootstrapped) = {
      val d = new org.apache.hadoop.fs.Path(
        s"$storeRoot/deltas/_commits")
      val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(d)) (0, false)
      else {
        val names = fs.listStatus(d).map(_.getPath.getName)
        (names.count(_ != "bootstrap"), names.contains("bootstrap"))
      }
    }
    val combos = cnt.select(col("source")).distinct().count()
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(cnt)
    // NOVELTY CURVE from the SAME store read (no corpus pass): the
    // counts partials seal one file set per batch, so
    // input_file_name recovers the batch sequence for free —
    // per (source, batch), d_raw is arrivals and d_nd is NET new
    // near-dup keepers, and their ratio is the q141
    // stop-paying-for-the-crawler signal at zero marginal cost. A
    // source still SENDING (d_raw > 0 in its latest batch) while
    // adding NO net keepers (d_nd ≤ 0) is flagged stagnating.
    // Sum-compaction trades this curve for read cost: compacted
    // rows carry no seg tag and drop out (the curve then covers
    // only post-compaction batches).
    val curve = spark.read.parquet(s"$storeRoot/deltas/counts")
      .withColumn("_b", regexp_extract(input_file_name(),
        "seg-b(\\d+)-part-", 1))
      .filter(col("_b") =!= "")
      .groupBy(col("source"), col("_b").cast("long").as("b"))
      .agg(sum(col("d_raw")).as("raw"), sum(col("d_nd")).as("nd"))
      .collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
    val noveltyLines =
      if (curve.isEmpty)
        Seq("  novelty: no per-batch partials (compacted or empty)")
      else "  novelty (net new keepers per raw doc, by batch):" +:
        curve.map { case (src, rows) =>
          val seq = rows.sortBy(_.getLong(1))
          val ratios = seq.map { r =>
            val raw = r.getLong(2); val nd = r.getLong(3)
            if (raw <= 0) "--"
            else num2(math.max(nd, 0L).toDouble / raw)
          }.mkString(" ")
          val last = seq.last
          val stale = last.getLong(2) > 0 && last.getLong(3) <= 0
          s"    $src: $ratios" +
            (if (stale) "  STAGNATING (latest batch adds no keepers)"
             else "")
        }
    Seq(s"training-prep store $storeRoot: $batches sealed batches" +
      (if (bootstrapped) " + bootstrap" else "") +
      s", budget $budgetTokens tokens",
      s"  delta counts: $nRows rows for $combos sources " +
        s"(${num2(if (combos == 0) 0.0
          else nRows.toDouble / combos - 1.0)} dilution), " +
        s"$neg rows carry keeper-churn corrections") ++
      noveltyLines ++
      Seq("  source            raw  exact near  decon qual  mixed" +
        "  mixed_toks") ++
      man.map(r => f"  ${r.getString(0)}%-16s ${r.getLong(1)}%5d" +
        f" ${r.getLong(2)}%5d ${r.getLong(3)}%5d ${r.getLong(4)}%5d" +
        f" ${r.getLong(5)}%5d ${r.getLong(6)}%5d ${r.getLong(7)}%10d")
  }

  private def compactLabels(spark: SparkSession, labelRoot: String,
      maxDilution: Double, docsDir: Option[String] = None)
      : Seq[String] = {
    import graft.operators.LabelStore
    val labelsDir = s"$labelRoot/labels"
    val all = spark.read.schema(LabelStore.LabelsSchema)
      .parquet(labelsDir)
    val totalRows = all.count()
    val current = LabelStore.read(spark, labelRoot)
      .localCheckpoint() // read by the count and the rewrite
    val nDocs = current.count()
    val dilution =
      if (nDocs == 0) 0.0 else (totalRows - nDocs).toDouble / nDocs
    val head = s"label store $labelRoot: $totalRows rows for " +
      s"$nDocs docs, dilution ${num2(dilution)} " +
      s"(budget ${num2(maxDilution)})"
    def swapIn(dir: String, rewritten: org.apache.spark.sql.DataFrame,
        files: Int, sortCol: String): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(dir)
      val tmp = new org.apache.hadoop.fs.Path(s"$dir.compacting")
      val fs = p.getFileSystem(conf)
      fs.delete(tmp, true) // stale sibling from a crashed run
      rewritten.repartitionByRange(files, col(sortCol))
        .sortWithinPartitions(col(sortCol))
        .write.parquet(tmp.toString)
      require(fs.delete(p, true), s"could not remove old table $p")
      require(fs.rename(tmp, p),
        s"could not move compacted table to $p")
    }
    val labelLines =
      if (dilution <= maxDilution)
        Seq(head, "within budget: no compaction needed")
      else {
        graft.sources.StoreLease.withLease(spark, labelRoot,
            "compact-labels") {
          // bounded file count, doc-range-clustered (8M label rows ≈
          // 128 MB per file at 16 bytes/row)
          swapIn(labelsDir, current,
            math.max(1L, (nDocs + 7999999L) / 8000000L).toInt,
            "doc_id")
        }
        Seq(head, s"compacted to $nDocs current rows (one per doc)")
      }
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(current)
    // ANCHORS KEYED COMPACT (docsDir given): append-if-absent keeps
    // one anchor row per key, but a key deleted/renamed out of the
    // docs table never retires on its own — key-churn corpora grow
    // the table monotonically. Anchor dilution = retired keys per
    // live key; over the same budget, the table rewrites to live
    // keys only. Safe for the merge semantics: a retired key can
    // never anchor a future batch edge (no doc carries it), and a
    // key REINTRODUCED after its docs vanished should anchor to its
    // new first doc — exactly what the rewrite leaves behind.
    val anchorLines = docsDir.toSeq.flatMap { dd =>
      val docsT = spark.read.parquet(s"$dd/docs")
      // the fold-store docs convention (refold): (id, key, source)
      val keyCol = docsT.schema.fieldNames(1)
      val anchorsDir = s"$labelRoot/anchors"
      val anchors = spark.read
        .schema(graft.operators.LabelStore.AnchorsSchema)
        .parquet(anchorsDir)
      val nAnchors = anchors.count()
      val liveKeys = docsT
        .select(col(keyCol).cast("string").as("ckey"))
        .filter(col("ckey").isNotNull).distinct()
      val live = anchors.join(liveKeys, Seq("ckey"), "left_semi")
        .localCheckpoint()
      val nLive = live.count()
      val aDil =
        if (nLive == 0) (if (nAnchors == 0) 0.0 else nAnchors.toDouble)
        else (nAnchors - nLive).toDouble / nLive
      val ahead = s"anchors: $nAnchors rows, $nLive live keys in " +
        s"$dd, dilution ${num2(aDil)} (budget ${num2(maxDilution)})"
      val out =
        if (aDil <= maxDilution)
          Seq(ahead, "anchors within budget: no compaction needed")
        else {
          graft.sources.StoreLease.withLease(spark, labelRoot,
              "compact-anchors") {
            swapIn(anchorsDir, live,
              math.max(1L, (nLive + 7999999L) / 8000000L).toInt,
              "ckey")
          }
          Seq(ahead, s"anchors compacted to $nLive live keys")
        }
      org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(live)
      out
    }
    labelLines ++ anchorLines
  }

  /** One modality's duplicate-census numbers: items, pairs, star-CC
    * group count, members covered by a group, and the largest group
    * as (keeper id, member count). */
  private final case class DupCensus(nItems: Long, nPairs: Long,
      nGroups: Long, nGrouped: Long, top: Option[(Long, Long)]) {
    def unique: Long = nItems - nGrouped
  }

  /** ONE modality-agnostic duplicate census over a near-dup pair set
    * — the body img/aud/vid-health carried in triplicate until
    * media-health would have made a fourth copy: checkpoint the
    * pairs (both the count and the CC read them), resolve star-CC
    * duplicate groups, measure coverage and the largest group.
    * `coalesce`: a pair-free corpus (every sf0.001 video its own
    * content class) sums an EMPTY frame to NULL. */
  private def dupCensus(nItems: Long,
      pairs0: org.apache.spark.sql.DataFrame,
      aCol: String, bCol: String): DupCensus = {
    val pairs = pairs0.localCheckpoint()
    val nPairs = pairs.count()
    val cc = graft.operators.Dedup
      .connectedComponentsStar(pairs, aCol, bCol)
      .toDF("doc", "keeper")
    val groups = cc.groupBy(col("keeper"))
      .agg(count(lit(1)).as("n_members"))
      .persist()
    val nGrouped = groups
      .agg(coalesce(sum(col("n_members")), lit(0L)))
      .collect()(0).getLong(0)
    val nGroups = groups.count()
    val top = groups.orderBy(col("n_members").desc, col("keeper"))
      .limit(1).collect()
      .headOption.map(r => (r.getLong(0), r.getLong(1)))
    groups.unpersist(blocking = false)
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(pairs)
    DupCensus(nItems, nPairs, nGroups, nGrouped, top)
  }

  /** `img-health` verb: the emb-health convention on the image
    * modality — the q172 decode→hash→pair pipeline over the real
    * fixture, resolved to duplicate groups (the q178 machinery), as
    * one human-readable census: images, dup pairs, groups, the
    * largest group and its keeper. With a phash index dir, also the
    * index's at-rest shape (segment file count + bkey pruning
    * dilution — the number that decides a `compact-phash` run). */
  private def imgHealth(spark: SparkSession, sfDir: String,
      indexDir: Option[String]): Seq[String] = {
    val (fp, pairs0) = SparkEntry.phashPairs(spark, sfDir)
    val c = dupCensus(fp.count(), pairs0, "doc_a", "doc_b")
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(fp)
    val census = Seq(
      s"images decoded: ${c.nItems}",
      s"near-dup pairs (radius 4): ${c.nPairs}",
      s"dup groups: ${c.nGroups} covering ${c.nGrouped} images " +
        s"(${c.unique} unique)") ++
      c.top.toSeq.map { case (k, n) =>
        s"largest group: $n images, keeper doc $k" }
    val index = indexDir.toSeq.flatMap { d =>
      val nFiles = Layout.fileSpans(spark, s"$d/keys", "bkey").count()
      val dil = Layout.pruningDilution(spark, s"$d/keys", "bkey")
      Seq(s"phash index $d: $nFiles key files, bkey dilution " +
        s"${num2(dil)}" + (if (dil > 2.0) " — run compact-phash" else ""))
    }
    census ++ index
  }

  /** `aud-health` verb: the img-health census on the AUDIO modality
    * — the q183 decode→energy-contour→pair pipeline over the real
    * WAV fixture, resolved to duplicate groups with the same star-CC
    * machinery. (The audio fingerprints ride the same at-rest index
    * format as image/video, so the index-shape report stays
    * img-health's `[phashIndexDir]` argument — one inspector per
    * store, not per modality.) */
  private def audHealth(spark: SparkSession, sfDir: String): Seq[String] = {
    val (fp, pairs0) = SparkEntry.audioPhashPairsStored(spark, sfDir)
      .getOrElse(SparkEntry.audioPhashPairs(spark, sfDir))
    val c = dupCensus(fp.count(), pairs0, "doc_a", "doc_b")
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(fp)
    Seq(
      s"audios decoded: ${c.nItems}",
      s"near-dup pairs (radius 4): ${c.nPairs}",
      s"dup groups: ${c.nGroups} covering ${c.nGrouped} audios " +
        s"(${c.unique} unique)") ++
      c.top.toSeq.map { case (k, n) =>
        s"largest group: $n audios, keeper doc $k" }
  }

  /** `vid-health` verb: the aud-health census on the VIDEO modality
    * — the q180 decode→sampled-frame-grid-hash→pair pipeline over
    * the real container fixture, reduced to VIDEO-grain pairs
    * (min frame-pair Hamming) and resolved to duplicate groups with
    * the same star-CC machinery. (Video frame fingerprints ride the
    * same at-rest index format as image/audio — the img-health
    * `[phashIndexDir]` inspector covers the store shape.) */
  private def vidHealth(spark: SparkSession, sfDir: String): Seq[String] = {
    val (fp, pairs0) = SparkEntry.videoPhashPairsStored(spark, sfDir)
      .getOrElse(SparkEntry.videoPhashPairs(spark, sfDir))
    val nFrames = fp.count()
    val nVideos = fp.select(expr("doc div 8")).distinct().count()
    val c = dupCensus(nVideos, pairs0, "vid_a", "vid_b")
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(fp)
    Seq(
      s"videos decoded: ${c.nItems} ($nFrames sampled frames)",
      s"video near-dup pairs (min frame Hamming <= 4): ${c.nPairs}",
      s"dup groups: ${c.nGroups} covering ${c.nGrouped} videos " +
        s"(${c.unique} unique)") ++
      c.top.toSeq.map { case (k, n) =>
        s"largest group: $n videos, keeper video $k" }
  }

  /** `refold` verb: the drift-gated fold REPAIR closing the
    * q205/q209 lifecycle exactly as `compact` closes a store's
    * (measure dilution → gate → rewrite): read the FINAL component
    * labels from the fold store's persisted label store when one is
    * in sync with its docs table (r17 — the repair's dominant cost,
    * the corpus CC re-walk, becomes one store aggregate; PLANS.md
    * "Fold-drift lifecycle vs landed-manifest growth": 56 → 12.5 s
    * at 100× manifest growth), else recompute them from the docs +
    * pairs tables (no re-tokenization — the
    * pair store IS the at-rest edge set),
    * compare every manifest row's at-ingest split against the final
    * component fold (the q209 arithmetic), and when moved docs
    * exceed `maxMovedMilli` (per mille of manifest rows) rewrite the
    * manifests at the final folds — a DRIFT-TARGETED PARTIAL
    * rewrite: only the sealed batch partitions holding moved docs
    * are overwritten (dynamic partition overwrite, one file per
    * partition), so repair IO tracks the drift rather than the
    * corpus; untouched partitions already agree with the final folds
    * on every split (a straddling component's unmoved members sit at
    * the final fold by definition — their informational `group`
    * column refreshes lazily, on the partition's next rewrite).
    * The write runs under the MANIFEST dir's sibling lease, which
    * the fold-ingest sink also takes per batch, so a live ingest and
    * the rewrite exclude each other loudly. A manifest/store pair
    * out of sync fails loudly
    * before any rewrite (the orphan guard). Idempotent: a second
    * run reads zero drift. Column names come from the docs table's
    * schema (the componentFoldIngest write order: id, key, source),
    * so the verb serves any fold store.
    *
    * A rewrite is never CLAIMED without its verification leg: after
    * the swap the verb re-measures val/train near-dup leakage over
    * the REWRITTEN manifests against the store's at-rest signature
    * index (Dedup.splitLeakageIndexed — no re-tokenization) and
    * prints the restored zero. At the ingest's own (bands,
    * `thresholdMilli`) contract the zero is guaranteed by
    * construction: any val doc whose banded collision re-scores over
    * the threshold against a non-val doc would be a pair-store edge,
    * hence share a component, hence share the component's fold —
    * a nonzero reading means the measure ran at a different contract
    * than the ingest indexed at (reported loudly, not masked). */
  private def refold(spark: SparkSession, storeRoot: String,
      manifestDir: String, maxMovedMilli: Int,
      thresholdMilli: Int = 500): Seq[String] = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$storeRoot/docs/docs")
    val Seq(idCol, keyCol, _) = docs.schema.fieldNames.take(3).toSeq
    // FINAL component labels: from the persisted union-find label
    // store when the fold store carries one IN SYNC with its docs
    // table (one current label per doc — the componentFoldIngest
    // maintenance invariant, LabelStoreSpec-pinned equal to a
    // from-scratch componentGroups on every prefix), else the CC
    // re-walk over docs + pairs. The sync guard costs two aggregates,
    // not a CC: an out-of-sync store (externally grown docs, a
    // store predating the label table) falls back loudly-visibly
    // (the report's first line names the path).
    val labelRoot = s"$storeRoot/labels"
    val labelTable = new org.apache.hadoop.fs.Path(s"$labelRoot/labels")
    val lblFs = labelTable.getFileSystem(
      spark.sessionState.newHadoopConf())
    val stored: Option[org.apache.spark.sql.DataFrame] =
      if (!lblFs.exists(labelTable)) None
      else {
        val lbl = graft.operators.LabelStore.read(spark, labelRoot)
          .withColumnRenamed("doc_id", idCol)
        val nLbl = lbl.count()
        val nStoreDocs = docs.count()
        val covered = nLbl == nStoreDocs &&
          docs.join(lbl, Seq(idCol), "left_anti").isEmpty
        if (covered) Some(lbl) else None
      }
    val labelPath = if (stored.isDefined) "label store" else "CC re-walk"
    val grp = stored.getOrElse(
        Dedup.componentGroups(docs, idCol, col(keyCol),
          spark.read.parquet(s"$storeRoot/pairs/pairs")
            .select(col("doc_a"), col("doc_b"))))
      .localCheckpoint() // read by the drift compare and the rewrite
    def foldOf(h: org.apache.spark.sql.Column) =
      graft.operators.Relational.foldOf(h)
    def free(df: org.apache.spark.sql.DataFrame): Unit =
      org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(df)
    val manifests = spark.read.parquet(manifestDir)
    val nDocs = manifests.count()
    val nParts = manifests.select(col("batch_id")).distinct().count()
    val drift = manifests
      .select(col(idCol), col("split").as("_old"))
      .join(grp, Seq(idCol))
      .withColumn("_new", foldOf(graft.functions.hashes
        .md5Hash60(col("group").cast("string")) % 10))
      .localCheckpoint()
    // LOUD orphan guard: the inner join above (and the rewrite's
    // below) would silently DROP any manifest row whose doc is
    // missing from the store's docs table (a manifest/store pair out
    // of sync, or a crash between manifest seal and docs append) —
    // and the delete+rename swap would make the loss permanent
    val nJoined = drift.count()
    require(nJoined == nDocs,
      s"refold: ${nDocs - nJoined} manifest rows have no doc in " +
        s"$storeRoot/docs — manifest and fold store are out of " +
        "sync; refusing to rewrite (rows would be dropped)")
    val moved = drift.filter(col("_old") =!= col("_new")).count()
    val leaky = drift.groupBy(col("group"))
      .agg(countDistinct(col("_old")).as("_n"), count(lit(1)).as("_m"))
      .filter(col("_n") > 1)
      .agg(coalesce(sum(col("_m")), lit(0L)))
      .collect()(0).getLong(0)
    // the partitions a DRIFT-TARGETED rewrite must touch: sealed
    // batches holding at least one moved doc (bounded: ≤ moved).
    // Checkpointed (tiny: distinct batch ids) so the over-cap
    // semi-join below survives free(drift).
    val touchedF = (
      if (moved == 0)
        manifests.select(col("batch_id")).limit(0)
      else manifests
        .join(drift.filter(col("_old") =!= col("_new"))
          .select(col(idCol)), Seq(idCol), "left_semi")
        .select(col("batch_id")).distinct()
      ).localCheckpoint()
    // a pushed key-set read (Dedup.restrictTo): a drift touching
    // more sealed partitions than the cap filters by left-semi join
    // instead of bloating the driver collect and the filter plan
    val touchCap = Dedup.DefaultMarkPruneCap
    val touchedParts = Dedup.boundedKeys(touchedF, "batch_id", touchCap)
    val nTouched = touchedParts.fold(touchedF.count())(_.size.toLong)
    free(drift)
    val movedMilli = if (nDocs == 0) 0L else moved * 1000 / nDocs
    val head = Seq(
      s"fold store $storeRoot: $nDocs manifest rows " +
        s"(final labels via $labelPath)",
      s"drift: $moved moved ($movedMilli milli), $leaky docs in " +
        "fold-straddling components")
    // exact integer gate (moved/nDocs > max/1000 cross-multiplied) —
    // floor-divided milli would hide sub-milli drift at gate 0
    if (moved * 1000L <= maxMovedMilli.toLong * nDocs) {
      free(grp)
      free(touchedF)
      head :+ s"within gate (max $maxMovedMilli milli): no refold"
    } else {
      // DRIFT-TARGETED PARTIAL REWRITE (r17): only the sealed batch
      // partitions holding moved docs are rewritten (dynamic
      // partition overwrite — one file per rewritten partition, the
      // fold sink's layout), so repair IO tracks the DRIFT, not the
      // corpus; a partition with no moved doc already agrees with
      // the final folds on every split (a straddling component's
      // unmoved members sit at the final fold by definition), so the
      // split contract is fully repaired. The informational `group`
      // column refreshes only in rewritten partitions — reports and
      // guards derive groups from the store, never from manifests.
      // Read fully BEFORE the overwrite touches the source files.
      val refolded = Dedup.restrictTo(manifests, "batch_id",
          touchedParts, touchCap)(
          _.join(touchedF, Seq("batch_id"), "left_semi"))
        .drop("group", "split")
        .join(grp, Seq(idCol))
        .withColumn("split", foldOf(graft.functions.hashes
          .md5Hash60(col("group").cast("string")) % 10))
        .localCheckpoint()
      free(grp)
      val nRewritten = refolded.count()
      // the MANIFEST dir's sibling lease, not the store root's: the
      // fold-ingest sink takes the same lease per batch, so a live
      // ingest and this rewrite exclude each other loudly (leasing
      // only storeRoot would exclude nothing that writes manifestDir)
      graft.sources.StoreLease.withLease(spark, manifestDir, "refold") {
        refolded
          .repartition(col("batch_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(manifestDir)
      }
      free(refolded)
      free(touchedF)
      // the verification leg — never claim the repair without it
      val post = spark.read.parquet(manifestDir)
      val valIds = post.filter(col("split") === "val")
        .select(col(idCol))
      val nVal = valIds.count()
      val leaked = Dedup.splitLeakageIndexed(spark,
          s"$storeRoot/index", valIds, idCol,
          threshold = thresholdMilli / 1000.0)
        .filter(col("is_leaked")).count()
      head ++ Seq(
        s"refolded $manifestDir: $nRewritten rows rewritten at the " +
          s"final component folds ($nTouched of " +
          s"$nParts sealed partitions touched)",
        if (leaked == 0L)
          s"re-measure: 0 of $nVal val docs leak at " +
            s"$thresholdMilli milli — repair verified"
        else
          s"re-measure: $leaked of $nVal val docs STILL leak at " +
            s"$thresholdMilli milli — repair NOT verified (does " +
            "the threshold match the ingest index contract?)")
    }
  }

  /** `media-health` verb: the cross-modality composition of the
    * three media censuses — ONE table a curator reads before a
    * multimodal training run ships: per modality, decoded items,
    * near-dup pairs, duplicate-group shape, and the roll-up totals
    * row. Each row comes from the SAME census core the per-modality
    * verbs print (reconciliation with q172/q183/q180 holds by
    * construction, not by agreement of two implementations).
    *
    * Steady-state cost: when the shared fingerprint store is built
    * for this corpus version (q208's prepareSharedStores), the
    * censuses read it instead of re-decoding all three modalities —
    * the verb's wall drops to the blocking aggregates (aud-health /
    * vid-health consume the same way; img-health stays decode-always
    * as the codec-path canary). MainSpec pins store-census ≡
    * decode-census. */
  private def mediaHealth(spark: SparkSession,
      sfDir: String): Seq[String] = {
    val (ifp, ipairs) = SparkEntry.phashPairsStored(spark, sfDir)
      .getOrElse(SparkEntry.phashPairs(spark, sfDir))
    val img = dupCensus(ifp.count(), ipairs, "doc_a", "doc_b")
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(ifp)
    val (afp, apairs) = SparkEntry.audioPhashPairsStored(spark, sfDir)
      .getOrElse(SparkEntry.audioPhashPairs(spark, sfDir))
    val aud = dupCensus(afp.count(), apairs, "doc_a", "doc_b")
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(afp)
    val (vfp, vpairs) = SparkEntry.videoPhashPairsStored(spark, sfDir)
      .getOrElse(SparkEntry.videoPhashPairs(spark, sfDir))
    val nVideos = vfp.select(expr("doc div 8")).distinct().count()
    val vid = dupCensus(nVideos, vpairs, "vid_a", "vid_b")
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(vfp)
    val total = Seq(img, aud, vid).reduce { (a, b) =>
      DupCensus(a.nItems + b.nItems, a.nPairs + b.nPairs,
        a.nGroups + b.nGroups, a.nGrouped + b.nGrouped, None)
    }
    def row(m: String, c: DupCensus) =
      f"$m%-8s ${c.nItems}%7d ${c.nPairs}%9d ${c.nGroups}%7d " +
        f"${c.nGrouped}%8d ${c.unique}%7d"
    Seq(f"${"modality"}%-8s ${"items"}%7s ${"pairs"}%9s " +
        f"${"groups"}%7s ${"grouped"}%8s ${"unique"}%7s",
      row("image", img), row("audio", aud), row("video", vid),
      row("total", total))
  }

  /** Inspector `ranges` verb (pulsar_remote_inspector.py:701-716):
    * the generator's built-in ID ranges plus an optional extraction
    * probe of a topic name. */
  private def ranges(rest: Seq[String]): Seq[String] = {
    val base = Seq(
      s"campaign ids: ${Generator.campaignIdRange.mkString("[", ",", "]")} " +
        s"(${Generator.campaignIdRange.size} campaigns)",
      s"template ids: ${Generator.templateIdRange.mkString("[", ",", "]")} " +
        s"(${Generator.templateIdRange.size} templates)",
      s"user keys: ${Generator.userKeyPattern}")
    val probe = rest match {
      case Seq("--test-topic", topic, _*) =>
        // driver-side twin of projectIdFromTopic — same regex source
        val m = "(?:post-)?ingestion-(\\d+)".r.findFirstMatchIn(topic)
        Seq(m match {
          case Some(g) => s"test topic $topic -> project id ${g.group(1).toInt}"
          case None => s"test topic $topic -> no project id (publish defaults to 1)"
        })
      case _ => Seq.empty
    }
    base ++ probe
  }

  /** S8 publish (bounded form): deterministic synthetic emailSend
    * wire-format messages to text files. The rate-limited streaming
    * form is Streams.syntheticPublishStream + toProducerSink. */
  private def publish(spark: SparkSession, outDir: String,
      count: Long): Seq[String] = {
    val base = lit(1704067200L) // 2024-01-01T00:00:00Z
    spark.range(0, count)
      .select(Generator.emailSendJson(
        col("id"), timestamp_seconds(base + col("id"))).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(outDir)
    Seq(s"published $count messages to $outDir")
  }

  /** The data card as an operations verb: the same per-source report
    * the q116/q117/q118 family registers, printed one line per
    * source (the inspector-tool shape: a human asks "what is in this
    * corpus right now" without writing a query). */
  /** `prep <dir>` — the q153 training-prep manifest as a CLI table:
    * per source, the doc count surviving each pipeline stage (exact
    * dedup → near-dup keeper → decontamination → quality floor →
    * temperature mix) plus the mixed token mass. The verb agrees
    * with the registered oracle-gated query by construction (it IS
    * that query). */
  private def prep(spark: SparkSession, sfDir: String): Seq[String] = {
    val rows = SparkEntry.queries("q153_training_manifest")(spark, sfDir)
      .orderBy(col("source"))
      .collect()
    val header = f"${"source"}%-8s ${"raw"}%6s ${"exact"}%6s " +
      f"${"neardup"}%7s ${"decont"}%6s ${"qual"}%6s ${"mixed"}%6s " +
      f"${"mix_tok"}%8s"
    header +: rows.toSeq.map { r =>
      f"${r.getAs[String]("source")}%-8s ${r.getAs[Long]("n_raw")}%6d " +
        f"${r.getAs[Long]("n_exact")}%6d " +
        f"${r.getAs[Long]("n_neardup")}%7d " +
        f"${r.getAs[Long]("n_decontam")}%6d " +
        f"${r.getAs[Long]("n_quality")}%6d " +
        f"${r.getAs[Long]("n_mixed")}%6d " +
        f"${r.getAs[Long]("tokens_mixed")}%8d"
    }
  }

  private def report(spark: SparkSession, sfDir: String): Seq[String] = {
    import graft.operators.{CorpusStats, Relational}
    val docs = Tables(spark, sfDir, "documents")
    val rows = CorpusStats.dataCard(
      Relational.widenForCpu(docs, col("doc_id")))
      .orderBy(col("source"))
      .collect()
    val header = f"${"source"}%-8s ${"docs"}%7s ${"tokens"}%9s " +
      f"${"chars"}%9s ${"quality"}%9s ${"repet"}%6s ${"lang_ok"}%7s " +
      f"${"langs"}%5s"
    header +: rows.toSeq.map { r =>
      f"${r.getAs[String]("source")}%-8s ${r.getAs[Long]("n_docs")}%7d " +
        f"${r.getAs[Long]("total_tokens")}%9d " +
        f"${r.getAs[Long]("total_chars")}%9d " +
        f"${r.getAs[Double]("sum_quality")}%9.2f " +
        f"${r.getAs[Long]("n_repetitive")}%6d " +
        f"${r.getAs[Long]("n_lang_agree")}%7d " +
        f"${r.getAs[Long]("n_langs")}%5d"
    }
  }

  /** `classify` verb: the q156 model-based quality gate for a human —
    * per source, docs seen / accepted and the mean logit in raw
    * model-weight units (each hashed feature contributes an integer
    * weight in [-1000, 1000]; the mean is the exact integer sum over
    * the source's docs divided by its doc count). */
  private def classify(spark: SparkSession, sfDir: String): Seq[String] = {
    import graft.operators.CorpusStats
    val docs = Tables(spark, sfDir, "documents")
    val rows = CorpusStats
      .classifierGateReport(docs, "doc_id", "text", "source",
        buckets = 4096)
      .orderBy(col("source"))
      .collect()
    val header = f"${"source"}%-8s ${"docs"}%7s ${"accepted"}%9s " +
      f"${"acc_pct"}%8s ${"mean_logit"}%11s ${"feats"}%9s"
    header +: rows.toSeq.map { r =>
      val n = r.getAs[Long]("n_docs"); val a = r.getAs[Long]("n_accept")
      f"${r.getAs[String]("source")}%-8s $n%7d $a%9d " +
        f"${100.0 * a / n}%7.1f%% " +
        f"${r.getAs[Long]("sum_logit").toDouble / n}%11.1f " +
        f"${r.getAs[Long]("sum_feats")}%9d"
    }
  }

  /** `excise` verb: the q163 span-surgery report for a human — per
    * source, how many documents carry eval-fold 8-gram spans and the
    * exact token mass excision would remove (vs dropping the whole
    * documents, shown as the drop/excise ratio). */
  private def excise(spark: SparkSession, sfDir: String): Seq[String] = {
    import graft.operators.Dedup
    val docs = Tables(spark, sfDir, "documents")
    val isEval = col("doc_id") % 17 === 3
    val rows = Dedup.contaminationExcision(docs.filter(!isEval),
        docs.filter(isEval), "doc_id", "text", n = 8)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("tokens_excised") > 0L, 1L).otherwise(0L))
          .as("n_affected"),
        sum(col("n_tok")).as("tokens_total"),
        sum(col("tokens_excised")).as("tokens_excised"),
        sum(when(col("tokens_excised") > 0L, col("n_tok"))
          .otherwise(0L)).as("tokens_if_dropped"))
      .orderBy(col("source"))
      .collect()
    val header = f"${"source"}%-8s ${"docs"}%6s ${"affected"}%9s " +
      f"${"tokens"}%8s ${"excised"}%8s ${"if_dropped"}%10s"
    header +: rows.toSeq.map { r =>
      f"${r.getAs[String]("source")}%-8s ${r.getAs[Long]("n_docs")}%6d " +
        f"${r.getAs[Long]("n_affected")}%9d " +
        f"${r.getAs[Long]("tokens_total")}%8d " +
        f"${r.getAs[Long]("tokens_excised")}%8d " +
        f"${r.getAs[Long]("tokens_if_dropped")}%10d"
    }
  }

  /** `emb-health` verb: the embedding-corpus health report — per
    * label, its coherence mass (cosine to its own centroid direction)
    * and how many of its dimensions are dead (exact zero variance),
    * i.e. the q134/q137 operators composed for a human. */
  private def embHealth(spark: SparkSession, sfDir: String): Seq[String] = {
    import graft.operators.Similarity
    val emb = Tables(spark, sfDir, "embeddings")
    val coh = Similarity.labelCoherence(emb, "embedding", "label")
    val dead = Similarity.embeddingMoments(emb, "embedding", "label")
      .groupBy(col("label"))
      .agg(sum(when(col("var_num") === 0, 1L).otherwise(0L))
        .as("n_dead_dims"))
    val rows = coh.join(dead, Seq("label"))
      .orderBy(col("label")).collect()
    val header = f"${"label"}%5s ${"vecs"}%6s ${"sum_cos"}%10s " +
      f"${"min_cos"}%9s ${"dead_dims"}%9s"
    header +: rows.toSeq.map { r =>
      f"${r.getAs[Int]("label")}%5d ${r.getAs[Long]("n_vecs")}%6d " +
        f"${r.getAs[Double]("sum_cos")}%10.4f " +
        f"${r.getAs[Double]("min_cos")}%9.4f " +
        f"${r.getAs[Long]("n_dead_dims")}%9d"
    }
  }

  /** `index-postings` verb: build the at-rest BM25 store from a
    * documents parquet (doc_id/text columns — a TESTDATA sf dir's
    * documents.parquet works directly). */
  private def indexPostings(spark: SparkSession, docsParquet: String,
      storeRoot: String, nBuckets: Int, numFiles: Int): Seq[String] = {
    val docs = spark.read.parquet(docsParquet)
    graft.operators.Retrieval.writePostingsIndex(docs, "doc_id", "text",
      storeRoot, nBuckets, numFiles)
    val st = spark.read.parquet(s"$storeRoot/stats").collect()(0)
    val rows = spark.read.parquet(s"$storeRoot/postings").count()
    Seq(s"indexed ${st.getLong(0)} docs / ${st.getLong(1)} tokens " +
      s"into $rows postings ($nBuckets buckets, $numFiles files) " +
      s"at $storeRoot")
  }

  /** `bm25` verb: top-k against a postings store built by
    * `index-postings` (or grown by segment append / streaming
    * ingest — the reader merges segments transparently). */
  private def bm25(spark: SparkSession, storeRoot: String,
      query: String, k: Int): Seq[String] = {
    val rows = graft.operators.Retrieval
      .bm25TopKIndexed(spark, storeRoot, Seq((1, query)), k)
      .orderBy(col("rank")).collect()
    if (rows.isEmpty) Seq(s"no document matches '$query'")
    else rows.toSeq.map(r =>
      f"${r.getInt(1)}%2d  doc=${r.getLong(2)}%-10d " +
        f"score=${r.getDouble(3)}%.6f")
  }
}
