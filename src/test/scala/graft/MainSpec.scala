package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.codec
import graft.sources.SnapshotIO

/** End-to-end drive of the graft.Main CLI over the golden snapshot —
  * the user-facing entry point the reference exposes as an argparse /
  * interactive menu. */
class MainSpec extends AnyFunSuite with SparkSpec with Matchers {

  private lazy val imported: String = {
    val tmp = Files.createTempDirectory("graft_main_golden").toString
    SnapshotIO.importReferenceSnapshot("src/test/resources/golden_snapshot", tmp)
    tmp
  }

  test("list-topics composes union->dedup->rollup->priority->limit over a snapshot") {
    val lines = Main.run(spark, Seq("list-topics", imported, "10"))
    lines.head should include("TOPIC")
    lines.tail.mkString("\n") should include("persistent://acme/prod/orders")
    lines.size should be > 2
  }

  test("restore dry-run emits DDL parents-first") {
    val lines = Main.run(spark, Seq("restore", imported))
    lines should contain("CREATE tenant acme")
    val kinds = lines.map(_.split(" ")(1))
    // every tenant precedes every namespace precedes every topic
    kinds.lastIndexOf("tenant") should be < kinds.indexOf("namespace")
    kinds.lastIndexOf("namespace") should be < kinds.indexOf("topic")
  }

  test("replay writes one payload file per topic, lines in seq order") {
    val out = Files.createTempDirectory("graft_main_replay").toString
    val lines = Main.run(spark, Seq("replay", imported, out))
    lines.head should include("2 topics")
    val ordersFile = new java.io.File(out,
      codec.sanitizeTopicStr("persistent://acme/prod/orders") + ".txt")
    ordersFile.exists() shouldBe true
    val payloads = Files.readAllLines(ordersFile.toPath)
    payloads.size() shouldBe 3
    new String(java.util.Base64.getDecoder.decode(payloads.get(0)),
      "UTF-8") shouldBe "order one"
    // the binary message ("/w==" with binary_encoded=true) decodes to 0xFF
    java.util.Base64.getDecoder.decode(payloads.get(1)) shouldBe Array(0xFF.toByte)
  }

  test("publish writes exactly count wire-format messages") {
    val out = Files.createTempDirectory("graft_main_pub").toString
    Main.run(spark, Seq("publish", out, "25")).head should include("25")
    spark.read.text(out).count() shouldBe 25
  }

  test("capture converts the native parquet layout into the snapshot layout") {
    import spark.implicits._
    val nat = Files.createTempDirectory("graft_main_nat").toString
    val snap = Files.createTempDirectory("graft_main_snap").toString
    val env = Seq(
      ("persistent://t/ns/a", "m0", false, Map.empty[String, String],
        new Timestamp(1704067200000L), Option.empty[Timestamp],
        Option.empty[String], 0L),
      ("persistent://t/ns/a", "m1", false, Map.empty[String, String],
        new Timestamp(1704067201000L), Option.empty[Timestamp],
        Option.empty[String], 1L),
      ("persistent://t/ns/b", "m2", false, Map.empty[String, String],
        new Timestamp(1704067202000L), Option.empty[Timestamp],
        Option.empty[String], 0L))
      .toDF("topic", "content", "binary_encoded", "properties",
        "publish_ts", "event_ts", "partition_key", "seq")
    SnapshotIO.writeNative(env, nat)
    // the count comes from the capture's own write, not a re-read
    Main.run(spark, Seq("capture", nat, snap)) shouldBe
      Seq(s"captured 3 messages to $snap")
    SnapshotIO.readMessages(spark, snap).count() shouldBe 3
    SnapshotIO.readTenants(spark, snap).collect()
      .map(_.getString(0)) shouldBe Array("t")
  }

  test("import rewrites a reference-layout snapshot that other commands can read") {
    val dest = Files.createTempDirectory("graft_main_import").toString
    Main.run(spark, Seq("import", "src/test/resources/golden_snapshot", dest))
      .head should include("imported")
    SnapshotIO.readMessages(spark, dest).count() shouldBe 5
    Main.run(spark, Seq("list-topics", dest, "10"))
      .tail.mkString("\n") should include("persistent://acme/prod/orders")
  }

  test("delete refuses without --force, emits DDL children-first with it") {
    // copy of the golden catalog WITH system resources appended, so
    // the preservation contract is actually exercised
    val dir = Files.createTempDirectory("graft_main_del").toString
    SnapshotIO.importReferenceSnapshot(imported, dir)
    def append(f: String, line: String): Unit =
      Files.writeString(java.nio.file.Paths.get(dir, f),
        line + "\n", java.nio.file.StandardOpenOption.APPEND)
    append("tenants.txt", "pulsar")
    append("namespaces.txt", "pulsar/system")
    append("all_topics.txt", "persistent://pulsar/system/transaction-log")
    val gated = Main.run(spark, Seq("delete", dir))
    gated.last should include("--force")
    gated.exists(_.startsWith("DELETE")) shouldBe false
    val lines = Main.run(spark, Seq("delete", dir, "--force"))
    lines should contain("DELETE tenant acme")
    val kinds = lines.filter(_.startsWith("DELETE")).map(_.split(" ")(1))
    // the reverse of restore: every topic precedes every namespace
    // precedes every tenant (pulsar_backup_restore.py:274-291)
    kinds.lastIndexOf("topic") should be < kinds.indexOf("namespace")
    kinds.lastIndexOf("namespace") should be < kinds.indexOf("tenant")
    // system resources never reach the DDL even under --force
    lines.exists(_.contains("pulsar")) shouldBe false
  }

  test("print shows decoded messages in replay order, capped") {
    val lines = Main.run(spark, Seq("print", imported, "3"))
    lines.size shouldBe 3
    lines.head should startWith("persistent://acme/prod/orders[0]")
    lines.head should include("order one")
    // the binary payload is tagged rather than dumped raw
    Main.run(spark, Seq("print", imported, "5"))
      .exists(_.contains("[binary]")) shouldBe true
  }

  test("sample emits one parseable emailSend wire message") {
    val lines = Main.run(spark, Seq("sample"))
    lines.size shouldBe 1
    val parsed = spark.read.json(
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
    parsed.select("payloadType").collect()(0).getString(0) shouldBe "emailSend"
  }

  test("ranges prints ID ranges and probes a test topic") {
    val base = Main.run(spark, Seq("ranges"))
    base.exists(_.contains("25 campaigns")) shouldBe true
    base.exists(_.contains("10 templates")) shouldBe true
    Main.run(spark, Seq("ranges", "--test-topic",
      "persistent://eventbus/org-1/post-ingestion-495"))
      .last should include("project id 495")
    Main.run(spark, Seq("ranges", "--test-topic", "no-match"))
      .last should include("defaults to 1")
  }

  test("diff tags added/removed/changed topics between two captures") {
    import spark.implicits._
    def write(dir: String, rows: Seq[(String, Long)]): Unit = {
      val env = rows.flatMap { case (topic, n) =>
        (0L until n).map(i => (topic, s"m$i", false,
          Map.empty[String, String],
          new Timestamp(1704067200000L + i), Option.empty[Timestamp],
          Option.empty[String], i))
      }.toDF("topic", "content", "binary_encoded", "properties",
        "publish_ts", "event_ts", "partition_key", "seq")
      val nat = Files.createTempDirectory("graft_diff_nat").toString
      SnapshotIO.writeNative(env, nat)
      Main.run(spark, Seq("capture", nat, dir))
    }
    val a = Files.createTempDirectory("graft_diff_a").toString
    val b = Files.createTempDirectory("graft_diff_b").toString
    write(a, Seq("persistent://t/ns/stay" -> 2L,
      "persistent://t/ns/gone" -> 1L, "persistent://t/ns/grow" -> 1L))
    write(b, Seq("persistent://t/ns/stay" -> 2L,
      "persistent://t/ns/new" -> 3L, "persistent://t/ns/grow" -> 4L))
    val lines = Main.run(spark, Seq("diff", a, b))
    lines.head should include("STATUS")
    val body = lines.tail.mkString("\n")
    body should include regex "added\\s+persistent://t/ns/new\\s+-\\s+3"
    body should include regex "removed\\s+persistent://t/ns/gone\\s+1\\s+-"
    body should include regex "changed\\s+persistent://t/ns/grow\\s+1\\s+4"
    body should not include "stay" // unchanged rows are not reported
  }

  test("restore --since emits DDL only for the added/changed delta, parents included") {
    import spark.implicits._
    def write(dir: String, rows: Seq[(String, Long)]): Unit = {
      val env = rows.flatMap { case (topic, n) =>
        (0L until n).map(i => (topic, s"m$i", false,
          Map.empty[String, String],
          new Timestamp(1704067200000L + i), Option.empty[Timestamp],
          Option.empty[String], i))
      }.toDF("topic", "content", "binary_encoded", "properties",
        "publish_ts", "event_ts", "partition_key", "seq")
      val nat = Files.createTempDirectory("graft_since_nat").toString
      SnapshotIO.writeNative(env, nat)
      Main.run(spark, Seq("capture", nat, dir))
    }
    val before = Files.createTempDirectory("graft_since_a").toString
    val after = Files.createTempDirectory("graft_since_b").toString
    write(before, Seq("persistent://t/ns/stay" -> 2L,
      "persistent://t/ns/gone" -> 1L, "persistent://t/ns/grow" -> 1L))
    write(after, Seq("persistent://t/ns/stay" -> 2L,
      "persistent://other/ns2/new" -> 3L, "persistent://t/ns/grow" -> 4L))
    // a topic CREATED but with no messages yet exists only in the
    // catalog — the message-count diff alone would miss it. The raw
    // append invalidates the Hadoop local-FS checksum sidecar the
    // capture writer produced; drop it (external edit semantics)
    Files.writeString(java.nio.file.Paths.get(after, "topics.txt"),
      "persistent://t/ns/empty\n",
      java.nio.file.StandardOpenOption.APPEND)
    Files.deleteIfExists(java.nio.file.Paths.get(after, ".topics.txt.crc"))
    val lines = Main.run(spark, Seq("restore", after, "--since", before))
    // the delta: grow (changed) + new (added); their parents ride along
    lines should contain("CREATE topic persistent://t/ns/grow")
    lines should contain("CREATE topic persistent://other/ns2/new")
    // the zero-message catalog addition is restored too
    lines should contain("CREATE topic persistent://t/ns/empty")
    lines should contain("CREATE tenant other")
    lines should contain("CREATE namespace other/ns2")
    // unchanged and vanished topics are NOT re-created
    lines.exists(_.contains("stay")) shouldBe false
    lines.exists(_.contains("gone")) shouldBe false
    // parents-first ordering still holds on the subset
    val kinds = lines.map(_.split(" ")(1))
    kinds.lastIndexOf("tenant") should be < kinds.indexOf("namespace")
    kinds.lastIndexOf("namespace") should be < kinds.indexOf("topic")
    // full restore (no --since) is unchanged by the feature
    Main.run(spark, Seq("restore", after))
      .exists(_.contains("stay")) shouldBe true
    // malformed tail falls through to usage, the CLI convention
    Main.run(spark, Seq("restore", after, "--wat"))
      .head should include("usage")
  }

  test("replay --since re-sends only added/changed topics' messages, in order") {
    import spark.implicits._
    def write(dir: String, rows: Seq[(String, Long)]): Unit = {
      val env = rows.flatMap { case (topic, n) =>
        (0L until n).map(i => (topic, s"p$i", false,
          Map.empty[String, String],
          new Timestamp(1704067200000L + i), Option.empty[Timestamp],
          Option.empty[String], i))
      }.toDF("topic", "content", "binary_encoded", "properties",
        "publish_ts", "event_ts", "partition_key", "seq")
      val nat = Files.createTempDirectory("graft_rsince_nat").toString
      SnapshotIO.writeNative(env, nat)
      Main.run(spark, Seq("capture", nat, dir))
    }
    val before = Files.createTempDirectory("graft_rsince_a").toString
    val after = Files.createTempDirectory("graft_rsince_b").toString
    write(before, Seq("persistent://t/ns/stay" -> 2L,
      "persistent://t/ns/grow" -> 1L))
    write(after, Seq("persistent://t/ns/stay" -> 2L,
      "persistent://t/ns/grow" -> 4L, "persistent://t/ns/new" -> 3L))
    val out = Files.createTempDirectory("graft_rsince_out").toString
    val lines = Main.run(spark,
      Seq("replay", after, out, "--since", before))
    lines.head should include("2 topics")
    lines.head should include("delta since")
    def file(t: String) = new java.io.File(out,
      codec.sanitizeTopicStr(t) + ".txt")
    // unchanged topics are NOT re-sent; the delta is, complete and
    // in capture (seq) order
    file("persistent://t/ns/stay").exists() shouldBe false
    val grow = Files.readAllLines(file("persistent://t/ns/grow").toPath)
    grow.size() shouldBe 4
    (0 until 4).foreach { i =>
      new String(java.util.Base64.getDecoder.decode(grow.get(i)),
        "UTF-8") shouldBe s"p$i"
    }
    file("persistent://t/ns/new").exists() shouldBe true
    // full replay (no --since) is unchanged by the feature
    val full = Files.createTempDirectory("graft_rsince_full").toString
    Main.run(spark, Seq("replay", after, full)).head should include("3 topics")
    new java.io.File(full,
      codec.sanitizeTopicStr("persistent://t/ns/stay") + ".txt")
      .exists() shouldBe true
  }

  test("compact verb reports dilution, rewrites only when over budget") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.sources.Layout
    val root = Files.createTempDirectory("graft_main_cmp").toString + "/s"
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => ((i * 7919) % 10007, s"v$i")).toDF("k", "v")
    Layout.clusteredAppend(batch(0, 3000), root, "base", 3, col("k"))
    // one segment: under budget, verb must NOT rewrite
    val quiet = Main.run(spark, Seq("compact", root, "k"))
    quiet.head should include("1 segments")
    quiet.last should include("no compaction needed")
    Layout.segments(spark, root) shouldBe Seq("base")
    // three more segments: over budget, verb compacts and reports
    Layout.clusteredAppend(batch(3000, 5000), root, "i1", 2, col("k"))
    Layout.clusteredAppend(batch(5000, 7000), root, "i2", 2, col("k"))
    Layout.clusteredAppend(batch(7000, 8000), root, "i3", 2, col("k"))
    val acted = Main.run(spark, Seq("compact", root, "k"))
    acted.head should include("4 segments")
    acted.last should include("compacted 4 segments -> 1")
    Layout.segments(spark, root) shouldBe Seq("compacted")
    spark.read.parquet(root).count() shouldBe 8000
    // malformed budget arg → usage, not an exception
    Main.run(spark, Seq("compact", root, "k", "notanumber"))
      .head should include("usage:")
    Scratch.deleteRecursively(new java.io.File(root).getParentFile)
  }

  test("compact verb on a tagged-append grown embedding store: " +
    "dilution-gated rewrite, margin verdicts invariant") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.sources.Layout
    val parent = Files.createTempDirectory("graft_main_mg").toString
    val store = parent + "/emb"
    val dim = 16
    def vec(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      Seq.fill(dim)(r.nextGaussian())
    }
    val planes = graft.functions.vectors.planeMatrix(seed = 92L,
      nPlanes = 4, dim = dim)
    def bucketed(rows: Seq[(Long, Seq[Double])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("bucket", graft.functions.vectors
          .hyperplaneBucketFast(col("embedding"), planes))
        .repartitionByRange(1, col("bucket"))
        .sortWithinPartitions(col("bucket"))
    Layout.clusteredWrite(
      bucketed((0 until 20).map(i => (i.toLong, vec(i)))),
      store, numFiles = 4, col("bucket"))
    // two tagged exactly-once appends (the q200 growth convention)
    graft.operators.Dedup.taggedSegmentAppend(spark, parent, "b0",
      Seq("emb" -> bucketed((0 until 10).map(i =>
        (100L + i, vec(500 + i))))))
    graft.operators.Dedup.taggedSegmentAppend(spark, parent, "b1",
      Seq("emb" -> bucketed((0 until 10).map(i =>
        (200L + i, vec(700 + i))))))
    Layout.segments(spark, store).sorted shouldBe Seq("b0", "b1")
    val batch = (0 until 5).map(i => (900L + i,
      vec(i).zipWithIndex.map { case (x, j) => x + 1e-3 * j }))
      .toDF("vec_id", "embedding")
    def mine() = graft.operators.Similarity.marginProbeStore(spark,
        store, batch, planes, radius = 4, k = 4, threshold = 1.0)
      .collect().map(_.toSeq).toSet
    val before = mine()
    before.nonEmpty shouldBe true
    // three overlapping generations → over the default 2.0 budget
    val acted = Main.run(spark, Seq("compact", store, "bucket"))
    acted.last should include("compacted")
    Layout.segments(spark, store) shouldBe Seq("compacted")
    // verdict invariance: the rewrite changed layout, not answers
    mine() shouldBe before
    Scratch.deleteRecursively(new java.io.File(parent))
  }

  test("compact verb over BOTH stores of a two-sided grown pair " +
    "(q206 lifecycle): both probe directions' verdicts invariant") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    import graft.sources.Layout
    val parent = Files.createTempDirectory("graft_main_mg2").toString
    val dim = 16
    def vec(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      Seq.fill(dim)(r.nextGaussian())
    }
    val planes = graft.functions.vectors.planeMatrix(seed = 92L,
      nPlanes = 4, dim = dim)
    def bucketed(rows: Seq[(Long, Seq[Double])]) =
      rows.toDF("vec_id", "embedding")
        .withColumn("bucket", graft.functions.vectors
          .hyperplaneBucketFast(col("embedding"), planes))
        .repartitionByRange(1, col("bucket"))
        .sortWithinPartitions(col("bucket"))
    Layout.clusteredWrite(
      bucketed((0 until 12).map(i => (2L * i, vec(i)))),
      parent + "/x", numFiles = 4, col("bucket"))
    Layout.clusteredWrite(
      bucketed((0 until 12).map(i => (2L * i + 1, vec(50 + i)))),
      parent + "/y", numFiles = 4, col("bucket"))
    // three ATOMIC two-table appends (the q206 growth convention:
    // one marker seals both sides)
    for (b <- 0 until 3)
      graft.operators.Dedup.taggedSegmentAppend(spark, parent, s"b$b",
        Seq("x" -> bucketed((0 until 6).map(i =>
            (1000L + 10 * b + i, vec(300 + 10 * b + i)))),
          "y" -> bucketed((0 until 6).map(i =>
            (2000L + 10 * b + i, vec(600 + 10 * b + i))))))
    Layout.segments(spark, parent + "/x").sorted shouldBe
      Seq("b0", "b1", "b2")
    Layout.segments(spark, parent + "/y").sorted shouldBe
      Seq("b0", "b1", "b2")
    val bx = (0 until 4).map(i => (9000L + i,
      vec(600 + i).zipWithIndex.map { case (x, j) => x + 1e-3 * j }))
      .toDF("vec_id", "embedding")
    val by = (0 until 4).map(i => (9100L + i,
      vec(300 + i).zipWithIndex.map { case (x, j) => x + 1e-3 * j }))
      .toDF("vec_id", "embedding")
    def mine(): Set[Seq[Any]] =
      (graft.operators.Similarity.marginProbeStore(spark,
          parent + "/y", bx, planes, radius = 4, k = 4,
          threshold = 1.0).withColumn("dir", lit("x2y"))
        .unionByName(graft.operators.Similarity.marginProbeStore(
          spark, parent + "/x", by, planes, radius = 4, k = 4,
          threshold = 1.0).withColumn("dir", lit("y2x"))))
        .collect().map(_.toSeq).toSet
    val before = mine()
    before.nonEmpty shouldBe true
    Main.run(spark, Seq("compact", parent + "/x", "bucket"))
      .last should include("compacted")
    Main.run(spark, Seq("compact", parent + "/y", "bucket"))
      .last should include("compacted")
    Layout.segments(spark, parent + "/x") shouldBe Seq("compacted")
    Layout.segments(spark, parent + "/y") shouldBe Seq("compacted")
    mine() shouldBe before
    Scratch.deleteRecursively(new java.io.File(parent))
  }

  test("compact-ndindex verb: dilution-gated rewrite, verdicts invariant") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_main_ndc").toString
    val idx = root + "/idx"
    def doc(id: Long, text: String) = (id, text)
    Dedup.writeNearDupIndex(
      Seq(doc(1, "alpha beta gamma delta epsilon zeta"),
        doc(2, "one two three four five six seven")).toDF("doc_id", "text"),
      "doc_id", "text", 2, 64, 32, idx)
    // single build: tight spans, under budget — verb must not rewrite
    Main.run(spark, Seq("compact-ndindex", idx))
      .last should include("no compaction needed")
    // several appends whose ids straddle the whole range → overlapping
    // per-batch files → dilution over budget
    for (i <- 0 until 4)
      Dedup.appendToNearDupIndex(
        Seq(doc(10 + i, s"fresh content number $i alpha"),
          doc(1000 - i, s"other fresh content $i omega")).toDF("doc_id", "text"),
        "doc_id", "text", 2, 64, 32, idx)
    val batch = Seq(doc(5000, "one two three four five six seven"),
      doc(5001, s"fresh content number 2 alpha"),
      doc(5002, "nothing like anything indexed here")).toDF("doc_id", "text")
    val before = Dedup.incrementalNearDupAgainst(spark, batch, "doc_id",
        "text", idx, 2, 64, 32, 0.5)
      .select("doc_id", "dup_of").as[(Long, Option[Long])].collect().toMap
    val acted = Main.run(spark, Seq("compact-ndindex", idx))
    acted.last should include("compacted")
    // compaction is a layout move only: same verdicts afterwards
    val after = Dedup.incrementalNearDupAgainst(spark, batch, "doc_id",
        "text", idx, 2, 64, 32, 0.5)
      .select("doc_id", "dup_of").as[(Long, Option[Long])].collect().toMap
    after shouldBe before
    before(5000L) shouldBe Some(2L)
    before(5001L) shouldBe Some(12L) // resolves to an APPENDED doc
    before(5002L) shouldBe None
    Scratch.deleteRecursively(new java.io.File(root))
  }

  test("compact-phash verb: dilution-gated rewrite, verdicts invariant") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_main_phc").toString
    val idx = root + "/idx"
    def fps(ids: Seq[Long]) = ids
      .map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("doc", "fp")
    Dedup.writePhashIndex(fps(0L until 40L), idx, radius = 3,
      width = 64, blocks = Some(4), keyBlocks = 1)
    // single build: tight spans, under budget — verb must not rewrite
    Main.run(spark, Seq("compact-phash", idx))
      .last should include("no compaction needed")
    // several ingest segments, each spanning the whole key range →
    // overlapping per-segment files → dilution over budget
    for (i <- 0 until 4)
      Dedup.ingestPhashBatchAgainst(spark,
        fps(Seq(100L + i, 200L + i, 300L + i)), idx,
        radius = 3, width = 64, blocks = Some(4), keyBlocks = 1,
        commitTag = Some(s"seg$i"))
    val batch = Seq(
      (9001L, 7L * 0x9E3779B97F4A7C15L),      // = stored doc 7
      (9002L, 102L * 0x9E3779B97F4A7C15L),    // = an APPENDED doc
      (9003L, 0x1234123412341234L))           // novel
      .toDF("doc", "fp")
    def verdicts() = Dedup.incrementalPhashAgainst(spark, batch, idx,
        radius = 3, width = 64, blocks = Some(4), keyBlocks = 1)
      .select("doc", "dup_of")
      .as[(Long, Option[Long])].collect().toMap
    val before = verdicts()
    val acted = Main.run(spark, Seq("compact-phash", idx))
    acted.last should include("compacted")
    // compaction is a layout move only: same verdicts afterwards
    verdicts() shouldBe before
    before(9001L) shouldBe Some(7L)
    before(9002L) shouldBe Some(102L) // resolves to an APPENDED doc
    before(9003L) shouldBe None
    // one compacted generation: pruning dilution back to ~1
    graft.sources.Layout.pruningDilution(spark, s"$idx/keys",
      "bkey") should be <= 1.5
    Scratch.deleteRecursively(new java.io.File(root))
  }

  test("img-health verb: census reconciles with the q172/q178 gate " +
    "queries; index shape reported") {
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    // a small phash index so the verb also reports the at-rest shape
    val root = Files.createTempDirectory("graft_main_imgh").toString
    val idx = root + "/idx"
    import spark.implicits._
    graft.operators.Dedup.writePhashIndex(
      (0L until 20L).map(i => (i, i * 0x9E3779B97F4A7C15L))
        .toDF("doc", "fp"),
      idx, radius = 4, width = 64, blocks = Some(8), keyBlocks = 1)
    val lines = Main.run(spark, Seq("img-health", sfDir, idx))
    lines.foreach(l => info(l))
    // totals reconcile with the gate queries over the same fixture
    val nPairs = SparkEntry.queries("q172_image_phash_dedup")(spark, sfDir)
      .count()
    val keeper = SparkEntry.queries("q178_image_dup_keeper")(spark, sfDir)
    val nImages = keeper.count()
    val nGrouped = keeper.filter(col("doc") =!= col("group_keeper"))
      .count() // members resolving to another doc
    lines.head shouldBe s"images decoded: $nImages"
    lines(1) shouldBe s"near-dup pairs (radius 4): $nPairs"
    // grouped = non-keeper members + their (distinct) keepers, both
    // recomputed from the q178 result itself
    lines(2) should include("dup groups:")
    val grouped = "covering (\\d+) images".r
      .findFirstMatchIn(lines(2)).get.group(1).toLong
    val censusGroups = "dup groups: (\\d+)".r
      .findFirstMatchIn(lines(2)).get.group(1).toLong
    val q178Keepers = keeper.filter(col("doc") =!= col("group_keeper"))
      .select("group_keeper").distinct().count()
    censusGroups shouldBe q178Keepers
    grouped shouldBe nGrouped + q178Keepers
    lines.exists(_.startsWith("largest group:")) shouldBe true
    lines.last should include("phash index")
    lines.last should include("key files")
    Scratch.deleteRecursively(new java.io.File(root))
  }

  test("aud-health verb: census reconciles with the q183 gate query") {
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    val lines = Main.run(spark, Seq("aud-health", sfDir))
    lines.foreach(l => info(l))
    val pairs = SparkEntry.queries("q183_audio_phash_dedup")(spark, sfDir)
      .localCheckpoint()
    val nPairs = pairs.count()
    val nAudios = SparkEntry.audioPhashPairs(spark, sfDir)._1.count()
    lines.head shouldBe s"audios decoded: $nAudios"
    lines(1) shouldBe s"near-dup pairs (radius 4): $nPairs"
    lines(2) should include("dup groups:")
    // every grouped audio is an endpoint of some pair — the census
    // grouped count equals the distinct endpoints of the gate pairs
    val endpoints = pairs.select(col("doc_a").as("d"))
      .union(pairs.select(col("doc_b").as("d"))).distinct().count()
    val grouped = "covering (\\d+) audios".r
      .findFirstMatchIn(lines(2)).get.group(1).toLong
    grouped shouldBe endpoints
    lines.exists(_.startsWith("largest group:")) shouldBe true
  }

  test("vid-health verb: census reconciles with the q180 gate query") {
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    val lines = Main.run(spark, Seq("vid-health", sfDir))
    lines.foreach(l => info(l))
    val pairs = SparkEntry.queries("q180_video_phash_dedup")(spark, sfDir)
      .localCheckpoint()
    val nPairs = pairs.count()
    val nVideos = SparkEntry.videoPhashPairs(spark, sfDir)._1
      .select(org.apache.spark.sql.functions.expr("doc div 8"))
      .distinct().count()
    lines.head should startWith(s"videos decoded: $nVideos")
    lines(1) shouldBe
      s"video near-dup pairs (min frame Hamming <= 4): $nPairs"
    lines(2) should include("dup groups:")
    // every grouped video is an endpoint of some video pair — the
    // census grouped count equals the distinct endpoints of the gate
    // pairs
    val endpoints = pairs.select(col("vid_a").as("v"))
      .union(pairs.select(col("vid_b").as("v"))).distinct().count()
    val grouped = "covering (\\d+) videos".r
      .findFirstMatchIn(lines(2)).get.group(1).toLong
    grouped shouldBe endpoints
    // the largest-group line exists exactly when any pair exists
    // (sf0.001's 25 videos land in 25 distinct content classes —
    // zero pairs is the CORRECT census there, and the verb must
    // survive it; sf0.01 carries real groups)
    lines.exists(_.startsWith("largest group:")) shouldBe (nPairs > 0)
  }

  test("media-health verb: per-modality rows reconcile with the " +
    "q172/q183/q180 gate queries; the totals row sums the columns") {
    val sfDir = "/root/testdata/sf0.001"
    // build the shared fingerprint store FIRST, so the verb runs its
    // store-reading path — the assertions below compare against the
    // DECODING gate queries, pinning store-census ≡ decode-census
    // (the r16 verdict's "totals unchanged" criterion)
    SparkEntry.prepareSharedStores(spark, sfDir,
      Some(Set("q208_modality_manifest")))
    SparkEntry.mediaFingerprintStoreIfBuilt(spark, sfDir)
      .isDefined shouldBe true
    val lines = Main.run(spark, Seq("media-health", sfDir))
    lines.foreach(l => info(l))
    lines should have size 5 // header + image/audio/video + total
    def cells(l: String): Seq[Long] =
      l.trim.split("\\s+").toSeq.tail.map(_.toLong)
    val Seq(img, aud, vid, tot) =
      Seq("image", "audio", "video", "total").map { m =>
        cells(lines.find(_.startsWith(m)).get)
      }
    // items and pairs reconcile with the oracle-gated queries over
    // the same fixture (the img/aud/vid-health test convention)
    img(0) shouldBe SparkEntry.phashPairs(spark, sfDir)._1.count()
    img(1) shouldBe
      SparkEntry.queries("q172_image_phash_dedup")(spark, sfDir).count()
    aud(0) shouldBe SparkEntry.audioPhashPairs(spark, sfDir)._1.count()
    aud(1) shouldBe
      SparkEntry.queries("q183_audio_phash_dedup")(spark, sfDir).count()
    vid(0) shouldBe SparkEntry.videoPhashPairs(spark, sfDir)._1
      .select(org.apache.spark.sql.functions.expr("doc div 8"))
      .distinct().count()
    vid(1) shouldBe
      SparkEntry.queries("q180_video_phash_dedup")(spark, sfDir).count()
    // grouped + unique partition the items in every row
    Seq(img, aud, vid, tot).foreach { r =>
      r(3) + r(4) shouldBe r(0)
    }
    // the totals row is the column sum of the three modality rows
    tot shouldBe img.indices.map(i => img(i) + aud(i) + vid(i))
  }

  test("refold verb: drift measured against the final component " +
    "folds, gated rewrite, idempotent second run") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_refold_").toString
    try {
      // batch 0 landed docs 1 (key u1) and 8 (key u8) as separate
      // components (folds train / val); batch 1's bridge doc 20
      // carries doc 1's exact text AND key u8 — the grown edge set
      // merges {1, 8, 20} under label 1, so doc 8's at-ingest 'val'
      // is drift the manifests still carry. Doc 21 is a 'val'-folded
      // NEAR-DUP of train doc 1 (same text) — the live leakage the
      // repair must erase: pre-refold the indexed guard reads 1
      // leaked val doc, post-refold 0 (21 joins component 1 → train)
      val a = (1 to 11).map(i => s"a$i").mkString(" ")
      val p = (1 to 8).map(i => s"p$i").mkString(" ")
      val q = (1 to 9).map(i => s"q$i").mkString(" ")
      val texts = Seq((1L, a), (8L, p), (20L, a), (21L, a), (30L, q))
        .toDF("doc_id", "text")
      graft.operators.Dedup.writePairStore(texts, "doc_id", "text",
        root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      graft.operators.Dedup.writeNearDupIndex(texts, "doc_id",
        "text", shingleN = 2, k = 64, bands = 32,
        dir = root + "/store/index")
      Seq((1L, "u1", "s"), (8L, "u8", "s"), (20L, "u8", "s"),
          (21L, "u21", "s"), (30L, "u30", "s"))
        .toDF("doc_id", "ckey", "source")
        .write.parquet(root + "/store/docs/docs")
      def writeManifests(): Unit =
        Seq((1L, "s", 1L, "train", "train", false, 0L),
          (8L, "s", 8L, "val", "val", false, 0L),
          (20L, "s", 1L, "train", "test", true, 1L),
          (21L, "s", 21L, "val", "val", false, 1L),
          (30L, "s", 30L, "val", "val", false, 1L))
          .toDF("doc_id", "source", "group", "split", "dsplit",
            "inherited", "batch_id")
          .write.partitionBy("batch_id").parquet(root + "/out")
      writeManifests()
      def leakedNow(): Long = graft.operators.Dedup
        .splitLeakageIndexed(spark, root + "/store/index",
          spark.read.parquet(root + "/out")
            .filter(col("split") === "val").select("doc_id"),
          "doc_id", threshold = 0.5)
        .filter(col("is_leaked")).count()
      // the damage the repair must erase, measured the q204 way
      leakedNow() shouldBe 1L
      def manifestSplits(): Map[Long, (Long, String)] =
        spark.read.parquet(root + "/out")
          .select("doc_id", "group", "split")
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getString(2)))).toMap
      // a generous gate first: drift reported, nothing rewritten
      val gated = Main.run(spark,
        Seq("refold", root + "/store", root + "/out", "600"))
      gated.foreach(l => info(l))
      gated(1) should include("2 moved")
      gated(1) should include("4 docs in fold-straddling components")
      gated.last should include("no refold")
      manifestSplits()(8L) shouldBe ((8L, "val"))
      // default gate 0: any drift rewrites at the final folds, and
      // the verb VERIFIES its own repair — the indexed leakage
      // re-measure over the rewritten manifests reads zero
      val lines = Main.run(spark,
        Seq("refold", root + "/store", root + "/out"))
      lines.foreach(l => info(l))
      lines(1) should include("2 moved")
      lines should have size 4
      lines(2) should include("rewritten")
      // doc 30 keeps its own 'val' component fold — the re-measure
      // runs over a NONEMPTY val set and still reads zero
      lines.last should include("0 of 1 val docs leak")
      lines.last should include("repair verified")
      val after = manifestSplits()
      after(8L) shouldBe ((1L, "train"))
      after(1L) shouldBe ((1L, "train"))
      after(20L) shouldBe ((1L, "train"))
      after(21L) shouldBe ((1L, "train"))
      after(30L) shouldBe ((30L, "val"))
      leakedNow() shouldBe 0L
      // idempotent: the rewritten manifests read zero drift
      val again = Main.run(spark,
        Seq("refold", root + "/store", root + "/out"))
      again.foreach(l => info(l))
      again(1) should include("0 moved")
      again.last should include("no refold")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("refold verb: a fold store carrying an in-sync label store " +
    "repairs through it (no CC re-walk) with identical outcome") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_refoldls_").toString
    try {
      val a = (1 to 11).map(i => s"a$i").mkString(" ")
      val p = (1 to 8).map(i => s"p$i").mkString(" ")
      val texts = Seq((1L, a), (8L, p), (20L, a)).toDF("doc_id", "text")
      graft.operators.Dedup.writePairStore(texts, "doc_id", "text",
        root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      graft.operators.Dedup.writeNearDupIndex(texts, "doc_id",
        "text", shingleN = 2, k = 64, bands = 32,
        dir = root + "/store/index")
      val docs = Seq((1L, "u1", "s"), (8L, "u8", "s"),
        (20L, "u8", "s")).toDF("doc_id", "ckey", "source")
      docs.write.parquet(root + "/store/docs/docs")
      // the in-sync label store the ingest would have maintained
      graft.operators.LabelStore.bootstrap(spark,
        root + "/store/labels", docs, "doc_id", col("ckey"),
        spark.read.parquet(root + "/store/pairs/pairs")
          .select(col("doc_a"), col("doc_b")))
      Seq((1L, "s", 1L, "train", "train", false, 0L),
        (8L, "s", 8L, "val", "val", false, 0L),
        (20L, "s", 1L, "train", "test", true, 1L))
        .toDF("doc_id", "source", "group", "split", "dsplit",
          "inherited", "batch_id")
        .write.partitionBy("batch_id").parquet(root + "/out")
      val lines = Main.run(spark,
        Seq("refold", root + "/store", root + "/out"))
      lines.foreach(l => info(l))
      lines.head should include("final labels via label store")
      lines(1) should include("1 moved")
      // drift-targeted partial rewrite: doc 20's partition holds no
      // moved doc — it is never rewritten (repair IO tracks drift)
      lines(2) should include("2 rows rewritten")
      lines(2) should include("1 of 2 sealed partitions touched")
      lines.last should include("repair verified")
      val after = spark.read.parquet(root + "/out")
        .select("doc_id", "group", "split")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2)))).toMap
      // identical repair to the CC-re-walk path: {1, 8, 20} under
      // label 1, all 'train'
      after(8L) shouldBe ((1L, "train"))
      after(20L) shouldBe ((1L, "train"))
      // an OUT-OF-SYNC store (a doc the labels never saw) falls back
      // to the re-walk instead of silently dropping the doc
      Seq((99L, "u99", "s")).toDF("doc_id", "ckey", "source")
        .write.mode("append").parquet(root + "/store/docs/docs")
      Main.run(spark, Seq("refold", root + "/store", root + "/out"))
        .head should include("final labels via CC re-walk")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("labels verb reports row history, component census and " +
    "anchors of a union-find label store") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_lblv_").toString
    try {
      // batch 0: {10,11} via key k1, {5}; batch 1: 3 pairs with 11
      // → component {3,10,11} relabeled to 3 (history rows pile up)
      graft.operators.LabelStore.update(spark, root,
        Seq((10L, "k1"), (11L, "k1"), (5L, "k3")).toDF("doc_id",
          "ckey"), "doc_id", "ckey",
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), "b0")
      graft.operators.LabelStore.update(spark, root,
        Seq((3L, "k4")).toDF("doc_id", "ckey"), "doc_id", "ckey",
        Seq((3L, 11L)).toDF("doc_a", "doc_b"), "b1")
      val lines = Main.run(spark, Seq("labels", root))
      lines.foreach(l => info(l))
      lines.head should include("4 docs")
      lines.head should (include("6 rows") or include("rows for"))
      lines(1) should include("components: 2 (1 multi-doc covering 3 docs)")
      lines(2) should include("anchors: 3 keys")
      lines.last should include("largest component: label 3 with 3 members")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("report verb prints the per-source data card") {
    val lines = Main.run(spark, Seq("report", "/root/testdata/sf0.001"))
    lines.head should include("source")
    lines.size should be > 1
    // every fixture doc is accounted for exactly once across sources
    val nDocs = lines.tail.map(_.trim.split("\\s+")(1).toLong).sum
    nDocs shouldBe 500L
    // and the verb agrees with the registered q116 aggregate
    val q116 = SparkEntry.queries("q116_corpus_report")(
      spark, "/root/testdata/sf0.001")
    q116.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head.getLong(0) shouldBe nDocs
  }

  test("classify verb prints the per-source gate and agrees with q156") {
    val lines = Main.run(spark, Seq("classify", "/root/testdata/sf0.001"))
    lines.head should include("acc_pct")
    lines.size should be > 1
    val nDocs = lines.tail.map(_.trim.split("\\s+")(1).toLong).sum
    nDocs shouldBe 500L
    // accepted totals agree with the registered q156 aggregate
    val accepted = lines.tail.map(_.trim.split("\\s+")(2).toLong).sum
    val q156 = SparkEntry.queries("q156_quality_classifier")(
      spark, "/root/testdata/sf0.001")
    q156.agg(org.apache.spark.sql.functions.sum("n_accept"))
      .head.getLong(0) shouldBe accepted
  }

  test("excise verb prints the span-surgery report and agrees with q163") {
    val lines = Main.run(spark, Seq("excise", "/root/testdata/sf0.001"))
    lines.head should include("if_dropped")
    lines.size should be > 1
    val excised = lines.tail.map(_.trim.split("\\s+")(4).toLong).sum
    val q163 = SparkEntry.queries("q163_contamination_excision")(
      spark, "/root/testdata/sf0.001")
    q163.agg(org.apache.spark.sql.functions.sum("tokens_excised"))
      .head.getLong(0) shouldBe excised
    // excision never removes more than dropping the affected docs
    val ifDropped = lines.tail.map(_.trim.split("\\s+")(5).toLong).sum
    excised should be <= ifDropped
  }

  test("emb-health verb prints the per-label coherence and dead-dim report") {
    val lines = Main.run(spark, Seq("emb-health", "/root/testdata/sf0.001"))
    lines.head should include("dead_dims")
    lines.size should be > 1
    // every fixture vector accounted for exactly once across labels
    val nVecs = lines.tail.map(_.trim.split("\\s+")(1).toLong).sum
    val total = Tables(spark, "/root/testdata/sf0.001", "embeddings").count()
    nVecs shouldBe total
    // the synthetic fixture has no dead dimensions
    lines.tail.map(_.trim.split("\\s+").last.toLong).sum shouldBe 0L
  }

  test("lease verb inspects and force-breaks a store's writer lease") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_main_lease_").toString + "/store"
    Main.run(spark, Seq("lease", root)).head should
      include("no writer lease")
    graft.sources.StoreLease.acquire(spark, root, "stream-7")
    val held = Main.run(spark, Seq("lease", root))
    held.head should include("held by stream-7")
    // break-glass: force-reclaim, then the store is writable again
    val broken = Main.run(spark, Seq("lease", root, "--break"))
    broken.last should include("BROKEN")
    Main.run(spark, Seq("lease", root)).head should
      include("no writer lease")
    graft.sources.StoreLease.acquire(spark, root, "next-writer")
    graft.sources.StoreLease.release(spark, root, "next-writer")
  }

  test("index-postings + bm25 verbs build and query the at-rest store") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_main_bm25_").toString
    try {
      val docsDir = root + "/docs"
      Seq((1L, "alpha beta beta"), (2L, "alpha gamma"), (3L, "delta"))
        .toDF("doc_id", "text").write.parquet(docsDir)
      val built = Main.run(spark,
        Seq("index-postings", docsDir, root + "/idx", "8", "2"))
      built.head should include("indexed 3 docs / 6 tokens")
      val hits = Main.run(spark, Seq("bm25", root + "/idx", "beta gamma"))
      // doc 1 (beta tf2) and doc 2 (gamma, rarer) both surface;
      // doc 3 shares no term and must not
      hits.size shouldBe 2
      hits.foreach(_ should include("score="))
      hits.mkString should not include "doc=3"
      Main.run(spark, Seq("bm25", root + "/idx", "nosuchterm"))
        .head should include("no document matches")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("prep verb prints the training-prep manifest and agrees with q153") {
    val lines = Main.run(spark, Seq("prep", "/root/testdata/sf0.001"))
    lines.head should include("neardup")
    lines.size should be > 1
    // stage counts are monotonically non-increasing per source, and
    // the verb's totals agree with the registered oracle-gated query
    val cells = lines.tail.map(_.trim.split("\\s+"))
    cells.foreach { c =>
      val Array(raw, exact, nd, ct, q, mixed) =
        c.slice(1, 7).map(_.toLong)
      raw should be >= exact
      exact should be >= nd
      nd should be >= ct
      ct should be >= q
      q should be >= mixed
    }
    val q153 = SparkEntry.queries("q153_training_manifest")(
      spark, "/root/testdata/sf0.001")
    q153.agg(org.apache.spark.sql.functions.sum("n_raw"))
      .head.getLong(0) shouldBe cells.map(_(1).toLong).sum
  }

  test("q136 packing report: the 20 sf0.01 rows pinned exactly (golden)") {
    // The r10 driver run flagged q136 hash_match:false while every
    // local compare passed — root cause was the ORACLE side (DuckDB
    // HUGEINT -> pandas float64 on the one uncasted SUM column), but
    // this spec pins the ENGINE side too: any Spark-side drift in the
    // cumsum/window arithmetic now fails CI with named values instead
    // of surfacing as an unattributable cross-engine hash mismatch.
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q136_packing_report")(
      spark, "/root/testdata/sf0.01")
      .orderBy(col("source"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq
    val golden = Seq(
      ("src0", 25L, 1435L, 6L, 101L, 4L, 2L),
      ("src1", 25L, 1540L, 7L, 252L, 6L, 2L),
      ("src10", 25L, 1303L, 6L, 233L, 5L, 2L),
      ("src11", 25L, 1522L, 6L, 14L, 5L, 2L),
      ("src12", 25L, 1272L, 5L, 8L, 4L, 2L),
      ("src13", 25L, 1553L, 7L, 239L, 6L, 2L),
      ("src14", 25L, 1318L, 6L, 218L, 4L, 2L),
      ("src15", 25L, 1298L, 6L, 238L, 5L, 2L),
      ("src16", 25L, 1351L, 6L, 185L, 5L, 2L),
      ("src17", 25L, 1373L, 6L, 163L, 5L, 2L),
      ("src18", 25L, 1364L, 6L, 172L, 5L, 2L),
      ("src19", 25L, 1147L, 5L, 133L, 4L, 2L),
      ("src2", 25L, 1407L, 6L, 129L, 5L, 2L),
      ("src3", 25L, 1384L, 6L, 152L, 5L, 2L),
      ("src4", 25L, 1294L, 6L, 242L, 5L, 2L),
      ("src5", 25L, 1329L, 6L, 207L, 4L, 2L),
      ("src6", 25L, 1266L, 5L, 14L, 4L, 2L),
      ("src7", 25L, 1507L, 6L, 29L, 5L, 2L),
      ("src8", 25L, 1136L, 5L, 144L, 4L, 2L),
      ("src9", 25L, 1366L, 6L, 170L, 5L, 2L))
    got shouldBe golden
  }

  test("prep-health novelty curve flags a stagnating source from " +
    "the sealed partials") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_ph_nov_").toString
    try {
      val t2 = (1 to 8).map(i => s"p$i").mkString(" ")
      // batch 0: both sources deliver fresh docs; batch 1: "fresh"
      // delivers a new keeper, "stale" re-delivers doc 2's exact
      // text under a new id — raw arrivals with NO net new keeper
      val b0 = Seq((1L, "fresh", (1 to 10).map(i => s"a$i")
        .mkString(" ")), (2L, "stale", t2))
      val b1 = Seq((11L, "fresh", (1 to 9).map(i => s"z$i")
        .mkString(" ")), (12L, "stale", t2))
      val evalDocs = Seq((99L, "e1 e2 e3")).toDF("doc_id", "text")
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      graft.operators.Dedup.writeNearDupIndex(empty, "doc_id",
        "text", shingleN = 2, k = 64, bands = 32,
        dir = root + "/store/index")
      graft.operators.Dedup.writePairStore(empty, "doc_id", "text",
        root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      val input = MemoryStream[(Long, String, String)]
      val q = graft.streaming.Streams.trainingPrepIngest(
        input.toDF().toDF("doc_id", "source", "text"),
        "doc_id", "text", "source", evalDocs, root + "/store",
        root + "/ckpt", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      try Seq(b0, b1).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      val health = Main.run(spark, Seq("prep-health", root + "/store"))
      health.foreach(l => info(l))
      val staleLine = health.find(_.trim.startsWith("stale:")).get
      staleLine should include("STAGNATING")
      val freshLine = health.find(_.trim.startsWith("fresh:")).get
      freshLine.contains("STAGNATING") shouldBe false
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("unknown command prints usage") {
    Main.run(spark, Seq("frobnicate")).head should include("usage")
    // malformed numeric args print usage instead of throwing
    Main.run(spark, Seq("print", imported, "abc"))
      .head should include("usage")
    Main.run(spark, Seq("diff", imported, imported, "xyz"))
      .head should include("usage")
    Main.run(spark, Seq("publish", "/tmp/nowhere", "many"))
      .head should include("usage")
  }
}
