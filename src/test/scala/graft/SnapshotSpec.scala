package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.replay.Replay
import graft.sources.SnapshotIO

/** Golden-file + round-trip tests for the reference's snapshot
  * interchange format (README.md:52-75) and the ordered replay
  * pipeline (L4/T6). */
class SnapshotSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val golden = "src/test/resources/golden_snapshot"

  /** The golden dir is in the REFERENCE's literal layout (colons in
    * file names — unrepresentable as Hadoop Paths), so reading starts
    * with the driver-side import shim. */
  private lazy val imported: String = {
    val tmp = Files.createTempDirectory("graft_golden_import").toString
    SnapshotIO.importReferenceSnapshot(golden, tmp)
    tmp
  }

  test("golden snapshot (reference layout) imports and reads with reference semantics") {
    val msgs = SnapshotIO.readMessages(spark, imported)
    val rows = msgs.orderBy("topic", "seq").collect()
    rows.length shouldBe 5
    // lossy topic recovery matches the reference ("_" → "/")
    rows.map(_.getAs[String]("topic")).distinct.sorted shouldBe
      Array("persistent://acme/prod/orders", "persistent://globex/dev/clicks")
    // seq follows array order within each file
    val orders = rows.filter(_.getAs[String]("topic").endsWith("orders"))
    orders.map(_.getAs[Long]("seq")).toList shouldBe List(0L, 1L, 2L)
    orders.map(_.getAs[String]("content")).toList shouldBe
      List("order one", "/w==", "order three")
    // event_timestamp 0 normalizes to null; nonzero survives
    orders.map(r => Option(r.getAs[Timestamp]("event_ts")).isDefined).toList shouldBe
      List(true, false, false)
    // properties: map, empty map, null
    orders.map(r => Option(r.getAs[Map[String, String]]("properties"))).toList shouldBe
      List(Some(Map("k" -> "v", "source" -> "test")), Some(Map.empty), None)
  }

  test("golden catalog text files read into catalog frames") {
    SnapshotIO.readTenants(spark, imported).collect().map(_.getString(0)).sorted shouldBe
      Array("acme", "globex")
    val ns = SnapshotIO.readNamespaces(spark, imported).collect()
    ns.map(r => (r.getString(0), r.getString(1))).sorted shouldBe
      Array(("acme", "acme/prod"), ("globex", "globex/dev"))
    SnapshotIO.readTopics(spark, imported, all = true).count() shouldBe 3
    SnapshotIO.readTopics(spark, imported).count() shouldBe 2
  }

  test("an EMPTY catalog writes empty files, not one phantom empty-string entry") {
    val tmp = Files.createTempDirectory("graft_snap_empty").toString
    SnapshotIO.writeCatalog(Seq.empty[String], tmp)
    // a lone "\n" would read back as one empty-string tenant, and a
    // restore would then emit `CREATE tenant ` with an empty name
    SnapshotIO.readTenants(spark, tmp).count() shouldBe 0
    SnapshotIO.readNamespaces(spark, tmp).count() shouldBe 0
    SnapshotIO.readTopics(spark, tmp).count() shouldBe 0
  }

  test("capture → read round-trip is a fixed point (incl. underscore topics and binary payloads)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_snap").toString
    val env = Seq(
      ("persistent://t/ns/topic_v2", "hello", false, Map("a" -> "b"),
        new Timestamp(1704067200000L), Option(new Timestamp(1704067201000L)),
        Option("pk"), 0L),
      ("persistent://t/ns/topic_v2", "/w==", true, Map.empty[String, String],
        new Timestamp(1704067202000L), Option.empty[Timestamp],
        Option.empty[String], 1L),
      ("persistent://t/ns/other", "solo", false, Map.empty[String, String],
        new Timestamp(1704067203000L), Option.empty[Timestamp],
        Option("k2"), 0L))
      .toDF("topic", "content", "binary_encoded", "properties",
        "publish_ts", "event_ts", "partition_key", "seq")
    Replay.capture(env, tmp)

    // catalog files landed
    SnapshotIO.readTenants(spark, tmp).collect().map(_.getString(0)).toSet shouldBe Set("t")
    SnapshotIO.readTopics(spark, tmp).count() shouldBe 2

    // message round-trip: every field survives, seq order preserved
    val back = SnapshotIO.readMessages(spark, tmp)
    def key(r: Row) = (r.getAs[String]("topic"), r.getAs[Long]("seq"))
    val a = env.collect().map(r => key(r) -> r.toSeq.toList).toMap
    val b = back.select(env.columns.map(col): _*).collect()
      .map(r => key(r) -> r.toSeq.toList).toMap
    b.keySet shouldBe a.keySet
    b.keys.foreach { k =>
      // properties may come back as different Map impls — compare via toString-stable Rows
      b(k).toString shouldBe a(k).toString
    }
  }

  test("writeNative: parquet partitioned by topic, pruned on read, ordered by seq") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_native").toString
    val env = (for (t <- Seq("ta", "tb"); s <- 0 until 20) yield
      (t, s"m$s", false, Map.empty[String, String],
        new Timestamp(1704067200000L + s), Option.empty[Timestamp],
        Option.empty[String], s.toLong))
      .toDF("topic", "content", "binary_encoded", "properties",
        "publish_ts", "event_ts", "partition_key", "seq")
    SnapshotIO.writeNative(env, tmp)
    val back = spark.read.parquet(s"$tmp/messages_parquet")
    back.count() shouldBe 40
    // partition pruning: a topic filter reads only that partition
    val pruned = back.filter(col("topic") === "ta")
    pruned.count() shouldBe 20
    pruned.queryExecution.executedPlan.toString should include("PartitionFilters: [isnotnull(topic")
  }

  test("orderedReplay hands rows to the sink in per-topic seq order") {
    import spark.implicits._
    // shuffled input: seqs deliberately out of order across partitions
    val rows = scala.util.Random.shuffle(
      (for (t <- Seq("tA", "tB"); s <- 0 until 50) yield (t, s.toLong)).toList)
    val env = rows.toDF("topic", "seq").repartition(8)
    SnapshotSpec.collected.clear()
    Replay.orderedReplay(env, { it: Iterator[Row] =>
      it.foreach(r => SnapshotSpec.collected.add(
        (r.getAs[String]("topic"), r.getAs[Long]("seq"))))
    })
    val byTopic = SnapshotSpec.collected.toArray(Array.empty[(String, Long)])
      .groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
    byTopic.keySet shouldBe Set("tA", "tB")
    // within each topic, arrival order == seq order
    byTopic.values.foreach(seqs => seqs shouldBe seqs.sorted)
    byTopic.values.map(_.size).toList.sorted shouldBe List(50, 50)
  }

  test("replaySnapshot decodes binary payloads before send") {
    SnapshotSpec.payloads.clear()
    Replay.replaySnapshot(spark, imported, { it: Iterator[Row] =>
      it.foreach(r => SnapshotSpec.payloads.add(
        r.getAs[Array[Byte]]("payload").toList))
    })
    val got = SnapshotSpec.payloads.toArray(Array.empty[List[Byte]]).toSet
    got should contain(List[Byte](-1))            // "/w==" → 0xFF
    got should contain("order one".getBytes("UTF-8").toList)
  }

  /** A small envelope of `perTopic(i)` messages on topic `topics(i)`,
    * content "<topic>#<seq>". */
  private def envelopeOf(topics: Seq[String], perTopic: Seq[Int]) = {
    import spark.implicits._
    topics.zip(perTopic).flatMap { case (t, n) =>
      (0 until n).map(s => (t, s"$t#$s", false, Map.empty[String, String],
        new Timestamp(1704067200000L + s), Option.empty[Timestamp],
        Option.empty[String], s.toLong))
    }.toDF("topic", "content", "binary_encoded", "properties",
      "publish_ts", "event_ts", "partition_key", "seq")
  }

  private def lines(dir: String, file: String): List[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(java.nio.file.Paths.get(dir, file)).asScala.toList
  }

  test("a truncated snapshot file fails readMessages and Main replay loudly") {
    // cut mid-message, a file holding no array at all, and an empty file
    for (cut <- Seq((b: Array[Byte]) => b.take(b.length - 7),
        (_: Array[Byte]) => "null".getBytes("UTF-8"),
        (_: Array[Byte]) => Array.emptyByteArray)) {
      val tmp = Files.createTempDirectory("graft_snap_trunc").toString
      Replay.capture(envelopeOf(Seq("persistent://t/ns/a", "persistent://t/ns/b"),
        Seq(3, 2)), tmp)
      val f = java.nio.file.Paths.get(tmp, "messages",
        graft.functions.codec.sanitizeTopicStr("persistent://t/ns/b") + ".json")
      Files.write(f, cut(Files.readAllBytes(f)))
      // the Hadoop checksum beside the file would otherwise catch the
      // edit first; a snapshot written by other tooling has none
      Files.deleteIfExists(f.resolveSibling("." + f.getFileName + ".crc"))
      val err = intercept[Exception](SnapshotIO.readMessages(spark, tmp).collect())
      (err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse("")) should
        (include("Malformed") or include("malformed"))
      val out = Files.createTempDirectory("graft_snap_trunc_out").toString
      intercept[Exception](Main.run(spark, Seq("replay", tmp, out)))
      // nothing reaches the sink: the read fails before the send stage
      Option(new java.io.File(out).list()).map(_.toSeq).getOrElse(Nil) shouldBe empty
    }
  }

  test("capture derives tenants and namespaces only from persistent://tenant/ns/name topics") {
    val tmp = Files.createTempDirectory("graft_snap_shapes").toString
    val topics = Seq("persistent://t/ns/a", "persistent://t/ns/a-partition-0",
      "plain-topic", "persistent://u/only-two")
    Replay.capture(envelopeOf(topics, Seq(1, 1, 1, 1)), tmp)
    lines(tmp, "tenants.txt") shouldBe List("t")
    lines(tmp, "namespaces.txt") shouldBe List("t/ns")
    lines(tmp, "topics.txt") shouldBe
      List("persistent://t/ns/a", "persistent://u/only-two", "plain-topic")
    lines(tmp, "all_topics.txt") shouldBe topics.sorted
    // no phantom `CREATE tenant ` / `CREATE namespace /` on restore
    Main.run(spark, Seq("restore", tmp)).filterNot(_.startsWith("CREATE topic")) shouldBe
      Seq("CREATE tenant t", "CREATE namespace t/ns")
  }

  test("seq is the array position in every file, also when files share a partition") {
    val tmp = Files.createTempDirectory("graft_snap_seq").toString
    Files.createDirectories(java.nio.file.Paths.get(tmp, "messages"))
    // 40 small files and one of 5000 messages, content = array index
    val sizes = (0 until 40).map(i => 1 + i % 7) :+ 5000
    sizes.zipWithIndex.foreach { case (n, i) =>
      Files.writeString(java.nio.file.Paths.get(tmp, "messages", s"topic$i.json"),
        (0 until n).map(j => s"""{"content":"$j","binary_encoded":false}""")
          .mkString("[", ",", "]"))
    }
    val conf = spark.conf
    val saved = conf.get("spark.sql.files.openCostInBytes")
    conf.set("spark.sql.files.openCostInBytes", "1024")
    try {
      val msgs = SnapshotIO.readMessages(spark, tmp)
      msgs.rdd.getNumPartitions should be < sizes.size
      val rows = msgs.select("topic", "seq", "content").collect()
      rows.length shouldBe sizes.sum
      rows.foreach(r => r.getString(2) shouldBe r.getLong(1).toString)
      rows.groupBy(_.getString(0)).values.map(_.length).toSeq.sorted shouldBe sizes.sorted
    } finally conf.set("spark.sql.files.openCostInBytes", saved)
  }

  /** A captured snapshot of `perTopic(i)` messages on topic "t/ns/x<i>". */
  private def snapshotOf(perTopic: Seq[Int]): String = {
    val tmp = Files.createTempDirectory("graft_snap_stage").toString
    Replay.capture(envelopeOf(perTopic.indices.map(i => s"persistent://t/ns/x$i"),
      perTopic), tmp)
    tmp
  }

  /** Each replay output file holds its topic's "<topic>#<seq>"
    * payloads in seq order, for exactly `perTopic`'s topics. */
  private def checkReplayed(out: String, perTopic: Map[String, Int]): Unit = {
    new java.io.File(out).list().filter(_.endsWith(".txt")).toSet shouldBe
      perTopic.keySet.map(t => graft.functions.codec.sanitizeTopicStr(t) + ".txt")
    perTopic.foreach { case (t, n) =>
      lines(out, graft.functions.codec.sanitizeTopicStr(t) + ".txt")
        .map(l => new String(java.util.Base64.getDecoder.decode(l), "UTF-8")) shouldBe
        (0 until n).map(s => s"$t#$s")
    }
  }

  test("a snapshot replays in one stage: no listing job and no exchange, past the 32-file listing threshold") {
    val perTopic = (0 until 48).map(i => 5 + i % 9)
    val snap = snapshotOf(perTopic)
    val out = Files.createTempDirectory("graft_snap_stage_out").toString
    val r = recorded(Main.run(spark, Seq("replay", snap, out)) shouldBe
      Seq(s"replayed ${perTopic.size} topics to $out"))
    r.queries shouldBe 1
    // a glob of 48 files lists them in a job of a task per file; the
    // repartition on topic adds a map stage and its own job
    r.jobTasks should have size 1
    r.stages should have size 1
    r.stages.head.numTasks should be < perTopic.size
    r.plans should have size 1
    shuffles(r.plans.head) shouldBe empty
    checkReplayed(out, perTopic.indices.map(i => s"persistent://t/ns/x$i" -> perTopic(i)).toMap)
  }

  test("replaySnapshot: each topic in one partition, in seq order, with many files or one file per partition") {
    val perTopic = (0 until 36).map(i => 1 + (i * 37) % 300)
    val snap = snapshotOf(perTopic)
    // 1 KB of open cost packs many files into a partition; one
    // maxPartitionBytes of open cost gives each file its own
    for ((openCost, onePerFile) <- Seq(("1024", false), ("134217728", true)))
      GraftSession.withConf(spark, "spark.sql.files.openCostInBytes" -> openCost) {
        SnapshotSpec.placed.clear()
        Replay.replaySnapshot(spark, snap, { it: Iterator[Row] =>
          val p = org.apache.spark.TaskContext.getPartitionId()
          it.foreach(r => SnapshotSpec.placed.add(
            (p, r.getAs[String]("topic"), r.getAs[Long]("seq"))))
        })
        val rows = SnapshotSpec.placed.toArray(Array.empty[(Int, String, Long)]).toSeq
        val parts = rows.map(_._1).distinct
        if (onePerFile) parts should have size perTopic.size
        else parts.size should be < perTopic.size
        val byTopic = rows.groupBy(_._2)
        byTopic.keySet shouldBe perTopic.indices.map(i => s"persistent://t/ns/x$i").toSet
        byTopic.foreach { case (t, rs) =>
          rs.map(_._1).distinct should have size 1
          // the queue keeps each task's arrival order
          rs.map(_._3) shouldBe (0L until perTopic(t.stripPrefix("persistent://t/ns/x").toInt))
        }
      }
  }

  test("replay --since keeps per-topic seq order under a broadcast and a sort-merge semi-join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val before = (0 until 20).map(i => 50 + 11 * i)
    // x3 and x7 grow, x20..x24 are new
    val after = before.zipWithIndex.map { case (n, i) => if (i == 3 || i == 7) n + 40 else n } ++
      (20 until 25).map(i => 30 + 13 * i)
    val (a, b) = (snapshotOf(before), snapshotOf(after))
    val delta = (Seq(3, 7) ++ (20 until 25)).map(i => s"persistent://t/ns/x$i" -> after(i)).toMap
    for ((threshold, merge) <- Seq(("10MB", false), ("-1", true)))
      GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        val out = Files.createTempDirectory("graft_snap_since_out").toString
        val r = recorded(Main.run(spark, Seq("replay", b, out, "--since", a)) shouldBe
          Seq(s"replayed ${delta.size} topics to $out (delta since $a)"))
        val joins = new AdaptiveSparkPlanHelper {}.collect(r.plans.last) {
          case j: SortMergeJoinExec if j.joinType == LeftSemi => "merge"
          case j: BroadcastHashJoinExec if j.joinType == LeftSemi => "broadcast"
        }
        joins shouldBe Seq(if (merge) "merge" else "broadcast")
        checkReplayed(out, delta)
      }
  }

  test("replay fails before the send on a missing snapshot, no *.json file, two files of one topic, or a subdirectory") {
    def emptyAfterFailedReplay(snap: String, expect: String): Unit = {
      val out = Files.createTempDirectory("graft_snap_bad_out").toString
      val err = intercept[Exception](Main.run(spark, Seq("replay", snap, out)))
      err.getMessage should include(expect)
      new java.io.File(out).list() shouldBe empty
    }
    val missing = Files.createTempDirectory("graft_snap_missing").resolve("nope").toString
    emptyAfterFailedReplay(missing, "does not exist")

    val noJson = Files.createTempDirectory("graft_snap_nojson")
    Files.createDirectories(noJson.resolve("messages"))
    Files.writeString(noJson.resolve("messages").resolve("notes.txt"), "[]")
    emptyAfterFailedReplay(noJson.toString, "no *.json message files")

    // "a_ub" and "a_b" both decode to topic "a_b"
    val twins = Files.createTempDirectory("graft_snap_twins")
    Files.createDirectories(twins.resolve("messages"))
    for (f <- Seq("a_ub", "a_b", "c"))
      Files.writeString(twins.resolve("messages").resolve(s"$f.json"),
        """[{"content":"m","binary_encoded":false}]""")
    emptyAfterFailedReplay(twins.toString, "a_b.json, a_ub.json all decode to topic a_b")

    // the directory read would descend into it
    Files.delete(twins.resolve("messages").resolve("a_ub.json"))
    Files.createDirectories(twins.resolve("messages").resolve("old"))
    emptyAfterFailedReplay(twins.toString, "is a directory")
  }

  /** What ran while a body ran: SQL queries started, jobs with the
    * task count of each of their stages, stages submitted, and the
    * executed plan of every query that finished. */
  private case class Recorded(queries: Int, jobTasks: Seq[Seq[Int]],
      stages: Seq[StageInfo], plans: Seq[SparkPlan])

  private def recorded(body: => Unit): Recorded = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val queries = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => queries.incrementAndGet()
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.numTasks))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(e.stageInfo)
    }
    val q = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(q)
    try { body; Bridge.drainListenerBus(spark) }
    finally {
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(q)
    }
    Recorded(queries.get, jobs.toArray(Array.empty[Seq[Int]]).toSeq,
      stages.toArray(Array.empty[StageInfo]).toSeq,
      plans.toArray(Array.empty[SparkPlan]).toSeq)
  }

  /** The shuffle exchanges of `plan`, looking inside adaptive plans,
    * which a plain collect would treat as a leaf. */
  private def shuffles(plan: SparkPlan) =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }

  test("each verb touches its data once: one source stage, no read shuffle, one replay query") {
    import graft.sources.connector.BrokerRegistry
    def scanning(stages: Seq[StageInfo], rdd: String) =
      stages.filter(_.rddInfos.exists(_.name == rdd))
    val n = 12
    BrokerRegistry.clear()
    try {
      for (t <- 0 until n; i <- 0 to t)
        BrokerRegistry.publish(s"persistent://t/ns$t/x$t", s"$t#$i".getBytes("UTF-8"))
      val raw = spark.read.format("graft.sources.connector.BrokerSource").load()
      val env = raw.select(col("topic"), col("seq"),
          graft.functions.codec.encodeContent(col("payload")).as("c"))
        .select(col("topic"), col("c.content").as("content"),
          col("c.binary_encoded").as("binary_encoded"),
          lit(null).cast("map<string,string>").as("properties"),
          timestamp_millis(lit(1704067200000L) + col("seq")).as("publish_ts"),
          lit(null).cast("timestamp").as("event_ts"),
          lit(null).cast("string").as("partition_key"), col("seq"))
      val tmp = Files.createTempDirectory("graft_snap_passes").toString
      // capture: one query, scanning the source in one stage of a
      // task per topic
      val capture = recorded(Replay.capture(env, tmp))
      capture.queries shouldBe 1
      scanning(capture.stages, "DataSourceRDD").map(_.numTasks) shouldBe Seq(n)

      val read = SnapshotIO.readMessages(spark, tmp)
      shuffles(read.queryExecution.executedPlan) shouldBe empty
      read.count() shouldBe (1 to n).sum

      val out = Files.createTempDirectory("graft_snap_passes_out").toString
      // replay: one query, reading the snapshot in one stage (which
      // is also its only stage: see "a snapshot replays in one stage")
      val replay = recorded(
        Main.run(spark, Seq("replay", tmp, out)) shouldBe Seq(s"replayed $n topics to $out"))
      replay.queries shouldBe 1
      scanning(replay.stages, "FileScanRDD") should have size 1
    } finally BrokerRegistry.clear()
  }
}

object SnapshotSpec {
  // executor-side collectors (local mode: same JVM)
  val collected = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
  val payloads = new java.util.concurrent.ConcurrentLinkedQueue[List[Byte]]()
  /** (partition, topic, seq) in arrival order */
  val placed = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
}
