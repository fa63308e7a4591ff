package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.model.Schemas
import graft.streaming.Streams

/** Structured Streaming semantics (SURVEY §2.10): bounded ingestion,
  * watermark dedup, event-time windows, keyed state, throughput
  * metering — driven through MemoryStream / the rate source. */
class StreamingSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("T1: generator → file sink with Trigger.AvailableNow drains and stops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(0L until 100L)
    val df = input.toDF()
      .select(graft.gen.Generator.emailSendJson(
        col("value"), timestamp_seconds(lit(1704067200L) + col("value"))).as("value"))
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val q = Streams.runBounded(df, out, ckpt)
    q.awaitTermination(60000) shouldBe true // AvailableNow self-terminates
    val written = spark.read.json(out)
    written.count() shouldBe 100
    // wire JSON parses against the pinned 5-level envelope schema
    val parsed = written
      .select(from_json(col("value"), Schemas.emailSend).as("m"))
      .select("m.eventId", "m.payload.projectId",
        "m.payload.data.diff.campaignId", "m.payload.metadata.source.action")
    parsed.filter(col("eventId").isNull).count() shouldBe 0
    parsed.filter(col("action") =!= "send").count() shouldBe 0
    parsed.select(countDistinct(col("eventId"))).as[Long].head() shouldBe 100L
  }

  test("T4: maxFilesPerTrigger backpressure splits the drain into multiple micro-batches") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_bp_in").toString
    // three separate source files == three capped micro-batches
    (0 until 3).foreach { i =>
      Seq(i.toLong * 10, i.toLong * 10 + 1).toDF("v")
        .coalesce(1).write.mode("append").json(in)
    }
    val nFiles = new java.io.File(in).listFiles()
      .count(_.getName.endsWith(".json"))
    nFiles should be >= 3
    val stream = Streams.boundedFileStream(
      spark, in, new org.apache.spark.sql.types.StructType()
        .add("v", "long"), maxFilesPerTrigger = 1)
    val out = Files.createTempDirectory("graft_bp_out").toString
    val ckpt = Files.createTempDirectory("graft_bp_ckpt").toString
    val q = Streams.runBounded(stream, out, ckpt)
    q.awaitTermination(60000) shouldBe true
    // every row arrived, and the intake was split across >1 batch
    spark.read.json(out).count() shouldBe 6
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    dataBatches should be >= 3
  }

  test("T8: dropDuplicatesWithinWatermark dedups replayed ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val df = Streams.dedupWithinWatermark(
      input.toDF().toDF("id", "ts"), "ts", Seq("id"), "10 minutes")
    val q = df.writeStream.format("memory").queryName("dedup_t8")
      .outputMode("append").start()
    try {
      input.addData(("a", ts(100)), ("a", ts(101)), ("b", ts(102)))
      q.processAllAvailable()
      input.addData(("a", ts(103)), ("c", ts(104))) // "a" is a replay dup
      q.processAllAvailable()
      val ids = spark.table("dedup_t8").select("id").as[String].collect().sorted
      ids shouldBe Array("a", "b", "c")
    } finally q.stop()
  }

  test("T7: stream-stream interval join pairs each left row with in-window right rows and evicts state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val clicks = MemoryStream[(Long, Timestamp, Double)]
    val joined = Streams.intervalJoin(
      purchases.toDF().toDF("p_user", "p_ts", "p_id"),
      clicks.toDF().toDF("c_user", "c_ts", "c_value"),
      leftKey = "p_user", rightKey = "c_user",
      leftTsCol = "p_ts", rightTsCol = "c_ts",
      delay = "10 seconds", lookback = "60 SECONDS")
    // the physical plan must be the symmetric (state-evicting)
    // stream-stream join, not a static join
    val q = joined.writeStream.format("memory").queryName("ssj_t7")
      .outputMode("append").start()
    try {
      // user 1: clicks at t=40 (in window), t=30 (boundary: 90-60),
      // t=20 (too old); user 2: click after the purchase (excluded)
      clicks.addData((1L, ts(40), 1.0), (1L, ts(30), 2.0),
        (1L, ts(20), 3.0), (2L, ts(95), 4.0))
      purchases.addData((1L, ts(90), 100L), (2L, ts(91), 200L))
      q.processAllAvailable()
      val got = spark.table("ssj_t7")
        .select("p_id", "c_value").as[(Long, Double)].collect().toSet
      got shouldBe Set((100L, 1.0), (100L, 2.0))
      q.lastProgress.sources should have length 2
    } finally q.stop()
  }

  test("T7: tumbling event-time window closes once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val df = Streams.tumblingCounts(
      input.toDF().toDF("k", "ts"), "ts", "5 seconds", "1 minute", col("k"))
    val q = df.writeStream.format("memory").queryName("win_t7")
      .outputMode("append").start()
    try {
      input.addData(("x", ts(10)), ("x", ts(20)), ("y", ts(30)))
      q.processAllAvailable()
      input.addData(("x", ts(200))) // advances watermark past the first window
      q.processAllAvailable()
      val rows = spark.table("win_t7")
        .select(col("window.start").cast("long"), col("k"), col("n"))
        .as[(Long, String, Long)].collect().toSet
      rows shouldBe Set((0L, "x", 2L), (0L, "y", 1L))
    } finally q.stop()
  }

  test("T7: session windows split on the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val df = Streams.sessionCounts(
      input.toDF().toDF("k", "ts"), "ts", "5 seconds", "30 seconds", col("k"))
    val q = df.writeStream.format("memory").queryName("sess_t7")
      .outputMode("append").start()
    try {
      input.addData(("u", ts(0)), ("u", ts(10)), ("u", ts(100)))
      q.processAllAvailable()
      input.addData(("u", ts(500))) // advance watermark, close both sessions
      q.processAllAvailable()
      val ns = spark.table("sess_t7").select("n").as[Long].collect().sorted
      ns shouldBe Array(1L, 2L) // session {0,10} and session {100}
    } finally q.stop()
  }

  test("T7: transformWithState sequencer numbers arrivals per key across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDbStateStore(spark) {
      val input = MemoryStream[(Long, Long, Long)] // (key, ts, id)
      val q = Streams.arrivalSequence(input.toDS())
        .toDF("k", "id", "seq")
        .writeStream.format("memory").queryName("tws_t7")
        .outputMode("append").start()
      try {
        // batch 1 arrives ts-unordered: numbering must follow ts
        input.addData((1L, 20L, 101L), (1L, 10L, 100L), (2L, 5L, 200L))
        q.processAllAvailable()
        // batch 2: the ValueState must carry key 1's count forward
        input.addData((1L, 30L, 102L))
        q.processAllAvailable()
        val got = spark.table("tws_t7")
          .as[(Long, Long, Long)].collect().toSet
        got shouldBe Set((1L, 100L, 1L), (1L, 101L, 2L), (1L, 102L, 3L),
          (2L, 200L, 1L))
      } finally q.stop()
    }
  }

  test("T7: mapGroupsWithState keeps running totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val q = Streams.runningCounts(input.toDS())
      .toDF("k", "total")
      .writeStream.format("memory").queryName("state_t7")
      .outputMode("update").start()
    try {
      input.addData(("a", 1L), ("a", 2L), ("b", 3L))
      q.processAllAvailable()
      input.addData(("a", 4L))
      q.processAllAvailable()
      // latest update per key reflects cumulative counts: a=3 rows, b=1
      val last = spark.table("state_t7").groupBy("k")
        .agg(max("total").as("total"))
        .as[(String, Long)].collect().toMap
      last shouldBe Map("a" -> 3L, "b" -> 1L)
    } finally q.stop()
  }

  test("K5: console sink starts and drains a micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    val q = Streams.toConsole(input.toDF(), numRows = 3)
    try {
      q.processAllAvailable()
      q.lastProgress.numInputRows shouldBe 3
    } finally q.stop()
  }

  test("T6: flatMapGroupsWithState order monitor flags only true violations") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val q = Streams.orderViolations(input.toDS())
      .toDF("topic", "seq", "max_seen")
      .writeStream.format("memory").queryName("ord_t6")
      .outputMode("append").start()
    try {
      input.addData(("tA", 0L), ("tA", 1L), ("tB", 0L))
      q.processAllAvailable()
      input.addData(("tA", 1L), ("tA", 2L), ("tB", 5L)) // tA seq=1 replays
      q.processAllAvailable()
      val rows = spark.table("ord_t6")
        .as[(String, Long, Long)].collect().toSet
      rows shouldBe Set(("tA", 1L, 1L)) // exactly the replayed row
    } finally q.stop()
  }

  test("stream-batch unification: windowed counts over a bounded file stream equal the batch query") {
    val sfDir = "/root/testdata/sf0.001"
    val batchEv = Tables(spark, sfDir, "events") // sets the nanos conf
    val streamEv = spark.readStream
      .schema(spark.read.parquet(s"$sfDir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .withColumn("ts", Tables.eventsTsToMicros(
        Tables.eventsRawTsType(spark, sfDir)))
    val agg = streamEv
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
    val q = agg.writeStream.format("memory").queryName("sb_check")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000) shouldBe true
    val streamed = spark.table("sb_check")
      .select(col("window.start").cast("long"), col("event_type"), col("count"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = batchEv
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
      .select(col("window.start").cast("long"), col("event_type"), col("count"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    streamed shouldBe batch
  }

  test("T1/T8: a restarted query resumes from its checkpoint — delta-only input, exactly-once output, restored dedup state") {
    import org.apache.spark.sql.types._
    val in = Files.createTempDirectory("graft_resume_in").toString
    val out = Files.createTempDirectory("graft_resume_out").toString
    val ckpt = Files.createTempDirectory("graft_resume_ckpt").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("tss", LongType)))
    def writeFile(name: String, ids: Seq[Long]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(in, name),
        ids.map(i => s"""{"id":$i,"tss":${1704067200L + i}}""")
          .mkString("\n"))
    // one logical query, started twice against the SAME checkpoint —
    // the restart path every production incident recovery takes
    def runOnce(): Unit = {
      val st = spark.readStream.schema(schema).json(in)
        .withColumn("ts", timestamp_seconds(col("tss")))
      val deduped = Streams.dedupWithinWatermark(st, "ts", Seq("id"), "1 hour")
        .select("id", "tss")
      val q = deduped.writeStream.format("json")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000) shouldBe true
    }
    writeFile("part1.json", (0L until 50L) :+ 7L) // in-batch dup of 7
    runOnce()
    spark.read.schema(schema).json(out).count() shouldBe 50
    // the second capture overlaps the first (45-49 re-arrive, and 7
    // AGAIN) — every overlap must be dropped by state RESTORED from
    // the checkpoint, and part1 must not be re-read or re-emitted
    writeFile("part2.json", (45L until 60L) :+ 7L)
    runOnce()
    val rows = spark.read.schema(schema).json(out)
    rows.count() shouldBe 60 // 0-59 exactly once: no loss, no dupes
    rows.select(countDistinct(col("id"))).head.getLong(0) shouldBe 60L
  }

  test("T1/S9: a file stream over the segmented clustered store ingests appended segments delta-only") {
    import graft.sources.Layout
    import spark.implicits._
    val root = Files.createTempDirectory("graft_seg_stream").toString + "/t"
    val out = Files.createTempDirectory("graft_seg_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_seg_stream_ck").toString
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, i % 8)).toDF("id", "bucket")
    // base segment exists before the stream first starts
    Layout.clusteredAppend(batch(0, 100), root, "base", 2, col("bucket"))
    val schema = spark.read.parquet(root).schema // id, bucket, seg
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(root)
        .select("id", "seg")
        .writeStream.format("json")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000) shouldBe true
    }
    runOnce()
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seg",
        org.apache.spark.sql.types.StringType)))
    spark.read.schema(outSchema).json(out).count() shouldBe 100
    // a new ingest batch lands as a new segment; the restarted stream
    // must pick up ONLY the new segment's files (checkpointed file
    // log), completing q103's story: the at-rest layout's append IS
    // the streaming source's input
    Layout.clusteredAppend(batch(100, 160), root, "ingest1", 2, col("bucket"))
    runOnce()
    val rows = spark.read.schema(outSchema).json(out)
    rows.count() shouldBe 160 // no re-read of the base segment
    rows.groupBy("seg").count().as[(String, Long)].collect().toMap shouldBe
      Map("base" -> 100L, "ingest1" -> 60L)
  }

  test("T3/A4/T5: rate source holds the msgs/sec contract; listener meters throughput") {
    val listener = new Streams.ThroughputListener
    spark.streams.addListener(listener)
    val ckpt = Files.createTempDirectory("graft_rate_ckpt").toString
    val q = Streams.syntheticPublishStream(spark, rowsPerSecond = 500)
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (listener.totalRows.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(200)
      listener.totalRows.get() should be > 0L
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("continuous near-dup ingest: store growth catches cross-batch dups; stream state is zero") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_nd_stream_").toString
    try {
      val corpus = Seq(
        (1L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("doc_id", "text")
      graft.operators.Dedup.writeNearDupIndex(corpus, "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, dir = root + "/idx")
      val input = MemoryStream[(Long, String)]
      val q = Streams.nearDupIngest(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        root + "/idx", root + "/out", root + "/ckpt",
        shingleN = 2, k = 64, bands = 32, threshold = 0.5)
      try {
        // batch 0: a dup of the pre-indexed corpus + a fresh doc
        input.addData(
          (10L, "the quick brown fox jumps over the lazy dog tonight"),
          (11L, "totally new material never indexed before anywhere"))
        q.processAllAvailable()
        // batch 1: an exact copy of batch-0's FRESH doc — only the
        // store append (not stream state: zero stateful operators)
        // can catch it
        input.addData(
          (20L, "totally new material never indexed before anywhere"))
        q.processAllAvailable()
        q.lastProgress.stateOperators.size shouldBe 0
      } finally q.stop()
      val out = spark.read.parquet(root + "/out")
        .select("doc_id", "dup_of", "batch_id")
        .as[(Long, Option[Long], Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      out(10L) shouldBe ((Some(1L), 0L))  // dup of the pre-indexed doc
      out(11L) shouldBe ((None, 0L))      // fresh, appended to store
      out(20L) shouldBe ((Some(11L), 1L)) // dup of the batch-0 ingest
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("micro-batch sink: the body plans at full width; the session width is restored after a normal and a failing batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.shuffle.partitions"
    val full = spark.sparkContext.defaultParallelism.toString
    // a session width unlike the context's, so the override shows
    val narrow = (spark.sparkContext.defaultParallelism + 3).toString
    val root = Files.createTempDirectory("graft_mb_width_").toString
    try GraftSession.withConf(spark, key -> narrow) {
      val inBody = new java.util.concurrent.ConcurrentLinkedQueue[String]
      @volatile var session: org.apache.spark.sql.SparkSession = null
      val input = MemoryStream[Long]
      val q = Streams.microBatches(input.toDF(), root + "/ckpt",
          "width_probe") { (s, b, _) =>
        session = s
        inBody.add(s.conf.get(key))
        if (b.as[Long].collect().contains(-1L))
          throw new IllegalStateException("batch body failed")
      }
      try {
        input.addData(1L); q.processAllAvailable()
        session.conf.get(key) shouldBe narrow
        input.addData(-1L)
        intercept[Exception](q.processAllAvailable())
        session.conf.get(key) shouldBe narrow
      } finally q.stop()
      inBody.toArray.toSeq shouldBe Seq(full, full)
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("near-dup ingest retry: a re-delivered micro-batch leaves store and output in the single-run state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_nd_retry_").toString
    try {
      val corpus = Seq(
        (1L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("doc_id", "text")
      graft.operators.Dedup.writeNearDupIndex(corpus, "doc_id", "text",
        shingleN = 2, k = 64, bands = 32, dir = root + "/idx")
      val b0 = Seq(
        (10L, "the quick brown fox jumps over the lazy dog tonight"),
        (11L, "totally new material never indexed before anywhere"))
      val b1 = Seq(
        (20L, "totally new material never indexed before anywhere"))
      def runStream(ckpt: String, batches: Seq[Seq[(Long, String)]]): Unit = {
        val input = MemoryStream[(Long, String)]
        val q = Streams.nearDupIngest(
          input.toDF().toDF("doc_id", "text"), "doc_id", "text",
          root + "/idx", root + "/out", ckpt,
          shingleN = 2, k = 64, bands = 32, threshold = 0.5)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def state(): (Set[(Long, Option[Long], Long)], Set[Seq[Any]]) = (
        spark.read.parquet(root + "/out")
          .select(col("doc_id"), col("dup_of"),
            col("batch_id").cast("long"))
          .as[(Long, Option[Long], Long)].collect().toSet,
        spark.read.parquet(root + "/idx/shingles")
          .collect().map(_.toSeq).toSet)
      val (out1, store1) = state()
      out1.map(r => r._1 -> ((r._2, r._3))).toMap shouldBe Map(
        10L -> ((Some(1L), 0L)), 11L -> ((None, 0L)),
        20L -> ((Some(11L), 1L)))
      // simulate the engine re-delivering batch 0 after a crash: a
      // FRESH checkpoint replays the same first batch under the same
      // batchId (0). The committed store append must be skipped, the
      // mark must stay as-of-batch-start, and the output partition
      // must be overwritten in place — nothing about the store or the
      // output (including batch 1's rows) may change.
      runStream(root + "/ckpt_retry", Seq(b0))
      state() shouldBe ((out1, store1))
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("postings-index ingest: batches land as sealed segments; a " +
    "re-delivered batch and a half-landed retry both converge") {
    import spark.implicits._
    import graft.operators.Retrieval
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_pi_retry_").toString
    val store = root + "/idx"
    try {
      val b0 = Seq((1L, "alpha beta gamma"), (2L, "alpha delta"))
      val b1 = Seq((3L, "beta beta epsilon"))
      def runStream(ckpt: String, batches: Seq[Seq[(Long, String)]]): Unit = {
        val input = MemoryStream[(Long, String)]
        val q = Streams.postingsIngest(
          input.toDF().toDF("doc_id", "text"), "doc_id", "text",
          store, ckpt, nBuckets = 8, numFiles = 1)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def state(): Set[Seq[Any]] =
        spark.read.parquet(store + "/postings")
          .drop("seg").collect().map(_.toSeq).toSet
      val ref = state()
      val queries = Seq((1, "alpha"), (2, "beta epsilon"))
      val refAns = Retrieval.bm25TopKIndexed(spark, store, queries, k = 3)
        .collect().map(_.toSeq).toSet
      refAns.nonEmpty shouldBe true

      // engine re-delivers batch 0 under the same batchId after a
      // crash: the sealed segment must be skipped — store unchanged
      runStream(root + "/ckpt_retry", Seq(b0))
      state() shouldBe ref

      // half-landed segment (crash before the stats seal): the retry
      // must clean and redo it, converging to the same store
      val statSeg = new java.io.File(s"$store/stats/seg=batch0/_SUCCESS")
      statSeg.exists() shouldBe true
      statSeg.delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      state() shouldBe ref
      Retrieval.bm25TopKIndexed(spark, store, queries, k = 3)
        .collect().map(_.toSeq).toSet shouldBe refAns
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("contamination ingest: additive partials equal the batch sweep; " +
    "re-delivered and half-landed batches both converge") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_ci_retry_").toString
    try {
      val evalSet = Seq((100L, "a b c d e")).toDF("doc_id", "text")
      val b0 = Seq((1L, "s1", "a b c x y"), (2L, "s2", "p q r"))
      val b1 = Seq((3L, "s1", "a b c d e"))
      def runStream(ckpt: String,
          batches: Seq[Seq[(Long, String, String)]]): Unit = {
        val input = MemoryStream[(Long, String, String)]
        val q = Streams.contaminationIngest(
          input.toDF().toDF("doc_id", "source", "text"), evalSet,
          "doc_id", "text", "source", root, ckpt, n = 2)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def report(): Set[Seq[Any]] = spark.read
        .parquet(root + "/partials")
        .groupBy(col("source"))
        .agg(sum("n_docs"), sum("n_c20"), sum("n_c50"), sum("n_c80"),
          sum(col("sum_score_dec")).cast("double"))
        .collect().map(_.toSeq).toSet
      val ref = report()
      // the partial store re-aggregates to the direct batch sweep
      val all = (b0 ++ b1).toDF("doc_id", "source", "text")
      val direct = Dedup.contaminationScores(all, evalSet,
          "doc_id", "text", n = 2)
        .join(all.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long"),
          sum(when(col("contamination") >= 0.2, 1L).otherwise(0L)),
          sum(when(col("contamination") >= 0.5, 1L).otherwise(0L)),
          sum(when(col("contamination") >= 0.8, 1L).otherwise(0L)),
          sum(round(col("contamination"), 6).cast("decimal(20,6)"))
            .cast("double"))
        .collect().map(_.toSeq).toSet
      ref shouldBe direct
      // re-delivered batch 0 (fresh checkpoint, same batchId): the
      // sealed segment is skipped — store unchanged
      runStream(root + "/ckpt_retry", Seq(b0))
      report() shouldBe ref
      // half-landed (seal removed): cleaned and redone, same state
      val marker = new java.io.File(
        s"$root/partials/batch_id=0/_SUCCESS")
      marker.exists() shouldBe true
      marker.delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      report() shouldBe ref
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("excision ingest: drained surgery rows equal the batch form; " +
    "re-delivered and half-landed batches both converge") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_ex_retry_").toString
    try {
      val evalSet = Seq((100L, "a b c d e")).toDF("doc_id", "text")
      // doc 1 contains the eval 3-gram run -> affected; doc 2 clean
      val b0 = Seq((1L, "x a b c d e y"), (2L, "p q r s t"))
      val b1 = Seq((3L, "a b c d e"))
      def runStream(ckpt: String,
          batches: Seq[Seq[(Long, String)]]): Unit = {
        val input = MemoryStream[(Long, String)]
        val q = Streams.excisionIngest(
          input.toDF().toDF("doc_id", "text"), evalSet,
          "doc_id", "text", root, ckpt, n = 3)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def surgery(): Set[Seq[Any]] = spark.read
        .parquet(root + "/partials")
        .select("doc_id", "n_tok", "tokens_excised", "clean_hash")
        .collect().map(_.toSeq).toSet
      val ref = surgery()
      // the drained store IS the batch q164 answer over the union
      val all = (b0 ++ b1).toDF("doc_id", "text")
      val direct = Dedup.contaminationExcisedDocs(all, evalSet,
          "doc_id", "text", n = 3)
        .collect().map(_.toSeq).toSet
      ref shouldBe direct
      ref.map(_.head) shouldBe Set(1L, 3L) // affected docs only
      // re-delivered batch 0 (fresh checkpoint, same batchId): the
      // sealed segment is skipped — store unchanged
      runStream(root + "/ckpt_retry", Seq(b0))
      surgery() shouldBe ref
      // half-landed (seal removed): cleaned and redone, same state
      val marker = new java.io.File(
        s"$root/partials/batch_id=0/_SUCCESS")
      marker.exists() shouldBe true
      marker.delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      surgery() shouldBe ref
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("resample ingest: the streamed reservoir re-merges to the " +
    "batch Gumbel-top-k sample; both retry modes converge") {
    import spark.implicits._
    import graft.operators.CorpusStats
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_rs_retry_").toString
    try {
      val all = Seq(
        (1L, "s1", "the cat sat on the mat"),
        (2L, "s2", "p q r unique terms here"),
        (3L, "s1", "the cat sat"),
        (4L, "s2", "wholly different words appear"),
        (5L, "s1", "the the the repeated"),
        (6L, "s2", "cat mat cat mat"))
      // static model trained once on the full reference corpus —
      // target = source s1 (stands in for q113's lang = 'en')
      val ref = all.toDF("doc_id", "source", "text")
      val model = CorpusStats.dsirModelMicros(ref, "text",
        col("source") === "s1", buckets = 256)
      val b0 = all.filter(_._1 % 2 == 0); val b1 = all.filter(_._1 % 2 == 1)
      def runStream(ckpt: String,
          batches: Seq[Seq[(Long, String, String)]]): Unit = {
        val input = MemoryStream[(Long, String, String)]
        val q = Streams.resampleIngest(
          input.toDF().toDF("doc_id", "source", "text"), model,
          "doc_id", "text", "source", n = 3, root, ckpt)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def sample(): Seq[(Long, Long)] = spark.read
        .parquet(root + "/partials")
        .orderBy(col("key_micros").desc, col("doc_id")).limit(3)
        .select("doc_id", "key_micros")
        .as[(Long, Long)].collect().toSeq
      val ref3 = sample()
      // semilattice: the re-merged reservoir IS the batch top-3
      val direct = CorpusStats.importanceSample(
          CorpusStats.dsirScoreWith(model, ref, "text"),
          "doc_id", "wt_micros", n = 3)
        .select("doc_id", "key_micros")
        .as[(Long, Long)].collect().toSeq
      ref3 shouldBe direct
      // each sealed segment holds at most n rows, not the batch
      spark.read.parquet(root + "/partials")
        .groupBy(col("batch_id")).count().collect()
        .foreach(_.getLong(1) should be <= 3L)
      // re-delivered batch 0: sealed segment skipped, store unchanged
      runStream(root + "/ckpt_retry", Seq(b0))
      sample() shouldBe ref3
      // half-landed: cleaned and redone, same state
      val marker = new java.io.File(
        s"$root/partials/batch_id=0/_SUCCESS")
      marker.exists() shouldBe true
      marker.delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      sample() shouldBe ref3
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("classifier ingest: additive partials equal the batch gate; " +
    "re-delivered and half-landed batches both converge") {
    import spark.implicits._
    import graft.operators.CorpusStats
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_cl_retry_").toString
    try {
      val b0 = Seq((1L, "s1", "the cat sat"), (2L, "s2", "p q r"))
      val b1 = Seq((3L, "s1", "the cat sat on the mat"), (4L, "s2", ""))
      def runStream(ckpt: String,
          batches: Seq[Seq[(Long, String, String)]]): Unit = {
        val input = MemoryStream[(Long, String, String)]
        val q = Streams.classifierIngest(
          input.toDF().toDF("doc_id", "source", "text"),
          "doc_id", "text", "source", buckets = 4096, root, ckpt)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def report(): Set[Seq[Any]] = spark.read
        .parquet(root + "/partials")
        .groupBy(col("source"))
        .agg(sum("n_docs"), sum("n_accept"), sum("sum_logit"),
          sum("sum_feats"))
        .collect().map(_.toSeq).toSet
      val ref = report()
      // the partial store re-aggregates to the direct batch gate
      val all = (b0 ++ b1).toDF("doc_id", "source", "text")
      val direct = CorpusStats.linearClassifierScores(all,
          "doc_id", "text", buckets = 4096)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long"),
          sum(when(col("accept"), 1L).otherwise(0L)),
          sum(col("logit")), sum(col("n_feats")))
        .collect().map(_.toSeq).toSet
      ref shouldBe direct
      // re-delivered batch 0 (fresh checkpoint, same batchId): the
      // sealed segment is skipped — store unchanged
      runStream(root + "/ckpt_retry", Seq(b0))
      report() shouldBe ref
      // half-landed (seal removed): cleaned and redone, same state
      val marker = new java.io.File(
        s"$root/partials/batch_id=0/_SUCCESS")
      marker.exists() shouldBe true
      marker.delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      report() shouldBe ref
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("phash ingest: index growth flags cross-batch image dups; " +
    "re-delivered and half-landed batches both converge") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_phash_retry_").toString
    try {
      // stored: one far-off fingerprint; batch 0 brings fresh content
      // (fp 0, fp 3); batch 1 near-dups batch 0's fp 0 — flaggable
      // ONLY if batch 0's fresh keys landed in the index
      Dedup.writePhashIndex(
        Seq((1L, 0x0F0F0F0F0F0F0F0FL)).toDF("doc", "fp"),
        root + "/idx", radius = 4, width = 64, blocks = Some(8),
        keyBlocks = 1)
      val b0 = Seq((10L, 0L), (11L, 3L))
      val b1 = Seq((20L, 1L))
      def runStream(ckpt: String, batches: Seq[Seq[(Long, Long)]]): Unit = {
        val input = MemoryStream[(Long, Long)]
        val q = Streams.phashIngest(input.toDF().toDF("doc", "fp"),
          root + "/idx", root + "/out", ckpt, radius = 4, width = 64,
          blocks = Some(8), keyBlocks = 1)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def state(): (Long, Set[Seq[Any]]) = (
        spark.read.parquet(root + "/idx/keys")
          .select("doc").distinct().count(),
        spark.read.parquet(root + "/out")
          .select("doc", "dup_of", "hamming", "is_dup")
          .collect().map(_.toSeq).toSet)
      val (idxDocs, out) = state()
      idxDocs shouldBe 3L // stored 1 + fresh 10, 11; dup 20 NOT appended
      out should contain (Seq(20L, 10L, 1, true)) // via batch-0 growth
      out should contain (Seq(10L, null, null, false))
      // re-delivered batch 0 (fresh checkpoint, same batchId): the
      // committed tag skips the index append; the batchId-keyed sink
      // partition overwrites itself — both sides unchanged
      runStream(root + "/ckpt_retry", Seq(b0))
      state() shouldBe ((idxDocs, out))
      // half-landed (commit marker removed): the retry cleans its own
      // seg files and redoes — same converged state
      val marker = new java.io.File(s"$root/idx/_commits/b0")
      marker.exists() shouldBe true
      marker.delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      state() shouldBe ((idxDocs, out))
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("calibrated classifier ingest: partials gate at the chosen " +
    "threshold; an unachievable target (None) accepts nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "s1", "alpha beta gamma"), (2L, "s1", "one two"),
      (3L, "s2", "lorem ipsum dolor sit"), (4L, "s2", "tiny"))
    def drained(thr: Option[Long]): Map[String, (Long, Long)] = {
      val root = Files.createTempDirectory("graft_cg_ing_").toString
      try {
        val input = MemoryStream[(Long, String, String)]
        val q = Streams.calibratedClassifierIngest(
          input.toDF().toDF("doc_id", "source", "text"),
          "doc_id", "text", "source", buckets = 64, thr, root,
          root + "/ckpt")
        try {
          input.addData(docs.take(2): _*); q.processAllAvailable()
          input.addData(docs.drop(2): _*); q.processAllAvailable()
        } finally q.stop()
        spark.read.parquet(root + "/partials")
          .groupBy("source")
          .agg(sum("n_docs").as("n"), sum("n_accept").as("a"))
          .as[(String, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
      } finally Scratch.deleteRecursively(new java.io.File(root))
    }
    // a floor below every possible logit: everything accepted
    val all = drained(Some(Long.MinValue))
    all shouldBe Map("s1" -> ((2L, 2L)), "s2" -> ((2L, 2L)))
    // the unachievable-target contract: nothing accepted, not a
    // silent logit>=0 fallback
    val none = drained(None)
    none shouldBe Map("s1" -> ((2L, 0L)), "s2" -> ((2L, 0L)))
  }

  test("growing margin ingest: batch 2 mines batch 1's appended " +
    "vectors; re-delivered and half-landed batches both converge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_mg_retry_").toString
    try {
      val dim = 8
      def vec(seed: Int): Seq[Double] = {
        val r = new scala.util.Random(seed)
        Seq.fill(dim)(r.nextGaussian())
      }
      val planes = graft.functions.vectors.planeMatrix(seed = 92L,
        nPlanes = 4, dim = dim)
      val base = vec(1)
      val baseNear = base.zipWithIndex.map { case (x, j) => x + 1e-3 * j }
      // initial store: one unrelated vector; radius 4 over 4 planes
      // makes the ball universal, so the retry/growth logic (not
      // bucket geometry) is what this test exercises
      graft.sources.Layout.clusteredWrite(
        Seq((1L, vec(99))).toDF("vec_id", "embedding")
          .withColumn("bucket", graft.functions.vectors
            .hyperplaneBucketFast(col("embedding"), planes)),
        root + "/store/emb", numFiles = 1, col("bucket"))
      val b0 = Seq((10L, base))
      val b1 = Seq((20L, baseNear))
      def runStream(ckpt: String,
          batches: Seq[Seq[(Long, Seq[Double])]]): Unit = {
        val input = MemoryStream[(Long, Seq[Double])]
        val q = Streams.marginIngestGrowing(
          input.toDF().toDF("vec_id", "embedding"), root + "/store",
          "emb", planes, radius = 4, k = 4, threshold = 1.0, root,
          ckpt)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def state(): (Set[Long], Set[Seq[Any]]) = (
        spark.read.parquet(root + "/store/emb")
          .select("vec_id").as[Long].collect().toSet,
        spark.read.parquet(root + "/partials")
          .select("src_id", "tgt_id", "cos", "margin", "accepted")
          .collect().map(_.toSeq).toSet)
      val (ids, out) = state()
      // every batch's vectors joined the store
      ids shouldBe Set(1L, 10L, 20L)
      // growth is load-bearing: 20's best partner is 10 (appended by
      // batch 0, cos ≈ 1), not the unrelated stored 1
      out.map(r => r.head -> r(1)).toMap.apply(20L) shouldBe 10L
      // re-delivered batch 0 (fresh checkpoint, same batchId): sealed
      // verdicts skipped, committed append skipped — nothing changes
      runStream(root + "/ckpt_retry", Seq(b0))
      state() shouldBe ((ids, out))
      // half-landed append (commit marker removed): the redo cleans
      // its own seg files and reproduces them — same converged state,
      // and the sealed verdicts are never re-mined
      val marker = new java.io.File(s"$root/store/_commits/b0")
      marker.exists() shouldBe true
      marker.delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      state() shouldBe ((ids, out))
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("mix ingest: drained partials equal the batch temperature mix; " +
    "re-delivered and half-landed batches both converge") {
    import spark.implicits._
    import graft.operators.Relational
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_mix_retry_").toString
    try {
      // s1 keeps everything (cut 1000); s2 keeps hash%1000 < 500 —
      // row-local selection, so the static recipe decides per doc
      val cuts = Seq("s1" -> 1000L, "s2" -> 500L)
      val b0 = (1L to 6L).map(i =>
        (i, if (i % 2 == 0) "s1" else "s2", s"tok$i a b"))
      val b1 = (7L to 12L).map(i =>
        (i, if (i % 2 == 0) "s1" else "s2", s"w$i x"))
      def runStream(ckpt: String,
          batches: Seq[Seq[(Long, String, String)]]): Unit = {
        val input = MemoryStream[(Long, String, String)]
        val q = Streams.mixIngest(
          input.toDF().toDF("doc_id", "source", "text"),
          cuts, "doc_id", "text", "source", root, ckpt)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def report(): Set[Seq[Any]] = spark.read
        .parquet(root + "/partials")
        .groupBy(col("source"), col("mix_cut"))
        .agg(sum("n_kept"), sum("kept_tokens"))
        .collect().map(_.toSeq).toSet
      val ref = report()
      // the partial store re-aggregates to the direct batch mix
      val all = (b0 ++ b1).toDF("doc_id", "source", "text")
      val direct = Relational
        .temperatureMix(all, col("source"), col("doc_id"), cuts)
        .withColumn("n_tokens",
          graft.functions.text.tokenCount(col("text")).cast("long"))
        .groupBy(col("source"), col("mix_cut"))
        .agg(count(lit(1)).cast("long"), sum(col("n_tokens")))
        .collect().map(_.toSeq).toSet
      ref shouldBe direct
      // the sub-1000 stratum really dropped rows (the cut bites)
      val s2Kept = ref.collectFirst {
        case Seq("s2", _, n: Long, _) => n }.get
      s2Kept should be < 6L
      // re-delivered batch 0 (fresh checkpoint, same batchId): the
      // sealed segment is skipped — store unchanged
      runStream(root + "/ckpt_retry", Seq(b0))
      report() shouldBe ref
      // half-landed (seal removed): cleaned and redone, same state
      val marker = new java.io.File(
        s"$root/partials/batch_id=0/_SUCCESS")
      marker.exists() shouldBe true
      marker.delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      report() shouldBe ref
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("moments ingest: streamed partials re-aggregate to the batch " +
    "moments; re-delivered and half-landed batches both converge") {
    import spark.implicits._
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_mi_retry_").toString
    try {
      val all = Seq(
        (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 0),
        (3L, Seq(3.0f, 4.0f), 1), (4L, Seq(1.0f, 1.0f), 1))
      val batches = Seq(all.take(2), all.drop(2))
      def runStream(ckpt: String,
          bs: Seq[Seq[(Long, Seq[Float], Int)]]): Unit = {
        val input = MemoryStream[(Long, Seq[Float], Int)]
        val q = Streams.momentsIngest(
          input.toDF().toDF("vec_id", "embedding", "label"),
          "embedding", "label", root, ckpt)
        try bs.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", batches)
      def merged(): Set[Seq[Any]] = spark.read
        .parquet(root + "/partials")
        .groupBy(col("label"), col("pos"))
        .agg(sum("n_vecs"), sum("s_sum").cast("decimal(38,0)")
          .cast("string"),
          sum("q_sum").cast("decimal(38,0)").cast("string"))
        .collect().map(_.toSeq).toSet
      val ref = merged()
      // the streamed partials equal the one-shot batch moments
      val direct = Similarity.embeddingMoments(
          all.toDF("vec_id", "embedding", "label"), "embedding", "label")
        .select(col("label"), col("pos"), col("n_vecs"),
          col("s_sum").cast("string"), col("q_sum").cast("string"))
        .collect().map(_.toSeq).toSet
      ref shouldBe direct
      // sealed batch re-delivered → skipped; half-landed → redone
      runStream(root + "/ckpt_retry", Seq(batches.head))
      merged() shouldBe ref
      new java.io.File(s"$root/partials/batch_id=0/_SUCCESS")
        .delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(batches.head))
      merged() shouldBe ref
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("novelty ingest: first-seen store reproduces the batch curve; " +
    "re-delivered and half-landed batches both converge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_nv_retry_").toString
    try {
      // batch 0: bigrams {a b, b c}; batch 1: {a b, x y} → 1 of 2
      // novel; batch 2: {a b, b c, x y} all seen → 0 of 3 novel
      val b0 = Seq((1L, "a b c"))
      val b1 = Seq((2L, "a b"), (3L, "x y"))
      val b2 = Seq((4L, "a b c"), (5L, "x y"))
      def runStream(ckpt: String, batches: Seq[Seq[(Long, String)]]): Unit = {
        val input = MemoryStream[(Long, String)]
        val q = Streams.noveltyIngest(
          input.toDF().toDF("doc_id", "text"), "text", root, ckpt, n = 2)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1, b2))
      def metrics(): Set[Seq[Any]] = spark.read
        .parquet(root + "/metrics")
        .select("batch", "n_docs", "ds", "ns")
        .collect().map(_.toSeq).toSet
      val ref = metrics()
      ref shouldBe Set(Seq(0, 1L, 2L, 2L), Seq(1, 2L, 2L, 1L),
        Seq(2, 2L, 3L, 0L))
      // the store holds each shingle exactly once, at its first batch
      spark.read.parquet(root + "/shingles").select("sh", "batch_id")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet shouldBe
        Set(("a b", 0), ("b c", 0), ("x y", 1))
      // re-delivered batch 0 under a fresh checkpoint: sealed → skip
      runStream(root + "/ckpt_retry", Seq(b0))
      metrics() shouldBe ref
      // half-landed batch 0 (seal removed): cleaned and redone — and
      // the redo's anti-join must see the pre-batch state, so batch
      // 0's shingles count as novel again, not as dups of themselves
      new java.io.File(s"$root/metrics/batch_id=0/_SUCCESS")
        .delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      metrics() shouldBe ref
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("two growing-store margin ingest: each side's later batch " +
    "mines the other side's earlier append; re-delivered and " +
    "half-landed batches both converge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_mg2_retry_").toString
    try {
      val dim = 8
      def vec(seed: Int): Seq[Double] = {
        val r = new scala.util.Random(seed)
        Seq.fill(dim)(r.nextGaussian())
      }
      val planes = graft.functions.vectors.planeMatrix(seed = 92L,
        nPlanes = 4, dim = dim)
      val baseA = vec(1)
      val baseB = vec(2)
      def near(b: Seq[Double]) =
        b.zipWithIndex.map { case (x, j) => x + 1e-3 * j }
      // seeds: one unrelated vector per store; radius 4 over 4
      // planes makes the ball universal — the growth logic, not
      // bucket geometry, is under test
      def seed(id: Long, sd: Int, table: String): Unit =
        graft.sources.Layout.clusteredWrite(
          Seq((id, vec(sd))).toDF("vec_id", "embedding")
            .withColumn("bucket", graft.functions.vectors
              .hyperplaneBucketFast(col("embedding"), planes)),
          root + s"/store/$table", numFiles = 1, col("bucket"))
      seed(2L, 98, "x")
      seed(1L, 99, "y")
      // batch 0 plants baseA on the x side and baseB on the y side;
      // batch 1's x probe (near baseB) can only find y 11 because
      // the Y store grew, and its y probe (near baseA) can only
      // find x 10 because the X store grew
      val b0 = Seq((10L, baseA, "x"), (11L, baseB, "y"))
      val b1 = Seq((20L, near(baseB), "x"), (21L, near(baseA), "y"))
      def runStream(ckpt: String,
          batches: Seq[Seq[(Long, Seq[Double], String)]]): Unit = {
        val input = MemoryStream[(Long, Seq[Double], String)]
        val q = Streams.marginIngestBothGrowing(
          input.toDF().toDF("vec_id", "embedding", "side"),
          root + "/store", "x", "y", planes, radius = 4, k = 4,
          threshold = 1.0, root, ckpt)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def state(): (Set[Long], Set[Long], Set[Seq[Any]]) = (
        spark.read.parquet(root + "/store/x")
          .select("vec_id").as[Long].collect().toSet,
        spark.read.parquet(root + "/store/y")
          .select("vec_id").as[Long].collect().toSet,
        spark.read.parquet(root + "/partials")
          .select("dir", "src_id", "tgt_id", "cos", "margin",
            "accepted")
          .collect().map(_.toSeq).toSet)
      val (xs, ys, out) = state()
      xs shouldBe Set(2L, 10L, 20L)
      ys shouldBe Set(1L, 11L, 21L)
      val best = out.map(r => (r.head, r(1)) -> r(2)).toMap
      // BOTH growth directions load-bearing: 20's partner is the
      // batch-0 Y append, 21's the batch-0 X append — not the seeds
      best(("x2y", 20L)) shouldBe 11L
      best(("y2x", 21L)) shouldBe 10L
      // re-delivered batch 0: sealed verdicts + committed two-table
      // append both skipped
      runStream(root + "/ckpt_retry", Seq(b0))
      state() shouldBe ((xs, ys, out))
      // half-landed append (the ONE marker sealing both tables
      // removed): the redo cleans both sides' seg files and
      // reproduces them
      val marker = new java.io.File(s"$root/store/_commits/b0")
      marker.exists() shouldBe true
      marker.delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      state() shouldBe ((xs, ys, out))
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("component fold ingest: a late near-duplicate inherits its " +
    "partner's fold through the grown store; re-delivered and " +
    "half-landed batches both converge") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_cfold_").toString
    try {
      val a = (1 to 11).map(i => s"a$i").mkString(" ")
      // batch 0: doc 1 (key u1) + unrelated doc 3 (key u3)
      val b0 = Seq((1L, "u1", "s", a),
        (3L, "u3", "s", (1 to 8).map(i => s"p$i").mkString(" ")))
      // batch 1: doc 20 = exact copy of doc 1's text, key-unique —
      // its own doc-level fold is 'test' (md5-60("20") % 10 = 0) but
      // it must inherit group 1's 'train' through the batch-0
      // signatures the store grew; doc 30 novel (its own 'val')
      val b1 = Seq((20L, "u20", "s", a),
        (30L, "u30", "s", (1 to 8).map(i => s"q$i").mkString(" ")))
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      Dedup.writeNearDupIndex(empty, "doc_id", "text", shingleN = 2,
        k = 64, bands = 32, dir = root + "/store/index")
      Dedup.writePairStore(empty, "doc_id", "text",
        root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      Seq.empty[(Long, String, String)]
        .toDF("doc_id", "ckey", "source")
        .write.parquet(root + "/store/docs/docs")
      def runStream(ckpt: String,
          batches: Seq[Seq[(Long, String, String, String)]]): Unit = {
        val input = MemoryStream[(Long, String, String, String)]
        val q = Streams.componentFoldIngest(
          input.toDF().toDF("doc_id", "ckey", "source", "text"),
          "doc_id", "text", "ckey", "source", root + "/store",
          root + "/out", ckpt, shingleN = 2, k = 64, bands = 32,
          threshold = 0.5)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      runStream(root + "/ckpt", Seq(b0, b1))
      def state(): Set[Seq[Any]] = spark.read.parquet(root + "/out")
        .select("doc_id", "group", "split", "dsplit", "inherited")
        .collect().map(_.toSeq).toSet
      val out = state()
      // ONE file per sealed batch partition: the manifest's readers
      // pay file count at scale (PLANS.md "Fold-drift lifecycle vs
      // landed-manifest growth", finding 2)
      Seq(0, 1).foreach { bid =>
        new java.io.File(s"$root/out/batch_id=$bid").listFiles()
          .count(_.getName.startsWith("part-")) shouldBe 1
      }
      val byId = out.map(r =>
        r.head.asInstanceOf[Long] -> r.toVector).toMap
      byId(1L)(2) shouldBe "train" // group 1's fold
      byId(20L)(1) shouldBe 1L // label inherited from the store
      byId(20L)(2) shouldBe "train" // the partner's fold, not its own
      byId(20L)(3) shouldBe "test" // the doc-level fold it escaped
      byId(20L)(4) shouldBe true
      byId(30L)(1) shouldBe 30L // novel: own label, own fold
      byId(30L)(4) shouldBe false
      // re-delivered batch 0 (fresh checkpoint, same batchId):
      // sealed pair append skipped, manifest seal skipped, fold
      // partition overwritten with identical rows
      runStream(root + "/ckpt_retry", Seq(b0))
      state() shouldBe out
      // half-landed pair append (commit marker removed): the redo
      // cleans its own seg files and reproduces them — same state,
      // and the as-of read anti-joins the batch's own manifest rows
      val marker = new java.io.File(s"$root/store/pairs/_commits/b0")
      marker.exists() shouldBe true
      marker.delete() shouldBe true
      runStream(root + "/ckpt_retry2", Seq(b0))
      state() shouldBe out
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("component fold ingest: a label store grown stale under " +
    "useLabelStore=false fails the next store-backed stream loudly") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_cfoldg_").toString
    try {
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      Dedup.writeNearDupIndex(empty, "doc_id", "text", shingleN = 2,
        k = 64, bands = 32, dir = root + "/store/index")
      Dedup.writePairStore(empty, "doc_id", "text",
        root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      Seq.empty[(Long, String, String)]
        .toDF("doc_id", "ckey", "source")
        .write.parquet(root + "/store/docs/docs")
      def runStream(ckpt: String,
          batch: Seq[(Long, String, String, String)]): Unit = {
        val input = MemoryStream[(Long, String, String, String)]
        val q = Streams.componentFoldIngest(
          input.toDF().toDF("doc_id", "ckey", "source", "text"),
          "doc_id", "text", "ckey", "source", root + "/store",
          root + "/out", ckpt, shingleN = 2, k = 64, bands = 32,
          threshold = 0.5)
        try { input.addData(batch: _*); q.processAllAvailable() }
        finally q.stop()
      }
      // stream 1 seeds + grows the label store (bootstrap committed)
      runStream(root + "/c1", Seq((1L, "u1", "s", "a b c d e f")))
      // the docs store then grows WITHOUT the label store (what a
      // useLabelStore=false ingest does per batch: a sealed docs
      // append, no label segment)
      Dedup.taggedSegmentAppend(spark, root + "/store/docs",
        "ccgrow", Seq("docs" ->
          Seq((2L, "u2", "s")).toDF("doc_id", "ckey", "source")))
      // switching back: the committed bootstrap marker skips the
      // re-seed, so the guard must catch the missing doc-2 label
      // loudly instead of merging against a stale store
      val ex = intercept[org.apache.spark.sql.streaming
          .StreamingQueryException] {
        runStream(root + "/c3", Seq((4L, "u4", "s", "m n o p q r")))
      }
      ex.getMessage should include("out of sync")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("component fold ingest: an all-empty drift dir stays " +
    "readable (schema-bearing seed, no zero-row partition writes)") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_cfolde_").toString
    try {
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      Dedup.writeNearDupIndex(empty, "doc_id", "text", shingleN = 2,
        k = 64, bands = 32, dir = root + "/store/index")
      Dedup.writePairStore(empty, "doc_id", "text",
        root + "/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      Seq.empty[(Long, String, String)]
        .toDF("doc_id", "ckey", "source")
        .write.parquet(root + "/store/docs/docs")
      val input = MemoryStream[(Long, String, String, String)]
      val q = Streams.componentFoldIngest(
        input.toDF().toDF("doc_id", "ckey", "source", "text"),
        "doc_id", "text", "ckey", "source", root + "/store",
        root + "/out", root + "/ckpt", shingleN = 2, k = 64,
        bands = 32, threshold = 0.5,
        driftDir = Some(root + "/drift"))
      // ONE batch: no priors exist, so the drift frame is empty —
      // a monitoring consumer reading driftDir right now must see
      // an empty frame with the full schema, not a schema-inference
      // failure on a _SUCCESS-only directory
      try {
        input.addData((1L, "u1", "s", "a b c d e f"))
        q.processAllAvailable()
      } finally q.stop()
      val drift = spark.read.parquet(root + "/drift")
      drift.count() shouldBe 0L
      drift.columns.toSet shouldBe Set("doc_id", "old_split",
        "new_split", "drifted", "batch_id")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  /** The training-prep flip fixture. Batch 0: doc 10 (src x)
    * keeper-for-now; doc 3 (src z) exact champion-for-now; doc 30
    * (src c) carries eval 3-grams. Batch 1: doc 20 (src y) near-dups
    * doc 10 with more tokens — the keeper must flip; doc 2 (src w) is
    * doc 3's EXACT twin at a smaller id — the exact champion must
    * flip. */
  private object PrepFlip {
    val a10 = (1 to 10).map(i => s"a$i").mkString(" ")
    val a12 = a10 + " b1 b2" // near-dup of a10, MORE tokens
    val p8 = (1 to 8).map(i => s"p$i").mkString(" ")
    val b0 = Seq((10L, "x", a10), (3L, "z", p8),
      (30L, "c", "e1 e2 e3 e4 q9"))
    val b1 = Seq((20L, "y", a12), (2L, "w", p8))
    val eval = Seq((99L, "e1 e2 e3 e4 e5 e6"))
  }

  /** An empty prep store's signature index and pair store. */
  private def emptyPrepStore(store: String): Unit = {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    graft.operators.Dedup.writeNearDupIndex(empty, "doc_id", "text",
      shingleN = 2, k = 64, bands = 32, dir = store + "/index")
    graft.operators.Dedup.writePairStore(empty, "doc_id", "text",
      store + "/pairs", shingleN = 2, k = 64, bands = 32,
      threshold = 0.5)
  }

  /** A frame's rows as sorted strings: a multiset comparison. */
  private def prepRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The (counts, mixhist) rows the shared tail makes of `docs`. */
  private def prepTail(docs: org.apache.spark.sql.DataFrame)
      : (Seq[String], Seq[String]) = {
    val (c, h) = Streams.prepDeltaTail(docs, "doc_id", "source")
    (prepRows(c), prepRows(h))
  }

  /** The (counts, mixhist) rows sealed under `tag`. */
  private def sealedPrepDeltas(store: String, tag: String)
      : (Seq[String], Seq[String]) = {
    def seg(t: String): Seq[String] = {
      val files = Option(new java.io.File(s"$store/deltas/$t")
          .listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(s"seg-$tag-part-"))
        .map(_.getPath).toSeq
      if (files.isEmpty) Seq.empty
      else prepRows(spark.read.parquet(files: _*))
    }
    (seg("counts"), seg("mixhist"))
  }

  /** Every source of one batch's prep delta rows agrees: the driver
    * kernel, the pushed twin, the semi-join twin (cap 0) and the rows
    * sealed under `tag` — and the two paths' per-doc frames are equal
    * row for row. */
  private def prepDeltaPathsAgree(store: String, tag: String): Unit = {
    val kernel = Streams.prepDeltaDriver(spark, store, tag, "doc_id",
      "source")
    kernel should not be empty
    val pushed = Streams.prepDeltaRows(spark, store, tag, "doc_id",
      "source")
    prepRows(kernel.get) shouldBe prepRows(pushed)
    val seg = sealedPrepDeltas(store, tag)
    seg._1 should not be empty
    prepTail(kernel.get) shouldBe seg
    prepTail(pushed) shouldBe seg
    prepTail(Streams.prepDeltaRows(spark, store, tag, "doc_id",
      "source", cap = 0)) shouldBe seg
  }

  test("training-prep ingest: a later batch's near-dup (and exact " +
    "twin) flip earlier keepers only through store growth; " +
    "re-delivered batches converge") {
    import spark.implicits._
    import PrepFlip._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_tprep_").toString
    try {
      val evalDocs = eval.toDF("doc_id", "text")
      emptyPrepStore(root + "/store")
      def report(): Map[String, Seq[Long]] =
        Streams.trainingPrepReport(spark, root + "/store", "doc_id",
            "source", budgetTokens = 1000000L)
          .collect().map(r => r.getString(0) ->
            (1 to 7).map(r.getLong).toVector.toSeq).toMap
      def deltaReport(): Map[String, Seq[Long]] =
        Streams.trainingPrepReportFromDeltas(spark, root + "/store",
            "source", budgetTokens = 1000000L)
          .collect().map(r => r.getString(0) ->
            (1 to 7).map(r.getLong).toVector.toSeq).toMap
      def startStream(ckpt: String)
          : (MemoryStream[(Long, String, String)],
            org.apache.spark.sql.streaming.StreamingQuery) = {
        val input = MemoryStream[(Long, String, String)]
        val q = Streams.trainingPrepIngest(
          input.toDF().toDF("doc_id", "source", "text"),
          "doc_id", "text", "source", evalDocs, root + "/store",
          ckpt, shingleN = 2, k = 64, bands = 32, threshold = 0.5)
        (input, q)
      }
      val (in1, q1) = startStream(root + "/c1")
      val (after0, delta0) = try {
        in1.addData(b0: _*); q1.processAllAvailable()
        prepDeltaPathsAgree(root + "/store", "b0")
        val r = (report(), deltaReport())
        in1.addData(b1: _*); q1.processAllAvailable()
        prepDeltaPathsAgree(root + "/store", "b1")
        r
      } finally q1.stop()
      // the sealed per-batch delta partials track the store read at
      // EVERY prefix — including mid-stream
      delta0 shouldBe after0
      // (n_raw, n_exact, n_neardup, n_decontam, n_quality, ...)
      after0("x").take(3) shouldBe Seq(1L, 1L, 1L) // 10 is keeper
      after0("z").take(2) shouldBe Seq(1L, 1L)     // 3 is champion
      after0("c").take(4) shouldBe
        Seq(1L, 1L, 1L, 0L) // contaminated: fails the decontam gate
      val after1 = report()
      // the near-dup keeper flipped to the longer later arrival —
      // the (10,20) edge exists only through the grown index
      after1("x").take(3) shouldBe Seq(1L, 1L, 0L)
      after1("y").take(3) shouldBe Seq(1L, 1L, 1L)
      // the exact champion flipped to the smaller later id
      after1("z").take(2) shouldBe Seq(1L, 0L)
      after1("w").take(2) shouldBe Seq(1L, 1L)
      // delta sums ≡ the store read after the flips too, and the
      // partials genuinely carry SIGNED corrections: batch 1
      // dethrones both src-x's keeper and src-z's exact champion
      deltaReport() shouldBe after1
      val cnt = spark.read
        .parquet(root + "/store/deltas/counts")
      cnt.filter(col("d_nd") < 0 || col("d_exact") < 0)
        .count() should be > 0L
      // re-delivered batches (fresh checkpoint, same tags): every
      // seal skips or recomputes from the store — manifest unchanged
      val (in2, q2) = startStream(root + "/c2")
      try {
        in2.addData(b0: _*); q2.processAllAvailable()
        in2.addData(b1: _*); q2.processAllAvailable()
      } finally q2.stop()
      report() shouldBe after1
      deltaReport() shouldBe after1
      // store maintenance closes over the partials: prep-health
      // prints the delta-backed manifest + churn telemetry, and a
      // sum-compaction leaves every read invariant
      val health = Main.run(spark,
        Seq("prep-health", root + "/store"))
      health.foreach(l => info(l))
      health.exists(_.contains("keeper-churn")) shouldBe true
      val lines = Main.run(spark,
        Seq("compact-deltas", root + "/store/deltas", "0.0"))
      lines.foreach(l => info(l))
      lines.exists(_.contains("compacted to")) shouldBe true
      deltaReport() shouldBe after1
      // a batch re-delivered AFTER compaction still skips its delta
      // seal verbatim (markers survive the swap)
      val (in3, q3) = startStream(root + "/c3")
      try {
        in3.addData(b0: _*); q3.processAllAvailable()
        in3.addData(b1: _*); q3.processAllAvailable()
      } finally q3.stop()
      deltaReport() shouldBe after1
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("training-prep delta leg: the driver kernel runs ≤ 10 jobs, " +
    "under half the twin's; over its cap it yields to the twin") {
    import spark.implicits._
    import PrepFlip._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.Bridge
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_tpjobs_").toString
    val store = root + "/store"
    try {
      emptyPrepStore(store)
      val input = MemoryStream[(Long, String, String)]
      val q = Streams.trainingPrepIngest(
        input.toDF().toDF("doc_id", "source", "text"),
        "doc_id", "text", "source", eval.toDF("doc_id", "text"), store,
        root + "/ckpt", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      try Seq(b0, b1).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      /** Spark jobs started while `body` derives batch 1's per-doc
        * frame (the seal writes are not part of it). */
      def jobs(body: => Any): Int = {
        val n = new java.util.concurrent.atomic.AtomicInteger()
        val l = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            n.incrementAndGet()
        }
        Bridge.drainListenerBus(spark)
        spark.sparkContext.addSparkListener(l)
        try { body; Bridge.drainListenerBus(spark) }
        finally spark.sparkContext.removeSparkListener(l)
        n.get
      }
      val driverJobs = jobs(Streams.prepDeltaDriver(spark, store, "b1",
        "doc_id", "source").get)
      val twinJobs = jobs(Streams.prepDeltaRows(spark, store, "b1",
        "doc_id", "source"))
      info(s"delta derivation jobs: driver $driverJobs, twin $twinJobs")
      driverJobs should be <= 10
      2 * driverJobs should be < twinJobs
      // over the cap: the kernel declines and the twin's answer is
      // the sealed one
      Streams.prepDeltaDriver(spark, store, "b1", "doc_id", "source",
        cap = 1) shouldBe None
      val (c, h) = Streams.prepDeltas(spark, store, "b1", "doc_id",
        "source", cap = 1)
      (prepRows(c), prepRows(h)) shouldBe sealedPrepDeltas(store, "b1")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("training-prep bootstrap: attaching to a pre-existing " +
    "corpus reads identically to streaming it from genesis") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_tpboot_").toString
    try {
      val a10 = (1 to 10).map(i => s"a$i").mkString(" ")
      val a12 = a10 + " b1 b2"
      val p8 = (1 to 8).map(i => s"p$i").mkString(" ")
      // corpus A pre-exists; batch B arrives later and flips both
      // the near-dup keeper (20 over 10) and the exact champion
      // (2 over 3) — the flips must land through the BOOTSTRAPPED
      // stores exactly as they do through genesis growth
      val corpusA = Seq((10L, "x", a10), (3L, "z", p8),
        (30L, "c", "e1 e2 e3 e4 q9"))
      val batchB = Seq((20L, "y", a12), (2L, "w", p8))
      val evalDocs = Seq((99L, "e1 e2 e3 e4 e5 e6"))
        .toDF("doc_id", "text")
      def stream(sub: String,
          batches: Seq[Seq[(Long, String, String)]]): Unit = {
        val input = MemoryStream[(Long, String, String)]
        val q = Streams.trainingPrepIngest(
          input.toDF().toDF("doc_id", "source", "text"),
          "doc_id", "text", "source", evalDocs, s"$root/$sub/store",
          s"$root/$sub/ckpt", shingleN = 2, k = 64, bands = 32,
          threshold = 0.5)
        try batches.zipWithIndex.foreach { case (b, i) =>
          input.addData(b: _*); q.processAllAvailable()
          prepDeltaPathsAgree(s"$root/$sub/store", s"b$i")
        } finally q.stop()
      }
      def reports(sub: String): (Set[Seq[Any]], Set[Seq[Any]]) = (
        Streams.trainingPrepReport(spark, s"$root/$sub/store",
            "doc_id", "source", budgetTokens = 1000000L)
          .collect().map(_.toSeq).toSet,
        Streams.trainingPrepReportFromDeltas(spark,
            s"$root/$sub/store", "source", budgetTokens = 1000000L)
          .collect().map(_.toSeq).toSet)
      // genesis: everything streamed from an empty store
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      Dedup.writeNearDupIndex(empty, "doc_id", "text", shingleN = 2,
        k = 64, bands = 32, dir = s"$root/gen/store/index")
      Dedup.writePairStore(empty, "doc_id", "text",
        s"$root/gen/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      stream("gen", Seq(corpusA, batchB))
      val (repG, deltaG) = reports("gen")
      deltaG shouldBe repG
      // attach: corpus A bootstrapped at rest, only B streams
      Streams.trainingPrepBootstrap(
        corpusA.toDF("doc_id", "source", "text"), "doc_id", "text",
        "source", evalDocs, s"$root/att/store", shingleN = 2,
        k = 64, bands = 32, threshold = 0.5)
      val (repA0, deltaA0) = reports("att")
      deltaA0 shouldBe repA0 // the bootstrap delta IS the report
      // the attach stream's delta rows also agree across the driver
      // kernel and both twins (the stream helper checks every batch)
      stream("att", Seq(batchB))
      val (repA, deltaA) = reports("att")
      repA shouldBe repG
      deltaA shouldBe deltaG
      // a re-run bootstrap is a no-op under its markers
      Streams.trainingPrepBootstrap(
        corpusA.toDF("doc_id", "source", "text"), "doc_id", "text",
        "source", evalDocs, s"$root/att/store", shingleN = 2,
        k = 64, bands = 32, threshold = 0.5)
      reports("att")._2 shouldBe deltaG
      // attaching WITHOUT the bootstrap fails loudly: an index
      // built for the corpus but no flags/label backfill
      Dedup.writeNearDupIndex(
        corpusA.toDF("doc_id", "source", "text")
          .select(col("doc_id"), col("text")),
        "doc_id", "text", shingleN = 2, k = 64, bands = 32,
        dir = s"$root/raw/store/index")
      Dedup.writePairStore(empty, "doc_id", "text",
        s"$root/raw/store/pairs", shingleN = 2, k = 64, bands = 32,
        threshold = 0.5)
      val ex = intercept[org.apache.spark.sql.streaming
          .StreamingQueryException] {
        stream("raw", Seq(batchB))
      }
      ex.getMessage should include("predates this store")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("modality manifest ingest: champions, label stores and item " +
    "masses converge; re-delivered batches reproduce the manifest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_mmi_").toString
    try {
      // docs: canon c1 has two docs (2 wins on n_chars), c2 one;
      // media: img items 0,1 near-dup ACROSS batches (fp differ by
      // 1 bit — keeper 0), item 2 unique; owner = id % 3
      // doc 2 carries its own source so batch 1's dethronement of
      // doc 0 (champion AND its keeper item's contribution) lands as
      // an uncancelled NEGATIVE delta at doc 0's (source, split)
      val docs = Seq(
        (0L, "c1", "s", 10L, 5L),
        (1L, "c2", "s", 7L, 3L),
        (2L, "c1", "s2", 20L, 9L))
      val fps = Map(0L -> 0x0FL, 1L -> 0x0EL, 2L -> 0xF0F0F0L)
      val mediaOf = (bs: org.apache.spark.sql.SparkSession,
          b: org.apache.spark.sql.DataFrame) => {
        val ids = b.select(col("doc_id")).collect()
          .map(_.getLong(0)).toSet
        val fp = fps.toSeq.filter(kv => ids.contains(kv._1 % 3))
          .toDF("doc", "fp")
          .withColumn("owner", col("doc") % 3)
        Seq(("image", fp, (c: org.apache.spark.sql.Column) => c))
      }
      def run(sub: String,
          batches: Seq[Seq[(Long, String, String, Long, Long)]],
          pushBytes: Long =
            graft.operators.Dedup.DefaultPointFetchMinStoreBytes)
          : Set[Seq[Any]] = {
        val input = MemoryStream[(Long, String, String, Long, Long)]
        val q = Streams.modalityManifestIngest(
          input.toDF().toDF("doc_id", "canon", "source", "n_chars",
            "toks"),
          "doc_id", "canon", "source", "n_chars", "toks", mediaOf,
          s"$root/$sub", s"$root/ckpt_$sub", radius = 4, width = 64,
          blocks = 8, keyBlocks = 1,
          foldOf10 = h => graft.operators.Relational.foldOf(h % 10),
          pushMinStoreBytes = pushBytes)
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
        Streams.modalityManifestReport(spark, s"$root/$sub",
            "doc_id", "canon", "source", "toks", Seq("image"),
            h => graft.operators.Relational.foldOf(h % 10))
          .collect().map(_.toSeq).toSet
      }
      // batches split so the near-dup pair (0, 1) CROSSES batches —
      // the edge exists only through the grown index
      val streamed = run("inc",
        Seq(Seq(docs(0)), Seq(docs(1), docs(2))))
      // the one-batch run is the batch-computed answer; it runs with
      // the delta leg's pushed store reads FORCED (sentinel 0 = the
      // past-the-gate plan), so oneShot ≡ streamed also pins pushed
      // ≡ semi-join across both delta layouts
      val oneShot = run("all", Seq(docs), pushBytes = 0L)
      streamed shouldBe oneShot
      // the sealed per-batch DELTA partials re-aggregate to the
      // same manifest — signed kept corrections included (batch 1
      // dethrones batch 0's item-0 keeper contribution when the
      // cross-batch edge lands, and flips c1's champion to doc 2)
      def deltaSum(sub: String): Set[Seq[Any]] =
        Streams.modalityManifestFromDeltas(spark, s"$root/$sub",
          "source").collect().map(_.toSeq).toSet
      deltaSum("inc") shouldBe streamed
      deltaSum("all") shouldBe oneShot
      // the incremental run's delta table genuinely carries a
      // NEGATIVE correction (the dethroned contribution), not a
      // recomputed snapshot
      spark.read.parquet(s"$root/inc/deltas/deltas")
        .filter(col("d_kept") < 0 || col("d_kept_mass") < 0)
        .count() should be > 0L
      // keeper arithmetic: img component {0, 1} keeper 0 (label
      // store min), item 2 its own keeper; champion of c1 is doc 2
      val img = streamed.filter(_.head == "image")
      img.map(r => (r(1), r(2), r(3), r(4))) should not be empty
      // re-delivered batch 0 (fresh checkpoint, same batchId):
      // sealed text/media/label segments all skip, manifest unchanged
      val again = {
        val input = MemoryStream[(Long, String, String, Long, Long)]
        val q = Streams.modalityManifestIngest(
          input.toDF().toDF("doc_id", "canon", "source", "n_chars",
            "toks"),
          "doc_id", "canon", "source", "n_chars", "toks", mediaOf,
          s"$root/inc", s"$root/ckpt_retry", radius = 4, width = 64,
          blocks = 8, keyBlocks = 1,
          foldOf10 = h => graft.operators.Relational.foldOf(h % 10))
        try { input.addData(docs(0)); q.processAllAvailable() }
        finally q.stop()
        Streams.modalityManifestReport(spark, s"$root/inc",
            "doc_id", "canon", "source", "toks", Seq("image"),
            h => graft.operators.Relational.foldOf(h % 10))
          .collect().map(_.toSeq).toSet
      }
      again shouldBe streamed
      // the re-delivered batch's delta seal skipped verbatim too
      deltaSum("inc") shouldBe streamed
      // sum-compaction of the modality delta table leaves the
      // curator read invariant (the compact-deltas "deltas" layout)
      Main.run(spark,
          Seq("compact-deltas", s"$root/inc/deltas", "0.0"))
        .foreach(l => info(l))
      deltaSum("inc") shouldBe streamed
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("modality bootstrap: attaching to a pre-existing media " +
    "corpus reads identically to streaming it from genesis") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_mmboot_").toString
    try {
      // the mmi fixture: corpus A = doc 0 (canon c1, item 0); batch
      // B = docs 1, 2 — item 1 is item 0's near-dup ACROSS the
      // attach boundary (the edge exists only through the
      // bootstrapped index) and doc 2 dethrones doc 0's c1 champion
      // (the bootstrap delta must carry the signed correction)
      val docs = Seq(
        (0L, "c1", "s", 10L, 5L),
        (1L, "c2", "s", 7L, 3L),
        (2L, "c1", "s2", 20L, 9L))
      val fps = Map(0L -> 0x0FL, 1L -> 0x0EL, 2L -> 0xF0F0F0L)
      def mediaFor(ids: Set[Long])
          : Seq[(String, org.apache.spark.sql.DataFrame,
            org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = {
        val fp = fps.toSeq.filter(kv => ids.contains(kv._1 % 3))
          .toDF("doc", "fp")
          .withColumn("owner", col("doc") % 3)
        Seq(("image", fp, (c: org.apache.spark.sql.Column) => c))
      }
      val mediaOf = (bs: org.apache.spark.sql.SparkSession,
          b: org.apache.spark.sql.DataFrame) =>
        mediaFor(b.select(col("doc_id")).collect()
          .map(_.getLong(0)).toSet)
      def stream(sub: String,
          batches: Seq[Seq[(Long, String, String, Long, Long)]])
          : Unit = {
        val input = MemoryStream[(Long, String, String, Long, Long)]
        val q = Streams.modalityManifestIngest(
          input.toDF().toDF("doc_id", "canon", "source", "n_chars",
            "toks"),
          "doc_id", "canon", "source", "n_chars", "toks", mediaOf,
          s"$root/$sub", s"$root/ckpt_$sub", radius = 4, width = 64,
          blocks = 8, keyBlocks = 1,
          foldOf10 = h => graft.operators.Relational.foldOf(h % 10))
        try batches.foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
      }
      def reports(sub: String): (Set[Seq[Any]], Set[Seq[Any]]) = (
        Streams.modalityManifestReport(spark, s"$root/$sub",
            "doc_id", "canon", "source", "toks", Seq("image"),
            h => graft.operators.Relational.foldOf(h % 10))
          .collect().map(_.toSeq).toSet,
        Streams.modalityManifestFromDeltas(spark, s"$root/$sub",
          "source").collect().map(_.toSeq).toSet)
      // genesis: both batches streamed from an empty store
      stream("gen", Seq(Seq(docs(0)), Seq(docs(1), docs(2))))
      val (repG, deltaG) = reports("gen")
      deltaG shouldBe repG
      // attach: corpus A bootstrapped at rest, only B streams
      def boot(): Unit = Streams.modalityManifestBootstrap(
        Seq(docs(0)).toDF("doc_id", "canon", "source", "n_chars",
          "toks"),
        "doc_id", "canon", "source", "n_chars", "toks",
        mediaFor(Set(0L)), s"$root/att", radius = 4, width = 64,
        blocks = 8, keyBlocks = 1,
        foldOf10 = h => graft.operators.Relational.foldOf(h % 10))
      boot()
      val (repA0, deltaA0) = reports("att")
      deltaA0 shouldBe repA0 // the bootstrap delta IS the report
      stream("att", Seq(Seq(docs(1), docs(2))))
      val (repA, deltaA) = reports("att")
      repA shouldBe repG
      deltaA shouldBe deltaG
      // a re-run bootstrap is a no-op under its markers
      boot()
      reports("att")._2 shouldBe deltaG
      // attaching WITHOUT the bootstrap fails loudly: a phash index
      // built for the corpus but no items/label backfill
      graft.operators.Dedup.writePhashIndex(
        mediaFor(Set(0L)).head._2.select(col("doc"), col("fp")),
        s"$root/raw/image/index", radius = 4, width = 64,
        blocks = Some(8), keyBlocks = 1)
      val ex = intercept[org.apache.spark.sql.streaming
          .StreamingQueryException] {
        stream("raw", Seq(Seq(docs(1), docs(2))))
      }
      ex.getMessage should include("predates this store")
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }

  test("component fold ingest: label store ≡ forced-bounded CC ≡ " +
    "full CC (regime parity across all three labelers)") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_cfoldb_").toString
    try {
      val a = (1 to 11).map(i => s"a$i").mkString(" ")
      // batch 0: two unrelated components {1} and {8}; batch 1's
      // bridge doc 20 (doc 1's exact text + key u8) merges them —
      // the bounded reach must cross BOTH edge kinds to label it 1
      val b0 = Seq((1L, "u1", "s", a),
        (8L, "u8", "s", (1 to 8).map(i => s"p$i").mkString(" ")))
      val b1 = Seq((20L, "u8", "s", a))
      def run(sub: String, gate: Long, labelStore: Boolean)
          : (Set[Seq[Any]], Set[Seq[Any]]) = {
        val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
        Dedup.writeNearDupIndex(empty, "doc_id", "text", shingleN = 2,
          k = 64, bands = 32, dir = s"$root/$sub/store/index")
        Dedup.writePairStore(empty, "doc_id", "text",
          s"$root/$sub/store/pairs", shingleN = 2, k = 64, bands = 32,
          threshold = 0.5)
        Seq.empty[(Long, String, String)]
          .toDF("doc_id", "ckey", "source")
          .write.parquet(s"$root/$sub/store/docs/docs")
        val input = MemoryStream[(Long, String, String, String)]
        val q = Streams.componentFoldIngest(
          input.toDF().toDF("doc_id", "ckey", "source", "text"),
          "doc_id", "text", "ckey", "source", s"$root/$sub/store",
          s"$root/$sub/out", s"$root/$sub/ckpt", shingleN = 2,
          k = 64, bands = 32, threshold = 0.5,
          boundedCcMinStoreBytes = gate,
          driftDir = Some(s"$root/$sub/drift"),
          useLabelStore = labelStore)
        try Seq(b0, b1).foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
        (spark.read.parquet(s"$root/$sub/out")
          .select("doc_id", "group", "split", "dsplit", "inherited")
          .collect().map(_.toSeq).toSet,
          spark.read.parquet(s"$root/$sub/drift")
            .select("doc_id", "old_split", "new_split", "drifted")
            .collect().map(_.toSeq).toSet)
      }
      val (full, fullDrift) = run("full", Long.MaxValue,
        labelStore = false)
      val (bounded, boundedDrift) = run("bounded", 0L,
        labelStore = false)
      val (stored, storedDrift) = run("stored", Long.MaxValue,
        labelStore = true)
      bounded shouldBe full
      stored shouldBe full
      // the drift monitor emits identical rows through all three
      // regimes (the touched-components restriction makes them
      // agree), and it caught the merge: doc 8's sealed 'val' fold
      // is now straddled by its new component's 'train'
      boundedDrift shouldBe fullDrift
      storedDrift shouldBe fullDrift
      val drifts = fullDrift.map(r =>
        r.head.asInstanceOf[Long] ->
          ((r(1), r(2), r(3)))).toMap
      drifts(8L) shouldBe (("val", "train", true))
      drifts(1L) shouldBe (("train", "train", false))
      // the bridge inherited its partner's component through the
      // bounded reach too (pair hop to 1, key hop to 8)
      bounded.map(r => r.head.asInstanceOf[Long] -> r(1))
        .toMap.apply(20L) shouldBe 1L
    } finally Scratch.deleteRecursively(new java.io.File(root))
  }
}
