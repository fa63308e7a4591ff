package perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.codec
import graft.gen.Generator
import graft.replay.Replay
import graft.sources.connector.BrokerRegistry

/** `replay_cycle`: the paper's own surface as a closed loop with one
  * client. Each cycle publishes a fresh seeded `emailSend` load into
  * the broker, captures it into a snapshot, restores the catalog from
  * the snapshot and replays it in per-topic order; the next cycle
  * starts when the replay has finished. */
object ReplayCycle extends Bench.Workload {

  /** Messages per cycle. */
  val Messages = 20000
  /** Topics per cycle, spread over several tenants and namespaces. */
  val Topics = 64
  /** The reference's per-topic capture cap, which the compat writer's
    * collect_list assumes. */
  val TopicCap = 10000
  /** Warm cycles run after the cold one and before measuring: the JIT
    * is still compiling the cycle's paths through the first (on a
    * 4-core host the first warm cycle took 7.4-10 s, the second
    * 6.0-7.6 s, later ones 5.0-7 s). */
  val WarmUp = 1
  /** Cycles every run measures at least after the warm-up (in the
    * traced run: traced, untraced, untraced, traced). */
  val MinMeasured = 4

  final case class Plan(topics: IndexedSeq[String], topicOf: Array[Int],
      binary: Array[Boolean], idBase: Long)
  final case class Prepared(plan: Plan, dir: File)

  /** The seeded topic layout: `Topics` names over 3-5 tenants and 2-3
    * namespaces each, about a quarter of them `-partition-N` shards,
    * some with '_' in the name; message counts Zipf(1.1)-skewed and
    * capped; ~20-30% of payloads made non-UTF-8. */
  def plan(seed: Long): Plan = {
    val rnd = new scala.util.Random(seed)
    val tenants = (0 until 3 + rnd.nextInt(3)).map(i => s"tenant$i")
    val names = mutable.LinkedHashSet.empty[String]
    var i = 0
    while (names.size < Topics) {
      val t = tenants(rnd.nextInt(tenants.size))
      val ns = s"ns${rnd.nextInt(3)}"
      val base = if (rnd.nextInt(5) == 0) s"orders_v$i" else s"events$i"
      if (rnd.nextInt(4) == 0) {
        val shards = 2 + rnd.nextInt(3)
        (0 until shards).foreach(p =>
          if (names.size < Topics)
            names += s"persistent://$t/$ns/$base-partition-$p")
      } else names += s"persistent://$t/$ns/$base"
      i += 1
    }
    val topics = names.toIndexedSeq
    // Zipf weights over a seeded topic order
    val order = rnd.shuffle(topics.indices.toList).toArray
    val w = order.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    val counts = new Array[Int](topics.size)
    val topicOf = Array.fill(Messages) {
      var k = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
      if (k < 0) k = -k - 1
      var t = order(math.min(k, order.length - 1))
      while (counts(t) >= TopicCap) t = (t + 1) % topics.size
      counts(t) += 1
      t
    }
    val binaryShare = 0.2 + 0.1 * rnd.nextDouble()
    val binary = Array.fill(Messages)(rnd.nextDouble() < binaryShare)
    Plan(topics, topicOf, binary, idBase = (seed & 0xffffL) << 32)
  }

  override type State = Prepared

  override def setup(spark: SparkSession, a: Bench.Args): State = {
    val dir = new File(a.tmp, "replay")
    Bench.deleteRecursively(dir)
    dir.mkdirs()
    // warm the generator and the broker read once, as a user's
    // long-running process would have
    spark.range(8).select(Generator.emailSendJson(col("id"),
      timestamp_seconds(col("id")))).collect()
    Prepared(plan(a.seed), dir)
  }

  /** Payload bytes of cycle `c`: the generator's wire JSON, with a
    * non-UTF-8 byte spliced in for the binary share. */
  private def emit(spark: SparkSession, p: Plan, c: Int): Array[Array[Byte]] = {
    val base = p.idBase + c.toLong * Messages
    val json = spark.range(Messages)
      .select(Generator.emailSendJson(col("id") + lit(base),
        timestamp_seconds(lit(1704067200L) + col("id"))))
      .collect().map(_.getString(0).getBytes(StandardCharsets.UTF_8))
    json.indices.foreach { i =>
      if (p.binary(i)) json(i)(json(i).length / 2) = 0xff.toByte
    }
    json
  }

  private def envelope(spark: SparkSession) = {
    val raw = spark.read.format("graft.sources.connector.BrokerSource").load()
    raw.select(col("topic"), col("seq"),
        codec.encodeContent(col("payload")).as("c"))
      .select(col("topic"), col("seq"), col("c.content").as("content"),
        col("c.binary_encoded").as("binary_encoded"),
        map(lit("seq"), col("seq").cast("string")).as("properties"),
        timestamp_millis(lit(1704067200000L) + col("seq")).as("publish_ts"),
        when(col("seq") % 3 === 0, lit(null).cast("timestamp"))
          .otherwise(timestamp_millis(lit(1704067100000L) + col("seq")))
          .as("event_ts"),
        when(col("seq") % 2 === 0, concat(lit("k"), (col("seq") % 7).cast("string")))
          .as("partition_key"))
  }

  /** The DDL `restore` must print for the published topic set. */
  private def expectedDdl(topics: Seq[String]): Seq[String] = {
    val re = "persistent://([^/]+)/([^/]+)/.+".r
    val parts = topics.collect { case t @ re(tn, ns) => (tn, s"$tn/$ns", t) }
    parts.map(_._1).distinct.sorted.map("CREATE tenant " + _) ++
      parts.map(_._2).distinct.sorted.map("CREATE namespace " + _) ++
      topics.filterNot(_.matches(".*-partition-\\d+$")).sorted.map("CREATE topic " + _)
  }

  /** Per-topic order and bytes of the replay output against what was
    * published. */
  private def checkReplay(out: File, published: Map[String, Seq[Array[Byte]]]): Option[String] = {
    val dec = java.util.Base64.getDecoder
    val files = Option(out.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".txt"))
    if (files.length != published.size)
      return Some(s"${files.length} replayed topics, ${published.size} published")
    published.iterator.map { case (topic, msgs) =>
      val f = new File(out, codec.sanitizeTopicStr(topic) + ".txt")
      if (!f.isFile) Some(s"no replay output for $topic")
      else {
        val got = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        if (got.length != msgs.size) Some(s"$topic: ${got.length} of ${msgs.size} messages")
        else got.indices.find(i => !java.util.Arrays.equals(dec.decode(got(i)), msgs(i)))
          .map(i => s"$topic: message $i differs or is out of order")
      }
    }.collectFirst { case Some(p) => p }
  }

  override def measure(spark: SparkSession, a: Bench.Args, st: State,
      r: Bench.Result): Unit = {
    val p = st.plan
    final case class Cycle(steps: Seq[Double], wall: Double, traced: Boolean)
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    var snapshotBytes = 0L
    // the cold cycle and a fixed warm-up run first, then cycles are
    // measured for --seconds, and at least a fixed number of them, so
    // every run's median is taken past the same warm-up
    val unmeasured = 1 + WarmUp
    val minCycles = unmeasured + MinMeasured
    var t0 = System.nanoTime()
    while (cycles.size < minCycles || Bench.secondsSince(t0) < a.seconds) {
      val c = cycles.size
      if (c == unmeasured) t0 = System.nanoTime()
      // the cold cycle and the warm-up run untraced; measured ones alternate
      val traced = a.trace && c >= unmeasured && Bench.tracedInTurn(c - unmeasured)
      val snap = new File(st.dir, s"snap$c")
      val out = new File(st.dir, s"out$c")
      Trace.newOp()
      val ((payloads, ddl, steps), wall) = Trace.tracing(traced)(Bench.timed("op") {
        BrokerRegistry.clear()
        val (payloads, e) = Bench.timed("gen.emit")(emit(spark, p, c))
        val (_, pub) = Bench.timed("sources.broker_publish") {
          payloads.indices.foreach(i =>
            BrokerRegistry.publish(p.topics(p.topicOf(i)), payloads(i)))
        }
        val (_, cap) = Bench.timed("replay.capture")(
          Replay.capture(envelope(spark), snap.getPath))
        val (ddl, res) = Bench.timed("catalog.restore")(
          graft.Main.run(spark, Seq("restore", snap.getPath)))
        val (_, rep) = Bench.timed("replay.ordered_replay")(
          graft.Main.run(spark, Seq("replay", snap.getPath, out.getPath)))
        (payloads, ddl, Seq(e, pub, cap, res, rep))
      })
      cycles += Cycle(steps, wall, traced)
      // checks, outside the timed cycle
      val published = payloads.indices.groupBy(i => p.topics(p.topicOf(i)))
        .map { case (t, is) => t -> is.sorted.map(payloads) }
      r.check(s"cycle $c restore",
        if (ddl == expectedDdl(published.keys.toSeq)) None
        else Some(s"restore DDL differs (${ddl.size} lines)"))
      r.check(s"cycle $c replay", checkReplay(out, published))
      snapshotBytes = Bench.dirBytes(snap)
      Bench.deleteRecursively(snap)
      Bench.deleteRecursively(out)
    }
    BrokerRegistry.clear()
    val n = Messages.toDouble
    // the untraced warm cycles give the workload's readings; in the
    // traced run the traced ones give the per-layer readings
    val warm = cycles.drop(unmeasured).filterNot(_.traced).toSeq
    val tracedWarm = cycles.filter(_.traced).toSeq
    def step(cs: Seq[Cycle], is: Int*): Double =
      Bench.median(cs.map(c => is.map(c.steps).sum))
    val named = Seq(
      ("replay.publish_msgs_per_s", n / step(warm, 0, 1), "1/s"),
      ("replay.capture_msgs_per_s", n / step(warm, 2), "1/s"),
      ("replay.replay_msgs_per_s", n / step(warm, 3, 4), "1/s"),
      ("replay.first_cycle_s", cycles.head.wall, "s"))
    named.foreach { case (k, v, u) => r.detail(k, v, u) }
    if (a.trace) {
      named.foreach { case (k, v, u) => r.put(k, v, u) }
      r.put("trace.overhead_pct", Bench.overheadPct(tracedWarm.map(_.wall),
        warm.map(_.wall)), "%")
      Seq("gen.emit_s", "sources.broker_publish_s", "replay.capture_s",
        "catalog.restore_s", "replay.ordered_replay_s").zipWithIndex.foreach {
        case (k, i) => r.put(k, step(tracedWarm, i), "s")
      }
      r.put("sources.snapshot_mb", snapshotBytes / 1e6, "MB")
      val k = tracedWarm.size.toDouble
      for ((span, key) <- Seq("replay.capture" -> "replay.capture",
          "replay.ordered_replay" -> "replay.replay")) {
        val c = Trace.countersOf(span)
        r.put(s"$key.tasks", c.tasks / k, "count")
        r.put(s"$key.task_cpu_s", c.taskCpuNs / 1e9 / k, "s")
        r.put(s"$key.shuffle_mb", c.shuffleWriteBytes / 1e6 / k, "MB")
        r.put(s"$key.task_skew", c.skew, "ratio")
        r.put(s"$key.plan_s", c.planMs / 1e3 / k, "s")
      }
    } else {
      val p50 = Bench.median(warm.map(_.wall))
      r.put("throughput_per_s", n / p50, "1/s")
      r.put("op_p50_s", p50, "s")
    }
    r.detail("replay.cycles", cycles.size.toDouble, "count")
  }
}
