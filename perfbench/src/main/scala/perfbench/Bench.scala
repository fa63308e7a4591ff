package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Pipeline benchmark entry point (see perfbench/README.md).
  *
  * {{{
  * perfbench.Bench --workload <replay_cycle|prep_stream>
  *   --seed <n> --seconds <s> --trace <0|1> --cores <n>
  *   --tmp <dir> --out <result.json> [--spans <spans.tsv>]
  *   [--expected <expected_hashes.tsv>]
  * perfbench.Bench --digests <dir>
  * }}}
  *
  * One process runs one workload: it sets the workload up `Setups`
  * times (a fresh SparkSession each time; `setup_s` is the median of
  * all but the first, which also pays the JVM's class loading and JIT),
  * measures for `--seconds`, checks every operation's output, and
  * writes one JSON result object to `--out`. With `--trace 1` the
  * listeners and the JFR stream are attached, the warm operations that
  * can repeat alternate traced and untraced (the rest are traced), and
  * the per-layer readings replace the end-to-end ones. */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, tmp: File, out: File,
      spans: Option[File], expected: String)

  /** Metrics of one run, checked-operation counts, and the by-name
    * readings that explain them. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    /** The workload's own named readings, printed beside the metrics. */
    val details = mutable.LinkedHashMap.empty[String, (Double, String)]

    def put(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)

    def detail(name: String, value: Double, unit: String): Unit =
      details(name) = (value, unit)

    /** Count one checked operation; `problem` is None when it passed. */
    def check(what: String, problem: Option[String]): Unit = {
      attempted += 1
      problem.foreach { p => failed += 1; failures += s"$what: $p" }
    }

    def json(workload: String, seed: Long, cores: Int): String = {
      def num(d: Double): String =
        if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
      def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
        m.map { case (k, (v, u)) =>
          s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      val fs = failures.take(20).map(f =>
        "\"" + f.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ") + "\"")
      s"""{"workload": "$workload", "seed": $seed, "cores": $cores, """ +
        s""""correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
        s""""failed": $failed, "failures": [${fs.mkString(", ")}], """ +
        s""""metrics": {${obj(metrics)}}, "detail": {${obj(details)}}}"""
    }
  }

  /** A workload: `setup` is repeated for `setup_s`; `measure` runs the
    * closed loop on the last set-up state. */
  trait Workload {
    type State
    def setup(spark: SparkSession, a: Args): State
    def measure(spark: SparkSession, a: Args, st: State, r: Result): Unit
  }

  val workloads: Map[String, Workload] = Map(
    "replay_cycle" -> ReplayCycle,
    "prep_stream" -> PrepStream)

  /** Session settings copied from graft.Bench (the engine has no
    * shared session factory yet), plus per-run scratch locations so
    * nothing lands outside the run's own directory. */
  def session(cores: Int, tmp: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.limit.initialNumPartitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(tmp, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Logs.quietBenignWarns()
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-ups per run: one cold, then the warm ones `setup_s` is the
    * median of. */
  val Setups = 4

  /** Whether the `i`-th warm operation of a kind is traced: traced,
    * untraced, untraced, traced, and again, so that a steady warm-up
    * trend over the operations favours neither side. */
  def tracedInTurn(i: Int): Boolean = i % 4 == 0 || i % 4 == 3

  /** Tracing overhead in percent: the median traced operation against
    * the median untraced one of the same kind, in the same process. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    (median(traced) / median(untraced) - 1) * 100

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall seconds of `body`, recorded as a span when tracing. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = Trace.span(name)(body)
    (v, secondsSince(t0))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def deleteRecursively(f: File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** Peak resident set of this process, in MB (VmHWM). */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  private def jitSeconds: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime / 1e3

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, sys.error(s"missing argument $k"))
    Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      need("--cores").toInt, new File(need("--tmp")),
      new File(need("--out")), m.get("--spans").map(new File(_)),
      m.getOrElse("--expected", ""))
  }

  def main(argv: Array[String]): Unit = {
    if (argv.length == 2 && argv(0) == "--digests") {
      // write prep_stream's corpus to <dir> and print the digest its
      // check expects: the batch q153 manifest over those documents
      val tmp = new File(argv(1), "_spark")
      val s = session(2, tmp)
      try {
        new File(argv(1)).mkdirs()
        Fixtures.writeSingle(Fixtures.documentsDF(s).filter(
          org.apache.spark.sql.functions.col("doc_id") < PrepStream.Docs),
          new File(argv(1), "documents.parquet"))
        val q = "q153_training_manifest"
        val df = graft.SparkEntry.queries(q)(s, argv(1))
        println(s"$q\t${Digest.of(df.columns.toSeq, df.collect())}")
      } finally stopSession(s)
      deleteRecursively(tmp)
      return
    }
    val a = parse(argv)
    val w = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; one of " +
        workloads.keys.toSeq.sorted.mkString(", ")))
    val r = new Result
    // set-ups, each on a fresh session; the last one is measured
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var st: w.State = null.asInstanceOf[w.State]
    (1 to Setups).foreach { _ =>
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = session(a.cores, a.tmp)
      st = w.setup(spark, a)
      setups += secondsSince(t0)
    }
    if (a.trace) Trace.enable(spark)
    val gc0 = gcSeconds
    val jit0 = jitSeconds
    try w.measure(spark, a, st, r)
    catch {
      case scala.util.control.NonFatal(e) =>
        r.check("workload", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        e.printStackTrace()
    }
    if (a.trace) {
      r.put("jvm.gc_s", gcSeconds - gc0, "s")
      r.put("jvm.jit_s", jitSeconds - jit0, "s")
      Trace.close()
      r.put("jvm.deopts", Trace.deoptCount.toDouble, "count")
      val self = Trace.selfTimes
      Seq("gen", "sources", "catalog", "replay", "streaming", "operators",
        "unattributed").foreach(l =>
        r.put(s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
      r.put("trace.wall_s", Trace.tracedWall, "s")
      r.put("trace.spans", Trace.spanCount.toDouble, "count")
      a.spans.foreach(Trace.writeSpans)
    } else {
      r.put("setup_s", median(setups.toSeq.drop(1)), "s")
      r.detail("setup.cold_s", setups.head, "s")
      // G1 sizes the heap adaptively, so the peak resident set spreads
      // too widely between runs to gate on; it is printed as a reading
      r.detail("peak_rss_mb", peakRssMb, "MB")
    }
    stopSession(spark)
    java.nio.file.Files.writeString(a.out.toPath,
      r.json(a.workload, a.seed, a.cores) + "\n")
  }
}
