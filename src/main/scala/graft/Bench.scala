package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

import graft.operators.CorpusStats

/** Benchmark main: times every SparkEntry query end-to-end on
  * SPARK_GRAFT_SF_DIR and prints two JSON lines, which it also writes
  * to SPARK_GRAFT_BENCH_OUT, its one output file.
  *
  * Each query is materialized with a noop-format write so every
  * output column is computed (a bare count() would let Catalyst prune
  * the aggregates away and time an emptier plan). Each query runs
  * TWICE: one untimed warm pass (recorded as cold_sec), then the
  * timed steady-state run — first-use whole-stage-codegen compilation
  * and JIT warmth measured ±4× on byte-identical code across rounds
  * (r13 q122), so the recorded walls are post-warmth and the cold
  * walls ride alongside for attribution.
  *
  * Around each timed pass it takes direct readings, one map per query,
  * so a slow wall explains itself from the artifact:
  *   - gc_sec, cpu_sec: this JVM's GC time and process CPU time;
  *   - jit_sec: JIT compilation time (a code-cache flush or a
  *     deoptimization storm recompiles warm kernels);
  *   - codegen_n: Janino whole-stage compiles (0 for a warm plan unless
  *     its generated source varies run to run or the cache evicted it);
  *   - jobs_n, tasks_max: Spark jobs started and the widest stage's
  *     task count, the plan's shape (tasks_max ≪ cores is a serial
  *     plan);
  *   - other_cpu_sec: CPU time the rest of the machine spent
  *     (/proc/stat busy ticks minus this process's /proc/self/stat);
  *   - steal_sec: CPU time the hypervisor gave other guests;
  *   - phase_sec: the Phases tags inside multi-phase lifecycles.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = SparkEntry.queryFilter("SPARK_GRAFT_BENCH_ONLY")
    val spark = GraftSession(GraftSession.cpus)
    // one warm-up pass over the inputs so JIT + file-footer caches
    // don't bill the first query for session startup
    Tables.names.foreach(n => Tables(spark, sfDir, n).count())
    // the shared at-rest stores are built OUTSIDE the timed loop: their
    // once-per-corpus-version cost is store_build_sec (−1.0 for a failed
    // build, which its consumers then repeat lazily)
    val storeBuild = SparkEntry.prepareSharedStores(spark, sfDir, only)
    Phases.drain() // the builds' own phase tags live in store_build_sec
    val width = new AtomicInteger(0)
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
        width.getAndUpdate(m => math.max(m, ev.stageInfo.numTasks))
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val readings = mutable.Map.empty[String, mutable.LinkedHashMap[String, Double]]
    val walls = mutable.ListBuffer.empty[(String, Double)]
    val failed = mutable.ListBuffer.empty[String]
    val phases = mutable.LinkedHashMap.empty[String, Seq[(String, Double)]]
    selected.foreach { case (name, fn) =>
      def record(key: String, v: Double): Unit =
        readings.getOrElseUpdate(key, mutable.LinkedHashMap.empty)(name) = v
      // untimed warm pass; a failure is the timed pass's to report
      pass(spark, sfDir, fn).foreach(record("cold_sec", _))
      width.set(0); jobs.set(0)
      Phases.drain() // discard anything recorded outside a timed query
      val m0 = Meter()
      val timed = pass(spark, sfDir, fn)
      m0.until(Meter()).foreach { case (k, v) => record(k, v) }
      timed match {
        case Right(w) => walls += name -> w
        case Left(e) =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      // listener events are async: flush them before reading the counts
      try Bridge.drainListenerBus(spark)
      catch { case NonFatal(_) => () } // a late event beats a dead bench
      record("jobs_n", jobs.get)
      record("tasks_max", width.get)
      val ph = Phases.drain()
      if (ph.nonEmpty) phases(name) = ph
    }
    val (full, summary) = jsonLines(Run(sfDir, walls.toSeq, failed.toSeq,
      selected.size, readings, phases, storeBuild, codeCache()))
    println(full)
    println(summary)
    // the stdout copy drowns in sbt/log4j decoration; the file does not
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try Files.writeString(Paths.get(out), full + "\n" + summary + "\n")
    catch { case NonFatal(e) => System.err.println(s"[bench] write $out: $e") }
    spark.stop()
  }

  /** One pass of `fn`: build the frame, compute every column with a
    * noop write, then free what the query left in the session (its
    * localCheckpoint blocks and LM model broadcasts) in every exit — a
    * failed write may already hold checkpoint blocks from plan build,
    * and leaving them to GC kept earlier queries' state resident when
    * later ones needed the memory. Returns the wall, cleanup included,
    * or the query's failure. NonFatal only: a fatal error (OOM, a
    * codegen LinkageError) propagates, because walls recorded on a
    * wounded JVM mean nothing. */
  private[graft] def pass(spark: SparkSession, sfDir: String,
      fn: Query): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    var df: DataFrame = null
    val done = try {
      df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      Right(())
    } catch { case NonFatal(e) => Left(e) }
    finally {
      if (df != null) Bridge.freeLocalCheckpoint(df)
      CorpusStats.releaseLmBroadcasts()
    }
    done.map(_ => (System.nanoTime() - t0) / 1e9)
  }

  /** The counters one timed pass is read between; −1 where the
    * platform does not expose one. */
  private final case class Meter(gcMs: Long, cpuNs: Long, jitMs: Long,
      compiles: Long, ticks: Option[Ticks]) {
    /** The per-query readings from this meter to `end`. */
    def until(end: Meter): Seq[(String, Double)] = {
      def delta(a: Long, b: Long, unit: Double): Double =
        if (a < 0 || b < 0) -1.0 else (b - a) / unit
      val (other, steal) = contention(ticks, end.ticks)
      Seq("gc_sec" -> delta(gcMs, end.gcMs, 1e3),
        "cpu_sec" -> delta(cpuNs, end.cpuNs, 1e9),
        "jit_sec" -> delta(jitMs, end.jitMs, 1e3),
        "codegen_n" -> delta(compiles, end.compiles, 1.0),
        "other_cpu_sec" -> other, "steal_sec" -> steal)
    }
  }

  private object Meter {
    def apply(): Meter = Meter(
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum,
      ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
        case _ => -1L
      },
      Option(ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported)
        .fold(-1L)(_.getTotalCompilationTime),
      // Spark's JVM-wide Janino counter; the generated-code cache is
      // spark.sql.codegen.cache.maxEntries, set in build.sbt
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      Try(ticks(Files.readString(Paths.get("/proc/stat")),
        Files.readString(Paths.get("/proc/self/stat")))).toOption.flatten)
  }

  /** Machine-wide busy and steal ticks (/proc/stat's aggregate `cpu`
    * line) and this process's own utime + stime (/proc/self/stat). */
  private[graft] final case class Ticks(busy: Long, steal: Long, self: Long)

  /** The two files' text as [[Ticks]]; None for malformed text. */
  private[graft] def ticks(procStat: String, selfStat: String): Option[Ticks] =
    Try {
      // cpu user nice system idle iowait irq softirq steal [guest ...];
      // guest time is already inside user
      val cpu = procStat.linesIterator.find(_.startsWith("cpu ")).get
        .trim.split("\\s+").drop(1).map(_.toLong)
      // fields after the parenthesized command name, which may hold
      // spaces: the 12th and 13th are utime and stime
      val close = selfStat.lastIndexOf(')')
      require(close >= 0)
      val own = selfStat.substring(close + 1).trim.split("\\s+")
      Ticks(cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6), cpu(7),
        own(11).toLong + own(12).toLong)
    }.toOption

  /** (other_cpu_sec, steal_sec) between two [[Ticks]] readings, at
    * USER_HZ = 100 ticks/s: the machine's busy time minus this
    * process's own, and the steal time. −1.0 each (the cpu_sec
    * sentinel) when either reading is missing. */
  private[graft] def contention(a: Option[Ticks],
      b: Option[Ticks]): (Double, Double) =
    a.zip(b).map { case (x, y) =>
      (math.max(0L, y.busy - x.busy - (y.self - x.self)) / 100.0,
        (y.steal - x.steal) / 100.0)
    }.getOrElse((-1.0, -1.0))

  /** JIT code-cache occupancy (MB used, MB max) per pool (the CodeHeap
    * segments, or one CodeCache pool below 240 MB reserved): a filled
    * profiled-nmethods heap flushed warm codegen kernels in r14, a
    * 5-20× intermittent slowdown. */
  private def codeCache(): Seq[(String, Long, Long)] =
    ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getName.toLowerCase.contains("code"))
      .map(p => (p.getName.replace("'", ""), p.getUsage.getUsed >> 20,
        p.getUsage.getMax >> 20))

  /** What one run measured. `readings` maps each [[readingKeys]] key
    * to its query → value map; `walls` holds the timed passes that
    * succeeded, in run order. */
  private[graft] final case class Run(sf: String,
      walls: Seq[(String, Double)], failed: Seq[String], nQueries: Int,
      readings: collection.Map[String, collection.Map[String, Double]],
      phases: collection.Map[String, Seq[(String, Double)]],
      storeBuild: Seq[(String, Double)],
      codeCache: Seq[(String, Long, Long)])

  /** Per-query reading keys in JSON order: each `_sec` one is also
    * summed into `<name>_total`; the others are counts. */
  private[graft] val readingKeys = Seq("gc_sec", "cpu_sec", "jit_sec",
    "other_cpu_sec", "steal_sec", "cold_sec", "jobs_n", "tasks_max",
    "codegen_n")

  /** The full line and the summary line, from one ordered field list.
    * The summary is the full line with every per-query map cut to the
    * ten slowest queries, its wall map named top_wall. Key order is
    * load-bearing: a tail capture keeps the END of the output, so the
    * full line ends in its wall map and then "sf" (a truncated tail
    * keeps `"queries":{…},"sf":"…"}` intact), and the summary printed
    * after it keeps the headline and the totals. A failed query counts
    * in n_queries and `failed`, not in the walls. */
  private[graft] def jsonLines(r: Run): (String, String) = {
    // Locale.ROOT: a comma-decimal default locale would render 0,123
    def num(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def str(s: String) = "\"" + s + "\""
    def obj(kvs: Iterable[(String, String)]) =
      kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    def line(metric: String, walls: Seq[(String, Double)], wallKey: String,
        keep: String => Boolean) = obj(
      Seq("metric" -> str(metric), "value" -> num(r.walls.map(_._2).sum),
        "unit" -> str("sec"), "n_queries" -> r.nQueries.toString,
        "failed" -> r.failed.map(str).mkString("[", ",", "]")) ++
      readingKeys.map { k =>
        k -> obj(r.readings.getOrElse(k, Map.empty[String, Double])
          .filter(kv => keep(kv._1)).map { case (q, v) =>
            q -> (if (k.endsWith("_sec")) num(v) else v.toLong.toString) })
      } ++
      Seq("phase_sec" -> obj(r.phases.filter(kv => keep(kv._1))
        .map { case (q, ph) => q -> obj(ph.map { case (p, v) => p -> num(v) }) })) ++
      readingKeys.filter(_.endsWith("_sec")).map { k =>
        val vs = r.readings.getOrElse(k, Map.empty[String, Double]).values
        // a −1.0 sentinel propagates instead of summing into nonsense
        k.stripSuffix("_sec") + "_total" -> num(if (vs.exists(_ < 0)) -1.0 else vs.sum)
      } ++
      Seq("store_build_sec" -> obj(r.storeBuild.map { case (k, v) => k -> num(v) }),
        "code_cache" -> obj(r.codeCache.map { case (p, used, max) =>
          p -> obj(Seq("used_mb" -> used.toString, "max_mb" -> max.toString)) }),
        wallKey -> obj(walls.map { case (q, w) => q -> num(w) }),
        "sf" -> str(r.sf)))
    val top = r.walls.sortBy(-_._2).take(10)
    (line("total", r.walls, "queries", _ => true),
      line("total_summary", top, "top_wall", top.map(_._1).toSet))
  }
}
