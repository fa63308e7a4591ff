package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.Streams

/** `prep_stream`: the training-prep manifest as a stream, one client in
  * a closed loop. The crawl documents (everything outside the eval
  * fold `doc_id % 17 = 3`) are staged as `Batches` parquet files; the
  * loop drops one file into the directory `Streams.trainingPrepIngest`
  * watches and waits until that batch has committed before dropping
  * the next. The stores grow batch by batch from empty. Then
  * `Streams.trainingPrepReport` reads the manifest, which must equal
  * the batch q153 manifest over the same documents (its digest is
  * checked in). Batches are doc-id residue classes, fed in an order
  * the seed picks; near-duplicate pairs and exact twins straddle them. */
object PrepStream extends Bench.Workload {

  val Batches = 3
  /** The stream's corpus: the first `Docs` fixture documents. */
  val Docs = 600
  /** The stores' parameters, as the engine's q213 stream uses them. */
  private val ShingleN = 2
  private val K = 64
  private val Bands = 32
  private val Threshold = 0.5
  private val BudgetTokens = 20000L
  /** Warm reports of each kind, traced and untraced, in the traced run. */
  private val WarmReports = 2

  final case class Prepared(dir: File, store: String, staged: Seq[File],
      batchDocs: Seq[Long], evalDocs: DataFrame, expected: Map[String, String])

  private val schema = new StructType().add("doc_id", LongType)
    .add("source", StringType).add("text", StringType)

  private def isEval(id: Long): Boolean = id % 17 == 3

  /** Batch of a document: its id residue mod `Batches`, the residues
    * fed in the seed's order (one of the `Batches`! orders). */
  def batchOf(id: Long, seed: Long): Int = {
    val orders = (0 until Batches).permutations.toIndexedSeq
    orders(java.lang.Math.floorMod(seed, orders.size.toLong).toInt)
      .indexOf(java.lang.Math.floorMod(id, Batches.toLong).toInt)
  }

  override type State = Prepared

  /** Stage the batch files, keep the eval fold, and bootstrap empty
    * signature index and pair stores. */
  override def setup(spark: SparkSession, a: Bench.Args): State = {
    val dir = new File(a.tmp, "prep")
    Bench.deleteRecursively(dir)
    val stage = new File(dir, "stage")
    stage.mkdirs()
    val docs = Fixtures.documents.take(Docs)
    val staged = (0 until Batches).map { b =>
      val rows = docs.filter(d => !isEval(d._1) && batchOf(d._1, a.seed) == b)
        .map { case (id, t, _, src) => Row(id, src, t) }
      val f = new File(stage, s"b$b.parquet")
      Fixtures.writeSingle(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema), f)
      f -> rows.size.toLong
    }
    val evalDocs = Fixtures.documentsDF(spark)
      .filter(col("doc_id") < Docs && col("doc_id") % 17 === 3)
      .select(col("doc_id"), col("text")).localCheckpoint(eager = true)
    val store = new File(dir, "store").getPath
    val empty = evalDocs.limit(0)
    graft.operators.Dedup.writeNearDupIndex(empty, "doc_id", "text",
      ShingleN, K, Bands, dir = store + "/index")
    graft.operators.Dedup.writePairStore(empty, "doc_id", "text",
      store + "/pairs", ShingleN, K, Bands, Threshold)
    Prepared(dir, store, staged.map(_._1), staged.map(_._2), evalDocs,
      Digest.readExpected(new File(a.expected)))
  }

  /** The rows where the streamed manifest and a live q153 over the same
    * documents disagree, for the failure message. */
  private def diffFromOracle(spark: SparkSession, st: State, rows: Seq[Row],
      cols: Seq[String]): String = {
    val dir = new File(st.dir, "oracle")
    dir.mkdirs()
    Fixtures.writeSingle(Fixtures.documentsDF(spark).filter(col("doc_id") < Docs),
      new File(dir, "documents.parquet"))
    val want = graft.SparkEntry.queries("q153_training_manifest")(spark, dir.getPath)
      .select(cols.map(col): _*).collect().map(_.mkString("|")).toSet
    val got = rows.map(_.mkString("|")).toSet
    s"stream only: ${(got -- want).toSeq.sorted.mkString("; ")}; " +
      s"q153 only: ${(want -- got).toSeq.sorted.mkString("; ")}"
  }

  override def measure(spark: SparkSession, a: Bench.Args, st: State,
      r: Bench.Result): Unit = {
    val in = new File(st.dir, "in")
    in.mkdirs()
    // per batch: wall, program phase readings
    val batches = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double)])]
    graft.Phases.drain()
    val (q, startS) = Bench.timed("streaming.start") {
      Streams.trainingPrepIngest(
        spark.readStream.schema(schema).parquet(in.getPath),
        "doc_id", "text", "source", st.evalDocs, st.store,
        new File(st.dir, "ckpt").getPath, ShingleN, K, Bands, Threshold)
    }
    try while (batches.size < Batches) {
      val b = batches.size
      val f = st.staged(b)
      val traced = a.trace && b > 0
      Trace.newOp()
      val (_, wall) = Trace.tracing(traced)(Bench.timed("op") {
        Bench.timed("streaming.batch") {
          java.nio.file.Files.createLink(new File(in, f.getName).toPath, f.toPath)
          q.processAllAvailable()
        }
      })
      val ph = graft.Phases.drain()
      ph.find(_._1.startsWith("prep_ingest[")).foreach { case (_, s) =>
        Trace.tracing(traced)(
          Trace.virtualChild("streaming.batch", "operators.prep_ingest", s))
      }
      batches += ((wall, ph))
    } finally q.stop()
    val n = batches.size
    // the report reads the stores and writes nothing, so it can repeat:
    // the traced run follows the first report with warm ones that
    // alternate traced and untraced, for the tracing overhead
    val reports = (0 until (if (a.trace) 1 + 2 * WarmReports else 1)).map { i =>
      val traced = i > 0 && Bench.tracedInTurn(i - 1)
      Trace.newOp()
      val (rows, wall) = Trace.tracing(traced)(Bench.timed("op") {
        Bench.timed("streaming.report") {
          Streams.trainingPrepReport(spark, st.store, "doc_id", "source",
            BudgetTokens).collect().toSeq
        }._1
      })
      val cols = rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
      r.check(s"manifest after $n batches (report $i)", Digest.problem(st.expected,
        "q153_training_manifest", Digest.of(cols, rows.toArray))
        .map(p => s"$p; ${diffFromOracle(spark, st, rows, cols)}"))
      (wall, traced)
    }
    val reportS = reports.head._1
    val storeBytes = Bench.dirBytes(new File(st.store))

    val warm = batches.indices.drop(1)
    val docsPerS = warm.map(st.batchDocs).sum / warm.map(batches(_)._1).sum
    val batchP50 = Bench.median(warm.map(batches(_)._1))
    val named = Seq(("prep.docs_per_s", docsPerS, "1/s"),
      ("prep.batch_p50_s", batchP50, "s"), ("prep.report_s", reportS, "s"))
    named.foreach { case (k, v, u) => r.detail(k, v, u) }
    r.detail("prep.first_batch_s", startS + batches.head._1, "s")
    r.detail("prep.batches", n.toDouble, "count")
    if (a.trace) {
      named.foreach { case (k, v, u) => r.put(k, v, u) }
      val (tr, untr) = reports.drop(1).partition(_._2)
      r.put("trace.overhead_pct", Bench.overheadPct(tr.map(_._1), untr.map(_._1)), "%")
      def phaseP50(prefix: String): Double = Bench.median(warm.map(i =>
        batches(i)._2.filter(_._1.startsWith(prefix + "[")).map(_._2).sum))
      Seq("pairs", "label", "flags", "deltas").foreach(p =>
        r.put(s"operators.prep_${p}_s", phaseP50(s"prep_$p"), "s"))
      val prog = Trace.progress.synchronized(Trace.progress.toSeq)
      r.put("streaming.add_batch_s", Bench.median(prog.map(_._1 / 1e3)), "s")
      r.put("streaming.overhead_s",
        Bench.median(prog.map(p => (p._2 - p._1) / 1e3)), "s")
      val nb = math.max(1, warm.size).toDouble
      val c = Trace.countersOf("streaming.batch")
      r.put("streaming.jobs_per_batch", c.jobs / nb, "count")
      r.put("streaming.tasks_per_batch", c.tasks / nb, "count")
      r.put("streaming.shuffle_mb", c.shuffleWriteBytes / 1e6 / nb, "MB")
      r.put("streaming.plan_s", c.planMs / 1e3 / nb, "s")
      r.put("sources.store_mb", storeBytes / 1e6, "MB")
      val rc = Trace.countersOf("streaming.report")
      val nr = tr.size.toDouble
      r.put("prep.report.jobs", rc.jobs / nr, "count")
      r.put("prep.report.tasks", rc.tasks / nr, "count")
      r.put("prep.report.task_cpu_s", rc.taskCpuNs / 1e9 / nr, "s")
      r.put("prep.report.plan_s", rc.planMs / 1e3 / nr, "s")
    } else {
      r.put("throughput_per_s", docsPerS, "1/s")
      r.put("op_p50_s", batchP50, "s")
    }
  }
}
