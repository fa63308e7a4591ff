package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional comma-separated filter for iterating on single queries
    // (same contract as Bench's SPARK_GRAFT_BENCH_ONLY; the driver
    // sets nothing and always dumps the full surface); parsed first,
    // so a typo fails before the output dir is wiped
    val only = SparkEntry.queryFilter("SPARK_GRAFT_VERIFY_ONLY")
    val spark = GraftSession(GraftSession.cpus)
    // start from an EMPTY outDir: a failed query must leave no output
    // at all, not a previous run's stale parquet that the driver's
    // compare would silently read as a pass (and renamed/removed
    // queries must not leave ghosts either)
    Scratch.deleteRecursively(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      // repartition(1), not coalesce(1): coalesce would collapse every
      // narrow stage upstream onto one task; repartition keeps the
      // computation parallel and only the write single-file
      // release any localCheckpoint blocks the query materialized —
      // same session-hygiene drain as Bench, in ALL exits (a failed
      // write may already hold checkpoint blocks from plan build)
      var df: org.apache.spark.sql.DataFrame = null
      try {
        df = fn(spark, sfDir)
        df.repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        if (df != null)
          org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(df)
        // result written (or abandoned): LM model broadcasts the
        // query shipped are safe to destroy (the Bench convention)
        graft.operators.CorpusStats.releaseLmBroadcasts()
        ()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
