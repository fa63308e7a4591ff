package graft

/** Dev tool: dump explain("formatted") for every registered query to
  * files under the given dir (default /tmp/graft_plans), for plan
  * auditing — pushed filters, broadcast choices, codegen coverage. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = args.headOption.getOrElse("/tmp/graft_plans")
    val spark = GraftSession(8)
    new java.io.File(outDir).mkdirs()
    // "explaining" a streaming query would run minutes of streaming
    // and dump only a memory-relation scan; skip them and say so
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        if (SparkEntry.streamingQueries(name)) {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"$name.txt"),
            "(streaming query: executes on construction; batch explain " +
              "would only show the memory-sink scan — see the streaming " +
              "micro-batch logs for the incremental plan)\n")
        } else {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"$name.txt"), plan)
        }
      } catch {
        case e: Throwable => System.err.println(s"[explain] $name: $e")
      }
    }
    spark.stop()
  }
}
