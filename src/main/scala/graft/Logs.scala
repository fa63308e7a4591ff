package graft

/** Logging hygiene shared by the runnable mains. */
object Logs {

  /** Silence the one benign WARN the mains trigger on purpose: Bench
    * and Verify unpersist each query's eager local checkpoint after
    * its result is consumed (the session-hygiene drain); Spark warns
    * that the truncated lineage cannot be recomputed — which is
    * exactly the contract (the frame is never touched again), so the
    * WARN is noise here. Everything else stays at the session
    * default. */
  def quietBenignWarns(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
}
