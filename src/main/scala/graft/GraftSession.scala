package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's SparkSession settings live. Every main
  * (Bench, Verify, Main, ProbeStores, ProbeRecall, Explain) and
  * the shared test session build through [[apply]], so a plan pin or
  * a bench number is a statement about one configuration. A
  * `spark-submit` deployment should carry the same settings. */
object GraftSession {

  /** Session width: `SPARK_GRAFT_CPUS`, else the host's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int): SparkSession = apply(cpus, s"local[$cpus]")

  def apply(cpus: Int, master: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // Bounded planning collects (`limit(cap+1).collect()` — the
      // LabelStore/markPrune convention) plan as CollectLimit, whose
      // executeTake ramp runs 1 → 4 → 16 → … partitions in SEQUENTIAL
      // waves; a bound that exists only as a guard is never reached,
      // so every bounded collect pays ~log4(partitions) serialized
      // waves of its result stage (r20 probe: ls_collect:image 6.6 s
      // of a 33 s store build — the single largest phase). First
      // wave = session width turns each such collect into ONE
      // fully-parallel job; a limit small enough to be satisfied by
      // one partition still stops after its first (now wider) wave.
      .config("spark.sql.limit.initialNumPartitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalesces shuffle reads by BYTES; several of this
      // engine's stages are row-expensive at tiny byte volume
      // (64-float cosine re-ranks, window argmax over strings), and
      // the 1 MiB default floor collapses them to 1-4 tasks on the
      // few-MB fixtures (q06 window 1 task / 4.9 cpu-s; q95 re-rank
      // 4 tasks). A 64 KiB floor restores width for CPU-heavy small
      // stages and is a no-op at production byte volumes, where
      // advisoryPartitionSizeInBytes governs long before this floor.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // MinHashAgg is a TypedImperativeAggregate, so its groupBy plans
      // ObjectHashAggregate — which silently falls back to SORT-based
      // aggregation after 128 distinct keys per partition (default
      // fallbackThreshold), i.e. effectively always on the exploded
      // (doc, h0) signature frame, adding a per-partition sort on doc
      // the hash form doesn't need. 1M keys ≈ 0.6-1 GB of 64-lane
      // buffers per partition — comfortable here; at production
      // executor sizes, scale the threshold with (heap / ~1 KB per
      // key) or accept the sort fallback as the spill path.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietBenignWarns()
    spark
  }

  /** Run `body` with each `key -> value` set on `s`; on every exit
    * path restore each key's previous value, or unset a key that had
    * none, so the override never leaks into later plans. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
