package graft

/** Dev measurement tool (r19 optimization round): rebuild the shared
  * streamed stores from scratch and print their internal phase walls
  * — the store_build_sec numbers (mmstream_store 53 s, prep_store
  * 22 s in the r19 baseline window) are the two biggest single items
  * in the bench artifact, and Bench discards their phase tags
  * (Phases.drain() before the timed loop), so this is the tool that
  * attributes them.
  *
  * Usage: SPARK_GRAFT_SF_DIR=...
  *   sbt "runMain graft.ProbeStores [storeFilter ...]"
  * Deletes the named stores' versioned dirs first so the build is
  * always fresh (default: mmstream_store prep_store).
  */
object ProbeStores {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stores = if (args.nonEmpty) args.toSet
      else Set("mmstream_store", "prep_store")
    // fail loudly on unknown store names (r19 ADVICE): flatMap over
    // the selector silently built NOTHING for a typo'd name
    val known = Set("mmstream_store", "prep_store")
    val unknown = stores.diff(known)
    require(unknown.isEmpty,
      s"unknown store name(s) ${unknown.mkString(", ")} — " +
        s"known: ${known.mkString(", ")}")
    val spark = GraftSession(GraftSession.cpus)
    Tables.names.foreach(n => Tables(spark, sfDir, n).count())
    val tmp = sys.props("java.io.tmpdir")
    val dirOf = Map(
      "mmstream_store" -> "graft_mmstream_store",
      "prep_store" -> "graft_prepstream_store")
    stores.foreach(st => dirOf.get(st).foreach(d =>
      Scratch.deleteRecursively(new java.io.File(tmp, d))))
    val sel = Map(
      "mmstream_store" -> "q214_modality_manifest_deltas",
      "prep_store" -> "q215_training_manifest_deltas")
    val only = Some(stores.flatMap(sel.get))
    Phases.drain()
    val built = SparkEntry.prepareSharedStores(spark, sfDir, only)
    val phases = Phases.drain()
    built.foreach { case (n, s) =>
      println(f"PROBE_STORE $n%-16s ${s}%8.2f s")
    }
    phases.foreach { case (n, s) =>
      println(f"PROBE_PHASE $n%-32s ${s}%8.2f s")
    }
    spark.stop()
  }
}
