package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.catalog.CatalogOps
import graft.functions.codec
import graft.model.Schemas

/** Reader/writer for the reference's on-disk snapshot format
  * (README.md:52-75; writer pulsar_backup_restore.py:59-96,142-143):
  *
  * {{{
  * <dir>/tenants.txt        one tenant per line
  * <dir>/namespaces.txt     one "tenant/ns" per line
  * <dir>/topics.txt         non-partition topics
  * <dir>/all_topics.txt     unfiltered topic list
  * <dir>/messages/<sanitized-topic>.json   JSON ARRAY per topic
  * }}}
  *
  * The engine's native at-rest format is Parquet partitioned by
  * topic; this module is the interchange boundary with the reference
  * tooling. Each direction touches the messages once: a write is one
  * exchange on the output file name, streamed into the files by the
  * executors, with the catalog derived from the topics written; a
  * read takes every file whole and explodes its array, so the
  * per-topic message order of the reference (array position) becomes
  * an explicit `seq` column without a shuffle, and each topic's rows
  * stay in the one partition its file was read into. `seq` is what
  * replay sorts on; relying on physical row order would not survive
  * a shuffle on a cluster.
  */
object SnapshotIO {

  /** Read all per-topic message files into the envelope frame.
    * Topic name is recovered from the file name (reversible escaping
    * by default, the reference's lossy "_"→"/" under `compatLossy`).
    *
    * One pass, no shuffle: each file is read whole as one row
    * (`wholetext`), parsed as the JSON array it is, and exploded with
    * its positions. Two postconditions hold whatever partition a
    * file lands in and however many files share it:
    *  - `seq` IS the array position, the reference's own definition
    *    of per-topic arrival order;
    *  - each topic's rows sit in exactly one partition: a topic is
    *    one file (checked below) and a `wholetext` file is never
    *    split. Replay sorts each partition locally on this, with no
    *    exchange.
    * One file must fit in one row, which the reference's per-topic
    * cap (10k messages) guarantees. Parsing is FAILFAST: a
    * truncated or otherwise malformed file fails the read instead of
    * turning into null rows or silently losing its topic.
    *
    * The driver lists `<dir>/messages` once and fails before any job
    * runs on a missing directory, one without `*.json` files, an
    * empty file (Spark drops zero-byte files before the read, so the
    * null guard below would never see it), a subdirectory (Spark
    * would read into it) and two file names that decode to one topic
    * (only a hand-made snapshot has them; they would interleave two
    * `seq` runs). The read is then handed that directory as its one
    * root: Spark lists a single root on the driver, where one root
    * per file (a `*.json` glob) costs a listing job of a task per
    * file past 32 files. Sanitized file names containing glob
    * metacharacters (a topic named "data[1]") are never re-globbed.
    */
  def readMessages(spark: SparkSession, dir: String,
      compatLossy: Boolean = false): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir, "messages")
    // Spark's listing skips hidden names ("_"/"." first: the checksum
    // sidecars), so the checks below skip them too
    val listed = root.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(root).filterNot(_.getPath.getName.matches("[_.].*"))
    listed.find(_.isDirectory).foreach(st => throw new IllegalArgumentException(
      s"malformed snapshot: ${st.getPath} is a directory"))
    val jsons = listed.filter(_.getPath.getName.endsWith(".json"))
    if (jsons.isEmpty) throw new IllegalArgumentException(
      s"malformed snapshot: no *.json message files in $root")
    jsons.find(_.getLen == 0L).foreach(st => throw new IllegalArgumentException(
      s"malformed snapshot file: ${st.getPath} is empty"))
    // only the reversible escaping maps two names to one topic ("a_b"
    // and "a_ub"); the lossy "_"→"/" is one-to-one on file names
    if (!compatLossy)
      jsons.groupBy(st => codec.desanitizeTopicStr(st.getPath.getName.stripSuffix(".json")))
        .collectFirst { case (t, sts) if sts.length > 1 =>
          throw new IllegalArgumentException(
            s"malformed snapshot: ${sts.map(_.getPath.getName).sorted.mkString(", ")} " +
              s"all decode to topic $t")
        }
    val files = spark.read
      .option("wholetext", true)   // reference writes a JSON ARRAY per file
      .option("pathGlobFilter", "*.json")
      .text(root.toString)
      .select(input_file_name().as("_file"),
        from_json(col("value"), ArrayType(Schemas.snapshotMessage),
          Map("mode" -> "FAILFAST")).as("msgs"))
    // input_file_name() returns a URI: fully url-decode the stem (so
    // non-ASCII and literal-% topics round-trip, not just spaces) —
    // protecting literal '+' first, which URL decoding would
    // otherwise turn into a space it never was
    val stem = url_decode(regexp_replace(
      regexp_extract(col("_file"), "([^/]+)\\.json$", 1), "\\+", "%2B"))
    val topic =
      if (compatLossy) codec.desanitizeTopicLossy(stem)
      else codec.desanitizeTopic(stem)
    // FAILFAST rejects malformed JSON; a file whose JSON is no array
    // at all (a bare `null`) must not read as an empty topic either
    val msgs = when(col("msgs").isNull, raise_error(
      concat(lit("malformed snapshot file: "), col("_file"))))
      .otherwise(col("msgs"))
    files
      .select(topic.as("topic"), posexplode(msgs).as(Seq("pos", "m")))
      .select(col("topic"), col("m.content").as("content"),
        col("m.binary_encoded").as("binary_encoded"),
        col("m.properties").as("properties"),
        timestamp_millis(col("m.publish_timestamp")).as("publish_ts"),
        codec.eventTsOrNull(col("m.event_timestamp")).as("event_ts"),
        col("m.partition_key").as("partition_key"),
        col("pos").cast("long").as("seq"))
  }

  /** Driver-side interchange shim: copy a snapshot written by the
    * REFERENCE tooling (file names like "persistent:__tenant_ns_topic
    * .json", which Hadoop Path cannot represent because of the colon)
    * into `destDir` under our reversible colon-free names, recovering
    * each topic with the reference's own lossy "_"→"/" rule first.
    * Local filesystem only — which is the only place the reference's
    * layout can exist anyway. Catalog text files copy verbatim.
    * After importing, read with `readMessages(spark, destDir)`
    * (compatLossy = false: the lossy recovery already happened here,
    * faithfully including the reference's underscore corruption). */
  def importReferenceSnapshot(srcDir: String, destDir: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dst = Paths.get(destDir)
    Files.createDirectories(dst.resolve("messages"))
    Seq("tenants.txt", "namespaces.txt", "topics.txt", "all_topics.txt")
      .foreach { f =>
        val s = Paths.get(srcDir, f)
        if (Files.exists(s))
          Files.copy(s, dst.resolve(f), StandardCopyOption.REPLACE_EXISTING)
      }
    val msgs = Paths.get(srcDir, "messages")
    if (Files.exists(msgs)) {
      val stream = Files.list(msgs) // directory handle: must be closed
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          val p = it.next()
          val name = p.getFileName.toString
          if (name.endsWith(".json")) {
            val stem = name.stripSuffix(".json")
            val topicLossy = stem.replace("_", "/") // the reference's rule
            val safe = codec.sanitizeTopicStr(topicLossy) + ".json"
            Files.copy(p, dst.resolve("messages").resolve(safe),
              StandardCopyOption.REPLACE_EXISTING)
          }
        }
      } finally stream.close()
    }
  }

  def readTenants(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(s"$dir/tenants.txt").select(col("value").as("tenant"))

  def readNamespaces(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(s"$dir/namespaces.txt")
      .select(
        split(col("value"), "/").getItem(0).as("tenant"),
        col("value").as("namespace"))

  def readTopics(spark: SparkSession, dir: String, all: Boolean = false): DataFrame =
    spark.read.text(s"$dir/${if (all) "all_topics" else "topics"}.txt")
      .select(col("value").as("topic"))

  /** Write the envelope frame back out in the engine's native layout:
    * parquet partitioned by topic, ordered by seq within each file —
    * scales to any number of topics, preserves replay order, and
    * prunes on topic at read time. */
  def writeNative(env: DataFrame, dir: String): Unit =
    env
      .repartition(col("topic"))
      .sortWithinPartitions(col("topic"), col("seq"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("topic")
      .parquet(s"$dir/messages_parquet")

  /** Write messages in the reference's interchange format: one JSON
    * ARRAY per topic, wire-format fields, in `seq` order. One
    * exchange, on the output file name: each partition is sorted by
    * (file, topic, seq) and streamed straight into its files by the
    * executors — no per-topic array is built in memory. Returns the
    * message count of every topic written (catalog-sized: one entry
    * per topic), from which [[writeCatalog]] derives the catalog
    * without another pass over the messages. */
  def writeCompat(env: DataFrame, dir: String,
      compatLossy: Boolean = false): Map[String, Long] = {
    val wire = to_json(struct(
      col("content"), col("binary_encoded"), col("properties"),
      coalesce(unix_millis(col("publish_ts")), lit(0L))
        .as("publish_timestamp"),
      codec.eventTsToWire(col("event_ts")).as("event_timestamp"),
      col("partition_key")))
    val fileName =
      if (compatLossy) codec.sanitizeTopicLossy(col("topic"))
      else codec.sanitizeTopic(col("topic"))
    val sorted = env
      .withColumn("file", fileName)
      .repartition(col("file"))
      .sortWithinPartitions(col("file"), col("topic"), col("seq"))
      .select(col("file"), col("topic"), wire.as("msg"))
    // a SNAPSHOT is a replacement, not a merge: clear the destination
    // first, or per-topic files from a previous capture of different
    // data survive and resurrect dead topics on restore
    val destBase = new org.apache.hadoop.fs.Path(dir, "messages")
    destBase.getFileSystem(new org.apache.hadoop.conf.Configuration())
      .delete(destBase, true)
    // one file per topic, written from the executors (scales with the
    // number of topics; only the per-topic counts are collected).
    // Hadoop FileSystem API so the files land in `dir` on whatever
    // filesystem backs it — java.nio would scatter them across
    // executor-local disks on a real cluster.
    sorted.mapPartitions { rows: Iterator[org.apache.spark.sql.Row] =>
      val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      if (rows.hasNext) {
        val base = new org.apache.hadoop.fs.Path(dir, "messages")
        val fs = base.getFileSystem(new org.apache.hadoop.conf.Configuration())
        fs.mkdirs(base)
        var file, topic: String = null
        var n = 0L
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        try {
          rows.foreach { r =>
            if (r.getString(0) != file) {
              if (out != null) { out.write(']'); out.close() }
              file = r.getString(0)
              out = fs.create(new org.apache.hadoop.fs.Path(base, file + ".json"), true)
              out.write('[')
            } else out.write(',')
            out.write(r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // a file holds one topic, or several colliding ones under
            // the lossy names — sorted by topic, so each is one run
            if (r.getString(1) != topic) {
              if (topic != null) counts += topic -> n
              topic = r.getString(1)
              n = 0L
            }
            n += 1
          }
          out.write(']')
          counts += topic -> n
        } finally if (out != null) out.close()
      }
      counts.iterator
    }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect().toMap
  }

  /** Catalog text files (K2), derived from the topics a capture
    * wrote: tenants and namespaces of every topic matching
    * `persistent://tenant/ns/name` (a topic outside that shape has no
    * owner to restore, and must not add an empty one), topics.txt
    * without partition shards, all_topics.txt unfiltered. Newline-
    * joined PLAIN single files — the reference's tooling opens
    * `<dir>/tenants.txt` directly, so a Spark output DIRECTORY of
    * part-files would break the interchange contract. The catalog is
    * control-plane-tiny by definition (the reference keeps it in text
    * files), so it is written from the driver, same as DdlSink. Lines
    * are sorted for determinism. */
  def writeCatalog(topics: Iterable[String], dir: String): Unit = {
    def writeLines(entries: Iterable[String], file: String): Unit = {
      val lines = entries.toSeq.distinct.sorted
      val p = new org.apache.hadoop.fs.Path(dir, file)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val out = fs.create(p, true)
      // zero lines → empty file: a lone "\n" would read back as one
      // empty-string catalog entry (restore would emit `CREATE tenant `
      // with an empty name)
      val body = if (lines.isEmpty) "" else lines.mkString("\n") + "\n"
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val owners = topics.flatMap(t =>
      CatalogOps.topicOwner.findFirstMatchIn(t).map(m => (m.group(1), m.group(2))))
    val shard = CatalogOps.partitionSuffix.r
    writeLines(owners.map(_._1), "tenants.txt")
    writeLines(owners.map { case (tn, ns) => s"$tn/$ns" }, "namespaces.txt")
    writeLines(topics.filter(t => shard.findFirstIn(t).isEmpty), "topics.txt")
    writeLines(topics, "all_topics.txt")
  }
}
