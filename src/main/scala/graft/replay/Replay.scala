package graft.replay

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.codec
import graft.sources.SnapshotIO

/** The reference's two batch entry-point pipelines, composed from the
  * engine's operators (SURVEY §3.1 capture, §3.2 replay).
  *
  * The reference walks topics sequentially and trusts file iteration
  * order (pulsar_backup_restore.py:102,202); here each verb touches
  * its data once. Capture scans its input in one stage, shuffles it
  * once on the output file name and derives the catalog from the
  * topics written. Replay states the per-topic order contract in the
  * plan, as a sortWithinPartitions on (topic, `seq`), and never
  * trusts physical row order. The sort is local, so it needs each
  * topic's rows in one partition: a snapshot read already has them
  * there (one file per topic, read whole), so a snapshot replays in
  * one stage with no exchange; an arbitrary envelope is first
  * repartitioned on topic.
  */
object Replay {

  /** §3.1: capture — write the reference's snapshot layout
    * (per-topic message files, then the catalog text files derived
    * from the topics written). Returns the number of messages
    * captured. */
  def capture(env: DataFrame, dir: String, compatLossy: Boolean = false): Long = {
    val written = SnapshotIO.writeCompat(env, dir, compatLossy)
    SnapshotIO.writeCatalog(written.keys, dir)
    written.values.sum
  }

  /** Payload reconstruction before send: base64-decode binary content
    * (the step the reference's broken `binary_encoded` flag silently
    * skipped — pulsar_backup_restore.py:124,204-208). */
  def withPayload(env: DataFrame): DataFrame =
    env.withColumn("payload",
      codec.decodeContent(col("content"), col("binary_encoded")))

  /** L4/T6: ordered replay of an arbitrary envelope: a repartition
    * on topic puts each topic in one partition, then [[sendInOrder]].
    * Within a topic, rows reach the sink in capture order — the
    * replay correctness invariant. */
  def orderedReplay(env: DataFrame, sendPartition: Iterator[Row] => Unit): Unit =
    sendInOrder(env.repartition(col("topic")), sendPartition)

  /** Rows sorted by (topic, `seq`) within each partition, handed to
    * `sendPartition` in that order (production: a Pulsar producer per
    * task; tests: a collector). Requires each topic's rows to sit in
    * one partition; the sort adds no exchange. */
  private def sendInOrder(env: DataFrame,
      sendPartition: Iterator[Row] => Unit): Unit =
    env.sortWithinPartitions(col("topic"), col("seq"))
      .foreachPartition(sendPartition)

  /** §3.2 end-to-end: snapshot dir → decoded payloads → optional
    * restriction to the topics of `only` (a left semi-join on topic)
    * → ordered send. No repartition: readMessages leaves each topic
    * in one partition, a broadcast semi-join keeps the read's
    * partitioning and a sort-merge one hash-partitions on topic, so
    * the local sort suffices either way (adaptive skew handling splits
    * a join partition by ranges of map tasks, and a topic's rows come
    * from the one task that read its file). Without `only` the replay is
    * one stage. Read, decode and send share it: a malformed file
    * fails its task before that task sends (the sort takes in the
    * whole partition first), but other tasks may have sent already,
    * so a sink that must be all-or-nothing publishes its output only
    * after this returns (Main's replay does). */
  def replaySnapshot(spark: SparkSession, dir: String,
      sendPartition: Iterator[Row] => Unit,
      compatLossy: Boolean = false, only: Option[DataFrame] = None): Unit = {
    val env = withPayload(SnapshotIO.readMessages(spark, dir, compatLossy))
    sendInOrder(only.fold(env)(env.join(_, Seq("topic"), "left_semi")),
      sendPartition)
  }
}
