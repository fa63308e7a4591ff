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
  * topics written; replay reads each snapshot file whole, so `seq` is
  * the message's array position, and makes the per-topic order
  * contract explicit: a repartition on topic and a
  * sortWithinPartitions on `seq` — the only ordering that survives a
  * shuffle on a real cluster.
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

  /** L4/T6: ordered replay — one partition per topic, rows sorted by
    * `seq` within each partition, handed to `sendPartition` in that
    * order (production: a Pulsar producer per task; tests: a
    * collector). Within a topic, rows reach the sink in capture
    * order — the replay correctness invariant. */
  def orderedReplay(env: DataFrame, sendPartition: Iterator[Row] => Unit): Unit =
    env.repartition(col("topic"))
      .sortWithinPartitions(col("topic"), col("seq"))
      .foreachPartition(sendPartition)

  /** §3.2 end-to-end: snapshot dir → decoded payloads → ordered send. */
  def replaySnapshot(spark: SparkSession, dir: String,
      sendPartition: Iterator[Row] => Unit,
      compatLossy: Boolean = false): Unit =
    orderedReplay(
      withPayload(SnapshotIO.readMessages(spark, dir, compatLossy)),
      sendPartition)
}
