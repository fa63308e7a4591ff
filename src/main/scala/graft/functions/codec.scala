package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Payload/topic codecs for the message envelope.
  *
  * Reference semantics being re-expressed (see SURVEY.md §2.3 P6,
  * §2.8 F2, §7.5):
  *  - binary/text discrimination: the reference tries a UTF-8 decode
  *    and base64-encodes on failure (pulsar_backup_restore.py:119-124)
  *    but then records the `binary_encoded` flag from a broken check
  *    (`:124,128`); we set the flag from the decode result, the way
  *    its print path does correctly (`:350-357`).
  *  - topic file-name sanitization: the reference maps "/"→"_" and
  *    lossily reverses "_"→"/" (`:103,192`), corrupting topic names
  *    containing underscores; we default to a reversible escaping and
  *    keep the lossy behavior behind `compatLossy`.
  */
object codec {

  /** True iff the binary column decodes as well-formed UTF-8.
    * Spark 4 ships a native codegen'd expression for this. */
  def isValidUtf8(payload: Column): Column =
    call_function("is_valid_utf8", payload.cast("string"))

  /** Envelope content encoding: valid-UTF-8 payloads pass through as
    * text; everything else is base64'd, with a flag column. Returns
    * (content, binary_encoded) as a struct. */
  def encodeContent(payload: Column): Column = {
    val ok = call_function("is_valid_utf8", payload.cast("string"))
    struct(
      when(ok, payload.cast("string")).otherwise(base64(payload))
        .as("content"),
      (!ok).as("binary_encoded"))
  }

  /** Inverse of [[encodeContent]]: reconstruct payload bytes. */
  def decodeContent(content: Column, binaryEncoded: Column): Column =
    when(binaryEncoded, unbase64(content))
      .otherwise(encode(content, "UTF-8"))

  /** Reversible topic→file-name escaping: '_'→"_u" first (so marker
    * underscores introduced below are never re-escaped), then
    * '/'→"_s" and ':'→"_c". Bijective for all topic names, and the
    * output contains no '/' or ':' — ':' matters because Hadoop Path
    * cannot represent a relative file name with a colon in its first
    * segment, so the reference's literal layout ("persistent:__…")
    * is unrepresentable on HDFS (see SnapshotIO.importReferenceSnapshot
    * for the local-disk interchange shim). */
  def sanitizeTopic(topic: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(topic, "_", "_u"), "/", "_s"),
      ":", "_c")

  /** Scala-string twin of [[sanitizeTopic]] for driver-side file ops. */
  def sanitizeTopicStr(topic: String): String =
    topic.replace("_", "_u").replace("/", "_s").replace(":", "_c")

  /** Inverse of [[sanitizeTopic]]: "_s"→'/', "_c"→':', then "_u"→'_'
    * LAST (a forward output's every '_' heads a marker, so resolving
    * the two-char markers before collapsing "_u" is unambiguous). */
  def desanitizeTopic(fileName: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(fileName, "_s", "/"), "_c", ":"),
      "_u", "_")

  /** Scala-string twin of [[desanitizeTopic]] for driver-side checks. */
  def desanitizeTopicStr(fileName: String): String =
    fileName.replace("_s", "/").replace("_c", ":").replace("_u", "_")

  /** The reference's lossy mapping, for interchange compatibility. */
  def sanitizeTopicLossy(topic: Column): Column =
    regexp_replace(topic, "/", "_")

  def desanitizeTopicLossy(fileName: Column): Column =
    regexp_replace(fileName, "_", "/")

  /** event_timestamp: 0 means unset in the wire format
    * (pulsar_backup_restore.py:214) — normalize to null internally. */
  def eventTsOrNull(epochMillis: Column): Column =
    when(epochMillis === 0L, lit(null)).otherwise(timestamp_millis(epochMillis))

  /** Back to the wire format: null → 0. */
  def eventTsToWire(ts: Column): Column =
    coalesce(unix_millis(ts), lit(0L))
}
