package perfbench

import java.io.File

import org.apache.spark.sql.Row

/** Result digests, and the expected ones checked in beside the
  * benchmark (`expected_hashes.tsv`: name, tab, digest). */
object Digest {

  /** Order-independent digest of a result: columns sorted by name,
    * every row rendered as text, rows sorted, SHA-256 of the lines. */
  def of(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    def cell(v: Any): String = v match {
      case null => "NULL"
      case a: scala.collection.Seq[_] => a.map(cell).mkString("[", ",", "]")
      case a: Array[Byte] => java.util.Base64.getEncoder.encodeToString(a)
      case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted
          .mkString("{", ",", "}")
      case other => other.toString
    }
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString + s"/${rows.length}"
  }

  def readExpected(f: File): Map[String, String] =
    if (!f.isFile) Map.empty
    else scala.io.Source.fromFile(f).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(q, h) => q -> h }.toMap

  /** None when `got` equals the expected digest of `name`. */
  def problem(expected: Map[String, String], name: String,
      got: String): Option[String] = expected.get(name) match {
    case Some(e) if e == got => None
    case Some(e) => Some(s"result digest $got, expected $e")
    case None => Some(s"no expected digest (got $got)")
  }
}
