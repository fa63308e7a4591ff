package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's own `documents` table, in the schema the engine's
  * queries read (FIXTURES.md §B). Built from a fixed seed, so the
  * digest checked in beside the benchmark stays valid; the workload
  * seed varies how the documents are fed, not the documents.
  *
  * Text is drawn from a small vocabulary, as in the engine's test
  * fixtures, with planted near-duplicates (a few words changed) and
  * exact twins so the dedup stages have work. The generator's draw
  * order (all texts, then languages and sources) is part of the
  * checked-in digest. */
object Fixtures {
  val Docs = 1200
  private val Seed = 42L

  private val vocab = ("a the key agg row scan slow fast table value part " +
    "hash merge batch line sort window data column join small customer " +
    "query order big group stream spark filter vector").split(" ")
  private val langs = Seq("en", "en", "en", "en", "es", "fr", "de", "zh")

  /** (doc_id, text, lang, source) rows. */
  lazy val documents: IndexedSeq[(Long, String, String, String)] = {
    val rnd = new scala.util.Random(Seed)
    val texts = new Array[String](Docs)
    (0 until Docs).foreach { i =>
      val roll = rnd.nextDouble()
      texts(i) =
        if (i > 10 && roll < 0.005) texts(rnd.nextInt(i))
        else if (i > 10 && roll < 0.05) {
          val w = texts(rnd.nextInt(i)).split(" ")
          (0 until 1 + rnd.nextInt(3)).foreach(_ =>
            w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length)))
          w.mkString(" ")
        } else
          Seq.fill(15 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.length)))
            .mkString(" ")
    }
    texts.indices.map(i => (i.toLong, texts(i),
      langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(20)}"))
  }

  val documentsSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType)
    .add("lang", StringType).add("source", StringType)
    .add("n_chars", LongType)

  def documentsDF(s: SparkSession): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(documents.map {
      case (id, t, l, src) => Row(id, t, l, src, t.length.toLong)
    }: _*), documentsSchema)

  /** Write `df` as the single parquet file `path`. */
  def writeSingle(df: DataFrame, path: File): Unit = {
    val tmp = new File(path.getParentFile, s"_${path.getName}.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    path.delete()
    java.nio.file.Files.move(part.toPath, path.toPath)
    Bench.deleteRecursively(tmp)
  }
}
