package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Catalog-shaped dataflow operators: everything the reference does to
  * tenant/namespace/topic lists, re-expressed as declarative plans.
  *
  * The reference walks these hierarchies with nested Python loops and
  * O(n²) membership scans (pulsar_remote_inspector.py:400-427); here
  * each step is a DataFrame transform so Catalyst fuses the filters,
  * turns dedup into a hash aggregate, and `orderBy+limit` into a
  * TakeOrderedAndProject (top-k without a global sort) — the shapes
  * that survive a 100 TB catalog.
  */
object CatalogOps {

  val partitionSuffix = "-partition-\\d+$"

  /** A topic's owning tenant (group 1) and namespace (group 2), for
    * topics of the `persistent://tenant/ns/name` shape. */
  val topicOwner: scala.util.matching.Regex = "persistent://([^/]+)/([^/]+)/.+".r

  /** P5 default priority patterns — the fixtures' namespace analog of
    * the reference's ['org-1', 'global', 'dlq'] priority list
    * (pulsar_remote_inspector.py:477). One shared constant so the
    * registered q50 pipeline and the CLI listing can never order
    * topics differently. */
  val defaultPriorityPatterns: Seq[String] = Seq("ns1", "dlq", "global")

  /** P3/P4: the system resources every destructive operation must
    * preserve (config.json:11-13). */
  val systemTenants: Seq[String] = Seq("public", "pulsar", "system")
  val systemNamespaces: Seq[String] =
    Seq("public/default", "public/functions", "pulsar/system")

  /** P2: drop partition-shard topics (`…-partition-N`).
    * (pulsar_backup_restore.py:44-46,87) */
  def dropPartitionShards(topics: DataFrame, col0: String = "topic"): DataFrame =
    topics.filter(!col(col0).rlike(partitionSuffix))

  /** P3/P4: keep rows whose `name` is not in a (tiny) system list —
    * broadcast anti-join shape; for literal lists an isin filter is
    * pushed all the way into the scan. (config.json:12-13) */
  def excludeSystem(df: DataFrame, nameCol: String, system: Seq[String]): DataFrame =
    df.filter(!col(nameCol).isin(system: _*))

  /** A2: roll partition shards up under their parent topic, counting
    * shards and flagging partitioned parents.
    * (pulsar_remote_inspector.py:431-457) */
  def rollupPartitions(topics: DataFrame, col0: String = "topic"): DataFrame = {
    val parent = regexp_replace(col(col0), partitionSuffix, "")
    topics
      .groupBy(parent.as("parent_topic"))
      .agg(
        count(lit(1)).as("n_entries"),
        sum(when(col(col0).rlike(partitionSuffix), 1L).otherwise(0L))
          .as("n_partitions"),
        max(col(col0).rlike(partitionSuffix)).as("partitioned"))
  }

  /** Generation DIFF between two catalog captures — the operational
    * step the reference's backup/restore pair implies but never
    * implements (pulsar_backup_restore.py captures and restores whole
    * snapshots; an operator deciding WHETHER to restore wants the
    * delta). Inputs are (topic, count) catalogs from any two captures;
    * output is one row per topic whose presence or message count
    * changed, tagged added / removed / changed. One full-outer
    * shuffle on the topic key — co-partitioned if both captures are
    * bucketed by topic, and at 100 TB the catalogs are topic-grain
    * (millions of rows, not billions), so this is never the bottleneck
    * of the restore decision it gates. */
  def snapshotDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val av = a.toDF("topic", "n_a")
    val bv = b.toDF("topic", "n_b")
    av.join(bv, Seq("topic"), "full_outer")
      .withColumn("status",
        when(col("n_a").isNull, lit("added"))
          .when(col("n_b").isNull, lit("removed"))
          .when(col("n_a") =!= col("n_b"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col("topic"), col("status"), col("n_a"), col("n_b"))
  }

  /** U1: 3-source topic union with order-preserving dedup — in plan
    * terms union + hash-dedup keeping the highest-priority source
    * (base < partitioned < system appended in that order in the
    * reference, first occurrence wins).
    * (pulsar_remote_inspector.py:400-427) */
  def unionDedupTopics(
      base: DataFrame, partitioned: DataFrame, system: DataFrame,
      col0: String = "topic"): DataFrame = {
    val tagged = base.select(col(col0), lit(1).as("src_rank"))
      .unionAll(partitioned.select(col(col0), lit(2).as("src_rank")))
      .unionAll(system.select(col(col0), lit(3).as("src_rank")))
    tagged.groupBy(col(col0)).agg(min("src_rank").as("src_rank"))
  }

  /** P5+L2: priority listing — namespaces matching any priority
    * pattern scan first, then everything else, capped at `limit`.
    * The reference does two passes with manual count checks
    * (pulsar_remote_inspector.py:477-553); declaratively it is one
    * orderBy(priority, name) + limit, which Spark executes as top-k.
    */
  def priorityLimit(
      topics: DataFrame, patterns: Seq[String], limit: Int,
      col0: String = "topic"): DataFrame = {
    val isPriority = patterns.map(p => col(col0).contains(p))
      .reduce(_ || _)
    topics
      .withColumn("priority", when(isPriority, 0).otherwise(1))
      .orderBy(col("priority"), col(col0))
      .limit(limit)
  }

  /** S5: read a CLI-output text file as numbered lines (line, line_no
    * 1-based). `wholetext` keeps the file in one task so the split
    * order IS the line order — correct for CLI-scale inputs, which is
    * the only place fixed-width table output exists. A single trailing
    * newline (the normal way such files end) is stripped BEFORE the
    * split — otherwise the phantom empty last line would absorb
    * [[parseCliTable]]'s footer trim and leak the real footer into the
    * parsed names. */
  def readCliLines(spark: SparkSession, path: String): DataFrame =
    // \n\z, not \n$: Java's $ ALSO matches before a final line
    // terminator, so "x\n\n" would lose both newlines; \z anchors at
    // true end-of-input and strips exactly one
    spark.read.option("wholetext", true).text(path)
      .select(posexplode(split(regexp_replace(col("value"), "\n\\z", ""), "\n"))
        .as(Seq("idx", "line")))
      .select(col("line"), (col("idx") + 1).cast("long").as("line_no"))

  /** S5: parse a `pulsarctl`-style fixed-width table given (line,
    * line_no) rows: drop `headerLines` from the head and `footerLines`
    * from the tail, split on whitespace, take column `fieldIdx`.
    * (pulsar_backup_restore.py:54-57)
    *
    * The tail bound comes from a 1-row broadcast aggregate rather than
    * a global no-partition window or an eager count — no plan-time
    * action, no single-task sort. */
  def parseCliTable(
      lines: DataFrame, lineCol: String = "line", lineNoCol: String = "line_no",
      headerLines: Int = 3, footerLines: Int = 1,
      fieldIdx: Int = 1): DataFrame = {
    val total = lines.agg(max(col(lineNoCol)).as("_max_ln"))
    lines.crossJoin(broadcast(total))
      .filter(col(lineNoCol) > headerLines &&
        col(lineNoCol) <= col("_max_ln") - footerLines)
      // get() (not getItem): null on short rows instead of an ANSI
      // out-of-bounds error — the optimizer may evaluate this
      // projection on rows the line-number filter will drop
      .select(get(split(trim(col(lineCol)), "\\s+"), lit(fieldIdx)).as("name"))
      .filter(col("name").isNotNull && col("name") =!= "")
  }

  /** L1: per-group row cap (the reference's max_messages_per_topic) —
    * row_number over (group, order) ≤ n. At scale this is one shuffle
    * on the group key; rank-based, so it spills instead of OOMing on
    * skewed groups. */
  def capPerGroup(df: DataFrame, groupCol: Column, orderCols: Seq[Column],
      n: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCols: _*)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .drop("rn")
  }

  /** Head/tail trim per group, window form of S5's positional slicing:
    * keeps rows with dropHead < rn ≤ count - dropTail. */
  def trimHeadTail(df: DataFrame, groupCol: Column, orderCol: Column,
      dropHead: Int, dropTail: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
    val wAll = Window.partitionBy(groupCol)
    df.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .filter(col("rn") > dropHead && col("rn") <= col("cnt") - dropTail)
      .drop("rn", "cnt")
  }
}
