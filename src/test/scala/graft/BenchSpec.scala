package graft

import java.util.Locale

import scala.collection.immutable.ListMap

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** graft.Bench's parts, without Bench.main (which stops the shared
  * session): the JSON writer, the /proc contention parse, the query
  * pass's failure policy and the query filter. */
class BenchSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def fixture: Bench.Run = {
    val names = (1 to 12).map(i => f"q$i%02d_fixture")
    val walls = names.zipWithIndex.map { case (n, i) => n -> (0.5 + i) }
    def perQuery(f: Int => Double) = names.zipWithIndex
      .map { case (n, i) => n -> f(i) }.to(ListMap)
    val readings = Bench.readingKeys.map { k =>
      k -> (if (k == "cpu_sec") perQuery(i => if (i == 3) -1.0 else 0.25 * i)
        else perQuery(_ + 0.125))
    }.toMap
    Bench.Run("/data/sf0.01", walls, Seq("q99_broken"), 13, readings,
      Map("q12_fixture" -> Seq("build" -> 1.5, "drain" -> 0.25)),
      Seq("pair_store" -> 0.75), Seq(("CodeHeap profiled nmethods", 93L, 508L)))
  }

  test("writer: two json4s-parsable lines, the full one ending in " +
    "queries then sf, the summary cut to the ten slowest, '.' decimals") {
    val saved = Locale.getDefault
    val (full, summary) =
      try { Locale.setDefault(Locale.GERMANY); Bench.jsonLines(fixture) }
      finally Locale.setDefault(saved)
    val JObject(fullFields) = JsonMethods.parse(full)
    val JObject(sumFields) = JsonMethods.parse(summary)
    fullFields.map(_._1).takeRight(2) shouldBe Seq("queries", "sf")
    full should endWith("\"sf\":\"/data/sf0.01\"}")
    (fullFields ++ sumFields).map(_._1)
      .filter(k => k.startsWith("calib_") || k.startsWith("retime_")) shouldBe empty
    fullFields.toMap.apply("metric") shouldBe JString("total")
    fullFields.toMap.apply("value") shouldBe JDouble(72.0)
    val sum = sumFields.toMap
    sum("metric") shouldBe JString("total_summary")
    sum("n_queries") shouldBe JInt(13)
    sum("failed") shouldBe JArray(List(JString("q99_broken")))
    val top = (3 to 12).map(i => f"q$i%02d_fixture").toSet
    val JObject(topWall) = sum("top_wall")
    topWall.map(_._1) shouldBe (12 to 3 by -1).map(i => f"q$i%02d_fixture")
    (Bench.readingKeys :+ "phase_sec").foreach { k =>
      val JObject(m) = sum(k)
      withClue(k)(m.map(_._1).toSet.subsetOf(top) shouldBe true)
    }
    val JObject(fullCpu) = fullFields.toMap.apply("cpu_sec")
    fullCpu should have size 12
    // totals cover every query; a −1.0 reading propagates
    sum("cpu_total") shouldBe JDouble(-1.0)
    sum("gc_total") shouldBe JDouble(67.5)
    Seq("jit_total", "other_cpu_total", "steal_total", "cold_total")
      .foreach(k => sum.contains(k) shouldBe true)
    sum("code_cache") \ "CodeHeap profiled nmethods" \ "used_mb" shouldBe JInt(93)
    (sum("tasks_max") \ "q12_fixture") shouldBe JInt(11)
    full should include("\"gc_sec\":{\"q01_fixture\":0.125,")
  }

  private val procStat =
    """cpu  1000 20 300 90000 50 7 3 11 40 0
      |cpu0 500 10 150 45000 25 3 1 5 20 0
      |intr 12345""".stripMargin
  private def selfStat(utime: Long, stime: Long) =
    s"4242 (java (main) x) S 1 4242 4242 0 -1 4194560 100 0 0 0 $utime $stime 0 0 20 0 40 0"

  test("/proc readings: machine busy minus own CPU, and steal, per " +
    "delta; -1.0 for missing or malformed text") {
    val a = Bench.ticks(procStat, selfStat(200, 50))
    a shouldBe Some(Bench.Ticks(1000 + 20 + 300 + 7 + 3, 11, 250))
    val later = procStat.replace("cpu  1000 20 300", "cpu  1900 20 420")
      .replace(" 3 11 40", " 3 61 40")
    val b = Bench.ticks(later, selfStat(700, 100))
    // busy +1020 ticks, own +550 → 4.70 s elsewhere; steal +50 → 0.50 s
    Bench.contention(a, b) shouldBe ((4.7, 0.5))
    // own CPU above the machine's tick count (sampling skew) reads 0
    Bench.contention(a, a.map(t => t.copy(busy = t.busy + 10,
      self = t.self + 50))) shouldBe ((0.0, 0.0))
    Bench.contention(None, b) shouldBe ((-1.0, -1.0))
    Bench.contention(a, None) shouldBe ((-1.0, -1.0))
    Seq(
      ("", selfStat(1, 1)),
      ("cpu  1 2 3 4", selfStat(1, 1)), // no steal column
      ("cpu  1 2 x 4 5 6 7 8", selfStat(1, 1)),
      (procStat, ""),
      (procStat, "4242 java S 1 2 3"), // no command parentheses
      (procStat, "4242 (java) S 1 2")
    ).foreach { case (p, s) =>
      withClue((p, s))(Bench.ticks(p, s) shouldBe None) }
    // on Linux the live files parse
    if (new java.io.File("/proc/self/stat").exists)
      Bench.ticks(
        java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat")),
        java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
      ).isDefined shouldBe true
  }

  test("query pass: a RuntimeException is a recorded failure, a " +
    "LinkageError propagates, a good query returns its wall") {
    val ok = Bench.pass(spark, "unused", (s, _) => s.range(10).toDF("id"))
    ok.isRight shouldBe true
    ok.toOption.get should be >= 0.0
    val boom = new RuntimeException("bad plan")
    Bench.pass(spark, "unused", (_, _) => throw boom) shouldBe Left(boom)
    val failedWrite = Bench.pass(spark, "unused",
      (s, _) => s.range(3).selectExpr("assert_true(id < 1) AS a"))
    failedWrite.isLeft shouldBe true
    a[LinkageError] should be thrownBy
      Bench.pass(spark, "unused", (_, _) => throw new LinkageError("codegen"))
  }

  test("query filter: unset selects all; an unknown or empty entry " +
    "list fails naming every unknown entry") {
    SparkEntry.queryFilter("X_ONLY", Map.empty) shouldBe None
    SparkEntry.queryFilter("X_ONLY",
      Map("X_ONLY" -> " q01_pricing_summary , ,q08_rollup_returns")) shouldBe
      Some(Set("q01_pricing_summary", "q08_rollup_returns"))
    val e = the[IllegalArgumentException] thrownBy SparkEntry.queryFilter(
      "X_ONLY", Map("X_ONLY" -> "q08_rollup_returns,q08_rolup,q999"))
    e.getMessage should include("X_ONLY")
    e.getMessage should include("q08_rolup, q999")
    an[IllegalArgumentException] should be thrownBy
      SparkEntry.queryFilter("X_ONLY", Map("X_ONLY" -> " , "))
    an[IllegalArgumentException] should be thrownBy
      SparkEntry.prepareSharedStores(spark, "unused", Some(Set("q153_typo")))
  }
}
