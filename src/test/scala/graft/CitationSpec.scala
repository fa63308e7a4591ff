package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source comments cite a measurement as PLANS.md followed by the
  * quoted title of the section that tables it, because the code that
  * took the measurement is no longer in the tree. This keeps every
  * such title matching a PLANS.md heading, and keeps the names of the
  * removed measurement mains out of `src`. It also keeps the bounded
  * key-set read behind its one helper and its cap behind a named
  * constant. */
class CitationSpec extends AnyFunSuite with Matchers {

  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("no source names a removed measurement main") {
    // spelled in pieces so this file does not match itself
    val removed = (Seq("Scale", "Timing").map("Probe" + _) :+
      ("graft\\." + "Probe\\b")).mkString("|").r
    sources.flatMap { case (path, text) =>
      removed.findAllIn(text).map(m => s"$path: $m")
    } shouldBe empty
  }

  test("no main source pushes a collected key array as a literal isin") {
    // a bounded key-set read goes through Dedup.boundedKeys and
    // Dedup.restrictTo, which push the keys as one InSet
    val splat = ("\\.isin\\(\\s*\\w+\\.toIndexedSeq" + ": _\\*\\)").r
    sources.filter(_._1.startsWith(Paths.get("src", "main").toString))
      .flatMap { case (path, text) =>
        splat.findAllIn(text).map(m => s"$path: $m")
      } shouldBe empty
  }

  test("no main-source cap parameter defaults to a bare number") {
    // a bounded read's cap defaults to a named constant
    // (Dedup.DefaultMarkPruneCap or a sibling), so retuning it is one
    // edit; a literal default is a second copy of the cap that drifts
    // from it. A `val`/`var` is the named constant itself.
    val literalCap =
      "(?i)\\b(val\\s+|var\\s+)?\\w*cap\\w*\\s*:\\s*(?:Int|Long)\\s*=\\s*[-(0-9]".r
    sources.filter(_._1.startsWith(Paths.get("src", "main").toString))
      .flatMap { case (path, text) =>
        literalCap.findAllMatchIn(text).filter(_.group(1) == null)
          .map(m => s"$path: ${m.matched}")
      } shouldBe empty
  }

  test("every quoted PLANS.md citation in src matches a PLANS.md heading") {
    def norm(t: String) = t.replaceAll("\\s+", " ").trim
    val headings = Files.readAllLines(Paths.get("PLANS.md")).asScala
      .filter(_.startsWith("#")).map(h => norm(h.dropWhile(_ == '#')))
    // a title may wrap across comment lines: join the continuations
    val cite = "PLANS\\.md \"([^\"]+)\"".r
    val cited = sources.flatMap { case (path, text) =>
      val joined = text.replaceAll("\\s*\n\\s*(\\*|//)?\\s*", " ")
      cite.findAllMatchIn(joined).map(m => path -> norm(m.group(1)))
    }
    cited should not be empty
    cited.filterNot { case (_, title) => headings.exists(_.contains(title)) }
      .map { case (path, title) => s"$path: \"$title\"" } shouldBe empty
  }
}
