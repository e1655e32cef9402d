package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Two rules of the main tree that no compiler checks: parquet is read only
  * through `graft.sources.ParquetSource` (whose single-file reads skip
  * Spark's schema-inference job), and sessions are built only by
  * [[SessionFactory]] (the engine's one session configuration).
  */
class SourceHygieneSpec extends AnyFunSuite {
  import SourceHygieneSpec._

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq

  private def violations(rule: Rule): Seq[String] =
    sources.filterNot(p => root.relativize(p).toString == rule.home).flatMap { p =>
      offenders(Files.readString(p), rule).map(line => s"${root.relativize(p)}:$line")
    }

  test("the scanner sees a call in code and ignores one in a comment") {
    val src = "val a = 1\n// spark.read.parquet(x)\n/** SparkSession.builder() */\n" +
      "val df = spark.read\n  .parquet(p)\nval s = SparkSession\n  .builder()\n"
    assert(offenders(src, ParquetRead) == Seq(4))
    assert(offenders(src, SessionBuild) == Seq(6))
  }

  test("spark.read.parquet appears only in the parquet reader") {
    assert(sources.exists(p => root.relativize(p).toString == ParquetRead.home))
    assert(violations(ParquetRead).isEmpty, violations(ParquetRead))
  }

  test("SparkSession.builder appears only in SessionFactory") {
    assert(sources.exists(p => root.relativize(p).toString == SessionBuild.home))
    assert(violations(SessionBuild).isEmpty, violations(SessionBuild))
  }
}

object SourceHygieneSpec {
  /** A call pattern and the one file (under `src/main/scala`) allowed to make it. */
  final case class Rule(pattern: String, home: String)

  val ParquetRead = Rule("""\bread\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet")""",
    "graft/sources/ParquetSource.scala")
  val SessionBuild = Rule("""\bSparkSession\s*\.\s*builder\b""", "graft/SessionFactory.scala")

  /** 1-based lines where `rule` matches in `src`, comments blanked first
    * (line breaks kept, so line numbers hold).
    */
  def offenders(src: String, rule: Rule): Seq[Int] = {
    val blank = (m: scala.util.matching.Regex.Match) => m.matched.replaceAll("[^\n]", " ")
    val code = """(?m)(^|\s)//[^\n]*""".r.replaceAllIn(
      """(?s)/\*.*?\*/""".r.replaceAllIn(src, m => blank(m)), m => blank(m))
    rule.pattern.r.findAllMatchIn(code).map(m => code.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }
}
