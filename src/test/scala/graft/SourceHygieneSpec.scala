package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Three rules that no compiler checks: the main tree reads parquet only
  * through `graft.sources.ParquetSource` (whose single-file reads skip
  * Spark's schema-inference job), the main and test trees build sessions
  * only through [[SessionFactory]] (the engine's one session
  * configuration, which the specs share through [[SparkSpec]]), and the
  * main tree opens `foreachBatch` queries only through
  * `graft.streaming.VersionedStore.start` (one checkpoint and output-mode
  * setup for every micro-batch sink).
  */
class SourceHygieneSpec extends AnyFunSuite {
  import SourceHygieneSpec._

  private val root = Paths.get("src/main/scala")
  private val testRoot = Paths.get("src/test/scala")

  private def sources(under: Path = root): Seq[Path] =
    Files.walk(under).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq

  /** Offending lines under `under`, outside the rule's home and this spec
    * (whose test names mention the calls it forbids). */
  private def violations(rule: Rule, under: Path = root): Seq[String] =
    sources(under).filterNot(p => Set(rule.home, "graft/SourceHygieneSpec.scala")(
      under.relativize(p).toString)).flatMap { p =>
      offenders(Files.readString(p), rule).map(line => s"${under.relativize(p)}:$line")
    }

  test("the scanner sees a call in code and ignores one in a comment") {
    val src = "val a = 1\n// spark.read.parquet(x)\n/** SparkSession.builder() */\n" +
      "val df = spark.read\n  .parquet(p)\nval s = SparkSession\n  .builder()\n" +
      "// q.foreachBatch(f)\nq.writeStream.foreachBatch { (b, id) => f(b) }\n"
    assert(offenders(src, ParquetRead) == Seq(4))
    assert(offenders(src, SessionBuild) == Seq(6))
    assert(offenders(src, BatchQuery) == Seq(9))
  }

  test("spark.read.parquet appears only in the parquet reader") {
    assert(sources().exists(p => root.relativize(p).toString == ParquetRead.home))
    assert(violations(ParquetRead).isEmpty, violations(ParquetRead))
  }

  test("SparkSession.builder appears only in SessionFactory") {
    assert(sources().exists(p => root.relativize(p).toString == SessionBuild.home))
    assert(violations(SessionBuild).isEmpty, violations(SessionBuild))
    // the specs too: they share SparkSpec's session, built by SessionFactory
    val specs = violations(SessionBuild, testRoot)
    assert(specs.isEmpty, specs)
  }

  test("foreachBatch appears only in the micro-batch query helper") {
    assert(sources().exists(p => root.relativize(p).toString == BatchQuery.home))
    assert(violations(BatchQuery).isEmpty, violations(BatchQuery))
  }
}

object SourceHygieneSpec {
  /** A call pattern and the one file (under `src/main/scala`) allowed to make it. */
  final case class Rule(pattern: String, home: String)

  val ParquetRead = Rule("""\bread\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet")""",
    "graft/sources/ParquetSource.scala")
  val SessionBuild = Rule("""\bSparkSession\s*\.\s*builder\b""", "graft/SessionFactory.scala")
  val BatchQuery = Rule("""\bforeachBatch\b""", "graft/streaming/VersionedStore.scala")

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
