package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** VERDICT r15 "What's wrong 4", generalized — NUL bytes in source.
  *
  * A single raw 0x00 byte makes grep/ripgrep classify a file as BINARY
  * and silently skip it, which blinds every grep-based audit (the leak
  * sweep, the copy detector, CkptCoverageSpec-style sibling checks
  * that shell out) to that file's entire contents. It has happened
  * twice: a literal NUL inside char literals in `etl/Standardize.scala`
  * (r15, fixed r16) and a NUL written into a string sentinel during a
  * round-16 edit (caught before commit only because a grep over the
  * file came back "binary file matches"). File-reading specs are
  * unaffected, so this one closes the class structurally: NO source or
  * doc file may contain a NUL — escape it (the
  * backslash-u-0000 escape in a char/string literal) if the code
  * genuinely needs one.
  */
class SourceHygieneSpec extends AnyFlatSpec with Matchers {

  private def walk(root: String, ext: String*): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => ext.exists(e => p.toString.endsWith(e))).toSeq

  behavior of "source hygiene"

  it should "contain no raw NUL byte in any source or doc file" in {
    val files = walk("src", ".scala") ++ walk("docs", ".md") ++
      Seq(Paths.get("README.md"), Paths.get("SURVEY.md")).filter(Files.exists(_))
    val offenders = files.flatMap { p =>
      val bytes = Files.readAllBytes(p)
      val i = bytes.indexWhere(_ == 0)
      if (i >= 0) Some(s"$p: NUL at byte offset $i") else None
    }
    withClue("files grep would silently skip as binary:\n" +
      offenders.mkString("\n") + "\n") { offenders shouldBe empty }
  }

  /** Hand-written session builders drift apart (one pinned UTC, one set
    * the cleaner GC, two hard-coded their core count); every main starts
    * Spark through `graft.Session` instead. */
  it should "build SparkSessions in src/main only inside graft/Session.scala" in {
    val root = Paths.get("src/main/scala")
    val sites = for {
      p <- walk(root.toString, ".scala")
      if root.relativize(p).toString != "graft/Session.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      t = line.trim
      // Scaladoc usage examples are documentation, not call sites
      if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
      if t.contains("SparkSession.builder()")
    } yield s"$p:${i + 1}: $t"
    withClue("SparkSession.builder() outside graft/Session.scala:\n" +
      sites.mkString("\n") + "\n") { sites shouldBe empty }
  }
}
