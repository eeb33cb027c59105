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

  /** Each query is one `graft.queries.Query` record; a name-keyed map of
    * runners or oracle SQL beside it would be a second index to keep in
    * step by hand. */
  it should "declare no queries/oracleSql maps under graft/queries" in {
    val decl = """\b(val|def)\s+(queries|oracleSql)\b.*(:\s*Map\[|=\s*Map\()""".r
    val sites = for {
      p <- walk("src/main/scala/graft/queries", ".scala")
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
      if decl.findFirstIn(t).isDefined
    } yield s"$p:${i + 1}: $t"
    withClue("parallel name maps under graft/queries:\n" +
      sites.mkString("\n") + "\n") { sites shouldBe empty }
  }

  /** Each pglite wire rule has one definition. The COPY format object
    * carries its own wire byte, batch encoder and payload decoder, so
    * no other file under graft/io/pg branches on which format it
    * holds; and the oid → DDL type inverse of `PgLiteEngine.oidOf` is
    * written out once, beside it. */
  it should "keep one COPY format definition and one oid→type table under graft/io/pg" in {
    val root = "src/main/scala/graft/io/pg"
    def sites(re: scala.util.matching.Regex, skip: String) = for {
      p <- walk(root, ".scala")
      if p.getFileName.toString != skip
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
      if re.findFirstIn(t).isDefined
    } yield s"$p:${i + 1}: $t"
    val branches = sites(
      """(\bcase\s+|[=!]=\s*)(PgLiteEngine\.)?Fmt(Text|Csv|Binary)\b""".r,
      skip = "PgLiteEngine.scala")
    withClue("per-format branches outside the CopyFormat definition:\n" +
      branches.mkString("\n") + "\n") { branches shouldBe empty }
    val inverses = sites("""\bcase\s+701\s*=>\s*"DOUBLE PRECISION"""".r, skip = "")
    withClue("oid → type tables:\n" + inverses.mkString("\n") + "\n") {
      inverses should have size 1
    }
  }

  /** The Spark side of the pglite bridge opens every wire connection
    * through `PgLiteConn.open` and decodes NTZ wall-clock text in one
    * place (the wire → Spark value decoder), so the NTZ/DST rule has
    * one copy. */
  it should "open pglite connections in PgLiteConn.open only and parse NTZ text once" in {
    val root = Paths.get("src/main/scala/graft/io/pg")
    def sites(files: Seq[Path], needle: String) = for {
      p <- files
      lines = Files.readAllLines(p).asScala
      (line, i) <- lines.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
      if t.contains(needle)
    } yield (s"$p:${i + 1}: $t", lines.take(i).reverse.find(_.trim.nonEmpty))
    val opens = sites(walk(root.toString, ".scala"), "new PgLiteClient(")
    withClue("PgLiteClient constructed outside PgLiteConn.open:\n" +
      opens.map(_._1).mkString("\n") + "\n") {
      opens should have size 1
      opens.head._2.exists(_.contains("def open(): PgLiteClient")) shouldBe true
    }
    val parses = sites(Seq("PgWire.scala", "PgLiteDataSource.scala")
      .map(root.resolve), "LocalDateTime.parse(")
    withClue("NTZ text decoders:\n" + parses.map(_._1).mkString("\n") + "\n") {
      parses should have size 1
    }
  }

  /** The gate queries' scaffolding lives in `graft.queries.Harness`:
    * the sf-directory slug, every `target/` path (run-scoped scratch and
    * the memo root) and the stream drain. Returns each code line of
    * `graft/queries` and Bench outside Harness that contains `needle`,
    * with the name of the object member it sits in. */
  private val Member = """  (?:private\S* )?def (\w+).*""".r
  private def outsideHarness(needle: String): Seq[(String, Option[String])] = for {
    p <- walk("src/main/scala/graft/queries", ".scala") :+
      Paths.get("src/main/scala/graft/Bench.scala")
    if p.getFileName.toString != "Harness.scala"
    lines = Files.readAllLines(p).asScala
    (line, i) <- lines.zipWithIndex
    t = line.trim
    if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
    if t.contains(needle)
    enclosing = lines.take(i).reverse.collectFirst { case Member(name) => name }
  } yield (s"$p:${i + 1}: $t", enclosing)

  it should "slug sf directories only in Harness.slug" in {
    val sites = outsideHarness("\"[^A-Za-z0-9").map(_._1)
    withClue("sf slugs outside Harness:\n" + sites.mkString("\n") + "\n") {
      sites shouldBe empty
    }
  }

  it should "build target/ paths in graft/queries and Bench only in Harness" in {
    val sites = outsideHarness("\"target/").map(_._1)
    withClue("target/ paths outside Harness:\n" + sites.mkString("\n") + "\n") {
      sites shouldBe empty
    }
  }

  /** `lateDataParity` is the one other drain: it stages the late file
    * between its two passes, which is what that gate tests. */
  it should "drain streams only in Harness.streamParity and lateDataParity" in {
    val sites = outsideHarness("processAllAvailable")
      .filterNot(_._2.contains("lateDataParity")).map(_._1)
    withClue("stream drains outside Harness:\n" + sites.mkString("\n") + "\n") {
      sites shouldBe empty
    }
  }
}
