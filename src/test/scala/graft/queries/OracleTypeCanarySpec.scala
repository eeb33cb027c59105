package graft.queries

import graft.SparkEntry
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Oracle TYPE canary (round-11, VERDICT r10 item 2).
  *
  * The driver's correctness gate hashes the DuckDB oracle result and
  * the Spark dump value-by-value, so a type that merely RENDERS
  * differently breaks the hash even when every value is identical.
  * That class has now bitten twice: DuckDB widens integer `sum()` to
  * HUGEINT (plain sums in early rounds, the `q_select_budget` window
  * sum in r10 — the only red row of 125), and `epoch()` returns DOUBLE
  * whose cast rounds instead of flooring (latent in
  * `q_events_retention`, ADVICE r10). Both were only discoverable
  * after a full driver round trip.
  *
  * This spec closes the loop inside `sbt test`: it runs EVERY
  * `SparkEntry.oracleSql` statement through DuckDB (via the sandbox's
  * python3, the same binary the driver uses) against sf0.001 views and
  * asserts
  *   1. the statement still parses and executes — oracle drift becomes
  *      one red spec instead of silently-vanished CORRECTNESS rows, and
  *   2. no result column is HUGEINT/UHUGEINT — the widening family must
  *      be cast back (`CAST(sum(x) AS BIGINT)`) at the oracle surface,
  *      exactly like the sibling oracles already do.
  * Full Spark-schema⇄DuckDB-type equality would need every Spark query
  * executed here too (many are eager multi-stage gates); the two rules
  * above are the entire observed failure class, at ~100× less cost.
  *
  * If the environment has no python3+duckdb (this is a test-only
  * harness dependency, never a library one), the suite cancels rather
  * than fails.
  */
class OracleTypeCanarySpec extends AnyFlatSpec with Matchers {

  private val sfDir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val pyProbe = """
import json, sys
try:
    import duckdb
except Exception:
    print("NO_DUCKDB"); sys.exit(0)
oracles = json.load(open(sys.argv[1]))
sf = sys.argv[2]
con = duckdb.connect()
for t in sys.argv[3].split(','):
    con.execute(
        "CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
        % (t, sf, t))
for name in sorted(oracles):
    try:
        rel = con.sql(oracles[name])
        cols = rel.columns
        types = [str(t) for t in rel.types]
        rel.fetchall()  # force execution, not just bind
        print(name + "\tOK\t" + ",".join(
            "%s:%s" % (c, ty) for c, ty in zip(cols, types)))
    except Exception as e:
        print(name + "\tERR\t" + str(e).replace("\n", " ")[:400])
"""

  behavior of "every SparkEntry.oracleSql statement (DuckDB type canary)"

  private lazy val probeLines: Option[Map[String, (String, String)]] = {
    if (!new java.io.File(sfDir).isDirectory) None
    else {
      val dir = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get("target", "test-tmp", "oracle-canary"))
      // the exact bytes graft.Verify writes as oracle_sql.json
      val oraclesJson = graft.Verify.oracleJson(SparkEntry.oracleSql)
      val jsonPath = dir.resolve("oracles.json")
      val pyPath = dir.resolve("probe.py")
      java.nio.file.Files.writeString(jsonPath, oraclesJson)
      java.nio.file.Files.writeString(pyPath, pyProbe)
      val out = new StringBuilder
      val proc = new ProcessBuilder("python3", pyPath.toString,
        jsonPath.toString, sfDir, tables.mkString(","))
        .redirectErrorStream(true).start()
      val src = scala.io.Source.fromInputStream(proc.getInputStream)
      val lines = try src.getLines().toVector finally src.close()
      proc.waitFor()
      out.append(lines.mkString("\n"))
      if (proc.exitValue() != 0 || lines.contains("NO_DUCKDB")) None
      else Some(lines.filter(_.contains("\t")).map { l =>
        val Array(name, status, detail) = l.split("\t", 3)
        name -> (status, detail)
      }.toMap)
    }
  }

  it should "execute in DuckDB over the sf0.001 tables" in {
    assume(probeLines.isDefined, "python3+duckdb or testdata unavailable")
    val res = probeLines.get
    val missing = SparkEntry.oracleSql.keySet -- res.keySet
    withClue("oracles with no probe result: ") { missing shouldBe empty }
    val errs = res.collect { case (n, ("ERR", d)) => s"$n: $d" }
    withClue("oracles that no longer run in DuckDB:\n" +
      errs.mkString("\n") + "\n") { errs shouldBe empty }
  }

  it should "emit no HUGEINT/UHUGEINT column (rendering-parity family)" in {
    assume(probeLines.isDefined, "python3+duckdb or testdata unavailable")
    val offenders = probeLines.get.collect {
      case (n, ("OK", cols)) if cols.contains("HUGEINT") =>
        s"$n: ${cols.split(",").filter(_.contains("HUGEINT")).mkString(", ")}"
    }
    withClue("oracle columns needing CAST(... AS BIGINT):\n" +
      offenders.mkString("\n") + "\n") { offenders shouldBe empty }
  }
}
