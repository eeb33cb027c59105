package graft.pipeline

import java.io.{FileOutputStream, PrintWriter}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec
import graft.io.pg.{PgLiteClient, PgLiteServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's gold stage run against its ACTUAL protocol (VERDICT
  * r15 task 4, "PgLiteSpec covering the gold DDL set"): silver → gold
  * star → [[PgGold.writeGold]] over a live wire-v3 socket — SERIAL-PK
  * DDLs for every gold table (dags/dag_etl_minio_to_postgres.py:413-551),
  * INSERT…RETURNING id capture on the head rows (:125-138, :478), COPY
  * bulk load, live UNIQUE/FK SQLSTATEs, wire read-back equality. The
  * Derby twin ([[GoldJdbcSpec]]) proves the JDBC batch posture; this
  * proves the wire protocol posture on the SAME fixture.
  */
class GoldPgWireSpec extends SparkSpec {

  private def writeFixture(dir: String): (String, String) = {
    val csv = s"$dir/fake_data.csv"
    val pw = new PrintWriter(new FileOutputStream(csv))
    pw.println("Property_Title,Zip,Reviewed_Status,Source,Previous_Rent,HOA,HOA_Flag,Taxes,Paint")
    pw.println("  Casa Azul ,11111,Reviewed, web ,1200,300,yes,50,yes")
    pw.println("Casa Azul,11111,Pending,mail,1300,300,yes,50,no")
    pw.println("Villa Rosa,22222,,phone,,400,no,75,")
    pw.println("LOFT 9,33333,Reviewed,web,900,300,yes,60,yes")
    pw.println("Loft 9,33333,Pending,,800,500,,50,no")
    pw.close()

    val xlsx = s"$dir/field_config.xlsx"
    val zos = new ZipOutputStream(new FileOutputStream(xlsx))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    val strings = Seq(
      "Column Name", "Target Table",
      "Property_Title", "property", "Zip", "property",
      "Reviewed_Status", "Leads", "Source", "leads",
      "Previous_Rent", "Valuation",
      "HOA", "HOA", "HOA_Flag", "HOA", "Taxes", "Taxes",
      "Paint", "Rehab")
    entry("xl/sharedStrings.xml",
      "<sst>" + strings.map(s => s"<si><t>$s</t></si>").mkString + "</sst>")
    val rows = (0 until strings.length / 2).map { r =>
      s"""<row r="${r + 1}"><c r="A${r + 1}" t="s"><v>${2 * r}</v></c><c r="B${r + 1}" t="s"><v>${2 * r + 1}</v></c></row>"""
    }
    entry("xl/worksheets/sheet1.xml",
      "<worksheet><sheetData>" + rows.mkString + "</sheetData></worksheet>")
    zos.close()
    (csv, xlsx)
  }

  private def asStrings(df: DataFrame): Set[String] = {
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    df.select(cols: _*).collect().map(_.mkString("|")).toSet
  }

  "gold → wire-v3 → read-back" should "round-trip the star schema under live constraints" in {
    val dir = tmpDir("gold-pg-fixture")
    val (csv, xlsx) = writeFixture(dir)
    val gold = Medallion.run(spark, csv, xlsx, s"$dir/bronze", Medallion.referenceSpec)

    val (server, _) = PgLiteServer.start()
    try {
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      val back = PgGold.writeGold(c, gold, Medallion.referenceSpec,
        "127.0.0.1", server.port)

      // wire read-back equality, table by table (typed round trip).
      // Facts rode the DISTRIBUTED exactly-once COPY and return the
      // sampled ordered head — which at fixture scale IS the whole
      // table, so value equality still holds for every table; the
      // count verification ran live inside writeFactDistributed.
      back.keySet shouldBe gold.keySet

      // the catalog holds exactly the six star tables: the concurrent
      // dim and fact publishes left no `__stage_` tables behind
      gold.keySet shouldBe
        Set("property", "leads", "valuation", "rehab", "hoa", "taxes")
      c.query("SELECT table_name FROM information_schema.tables " +
        "WHERE table_schema = 'gold'").rows.map(_.head.get).sorted shouldBe
        gold.keySet.toSeq.sorted
      gold.keys.foreach { t =>
        withClue(s"table $t:") { asStrings(back(t)) shouldBe asStrings(gold(t)) }
      }

      // SERIAL ids reproduced the engine's dense ordered assignment
      back("property").select("id").collect().map(_.getInt(0)).sorted shouldBe
        gold("property").select("id").collect().map(_.getInt(0)).sorted

      // constraints are LIVE on the wire: dangling fact FK and duplicate
      // dim key rejected by the server with Postgres SQLSTATEs
      val dangling = intercept[c.PgServerError](c.query(
        "INSERT INTO gold.leads (reviewed_status, property_id) VALUES ('x', 9999)"))
      dangling.code shouldBe "23503"
      val dupKey = gold("hoa").select("hoa_key").collect()(0).getString(0)
      val dup = intercept[c.PgServerError](c.query(
        s"INSERT INTO gold.hoa (hoa, hoa_flag, hoa_key) VALUES (NULL, NULL, '$dupKey')"))
      dup.code shouldBe "23505"

      // serial continuation across the INSERT→COPY protocol switch:
      // the next RETURNING id is exactly N+1
      val n = gold("property").count()
      val probe = c.query("INSERT INTO gold.property " +
        "(property_title, zip, natural_key, property_key, hoa_key, taxes_key) " +
        "VALUES ('probe', '0', 'probe|0', 'k-probe', NULL, NULL) RETURNING id")
      probe.rows.head.head.get.toLong shouldBe (n + 1)
      c.close()
    } finally server.stop()
  }
}
