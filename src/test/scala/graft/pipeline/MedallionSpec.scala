package graft.pipeline

import java.io.{FileOutputStream, PrintWriter}
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.SparkSpec
import graft.etl.Dims
import graft.io.Sources
import org.apache.spark.sql.functions._

/** Golden end-to-end test (SURVEY.md §5 strategy 2): a fixture
  * reproducing the reference's data shape (FIXTURES.md §1-2 — trimmed
  * to a representative column subset) through bronze → silver → gold,
  * asserting the invariants the reference enforced with DB constraints:
  * dim key uniqueness, fact→main FK completeness, id density, and
  * id-first column order. */
class MedallionSpec extends SparkSpec {

  private def writeFixture(dir: String): (String, String) = {
    val csv = s"$dir/fake_data.csv"
    val pw = new PrintWriter(new FileOutputStream(csv))
    // trips: padded mixed-case strings, empty strings, null ints,
    // duplicate (hoa, hoa_flag) and (taxes), duplicate natural keys
    pw.println("Property_Title,Zip,Reviewed_Status,Source,Previous_Rent,HOA,HOA_Flag,Taxes")
    pw.println("  Casa Azul ,11111,Reviewed, web ,1200,300,yes,50")
    pw.println("Casa Azul,11111,Pending,mail,1300,300,yes,50")   // same natural key
    pw.println("Villa Rosa,22222,,phone,,400,no,75")             // empty status, null rent
    pw.println("LOFT 9,33333,Reviewed,web,900,300,yes,60")       // dup hoa dim row
    pw.println("Loft 9,33333,Pending,,800,500,,50")              // dup taxes dim row
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
      "HOA", "HOA", "HOA_Flag", "HOA", "Taxes", "Taxes")
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

  "Medallion.run" should "produce a constraint-clean star schema" in {
    val dir = tmpDir("medallion")
    val (csv, xlsx) = writeFixture(dir)
    val gold = Medallion.run(spark, csv, xlsx, s"$dir/bronze", Medallion.referenceSpec)

    gold.keySet shouldBe Set("property", "leads", "valuation", "hoa", "taxes")

    val property = gold("property").cache()
    val hoa = gold("hoa").cache()
    val taxes = gold("taxes").cache()

    // row counts: 5 wide rows; hoa dims distinct over (hoa, hoa_flag):
    // (300,yes) (400,no) (500,unknown) → 3; taxes: 50, 75, 60 → 3
    property.count() shouldBe 5
    hoa.count() shouldBe 3
    taxes.count() shouldBe 3

    // dim key uniqueness (the reference's UNIQUE constraints)
    hoa.select("hoa_key").distinct().count() shouldBe 3
    taxes.select("taxes_key").distinct().count() shouldBe 3

    // surrogate ids dense 1..N
    property.agg(min("id"), max("id")).collect()(0) match {
      case r => (r.getInt(0), r.getInt(1)) shouldBe (1, 5)
    }

    // FK completeness: property→dims and facts→property (anti-joins empty)
    Dims.fkViolations(property, hoa, "hoa_key").count() shouldBe 0
    Dims.fkViolations(property, taxes, "taxes_key").count() shouldBe 0
    gold("leads").filter(col("property_id").isNull).count() shouldBe 0
    gold("valuation").filter(col("property_id").isNull).count() shouldBe 0

    // facts carry the resolved id FIRST (reference :494-496)
    gold("leads").columns.head shouldBe "property_id"
    gold("valuation").columns.head shouldBe "property_id"

    // silver cleaning reached the data: strings lowered/trimmed,
    // empties → 'unknown' after fill
    val statuses = gold("leads").select("reviewed_status")
      .collect().map(_.getString(0)).toSet
    statuses shouldBe Set("reviewed", "pending", "unknown")

    // duplicate natural keys share a property_key but get distinct ids
    val casa = property.filter(col("natural_key") === "casa azul|11111")
    casa.count() shouldBe 2
    casa.select("property_key").distinct().count() shouldBe 1
  }

  "Medallion.bronze" should "write CSVs whose inferred schema is the raw frame's" in {
    // Medallion.run reads each bronze CSV back with the raw frame's
    // schema instead of inferring it again; that is only the same read
    // if inference over the bronze CSV gives the raw frame's schema
    val dir = freshDir("medallion-bronze-schema")
    val (csv, xlsx) = writeFixture(dir)
    Seq(csv, xlsx).foreach { raw =>
      val (path, schema) = Medallion.bronze(spark, raw, s"$dir/bronze")
      withClue(s"$raw -> $path:") {
        val rawSchema = Sources.read(spark, raw).schema
        schema shouldBe rawSchema
        Sources.read(spark, path).schema shouldBe rawSchema
      }
    }
  }

  "gold dims" should "resolve facts through distributed ids too" in {
    // sanity for the scale path: withDistributedId yields unique ids
    val df = spark.range(1000).toDF("x").repartition(7)
    val ids = Dims.withDistributedId(df, "id")
    ids.select("id").distinct().count() shouldBe 1000
  }
}
