package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.util.Random

/** Seeded raw input for the `medallion` workload: the reference's
  * 66-column real-estate CSV and its Field Config workbook.
  *
  * The workbook is the real routing (sheet rows 2-67, with the
  * `Leads`/`leads` and `HOA`/`Taxes` case mix), written with
  * `graft.io.Xlsx.writeRows`. The CSV carries the hazards the
  * reference's cleaning exists for: surrounding whitespace and mixed
  * case in strings, `''` and missing cells in int and string columns,
  * repeated `(hoa, hoa_flag)` and `taxes` values, and `(property_title,
  * zip)` keys drawn from `KeyShare * rows` values, so a share of rows
  * collide on the natural key. */
object MedallionInput {

  /** Natural keys are drawn from this share of the row count. */
  val KeyShare = 0.9

  sealed trait Kind
  case object Text extends Kind
  case object Flag extends Kind
  case object Int32 extends Kind
  final case class Dec(scale: Int, max: Double) extends Kind

  /** (column, target table as the sheet spells it, kind), in sheet order. */
  val routing: Seq[(String, String, Kind)] = Seq(
    ("Property_Title", "property", Text), ("Address", "property", Text),
    ("Reviewed_Status", "Leads", Text), ("Most_Recent_Status", "Leads", Text),
    ("Source", "leads", Text), ("Market", "property", Text),
    ("Occupancy", "leads", Flag), ("Flood", "property", Text),
    ("Street_Address", "property", Text), ("City", "property", Text),
    ("State", "property", Text), ("Zip", "property", Int32),
    ("Property_Type", "property", Text), ("Highway", "property", Text),
    ("Train", "property", Text), ("Tax_Rate", "property", Dec(2, 900)),
    ("SQFT_Basement", "property", Int32), ("HTW", "property", Text),
    ("Pool", "property", Flag), ("Commercial", "property", Flag),
    ("Water", "property", Text), ("Sewage", "property", Text),
    ("Year_Built", "property", Int32), ("SQFT_MU", "property", Int32),
    ("SQFT_Total", "property", Int32), ("Parking", "property", Text),
    ("Bed", "property", Int32), ("Bath", "property", Int32),
    ("BasementYesNo", "property", Flag), ("Layout", "property", Text),
    ("Net_Yield", "Leads", Dec(2, 900)), ("IRR", "leads", Dec(2, 900)),
    ("Rent_Restricted", "property", Flag),
    ("Neighborhood_Rating", "property", Int32),
    ("Previous_Rent", "Valuation", Int32), ("List_Price", "Valuation", Int32),
    ("Zestimate", "Valuation", Int32), ("ARV", "Valuation", Int32),
    ("Expected_Rent", "Valuation", Int32), ("Rent_Zestimate", "Valuation", Int32),
    ("Low_FMR", "Valuation", Int32), ("High_FMR", "Valuation", Int32),
    ("HOA", "HOA", Int32),
    ("Underwriting_Rehab", "Rehab", Int32), ("Rehab_Calculation", "Rehab", Int32),
    ("Paint", "Rehab", Text), ("Flooring_Flag", "Rehab", Flag),
    ("Foundation_Flag", "Rehab", Flag), ("Roof_Flag", "Rehab", Flag),
    ("HVAC_Flag", "Rehab", Flag), ("Kitchen_Flag", "Rehab", Flag),
    ("Bathroom_Flag", "Rehab", Flag), ("Appliances_Flag", "Rehab", Flag),
    ("Windows_Flag", "Rehab", Flag), ("Landscaping_Flag", "Rehab", Flag),
    ("Trashout_Flag", "Rehab", Flag),
    ("Latitude", "property", Dec(6, 80)), ("Longitude", "property", Dec(6, 170)),
    ("Subdivision", "property", Text), ("Taxes", "Taxes", Int32),
    ("Redfin_Value", "Valuation", Int32), ("Selling_Reason", "Leads", Text),
    ("Seller_Retained_Broker", "leads", Flag), ("HOA_Flag", "HOA", Flag),
    ("Final_Reviewer", "Leads", Text), ("School_Average", "property", Dec(2, 90)))

  final case class Inputs(csv: String, xlsx: String, rows: Int, bytes: Long,
                          keyCollisionShare: Double)

  private val words = Vector("oak", "maple", "river", "summit", "harbor",
    "cedar", "pine", "lake", "ridge", "meadow", "stone", "bay")
  private val flags = Vector("yes", "no", "Yes", "NO", "y", "n")

  /** Write `rows` seeded rows and the workbook under `dir`. */
  def write(dir: String, rows: Int, seed: Long): Inputs = {
    new File(dir).mkdirs()
    val rnd = new Random(seed)
    val keySpace = math.max(1, (rows * KeyShare).toInt)
    val keys = Array.fill(rows)(rnd.nextInt(keySpace))
    // the same key index always yields the same (title, zip) pair
    def title(k: Int) = s"${words(k % words.size)} ${words((k / 12) % words.size)} ${k}"
    def zip(k: Int) = 10000 + (k * 7919) % 89999

    def messy(s: String): String = {
      val cased = rnd.nextInt(3) match {
        case 0 => s.toUpperCase
        case 1 => s.capitalize
        case _ => s
      }
      if (rnd.nextInt(4) == 0) s"  $cased " else cased
    }
    def cell(col: String, kind: Kind, k: Int): String = {
      val gap = rnd.nextInt(40)
      // about 2.5 % of cells empty and 2.5 % an explicit quoted ''
      if (gap == 0 && col != "Property_Title" && col != "Zip") ""
      else if (gap == 1 && (kind == Text || kind == Flag) && col != "Property_Title") "\"\""
      else (col, kind) match {
        case ("Property_Title", _) => messy(title(k))
        case ("Zip", _) => zip(k).toString
        case ("State", _) => messy(Seq("tx", "ga", "fl", "oh", "nc")(rnd.nextInt(5)))
        case ("HOA", _) => (rnd.nextInt(12) * 25).toString
        case ("Taxes", _) => (500 + rnd.nextInt(400) * 5).toString
        case ("Year_Built", _) => (1900 + rnd.nextInt(124)).toString
        case (_, Int32) => rnd.nextInt(400000).toString
        case (_, Dec(scale, max)) =>
          java.math.BigDecimal.valueOf(rnd.nextDouble() * max)
            .setScale(scale, java.math.RoundingMode.HALF_UP).toPlainString
        case (_, Flag) => messy(flags(rnd.nextInt(flags.size)))
        case _ => messy(s"${words(rnd.nextInt(words.size))} ${rnd.nextInt(50)}")
      }
    }

    val csv = s"$dir/fake_data.csv"
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(csv), StandardCharsets.UTF_8), 1 << 16)
    try {
      out.write(routing.map(_._1).mkString(",")); out.write('\n')
      keys.foreach { k =>
        out.write(routing.map { case (c, _, kind) => cell(c, kind, k) }.mkString(","))
        out.write('\n')
      }
    } finally out.close()

    val xlsx = graft.io.Xlsx.writeRows(
      Seq("Column Name", "Target Table") +: routing.map { case (c, t, _) => Seq(c, t) },
      s"$dir/field_config.xlsx")
    val counts = keys.groupBy(identity).view.mapValues(_.length)
    val colliding = keys.count(k => counts(k) > 1)
    Inputs(csv, xlsx, rows, new File(csv).length() + new File(xlsx).length(),
      colliding.toDouble / rows)
  }
}
