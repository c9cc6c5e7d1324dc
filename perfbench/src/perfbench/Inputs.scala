package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Config
import graft.etl.Config.TableConfig
import graft.io.WorkbookReader.Workbook

/** Seeded inputs for the `serve` workload: statistics
  * release workbooks shaped like DUKES chapters (title rows, a header of
  * year columns, `[note k]` tags, `..` suppression cells) with one
  * mapping template per table, and `L.1`, a large canonical table in the
  * shape of TPC-H `lineitem`. The generator also keeps the long rows each
  * table must stage to, so outputs can be checked without the program. */
object Inputs {

  /** One release table: its name, chapter workbook, series and years. */
  final case class Table(name: String, book: Int, series: Int, years: Seq[Int])

  final case class Sizes(books: Int, sheetsPerBook: Int, seriesMin: Int,
                         seriesMax: Int, yearsMin: Int, yearsMax: Int,
                         l1Rows: Long)

  val Groups = Vector("Primary supply", "Transformation", "Energy industry use",
    "Final consumption", "Losses", "Stock change")
  val Categories = Vector("Indigenous production", "Imports", "Exports",
    "Marine bunkers", "Industry", "Transport", "Domestic", "Services")
  val Fuels = Vector("Coal", "Manufactured fuels", "Crude oil", "Petroleum products",
    "Natural gas", "Bioenergy", "Nuclear", "Wind", "Solar", "Electricity")
  val Units = Vector("ktoe", "GWh", "thousand tonnes")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val ShipModes = Vector("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  /** The table layout: which tables exist, their sizes and year ranges,
    * drawn once from the DUKES ranges and the same for every run seed, so
    * that the seed changes the contents but not the amount of work. Book
    * `b` is written to `dukes_ch_b.xlsx`. */
  def layout(s: Sizes): Seq[Table] = {
    val rnd = new Random(7919 + 17)
    for {
      b <- 1 to s.books
      k <- 1 to s.sheetsPerBook
    } yield {
      val series = s.seriesMin + rnd.nextInt(s.seriesMax - s.seriesMin + 1)
      val nYears = s.yearsMin + rnd.nextInt(s.yearsMax - s.yearsMin + 1)
      val last = 2024 - rnd.nextInt(3)
      Table(s"$b.$k", b, series, (last - nYears + 1) to last)
    }
  }

  /** Long rows of one table: (row, label, year, group, category, item,
    * fuel, unit, value). `revision` shifts every value, so a re-published
    * table differs from its first publication. */
  final case class LongRow(row: Int, label: String, year: Int, group: String,
                           category: String, item: String, fuel: String,
                           unit: String, value: Option[Double])

  private def rowsFor(seed: Long, t: Table, revision: Int)
      : (Vector[(Int, String, String, String, String, String, String)], Vector[Vector[Option[Double]]]) = {
    val rnd = new Random(seed * 31 + t.name.hashCode)
    val unit = Units(rnd.nextInt(Units.size))
    val dims = Vector.tabulate(t.series) { r =>
      val fuel = Fuels(rnd.nextInt(Fuels.size))
      val label = s"${Categories(rnd.nextInt(Categories.size))} of $fuel"
      (r, label, Groups(rnd.nextInt(Groups.size)),
        Categories(rnd.nextInt(Categories.size)), s"Series ${t.name}/$r", fuel, unit)
    }
    val values = Vector.fill(t.series, t.years.size) {
      if (rnd.nextDouble() < 0.02) None
      else Some(math.round(rnd.nextDouble() * 50000) / 10.0 + revision)
    }
    (dims, values)
  }

  def longRows(seed: Long, t: Table, revision: Int = 0): Seq[LongRow] = {
    val (dims, values) = rowsFor(seed, t, revision)
    for {
      (d, vs) <- dims.zip(values)
      (y, v) <- t.years.zip(vs)
    } yield LongRow(d._1, d._2, y, d._3, d._4, d._5, d._6, d._7, v)
  }

  /** The published sheet of one table: two title rows, a header row of
    * years (some carrying note tags), one data row per series whose
    * caption may carry a note tag, and `..` for suppressed cells. */
  def sheet(seed: Long, t: Table, revision: Int): Seq[Seq[Any]] = {
    val (dims, values) = rowsFor(seed, t, revision)
    val rnd = new Random(seed + t.name.hashCode * 13L)
    val title = Seq(s"Table ${t.name} Commodity balances [note 1]")
    val unit = Seq(s"Unit: ${dims.head._7}")
    val header = "Column1" +: t.years.map(y =>
      if (rnd.nextDouble() < 0.1) s"$y [note ${1 + rnd.nextInt(9)}]" else y.toString)
    val data = dims.zip(values).map { case (d, vs) =>
      val caption = if (rnd.nextDouble() < 0.2) s"${d._2} [note ${1 + rnd.nextInt(9)}]" else d._2
      caption +: vs.map(_.getOrElse(".."))
    }
    Seq(title, unit, Seq.empty) ++ (header +: data)
  }

  /** The mapping template of one table (sheet named after the table). */
  def template(seed: Long, t: Table): Seq[Seq[Any]] = {
    val (dims, _) = rowsFor(seed, t, 0)
    Seq("row", "label", "group", "category", "item", "fuel", "unit") +:
      dims.map(d => Seq(d._1, d._2, d._3, d._4, d._5, d._6, d._7))
  }

  def bookPath(dir: String, b: Int) = s"$dir/dukes_ch_$b.xlsx"
  def templatePath(dir: String, b: Int) = s"$dir/template_ch_$b.xlsx"

  /** Write every chapter workbook and template workbook under `dir`. */
  def writeBooks(dir: String, seed: Long, tables: Seq[Table], revision: Int = 0): Unit = {
    new java.io.File(dir).mkdirs()
    tables.groupBy(_.book).foreach { case (b, ts) =>
      val sorted = ts.sortBy(_.name)
      graft.io.Xlsx.write(bookPath(dir, b), sorted.map(t => t.name -> sheet(seed, t, revision)))
      graft.io.Xlsx.write(templatePath(dir, b), sorted.map(t => t.name -> template(seed, t)))
    }
  }

  /** The long rows every table holds at `revision`, tab-separated with a
    * header; an empty value is a suppressed cell. */
  def writeExpected(path: String, seed: Long, tables: Seq[Table], revision: Int): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println(Seq("table_name", "row", "label", "year", "group", "category", "item",
        "fuel", "unit", "value").mkString("\t"))
      for (t <- tables; r <- longRows(seed, t, revision))
        w.println(Seq(t.name, r.row, r.label, r.year, r.group, r.category, r.item, r.fuel,
          r.unit, r.value.fold("")(_.toString)).mkString("\t"))
    } finally w.close()
  }

  def config(t: Table): TableConfig =
    TableConfig(t.name, Config.SingleSheet, sheetName = Some(t.name),
      templateSheet = Some(t.name),
      url = Some(s"https://example.org/dukes_ch_${t.book}.xlsx"),
      description = Some(s"DUKES-shaped table ${t.name}"))

  /** A template sheet of a read workbook as the DataFrame `Facade.ingest`
    * joins on (`row` as int, every other column a string). */
  def templateFrame(spark: SparkSession, wb: Workbook, table: String): DataFrame = {
    val rows = wb(table)
    val header = rows.head
    val schema = StructType(header.map(h =>
      StructField(h, if (h == "row") IntegerType else StringType)))
    val data = rows.tail.filter(_.exists(_.nonEmpty)).map { r =>
      Row.fromSeq(header.indices.map { i =>
        val v = if (i < r.length) r(i) else ""
        if (header(i) == "row") v.toDouble.toInt else v
      })
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  /** `L.1`: a canonical long table in the shape of TPC-H `lineitem`,
    * deterministic in `seed`. Row identity comes from a generated index
    * (the natural `(orderkey, linenumber)` pair repeats in lineitem). */
  def l1(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    def h(k: Int, m: Int) = pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(m.toLong))
    def pick(xs: Seq[String], k: Int) =
      element_at(array(xs.map(lit): _*), (h(k, xs.size) + 1).cast("int"))
    spark.range(rows).select(
      col("id").cast("int").as("row"),
      lit("Line item").as("label"),
      (lit(1992) + h(1, 7)).cast("int").as("year"),
      pick(Seq("A", "N", "R"), 2).as("group"),
      pick(Seq("F", "O"), 3).as("category"),
      concat(lit("L"), col("id").cast("string")).as("item"),
      concat(lit("NATION_"), h(4, 25).cast("string")).as("country"),
      pick(Segments, 5).as("sector"),
      pick(ShipModes, 6).as("fuel"),
      lit("GBP").as("unit"),
      (round(h(7, 10000000).cast("double") / 100.0, 2) + 900.0).as("value"))
  }

  /** The canonical schema restricted to a frame's columns, as
    * `Facade.ingest` passes it to validation. */
  def schemaFor(frame: DataFrame, table: String): StructType = {
    val canonical = graft.model.CanonicalSchema.struct
    StructType(("table_name" +: frame.columns.toIndexedSeq).distinct.map(c =>
      canonical.fields.find(_.name == c).getOrElse(StructField(c, StringType))))
  }
}
