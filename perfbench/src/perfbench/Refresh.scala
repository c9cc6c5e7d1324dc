package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Main.Record

/** The write path after a publish, as a publisher revises a release: every
  * DUKES table of the revised chapter workbook re-published at a later
  * `ingest_ts`, one `Facade.stageIncremental`, then the collection
  * exported to one CSV per table and the DUKES tables to one xlsx
  * workbook. Returns (revise ms, export ms). */
object Refresh {

  val ReviseTs: Timestamp = Timestamp.valueOf("2025-06-01 00:00:00")

  def revise(spark: SparkSession, seed: Long, r: Main.Release, rec: Record): (Double, Double) = {
    val bookDir = s"${r.dir}/rev"
    val (changed, reviseMs) = Main.ms {
      r.tables.groupBy(_.book).toSeq.sortBy(_._1).foreach { case (b, ts) =>
        val wb = Trace.span("io.xlsx_read")(graft.io.Xlsx.read(Inputs.bookPath(bookDir, b)))
        val tpl = Trace.span("io.xlsx_read")(graft.io.Xlsx.read(Inputs.templatePath(bookDir, b)))
        ts.foreach { t =>
          Trace.span("facade.ingest", t.name)(r.facade.ingest(wb, Inputs.config(t),
            Some(Inputs.templateFrame(spark, tpl, t.name)), ingestTs = ReviseTs))
        }
      }
      Trace.span("facade.stage_incremental")(r.facade.stageIncremental())
    }
    val revised = r.tables.map(_.name).sorted
    rec.check("stageIncremental returns exactly the re-published tables",
      changed == revised, s"returned $changed, re-published $revised")
    // the writer lease every store verb takes, with an empty body
    Trace.span("ops.lease")(graft.ops.Lease.withHeld(spark, s"${r.dir}/store")(()))

    val out = s"${r.dir}/export"
    val (csvs, exportMs) = Main.ms {
      val csvs = Trace.span("io.export_csv")(r.facade.exportAll(out, "csv"))
      val dukes = r.facade.store.readProd().where(col("table_name") =!= "L.1")
      Trace.span("io.export_xlsx")(
        graft.io.Export.exportAll(dukes, r.collection, s"$out/xlsx", "xlsx"))
      csvs
    }
    val expected = Main.expectedRows(r)
    val rows = csvs.map(p => new java.io.File(p).getName -> csvDataRows(p))
    val bad = expected.filterNot { case (t, n) =>
      val prefix = s"${r.collection}_${t.replace(".", "_")}_"
      rows.exists { case (f, got) => f.startsWith(prefix) && got == n }
    }
    rec.check("one CSV per table with its rows", csvs.size == expected.size && bad.isEmpty,
      s"${csvs.size} files; wrong: ${bad.keys.mkString(",")}")
    val xlsx = Option(new java.io.File(s"$out/xlsx").listFiles()).getOrElse(Array.empty)
    rec.check("one xlsx workbook of the DUKES tables", xlsx.count(_.getName.endsWith(".xlsx")) == 1)
    checkValues(seed, r, rec)
    (reviseMs, exportMs)
  }

  /** Data rows of an exported CSV (header excluded). */
  def csvDataRows(path: String): Long = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().count(_.nonEmpty) - 1L finally src.close()
  }

  /** Each revised table's PROD values sum to the generator's revision. */
  private def checkValues(seed: Long, r: Main.Release, rec: Record): Unit = {
    val sums = r.facade.store.readProd()
      .where(col("table_name") =!= "L.1")
      .groupBy("table_name").agg(sum("value")).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    val bad = r.tables.flatMap { t =>
      val want = Inputs.longRows(seed, t, revision = 1).flatMap(_.value).sum
      val got = sums.getOrElse(t.name, Double.NaN)
      if (math.abs(got - want) <= 1e-6 * math.max(1.0, math.abs(want))) None
      else Some(s"${t.name}: expected sum $want got $got")
    }
    rec.check("revised tables hold the revised values", bad.isEmpty, bad.mkString("; "))
  }
}
