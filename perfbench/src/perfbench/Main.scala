package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.serve.Facade

/** One benchmark run inside a fresh JVM: set-up, then the workload's
  * timed loop until the deadline, then output checks. Everything the run
  * observed is written as one JSON record to `--out`; `run.py` turns the
  * record into metrics.
  *
  * Usage: perfbench.Main --workload serve|operators --seed N
  *   --seconds S --trace 0|1 --dir RUN_DIR --out RECORD.json
  *   [--data OPERATOR_DATA_DIR]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, dir: String, out: String, data: String)

  /** Everything a run reports; filled by the workloads. */
  final class Record {
    val setupS = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val checks = ArrayBuffer.empty[Map[String, Any]]
    val oracle = ArrayBuffer.empty[Map[String, Any]]
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    def op(kind: String, ms: Double, ok: Boolean, fields: (String, Any)*): Unit =
      synchronized { ops += Out.obj(Seq("kind" -> kind, "ms" -> ms, "ok" -> ok) ++ fields: _*) }
    def check(what: String, ok: Boolean, detail: Any = ""): Unit =
      synchronized { checks += Out.obj("what" -> what, "ok" -> ok, "detail" -> detail) }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("dir"), kv("out"), kv.getOrElse("data", ""))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // job call sites deep enough to reach the program's frames
      .config("spark.callstack.depth", if (o.trace) "200" else "20")
      .config("spark.local.dir", s"${o.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.dir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Record
    val t0 = System.nanoTime()
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect() // JIT warm-up
      val sentinelBefore = sentinel(spark)
      if (o.trace) Trace.start(spark.sparkContext) // set-up is traced too
      o.workload match {
        case "serve" => Serve.run(spark, o, rec)
        case "operators" => Operators.run(spark, o, rec)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      rec.extra("sentinel_ms") = Seq(sentinelBefore, sentinel(spark))
    } catch {
      case e: Throwable =>
        rec.check("run completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    rec.extra("run_s") = (System.nanoTime() - t0) / 1e9
    write(o.out, Out.value(Out.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "setup_s" -> rec.setupS, "ops" -> rec.ops, "checks" -> rec.checks,
      "oracle" -> rec.oracle) ++ rec.extra))
    spark.stop()
  }

  /** Host-load sentinel: a fixed trivial Spark job. Identical work every
    * time, so when it slows the host is under pressure, not the program. */
  def sentinel(spark: SparkSession): Double =
    median((1 to 3).map { _ =>
      val t = System.nanoTime()
      spark.range(5000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t) / 1e6
    })

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def ms[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e6)
  }

  def write(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(text) finally w.close()
  }

  def bytesUnder(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), 1L)
    else Option(dir.listFiles()).getOrElse(Array.empty).map(bytesUnder)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Run `body` with the traced-run protocol: the set-up trace is put
    * aside, an untraced pass runs, the same pass traced, and an untraced
    * pass again (the JVM keeps warming from pass to pass, so the traced
    * pass is compared with the mean of its two neighbours). Untraced runs
    * make only the first pass. `body` returns the pass's primary value. */
  def passes(spark: SparkSession, o: Opts, rec: Record)(body: Boolean => Double): Unit = {
    if (o.trace) rec.extra("setup_trace") = traceJson(Trace.stop())
    val (plain, passMs) = ms(body(false))
    rec.extra("pass_s") = passMs / 1e3
    if (o.trace) {
      Trace.start(spark.sparkContext)
      val traced = body(true)
      rec.extra("pass_trace") = traceJson(Trace.stop())
      val after = body(false)
      rec.extra("primary") = Out.obj("untraced" -> plain, "traced" -> traced,
        "untraced_after" -> after)
    }
  }

  private def traceJson(t: (Seq[Trace.Span], Seq[Trace.Job])): Map[String, Any] = Out.obj(
    "spans" -> t._1.sortBy(_.startNs).map(s => Out.obj(
      "id" -> s.id, "parent" -> s.parent, "group" -> s.group, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
    "jobs" -> t._2.map(j => Out.obj(
      "job" -> j.jobId, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "site" -> j.site, "stages" -> j.stageIds.size, "tasks" -> j.tasks.get,
      "cpu_ns" -> j.cpuNs.get, "gc_ms" -> j.gcMs.get,
      "shuffle_bytes" -> j.shuffleBytes.get, "input_bytes" -> j.inputBytes.get)),
    // one instant on both clocks: spans use nanoTime, jobs epoch millis
    "clock" -> Out.obj("nano" -> System.nanoTime(), "milli" -> System.currentTimeMillis()))

  // ----------------------------------------------------- shared publishing

  def sizes(books: Int, sheetsPerBook: Int, l1Rows: Long) = Inputs.Sizes(books,
    sheetsPerBook, seriesMin = 20, seriesMax = 199, yearsMin = 10, yearsMax = 59, l1Rows)

  val BaseTs: Timestamp = Timestamp.valueOf("2025-01-01 00:00:00")

  /** A release published into a fresh store: every chapter workbook read
    * and ingested table by table through the facade, `L.1` validated and
    * ingested through the store, then PROD and metadata staged. */
  final case class Release(dir: String, tables: Seq[Inputs.Table], facade: Facade,
                           collection: String, sizes: Inputs.Sizes)

  def writeInputs(spark: SparkSession, dir: String, seed: Long,
                  sizes: Inputs.Sizes): Seq[Inputs.Table] = {
    new File(dir).mkdirs()
    val tables = Inputs.layout(sizes)
    Inputs.writeBooks(dir, seed, tables)
    // what PROD holds once the release is revised (see Refresh.revise)
    Inputs.writeExpected(s"$dir/expected.tsv", seed, tables, revision = 1)
    Inputs.writeBooks(s"$dir/rev", seed, tables, revision = 1)
    Inputs.l1(spark, seed, sizes.l1Rows).write.parquet(s"$dir/l1.parquet")
    tables
  }

  def publish(spark: SparkSession, dir: String, tables: Seq[Inputs.Table],
              sizes: Inputs.Sizes): Release = {
    val collection = "dukes"
    val facade = new Facade(spark, s"$dir/store", collection)
    tables.groupBy(_.book).toSeq.sortBy(_._1).foreach { case (b, ts) =>
      val wb = Trace.span("io.xlsx_read")(graft.io.Xlsx.read(Inputs.bookPath(dir, b)))
      val tpl = Trace.span("io.xlsx_read")(graft.io.Xlsx.read(Inputs.templatePath(dir, b)))
      ts.sortBy(_.name).foreach { t =>
        Trace.span("facade.ingest", t.name) {
          facade.ingest(wb, Inputs.config(t), Some(Inputs.templateFrame(spark, tpl, t.name)),
            ingestTs = BaseTs)
        }
      }
    }
    Trace.span("store.ingest_l1", "L.1") {
      val src = spark.read.parquet(s"$dir/l1.parquet")
      val validated = Trace.span("etl.validate")(
        graft.etl.Validate.validateSchema(src, "L.1", Inputs.schemaFor(src, "L.1")))
      Trace.span("store.ingest")(facade.store.ingest(validated, "L.1",
        url = "https://example.org/lineitem", description = "lineitem as a release table",
        ingestTs = BaseTs))
    }
    Trace.span("facade.stage")(facade.stage())
    Release(dir, tables, facade, collection, sizes)
  }

  /** Write the inputs into `dir` and publish them; returns the release and
    * the (inputs, publish) times in ms. */
  def setupRelease(spark: SparkSession, dir: String, seed: Long,
                   sizes: Inputs.Sizes): (Release, Double, Double) = {
    val (tables, inputsMs) = ms(writeInputs(spark, dir, seed, sizes))
    val (r, publishMs) = ms(publish(spark, dir, tables, sizes))
    (r, inputsMs, publishMs)
  }

  /** Expected PROD row count of every table in a release. */
  def expectedRows(r: Release): Map[String, Long] =
    r.tables.map(t => t.name -> t.series.toLong * t.years.size).toMap +
      ("L.1" -> r.sizes.l1Rows)

  /** Output checks of a release: row counts per table in PROD, and
    * metadata for every table. */
  def checkRelease(spark: SparkSession, r: Release, rec: Record): Unit = {
    val counts = r.facade.store.readProd().groupBy("table_name").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val expected = expectedRows(r)
    val bad = expected.filter { case (t, n) => !counts.get(t).contains(n) }
    rec.check("PROD rows = series x years per table", bad.isEmpty && counts.size == expected.size,
      bad.map { case (t, n) => s"$t: expected $n got ${counts.get(t)}" }.mkString("; "))
    val meta = r.facade.metadata(None).select("table_name").distinct().collect()
      .map(_.getString(0)).toSet
    rec.check("metadata for every table", expected.keySet.subsetOf(meta),
      (expected.keySet -- meta).mkString(","))
    // Known defect, recorded rather than failed on: staging reads RAW
    // without merging file schemas, so columns that only some tables
    // carry (L.1's country and sector) are missing from PROD.
    val prodCols = r.facade.store.readProd().columns.toSet
    rec.extra("columns_dropped") =
      spark.read.parquet(s"${r.dir}/l1.parquet").columns.filterNot(prodCols).toSeq
  }
}
