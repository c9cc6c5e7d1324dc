package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.serve.HttpApi
import Main.{Opts, Record}

/** `serve`: the REST read path, after the write path in set-up. Set-up
  * writes the inputs, publishes them (workbooks -> `Facade.ingest` per
  * table, `L.1` through validation and the store, `Facade.stage`), revises
  * the release and exports it ([[Refresh.revise]]), and warms the server.
  * Then `Clients` closed-loop clients each walk keyset pages
  * over `GET /data`, taking page-walk sessions from a fixed seeded mix:
  * one-page walks over the small DUKES tables and multi-page walks over
  * the large `L.1` partition, with selective and broad filters,
  * case-insensitive `eq` and `like`, `$or` groups and string-to-int
  * casts. A closed loop fits: each next page needs the previous reply's
  * cursor. */
object Serve {

  val Clients = 4

  final case class Session(table: String, filters: String, limit: Int)

  /** DUKES walks are one page: every DUKES filter selects an eighth of a
    * table or so (under 2,000 of at most 11,741 rows). */
  val DukesLimit = 5000

  /** The session mix for a release: ten one-page DUKES walks and twelve
    * multi-page `L.1` walks. */
  def sessions(seed: Long, tables: Seq[Inputs.Table]): Vector[Session] = {
    val rnd = new Random(seed * 101 + 7)
    def any[A](xs: Seq[A]) = xs(rnd.nextInt(xs.size))
    // every DUKES shape selects a fixed share of its table (a tenth to an
    // eighth) whatever the seed draws, and the sessions take the tables
    // in turn
    def dukes(i: Int): Session = {
      val t = tables(i % tables.size)
      val mid = t.years(t.years.size / 2)
      val Seq(fuel, other) = rnd.shuffle(Inputs.Fuels).take(2)
      val f = i % 5 match {
        case 0 => s"""{"fuel": "${fuel.toLowerCase}"}"""
        case 1 => s"""{"year": {"gte": "$mid"}, "group": "${any(Inputs.Groups).toUpperCase}"}"""
        case 2 => s"""{"$$or": [{"fuel": "${fuel.toLowerCase}"}, {"fuel": "$other"}], "year": {"lt": $mid}}"""
        case 3 => s"""{"category": {"like": "%port%"}, "value": {"gt": ${2000 + rnd.nextInt(1000)}}}"""
        case _ => s"""{"item": {"like": "%/${rnd.nextInt(10)}"}}"""
      }
      Session(t.name, f, DukesLimit)
    }
    // every L.1 shape selects a fixed share of the 50,000 rows whatever the
    // seed draws (1,400 to 3,600 rows: two to four pages)
    def l1(shape: Int): Session = {
      val year = 1992 + rnd.nextInt(7)
      val mode = any(Inputs.ShipModes)
      val f = shape match {
        case 0 => s"""{"fuel": "${mode.toLowerCase}", "year": {"gte": "1996"}}"""
        case 1 => s"""{"$$or": [{"group": "${any(Seq("a", "n", "r"))}"}, {"fuel": "$mode"}], "category": "${any(Seq("f", "o"))}", "year": $year}"""
        case 2 => s"""{"item": {"like": "l${1 + rnd.nextInt(4)}%"}, "year": "$year", "fuel": {"neq": "$mode"}}"""
        case _ => s"""{"label": {"like": "%item"}, "value": {"gte": ${50900 + rnd.nextInt(1000)}}, "year": $year}"""
      }
      Session("L.1", f, 1000)
    }
    // every filter shape equally often, so each seed asks for similar work
    Vector.tabulate(10)(dukes) ++ Vector.tabulate(12)(i => l1(i % 4))
  }

  /** One page as the client saw it. */
  final case class Page(ms: Double, rows: Int, bytes: Int)

  /** Outcome of one walk: its pages and whether it ran to its last page. */
  final case class Walk(pages: Seq[Page], complete: Boolean, problems: Seq[String]) {
    def rows: Long = pages.map(_.rows.toLong).sum
  }

  def walk(client: HttpClient, port: Int, s: Session, deadline: Long): Walk = {
    val pages = ArrayBuffer.empty[Page]
    val problems = ArrayBuffer.empty[String]
    var cursor: Option[Long] = None
    var done = false
    while (!done && (System.nanoTime() < deadline || pages.isEmpty)) {
      val url = s"http://127.0.0.1:$port/data/dukes?table_name=${enc(s.table)}" +
        s"&filters=${enc(s.filters)}&limit=${s.limit}" + cursor.fold("")(c => s"&cursor=$c")
      val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
      val t0 = System.nanoTime()
      val resp = Trace.span("serve.http")(client.send(req, HttpResponse.BodyHandlers.ofString()))
      val ms = (System.nanoTime() - t0) / 1e6
      if (resp.statusCode != 200) {
        pages += Page(ms, 0, resp.body.length)
        problems += s"HTTP ${resp.statusCode}: ${resp.body.take(200)}"
        done = true
      } else {
        val body = graft.dsl.Json.parse(resp.body).asInstanceOf[Map[String, Any]]
        val data = body("data").asInstanceOf[Vector[Any]]
        pages += Page(ms, data.size, resp.body.length)
        if (body("table_name") != s.table) problems += s"table_name ${body("table_name")}"
        if (data.size > s.limit) problems += s"${data.size} rows over limit ${s.limit}"
        body("next_cursor") match {
          case null => done = true
          case c: Long =>
            if (cursor.exists(_ >= c)) { problems += s"cursor $c after ${cursor.get}"; done = true }
            cursor = Some(c)
          case other => problems += s"next_cursor $other"; done = true
        }
      }
    }
    Walk(pages.toSeq, done && problems.isEmpty, problems.toSeq)
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  /** `n` clients walk sessions until the deadline. */
  def closedLoop(port: Int, mix: Vector[Session], n: Int, seed: Long, seconds: Double,
                 rec: Record, phase: String, traced: Boolean): Seq[Double] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lat = ArrayBuffer.empty[Double]
    val walks = new java.util.concurrent.atomic.AtomicLong
    val threads = (0 until n).map { c =>
      new Thread(() => {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        // each client walks the whole mix in its own seeded order, again
        // and again, so every run spreads its requests over the same mix
        val order = Iterator.continually(new Random(seed * 1000 + c).shuffle(mix)).flatten
        while (System.nanoTime() < deadline) {
          val s = order.next()
          val unit = s"$phase-$traced-c$c-${walks.incrementAndGet()}"
          val w = Trace.span("serve.walk", unit)(walk(client, port, s, deadline))
          lat.synchronized { lat ++= w.pages.map(_.ms) }
          w.pages.zipWithIndex.foreach { case (p, i) =>
            val last = i == w.pages.size - 1
            rec.op("get_data", p.ms, ok = !last || w.problems.isEmpty, "phase" -> phase,
              "client" -> c, "traced" -> traced, "unit" -> unit, "rows" -> p.rows,
              "bytes" -> p.bytes)
          }
          if (w.problems.nonEmpty) rec.check(s"walk ${s.table} ${s.filters}", ok = false,
            w.problems.mkString("; "))
          if (w.complete) rec.synchronized {
            rec.oracle += Out.obj("table" -> s.table, "filters" -> s.filters, "total" -> w.rows,
              "unit" -> unit)
          }
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    lat.toSeq
  }

  def run(spark: SparkSession, o: Opts, rec: Record): Unit = {
    val sizes = Main.sizes(books = 1, sheetsPerBook = 2, l1Rows = 50000)
    val (r, inputsMs, publishMs) = Main.setupRelease(spark, s"${o.dir}/setup", o.seed, sizes)
    val (reviseMs, exportMs) = Refresh.revise(spark, o.seed, r, rec)
    val mix = sessions(o.seed, r.tables)
    val api = new HttpApi(r.facade, r.collection)
    val port = api.start()
    // warm-up: the first page of every third session once
    val (_, warmMs) = Main.ms {
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      mix.grouped(3).map(_.head).foreach(s => walk(client, port, s, 0L))
    }
    rec.setupS += (inputsMs + publishMs + reviseMs + exportMs + warmMs) / 1e3
    rec.extra("setup_phases_s") = Out.obj("inputs" -> inputsMs / 1e3,
      "publish" -> publishMs / 1e3, "revise" -> reviseMs / 1e3, "export" -> exportMs / 1e3,
      "warm_up" -> warmMs / 1e3)
    try {
      Main.passes(spark, o, rec) { traced =>
        if (traced) layerProbes(r, mix, port, o, rec)
        Main.median(closedLoop(port, mix, Clients, o.seed, o.seconds, rec, "clients", traced))
      }
      // Known defect, recorded rather than failed on: PROD's row_uid is
      // ingest_id * 2^32 + sheet row, shared by every year of a series, so
      // a keyset walk over more than one page of a DUKES table skips the
      // rows that share the row_uid at each page boundary.
      val big = r.tables.maxBy(t => t.series * t.years.size)
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val w = walk(client, port, Session(big.name, "{}", 1000), Long.MaxValue)
      rec.extra("keyset_rows_lost") = big.series.toLong * big.years.size - w.rows
    } finally api.stop()
    Main.checkRelease(spark, r, rec)
    val (bytes, files) = Main.bytesUnder(new java.io.File(s"${r.dir}/store"))
    rec.extra("store") = Out.obj("bytes" -> bytes, "files" -> files,
      "prod_bytes" -> Main.bytesUnder(new java.io.File(r.facade.store.prodPath))._1,
      "raw_bytes" -> Main.bytesUnder(new java.io.File(r.facade.store.rawPath))._1)
    rec.extra("sessions") = mix.map(s => Out.obj("table" -> s.table, "filters" -> s.filters,
      "limit" -> s.limit))
  }

  /** Traced run only: the first page of every session through each layer
    * on its own, one caller at a time — `Store.readProd`, the DSL
    * compile, `QueryService.query` with the page collect, and one client
    * over HTTP — so the 4-client latency can be split into layer cost and
    * queueing on the server's dispatch thread. */
  private def layerProbes(r: Main.Release, mix: Vector[Session], port: Int, o: Opts,
                          rec: Record): Unit = {
    mix.zipWithIndex.foreach { case (s, i) =>
      Trace.span("serve.probe", s"p$i:${s.table}") {
        val prod = Trace.span("store.read_prod")(r.facade.store.readProd())
        val queryable = r.facade.store.queryableColumns(s.table)
        Trace.span("dsl.compile")(
          graft.dsl.FilterDsl.compileJson(s.filters, prod.schema, Some(queryable)))
        Trace.span("serve.query") {
          r.facade.queryService.query(s.table, s.filters, s.limit).data.collect()
        }
      }
    }
    // one client over HTTP for the same time share as the closed loop
    closedLoop(port, mix, 1, o.seed, o.seconds / 2, rec, "one_client", traced = true)
  }
}
