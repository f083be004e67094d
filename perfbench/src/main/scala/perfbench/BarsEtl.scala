package perfbench

import java.time.{DayOfWeek, LocalDate}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.io.{BarsHttpClient, JdbcClient, Tables}
import graft.meta.AuditLog
import graft.ops.{Enrich, Windows}
import graft.pipeline.Runner
import graft.state.Checkpoint

/** Seeded OHLCV bar source. A bar is a pure function of (seed, symbol,
  * day, revision): a day is served provisionally (revision 0) on the
  * day itself and in its final form (revision 1) from the next day on,
  * so the pipeline's inclusive re-read of the overlap day must let the
  * newest bar win. */
final class BarsSource(seed: Long, val symbols: Int) {
  val names: IndexedSeq[String] = (0 until symbols).map(i => f"S$i%03d")

  private val first = LocalDate.of(2023, 1, 2)
  private val days = mutable.ArrayBuffer[LocalDate]()
  /** The trading day with index `d` (weekends skipped). */
  def day(d: Int): LocalDate = {
    while (days.size <= d) {
      var next = days.lastOption.map(_.plusDays(1)).getOrElse(first)
      while (next.getDayOfWeek == DayOfWeek.SATURDAY ||
             next.getDayOfWeek == DayOfWeek.SUNDAY) next = next.plusDays(1)
      days += next
    }
    days(d)
  }
  def ts(d: Int): String = s"${day(d)}T05:00:00Z"
  /** Index of the first trading day on or after ISO date `date`. */
  def dayIndex(date: String): Int = {
    val t = LocalDate.parse(date.take(10))
    var d = 0
    while (day(d).isBefore(t)) d += 1
    d
  }

  private def r2(x: Double) = math.round(x * 100) / 100.0

  /** (open, high, low, close, volume, trades, vwap) */
  def bar(sym: Int, d: Int, rev: Int): (Double, Double, Double, Double, Long, Long, Double) = {
    val rnd = new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L + sym * 1000003L + d * 8191L + rev)
    val base = 20.0 + (sym * 37 % 400) + 15.0 * math.sin(d / 20.0 + sym)
    val open = r2(base * (1 + rnd.nextDouble(-0.02, 0.02)))
    val close = r2(base * (1 + rnd.nextDouble(-0.03, 0.03)))
    val high = r2(math.max(open, close) * (1 + rnd.nextDouble(0, 0.02)))
    val low = r2(math.min(open, close) * (1 - rnd.nextDouble(0, 0.02)))
    val trades = 1000L + rnd.nextLong(50000L)
    val volume = trades * (50L + rnd.nextLong(200L))
    (open, high, low, close, volume, trades, r2((open + close + high + low) / 4))
  }

  /** The bars API as seen on day `now`: symbol-major, ascending time,
    * `limit` bars per page chained by an offset page token. */
  var now: Int = 0
  var pages: Long = 0L
  val transport: BarsHttpClient.Transport = (url, _) => Trace.span("io.http") {
    val q = url.substring(url.indexOf('?') + 1).split('&').map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
    }.toMap
    val wanted = q("symbols").split(',').map(s => s.drop(1).toInt)
    val from = dayIndex(q("start"))
    val perSym = math.max(0, now - from + 1)
    val total = wanted.length * perSym
    val offset = q.get("page_token").map(_.toInt).getOrElse(0)
    val limit = q("limit").toInt
    val end = math.min(total, offset + limit)
    val sb = new StringBuilder("{\"bars\":{")
    var lastSym = -1
    (offset until end).foreach { i =>
      val s = wanted(i / perSym); val d = from + i % perSym
      val (o, h, l, c, v, n, vw) = bar(s, d, if (d < now) 1 else 0)
      if (s != lastSym) {
        if (lastSym >= 0) sb.append("],")
        sb.append('"').append(names(s)).append("\":[")
        lastSym = s
      } else sb.append(',')
      sb.append(s"""{"c":$c,"h":$h,"l":$l,"n":$n,"o":$o,"t":"${ts(d)}","v":$v,"vw":$vw}""")
    }
    if (lastSym >= 0) sb.append(']')
    sb.append("},\"next_page_token\":")
    sb.append(if (end < total) "\"" + end + "\"" else "null").append('}')
    pages += 1
    (200, sb.toString)
  }
}

/** The paper's pipeline, batch by batch: extract through the paginated
  * HTTP client, enrich with the company dimension, upsert under the
  * max-timestamp checkpoint, rebuild the window analysis over the whole
  * table and publish it to the embedded JDBC store. */
final class BarsEtl(ctx: Ctx) extends Workload {
  import ctx.spark

  private val symbols = 100
  private val historyDays = 250
  private val table = "stock_bars"
  private val cols = Seq("stock", "company", "timestamp", "open", "high",
    "low", "close", "volume", "volume_weighted_avg_price", "number_of_trades")

  private var dir: String = _
  private var src: BarsSource = _
  private var dim: DataFrame = _
  private var runner: Runner = _
  private var cp: Checkpoint = _
  private var jdbc: JdbcClient = _
  private var client: BarsHttpClient = _
  private var jdbcRows = 0L
  private val written = mutable.Map[Int, Long]()
  private val auditDelta = mutable.Map[Int, (Long, Long)]()
  private var auditSeen = (0L, 0L)
  private val httpPages = mutable.Map[Int, Long]()

  /** A set-up takes about half a second (a small Spark job and a Derby
    * database creation), so it is repeated more often than the
    * analytics set-up to steady its median. */
  def setupReps: Int = 5

  def setup(root: String): Unit = {
    dir = root
    src = new BarsSource(ctx.seed, symbols)
    val dimPath = s"$root/dim/companies.csv"
    val lines = "Company,Symbol,Exchange" +: src.names.zipWithIndex.map {
      case (s, i) => s"Company $s Inc,$s,${if (i % 3 == 0) "NYSE" else "NASDAQ"}" }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/dim"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dimPath),
      lines.mkString("", "\n", "\n"))
    dim = Tables.readCsv(spark, dimPath, Tables.dimCsvSchema).cache()
    dim.count()
    cp = new Checkpoint(spark, s"$root/checkpoints")
    runner = new Runner(spark, cp, new AuditLog(spark, s"$root/audit"))
    jdbc = new JdbcClient(s"jdbc:derby:$root/serving;create=true")
    jdbc.tableExists("sys.systables") // boots and creates the database
    client = new BarsHttpClient("bench-key", "bench-secret", src.transport)
    auditSeen = (0L, 0L)
  }

  /** One pipeline run as of trading day `now`, extracting from `start`. */
  private def runDay(now: Int, start: Int): Long = {
    src.now = now
    val pages0 = src.pages
    val bars = Trace.span("pipeline.extract") {
      val b = runner.extractBars(client, s"$dir/landing",
        src.names.mkString(","), "1Day", src.day(start).toString).persist()
      b.count()
      b
    }
    val enriched = Trace.span("ops.enrich_window") {
      val e = Enrich.enrich(bars, dim, "stock", "Symbol",
        dropDimCols = Seq("Exchange")).withColumnRenamed("Company", "company")
        .select(cols.map(col): _*).persist()
      e.count()
      e
    }
    val n = Trace.span("pipeline.load") {
      runner.loadIncremental(enriched, s"$dir/$table", table,
        Seq("stock", "timestamp"), "timestamp")
    }
    bars.unpersist(); enriched.unpersist()
    val ok = Trace.span("pipeline.analysis") {
      runner.runAnalysis(s"${table}_analysis", s"$dir/analysis") {
        Windows.barAnalysis(spark.read.parquet(s"$dir/$table").drop("dt"),
          "stock", "timestamp", "company", "close")
      }
    }
    if (!ok) throw new RuntimeException(s"analysis stage failed on day $now")
    Trace.span("io.jdbc") {
      jdbc.overwrite(spark.read.parquet(s"$dir/analysis"), s"${table}_analysis")
    }
    httpPages(Trace.op) = src.pages - pages0
    written(Trace.op) = n
    n
  }

  override def teardown(): Unit = {
    dim.unpersist(blocking = true)
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$dir/serving;shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby signals shutdown by throwing
  }

  def backfill(): Long = { runDay(historyDays - 1, 0); symbols.toLong * historyDays }

  def op(k: Int): Long = {
    val now = historyDays - 1 + k
    runDay(now, now - 1)
    symbols
  }

  /** `xxhash64` over one row's values, as Spark computes it. */
  private def rowHash(values: Seq[Any]): Long = values.foldLeft(42L) {
    case (seed, x: String) =>
      XxHash64Function.hash(UTF8String.fromString(x), StringType, seed)
    case (seed, x: Double) => XxHash64Function.hash(x, DoubleType, seed)
    case (seed, x: Long) => XxHash64Function.hash(x, LongType, seed)
    case (_, x) => sys.error(s"unhashed value $x")
  }

  private def countRows(table: String): Long = {
    val c = java.sql.DriverManager.getConnection(
      s"jdbc:derby:$dir/serving")
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  def check(k: Int): Seq[String] = {
    val now = src.now
    val errs = mutable.ArrayBuffer[String]()
    // independent newest-wins recompute over every bar served so far,
    // hashed on the driver the way Main.contentHash hashes the table
    var sum = BigInt(0)
    for (s <- 0 until symbols; d <- 0 to now) {
      val (o, h, l, c, v, n, vw) = src.bar(s, d, if (d < now) 1 else 0)
      sum += rowHash(Seq(src.names(s), s"Company ${src.names(s)} Inc",
        src.ts(d), o, h, l, c, v, vw, n))
    }
    val want = s"${symbols.toLong * (now + 1)}:$sum"
    val got = Main.contentHash(spark.read.parquet(s"$dir/$table")
      .select(cols.map(col): _*))
    if (got != want) errs += s"day $now: target hash $got != recompute $want"
    val wm = Trace.span("state.checkpoint") { cp.get(table) }
    if (!wm.contains(src.ts(now)))
      errs += s"day $now: checkpoint $wm != max timestamp ${src.ts(now)}"
    val analysisRows = spark.read.parquet(s"$dir/analysis").count()
    jdbcRows = countRows(s"${table}_analysis")
    if (jdbcRows != analysisRows || analysisRows != symbols.toLong * (now + 1))
      errs += s"day $now: derby rows $jdbcRows, analysis rows $analysisRows, " +
        s"expected ${symbols.toLong * (now + 1)}"
    val files = org.apache.commons.io.FileUtils.listFiles(
      new java.io.File(s"$dir/audit"), Array("parquet"), true)
    val audit = (files.size.toLong,
      files.toArray.map(_.asInstanceOf[java.io.File].length).sum)
    auditDelta(Trace.op) = (audit._1 - auditSeen._1, audit._2 - auditSeen._2)
    auditSeen = audit
    errs.toSeq
  }

  def finalCheck(): Seq[String] = Nil
  def passLen: Int = 1

  /** After the cold backfill the first batch still reads about a quarter
    * slower than later ones (the JIT is at work). */
  override def warmupPasses: Int = 1

  def layers(m: Metrics): Map[String, Double] = {
    def perOp(x: mutable.Map[Int, Long]) =
      Main.median(x.filter(_._1 >= 1).values.map(_.toDouble).toSeq)
    Map(
      "io.http.pages" -> perOp(httpPages),
      "io.http.ms" -> m.ms("io.http"),
      "io.jdbc.ms" -> m.ms("io.jdbc"),
      "io.jdbc.rows" -> jdbcRows.toDouble,
      "pipeline.extract.ms" -> m.ms("pipeline.extract"),
      "pipeline.load.ms" -> m.ms("pipeline.load"),
      "pipeline.load.jobs" -> m.jobs("pipeline.load"),
      "pipeline.load.stages" -> m.stages("pipeline.load"),
      "pipeline.load.driver_gap_ms" -> m.gapMs("pipeline.load"),
      "pipeline.load.write_amp" -> perOp(written) / symbols,
      "pipeline.analysis.ms" -> m.ms("pipeline.analysis"),
      "pipeline.analysis.stages" -> m.stages("pipeline.analysis"),
      "state.checkpoint.ms" -> Main.median(Trace.all
        .filter(s => s.name == "state.checkpoint" && s.op >= 1).map(_.ms)),
      "state.audit.files" -> perOp(auditDelta.map { case (k, v) => k -> v._1 }),
      "state.audit.bytes" -> perOp(auditDelta.map { case (k, v) => k -> v._2 }),
      "ops.enrich_window.ms" -> m.ms("ops.enrich_window"))
  }

  def info: Map[String, Any] = Map(
    "symbols" -> symbols, "history_days" -> historyDays,
    "history_rows" -> symbols * historyDays, "rows_per_batch" -> symbols,
    "bars_per_page" -> 1000, "overlap_days_reread" -> 1)
}
