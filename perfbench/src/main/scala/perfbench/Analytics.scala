package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Passes over a fixed mix of registry keys (`SparkEntry.queries`),
  * grouped by the layer they exercise: the query families, the
  * monitoring key (each call replays the daily batch into the persisted
  * CalibrationIndex, whose history fixture the cold pass builds, then
  * reads the store) and the pure text operators. The cold first pass
  * lands each key's result for the DuckDB oracle diff (done by the
  * launcher after the run); every timed query's content hash must equal
  * its checked result. */
final class Analytics(ctx: Ctx) extends Workload {
  import ctx.spark

  /** key -> (query family, the layer it exercises within its family).
    * Each key runs inside a `queries.<family>` span and, if it has one,
    * a nested span named after its layer. */
  val mix: Seq[(String, String, Option[String])] = Seq(
    ("q_join_enrich", "core", None),
    ("q_window_rank", "rel", None),
    ("q_ece_grouped_incremental", "monitor", Some("store.calibration")),
    ("q_quality_score", "ext", Some("ops.quality")))
  private val keys = mix.map(_._1)

  /** The seeded tables, landed by the launcher before the JVM starts
    * (perfbench/tables.py). */
  private val data: String = ctx.data.getOrElse(sys.error("--data is required"))
  private val ref = mutable.Map[String, String]()
  private val got = mutable.Map[Int, (String, String)]()
  private def out = s"${ctx.work}/results"

  /** Rows of each input table as the engine read it at set-up. */
  val tableRows = mutable.Map[String, Long]()

  def setupReps: Int = 3

  /** Reads every input table through `graft.io.Tables.read` and scans it
    * in full (a content hash over all columns). The launcher generated
    * the tables once before the JVM started; it checks these row counts
    * against the counts it generated. `dir` is unused. */
  def setup(dir: String): Unit =
    new java.io.File(data).list().filter(_.endsWith(".parquet")).sorted
      .foreach { f =>
        val name = f.stripSuffix(".parquet")
        val h = Main.contentHash(graft.io.Tables.read(spark, data, name))
        tableRows(name) = h.takeWhile(_ != ':').toLong
      }

  /** `body` (which runs `key`) inside the key's family and layer spans. */
  private def traced[A](key: String)(body: => A): A = {
    val (_, family, layer) = mix.find(_._1 == key).get
    Trace.span(s"queries.$family") {
      layer.fold(body)(l => Trace.span(l)(body))
    }
  }

  private def run(key: String): DataFrame =
    graft.SparkEntry.queries(key)(spark, data)

  /** The cold pass: every key once, its result landed for the oracle;
    * the store keys build their history fixtures here. */
  def backfill(): Long = {
    val missing = keys.filterNot(graft.SparkEntry.oracleSql.contains)
    require(missing.isEmpty, s"keys without an oracle: $missing")
    keys.map { key =>
      traced(key) { run(key).coalesce(1).write.parquet(s"$out/$key") }
      ref(key) = Main.contentHash(spark.read.parquet(s"$out/$key"))
      ref(key).takeWhile(_ != ':').toLong
    }.sum
  }

  def op(k: Int): Long = {
    val key = keys((k - 1) % keys.size)
    val h = traced(key) { Main.contentHash(run(key)) }
    got(k) = key -> h
    h.takeWhile(_ != ':').toLong
  }

  def check(k: Int): Seq[String] = got.get(k).toSeq.collect {
    case (key, h) if ref(key) != h => s"$key: pass hash $h != checked ${ref(key)}"
  }

  def finalCheck(): Seq[String] = {
    val sql = keys.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Main.json(sql))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/data_dir"), data)
    Nil
  }

  def passLen: Int = keys.size

  /** After the cold pass the JIT keeps compiling for tens of passes: the
    * first warm pass reads about 30 % slower than the tenth. Five
    * warm-up passes take the timed ones past the steepest part of that
    * curve. */
  override def warmupPasses: Int = 5

  /** (files, bytes) of the parquet files among or under the entries of
    * `dir` whose name starts with `prefix`. */
  private def du(dir: String, prefix: String): (Long, Long) = {
    val files = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(prefix))
      .flatMap(f => if (f.isFile) Seq(f) else org.apache.commons.io.FileUtils
        .listFiles(f, Array("parquet"), true).toArray.map(_.asInstanceOf[java.io.File]))
    (files.size.toLong, files.map(_.length).sum)
  }

  def layers(m: Metrics): Map[String, Double] = {
    val spans = mix.map(k => s"queries.${k._2}").distinct ++
      Seq("store.calibration", "ops.quality")
    val (files, bytes) =
      du(System.getProperty("java.io.tmpdir"), "graft_fx_calib_idx_by_")
    def pass(l: String)(stat: Trace.Span => Double) = m.perPass(l, passLen)(stat)
    spans.flatMap(l => Seq(s"$l.ms" -> pass(l)(_.ms),
        s"$l.stages" -> pass(l)(s => m.folded.aggs(s.id).stages.toDouble)))
      .toMap ++ Map(
        "store.calibration.driver_gap_ms" -> m.gapMs("store.calibration"),
        "store.calibration.files" -> files.toDouble,
        "store.calibration.bytes_per_input_byte" ->
          bytes.toDouble / du(data, "documents.parquet")._2)
  }

  def info: Map[String, Any] = Map("keys" -> mix.map(k =>
    k._1 -> (s"queries.${k._2}" +: k._3.toSeq)).toMap,
    "engine_table_rows" -> tableRows.toMap)
}
