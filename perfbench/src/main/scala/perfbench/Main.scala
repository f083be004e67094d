package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Everything a workload needs from the harness. `work` is this run's
  * private scratch root; `seed` drives every generated input; `data` is
  * the directory of inputs the launcher generated, if any. */
final case class Ctx(spark: SparkSession, seed: Long, work: String,
                     data: Option[String])

/** One benchmark workload, driven by [[Main]] in a closed loop with one
  * client: set up (repeated, for a steady set-up time), back-fill, then
  * timed passes of operations, each op followed by its output check
  * before the next one starts. */
trait Workload {
  /** Generate the inputs and base fixtures under `dir`; the harness runs
    * this `setupReps` times into fresh directories and keeps the last. */
  def setup(dir: String): Unit
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int
  /** Release what `setup` opened (databases, cached frames) before its
    * directory is deleted. Runs outside the timed set-up. */
  def teardown(): Unit = ()
  /** Cold load of the history; returns the rows committed. */
  def backfill(): Long
  /** Operation `k`, numbered from 1 over the warm-up and then the timed
    * ops; returns the new input rows it committed (or result rows, for
    * the read-only workload). */
  def op(k: Int): Long
  /** Output check after op `k`; returns the failed checks. Runs inside
    * the closed loop (the next op waits for it) but outside the op's
    * latency. */
  def check(k: Int): Seq[String]
  /** Checks that run once after the timed phase. */
  def finalCheck(): Seq[String]
  /** Ops per pass: a pass is the fixed op sequence `pass_s` times. The
    * timed phase runs whole passes, at least one, until the time budget
    * is spent. */
  def passLen: Int
  /** Untimed, checked passes between the backfill and the timed phase,
    * so that the timed passes run on compiled code. */
  def warmupPasses: Int = 0
  /** Layer metrics from the folded trace of the timed ops. */
  def layers(m: Metrics): Map[String, Double]
  /** Input sizes and anything else a reader needs to interpret a run. */
  def info: Map[String, Any]
}

object Main {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Order-independent content hash of a frame: row count plus the
    * decimal sum of each row's xxhash64 (a long sum would overflow under
    * ANSI mode), computed in ONE action. */
  def contentHash(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def rmTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
  }

  def json(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(
      org.json4s.DefaultFormats)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val out = opts("out")
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Graft.harnessSession(cores.toString)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    if (traced) Trace.install(spark)
    val ctx = Ctx(spark, seed, work, opts.get("data"))
    val wl: Workload = workload match {
      case "bars_etl" => new BarsEtl(ctx)
      case "analytics_scan" => new Analytics(ctx)
      case w => sys.error(s"unknown workload '$w'")
    }

    val errors = mutable.ArrayBuffer[String]()
    var attempted = 1 // the backfill
    var failed = 0

    // set-up, several times into fresh directories: the median is the
    // set-up time
    val setupReps = wl.setupReps
    val setupTimes = (1 to setupReps).map { i =>
      val dir = s"$work/setup$i"
      val t0 = System.nanoTime()
      Trace.span("setup") { wl.setup(dir) }
      val dt = secondsSince(t0)
      if (i < setupReps) { wl.teardown(); rmTree(dir) }
      progress(f"set-up $i: $dt%.2f s")
      dt
    }
    spark.catalog.clearCache()
    val heapSetup = heapAfterGcMb()

    Trace.op = 0
    val tb = System.nanoTime()
    val backfillRows = Trace.span("backfill") { wl.backfill() }
    val backfillS = secondsSince(tb)
    progress(f"backfill $backfillS%.2f s")
    val backfillErrs = Trace.span("check") { wl.check(0) }
    if (backfillErrs.nonEmpty) failed += 1
    errors ++= backfillErrs

    Trace.op = -3
    val warm = wl.warmupPasses * wl.passLen
    val tw = System.nanoTime()
    Trace.span("warmup") {
      for (k <- 1 to warm) {
        attempted += 1
        val errs = try { wl.op(k); wl.check(k) } catch {
          case e: Throwable => Seq(s"warm-up op $k threw: $e")
        }
        if (errs.nonEmpty) failed += 1
        errors ++= errs
      }
    }
    if (warm > 0) progress(f"warm-up ${secondsSince(tw)}%.2f s")

    val gc0 = gcMs(); val jit0 = jitMs()
    val lat = mutable.ArrayBuffer[Double]()  // op latency, check excluded
    val cycle = mutable.ArrayBuffer[Double]() // op + its check
    var rows = 0L
    val t0 = System.nanoTime()
    var k = 0
    while (k == 0 || k % wl.passLen != 0 || secondsSince(t0) < seconds) {
      k += 1
      Trace.op = k
      attempted += 1
      val ts = System.nanoTime()
      val ok = try {
        rows += Trace.span("op") { wl.op(warm + k) }
        true
      } catch {
        case e: Throwable =>
          errors += s"op $k threw: $e"
          false
      }
      lat += secondsSince(ts)
      val errs = if (ok) Trace.span("check") { wl.check(warm + k) } else Nil
      cycle += secondsSince(ts)
      progress(f"op $k: ${lat.last}%.3f s (with check ${cycle.last}%.3f s; " +
        s"jit ${jitMs() - jit0} ms, gc ${gcMs() - gc0} ms so far)")
      if (!ok || errs.nonEmpty) failed += 1
      errors ++= errs
    }
    val timedS = secondsSince(t0)
    val gcTimed = gcMs() - gc0
    val jitTimed = jitMs() - jit0
    Trace.op = -2
    val finalErrs = Trace.span("check") { wl.finalCheck() }
    if (finalErrs.nonEmpty) failed += 1
    errors ++= finalErrs
    spark.catalog.clearCache()
    val heapEnd = heapAfterGcMb()

    val passes = cycle.grouped(wl.passLen).map(_.sum).toSeq
    // a pass's time is the sum, over its op positions, of the median
    // cycle time at that position: a host hiccup that slows one op then
    // moves one sample of one position instead of a whole pass
    val passS = (0 until wl.passLen).map(i => median(
      cycle.indices.filter(_ % wl.passLen == i).map(cycle).toSeq)).sum
    val q = math.max(1, lat.size / 4)
    val e2e = Map(
      "setup_s" -> median(setupTimes),
      "pass_s" -> passS)

    // backfill_s is one cold sample per run (a second backfill in the
    // same JVM is no longer cold), so it follows the host's slow spells
    // and did not repeat within a tenth: it is a per-layer metric
    val common = Map(
      "backfill_s" -> backfillS,
      "op_p50_s" -> median(lat.toSeq),
      "op_growth" -> median(lat.takeRight(q).toSeq) / median(lat.take(q).toSeq),
      "fail_ratio" -> failed.toDouble / attempted,
      "retained_heap_mb" -> (heapEnd - heapSetup),
      "jvm.gc_ms" -> gcTimed.toDouble / lat.size,
      "jvm.jit_ms" -> jitTimed.toDouble / lat.size,
      "jvm.heap_after_gc_mb" -> heapEnd,
      "jvm.session_start_s" -> sessionS)
    val folded = if (traced) Some(Trace.fold()) else None
    val layerMetrics = folded.fold(Map.empty[String, Double]) { f =>
      val m = new Metrics(f, cores)
      m.spark ++ wl.layers(m) + ("trace.pass_s" -> passS)
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.take(20).toSeq,
      "end_to_end" -> e2e,
      "per_layer" -> (common ++ layerMetrics),
      "samples" -> Map("ops" -> lat.size, "passes" -> passes.size,
        "setup_reps" -> setupReps, "op_latency_s" -> lat.toSeq,
        "setup_s" -> setupTimes),
      "info" -> (wl.info ++ Map(
        "cores" -> cores, "backfill_rows" -> backfillRows,
        "timed_rows" -> rows, "timed_s" -> timedS,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments
          .asScala.filterNot(_.startsWith("--add-opens")).toSeq,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json(result))
    folded.foreach { f =>
      val spans = Trace.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "ms" -> s.ms, "self_ms" -> f.selfMs(s.id),
        "jobs" -> f.aggs(s.id).jobs, "stages" -> f.aggs(s.id).stages,
        "driver_gap_ms" -> f.aggs(s.id).gapMs))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out.stripSuffix(".json") + "_spans.json"),
        json(spans))
    }
    spark.stop()
  }
}
