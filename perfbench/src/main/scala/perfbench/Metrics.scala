package perfbench

/** Layer metrics over the timed operations of a traced run. A layer
  * metric is the median, over the timed ops (or passes) in which the
  * layer ran, of the per-op (per-pass) sum over the layer's spans;
  * `spark.*` metrics are per-op means over every timed op. */
final class Metrics(val folded: Trace.Folded, cores: Int) {
  val timed: Seq[Trace.Span] = Trace.all.filter(_.op >= 1)
  private val byName = timed.groupBy(_.name)
  private def agg(s: Trace.Span) = folded.aggs(s.id)

  def perOp(name: String)(stat: Trace.Span => Double): Double =
    Main.median(byName.getOrElse(name, Nil).groupBy(_.op).values
      .map(_.map(stat).sum).toSeq)

  /** Median, over passes of `passLen` ops, of the per-pass sum of `stat`
    * over the spans named `name`. */
  def perPass(name: String, passLen: Int)(stat: Trace.Span => Double): Double =
    Main.median(byName.getOrElse(name, Nil).groupBy(s => (s.op - 1) / passLen)
      .values.map(_.map(stat).sum).toSeq)

  def ms(name: String): Double = perOp(name)(_.ms)
  def jobs(name: String): Double = perOp(name)(agg(_).jobs.toDouble)
  def stages(name: String): Double = perOp(name)(agg(_).stages.toDouble)
  def gapMs(name: String): Double = perOp(name)(agg(_).gapMs)

  def spark: Map[String, Double] = {
    val ops = byName.getOrElse("op", Nil)
    val n = math.max(1, ops.size).toDouble
    def tot(f: Trace.Agg => Double) = ops.map(s => f(agg(s))).sum
    val wallMs = ops.map(_.ms).sum
    Map(
      "spark.jobs" -> tot(_.jobs.toDouble) / n,
      "spark.stages" -> tot(_.stages.toDouble) / n,
      "spark.tasks" -> tot(_.tasks.toDouble) / n,
      "spark.task_run_ms" -> tot(_.runMs.toDouble) / n,
      "spark.task_cpu_ms" -> tot(_.cpuMs.toDouble) / n,
      "spark.task_gc_ms" -> tot(_.gcMs.toDouble) / n,
      "spark.sched_delay_ms" -> tot(_.schedMs.toDouble) / n,
      "spark.shuffle_read_bytes" -> tot(_.shuffleRead.toDouble) / n,
      "spark.shuffle_write_bytes" -> tot(_.shuffleWrite.toDouble) / n,
      "spark.input_bytes" -> tot(_.inputBytes.toDouble) / n,
      "spark.output_bytes" -> tot(_.outputBytes.toDouble) / n,
      "spark.driver_gap_ms" -> tot(_.gapMs) / n,
      "spark.planning_ms" -> tot(_.planningMs) / n,
      "spark.busy_share" ->
        (if (wallMs > 0) tot(_.runMs.toDouble) / (wallMs * cores) else 0.0),
      "spark.failed_tasks" -> tot(_.failedTasks.toDouble),
      "spark.undescribed_stage_share" ->
        (if (folded.stagesTotal == 0) 0.0
         else folded.stagesUndescribed.toDouble / folded.stagesTotal))
  }
}
