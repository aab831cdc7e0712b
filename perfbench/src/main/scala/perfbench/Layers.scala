package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics computed from the job listener and the span tree. */
object Layers {

  /** Engine-wide counters of the timed phase (the `spark` layer), per
    * round: totals over all rounds divided by their number. */
  def spark(ctx: Ctx, wallS: Double, rounds: Double): Map[String, Double] = {
    val st = ctx.listener.stages.asScala.toSeq
    val mb = 1048576.0
    val taskS = st.map(_.taskS).sum / rounds
    Map(
      "spark.jobs" -> ctx.listener.jobs.size / rounds,
      "spark.stages" -> st.size / rounds,
      "spark.tasks" -> st.map(_.tasks).sum / rounds,
      "spark.task_s" -> taskS,
      "spark.serial_stage_s" -> st.filter(_.tasks == 1).map(_.wallS).sum / rounds,
      "spark.longest_stage_s" -> (0.0 +: st.map(_.wallS)).max,
      "spark.shuffle_write_mb" -> st.map(_.shuffleWriteB).sum / mb / rounds,
      "spark.shuffle_read_mb" -> st.map(_.shuffleReadB).sum / mb / rounds,
      "spark.spill_mb" -> st.map(_.spillB).sum / mb / rounds,
      "spark.gc_s" -> st.map(_.gcS).sum / rounds,
      "spark.busy_ratio" -> taskS / (wallS * ctx.cpus))
  }

  /** Jobs and one-task-stage seconds attributed to each parent span. */
  def byParent(ctx: Ctx): Map[Long, (Int, Double)] = {
    val jobs = ctx.listener.jobs.asScala.toSeq.groupBy(_.parent)
    val serial = ctx.listener.stages.asScala.toSeq.filter(_.tasks == 1)
      .groupBy(_.jobParent)
    (jobs.keySet ++ serial.keySet).map { p =>
      p -> (jobs.getOrElse(p, Nil).size,
        serial.getOrElse(p, Nil).map(_.wallS).sum)
    }.toMap
  }

  /** Jobs started while [t0, t1] was open: parents jobs that ran on threads
    * the benchmark does not own (the HTTP dispatcher). */
  def jobsOverlapping(ctx: Ctx, t0: Long, t1: Long): Int =
    ctx.listener.jobs.asScala.count(j => j.start >= t0 && j.start <= t1)

  /** A layer's self time: each span's duration minus the part of it that its
    * child spans cover, summed per layer. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      s.layer -> (s.end - s.start - covered) / 1e9
    }
    self.groupBy(_._1).map { case (l, xs) =>
      s"self.${l.replace('.', '_')}_s" -> xs.map(_._2).sum
    }
  }

  /** Nearest-rank percentile (p in 0..100) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
