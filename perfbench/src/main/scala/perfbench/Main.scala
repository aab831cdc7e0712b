package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark JVM: where its inputs and outputs live, the
  * session and, for traced rounds, the tracer and job listener. */
final class Ctx(val dataDir: String, val runDir: String, val cpus: Int) {
  var spark: SparkSession = _
  val tracer = new Tracer
  val listener = new JobListener(tracer)

  /** Bench's session conf: local[nproc], shuffle partitions = nproc, the
    * engine's extensions, UTC; scratch space inside the run directory. */
  def start(): SparkSession = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      // The UI is off, but Spark's status store still keeps up to 1000
      // executions and trims them in batches; that sawtooth, not the
      // engine, would decide the measured live heap.
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run `body` as one traced span whose Spark jobs are parented to it. */
  def span[T](name: String, layer: String, parent: Long = 0L)(
      body: Long => T): T =
    tracer.span(name, layer, parent, Some(spark.sparkContext))(body)
}

/** One operation of the timed phase: a query or a request;
  * `span` is its span's id on traced runs. */
final case class Op(name: String, kind: String, round: Int, start: Long,
    end: Long, ok: Boolean, span: Long = 0L) {
  def ms: Double = (end - start) / 1e6
}

/** A workload: what makes the session ready, the timed phase, and the
  * untimed outputs the correctness check reads. */
trait Workload {
  def ready(ctx: Ctx): Unit
  def teardown(ctx: Ctx): Unit = ()
  /** Untimed warmup rounds, then timed rounds. */
  def warmups: Int = 1
  def rounds: Int = 3
  /** One round, `r` from 1 - warmups (warmup rounds are r <= 0); returns
    * its operations. */
  def round(ctx: Ctx, r: Int): Seq[Op]
  /** Traced runs only: extra phases and per-layer metrics, given the ops of
    * every traced round and the median traced round's wall time. */
  def layers(ctx: Ctx, ops: Seq[Op], wallS: Double): Map[String, Double]
  /** Untimed: write what the correctness check compares; returns failures
    * found in-process and free-form details for the result file. */
  def verify(ctx: Ctx): (Int, Map[String, Any])
}

/** Entry point: `perfbench.Main <workload> <dataDir> <runDir> <trace>`.
  * Writes `<runDir>/result.json` (and `spans.jsonl` when traced). */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, runDir, traceFlag) = args
    val cpus = Runtime.getRuntime.availableProcessors
    val ctx = new Ctx(dataDir, runDir, cpus)
    val w: Workload = workload match {
      case "query_suite"   => QuerySuite
      case "api_marts"     => ApiMarts
      case other           => sys.error(s"unknown workload $other")
    }
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // Set-up: JVM start to ready (the Spark context started, the warmup
    // query run, the workload's own set-up done), from the JVM's uptime.
    ctx.start()
    warmup(ctx)
    w.ready(ctx)
    val setup = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // Timed phase: warmup rounds (JIT, lazily loaded classes) whose numbers
    // go only to the result file, then the same work w.rounds times. Wall and
    // CPU are the median round's. The live heap is measured once, after them.
    def timedRound(r: Int) = {
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val ops = w.round(ctx, r)
      (ops, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
    }
    val warm = (1 - w.warmups to 0).map(timedRound)
    val rounds = (1 to w.rounds).map(timedRound)
    val ops = rounds.flatMap(_._1)
    val wall = Layers.median(rounds.map(_._2))
    val cpu = Layers.median(rounds.map(_._3))
    val liveHeap = LiveHeap.mb()

    // Traced runs then repeat the timed rounds with the listener and spans
    // on, then once more with them off. The tracing overhead compares the
    // traced rounds with the mean of the untraced ones before and after,
    // which cancels the JVM's warm-up trend between them.
    val (tracedOps, layers) =
      if (traceFlag != "1") (Nil, Map.empty[String, Double])
      else {
        ctx.spark.sparkContext.addSparkListener(ctx.listener)
        def tracing(on: Boolean): Unit = {
          ctx.tracer.on = on
          ctx.listener.recording = on
        }
        tracing(true)
        val traced = (1 to w.rounds).map(timedRound)
        // self times per traced round, taken before layers() adds its phases
        val self = Layers.selfTimes(ctx.tracer.all).map { case (k, v) => k -> v / w.rounds }
        tracing(false)
        val after = Layers.median((1 to w.rounds).map(timedRound).map(_._2))
        tracing(true)
        val tracedWall = Layers.median(traced.map(_._2))
        val tracedOps = traced.flatMap(_._1)
        val layers = w.layers(ctx, tracedOps, tracedWall) ++ self +
          ("trace.overhead_ratio" -> tracedWall / ((wall + after) / 2))
        tracing(false)
        (tracedOps, layers)
      }
    val (verifyFailed, details) = w.verify(ctx)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_s" -> setup,
      "wall_s" -> wall,
      "cpu_s" -> cpu,
      "timed_rounds" -> w.rounds,
      "round_wall_s" -> (warm ++ rounds).map(_._2),
      "round_cpu_s" -> (warm ++ rounds).map(_._3),
      "live_heap_mb" -> liveHeap,
      "cpus" -> cpus,
      "ops" -> ops.map(o => Map("name" -> o.name, "kind" -> o.kind,
        "round" -> o.round, "ms" -> o.ms, "ok" -> o.ok)),
      "traced_ops" -> tracedOps.size,
      "traced_failed" -> tracedOps.count(!_.ok),
      "verify_failed" -> verifyFailed,
      "details" -> details,
      "layers" -> layers)
    val mapper = new ObjectMapper
    Files.writeString(Paths.get(s"$runDir/result.json"),
      mapper.writeValueAsString(Json.toJava(result)))
    if (traceFlag == "1") Json.writeSpans(ctx.tracer.all, s"$runDir/spans.jsonl")
    w.teardown(ctx)
    ctx.spark.stop()
  }

  /** Untimed warmup, as in graft.Bench: session init and codegen machinery
    * otherwise land on whichever operation runs first. */
  private def warmup(ctx: Ctx): Unit =
    graft.Tables.region(ctx.spark, ctx.dataDir)
      .groupBy("r_regionkey").count()
      .write.format("noop").mode("overwrite").save()
}

object Json {
  import scala.jdk.CollectionConverters._

  /** Scala values to the Java collections Jackson writes natively. */
  def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val mapper = new ObjectMapper
    val lines = spans.sortBy(_.start).map { s =>
      mapper.writeValueAsString(toJava(Map("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.start, "end_ns" -> s.end)))
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
