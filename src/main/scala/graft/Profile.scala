package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round measurement harness (guide §1): runs named queries
  * exactly like Bench (same session conf, same untimed warmup, same noop
  * sink) but with a listener that attributes scheduler-level cost — jobs,
  * stages, tasks, summed executor task time, shuffle bytes — to each run.
  * The gap between wall time and (task time / cores) is scheduler/driver
  * overhead: plan/codegen/job-submission cost that per-stage metrics can't
  * see. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.Profile q104 q121 ..."   (prefix match)
  */
object Profile {
  private class Counter extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val shufWrite = new AtomicLong
    val shufRead = new AtomicLong
    val verbose = sys.env.get("SPARK_GRAFT_PROFILE_VERBOSE").contains("1")
    override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks)
      val m = sc.stageInfo.taskMetrics
      taskMs.addAndGet(m.executorRunTime)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      if (verbose && m.executorRunTime >= 300)
        println(f"    stage=${sc.stageInfo.stageId}%5d tasks=${sc.stageInfo.numTasks}%4d run_ms=${m.executorRunTime}%7d cpu_ms=${m.executorCpuTime / 1000000}%7d deser_ms=${m.executorDeserializeTime}%6d ${sc.stageInfo.name.take(110)}")
      ()
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); shufWrite.set(0); shufRead.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    var builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    // experiment knob: SPARK_GRAFT_CONF="k=v;k=v" layered on top
    for (kv <- sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";"));
         Array(k, v) <- Seq(kv.split("=", 2)) if k.nonEmpty)
      builder = builder.config(k, v)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Bench's untimed warmup (same scaffold: bucketed SEC tables + marts).
    // SPARK_GRAFT_PROFILE_NOWARM=1 skips it so a whole-JVM profiler (JFR)
    // sees only the queries under test — only valid for non-SEC queries.
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    if (!sys.env.get("SPARK_GRAFT_PROFILE_NOWARM").contains("1")) {
      if (sys.env.getOrElse("SPARK_GRAFT_BUCKETED", "1") != "0")
        graft.sec.SecDerive.storedLayout(spark, sfDir, "bucketed")(
          graft.sec.SecDerive.installBucketed(spark, sfDir, _))
      graft.sec.SecDerive.facts(spark, sfDir).count()
      graft.sec.SecDerive.filings(spark, sfDir).count()
      graft.sec.SecDerive.ratiosV3(spark, sfDir).count()
    }

    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    val selected = SparkEntry.allQueries.filter(q => args.exists(q.name.startsWith))
    println(f"${"query"}%-42s ${"run"}%3s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%8s ${"shW_MB"}%7s ${"shR_MB"}%7s")
    for (q <- selected; run <- 1 to 2) {
      counter.reset()
      spark.sparkContext.setJobDescription(s"${q.name} run$run")
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // stage-completed events race the job end; give the bus a beat
      Thread.sleep(200)
      println(f"${q.name}%-42s $run%3d $wall%7.3f ${counter.jobs.get}%5d ${counter.stages.get}%6d ${counter.tasks.get}%6d ${counter.taskMs.get / 1e3}%8.2f ${counter.shufWrite.get / 1e6}%7.1f ${counter.shufRead.get / 1e6}%7.1f")
    }
    spark.stop()
  }
}
