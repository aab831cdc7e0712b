package perfbench

import graft.{Q, SparkEntry}

/** Analysts' workload: a fixed slice of the query registry (named in the
  * data dir's `queries.txt`), run in registry order with the `noop` sink.
  * Every round starts from an empty memo, so marts are built lazily by
  * their first consumer inside it; the traced run adds a memoised pass to
  * separate mart building from query work. */
object QuerySuite extends Workload {

  /** Registry modules, each reported as one group; the rest of graft.ops is
    * pooled as `ops.other`, and what no module list holds is SparkEntry's. */
  private val modules: Seq[(String, Seq[Q])] = Seq(
    "llm.LlmQueries" -> graft.llm.LlmQueries.all,
    "llm.Selection" -> graft.llm.Selection.queries,
    "llm.Curation" -> graft.llm.Curation.queries,
    "llm.LangModel" -> graft.llm.LangModel.queries,
    "llm.UrlCuration" -> graft.llm.UrlCuration.queries,
    "ops.Multimodal" -> graft.ops.Multimodal.queries,
    "ops.Quality" -> graft.ops.Quality.queries,
    "ops.Events" -> graft.ops.Events.queries,
    "ops.Ingest" -> graft.ops.Ingest.queries,
    "ops.other" -> (graft.ops.Sinks.queries ++ graft.ops.Skew.queries ++
      graft.ops.AsofJoin.queries ++ graft.ops.RangeJoin.queries ++
      graft.ops.Trends.queries ++ graft.ops.IncrementalAgg.queries ++
      graft.ops.Scd.queries ++ graft.ops.Zorder.queries ++
      graft.ops.Analyze.queries))
  private val ModuleNames: Seq[String] = "SparkEntry" +: modules.map(_._1)

  private def moduleOf(q: Q): String =
    modules.find(_._2.exists(_.name == q.name)).map(_._1).getOrElse("SparkEntry")

  private def layerOf(module: String): String =
    if (module.startsWith("llm.")) "graft.llm"
    else if (module == "SparkEntry") "graft.sec"
    else "graft.ops"

  private def key(q: Q): String = "^q\\d+[a-z]?".r.findPrefixOf(q.name).getOrElse(q.name)

  private def names(ctx: Ctx, file: String): Set[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"${ctx.dataDir}/$file"))
      .toArray.map(_.toString).filter(_.nonEmpty).toSet

  /** The timed queries, named by prefix in the data dir's `queries.txt`, in
    * registry order. */
  private def selected(ctx: Ctx): Seq[Q] = {
    val timed = names(ctx, "queries.txt")
    SparkEntry.allQueries.filter(q => timed(key(q)))
  }

  /** One timed round after the warmup: a round re-runs every query, marts
    * included, and the run's time budget holds no more. */
  override def rounds: Int = 1

  def ready(ctx: Ctx): Unit = ()

  private def pass(ctx: Ctx, label: String, r: Int): Seq[Op] =
    ctx.span(label, "bench") { passId =>
      selected(ctx).map { q =>
        val t0 = System.nanoTime()
        val (ok, id) = ctx.span(q.name, layerOf(moduleOf(q)), passId) { id =>
          ctx.spark.sparkContext.setJobDescription(q.name)
          try {
            q.run(ctx.spark, ctx.dataDir).write.format("noop")
              .mode("overwrite").save()
            (true, id)
          } catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] ${q.name} failed: ${e.getMessage}")
              (false, id)
          } finally ctx.spark.sparkContext.setJobDescription(null)
        }
        Op(q.name, moduleOf(q), r, t0, System.nanoTime(), ok, id)
      }
    }

  def round(ctx: Ctx, r: Int): Seq[Op] = {
    graft.sec.SecDerive.evictMemo(ctx.spark)
    ctx.spark.catalog.clearCache()
    pass(ctx, s"pass-$r", r)
  }

  def layers(ctx: Ctx, ops: Seq[Op], wallS: Double): Map[String, Double] = {
    val rounds = ops.map(_.round).max.toDouble
    val first = Layers.spark(ctx, wallS, rounds)
    val parents = Layers.byParent(ctx)
    def jobs(o: Op) = parents.get(o.span).map(_._1).getOrElse(0)
    def serial(o: Op) = parents.get(o.span).map(_._2).getOrElse(0.0)
    val perModule = ModuleNames.flatMap { m =>
      val mine = ops.filter(_.kind == m)
      Seq(s"suite.$m.wall_s" -> mine.map(_.ms).sum / 1e3 / rounds,
        s"suite.$m.jobs" -> mine.map(jobs).sum / rounds)
    }
    val perQuery = ops.groupBy(_.name).toSeq.flatMap { case (name, os) =>
      val k = name.takeWhile(_ != '_')
      Seq(s"$k.wall_s" -> Layers.median(os.map(_.ms / 1e3)),
        s"$k.jobs" -> os.map(jobs).sum / rounds,
        s"$k.serial_stage_s" -> Layers.median(os.map(serial)))
    }
    val t0 = System.nanoTime()
    pass(ctx, "pass-memo", 0)
    val memo = (System.nanoTime() - t0) / 1e9
    first ++ perModule ++ perQuery ++ Map(
      "suite.memo_wall_s" -> memo,
      "suite.mart_build_s" -> (wallS - memo))
  }

  /** Writes the result of each query named in the data dir's `verify.txt`
    * for the oracle check, with its oracle SQL. */
  def verify(ctx: Ctx): (Int, Map[String, Any]) = {
    System.setProperty("graft.oracle.active", "true")
    val wanted = names(ctx, "verify.txt")
    val checked = selected(ctx).filter(q => wanted(key(q)))
    val failed = checked.count { q =>
      try {
        q.run(ctx.spark, ctx.dataDir).coalesce(1).write.mode("overwrite")
          .parquet(s"${ctx.runDir}/verify/${q.name}")
        false
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] verify ${q.name} failed: ${e.getMessage}")
          true
      }
    }
    (failed, Map("oracle" -> checked.map(q => q.name -> q.oracle.orNull).toMap))
  }
}
