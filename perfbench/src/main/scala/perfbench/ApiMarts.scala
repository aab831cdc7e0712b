package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.Screener
import graft.sec.SecDerive
import graft.serve.GraftApi

/** API clients: a closed loop of client threads, one connection each, every
  * client sending its next request only after the previous reply. Each
  * client replays its own seeded request sequence from `requests.tsv`
  * (client, path, expected status, whether the body is checked). */
object ApiMarts extends Workload {
  final case class Req(client: Int, path: String, expect: Int, check: Boolean) {
    def endpoint: String = path.split("[/?]").filter(_.nonEmpty).head
  }
  final case class Reply(req: Req, start: Long, end: Long, status: Int,
      body: String)

  val Endpoints = Seq("company", "ratios", "screener")
  /** Round CPU falls steeply for about eight rounds of 40 requests (JIT of
    * the per-request planning path) and then flattens. */
  override def warmups: Int = 8
  override def rounds: Int = 4
  val WarmRequests = 1
  /** Requests of the traced run's one-client phase. */
  val SoloRequests = 40
  /** Repetitions of each in-process call timed without HTTP. */
  val InProcessReps = 15

  @volatile private var api: GraftApi = _
  @volatile private var base: String = _
  /** The last round's replies, whose sampled bodies the check compares. */
  @volatile private var replies: Seq[Reply] = Nil

  private def requests(ctx: Ctx): Seq[Req] =
    Files.readAllLines(Paths.get(s"${ctx.dataDir}/requests.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(c, p, e, v) = l.split("\t")
        Req(c.toInt, p, e.toInt, v == "1")
      }

  private def send(http: HttpClient, r: Req): Reply = {
    val t0 = System.nanoTime()
    val resp = http.send(HttpRequest.newBuilder(URI.create(base + r.path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    Reply(r, t0, System.nanoTime(), resp.statusCode, resp.body)
  }

  private def client(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** The server is ready once its marts are cached and each endpoint has
    * answered WarmRequests requests. */
  def ready(ctx: Ctx): Unit = {
    api = new GraftApi(ctx.spark, ctx.dataDir)
    val addr = api.start()
    base = s"http://127.0.0.1:${addr.getPort}"
    val http = client()
    for (i <- 1 to WarmRequests; p <- Seq(s"/company/TKR$i",
        s"/ratios/TKR$i?limit=3", s"/screener?limit=$i"))
      require(send(http, Req(0, p, 200, check = false)).status == 200)
  }

  override def teardown(ctx: Ctx): Unit = if (api != null) { api.stop(); api = null }

  private def closedLoop(ctx: Ctx, reqs: Seq[Req]): Seq[Reply] = {
    val byClient = reqs.groupBy(_.client).toSeq.sortBy(_._1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Reply]
    val threads = byClient.map { case (c, rs) =>
      new Thread(() => {
        val http = client()
        rs.foreach { r =>
          val rep = ctx.tracer.span(r.path, "graft.serve") { _ => send(http, r) }
          results.add(rep)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results.asScala.toSeq.sortBy(_.start)
  }

  def round(ctx: Ctx, r: Int): Seq[Op] = {
    val mine = closedLoop(ctx, requests(ctx))
    replies = mine
    mine.map(x => Op(x.req.endpoint, x.req.endpoint, r, x.start, x.end,
      x.status == x.req.expect))
  }

  private def timeMs(n: Int)(body: => Unit): Double =
    Layers.median((1 to n).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })

  def layers(ctx: Ctx, ops: Seq[Op], wallS: Double): Map[String, Double] = {
    val spark = Layers.spark(ctx, wallS, rounds)
    val loopP50 = Layers.median(ops.map(_.ms))
    val p95 = Endpoints.map(e =>
      s"serve.$e.p95_ms" -> Layers.percentile(ops.filter(_.kind == e).map(_.ms), 95))
    val p50 = Endpoints.map(e =>
      s"serve.$e.p50_ms" -> Layers.median(ops.filter(_.kind == e).map(_.ms)))

    // One client, no queueing: service time, and the jobs each request
    // started (by time overlap — the dispatcher thread is not ours).
    val http = client()
    val solo = requests(ctx).take(SoloRequests).map(r => send(http, r))
    val soloIds = solo.map(r => (r, ctx.tracer.add(0L, 0L, s"solo:${r.req.path}",
      "graft.serve", r.start, r.end)))
    ctx.tracer.reparent { s =>
      if (s.layer != "spark" || s.parent != 0L) s
      else soloIds.find { case (r, _) => s.start >= r.start && s.start <= r.end }
        .map { case (_, id) => s.copy(parent = id, trace = id) }.getOrElse(s)
    }
    val service = Endpoints.flatMap { e =>
      val mine = solo.filter(_.req.endpoint == e)
      Seq(s"serve.$e.service_ms" -> Layers.median(mine.map(r => (r.end - r.start) / 1e6)),
        s"serve.$e.jobs_per_req" -> mine.map(r =>
          Layers.jobsOverlapping(ctx, r.start, r.end)).sum.toDouble / mine.size)
    }
    val soloP50 = Layers.median(solo.map(r => (r.end - r.start) / 1e6))

    // The same DataFrame calls in-process, without HTTP.
    val s = ctx.spark
    val companies: DataFrame = SecDerive.companies(s, ctx.dataDir).cache()
    companies.count()
    val ratios = SecDerive.ratiosV3(s, ctx.dataDir)
    val stats = SecDerive.companiesStats(s, ctx.dataDir)
    val inProc = Map(
      "ops.Screener.companyLookup_ms" -> timeMs(InProcessReps) {
        Screener.companyLookup(companies, "TKR7").collect() },
      "ops.Screener.screenerPlanned_ms" -> timeMs(InProcessReps) {
        Screener.screenerPlanned(ratios, companies, stats,
          Screener.ScreenerParams(minRoe = Some(0.1), limit = 25)).collect() },
      "sec.ratiosV3_read_ms" -> timeMs(InProcessReps) {
        SecDerive.ratiosV3(s, ctx.dataDir).filter(col("cik") === "0000000007")
          .orderBy(col("fiscal_year").desc).limit(10).collect() })
    companies.unpersist()
    spark ++ p95 ++ p50 ++ service ++ inProc ++ Map(
      "serve.req_per_s" -> ops.size / rounds / wallS,
      "serve.queue_ms" -> (loopP50 - soloP50))
  }

  /** Statuses are checked per operation; the sampled bodies go to the
    * result file for the oracle comparison. */
  def verify(ctx: Ctx): (Int, Map[String, Any]) = {
    val bodies = replies.filter(_.req.check).map(r =>
      Map("path" -> r.req.path, "status" -> r.status, "body" -> r.body))
    (0, Map("bodies" -> bodies, "full_prelude" -> graft.sec.SecSql.fullPrelude,
      "requests" -> replies.size))
  }
}
