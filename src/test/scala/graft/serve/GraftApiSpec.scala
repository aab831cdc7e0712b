package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSpec

/** The HTTP serving layer: real round-trips against an ephemeral port,
  * response shapes and status codes mirroring the reference's FastAPI
  * endpoints (api.py), parameter validation, and the SQL front door. */
class GraftApiSpec extends SparkSpec {

  private val mapper = new ObjectMapper
  private val client = HttpClient.newHttpClient()

  private lazy val api = new GraftApi(spark, "/root/testdata/sf0.001")
  private lazy val base: String = {
    val addr = api.start(0)
    s"http://127.0.0.1:${addr.getPort}"
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally if (test.name.contains("LAST")) api.stop()

  private def get(path: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  private def post(path: String, body: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  // a ticker guaranteed present: take one from the dim
  private lazy val someTicker: String =
    graft.sec.SecDerive.companies(spark, "/root/testdata/sf0.001")
      .select("ticker").orderBy("ticker").limit(1)
      .collect().head.getString(0)

  test("GET /health returns ok") {
    val (code, body) = get("/health")
    assert(code === 200 && body.get("status").asText() === "ok")
  }

  test("GET /company/{ticker} returns the row; lower-case is upper-cased") {
    val (code, body) = get(s"/company/${someTicker.toLowerCase}")
    assert(code === 200)
    assert(body.get("ticker").asText() === someTicker)
    assert(body.get("cik").asText().nonEmpty)
    assert(body.get("name").asText().nonEmpty)
  }

  test("GET /company/{ticker} 404s on a miss (api.py:17-18 shape)") {
    val (code, body) = get("/company/NOSUCHTICKER")
    assert(code === 404 && body.get("detail").asText() === "Ticker not found")
  }

  test("GET /ratios/{ticker} returns descending fiscal years, capped by limit") {
    val (code, body) = get(s"/ratios/$someTicker?limit=3")
    assert(code === 200)
    assert(body.get("ticker").asText() === someTicker)
    val years = body.get("years")
    assert(years.isArray && years.size() <= 3)
    val fy = (0 until years.size()).map(years.get(_).get("fiscal_year").asInt())
    assert(fy === fy.sortBy(-_))
    if (years.size() > 0) { // full 8-ratio block per year (api.py:46-58)
      val y0 = years.get(0)
      for (f <- Seq("gross_margin", "operating_margin", "net_margin", "roa",
        "roe", "leverage", "fcf_margin", "asset_turnover"))
        assert(y0.has(f), s"missing field $f")
    }
  }

  test("GET /ratios validation: limit outside 1..50 is a 422") {
    assert(get(s"/ratios/$someTicker?limit=0")._1 === 422)
    assert(get(s"/ratios/$someTicker?limit=51")._1 === 422)
    assert(get(s"/ratios/$someTicker?limit=abc")._1 === 422)
  }

  test("GET /screener filters and orders like the reference") {
    val (code, body) = get("/screener?min_roe=-1000&limit=5")
    assert(code === 200)
    val rs = body.get("results")
    assert(rs.isArray && rs.size() <= 5)
    // ordered by fiscal_year desc then roe desc
    val pairs = (0 until rs.size()).map { i =>
      (rs.get(i).get("fiscal_year").asInt(), rs.get(i).get("roe").asDouble())
    }
    assert(pairs === pairs.sortBy { case (y, r) => (-y, -r) })
    for (f <- Seq("ticker", "name", "fiscal_year", "roe", "fcf_margin",
      "net_margin"))
      assert(rs.size() == 0 || rs.get(0).has(f), s"missing field $f")
  }

  test("GET /screener year filter restricts results; bad limit 422s") {
    val (code, body) = get("/screener?year=1900")
    assert(code === 200 && body.get("results").size() === 0)
    assert(get("/screener?limit=201")._1 === 422)
    assert(get("/screener?min_roe=xyz")._1 === 422)
  }

  // ---------------------------------- mart snapshot: same rows, no Spark job

  private val sf0001 = "/root/testdata/sf0.001"
  private def fields(n: com.fasterxml.jackson.databind.JsonNode,
      cols: Seq[String]): Seq[Option[String]] =
    cols.map(c => Option(n.get(c)).filterNot(_.isNull).map(_.asText()))
  private def fields(r: org.apache.spark.sql.Row): Seq[Option[String]] =
    r.toSeq.map(v => Option(v).map(String.valueOf))
  private def nodes(a: com.fasterxml.jackson.databind.JsonNode) =
    (0 until a.size()).map(a.get)

  test("GET /screener bodies == Screener.screenerPlanned rows over a " +
      "parameter grid (every filter subset, null-rejecting thresholds, " +
      "limits 1 and 200)") {
    import org.apache.spark.sql.functions.{col, max}
    val ratios = graft.sec.SecDerive.ratiosV3(spark, sf0001)
    val companies = graft.sec.SecDerive.companies(spark, sf0001).cache()
    val stats = graft.sec.SecDerive.companiesStats(spark, sf0001)
    val ratioParams = Seq("min_roe" -> "roe",
      "min_fcf_margin" -> "fcf_margin", "min_net_margin" -> "net_margin")
    // -1e300 is below every value, so a ratio filter rejects exactly the
    // null ratios. (ScreenerSpec pins thresholds on values, NaN and -0.0.)
    for ((_, c) <- ratioParams)
      assert(ratios.filter(col(c).isNull).count() > 0,
        s"the grid needs null $c values to reject")
    val year = ratios.agg(max("fiscal_year")).head().getInt(0)
    val cols = Seq("ticker", "name", "fiscal_year", "roe", "fcf_margin",
      "net_margin")
    val names = Seq("year") ++ ratioParams.map(_._1)
    try for (subset <- names.toSet.subsets(); limit <- Seq(1, 200)) {
      val on = names.filter(subset).toSet
      def min(n: String): Option[Double] = Some(-1e300).filter(_ => on(n))
      val p = graft.ops.Screener.ScreenerParams(
        fiscalYear = Some(year).filter(_ => on("year")),
        minRoe = min("min_roe"), minFcfMargin = min("min_fcf_margin"),
        minNetMargin = min("min_net_margin"), limit = limit)
      val query = (names.filter(on).map(n =>
        if (n == "year") s"year=$year" else s"$n=-1e300") :+ s"limit=$limit")
        .mkString("&")
      val (code, body) = get(s"/screener?$query")
      assert(code === 200, query)
      val want = graft.ops.Screener.screenerPlanned(ratios, companies, stats, p)
        .select(cols.map(col): _*).collect().toSeq.map(fields)
      assert(nodes(body.get("results")).map(fields(_, cols)) === want, query)
    } finally companies.unpersist()
  }

  test("GET /ratios bodies == the DataFrame read for every ticker, " +
      "limits 1, 3 and 50") {
    import org.apache.spark.sql.functions.col
    val ratios = graft.sec.SecDerive.ratiosV3(spark, sf0001)
    val cols = Seq("fiscal_year", "gross_margin", "operating_margin",
      "net_margin", "roa", "roe", "leverage", "fcf_margin", "asset_turnover")
    val dim = graft.sec.SecDerive.companies(spark, sf0001)
      .select("cik", "ticker").collect()
    assert(dim.length > 1)
    for (c <- dim) {
      val (cik, ticker) = (c.getString(0), c.getString(1))
      val all = ratios.filter(col("cik") === cik).select(cols.map(col): _*)
        .orderBy(col("fiscal_year").desc).limit(50).collect().toSeq
        .map(fields)
      for (limit <- Seq(1, 3, 50)) {
        val (code, body) = get(s"/ratios/$ticker?limit=$limit")
        assert(code === 200 && body.get("ticker").asText() === ticker)
        assert(nodes(body.get("years")).map(fields(_, cols)) ===
          all.take(limit), s"$ticker limit=$limit")
      }
    }
  }

  test("/company, /ratios and /screener run no Spark job per request") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    assert(get("/health")._1 === 200) // server up, snapshot collected
    val sc = spark.sparkContext
    val fenceKey = "graft.spec.fence"
    // jobs are counted between two fence jobs: listener events arrive in
    // order, so the second fence's start follows every job started before it
    val fences = new java.util.concurrent.LinkedBlockingQueue[String]
    val between = new java.util.concurrent.atomic.AtomicInteger
    @volatile var counting = false
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(fenceKey))) match {
          case Some(f) => counting = f == "open"; fences.put(f)
          case None => if (counting) between.incrementAndGet()
        }
    }
    def fence(f: String): Unit = {
      sc.setLocalProperty(fenceKey, f)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(fenceKey, null)
      assert(fences.poll(60, java.util.concurrent.TimeUnit.SECONDS) === f)
    }
    sc.addSparkListener(l)
    try {
      fence("open")
      val paths = Seq(s"/company/$someTicker", "/company/NOSUCHTICKER",
        s"/ratios/$someTicker?limit=3", "/ratios/NOSUCHTICKER",
        "/screener", "/screener?min_roe=0&year=2020&limit=200",
        "/screener?min_fcf_margin=-1e300&min_net_margin=0.01&limit=1")
      for (_ <- 1 to 5; p <- paths) assert(Set(200, 404)(get(p)._1), p)
      fence("close")
    } finally sc.removeSparkListener(l)
    assert(between.get === 0)
  }

  test("GET /search ranks by BM25 score; empty q is a 422") {
    val (code, body) = get("/search?q=hash+join&limit=5")
    assert(code === 200)
    val rs = body.get("results")
    assert(rs.size() > 0 && rs.size() <= 5)
    // descending score order, ties impossible to assert here but order must
    // be non-increasing
    val scores = (0 until rs.size()).map(i => rs.get(i).get("score_micro").asLong())
    assert(scores === scores.sortBy(-_), scores.toString)
    assert(rs.get(0).has("doc_id") && rs.get(0).has("n_terms_hit"))
    assert(get("/search?q=")._1 === 422)
    assert(get("/search")._1 === 422)
    assert(get("/search?q=hash&limit=0")._1 === 422)
  }

  test("/search serves the persisted postings layout — no corpus text scan in the plan") {
    get("/search?q=hash+join&limit=5") // force index resolution + a real request
    val frame = api.searchFrame(Seq("hash", "join"), 5)
    frame.collect()
    val locations = scans(frame.queryExecution.executedPlan)
      .flatMap(_.metadata.get("Location"))
    assert(locations.exists(_.contains("/postings")),
      s"postings layout not read: $locations")
    assert(!locations.exists(_.contains("documents.parquet")),
      s"corpus text scanned by the indexed search path: $locations")
  }

  test("GET /phrase serves exact-adjacency matches from the positional index") {
    val (code, body) = get("/phrase?q=sort+merge&limit=5")
    assert(code === 200)
    val rs = body.get("results")
    assert(rs.size() > 0 && rs.size() <= 5)
    // non-increasing occurrence counts, doc_id + n_occ shape
    val occs = (0 until rs.size()).map(i => rs.get(i).get("n_occ").asLong())
    assert(occs === occs.sortBy(-_), occs.toString)
    assert(occs.forall(_ >= 1))
    // served rows == the brute q122 tier over the same corpus (top-5 slice)
    val brute = graft.llm.TextAnalysis.phraseOccurrences(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"),
      Seq("sort", "merge"))
      .limit(5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val served = (0 until rs.size())
      .map(i => (rs.get(i).get("doc_id").asLong(), rs.get(i).get("n_occ").asLong()))
    assert(served === brute)
    assert(get("/phrase?q=")._1 === 422)
    // slop > 0 routes to the proximity tier: superset of the exact tier's
    // matches on the same phrase, and equal to the brute proximity scan
    val exactN = rs.size()
    val (sc, sb) = get("/phrase?q=sort+merge&slop=1&limit=100")
    assert(sc === 200)
    val sRs = sb.get("results")
    assert(sRs.size() >= exactN)
    val servedProx = (0 until sRs.size())
      .map(i => (sRs.get(i).get("doc_id").asLong(),
        sRs.get(i).get("n_occ").asLong())).toSet
    val bruteProx = graft.llm.TextAnalysis.proximityOccurrences(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"),
      Seq("sort", "merge"), slop = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(servedProx === bruteProx)
    assert(get("/phrase?q=solo&slop=1")._1 === 422)
    // the plan reads the positional postings, never the corpus text
    val frame = api.phraseFrame(Seq("sort", "merge"), 5)
    frame.collect()
    val locations = scans(frame.queryExecution.executedPlan)
      .flatMap(_.metadata.get("Location"))
    assert(locations.exists(_.contains("/postings")),
      s"postings layout not read: $locations")
    assert(!locations.exists(_.contains("documents.parquet")),
      s"corpus text scanned by the indexed phrase path: $locations")
  }

  test("GET /quality scores one doc against the written model; 404 on a miss") {
    val (code, body) = get("/quality?doc_id=7")
    assert(code === 200)
    assert(body.get("doc_id").asLong() === 7L)
    val served = body.get("s_micro").asLong()
    // the served score equals the batch scorer's against the same model
    val dir0 = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir0)
    val base = graft.llm.Selection.retrievalIndex(spark, dir0)
    val batch = graft.llm.Classifier.logregScore(docs,
      spark.read.parquet(s"$base/quality_model"))
      .filter(org.apache.spark.sql.functions.col("doc_id") === 7L)
      .collect().head
    assert(served === batch.getAs[Long]("s_micro"))
    assert(body.get("rule_pass").asBoolean() === (batch.getAs[Long]("y") == 1L))
    assert(get("/quality?doc_id=99999999")._1 === 404)
    assert(get("/quality")._1 === 422)
    // point-read shape: the doc_id predicate pushes into the documents scan
    val p = api.qualityFrame(7L).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("doc_id"),
      s"doc_id not pushed into the point read:\n$p")
  }

  test("GET /perplexity serves the persisted reference LM; 404 on a miss") {
    val (code, body) = get("/perplexity?doc_id=7")
    assert(code === 200)
    assert(body.get("doc_id").asLong() === 7L)
    // the served score equals the batch scorer's against the same model
    val dir0 = "/root/testdata/sf0.001"
    val base = graft.llm.Selection.retrievalIndex(spark, dir0)
    val batch = graft.llm.LangModel.lmScoreWith(
      graft.Tables.documents(spark, dir0),
      spark.read.parquet(s"$base/lm_model/uni"),
      spark.read.parquet(s"$base/lm_model/pair"))
      .filter(org.apache.spark.sql.functions.col("doc_id") === 7L)
      .collect().head
    assert(body.get("avg_surprisal").asDouble() ===
      batch.getAs[Double]("avg_surprisal"))
    assert(body.get("n_bigrams").asLong() === batch.getAs[Long]("n_bigrams"))
    assert(body.get("lang").asText() === batch.getAs[String]("lang"))
    assert(body.get("keep").asBoolean() ===
      (batch.getAs[Double]("avg_surprisal") <=
        graft.llm.LangModel.MaxAvgSurprisal))
    assert(get("/perplexity?doc_id=99999999")._1 === 404)
    assert(get("/perplexity")._1 === 422)
    // point-read shape: the doc_id predicate pushes into the documents scan
    val p = api.perplexityFrame(7L).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("doc_id"),
      s"doc_id not pushed into the point read:\n$p")
  }

  test("GET /similar serves ANN from the persisted IVFADC index; plan opens only probed cells") {
    val (code, body) = get("/similar?vec_id=42&k=5")
    assert(code === 200)
    val results = body.get("results")
    assert(results.size() > 0 && results.size() <= 5)
    val ids = (0 until results.size()).map(results.get(_).get("vec_id").asLong())
    assert(!ids.contains(42L), "query vector returned as its own neighbor")
    val ranks = (0 until results.size()).map(results.get(_).get("rank").asLong())
    assert(ranks === (1L to results.size()))
    // absent vector: 404, like the relational point lookups
    assert(get("/similar?vec_id=99999999")._1 === 404)
    assert(get("/similar")._1 === 422)
    // the 100 TB property: the codes scan opens at most nprobe cell
    // directories; the corpus text is never touched
    val frame = api.similarFrame(42L, 5, nprobe = 4)
    frame.collect()
    val codesScan = scans(frame.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("ann/codes")))
      .getOrElse(fail("codes scan not found in executed plan"))
    val partsRead = codesScan.metrics.get("numPartitions").map(_.value)
    assert(partsRead.exists(n => n >= 1 && n <= 4),
      s"expected <= nprobe(4) cell directories read, got $partsRead")
  }

  test("/search restricts the stats fold + broadcast to the query terms' rows") {
    // The per-request contract: the broadcast side of the BM25 score join
    // is the query terms' stats rows, never the whole vocabulary (which at
    // corpus scale exceeds broadcast limits). Stats are fold-READ per
    // request (never cached — a snapshot would go blind to incremental
    // appends), so the pin is that the term predicate sits on the fold's
    // GROUPING key and pushes through the aggregate into the term_stats
    // parquet scan itself.
    val frame = api.searchFrame(Seq("hash", "join"), 5)
    frame.collect()
    val statScans = scans(frame.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("term_stats")))
    assert(statScans.nonEmpty, "no term_stats scan found in the plan")
    assert(statScans.forall(_.metadata.get("PushedFilters")
        .exists(_.contains("In(term"))),
      "term predicate not pushed into the term_stats scan — the full " +
        "vocabulary would be aggregated and broadcast per request:\n" +
        statScans.map(_.metadata).mkString("\n"))
  }

  test("/search sees incrementally appended docs and terms (stats never snapshot)") {
    // Build a private root, serve from it, then append a doc with a brand
    // new term THROUGH the running server's lifetime: the next request
    // must see it — both the new term and the shifted corpus stats.
    val tmp = java.nio.file.Files.createTempDirectory("graft_live_idx").toString
    import spark.implicits._
    graft.llm.Selection.writeBm25Index(
      Seq((1L, "alpha beta gamma", "en", "s", 16L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$tmp/idx")
    val api2 = new GraftApi(spark, "/root/testdata/sf0.001",
      Some(s"$tmp/idx"))
    val addr = api2.start(0)
    def get2(path: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
      val url = new java.net.URI(
        s"http://localhost:${addr.getPort}$path").toURL
      val conn = url.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = new String(is.readAllBytes(), "UTF-8")
      (code, new com.fasterxml.jackson.databind.ObjectMapper().readTree(body))
    }
    try {
      assert(get2("/search?q=zeppelin")._2.get("results").size() === 0)
      graft.llm.Selection.appendToBm25Index(
        Seq((2L, "zeppelin zeppelin beta", "en", "s", 22L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"),
        s"$tmp/idx", batchId = 0L)
      val (code, body) = get2("/search?q=zeppelin")
      assert(code === 200)
      val rs = body.get("results")
      assert(rs.size() === 1 && rs.get(0).get("doc_id").asLong() === 2L,
        s"appended doc invisible to the running server: $body")
      // this root was built by writeBm25Index alone — no quality_model/.
      // That is an operator state, not a request error: a clear 503 with
      // the rebuild hint, not an opaque 500 from the lazy parquet read.
      val (qCode, qBody) = get2("/quality?doc_id=1")
      assert(qCode === 503, s"expected 503 on a model-less root: $qBody")
      assert(qBody.get("detail").asText().contains("no quality model"))
      // Following the 503's own hint ON THE RUNNING SERVER — train and
      // write quality_model/ under the index root — must take effect on
      // the next request: the negative presence answer is re-checked per
      // request, so healing the root never requires a restart.
      val docs001 = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      graft.llm.Classifier.logregTrain(docs001, rounds = 1)
        .write.mode("overwrite").parquet(s"$tmp/idx/quality_model")
      val someId = docs001.select("doc_id").orderBy("doc_id").head.getLong(0)
      val (qCode2, qBody2) = get2(s"/quality?doc_id=$someId")
      assert(qCode2 === 200, s"healed root still refused: $qBody2")
      assert(qBody2.has("s_micro"), qBody2.toString)
    } finally api2.stop()
  }

  test("GET /similar: existing vec_id with zero neighbors is an empty 200, not a 404") {
    // A one-vector store: every candidate is the query itself, so the
    // result set is empty — which must NOT be reported as a missing id.
    val tmp = java.nio.file.Files.createTempDirectory("graft_one_vec").toString
    for (t <- graft.Tables.names if t != "embeddings")
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$tmp/$t.parquet"),
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"))
    import spark.implicits._
    Seq((7L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$tmp/embeddings.parquet")
    val api2 = new GraftApi(spark, tmp)
    val addr = api2.start(0)
    try {
      def get2(path: String) = {
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:${addr.getPort}$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), mapper.readTree(resp.body()))
      }
      val (code, body) = get2("/similar?vec_id=7&k=5")
      assert(code === 200, s"existing id misreported: $body")
      assert(body.get("results").size() === 0)
      assert(get2("/similar?vec_id=8&k=5")._1 === 404)
    } finally api2.stop()
  }

  test("GET /related serves cluster-mates ranked most-central first") {
    val mart = graft.llm.LlmQueries.centralityMart(spark, "/root/testdata/sf0.001")
    val probeRow = mart.orderBy("doc_id").head
    val probe = probeRow.getAs[Long]("doc_id")
    val cluster = probeRow.getAs[Long]("cluster_id")
    val (code, body) = get(s"/related?doc_id=$probe&k=10")
    assert(code === 200)
    val results = body.get("results")
    assert(results.size() > 0)
    val ids = (0 until results.size()).map(results.get(_).get("doc_id").asLong())
    assert(!ids.contains(probe), "probe doc returned as its own relative")
    assert((0 until results.size())
      .forall(i => results.get(i).get("cluster_id").asLong() === cluster))
    val rm = (0 until results.size())
      .map(results.get(_).get("rank_micros").asLong())
    assert(rm === rm.sorted.reverse, "not ranked most-central first")
    // unclustered/absent doc is not a graph resource; missing param is 422
    assert(get("/related?doc_id=99999999")._1 === 404)
    assert(get("/related")._1 === 422)
  }

  test("GET /captionfarm round-trips the q187 frame; doc filter; " +
      "empty filters are a valid 200") {
    // the full mart, most-text-similar first — exactly the q187 rows
    val expectAll = graft.ops.Multimodal
      .captionFarmMart(spark, "/root/testdata/sf0.001")
      .orderBy(org.apache.spark.sql.functions.col("jaccard").desc,
        org.apache.spark.sql.functions.col("doc_id_a").asc,
        org.apache.spark.sql.functions.col("doc_id_b").asc)
      .limit(200).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(expectAll.nonEmpty, "fixture has no caption-farm pairs")
    val (code, body) = get("/captionfarm?k=200")
    assert(code === 200)
    val pairs = body.get("pairs")
    val got = (0 until pairs.size()).map { i =>
      val p = pairs.get(i)
      (p.get("doc_id_a").asLong(), p.get("doc_id_b").asLong(),
        p.get("jaccard").asDouble(), p.get("img_hamming").asLong())
    }
    assert(got === expectAll.toSeq)
    // doc filter: every returned pair touches the doc
    val probe = expectAll.head._1
    val (c2, b2) = get(s"/captionfarm?doc_id=$probe&k=50")
    assert(c2 === 200)
    val fp = b2.get("pairs")
    assert(fp.size() > 0)
    assert((0 until fp.size()).forall { i =>
      fp.get(i).get("doc_id_a").asLong() == probe ||
        fp.get(i).get("doc_id_b").asLong() == probe
    })
    // a clean doc is an empty 200 (the list is the resource), bad k 422s
    assert(get("/captionfarm?doc_id=99999999")._2.get("pairs").size() === 0)
    assert(get("/captionfarm?k=0")._1 === 422)
  }

  test("GET /stolen round-trips the q188 frame; source filter") {
    val expect = graft.ops.Multimodal
      .stolenPairsMart(spark, "/root/testdata/sf0.001")
      .orderBy(org.apache.spark.sql.functions.col("hamming").asc,
        org.apache.spark.sql.functions.col("doc_a").asc,
        org.apache.spark.sql.functions.col("doc_b").asc)
      .limit(200).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))
    assert(expect.nonEmpty, "fixture has no cross-source image pairs")
    val (code, body) = get("/stolen?k=200")
    assert(code === 200)
    val pairs = body.get("pairs")
    val got = (0 until pairs.size()).map { i =>
      val p = pairs.get(i)
      (p.get("doc_a").asLong(), p.get("doc_b").asLong(),
        p.get("hamming").asLong(), p.get("source_a").asText(),
        p.get("source_b").asText())
    }
    assert(got === expect.toSeq)
    // source filter: every pair touches the source, and is a subset
    val src = expect.head._4
    val (c2, b2) = get(s"/stolen?source=$src&k=200")
    assert(c2 === 200)
    val fp = b2.get("pairs")
    assert(fp.size() > 0)
    assert((0 until fp.size()).forall { i =>
      fp.get(i).get("source_a").asText() == src ||
        fp.get(i).get("source_b").asText() == src
    })
    assert(get("/stolen?source=no_such_source")._2.get("pairs").size() === 0)
  }

  test("GET /stats serves the ANALYZE mart; column filter; unknown column 404") {
    val (code, body) = get("/stats")
    assert(code === 200)
    assert(body.get("table").asText() === "documents")
    val cols = body.get("columns")
    val names = (0 until cols.size()).map(cols.get(_).get("column_name").asText())
    assert(names.sorted === Seq("doc_id", "lang", "n_chars", "source"))
    // every row carries the table's row count and sane bounds
    val nRows = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").count()
    (0 until cols.size()).foreach { i =>
      val c = cols.get(i)
      assert(c.get("n_rows").asLong() === nRows)
      assert(c.get("null_count").asLong() <= nRows)
      assert(c.get("n_distinct_est").asLong() > 0)
    }
    val (c2, b2) = get("/stats?column=lang")
    assert(c2 === 200 && b2.get("columns").size() === 1)
    assert(get("/stats?column=nope")._1 === 404)
  }

  test("GET /quantile serves the EXACT rank quantile from the cached " +
      "histogram; out-of-range q is a 422") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    Seq(0.5, 0.9, 1.0).foreach { q =>
      val (code, body) = get(s"/quantile?q=$q")
      assert(code === 200)
      assert(body.get("column").asText() === "n_chars")
      assert(body.get("n").asLong() === docs.count())
      val want = graft.ops.Quality.exactQuantileBanded(
        docs, org.apache.spark.sql.functions.col("n_chars"), q)
      assert(body.get("cutoff").asLong() === want, s"at q=$q")
    }
    // default q is the median
    assert(get("/quantile")._2.get("q").asDouble() === 0.5)
    assert(get("/quantile?q=0")._1 === 422)
    assert(get("/quantile?q=1.5")._1 === 422)
    assert(get("/quantile?q=abc")._1 === 422)
  }

  test("GET /quantile?group_by= serves exact per-group cutoffs == " +
      "groupedQuantileBanded; unknown columns 422") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    for (g <- Seq("lang", "source"); q <- Seq(0.5, 0.9)) {
      val (code, body) = get(s"/quantile?q=$q&group_by=$g")
      assert(code === 200)
      assert(body.get("group_by").asText() === g)
      val served = body.get("groups").elements().asScala
        .map(e => e.get("group").asText() ->
          (e.get("cutoff").asLong(), e.get("n").asLong())).toMap
      val want = graft.ops.Quality.groupedQuantileBanded(docs, g,
          org.apache.spark.sql.functions.col("n_chars"), q)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(served.view.mapValues(_._1).toMap === want, s"at $g q=$q")
      // group sizes come from the cached bins and must sum to the corpus
      assert(served.values.map(_._2).sum === docs.count())
    }
    // free-form columns are refused — the cache stays dim-bounded
    assert(get("/quantile?group_by=text")._1 === 422)
    assert(get("/quantile?group_by=doc_id")._1 === 422)
  }

  test("GET /imagedup serves banded near-dups from the persisted aHash index") {
    implicit val s = spark
    // pick a doc that actually has neighbors from the inline tier
    val anyPair = graft.ops.Multimodal.imageNearDupPairs(
        graft.Tables.documents(spark, "/root/testdata/sf0.001"), 8)
      .orderBy("doc_a", "doc_b").limit(1).collect().head
    val probe = anyPair.getLong(0)
    val (code, body) = get(s"/imagedup?doc_id=$probe&max_hamming=8")
    assert(code === 200, s"imagedup failed: $body")
    val results = body.get("results")
    assert(results.size() > 0)
    // served rows == the inline pair set restricted to the probe doc
    val expected = graft.ops.Multimodal.imageNearDupPairs(
        graft.Tables.documents(spark, "/root/testdata/sf0.001"), 8)
      .collect().collect {
        case r if r.getLong(0) == probe => (r.getLong(1), r.getLong(2))
        case r if r.getLong(1) == probe => (r.getLong(0), r.getLong(2))
      }.sortBy(p => (p._2, p._1)).take(20)
    val got = (0 until results.size()).map { i =>
      (results.get(i).get("doc_id").asLong(),
        results.get(i).get("hamming").asLong())
    }
    assert(got === expected)
    // hamming ascends; absent doc 404; validation 422
    assert(got.map(_._2) === got.map(_._2).sorted)
    assert(get("/imagedup?doc_id=99999999")._1 === 404)
    assert(get("/imagedup")._1 === 422)
    assert(get("/imagedup?doc_id=1&max_hamming=99")._1 === 422)
  }

  test("GET /hybrid fuses the two persisted-index legs; no corpus text in the plan") {
    val (code, body) = get("/hybrid?q=hash+join&vec_id=0&k=5")
    assert(code === 200)
    val results = body.get("results")
    assert(results.size() > 0 && results.size() <= 5)
    // a doc present in both legs carries both ranks; rrf scores descend
    val scores = (0 until results.size())
      .map(results.get(_).get("rrf_micro").asLong())
    assert(scores === scores.sorted.reverse)
    assert(get("/hybrid?q=hash")._1 === 422)    // vec_id required
    assert(get("/hybrid?vec_id=0")._1 === 422)  // q required
    val frame = api.hybridFrame(Seq("hash", "join"), 0L, 5)
    frame.collect()
    val locations = scans(frame.queryExecution.executedPlan)
      .flatMap(_.metadata.get("Location"))
    assert(!locations.exists(_.contains("documents.parquet")),
      s"corpus text scanned by the hybrid path: $locations")

    // the optional exact-phrase third leg: phrase hits carry phr_rank and
    // outrank a bag-of-words-only fusion of the same doc set; the phrase
    // leg reads the positional postings, still no corpus text in the plan
    val (pCode, pBody) = get("/hybrid?q=hash+join&vec_id=0&k=5&phrase=sort+merge")
    assert(pCode === 200, pBody.toString)
    val pResults = pBody.get("results")
    assert(pResults.size() > 0 && pResults.size() <= 5)
    assert((0 until pResults.size()).forall(i =>
      pResults.get(i).has("phr_rank")), pBody.toString)
    assert((0 until pResults.size()).exists(i =>
      !pResults.get(i).get("phr_rank").isNull),
      s"no phrase hit surfaced in the fused top-k: $pBody")
    val pFrame = api.hybridFrame(Seq("hash", "join"), 0L, 5,
      phrase = Seq("sort", "merge"))
    pFrame.collect()
    val pLocs = scans(pFrame.queryExecution.executedPlan)
      .flatMap(_.metadata.get("Location"))
    assert(!pLocs.exists(_.contains("documents.parquet")),
      s"corpus text scanned by the phrase-leg hybrid path: $pLocs")
    // postings pruning survives inside the fused plan: the phrase leg's
    // postings scans carry the term_bucket partition filter
    val pPlan = pFrame.queryExecution.executedPlan.toString
    assert(pPlan.contains("term_bucket"),
      s"phrase leg lost its bucket pruning inside the fusion:\n$pPlan")
  }

  test("an explicit prebuilt indexRoot drives the retrieval endpoints") {
    val root = graft.llm.Selection.retrievalIndex(spark, "/root/testdata/sf0.001")
    val api2 = new GraftApi(spark, "/root/testdata/sf0.001", Some(root))
    val addr = api2.start(0)
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${addr.getPort}/search?q=hash&limit=3")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200)
      assert(mapper.readTree(resp.body()).get("results").size() > 0)
    } finally api2.stop()
  }

  test("GET /versions lists the time-travel catalog; GET /diff reports the " +
      "manifest set difference; unknown versions 422") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory("graft_api_diff").toString
    graft.llm.Selection.writeBm25Index(
      docs.filter(col("doc_id") % 2 === 0), s"$tmp/idx")
    val vBase = graft.ops.Layout.manifestVersions(spark, s"$tmp/idx").max
    graft.llm.Selection.appendToBm25Index(
      docs.filter(col("doc_id") % 2 === 1), s"$tmp/idx", batchId = 7L)
    val api2 = new GraftApi(spark, "/root/testdata/sf0.001", Some(s"$tmp/idx"))
    val addr = api2.start(0)
    def get2(path: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${addr.getPort}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), mapper.readTree(resp.body()))
    }
    try {
      val (c0, vs) = get2("/versions")
      assert(c0 === 200)
      val listed = (0 until vs.get("versions").size())
        .map(vs.get("versions").get(_).asLong())
      assert(listed ===
        graft.ops.Layout.manifestVersions(spark, s"$tmp/idx"))
      assert(listed.contains(vBase) && listed.max > vBase)
      // the append reads as ONE added logical batch between the versions
      val (c1, d) = get2(s"/diff?from=$vBase&to=${listed.max}")
      assert(c1 === 200)
      val changes = d.get("changes")
      assert(changes.size() === 1)
      assert(changes.get(0).get("logical_batch").asLong() === 7L)
      assert(changes.get(0).get("change").asText() === "added")
      assert(!changes.get(0).has("physical_from"))
      // empty self-diff; refusals on unknown / missing versions
      assert(get2(s"/diff?from=$vBase&to=$vBase")._2.get("changes").size() === 0)
      assert(get2("/diff?from=999&to=1000")._1 === 422)
      assert(get2(s"/diff?from=$vBase")._1 === 422)
    } finally api2.stop()
  }

  test("GET /search?as_of= reproduces a superseded answer at its version; " +
      "unknown versions 422") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory("graft_api_asof").toString
    graft.llm.Selection.writeBm25Index(
      docs.filter(col("doc_id") % 2 === 0), s"$tmp/idx")
    val vBase = graft.ops.Layout.manifestVersions(spark, s"$tmp/idx").max
    val api2 = new GraftApi(spark, "/root/testdata/sf0.001", Some(s"$tmp/idx"))
    val addr = api2.start(0)
    def get2(path: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${addr.getPort}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), mapper.readTree(resp.body()))
    }
    try {
      val (c0, before) = get2("/search?q=hash+join&limit=5")
      assert(c0 === 200 && before.get("results").size() > 0)
      // an append moves the current answer...
      graft.llm.Selection.appendToBm25Index(
        docs.filter(col("doc_id") % 2 === 1), s"$tmp/idx", batchId = 0L)
      val (c1, after) = get2("/search?q=hash+join&limit=5")
      assert(c1 === 200 && !(after == before),
        "fixture versions not distinguishable through /search")
      // ...but ?as_of= the superseded version reproduces ITS answer exactly
      val (c2, replay) = get2(s"/search?q=hash+join&limit=5&as_of=$vBase")
      assert(c2 === 200 && replay === before)
      // refusals: unpublished version, non-numeric version
      assert(get2("/search?q=hash&as_of=9999")._1 === 422)
      assert(get2("/search?q=hash&as_of=abc")._1 === 422)
    } finally api2.stop()
  }

  test("GET /admissions serves the committed admission audit; filters, " +
      "as_of refusals") {
    val (code, body) = get("/admissions")
    assert(code === 200)
    val served = body.get("admissions").elements().asScala.map(e =>
      (e.get("batch").asLong(), e.get("source").asText(),
        e.get("n_admitted").asLong(), e.get("n_rejected").asLong(),
        e.get("n_skipped").asLong())).toSet
    // round-trip == the q186 frame after a REAL admission transaction
    val expect = graft.llm.Dedup.admissionLog(spark,
        graft.llm.Dedup.admissionMart(spark, "/root/testdata/sf0.001"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(served === expect && served.nonEmpty)
    // source filter restricts; an unknown source is an empty 200 (a
    // filter, not a resource)
    val aSource = served.head._2
    val (c1, b1) = get(s"/admissions?source=$aSource")
    assert(c1 === 200)
    assert(b1.get("admissions").elements().asScala
      .forall(_.get("source").asText() == aSource))
    val (c2, b2) = get("/admissions?source=no_such_source")
    assert(c2 === 200 && b2.get("admissions").size() === 0)
    // batch filter: the demo root admitted exactly batch 0
    val (c3, b3) = get("/admissions?batch=0")
    assert(c3 === 200 && b3.get("admissions").size() === served.size)
    val (c4, b4) = get("/admissions?batch=7")
    assert(c4 === 200 && b4.get("admissions").size() === 0)
    // refusals: non-numeric batch, unpublished/non-numeric as_of
    assert(get("/admissions?batch=zero")._1 === 422)
    assert(get("/admissions?as_of=9999")._1 === 422)
    assert(get("/admissions?as_of=abc")._1 === 422)
    // as_of the CURRENT version reproduces the current answer (log and
    // index share one manifest)
    val vs = graft.ops.Layout.manifestVersions(spark,
      body.get("base").asText())
    val (c5, b5) = get(s"/admissions?as_of=${vs.max}")
    assert(c5 === 200)
    assert(b5.get("admissions") === body.get("admissions"))
    // as_of the PRE-admission version serves an empty log: version 1 is
    // the base build, whose manifest holds no admission batch
    val (c6, b6) = get(s"/admissions?as_of=${vs.min}")
    assert(c6 === 200 && b6.get("admissions").size() === 0)
  }

  test("GET /takedowns serves the standing registry: rows == " +
      "takedownRegistry of the registry mart; doc_id filter; refusals") {
    val (code, body) = get("/takedowns")
    assert(code === 200)
    val served = body.get("takedowns").elements().asScala.map(e =>
      (e.get("content_key").asText(), e.get("doc_id").asLong())).toSet
    val base = graft.llm.Dedup.registryMart(spark, "/root/testdata/sf0.001")
    val expect = graft.llm.Dedup.takedownRegistry(spark, base)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(served === expect && served.nonEmpty)
    assert(body.get("n_takedowns").asInt() === served.size)
    // doc_id filter: one victim's row only
    val aDoc = served.head._2
    val (c1, b1) = get(s"/takedowns?doc_id=$aDoc")
    assert(c1 === 200 && b1.get("takedowns").size() === 1)
    assert(b1.get("takedowns").get(0).get("doc_id").asLong() === aDoc)
    // an unregistered doc is an empty 200 (a filter, not a resource)
    val (c2, b2) = get("/takedowns?doc_id=424242")
    assert(c2 === 200 && b2.get("takedowns").size() === 0)
    // refusals: non-numeric doc_id, unknown as_of
    assert(get("/takedowns?doc_id=zero")._1 === 422)
    assert(get("/takedowns?as_of=9999")._1 === 422)
  }

  // recurse through AQE query stages + reused exchanges to every file scan
  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val here = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child)
    }
    here.flatten
  }

  test("POST /query serves SELECT over registered views and rejects DML (LAST)") {
    graft.GraftCatalog.registerViews(spark, "/root/testdata/sf0.001")
    val (code, body) = post("/query",
      "SELECT r_name FROM region ORDER BY r_name")
    assert(code === 200)
    assert(body.get("columns").get(0).asText() === "r_name")
    assert(body.get("rows").size() === 5)
    assert(body.get("truncated").asBoolean() === false)
    // the 1000-row cap must ANNOUNCE itself: capped payload, truncated=true
    val (bigCode, bigBody) = post("/query",
      "SELECT l_orderkey FROM lineitem ORDER BY l_orderkey, l_linenumber")
    assert(bigCode === 200)
    assert(bigBody.get("rows").size() === 1000)
    assert(bigBody.get("truncated").asBoolean() === true)
    val (dmlCode, _) = post("/query", "DROP TABLE region")
    assert(dmlCode === 422)
    // a WITH-prefixed mutating statement must not slip past the guard:
    // Spark's grammar accepts `WITH ... INSERT ...`, first token WITH
    val (smuggled, _) = post("/query",
      "WITH x AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY '/tmp/graft_evil' SELECT * FROM x")
    assert(smuggled === 422)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("/tmp/graft_evil")))
    val (smuggled2, _) = post("/query",
      "WITH x AS (SELECT 1 AS a) INSERT INTO region SELECT * FROM x")
    assert(smuggled2 === 422)
    assert(get("/nosuch")._1 === 404)
  }
}
