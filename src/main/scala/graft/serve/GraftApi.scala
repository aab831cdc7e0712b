package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Screener

/** The reference's serving layer
  * (/root/reference/src/sec_xbrl_finwarehouse/api.py) bound to the engine:
  * the same three endpoints, same response shapes, same parameter
  * validation — over JDK `com.sun.net.httpserver` (no extra dependency).
  *
  *   GET /company/{ticker}                       (api.py:6-19, 404 on miss)
  *   GET /ratios/{ticker}?limit=10               (api.py:21-61, limit 1..50)
  *   GET /screener?min_roe&min_fcf_margin&min_net_margin&year&limit
  *                                               (api.py:63-119, limit 1..200)
  *   GET /health                                 (liveness)
  *   POST /query  (SELECT/WITH-only SQL front door over the registered
  *                 views — the GraftCatalog surface exposed over HTTP;
  *                 an extension, the reference has none)
  *
  * Architecture note for 100 TB: the reference serves from Postgres marts
  * its nightly jobs maintain — serving never touches the fact table. Same
  * split here: /company, /ratios and /screener read the memoized
  * companies/ratios MARTS (one row per company-year — dimension-sized BY
  * CONSTRUCTION no matter how big the fact table is). The constructor
  * collects them once into an immutable driver snapshot: ticker -> company,
  * cik -> that company's ratio rows in fiscal_year DESC order, and the
  * screener rows in [[graft.ops.Screener.ranked]] order (ranked by Spark).
  * A request is then a map lookup, or an order-preserving filter plus the
  * first `limit` rows, and runs no Spark job: planning a query costs
  * tens of milliseconds, the lookup microseconds. Each collect is bounded
  * by [[graft.ops.Analyze.DimensionMaxRows]]; a mart over that bound makes
  * the constructor throw, naming the mart, rather than serve a truncated
  * snapshot. A production deployment would export the same marts to a
  * serving store exactly as the reference does.
  *
  * Because the mart handlers take microseconds, [[start]] turns on
  * TCP_NODELAY for the JDK server (`sun.net.httpserver.nodelay`): it
  * writes a reply's headers and body as two segments, and Nagle's
  * algorithm plus the client's delayed ACK would hold the second for
  * about 40 ms.
  *
  * The retrieval endpoints follow the same doctrine against the PERSISTED
  * retrieval layout (the q107 legs): /search reads the query terms'
  * postings buckets ([[graft.ops.Layout.postingsForTerms]] — partition-
  * pruned, never a corpus text scan) plus the at-rest stats tables, and
  * /similar reads the IVFADC index's probed cells
  * ([[graft.llm.Selection.ivfadcSearchIndexQueries]]). `indexRoot` points
  * at a prebuilt layout (writePostings + writeIvfadcIndex + stats); when
  * absent, the memoized per-dir build supplies one.
  */
class GraftApi(spark: SparkSession, sfDir: String,
    indexRoot: Option[String] = None) {

  private val mapper = new ObjectMapper

  // Mart snapshot, collected once: what the reference's API reads from
  // Postgres (companies, ratios_annual) — here the memoized derived marts.
  private val ratioCols = Seq("fiscal_year", "gross_margin",
    "operating_margin", "net_margin", "roa", "roe", "leverage", "fcf_margin",
    "asset_turnover")
  private val screenerCols = Seq("ticker", "name", "fiscal_year", "roe",
    "fcf_margin", "net_margin")
  private val screenerAt = screenerCols.map(Screener.RankedCols.indexOf)

  /** Collects `shape(mart)` with at most DimensionMaxRows rows, or throws. */
  private def collectMart(name: String, mart: DataFrame,
      shape: DataFrame => DataFrame = identity): Array[Row] = {
    val max = graft.ops.Analyze.DimensionMaxRows
    val rows = shape(mart.limit(max.toInt + 1)).collect()
    if (rows.length > max) throw new IllegalStateException(
      s"mart $name has more than $max rows, too many to serve from the driver")
    rows
  }

  private val (companyByTicker, ratiosByCik, screenerRows) = {
    val companies = graft.sec.SecDerive.companies(spark, sfDir)
      .select("cik", "ticker", "name")
    val ratios = graft.sec.SecDerive.ratiosV3(spark, sfDir)
    val byTicker: Map[String, Row] = collectMart("companies", companies)
      .map(r => r.getString(1) -> r).toMap
    // cik last, after the served columns: putRow writes ratioCols only
    val byCik: Map[String, Array[Row]] = collectMart("ratios_v3",
        ratios.select((ratioCols :+ "cik").map(col): _*),
        _.orderBy(col("fiscal_year").desc))
      .groupBy(_.getString(ratioCols.size))
    val ranked: Array[Row] = collectMart("ratios_v3 x companies",
      ratios.join(companies, "cik"), Screener.ranked)
    (byTicker, byCik, ranked)
  }

  // Retrieval surfaces serve from the PERSISTED index layout, resolved
  // lazily on first use: the caller's prebuilt root, or the memoized
  // per-dir build. Only the dimension-sized stats tables are cached —
  // postings and codes are read through their pruned layouts per request,
  // which is the whole point (at 100 TB neither fits anywhere else).
  private lazy val searchIndexBase: String = indexRoot.getOrElse(
    graft.llm.Selection.retrievalIndex(spark, sfDir))
  // Stats are fold-READ per request, never cached: the tables carry
  // per-batch deltas after incremental appends (appendToBm25Index /
  // bm25IngestStream), and a snapshot cached at first request would make
  // the server permanently blind to them (new terms would inner-join to
  // nothing and vanish from /search). Per-request cost stays the query
  // terms' rows: the term predicate is on the fold's GROUPING key, so it
  // pushes through the aggregate into the parquet scan (spec-pinned);
  // corpus_stats is a few rows per batch folded to one. Each request
  // resolves the manifest ONCE (Layout.committedBatchFilter) and every
  // table read in that request shares the resolved predicate, so the
  // served snapshot is batch-consistent ACROSS postings/term_stats/
  // corpus_stats. The Layout manifest protocol makes this TRUE snapshot
  // isolation: committed data files are immutable (each delivery writes
  // a fresh physical partition set; visibility is one atomic manifest
  // rename), so even a delivery that begins, rewrites, and commits
  // mid-request cannot tear this request's resolved snapshot — it keeps
  // reading the files its plan listed (stale-but-consistent), and the
  // NEXT request resolves the new manifest.
  private def idxTermStatsFor(terms: Seq[String],
      vis: org.apache.spark.sql.Column): DataFrame =
    spark.read.parquet(s"$searchIndexBase/term_stats")
      .filter(col("term").isin(terms: _*) && vis)
      .groupBy("term").agg(org.apache.spark.sql.functions.sum("df").as("df"))
  private def idxCorpusStats(vis: org.apache.spark.sql.Column): DataFrame =
    graft.llm.Selection.bm25CorpusStatsRead(spark, searchIndexBase,
      Some(vis))
  // candidate budget for the IVFADC re-rank: the q98 fraction rule
  private lazy val embN: Long = graft.llm.LlmQueries.embCount(spark, sfDir)

  // /stats: the ANALYZE mart (q174's scale tier), computed once per server
  // — column-count rows, driver-cached like every serving mart; at 100 TB
  // this is a read of the table ANALYZE PARQUET wrote.
  private lazy val documentsStats: Array[Row] =
    graft.ops.Analyze.columnStats(graft.Tables.documents(spark, sfDir))
      .collect()

  // /quantile: the fixed-domain length histogram (the mart ANALYZE ...
  // HISTOGRAM writes at 100 TB; ≤ 2^ScaleBits rows), computed once per
  // server like the stats mart. Per-request work = a driver-side walk of
  // the cached bins + ONE band pass over expected n/1024 of the corpus —
  // the answer is the EXACT rank quantile, not an estimate.
  private val histLo = 0L
  private val histHi = 1L << 20 // ingest-contract n_chars domain
  private lazy val nCharsHist: Array[Row] =
    graft.ops.Quality.histogramShard(graft.Tables.documents(spark, sfDir),
      col("n_chars"), histLo, histHi).collect()

  // /quantile?group_by=: per-group fixed-domain histograms, cached like
  // the global one — groups × ≤1024 rows per groupable dim (lang/source
  // are bounded-cardinality dims; free-form columns are refused at the
  // endpoint, which is also what keeps this cache bounded).
  private val quantileGroupCols = Set("lang", "source")
  private val groupHistCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Row]]
  private def groupedNCharsHist(groupCol: String): Array[Row] =
    groupHistCache.getOrElseUpdate(groupCol,
      graft.ops.Quality.groupedHistogramShard(
        graft.Tables.documents(spark, sfDir), groupCol, col("n_chars"),
        histLo, histHi).collect())

  private var server: HttpServer = _

  /** Start on `port` (0 = ephemeral); returns the bound address. */
  def start(port: Int = 0): InetSocketAddress = synchronized {
    require(server == null, "server already started")
    // read once, when the JDK server's config class loads (first create)
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", handler)
    server.setExecutor(null) // requests are sub-second mart point reads
    server.start()
    server.getAddress
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }

  // -------------------------------------------------------------- routing

  private val handler = new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try route(ex)
      catch {
        case e: IllegalArgumentException => // parameter validation: FastAPI 422
          reply(ex, 422, obj(o => o.put("detail", e.getMessage)))
        case e: Throwable =>
          reply(ex, 500, obj(o => o.put("detail", String.valueOf(e.getMessage))))
      } finally ex.close()
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val qp = queryParams(ex)
    (ex.getRequestMethod, path.split("/").filter(_.nonEmpty).toList) match {
      case ("GET", List("health")) =>
        reply(ex, 200, obj(_.put("status", "ok")))
      case ("GET", List("company", ticker)) => company(ex, ticker)
      case ("GET", List("ratios", ticker))  => ratiosEndpoint(ex, ticker, qp)
      case ("GET", List("screener"))        => screenerEndpoint(ex, qp)
      case ("GET", List("search"))          => searchEndpoint(ex, qp)
      case ("GET", List("phrase"))          => phraseEndpoint(ex, qp)
      case ("GET", List("quality"))         => qualityEndpoint(ex, qp)
      case ("GET", List("perplexity"))      => perplexityEndpoint(ex, qp)
      case ("GET", List("imagedup"))        => imagedupEndpoint(ex, qp)
      case ("GET", List("similar"))         => similarEndpoint(ex, qp)
      case ("GET", List("related"))         => relatedEndpoint(ex, qp)
      case ("GET", List("hybrid"))          => hybridEndpoint(ex, qp)
      case ("GET", List("stats"))           => statsEndpoint(ex, qp)
      case ("GET", List("quantile"))        => quantileEndpoint(ex, qp)
      case ("GET", List("versions"))        => versionsEndpoint(ex)
      case ("GET", List("diff"))            => diffEndpoint(ex, qp)
      case ("GET", List("admissions"))      => admissionsEndpoint(ex, qp)
      case ("GET", List("takedowns"))       => takedownsEndpoint(ex, qp)
      case ("GET", List("captionfarm"))     => captionFarmEndpoint(ex, qp)
      case ("GET", List("stolen"))          => stolenEndpoint(ex, qp)
      case ("POST", List("query"))          => sqlEndpoint(ex)
      case _ =>
        reply(ex, 404, obj(_.put("detail", "Not Found")))
    }
  }

  // ------------------------------------------------------------ endpoints

  /** GET /company/{ticker}: point lookup, upper-cased, 404 on miss. */
  private def company(ex: HttpExchange, ticker: String): Unit =
    companyByTicker.get(ticker.toUpperCase(java.util.Locale.ROOT)) match {
      case None => reply(ex, 404, obj(_.put("detail", "Ticker not found")))
      case Some(r) => reply(ex, 200, obj { o =>
        o.put("cik", r.getString(0))
        o.put("ticker", r.getString(1))
        o.put("name", r.getString(2))
      })
    }

  /** GET /ratios/{ticker}?limit: the mart read (api.py reads ratios_annual
    * after the cik lookup — same two steps, snapshot-side). */
  private def ratiosEndpoint(ex: HttpExchange, ticker: String,
      qp: Map[String, String]): Unit = {
    val limit = intParam(qp, "limit", 10, 1, 50)
    val up = ticker.toUpperCase(java.util.Locale.ROOT)
    companyByTicker.get(up) match {
      case None => reply(ex, 404, obj(_.put("detail", "Ticker not found")))
      case Some(c) =>
        val rows = ratiosByCik.getOrElse(c.getString(0), Array.empty[Row])
        reply(ex, 200, obj { o =>
          o.put("ticker", up)
          val years = o.putArray("years")
          rows.iterator.take(limit)
            .foreach(r => putRow(years.addObject(), ratioCols, r))
        })
    }
  }

  /** GET /screener: dynamic conjunctive filters + dim join + top-k — the
    * [[Screener.screener]] rows, answered from the ranked snapshot with
    * [[Screener.rankedRowFilter]] (the Option[Column] fold's driver-side
    * twin) and the first `limit` matches. */
  private def screenerEndpoint(ex: HttpExchange, qp: Map[String, String]): Unit = {
    val p = Screener.ScreenerParams(
      fiscalYear = qp.get("year").map(parseInt("year", _)),
      minRoe = qp.get("min_roe").map(parseDouble("min_roe", _)),
      minFcfMargin = qp.get("min_fcf_margin").map(parseDouble("min_fcf_margin", _)),
      minNetMargin = qp.get("min_net_margin").map(parseDouble("min_net_margin", _)),
      limit = intParam(qp, "limit", 25, 1, 200))
    val rows = screenerRows.iterator.filter(Screener.rankedRowFilter(p))
      .take(p.limit)
    reply(ex, 200, obj { o =>
      val results = o.putArray("results")
      rows.foreach(r => putRow(results.addObject(), screenerCols,
        Row.fromSeq(screenerAt.map(r.get))))
    })
  }

  /** The /search ranking frame — exposed so the spec can pin the PLAN (the
    * postings scan is partition-pruned to the query terms' buckets; the
    * corpus text is never rescanned), not just the rows. */
  private[serve] def searchFrame(terms: Seq[String], limit: Int,
      asOf: Option[Long] = None): DataFrame = {
    // one commit-log resolution for the whole request (see idxTermStatsFor);
    // asOf pins it to a PAST manifest version (time travel — unknown
    // versions refuse with 422, the committedBatchFilterAt contract)
    val vis = graft.ops.Layout.committedBatchFilterAt(spark, searchIndexBase,
      asOf)
    graft.llm.TextAnalysis.bm25RankFromPostings(
      graft.ops.Layout.postingsForTerms(spark,
        s"$searchIndexBase/postings", terms, vis),
      // Per-request work must be the query terms' rows: the stats are
      // restricted BEFORE the fold and the broadcast inside bm25Score, or
      // every request would aggregate and broadcast the whole vocabulary
      // (which at 100 TB exceeds broadcast limits).
      idxTermStatsFor(terms, vis),
      idxCorpusStats(vis), terms, topK = limit)
  }

  /** GET /search?q=space+separated+terms&limit=10 — BM25 lexical ranking
    * over the documents corpus (an extension; the reference has no text
    * search). Terms are lower-cased whitespace tokens of `q`, capped like
    * every other endpoint's parameters; scores come from
    * [[graft.llm.TextAnalysis.bm25RankFromPostings]] against the PERSISTED
    * postings layout — per-request reads are the query terms' bucket
    * directories plus the cached stats tables. */
  private def searchEndpoint(ex: HttpExchange, qp: Map[String, String]): Unit = {
    val terms = qp.getOrElse("q", "").trim.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, "q must contain at least one term")
    require(terms.size <= 32, "q is capped at 32 terms")
    val limit = intParam(qp, "limit", 10, 1, 100)
    val cols = Seq("doc_id", "score_micro", "n_terms_hit")
    val rows = searchFrame(terms, limit, asOfParam(qp))
      .select(cols.map(col): _*).collect()
    reply(ex, 200, obj { o =>
      val results = o.putArray("results")
      rows.foreach(r => putRow(results.addObject(), cols, r))
    })
  }

  /** The /phrase frame — the exact tier
    * ([[graft.llm.Selection.phraseSearchIndex]]) or, at slop > 0, the
    * ordered-proximity tier ([[graft.llm.Selection.proximitySearchIndex]])
    * over the persisted POSITIONAL postings: per-request reads are the
    * phrase terms' bucket directories (positions column included — the
    * one reader family that asks for it); the corpus text is never
    * rescanned (plan-pinned, like /search). */
  private[serve] def phraseFrame(phrase: Seq[String], limit: Int,
      slop: Int = 0): DataFrame =
    (if (slop == 0)
      graft.llm.Selection.phraseSearchIndex(spark, searchIndexBase, phrase)
    else
      graft.llm.Selection.proximitySearchIndex(spark, searchIndexBase,
        phrase, slop))
      .limit(limit)

  /** GET /phrase?q=exact+phrase&limit=10&slop=0 — exact-adjacency phrase
    * search (q122/q123's shifted-position intersection), or with slop > 0
    * the ordered-proximity tier (q124/q125's anchor-counted chain: each
    * adjacent gap ≤ 1+slop). Same term tokenization and caps as
    * /search. */
  private def phraseEndpoint(ex: HttpExchange, qp: Map[String, String]): Unit = {
    val terms = qp.getOrElse("q", "").trim.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, "q must contain at least one term")
    require(terms.size <= 16, "q is capped at 16 phrase terms")
    val slop = intParam(qp, "slop", 0, 0, 16)
    require(slop == 0 || terms.size >= 2,
      "slop requires a phrase of at least two terms")
    val limit = intParam(qp, "limit", 10, 1, 100)
    val cols = Seq("doc_id", "n_occ")
    val rows = phraseFrame(terms, limit, slop)
      .select(cols.map(col): _*).collect()
    reply(ex, 200, obj { o =>
      val results = o.putArray("results")
      rows.foreach(r => putRow(results.addObject(), cols, r))
    })
  }

  // the distilled quality model (5 rows) — written at index build, cached.
  // An externally supplied indexRoot built by writeBm25Index alone, or by
  // a pre-quality-era build, has no quality_model/ — that is an operator
  // state, not a request error, so /quality answers 503 with the rebuild
  // hint instead of a raw 500 from the lazy parquet read. The POSITIVE
  // answer memoizes (the model table itself is cached via
  // idxQualityModel); the NEGATIVE answer re-checks existence per request
  // — one fs.exists per 503 — so following the hint ("train and write
  // quality_model/ under the index root") takes effect on the running
  // server instead of requiring a restart.
  @volatile private var qualityModelSeen: Boolean = false
  private def hasQualityModel: Boolean =
    qualityModelSeen || {
      val p = new org.apache.hadoop.fs.Path(s"$searchIndexBase/quality_model")
      val found =
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      if (found) qualityModelSeen = true
      found
    }
  private lazy val idxQualityModel: DataFrame = {
    val df = spark.read.parquet(s"$searchIndexBase/quality_model").cache()
    df.count()
    df
  }

  /** The /quality scoring frame: the q127 scorer restricted to one doc —
    * a pushed point-read of the documents table plus the broadcast 5-row
    * model; per-request work is one document's tokenization. */
  private[serve] def qualityFrame(docId: Long): DataFrame =
    graft.llm.Classifier.scoreFrame(
      graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") === docId),
      idxQualityModel)

  /** GET /quality?doc_id=42 — the distilled quality score (micro-sigmoid)
    * and the rule gate's own verdict for one document, served against the
    * model table written at index build. 404 when the doc is absent. */
  private def qualityEndpoint(ex: HttpExchange, qp: Map[String, String]): Unit = {
    if (!hasQualityModel) {
      reply(ex, 503, obj(_.put("detail",
        "index root has no quality model — rebuild the retrieval index " +
          "or train and write quality_model/ under the index root")))
      return
    }
    val docId = qp.get("doc_id").map(parseInt("doc_id", _))
      .getOrElse(throw new IllegalArgumentException("doc_id is required"))
    qualityFrame(docId.toLong).collect().headOption match {
      case None => reply(ex, 404, obj(_.put("detail", "doc_id not found")))
      case Some(r) => reply(ex, 200, obj { o =>
        o.put("doc_id", r.getAs[Long]("doc_id"))
        o.put("s_micro", r.getAs[Long]("s_micro"))
        o.put("rule_pass", r.getAs[Long]("y") == 1L)
      })
    }
  }

  // the per-language reference LM (q150) — two count tables written at
  // index build. Same availability discipline as the quality model: the
  // POSITIVE existence answer memoizes, the NEGATIVE one re-checks per
  // request so writing lm_model/ heals a running server without restart.
  @volatile private var lmModelSeen: Boolean = false
  private def hasLmModel: Boolean =
    lmModelSeen || {
      val p = new org.apache.hadoop.fs.Path(s"$searchIndexBase/lm_model")
      val found =
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      if (found) lmModelSeen = true
      found
    }
  private lazy val idxLmUni: DataFrame = {
    val df = spark.read.parquet(s"$searchIndexBase/lm_model/uni").cache()
    df.count()
    df
  }
  private lazy val idxLmPair: DataFrame = {
    val df = spark.read.parquet(s"$searchIndexBase/lm_model/pair").cache()
    df.count()
    df
  }

  /** The /perplexity scoring frame: the q150 scorer restricted to one doc —
    * a pushed point-read of the documents table; the exploded side is one
    * document's bigrams, every model probe a broadcast. */
  private[serve] def perplexityFrame(docId: Long): DataFrame =
    graft.llm.LangModel.lmScoreWith(
      graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") === docId),
      idxLmUni, idxLmPair)

  /** GET /perplexity?doc_id=42 — mean per-bigram surprisal under the doc's
    * language reference model (persisted at index build) plus the q151
    * filter verdict. 404 when the doc is absent or unscorable (no model
    * for its language, or fewer than two tokens — the batch scorer's drop
    * semantics, surfaced instead of silently defaulted). */
  private def perplexityEndpoint(ex: HttpExchange,
      qp: Map[String, String]): Unit = {
    if (!hasLmModel) {
      reply(ex, 503, obj(_.put("detail",
        "index root has no reference LM — rebuild the retrieval index " +
          "or write lm_model/ under the index root")))
      return
    }
    val docId = qp.get("doc_id").map(parseInt("doc_id", _))
      .getOrElse(throw new IllegalArgumentException("doc_id is required"))
    perplexityFrame(docId.toLong).collect().headOption match {
      case None => reply(ex, 404,
        obj(_.put("detail", "doc_id not found or not scorable")))
      case Some(r) => reply(ex, 200, obj { o =>
        o.put("doc_id", r.getAs[Long]("doc_id"))
        o.put("lang", r.getAs[String]("lang"))
        o.put("n_bigrams", r.getAs[Long]("n_bigrams"))
        o.put("avg_surprisal", r.getAs[Double]("avg_surprisal"))
        o.put("keep", r.getAs[Double]("avg_surprisal") <=
          graft.llm.LangModel.MaxAvgSurprisal)
      })
    }
  }

  // the persisted image near-dup index — built once per (session, dir) on
  // first use, the mart discipline (its own root: media stores live apart
  // from the text/vector serving root)
  private lazy val ahashIndexBase: String =
    graft.ops.Multimodal.ahashIndexMart(spark, sfDir)

  /** The /imagedup search frame: the query doc's hash computed by a
    * point-read decode (pushed doc_id filter — one document's bytes), then
    * the banded index search ([[graft.ops.Multimodal.ahashSearchIndex]]) —
    * per-request reads are ≤ 4 (band, vb) directories plus the one-doc
    * decode; the corpus is never rescanned. None when the doc is absent. */
  private[serve] def imagedupFrame(docId: Long, maxHamming: Int,
      asOf: Option[Long] = None): Option[DataFrame] = {
    implicit val sp: SparkSession = spark
    graft.ops.Multimodal.imageFeatures(
        graft.Tables.documents(spark, sfDir).filter(col("doc_id") === docId),
        spreadInput = false) // point read: no one-row repartition
      .collect().headOption
      .map { r =>
        graft.ops.Multimodal.ahashSearchIndex(spark, ahashIndexBase,
          Seq(r.getAs[Long]("ahash_b0"), r.getAs[Long]("ahash_b1"),
            r.getAs[Long]("ahash_b2"), r.getAs[Long]("ahash_b3")),
          maxHamming, excludeDocId = docId, asOfVersion = asOf)
      }
  }

  /** GET /imagedup?doc_id=42&max_hamming=8&limit=20 — image near-dup
    * candidates for one document from the persisted banded aHash index
    * (an extension; the reference has no media surface). 404 when the doc
    * is absent. */
  private def imagedupEndpoint(ex: HttpExchange,
      qp: Map[String, String]): Unit = {
    val docId = qp.get("doc_id").map(parseInt("doc_id", _))
      .getOrElse(throw new IllegalArgumentException("doc_id is required"))
    val maxHamming = intParam(qp, "max_hamming", 8, 0, 32)
    val limit = intParam(qp, "limit", 20, 1, 100)
    imagedupFrame(docId.toLong, maxHamming, asOfParam(qp)) match {
      case None => reply(ex, 404, obj(_.put("detail", "doc_id not found")))
      case Some(df) =>
        val cols = Seq("doc_id", "hamming")
        val rows = df.limit(limit).collect()
        reply(ex, 200, obj { o =>
          val results = o.putArray("results")
          rows.foreach(r => putRow(results.addObject(), cols, r))
        })
    }
  }

  /** The /related frame: cluster-mates of `docId` from the centrality mart
    * (near-dup labels × integer-micro PageRank — graph-node-sized, memoized
    * per (session, dir) like the serving marts above), ranked most-central
    * first. At scale this is a point read on a doc-keyed label layout
    * followed by a cluster-keyed member fetch — never a corpus scan. */
  private[serve] def relatedFrame(docId: Long, k: Int): DataFrame = {
    val mart = graft.llm.LlmQueries.centralityMart(spark, sfDir)
    val cl = mart.filter(col("doc_id") === docId).select("cluster_id")
    mart.join(broadcast(cl), Seq("cluster_id"))
      .filter(col("doc_id") =!= docId)
      .orderBy(col("rank_micros").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "cluster_id", "rank_micros")
  }

  /** GET /related?doc_id=42&k=10 — the doc's near-duplicate cluster-mates,
    * most central (highest PageRank over the similarity graph) first (an
    * extension; the reference has no document surface). 404 when the doc
    * is in NO cluster — for graph-diffusion proximity beyond the cluster,
    * see [[graft.llm.GraphRank.personalizedPageRank]]. */
  private def relatedEndpoint(ex: HttpExchange, qp: Map[String, String]): Unit = {
    val docId = qp.get("doc_id").map(parseInt("doc_id", _))
      .getOrElse(throw new IllegalArgumentException("doc_id is required"))
    val k = intParam(qp, "k", 10, 1, 100)
    val cols = Seq("doc_id", "cluster_id", "rank_micros")
    val rows = relatedFrame(docId.toLong, k).collect()
    // a clustered doc always has >= 1 cluster-mate (clusters are >= 2 docs
    // by construction), so empty == unclustered == not a graph resource
    if (rows.isEmpty)
      reply(ex, 404, obj(_.put("detail", "doc_id not in any cluster")))
    else reply(ex, 200, obj { o =>
      val results = o.putArray("results")
      rows.foreach(r => putRow(results.addObject(), cols, r))
    })
  }

  /** GET /stats[?column=name]: the per-column ANALYZE stats of the corpus
    * table — row/null counts, native-typed min/max, HLL NDV. Unknown
    * column names 404 (a typo must not read as "no stats"). */
  private def statsEndpoint(ex: HttpExchange, qp: Map[String, String]): Unit = {
    val cols = Seq("column_name", "n_rows", "null_count", "n_distinct_est",
      "min_str", "max_str")
    val rows = qp.get("column") match {
      case Some(c) => documentsStats.filter(_.getString(0) == c)
      case None => documentsStats
    }
    if (rows.isEmpty)
      reply(ex, 404, obj(_.put("detail", "column not analyzed")))
    else reply(ex, 200, obj { o =>
      o.put("table", "documents")
      val results = o.putArray("columns")
      rows.foreach(r => putRow(results.addObject(), cols, r))
    })
  }

  /** GET /quantile?q=0.9 — the EXACT rank-based n_chars quantile served
    * from the cached fixed-domain histogram (the banded algorithm's
    * serving face): the bin walk is driver-side over ≤1024 cached rows,
    * the band pass touches expected n/1024 of the corpus. q outside
    * (0, 1] is a 422 (the require → IllegalArgumentException path). */
  private def quantileEndpoint(ex: HttpExchange, qp: Map[String, String]): Unit = {
    val q = qp.getOrElse("q", "0.5").toDoubleOption
      .getOrElse(throw new IllegalArgumentException("q must be a number"))
    qp.get("group_by") match {
      case None =>
        val bins = nCharsHist
          .map(r => (r.getAs[Long]("b"), r.getAs[Long]("c"))).toSeq
        val cutoff = graft.ops.Quality.quantileFromBins(bins,
          graft.Tables.documents(spark, sfDir), col("n_chars"), q,
          histLo, histHi)
        reply(ex, 200, obj { o =>
          o.put("column", "n_chars")
          o.put("q", q)
          o.put("cutoff", cutoff)
          o.put("n", bins.map(_._2).sum)
        })
      case Some(g) =>
        // bounded-cardinality dims only: a free-form column would make
        // the per-group cache (and the response) corpus-shaped
        if (!quantileGroupCols(g))
          throw new IllegalArgumentException(
            s"group_by must be one of ${quantileGroupCols.toSeq.sorted
              .mkString(", ")}")
        val bins = groupedNCharsHist(g)
          .map(r => (r.getAs[String]("g"), r.getAs[Long]("b"),
            r.getAs[Long]("c"))).toSeq
        val rows = graft.ops.Quality.groupedQuantileFromBins(bins,
            graft.Tables.documents(spark, sfDir), g, col("n_chars"), q,
            histLo, histHi)
          .orderBy(g).collect() // groups-sized
        reply(ex, 200, obj { o =>
          o.put("column", "n_chars")
          o.put("q", q)
          o.put("group_by", g)
          val arr = o.putArray("groups")
          rows.foreach { r =>
            val e = arr.addObject()
            e.put("group", r.getString(0))
            e.put("cutoff", r.getLong(1))
            e.put("n", r.getLong(2))
          }
        })
    }
  }

  /** GET /versions — the time-travel catalog of the serving index layout:
    * the published manifest versions a client may pass as `as_of` to
    * /search, /similar, /imagedup, or as from/to to [[diffEndpoint]].
    * The missing half of the `?as_of=` contract: refusal of unknown
    * versions is only usable if the known ones are discoverable. */
  private def versionsEndpoint(ex: HttpExchange): Unit = {
    val vs = graft.ops.Layout.manifestVersions(spark, searchIndexBase)
    reply(ex, 200, obj { o =>
      o.put("base", searchIndexBase)
      val arr = o.putArray("versions")
      vs.foreach(arr.add)
    })
  }

  /** GET /diff?from=<v1>&to=<v2> — manifest set difference of the serving
    * index layout between two published versions (the DIFF LAYOUT
    * statement's HTTP face): one entry per logical batch added, removed,
    * or rewritten. Unknown versions are a 422 (the refusal contract);
    * both parameters are required. Priced at manifest size — no index
    * data is opened. */
  private def diffEndpoint(ex: HttpExchange, qp: Map[String, String]): Unit = {
    def v(name: String): Long = qp.get(name)
      .flatMap(_.toLongOption)
      .getOrElse(throw new IllegalArgumentException(
        s"$name must be a manifest version number"))
    val rows = graft.ops.Layout.diffManifests(spark, searchIndexBase,
      v("from"), v("to"))
    reply(ex, 200, obj { o =>
      o.put("base", searchIndexBase)
      val arr = o.putArray("changes")
      rows.foreach { case (l, change, from, to) =>
        val e = arr.addObject()
        e.put("logical_batch", l)
        e.put("change", change)
        from.foreach(e.put("physical_from", _))
        to.foreach(e.put("physical_to", _))
      }
    })
  }

  // the minhash dedup index whose admission transaction wrote the audit
  // log — built once per (session, dir) on first use (its own root, the
  // ahashIndexBase discipline)
  private lazy val admissionIndexBase: String =
    graft.llm.Dedup.admissionMart(spark, sfDir)

  /** The /admissions frame: the committed admission audit of the dedup
    * index ([[graft.llm.Dedup.admissionLog]]), optionally filtered to one
    * source or one admission batch, optionally pinned AS OF a past
    * manifest version. Log-sized (sources × batches rows), never a
    * corpus read. */
  private[serve] def admissionsFrame(source: Option[String],
      batch: Option[Long], asOf: Option[Long] = None): DataFrame = {
    val log = graft.llm.Dedup.admissionLog(spark, admissionIndexBase, asOf)
    val bySource = source.fold(log)(s => log.filter(col("source") === s))
    batch.fold(bySource)(b => bySource.filter(col("batch") === b))
      .orderBy("batch", "source")
  }

  /** GET /admissions[?source=s1&batch=0&as_of=2] — the exactly-once
    * admission transaction's audit face, completing the serving
    * convention (every persisted mart has one: /stats, /versions, /diff).
    * Each row is one (batch, source) decision record: n_admitted indexed
    * survivors, n_rejected near-dups of the corpus, n_skipped sub-2-token
    * docs the index can never protect. The log publishes in the SAME
    * manifest swap as its index delta, so these rows always describe
    * exactly what the visible index holds; `as_of` time-travels both
    * together (unknown/vacuumed versions 422). */
  private def admissionsEndpoint(ex: HttpExchange,
      qp: Map[String, String]): Unit = {
    val batch = qp.get("batch").map(v => v.toLongOption.getOrElse(
      throw new IllegalArgumentException("batch must be an integer")))
    val cols = Seq("batch", "source", "n_admitted", "n_rejected",
      "n_skipped", "n_blocked")
    val rows = admissionsFrame(qp.get("source"), batch, asOfParam(qp))
      .collect() // log-sized: sources x batches
    reply(ex, 200, obj { o =>
      o.put("base", admissionIndexBase)
      val arr = o.putArray("admissions")
      rows.foreach(r => putRow(arr.addObject(), cols, r))
    })
  }

  /** The /takedowns frame: the standing takedown registry of the demo
    * registry root — one (content_key, doc_id) row per destroyed doc,
    * optionally filtered to one doc_id, optionally AS OF a past manifest
    * version. Registry-sized (cumulative takedown requests), never a
    * corpus read. */
  private[serve] def takedownsFrame(docId: Option[Long],
      asOf: Option[Long] = None): DataFrame = {
    val base = graft.llm.Dedup.registryMart(spark, sfDir)
    val reg = graft.llm.Dedup.takedownRegistry(spark, base, asOf)
    docId.fold(reg)(id => reg.filter(col("doc_id") === id))
      .orderBy("doc_id")
  }

  /** GET /takedowns[?doc_id=85&as_of=3] — the takedown registry's audit
    * face, completing the serving convention (every persisted mart has
    * one: /stats, /versions, /diff, /admissions). Each row is one
    * destroyed doc: `doc_id` is the audit trail back to the takedown
    * request, `content_key` the standing re-admission block the
    * admission transaction consults (one-way hash — no recoverable
    * text). An empty list is a valid 200 (a root with no takedowns);
    * unknown/vacuumed as_of versions 422. */
  private def takedownsEndpoint(ex: HttpExchange,
      qp: Map[String, String]): Unit = {
    val docId = qp.get("doc_id").map(v => v.toLongOption.getOrElse(
      throw new IllegalArgumentException("doc_id must be an integer")))
    val rows = takedownsFrame(docId, asOfParam(qp))
      .collect() // registry-sized
    reply(ex, 200, obj { o =>
      o.put("base", graft.llm.Dedup.registryMart(spark, sfDir))
      o.put("n_takedowns", rows.length)
      val arr = o.putArray("takedowns")
      rows.foreach { r =>
        val ro = arr.addObject()
        ro.put("content_key", r.getString(0))
        ro.put("doc_id", r.getLong(1))
      }
    })
  }

  /** The /captionfarm frame: q187's caption-farm pair mart (text
    * near-dups whose images disagree), optionally restricted to pairs
    * touching one doc, most-text-similar first. Pair-mart-sized reads —
    * never a corpus or decode pass per request (the mart memoizes both,
    * the serving-mart doctrine). */
  private[serve] def captionFarmFrame(docId: Option[Long], k: Int)
      : DataFrame = {
    val mart = graft.ops.Multimodal.captionFarmMart(spark, sfDir)
    docId.fold(mart)(id =>
        mart.filter(col("doc_id_a") === id || col("doc_id_b") === id))
      .orderBy(col("jaccard").desc, col("doc_id_a").asc,
        col("doc_id_b").asc)
      .limit(k)
  }

  /** GET /captionfarm[?doc_id=42][&k=20] — cross-modal curation signal
    * (q187 as a serving face): text near-duplicate pairs whose images
    * DISAGREE, the caption-farm / template-spam shape. An empty list is
    * a valid answer (a clean doc), so filters return 200 with no rows —
    * the /admissions convention, not /related's 404 (here the pair LIST
    * is the resource, not the doc). */
  private def captionFarmEndpoint(ex: HttpExchange,
      qp: Map[String, String]): Unit = {
    val docId = qp.get("doc_id").map(parseInt("doc_id", _).toLong)
    val k = intParam(qp, "k", 20, 1, 200)
    val cols = Seq("doc_id_a", "doc_id_b", "jaccard", "img_hamming")
    val rows = captionFarmFrame(docId, k).collect()
    reply(ex, 200, obj { o =>
      val arr = o.putArray("pairs")
      rows.foreach(r => putRow(arr.addObject(), cols, r))
    })
  }

  /** The /stolen frame: q188's cross-source image near-dup mart,
    * optionally restricted to pairs touching one source, closest images
    * first. */
  private[serve] def stolenFrame(source: Option[String], k: Int)
      : DataFrame = {
    val mart = graft.ops.Multimodal.stolenPairsMart(spark, sfDir)
    source.fold(mart)(s =>
        mart.filter(col("source_a") === s || col("source_b") === s))
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(k)
  }

  /** GET /stolen[?source=s1][&k=20] — stolen/scraped-content signal
    * (q188 as a serving face): the same image republished across
    * sources. Same empty-is-valid convention as /captionfarm. */
  private def stolenEndpoint(ex: HttpExchange,
      qp: Map[String, String]): Unit = {
    val k = intParam(qp, "k", 20, 1, 200)
    val cols = Seq("doc_a", "doc_b", "hamming", "source_a", "source_b")
    val rows = stolenFrame(qp.get("source"), k).collect()
    reply(ex, 200, obj { o =>
      val arr = o.putArray("pairs")
      rows.foreach(r => putRow(arr.addObject(), cols, r))
    })
  }

  /** The /similar search frame (see [[searchFrame]]): IVFADC over the
    * persisted index — probed-cell code reads + a `candidates`-bounded
    * exact re-rank against the vector store; per-request cost independent
    * of corpus size. */
  private[serve] def similarFrame(vecId: Long, k: Int, nprobe: Int,
      asOf: Option[Long] = None): DataFrame = {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") === vecId)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    graft.llm.Selection.ivfadcSearchIndexQueries(spark,
      s"$searchIndexBase/ann", emb, queries, k, nprobe,
      candidates = math.max(64L, embN / 16), asOfVersion = asOf)
  }

  /** GET /similar?vec_id=42&k=10&nprobe=4 — ANN over the persisted IVFADC
    * index (an extension; the reference has no vector search). 404 when the
    * vector id is absent from the store. */
  private def similarEndpoint(ex: HttpExchange, qp: Map[String, String]): Unit = {
    val vecId = qp.get("vec_id").map(parseInt("vec_id", _))
      .getOrElse(throw new IllegalArgumentException("vec_id is required"))
    val k = intParam(qp, "k", 10, 1, 100)
    val nprobe = intParam(qp, "nprobe", 4, 1, 64)
    val cols = Seq("query_id", "vec_id", "rank", "cosine")
    val rows = similarFrame(vecId.toLong, k, nprobe, asOfParam(qp))
      .select(cols.map(col): _*).collect()
    // 404 only when the id is genuinely absent from the store: an existing
    // vector with zero neighbors (one-vector store, all candidates pruned)
    // is a successful empty result, not a missing resource.
    if (rows.isEmpty && graft.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") === vecId.toLong).isEmpty)
      reply(ex, 404, obj(_.put("detail", "vec_id not found")))
    else reply(ex, 200, obj { o =>
      val results = o.putArray("results")
      rows.foreach(r => putRow(results.addObject(), cols, r))
    })
  }

  /** The /hybrid fusion frame: the persisted-index legs (/search's
    * postings BM25, /similar's IVFADC, and — when `phrase` is given —
    * /phrase's positional exact-phrase tier) fused by reciprocal-rank
    * fusion — the q107/q147 composition served per request. Every leg is
    * an index read; leg depth 50, fused top-k. */
  private[serve] def hybridFrame(terms: Seq[String], vecId: Long,
      k: Int, phrase: Seq[String] = Nil): DataFrame = {
    val lexW = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    val lex = searchFrame(terms, 50)
      .withColumn("lex_rank", row_number().over(lexW).cast("long"))
      .select("doc_id", "lex_rank")
    val sem = similarFrame(vecId, 50, nprobe = 4)
      .select(col("vec_id").as("doc_id"), col("rank").as("sem_rank"))
    if (phrase.isEmpty) graft.llm.Selection.rrfFuse(lex, sem, k)
    else graft.llm.Selection.rrfFuse3(lex, sem,
      graft.llm.Selection.phraseLeg(phraseFrame(phrase, 50), legK = 50), k)
  }

  /** GET /hybrid?q=terms&vec_id=42&k=10[&phrase=exact+phrase] — lexical +
    * semantic (+ optional exact-phrase) retrieval fused over the
    * persisted layouts (an extension; the reference has no search). Every
    * leg is an index read; no corpus scan. */
  private def hybridEndpoint(ex: HttpExchange, qp: Map[String, String]): Unit = {
    val terms = qp.getOrElse("q", "").trim.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, "q must contain at least one term")
    require(terms.size <= 32, "q is capped at 32 terms")
    val vecId = qp.get("vec_id").map(parseInt("vec_id", _))
      .getOrElse(throw new IllegalArgumentException("vec_id is required"))
    val k = intParam(qp, "k", 10, 1, 100)
    val phrase = qp.get("phrase").map(_.trim
        .toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    require(phrase.size <= 16, "phrase is capped at 16 terms")
    require(qp.get("phrase").isEmpty || phrase.nonEmpty,
      "phrase, when given, must contain at least one term")
    val cols = Seq("doc_id", "rrf_micro", "lex_rank", "sem_rank") ++
      (if (phrase.nonEmpty) Seq("phr_rank") else Nil)
    val rows = hybridFrame(terms, vecId.toLong, k, phrase)
      .select(cols.map(col): _*).collect()
    reply(ex, 200, obj { o =>
      val results = o.putArray("results")
      rows.foreach(r => putRow(results.addObject(), cols, r))
    })
  }

  /** POST /query: body = one SELECT/WITH statement over the registered
    * views; rows capped. The HTTP face of the GraftCatalog SQL front door.
    *
    * Read-only is enforced on the PARSED PLAN, not the leading keyword: a
    * first-token check alone is bypassable (Spark's grammar accepts
    * `WITH ... INSERT OVERWRITE DIRECTORY ...`, whose first token is WITH),
    * so any statement whose logical plan contains a Command or an insert is
    * rejected before execution. */
  private def sqlEndpoint(ex: HttpExchange): Unit = {
    val sql = new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8).trim
    val head = sql.split("\\s+").headOption.map(
      _.toUpperCase(java.util.Locale.ROOT)).getOrElse("")
    require(head == "SELECT" || head == "WITH",
      "only SELECT/WITH statements are served")
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    val mutating = parsed.collectFirst {
      case c: org.apache.spark.sql.catalyst.plans.logical.Command => c
      case n if n.nodeName.toLowerCase(java.util.Locale.ROOT)
        .contains("insert") => n
    }.isDefined
    require(!mutating, "only SELECT/WITH statements are served")
    val df = spark.sql(sql)
    val cols = df.columns.toSeq
    // Collect cap+1 so the payload can SAY whether the cap fired — a
    // truncated result that looks complete is worse than a smaller limit.
    val maxRows = 1000
    val rows = df.limit(maxRows + 1).collect()
    val truncated = rows.length > maxRows
    reply(ex, 200, obj { o =>
      val cn = o.putArray("columns")
      cols.foreach(cn.add)
      val results = o.putArray("rows")
      rows.take(maxRows).foreach { r =>
        val arr = results.addArray()
        cols.indices.foreach(i => putValue(arr, r, i))
      }
      o.put("truncated", truncated)
    })
  }

  // -------------------------------------------------------------- helpers

  private def queryParams(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
  }

  private def parseInt(name: String, v: String): Int =
    v.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"$name must be an integer"))
  private def parseDouble(name: String, v: String): Double =
    v.toDoubleOption.getOrElse(
      throw new IllegalArgumentException(s"$name must be a number"))
  private def intParam(qp: Map[String, String], name: String,
      default: Int, lo: Int, hi: Int): Int = {
    val v = qp.get(name).map(parseInt(name, _)).getOrElse(default)
    require(v >= lo && v <= hi, s"$name must be in $lo..$hi")
    v
  }

  /** `?as_of=<manifest version>` — the time-travel pin on the index-read
    * endpoints (/search, /similar, /imagedup). Non-numeric values 422
    * here; an unpublished version 422s downstream when
    * committedBatchFilterAt refuses it (an audit read must never silently
    * fall back to a different snapshot). */
  private def asOfParam(qp: Map[String, String]): Option[Long] =
    qp.get("as_of").map(v => v.toLongOption.getOrElse(
      throw new IllegalArgumentException("as_of must be an integer version")))

  private def obj(f: ObjectNode => Unit): ObjectNode = {
    val o = mapper.createObjectNode(); f(o); o
  }

  /** Row field -> JSON, null-preserving (ratio columns are nullable). */
  private def putRow(o: ObjectNode, cols: Seq[String], r: Row): Unit =
    cols.indices.foreach { i =>
      if (r.isNullAt(i)) o.putNull(cols(i))
      else r.get(i) match {
        case s: String  => o.put(cols(i), s)
        case d: Double  => o.put(cols(i), d)
        case l: Long    => o.put(cols(i), l)
        case n: Int     => o.put(cols(i), n)
        case b: Boolean => o.put(cols(i), b)
        case other      => o.put(cols(i), String.valueOf(other))
      }
    }

  private def putValue(arr: ArrayNode, r: Row, i: Int): Unit =
    if (r.isNullAt(i)) arr.addNull()
    else r.get(i) match {
      case s: String  => arr.add(s)
      case d: Double  => arr.add(d)
      case l: Long    => arr.add(l)
      case n: Int     => arr.add(n)
      case b: Boolean => arr.add(b)
      case other      => arr.add(String.valueOf(other))
    }

  private def reply(ex: HttpExchange, code: Int, body: ObjectNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }
}
