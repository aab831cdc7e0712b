package graft.sec

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic derivation of the reference's warehouse tables (`facts`,
  * `filings`, `companies` — db/schema.sql:4-40) from the driver's TPC-H-ish
  * parquet, so the whole SEC pipeline can run (and be oracle-checked) on
  * `/root/testdata`. Every expression here is mirrored 1:1 by the DuckDB SQL
  * in [[SecSql]]; the derivations themselves are exposed as queries so the
  * driver verifies the mirror directly.
  *
  * Shape goals (FIXTURES.md §1.1): all 12 CORE_TAGS plus 2 noise tags, a
  * non-USD unit slice, a non-us-gaap taxonomy slice, 10-Q/20-F/10-K forms,
  * flow durations 300..399 days straddling the 330–380 filter boundary
  * (_v3.py:58), stock facts with NULL period_start, negative capex values
  * (sign fix _v3.py:136-139), several revenue-candidate tags per company-year
  * (coalesce _v3.py:118-123), and same-key rows with different `filed` so the
  * latest-wins window dedup (_v3.py:60-70) has real work to do.
  */
object SecDerive {
  // 14 tags: the 12 CORE_TAGS + 2 noise tags that every CORE_TAGS filter must drop.
  val tagByIdx: Seq[String] = SecTags.coreTags ++
    Seq("EntityCommonStockSharesOutstanding", "DeferredRevenueCurrent")
  private val stockIdx = Seq(9, 10, 11) // Assets, Liabilities, StockholdersEquity

  /** The derived warehouse tables stand in for materialized parquet (the
    * reference reads `facts` from Postgres, not re-deriving per query) — so
    * memoize + persist per (session, dir): ~15 registered queries share one
    * derivation instead of re-running the 14-deep tag CASE each time. */
  // Keyed on the session itself (identity semantics — SparkSession doesn't
  // override equals), so a recycled identityHashCode can never resurrect a
  // DataFrame bound to a dead session. NOTE the values (DataFrames) strongly
  // reference their session, which would pin a WeakHashMap key forever — so
  // eviction is EXPLICIT instead: ONE context-end listener per SparkContext
  // (NOT per session — a per-session listener closes over the session and
  // pins it until application end, defeating the weak keys for many
  // short-lived sessions over one long context) clears every entry of that
  // context's sessions, and [[evictMemo]] serves callers recycling
  // long-lived sessions after input changes.
  private val memo =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[(String, String), DataFrame]]()
  private val hookedContexts = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())
  // The same listener deletes the process's stored-layout root
  // ([[storedLayout]]); callers hold the memo lock.
  private def hookContextEnd(sc: org.apache.spark.SparkContext): Unit =
    if (hookedContexts.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          val mine = memo.synchronized {
            import scala.jdk.CollectionConverters._
            memo.keySet.asScala.filter(_.sparkContext eq sc).toList
          }
          mine.foreach(evictMemo)
          deleteLayouts()
        }
      })
  private def entriesFor(spark: SparkSession) = {
    hookContextEnd(spark.sparkContext)
    memo.computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)
  }
  // private[graft]: the LLM query family memoizes its own derived marts
  // (near-dup pairs/labels — LlmQueries) through the same machinery, so
  // there is exactly one session-lifetime/eviction story in the codebase.
  //
  // `mk` is evaluated OUTSIDE the lock: some marts (the CC label table)
  // run multi-round Spark jobs eagerly at build time, and holding the
  // global memo lock for that duration would block every other cached()
  // caller (e.g. a serving thread reading ratiosV3). The cost is a benign
  // duplicate build if two threads race the same key — loser unpersists.
  private[graft] def cached(spark: SparkSession, dir: String, name: String)
      (mk: => DataFrame): DataFrame = {
    val key = (dir, name)
    memo.synchronized(entriesFor(spark).get(key)).getOrElse {
      val built = mk.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      memo.synchronized {
        entriesFor(spark).get(key) match {
          case Some(winner) =>
            try built.unpersist() catch { case _: Exception => () }
            winner
          case None =>
            entriesFor(spark).put(key, built)
            built
        }
      }
    }
  }

  /** [[cached]] for marts that feed ITERATIVE plans (the rank loops'
    * 4-round join recurrences, pointer-jumping): materializes through a
    * STATS-FREE local checkpoint instead of a lazy persist. A persisted
    * InMemoryRelation keeps the origin plan's statistics and full lineage,
    * and a loop plan that re-references it every round multiplies those
    * sizes in join estimation — the exact poison
    * [[org.apache.spark.sql.GraftSqlBridge.localCheckpointNoStats]]
    * documents, and the measured r14 regression (q155/q156/q159 ran 3–8×
    * slower the round their graph prep moved from the self-contained
    * checkpointed path onto a lazy-persist mart). The checkpoint truncates
    * lineage and carries no stats, so the mart behaves exactly like the
    * old per-call `GraphRank.checkpointedGraph` — but built once per
    * (session, dir). Build is EAGER (the checkpoint materializes), which
    * is what these marts want: every caller iterates over them
    * immediately. Eviction: checkpoint blocks free when the RDD is GC'd
    * (nothing to unpersist), so [[evictMemo]]'s unpersist is a no-op here
    * — same lifetime story as the old path's per-call checkpoints. */
  private[graft] def cachedStable(spark: SparkSession, dir: String,
      name: String)(mk: => DataFrame): DataFrame = {
    val key = (dir, name)
    memo.synchronized(entriesFor(spark).get(key)).getOrElse {
      // built OUTSIDE the lock, like cached(): the checkpoint runs a job
      val built = org.apache.spark.sql.GraftSqlBridge.localCheckpointNoStats(mk)
      memo.synchronized {
        entriesFor(spark).get(key) match {
          case Some(winner) => winner // loser's blocks are GC-reclaimed
          case None =>
            entriesFor(spark).put(key, built)
            built
        }
      }
    }
  }

  // Scalar companion to [[cached]]: memoized COUNTS and once-markers
  // (q34/q57/q98/q104 resolve adaptive geometry from the embeddings row
  // count; [[storedLayout]] uses the marker to build each layout exactly
  // once). Keyed on (session, dir) and cleared by the same [[evictMemo]]
  // path, so a test/bench that regenerates a dir and evicts the session
  // cannot resolve geometry from a stale count (the former JVM-lifetime
  // dir-keyed cache could). ConcurrentHashMap.computeIfAbsent so a
  // SIDE-EFFECTING builder (layout writes) runs once per key even under
  // thread contention — callers racing the same key block on it; mk must
  // not nest another cachedCount call (CHM forbids recursive updates).
  private val countMemo =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]]()
  private[graft] def cachedCount(spark: SparkSession, dir: String,
      name: String)(mk: => Long): Long =
    memo.synchronized {
      countMemo.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap)
    }.computeIfAbsent((dir, name), _ => mk).longValue

  /** Collision-proof filesystem key for a data-dir path: sanitized tail
    * (bounded, so the component stays under filename limits) + an md5
    * suffix of the FULL path (distinct dirs differing only in sanitized-out
    * characters cannot collide) + the JVM pid. Names the [[storedLayout]]
    * roots and Verify's debug-dump dir. */
  private[graft] def pathKey(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(dir.getBytes("UTF-8")).take(6)
      .map(b => f"${b & 0xff}%02x").mkString
    dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(64) +
      "_" + h + "_p" + ProcessHandle.current().pid()
  }

  /** The stored-layout root of (dir, name): the stand-in for a table the
    * reference keeps in Postgres, which owns its storage and lifetime. It is
    * `<name>_<pathKey(dir)>` under this process's [[layoutsRoot]], and
    * `build(root)` writes it once per (session, dir, name) under
    * [[cachedCount]]'s per-key lock — so `build` must not call cachedCount
    * itself (resolve such inputs before). [[evictMemo]] keeps the files:
    * the next call rebuilds in place. The application-end listener deletes
    * the whole process root. */
  private[graft] def storedLayout(spark: SparkSession, dir: String,
      name: String)(build: String => Unit): String = {
    memo.synchronized(hookContextEnd(spark.sparkContext))
    val root =
      new java.io.File(layoutsRoot, s"${name}_${pathKey(dir)}").toString
    cachedCount(spark, dir, name) { build(root); 1L }
    root
  }

  /** One directory per process, so no other process reads or deletes a
    * layout mid-build. */
  private[graft] lazy val layoutsRoot: java.io.File = new java.io.File(
    sys.props.getOrElse("java.io.tmpdir", "/tmp"),
    s"graft_layouts_p${ProcessHandle.current().pid()}")

  /** The application-end cleanup: removes the process's layout root. */
  private[graft] def deleteLayouts(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(layoutsRoot)
    ()
  }

  /** Drop (and unpersist) this session's memoized derivations — for callers
    * recycling a long-lived session after the inputs change, and for tests
    * that install/uninstall the bucketed tables. Stored layouts stay on
    * disk; their next use rebuilds them in place. */
  def evictMemo(spark: SparkSession): Unit = memo.synchronized {
    Option(memo.remove(spark)).foreach(_.values.foreach { df =>
      try df.unpersist() catch { case _: Exception => () }
    })
    countMemo.remove(spark)
    ()
  }

  /** Swap the memoized facts/filings for materialized BUCKETED tables
    * (Layout.writeBucketed): facts hash-clustered on `filing_accession_no`,
    * filings on `accession_no`, same bucket count — so every facts⋈filings
    * join in the registered queries runs exchange-free on the join key (the
    * co-located physical design SCALE.md promises; the bench warmup calls
    * this so the recorded numbers measure the bucketed path). */
  def installBucketed(spark: SparkSession, dir: String, basePath: String,
      nBuckets: Int = 16): Unit = {
    graft.ops.Layout.writeBucketed(factsPlan(spark, dir),
      "graft_facts_bkt", s"$basePath/facts_bkt", "filing_accession_no", nBuckets)
    graft.ops.Layout.writeBucketed(filingsPlan(spark, dir),
      "graft_filings_bkt", s"$basePath/filings_bkt", "accession_no", nBuckets)
    memo.synchronized {
      val m = entriesFor(spark)
      // unpersist any previously memoized derivations being replaced (and
      // the marts derived FROM them), so their MEMORY_AND_DISK blocks don't
      // linger orphaned in the session
      Seq("facts", "filings", "statements_v3", "ratios_v3").foreach { n =>
        m.remove((dir, n)).foreach(df =>
          try df.unpersist() catch { case _: Exception => () })
      }
      m.put((dir, "facts"), spark.table("graft_facts_bkt"))
      m.put((dir, "filings"), spark.table("graft_filings_bkt"))
    }
    ()
  }

  /** The statements mart as a STORED table: the reference builds
    * statements_annual once (build_statements_annual_v3.py) and every
    * consumer — compute_ratios.py:18-25, api.py — READS it; consumers never
    * rebuild from facts. Memoized+persisted per (session, dir) to mirror
    * that: q10/q11/q12/q55 read the mart, while q09/q17 keep calling
    * Statements.buildV3/V2 directly and measure the honest build. */
  def statementsV3(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "statements_v3")(
      graft.ops.Statements.buildV3(facts(spark, dir)))

  /** ratios_annual as a stored table (compute_ratios.py writes it; the API
    * reads it — api.py:21-61). */
  def ratiosV3(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "ratios_v3")(
      graft.ops.Ratios.compute(statementsV3(spark, dir)))

  /** ANALYZE stats of the companies dim as a stored mart — the planner's
    * catalog row. [[graft.ops.Analyze.joinPlannedByStats]] reads THIS (a
    * persisted column-count-row frame, a driver-side lookup) to pick the
    * screener's dim-join strategy, instead of sizing the dim by scanning
    * it at plan time — the delegation the reference makes to Postgres's
    * stats-owning planner (api.py runs its screener joins through the
    * CBO, which reads pg_statistic). Built once per (session, dir), like
    * every stored mart; at 100 TB this is the `ANALYZE PARQUET ... INTO`
    * output sitting next to the table. */
  def companiesStats(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "companies_stats")(
      graft.ops.Analyze.columnStats(companies(spark, dir),
        Seq("cik", "ticker")))

  /** ANALYZE stats of the filings dim — the second catalog row the
    * multi-way stats-planned join (q191) orders by. */
  def filingsStats(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "filings_stats")(
      graft.ops.Analyze.columnStats(filings(spark, dir),
        Seq("accession_no", "cik")))

  /** facts: one row per lineitem line. Narrow EAV fact table (schema.sql:26-40). */
  def facts(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "facts")(factsPlan(spark, dir))

  private def factsPlan(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val tagIdx = (col("l_partkey") + col("l_linenumber")) % 14
    val shipDate = to_date(col("l_shipdate"))
    val days = (lit(300) + col("l_suppkey") % 100).cast("int")
    val tagCase = tagByIdx.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (tag, i)) => when(tagIdx === i, tag).otherwise(acc)
    }
    li.select(
      // Injective over the lineitem natural key (l_orderkey, l_linenumber,
      // l_partkey, l_suppkey, quantity) — shorter prefixes collide in the
      // synthetic data (measured: one (ok,ln,pk,sk) duplicate at sf0.001).
      // Decimal slot budget holds through the driver's max sf0.1 with >10x
      // headroom (orderkey 1.5e5 -> 1.5e18 < 2^63; partkey < 1e5 in its 1e12
      // slot; suppkey < 1e5 in 1e7; quantity 1..50 in 1e2). Test-data
      // scaffolding only — the production fact table keys on the 8-column
      // natural key the schema declares UNIQUE (db/schema.sql:39).
      ((col("l_orderkey") * 10 + col("l_linenumber")) * lit(1000000000000L) +
        col("l_partkey") * 10000000L + col("l_suppkey") * 100L +
        col("l_quantity").cast("int")).cast("long").as("fact_id"),
      lpad((col("l_orderkey") % 37).cast("string"), 10, "0").as("cik"),
      when(col("l_partkey") % 13 === 0, "dei").otherwise("us-gaap").as("taxonomy"),
      tagCase.as("tag"),
      when(col("l_partkey") % 11 === 0, "EUR").otherwise("USD").as("unit"),
      when(tagIdx.isin(stockIdx: _*), lit(null).cast("date"))
        .otherwise(date_sub(shipDate, days)).as("period_start"),
      shipDate.as("period_end"),
      when(tagIdx === 8 && col("l_suppkey") % 3 === 0, -col("l_extendedprice"))
        .otherwise(col("l_extendedprice")).as("value"),
      concat(lit("ACC-"), col("l_orderkey").cast("string")).as("filing_accession_no"),
      when((col("l_orderkey") + col("l_linenumber")) % 10 === 0, "10-Q")
        .when((col("l_orderkey") + col("l_linenumber")) % 10 === 1, "20-F")
        .otherwise("10-K").as("form"),
      date_add(shipDate, (col("l_partkey") % 90).cast("int")).as("filed"),
      concat(lit("CY"), year(shipDate).cast("string")).as("frame"))
  }

  /** Typed edge over the fact table (SURVEY §7.1: Dataset[T] at the edges;
    * Fact's Option fields match the nullable schema). */
  def factsTyped(spark: SparkSession, dir: String): Dataset[SecModel.Fact] = {
    import spark.implicits._
    facts(spark, dir).as[SecModel.Fact]
  }

  /** filings: one row per order, with ~1/7 dropped so the facts→filings FK
    * check (anti-join orphan detection) has hits (schema.sql:14-23). */
  def filings(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "filings")(filingsPlan(spark, dir))

  private def filingsPlan(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val orderDate = to_date(col("o_orderdate"))
    o.filter(col("o_orderkey") % 7 =!= 0).select(
      concat(lit("ACC-"), col("o_orderkey").cast("string")).as("accession_no"),
      lpad((col("o_custkey") % 37).cast("string"), 10, "0").as("cik"),
      when(col("o_orderkey") % 10 === 0, "10-Q")
        .when(col("o_orderkey") % 10 === 1, "20-F")
        .otherwise("10-K").as("form"),
      orderDate.as("filing_date"),
      orderDate.as("report_date"),
      year(orderDate).cast("int").as("fiscal_year"),
      when(col("o_orderkey") % 4 === 0, "FY")
        .otherwise(concat(lit("Q"), (col("o_orderkey") % 4).cast("string")))
        .as("fiscal_period"))
  }

  /** companies: ticker→CIK dimension, 37 rows (schema.sql:4-12; seeded in the
    * reference from the SEC ticker map, seed_companies.py:8-22). */
  def companies(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    c.select((col("c_custkey") % 37).cast("long").as("k"), col("c_name"))
      .groupBy("k")
      .agg(min("c_name").as("name"))
      .select(
        lpad(col("k").cast("string"), 10, "0").as("cik"),
        concat(lit("TKR"), col("k").cast("string")).as("ticker"),
        col("name"))
  }
}

/** DuckDB-SQL mirrors of [[SecDerive]] as CTE bodies, composed into every
  * SEC-pipeline oracle. Kept adjacent to the Spark code so the two stay in
  * lock-step; the driver's oracle gate is the proof they agree.
  */
object SecSql {
  private val tagCaseSql: String = SecDerive.tagByIdx.zipWithIndex
    .map { case (t, i) => s"WHEN $i THEN '$t'" }
    .mkString("CASE (l_partkey + l_linenumber) % 14 ", " ", " END")

  val factsCte: String = s"""
facts AS (
  SELECT
    (l_orderkey * 10 + l_linenumber) * 1000000000000 + l_partkey * 10000000
      + l_suppkey * 100 + CAST(l_quantity AS INTEGER) AS fact_id,
    lpad(CAST(l_orderkey % 37 AS VARCHAR), 10, '0') AS cik,
    CASE WHEN l_partkey % 13 = 0 THEN 'dei' ELSE 'us-gaap' END AS taxonomy,
    $tagCaseSql AS tag,
    CASE WHEN l_partkey % 11 = 0 THEN 'EUR' ELSE 'USD' END AS unit,
    CASE WHEN (l_partkey + l_linenumber) % 14 IN (9, 10, 11) THEN NULL
         ELSE CAST(l_shipdate AS DATE) - CAST(300 + l_suppkey % 100 AS INTEGER)
    END AS period_start,
    CAST(l_shipdate AS DATE) AS period_end,
    CASE WHEN (l_partkey + l_linenumber) % 14 = 8 AND l_suppkey % 3 = 0
         THEN -l_extendedprice ELSE l_extendedprice END AS value,
    'ACC-' || CAST(l_orderkey AS VARCHAR) AS filing_accession_no,
    CASE (l_orderkey + l_linenumber) % 10
      WHEN 0 THEN '10-Q' WHEN 1 THEN '20-F' ELSE '10-K' END AS form,
    CAST(l_shipdate AS DATE) + CAST(l_partkey % 90 AS INTEGER) AS filed,
    'CY' || CAST(year(CAST(l_shipdate AS DATE)) AS VARCHAR) AS frame
  FROM lineitem
)"""

  val filingsCte: String = """
filings AS (
  SELECT
    'ACC-' || CAST(o_orderkey AS VARCHAR) AS accession_no,
    lpad(CAST(o_custkey % 37 AS VARCHAR), 10, '0') AS cik,
    CASE o_orderkey % 10
      WHEN 0 THEN '10-Q' WHEN 1 THEN '20-F' ELSE '10-K' END AS form,
    CAST(o_orderdate AS DATE) AS filing_date,
    CAST(o_orderdate AS DATE) AS report_date,
    CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS fiscal_year,
    CASE WHEN o_orderkey % 4 = 0 THEN 'FY'
         ELSE 'Q' || CAST(o_orderkey % 4 AS VARCHAR) END AS fiscal_period
  FROM orders
  WHERE o_orderkey % 7 <> 0
)"""

  val companiesCte: String = """
companies AS (
  SELECT lpad(CAST(k AS VARCHAR), 10, '0') AS cik,
         'TKR' || CAST(k AS VARCHAR) AS ticker,
         name
  FROM (SELECT c_custkey % 37 AS k, min(c_name) AS name FROM customer GROUP BY 1)
)"""

  private def quoted(ts: Seq[String]): String = ts.map(t => s"'$t'").mkString(", ")

  /** Mirror of Statements.flowFacts + stockFacts + dedupLatest (v3 semantics,
    * _v3.py:40-109, with the deterministic tie-breakers SURVEY §7.4 demands). */
  val dedupedCte: String = s"""
flow AS (
  SELECT cik, CAST(year(period_end) AS INTEGER) AS fiscal_year, tag, value, filed, fact_id
  FROM facts
  WHERE taxonomy = 'us-gaap' AND unit = 'USD'
    AND tag IN (${quoted(SecTags.flowTags)})
    AND form IN ('10-K', '20-F')
    AND period_start IS NOT NULL AND period_end IS NOT NULL
    AND date_diff('day', period_start, period_end) BETWEEN 330 AND 380
),
stock AS (
  SELECT cik, CAST(year(period_end) AS INTEGER) AS fiscal_year, tag, value, filed, fact_id
  FROM facts
  WHERE taxonomy = 'us-gaap' AND unit = 'USD'
    AND tag IN (${quoted(SecTags.stockTags)})
    AND form IN ('10-K', '20-F')
    AND period_end IS NOT NULL AND period_start IS NULL
),
deduped AS (
  SELECT cik, fiscal_year, tag, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cik, fiscal_year, tag
      ORDER BY filed DESC NULLS LAST, value DESC NULLS LAST, fact_id ASC
    ) AS rn
    FROM (SELECT * FROM flow UNION ALL SELECT * FROM stock)
  ) WHERE rn = 1
)"""

  /** Mirror of Statements.annualFactsV1 (v1/v2 join path + form-priority
    * ranking; build_statements_annual.py:36-51). */
  val annualV1Cte: String = s"""
annual_v1 AS (
  SELECT cik, fiscal_year, tag, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cik, fiscal_year, tag
      ORDER BY CASE WHEN form = '10-K' THEN 0 ELSE 1 END ASC,
               filed DESC NULLS LAST, value DESC NULLS LAST, fact_id ASC) AS rn
    FROM (
      SELECT f.cik, fl.fiscal_year AS fiscal_year, f.tag, f.value, f.filed,
             f.form, f.fact_id
      FROM facts f
      JOIN filings fl ON fl.accession_no = f.filing_accession_no
      WHERE f.taxonomy = 'us-gaap' AND f.unit = 'USD'
        AND f.tag IN (${quoted(SecTags.coreTags)})
        AND fl.fiscal_year IS NOT NULL AND fl.fiscal_period = 'FY')
  ) WHERE rn = 1
)"""

  /** Mirror of Statements.pivotWide + derive (_v3.py:111-152), parameterized
    * by the narrow source CTE and the revenue-coalesce priority order (v2 vs
    * v3 differ — _v2.py:5-10 vs _v3.py:5-10). */
  private def statementsCtes(wideName: String, stmtName: String,
      source: String, candidates: Seq[String]): String = {
    val pivotCols = SecDerive.tagByIdx.take(12).map { t =>
      s"    max(CASE WHEN tag = '$t' THEN value END) AS \"$t\""
    }.mkString(",\n")
    val revCoalesce = candidates.map(t => s"\"$t\"").mkString("coalesce(", ", ", ")")
    s"""
$wideName AS (
  SELECT cik, fiscal_year,
$pivotCols
  FROM $source
  GROUP BY cik, fiscal_year
),
$stmtName AS (
  SELECT cik, fiscal_year,
    $revCoalesce AS revenues,
    "GrossProfit" AS gross_profit,
    "OperatingIncomeLoss" AS operating_income,
    "NetIncomeLoss" AS net_income,
    "Assets" AS total_assets,
    "Liabilities" AS total_liabilities,
    "StockholdersEquity" AS total_equity,
    "NetCashProvidedByUsedInOperatingActivities" AS operating_cash_flow,
    abs("PaymentsToAcquirePropertyPlantAndEquipment") AS capex,
    "NetCashProvidedByUsedInOperatingActivities"
      - abs("PaymentsToAcquirePropertyPlantAndEquipment") AS free_cash_flow
  FROM $wideName
)"""
  }

  /** Mirror of Statements.buildV3 (pivot + derive; _v3.py:111-152). */
  val statementsCte: String =
    statementsCtes("wide", "statements", "deduped", SecTags.revenueCandidates)

  /** Mirror of Statements.buildV2 (v1/v2 join path + v2 coalesce order). */
  val statementsV2Cte: String =
    statementsCtes("wide_v2", "statements_v2", "annual_v1", SecTags.revenueCandidatesV2)

  /** Mirror of Ratios.compute (compute_ratios.py:29-39, null/zero-safe A7). */
  val ratiosCte: String = {
    def div(a: String, b: String) =
      s"CASE WHEN $b IS NULL OR $b = 0 THEN NULL ELSE $a / $b END"
    s"""
ratios AS (
  SELECT cik, fiscal_year,
    ${div("gross_profit", "revenues")} AS gross_margin,
    ${div("operating_income", "revenues")} AS operating_margin,
    ${div("net_income", "revenues")} AS net_margin,
    ${div("net_income", "total_assets")} AS roa,
    ${div("net_income", "total_equity")} AS roe,
    ${div("total_assets", "total_equity")} AS leverage,
    ${div("free_cash_flow", "revenues")} AS fcf_margin,
    ${div("revenues", "total_assets")} AS asset_turnover
  FROM statements
)"""
  }

  /** Full prelude: WITH facts, filings, companies, flow..ratios. */
  val fullPrelude: String =
    s"WITH $factsCte, $filingsCte, $companiesCte, $dedupedCte, $statementsCte, $ratiosCte"

  val basePrelude: String =
    s"WITH $factsCte, $filingsCte, $companiesCte"
}
