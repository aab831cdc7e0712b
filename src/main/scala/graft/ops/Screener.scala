package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

/** The FastAPI query layer re-expressed as composable Column predicates
  * (/root/reference/src/sec_xbrl_finwarehouse/api.py). No string SQL: the
  * reference's f-string WHERE assembly (api.py:71-90) becomes a fold of
  * Option[Column] — injection-proof and Catalyst-optimizable.
  */
object Screener {

  /** F8 parameters (api.py:63-69). limit defaults/caps mirror the FastAPI
    * validators (1..200, default 25). */
  case class ScreenerParams(
      fiscalYear: Option[Int] = None,
      minRoe: Option[Double] = None,
      minFcfMargin: Option[Double] = None,
      minNetMargin: Option[Double] = None,
      limit: Int = 25) {
    require(limit >= 1 && limit <= 200, "limit must be in 1..200 (api.py:69)")
  }

  /** GET /screener (api.py:63-119): dynamic filters + join companies +
    * multi-key sort + top-k. companies is dimension-sized → broadcast; the
    * sort+limit plans as TakeOrderedAndProject (no global sort). `cik` is
    * appended to the sort as a deterministic tie-breaker (ties on roe are
    * otherwise broken arbitrarily — SURVEY §7.4). */
  def screener(ratios: DataFrame, companies: DataFrame, p: ScreenerParams): DataFrame =
    finishScreen(filtered(ratios, p).join(broadcast(companies), "cik"), p)

  /** [[screener]] with the dim join planned BY THE STATS MART instead of a
    * hard-coded broadcast hint: the companies side routes through
    * [[Analyze.joinPlannedByStats]] against the dim's persisted ANALYZE
    * stats — a driver-side catalog read, never a plan-time scan of the
    * dim. This is the reference's own shape: api.py delegates the join
    * strategy to Postgres's cost-based planner, which reads pg_statistic;
    * here the engine owns that catalog. Identical rows to [[screener]]
    * (stats move the exchange, not the semantics) — q11/q11b/q92 run this
    * path against the hand-hinted tier's oracle. */
  def screenerPlanned(ratios: DataFrame, companies: DataFrame,
      companiesStats: DataFrame, p: ScreenerParams): DataFrame =
    finishScreen(
      Analyze.joinPlannedByStats(filtered(ratios, p), companies,
        companiesStats, Seq("cik")),
      p)

  /** The dynamic conjunctive predicate fold (F8) shared by both tiers. */
  private def filtered(ratios: DataFrame, p: ScreenerParams): DataFrame = {
    val filters: Seq[Column] = Seq(
      p.fiscalYear.map(y => col("fiscal_year") === y),
      p.minRoe.map(v => col("roe") >= v),
      p.minFcfMargin.map(v => col("fcf_margin") >= v),
      p.minNetMargin.map(v => col("net_margin") >= v)).flatten
    filters.foldLeft(ratios)(_.filter(_))
  }

  /** Shared projection + multi-key top-k (O2) over the joined frame. */
  private def finishScreen(joined: DataFrame, p: ScreenerParams): DataFrame =
    ranked(joined).limit(p.limit)

  /** The screener's output columns, in [[ranked]]'s projection order. */
  val RankedCols: Seq[String] = Seq("ticker", "name", "cik", "fiscal_year",
    "roe", "fcf_margin", "net_margin")

  /** The screener's projection and total order over a ratios ⋈ companies
    * frame, without the top-k cut: fiscal_year DESC, roe DESC NULLS LAST,
    * cik ASC ((cik, fiscal_year) is the ratios key, so ties cannot occur).
    * The planned tiers cut it at `limit`; the serving snapshot
    * ([[graft.serve.GraftApi]]) collects it whole and answers with
    * [[rankedRowFilter]] plus the first `limit` matches, which are the same
    * rows because filtering a totally ordered list keeps its order. */
  def ranked(joined: DataFrame): DataFrame =
    joined.select(RankedCols.map(col): _*)
      .orderBy(col("fiscal_year").desc, col("roe").desc_nulls_last, col("cik").asc)

  /** [[filtered]]'s fold as a driver-side predicate over [[ranked]] rows.
    * Same semantics as the Column fold: `=` and `>=` reject nulls, and
    * doubles compare as Catalyst compares them ([[atLeast]]). */
  def rankedRowFilter(p: ScreenerParams): Row => Boolean = {
    val Seq(fy, roe, fcf, net) = Seq("fiscal_year", "roe", "fcf_margin",
      "net_margin").map(RankedCols.indexOf)
    val tests: Seq[Row => Boolean] = Seq(
      p.fiscalYear.map(y => (r: Row) => !r.isNullAt(fy) && r.getInt(fy) == y),
      p.minRoe.map(v => (r: Row) => atLeast(r, roe, v)),
      p.minFcfMargin.map(v => (r: Row) => atLeast(r, fcf, v)),
      p.minNetMargin.map(v => (r: Row) => atLeast(r, net, v))).flatten
    r => tests.forall(_(r))
  }

  /** `r(i) >= v` as Catalyst evaluates it on a double column: false on
    * null, and SQLOrderingUtil.compareDoubles' order, in which NaN equals
    * NaN and sorts above +Infinity, and -0.0 equals 0.0. */
  def atLeast(r: Row, i: Int, v: Double): Boolean =
    !r.isNullAt(i) && SQLOrderingUtil.compareDoubles(r.getDouble(i), v) >= 0

  /** Typed serving edge: the same screener as a Dataset[ScreenerHit] — what
    * the API layer would serialize to JSON (SecModel.ScreenerHit mirrors the
    * /screener response shape). The plan is identical to [[screener]]; only
    * the collect-side type changes. */
  def screenerTyped(ratios: DataFrame, companies: DataFrame,
      p: ScreenerParams): Dataset[graft.sec.SecModel.ScreenerHit] = {
    val s = ratios.sparkSession
    import s.implicits._
    screener(ratios, companies, p).as[graft.sec.SecModel.ScreenerHit]
  }

  /** Typed edge for the per-company ratios endpoint. */
  def ratiosTyped(ratios: DataFrame): Dataset[graft.sec.SecModel.RatioAnnual] = {
    val s = ratios.sparkSession
    import s.implicits._
    ratios.as[graft.sec.SecModel.RatioAnnual]
  }

  /** GET /company/{ticker} (api.py:6-19): point lookup, ticker upper-cased.
    * Locale.ROOT: the JVM default locale (e.g. tr-TR 'i'→'İ') would diverge
    * from Python str.upper() / DuckDB upper(). */
  def companyLookup(companies: DataFrame, ticker: String): DataFrame =
    companies.filter(col("ticker") === lit(ticker.toUpperCase(java.util.Locale.ROOT)))
      .select("cik", "ticker", "name")

  /** GET /ratios/{ticker} (api.py:21-61): the reference does a manual 2-step
    * lookup-then-query (a semi-join spelled as two round-trips, J3); here the
    * 1-row cik lookup is broadcast-semi-joined against `facts` BEFORE the
    * window/pivot (both partition by cik, so the pushdown is semantics-
    * preserving) — a point query scans one cik's slice, not the world. */
  def ratiosForTicker(facts: DataFrame, companies: DataFrame,
      ticker: String, limit: Int = 10): DataFrame = {
    require(limit >= 1 && limit <= 50, "limit must be in 1..50 (api.py:22)")
    val cikLookup = broadcast(companyLookup(companies, ticker).select("cik"))
    Ratios.compute(Statements.buildV3(facts.join(cikLookup, Seq("cik"), "left_semi")))
      .select(col("cik"), col("fiscal_year"), col("gross_margin"),
        col("operating_margin"), col("net_margin"), col("roa"), col("roe"),
        col("leverage"), col("fcf_margin"), col("asset_turnover"))
      .orderBy(col("fiscal_year").desc)
      .limit(limit)
  }
}
