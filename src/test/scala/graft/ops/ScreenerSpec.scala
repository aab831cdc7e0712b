package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sec.SecModel

/** Screener predicates + the typed Dataset serving edge. */
class ScreenerSpec extends SparkSpec {
  import spark.implicits._

  private val ratios = Seq(
    ("c1", 2020, Some(0.9), Some(0.2), Some(0.3)),
    ("c2", 2020, Some(0.1), Some(0.5), Some(0.1)),
    ("c3", 2021, None, None, None)
  ).toDF("cik", "fiscal_year", "roe", "fcf_margin", "net_margin")
    .select(col("cik"), col("fiscal_year"),
      lit(null).cast("double").as("gross_margin"),
      lit(null).cast("double").as("operating_margin"),
      col("net_margin"), lit(null).cast("double").as("roa"), col("roe"),
      lit(null).cast("double").as("leverage"), col("fcf_margin"),
      lit(null).cast("double").as("asset_turnover"))

  private val companies = Seq(
    ("c1", "AAA", "Alpha"), ("c2", "BBB", "Beta"), ("c3", "CCC", "Gamma")
  ).toDF("cik", "ticker", "name")

  test("dynamic predicates: only present params filter; nulls sort last") {
    val hits = Screener.screener(ratios, companies,
      Screener.ScreenerParams(minRoe = Some(0.5)))
    assert(singleCol[String](hits.select("cik")) === Seq("c1"))
    val all = Screener.screener(ratios, companies, Screener.ScreenerParams())
    assert(all.count() === 3)
    // c3 (null roe) sorts after c1 within... fiscal_year desc puts 2021 first
    assert(singleCol[String](all.select("cik")).head === "c3")
  }

  test("typed edge: ScreenerHit encodes nullable ratios as Options") {
    val hits = Screener.screenerTyped(ratios, companies,
      Screener.ScreenerParams()).collect()
    val byCik = hits.map(h => h.cik -> h).toMap
    assert(byCik("c1").roe === Some(0.9))
    assert(byCik("c3").roe === None)
    assert(byCik("c2").ticker === "BBB")
  }

  test("typed edge: RatioAnnual round trip") {
    val ds = Screener.ratiosTyped(ratios)
    val c3 = ds.collect().find(_.cik == "c3").get
    assert(c3.net_margin === None && c3.fiscal_year === 2021)
  }

  test("stats-planned screener: the ANALYZE mart flips the join strategy " +
      "without scanning the dim; rows match the hinted tier") {
    val p = Screener.ScreenerParams(minRoe = Some(0.05))
    // a dim whose every SCAN is counted — the CBO contract is that plan
    // time reads the catalog (the stats mart), never the dim itself
    val scans = spark.sparkContext.longAccumulator("dim_scans")
    val countedDim = companies.as[(String, String, String)]
      .mapPartitions { it => scans.add(1L); it }
      .toDF("cik", "ticker", "name")
    def planWith(stats: org.apache.spark.sql.DataFrame): String =
      Screener.screenerPlanned(ratios, countedDim, stats, p)
        .queryExecution.executedPlan.toString
    val realStats = Analyze.columnStats(companies, Seq("cik", "ticker"))
    // a mart CLAIMING the dim is a billion rows — only the catalog claim
    // changes, the data doesn't
    val bigStats = realStats
      .withColumn("n_rows", lit(1000000000L))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // isolate the stats decision from auto-BHJ
      assert(planWith(realStats).contains("BroadcastHashJoin"))
      assert(!planWith(bigStats).contains("BroadcastHashJoin"))
    } finally spark.conf.set(key, prev)
    // plan construction consulted only the stats mart: zero dim scans
    assert(scans.value === 0L)
    // either strategy, the hinted tier's rows
    val viaStats = Screener.screenerPlanned(ratios, companies, realStats, p)
      .collect().toSeq
    val hinted = Screener.screener(ratios, companies, p).collect().toSeq
    assert(viaStats === hinted)
  }

  test("driver-side >= keeps exactly the rows Catalyst's col >= v keeps " +
      "(NaN, -0.0, null, infinities)") {
    val xs: Seq[java.lang.Double] = Seq(Double.NaN, -0.0, 0.0, null,
      Double.PositiveInfinity, Double.NegativeInfinity, 1e300, -1.0)
      .map(x => x.asInstanceOf[java.lang.Double])
    // an RDD-backed frame, so the filter runs compiled, as the mart's does
    val frame = spark.createDataFrame(
      spark.sparkContext.parallelize(
        xs.map(org.apache.spark.sql.Row(_)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.DoubleType))))
    def bits(rs: Seq[org.apache.spark.sql.Row]): Seq[Long] =
      rs.map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))).sorted
    val all = frame.collect().toSeq
    for (v <- Seq(0.0, -0.0, Double.NaN, 1e300)) {
      val catalyst = frame.filter(col("x") >= v).collect().toSeq
      val driver = all.filter(Screener.atLeast(_, 0, v))
      assert(bits(driver) === bits(catalyst), s"v=$v")
    }
  }

  test("rankedRowFilter + take(limit) over ranked rows == the planned " +
      "screener: every filter subset, thresholds on values, NaN, -0.0, " +
      "nulls") {
    val r = Seq(
      ("c1", 2020, Some(0.9), Some(0.2), Some(0.3)),
      ("c2", 2020, Some(Double.NaN), Some(-0.0), Some(0.9)),
      ("c3", 2021, None, Some(0.0), None),
      ("c4", 2021, Some(-0.0), None, Some(Double.NaN)),
      ("c5", 2020, Some(0.9), Some(0.9), Some(-1.0))
    ).toDF("cik", "fiscal_year", "roe", "fcf_margin", "net_margin")
    val dim = (1 to 5).map(i => (s"c$i", s"T$i", s"N$i"))
      .toDF("cik", "ticker", "name")
    val ranked = Screener.ranked(r.join(dim, "cik")).collect()
    val grid = for {
      year <- Seq(None, Some(2020))
      roe <- Seq(false, true); fcf <- Seq(false, true); net <- Seq(false, true)
      t <- if (roe || fcf || net) Seq(-0.0, 0.9, Double.NaN, -1e300)
           else Seq(0.0)
    } yield Screener.ScreenerParams(year, Some(t).filter(_ => roe),
      Some(t).filter(_ => fcf), Some(t).filter(_ => net), limit = 2)
    for (p <- grid) {
      val snap = ranked.iterator.filter(Screener.rankedRowFilter(p))
        .take(p.limit).toSeq
      assert(snap === Screener.screener(r, dim, p).collect().toSeq,
        p.toString)
    }
  }
}
