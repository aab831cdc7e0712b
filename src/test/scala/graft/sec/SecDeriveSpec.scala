package graft.sec

import graft.SparkSpec

/** The derived warehouse tables: shape invariants + the typed facts edge
  * (encoding over nullable columns must not throw). */
class SecDeriveSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("factsTyped encodes nullable columns as Options") {
    val facts = SecDerive.factsTyped(spark, dir)
    val stock = facts.filter(f => f.period_start.isEmpty).head()
    assert(stock.period_end.nonEmpty)
    assert(stock.value.nonEmpty)
    assert(stock.cik.length === 10)
  }

  test("fact_id is unique (injective over the lineitem natural key)") {
    val facts = SecDerive.facts(spark, dir)
    assert(facts.count() === facts.select("fact_id").distinct().count())
  }

  test("companies: 37 ciks, zero-padded, ticker derived") {
    val c = SecDerive.companies(spark, dir).collect()
    assert(c.length === 37)
    assert(c.forall(_.getAs[String]("cik").length == 10))
    assert(c.forall(_.getAs[String]("ticker").startsWith("TKR")))
  }

  test("installBucketed: facts⋈filings joins exchange-free, same results") {
    val q04 = graft.SparkEntry.queries("q04_join_facts_filings")
    val expected = q04(spark, dir).count()
    SecDerive.evictMemo(spark)
    // Force the sort-merge path so the assertion tests the BUCKETED exchange
    // elimination, not AQE's broadcast choice on tiny test data.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      SecDerive.installBucketed(spark, dir,
        java.nio.file.Files.createTempDirectory("graft_bkt_spec").toString,
        nBuckets = 4)
      val bucketed = q04(spark, dir)
      // ShuffleExchangeExec prints as plain "Exchange", so scope the
      // assertion to the JOIN SUBTREE (the query's final global orderBy
      // legitimately plans a range-partitioning Exchange above it): with
      // broadcast disabled, any Exchange under the join would be a shuffle.
      val join = bucketed.queryExecution.sparkPlan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(join.isDefined, "expected a shuffle-family join in the plan")
      assert(!join.get.toString.contains("Exchange"),
        s"bucketed join must not shuffle:\n${join.get}")
      assert(bucketed.count() === expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      SecDerive.evictMemo(spark)
      spark.sql("DROP TABLE IF EXISTS graft_facts_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_filings_bkt")
    }
  }

  private def mkdirLayout(d: String, name: String)(onBuild: => Unit) =
    SecDerive.storedLayout(spark, d, name) { root =>
      onBuild
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    }

  test("storedLayout: one build per (dir, name), one root per key, rebuilt in place after evictMemo") {
    var builds = 0
    val a = mkdirLayout(dir, "spec_layout")(builds += 1)
    assert(mkdirLayout(dir, "spec_layout")(builds += 1) === a)
    assert(builds === 1)
    val others = Seq(mkdirLayout(s"$dir/other", "spec_layout")(()),
      mkdirLayout(dir, "spec_layout_other")(()))
    assert((a +: others).distinct.size === 3)
    assert((a +: others).forall(r =>
      new java.io.File(r).getParentFile == SecDerive.layoutsRoot))
    SecDerive.evictMemo(spark)
    assert(mkdirLayout(dir, "spec_layout")(builds += 1) === a)
    assert(builds === 2)
  }

  test("the application-end cleanup removes the process's layout root") {
    val root = mkdirLayout(dir, "spec_cleanup")(())
    assert(new java.io.File(root).isDirectory)
    try SecDerive.deleteLayouts()
    finally SecDerive.evictMemo(spark) // later suites rebuild what went
    assert(!SecDerive.layoutsRoot.exists())
  }
}
