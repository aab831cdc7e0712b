package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native bounded top-k aggregate (r21) against the salted two-phase
  * window spelling it replaced in rankPerQuery/rerankTopK — on randomized
  * (group, ord, id) frames with duplicate ord values (tie-breaks), ±0.0
  * (must compare equal, the NormalizeFloatingNumbers law), groups smaller
  * and larger than k, and both sort directions. */
class TopKOrdIdsSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(31)
  private val rows = (Seq.tabulate(4000) { i =>
    val g = (i % 7).toLong
    // coarse ord values force plenty of exact ties
    val ord = (rng.nextInt(40) - 20) / 8.0
    (g, ord, i.toLong)
  } ++ Seq((0L, 0.0, 9001L), (0L, -0.0, 9002L), (0L, -0.0, 9000L)))
    .toDF("query_id", "ord", "vec_id")

  private def windowed(df: DataFrame, k: Int, desc: Boolean,
      salts: Int): DataFrame = {
    val o = if (desc) Seq(col("ord").desc, col("vec_id").asc)
            else Seq(col("ord").asc, col("vec_id").asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), pmod(hash(col("vec_id")), lit(salts)))
      .orderBy(o: _*)
    val wGlobal = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(o: _*)
    df.withColumn("__l", row_number().over(wLocal)).filter(col("__l") <= k)
      .withColumn("rank", row_number().over(wGlobal).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "ord", "rank")
  }

  private def kernel(df: DataFrame, k: Int, desc: Boolean): DataFrame =
    df.groupBy("query_id")
      .agg(TopKOrdIds(col("ord"), col("vec_id"), k, desc).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__p", "__t")))
      .select(col("query_id"), col("__t.id").as("vec_id"),
        col("__t.ord").as("ord"), (col("__p") + 1).cast("long").as("rank"))

  private def pin(k: Int, desc: Boolean): Unit = {
    val w = windowed(rows, k, desc, salts = 8)
    val g = kernel(rows, k, desc)
    assert(w.exceptAll(g).count() === 0 && g.exceptAll(w).count() === 0,
      s"k=$k desc=$desc diverged from the window spelling")
  }

  test("== two-phase window, desc, k < group size") { pin(5, desc = true) }
  test("== two-phase window, asc, k < group size") { pin(5, desc = false) }
  test("== two-phase window, k > group size") { pin(5000, desc = true) }
  test("== two-phase window, k = 1") { pin(1, desc = false) }

  test("plans as ObjectHashAggregate with partial map-side fold, no sort") {
    val plan = kernel(rows, 5, desc = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
  }

  test("null ord/id rows are ignored") {
    val df = Seq((1L, Some(1.0), Some(10L)), (1L, None, Some(11L)),
      (1L, Some(2.0), None)).toDF("query_id", "ord", "vec_id")
    val got = kernel(df, 5, desc = true).collect()
    assert(got.length === 1 && got.head.getLong(1) === 10L)
  }

  test("a non-double ord or non-bigint id fails analysis, not the task") {
    def analyze(ord: org.apache.spark.sql.Column,
        id: org.apache.spark.sql.Column): Unit =
      rows.groupBy("query_id")
        .agg(TopKOrdIds(ord, id, 3, desc = true).as("__top"))
        .queryExecution.assertAnalyzed()
    for ((ord, id) <- Seq(
        (col("ord").cast("float"), col("vec_id")),
        (col("ord"), col("vec_id").cast("int")))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](analyze(ord, id))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
    analyze(col("ord"), col("vec_id")) // (double, bigint) still analyzes
  }
}
