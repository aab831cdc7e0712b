package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.expr.HllSketch

/** Table statistics collection — the `ANALYZE` every warehouse grows once a
  * cost-based planner needs per-column cardinalities (the reference's
  * warehouse leans on SQLite's implicit rowid stats; at 100 TB the engine
  * must own them). One pass over the table computes, per column: row count,
  * null count, native-typed min/max, and distinct-count — NDV exact
  * (`count(DISTINCT)`) on the audit tier, HLL registers on the scale tier.
  *
  * Why two tiers: k exact distinct aggregates plan an Expand ×k — every
  * input row is replicated once per audited column before the shuffle, so
  * the exact tier costs k× the scan and is the TEST-SCALE audit only. The
  * scale tier ([[columnStats]], and the `ANALYZE PARQUET` statement that
  * persists it) carries one 4 KB HLL register vector per column instead:
  * ONE pass, map-side partials, no row replication, error ~1.6% at p=12 —
  * and q174's gate pins the estimator against the exact tier with the
  * repo's exact+tolerance boolean pattern (q37/q87/q166).
  *
  * Shard law ([[statsShard]]/[[statsFromShards]]): a shard's partial is one
  * WIDE row — counts (additive), native-typed min/max (fold by min/max, no
  * lossy string round-trip), HLL registers (register-wise max, byte-
  * identical to one-shot by the q168 contract). All three merges are
  * commutative + associative, so shard layout and merge order cannot move
  * the finalized stats: shard-merged == one-shot EXACTLY, which is the
  * q175 gate.
  */
object Analyze {

  /** Default audited columns for the `documents` corpus table. `text` is
    * deliberately absent: min/max of a free-text column is a multi-KB
    * payload with no planning value (NDV and null-count of text come free
    * via n_chars/doc_id at this table's grain). */
  val DocumentCols: Seq[String] = Seq("doc_id", "lang", "source", "n_chars")

  private def nullCount(c: String): Column =
    sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")

  /** One wide aggregation row holding every per-column measure of the
    * SCALE tier: counts, native min/max, HLL registers. Shared by the
    * one-shot path and the shard partials so the merge law is structural. */
  private def wideAgg(df: DataFrame, cols: Seq[String]): DataFrame = {
    val measures: Seq[Column] =
      count(lit(1)).as("n_rows") +:
        cols.flatMap { c =>
          Seq(
            nullCount(c),
            min(col(c)).as(s"min_$c"),
            max(col(c)).as(s"max_$c"),
            HllSketch.registers(col(c)).as(s"hll_$c"))
        }
    df.agg(measures.head, measures.tail: _*)
  }

  /** Fold shard-partial wide rows into one: counts add, native min/max
    * fold, HLL registers merge register-wise-max. */
  private def mergeWide(shards: DataFrame, cols: Seq[String]): DataFrame = {
    val measures: Seq[Column] =
      sum(col("n_rows")).as("n_rows") +:
        cols.flatMap { c =>
          Seq(
            sum(col(s"nulls_$c")).as(s"nulls_$c"),
            min(col(s"min_$c")).as(s"min_$c"),
            max(col(s"max_$c")).as(s"max_$c"),
            HllSketch.mergeRegisters(col(s"hll_$c")).as(s"hll_$c"))
        }
    shards.agg(measures.head, measures.tail: _*)
  }

  /** Wide row → one stats row per column. min/max cast to string ONLY here,
    * after the native fold, so numeric columns order numerically. */
  private def finalizeWide(wide: DataFrame, cols: Seq[String]): DataFrame = {
    val perCol = cols.map { c =>
      struct(
        lit(c).as("column_name"),
        col("n_rows"),
        col(s"nulls_$c").cast("long").as("null_count"),
        HllSketch.estimateOf(col(s"hll_$c")).as("n_distinct_est"),
        col(s"min_$c").cast("string").as("min_str"),
        col(s"max_$c").cast("string").as("max_str"))
    }
    wide.select(explode(array(perCol: _*)).as("s"))
      .select("s.*")
      .orderBy("column_name")
  }

  /** The scale tier: one pass, one wide partial per task, HLL NDV. This is
    * what `ANALYZE PARQUET` persists. */
  def columnStats(df: DataFrame, cols: Seq[String] = DocumentCols): DataFrame =
    finalizeWide(wideAgg(df, cols), cols)

  /** One shard's mergeable partial (a single wide row). */
  def statsShard(df: DataFrame, cols: Seq[String] = DocumentCols): DataFrame =
    wideAgg(df, cols)

  /** Merge shard partials and finalize — equals [[columnStats]] of the
    * union EXACTLY (additive counts, foldable min/max, byte-identical
    * register merge). */
  def statsFromShards(shards: DataFrame,
      cols: Seq[String] = DocumentCols): DataFrame =
    finalizeWide(mergeWide(shards, cols), cols)

  /** Table-stats shards REFUSE subtraction — they carry HLL NDV registers
    * (register-wise maxima) and per-column min/max (fold maxima/minima),
    * and maxima have no inverse: a "subtracted" stats mart would keep
    * reporting a deleted row's min, max and distinct mass forever, and
    * the stats-planned joins ([[joinPlannedByStats]]) would keep sizing
    * from vanished rows. The delete path is the RE-FOLD:
    * [[statsFromShards]] over the surviving shards (== the rebuild, the
    * q175 law) or a fresh ANALYZE of the post-delete table — which the
    * takedown recipes already prescribe for rewritten files. Declared as
    * a method so the exact-tier subtract API shape cannot be
    * pattern-matched onto this mart silently (the
    * UrlCuration.subtractHostStatsShardsHll discipline). */
  def subtractStatsShards(maintained: DataFrame,
      removed: DataFrame): DataFrame =
    throw new UnsupportedOperationException(
      "table-stats shards carry HLL NDV registers and min/max — maxima " +
        "have no inverse, so there is no sound subtract. Re-fold the " +
        "surviving shards (statsFromShards == the rebuild, the q175 " +
        "law) or re-ANALYZE the post-delete table.")

  /** The audit tier: exact NDV via count(DISTINCT) (Expand ×k — test scale
    * only) alongside the HLL estimate, emitting the exact columns plus the
    * within-tolerance boolean q174's oracle pins to TRUE. */
  def columnStatsExact(df: DataFrame, cols: Seq[String] = DocumentCols,
      tol: Double = 0.05): DataFrame = {
    val measures: Seq[Column] =
      count(lit(1)).as("n_rows") +:
        cols.flatMap { c =>
          Seq(
            nullCount(c),
            countDistinct(col(c)).as(s"ndv_$c"),
            min(col(c)).as(s"min_$c"),
            max(col(c)).as(s"max_$c"),
            HllSketch(col(c)).as(s"hllest_$c"))
        }
    val wide = df.agg(measures.head, measures.tail: _*)
    val perCol = cols.map { c =>
      struct(
        lit(c).as("column_name"),
        col("n_rows"),
        col(s"nulls_$c").cast("long").as("null_count"),
        col(s"ndv_$c").as("n_distinct"),
        col(s"min_$c").cast("string").as("min_str"),
        col(s"max_$c").cast("string").as("max_str"),
        (abs(col(s"hllest_$c").cast("double") - col(s"ndv_$c").cast("double"))
          <= lit(tol) * col(s"ndv_$c").cast("double")).as("ndv_within_tol"))
    }
    wide.select(explode(array(perCol: _*)).as("s"))
      .select("s.*")
      .orderBy("column_name")
  }

  /** Driver entry for the `ANALYZE PARQUET '<in>' INTO '<out>'` statement:
    * computes the scale-tier stats mart for the parquet table at `inPath`
    * and publishes it at `outPath` (directory write — the same atomic
    * visibility story as every mart). Returns (n_cols, n_rows). */
  def writeStats(spark: SparkSession, inPath: String, outPath: String,
      cols: Option[Seq[String]]): (Int, Long) = {
    val df = spark.read.parquet(inPath)
    val picked = cols.getOrElse {
      // default: non-string columns only — a string column is audited only
      // when explicitly named in COLUMNS, because min/max of a free-text
      // blob is a multi-KB payload with no planning value (a name-length
      // heuristic can't see payload size: `text` is 4 chars)
      df.schema.fields.toSeq.collect {
        case f if f.dataType.typeName != "string" => f.name
      }
    }
    // ONE pass: the stats frame is column-count rows, so collect it, write
    // the collected rows, and read n_rows off the first row — re-counting
    // the input for the return value would be a second full scan (at the
    // design scale, doubling the ANALYZE cost).
    val stats = columnStats(df, picked)
    val rows = stats.collect().toIndexedSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(stats.schema.fields))
      .write.mode("overwrite").parquet(outPath)
    val n = rows.headOption.map(_.getAs[Long]("n_rows")).getOrElse(df.count())
    (picked.size, n)
  }

  /** Row bound of a dimension: the broadcast license of the stats-planned
    * joins below, and the most rows a serving snapshot
    * ([[graft.serve.GraftApi]]) holds on the driver. */
  val DimensionMaxRows: Long = 1000000L

  /** The stats mart CONSUMED at plan time — the cost-based decision every
    * warehouse planner makes from exactly this table: join through a
    * broadcast when the dimension's ANALYZE row count is under `maxRows`,
    * through the shuffle otherwise. The mart read is a driver-side lookup
    * of a column-count-row table (what a CBO's catalog read is), never a
    * corpus-scale job; at 100 TB the alternative — sizing the dimension by
    * scanning it at plan time — is exactly what stats exist to avoid.
    * Stale stats degrade to a worse JOIN STRATEGY, never a wrong answer
    * (the hint moves the exchange, not the semantics). `joinType` extends
    * the decision beyond the inner equi-join: a host-blocklist anti-join
    * is the same broadcast-vs-shuffle choice over the same catalog read
    * (BroadcastHashJoin LeftAnti vs a shuffled anti). */
  def joinPlannedByStats(fact: DataFrame, dim: DataFrame, stats: DataFrame,
      keys: Seq[String], maxRows: Long = DimensionMaxRows,
      joinType: String = "inner"): DataFrame = {
    // Missing/empty mart (never ANALYZEd, or all-null n_rows) must degrade
    // to the conservative no-hint path, not crash planning: no stats means
    // no license to broadcast.
    val dimRows = stats.agg(max(col("n_rows")).as("n")).collect()
      .headOption.filterNot(_.isNullAt(0)).map(_.getLong(0))
    val dimSide =
      if (dimRows.exists(_ <= maxRows)) broadcast(dim) else dim
    fact.join(dimSide, keys, joinType)
  }

  /** One dimension leg of a stats-planned MULTI-way join: the dim frame,
    * its persisted ANALYZE mart, and the equi-join key columns. */
  final case class PlannedDim(dim: DataFrame, stats: DataFrame,
      keys: Seq[String])

  /** Order ONE star-shaped multi-way equi-join from the dims' ANALYZE
    * marts — the step past [[joinPlannedByStats]]'s single decision that
    * a 3-table plan needs: dims join smallest-estimated-first (the
    * standard star heuristic — cheapest build sides earliest, the
    * most-reducing legs applied before the intermediate widens), and
    * each leg broadcasts iff ITS mart says it fits `maxRows`. Pure
    * catalog reads (driver-side lookups of column-count-row frames —
    * what a CBO's pg_statistic probe is), never a plan-time scan of any
    * dim; a dim with no/empty mart orders LAST and gets no broadcast
    * license (stale or missing stats degrade to a worse order or an
    * extra exchange, never a wrong answer — inner equi-joins commute).
    * Ties keep declaration order (stable sort), so the plan is
    * deterministic under equal estimates. */
  def multiJoinPlannedByStats(fact: DataFrame, dims: Seq[PlannedDim],
      maxRows: Long = DimensionMaxRows): DataFrame = {
    val sized = dims.map { d =>
      val n = d.stats.agg(max(col("n_rows")).as("n")).collect()
        .headOption.filterNot(_.isNullAt(0)).map(_.getLong(0))
      (d, n)
    }
    sized.sortBy { case (_, n) => n.getOrElse(Long.MaxValue) }
      .foldLeft(fact) { case (acc, (d, n)) =>
        acc.join(
          if (n.exists(_ <= maxRows)) broadcast(d.dim) else d.dim,
          d.keys)
      }
  }

  private val docOracleCols =
    Seq("doc_id", "lang", "source", "n_chars")

  private def oracleLegExact(c: String): String =
    s"""SELECT '$c' AS column_name, count(*) AS n_rows,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
       |  count(DISTINCT $c) AS n_distinct,
       |  CAST(min($c) AS VARCHAR) AS min_str,
       |  CAST(max($c) AS VARCHAR) AS max_str,
       |  TRUE AS ndv_within_tol
       |FROM documents""".stripMargin

  private def oracleLegMerged(c: String): String =
    s"""SELECT '$c' AS column_name, count(*) AS n_rows,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
       |  CAST(min($c) AS VARCHAR) AS min_str,
       |  CAST(max($c) AS VARCHAR) AS max_str,
       |  TRUE AS merged_eq_oneshot
       |FROM documents""".stripMargin

  val queries: Seq[Q] = Seq(
    // The multi-way CBO face: facts ⋈ filings ⋈ companies ordered and
    // broadcast-decided from the dims' persisted ANALYZE marts (the
    // 3-table generalization of q92's single decision — what Postgres's
    // planner does for the reference's screener joins, here owned by
    // the engine). Oracle = the plain 3-way join; stats move order and
    // exchanges, never rows. Strategy pinning under fabricated mart
    // sizes lives in AnalyzeSpec.
    Q("q191_multiway_stats_join",
      (s, dir) => {
        val sd = graft.sec.SecDerive
        val filingsDim = sd.filings(s, dir).select(
          col("accession_no").as("filing_accession_no"),
          col("fiscal_year").as("filing_fiscal_year"))
        val companiesDim = sd.companies(s, dir)
          .select(col("cik"), col("ticker"))
        multiJoinPlannedByStats(sd.facts(s, dir),
          Seq(
            PlannedDim(filingsDim, sd.filingsStats(s, dir),
              Seq("filing_accession_no")),
            PlannedDim(companiesDim, sd.companiesStats(s, dir),
              Seq("cik"))))
          .select(col("fact_id"), col("cik"), col("tag"), col("value"),
            col("filing_fiscal_year"), col("ticker"))
          .orderBy("fact_id")
      },
      Some(s"""${graft.sec.SecSql.basePrelude}
SELECT f.fact_id, f.cik, f.tag, f.value,
  fl.fiscal_year AS filing_fiscal_year, c.ticker
FROM facts f
JOIN filings fl ON fl.accession_no = f.filing_accession_no
JOIN companies c ON c.cik = f.cik
ORDER BY f.fact_id""")),

    // ANALYZE audit gate: exact per-column stats (oracle-checked) + the
    // HLL-NDV tolerance boolean — a bad estimate reds the hash.
    Q("q174_analyze_stats",
      (s, dir) => columnStatsExact(Tables.documents(s, dir)),
      Some(docOracleCols.map(oracleLegExact)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY column_name"))),

    // Shard-merge law gate: 3 hash shards' wide partials merged == one-shot
    // EXACTLY (the boolean compares every finalized column, including the
    // HLL estimate, across the two paths); exact columns oracle-checked.
    Q("q175_stats_shard_merge",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val shards = (0 until 3).map(i =>
          statsShard(docs.where(pmod(col("doc_id"), lit(3)) === i)))
          .reduce(_ unionByName _)
        val merged = statsFromShards(shards)
        val oneShot = columnStats(docs)
        merged.alias("m")
          .join(oneShot.alias("o"), Seq("column_name"))
          .select(
            col("column_name"), col("m.n_rows").as("n_rows"),
            col("m.null_count").as("null_count"),
            col("m.min_str").as("min_str"), col("m.max_str").as("max_str"),
            (col("m.n_rows") === col("o.n_rows") &&
              col("m.null_count") === col("o.null_count") &&
              col("m.n_distinct_est") === col("o.n_distinct_est") &&
              col("m.min_str") === col("o.min_str") &&
              col("m.max_str") === col("o.max_str"))
              .as("merged_eq_oneshot"))
          .orderBy("column_name")
      },
      Some(docOracleCols.map(oracleLegMerged)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY column_name"))))
}
