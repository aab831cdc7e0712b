package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout for multi-dimensional pruning — the
  * `OPTIMIZE ZORDER BY` pattern (Delta Lake / Databricks, public docs;
  * Morton 1966). A single-column range layout gives parquet min/max file
  * skipping on ONE dimension and is blind on every other; interleaving the
  * bits of two dimensions into one sort key makes every output file cover a
  * small RECTANGLE of the (x, y) space, so file-level min/max statistics
  * prune boxes and bands on BOTH dimensions. At 100 TB this is the
  * difference between a date-band query scanning 100% of a custkey-sorted
  * table and scanning the handful of files whose y-extent intersects the
  * band — no index structure, just write-order + the stats readers already
  * collect.
  *
  * Everything here is built-in Catalyst expressions (the 42-term interleave
  * fold stays inside whole-stage codegen) + one `repartitionByRange` per
  * layout write — the exchange a layout rewrite pays anyway. No UDFs, no
  * driver-side loops.
  */
object Zorder {

  /** Bits kept per dimension: 21+21 = 42-bit keys, always inside a long
    * (three-dimension callers would drop to 21 bits each as well). */
  val Bits = 21

  private val Mask = (1L << Bits) - 1

  /** Cells per dimension for layout keys: both dimensions are min/max-scaled
    * to this many bits BEFORE interleaving. Interleaving raw values skews
    * the curve toward whichever dimension spans more bits (measured: a
    * 14-bit custkey × 11-bit day corpus z-ordered on raw values pruned a
    * day-band to only 0.91 of files — x-dominant top bits); equal-width
    * scaling is what makes bit b of x and bit b of y carry comparable
    * spatial information (Delta's OPTIMIZE ZORDER likewise interleaves
    * per-column range-partition ids, not raw values). */
  val ScaleBits = 10

  /** Min/max-scale a dimension into [0, 2^ScaleBits): the value's cell id.
    * Double arithmetic mirrored exactly by [[scaledSql]]. */
  def scaled(v: Column, mn: Column, mx: Column): Column =
    floor((v.cast("long") - mn).cast("double") * lit(1L << ScaleBits) /
      (mx - mn + lit(1L)).cast("double")).cast("long")

  def scaledSql(v: String, mn: String, mx: String): String =
    s"CAST(floor(CAST(($v) - ($mn) AS DOUBLE) * ${1L << ScaleBits} / " +
      s"CAST(($mx) - ($mn) + 1 AS DOUBLE)) AS BIGINT)"

  /** Morton interleave of two non-negative dimensions (each masked to
    * [[Bits]] low bits): bit b of x lands at position 2b, bit b of y at
    * 2b+1. Unrolled fold of shift/and/shift terms — pure built-ins, fully
    * codegen'd; the DuckDB oracle mirror is generated from the same loop
    * ([[zvalueSql]]) so the spellings cannot drift. */
  def zvalue(x: Column, y: Column): Column = {
    val xm = x.cast("long").bitwiseAND(lit(Mask))
    val ym = y.cast("long").bitwiseAND(lit(Mask))
    (0 until Bits).map { b =>
      shiftleft(shiftright(xm, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(ym, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)
  }

  /** The generated DuckDB spelling of [[zvalue]] over BIGINT expressions. */
  def zvalueSql(x: String, y: String): String = {
    val xm = s"(($x) & $Mask)"
    val ym = s"(($y) & $Mask)"
    (0 until Bits).map { b =>
      s"((($xm >> $b) & 1) << ${2 * b}) + ((($ym >> $b) & 1) << ${2 * b + 1})"
    }.mkString("(", " + ", ")")
  }

  /** Reference interleave for specs (bit-twiddling ground truth). */
  def zvalueLocal(x: Long, y: Long): Long = {
    var acc = 0L
    var b = 0
    while (b < Bits) {
      acc += (((x & Mask) >> b) & 1L) << (2 * b)
      acc += (((y & Mask) >> b) & 1L) << (2 * b + 1)
      b += 1
    }
    acc
  }

  /** Write `df` z-ordered on (x, y): both dimensions min/max-scaled to
    * [[ScaleBits]]-bit cell ids (one cheap 4-scalar aggregate, broadcast —
    * no collect), interleaved, then one range exchange on the key (range,
    * not hash, so file k holds a CONTIGUOUS z-interval) with rows sorted
    * within each file so parquet row-group stats are as tight as the file
    * stats. The key column is dropped before the write — layout is
    * write-order, not schema. */
  def writeZordered(df: DataFrame, path: String, x: Column, y: Column,
      nFiles: Int): Unit = {
    val bounds = df.agg(
      min(x.cast("long")).as("__x_mn"), max(x.cast("long")).as("__x_mx"),
      min(y.cast("long")).as("__y_mn"), max(y.cast("long")).as("__y_mx"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__z", zvalue(
        scaled(x, col("__x_mn"), col("__x_mx")),
        scaled(y, col("__y_mn"), col("__y_mx"))))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__x_mn", "__x_mx", "__y_mn", "__y_mx")
      .write.mode("overwrite").parquet(path)
  }

  /** The `COMPACT PARQUET ... ZORDER BY (x, y)` rewrite: same file-count
    * sizing rule as [[Layout.compact]] (ceil of on-disk bytes over
    * `targetBytes`), but the output layout is [[writeZordered]] on the two
    * named columns instead of the shuffle-free concatenate — one SQL
    * statement owns both maintenance jobs (the Delta OPTIMIZE [ZORDER BY]
    * shape). Returns (input, output) parquet file counts. */
  def compactZordered(spark: SparkSession, inPath: String, outPath: String,
      xName: String, yName: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val inFiles = Layout.parquetFiles(inPath)
    val totalBytes = inFiles.map(_.length()).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    writeZordered(spark.read.parquet(inPath), outPath,
      col(xName), col(yName), nOut)
    (inFiles.size, Layout.parquetFiles(outPath).size)
  }

  /** [[writeZordered]] under the MANIFEST PROTOCOL: the z-ordered base
    * lands in the `batch_id=-1` delivery directory (z-range file
    * partitioning and in-file sort preserved within the delivery), which
    * makes the layout row-level DELETE-able —
    * [[Layout.deleteFromDataLayout]] with no partition columns. Layout is
    * still write-order, not schema; readers go through
    * [[Layout.readDataLayout]]. */
  def writeZorderedCommitted(df: DataFrame, path: String, x: Column,
      y: Column, nFiles: Int): Unit = {
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) { fs.delete(root, true); () } // fresh-root semantics
    writeZordered(df, s"$path/batch_id=-1", x, y, nFiles)
    Layout.initCommitLog(spark, path)
  }

  /** Row-level DELETE from a [[writeZorderedCommitted]] root, preserving
    * the LAYOUT and refreshing the derived envelope mart:
    *
    *   - the rewrite re-imposes the z-order write shape (fresh bounds
    *     over the survivors, range exchange on the interleaved key,
    *     in-file sort — the `reshape` hook of
    *     [[Layout.deleteFromDataLayout]]) at the delivery's pre-delete
    *     file count, so a takedown does not erode the table's skipping
    *     power until the next compaction;
    *   - the file-envelope mart is rewritten over the post-delete files —
    *     it described files the rewrite replaced, and a stale row naming
    *     a vanished file would break the pruned read outright.
    *
    * Envelope-pruned reads stay EXACT by construction (pruning consults
    * only the refreshed mart; the exact predicate re-applies on the
    * scanned rows) — spec-pinned. */
  def deleteFromZorderedLayout(spark: SparkSession, path: String,
      envPath: String, x: Column, y: Column, keyCol: String,
      ids: Seq[Long]): Layout.TakedownReport = {
    val nFiles = math.max(1, Layout.parquetFiles(path).size)
    val rep = Layout.deleteFromDataLayout(spark, path, Nil, keyCol, ids,
      reshape = df => {
        val bounds = df.agg(
          min(x.cast("long")).as("__x_mn"), max(x.cast("long")).as("__x_mx"),
          min(y.cast("long")).as("__y_mn"), max(y.cast("long")).as("__y_mx"))
        df.crossJoin(broadcast(bounds))
          .withColumn("__z", zvalue(
            scaled(x, col("__x_mn"), col("__x_mx")),
            scaled(y, col("__y_mn"), col("__y_mx"))))
          .repartitionByRange(nFiles, col("__z"))
          // partition column FIRST (constant within the delivery): the
          // parquet writer's required ordering prefix is satisfied, so no
          // writer-inserted sort can disturb the z order
          .sortWithinPartitions("batch_id", "__z")
          .drop("__z", "__x_mn", "__x_mx", "__y_mn", "__y_mx")
      })
    if (rep.nRewrittenDeliveries > 0L)
      writeFileEnvelopes(spark, path, envPath, x, y)
    rep
  }

  /** The single-dimension baseline: range-layout on x alone (what a
    * conventional sort-by-key table gives you). */
  def writeRangeOrdered(df: DataFrame, path: String, x: Column,
      nFiles: Int): Unit =
    df.withColumn("__k", x.cast("long"))
      .repartitionByRange(nFiles, col("__k"))
      .sortWithinPartitions("__k")
      .drop("__k")
      .write.mode("overwrite").parquet(path)

  /** Per-file min/max envelope of two dimensions — exactly the statistics
    * a parquet reader skips files with. One narrow scan + a files-sized
    * aggregate. */
  def fileEnvelopes(spark: SparkSession, path: String, x: Column, y: Column)
      : DataFrame =
    spark.read.parquet(path)
      .select(input_file_name().as("f"), x.cast("long").as("x"),
        y.cast("long").as("y"))
      .groupBy("f")
      .agg(min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))

  /** Fraction of files whose (x, y) envelope intersects the query box
    * (null bounds = unbounded on that side) — the skipping ratio the
    * layout earns. Files-sized input: one tiny aggregate. */
  def hitFraction(env: DataFrame, xLo: Option[Column], xHi: Option[Column],
      yLo: Option[Column], yHi: Option[Column]): Column = {
    val hit = Seq(
      xLo.map(lo => col("x_max") >= lo), xHi.map(hi => col("x_min") <= hi),
      yLo.map(lo => col("y_max") >= lo), yHi.map(hi => col("y_min") <= hi)
    ).flatten.reduce(_ && _)
    sum(when(hit, 1L).otherwise(0L)).cast("double") /
      count(lit(1)).cast("double")
  }

  /** Persist the per-file envelope mart next to the layout — the
    * data-skipping catalog a reader prunes with (Delta/Iceberg keep the
    * same per-file column ranges in their manifests). One narrow scan of
    * the layout, a files-sized output (32 rows here, a few thousand at
    * 100 TB). */
  def writeFileEnvelopes(spark: SparkSession, path: String, envPath: String,
      x: Column, y: Column): Unit =
    fileEnvelopes(spark, path, x, y).coalesce(1)
      .write.mode("overwrite").parquet(envPath)

  /** Envelope-pruned box read — the APPLIED tier of q154's measurement:
    * consult the persisted envelope mart, keep only the files whose
    * (x, y) envelope intersects the box, and scan JUST those, with the
    * exact row predicate re-applied. Pruning is sound (a skipped file's
    * envelope provably excludes every matching row), so the result is
    * EXACTLY the full-scan filter's. The mart read is a files-sized
    * catalog read resolved on the driver — the same bounded pattern as
    * the IVF probed-cell set; the data pass never opens a pruned file.
    * Returns (rows, filesScanned, filesTotal). */
  def envelopePrunedRead(spark: SparkSession, path: String, envPath: String,
      x: Column, y: Column, xLo: Long, xHi: Long, yLo: Long, yHi: Long)
      : (DataFrame, Int, Int) = {
    val env = spark.read.parquet(envPath).collect() // files-sized: bounded
    val hits = env.filter { r =>
      // a null envelope bound means the file has NO non-null rows on that
      // dimension — such rows can't match a between, so the file is
      // soundly prunable, not an error
      Seq("x_min", "x_max", "y_min", "y_max")
        .forall(c => !r.isNullAt(r.fieldIndex(c))) &&
        r.getAs[Long]("x_max") >= xLo && r.getAs[Long]("x_min") <= xHi &&
        r.getAs[Long]("y_max") >= yLo && r.getAs[Long]("y_min") <= yHi
    }.map(_.getAs[String]("f")).toSeq
    (scanHits(spark, path, hits, x, y, xLo, xHi, yLo, yHi),
      hits.size, env.length)
  }

  /** [[envelopePrunedRead]]'s SCALE tier: the envelope intersect runs as a
    * SPARK PLAN over the mart (the box predicate pushes into the mart's
    * parquet scan), and the driver receives only the MATCHING file names —
    * never the full mart. At 100 TB with 100 MB files the mart is ~10^6
    * rows; the driver tier above collects all of them per read, this tier
    * collects |hits| (the irreducible bound: the reader must be handed the
    * file list — the same shape as Iceberg's planFiles returning matched
    * scan tasks from a distributed manifest read). Null envelope bounds
    * prune under plain Column semantics (null comparisons are never TRUE),
    * exactly matching the driver walk — tier-equal, spec-pinned. Keep the
    * driver tier for small layouts (no extra Spark jobs); route catalogs
    * past ~10^5 files through this one (SCALE.md). */
  def envelopePrunedReadDist(spark: SparkSession, path: String,
      envPath: String, x: Column, y: Column,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): (DataFrame, Int, Int) = {
    val env = spark.read.parquet(envPath)
    val hit = col("x_max") >= xLo && col("x_min") <= xHi &&
      col("y_max") >= yLo && col("y_min") <= yHi
    val total = env.count()
    val hits = env.filter(hit).select("f") // hit-sized driver readback
      .collect().map(_.getString(0)).toSeq
    (scanHits(spark, path, hits, x, y, xLo, xHi, yLo, yHi),
      hits.size, total.toInt)
  }

  /** Shared data pass of both pruning tiers: scan ONLY the admitted files
    * with the exact row predicate re-applied (pruning is sound, so the
    * result is exactly the full-scan filter's). */
  private def scanHits(spark: SparkSession, path: String, hits: Seq[String],
      x: Column, y: Column, xLo: Long, xHi: Long, yLo: Long, yHi: Long)
      : DataFrame = {
    val rowFilter = x.cast("long").between(xLo, xHi) &&
      y.cast("long").between(yLo, yHi)
    if (hits.isEmpty) spark.read.parquet(path).where(lit(false))
    else spark.read.parquet(hits: _*).where(rowFilter)
  }

  // ---------------------------------------------------------------------------
  // Registered queries + oracles
  // ---------------------------------------------------------------------------

  /** Files per layout in the q154 gate: enough that a central box/band is
    * much smaller than a file, small enough that sf0.001's 1.5k orders
    * still give ~47-row files with meaningful envelopes. */
  val NFiles = 32

  private def xCol = col("o_custkey")
  private def yCol = datediff(to_date(col("o_orderdate")),
    lit("1990-01-01").cast("date"))

  /** The z-ordered and x-range-ordered layouts of `orders` — one
    * [[graft.sec.SecDerive.storedLayout]] root, built once per
    * (session, dir). */
  private def layoutBase(s: SparkSession, dir: String): String =
    graft.sec.SecDerive.storedLayout(s, dir, "zorder_layout") { base =>
      val o = graft.Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      writeZordered(o, s"$base/z", xCol, yCol, NFiles)
      writeRangeOrdered(o, s"$base/byx", xCol, NFiles)
    }

  val queries: Seq[graft.Q] = Seq(
    // The layout key itself — min/max scaling + the interleave, bit-exact
    // across engines (the oracle's scaling arithmetic and 42-term
    // interleave spelling are generated from the same Scala loops).
    graft.Q("q153_zorder_key",
      (s, dir) => {
        val o = graft.Tables.orders(s, dir)
        val bounds = o.agg(
          min(xCol.cast("long")).as("x_mn"), max(xCol.cast("long")).as("x_mx"),
          min(yCol.cast("long")).as("y_mn"), max(yCol.cast("long")).as("y_mx"))
        o.crossJoin(broadcast(bounds))
          .select(col("o_orderkey"),
            zvalue(scaled(xCol, col("x_mn"), col("x_mx")),
              scaled(yCol, col("y_mn"), col("y_mx"))).as("zval"))
          .orderBy("o_orderkey")
      },
      Some {
        val ySql = "CAST(date_diff('day', DATE '1990-01-01', " +
          "CAST(o_orderdate AS DATE)) AS BIGINT)"
        s"""WITH b AS (SELECT CAST(min(o_custkey) AS BIGINT) AS x_mn,
                  CAST(max(o_custkey) AS BIGINT) AS x_mx,
                  min($ySql) AS y_mn, max($ySql) AS y_mx FROM orders),
sxy AS (SELECT o_orderkey,
          ${scaledSql("CAST(o_custkey AS BIGINT)", "x_mn", "x_mx")} AS sx,
          ${scaledSql(ySql, "y_mn", "y_mx")} AS sy
        FROM orders CROSS JOIN b)
SELECT o_orderkey, ${zvalueSql("sx", "sy")} AS zval
FROM sxy ORDER BY o_orderkey"""
      }),

    // The layout gate: write both layouts, read back ONLY the per-file
    // min/max envelopes (what a parquet reader prunes with), and pin the
    // skipping behavior — a central 10%×10% box prunes under z-order; a
    // 10% band on the SECOND dimension prunes under z-order but hits
    // ~every file of the x-sorted layout (single-dim layouts are blind off
    // their key); content survives the rewrite. Literal-row oracle (the
    // q147/q152 gate pattern): the value is the Spark-side measurement.
    graft.Q("q154_zorder_layout_gate",
      (s, dir) => {
        val base = layoutBase(s, dir)
        val o = graft.Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val bounds = o
          .agg(min(xCol.cast("long")).as("x_mn"),
            max(xCol.cast("long")).as("x_mx"),
            min(yCol.cast("long")).as("y_mn"),
            max(yCol.cast("long")).as("y_mx"))
          .select(
            (col("x_mn") + ((col("x_mx") - col("x_mn")).cast("double")
              * 0.45).cast("long")).as("x_lo"),
            (col("x_mn") + ((col("x_mx") - col("x_mn")).cast("double")
              * 0.55).cast("long")).as("x_hi"),
            (col("y_mn") + ((col("y_mx") - col("y_mn")).cast("double")
              * 0.45).cast("long")).as("y_lo"),
            (col("y_mn") + ((col("y_mx") - col("y_mn")).cast("double")
              * 0.55).cast("long")).as("y_hi"))
        val envZ = fileEnvelopes(s, s"$base/z", xCol, yCol)
        val envX = fileEnvelopes(s, s"$base/byx", xCol, yCol)
        def frac(env: DataFrame, onX: Boolean, as: String): DataFrame =
          env.crossJoin(broadcast(bounds))
            .agg(hitFraction(env,
              if (onX) Some(col("x_lo")) else None,
              if (onX) Some(col("x_hi")) else None,
              Some(col("y_lo")), Some(col("y_hi"))).as(as))
        val back = s.read.parquet(s"$base/z")
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val content = back.exceptAll(o).unionByName(o.exceptAll(back))
          .agg(count(lit(1)).as("n_content_diff"))
        frac(envZ, onX = true, "z_box")
          .crossJoin(frac(envX, onX = true, "x_box"))
          .crossJoin(frac(envZ, onX = false, "z_band"))
          .crossJoin(frac(envX, onX = false, "x_band"))
          .crossJoin(content)
          .select(
            (col("n_content_diff") === 0).as("content_preserved"),
            (col("z_box") <= 0.5).as("zorder_prunes_box"),
            (col("z_band") < col("x_band")).as("zorder_beats_range_on_band"),
            (col("x_band") >= 0.9).as("range_blind_on_band"))
      },
      Some("SELECT TRUE AS content_preserved, TRUE AS zorder_prunes_box, " +
        "TRUE AS zorder_beats_range_on_band, TRUE AS range_blind_on_band")),

    // The applied skipping read: the persisted envelope mart prunes the
    // file list BEFORE the scan, the exact predicate re-applies on the
    // survivors, and the result is row-for-row the full-scan filter's
    // (the oracle runs the same box over the source table). The
    // `pruned_lt_total` column pins that pruning actually happened —
    // q154 already established the central box intersects ≤ half the
    // z-ordered files, so a full-list read here is a red gate, not a
    // slow pass.
    graft.Q("q179_envelope_pruned_read",
      (s, dir) => {
        val base = layoutBase(s, dir)
        val envPath = s"$base/env"
        graft.sec.SecDerive.cachedCount(s, dir, "zorder_env") {
          writeFileEnvelopes(s, s"$base/z", envPath, xCol, yCol)
          1L
        }
        // Box bounds: 45%..55% of each dimension's range — 4 scalars
        // resolved on the driver (bounded), floor-arithmetic mirrored
        // literally by the oracle SQL below.
        val b = graft.Tables.orders(s, dir).agg(
          min(xCol.cast("long")).as("x_mn"), max(xCol.cast("long")).as("x_mx"),
          min(yCol.cast("long")).as("y_mn"), max(yCol.cast("long")).as("y_mx"))
          .collect().head
        def lo(mn: Long, mx: Long): Long =
          mn + math.floor((mx - mn).toDouble * 0.45).toLong
        def hi(mn: Long, mx: Long): Long =
          mn + math.floor((mx - mn).toDouble * 0.55).toLong
        val (xMn, xMx) = (b.getAs[Long]("x_mn"), b.getAs[Long]("x_mx"))
        val (yMn, yMx) = (b.getAs[Long]("y_mn"), b.getAs[Long]("y_mx"))
        // the SCALE tier: the mart prune is a distributed filter, the
        // driver receives only the matching file names (tier-equal to
        // the driver walk, ZorderSpec)
        val (rows, scanned, total) = envelopePrunedReadDist(s, s"$base/z",
          envPath, xCol, yCol,
          lo(xMn, xMx), hi(xMn, xMx), lo(yMn, yMx), hi(yMn, yMx))
        rows.select(col("o_orderkey"),
            lit(scanned < total).as("pruned_lt_total"))
          .orderBy("o_orderkey")
      },
      Some {
        val ySql = "CAST(date_diff('day', DATE '1990-01-01', " +
          "CAST(o_orderdate AS DATE)) AS BIGINT)"
        def band(mn: String, mx: String, v: String): String =
          s"$v BETWEEN $mn + CAST(floor(CAST($mx - $mn AS DOUBLE) * 0.45) " +
            s"AS BIGINT) AND $mn + CAST(floor(CAST($mx - $mn AS DOUBLE) " +
            s"* 0.55) AS BIGINT)"
        s"""WITH b AS (SELECT CAST(min(o_custkey) AS BIGINT) AS x_mn,
                  CAST(max(o_custkey) AS BIGINT) AS x_mx,
                  min($ySql) AS y_mn, max($ySql) AS y_mx FROM orders)
SELECT o_orderkey, TRUE AS pruned_lt_total
FROM orders CROSS JOIN b
WHERE ${band("x_mn", "x_mx", "CAST(o_custkey AS BIGINT)")}
  AND ${band("y_mn", "y_mx", ySql)}
ORDER BY o_orderkey"""
      }))
}
