package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import TextOps._

/** Driver-registered queries for the LLM-data-pipeline operators, each with a
  * DuckDB oracle generated from the SAME Scala constants (perms, planes,
  * stopwords, profiles) the Spark expressions use — so both engines evaluate
  * literally identical arithmetic.
  *
  * Portability notes (verified empirically, see TextOps):
  *   - hash60:  conv(substr(md5,1,15),16,10)  ==  ('0x'||substr(md5,1,15))::BIGINT
  *   - dot:     aggregate(zip_with(...)) strict left fold == list_dot_product
  *              over DOUBLE[] — bit-identical.
  *   - tokens:  split(trim(lower s), '\s+') == regexp_split_to_array(...).
  */
object LlmQueries {

  // ---------------------------------------------------------------------------
  // Session-memoized derived marts (the SecDerive.statementsV3 pattern:
  // ONE query measures the honest build, consumers read the stored mart).
  // ---------------------------------------------------------------------------

  /** embeddings row count per (session, dir), memoized through
    * [[graft.sec.SecDerive.cachedCount]] so q34/q57/q98/q104's geometry
    * resolution never fires a count() job after the first — and so
    * `SecDerive.evictMemo` (the reset path tests and dir-regenerating
    * benches already use) invalidates the count along with the marts
    * (a JVM-lifetime dir-keyed cache would serve a stale count to the
    * adaptive candidate budgets after a regenerate). */
  private[graft] def embCount(s: SparkSession, dir: String): Long =
    graft.sec.SecDerive.cachedCount(s, dir, "emb_count")(
      Tables.embeddings(s, dir).count())

  /** The generated IVF oracles' cell-directory size — every quantizer
    * literal (Scala call sites AND generated SQL) routes through this ONE
    * constant, so regenerating the geometry is a one-line change. */
  private[graft] val OracleNlist = 16

  /** The q114 selection chain against an EXPLICIT cell directory — the
    * seam that makes the catalog's flags-disappear-at-100TB story real:
    * fed a WRITTEN centroid table ([[Selection.writeCellDirectory]]) the
    * whole frame is a lazy plan (constructing it runs ZERO Spark jobs —
    * spec-pinned), where q114's inline [[Similarity.kmeansTrain]] runs the
    * Lloyd training jobs at construction. Doubles round-trip parquet
    * exactly, so the written-geometry draw is row-identical to the
    * inline-trained one. */
  private[graft] def selectionV2Frame(s: SparkSession, dir: String,
      cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val kept1 = docs.join(TextAnalysis.qualityFilter(docs)
      .select("doc_id"), Seq("doc_id"), "left_semi")
    val kept2 = docs.join(Dedup.exactDedup(kept1).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val train = kept2.filter(col("source") =!= "src1")
    val benchDocs = docs.filter(col("source") === "src1")
    val kept3 = Decontam.decontaminate(train, benchDocs)
    val kept4 = kept3
      .join(Selection.covPerDocMart(s, dir), Seq("doc_id"), "left")
      .filter(coalesce(col("cov_micro"), lit(0L)) < 500000L)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val dsirIn = kept4.select(cols.map(col): _*)
      .unionByName(benchDocs.select(cols.map(col): _*))
    val picks = Selection.dsirResample(dsirIn, k = 50)
    val emb = Tables.embeddings(s, dir)
    val eligible = emb.join(picks.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    Selection.clusterBalancedSampleWith(eligible, cents, k = 3)
      .orderBy("cell", "rk")
  }

  /** Loud failure for queries whose generated oracle SQL is pinned to a
    * specific geometry: active only under the driver's verify run (the
    * marker Verify.main sets), where a corpus outgrowing the generated
    * geometry must abort instead of silently hash-mismatching. */
  private def requireOracleGeometry(ok: Boolean, msg: => String): Unit =
    if (sys.props.contains("graft.oracle.active")) require(ok, msg)

  /** The verified MinHash/LSH near-dup pair table, memoized per (session,
    * dir) — q21 keeps building it directly (it IS the honest-build query);
    * q48/q65/q90 read this mart, so a bench run pays for shingle→minhash→
    * band→verify once, not three times. */
  private def nearDupPairs(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sec.SecDerive.cached(s, dir, "neardup_pairs")(
      Dedup.minhashNearDupPairs(Tables.documents(s, dir), 0.8))

  /** q48's connected-component label table as a stored mart: q90's
    * survivorship histogram aggregates these labels instead of re-running
    * the whole minhash+CC pipeline (r5 paid for CC three times per bench).
    * q65 still runs its OWN implementation (pointer-jumping) live over the
    * memoized pairs — sharing labels there would void the two-
    * implementations-one-oracle claim. */
  private def nearDupLabels(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sec.SecDerive.cached(s, dir, "neardup_labels")(
      Dedup.connectedComponents(nearDupPairs(s, dir), "doc_id_a", "doc_id_b"))

  /** The distinct doc_ids of [[nearDupLabels]] — near-dup CLUSTER MEMBERS,
    * for consumers that slice on membership (q63's set algebra). Same
    * stored-mart convention as q90: q21/q48 stay the honest timed builds
    * of the pair/label tables; membership consumers read the mart. */
  private[graft] def nearDupClusterMembers(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    nearDupLabels(s, dir).select("doc_id")

  /** q126's trained quality-classifier model as a stored mart (5 rows,
    * deterministic integer-micro weights), memoized per (session, dir) —
    * the reference's consumers read a stored model table; q126 stays the
    * honest timed TRAIN build, and the scoring/calibration/survivorship
    * consumers (q127/q128/q129) read this mart instead of re-running the
    * 5-round gradient loop each (r20: the loop is ~14 jobs per query). */
  private def qualityModel(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sec.SecDerive.cached(s, dir, "quality_model_mart")(
      Classifier.logregTrain(Tables.documents(s, dir), rounds = 5))

  /** The symmetrized, degree-annotated edge table of the near-dup graph,
    * memoized per (session, dir): ONE graph prep (symmetrize union +
    * degree agg) serves both PageRank variants (q155/q159, the /related
    * mart) and the triangle tiers' degree reads (q165/q167) — previously
    * each ran its own union+agg over the pair mart. Edge-sized, memoized
    * through a STATS-FREE CHECKPOINT
    * ([[graft.sec.SecDerive.cachedStable]]), NOT a lazy persist: the rank
    * loops re-reference this frame every iteration, and a persisted
    * InMemoryRelation's carried stats + lineage made exactly that
    * re-referencing blow up plan estimation (the measured r14
    * q155/q156/q159 3–8× regression — the checkpointed form is what the
    * self-contained [[GraphRank]] path always used). */
  private def symGraphEdges(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sec.SecDerive.cachedStable(s, dir, "sym_graph_edges")(
      GraphRank.symmetrize(nearDupPairs(s, dir)))

  /** Node set of [[symGraphEdges]], memoized — re-read every rank round
    * (checkpointed, same reason as the edges). */
  private def symGraphNodes(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sec.SecDerive.cachedStable(s, dir, "sym_graph_nodes")(
      GraphRank.nodesOf(symGraphEdges(s, dir)))

  /** Undirected (doc_id, deg) degree table of [[symGraphEdges]], memoized
    * — the triangle tiers' shared degree read. */
  private def symGraphDegrees(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sec.SecDerive.cachedStable(s, dir, "sym_graph_degrees")(
      GraphRank.degreesOf(symGraphEdges(s, dir)))

  /** The WEIGHTED twin of [[symGraphEdges]]: edge weight = the pair
    * mart's verified Jaccard in integer micros (floor(j·1e6) — exact
    * cross-engine: both sides compute the same IEEE double from the same
    * intersection integers, then the same floor), with per-src total
    * weight annotated. Feeds the similarity-weighted rank tier
    * (checkpointed like [[symGraphEdges]] — same iterative consumer). */
  private def symGraphWeightedEdges(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sec.SecDerive.cachedStable(s, dir, "sym_graph_wedges")(
      GraphRank.symmetrizeWeighted(
        nearDupPairs(s, dir).withColumn("w",
          floor(col("jaccard") * lit(1000000.0)).cast("long"))))

  /** Near-dup cluster labels × integer-micro PageRank as a stored mart
    * (doc_id, cluster_id, is_canonical, rank_micros) — graph-NODE-sized
    * (only clustered docs appear), so it serves like a dimension. q155
    * stays the honest build of the rank table; q156 and the /related
    * endpoint read this mart (the q21/q48 build-once convention).
    * `weighted = true` re-bases the ranks on the similarity-weighted
    * recurrence ([[GraphRank.weightedPageRankOnGraph]]) — the flag q172's
    * survivorship runs behind; the default stays the uniform tier. */
  private[graft] def centralityMart(s: SparkSession, dir: String,
      weighted: Boolean = false): org.apache.spark.sql.DataFrame = {
    val name = if (weighted) "centrality_mart_weighted" else "centrality_mart"
    graft.sec.SecDerive.cached(s, dir, name)(
      nearDupLabels(s, dir)
        .join(
          if (weighted)
            GraphRank.weightedPageRankOnGraph(symGraphWeightedEdges(s, dir),
              symGraphNodes(s, dir))
          else
            GraphRank.pageRankOnGraph(symGraphEdges(s, dir),
              symGraphNodes(s, dir)),
          Seq("doc_id")))
  }

  /** Per-doc leakage-safe split assignment — the frame q95 aggregates and
    * the `corpus_splits` SQL view exposes: split rides the near-dup CLUSTER
    * key (label mart, with each unclustered doc its own key) through the one
    * split rule ([[Sampling.assignSplit]]). Memoized as a mart: q95 reads it
    * from two aggregation subtrees (counts + the leakage scalar), which
    * would otherwise re-run the doc scan + label join + bucketing twice. */
  private[graft] def clusterSafeSplitAssign(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sec.SecDerive.cached(s, dir, "corpus_splits")(
      Sampling.assignSplit(
        Tables.documents(s, dir).select("doc_id", "source")
          .join(nearDupLabels(s, dir), Seq("doc_id"), "left")
          .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id"))),
        "ckey"))

  /** Multiset symmetric-difference cardinality of two same-schema frames,
    * as a 1-row (`as`: long) frame — VALUE-identical to the gate spelling
    * `a.exceptAll(b).unionByName(b.exceptAll(a)).agg(count(*))` (both
    * compute Σ |multiplicity_a − multiplicity_b|), at half the cost: the
    * exceptAll pair scans EACH input twice and runs two aggregate+generate
    * rewrites; this scans each side once into ONE ±1-weighted aggregate
    * (guide §2.3 — aggregate before you shuffle). Grouping normalizes
    * NaN/-0.0 exactly like exceptAll's (both route through the same
    * aggregate machinery). */
  private[llm] def symDiffCount(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, as: String)
      : org.apache.spark.sql.DataFrame = {
    val cols = a.columns.toSeq.map(org.apache.spark.sql.functions.col)
    a.withColumn("__w", org.apache.spark.sql.functions.lit(1L))
      .unionByName(b.withColumn("__w", org.apache.spark.sql.functions.lit(-1L)))
      .groupBy(cols: _*)
      .agg(org.apache.spark.sql.functions.sum("__w").as("__d"))
      .agg(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.abs(
            org.apache.spark.sql.functions.col("__d"))),
        org.apache.spark.sql.functions.lit(0L)).as(as))
  }

  // ---------------------------------------------------------------------------
  // DuckDB SQL fragments
  // ---------------------------------------------------------------------------

  private[llm] def h60(e: String): String =
    s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"

  private[llm] val tokCte =
    "tok AS (SELECT *, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents)"

  /** Distinct word 2-gram shingles per doc. */
  private val shingleCte =
    s"""$tokCte,
sh AS (SELECT doc_id, list_distinct([array_to_string(t[i+1:i+2], ' ')
                                     for i in range(0, len(t)-1)]) AS s
       FROM tok)"""

  /** The q122 oracle, generated from the phrase list so the SQL cannot
    * drift from the Scala shifted-intersection arithmetic. */
  private def phraseOracle(phrase: Seq[String]): String = {
    val posCols = phrase.zipWithIndex.map { case (w, k) =>
      s"list_transform(list_filter(generate_series(1, len(t)), " +
        s"i -> t[i] = '$w'), i -> i - $k) AS p$k"
    }.mkString(",\n        ")
    val containsAll = phrase.map(w => s"list_contains(t, '$w')")
      .mkString(" AND ")
    val inter = phrase.indices.map(k => s"p$k")
      .reduce((a, b) => s"list_intersect($a, $b)")
    s"""
WITH ptok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
              FROM documents),
pp AS (SELECT doc_id,
        $posCols
       FROM ptok WHERE $containsAll),
po AS (SELECT doc_id, CAST(len($inter) AS BIGINT) AS n_occ FROM pp)
SELECT doc_id, n_occ FROM po WHERE n_occ > 0
ORDER BY n_occ DESC, doc_id ASC"""
  }

  /** The q124/q125 oracle: the right-to-left chain recursion unrolled into
    * nested DuckDB lambdas, generated from the same (phrase, slop) so the
    * SQL cannot drift from proximityChainCount. 1-based positions; gap
    * arithmetic is base-invariant. */
  private def proximityOracle(phrase: Seq[String], slop: Int): String = {
    val n = phrase.size
    val posCols = phrase.zipWithIndex.map { case (w, k) =>
      s"list_filter(generate_series(1, len(t)), i -> t[i] = '$w') AS p$k"
    }.mkString(",\n        ")
    val containsAll = phrase.map(w => s"list_contains(t, '$w')")
      .mkString(" AND ")
    def sExpr(k: Int): String =
      if (k == n - 1) s"p$k"
      else s"list_filter(p$k, x$k -> len(list_filter(${sExpr(k + 1)}, " +
        s"y$k -> y$k - x$k >= 1 AND y$k - x$k <= ${1 + slop})) > 0)"
    s"""
WITH ptok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
              FROM documents),
pp AS (SELECT doc_id,
        $posCols
       FROM ptok WHERE $containsAll),
po AS (SELECT doc_id, CAST(len(${sExpr(0)}) AS BIGINT) AS n_occ FROM pp)
SELECT doc_id, n_occ FROM po WHERE n_occ > 0
ORDER BY n_occ DESC, doc_id ASC"""
  }

  /** The q126/q127 oracle machinery: the classifier's training rounds
    * unrolled into CTEs, generated from (rounds, lrMicro) so the SQL
    * cannot drift from Classifier.logregTrain. Every arithmetic step
    * mirrors the Scala spelling exactly — same literals, same
    * left-associated operation order, same micro-quantization points. */
  private def logregZ(wTbl: String,
      F: Int = Classifier.NumFeatures): String =
    (0 until F)
      .map(j => s"f$j * ($wTbl.w$j::DOUBLE / 1000000.0)")
      .mkString(" + ")

  private def logregSigmoidMicro(wTbl: String,
      F: Int = Classifier.NumFeatures): String =
    s"floor(1000000.0 / (1.0 + exp(-(${logregZ(wTbl, F)}))) + 0.5)"

  /** `trainJoin` restricts the TRAINING chain (standardization stats +
    * gradient rounds) to a subset of `fr` — e.g. the cluster-safe train
    * split — while `f` (the scoring frame) stays the full corpus
    * standardized under the TRAIN-split (mu, sd), mirroring
    * Classifier.scoreFrame's use of the model's own stats. Empty =
    * original whole-corpus training (q126/q127/q128). */
  private def logregCtes(rounds: Int, lrMicro: Long,
      includeTok: Boolean = true, trainJoin: String = "",
      F: Int = Classifier.NumFeatures): String = {
    val lr = lrMicro.toDouble / 1e6
    // f5..f7: the extended texture features (rep-2gram from the shared
    // quality CTE; hashed char-3-gram distinct ratio — the q23 gram
    // spelling; stopword ratio — the quality_score component spelling)
    val extFeats = if (F <= Classifier.NumFeatures) "" else s""",
        rep_2gram_ratio AS f5,
        CASE WHEN length(text) >= 3
             THEN len(list_distinct([${h60("x")} for x in
                      [substr(text, i, 3) for i in range(1, length(text)-1)]]))::DOUBLE
                  / (length(text) - 2)::DOUBLE
             ELSE 0.0 END AS f6,
        len(list_filter(t, x -> x IN (${stopwords.map(w => s"'$w'").mkString(", ")})))::DOUBLE
          / len(t)::DOUBLE AS f7"""
    // fr: label = the q46 quality rule over the SHARED quality CTE (same
    // hashed-shingle rep2 spelling), raw features from the token array.
    // fs/ms: decimal-routed Σf, Σf² folded to integer-micro (mu, sd).
    // f: the standardized training frame (bias untouched; sd=0 → 0).
    val statSums = (1 until F).map(j =>
      s"sum(CAST(f$j AS DECIMAL(38,6))) AS g$j, " +
        s"sum(CAST(f$j * f$j AS DECIMAL(38,6))) AS h$j").mkString(",\n        ")
    val statMicros = (1 until F).map { j =>
      val m = s"(g$j::DOUBLE / n::DOUBLE)"
      val q = s"(h$j::DOUBLE / n::DOUBLE)"
      s"CAST(floor($m * 1000000.0 + 0.5) AS BIGINT) AS mu$j,\n        " +
        s"CAST(floor(sqrt(greatest(0.0, $q - $m * $m)) * 1000000.0 + 0.5) " +
        s"AS BIGINT) AS sd$j"
    }.mkString(",\n        ")
    val zCols = (1 until F).map(j =>
      s"CASE WHEN sd$j > 0 THEN (f$j - mu$j::DOUBLE / 1000000.0) " +
        s"/ (sd$j::DOUBLE / 1000000.0) ELSE 0.0 END AS f$j")
      .mkString(",\n        ")
    val restricted = trainJoin.nonEmpty
    val frtCte = if (restricted)
      s""",
frt AS (SELECT fr.* FROM fr $trainJoin)""" else ""
    val statsSrc = if (restricted) "frt" else "fr"
    val trainFrame = if (restricted) "ftz" else "f"
    val ftzCte = if (restricted)
      s""",
ftz AS (SELECT doc_id, y, f0,
        $zCols
      FROM frt, ms)""" else ""
    val head = s"""${if (includeTok) tokCte + ",\n" else ""}$qualityStCte,
fr AS (SELECT tok.doc_id,
        CASE WHEN $qualityPredSql THEN 1.0 ELSE 0.0 END AS y,
        1.0::DOUBLE AS f0,
        floor(ln(1.0 + len(t)::DOUBLE) * 1000000 + 0.5) / 1000000.0 AS f1,
        len(list_distinct(t))::DOUBLE / len(t)::DOUBLE AS f2,
        list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t)::DOUBLE AS f3,
        n_chars::DOUBLE / (1.0 + len(t)::DOUBLE) AS f4$extFeats
      FROM tok JOIN st USING (doc_id))$frtCte,
fs AS (SELECT $statSums,
        count(*) AS n
       FROM $statsSrc),
ms AS (SELECT $statMicros
       FROM fs),
f AS (SELECT doc_id, y, f0,
        $zCols
      FROM fr, ms)$ftzCte,
w0 AS (SELECT ${(0 until F).map(j => s"0::BIGINT AS w$j").mkString(", ")})"""
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"w${i - 1}"
      val grads = (0 until F).map(j =>
        s"sum(CAST((y - ${logregSigmoidMicro(prev, F)} / 1000000.0) * f$j " +
          s"AS DECIMAL(38,6))) AS g$j").mkString(",\n          ")
      val upds = (0 until F).map(j =>
        s"$prev.w$j + CAST(floor(($lr * (g$j::DOUBLE / n::DOUBLE)) " +
          s"* 1000000.0 + 0.5) AS BIGINT) AS w$j").mkString(",\n          ")
      s"""g$i AS (SELECT $grads,
          count(*) AS n
        FROM $trainFrame, $prev),
w$i AS (SELECT $upds
        FROM g$i, $prev)"""
    }.mkString(",\n")
    s"$head,\n$roundCtes"
  }

  private def logregTrainOracle(rounds: Int, lrMicro: Long): String = {
    val F = Classifier.NumFeatures
    val rows = (0 until F).map { j =>
      if (j == 0)
        s"SELECT 0::BIGINT AS j, w0 AS w_micro, 0::BIGINT AS mu_micro, " +
          s"1000000::BIGINT AS sd_micro FROM w$rounds"
      else
        s"SELECT $j::BIGINT AS j, w$j AS w_micro, mu$j AS mu_micro, " +
          s"sd$j AS sd_micro FROM w$rounds, ms"
    }.mkString("\n UNION ALL ")
    s"""
WITH ${logregCtes(rounds, lrMicro)}
$rows
ORDER BY j"""
  }

  private def logregScoreOracle(rounds: Int, lrMicro: Long,
      topK: Int): String =
    s"""
WITH ${logregCtes(rounds, lrMicro)}
SELECT doc_id, CAST(y AS BIGINT) AS y,
  CAST(${logregSigmoidMicro(s"w$rounds")} AS BIGINT) AS s_micro
FROM f, w$rounds
ORDER BY s_micro DESC, doc_id ASC LIMIT $topK"""

  private def jaccardSql(a: String, b: String): String =
    s"len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))::DOUBLE"

  /** The 16 MinHash minima, from the same (a,b) coefficients as Spark. */
  private val sigSql: String = perms
    .map { case (a, b) => s"list_min([(x * $a + $b) % $P for x in hs])" }
    .mkString("[\n    ", ",\n    ", "]")

  /** 32 SimHash bit terms. */
  private val simhashSql: String = (0 until SimBits).map { j =>
    s"(CASE WHEN list_sum([CASE WHEN (x >> $j) & 1 = 1 THEN 1 ELSE -1 END for x in h]) > 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString("(", "\n   + ", ")")

  private def planeSql(i: Int): String =
    Similarity.planes(i).map(_.toString).mkString("[", ", ", "]::DOUBLE[]")

  /** Per-table LSH bucket expressions over vector column `v`. */
  private val bucketsSql: String = (0 until Similarity.Tables).map { t =>
    (0 until Similarity.PlanesPerTable).map { p =>
      s"(CASE WHEN list_dot_product(v, ${planeSql(t * Similarity.PlanesPerTable + p)}) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }.mkString("[\n    ", ",\n    ", "]")

  private def cosineSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  private val embCte =
    "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)"

  private val lshCte =
    s"""$embCte,
eb AS (SELECT vec_id, label, v, $bucketsSql AS bks FROM e),
b AS (SELECT vec_id, label, v, rb.table_id, bks[rb.table_id + 1] AS bucket
      FROM eb, range(${Similarity.Tables}) rb(table_id))"""

  /** IVF coarse-quantizer assignment CTEs (shared by q35 and q53). */
  private def ivfAssignCtes(nlist: Int): String = s"""$embCte,
cents AS (SELECT vec_id AS cell, v AS cent FROM e WHERE vec_id < $nlist),
assign0 AS (SELECT e.vec_id, e.label, e.v, c.cell, ${cosineSql("e.v", "c.cent")} AS sim
            FROM e, cents c),
assigned AS (SELECT vec_id, label, v, cell FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY sim DESC, cell ASC) AS rn FROM assign0)
             WHERE rn = 1)"""

  /** One Lloyd iteration as CTEs: assign `e` against `cents${i-1}`, compute
    * decimal-routed per-(cell, dim) means, rebuild the centroid lists, and
    * carry forward the previous centroid for cells that lost all members —
    * mirroring [[Similarity.kmeansTrain]]'s empty-cluster rule. */
  private def lloydIterCtes(i: Int): String = {
    val prev = s"cents${i - 1}"
    s"""a$i AS (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${cosineSql("e.v", "c.cent")} DESC, c.cell ASC) AS rn
        FROM e, $prev c) WHERE rn = 1),
x$i AS (SELECT cell, g.i AS dim, v[g.i + 1] AS val
        FROM a$i, unnest(generate_series(0, ${Similarity.Dim - 1})) g(i)),
m$i AS (SELECT cell, dim,
          CAST(sum(CAST(val AS DECIMAL(38,6))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS centroid
        FROM x$i GROUP BY cell, dim),
l$i AS (SELECT cell, list(centroid ORDER BY dim) AS cent FROM m$i GROUP BY cell),
cents$i AS (SELECT p.cell, coalesce(l$i.cent, p.cent) AS cent
            FROM $prev p LEFT JOIN l$i ON l$i.cell = p.cell)"""
  }

  /** Quality-stats CTE + filter predicate (shared by q46 and q54; the
    * `Over` form lets composed pipelines run the SAME stats over a derived
    * token table — q119 runs it over the despanned corpus). */
  private[llm] def qualityStCteOver(tokTbl: String, stName: String): String =
    qualityStCte.replace("st AS (", s"$stName AS (")
      .replace("FROM tok)", s"FROM $tokTbl)")

  private val qualityStCte: String = s"""st AS (SELECT doc_id, lang, source,
         len(t)::BIGINT AS n_tokens,
         CASE WHEN len(t) >= 2
              THEN 1.0 - len(list_distinct([(('0x' || substr(md5(array_to_string(t[i+1:i+2], ' ')), 1, 15))::BIGINT % 2147483647)
                                            for i in range(0, len(t)-1)]))::DOUBLE
                         / (len(t) - 1)::DOUBLE
              ELSE 0.0 END AS rep_2gram_ratio,
         len(list_distinct(t))::DOUBLE / len(t)::DOUBLE AS distinct_ratio,
         ((len(list_distinct(t))::DOUBLE / len(t)::DOUBLE) * 0.5)
           + ((len(list_filter(t, x -> x IN (${stopwords.map(w => s"'$w'").mkString(", ")})))::DOUBLE
               / len(t)::DOUBLE) * 0.3)
           + ((CASE WHEN len(t) >= 20 THEN 1.0 ELSE len(t)::DOUBLE / 20.0 END) * 0.2) AS quality_score
       FROM tok)"""

  private val qualityPredSql =
    "n_tokens >= 20 AND rep_2gram_ratio <= 0.2 AND distinct_ratio >= 0.5"

  /** The MinHash/LSH candidate+verify CTE chain (shared by q21 and q48).
    * The verify Jaccard runs over the distinct shingle HASH lists (mirroring
    * the Spark side's sorted-hash merge-intersect); the hash is injective on
    * this data and identical in both engines, so the value equals the
    * string-set Jaccard. */
  private val minhashCtes: String = s"""$shingleCte,
hx AS (SELECT doc_id, [${h60("x")} % $P for x in s] AS hs FROM sh WHERE len(s) > 0),
hd AS (SELECT doc_id, list_distinct([${h60("x")} for x in s]) AS h
       FROM sh WHERE len(s) > 0),
sig AS (SELECT doc_id, $sigSql AS g FROM hx),
bands AS (SELECT doc_id, rb.band_idx,
            md5(array_to_string([CAST(x AS VARCHAR)
                                 for x in g[rb.band_idx*$Rows+1 : rb.band_idx*$Rows+$Rows]], ',')) AS band_hash
          FROM sig, range($Bands) rb(band_idx)),
cand AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
j AS (SELECT doc_id_a, doc_id_b, ${jaccardSql("ha.h", "hb.h")} AS jaccard
      FROM cand
      JOIN hd ha ON ha.doc_id = cand.doc_id_a
      JOIN hd hb ON hb.doc_id = cand.doc_id_b)"""

  /** Transitive-closure clustering oracle, shared by q48 (min-label CC) and
    * q65 (pointer-jumping CC) — one ground truth, two implementations. */
  /** The recursive label CTE chain, shared by the q48/q65 label oracle and
    * the q90 cluster-size histogram built over the same labels. */
  private val ccLabelsCtes: String = s"""
WITH RECURSIVE $minhashCtes,
pairs AS (SELECT doc_id_a, doc_id_b FROM j WHERE jaccard >= 0.8),
edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
          UNION SELECT doc_id_b, doc_id_a FROM pairs),
reach AS (SELECT src, dst FROM edges
          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
labels AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
           FROM reach GROUP BY src)"""

  private val ccOracleSql: String = s"""$ccLabelsCtes
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
FROM labels ORDER BY doc_id"""

  // Shared with graft.ops.Quality's q63 oracle (set-ops over the same
  // quality and near-dup-cluster CTE chains).
  private[graft] def minhashCtesShared: String = minhashCtes
  private[graft] def qualityCtesShared: String = qualityStCte
  private[graft] def qualityPredShared: String = qualityPredSql

  /** Exact per-doc contamination report (shared by q50 and q58 — the Bloom
    * prefilter path must produce the IDENTICAL exact output). */
  private val decontamOracleSql: String = s"""
WITH tok3 AS (SELECT doc_id, source,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS t
              FROM documents),
sh3 AS (SELECT doc_id, source,
          list_distinct([array_to_string(t[i+1:i+3], ' ')
                         for i in range(0, len(t)-2)]) AS s
        FROM tok3),
bench AS (SELECT DISTINCT ${h60("g.x")} AS gh
          FROM sh3, unnest(s) g(x) WHERE source = 'src1'),
tg AS (SELECT doc_id, ${h60("g.x")} AS gh
       FROM sh3, unnest(s) g(x) WHERE source <> 'src1'),
hits AS (SELECT doc_id, count(*) AS n_hits FROM tg
         WHERE gh IN (SELECT gh FROM bench) GROUP BY doc_id)
SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE source <> 'src1') d
LEFT JOIN hits h ON h.doc_id = d.doc_id
ORDER BY d.doc_id"""

  /** Integer-micro PageRank iteration CTEs (see [[GraphRank.pageRank]]):
    * expects an `edges` CTE (symmetrized src/dst) in scope and emits
    * `deg`/`gnodes`/`nn`/`pr0..pr{iters}` — every step BIGINT floor
    * division, so the replay is bit-exact. DuckDB's sum(BIGINT) widens to
    * HUGEINT; the CASTs pin every column back to BIGINT to match Spark. */
  private def pagerankCtes(iters: Int): String = {
    val base = s"""deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
gnodes AS (SELECT DISTINCT src AS doc_id FROM edges),
nn AS (SELECT count(*) AS n FROM gnodes),
pr0 AS (SELECT doc_id, CAST(1000000 // (SELECT n FROM nn) AS BIGINT) AS r
        FROM gnodes)"""
    val its = (1 to iters).map { i =>
      s"""pr$i AS (SELECT e.dst AS doc_id,
  CAST((150000 // (SELECT n FROM nn)) +
       ((85 * CAST(sum(rr.r // d.deg) AS BIGINT)) // 100) AS BIGINT) AS r
  FROM edges e JOIN pr${i - 1} rr ON rr.doc_id = e.src
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst)"""
    }
    (base +: its).mkString(",\n")
  }

  /** Personalized-PageRank iteration CTEs (teleport mass pinned on `seed`,
    * see [[GraphRank.personalizedPageRank]]): expects `edges`, emits
    * `deg`/`gnodes`/`pp0..pp{iters}`. LEFT JOIN keeps unreached nodes at
    * rank 0 — same rows as the Spark side's nodes-anchored left join. */
  private def pprCtes(seed: Long, iters: Int): String = {
    val base = s"""deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
gnodes AS (SELECT DISTINCT src AS doc_id FROM edges),
pp0 AS (SELECT doc_id,
          CAST(CASE WHEN doc_id = $seed THEN 1000000 ELSE 0 END AS BIGINT) AS r
        FROM gnodes)"""
    val its = (1 to iters).map { i =>
      s"""pp$i AS (SELECT g.doc_id,
  CAST(CASE WHEN g.doc_id = $seed THEN 150000 ELSE 0 END +
       ((85 * CAST(coalesce(s.cs, 0) AS BIGINT)) // 100) AS BIGINT) AS r
  FROM gnodes g LEFT JOIN (
    SELECT e.dst AS doc_id, sum(rr.r // d.deg) AS cs
    FROM edges e JOIN pp${i - 1} rr ON rr.doc_id = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst) s ON s.doc_id = g.doc_id)"""
    }
    (base +: its).mkString(",\n")
  }

  /** Weighted edge CTEs over the minhash `j` table: Jaccard in integer
    * micros (same floor both engines — identical IEEE doubles from
    * identical intersection integers), symmetrized. Named `wpairs` /
    * `wedges` so they compose with [[ccLabelsCtes]]' unweighted `pairs` /
    * `edges` in one WITH clause. */
  private val weightedEdgesCtes: String =
    s"""wpairs AS (SELECT doc_id_a, doc_id_b,
           CAST(floor(jaccard * 1000000) AS BIGINT) AS w
         FROM j WHERE jaccard >= 0.8),
wedges AS (SELECT doc_id_a AS src, doc_id_b AS dst, w FROM wpairs
           UNION ALL SELECT doc_id_b, doc_id_a, w FROM wpairs)"""

  /** Similarity-WEIGHTED PageRank iteration CTEs (see
    * [[GraphRank.weightedPageRankOnGraph]]): expects a `wedges` CTE
    * (symmetrized src/dst/w) in scope, emits `sw`/`gnodes`/`nn`/`wr0..
    * wr{iters}` — contributions are `(r · w) // sw`, every step BIGINT
    * floor arithmetic like the uniform replay. */
  private def weightedPagerankCtes(iters: Int): String = {
    val base = s"""sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw
      FROM wedges GROUP BY src),
gnodes AS (SELECT DISTINCT src AS doc_id FROM wedges),
nn AS (SELECT count(*) AS n FROM gnodes),
wr0 AS (SELECT doc_id, CAST(1000000 // (SELECT n FROM nn) AS BIGINT) AS r
        FROM gnodes)"""
    val its = (1 to iters).map { i =>
      s"""wr$i AS (SELECT e.dst AS doc_id,
  CAST((150000 // (SELECT n FROM nn)) +
       ((85 * CAST(sum((rr.r * e.w) // s.sw) AS BIGINT)) // 100)
    AS BIGINT) AS r
  FROM wedges e JOIN wr${i - 1} rr ON rr.doc_id = e.src
  JOIN sw s ON s.src = e.src
  GROUP BY e.dst)"""
    }
    (base +: its).mkString(",\n")
  }

  /** JL sign-projection as SQL: [[Similarity.JlDim]] list_dot_products
    * against the SAME ±1 literal rows the Spark plan uses (jlSigns is a pure
    * function of the md5 convention, evaluated once here at SQL-build time). */
  private def jlProjSql(vExpr: String): String = {
    val signs = Similarity.jlSigns(inDim = 64)
    signs.map(row => s"list_dot_product($vExpr, [${
      row.map(d => if (d > 0) "1.0" else "-1.0").mkString(",")}])")
      .mkString("[", ",\n ", "]")
  }

  /** The triangle/clustering oracle (shared by q165's id-ordered and
    * q167's degree-ordered spellings — one ground truth). */
  private lazy val triangleOracle: String = s"""
WITH $minhashCtes,
pairs AS (SELECT doc_id_a AS a, doc_id_b AS b FROM j WHERE jaccard >= 0.8),
tri AS (SELECT ab.a AS x, ab.b AS y, bc.b AS z
        FROM pairs ab JOIN pairs bc ON bc.a = ab.b
        JOIN pairs ac ON ac.a = ab.a AND ac.b = bc.b),
pn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
         SELECT x AS doc_id FROM tri
         UNION ALL SELECT y FROM tri
         UNION ALL SELECT z FROM tri) GROUP BY doc_id),
deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT a AS doc_id FROM pairs
          UNION ALL SELECT b FROM pairs) GROUP BY doc_id)
SELECT deg.doc_id, deg.deg, coalesce(pn.n_triangles, 0) AS n_triangles,
  CASE WHEN deg.deg >= 2
    THEN CAST((2000000 * coalesce(pn.n_triangles, 0))
              // (deg.deg * (deg.deg - 1)) AS BIGINT)
    ELSE 0 END AS clustering_micros
FROM deg LEFT JOIN pn ON pn.doc_id = deg.doc_id
ORDER BY deg.doc_id"""

  /** The JL top-k oracle (shared by q157 inline and q164 indexed — one
    * ground truth for both spellings). */
  private lazy val jlTopkOracle: String = s"""
WITH $jlCandCtes
SELECT e.vec_id, e.label, ${cosineSql("e.v", "qq.qv")} AS cosine
FROM e JOIN cand USING (vec_id), qq
ORDER BY cosine DESC, vec_id ASC LIMIT 20"""

  /** The JL prefilter candidate CTE chain (shared by q157/q164 and the q158
    * recall gate): project, rank by projected cosine, keep the top
    * [[Similarity.adaptiveJlCands]] ids (resolves to the literal 200 for
    * every N ≤ 2000, i.e. at the correctness SF). */
  private val jlCandCtes: String = s"""$embCte,
pj AS (SELECT vec_id, label, v, ${jlProjSql("v")} AS p FROM e),
qq AS (SELECT v AS qv, p AS qp FROM pj WHERE vec_id = 0),
sc AS (SELECT pj.vec_id, ${cosineSql("pj.p", "qq.qp")} AS pc FROM pj, qq),
cand AS (SELECT vec_id FROM sc ORDER BY pc DESC, vec_id ASC LIMIT 200)"""

  // ---------------------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------------------

  val all: Seq[Q] = Seq(

    // Exact dedup over a simulated double-crawl (documents ∪ documents):
    // md5(normalized text) hash-groupBy, deterministic keep-one.
    Q("q20_exact_dedup",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        Dedup.exactDedup(d.unionByName(d)).orderBy("doc_id")
      },
      Some("""
WITH u AS (SELECT * FROM documents UNION ALL SELECT * FROM documents),
h AS (SELECT *, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_hash FROM u),
r AS (SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id ASC, source ASC) AS rn FROM h)
SELECT doc_id, text_hash, lang, source, n_chars FROM r WHERE rn = 1 ORDER BY doc_id""")),

    // MinHash/LSH near-dup pairs (banded buckets, exact-Jaccard verify).
    Q("q21_minhash_neardup",
      (s, dir) => Dedup.minhashNearDupPairs(Tables.documents(s, dir), 0.8)
        .orderBy("doc_id_a", "doc_id_b"),
      Some(s"""
WITH $minhashCtes
SELECT doc_id_a, doc_id_b, jaccard FROM j WHERE jaccard >= 0.8
ORDER BY doc_id_a, doc_id_b""")),

    // INCREMENTAL near-dup: the corpus's band+shingle index is persisted
    // once (a 10% delta split on doc_id stands in for a new crawl batch);
    // the probe computes only the DELTA's signatures, broadcasts them, and
    // streams the index — no corpus shuffle, no corpus recompute. The
    // oracle runs the ONE-SHOT q21 chain over the whole table restricted
    // to cross (old × new) pairs: probe == one-shot is the exactness law
    // (a doc's bands/shingles depend only on its own text).
    Q("q182_neardup_incremental",
      (s, dir) => Dedup.probeMinhashIndex(s,
          Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(10)) === 0),
          Dedup.minhashIndexMart(s, dir), 0.8)
        .orderBy("doc_id_a", "doc_id_b"),
      Some(s"""
WITH $minhashCtes
SELECT doc_id_a, doc_id_b, jaccard FROM j
WHERE jaccard >= 0.8 AND ((doc_id_a % 10 = 0) <> (doc_id_b % 10 = 0))
ORDER BY doc_id_a, doc_id_b""")),

    // The ADMISSION decision over the incremental probe — q182's applied
    // tier: delta docs that near-dup the indexed corpus are rejected,
    // survivors are admitted (and appendMinhashIndex is the admit write,
    // spec-gated in DedupSpec). Anti-join of the delta against the
    // probe's dup ids (both delta-sized, broadcastable); per-source
    // admit/reject counts are what a crawl-ingest run reports.
    Q("q184_incremental_admission",
      (s, dir) => {
        val delta = Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(10)) === 0)
        // O(delta) rejection set: rep-level probe + delta-side expansion
        // only — the admission decision never scans the index's members
        val dupIds = Dedup.probeMinhashDupDeltaIds(s, delta,
          Dedup.minhashIndexMart(s, dir), 0.8)
        delta.join(broadcast(dupIds), Seq("doc_id"), "left_anti")
          .groupBy("source").agg(count(lit(1)).as("n_admitted"))
          .join(
            delta.join(broadcast(dupIds), Seq("doc_id"), "left_semi")
              .groupBy("source").agg(count(lit(1)).as("n_rejected")),
            Seq("source"), "full_outer")
          .na.fill(0L, Seq("n_admitted", "n_rejected"))
          .orderBy("source")
      },
      Some(s"""
WITH $minhashCtes,
dup AS (SELECT DISTINCT CASE WHEN doc_id_a % 10 = 0 THEN doc_id_a
                             ELSE doc_id_b END AS doc_id
        FROM j WHERE jaccard >= 0.8
          AND ((doc_id_a % 10 = 0) <> (doc_id_b % 10 = 0))),
delta AS (SELECT * FROM documents WHERE doc_id % 10 = 0)
SELECT source,
  CAST(sum(CASE WHEN dup.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_admitted,
  CAST(sum(CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
    AS n_rejected
FROM delta LEFT JOIN dup ON dup.doc_id = delta.doc_id
GROUP BY source ORDER BY source""")),

    // The admission TRANSACTION's audit face: writeMinhashIndex(corpus) +
    // admitIntoMinhashIndex(delta) on a dedicated root (probe + decide +
    // survivor append + per-source log, ONE manifest swap), then read the
    // committed admissionLog. Oracle = q184's decision arithmetic plus the
    // logical batch id and the SKIPPED tier (sub-2-token docs have no
    // shingles, are never indexed, and must not be reported as protected
    // "admissions") — the log must carry exactly the counts the one-shot
    // split computes, because the log and the index publish together (a
    // replayed admission cannot double a row: DedupSpec).
    Q("q186_admission_log",
      (s, dir) =>
        Dedup.admissionLog(s, Dedup.admissionMart(s, dir)).orderBy("source"),
      Some(s"""
WITH $minhashCtes,
dup AS (SELECT DISTINCT CASE WHEN doc_id_a % 10 = 0 THEN doc_id_a
                             ELSE doc_id_b END AS doc_id
        FROM j WHERE jaccard >= 0.8
          AND ((doc_id_a % 10 = 0) <> (doc_id_b % 10 = 0))),
delta AS (SELECT * FROM documents WHERE doc_id % 10 = 0)
SELECT CAST(0 AS BIGINT) AS batch, source,
  CAST(sum(CASE WHEN dup.doc_id IS NULL AND elig.doc_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
  CAST(sum(CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
    AS n_rejected,
  CAST(sum(CASE WHEN elig.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_skipped,
  CAST(0 AS BIGINT) AS n_blocked
FROM delta
LEFT JOIN dup ON dup.doc_id = delta.doc_id
LEFT JOIN (SELECT doc_id FROM sh WHERE len(s) > 0) elig
  ON elig.doc_id = delta.doc_id
GROUP BY source ORDER BY source""")),

    // Row-level TAKEDOWN under the manifest protocol — the delete tier of
    // the index lifecycle (write/append/compact/vacuum/as-of/DELETE): the
    // mart builds the corpus index, then deleteDocsFromMinhashIndex
    // removes the victim set (corpus docs with doc_id % 17 = 5 — a residue
    // class that holds live cross-pair participants at every tested SF,
    // so the delete provably REMOVES probe pairs, it is never a no-op) —
    // rep
    // re-election, group erasure, affected-delivery rewrite, one-manifest
    // swap, mandatory vacuum — and the probe runs against the POST-DELETE
    // index. Oracle = the one-shot q21 chain over ALL documents with
    // victim pairs excluded at the end: pair membership depends only on
    // the two docs' texts, so post-hoc pair exclusion == building the
    // chain over the corpus minus the victims — which is exactly the
    // "post-delete == fresh build without the victims" law TakedownSpec
    // pins structurally.
    Q("q189_takedown_probe",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = graft.sec.SecDerive.storedLayout(s, dir,
            "minhash_takedown") { base =>
          Dedup.writeMinhashIndex(
            docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), base)
          val victims = docs
            .filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
              pmod(col("doc_id"), lit(17)) === 5)
            .select("doc_id").collect().map(_.getLong(0)).toSeq
          Dedup.deleteDocsFromMinhashIndex(s, base, victims)
        }
        Dedup.probeMinhashIndex(s,
            docs.filter(pmod(col("doc_id"), lit(10)) === 0), base, 0.8)
          .orderBy("doc_id_a", "doc_id_b")
      },
      Some(s"""
WITH $minhashCtes
SELECT doc_id_a, doc_id_b, jaccard FROM j
WHERE jaccard >= 0.8 AND ((doc_id_a % 10 = 0) <> (doc_id_b % 10 = 0))
  AND NOT (doc_id_a % 10 <> 0 AND doc_id_a % 17 = 5)
  AND NOT (doc_id_b % 10 <> 0 AND doc_id_b % 17 = 5)
ORDER BY doc_id_a, doc_id_b""")),

    // The takedown REGISTRY closing the loop q189 opens: DELETE destroys
    // rows, the registry makes it a STANDING obligation — a re-crawled
    // copy of taken-down content is REFUSED at the next admission
    // (n_blocked, the fourth audit outcome) instead of sailing back into
    // the index. Chain: build the corpus index, take down the q189 victim
    // class, then admit a delta = the natural delta docs PLUS exact
    // re-crawls of every victim under fresh doc_ids; read the committed
    // admission log. Oracle: blocked = delta docs whose (sorted distinct)
    // shingle set equals a destroyed doc's — the registry's content-key
    // semantics spelled as set equality (key equality IS set equality);
    // rejected = non-blocked delta docs near-dupping the POST-DELETE
    // corpus (q189's surviving-pair arithmetic); skipped = shingle-less.
    Q("q193_takedown_registry",
      (s, dir) =>
        Dedup.admissionLog(s, Dedup.registryMart(s, dir))
          .orderBy("batch", "source"),
      Some(s"""
WITH $minhashCtes,
vict AS (SELECT doc_id, list_sort(s) AS vkey FROM sh
         WHERE doc_id % 10 <> 0 AND doc_id % 17 = 5 AND len(s) > 0),
delta AS (SELECT doc_id AS src_id, doc_id, source FROM documents
          WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id AS src_id, doc_id + 100000000 AS doc_id, source
          FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 17 = 5),
flags AS (SELECT d.doc_id, d.source,
            len(sh.s) > 0 AS elig,
            (len(sh.s) > 0 AND EXISTS (SELECT 1 FROM vict v
                                       WHERE v.vkey = list_sort(sh.s)))
              AS blocked
          FROM delta d JOIN sh ON sh.doc_id = d.src_id),
dup AS (SELECT DISTINCT CASE WHEN doc_id_a % 10 = 0 THEN doc_id_a
                             ELSE doc_id_b END AS doc_id
        FROM j WHERE jaccard >= 0.8
          AND ((doc_id_a % 10 = 0) <> (doc_id_b % 10 = 0))
          AND NOT (doc_id_a % 10 <> 0 AND doc_id_a % 17 = 5)
          AND NOT (doc_id_b % 10 <> 0 AND doc_id_b % 17 = 5))
SELECT CAST(0 AS BIGINT) AS batch, source,
  CAST(sum(CASE WHEN elig AND NOT blocked AND dup.doc_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
  CAST(sum(CASE WHEN NOT blocked AND dup.doc_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
  CAST(sum(CASE WHEN NOT elig THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
  CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
FROM flags LEFT JOIN dup ON dup.doc_id = flags.doc_id
GROUP BY source ORDER BY source""")),

    // The NEAR-COPY quarantine tier over the same chain: the takedown
    // runs with nearCopyBlock=true, so the registry lane also holds the
    // victims' bands + verify sets and the admission refuses NEAR copies
    // of taken-down content at the admission threshold — a delta doc
    // whose only near-dup partners were the deleted docs is blocked here
    // where q193's exact-key tier would admit it. Oracle: blocked =
    // exact set equality OR a >= 0.8 pair against a victim (the `j`
    // chain provides exactly those pairs); rejected = non-blocked dups
    // of the SURVIVING corpus.
    Q("q197_takedown_nearblock",
      (s, dir) =>
        Dedup.admissionLog(s,
            Dedup.registryMart(s, dir, nearCopyBlock = true))
          .orderBy("batch", "source"),
      Some(s"""
WITH $minhashCtes,
vict AS (SELECT doc_id, list_sort(s) AS vkey FROM sh
         WHERE doc_id % 10 <> 0 AND doc_id % 17 = 5 AND len(s) > 0),
delta AS (SELECT doc_id AS src_id, doc_id, source FROM documents
          WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id AS src_id, doc_id + 100000000 AS doc_id, source
          FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 17 = 5),
flags AS (SELECT d.doc_id, d.source,
            len(sh.s) > 0 AS elig,
            (len(sh.s) > 0 AND (
               EXISTS (SELECT 1 FROM vict v
                       WHERE v.vkey = list_sort(sh.s))
               OR EXISTS (SELECT 1 FROM j
                          WHERE jaccard >= 0.8 AND
                            ((doc_id_a = d.src_id AND doc_id_b % 10 <> 0
                              AND doc_id_b % 17 = 5)
                             OR (doc_id_b = d.src_id AND doc_id_a % 10 <> 0
                                 AND doc_id_a % 17 = 5)))))
              AS blocked
          FROM delta d JOIN sh ON sh.doc_id = d.src_id),
dup AS (SELECT DISTINCT CASE WHEN doc_id_a % 10 = 0 THEN doc_id_a
                             ELSE doc_id_b END AS doc_id
        FROM j WHERE jaccard >= 0.8
          AND ((doc_id_a % 10 = 0) <> (doc_id_b % 10 = 0))
          AND NOT (doc_id_a % 10 <> 0 AND doc_id_a % 17 = 5)
          AND NOT (doc_id_b % 10 <> 0 AND doc_id_b % 17 = 5))
SELECT CAST(0 AS BIGINT) AS batch, source,
  CAST(sum(CASE WHEN elig AND NOT blocked AND dup.doc_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
  CAST(sum(CASE WHEN NOT blocked AND dup.doc_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
  CAST(sum(CASE WHEN NOT elig THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
  CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
FROM flags LEFT JOIN dup ON dup.doc_id = flags.doc_id
GROUP BY source ORDER BY source""")),

    // Near-dup CLUSTERING: connected components over the q21 pair graph —
    // the step that turns pairwise matches into dedup decisions (canonical
    // survivor = min doc_id per component). Oracle: recursive-CTE transitive
    // closure, min reachable id per node.
    Q("q48_neardup_clusters",
      (s, dir) => nearDupLabels(s, dir).orderBy("doc_id"),
      Some(ccOracleSql)),

    // Dedup survivorship report: the cluster-size histogram over q48's
    // labels — the number a curation run reads to decide whether near-dup
    // pressure is a tail of twins or a few mega-clusters (which changes the
    // dedup strategy: drop-all-but-one vs cap-per-cluster). Aggregates over
    // the label table only — nothing rescans documents.
    Q("q90_cluster_sizes",
      (s, dir) => nearDupLabels(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz"),
      Some(s"""$ccLabelsCtes,
sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
          FROM labels GROUP BY cluster_id)
SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY sz ORDER BY sz""")),

    // Leakage-safe train/val/test split: the split key is the near-dup
    // CLUSTER, not the doc, so near-duplicates can never straddle train and
    // eval (the contamination mode a doc-keyed split allows: a paraphrase of
    // a training doc landing in the test set). Docs outside any cluster key
    // by their own id. The max_splits_per_cluster column is the live leakage
    // audit — 1 by construction, and the oracle hash pins it. Aggregation
    // output only: per (split, source) doc/cluster counts.
    Q("q95_cluster_safe_split",
      (s, dir) => {
        val keyed = clusterSafeSplitAssign(s, dir)
        val leak = keyed.groupBy("ckey")
          .agg(countDistinct("split").as("nsp"))
          .agg(max("nsp").as("max_splits_per_cluster"))
        keyed.groupBy("split", "source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("ckey").as("n_clusters"))
          .crossJoin(broadcast(leak))
          .orderBy("split", "source")
      },
      Some(s"""$ccLabelsCtes,
keyed AS (SELECT d.doc_id, d.source,
            coalesce(l.cluster_id, d.doc_id) AS ckey
          FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
sp AS (SELECT *, CASE WHEN bucket < 90 THEN 'train'
                      WHEN bucket < 95 THEN 'val'
                      ELSE 'test' END AS split
       FROM (SELECT *, CAST(${h60("CAST(ckey AS VARCHAR) || '|graft'")} % 100
                         AS INTEGER) AS bucket FROM keyed)),
leak AS (SELECT CAST(max(nsp) AS BIGINT) AS max_splits_per_cluster
         FROM (SELECT ckey, count(DISTINCT split) AS nsp
               FROM sp GROUP BY ckey))
SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT ckey) AS BIGINT) AS n_clusters,
  leak.max_splits_per_cluster
FROM sp, leak GROUP BY split, source, leak.max_splits_per_cluster
ORDER BY split, source""")),

    // The dedup ACTION over the clustering: keep one canonical doc per
    // near-dup cluster (the min-id member — exactly the cluster label) plus
    // every unclustered doc. Completes the pairs (q21) → clusters (q48) →
    // survivors chain; per-source counts are what a curation run reports as
    // its near-dup deletion rate. Label-mart join + one keyed agg — the
    // corpus never rescans.
    Q("q101_neardup_survivors",
      (s, dir) => Tables.documents(s, dir).select("doc_id", "source")
        .join(nearDupLabels(s, dir), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"),
            1L).otherwise(0L)).as("n_survivors"))
        .orderBy("source"),
      Some(s"""$ccLabelsCtes,
k AS (SELECT d.doc_id, d.source, coalesce(l.cluster_id, d.doc_id) AS ckey
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN ckey = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
FROM k GROUP BY source ORDER BY source""")),

    // The same clustering through the pointer-jumping variant
    // (connectedComponentsFast, O(log diameter) rounds) — sharing q48's
    // transitive-closure oracle IS the claim that both implementations
    // compute identical components.
    Q("q65_neardup_clusters_fast",
      (s, dir) => Dedup.connectedComponentsFast(
        nearDupPairs(s, dir), "doc_id_a", "doc_id_b")
        .orderBy("doc_id"),
      Some(ccOracleSql)),

    // The same clustering through the EXACT-DEDUP-FIRST composition
    // (group by normalized-text hash -> minhash/LSH/verify over rep docs
    // only -> rep-graph CC -> hash-keyed blow-up) — the 100 TB production
    // spelling, where a boilerplate page crawled 10^4 times costs one
    // group row instead of 5*10^7 verified pairs. Shares q48's
    // transitive-closure oracle: THREE independent implementations, one
    // answer.
    Q("q149_neardup_clusters_collapsed",
      (s, dir) => Dedup.nearDupLabelsCollapsed(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some(ccOracleSql)),

    // Deterministic corpus shuffle into training shards: independent hashes
    // pick the shard and the within-shard order, so the training-example
    // sequence is fixed across runs/retries/cluster sizes — the
    // shuffle-then-shard step upstream of q51's packing.
    Q("q66_shuffle_shards",
      (s, dir) => Sampling.shuffleShards(
        Tables.documents(s, dir).select("doc_id", "lang"), "doc_id", 8)
        .orderBy("shard", "pos"),
      Some(s"""
WITH h AS (SELECT doc_id, lang,
             CAST(${h60("CAST(doc_id AS VARCHAR) || '|shard|graft'")} % 8 AS INTEGER) AS shard,
             ${h60("CAST(doc_id AS VARCHAR) || '|order|graft'")} AS sort_key
           FROM documents)
SELECT doc_id, lang, shard, sort_key,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY sort_key, doc_id) AS BIGINT) AS pos
FROM h ORDER BY shard, pos""")),

    // Deterministic hash split: repeatable, salt-keyed train/val/test
    // assignment (and, via the same bucket, stratified sampling).
    Q("q49_split_assign",
      (s, dir) => Sampling.assignSplit(
        Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
        .orderBy("doc_id"),
      Some(s"""
WITH b AS (SELECT doc_id, lang,
             CAST(${h60("CAST(doc_id AS VARCHAR) || '|graft'")} % 100 AS INTEGER) AS bucket
           FROM documents)
SELECT doc_id, lang, bucket,
  CASE WHEN bucket < 90 THEN 'train'
       WHEN bucket < 95 THEN 'val'
       ELSE 'test' END AS split
FROM b ORDER BY doc_id""")),

    // SimHash near-dup pairs (8-bit bands, Hamming verify).
    Q("q22_simhash_neardup",
      (s, dir) => Dedup.simhashNearDupPairs(Tables.documents(s, dir), 3)
        .orderBy("doc_id_a", "doc_id_b"),
      Some(s"""
WITH $tokCte,
th AS (SELECT doc_id, [${h60("x")} for x in t] AS h FROM tok),
fp AS (SELECT doc_id, CAST($simhashSql AS BIGINT) AS simhash FROM th),
bands AS (SELECT doc_id, simhash, rb.band_idx,
            (simhash >> (rb.band_idx * $SimBandBits)) & ${(1L << SimBandBits) - 1} AS band_val
          FROM fp, range($SimBands) rb(band_idx)),
cand AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                a.simhash AS sa, b.simhash AS sb
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
SELECT doc_id_a, doc_id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
ORDER BY doc_id_a, doc_id_b""")),

    // Exact character-trigram Jaccard pairs, bucketed by (source, lang).
    Q("q23_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        Seq("source", "lang"), 0.6)
        .orderBy("doc_id_a", "doc_id_b"),
      Some(s"""
WITH g0 AS (SELECT doc_id, source || '|' || lang AS bucket,
              list_distinct([substr(text, i, 3) for i in range(1, length(text)-1)]) AS grams0
            FROM documents),
g AS (SELECT doc_id, bucket,
        list_distinct([${h60("x")} for x in grams0]) AS grams,
        len(list_distinct([${h60("x")} for x in grams0])) AS n_grams
      FROM g0),
gf AS (SELECT * FROM g WHERE n_grams >= 1),
p AS (SELECT a.bucket, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        ${jaccardSql("a.grams", "b.grams")} AS jaccard
      FROM gf a JOIN gf b
        ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       AND least(a.n_grams, b.n_grams)::DOUBLE >= 0.6 * greatest(a.n_grams, b.n_grams)::DOUBLE)
SELECT bucket, doc_id_a, doc_id_b, jaccard FROM p WHERE jaccard >= 0.6
ORDER BY doc_id_a, doc_id_b""")),

    // Benchmark decontamination: docs from source 'src1' play the eval set;
    // every other doc is flagged by distinct word-3-gram overlap with it.
    Q("q50_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Decontam.contaminationReport(
          docs.filter(col("source") =!= "src1"),
          docs.filter(col("source") === "src1"))
          .orderBy("doc_id")
      },
      Some(decontamOracleSql)),

    // The no-broadcast decontamination path: same semantics as q50, but the
    // corpus grams pass through a distributed Bloom sketch of the benchmark
    // grams before the exact verify join — the sketch has no false
    // negatives and the verify removes its false positives, so the ORACLE
    // IS IDENTICAL to q50's (that equality is the correctness claim).
    Q("q58_bloom_decontam",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Decontam.bloomContaminationReport(
          docs.filter(col("source") =!= "src1"),
          docs.filter(col("source") === "src1"))
          .orderBy("doc_id")
      },
      Some(decontamOracleSql)),

    // The Count-Min sketch APPLIED (q173 builds it; this consumes it): the
    // benchmark grams are probed against a CMS of the corpus grams BEFORE
    // the join — a zero estimate proves absence (CMS never undercounts),
    // the exact semi-join removes the overcounted survivors, so the ORACLE
    // IS IDENTICAL to q50's, exactly the q58 Bloom claim with the sketch
    // on the other side.
    Q("q178_cms_decontam",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Decontam.cmsContaminationReport(
          docs.filter(col("source") =!= "src1"),
          docs.filter(col("source") === "src1"))
          .orderBy("doc_id")
      },
      Some(decontamOracleSql)),

    // Weighted mixture: upsample en to 250%, downsample zh to 40%, keep the
    // rest — the per-source reweighting step of corpus assembly.
    Q("q52_weighted_mixture",
      (s, dir) => Sampling.weightedMixture(
        Tables.documents(s, dir).select("doc_id", "lang"), "lang",
        Map("en" -> 250, "zh" -> 40))
        .orderBy("doc_id", "copy"),
      Some(s"""
WITH w AS (SELECT doc_id, lang,
             CASE lang WHEN 'zh' THEN 40 WHEN 'en' THEN 250 ELSE 100 END AS wt,
             CAST(${h60("CAST(doc_id AS VARCHAR) || '|mix'")} % 100 AS INTEGER) AS b
           FROM documents),
c AS (SELECT doc_id, lang,
        CAST(wt // 100 AS BIGINT) +
          CASE WHEN b < wt % 100 THEN 1 ELSE 0 END AS n_copies
      FROM w)
SELECT doc_id, lang, unnest(generate_series(1, n_copies)) AS copy
FROM c WHERE n_copies >= 1
ORDER BY doc_id, copy""")),

    // Temperature-scaled source mixture (n_i^α balancing, α=1/2 via sqrt —
    // IEEE-exact cross-engine; targets are exact integer micro arithmetic).
    // q52 materializes EXPLICIT per-stratum weights; this derives them from
    // the α-scaling rule — the multilingual low-resource upsampling recipe.
    Q("q116_temperature_mixture",
      (s, dir) => Sampling.temperatureMixture(Tables.documents(s, dir), 300L)
        .orderBy("source", "rk"),
      Some(s"""
WITH nn AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
            WHERE doc_id IS NOT NULL GROUP BY source),
ss AS (SELECT source, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
           AS s_micro FROM nn),
tt AS (SELECT CAST(sum(s_micro) AS BIGINT) AS st FROM ss),
tg AS (SELECT source, n, (300 * s_micro) // st AS target FROM ss, tt),
rr AS (SELECT source, doc_id,
         CAST(row_number() OVER (PARTITION BY source
           ORDER BY ${h60("CAST(doc_id AS VARCHAR) || '|tmix'")} ASC,
                    doc_id ASC) AS BIGINT) AS rk
       FROM documents WHERE doc_id IS NOT NULL)
SELECT source, rk, doc_id, n, target
FROM rr JOIN tg USING (source)
WHERE rk <= target ORDER BY source, rk""")),

    // Sequence packing: per-lang shard streams cut into 512-token training
    // chunks; output is the chunk→doc manifest with per-chunk token counts.
    Q("q51_pack_chunks",
      (s, dir) => Packing.chunkManifest(Tables.documents(s, dir), "lang", 512)
        .orderBy("shard", "chunk_id", "doc_id"),
      Some("""
WITH t AS (SELECT doc_id, lang AS shard,
             len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT AS n_tokens
           FROM documents
           WHERE len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 1),
o AS (SELECT doc_id, shard, n_tokens,
        CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
          AS end_offset
      FROM t),
p AS (SELECT doc_id, shard, end_offset - n_tokens AS start_offset, end_offset,
        CAST((end_offset - n_tokens) // 512 AS BIGINT) AS first_chunk,
        CAST((end_offset - 1) // 512 AS BIGINT) AS last_chunk
      FROM o),
m AS (SELECT shard, doc_id, start_offset, end_offset,
        unnest(generate_series(first_chunk, last_chunk)) AS chunk_id
      FROM p)
SELECT shard, chunk_id, doc_id,
  least(end_offset, (chunk_id + 1) * 512) - greatest(start_offset, chunk_id * 512)
    AS tokens_in_chunk
FROM m ORDER BY shard, chunk_id, doc_id""")),

    // Sliding-window chunking with overlap (window 512, stride 256): the
    // context-overlap form of q51's packing; every boundary token appears
    // in two windows.
    Q("q74_sliding_windows",
      (s, dir) => Packing.slidingManifest(Tables.documents(s, dir), "lang",
        512, 256)
        .orderBy("shard", "window_id", "doc_id"),
      Some("""
WITH t AS (SELECT doc_id, lang AS shard,
             len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT AS n_tokens
           FROM documents
           WHERE len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 1),
o AS (SELECT doc_id, shard, n_tokens,
        CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
          AS end_offset
      FROM t),
p AS (SELECT doc_id, shard, end_offset - n_tokens AS start_offset, end_offset,
        greatest(0, CAST((end_offset - n_tokens - 512 + 256) // 256 AS BIGINT))
          AS first_win,
        CAST((end_offset - 1) // 256 AS BIGINT) AS last_win
      FROM o),
m AS (SELECT shard, doc_id, start_offset, end_offset,
        unnest(generate_series(first_win, last_win)) AS window_id
      FROM p)
SELECT shard, window_id, doc_id,
  least(end_offset, window_id * 256 + 512) - greatest(start_offset, window_id * 256)
    AS tokens_in_window
FROM m ORDER BY shard, window_id, doc_id""")),

    // Brute-force cosine top-k against vec_id=0 (correctness baseline).
    Q("q24_cosine_topk",
      (s, dir) => Similarity.bruteTopK(Tables.embeddings(s, dir), 0L, 20),
      Some(s"""
WITH $embCte,
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, label, ${cosineSql("v", "qv")} AS cosine
FROM e, q ORDER BY cosine DESC, vec_id ASC LIMIT 20""")),

    // Hard-negative mining: per query, top-k most-similar NON-duplicate
    // vectors (cosine < dup threshold) — contrastive-training negatives.
    Q("q72_hard_negatives",
      (s, dir) => Similarity.hardNegatives(Tables.embeddings(s, dir),
        nQueries = 4, k = 5, dupMax = 0.4)
        .orderBy("query_id", "rank"),
      Some(s"""
WITH $embCte,
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 4),
s AS (SELECT q.query_id, e.vec_id, ${cosineSql("e.v", "q.qv")} AS cosine
      FROM e, q WHERE e.vec_id <> q.query_id),
f AS (SELECT * FROM s WHERE cosine < 0.4),
r AS (SELECT query_id, vec_id, cosine,
        CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
      FROM f)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
ORDER BY query_id, rank""")),

    // Contrastive training pairs: per anchor, top-kPos near-duplicates
    // (label 1) + top-kNeg hard negatives (label 0) from ONE batched
    // scoring pass — the labeled pair table an embedder fine-tune
    // consumes. Threshold = the q34 near-dup cosine, so "positive" agrees
    // with the dedup family.
    Q("q131_contrastive_pairs",
      (s, dir) => Similarity.contrastivePairs(Tables.embeddings(s, dir),
        nQueries = 4, kPos = 3, kNeg = 5, dupMin = 0.4),
      Some(s"""
WITH $embCte,
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 4),
s AS (SELECT q.query_id, e.vec_id, ${cosineSql("e.v", "q.qv")} AS cosine
      FROM e, q WHERE e.vec_id <> q.query_id),
pr AS (SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
       FROM s WHERE cosine >= 0.4),
nr AS (SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
       FROM s WHERE cosine < 0.4)
SELECT query_id, vec_id, 1::BIGINT AS label, cosine, rank
FROM pr WHERE rank <= 3
UNION ALL
SELECT query_id, vec_id, 0::BIGINT AS label, cosine, rank
FROM nr WHERE rank <= 5
ORDER BY query_id, label DESC, rank""")),

    // LSH ANN top-k: only vectors sharing a (table, bucket) with the query.
    Q("q25_lsh_ann_topk",
      (s, dir) => Similarity.lshTopK(Tables.embeddings(s, dir), 0L, 10),
      Some(s"""
WITH $lshCte,
qb AS (SELECT table_id, bucket, v AS qv FROM b WHERE vec_id = 0),
m AS (SELECT b.vec_id, b.label, ${cosineSql("b.v", "qb.qv")} AS cosine
      FROM b JOIN qb ON b.table_id = qb.table_id AND b.bucket = qb.bucket)
SELECT vec_id, label, cosine, count(*) AS n_tables FROM m GROUP BY 1, 2, 3
ORDER BY cosine DESC, vec_id ASC LIMIT 10""")),

    // IVF ANN: sampled-centroid coarse quantizer, nprobe-cell search.
    Q("q35_ivf_ann_topk",
      (s, dir) => Similarity.ivfTopK(Tables.embeddings(s, dir), 42L, 10, OracleNlist, 4),
      Some(s"""
WITH ${ivfAssignCtes(OracleNlist)},
q AS (SELECT v AS qv FROM e WHERE vec_id = 42),
probes AS (SELECT cell FROM (
             SELECT c.cell, ${cosineSql("c.cent", "q.qv")} AS sim FROM cents c, q
             ORDER BY sim DESC, cell ASC LIMIT 4)),
m AS (SELECT a.vec_id, a.label, a.cell, ${cosineSql("a.v", "q.qv")} AS cosine
      FROM assigned a JOIN probes p ON a.cell = p.cell, q)
SELECT vec_id, label, cell, cosine FROM m
ORDER BY cosine DESC, vec_id ASC LIMIT 10""")),

    // One Lloyd refinement step over the IVF assignment: refreshed centroids
    // as (cell, dim, centroid) with decimal-routed (order-insensitive) means.
    Q("q53_kmeans_step",
      (s, dir) => Similarity.kmeansStep(Tables.embeddings(s, dir), OracleNlist)
        .orderBy("cell", "dim"),
      Some(s"""
WITH ${ivfAssignCtes(OracleNlist)},
x AS (SELECT cell, g.i AS dim, v[g.i + 1] AS val
      FROM assigned, unnest(generate_series(0, ${Similarity.Dim - 1})) g(i))
SELECT cell, CAST(dim AS INTEGER) AS dim,
  CAST(sum(CAST(val AS DECIMAL(38,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
    AS centroid
FROM x GROUP BY cell, dim ORDER BY cell, dim""")),

    // Full Lloyd-iterated training of the IVF coarse quantizer (2 rounds),
    // exploded to (cell, dim, centroid) for the comparator. Exercises the
    // round-over-round chain — assignment against TRAINED (not seeded)
    // centroids — that q53 alone cannot.
    Q("q82_kmeans_train",
      (s, dir) => Similarity.kmeansTrain(Tables.embeddings(s, dir), OracleNlist, 2)
        .select(col("cell"), posexplode(col("cent")).as(Seq("dim", "centroid")))
        .orderBy("cell", "dim"),
      Some(s"""
WITH $embCte,
cents0 AS (SELECT vec_id AS cell, v AS cent FROM e WHERE vec_id < $OracleNlist),
${lloydIterCtes(1)},
${lloydIterCtes(2)}
SELECT cell, CAST(g.i AS INTEGER) AS dim, cent[g.i + 1] AS centroid
FROM cents2, unnest(generate_series(0, ${Similarity.Dim - 1})) g(i)
ORDER BY cell, dim""")),

    // Cluster-balanced sample: per-cluster quota over the TRAINED
    // assignment (q77's quota in semantic space — topic diversity). The
    // oracle replays the q82 training chain, the q88 assignment rule, and
    // the hash-uniform per-cell draw.
    Q("q112_cluster_balanced_sample",
      (s, dir) => graft.llm.Selection.clusterBalancedSample(
        Tables.embeddings(s, dir), OracleNlist, 5).orderBy("cell", "rk"),
      Some(s"""
WITH $embCte,
cents0 AS (SELECT vec_id AS cell, v AS cent FROM e WHERE vec_id < $OracleNlist),
${lloydIterCtes(1)},
${lloydIterCtes(2)},
af AS (SELECT vec_id, cell FROM (
         SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ${cosineSql("e.v", "c.cent")} DESC, c.cell ASC) AS rn
         FROM e, cents2 c) WHERE rn = 1),
p AS (SELECT cell, vec_id,
        ${h60("CAST(vec_id AS VARCHAR) || '|cbs'")} AS u FROM af),
r AS (SELECT cell, vec_id,
        CAST(row_number() OVER (PARTITION BY cell
               ORDER BY u ASC, vec_id ASC) AS BIGINT) AS rk
      FROM p)
SELECT cell, rk, vec_id FROM r WHERE rk <= 5 ORDER BY cell, rk""")),

    // The PRODUCTION selection pipeline, composed end-to-end (the q108
    // pattern extended with the round-9 selection operators): curation
    // chain (quality → exact dedup → decontam, q86's stages) → dup-span
    // coverage screen (q96's per-doc frame) → DSIR importance resampling
    // toward the src1 target domain (q110: stats fit on the held-out src1
    // docs vs the CURATED survivor pool, Gumbel top-50 draw) → cluster-
    // balanced final draw (q112's per-cell quota, geometry trained on the
    // FULL embedding corpus so the cell directory is stable, quota applied
    // only to the DSIR-selected set). The oracle replays the whole chain
    // from the same shared fragments, so the gate checks stage ordering and
    // survivor threading across all four families. Scale: sum of its parts
    // — every stage keyed-shuffle or broadcast, draws rank-limited.
    Q("q114_selection_pipeline_v2",
      (s, dir) => selectionV2Frame(s, dir,
        Similarity.kmeansTrain(Tables.embeddings(s, dir), OracleNlist, 2)),
      Some(s"""
WITH $tokCte,
$qualityStCte,
kept1 AS (SELECT doc_id FROM st WHERE $qualityPredSql),
d1 AS (SELECT d.* FROM documents d JOIN kept1 USING (doc_id)),
hsh AS (SELECT doc_id, source,
          md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS th
        FROM d1),
kept2 AS (SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY th
              ORDER BY doc_id ASC, source ASC) AS rn FROM hsh)
          WHERE rn = 1),
d2 AS (SELECT d.* FROM d1 d JOIN kept2 USING (doc_id)),
tok3 AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         FROM d2 WHERE source <> 'src1'),
sh3 AS (SELECT doc_id, list_distinct([array_to_string(t[i+1:i+3], ' ')
                                      for i in range(0, len(t)-2)]) AS s
        FROM tok3),
btok AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         FROM documents WHERE source = 'src1'),
bsh AS (SELECT list_distinct([array_to_string(t[i+1:i+3], ' ')
                              for i in range(0, len(t)-2)]) AS s
        FROM btok),
bench AS (SELECT DISTINCT ${h60("g.x")} AS gh FROM bsh, unnest(s) g(x)),
tg AS (SELECT doc_id, ${h60("g.x")} AS gh FROM sh3, unnest(s) g(x)),
bad AS (SELECT DISTINCT doc_id FROM tg WHERE gh IN (SELECT gh FROM bench)),
d3 AS (SELECT doc_id, source, n_chars FROM d2
       WHERE source <> 'src1'
         AND doc_id NOT IN (SELECT doc_id FROM bad)),
cg AS (SELECT doc_id,
         unnest(list_distinct([array_to_string(t[i+1:i+8], ' ')
                               for i in range(0, len(t) - 7)])) AS gram
       FROM tok WHERE len(t) >= 8 AND doc_id IS NOT NULL),
cgh AS (SELECT doc_id, ${h60("gram")} AS hg FROM cg),
cdfq AS (SELECT hg, count(DISTINCT doc_id) AS gram_docs FROM cgh GROUP BY hg),
cd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN gram_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       FROM cgh JOIN cdfq USING (hg) GROUP BY doc_id),
cc AS (SELECT doc_id, (n_shared * 1000000) // n_grams AS cov_micro FROM cd),
d4 AS (SELECT d3.doc_id, d3.source, d3.n_chars FROM d3
       LEFT JOIN cc USING (doc_id)
       WHERE coalesce(cov_micro, 0) < 500000),
$embCte,
cents0 AS (SELECT vec_id AS cell, v AS cent FROM e WHERE vec_id < $OracleNlist),
${lloydIterCtes(1)},
${lloydIterCtes(2)},
tt AS (SELECT doc_id, source, t FROM tok
       WHERE len(t) >= 2 AND doc_id IS NOT NULL
         AND (source = 'src1' OR doc_id IN (SELECT doc_id FROM d4))),
bg AS (SELECT doc_id, source,
         unnest([t[i+1] || ' ' || t[i+2] for i in range(0, len(t) - 1)]) AS bigram
       FROM tt),
cnt AS (SELECT doc_id, source, ${h60("bigram")} % 256 AS b,
          CAST(count(*) AS BIGINT) AS c
        FROM bg GROUP BY 1, 2, 3),
bstat AS (SELECT b,
            CAST(sum(CASE WHEN source = 'src1' THEN c ELSE 0 END) AS BIGINT) AS tc,
            CAST(sum(CASE WHEN source <> 'src1' THEN c ELSE 0 END) AS BIGINT) AS rc
          FROM cnt GROUP BY b),
tot AS (SELECT CAST(sum(tc) AS BIGINT) AS tt_, CAST(sum(rc) AS BIGINT) AS rt_
        FROM bstat),
bk AS (SELECT CAST(r.i AS BIGINT) AS b FROM range(0, 256) r(i)),
delta AS (SELECT b,
    CAST(floor(ln(COALESCE(tc, 0) + 1) * 1000000 + 0.5) AS BIGINT)
  - CAST(floor(ln(tt_ + 256) * 1000000 + 0.5) AS BIGINT)
  - CAST(floor(ln(COALESCE(rc, 0) + 1) * 1000000 + 0.5) AS BIGINT)
  + CAST(floor(ln(rt_ + 256) * 1000000 + 0.5) AS BIGINT) AS d
  FROM bk LEFT JOIN bstat USING (b) CROSS JOIN tot),
w AS (SELECT doc_id, CAST(sum(c * d) AS BIGINT) AS logw_micro
      FROM cnt JOIN delta USING (b) WHERE source <> 'src1' GROUP BY doc_id),
g AS (SELECT doc_id, logw_micro,
        logw_micro + CAST(floor(-ln(-ln(
            CAST(${h60("CAST(doc_id AS VARCHAR) || '|dsir'")} + 1 AS DOUBLE)
            / 1152921504606846977.0)) * 1000000 + 0.5) AS BIGINT) AS key
      FROM w),
pk AS (SELECT doc_id FROM (
         SELECT doc_id, row_number() OVER (ORDER BY key DESC, doc_id ASC) AS rk
         FROM g) WHERE rk <= 50),
af AS (SELECT vec_id, cell FROM (
         SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ${cosineSql("e.v", "c.cent")} DESC, c.cell ASC) AS rn
         FROM e, cents2 c
         WHERE e.vec_id IN (SELECT doc_id FROM pk)) WHERE rn = 1),
pd AS (SELECT cell, vec_id,
         ${h60("CAST(vec_id AS VARCHAR) || '|cbs'")} AS u FROM af),
rd AS (SELECT cell, vec_id,
         CAST(row_number() OVER (PARTITION BY cell
                ORDER BY u ASC, vec_id ASC) AS BIGINT) AS rk
       FROM pd)
SELECT cell, rk, vec_id FROM rd WHERE rk <= 3 ORDER BY cell, rk""")),

    // IVF search driven by the TRAINED coarse quantizer: the full
    // production path (train → assign → probe → rank) oracle-checked end
    // to end — q35 checks the seeded quantizer, q82 the training chain;
    // this closes the loop by searching THROUGH the trained centroids.
    Q("q88_ivf_trained_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopK(emb, 42L, 10, 16, 4,
          Some(Similarity.kmeansTrain(emb, OracleNlist, 2)))
      },
      Some(s"""
WITH $embCte,
cents0 AS (SELECT vec_id AS cell, v AS cent FROM e WHERE vec_id < $OracleNlist),
${lloydIterCtes(1)},
${lloydIterCtes(2)},
q AS (SELECT v AS qv FROM e WHERE vec_id = 42),
probes AS (SELECT cell FROM (
             SELECT c.cell, ${cosineSql("c.cent", "q.qv")} AS sim
             FROM cents2 c, q
             ORDER BY sim DESC, cell ASC LIMIT 4)),
af AS (SELECT vec_id, label, v, cell FROM (
         SELECT e.vec_id, e.label, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ${cosineSql("e.v", "c.cent")} DESC, c.cell ASC) AS rn
         FROM e, cents2 c) WHERE rn = 1),
m AS (SELECT a.vec_id, a.label, a.cell, ${cosineSql("a.v", "q.qv")} AS cosine
      FROM af a JOIN probes p ON a.cell = p.cell, q)
SELECT vec_id, label, cell, cosine FROM m
ORDER BY cosine DESC, vec_id ASC LIMIT 10""")),

    // Embedding-cosine near-dup pairs via multi-table LSH candidates. The
    // registered query embodies the deployment rule the sf1 run measured
    // (candidates ~N²/2^R at fixed R): R = max(default, log2(N/32)), so
    // bucket occupancy stays ~32 as the corpus grows. The oracle SQL is
    // generated for the default R=6 geometry, and every oracle-checked
    // scale (N <= 2000 embeddings; the cliff sits at N = 2049) resolves to
    // exactly that — `adaptiveR` is spec-pinned at the boundary, and the
    // R>6 behavior (fewer candidates, exact dups never lost) is covered by
    // SimilaritySpec's geometry test. Above the cliff (bench-only scales)
    // recall at a given cosine follows the documented 1-(1-(1-θ/π)^R)^T
    // curve — the approximate tier's contract, not a silent change.
    Q("q34_embedding_neardup",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // R resolves from a per-dir memoized count: constructing this query
        // (each bench repetition, plan inspection, catalog registration)
        // must not fire a corpus-scan count() job every time.
        val r = Similarity.adaptiveR(embCount(s, dir))
        // The generated oracle SQL below is pinned to the R=6 geometry.
        requireOracleGeometry(r == Similarity.PlanesPerTable,
          s"q34 oracle is generated for R=${Similarity.PlanesPerTable}; " +
            s"this corpus resolves adaptiveR=$r — regenerate the oracle")
        Similarity.nearDupPairs(emb, 0.4, Similarity.Tables, r)
          .orderBy("vec_id_a", "vec_id_b")
      },
      Some(s"""
WITH $lshCte,
cand AS (SELECT DISTINCT a.vec_id AS vec_id_a, b2.vec_id AS vec_id_b
         FROM b a JOIN b b2
           ON a.table_id = b2.table_id AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
c AS (SELECT vec_id_a, vec_id_b, ${cosineSql("ea.v", "eb2.v")} AS cosine
      FROM cand
      JOIN e ea ON ea.vec_id = cand.vec_id_a
      JOIN e eb2 ON eb2.vec_id = cand.vec_id_b)
SELECT vec_id_a, vec_id_b, cosine FROM c WHERE cosine >= 0.4
ORDER BY vec_id_a, vec_id_b""")),

    // q34's IVF-cell scale tier (the q89→q93 pattern): identical threshold
    // and output schema, but candidates are same-cell pairs under the
    // TRAINED coarse quantizer instead of LSH bucket collisions — cell
    // occupancy (held ~128 by adaptiveNlist) bounds the pair space with ONE
    // cell-keyed shuffle, no T-table bucket explode. Cross-cell near-dups
    // are the tier's documented recall trade (the SemDeDup contract);
    // exact duplicates always share a cell. The oracle replays the q82
    // training chain, the assignment rule, and the within-cell pair+verify.
    Q("q113_neardup_pairs_ivf",
      (s, dir) => {
        val nlist = Similarity.adaptiveNlist(embCount(s, dir))
        requireOracleGeometry(nlist == OracleNlist,
          s"q113 oracle is generated for nlist=$OracleNlist; corpus " +
            s"resolves adaptiveNlist=$nlist — regenerate the oracle")
        Similarity.nearDupPairsIvf(Tables.embeddings(s, dir), nlist, 0.4)
          .orderBy("vec_id_a", "vec_id_b")
      },
      Some(s"""
WITH $embCte,
cents0 AS (SELECT vec_id AS cell, v AS cent FROM e WHERE vec_id < $OracleNlist),
${lloydIterCtes(1)},
${lloydIterCtes(2)},
af AS (SELECT vec_id, v, cell FROM (
         SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ${cosineSql("e.v", "c.cent")} DESC, c.cell ASC) AS rn
         FROM e, cents2 c) WHERE rn = 1),
p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        ${cosineSql("a.v", "b.v")} AS cosine
      FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id)
SELECT vec_id_a, vec_id_b, cosine FROM p WHERE cosine >= 0.4
ORDER BY vec_id_a, vec_id_b""")),

    // q113's recall trade, MEASURED: |cell-tier pairs ∩ LSH-tier pairs| /
    // |LSH-tier pairs| at the shared 0.4 threshold, for probes ∈ {1, 2} —
    // the number behind the tier's documented cross-cell-miss trade, and
    // the evidence that multi-probe is a real recall knob (probes=2's
    // recall must dominate probes=1's by construction: its pair set is a
    // superset). One LSH pass + one training feed both settings. The
    // oracle composes q34's LSH chain and q113's Lloyd chain, with the
    // assignment window kept at rank ≤ 2 and filtered per probe setting.
    Q("q121_neardup_recall_ivf",
      (s, dir) => {
        val n = embCount(s, dir)
        val r = Similarity.adaptiveR(n)
        val nlist = Similarity.adaptiveNlist(n)
        requireOracleGeometry(
          r == Similarity.PlanesPerTable && nlist == OracleNlist,
          s"q121 oracle is generated for R=${Similarity.PlanesPerTable}, " +
            s"nlist=$OracleNlist; corpus resolves adaptiveR=$r, " +
            s"adaptiveNlist=$nlist — regenerate the oracle")
        Similarity.nearDupRecallVsLsh(Tables.embeddings(s, dir), nlist, 0.4,
          probesList = Seq(1, 2), Similarity.Tables, r)
      },
      Some(s"""
WITH $lshCte,
cand AS (SELECT DISTINCT a.vec_id AS vec_id_a, b2.vec_id AS vec_id_b
         FROM b a JOIN b b2
           ON a.table_id = b2.table_id AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
lshp AS (SELECT vec_id_a, vec_id_b FROM (
           SELECT vec_id_a, vec_id_b, ${cosineSql("ea.v", "eb2.v")} AS cosine
           FROM cand
           JOIN e ea ON ea.vec_id = cand.vec_id_a
           JOIN e eb2 ON eb2.vec_id = cand.vec_id_b)
         WHERE cosine >= 0.4),
cents0 AS (SELECT vec_id AS cell, v AS cent FROM e WHERE vec_id < $OracleNlist),
${lloydIterCtes(1)},
${lloydIterCtes(2)},
afm AS (SELECT vec_id, v, cell, rn FROM (
          SELECT e.vec_id, e.v, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosineSql("e.v", "c.cent")} DESC, c.cell ASC) AS rn
          FROM e, cents2 c) WHERE rn <= 2),
cellp1 AS (SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
           FROM afm a JOIN afm b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE a.rn <= 1 AND b.rn <= 1
             AND ${cosineSql("a.v", "b.v")} >= 0.4),
cellp2 AS (SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
           FROM afm a JOIN afm b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE ${cosineSql("a.v", "b.v")} >= 0.4),
r1 AS (SELECT 1 AS probes,
         (SELECT count(*) FROM lshp) AS lsh_pairs,
         (SELECT count(*) FROM cellp1) AS cell_pairs,
         (SELECT count(*) FROM lshp l JOIN cellp1 c
            ON l.vec_id_a = c.vec_id_a AND l.vec_id_b = c.vec_id_b) AS hit_pairs),
r2 AS (SELECT 2 AS probes,
         (SELECT count(*) FROM lshp) AS lsh_pairs,
         (SELECT count(*) FROM cellp2) AS cell_pairs,
         (SELECT count(*) FROM lshp l JOIN cellp2 c
            ON l.vec_id_a = c.vec_id_a AND l.vec_id_b = c.vec_id_b) AS hit_pairs)
SELECT probes, lsh_pairs, cell_pairs, hit_pairs,
  CASE WHEN lsh_pairs > 0 THEN
    CAST(floor(1000000.0 * hit_pairs::DOUBLE / lsh_pairs::DOUBLE + 0.5) AS BIGINT)
  END AS recall_micro
FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
ORDER BY probes""")),

    // Exact phrase occurrences per doc — the positional retrieval feature
    // a term-bag index cannot express. Shifted-position intersection: term
    // k's positions shifted left by k all contain p iff an exact phrase
    // occurrence starts at p. Oracle generated from the same phrase list
    // (1-based positions in DuckDB, 0-based in Spark — intersection of
    // consistently-shifted sets is base-invariant).
    Q("q122_phrase_search",
      (s, dir) => TextAnalysis.phraseOccurrences(
        Tables.documents(s, dir), Seq("sort", "merge")),
      Some(phraseOracle(Seq("sort", "merge")))),

    // The same phrase query served FROM the positional index (postings
    // bucket-pruned to the phrase terms, positions column read by exactly
    // this one consumer) — shares q122's oracle verbatim, so the gate
    // proves index-served == brute == DuckDB on the same corpus, the
    // q16/q109 amortized-layout pattern applied to retrieval.
    Q("q123_phrase_from_index",
      (s, dir) => Selection.phraseSearchIndex(s,
        Selection.retrievalIndex(s, dir), Seq("sort", "merge")),
      Some(phraseOracle(Seq("sort", "merge")))),

    // Ordered proximity (Lucene's sloppy phrase, anchor-counted): chains
    // p0 < p1 with each gap ≤ 1+slop. slop=1 admits one intervening
    // token, so q124 ⊇ q122's matches on the same phrase — the slop knob
    // between exact adjacency and bag-of-words.
    Q("q124_proximity_search",
      (s, dir) => TextAnalysis.proximityOccurrences(
        Tables.documents(s, dir), Seq("sort", "merge"), slop = 1),
      Some(proximityOracle(Seq("sort", "merge"), slop = 1))),

    // The same proximity query served FROM the positional index — shares
    // q124's oracle, the q122/q123 pattern.
    Q("q125_proximity_from_index",
      (s, dir) => Selection.proximitySearchIndex(s,
        Selection.retrievalIndex(s, dir), Seq("sort", "merge"), slop = 1),
      Some(proximityOracle(Seq("sort", "merge"), slop = 1))),

    // In-engine trained quality classifier: batch-gradient logistic
    // regression DISTILLING the q46 rule-based quality gate (labels = the
    // gate's own pass/fail — the fastText-filter supervision shape) over
    // standardized handcrafted features, 5 rounds at lr=2. One
    // corpus-pass gradient per round with the 1-row weight frame
    // broadcast in (the k-means/BPE iterate-via-broadcast shape) plus one
    // standardization aggregation — unscaled batch GD saturates the
    // sigmoid (measured AUC 0.33 raw vs 0.87 standardized at sf0.01).
    // The oracle replays training end-to-end: features, micro (mu, sd),
    // micro-sigmoid, decimal-routed gradient sums, integer-micro weight
    // updates, all generated from the same (rounds, lr). Output is the
    // shippable model table (j, w_micro, mu_micro, sd_micro).
    Q("q126_quality_classifier_train",
      (s, dir) => Classifier.logregTrain(
        Tables.documents(s, dir), rounds = 5),
      Some(logregTrainOracle(rounds = 5, lrMicro = 2000000L))),

    // The serve-many half: per-doc micro-sigmoid score under the trained
    // model, top-20 — scoring is one narrow pass with the 5-row model
    // table broadcast. The model comes from the memoized
    // quality_model_mart (the stored-mart convention, r20): q126 is the
    // honest timed TRAIN build; this query reads the mart and measures
    // scoring only. The oracle still replays the full train+score chain.
    Q("q127_quality_classifier_score",
      (s, dir) => Classifier.logregScore(Tables.documents(s, dir),
        qualityModel(s, dir)).limit(20),
      Some(logregScoreOracle(rounds = 5, lrMicro = 2000000L, topK = 20))),

    // Calibration of the distilled scorer: per score-decile volume and
    // teacher-rule agreement — the volume/quality curve an operator
    // thresholds on. The oracle reuses the full training chain and
    // buckets the same way.
    Q("q128_quality_classifier_calibration",
      (s, dir) => Classifier.calibrationReport(Classifier.logregScore(
        Tables.documents(s, dir), qualityModel(s, dir))),
      Some(s"""
WITH ${logregCtes(5, 2000000L)}
,sc AS (SELECT doc_id, CAST(y AS BIGINT) AS y,
         CAST(${logregSigmoidMicro("w5")} AS BIGINT) AS s_micro
        FROM f, w5)
SELECT least(CAST(floor(s_micro::DOUBLE / 100000.0) AS BIGINT), 9) AS decile,
  count(*) AS n_docs, CAST(sum(y) AS BIGINT) AS n_rule_pass
FROM sc GROUP BY 1 ORDER BY decile""")),

    // Quality-aware dedup survivorship: per near-dup cluster keep the
    // HIGHEST-scoring duplicate (classifier score, ties to min doc_id) —
    // production dedup keeps the best copy, not the lowest id (q48's
    // min-id canonical is the id-stable tier; this is the quality-stable
    // one). Composes the label mart with the distilled scorer: per-doc
    // (cluster_key, keep, s_micro), unclustered docs their own key. The
    // oracle stitches the recursive CC chain to the training chain.
    Q("q129_survivorship_by_quality",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scored = Classifier.logregScore(docs, qualityModel(s, dir))
          .select("doc_id", "s_micro")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("ckey")
          .orderBy(col("s_micro").desc, col("doc_id").asc)
        docs.select("doc_id")
          .join(nearDupLabels(s, dir), Seq("doc_id"), "left")
          .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
          .join(scored, "doc_id")
          .withColumn("rn", row_number().over(w))
          .select(col("doc_id"), col("ckey").as("cluster_key"),
            (col("rn") === 1).as("keep"), col("s_micro"))
          .orderBy("doc_id")
      },
      Some(s"""$ccLabelsCtes,
${logregCtes(5, 2000000L, includeTok = false)},
sc AS (SELECT doc_id, CAST(${logregSigmoidMicro("w5")} AS BIGINT) AS s_micro
       FROM f, w5),
k AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_key,
        sc.s_micro
      FROM documents d
      LEFT JOIN labels l ON l.doc_id = d.doc_id
      JOIN sc ON sc.doc_id = d.doc_id),
r AS (SELECT *, row_number() OVER (PARTITION BY cluster_key
        ORDER BY s_micro DESC, doc_id ASC) AS rn FROM k)
SELECT doc_id, cluster_key, rn = 1 AS keep, s_micro FROM r
ORDER BY doc_id""")),

    // Length-bucketed batching: sort-by-length dynamic batching with
    // per-batch padding-waste accounting (waste = n·max_len − Σlen when a
    // batch pads to its max). The Spark side computes the global length
    // rank without a global window (histogram-cumsum + per-length rank);
    // the oracle IS the single-window spelling — proving the scalable
    // two-phase rank equals the canonical global order.
    Q("q130_length_batching",
      (s, dir) => Packing.lengthBucketedBatches(
        Tables.documents(s, dir), batchSize = 32),
      Some(s"""
WITH ltok AS (SELECT doc_id, len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS len
              FROM documents
              WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 1),
r AS (SELECT doc_id, len,
        row_number() OVER (ORDER BY len ASC, doc_id ASC) AS rn
      FROM ltok),
b AS (SELECT CAST(floor((rn - 1) / 32.0) AS BIGINT) AS batch_id, len FROM r)
SELECT batch_id, count(*) AS n_docs, max(len) AS max_len,
  CAST(sum(len) AS BIGINT) AS sum_len,
  CAST(count(*) * max(len) - sum(len) AS BIGINT) AS waste
FROM b GROUP BY batch_id ORDER BY batch_id""")),

    // SemDeDup: semantic dedup decisions — IVF-cell clustering, within-cell
    // cosine pairs only, drop any vector with a lower-id neighbor >= 0.4.
    // nlist resolves adaptively (occupancy ~128, the q34 recipe applied to
    // the cell directory): 16 — the generated oracle geometry — at every
    // verify scale, growing with N at bench-only scales so the within-cell
    // pair space stays bounded.
    Q("q57_semdedup",
      (s, dir) => {
        val nlist = Similarity.adaptiveNlist(embCount(s, dir))
        requireOracleGeometry(nlist == OracleNlist,
          s"q57 oracle is generated for nlist=$OracleNlist; corpus " +
            s"resolves adaptiveNlist=$nlist — regenerate the oracle")
        Similarity.semDedup(Tables.embeddings(s, dir), nlist, 0.4)
          .orderBy("vec_id")
      },
      Some(s"""
WITH ${ivfAssignCtes(OracleNlist)},
dups AS (SELECT DISTINCT b.vec_id
         FROM assigned a JOIN assigned b
           ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE ${cosineSql("a.v", "b.v")} >= 0.4)
SELECT a.vec_id, a.cell, (d.vec_id IS NOT NULL) AS is_dup
FROM assigned a LEFT JOIN dups d ON d.vec_id = a.vec_id
ORDER BY a.vec_id""")),

    // Scalar int8 quantization of the embedding corpus, with per-vector
    // scale and reconstruction-error audit.
    // The int8 vector is CSV-joined in the final projection (same
    // comparator constraint as q28); Similarity.quantizeInt8 keeps the raw
    // array shape for downstream ANN use and is spec-covered.
    Q("q39_quantize_int8",
      (s, dir) => Similarity.quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("maxabs"),
          array_join(col("q").cast("array<string>"), ",").as("q"),
          col("max_err"))
        .orderBy("vec_id"),
      Some("""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT vec_id, v, list_reduce(list_prepend(0.0::DOUBLE,
        [abs(x) for x in v]), (a, b) -> greatest(a, b)) AS maxabs FROM e),
q AS (SELECT vec_id, maxabs,
        [greatest(-127, least(127, CAST(floor(x * (127.0 / maxabs) + 0.5) AS BIGINT)))
         for x in v] AS q, v
      FROM m)
SELECT vec_id, maxabs, array_to_string(q, ',') AS q,
  list_reduce(list_prepend(0.0::DOUBLE,
    [abs(qe[1]::DOUBLE * (maxabs / 127.0) - qe[2]) for qe in list_zip(q, v)]),
    (a, b) -> greatest(a, b)) AS max_err
FROM q ORDER BY vec_id""")),

    // Corpus token frequencies: the explode -> shuffle-by-token shape (word
    // count), top-k by count with deterministic tie-break.
    Q("q40_token_counts",
      (s, dir) => Tables.documents(s, dir)
        .select(explode(toks(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50),
      Some("""
SELECT token, count(*) AS n
FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents)
GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""")),

    // Per-lang heavy hitters through the Misra-Gries sketch aggregate
    // (graft.expr.MisraGriesTopK): bounded state per group, map-side partial
    // aggregation — the shuffle is O(langs * k), not O(langs * vocab) like
    // the q43 window spelling. k=64 sits above the corpus vocabulary, so the
    // sketch is provably exact here and the oracle checks it against the
    // exact groupBy counts; the approximation regime (k below cardinality)
    // is property-tested in MisraGriesSpec.
    Q("q59_heavy_hitters",
      (s, dir) => {
        import graft.expr.MisraGriesTopK
        Tables.documents(s, dir)
          .select(col("lang"), explode(toks(col("text"))).as("token"))
          .groupBy("lang")
          .agg(MisraGriesTopK(col("token"), 64, 5).as("top"))
          .select(col("lang"), posexplode(col("top")).as(Seq("pos", "entry")))
          .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
            col("entry.token").as("token"), col("entry.n").as("n"))
          .orderBy("lang", "rk")
      },
      Some("""
WITH tok AS (SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
c AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token),
r AS (SELECT *, row_number() OVER (PARTITION BY lang
        ORDER BY n DESC, token ASC) AS rk FROM c)
SELECT lang, CAST(rk AS BIGINT) AS rk, token, n
FROM r WHERE rk <= 5 ORDER BY lang, rk""")),

    // tf-idf top-3 terms per doc. Scores quantized to integer micro-units
    // BEFORE ranking (ln() agrees across libms only to ~1 ulp; the
    // quantized integers are engine-identical).
    Q("q56_tfidf",
      (s, dir) => TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), 3)
        .orderBy("doc_id", "rk"),
      Some("""
WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
tfm AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
dfm AS (SELECT token, count(*) AS df FROM tfm GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
s AS (SELECT doc_id, token, tf, df,
        CAST(floor(CAST(tf AS DOUBLE)
                   * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT) AS score_micro
      FROM tfm JOIN dfm USING (token) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY score_micro DESC, token ASC) AS rk FROM s)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, tf, df, score_micro
FROM r WHERE rk <= 3 ORDER BY doc_id, rk""")),

    // Unigram-LM surprisal (perplexity-filter proxy): per-doc mean -ln
    // p(token), micro-quantized per token before the exact integer sum.
    Q("q73_unigram_surprisal",
      (s, dir) => TextAnalysis.unigramSurprisal(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some("""
WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM freq),
s AS (SELECT doc_id,
        CAST(floor((ln(CAST(n_total AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
                   * 1000000 + 0.5) AS BIGINT) AS s_micro
      FROM tok JOIN freq USING (token) CROSS JOIN tot),
a AS (SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(s_micro) AS BIGINT) AS sum_micro
      FROM s GROUP BY doc_id)
SELECT doc_id, n_tokens,
       CAST(sum_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
         AS avg_surprisal
FROM a ORDER BY doc_id""")),

    // Per-doc character-distribution entropy (micro-quantized ln, the q56
    // recipe): the base64-soup / padding detector orthogonal to token stats.
    Q("q91_char_entropy",
      (s, dir) => TextAnalysis.charEntropy(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some("""
WITH ch AS (SELECT doc_id,
              unnest([substr(text, i, 1) for i in range(1, length(text) + 1)]) AS ch
            FROM documents),
c AS (SELECT doc_id, ch, count(*) AS nc FROM ch GROUP BY doc_id, ch),
a AS (SELECT doc_id,
        CAST(sum(CAST(floor(nc::DOUBLE * ln(nc::DOUBLE) * 1000000 + 0.5)
                      AS BIGINT)) AS BIGINT) AS s_micro,
        CAST(sum(nc) AS BIGINT) AS n,
        CAST(count(*) AS BIGINT) AS n_distinct
      FROM c GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(a.n, 0) AS n,
  coalesce(a.n_distinct, 0) AS n_distinct,
  coalesce((floor(ln(a.n::DOUBLE) * 1000000 + 0.5)
            - a.s_micro::DOUBLE / a.n::DOUBLE) / 1000000.0, 0.0) AS entropy
FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id
ORDER BY d.doc_id""")),

    // Quality/statistics block over documents.
    Q("q26_text_stats",
      (s, dir) => TextAnalysis.textStats(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""
WITH $tokCte
SELECT doc_id,
  length(text)::BIGINT AS n_chars_txt,
  len(t)::BIGINT AS n_tokens,
  len(regexp_extract_all(text, '${TextAnalysis.bpePattern}'))::BIGINT AS n_bpe_tokens,
  length(array_to_string(t, ''))::DOUBLE / len(t)::DOUBLE AS avg_token_len,
  len(list_distinct(t))::DOUBLE / len(t)::DOUBLE AS distinct_ratio,
  len(list_filter(t, x -> x IN (${stopwords.map(w => s"'$w'").mkString(", ")})))::DOUBLE
    / len(t)::DOUBLE AS stopword_ratio,
  CASE WHEN len(t) >= 2
       THEN 1.0 - len(list_distinct([(('0x' || substr(md5(array_to_string(t[i+1:i+2], ' ')), 1, 15))::BIGINT % 2147483647)
                                     for i in range(0, len(t)-1)]))::DOUBLE
                  / (len(t) - 1)::DOUBLE
       ELSE 0.0 END AS rep_2gram_ratio,
  (length(text) - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g')))::DOUBLE
    / length(text)::DOUBLE AS punct_ratio,
  ((len(list_distinct(t))::DOUBLE / len(t)::DOUBLE) * 0.5)
    + ((len(list_filter(t, x -> x IN (${stopwords.map(w => s"'$w'").mkString(", ")})))::DOUBLE
        / len(t)::DOUBLE) * 0.3)
    + ((CASE WHEN len(t) >= 20 THEN 1.0 ELSE len(t)::DOUBLE / 20.0 END) * 0.2) AS quality_score
FROM tok ORDER BY doc_id""")),

    // The quality-filter pass over the corpus (the op the stats exist for).
    Q("q46_quality_filter",
      (s, dir) => TextAnalysis.qualityFilter(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Some(s"""
WITH $tokCte,
$qualityStCte
SELECT doc_id, lang, source, n_tokens, rep_2gram_ratio, distinct_ratio, quality_score
FROM st
WHERE $qualityPredSql
ORDER BY doc_id""")),

    // Hybrid retrieval: cosine ranking restricted to quality-passing docs —
    // the composition a RAG-style pipeline runs (filter the corpus on text
    // quality, rank the survivors by embedding similarity). documents and
    // embeddings share ids (doc_id == vec_id).
    Q("q54_hybrid_search",
      (s, dir) => {
        val quality = TextAnalysis.qualityFilter(Tables.documents(s, dir))
          .select(col("doc_id"), col("quality_score"))
        val e = Tables.embeddings(s, dir)
        val qv = broadcast(e.filter(col("vec_id") === 0L)
          .select(col("embedding").as("q_emb")))
        e.crossJoin(qv)
          .select(col("vec_id").as("doc_id"),
            Similarity.cosine(col("embedding"), col("q_emb")).as("cosine"))
          .join(quality, "doc_id")
          .orderBy(col("cosine").desc, col("doc_id").asc)
          .limit(10)
      },
      Some(s"""
WITH $tokCte,
$qualityStCte,
$embCte,
qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
m AS (SELECT e.vec_id AS doc_id, ${cosineSql("e.v", "qv.qv")} AS cosine FROM e, qv)
SELECT m.doc_id, m.cosine, st.quality_score
FROM m JOIN st ON st.doc_id = m.doc_id
WHERE $qualityPredSql
ORDER BY m.cosine DESC, m.doc_id ASC LIMIT 10""")),

    // n-gram language-ID heuristic.
    Q("q27_lang_id",
      (s, dir) => TextAnalysis.langId(Tables.documents(s, dir)).orderBy("doc_id"),
      Some {
        val scores = langProfiles.map { case (l, p) =>
          p.map(tri => s"(length(text) - length(replace(text, '$tri', '')))")
            .mkString("(", " + ", s")::BIGINT AS score_$l")
        }.mkString(",\n  ")
        val best = langProfiles.map { case (l, _) => s"score_$l" }
          .reduce((a, b) => s"greatest($a, $b)")
        val cases = langProfiles.map { case (l, _) =>
          s"WHEN score_$l = $best AND $best > 0 THEN '$l'"
        }.mkString("\n    ")
        s"""
WITH scored AS (
  SELECT doc_id,
  $scores
  FROM documents)
SELECT doc_id, ${langProfiles.map { case (l, _) => s"score_$l" }.mkString(", ")},
  CASE $cases
    ELSE 'und' END AS pred_lang
FROM scored ORDER BY doc_id"""
      }),

    // Winnowing fingerprints (positional 3-gram hashes, window-4 minima).
    // The fingerprint array is joined to a CSV string in the FINAL projection
    // only — the driver's pandas comparator cannot sort/hash array cells
    // (CORRECTNESS_r02), and the values stay bit-identical either way. The
    // raw-array operator (TextAnalysis.fingerprints) is spec-covered.
    Q("q28_fingerprint",
      (s, dir) => TextAnalysis.fingerprints(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_fp"),
          array_join(col("fingerprint").cast("array<string>"), ",").as("fingerprint"))
        .orderBy("doc_id"),
      Some(s"""
WITH $tokCte,
hs AS (SELECT doc_id,
         [${h60("array_to_string(t[i+1:i+3], ' ')")} % $P for i in range(0, len(t)-2)] AS h
       FROM tok),
m AS (SELECT doc_id,
        CASE WHEN len(h) >= 4 THEN [list_min(h[i+1:i+4]) for i in range(0, len(h)-3)]
             WHEN len(h) > 0 THEN [list_min(h)]
             ELSE []::BIGINT[] END AS mins
      FROM hs)
SELECT doc_id, len(list_distinct(mins))::BIGINT AS n_fp,
       array_to_string(list_sort(list_distinct(mins)), ',') AS fingerprint
FROM m ORDER BY doc_id""")),

    // Corpus profile over explicit GROUPING SETS (Dataset.groupingSets —
    // the general form q38's rollup is a special case of): per-source,
    // per-lang, per-(source,lang), and grand-total doc/token counts in ONE
    // Expand + ONE shuffle — four aggregations for the price of one pass.
    // Token sums are exact BIGINT sums (DuckDB's HUGEINT recast to BIGINT).
    Q("q60_grouping_sets",
      (s, dir) => Tables.documents(s, dir)
        .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
        .groupingSets(
          Seq(Seq(col("source"), col("lang")), Seq(col("source")),
            Seq(col("lang")), Seq()),
          col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("source").asc_nulls_last,
          col("lang").asc_nulls_last),
      Some("""
WITH t AS (SELECT source, lang,
             len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT AS n_tokens
           FROM documents)
SELECT source, lang, count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid
FROM t
GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
ORDER BY gid, source NULLS LAST, lang NULLS LAST""")),

    // The flagship end-to-end curation pipeline: quality filter → exact
    // dedup → benchmark decontamination → per-stratum quota — each stage is
    // the already-oracle-checked operator (q46, q20, q50, q77), composed the
    // way a production training-data run chains them. The oracle replays the
    // whole chain in one CTE pipeline, so the gate checks the COMPOSITION
    // (stage ordering, survivor threading), not just the pieces. Scale shape
    // is the sum of its parts: every stage is linear or keyed-shuffle; no
    // stage materializes to the driver.
    Q("q86_curation_pipeline",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val kept1 = docs.join(TextAnalysis.qualityFilter(docs)
          .select("doc_id"), Seq("doc_id"), "left_semi")
        val kept2 = docs.join(Dedup.exactDedup(kept1).select("doc_id"),
          Seq("doc_id"), "left_semi")
        val train = kept2.filter(col("source") =!= "src1")
        val bench = docs.filter(col("source") === "src1")
        val kept3 = Decontam.decontaminate(train, bench)
        Curation.quotaSample(kept3, 50).orderBy("doc_id")
      },
      Some(s"""
WITH $tokCte,
$qualityStCte,
kept1 AS (SELECT doc_id FROM st WHERE $qualityPredSql),
d1 AS (SELECT d.* FROM documents d JOIN kept1 USING (doc_id)),
hsh AS (SELECT doc_id, source, lang,
          md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS th
        FROM d1),
kept2 AS (SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY th
              ORDER BY doc_id ASC, source ASC) AS rn FROM hsh)
          WHERE rn = 1),
d2 AS (SELECT d.* FROM d1 d JOIN kept2 USING (doc_id)),
tok3 AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         FROM d2 WHERE source <> 'src1'),
sh3 AS (SELECT doc_id, list_distinct([array_to_string(t[i+1:i+3], ' ')
                                      for i in range(0, len(t)-2)]) AS s
        FROM tok3),
btok AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t
         FROM documents WHERE source = 'src1'),
bsh AS (SELECT list_distinct([array_to_string(t[i+1:i+3], ' ')
                              for i in range(0, len(t)-2)]) AS s
        FROM btok),
bench AS (SELECT DISTINCT ${h60("g.x")} AS gh FROM bsh, unnest(s) g(x)),
tg AS (SELECT doc_id, ${h60("g.x")} AS gh FROM sh3, unnest(s) g(x)),
bad AS (SELECT DISTINCT doc_id FROM tg WHERE gh IN (SELECT gh FROM bench)),
d3 AS (SELECT doc_id, lang, source FROM d2
       WHERE source <> 'src1'
         AND doc_id NOT IN (SELECT doc_id FROM bad)),
r AS (SELECT doc_id, lang, source,
        row_number() OVER (PARTITION BY lang, source
          ORDER BY (('0x' || substr(md5(doc_id::VARCHAR || '|quota'), 1, 15))::BIGINT),
                   doc_id) AS rn
      FROM d3)
SELECT doc_id, lang, source FROM r WHERE rn <= 50 ORDER BY doc_id""")),

    // Held-out evaluation of the distilled quality classifier (the number
    // q126's in-sample fit and q128's in-sample calibration cannot give):
    // train ONLY on q95's cluster-safe train split — the split rides the
    // near-dup cluster key, so no held-out document has a near-duplicate
    // in the training set — then score the WHOLE corpus under the trained
    // model (its own (mu, sd), exactly Classifier.scoreFrame's contract)
    // and report per-split volume, thresholded teacher-rule agreement,
    // and tie-corrected Mann-Whitney AUC as integer micros. The oracle
    // replays the entire chain: recursive-CC split assignment, the
    // train-split-restricted standardization + gradient rounds, full-
    // corpus scoring, and the same integer AUC fold.
    Q("q145_quality_classifier_heldout",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val split = clusterSafeSplitAssign(s, dir).select("doc_id", "split")
        val train = docs.join(split.filter(col("split") === "train"),
          Seq("doc_id"), "left_semi")
        Classifier.heldoutReport(
          Classifier.scoreFrame(docs,
              Classifier.logregTrain(train, rounds = 5))
            .join(split, "doc_id"))
      },
      Some(s"""$ccLabelsCtes,
keyed AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS ckey
          FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
sp AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train'
                           WHEN bucket < 95 THEN 'val'
                           ELSE 'test' END AS split
       FROM (SELECT doc_id, CAST(${h60("CAST(ckey AS VARCHAR) || '|graft'")} % 100
                         AS INTEGER) AS bucket FROM keyed)),
${logregCtes(5, 2000000L, includeTok = false,
        trainJoin = "JOIN sp ON sp.doc_id = fr.doc_id AND sp.split = 'train'")},
sc AS (SELECT f.doc_id, CAST(y AS BIGINT) AS y,
        CAST(${logregSigmoidMicro("w5")} AS BIGINT) AS s_micro, sp.split
       FROM f CROSS JOIN w5 JOIN sp ON sp.doc_id = f.doc_id),
g AS (SELECT split, s_micro, CAST(sum(y) AS BIGINT) AS p,
        CAST(count(*) AS BIGINT) - CAST(sum(y) AS BIGINT) AS nn,
        CAST(sum(CASE WHEN s_micro >= 500000 THEN y ELSE 1 - y END)
          AS BIGINT) AS agree
      FROM sc GROUP BY split, s_micro),
c AS (SELECT *, CAST(coalesce(sum(nn) OVER (PARTITION BY split
        ORDER BY s_micro ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        0) AS BIGINT) AS cum_n FROM g)
SELECT split,
  CAST(sum(p) + sum(nn) AS BIGINT) AS n_docs,
  CAST(sum(agree) AS BIGINT) AS n_agree,
  CAST((sum(p * 2 * cum_n + p * nn) * 500000)
    // nullif(sum(p) * sum(nn), 0) AS BIGINT) AS auc_micro
FROM c GROUP BY split ORDER BY split""")),

    // q145 with the EXTENDED feature set (NumFeaturesExt = 8: + rep-2gram,
    // hashed char-3-gram distinct ratio, stopword ratio): the held-out
    // gate for the feature extension — compare these splits' n_agree /
    // auc_micro against q145's base model (ClassifierSpec pins the
    // improvement; SCALE.md records the measurement). Same train-split
    // discipline, same integer AUC fold; the oracle's training chain
    // replays all 8 features bit-for-bit.
    Q("q146_quality_classifier_heldout_ext",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val split = clusterSafeSplitAssign(s, dir).select("doc_id", "split")
        val train = docs.join(split.filter(col("split") === "train"),
          Seq("doc_id"), "left_semi")
        Classifier.heldoutReport(
          Classifier.scoreFrame(docs,
              Classifier.logregTrain(train, rounds = 5,
                nf = Classifier.NumFeaturesExt),
              nf = Classifier.NumFeaturesExt)
            .join(split, "doc_id"))
      },
      Some(s"""$ccLabelsCtes,
keyed AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS ckey
          FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
sp AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train'
                           WHEN bucket < 95 THEN 'val'
                           ELSE 'test' END AS split
       FROM (SELECT doc_id, CAST(${h60("CAST(ckey AS VARCHAR) || '|graft'")} % 100
                         AS INTEGER) AS bucket FROM keyed)),
${logregCtes(5, 2000000L, includeTok = false,
        trainJoin = "JOIN sp ON sp.doc_id = fr.doc_id AND sp.split = 'train'",
        F = Classifier.NumFeaturesExt)},
sc AS (SELECT f.doc_id, CAST(y AS BIGINT) AS y,
        CAST(${logregSigmoidMicro("w5", Classifier.NumFeaturesExt)} AS BIGINT)
          AS s_micro, sp.split
       FROM f CROSS JOIN w5 JOIN sp ON sp.doc_id = f.doc_id),
g AS (SELECT split, s_micro, CAST(sum(y) AS BIGINT) AS p,
        CAST(count(*) AS BIGINT) - CAST(sum(y) AS BIGINT) AS nn,
        CAST(sum(CASE WHEN s_micro >= 500000 THEN y ELSE 1 - y END)
          AS BIGINT) AS agree
      FROM sc GROUP BY split, s_micro),
c AS (SELECT *, CAST(coalesce(sum(nn) OVER (PARTITION BY split
        ORDER BY s_micro ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        0) AS BIGINT) AS cum_n FROM g)
SELECT split,
  CAST(sum(p) + sum(nn) AS BIGINT) AS n_docs,
  CAST(sum(agree) AS BIGINT) AS n_agree,
  CAST((sum(p * 2 * cum_n + p * nn) * 500000)
    // nullif(sum(p) * sum(nn), 0) AS BIGINT) AS auc_micro
FROM c GROUP BY split ORDER BY split""")),

    // Graph centrality over the near-dup similarity graph: fixed-4-iteration
    // integer-micro PageRank (GraphRank scaladoc has the scale model). Reads
    // the memoized symmetrized-graph mart (one graph prep per session across
    // q155/q156/q159/q165/q167); the oracle unrolls the same four iterations
    // in BIGINT floor arithmetic — bit-exact, no float summation order.
    Q("q155_graph_pagerank",
      (s, dir) => GraphRank.pageRankOnGraph(symGraphEdges(s, dir),
        symGraphNodes(s, dir)).orderBy("doc_id"),
      Some(s"""
WITH $minhashCtes,
pairs AS (SELECT doc_id_a, doc_id_b FROM j WHERE jaccard >= 0.8),
edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
          UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
${pagerankCtes(4)}
SELECT doc_id, r AS rank_micros FROM pr4 ORDER BY doc_id""")),

    // Centrality-aware survivorship: per near-dup cluster keep the MOST
    // CENTRAL member (max PageRank, ties -> min doc_id) as the canonical
    // representative — the doc most similar to the rest of its cluster is
    // the least likely to be the truncated/mangled copy (vs q48's min-id
    // rule). One window over the label mart x rank table.
    Q("q156_central_representatives",
      (s, dir) => GraphRank.centralRepsFromMart(centralityMart(s, dir))
        .orderBy("cluster_id"),
      Some(s"""$ccLabelsCtes,
${pagerankCtes(4)},
m AS (SELECT l.cluster_id, l.doc_id, rr.r
      FROM labels l JOIN pr4 rr ON rr.doc_id = l.doc_id),
w AS (SELECT cluster_id, doc_id, r,
        row_number() OVER (PARTITION BY cluster_id
          ORDER BY r DESC, doc_id ASC) AS rn,
        CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
          AS cluster_size
      FROM m)
SELECT cluster_id, doc_id AS rep_doc_id, CAST(r AS BIGINT) AS rank_micros,
       cluster_size
FROM w WHERE rn = 1 ORDER BY cluster_id""")),

    // Personalized PageRank from a seed document: teleport mass pinned on
    // the seed, so rank = graph-diffusion proximity — random-walk "related
    // documents" over the near-dup graph. Unreached nodes kept at rank 0.
    Q("q159_personalized_pagerank",
      (s, dir) => GraphRank.personalizedPageRankOnGraph(
        symGraphEdges(s, dir), symGraphNodes(s, dir), 8L)
        .orderBy(col("rank_micros").desc, col("doc_id")),
      Some(s"""
WITH $minhashCtes,
pairs AS (SELECT doc_id_a, doc_id_b FROM j WHERE jaccard >= 0.8),
edges AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
          UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
${pprCtes(8L, 4)}
SELECT doc_id, r AS rank_micros FROM pp4
ORDER BY rank_micros DESC, doc_id""")),

    // Per-node triangle counts + local clustering coefficient (ordered-wedge
    // method, each triangle found once as a<b<c): the density signal that
    // separates mutual-dup cliques (template spam, coeff ~1e6 micros) from
    // revision chains (coeff 0) at equal cluster size.
    Q("q165_triangle_stats",
      (s, dir) => GraphRank.triangleStats(nearDupPairs(s, dir),
        degrees = Some(symGraphDegrees(s, dir)))
        .orderBy("doc_id"),
      Some(triangleOracle)),

    // The degree-ordered tier (the "last reducer" skew mitigation,
    // implemented): identical output by construction, pinned on q165's
    // oracle — two implementations, one ground truth (the q48/q65 law).
    Q("q167_triangle_stats_ordered",
      (s, dir) => GraphRank.triangleStatsDegreeOrdered(nearDupPairs(s, dir),
        degrees = Some(symGraphDegrees(s, dir)))
        .orderBy("doc_id"),
      Some(triangleOracle)),

    // Similarity-WEIGHTED PageRank: rank mass splits proportionally to the
    // verified Jaccard (integer micros) instead of 1/deg — centrality that
    // prefers the CLOSEST cluster-mates. The oracle unrolls the identical
    // weighted integer recurrence ((r·w) // sw per edge, BIGINT floors).
    Q("q171_weighted_pagerank",
      (s, dir) => GraphRank.weightedPageRankOnGraph(
        symGraphWeightedEdges(s, dir), symGraphNodes(s, dir))
        .orderBy("doc_id"),
      Some(s"""
WITH $minhashCtes,
$weightedEdgesCtes,
${weightedPagerankCtes(4)}
SELECT doc_id, r AS rank_micros FROM wr4 ORDER BY doc_id""")),

    // q156's survivorship re-based on the weighted ranks (the flagged
    // centralityMart tier): per cluster keep the member most similar to
    // the rest of its cluster under the weighted recurrence — a doc
    // attached by one borderline edge can no longer out-rank the core.
    Q("q172_central_representatives_weighted",
      (s, dir) => GraphRank.centralRepsFromMart(
        centralityMart(s, dir, weighted = true))
        .orderBy("cluster_id"),
      Some(s"""$ccLabelsCtes,
$weightedEdgesCtes,
${weightedPagerankCtes(4)},
m AS (SELECT l.cluster_id, l.doc_id, rr.r
      FROM labels l JOIN wr4 rr ON rr.doc_id = l.doc_id),
wnd AS (SELECT cluster_id, doc_id, r,
          row_number() OVER (PARTITION BY cluster_id
            ORDER BY r DESC, doc_id ASC) AS rn,
          CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
            AS cluster_size
        FROM m)
SELECT cluster_id, doc_id AS rep_doc_id, CAST(r AS BIGINT) AS rank_micros,
       cluster_size
FROM wnd WHERE rn = 1 ORDER BY cluster_id""")),

    // ANN via Johnson-Lindenstrauss sign-projection prefilter: rank the
    // corpus in the 32-dim projected space (narrow column, half the
    // multiply-adds), exact-rerank only the top candidate ids (broadcast
    // semi-join point-fetch of the wide vectors). Same output contract as
    // q24's brute baseline; q158 measures the recall. Candidate budget is
    // adaptive (see Similarity.adaptiveJlCands — floors to the oracle's
    // literal 200 at the correctness SF).
    Q("q157_jl_prefilter_topk",
      (s, dir) => Similarity.jlPrefilterTopK(
        Tables.embeddings(s, dir), 0L, k = 20,
        cands = Similarity.adaptiveJlCands(embCount(s, dir))),
      Some(jlTopkOracle)),

    // The q157 prefilter against the PERSISTED projected column (written at
    // index build next to the vector store): the corpus pass reads only the
    // narrow mart; the wide vectors are point-fetched for the candidates.
    // Shares q157's oracle — indexed == inline, one ground truth.
    Q("q164_jl_indexed",
      (s, dir) => Similarity.jlPrefilterTopKIndexed(s,
        s"${Selection.retrievalIndex(s, dir)}/jl_projected",
        Tables.embeddings(s, dir), 0L, k = 20,
        cands = Similarity.adaptiveJlCands(embCount(s, dir))),
      Some(jlTopkOracle)),

    // Recall gate for q157: |JL top-20 ∩ brute top-20| as integer micros.
    // Both chains replayed on both engines — the measured recall is part of
    // the contract, not an assumption.
    Q("q158_jl_recall_gate",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val jl = Similarity.jlPrefilterTopK(emb, 0L, k = 20,
          cands = Similarity.adaptiveJlCands(embCount(s, dir)))
          .select("vec_id")
        val br = Similarity.bruteTopK(emb, 0L, 20).select("vec_id")
        jl.join(br, Seq("vec_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(20L).as("k"), col("n_hits"),
            expr("(n_hits * 1000000) div 20").as("recall_micros"))
      },
      Some(s"""
WITH $jlCandCtes,
jl AS (SELECT e.vec_id, ${cosineSql("e.v", "qq.qv")} AS cosine
       FROM e JOIN cand USING (vec_id), qq
       ORDER BY cosine DESC, vec_id ASC LIMIT 20),
brute AS (SELECT e.vec_id FROM e, qq
          ORDER BY ${cosineSql("e.v", "qq.qv")} DESC, vec_id ASC LIMIT 20)
SELECT CAST(20 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_hits,
       CAST((count(*) * 1000000) // 20 AS BIGINT) AS recall_micros
FROM jl JOIN brute USING (vec_id)""")))
}
