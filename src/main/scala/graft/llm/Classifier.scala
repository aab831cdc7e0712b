package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps._

/** An in-engine trained quality classifier — the fastText-style curation
  * filter, here DISTILLING the rule-based quality gate (q46's thresholds)
  * into a smooth scorer: batch-gradient logistic regression over
  * handcrafted document features, labels = the gate's own pass/fail (no
  * hand labels; the same supervision shape as distilling an LLM judgment
  * or a heuristic into a cheap model). The smooth score is what the rule
  * cannot give: a ranking near the thresholds and a single knob to trade
  * volume for quality.
  *
  * Execution shape: per training round, ONE corpus pass computes the
  * gradient (map-side partial sums; the 1-row weight frame broadcasts
  * into it), and the weight update is a 1-row projection — the k-means /
  * BPE iterate-via-broadcast pattern, no driver-side loop state. A
  * standardization pass (one aggregation) precedes training: the raw
  * features live on wildly different scales, and unscaled batch GD
  * saturates the sigmoid (measured: AUC 0.33 raw vs 0.87 standardized on
  * the sf0.01 corpus).
  *
  * Cross-engine determinism (the DuckDB oracle replays training
  * bit-for-bit): features are exact integer ratios or micro-quantized
  * transcendentals, standardization stats are DECIMAL(38,6)-routed sums
  * micro-quantized into integer (mu, sd), the per-row sigmoid is floored
  * to micros (libm-vs-JVM ulp differences die at the 6th decimal),
  * gradient sums are decimal-routed, and weights are integer micros. Two
  * engines that agree on the integers agree on the model.
  *
  * At 100 TB: training subsamples (the fit saturates long before the
  * corpus does) and the model ships as a written NumFeatures-row table —
  * (j, w_micro, mu_micro, sd_micro) is self-contained (weights AND the
  * standardization that defines the feature space). Scoring is one
  * narrow pass with that table broadcast.
  */
object Classifier {

  /** Number of features including the bias term (j = 0). */
  val NumFeatures = 5

  /** Extended feature count: the 5 handcrafted ratios plus three texture
    * features over the teacher's own statistic family — rep-2gram ratio
    * (the rule component the base features never see), hashed char-3-gram
    * distinct ratio ([[graft.expr.CharGramHashSeq]] — the dedup tier's
    * hash60 machinery), and stopword ratio. Gated on the held-out metric
    * (q145 vs q146): the extension must measurably beat the base model on
    * the cluster-safe held-out splits, not just in sample. */
  val NumFeaturesExt = 8

  /** Per-doc raw features + label: (doc_id, y, f0..f{nf-1}).
    *   y  = the q46 quality rule (n_tokens >= 20 AND rep_2gram <= 0.2
    *        AND distinct_ratio >= 0.5) as 1.0/0.0 — same stats spellings
    *        as [[TextAnalysis.qualityFilter]], inline (one scan, no join)
    *   f0 = 1 (bias)
    *   f1 = ln(1 + n_tokens), micro-quantized
    *   f2 = distinct_tokens / n_tokens   (exact int ratio)
    *   f3 = Σ token_len / n_tokens       (exact int ratio)
    *   f4 = n_chars / (1 + n_tokens)     (exact int ratio)
    * and for nf = [[NumFeaturesExt]]:
    *   f5 = rep-2gram ratio (hashed-shingle spelling, = the label's own
    *        repetition statistic — legitimate distillation: the teacher's
    *        inputs are the student's features, as with f2)
    *   f6 = distinct char-3-gram hash60s / (n_chars − 2)  (0 below 3)
    *   f7 = stopword tokens / n_tokens   (exact int ratio) */
  private[llm] def rawFeaturesN(docs: DataFrame, nf: Int): DataFrame = {
    val t = toks(col("text"))
    val nToks = size(t).cast("long")
    val dr = size(array_distinct(t)).cast("double") / nToks.cast("double")
    val rep2 = TextAnalysis.rep2gramRatio(t, nToks)
    val base = Seq(
      col("doc_id"),
      when(nToks >= 20 && rep2 <= 0.2 && dr >= 0.5, 1.0)
        .otherwise(0.0).as("y"),
      lit(1.0).as("f0"),
      (floor(log(lit(1.0) + nToks.cast("double"))
        * lit(1000000) + lit(0.5)) / lit(1e6)).as("f1"),
      dr.as("f2"),
      (aggregate(transform(t, x => length(x)), lit(0L),
        (acc, x) => acc + x.cast("long")).cast("double")
        / nToks.cast("double")).as("f3"),
      (col("n_chars").cast("double")
        / (lit(1.0) + nToks.cast("double"))).as("f4"))
    val ext = if (nf <= NumFeatures) Nil else Seq(
      rep2.as("f5"),
      when(length(col("text")) >= 3,
        size(array_distinct(graft.expr.CharGramHashSeq(col("text"), 3)))
          .cast("double") / (length(col("text")) - 2).cast("double"))
        .otherwise(0.0).as("f6"),
      (graft.expr.MembershipCount(t, TextOps.stopwords).cast("double")
        / nToks.cast("double")).as("f7"))
    graft.Tables.spread(docs).select(base ++ ext: _*)
  }

  /** One-row standardization stats over the raw features: per non-bias j,
    * integer-micro (mu_j, sd_j) from decimal-routed Σf and Σf² — the
    * population moments, quantized so both engines land on the same
    * integers. */
  private[llm] def featureStats(fr: DataFrame,
      nf: Int = NumFeatures): DataFrame = {
    val sums = (1 until nf).flatMap { j =>
      Seq(sum(col(s"f$j").cast("decimal(38,6)")).as(s"g$j"),
        sum((col(s"f$j") * col(s"f$j")).cast("decimal(38,6)")).as(s"h$j"))
    } :+ count(lit(1)).as("n")
    val agg = fr.agg(sums.head, sums.tail: _*)
    agg.select((1 until nf).flatMap { j =>
      val m = col(s"g$j").cast("double") / col("n").cast("double")
      val q = col(s"h$j").cast("double") / col("n").cast("double")
      Seq(
        floor(m * lit(1e6) + lit(0.5)).cast("long").as(s"mu$j"),
        floor(sqrt(greatest(lit(0.0), q - m * m)) * lit(1e6) + lit(0.5))
          .cast("long").as(s"sd$j"))
    }: _*)
  }

  /** Standardized feature frame: f_j := (f_j − mu_j/1e6) / (sd_j/1e6)
    * for j >= 1 (bias passes through); a constant feature (sd = 0) maps
    * to 0. `ms` is any 1-row frame carrying mu_j/sd_j — the training
    * stats or a written model table. */
  private def zFrame(fr: DataFrame, ms: DataFrame,
      nf: Int = NumFeatures): DataFrame =
    fr.crossJoin(broadcast(ms)).select(
      Seq(col("doc_id"), col("y"), col("f0")) ++
        (1 until nf).map { j =>
          when(col(s"sd$j") > 0,
            (col(s"f$j") - col(s"mu$j").cast("double") / lit(1e6))
              / (col(s"sd$j").cast("double") / lit(1e6)))
            .otherwise(0.0).as(s"f$j")
        }: _*)

  /** The per-row micro-quantized sigmoid of the linear score under micro
    * weights w0..w4 (columns from the broadcast 1-row weight frame). */
  private def sigmoidMicro(nf: Int = NumFeatures): Column = {
    val z = (0 until nf)
      .map(j => col(s"f$j") * (col(s"w$j").cast("double") / lit(1e6)))
      .reduce(_ + _)
    floor(lit(1e6) / (lit(1.0) + exp(-z)) + lit(0.5))
  }

  /** Train `rounds` of batch gradient ascent at learning rate
    * `lrMicro`/1e6 over the STANDARDIZED features, starting from zero
    * weights. Returns the shippable model table (j, w_micro, mu_micro,
    * sd_micro) — NumFeatures rows; the bias row carries the identity
    * standardization (0, 1e6). */
  def logregTrain(docs: DataFrame, rounds: Int,
      lrMicro: Long = 2000000L, nf: Int = NumFeatures): DataFrame = {
    val spark = docs.sparkSession
    val fr = rawFeaturesN(docs, nf).localCheckpoint(false)
    val ms = featureStats(fr, nf).localCheckpoint(false)
    val feats = zFrame(fr, ms, nf).localCheckpoint(false)
    var w: DataFrame = spark.range(1).select(
      (0 until nf).map(j => lit(0L).as(s"w$j")): _*)
    for (_ <- 1 to rounds) {
      val joined = feats.crossJoin(broadcast(w))
      val resid = col("y") - sigmoidMicro(nf) / lit(1e6)
      val gradSums = (0 until nf).map(j =>
        sum((resid * col(s"f$j")).cast("decimal(38,6)")).as(s"g$j"))
      val agg = joined.agg(gradSums.head,
        gradSums.tail :+ count(lit(1)).as("n"): _*)
      w = agg.crossJoin(broadcast(w))
        .select((0 until nf).map { j =>
          (col(s"w$j") + floor((lit(lrMicro.toDouble / 1e6)
            * (col(s"g$j").cast("double") / col("n").cast("double")))
            * lit(1e6) + lit(0.5)).cast("long")).as(s"w$j")
        }: _*)
        .localCheckpoint(false)
    }
    val rows = (0 until nf).map { j =>
      if (j == 0)
        struct(lit(0L).as("j"), col("w0").as("w_micro"),
          lit(0L).as("mu_micro"), lit(1000000L).as("sd_micro"))
      else
        struct(lit(j.toLong).as("j"), col(s"w$j").as("w_micro"),
          col(s"mu$j").as("mu_micro"), col(s"sd$j").as("sd_micro"))
    }
    w.crossJoin(broadcast(ms))
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.j").as("j"), col("r.w_micro").as("w_micro"),
        col("r.mu_micro").as("mu_micro"), col("r.sd_micro").as("sd_micro"))
      .orderBy("j")
  }

  /** Retrain the quality classifier after a takedown whose legal scope
    * covers MODEL PARAMETERS: logreg weights are gradient aggregates over
    * a training corpus that included the victims, and gradients have no
    * sound row-level inverse (each round's weights feed the next round's
    * sigmoid — subtraction would need the full optimization replayed
    * anyway). So the delete tier for this family IS the retrain: one
    * [[logregTrain]] over the surviving corpus. Deterministic
    * (integer-micro arithmetic end to end), so the equality law holds
    * exactly: retrained weights == a fresh train on corpus-minus-victims
    * (ClassifierSpec). */
  def retrainClassifierAfterTakedown(docs: DataFrame,
      victimDocIds: Seq[Long], rounds: Int,
      lrMicro: Long = 2000000L, nf: Int = NumFeatures): DataFrame = {
    require(victimDocIds.nonEmpty, "empty takedown set")
    logregTrain(docs.filter(!col("doc_id").isin(victimDocIds.distinct: _*)),
      rounds, lrMicro, nf)
  }

  /** Calibration report over the scored corpus: bucket docs into score
    * deciles (floor(s_micro/100000), clamped to 9) and report per-bucket
    * volume and teacher-rule agreement — the curve a curation operator
    * reads to pick the volume/quality threshold the smooth score exists
    * for. One aggregation over the scored frame; 10 rows out. */
  def calibrationReport(scored: DataFrame): DataFrame =
    scored
      .select(col("y"),
        least(floor(col("s_micro").cast("double") / lit(100000.0))
          .cast("long"), lit(9L)).as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("y").as("n_rule_pass"))
      .orderBy("decile")

  /** Held-out evaluation over a scored+split frame `(doc_id, y, s_micro,
    * split)`: per split, document volume, teacher-rule agreement of the
    * thresholded score (pass iff s_micro >= 500000), and the ROC AUC of
    * the smooth score against the rule label as integer micros — the
    * number the in-sample calibration report (q128) cannot give, because
    * a memorizing fit would score perfectly there and only the held-out
    * splits expose it.
    *
    * AUC is the Mann-Whitney statistic with tie-correction, computed
    * EXACTLY in integers so the DuckDB oracle replays it bit-for-bit:
    * group by distinct score (p positives, nn negatives per score), take
    * the running negative count below each score, and fold
    * num2 = Σ (2·p·cum_n + p·nn) = 2·|{s_pos > s_neg}| + |ties|;
    * auc_micro = (num2 · 500000) div (P·N). Two aggregations over the
    * scored frame, rows out = splits; null AUC when a split lacks one of
    * the classes. (num2·500000 stays in long range through ~10^6 docs
    * per class per split; a 100 TB evaluation runs over a sampled
    * held-out set long before that bound binds.) */
  def heldoutReport(scored: DataFrame): DataFrame = {
    val g = scored.groupBy("split", "s_micro")
      .agg(sum("y").as("p"),
        (count(lit(1)) - sum("y")).as("nn"),
        sum(when(col("s_micro") >= 500000L, col("y"))
          .otherwise(lit(1L) - col("y"))).as("agree"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("split")
      .orderBy("s_micro")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    g.withColumn("cum_n", coalesce(sum("nn").over(w), lit(0L)))
      .groupBy("split")
      .agg((sum(col("p")) + sum(col("nn"))).as("n_docs"),
        sum("agree").as("n_agree"),
        sum(col("p") * 2 * col("cum_n") + col("p") * col("nn")).as("num2"),
        sum("p").as("pos"), sum("nn").as("neg"))
      .select(col("split"), col("n_docs"), col("n_agree"),
        when(col("pos") > 0 && col("neg") > 0,
          expr("(num2 * 500000) div (pos * neg)"))
          .otherwise(lit(null).cast("long")).as("auc_micro"))
      .orderBy("split")
  }

  /** Score docs under a trained model table: per-doc micro-sigmoid of the
    * standardized linear score — the serve-many half of the train-once
    * split. The model broadcasts (NumFeatures rows pivoted to one);
    * scoring is one narrow pass, no shuffle before the output sort. */
  def logregScore(docs: DataFrame, model: DataFrame): DataFrame =
    scoreFrame(docs, model)
      .orderBy(col("s_micro").desc, col("doc_id").asc)

  /** The unordered scoring projection — shared by the batch scorer (which
    * adds the output order) and the streaming twin (a stream has no total
    * order; scores emit as docs arrive). Zero shuffle, zero state: the
    * model pivots to one row and broadcasts into the narrow pass. */
  private[graft] def scoreFrame(docs: DataFrame, model: DataFrame,
      nf: Int = NumFeatures): DataFrame = {
    val pivots = (0 until nf).flatMap { j =>
      Seq(sum(when(col("j") === j, col("w_micro"))).as(s"w$j"),
        sum(when(col("j") === j, col("mu_micro"))).as(s"mu$j"),
        sum(when(col("j") === j, col("sd_micro"))).as(s"sd$j"))
    }
    val mrow = model.agg(pivots.head, pivots.tail: _*)
    zFrame(rawFeaturesN(docs, nf), mrow, nf)
      .crossJoin(broadcast(mrow.select(
        (0 until nf).map(j => col(s"w$j")): _*)))
      .select(col("doc_id"), col("y").cast("long").as("y"),
        sigmoidMicro(nf).cast("long").as("s_micro"))
  }
}
