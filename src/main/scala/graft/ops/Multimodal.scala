package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Multimodal-column plumbing: media payloads as opaque `binary` columns with
  * typed metadata, plus decode/feature-extract kernels.
  *
  * The real pipeline shape at 100 TB: payloads live in parquet binary
  * columns (or pointers to object storage), metadata is columnar and
  * filterable WITHOUT touching bytes, and the decode step is a per-partition
  * batch operation so codec state amortizes across rows. The decode kernels
  * are REAL parsers ([[MediaCodec]]: 24-bit BMP, RIFF/WAVE PCM16 with chunk
  * walking, a raw-frame video container) running in mapPartitions seams;
  * payload contents come from closed-form integer generators so the DuckDB
  * oracle adjudicates the encode→decode round trip without ever seeing the
  * codec.
  */
object Multimodal {

  // ------------------------------------------------------ real decode kernels

  /** A media row: three genuine encoded payloads per document (24-bit BMP,
    * RIFF/WAVE PCM16, GVF1 raw-frame video), built in one mapPartitions
    * pass. Payload geometry derives from doc metadata; pixel/sample values
    * from [[MediaCodec.pixel]]/[[MediaCodec.sample]] — closed-form integer
    * formulas the DuckDB oracle replays WITHOUT the codec, so the
    * encode→decode round trip is adjudicated by an independent engine. */
  final case class MediaRow(doc_id: Long, image: Array[Byte],
      audio: Array[Byte], video: Array[Byte])

  /** Features extracted from DECODED image bytes (not metadata): geometry
    * from the BMP header, channel sums over the parsed pixel array, and a
    * 64-bit average-hash as four 16-bit bands (the near-dup banding key).
    * All integers — exact in both engines. */
  final case class ImageFeatures(doc_id: Long, w: Int, h: Int, n_px: Long,
      sum_b: Long, sum_g: Long, sum_r: Long,
      ahash_b0: Long, ahash_b1: Long, ahash_b2: Long, ahash_b3: Long)

  final case class AudioFeatures(doc_id: Long, sample_rate: Int,
      n_samples: Long, sumsq: Long, zero_cross: Long, peak: Long)

  final case class VideoSignature(doc_id: Long, n_frames: Int,
      n_sampled: Int, sig: String)

  /** Encode seam: documents → real media payloads. One iterator pass per
    * partition (codec/buffer state amortizes across rows — the batch shape
    * a real encoder farm uses). At 100 TB the payloads arrive encoded; this
    * seam exists so the DECODE kernels below run against genuine container
    * bytes with the oracle still able to adjudicate. */
  def encodeMedia(docs: DataFrame, spreadInput: Boolean = true)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    // spreadInput=false is the POINT-READ path (/imagedup's one-doc hash):
    // spreading one row to the session's shuffle parallelism would cost a
    // request an exchange plus a fleet of empty tasks
    (if (spreadInput) graft.Tables.spread(docs) else docs)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (d, nChars) =>
          val w = (nChars % 24 + 8).toInt
          val h = (d % 18 + 6).toInt
          val img = MediaCodec.encodeBmp(w, h, MediaCodec.renderFrame(d, w, h))
          val n = (nChars % 256 + 64).toInt
          val wav = MediaCodec.encodeWav(16000,
            Array.tabulate(n)(i => MediaCodec.sample(d, i)))
          val nf = (d % 6 + 2).toInt
          val vid = MediaCodec.encodeVideo(w, h,
            Array.tabulate(nf)(f => MediaCodec.renderFrame(d, w, h, f)))
          MediaRow(d, img, wav, vid)
        }
      }
  }

  /** Image decode kernel: parse the BMP (header validation, bottom-up
    * scanline un-flip, row padding), then channel sums + aHash — an 8×8
    * nearest-neighbor RESIZE of integer luminance, bit j set iff
    * 64·lum(j) > Σlum (the mean compare without division). Position-
    * dependent, so a scanline-order or stride bug in the codec fails the
    * oracle even though the channel SUMS are order-invariant. */
  def imageFeaturesFromBytes(docId: Long, bytes: Array[Byte]): ImageFeatures = {
    val (w, h, bgr) = MediaCodec.decodeBmp(bytes)
    var sb = 0L; var sg = 0L; var sr = 0L
    var i = 0
    while (i < w * h) {
      sb += bgr(3 * i) & 0xff
      sg += bgr(3 * i + 1) & 0xff
      sr += bgr(3 * i + 2) & 0xff
      i += 1
    }
    val lum = new Array[Long](64)
    var tot = 0L
    var j = 0
    while (j < 64) {
      val sx = (j % 8) * w / 8
      val sy = (j / 8) * h / 8
      val p = (sy * w + sx) * 3
      val l = (bgr(p) & 0xff) + (bgr(p + 1) & 0xff) + (bgr(p + 2) & 0xff)
      lum(j) = l; tot += l; j += 1
    }
    val bands = new Array[Long](4)
    j = 0
    while (j < 64) {
      if (lum(j) * 64 > tot) bands(j / 16) |= 1L << (j % 16)
      j += 1
    }
    ImageFeatures(docId, w, h, w.toLong * h, sb, sg, sr,
      bands(0), bands(1), bands(2), bands(3))
  }

  /** Audio decode kernel: walk the RIFF chunks (the encoder plants a junk
    * chunk between fmt and data, so naive offset math breaks loudly),
    * then energy (Σv²), strict-sign zero crossings, and peak |v|. */
  def audioFeaturesFromBytes(docId: Long, bytes: Array[Byte]): AudioFeatures = {
    val (rate, samples) = MediaCodec.decodeWav(bytes)
    var sumsq = 0L; var zc = 0L; var peak = 0L
    var i = 0
    while (i < samples.length) {
      val v = samples(i).toLong
      sumsq += v * v
      if (v.abs > peak) peak = v.abs
      if (i >= 1 && v * samples(i - 1).toLong < 0) zc += 1
      i += 1
    }
    AudioFeatures(docId, rate, samples.length.toLong, sumsq, zc, peak)
  }

  /** Video frame-sample kernel: parse the container header, slice every
    * `step`-th frame by offset (sampled frames only — the reader never
    * touches unsampled byte ranges), per-frame total luminance as the
    * temporal signature. */
  def videoSignatureFromBytes(docId: Long, bytes: Array[Byte],
      step: Int): VideoSignature = {
    val (_, _, nf, frame) = MediaCodec.decodeVideo(bytes)
    val sums = (0 until nf by step).map { f =>
      val fb = frame(f)
      var s = 0L; var i = 0
      while (i < fb.length) { s += fb(i) & 0xff; i += 1 }
      s
    }
    VideoSignature(docId, nf, sums.length, sums.mkString(","))
  }

  /** Decoded-image feature frame for a document table — the composition
    * the queries register: encode seam → decode kernel, each one
    * mapPartitions pass. */
  def imageFeatures(docs: DataFrame, spreadInput: Boolean = true)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    encodeMedia(docs, spreadInput).select("doc_id", "image")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (d, b) => imageFeaturesFromBytes(d, b) })
      .toDF()
  }

  def audioFeatures(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    encodeMedia(docs).select("doc_id", "audio").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (d, b) => audioFeaturesFromBytes(d, b) })
      .toDF()
  }

  def videoSignatures(docs: DataFrame, step: Int = 2)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    encodeMedia(docs).select("doc_id", "video").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (d, b) => videoSignatureFromBytes(d, b, step) })
      .toDF()
  }

  /** Image near-dup pairs via BANDED aHash (the SimHash trick on pixels):
    * candidates share at least one 16-bit band of the 64-bit hash —
    * an equi-join on (band index, band value), never all-pairs — then the
    * full 64-bit Hamming distance over the four bands filters to
    * `maxHamming`. Scale shape: 4 rows per image into a band-keyed
    * shuffle; candidate volume is bounded by band-bucket occupancy (the
    * LSH guarantee), and the verify is four xor/bit_count ops per
    * candidate — the same band-then-verify plan as MinHash-LSH text dedup
    * at 100 TB. */
  def imageNearDupPairs(docs: DataFrame, maxHamming: Int)(
      implicit spark: SparkSession): DataFrame =
    bandedPairsFromFeats(
      imageFeatures(docs)
        .select("doc_id", "ahash_b0", "ahash_b1", "ahash_b2", "ahash_b3")
        .localCheckpoint(false), // one encode+decode pass, two join sides
      maxHamming)

  /** CROSS-MODAL near-dup: text near-dup pairs (the q21 MinHash/LSH tier)
    * whose ATTACHED IMAGES do NOT near-dup — the caption-farm signature
    * (one template text stamped onto many distinct images: product spam,
    * stock-photo mills, auto-captioned scrapes). A text-only dedup would
    * collapse these docs and silently throw away distinct visual training
    * signal; this operator is the curation view that finds them.
    *
    * Composition, both legs already scale-shaped: the text leg is the
    * banded MinHash pipeline ([[graft.llm.Dedup.minhashNearDupPairs]] —
    * never all-pairs), and the image leg is a doc_id-keyed join of the
    * pair set against the fingerprint frame with a direct 64-bit Hamming
    * verify — PAIR-SET-sized, no image banding needed because the text
    * pairs already bound the candidates. Pairs keep the q21 orientation
    * (doc_id_a < doc_id_b); a pair is reported iff its images disagree
    * past `imgMaxHamming` (the q135 near-dup threshold negated). Docs
    * without a decoded fingerprint drop out (a cross-modal decision needs
    * both modalities — inner join by design). */
  def captionFarmPairs(docs: DataFrame, feats: DataFrame,
      threshold: Double = 0.8, imgMaxHamming: Int = 8): DataFrame = {
    def ham(x: Column, y: Column): Column = bit_count(x.bitwiseXOR(y))
    val fa = feats.select(col("doc_id").as("doc_id_a"),
      col("ahash_b0").as("xa0"), col("ahash_b1").as("xa1"),
      col("ahash_b2").as("xa2"), col("ahash_b3").as("xa3"))
    val fb = feats.select(col("doc_id").as("doc_id_b"),
      col("ahash_b0").as("xb0"), col("ahash_b1").as("xb1"),
      col("ahash_b2").as("xb2"), col("ahash_b3").as("xb3"))
    graft.llm.Dedup.minhashNearDupPairs(docs, threshold)
      .join(fa, "doc_id_a")
      .join(fb, "doc_id_b")
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"),
        (ham(col("xa0"), col("xb0")) + ham(col("xa1"), col("xb1")) +
          ham(col("xa2"), col("xb2")) + ham(col("xa3"), col("xb3")))
          .cast("long").as("img_hamming"))
      .filter(col("img_hamming") > imgMaxHamming)
  }

  /** The other cross-modal correlation ([[captionFarmPairs]]'s dual):
    * image near-dup pairs whose docs come from DIFFERENT sources —
    * stolen/scraped-content detection (the same image republished across
    * hosts; within-source image reuse is ordinary pagination/theming and
    * is excluded). Takes the verified pair table (the banded q135 tier,
    * never all-pairs) and charges only two doc_id-keyed dimension joins —
    * pair-set-sized, like the caption-farm leg. */
  def stolenImagePairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("source_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("source_b")), "doc_b")
      .filter(col("source_a") =!= col("source_b"))
      .select("doc_a", "doc_b", "hamming", "source_a", "source_b")
  }

  /** The banded candidate join + Hamming verify over a precomputed
    * 4×16-bit fingerprint frame `(doc_id, <prefix>0..3)` — MODALITY-
    * GENERIC: the image tier, its recall audit, and the audio tier all
    * feed this one kernel (the banding plan does not care what hashed). */
  private[ops] def bandedPairsFromFeats(feats: DataFrame, maxHamming: Int,
      prefix: String = "ahash_b"): DataFrame = {
    val b = (0 to 3).map(i => col(s"$prefix$i"))
    // The plan is STATISTICS-DRIVEN, a decision Catalyst cannot make for
    // us because the semantics live above the physical layer: on a
    // duplicate-heavy corpus (the premise near-dup exists for) a per-doc
    // band join goes quadratic in exact-dup GROUP SIZE before the verify
    // can prune, so identical fingerprints are collapsed first and the
    // band join runs over DISTINCT fingerprints with output-sized member
    // expansion (measured at 10×: the sawtooth audio corpus, ~24 docs
    // per fingerprint, 36 s per-doc vs 5.7 s collapsed). On a
    // near-distinct corpus the collapse machinery only adds overhead
    // (image at 10×: 2.6 s per-doc vs 7.9 s collapsed), so the measured
    // duplication factor — one hash aggregate over the fingerprint
    // frame, the statistic a production catalog would already hold —
    // picks the path: collapse iff ≥ 2 docs per fingerprint on average.
    val groups = feats
      .groupBy(b: _*)
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .select(b.zipWithIndex.map { case (c, i) => c.as(s"f$i") } :+
        col("docs") :+ element_at(col("docs"), 1).as("rep"): _*)
      .localCheckpoint(false) // consumed up to three times below
    // one aggregation yields both sides of the dispatch statistic
    val st = groups
      .agg(count(lit(1)).as("g"), sum(size(col("docs"))).as("n")).head()
    val nGroups = st.getLong(0)
    val nDocs = if (st.isNullAt(1)) 0L else st.getLong(1) // empty corpus
    if (nDocs < 2 * nGroups) return perDocBandedPairs(feats, maxHamming, b)
    def ham(x: Column, y: Column): Column = bit_count(x.bitwiseXOR(y))
    // within a group every ordered pair qualifies at Hamming 0
    val within = groups.filter(size(col("docs")) >= 2)
      .select(col("docs"), posexplode(col("docs")).as(Seq("i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("docs"), col("i") + lit(2),
          greatest(size(col("docs")) - col("i") - 1, lit(0)))).as("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("hamming"))
    // across groups: band join on distinct fingerprints, verify once per
    // GROUP PAIR, then expand members (groups are disjoint, so each
    // unordered doc pair appears exactly once — no distinct needed past
    // the rep-pair level)
    val bands = groups.select(col("rep"),
      posexplode(array((0 to 3).map(i => col(s"f$i")): _*))
        .as(Seq("band", "v")))
    val candReps = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"))
      .distinct()
    val ga = groups.select(col("rep").as("rep_a"), col("docs").as("docs_a"),
      col("f0").as("a0"), col("f1").as("a1"), col("f2").as("a2"),
      col("f3").as("a3"))
    val gb = groups.select(col("rep").as("rep_b"), col("docs").as("docs_b"),
      col("f0").as("b0"), col("f1").as("b1"), col("f2").as("b2"),
      col("f3").as("b3"))
    val between = candReps.join(ga, "rep_a").join(gb, "rep_b")
      .select(col("docs_a"), col("docs_b"),
        (ham(col("a0"), col("b0")) + ham(col("a1"), col("b1")) +
          ham(col("a2"), col("b2")) + ham(col("a3"), col("b3")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select(explode(col("docs_a")).as("da"), col("docs_b"), col("hamming"))
      .select(col("da"), explode(col("docs_b")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    within.unionByName(between)
  }

  /** The near-distinct-corpus path: per-doc band join + per-candidate
    * verify (the straightforward LSH plan — optimal when group collapse
    * has nothing to collapse). */
  private def perDocBandedPairs(feats: DataFrame, maxHamming: Int,
      b: Seq[Column]): DataFrame = {
    val bands = feats.select(col("doc_id"),
      posexplode(array(b: _*)).as(Seq("band", "v")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    def ham(x: Column, y: Column): Column = bit_count(x.bitwiseXOR(y))
    cand
      .join(feats.toDF("doc_a", "a0", "a1", "a2", "a3"), "doc_a")
      .join(feats.toDF("doc_b", "b0", "b1", "b2", "b3"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (ham(col("a0"), col("b0")) + ham(col("a1"), col("b1")) +
          ham(col("a2"), col("b2")) + ham(col("a3"), col("b3")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Cluster labels over the banded fingerprint graph WITHOUT ever
    * materializing within-group pairs or per-group member arrays — the
    * degenerate-fingerprint-safe clustering path. The pair spelling
    * ([[bandedPairsFromFeats]]) is quadratic in exact-dup group size BY
    * OUTPUT DEFINITION (every within-group pair is a result row), and its
    * collapse tier builds one `collect_list` row per distinct fingerprint
    * — at 100 TB a single degenerate fingerprint (blank images, silence)
    * becomes one giant row. Clusters don't need either: Hamming distance
    * depends only on the fingerprints, so the member graph is exactly the
    * blow-up of the DISTINCT-fingerprint graph — components correspond
    * 1:1, and because each group's representative is its min member, the
    * rep graph's min-label CC labels ARE the full graph's labels. So:
    * one aggregation to (fingerprint → min member, count) — no arrays —
    * the banded pair join over DISTINCT fingerprints only (self-pairs
    * structurally impossible), O(log d) pointer-jumping CC on the rep
    * graph, and one fingerprint-keyed join back to the members. Every row
    * is O(1); the heaviest intermediate is the distinct-fingerprint
    * candidate join, which degenerate duplication SHRINKS instead of
    * exploding. Output-identical to CC over the pair spelling
    * (spec-pinned, and q140 shares the transitive-closure oracle). */
  private[ops] def bandedClustersFromFeats(feats: DataFrame,
      maxHamming: Int, prefix: String = "ahash_b"): DataFrame = {
    val names = (0 to 3).map(i => s"$prefix$i")
    val b = names.map(col)
    val groups = feats
      .groupBy(b: _*)
      .agg(min("doc_id").as("rep"), count(lit(1)).as("cnt"))
      .localCheckpoint(false) // two consumers: rep graph + member join
    val repFeats = groups.select(col("rep").as("doc_id") +: b: _*)
    val repLabels = graft.llm.Dedup.connectedComponentsFast(
        perDocBandedPairs(repFeats, maxHamming, b), "doc_a", "doc_b")
      .select(col("doc_id").as("rep"), col("cluster_id").as("rep_cluster"))
    feats.select(col("doc_id") +: b: _*)
      .join(groups, names)
      .join(repLabels, Seq("rep"), "left")
      // a doc clusters iff its rep has a cross-group edge OR its group has
      // >= 2 members (an isolated group is its own component; singleton
      // groups with no edges stay out, matching the pair-graph CC output)
      .filter(col("rep_cluster").isNotNull || col("cnt") >= 2)
      .select(col("doc_id"),
        coalesce(col("rep_cluster"), col("rep")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** A 64-bit audio fingerprint as four 16-bit bands: 64 positions sampled
    * evenly across the decoded PCM stream, bit j set iff sample j exceeds
    * the 64-sample mean (the amplitude-envelope analogue of aHash — and
    * deliberately NOT delta-sign, which degenerates to all-ones on
    * monotone ramps). Feeds the same banded near-dup kernel as images. */
  final case class AudioFingerprint(doc_id: Long, afp_b0: Long,
      afp_b1: Long, afp_b2: Long, afp_b3: Long)

  def audioFingerprintFromBytes(docId: Long,
      bytes: Array[Byte]): AudioFingerprint = {
    val (_, samples) = MediaCodec.decodeWav(bytes)
    val n = samples.length
    val v = new Array[Long](64)
    var tot = 0L
    var j = 0
    while (j < 64) {
      val p = (j.toLong * (n - 1) / 64).toInt
      v(j) = samples(p).toLong
      tot += v(j); j += 1
    }
    val bands = new Array[Long](4)
    j = 0
    while (j < 64) {
      if (v(j) * 64 > tot) bands(j / 16) |= 1L << (j % 16)
      j += 1
    }
    AudioFingerprint(docId, bands(0), bands(1), bands(2), bands(3))
  }

  def audioFingerprints(docs: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    encodeMedia(docs).select("doc_id", "audio").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (d, b) => audioFingerprintFromBytes(d, b) })
      .toDF()
  }

  // ------------------------------------------- persisted aHash near-dup index

  /** The index row shape: one row per (image, band) — the hash band is the
    * lookup key, the FULL four bands ride along (denormalized) so the
    * Hamming verify needs no second lookup. `vb` = v mod nVb is the
    * partition bucket (band value itself is 16-bit — 65k directories per
    * band would drown the filesystem; the bucket bounds directory count
    * with the same pruning effect, the postings `term_bucket` move). */
  private def ahashBandRowsFromFeats(feats: DataFrame): DataFrame =
    feats
      .select(col("doc_id"), col("ahash_b0"), col("ahash_b1"),
        col("ahash_b2"), col("ahash_b3"),
        posexplode(array(col("ahash_b0"), col("ahash_b1"),
          col("ahash_b2"), col("ahash_b3"))).as(Seq("band", "v")))

  /** One-shot build of the persisted image near-dup index: band rows
    * partitioned by (band, vb) under the reserved base partition
    * `batch_id=-1`, with a geometry sidecar (`bands_meta`) so readers can
    * never bucket differently than the writer — the aHash twin of the
    * BM25/IVFADC serving layouts, sharing their append/commit lifecycle
    * ([[Layout.initCommitLog]]). */
  def writeAhashIndex(docs: DataFrame, basePath: String, nVb: Int = 64,
      dropTakedowns: Boolean = false)(
      implicit spark: SparkSession): Unit =
    writeAhashIndexFromFeats(imageFeatures(docs), basePath, nVb,
      dropTakedowns)

  /** [[writeAhashIndex]] over an ALREADY-DECODED feature frame — the mart
    * path ([[ahashIndexMart]]) feeds the session's shared decode pass in
    * here instead of paying a second one for the index build.
    *
    * A rebuild over a root with a standing takedown REGISTRY carries the
    * registry forward by default (its rows are index-independent one-way
    * fingerprints — the legal obligation outlives any one build) and
    * REFUSES — before touching anything — if the fresh corpus itself
    * contains an exact-fingerprint copy of a registered victim: carrying
    * a registry while serving the victim from the base would be
    * incoherent. `dropTakedowns = true` is the caller's explicit
    * acknowledgment that the obligations end here. NEAR copies in the
    * fresh corpus are not checked (the exact key is the base-build
    * contract; the quarantine tier guards the admission door). The ingest
    * AUDIT always clears — it records the OLD index's decisions. */
  private def writeAhashIndexFromFeats(feats: DataFrame, basePath: String,
      nVb: Int = 64, dropTakedowns: Boolean = false)(
      implicit spark: SparkSession): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val lanePath = new org.apache.hadoop.fs.Path(s"$basePath/takedowns")
    val laneFs = lanePath.getFileSystem(hconf)
    val carried: Option[DataFrame] =
      if (!laneFs.exists(lanePath)) None
      else if (dropTakedowns) { laneFs.delete(lanePath, true); None }
      else {
        // capture the committed lane BEFORE the reset retires its
        // manifest (eager checkpoint — file-independent from here on)
        val rows = ahashTakedownRegistry(spark, basePath).localCheckpoint()
        val nViol = feats
          .join(broadcast(rows.select(col("ahash_b0"), col("ahash_b1"),
            col("ahash_b2"), col("ahash_b3")).distinct()),
            Seq("ahash_b0", "ahash_b1", "ahash_b2", "ahash_b3"),
            "left_semi")
          .count()
        require(nViol == 0L,
          s"rebuild refused: $nViol corpus doc(s) carry the exact " +
            "fingerprint of a registered takedown victim. Purge them " +
            "from the corpus, or pass dropTakedowns = true to " +
            "explicitly end the standing obligations with this rebuild.")
        Some(rows)
      }
    // a full rewrite may change the bucketing geometry (nVb): retire the
    // old manifests so no as_of read can decode a retired snapshot's band
    // keys with the NEW sidecar's geometry (Layout.resetCommitLog doc)
    Layout.resetCommitLog(spark, basePath)
    // never resurrect the previous index's ingest audit
    val admPath = new org.apache.hadoop.fs.Path(s"$basePath/admissions")
    val admFs = admPath.getFileSystem(hconf)
    if (admFs.exists(admPath)) { admFs.delete(admPath, true); () }
    writeAhashBatch(ahashBandRowsFromFeats(feats), basePath, nVb, -1L,
      dynamic = false)
    spark.range(1).select(lit(nVb).as("n_vb"))
      .write.mode("overwrite").parquet(s"$basePath/bands_meta")
    carried.foreach { rows =>
      laneFs.delete(lanePath, true)
      rows
        .withColumn("batch_id",
          lit((RegistryBatch + 1) * Layout.GenStride)) // gen-0 lane phys
        .coalesce(1)
        .write.mode("overwrite").partitionBy("batch_id")
        .parquet(s"$basePath/takedowns")
    }
    Layout.initCommitLog(spark, basePath) // backfills the carried lane
    carried.foreach { rows =>
      rows.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
  }

  /** Ingest a doc-disjoint image batch under its delivery's PHYSICAL
    * partitions (the [[Layout.beginBatchCommit]] manifest protocol):
    * reads keep serving the previous delivery until the atomic manifest
    * swap at [[Layout.finishBatchCommit]], so a concurrent near-dup read
    * never sees half a batch's band rows — or a vanished batch.
    *
    * MEDIA TAKEDOWN REGISTRY consult: batch docs whose decoded aHash
    * fingerprint matches a [[deleteDocsFromAhashIndex]]-registered victim
    * (exact 64-bit match always; Hamming <= `registryMaxHamming` when the
    * takedown escalated with `nearCopyBlock`) are REFUSED — a taken-down
    * image re-crawled under fresh caption text must not re-enter the
    * index through this, the media modality's only ingest door. The
    * per-batch (n_ingested, n_blocked) audit publishes in the SAME
    * manifest swap as the band rows ([[ahashAdmissionLog]] reads it).
    * Replay-invariant by construction: the consult reads only the
    * reserved registry lane, never the batch's own delivery. */
  def appendToAhashIndex(newDocs: DataFrame, basePath: String,
      batchId: Long, registryMaxHamming: Int = 3,
      registryBroadcastMaxRows: Long =
        graft.llm.Dedup.DefaultRegistryBroadcastMaxRows)(
      implicit spark: SparkSession): Unit = {
    require(batchId >= 0 && batchId < RegistryBatch,
      s"batchId must be in [0, $RegistryBatch) (negative ids are reserved " +
        s"for the base/compacted partition, $RegistryBatch for the " +
        s"takedown registry lane), got $batchId")
    val nVb = spark.read.parquet(s"$basePath/bands_meta").head().getInt(0)
    // ONE decode pass shared by the registry consult and the band write
    val feats = imageFeatures(newDocs).localCheckpoint(false)
    val blocked = ahashRegistryBlockedIds(spark, basePath, feats,
        registryMaxHamming, registryBroadcastMaxRows)
      .localCheckpoint()
    val phys = Layout.beginBatchCommit(spark, basePath, batchId)
    // a recovery delivery smaller than the crashed attempt must REPLACE
    // its partials, not inherit them (Layout.clearPhysicalDelivery doc)
    Layout.clearPhysicalDelivery(spark, basePath, phys)
    writeAhashBatch(
      ahashBandRowsFromFeats(
        feats.join(blocked, Seq("doc_id"), "left_anti")),
      basePath, nVb, phys, dynamic = true)
    // the audit rides the same swap — TWO outcomes here (the aHash root
    // is an index, not a dedup gate: non-blocked docs always ingest)
    newDocs.select("doc_id", "source")
      .join(blocked.withColumn("__blk", lit(true)), Seq("doc_id"), "left")
      .groupBy("source").agg(
        sum(when(col("__blk").isNull, 1L).otherwise(0L)).as("n_ingested"),
        sum(when(col("__blk").isNotNull, 1L).otherwise(0L)).as("n_blocked"))
      .withColumn("batch", lit(batchId)) // data column; rides compaction
      .withColumn("batch_id", lit(phys))
      .coalesce(1) // sources-sized
      .write.mode("overwrite").partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$basePath/admissions")
    Layout.finishBatchCommit(spark, basePath, phys)
    Seq(feats, blocked).foreach { df =>
      df.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
  }

  private def writeAhashBatch(rows: DataFrame, basePath: String, nVb: Int,
      batchId: Long, dynamic: Boolean): Unit = {
    val w = Layout.withIdBloom(rows
      .withColumn("vb", pmod(col("v"), lit(nVb)).cast("int"))
      .withColumn("batch_id", lit(batchId))
      .repartition(col("band"), col("vb"))
      .sortWithinPartitions("band", "vb", "batch_id", "v")
      .write.mode("overwrite"), "doc_id")
      .partitionBy("band", "vb", "batch_id")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .parquet(s"$basePath/bands")
  }

  /** Recall audit for the banded tier (the q121 discipline applied to the
    * media modalities, q141 image and q144 audio): brute all-pairs Hamming
    * vs the banded candidate set, per distance, over any 4×16-bit
    * fingerprint frame — modality-generic like the pair kernel. The 4×16
    * banding GUARANTEES recall 1 for Hamming ≤ 3 (pigeonhole: ≤ 3 flipped
    * bits touch ≤ 3 of the 4 bands, so one band survives intact);
    * 4..maxHamming is probabilistic and this measures it. ONE decode pass
    * feeds both tiers; the brute side is the audit tier — at 100 TB it
    * runs on a sample, while the banded side is the production path.
    * recall_micro is integral division — exact in both engines. */
  private def bandedRecallFromFeats(feats: DataFrame, maxHamming: Int,
      prefix: String): DataFrame = {
    def ham(x: Column, y: Column): Column = bit_count(x.bitwiseXOR(y))
    val brute = feats.toDF("doc_a", "a0", "a1", "a2", "a3")
      .join(broadcast(feats.toDF("doc_b", "b0", "b1", "b2", "b3")),
        col("doc_a") < col("doc_b"))
      .select((ham(col("a0"), col("b0")) + ham(col("a1"), col("b1")) +
        ham(col("a2"), col("b2")) + ham(col("a3"), col("b3")))
        .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("hamming").agg(count(lit(1)).as("n_brute"))
    val banded = bandedPairsFromFeats(feats, maxHamming, prefix)
      .groupBy("hamming").agg(count(lit(1)).as("n_banded"))
    brute.join(banded, Seq("hamming"), "left")
      .select(col("hamming"), col("n_brute"),
        coalesce(col("n_banded"), lit(0L)).as("n_banded"),
        expr("coalesce(n_banded, 0L) * 1000000 div n_brute")
          .as("recall_micro"),
        (col("hamming") <= 3).as("guaranteed"))
      .orderBy("hamming")
  }

  /** Offline compaction of an appended aHash layout into the reserved
    * `batch_id=-1` base of a FRESH root — the media member of the
    * compaction family (BM25 postings / IVFADC codes): batches are
    * doc-disjoint by contract so the fold is a re-bucketed rewrite, the
    * geometry sidecar copies verbatim, and the fresh root starts with an
    * empty commit log. Search/pairs against the compacted root are
    * result-identical (spec-pinned). Returns (in, out) band file counts. */
  def compactAhashIndex(spark: SparkSession, inBase: String,
      outBase: String): (Long, Long) = {
    Layout.resetCommitLog(spark, outBase) // fresh-root semantics
    spark.read.parquet(s"$inBase/bands_meta")
      .write.mode("overwrite").parquet(s"$outBase/bands_meta")
    val nVb = spark.read.parquet(s"$inBase/bands_meta").head().getInt(0)
    val vis = Layout.committedBatchFilter(spark, inBase)
    val rows = spark.read.parquet(s"$inBase/bands").filter(vis)
      .drop("vb", "batch_id")
    writeAhashBatch(rows, outBase, nVb, -1L, dynamic = false)
    // the media takedown REGISTRY rides compaction in its reserved lane
    // (the compactMinhashIndex law: a compacted index stays bound by
    // every standing takedown), and the ingest AUDIT folds into the base
    // with its `batch` data column intact — compaction must not erase
    // either. A stale table in a REUSED outBase is removed either way.
    val hconf = spark.sparkContext.hadoopConfiguration
    def carry(table: String, toBatch: Long, fold: DataFrame => DataFrame)
        : Unit = {
      val out = new org.apache.hadoop.fs.Path(s"$outBase/$table")
      val ofs = out.getFileSystem(hconf)
      if (ofs.exists(out)) { ofs.delete(out, true); () }
      val in = new org.apache.hadoop.fs.Path(s"$inBase/$table")
      if (in.getFileSystem(hconf).exists(in)) {
        fold(spark.read.parquet(s"$inBase/$table").filter(vis))
          .drop("batch_id").withColumn("batch_id", lit(toBatch))
          .coalesce(1)
          .write.mode("overwrite").partitionBy("batch_id")
          .parquet(s"$outBase/$table")
      }
    }
    carry("admissions", -1L, identity)
    carry("takedowns", (RegistryBatch + 1) * Layout.GenStride, identity)
    Layout.initCommitLog(spark, outBase)
    (graft.llm.Selection.countParquetFiles(spark, s"$inBase/bands"),
      graft.llm.Selection.countParquetFiles(spark, s"$outBase/bands"))
  }

  /** Row-level DELETE (takedown) from a [[writeAhashIndex]] layout: the
    * victim docs' band rows vanish from every affected delivery — the
    * aHash index is denormalized per row (each band row carries its own
    * doc's four hash bands and nothing of any other doc), so deletion is
    * pure row removal with no re-election algebra. Law: bands(after) ==
    * bands(before) minus the victims' rows, making every point search
    * and pair scan exactly the pre-delete one with the victims gone
    * (spec-pinned). Same one-manifest-swap + mandatory-vacuum discipline
    * as the other layouts ([[Layout.takedownRewrite]]): pre-delete as-of
    * versions refuse after the vacuum. */
  def deleteDocsFromAhashIndex(spark: SparkSession, basePath: String,
      docIds: Seq[Long], nearCopyBlock: Boolean = false,
      laneMaxRowsPerFile: Long =
        graft.llm.Dedup.DefaultRegistryLaneMaxRowsPerFile)
      : Layout.TakedownReport = {
    require(docIds.nonEmpty, "empty takedown set")
    // optimistic concurrency: discovery pins the manifest version; a
    // racing commit refuses the swap and discovery re-runs
    // (Layout.takedownWithRetry contract)
    Layout.takedownWithRetry(spark, basePath)(observed =>
      deleteDocsFromAhashIndexOnce(spark, basePath, docIds.distinct,
        observed, nearCopyBlock, laneMaxRowsPerFile))
  }

  private def deleteDocsFromAhashIndexOnce(spark: SparkSession,
      basePath: String, victims: Seq[Long],
      observedVersion: Option[Long], nearCopyBlock: Boolean,
      laneMaxRowsPerFile: Long): Layout.TakedownReport = {
    val vis = Layout.committedBatchFilter(spark, basePath)
    val hits = spark.read.parquet(s"$basePath/bands").filter(vis)
      .filter(col("doc_id").isin(victims: _*))
      .groupBy(col("batch_id").cast("long").as("batch_id"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    if (hits.isEmpty)
      return Layout.TakedownReport("ahash", 0L, 0L, 0L)
    val affected = hits.map(_._1).toSeq.sorted
    // MEDIA REGISTRY delivery: persist the victims' aHash fingerprints
    // (already one-way 64-bit hashes — no recoverable pixels) BEFORE the
    // rewrite destroys their band rows, so [[appendToAhashIndex]] refuses
    // a re-crawled copy of a taken-down image — the same standing-
    // obligation law as the text registry (graft.llm.Dedup). Band rows
    // are denormalized (each carries its doc's full four bands), so the
    // capture is one victim-pushed scan. `near_block` records the
    // takedown's escalation: true rows also refuse NEAR copies (Hamming-
    // banded, the quarantine tier). Previous registry rows carry forward
    // — each takedown supersedes only the prior lane delivery — and the
    // lane publishes in the SAME manifest swap as the delete below.
    val vfp = spark.read.parquet(s"$basePath/bands").filter(vis)
      .filter(col("doc_id").isin(victims: _*))
      .select(col("doc_id"), col("ahash_b0"), col("ahash_b1"),
        col("ahash_b2"), col("ahash_b3"))
      .distinct()
      .withColumn("near_block", lit(nearCopyBlock))
    val regPhys = Layout.beginBatchCommit(spark, basePath, RegistryBatch)
    Layout.clearPhysicalDelivery(spark, basePath, regPhys)
    val lane = ahashTakedownRegistry(spark, basePath)
      .unionByName(vfp).distinct()
    // sized lane delivery (the Dedup.putLane discipline): one file in the
    // takedown-request-sized common case, sharded past the row cap
    val shards = math.max(1L,
      (lane.count() + laneMaxRowsPerFile - 1) / laneMaxRowsPerFile).toInt
    (if (shards == 1) lane.coalesce(1) else lane.repartition(shards))
      .withColumn("batch_id", lit(regPhys))
      .write.mode("overwrite").partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$basePath/takedowns")
    val reclaimed = Layout.takedownRewrite(spark, basePath, affected,
        extraDeliveries = Seq(regPhys),
        expectedVersion = observedVersion) {
      (oldPhys, newPhys) =>
        Layout.readDeliveryRows(spark, s"$basePath/bands",
            "band=*/vb=*", oldPhys).foreach { rows =>
          rows.filter(!col("doc_id").isin(victims: _*))
            .drop("batch_id").withColumn("batch_id", lit(newPhys))
            .repartition(col("band"), col("vb"))
            .sortWithinPartitions("band", "vb", "batch_id", "v")
            .write.mode("overwrite").partitionBy("band", "vb", "batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$basePath/bands")
        }
        // the ingest audit rides through unchanged — decisions are history
        Layout.readDeliveryRows(spark, s"$basePath/admissions",
            "", oldPhys).foreach { rows =>
          rows.drop("batch_id").withColumn("batch_id", lit(newPhys))
            .coalesce(1)
            .write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$basePath/admissions")
        }
    }
    Layout.TakedownReport("ahash", hits.map(_._2).sum,
      affected.size.toLong, reclaimed)
  }

  /** Reserved registry-lane batch id — the [[graft.llm.Dedup.RegistryBatch]]
    * convention shared across every index family with a takedown registry. */
  private def RegistryBatch: Long = graft.llm.Dedup.RegistryBatch

  /** The committed media takedown registry of a [[writeAhashIndex]] root:
    * one (four-band fingerprint, doc_id, near_block) row per DESTROYED
    * image — the doc_id is the audit trail back to the takedown request,
    * the fingerprint the standing block [[appendToAhashIndex]] consults
    * (exact always; Hamming-near when `near_block`). Registry-sized,
    * never corpus-sized; empty frame when no takedown has ever run. */
  def ahashTakedownRegistry(spark: SparkSession, basePath: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$basePath/takedowns")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      asOfVersion.foreach(_ =>
        Layout.committedBatchFilterAt(spark, basePath, asOfVersion))
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("ahash_b0", LongType),
          StructField("ahash_b1", LongType),
          StructField("ahash_b2", LongType),
          StructField("ahash_b3", LongType),
          StructField("near_block", BooleanType))))
    } else
      spark.read.parquet(s"$basePath/takedowns")
        .filter(Layout.committedBatchFilterAt(spark, basePath, asOfVersion))
        .select("doc_id", "ahash_b0", "ahash_b1", "ahash_b2", "ahash_b3",
          "near_block")
  }

  /** Batch doc ids refused by the media registry: exact fingerprint
    * matches against every registered victim, plus Hamming <=
    * `maxHamming` matches against the `near_block` rows via the SAME
    * 4×16 banding as the index probe (a candidate within Hamming 3
    * shares at least one intact band — pigeonhole — so the banded
    * candidate set has recall 1 at the default tier). SIZED like the
    * text registry consult ([[graft.llm.Dedup.blockedRepsForDelta]]):
    * the lane's committed row count decides broadcast vs shuffled-hash —
    * a whole-source recall's registry must not broadcast tens of GB to
    * every executor. Returned lazy. */
  private[ops] def ahashRegistryBlockedIds(spark: SparkSession,
      basePath: String, feats: DataFrame, maxHamming: Int,
      registryBroadcastMaxRows: Long): DataFrame = {
    val reg = ahashTakedownRegistry(spark, basePath)
    val regSmall = reg.count() <= registryBroadcastMaxRows
    def sized(df: DataFrame): DataFrame =
      if (regSmall) broadcast(df) else df.hint("shuffle_hash")
    val exact = feats
      .join(sized(reg.select(col("ahash_b0"), col("ahash_b1"),
          col("ahash_b2"), col("ahash_b3")).distinct()),
        Seq("ahash_b0", "ahash_b1", "ahash_b2", "ahash_b3"), "left_semi")
      .select("doc_id")
    val nearRows = reg.filter(col("near_block"))
      .select(col("doc_id").as("__vid"), col("ahash_b0").as("__v0"),
        col("ahash_b1").as("__v1"), col("ahash_b2").as("__v2"),
        col("ahash_b3").as("__v3"))
    def ham(x: Column, y: Column): Column = bit_count(x.bitwiseXOR(y))
    val qBands = feats.select(col("doc_id"),
        col("ahash_b0"), col("ahash_b1"), col("ahash_b2"), col("ahash_b3"),
        posexplode(array(col("ahash_b0"), col("ahash_b1"),
          col("ahash_b2"), col("ahash_b3"))).as(Seq("__band", "__bv")))
    val vBands = nearRows.select(col("__vid"), col("__v0"), col("__v1"),
        col("__v2"), col("__v3"),
        posexplode(array(col("__v0"), col("__v1"), col("__v2"),
          col("__v3"))).as(Seq("__band", "__bv")))
    val near = qBands
      .join(sized(vBands), Seq("__band", "__bv"))
      .filter(ham(col("ahash_b0"), col("__v0")) +
        ham(col("ahash_b1"), col("__v1")) +
        ham(col("ahash_b2"), col("__v2")) +
        ham(col("ahash_b3"), col("__v3")) <= lit(maxHamming))
      .select("doc_id")
    exact.unionByName(near).distinct()
  }

  /** The committed media-ingest audit: one (batch, source, n_ingested,
    * n_blocked) row per source per COMMITTED ingest batch — published in
    * the same manifest swap as the batch's band rows, so the log and the
    * index are always consistent. Pre-registry roots (no admissions
    * table) read as an empty log. */
  def ahashAdmissionLog(spark: SparkSession, basePath: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$basePath/admissions")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      asOfVersion.foreach(_ =>
        Layout.committedBatchFilterAt(spark, basePath, asOfVersion))
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("batch", LongType),
          StructField("source", StringType),
          StructField("n_ingested", LongType),
          StructField("n_blocked", LongType))))
    } else
      spark.read.parquet(s"$basePath/admissions")
        .filter(Layout.committedBatchFilterAt(spark, basePath, asOfVersion))
        .select("batch", "source", "n_ingested", "n_blocked")
  }

  /** Point near-dup search FROM the index: the query image's four band
    * values prune to ≤ 4 (band, vb) directories (plus the pushed `v`
    * row-group filter — band rows are v-sorted within files); candidates'
    * full hashes ride the matched rows, so the Hamming verify is four
    * xor/bit_count ops per candidate with no second read. Per-request
    * cost: four band-bucket directories, independent of corpus size.
    * `asOfVersion` reads the band layout at a PAST manifest version (time
    * travel — unknown versions refuse, the committedBatchFilterAt
    * contract). */
  def ahashSearchIndex(spark: SparkSession, basePath: String,
      queryBands: Seq[Long], maxHamming: Int,
      excludeDocId: Long = -1L, asOfVersion: Option[Long] = None): DataFrame = {
    require(queryBands.length == 4, "need the four 16-bit hash bands")
    val nVb = spark.read.parquet(s"$basePath/bands_meta").head().getInt(0)
    val hit = queryBands.zipWithIndex.map { case (v, k) =>
      col("band") === k && col("vb") === (v % nVb).toInt && col("v") === v
    }.reduce(_ || _)
    def ham(x: Column, q: Long): Column = bit_count(x.bitwiseXOR(lit(q)))
    spark.read.parquet(s"$basePath/bands")
      .filter(hit && Layout.committedBatchFilterAt(spark, basePath, asOfVersion))
      .filter(col("doc_id") =!= excludeDocId)
      .select(col("doc_id"), col("ahash_b0"), col("ahash_b1"),
        col("ahash_b2"), col("ahash_b3"))
      .distinct()
      .select(col("doc_id"),
        (ham(col("ahash_b0"), queryBands(0)) +
          ham(col("ahash_b1"), queryBands(1)) +
          ham(col("ahash_b2"), queryBands(2)) +
          ham(col("ahash_b3"), queryBands(3))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("hamming").asc, col("doc_id").asc)
  }

  /** Corpus-wide near-dup pairs FROM the index at rest — the compaction-
    * job shape: the stored band rows ARE the banding melt, so the
    * candidate join groups within (band, v) directly on the layout and
    * the denormalized hashes verify without touching documents. Result-
    * identical to the inline [[imageNearDupPairs]] (q137 shares q135's
    * oracle). */
  def ahashPairsFromIndex(spark: SparkSession, basePath: String,
      maxHamming: Int): DataFrame = {
    val vis = Layout.committedBatchFilter(spark, basePath)
    val rows = spark.read.parquet(s"$basePath/bands").filter(vis)
      .select("doc_id", "band", "v", "ahash_b0", "ahash_b1",
        "ahash_b2", "ahash_b3")
    val cand = rows.as("a").join(rows.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.ahash_b0").as("a0"), col("a.ahash_b1").as("a1"),
        col("a.ahash_b2").as("a2"), col("a.ahash_b3").as("a3"),
        col("b.ahash_b0").as("b0"), col("b.ahash_b1").as("b1"),
        col("b.ahash_b2").as("b2"), col("b.ahash_b3").as("b3"))
      .distinct()
    def ham(x: Column, y: Column): Column = bit_count(x.bitwiseXOR(y))
    cand.select(col("doc_a"), col("doc_b"),
        (ham(col("a0"), col("b0")) + ham(col("a1"), col("b1")) +
          ham(col("a2"), col("b2")) + ham(col("a3"), col("b3")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** A media row's curation verdict — flags + the conjunction. */
  final case class MediaGateRow(doc_id: Long, too_dark: Boolean,
      too_bright: Boolean, low_structure: Boolean, quiet: Boolean,
      clipped: Boolean, keep: Boolean)

  /** Media curation gate — the pre-training screen for media corpora,
    * all predicates over DECODED features (the q46 quality-gate idea
    * applied to pixels/samples): exposure bounds on mean pixel value,
    * structure bounds on aHash popcount (a near-uniform or near-saturated
    * hash means no spatial structure to learn from), full-scale clipping
    * and low-energy detection on PCM. Integer-exact flags; `keep` is the
    * conjunction. ONE mapPartitions pass decodes both modalities and
    * emits the verdict — zero shuffles, zero joins, so the gate fuses
    * with the scan, scales with input splits, and runs UNCHANGED on a
    * streaming frame ([[graft.streaming.StreamOps.mediaGateStream]] is
    * literally this function — batch/stream cannot drift). */
  def mediaQualityGate(docs: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    encodeMedia(docs).mapPartitions(_.map { m =>
      val img = imageFeaturesFromBytes(m.doc_id, m.image)
      val aud = audioFeaturesFromBytes(m.doc_id, m.audio)
      val s3 = img.sum_b + img.sum_g + img.sum_r
      val nbits = java.lang.Long.bitCount(img.ahash_b0) +
        java.lang.Long.bitCount(img.ahash_b1) +
        java.lang.Long.bitCount(img.ahash_b2) +
        java.lang.Long.bitCount(img.ahash_b3)
      val tooDark = s3 < img.n_px * 3 * 96
      val tooBright = s3 > img.n_px * 3 * 160
      val lowStructure = nbits <= 24 || nbits >= 42
      val quiet = aud.sumsq < aud.n_samples * 150000L
      val clipped = aud.peak >= 1024L
      MediaGateRow(m.doc_id, tooDark, tooBright, lowStructure, quiet,
        clipped, !(tooDark || tooBright || lowStructure || quiet || clipped))
    }).toDF()
  }

  /** Memoized corpus size — drives the q141 audit-sample modulus (the
    * embCount discipline: one count() per (session, dir), evicted with
    * the marts). */
  private def docCount(s: SparkSession, dir: String): Long =
    graft.sec.SecDerive.cachedCount(s, dir, "doc_count")(
      graft.Tables.documents(s, dir).count())

  // ------------------------------------------------ per-(session, dir) marts
  //
  // The media modality's twin of the text-side near-dup mart discipline
  // (LlmQueries.nearDupPairs/nearDupLabels): each expensive derivation —
  // codec decode pass, banded pair graph, CC label table — is built once
  // per (session, dir) and shared by every query that consumes it, instead
  // of each query re-decoding the corpus and re-running CC (r12 measured
  // ~10 s of duplicated work at sf0.1, ~34 s at sf1). The mart builders
  // call the SAME public functions the one-shot spellings use, so reading
  // a mart is byte-identical to building inline.

  /** Decoded image feature frame (q132's rows) — ONE codec pass per
    * (session, dir) feeds q132/q135/q138/q140/q141/q143 and the persisted
    * aHash index build. */
  private def imageFeatMart(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    graft.sec.SecDerive.cached(s, dir, "media_image_feats")(
      imageFeatures(graft.Tables.documents(s, dir)))
  }

  /** Decoded audio feature frame (q133's rows) — shared with the media
    * quality gate's audio flags. */
  private def audioFeatMart(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    graft.sec.SecDerive.cached(s, dir, "media_audio_feats")(
      audioFeatures(graft.Tables.documents(s, dir)))
  }

  /** PCM envelope fingerprints — shared by the audio near-dup tier (q142)
    * and its recall audit (q144). */
  private def audioFpMart(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    graft.sec.SecDerive.cached(s, dir, "media_audio_fps")(
      audioFingerprints(graft.Tables.documents(s, dir)))
  }

  /** The verified banded image near-dup pair table at the query family's
    * shared maxHamming=8 — q135 serves it, q140/q143 cluster it. */
  private def imagePairsMart(s: SparkSession, dir: String): DataFrame =
    graft.sec.SecDerive.cached(s, dir, "media_image_pairs")(
      bandedPairsFromFeats(
        imageFeatMart(s, dir)
          .select("doc_id", "ahash_b0", "ahash_b1", "ahash_b2", "ahash_b3"),
        maxHamming = 8))

  /** The caption-farm pair mart (q187's rows) — memoized like every
    * serving mart, pair-set-sized; `GET /captionfarm` reads it. */
  private[graft] def captionFarmMart(s: SparkSession, dir: String)
      : DataFrame = {
    implicit val sp: SparkSession = s
    graft.sec.SecDerive.cached(s, dir, "media_captionfarm_pairs")(
      captionFarmPairs(graft.Tables.documents(s, dir),
        imageFeatMart(s, dir)))
  }

  /** The stolen-content pair mart (q188's rows) — `GET /stolen` reads
    * it; pair-set-sized (the verified banded pairs plus two dimension
    * joins, never all-pairs). */
  private[graft] def stolenPairsMart(s: SparkSession, dir: String)
      : DataFrame =
    graft.sec.SecDerive.cached(s, dir, "media_stolen_pairs")(
      stolenImagePairs(graft.Tables.documents(s, dir),
        imagePairsMart(s, dir)))

  /** Caption-farm detection at INGEST time — the cross-modal flag over
    * the INCREMENTAL probe instead of the one-shot pair table: delta
    * docs whose text near-dups the indexed corpus but whose image
    * disagrees, computed when the batch arrives (when it is cheapest —
    * the probe is already paid by admission, the flag adds one decode
    * pass over the BATCH and a pair-set-sized fingerprint join).
    * `corpusFeats` supplies the indexed side's fingerprints (the decoded
    * feature mart or the aHash index at rest); the delta side decodes
    * from the batch itself. `excludeLogicalBatch` is the replay seam
    * (same contract as the admission probe): a re-driven micro-batch
    * flags against the pre-delivery snapshot, so replay == once.
    * Output = q187's schema (doc_id_a < doc_id_b, jaccard,
    * img_hamming). */
  def captionFarmProbe(spark: SparkSession, newDocs: DataFrame,
      indexPath: String, corpusFeats: DataFrame, threshold: Double = 0.8,
      imgMaxHamming: Int = 8,
      excludeLogicalBatch: Option[Long] = None): DataFrame = {
    implicit val sp: SparkSession = spark
    def ham(x: Column, y: Column): Column = bit_count(x.bitwiseXOR(y))
    val deltaFeats = imageFeatures(newDocs)
      .select("doc_id", "ahash_b0", "ahash_b1", "ahash_b2", "ahash_b3")
    val feats = corpusFeats
      .select("doc_id", "ahash_b0", "ahash_b1", "ahash_b2", "ahash_b3")
      .unionByName(deltaFeats)
      // one fingerprint row per doc: when corpusFeats already covers the
      // delta docs (a whole-corpus feature mart — the production shape),
      // the union holds each delta doc twice and every flagged pair would
      // join (and persist) twice; the decode is deterministic, so the two
      // rows are identical and either survivor is correct
      .dropDuplicates("doc_id")
    val fa = feats.select(col("doc_id").as("doc_id_a"),
      col("ahash_b0").as("xa0"), col("ahash_b1").as("xa1"),
      col("ahash_b2").as("xa2"), col("ahash_b3").as("xa3"))
    val fb = feats.select(col("doc_id").as("doc_id_b"),
      col("ahash_b0").as("xb0"), col("ahash_b1").as("xb1"),
      col("ahash_b2").as("xb2"), col("ahash_b3").as("xb3"))
    graft.llm.Dedup.probeMinhashIndex(spark, newDocs, indexPath, threshold,
        excludeLogicalBatch = excludeLogicalBatch)
      .join(fa, "doc_id_a")
      .join(fb, "doc_id_b")
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"),
        (ham(col("xa0"), col("xb0")) + ham(col("xa1"), col("xb1")) +
          ham(col("xa2"), col("xb2")) + ham(col("xa3"), col("xb3")))
          .cast("long").as("img_hamming"))
      .filter(col("img_hamming") > imgMaxHamming)
  }

  /** The image CC label table (q140's rows) — ONE pointer-jumping CC per
    * (session, dir); q143's survivorship keys on these labels. Built
    * through the degenerate-safe direct path
    * ([[bandedClustersFromFeats]]): clusters never materialize the
    * quadratic within-group pairs the pair QUERIES must output, so a
    * blank-image fingerprint shared by 10^4 docs costs one group row
    * here, not 5·10^7 pair rows (spec-pinned identical to CC over the
    * pair spelling). */
  private def imageLabelMart(s: SparkSession, dir: String): DataFrame =
    graft.sec.SecDerive.cached(s, dir, "media_image_labels")(
      bandedClustersFromFeats(
        imageFeatMart(s, dir)
          .select("doc_id", "ahash_b0", "ahash_b1", "ahash_b2", "ahash_b3"),
        maxHamming = 8))

  /** The audio CC label table (q148's rows) — the image label mart's twin
    * over PCM envelope fingerprints, through the same degenerate-safe
    * direct path. The audio corpus is the one that NEEDS it most: the
    * clustered sawtooth envelopes are dup-heavy (the measured 10× collapse
    * evidence), so its exact-dup groups are exactly the shape whose
    * within-group pairs the pair spelling would materialize quadratically. */
  private def audioLabelMart(s: SparkSession, dir: String): DataFrame =
    graft.sec.SecDerive.cached(s, dir, "media_audio_labels")(
      bandedClustersFromFeats(audioFpMart(s, dir), maxHamming = 4,
        prefix = "afp_b"))

  /** The media gate verdict computed COLUMNAR over the two feature marts —
    * flag-identical to the fused single-pass [[mediaQualityGate]] (same
    * thresholds over the same decoded features; the streaming twin keeps
    * the fused spelling and the batch==stream gate pins them together).
    * One broadcast-sized join of two cached frames replaces a third and
    * fourth full decode pass per bench session. */
  private def mediaGateMart(s: SparkSession, dir: String): DataFrame =
    graft.sec.SecDerive.cached(s, dir, "media_gate") {
      val s3 = col("sum_b") + col("sum_g") + col("sum_r")
      val nbits = bit_count(col("ahash_b0")) + bit_count(col("ahash_b1")) +
        bit_count(col("ahash_b2")) + bit_count(col("ahash_b3"))
      imageFeatMart(s, dir)
        .select(col("doc_id"),
          (s3 < col("n_px") * 3 * 96).as("too_dark"),
          (s3 > col("n_px") * 3 * 160).as("too_bright"),
          (nbits <= 24 || nbits >= 42).as("low_structure"))
        .join(audioFeatMart(s, dir).select(col("doc_id"),
          (col("sumsq") < col("n_samples") * 150000L).as("quiet"),
          (col("peak") >= 1024L).as("clipped")), "doc_id")
        .select(col("doc_id"), col("too_dark"), col("too_bright"),
          col("low_structure"), col("quiet"), col("clipped"),
          (!(col("too_dark") || col("too_bright") || col("low_structure") ||
            col("quiet") || col("clipped"))).as("keep"))
    }

  /** The image-twin doc_id offset: ≡ 0 mod 256, 13 and 18, so doc_id and
    * doc_id + ImgTwinOffset render byte-identical images under
    * [[MediaCodec.pixel]] (7d is mod-256, the cross term uses d%13, the
    * height d%18) at equal n_chars — the "same image re-crawled under a
    * fresh doc_id" fixture for the media-registry chain, far above any
    * real doc_id so twin ids never collide with corpus ids. */
  private[graft] val ImgTwinOffset: Long = 29952L * 100000L

  /** The media-registry chain mart (q198/q199): build the aHash index
    * over the 90% corpus, take down the doc_id%23==7 victim class (with
    * the near escalation when `nearCopyBlock`), then ingest a delta =
    * the held-out 10% plus an exact re-crawl of every victim under a
    * fresh [[ImgTwinOffset]] twin id. Memoized per (session, dir, tier)
    * like every chain mart. */
  private[graft] def ahashRegistryMart(s: SparkSession, dir: String,
      nearCopyBlock: Boolean = false): String = {
    implicit val sp: SparkSession = s
    val tier = if (nearCopyBlock) "near" else "exact"
    graft.sec.SecDerive.storedLayout(s, dir,
        s"ahash_registry_$tier") { base =>
      val docs = Tables.documents(s, dir)
      writeAhashIndex(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), base)
      val victims = docs
        .filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
          pmod(col("doc_id"), lit(23)) === 7)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      deleteDocsFromAhashIndex(s, base, victims, nearCopyBlock)
      val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .unionByName(docs
          .filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
            pmod(col("doc_id"), lit(23)) === 7)
          .withColumn("doc_id", col("doc_id") + lit(ImgTwinOffset)))
      appendToAhashIndex(delta, base, 0L)
    }
  }

  /** The persisted aHash index for a data dir — built once per
    * (session, dir), a [[graft.sec.SecDerive.storedLayout]] root. The
    * image-modality sibling of the retrieval index root (kept separate:
    * media stores live apart from the text/vector root, and
    * `compactSearchRoot`'s sibling contract stays closed). */
  def ahashIndexMart(spark: SparkSession, dir: String): String =
    graft.sec.SecDerive.storedLayout(spark, dir, "ahash_index") { base =>
      writeAhashIndexFromFeats(imageFeatMart(spark, dir), base)(spark)
    }

  // ---------------------------------------------------------------------------

  val queries: Seq[Q] = Seq(
    // Container-level metadata over the REAL encoded payloads: the Spark
    // side measures the bytes encodeMedia actually produced (BMP with
    // padded scanlines, RIFF/WAVE with the planted junk chunk, the GVF1
    // frame container) while the oracle replays each format's closed-form
    // size from the geometry formulas — an independent adjudication of
    // the encoders' framing (header sizes, stride padding, chunk layout)
    // without DuckDB ever seeing a codec. The resize/frame-sample plans
    // stay pure column arithmetic: decode plans are metadata, computable
    // and filterable without touching payload bytes.
    Q("q30_multimodal_meta",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val sizes = encodeMedia(Tables.documents(s, dir)).toDF()
          .select(col("doc_id"),
            length(col("image")).cast("long").as("image_len"),
            length(col("audio")).cast("long").as("audio_len"),
            length(col("video")).cast("long").as("video_len"))
        val nf = col("doc_id") % 6 + 2
        val w = (col("n_chars") % 24 + 8).cast("double")
        val h = (col("doc_id") % 18 + 6).cast("double")
        val meta = Tables.documents(s, dir).select(
          col("doc_id"),
          w.cast("int").as("width"),
          h.cast("int").as("height"),
          nf.cast("int").as("n_frames"),
          // resize plan: fit into a 224-box preserving aspect ratio
          floor(w * lit(224.0) / greatest(w, h)).cast("int").as("resized_w"),
          floor(h * lit(224.0) / greatest(w, h)).cast("int").as("resized_h"),
          // frame-sample schedule: every 2nd frame (q134's step). CSV-
          // joined: the driver's pandas comparator cannot hash array cells
          array_join(sequence(lit(0L), nf.cast("long") - 1, lit(2L))
            .cast("array<string>"), ",").as("frame_sample"))
        sizes.join(meta, "doc_id").orderBy("doc_id")
      },
      Some("""
WITH g AS (SELECT doc_id,
    CAST(n_chars % 24 + 8 AS INTEGER) AS w,
    CAST(doc_id % 18 + 6 AS INTEGER) AS h,
    CAST(doc_id % 6 + 2 AS INTEGER) AS nf,
    CAST(n_chars % 256 + 64 AS BIGINT) AS n
  FROM documents)
SELECT doc_id,
  CAST(54 + h * ((3*w + 3) // 4 * 4) AS BIGINT) AS image_len,
  CAST(58 + 2*n AS BIGINT) AS audio_len,
  CAST(16 + nf * w * h * 3 AS BIGINT) AS video_len,
  w AS width, h AS height, nf AS n_frames,
  CAST(floor(w * 224.0 / greatest(w, h)) AS INTEGER) AS resized_w,
  CAST(floor(h * 224.0 / greatest(w, h)) AS INTEGER) AS resized_h,
  array_to_string([i for i in range(0, nf, 2)], ',') AS frame_sample
FROM g ORDER BY doc_id""")),

    // Real image decode: encode each doc as a genuine 24-bit BMP (padded
    // bottom-up scanlines), parse it back, and extract geometry + channel
    // sums + the 4×16-bit aHash bands FROM THE DECODED BYTES. The oracle
    // replays the generator formula directly — it never sees the codec —
    // so any header/stride/flip bug on either side fails the hash match.
    Q("q132_image_decode",
      (s, dir) => imageFeatMart(s, dir).orderBy("doc_id"),
      Some(s"""
WITH $imageBandsCtes
SELECT s.doc_id, s.w, s.h, s.n_px, s.sum_b, s.sum_g, s.sum_r,
  b.ahash_b0, b.ahash_b1, b.ahash_b2, b.ahash_b3
FROM sums s JOIN bands b USING (doc_id) ORDER BY doc_id""")),

    // Real audio decode: RIFF/WAVE PCM16 with a junk chunk planted between
    // fmt and data (the decoder must WALK chunks, not assume offsets);
    // features — energy, strict-sign zero crossings, peak — from the
    // decoded int16 samples. All-integer, exact in both engines.
    Q("q133_audio_decode",
      (s, dir) => audioFeatMart(s, dir).orderBy("doc_id"),
      Some("""
WITH g AS (SELECT doc_id, CAST(n_chars % 256 + 64 AS BIGINT) AS n FROM documents),
s AS (SELECT doc_id, n, t.i AS i, ((doc_id*31 + t.i*17) % 2048) - 1024 AS v
      FROM g, LATERAL (SELECT unnest(range(0, g.n)) AS i) t),
l AS (SELECT doc_id, n, i, v,
        lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
SELECT doc_id, 16000 AS sample_rate, any_value(n) AS n_samples,
  CAST(sum(v*v) AS BIGINT) AS sumsq,
  CAST(sum(CASE WHEN pv IS NOT NULL AND v * pv < 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS zero_cross,
  CAST(max(abs(v)) AS BIGINT) AS peak
FROM l GROUP BY doc_id ORDER BY doc_id""")),

    // Video frame sampling AGAINST the container: parse the GVF1 header,
    // slice every 2nd frame by offset, per-frame total luminance as the
    // temporal signature (CSV-joined for the comparator, like q30's
    // frame_sample). Frame f's pixels shift the generator by 91f, which
    // the oracle replays.
    Q("q134_video_signature",
      (s, dir) => {
        implicit val sp: SparkSession = s
        videoSignatures(Tables.documents(s, dir), step = 2).orderBy("doc_id")
      },
      Some("""
WITH g AS (SELECT doc_id, CAST(n_chars % 24 + 8 AS INTEGER) AS w,
                  CAST(doc_id % 18 + 6 AS INTEGER) AS h,
                  CAST(doc_id % 6 + 2 AS INTEGER) AS nf FROM documents),
fr AS (SELECT doc_id, w, h, nf, t.f AS f
       FROM g, LATERAL (SELECT unnest(range(0, g.nf, 2)) AS f) t),
fs AS (SELECT doc_id, nf, f,
         CAST(sum((doc_id*7 + f*91 + t.x*5 + u.y*3 + cc.c*11
                   + t.x*u.y*((doc_id % 13) + 1)) % 256) AS BIGINT)
           AS lumsum
       FROM fr,
        LATERAL (SELECT unnest(range(0, fr.w)) AS x) t,
        LATERAL (SELECT unnest(range(0, fr.h)) AS y) u,
        LATERAL (SELECT unnest(range(0, 3)) AS c) cc
       GROUP BY doc_id, nf, f)
SELECT doc_id, any_value(nf) AS n_frames, CAST(count(*) AS INTEGER) AS n_sampled,
  string_agg(lumsum::VARCHAR, ',' ORDER BY f) AS sig
FROM fs GROUP BY doc_id ORDER BY doc_id""")),

    // Image near-dup via BANDED aHash: candidates share a 16-bit band
    // (equi-join, never all-pairs — the LSH banding plan), verified by
    // full 64-bit Hamming distance. The oracle spells the same candidate
    // set as a banded OR-join over the formula-derived hashes.
    Q("q135_image_neardup",
      (s, dir) => imagePairsMart(s, dir).orderBy("doc_a", "doc_b"),
      Some(imageNearDupOracle)),

    // The same near-dup pairs FROM the persisted index at rest: the stored
    // band rows ARE the banding melt, candidates group on the layout,
    // denormalized hashes verify with no documents scan. Shares q135's
    // oracle — the index tier must be result-identical to the inline tier
    // (the q122/q123 pattern applied to the image modality).
    Q("q137_image_neardup_indexed",
      (s, dir) => ahashPairsFromIndex(s, ahashIndexMart(s, dir),
        maxHamming = 8).orderBy("doc_a", "doc_b"),
      Some(imageNearDupOracle)),

    // CROSS-MODAL near-dup (caption-farm detection): text near-dup pairs
    // whose images disagree — the q21 banded text chain joined against
    // the decoded fingerprints with a direct Hamming verify. The oracle
    // replays BOTH chains formula-side (the q138 recipe): the full
    // minhash/LSH/jaccard CTE stack for the text pairs, and the
    // generator-formula aHash chain NESTED inside its own WITH scope (the
    // outer chain also names a `bands` CTE).
    Q("q187_crossmodal_caption_farm",
      (s, dir) => {
        implicit val sp: SparkSession = s
        captionFarmPairs(Tables.documents(s, dir), imageFeatMart(s, dir))
          .orderBy("doc_id_a", "doc_id_b")
      },
      Some(s"""
WITH ${graft.llm.LlmQueries.minhashCtesShared},
ib AS (WITH $imageBandsCtes
       SELECT doc_id, ahash_b0, ahash_b1, ahash_b2, ahash_b3 FROM bands),
tp AS (SELECT doc_id_a, doc_id_b, jaccard FROM j WHERE jaccard >= 0.8),
xm AS (SELECT tp.doc_id_a, tp.doc_id_b, tp.jaccard,
         CAST(bit_count(xor(a.ahash_b0, b.ahash_b0))
            + bit_count(xor(a.ahash_b1, b.ahash_b1))
            + bit_count(xor(a.ahash_b2, b.ahash_b2))
            + bit_count(xor(a.ahash_b3, b.ahash_b3)) AS BIGINT)
           AS img_hamming
       FROM tp JOIN ib a ON a.doc_id = tp.doc_id_a
               JOIN ib b ON b.doc_id = tp.doc_id_b)
SELECT doc_id_a, doc_id_b, jaccard, img_hamming FROM xm
WHERE img_hamming > 8 ORDER BY doc_id_a, doc_id_b""")),

    // Stolen-content detection (the caption farm's dual): q135's verified
    // image near-dup pairs restricted to DIFFERENT-source doc pairs — the
    // same image republished across hosts. Oracle: the q135 banded pair
    // chain plus the two dimension joins and the cross-source predicate.
    Q("q188_stolen_images",
      (s, dir) => stolenImagePairs(Tables.documents(s, dir),
          imagePairsMart(s, dir))
        .orderBy("doc_a", "doc_b"),
      Some(s"""
WITH $imageBandsCtes,
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.ahash_b0, b.ahash_b0))
       + bit_count(xor(a.ahash_b1, b.ahash_b1))
       + bit_count(xor(a.ahash_b2, b.ahash_b2))
       + bit_count(xor(a.ahash_b3, b.ahash_b3)) AS BIGINT) AS hamming
  FROM bands a JOIN bands b ON a.doc_id < b.doc_id
   AND (a.ahash_b0 = b.ahash_b0 OR a.ahash_b1 = b.ahash_b1
     OR a.ahash_b2 = b.ahash_b2 OR a.ahash_b3 = b.ahash_b3))
SELECT p.doc_a, p.doc_b, p.hamming,
  da.source AS source_a, db.source AS source_b
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
WHERE p.hamming <= 8 AND da.source <> db.source
ORDER BY doc_a, doc_b""")),

    // Media curation gate: exposure / structure / clipping / energy flags
    // over decoded features, all integer-exact. The oracle replays both
    // modality chains (formula-side) and the same flag predicates.
    Q("q138_media_quality",
      (s, dir) => mediaGateMart(s, dir).orderBy("doc_id"),
      Some(s"""
WITH $imageBandsCtes,
ag AS (SELECT doc_id, CAST(n_chars % 256 + 64 AS BIGINT) AS n FROM documents),
asamp AS (SELECT doc_id, n, ((doc_id*31 + t.i*17) % 2048) - 1024 AS v
          FROM ag, LATERAL (SELECT unnest(range(0, ag.n)) AS i) t),
aagg AS (SELECT doc_id, any_value(n) AS n_samples,
           CAST(sum(v*v) AS BIGINT) AS sumsq,
           CAST(max(abs(v)) AS BIGINT) AS peak
         FROM asamp GROUP BY doc_id),
nb AS (SELECT doc_id,
         CAST(bit_count(ahash_b0) + bit_count(ahash_b1)
            + bit_count(ahash_b2) + bit_count(ahash_b3) AS BIGINT) AS nbits
       FROM bands),
f AS (SELECT s.doc_id,
        (s.sum_b + s.sum_g + s.sum_r) < s.n_px * 3 * 96 AS too_dark,
        (s.sum_b + s.sum_g + s.sum_r) > s.n_px * 3 * 160 AS too_bright,
        (nb.nbits <= 24 OR nb.nbits >= 42) AS low_structure,
        a.sumsq < a.n_samples * 150000 AS quiet,
        a.peak >= 1024 AS clipped
      FROM sums s JOIN nb USING (doc_id) JOIN aagg a ON a.doc_id = s.doc_id)
SELECT doc_id, too_dark, too_bright, low_structure, quiet, clipped,
  NOT (too_dark OR too_bright OR low_structure OR quiet OR clipped) AS keep
FROM f ORDER BY doc_id""")),

    // Image dedup clusters: connected components over the banded-aHash
    // pair graph (q135's edges through the q48 min-label CC operator) —
    // the cluster key an image dedup/survivorship pass needs, with the
    // same transitive-closure oracle discipline as the text clusters.
    Q("q140_image_dedup_clusters",
      // pointer-jumping variant (built once in the label mart): the aHash
      // pair graph chains through gradually-drifting hashes (A~B~C
      // without A~C), so component diameter grows with corpus size —
      // min-label alone needs diameter rounds and fails loudly at 10x
      // corpora; the O(log d) jump converges (property-tested identical).
      (s, dir) => imageLabelMart(s, dir).orderBy("doc_id"),
      Some(s"""
WITH RECURSIVE $imageBandsCtes,
p0 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.doc_id < b.doc_id
   AND (a.ahash_b0 = b.ahash_b0 OR a.ahash_b1 = b.ahash_b1
     OR a.ahash_b2 = b.ahash_b2 OR a.ahash_b3 = b.ahash_b3)
  WHERE bit_count(xor(a.ahash_b0, b.ahash_b0))
      + bit_count(xor(a.ahash_b1, b.ahash_b1))
      + bit_count(xor(a.ahash_b2, b.ahash_b2))
      + bit_count(xor(a.ahash_b3, b.ahash_b3)) <= 8),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM p0
          UNION SELECT doc_b, doc_a FROM p0),
reach AS (SELECT src, dst FROM edges
          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
labels AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
           FROM reach GROUP BY src)
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
FROM labels ORDER BY doc_id""")),

    // Recall audit for the banded aHash tier (q121's discipline on the
    // image modality): brute all-pairs Hamming vs banded candidates per
    // distance. Banding guarantees recall 1 through Hamming 3 (pigeonhole
    // over 4 bands); the 4..8 range is measured. The oracle computes both
    // tiers from one all-pairs pass over the formula-derived hashes.
    Q("q141_image_neardup_recall",
      (s, dir) => {
        implicit val sp: SparkSession = s
        // The brute tier is quadratic BY DESIGN (it is the audit), so its
        // input is a deterministic hash-free sample whose modulus grows
        // with the corpus (full corpus ≤ 2k docs — every verify scale;
        // ~2k-doc sample beyond, so bench scales never pay all-pairs over
        // the whole corpus). The q57 adaptive-geometry discipline: under
        // the driver's oracle run the modulus must be 1 or we abort
        // loudly instead of hash-mismatching.
        val m = math.max(1L, docCount(s, dir) / 2000L)
        if (sys.props.contains("graft.oracle.active"))
          require(m == 1L,
            s"q141 oracle is generated for the FULL corpus (modulus 1); " +
              s"this corpus resolves audit modulus $m — regenerate")
        // sample filter AFTER the shared decode mart: features are
        // per-doc pure, so filtering the mart equals decoding the sample
        bandedRecallFromFeats(
          imageFeatMart(s, dir)
            .select("doc_id", "ahash_b0", "ahash_b1", "ahash_b2", "ahash_b3")
            .filter(col("doc_id") % m === 0),
          maxHamming = 8, prefix = "ahash_b")
      },
      Some(s"""
WITH $imageBandsCtes,
allp AS (
  SELECT CAST(bit_count(xor(a.ahash_b0, b.ahash_b0))
            + bit_count(xor(a.ahash_b1, b.ahash_b1))
            + bit_count(xor(a.ahash_b2, b.ahash_b2))
            + bit_count(xor(a.ahash_b3, b.ahash_b3)) AS BIGINT) AS ham,
         (a.ahash_b0 = b.ahash_b0 OR a.ahash_b1 = b.ahash_b1
       OR a.ahash_b2 = b.ahash_b2 OR a.ahash_b3 = b.ahash_b3) AS cand
  FROM bands a JOIN bands b ON a.doc_id < b.doc_id),
br AS (SELECT ham AS hamming, CAST(count(*) AS BIGINT) AS n_brute,
         CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_banded
       FROM allp WHERE ham <= 8 GROUP BY ham)
SELECT hamming, n_brute, n_banded,
  CAST(n_banded * 1000000 // n_brute AS BIGINT) AS recall_micro,
  hamming <= 3 AS guaranteed
FROM br ORDER BY hamming""")),

    // Audio near-dup through the SAME banded kernel as q135 — only the
    // fingerprint differs (amplitude-envelope bits over the decoded PCM).
    // The oracle replays fingerprinting from the sample formula and the
    // identical banded OR-join + Hamming verify.
    Q("q142_audio_neardup",
      (s, dir) => bandedPairsFromFeats(audioFpMart(s, dir),
        maxHamming = 4, prefix = "afp_b").orderBy("doc_a", "doc_b"),
      Some("""
WITH ag AS (SELECT doc_id, CAST(n_chars % 256 + 64 AS BIGINT) AS n FROM documents),
cell AS (SELECT doc_id, n, t.j AS j, (t.j * (n - 1)) // 64 AS p
         FROM ag, LATERAL (SELECT unnest(range(0, 64)) AS j) t),
vals AS (SELECT doc_id, j, ((doc_id*31 + p*17) % 2048) - 1024 AS v FROM cell),
bits AS (SELECT doc_id, j,
           CASE WHEN 64*v > sum(v) OVER (PARTITION BY doc_id)
                THEN 1 ELSE 0 END AS bit
         FROM vals),
bands AS (SELECT doc_id,
  CAST(sum(CASE WHEN j // 16 = 0 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b0,
  CAST(sum(CASE WHEN j // 16 = 1 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b1,
  CAST(sum(CASE WHEN j // 16 = 2 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b2,
  CAST(sum(CASE WHEN j // 16 = 3 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b3
  FROM bits GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT)
      AS hamming
  FROM bands a JOIN bands b ON a.doc_id < b.doc_id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 4
ORDER BY doc_a, doc_b""")),

    // Image dedup survivorship BY MEDIA QUALITY (the q129 discipline on
    // the media modality): per aHash near-dup cluster, the gate-passing
    // copy survives (quality first, doc_id as the total-order tie-break);
    // unclustered docs are their own cluster and survive trivially. The
    // oracle stitches the transitive-closure chain to the gate chain.
    Q("q143_image_survivorship",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // cluster labels and gate verdicts come from the session marts —
        // the decode + CC work is shared with q132/q135/q138/q140
        val labels = imageLabelMart(s, dir)
          .select(col("doc_id"), col("cluster_id"))
        val gate = mediaGateMart(s, dir).select(col("doc_id"), col("keep"))
        val keyed = docs.select("doc_id")
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_key"))
          .join(gate, "doc_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_key")
          .orderBy(col("keep").desc, col("doc_id").asc)
        keyed.withColumn("rn", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("cluster_key"),
            (col("rn") === 1).as("survivor"), col("keep"))
          .orderBy("doc_id")
      },
      Some(s"""
WITH RECURSIVE $imageBandsCtes,
p0 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.doc_id < b.doc_id
   AND (a.ahash_b0 = b.ahash_b0 OR a.ahash_b1 = b.ahash_b1
     OR a.ahash_b2 = b.ahash_b2 OR a.ahash_b3 = b.ahash_b3)
  WHERE bit_count(xor(a.ahash_b0, b.ahash_b0))
      + bit_count(xor(a.ahash_b1, b.ahash_b1))
      + bit_count(xor(a.ahash_b2, b.ahash_b2))
      + bit_count(xor(a.ahash_b3, b.ahash_b3)) <= 8),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM p0
          UNION SELECT doc_b, doc_a FROM p0),
reach AS (SELECT src, dst FROM edges
          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
labels AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
           FROM reach GROUP BY src),
ag AS (SELECT doc_id, CAST(n_chars % 256 + 64 AS BIGINT) AS n FROM documents),
asamp AS (SELECT doc_id, n, ((doc_id*31 + t.i*17) % 2048) - 1024 AS v
          FROM ag, LATERAL (SELECT unnest(range(0, ag.n)) AS i) t),
aagg AS (SELECT doc_id, any_value(n) AS n_samples,
           CAST(sum(v*v) AS BIGINT) AS sumsq,
           CAST(max(abs(v)) AS BIGINT) AS peak
         FROM asamp GROUP BY doc_id),
nb AS (SELECT doc_id,
         CAST(bit_count(ahash_b0) + bit_count(ahash_b1)
            + bit_count(ahash_b2) + bit_count(ahash_b3) AS BIGINT) AS nbits
       FROM bands),
gate AS (SELECT s.doc_id,
           NOT ((s.sum_b + s.sum_g + s.sum_r) < s.n_px * 3 * 96
             OR (s.sum_b + s.sum_g + s.sum_r) > s.n_px * 3 * 160
             OR nb.nbits <= 24 OR nb.nbits >= 42
             OR a.sumsq < a.n_samples * 150000
             OR a.peak >= 1024) AS keep
         FROM sums s JOIN nb USING (doc_id) JOIN aagg a ON a.doc_id = s.doc_id),
keyed AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_key,
            g.keep
          FROM documents d
          LEFT JOIN labels l ON l.doc_id = d.doc_id
          JOIN gate g ON g.doc_id = d.doc_id),
r AS (SELECT doc_id, cluster_key, keep,
        row_number() OVER (PARTITION BY cluster_key
          ORDER BY keep DESC, doc_id ASC) AS rn
      FROM keyed)
SELECT doc_id, cluster_key, rn = 1 AS survivor, keep
FROM r ORDER BY doc_id""")),

    // The audio tier's recall audit (q141's twin over PCM fingerprints):
    // same pigeonhole guarantee through Hamming 3, measured beyond —
    // notable on THIS corpus because the clustered sawtooth fingerprints
    // stress the banding differently than the near-distinct image hashes.
    // Same adaptive audit-sample modulus as q141.
    Q("q144_audio_neardup_recall",
      (s, dir) => {
        implicit val sp: SparkSession = s
        val m = math.max(1L, docCount(s, dir) / 2000L)
        if (sys.props.contains("graft.oracle.active"))
          require(m == 1L,
            s"q144 oracle is generated for the FULL corpus (modulus 1); " +
              s"this corpus resolves audit modulus $m — regenerate")
        bandedRecallFromFeats(
          audioFpMart(s, dir).filter(col("doc_id") % m === 0),
          maxHamming = 4, prefix = "afp_b")
      },
      Some("""
WITH ag AS (SELECT doc_id, CAST(n_chars % 256 + 64 AS BIGINT) AS n FROM documents),
cell AS (SELECT doc_id, n, t.j AS j, (t.j * (n - 1)) // 64 AS p
         FROM ag, LATERAL (SELECT unnest(range(0, 64)) AS j) t),
vals AS (SELECT doc_id, j, ((doc_id*31 + p*17) % 2048) - 1024 AS v FROM cell),
bits AS (SELECT doc_id, j,
           CASE WHEN 64*v > sum(v) OVER (PARTITION BY doc_id)
                THEN 1 ELSE 0 END AS bit
         FROM vals),
bands AS (SELECT doc_id,
  CAST(sum(CASE WHEN j // 16 = 0 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b0,
  CAST(sum(CASE WHEN j // 16 = 1 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b1,
  CAST(sum(CASE WHEN j // 16 = 2 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b2,
  CAST(sum(CASE WHEN j // 16 = 3 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b3
  FROM bits GROUP BY doc_id),
allp AS (
  SELECT CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
          AS BIGINT) AS ham,
         (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3) AS cand
  FROM bands a JOIN bands b ON a.doc_id < b.doc_id),
br AS (SELECT ham AS hamming, CAST(count(*) AS BIGINT) AS n_brute,
         CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_banded
       FROM allp WHERE ham <= 4 GROUP BY ham)
SELECT hamming, n_brute, n_banded,
  CAST(n_banded * 1000000 // n_brute AS BIGINT) AS recall_micro,
  hamming <= 3 AS guaranteed
FROM br ORDER BY hamming""")),

    // Audio dedup clusters (q140's twin over PCM envelope fingerprints),
    // built through the degenerate-safe direct path: the dup-heavy
    // sawtooth corpus goes fingerprint-group -> rep-graph CC -> member
    // join without ever spelling out within-group pairs. The oracle is
    // the same transitive-closure recursion as q140 over the audio band
    // CTEs at the audio tier's maxHamming=4.
    Q("q148_audio_dedup_clusters",
      (s, dir) => audioLabelMart(s, dir).orderBy("doc_id"),
      Some("""
WITH RECURSIVE
ag AS (SELECT doc_id, CAST(n_chars % 256 + 64 AS BIGINT) AS n FROM documents),
cell AS (SELECT doc_id, n, t.j AS j, (t.j * (n - 1)) // 64 AS p
         FROM ag, LATERAL (SELECT unnest(range(0, 64)) AS j) t),
vals AS (SELECT doc_id, j, ((doc_id*31 + p*17) % 2048) - 1024 AS v FROM cell),
bits AS (SELECT doc_id, j,
           CASE WHEN 64*v > sum(v) OVER (PARTITION BY doc_id)
                THEN 1 ELSE 0 END AS bit
         FROM vals),
bands AS (SELECT doc_id,
  CAST(sum(CASE WHEN j // 16 = 0 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b0,
  CAST(sum(CASE WHEN j // 16 = 1 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b1,
  CAST(sum(CASE WHEN j // 16 = 2 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b2,
  CAST(sum(CASE WHEN j // 16 = 3 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS b3
  FROM bits GROUP BY doc_id),
p0 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.doc_id < b.doc_id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
  WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 4),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM p0
          UNION SELECT doc_b, doc_a FROM p0),
reach AS (SELECT src, dst FROM edges
          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
labels AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
           FROM reach GROUP BY src)
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
FROM labels ORDER BY doc_id""")),

    // The MEDIA takedown registry closing the modality gap q193 closed
    // for text: deleteDocsFromAhashIndex persists the victims' one-way
    // fingerprints in the reserved registry lane, and the ingest door
    // (appendToAhashIndex / the aHash ingest stream) REFUSES a re-crawled
    // copy of a taken-down image — even under fresh caption text and a
    // fresh doc_id. The chain: build the index over the 90% corpus, take
    // down the doc_id%23==7 victim class, ingest a delta = the held-out
    // 10% plus an exact re-crawl of every victim (the +ImgTwinOffset
    // image twin — the offset is ≡0 mod 256/13/18, so the rendered image
    // is byte-identical: a re-crawl, not a re-key); read the committed
    // ingest audit. Oracle: blocked = delta docs whose formula-derived
    // fingerprint equals a victim's — registry semantics spelled as
    // four-band equality.
    Q("q198_media_takedown_registry",
      (s, dir) => ahashAdmissionLog(s, ahashRegistryMart(s, dir))
        .orderBy("batch", "source"),
      Some(s"""
WITH $imageBandsCtes,
vict AS (SELECT * FROM bands WHERE doc_id % 10 <> 0 AND doc_id % 23 = 7),
delta AS (SELECT doc_id AS src_id, doc_id, source FROM documents
          WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id AS src_id, doc_id + $ImgTwinOffset AS doc_id, source
          FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 23 = 7),
fl AS (SELECT d.doc_id, d.source,
         EXISTS (SELECT 1 FROM vict v
                 WHERE v.ahash_b0 = b.ahash_b0 AND v.ahash_b1 = b.ahash_b1
                   AND v.ahash_b2 = b.ahash_b2 AND v.ahash_b3 = b.ahash_b3)
           AS blocked
       FROM delta d JOIN bands b ON b.doc_id = d.src_id)
SELECT CAST(0 AS BIGINT) AS batch, source,
  CAST(sum(CASE WHEN NOT blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_ingested,
  CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
FROM fl GROUP BY source ORDER BY source""")),

    // The media quarantine escalation (q197's law, image modality): the
    // takedown runs with nearCopyBlock=true, so the ingest door refuses
    // NEAR copies — any delta image within Hamming 3 of a registered
    // victim's fingerprint, found through the same 4×16 banding as the
    // index probe (recall 1 at Hamming <= 3 by pigeonhole). Oracle:
    // blocked = min four-band Hamming to a victim <= 3 (exact matches
    // are Hamming 0, subsumed).
    Q("q199_media_takedown_nearblock",
      (s, dir) => ahashAdmissionLog(s,
          ahashRegistryMart(s, dir, nearCopyBlock = true))
        .orderBy("batch", "source"),
      Some(s"""
WITH $imageBandsCtes,
vict AS (SELECT * FROM bands WHERE doc_id % 10 <> 0 AND doc_id % 23 = 7),
delta AS (SELECT doc_id AS src_id, doc_id, source FROM documents
          WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id AS src_id, doc_id + $ImgTwinOffset AS doc_id, source
          FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 23 = 7),
fl AS (SELECT d.doc_id, d.source,
         EXISTS (SELECT 1 FROM vict v
                 WHERE bit_count(xor(v.ahash_b0, b.ahash_b0))
                     + bit_count(xor(v.ahash_b1, b.ahash_b1))
                     + bit_count(xor(v.ahash_b2, b.ahash_b2))
                     + bit_count(xor(v.ahash_b3, b.ahash_b3)) <= 3)
           AS blocked
       FROM delta d JOIN bands b ON b.doc_id = d.src_id)
SELECT CAST(0 AS BIGINT) AS batch, source,
  CAST(sum(CASE WHEN NOT blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_ingested,
  CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
FROM fl GROUP BY source ORDER BY source""")))

  /** The q135/q137 oracle: banded candidate OR-join over formula-derived
    * hashes + full Hamming verify — shared by the inline and index tiers,
    * which must be result-identical. */
  private def imageNearDupOracle: String = s"""
WITH $imageBandsCtes,
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.ahash_b0, b.ahash_b0))
       + bit_count(xor(a.ahash_b1, b.ahash_b1))
       + bit_count(xor(a.ahash_b2, b.ahash_b2))
       + bit_count(xor(a.ahash_b3, b.ahash_b3)) AS BIGINT) AS hamming
  FROM bands a JOIN bands b ON a.doc_id < b.doc_id
   AND (a.ahash_b0 = b.ahash_b0 OR a.ahash_b1 = b.ahash_b1
     OR a.ahash_b2 = b.ahash_b2 OR a.ahash_b3 = b.ahash_b3))
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 8
ORDER BY doc_a, doc_b"""

  /** Shared oracle fragment: the generator-formula pixel grid, channel
    * sums, and aHash bands — the independent replay of
    * [[imageFeaturesFromBytes]] without the codec. */
  private def imageBandsCtes: String = """
g AS (SELECT doc_id, CAST(n_chars % 24 + 8 AS INTEGER) AS w,
             CAST(doc_id % 18 + 6 AS INTEGER) AS h FROM documents),
ch AS (SELECT doc_id, w, h,
         (doc_id*7 + t.x*5 + u.y*3 + t.x*u.y*((doc_id % 13) + 1)) % 256 AS b,
         (doc_id*7 + t.x*5 + u.y*3 + 11 + t.x*u.y*((doc_id % 13) + 1)) % 256 AS gg,
         (doc_id*7 + t.x*5 + u.y*3 + 22 + t.x*u.y*((doc_id % 13) + 1)) % 256 AS r
       FROM g,
        LATERAL (SELECT unnest(range(0, g.w)) AS x) t,
        LATERAL (SELECT unnest(range(0, g.h)) AS y) u),
sums AS (SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(sum(gg) AS BIGINT) AS sum_g,
           CAST(sum(r) AS BIGINT) AS sum_r
         FROM ch GROUP BY doc_id),
cell AS (SELECT doc_id, t.j AS j,
           ((t.j % 8) * w) // 8 AS sx, ((t.j // 8) * h) // 8 AS sy
         FROM g, LATERAL (SELECT unnest(range(0, 64)) AS j) t),
lums AS (SELECT doc_id, j,
           ((doc_id*7 + sx*5 + sy*3 + sx*sy*((doc_id % 13) + 1)) % 256)
             + ((doc_id*7 + sx*5 + sy*3 + 11 + sx*sy*((doc_id % 13) + 1)) % 256)
             + ((doc_id*7 + sx*5 + sy*3 + 22 + sx*sy*((doc_id % 13) + 1)) % 256)
             AS lum
         FROM cell),
bits AS (SELECT doc_id, j,
           CASE WHEN lum * 64 > sum(lum) OVER (PARTITION BY doc_id)
                THEN 1 ELSE 0 END AS bit
         FROM lums),
bands AS (SELECT doc_id,
            CAST(sum(CASE WHEN j // 16 = 0 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS ahash_b0,
            CAST(sum(CASE WHEN j // 16 = 1 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS ahash_b1,
            CAST(sum(CASE WHEN j // 16 = 2 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS ahash_b2,
            CAST(sum(CASE WHEN j // 16 = 3 THEN bit * (1 << (j % 16)) ELSE 0 END) AS BIGINT) AS ahash_b3
          FROM bits GROUP BY doc_id)"""
}
