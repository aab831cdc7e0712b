package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.sec.{SecDerive, SecSql, SecTags}

/** The ingest layer: JSON shredding / nested flatten (S3/X11) and the
  * ticker-map seed (S1/X3) — the reference's hand-written Python loops
  * (/root/reference/scripts/ingest_facts.py:39-88,
  * /root/reference/scripts/seed_companies.py:8-22) re-expressed as
  * explode-chains and from_json over columns.
  *
  * The companyfacts document shape facts→taxonomy→tag→units→USD[items] is
  * reconstructed from the flat facts table (collect_list/struct), then
  * flattened back with explode ×2 + getField — an oracle-checkable round
  * trip: flatten(nest(facts)) == facts.
  */
object Ingest {

  /** Fields carried through the nested items array (ingest_facts.py:72-86). */
  private val itemFields =
    Seq("fact_id", "period_start", "period_end", "value",
      "filing_accession_no", "form", "filed", "frame")

  /** The shared nesting kernel: the CORE_TAGS ∩ USD ∩ non-null filter
    * (F1/F2/F3 — the clause [[flattenOracle]] mirrors, ONE copy so q16 and
    * q94 cannot drift from it or each other) followed by the two-level
    * tag-units[] → items[] collect_list nesting, parameterized by the
    * document key. */
  private def nestBy(facts: DataFrame,
      docKeys: Seq[org.apache.spark.sql.Column]): DataFrame =
    facts.filter(
        col("taxonomy") === "us-gaap" &&
          col("tag").isin(SecTags.coreTags: _*) &&
          col("unit") === "USD" && col("value").isNotNull)
      .groupBy(docKeys ++ Seq(col("taxonomy"), col("tag"), col("unit")): _*)
      .agg(collect_list(struct(itemFields.map(col): _*)).as("items"))
      .groupBy(docKeys: _*)
      .agg(collect_list(struct(col("taxonomy"), col("tag"), col("unit"),
        col("items"))).as("tag_units"))

  /** Nest flat facts into the companyfacts document shape: one row per cik,
    * with tag-units[] -> items[] nesting — the reference-faithful shape
    * (one document per company, ingest_facts.py). */
  def nestCompanyFacts(facts: DataFrame): DataFrame =
    nestBy(facts, Seq(col("cik")))

  /** The bounded-document nesting tier (the SCALE.md q16 lever, in code):
    * nest by (cik, year(period_end)) instead of cik alone, so document size
    * is bounded by one year's facts regardless of corpus size and the heavy
    * collect_list stage parallelizes over cik × years, not 37 companies.
    * The sf1 measurement showed why this matters: one-document-per-company
    * over a corpus whose facts grow 10× packs ~4.3M items into 37 rows
    * (~100 MB each, 37-way parallelism). The round-trip identity is
    * unchanged — [[flattenCompanyFacts]] ignores the extra doc key — so
    * q94 shares q16's oracle verbatim. */
  def nestCompanyFactsBounded(facts: DataFrame): DataFrame =
    nestBy(facts.withColumn("doc_year", year(col("period_end"))),
      Seq(col("cik"), col("doc_year")))

  /** Flatten the nested document back to flat fact rows: explode the
    * tag-level array, then the item-level array, then getField each leaf
    * (the Generator-shaped op — SURVEY §2.10). */
  def flattenCompanyFacts(nested: DataFrame): DataFrame =
    nested
      .select(col("cik"), explode(col("tag_units")).as("tu"))
      .select(col("cik"), col("tu.taxonomy").as("taxonomy"),
        col("tu.tag").as("tag"), col("tu.unit").as("unit"),
        explode(col("tu.items")).as("item"))
      .select(
        (Seq(col("item.fact_id").as("fact_id"), col("cik"), col("taxonomy"),
          col("tag"), col("unit")) ++
          itemFields.drop(1).map(f => col(s"item.$f").as(f))): _*)

  /** S1/X3/X1/X2: the ticker-map seed. A JSON document per company (the
    * reference's dict entries) is built with to_json, parsed back with
    * from_json, normalized (upper ticker, zero-padded cik), and filtered to
    * an env-style comma-separated ticker list (split + trim + upper —
    * seed_companies.py:37). */
  def seedCompanies(companies: DataFrame, tickersEnv: String): DataFrame = {
    val wanted = tickersEnv.split(",").toSeq
      .map(_.trim.toUpperCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
    companies
      .select(to_json(struct(col("cik").as("cik_str"), col("ticker"),
        col("name").as("title"))).as("js"))
      .select(from_json(col("js"), org.apache.spark.sql.types.StructType
        .fromDDL("cik_str STRING, ticker STRING, title STRING")).as("d"))
      .select(
        lpad(col("d.cik_str"), 10, "0").as("cik"),
        upper(col("d.ticker")).as("ticker"),
        col("d.title").as("name"))
      .filter(col("ticker").isin(wanted: _*))
  }

  /** The shredded-at-rest landing layout — the production ingest shape the
    * q16/q94 sf1 numbers argue for: incoming nested documents are flattened
    * ONCE at ingest and land as a flat fact-row parquet table; every
    * downstream query reads the landing (a pruned columnar scan) instead of
    * re-running nest+flatten per query. The write uses the bounded-document
    * tier (q94's), so the one-time shred itself parallelizes over
    * cik × years at any corpus size. A [[SecDerive.storedLayout]] root,
    * built once per (session, dir);
    * at 100 TB this is a catalog table an ingest job maintains, and the
    * amortization is the whole point: the flatten cost moves out of the
    * per-query path. */
  def shreddedLandingPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SecDerive.storedLayout(s, dir, "shredded_landing") { base =>
      flattenCompanyFacts(nestCompanyFactsBounded(SecDerive.facts(s, dir)))
        .write.mode("overwrite").parquet(base)
    }

  // ---------------------------------------------------------------------------

  /** flatten(nest(facts)) == the filtered facts slice — shared verbatim by
    * q16 (reference-faithful one-doc-per-company nesting) and q94 (the
    * bounded-document tier): identical oracle IS the identity claim. */
  private val flattenOracle = s"""${SecSql.basePrelude}
        SELECT fact_id, cik, taxonomy, tag, unit, period_start, period_end,
               value, filing_accession_no, form, filed, frame
        FROM facts
        WHERE taxonomy = 'us-gaap'
          AND tag IN (${SecTags.coreTags.map(t => s"'$t'").mkString(", ")})
          AND unit = 'USD' AND value IS NOT NULL
        ORDER BY fact_id"""

  val queries: Seq[Q] = Seq(
    // S3/X11: the nest->flatten round trip equals the filtered facts slice.
    Q("q16_json_flatten",
      (s, dir) => flattenCompanyFacts(nestCompanyFacts(SecDerive.facts(s, dir)))
        .orderBy("fact_id"),
      Some(flattenOracle)),

    // The corpus-scale nesting tier: documents bounded by (cik, year), so
    // the collect_list stage parallelizes over cik × years and row size is
    // bounded at any corpus size (the measured q16 sf1 lever).
    Q("q94_json_flatten_bounded",
      (s, dir) => flattenCompanyFacts(nestCompanyFactsBounded(SecDerive.facts(s, dir)))
        .orderBy("fact_id"),
      Some(flattenOracle)),

    // The amortized tier: the same flattened rows read FROM THE LANDING
    // LAYOUT (shredded once at ingest, memoized build) — shares q16/q94's
    // oracle verbatim, so the gate proves landing == per-query flatten
    // while the per-query cost drops to a columnar scan.
    Q("q109_json_flatten_landing",
      (s, dir) => s.read.parquet(shreddedLandingPath(s, dir))
        .orderBy("fact_id"),
      Some(flattenOracle)),

    // S1/X3: seed from the ticker-map document shape, env-filtered.
    Q("q19_seed_companies",
      (s, dir) => seedCompanies(SecDerive.companies(s, dir),
        "tkr1, tkr3 ,TKR5,tkr12 , tkr28").orderBy("ticker"),
      Some(s"""${SecSql.basePrelude}
        SELECT cik, ticker, name FROM companies
        WHERE ticker IN ('TKR1', 'TKR3', 'TKR5', 'TKR12', 'TKR28')
        ORDER BY ticker""")),

    // S1 through the DataSourceV2 connector (graft.sources.JsonlSource):
    // the ticker map lands as JSONL, the scan prunes to 3 fields and pushes
    // the string-range predicate into the reader (JsonlSourceSpec pins
    // both), and the normalize step stays downstream. Oracle: the same
    // predicate over the companies dim the landing file derives from.
    Q("q68_dsv2_ticker_scan",
      (s, dir) => {
        val landing = graft.sources.JsonlLanding.ensure(s, dir)
        s.read.format("graft-jsonl").load(landing)
          .filter(col("ticker") >= "TKR1" && col("ticker") < "TKR3")
          .select(
            col("cik_str").as("cik"), col("ticker"),
            col("title").as("name"))
          .orderBy("ticker")
      },
      Some(s"""${SecSql.basePrelude}
        SELECT cik, ticker, name FROM companies
        WHERE ticker >= 'TKR1' AND ticker < 'TKR3'
        ORDER BY ticker""")))
}
