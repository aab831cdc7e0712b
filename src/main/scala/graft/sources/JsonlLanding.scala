package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession

import graft.sec.SecDerive

/** Deterministic JSONL landing file for the ticker map, derived from the
  * `companies` dim — the stand-in for the reference's driver-side fetch of
  * company_tickers.json to a landing directory (SURVEY §3.3: the polite
  * single-host fetch stays on the driver; the CLUSTER's job is the parse,
  * which `graft-jsonl` fans out). Collect is bounded by the dim's size
  * (thousands of tickers at most, by construction of the SEC ticker map).
  *
  * Both landings are [[SecDerive.storedLayout]] roots: written once per
  * (session, sfDir) under the build lock, private to the process, and
  * deleted when the application ends.
  */
object JsonlLanding {

  /** Distributed JSONL landing of the corpus URL frontier — a REAL `url`
    * column at rest (one `{doc_id, url, n_chars}` record per doc), the
    * production shape [[graft.llm.UrlCuration.urlMart]] consumes directly
    * (its inline derivation is the fixture-only fallback). Unlike the
    * ticker landing this is a FACT-scale write, so it stays on the
    * cluster: one `to_json` narrow map into the text sink (no driver
    * collect), then part files renamed to the `.jsonl` source contract
    * (the writer's `_SUCCESS` and checksum files are not `.jsonl`, so the
    * source never reads them). The url content here is the deterministic
    * derivation (the sandbox has no crawl); in production the same layout
    * lands from the fetcher and NOTHING downstream changes. */
  def ensureCorpusUrls(spark: SparkSession, dir: String): String =
    SecDerive.storedLayout(spark, dir, "corpus_urls") { root =>
      import org.apache.spark.sql.functions._
      graft.Tables.documents(spark, dir)
        .select(to_json(struct(
          col("doc_id").cast("string").as("doc_id"),
          graft.llm.UrlCuration.deriveUrl(col("doc_id"), col("source"))
            .as("url"),
          col("n_chars").cast("string").as("n_chars"))).as("value"))
        .write.mode("overwrite").text(root)
      new File(root).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .sortBy(_.getName).zipWithIndex
        .foreach { case (pf, i) =>
          Files.move(pf.toPath, new File(root, f"part-$i%05d.jsonl").toPath)
        }
    }

  /** The ticker-map landing: one `tickers.jsonl` file in the returned
    * directory. */
  def ensure(spark: SparkSession, dir: String): String =
    SecDerive.storedLayout(spark, dir, "tickers") { root =>
      val mapper = new ObjectMapper
      val maxRows = 1000000 // driver-side fetch: a dim, never a fact table
      val fetched = SecDerive.companies(spark, dir)
        .select("cik", "ticker", "name").limit(maxRows + 1).collect()
      require(fetched.length <= maxRows,
        s"JsonlLanding.ensure collects the companies dim to the driver; " +
          s"got >$maxRows rows — not a dimension, refusing to collect")
      val rows = fetched
        .sortBy(_.getString(1)) // by ticker: byte-stable across reruns
      val sb = new StringBuilder
      rows.foreach { r =>
        val node = mapper.createObjectNode()
        node.put("cik_str", r.getString(0))
        node.put("ticker", r.getString(1))
        node.put("title", r.getString(2))
        sb.append(mapper.writeValueAsString(node)).append('\n')
      }
      Files.createDirectories(Paths.get(root))
      Files.write(Paths.get(root, "tickers.jsonl"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
}
