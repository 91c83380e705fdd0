package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Hyperlink extraction and anchor-text aggregation — the web-graph
  * half of a crawl pipeline: `<a href>` edges feed PageRank-style
  * quality signals and frontier discovery, and the DISTINCT ANCHOR
  * TEXTS pointing at a page are a classic relevance/label corpus
  * (anchor text describes the TARGET, not the source).
  *
  * Same engineering contract as [[Html]]: extraction is a pure narrow
  * `regexp_extract_all` projection (one scan, codegen, no UDF) with
  * the pattern inside the Java-regex ∩ RE2 subset so the DuckDB
  * oracle runs the literally same constants. The per-target rollup is
  * ONE hash shuffle on href; the anchor-text set per target is
  * sort-bounded to [[MaxTexts]] BEFORE leaving the aggregate (the
  * [[Curation.invertedIndex]] posting-list rule: a hub page linked by
  * 10^9 crawl pages must not materialize 10^9 anchors in one group).
  */
object Links {

  /** href + anchor body: group 1 = target, group 2 = inner text.
    * Naive single-tag semantics (no nesting), lazy body. */
  private[graft] val AnchorRe =
    "(?is)<a\\s[^>]*href=\"([^\"]*)\"[^>]*>(.*?)</a>"

  /** Cap on distinct anchor texts kept per target. */
  val MaxTexts = 20

  private def squash(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** Decode the common entities + squash — anchor bodies carry the
    * same escapes as any HTML text ([[Html.Entities]] order). */
  private def cleanAnchor(c: Column): Column =
    squash(Html.Entities.foldLeft(c) { case (acc, (e, v)) =>
      replace(acc, lit(e), lit(v))
    })

  /** (doc_id, href, anchor) edge list from any (doc_id, html)
    * DataFrame — one narrow projection + explode, streaming-safe. */
  def extractLinks(rows: DataFrame): DataFrame = {
    val zipped = arrays_zip(
      regexp_extract_all(col("html"), lit(AnchorRe), lit(1)),
      regexp_extract_all(col("html"), lit(AnchorRe), lit(2)))
    rows
      .select(col("doc_id"), explode(zipped).as("l"))
      .select(col("doc_id"), col("l.0").as("href"),
              cleanAnchor(col("l.1")).as("anchor"))
  }

  /** Per-target link rollup: in-link count, distinct linking docs,
    * and the sorted bounded distinct anchor-text set. The text set is
    * bounded BEFORE any per-href collection (distinct edges → ranked
    * cut at [[MaxTexts]] → collect, the [[Curation.invertedIndex]]
    * posting-cap shape): a hub page with 10⁹ distinct anchors sorts
    * and cuts in the window (spillable) instead of materializing the
    * full set in one aggregation buffer. */
  def anchorStats(links: DataFrame): DataFrame = {
    val counts = links
      .groupBy(col("href"))
      .agg(count(lit(1)).as("n_links"),
           countDistinct(col("doc_id")).as("n_docs"))
    val texts = links.select(col("href"), col("anchor")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy("href").orderBy("anchor")))
      .filter(col("rn") <= MaxTexts)
      .groupBy("href")
      .agg(array_join(sort_array(collect_list(col("anchor"))), "|")
             .as("texts"))
    counts.join(texts, "href").orderBy("href")
  }

  // ------------------------------------------------------------------
  // q_anchor_text fixture: the corpus has no HTML, so the query
  // renders a deterministic page per document with three links — a
  // per-doc "next page" link (unique target), a per-source hub link
  // (fan-in = docs per source), and a per-lang external link with an
  // entity-escaped anchor (fan-in = docs per lang).
  // ------------------------------------------------------------------

  private[graft] val L1 = "<html><body><p>see <a href=\"https://example-"
  private[graft] val L2 = ".com/page-" // + doc_id+1
  private[graft] val L3 = "\">next " // + lang
  private[graft] val L4 = "</a></p><a href=\"https://example-" // + source
  private[graft] val L5 = ".com/\">home</a>\n<a href=\"https://partner-"
  private[graft] val L6 = ".org/catalog?x=1\"> partner &amp;\nfriends </a></body></html>"

  private[graft] def renderLinkPage: Column =
    concat(lit(L1), col("source"), lit(L2),
           (col("doc_id") + 1).cast("string"), lit(L3), col("lang"),
           lit(L4), col("source"), lit(L5), col("lang"), lit(L6))

  /** q_anchor_text: render + extract + rollup over documents. */
  def qAnchorText(spark: SparkSession, dir: String): DataFrame =
    anchorStats(extractLinks(
      Tables.documents(spark, dir)
        .select(col("doc_id"), renderLinkPage.as("html"))))

  /** Content-keyed WAT fixture: the SAME link pages as [[qAnchorText]]
    * extracted and written as gzipped `metadata` records
    * ([[graft.sources.Warc.writeWat]]), 8 files. */
  private val watFixture =
    IndexCache.artifact[String]("documents", "graft-wat") { (s, d, p) =>
      val pages = Tables.documents(s, d)
        .select(col("doc_id"), renderLinkPage.as("html"),
                concat(lit("https://x.example/"), col("doc_id")).as("url"))
      graft.sources.Warc.writeWat(pages, extractLinks(pages), p, 8, gzip = true)
      p
    }

  /** q_wat_links (r15): the identical anchor rollup fed THROUGH a WAT
    * round trip — the same link pages are extracted, rolled up to
    * JSON outlink payloads in gzipped `metadata` records
    * ([[graft.sources.Warc.writeWat]]), parsed back
    * ([[graft.sources.Warc.readWat]]), and re-exploded into the
    * [[anchorStats]] rollup — so the WAT encode→member-frame→parse→
    * JSON round trip shares q_anchor_text's oracle verbatim: a lost
    * link, a JSON escaping bug, or a member-framing bug surfaces as
    * a rollup diff. */
  def qWatLinks(spark: SparkSession, dir: String): DataFrame = {
    val back = graft.sources.Warc.readWat(spark, watFixture.get(spark, dir))
    anchorStats(back
      .select(col("doc_id"), explode(col("outlinks")).as("l"))
      .select(col("doc_id"), col("l.href").as("href"),
              col("l.anchor").as("anchor")))
  }

  // DuckDB oracle from the SAME constants (lockstep unnest of the two
  // capture-group extractions is DuckDB's multi-unnest zip).
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The rendered link page as DuckDB SQL — the ONE fixture
    * expression shared by every oracle that embeds it (q_anchor_text,
    * q_page_rank, q_link_degree), so the three cannot drift. */
  private[graft] val pageFixtureSql: String =
    s"${sqlLit(L1)} || source || ${sqlLit(L2)} || (doc_id + 1)::VARCHAR || " +
      s"${sqlLit(L3)} || lang || ${sqlLit(L4)} || source || ${sqlLit(L5)} || " +
      s"lang || ${sqlLit(L6)}"

  private[graft] def oracleSql: String = {
    val fixture = pageFixtureSql
    val decoded = Html.Entities.foldLeft("anchor0") { case (acc, (e, v)) =>
      s"replace($acc, ${sqlLit(e)}, ${sqlLit(v)})"
    }
    s"""WITH h AS (SELECT doc_id, $fixture AS html FROM documents),
       |x AS (SELECT doc_id,
       |        unnest(regexp_extract_all(html, ${sqlLit(AnchorRe)}, 1)) AS href,
       |        unnest(regexp_extract_all(html, ${sqlLit(AnchorRe)}, 2)) AS anchor0
       |      FROM h),
       |c AS (SELECT doc_id, href,
       |        trim(regexp_replace($decoded, '\\s+', ' ', 'g')) AS anchor
       |      FROM x)
       |SELECT href, count(*)::BIGINT AS n_links,
       |  count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  array_to_string(list_sort(list_distinct(list(anchor)))[1:$MaxTexts], '|') AS texts
       |FROM c GROUP BY href ORDER BY href""".stripMargin
  }
}
