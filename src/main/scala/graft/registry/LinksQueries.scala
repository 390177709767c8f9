package graft.registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators._
import graft.sources.Tables
import Shared._

/** §2C link layer: [[Links]] (anchors, host graph, canonical hints)
  * and the host PageRank over it.
  */
object LinksQueries {
  /** The link-layer page fixture: each document as a page at its
    * [[Html.wrapUrl]] address with a [[Links.wrapLinksHtml]] body.
    */
  private def linkPages(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      Html.wrapUrl(col("doc_id"), col("source")).as("url"),
      Links.wrapLinksHtml(col("doc_id"), col("source")).as("html"))

  private def links(docs: DataFrame): DataFrame =
    Links.linkExtract(linkPages(docs), "doc_id", "url", "html")

  /** The followed cross-host links as (src, dst) hosts: the host PageRank's edges. */
  private def hostEdges(docs: DataFrame): DataFrame =
    links(docs).filter(!col("nofollow") && !col("internal"))
      .select(col("page_host").as("src"), col("target_host").as("dst"))

  val all: Seq[Registered] = Seq(
    // anchor extraction + relative-URL resolution (C92): every <a href>
    // on each page resolved against the page's own URL (absolute /
    // root-relative / document-relative / scheme-relative) and
    // canonicalized — the zero-shuffle map pass the frontier, the host
    // graph, and the anchor corpus all feed from
    Registered("link_extract", (s, d) => links(Tables.documents(s, d)),
      Links.linkExtractOracleSql),
    // the host→host link graph (C93): followed links aggregated to
    // sparse host adjacency — the shuffle is hosts-sized, pages never move
    Registered("link_graph", (s, d) => Links.linkGraph(links(Tables.documents(s, d))),
      Links.linkGraphOracleSql),
    // host reputation (C94): directed integer-fixed-point PageRank over
    // the CROSS-host edge set — the crawl-prioritization signal
    Registered("host_rank", (s, d) => Graph.pagerankDirected(hostEdges(Tables.documents(s, d))),
      Links.hostRankOracleSql()),
    // anchor-text corpus (C95): per canonical target, the distinct
    // anchor texts pointing at it — retrieval/labeling signal
    Registered("anchor_corpus", (s, d) => Links.anchorCorpus(links(Tables.documents(s, d))),
      Links.anchorCorpusOracleSql),
    // inbound-anchor enrichment (C98): each doc joined with what OTHER
    // pages' anchors say about its canonical URL — label/relevance
    // signal for training; docs nobody cites get 0/''
    Registered("doc_anchors", (s, d) => {
        val docs = Tables.documents(s, d)
        Links.docAnchors(
          docs.select(col("doc_id"),
            Html.urlNormalize(Html.wrapUrl(col("doc_id"), col("source")))
              .as("page_url")),
          "doc_id", "page_url",
          links(docs))
      },
      Links.docAnchorsOracleSql),
    // rel=canonical hints (C102): the page's self-declared canonical
    // address — duplicate BY DECLARATION, honored alongside C83's
    // syntactic normalization; first hint wins, resolved + normalized
    Registered("canonical_hint", (s, d) => Links.canonicalHint(
        linkPages(Tables.documents(s, d)), "doc_id", "url", "html"),
      Links.canonicalHintOracleSql),
    // host reputation (C101): the table a crawler sets per-host
    // budgets from — link signal (directed host PageRank) × content
    // signal (mean heuristic quality of the host's docs, decimal-exact
    // mean) × policy (domain blocklist), one row per doc host. Ranks
    // use the DANGLING-MASS-corrected PageRank: budget tables consume
    // absolute rank mass, not just ordering, so dangling hosts'
    // retained mass would skew every downstream budget ratio
    Registered("host_reputation", (s, d) => {
        val docs = Tables.documents(s, d)
        val rank = Graph.pagerankDirected(hostEdges(docs), redistributeDangling = true)
        val q = TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score"))
        val perHost = docs
          .select(col("doc_id"), concat(col("source"), lit(".example.com")).as("host"))
          .join(q, Seq("doc_id"))
          .groupBy(col("host"))
          .agg(count(lit(1)).as("n_docs"),
            (sum(col("quality_score").cast("decimal(18,4)")).cast("double") /
              count(lit(1))).as("mean_quality"))
        perHost.join(rank, Seq("host"), "left")
          .select(col("host"), col("n_docs"), col("mean_quality"),
            coalesce(col("rank_fp"), lit(0L)).as("rank_fp"),
            col("host").isin(BlockDomains: _*).as("blocked"))
      },
      {
        val sw = TextFunctions.stopwordsSql
        val score =
          s"""cast((CASE WHEN len(t) >= 5 THEN 4 ELSE 0 END)
             |  + (CASE WHEN cast(len(list_filter(t, x -> x IN $sw)) AS double)
             |            / greatest(len(t), 1) > 0.05 THEN 3 ELSE 0 END)
             |  + (CASE WHEN cast(list_sum(list_transform(t, x -> length(x))) AS double)
             |            / greatest(len(t), 1)
             |            BETWEEN 3.0 AND 10.0 THEN 3 ELSE 0 END) AS double)
             | / cast(10.0 AS double)""".stripMargin
        s"""WITH ${Links.hostRankCtes(redistributeDangling = true)},
           |q AS (SELECT doc_id, $score AS s
           |  FROM (SELECT doc_id, $tok AS t FROM documents)),
           |hd AS (SELECT doc_id, source || '.example.com' AS host FROM documents),
           |ph AS (SELECT host, count(*) AS n_docs,
           |    cast(sum(cast(s AS decimal(18,4))) AS double) / count(*) AS mean_quality
           |  FROM hd JOIN q USING (doc_id) GROUP BY 1)
           |SELECT ph.host, n_docs, mean_quality,
           |  coalesce(r4.rank, 0) AS rank_fp,
           |  ph.host IN (${BlockDomains.map(d => s"'$d'").mkString(", ")}) AS blocked
           |FROM ph LEFT JOIN r4 ON ph.host = r4.host""".stripMargin
      }),
  )
}
