package graft.registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables
import Shared._

/** §2C crawl front end: [[Html]] (extraction, robots, sitemaps,
  * politeness, URL canonicalization).
  */
object HtmlQueries {
  // fixed recrawl reference date — sits between the fixture's lastmod
  // grid (2026-01..09-15) so monthly/weekly/daily classes all split
  private val RecrawlAsOf = "2026-03-01"

  /** politeness_schedule_quota's maxPerHost — ONE constant feeds both
    * the Spark-side registration and the derived oracle's slot filter.
    */
  private val PolitenessQuota = 7

  /** Derive politeness_schedule_quota's oracle from the unbounded
    * schedule's SQL. The textual append is valid ONLY while the base
    * ends in its bare `FROM w` (no ORDER BY / trailing comment /
    * semicolon) — enforced here so the derived twin can never go
    * silently wrong.
    */
  private[graft] def deriveQuotaOracle(base: String): String = {
    require(base.trim.endsWith("FROM w"),
      "politeness_schedule's oracle SQL must end in the bare `FROM w` — " +
        "politeness_schedule_quota's oracle is derived by appending a " +
        "WHERE clause to it (found tail: …" + base.trim.takeRight(24) + ")")
    base + s"\nWHERE slot < $PolitenessQuota"
  }

  /** Each source host's robots.txt, from the [[Html.wrapRobotsTxt]] fixture. */
  private def robotsTxt(docs: DataFrame): DataFrame =
    docs.select(col("source")).distinct()
      .select(concat(col("source"), lit(".example.com")).as("host"),
        Html.wrapRobotsTxt(col("source")).as("content"))

  /** Each host's sitemap index over its documents' child sitemaps
    * ([[Html.wrapSitemap]]), resolved to the children's url entries.
    */
  private def sitemapIndex(docs: DataFrame): DataFrame = {
    val childLoc = concat(lit("https://"), col("source"),
      lit(".example.com/sitemaps/doc"), col("doc_id"), lit(".xml"))
    val children = docs.select(childLoc.as("sm_loc"),
      Html.wrapSitemap(col("doc_id"), col("source")).as("sm_xml"))
    val entryXml = concat(lit("<sitemap><loc>"), childLoc,
      lit("</loc><lastmod>2026-0"), (col("doc_id") % 9 + 1).cast("string"),
      lit("-01</lastmod></sitemap>"))
    val index = docs.select(col("source"), col("doc_id"), entryXml.as("__e"))
      .groupBy(col("source"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id"), col("__e")))),
        e => e.getField("__e")), "").as("entries"))
      .select(concat(col("source"), lit(".example.com")).as("host"),
        concat(lit("<?xml version=\"1.0\"?><sitemapindex>"), col("entries"),
          lit("</sitemapindex>")).as("xml"))
    Html.sitemapIndexResolve(index, "host", "xml", children, "sm_loc", "sm_xml")
  }

  /** Every `<url>` entry of each document's [[Html.wrapSitemap]] sitemap, by host. */
  private def sitemapEntries(docs: DataFrame): DataFrame =
    Html.sitemapParse(
      docs.select(concat(col("source"), lit(".example.com")).as("host"),
        col("doc_id"), Html.wrapSitemap(col("doc_id"), col("source")).as("xml")),
      "doc_id", "xml")

  /** The politeness schedule of every document's [[Html.wrapUrl]] address
    * under its host's robots.txt crawl-delay.
    */
  private def politeness(docs: DataFrame, maxPerHost: Int = Int.MaxValue): DataFrame =
    Html.politenessSchedule(
      docs.select(col("doc_id"), Html.wrapUrl(col("doc_id"), col("source")).as("url")),
      "doc_id", "url",
      Html.robotsDirectives(robotsTxt(docs), "host", "content", "graftbot"),
      maxPerHost = maxPerHost)

  /** Every `<url>` entry of each host's [[Html.wrapSitemapSql]] sitemap (`ent`). */
  private val sitemapEntCtes =
    s"""sm AS (SELECT source || '.example.com' AS host, doc_id,
       |    ${Html.wrapSitemapSql("doc_id", "source")} AS xml FROM documents),
       |ent AS (SELECT host,
       |    unnest(list_transform(regexp_extract_all(xml, '${Html.SitemapUrlPat}', 1),
       |      (x, i) -> struct_pack(i := i, x := x))) AS e
       |  FROM sm)""".stripMargin

  /** Each host's crawl-delay, derived from the robots.txt fixture's rule (`d`). */
  private val crawlDelayCte =
    s"""d AS (SELECT DISTINCT source || '.example.com' AS host,
       |    CASE WHEN length(source) % 2 = 0 THEN
       |      CASE WHEN regexp_extract(source, '([0-9])$$', 1) IN ('0','3','6','9')
       |        THEN 2.0 ELSE 0.0 END
       |      ELSE 5.0 END AS delay
       |  FROM documents)""".stripMargin

  // must keep ending in the bare `FROM w`: politeness_schedule_quota's
  // oracle is this string with a WHERE appended
  private val politenessOracle =
    s"""WITH u AS (SELECT doc_id,
       |    ${Html.urlNormalizeSql(Html.wrapUrlSql("doc_id", "source"))} AS url
       |  FROM documents),
       |h AS (SELECT doc_id, url AS canonical_url,
       |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host
       |  FROM u),
       |$crawlDelayCte,
       |w AS (SELECT h.doc_id, h.canonical_url, h.host,
       |    coalesce(d.delay, 1.0) AS delay,
       |    cast(row_number() OVER (PARTITION BY h.host ORDER BY h.doc_id) - 1
       |      AS INTEGER) AS slot
       |  FROM h LEFT JOIN d ON h.host = d.host)
       |SELECT doc_id, canonical_url, host, slot,
       |  cast(slot * delay AS DOUBLE) AS fetch_offset_sec
       |FROM w""".stripMargin

  val all: Seq[Registered] = Seq(
    // crawl-ingestion stage 0 (C76): HTML → clean text with
    // link-density boilerplate filtering, on the deterministic
    // page fixture around each document
    Registered("html_extract", (s, d) =>
        Html.htmlExtract(wrapped(s, d, Html.wrapHtml(col("doc_id"), col("text")), "html"),
          "doc_id", "html"),
      Html.htmlExtractOracleSql()),
    // robots-meta compliance gate (C85): noindex/nofollow/none
    // directives per page on the deterministic meta-tag fixture —
    // the exclusion signal honored before a page enters the corpus
    Registered("robots_gate", (s, d) =>
        Html.robotsGate(wrapped(s, d, Html.wrapRobotsHtml(col("doc_id"), col("text")), "html"),
          "doc_id", "html"),
      Html.robotsGateOracleSql),
    // robots.txt frontier filtering (C86): RFC 9309 parse + most-
    // specific-group / longest-match evaluation of the wrapUrl
    // frontier for agent graftbot — rules broadcast per host, the
    // frontier never shuffles
    Registered("robots_txt_filter", (s, d) => {
        val docs = Tables.documents(s, d)
        Html.robotsFilter(
          docs.select(col("doc_id"),
            Html.wrapUrl(col("doc_id"), col("source")).as("url")),
          "doc_id", "url",
          Html.robotsRules(robotsTxt(docs), "host", "content"), "graftbot")
      },
      Html.robotsTxtFilterOracleSql),
    // robots.txt host-level directives (C87): Crawl-delay resolved
    // for graftbot under group shadowing + global Sitemap collection
    Registered("robots_directives", (s, d) =>
        Html.robotsDirectives(robotsTxt(Tables.documents(s, d)), "host", "content", "graftbot"),
      Html.robotsDirectivesOracleSql),
    // sitemap XML parsing (C88): urlset entries → one row per <url>,
    // loc required, optional fields defaulted (priority 0.5 per the
    // sitemaps.org schema), zero shuffle
    Registered("sitemap_parse", (s, d) =>
        Html.sitemapParse(wrapped(s, d, Html.wrapSitemap(col("doc_id"), col("source")), "xml"),
          "doc_id", "xml"),
      Html.sitemapParseOracleSql),
    // sitemap INDEX resolution (C89): parse the per-host sitemapindex,
    // broadcast-join each entry to its fetched child sitemap, parse
    // every child's urlset — the discovery recursion in one plan
    Registered("sitemap_index", (s, d) => sitemapIndex(Tables.documents(s, d)),
      Html.sitemapIndexOracleSql),
    // politeness scheduling (C90): per-host serial fetch slots under
    // the crawl-delay each host's robots.txt declares (via the REAL
    // robotsDirectives parse — the oracle derives delays analytically
    // from the fixture rule, so parse bugs surface as a mismatch)
    Registered("politeness_schedule", (s, d) => politeness(Tables.documents(s, d)),
      politenessOracle),
    // the quota'd schedule (C90 + C97 composed as ONE parameter):
    // maxPerHost cuts each host to its first 7 URLs via the bounded
    // TopKPerKey operator BEFORE the per-host window shuffle — the
    // measured mega-host skew mitigation (52.4× → 1.1× straggler,
    // SURVEY §6) as a politenessSchedule argument. The oracle is the
    // unbounded schedule filtered to slot < 7 (the quota keeps each
    // host's min-id URLs and slots are assigned in id order, so the
    // two forms are provably equal — also spec-pinned).
    Registered("politeness_schedule_quota",
      (s, d) => politeness(Tables.documents(s, d), PolitenessQuota),
      deriveQuotaOracle(politenessOracle)),
    // the discovery-layer composite (C91): sitemap index → child
    // sitemaps → distinct discovered URLs → robots gate → politeness
    // slots, in ONE declarative plan — what a crawler's discovery
    // cycle actually runs end-to-end, every stage the verified
    // operator (C89 → C86 → C90)
    Registered("crawl_discover", (s, d) => {
        val docs = Tables.documents(s, d)
        val robots = robotsTxt(docs)
        val locs = sitemapIndex(docs).select(col("loc")).distinct()
        val allowed = Html.robotsFilter(
            locs.select(col("loc").as("uid"), col("loc").as("url")),
            "uid", "url", Html.robotsRules(robots, "host", "content"), "graftbot")
          .filter(col("allowed"))
          .select(col("uid").as("u2"), col("uid").as("url2"))
        Html.politenessSchedule(allowed, "u2", "url2",
            Html.robotsDirectives(robots, "host", "content", "graftbot"))
          .select(col("canonical_url"), col("host"), col("slot"),
            col("fetch_offset_sec"))
      },
      s"""WITH disc AS (SELECT DISTINCT loc FROM (
         |${Html.sitemapIndexOracleSql}
         |) six),
         |ap AS (SELECT * FROM (
         |${Html.robotsApSql}
         |) rap),
         |uu AS (SELECT loc,
         |    regexp_extract(loc, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host,
         |    regexp_extract(loc, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
         |  FROM disc),
         |j AS (SELECT uu.loc, uu.host, uu.path, ap.rpath, ap.rtype,
         |    CASE WHEN ap.rtype = 'allow' THEN 1 ELSE 0 END AS pref
         |  FROM uu LEFT JOIN ap ON uu.host = ap.host
         |    AND regexp_matches(uu.path, ap.rx)),
         |w AS (SELECT *, row_number() OVER (PARTITION BY loc
         |    ORDER BY len(rpath) DESC, pref DESC, rpath DESC) AS rn FROM j),
         |alw AS (SELECT loc, host FROM w
         |  WHERE rn = 1 AND (rpath IS NULL OR rtype = 'allow')),
         |$crawlDelayCte,
         |sch AS (SELECT alw.loc, alw.host, coalesce(d.delay, 1.0) AS delay,
         |    cast(row_number() OVER (PARTITION BY alw.host ORDER BY alw.loc) - 1
         |      AS INTEGER) AS slot
         |  FROM alw LEFT JOIN d ON alw.host = d.host)
         |SELECT loc AS canonical_url, host, slot,
         |  cast(slot * delay AS DOUBLE) AS fetch_offset_sec
         |FROM sch""".stripMargin),
    // URL-level dedup of a crawl frontier: canonicalize (case, www,
    // default ports, tracking params, param order, trailing slash,
    // fragments) then one aggregation — the dedup that runs before any
    // content byte is compared, on the deterministic URL fixture (C83)
    Registered("url_dedup", (s, d) =>
        Html.urlDedup(wrapped(s, d, Html.wrapUrl(col("doc_id"), col("source")), "url"),
          "doc_id", "url"),
      s"""WITH u AS (SELECT doc_id, ${Html.wrapUrlSql("doc_id", "source")} AS url
         |  FROM documents)
         |SELECT ${Html.urlNormalizeSql("url")} AS canonical_url,
         |  min(doc_id) AS survivor_id, count(*) AS n_copies
         |FROM u GROUP BY 1""".stripMargin),
    // per-host frontier budget (C97): keep the top-K sitemap entries
    // per host by (priority, lastmod, loc) via the bounded TopKPerKey
    // physical operator — heap-bounded per partition, never a full
    // per-host sort (the row_number window form would sort every
    // host's entire entry list)
    Registered("frontier_budget", (s, d) =>
        graft.plans.TopK.perKey(
          sitemapEntries(Tables.documents(s, d))
            .select(col("host"), col("loc"), col("lastmod"), col("priority")),
          Seq("host"), Seq("priority", "lastmod", "loc"), 25),
      s"""WITH $sitemapEntCtes,
         |fx AS (SELECT host,
         |    regexp_extract(e.x, '${Html.LocPat}', 1) AS loc,
         |    regexp_extract(e.x, '${Html.LastmodPat}', 1) AS lastmod,
         |    CASE WHEN regexp_extract(e.x, '${Html.PriorityPat}', 1) = '' THEN 0.5
         |         ELSE cast(regexp_extract(e.x, '${Html.PriorityPat}', 1) AS DOUBLE)
         |         END AS priority
         |  FROM ent WHERE regexp_extract(e.x, '${Html.LocPat}', 1) <> ''),
         |w AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY priority DESC, lastmod DESC, loc DESC) AS rn FROM fx)
         |SELECT host, loc, lastmod, priority FROM w WHERE rn <= 25""".stripMargin),
    // changefreq-driven recrawl scheduling (C100): age each sitemap
    // entry's lastmod against a fixed reference date under its
    // declared frequency; emits the due bit per entry
    Registered("recrawl_schedule", (s, d) =>
        Html.recrawlSchedule(sitemapEntries(Tables.documents(s, d)), "lastmod", "changefreq",
            RecrawlAsOf)
          .select(col("host"), col("loc"), col("lastmod"), col("changefreq"),
            col("interval_days"), col("age_days"), col("due")),
      s"""WITH $sitemapEntCtes,
         |fx AS (SELECT host,
         |    regexp_extract(e.x, '${Html.LocPat}', 1) AS loc,
         |    regexp_extract(e.x, '${Html.LastmodPat}', 1) AS lastmod,
         |    regexp_extract(e.x, '${Html.ChangefreqPat}', 1) AS changefreq
         |  FROM ent WHERE regexp_extract(e.x, '${Html.LocPat}', 1) <> ''),
         |m AS (SELECT *,
         |    CASE WHEN changefreq IN ('always', 'hourly', 'daily') THEN 1
         |         WHEN changefreq = 'weekly' THEN 7
         |         WHEN changefreq = 'monthly' THEN 30
         |         WHEN changefreq = 'yearly' THEN 365
         |         WHEN changefreq = 'never' THEN -1
         |         ELSE 7 END AS interval_days,
         |    CASE WHEN try_cast(substring(lastmod, 1, 10) AS date) IS NULL
         |         THEN 99999
         |         ELSE date_diff('day', try_cast(substring(lastmod, 1, 10) AS date),
         |           DATE '$RecrawlAsOf')
         |         END AS age_days
         |  FROM fx)
         |SELECT host, loc, lastmod, changefreq, interval_days, age_days,
         |  interval_days >= 0 AND age_days >= interval_days AS due
         |FROM m""".stripMargin),
  )
}
