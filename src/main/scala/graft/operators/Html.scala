package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML → clean-text extraction with link-density boilerplate
  * filtering — the FIRST stage of a crawl-derived training-data
  * pipeline (every downstream operator in this library assumes it
  * already ran). The heuristics are the public jusText/trafilatura
  * core (Pomikálek 2011 "Removing boilerplate and duplicate content
  * from web corpora"): drop script/style wholesale, segment the page
  * into blocks at block-level tag boundaries, strip tags and unescape
  * entities per block, and drop blocks whose LINK DENSITY (anchor-text
  * chars / block chars) exceeds a threshold — navigation chrome and
  * footers are mostly links, body prose is not.
  *
  * Scale shape: one map pass — every stage is a per-row expression
  * (regexp_replace / split / higher-order transform-filter-aggregate),
  * zero shuffle, no UDF. Pattern constants are RE2-safe (no
  * backreferences, inline flags, explicit whitespace classes) so the
  * DuckDB twin runs the IDENTICAL patterns; DuckDB's regexp_replace
  * needs the extra 'g' option for the global semantics Spark has by
  * default.
  *
  * Reference scope note: the reference engine ships no HTML stage
  * (its corpus inputs are pre-cleaned text); this operator extends
  * the library toward the crawl-ingestion use its LLM-pipeline brief
  * requires.
  */
object Html {

  // shared Spark/DuckDB pattern constants — RE2-safe subsets only
  private[graft] val ScriptPat = "(?is)<script[^>]*>.*?</script>"
  private[graft] val StylePat = "(?is)<style[^>]*>.*?</style>"
  private[graft] val BlockSplitPat = "(?i)</(?:p|div|nav|li|h[1-6]|td|blockquote|article|section)>"
  private[graft] val TagPat = "<[^>]*>"
  private[graft] val LinkTextPat = "(?is)<a[^>]*>(.*?)</a>"
  private[graft] val WsPat = "[ \\t\\r\\n]+"

  /** Default jusText-style link-density cut: a block more than a third
    * of whose visible characters are anchor text is chrome.
    */
  val DefaultMaxLinkDensity = 0.33

  // tag-strip + whitespace-collapse + entity-unescape of one raw
  // block. Order matters and is pinned by the oracle twin: tags go
  // first (entity-unescaping first would let an escaped '&lt;' open a
  // fake tag), ws-collapse + trim second, entities last with &amp;
  // unescaped after the named entities (standard order — '&amp;lt;'
  // must yield '&lt;', not '<').
  private def blockText(b: Column): Column = {
    val stripped = trim(regexp_replace(regexp_replace(b, TagPat, " "), WsPat, " "))
    replace(
      replace(
        replace(
          replace(
            replace(stripped, lit("&lt;"), lit("<")),
            lit("&gt;"), lit(">")),
          lit("&quot;"), lit("\"")),
        lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))
  }

  /** Extract clean text + boilerplate stats from an HTML column.
    * Output: (id, clean_text, n_blocks, n_dropped, n_links,
    * link_density) — n_blocks counts non-empty blocks, n_dropped the
    * link-dense ones removed from clean_text, link_density the
    * page-level anchor-chars / text-chars ratio (0 on an empty page).
    */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String,
                  maxLinkDensity: Double = DefaultMaxLinkDensity): DataFrame = {
    val noScript = regexp_replace(
      regexp_replace(col(htmlCol), ScriptPat, " "), StylePat, " ")
    val stats = transform(split(noScript, BlockSplitPat), b =>
      struct(
        blockText(b).as("t"),
        aggregate(regexp_extract_all(b, lit(LinkTextPat), lit(1)),
          lit(0), (acc, l) => acc + length(blockText(l))).as("lc")))
    val nonempty = filter(stats, s => length(s.getField("t")) > 0)
    val kept = filter(col("__ne"), s =>
      s.getField("lc").cast("double") <=
        lit(maxLinkDensity) * length(s.getField("t")).cast("double"))
    val totChars = aggregate(col("__ne"), lit(0), (acc, s) => acc + length(s.getField("t")))
    val linkChars = aggregate(col("__ne"), lit(0), (acc, s) => acc + s.getField("lc"))
    df.select(col(idCol),
        nonempty.as("__ne"), noScript.as("__ns"))
      .withColumn("__kept", kept)
      .select(col(idCol),
        concat_ws(" ", transform(col("__kept"), s => s.getField("t"))).as("clean_text"),
        size(col("__ne")).as("n_blocks"),
        (size(col("__ne")) - size(col("__kept"))).as("n_dropped"),
        size(regexp_extract_all(col("__ns"), lit(LinkTextPat), lit(1))).as("n_links"),
        when(totChars > 0,
            round(linkChars.cast("double") / totChars.cast("double"), 6))
          .otherwise(lit(0.0)).as("link_density"))
  }

  /** Deterministic HTML fixture around a text column — the shape of a
    * crawled page (nav chrome, styled head, script, body prose,
    * link-heavy footer), reproduced character-for-character by
    * [[wrapHtmlSql]] so the extractor's DuckDB twin sees the same
    * bytes. The text is entity-escaped on the way in (the extractor
    * unescapes on the way out — round-trip pinned by the oracle).
    */
  def wrapHtml(idCol: Column, textCol: Column): Column = {
    val esc = replace(
      replace(
        replace(textCol, lit("&"), lit("&amp;")),
        lit("<"), lit("&lt;")),
      lit(">"), lit("&gt;"))
    concat(
      lit("<html><head><title>Doc "), idCol,
      lit("</title><style>p{margin:0}</style><script>var x=1;</script></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a></nav><p>"),
      esc,
      lit("</p><div><a href=\"/privacy\">Privacy</a> <a href=\"/terms\">Terms</a>" +
        " (c) Example Site</div></body></html>"))
  }

  /** SQL twin of [[wrapHtml]] over `documents` columns. */
  private def wrapHtmlSql(idExpr: String, textExpr: String): String = {
    val esc = s"replace(replace(replace($textExpr, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    "'<html><head><title>Doc ' || " + idExpr +
      " || '</title><style>p{margin:0}</style><script>var x=1;</script></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/contact\">Contact</a></nav><p>' || " + esc +
      " || '</p><div><a href=\"/privacy\">Privacy</a> <a href=\"/terms\">Terms</a>" +
      " (c) Example Site</div></body></html>'"
  }

  /** DuckDB twin of wrap + extract over the documents table — the
    * identical pattern constants with DuckDB's explicit 'g' option
    * where Spark's regexp_replace is implicitly global, and
    * list_transform/list_filter/list_sum for the higher-order stages.
    */
  /** Canonicalize a crawl URL — the normalization every crawl dedups
    * on BEFORE fetching content (two spellings of one address must not
    * ingest twice): lowercase the scheme and host, strip a `www.`
    * prefix and the scheme's OWN default port (:80 for http, :443 for
    * https — a non-default port is identity), drop the fragment,
    * remove tracking parameters (utm_*, ref, fbclid, gclid), SORT the
    * surviving query parameters (param order is not identity), and
    * strip one trailing slash from the path. Pure column ops (regex +
    * split/filter/sort HOFs), zero shuffle; [[urlNormalizeSql]] is the
    * DuckDB twin. Malformed input without a `://` passes through
    * lowercased-host-rules only where they parse — the regexes yield
    * empty groups and the recomposition degrades to the raw string
    * trimmed of a fragment.
    */
  def urlNormalize(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host0 = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    // only the scheme's OWN default port is identity-preserving:
    // http://h:443/x is a different resource from http://h/x
    val hostW = regexp_replace(host0, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(hostW, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostW, ":443$", ""))
      .otherwise(hostW)
    // path+query with the fragment dropped
    val rest = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val path0 = regexp_extract(rest, "^([^?]*)", 1)
    val path = regexp_replace(path0, "/$", "")
    val qs = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val params = array_join(
      array_sort(filter(split(qs, "&"), p =>
        p =!= lit("") &&
          !p.rlike("^(utm_[^=]*|ref|fbclid|gclid)="))), "&")
    when(scheme === "", regexp_replace(url, "#.*$", ""))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(params === "", lit("")).otherwise(concat(lit("?"), params))))
  }

  /** DuckDB expression computing the identical canonical URL. */
  def urlNormalizeSql(expr: String): String = {
    val scheme = s"lower(regexp_extract($expr, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val hostW = "regexp_replace(" +
      s"lower(regexp_extract($expr, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), " +
      "'^www\\.', '')"
    val host = s"CASE WHEN $scheme = 'http' THEN regexp_replace($hostW, ':80$$', '') " +
      s"WHEN $scheme = 'https' THEN regexp_replace($hostW, ':443$$', '') " +
      s"ELSE $hostW END"
    val rest = s"regexp_extract($expr, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1)"
    val path = s"regexp_replace(regexp_extract($rest, '^([^?]*)', 1), '/$$', '')"
    val qs = s"regexp_extract($rest, '^[^?]*\\?(.*)$$', 1)"
    // coalesce: DuckDB's array_to_string of an EMPTY list is NULL where
    // Spark's array_join is '' — a query-less URL must not normalize
    // to NULL
    val params = "coalesce(array_to_string(list_sort(list_filter(" +
      s"string_split($qs, '&'), " +
      "p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)='))), '&'), '')"
    s"""CASE WHEN $scheme = '' THEN regexp_replace($expr, '#.*$$', '')
       |ELSE $scheme || '://' || $host || $path ||
       |  CASE WHEN $params = '' THEN '' ELSE '?' || $params END END""".stripMargin
  }

  /** URL-level dedup over a crawl frontier/log: one row per canonical
    * URL with its copy count and the minimal (first-crawled) doc id —
    * the cheapest dedup of the whole pipeline, run before any byte of
    * content is compared. One normalization map pass + one aggregation
    * whose shuffle carries (canonical url, id).
    */
  def urlDedup(pages: DataFrame, idCol: String, urlCol: String): DataFrame =
    pages
      .select(col(idCol), urlNormalize(col(urlCol)).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("survivor_id"),
        count(lit(1)).as("n_copies"))

  /** Deterministic crawl-URL fixture for [[urlDedup]]'s driver query:
    * every normalization hazard appears on a doc_id schedule — mixed
    * scheme case, www. prefixes, explicit :443 ports, trailing
    * slashes, tracking params in varying positions, fragments — and
    * ids sharing (source, id mod 40, id mod 20) collapse to one
    * canonical URL. [[wrapUrlSql]] is the DuckDB twin.
    */
  def wrapUrl(idCol: Column, srcCol: Column): Column =
    concat(
      when(idCol % 3 === 0, lit("HTTPS")).otherwise(lit("https")),
      lit("://"),
      when(idCol % 2 === 0, lit("www.")).otherwise(lit("")),
      srcCol, lit(".example.com"),
      when(idCol % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/articles/item"), (idCol % 40).cast("string"),
      when(idCol % 4 === 0, lit("/")).otherwise(lit("")),
      when(idCol % 2 === 0,
        concat(lit("?utm_source=feed&id="), (idCol % 20).cast("string"),
          lit("&ref=rss")))
        .otherwise(concat(lit("?id="), (idCol % 20).cast("string"))),
      when(idCol % 7 === 0, lit("#section2")).otherwise(lit("")))

  /** DuckDB twin of [[wrapUrl]] over column expressions. */
  def wrapUrlSql(idExpr: String, srcExpr: String): String =
    s"""CASE WHEN $idExpr % 3 = 0 THEN 'HTTPS' ELSE 'https' END || '://' ||
       |CASE WHEN $idExpr % 2 = 0 THEN 'www.' ELSE '' END ||
       |$srcExpr || '.example.com' ||
       |CASE WHEN $idExpr % 5 = 0 THEN ':443' ELSE '' END ||
       |'/articles/item' || cast($idExpr % 40 AS varchar) ||
       |CASE WHEN $idExpr % 4 = 0 THEN '/' ELSE '' END ||
       |CASE WHEN $idExpr % 2 = 0
       |  THEN '?utm_source=feed&id=' || cast($idExpr % 20 AS varchar) || '&ref=rss'
       |  ELSE '?id=' || cast($idExpr % 20 AS varchar) END ||
       |CASE WHEN $idExpr % 7 = 0 THEN '#section2' ELSE '' END""".stripMargin

  // robots-meta pattern constants — shared Spark/DuckDB, RE2-safe
  private[graft] val MetaTagPat = "(?i)<meta[^>]*>"
  private[graft] val RobotsNamePat = "(?i)name[ \\t]*=[ \\t]*[\"']robots[\"']"
  private[graft] val ContentAttrPat = "(?i)content[ \\t]*=[ \\t]*[\"']([^\"']*)[\"']"

  /** Robots-meta compliance gate — the page-level exclusion signal a
    * responsible crawl pipeline honors BEFORE a page enters the corpus
    * (REP meta tags, standardized in RFC 9309's ecosystem; the
    * `noindex`/`nofollow`/`none` values are the public Google/Bing
    * documented set). Per page: collect `<meta …>` tags, keep those
    * whose name attribute is `robots` (attribute ORDER and CASE are
    * not identity — `content=… name=…` and `NAME="ROBOTS"` both bind;
    * UA-specific tags like `name="googlebot"` are deliberately NOT
    * honored — the gate implements the generic-UA contract, documented
    * choice), union their comma-separated directive lists (two robots
    * tags on one page both apply), and derive: `noindex` (directive
    * `noindex` or `none`), `nofollow` (`nofollow` or `none`),
    * `indexable` (= NOT noindex — the corpus admission bit).
    *
    * Scale shape: per-row regex + higher-order ops only — zero
    * shuffle, no UDF, composes with [[htmlExtract]] in the same map
    * pass.
    */
  def robotsGate(pages: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val metas = regexp_extract_all(col(htmlCol), lit(MetaTagPat), lit(0))
    val robots = filter(metas, m => m.rlike(RobotsNamePat))
    val flags = transform(
      flatten(transform(robots, m =>
        split(regexp_extract(m, ContentAttrPat, 1), ","))),
      t => lower(trim(t)))
    pages.select(col(idCol), robots.as("__r"), flags.as("__f"))
      .select(col(idCol),
        size(col("__r")).as("n_robots_meta"),
        (array_contains(col("__f"), "noindex") ||
          array_contains(col("__f"), "none")).as("noindex"),
        (array_contains(col("__f"), "nofollow") ||
          array_contains(col("__f"), "none")).as("nofollow"))
      .withColumn("indexable", !col("noindex"))
  }

  /** Deterministic robots-meta page fixture: every directive hazard on
    * a doc_id schedule — plain noindex, CASE variants, reversed
    * attribute order, `none`, a UA-specific googlebot tag (must NOT
    * bind), `all`, a description meta merely containing the word
    * noindex (must NOT bind), and a two-tag union page.
    * [[wrapRobotsHtmlSql]] is the character-identical DuckDB twin.
    */
  def wrapRobotsHtml(idCol: Column, textCol: Column): Column = {
    val m = idCol % 11
    val meta =
      when(m === 0, lit("<meta name=\"robots\" content=\"noindex\">"))
        .when(m === 1, lit("<META NAME=\"ROBOTS\" CONTENT=\"NOINDEX, NOFOLLOW\">"))
        .when(m === 2, lit("<meta content=\"nofollow\" name=\"robots\">"))
        .when(m === 3, lit("<meta name='robots' content='none'>"))
        .when(m === 4, lit("<meta name=\"googlebot\" content=\"noindex\">"))
        .when(m === 5, lit("<meta name=\"robots\" content=\"all\">"))
        .when(m === 6, lit("<meta name=\"description\" content=\"noindex is a word\">"))
        .when(m === 7, lit("<meta name=\"robots\" content=\"noarchive\">" +
          "<meta name=\"robots\" content=\"noindex\">"))
        .otherwise(lit(""))
    concat(lit("<html><head><title>Doc "), idCol, lit("</title>"), meta,
      lit("</head><body><p>"), textCol, lit("</p></body></html>"))
  }

  /** DuckDB twin of [[wrapRobotsHtml]]. */
  def wrapRobotsHtmlSql(idExpr: String, textExpr: String): String =
    s"""'<html><head><title>Doc ' || $idExpr || '</title>' ||
       |CASE $idExpr % 11
       |  WHEN 0 THEN '<meta name="robots" content="noindex">'
       |  WHEN 1 THEN '<META NAME="ROBOTS" CONTENT="NOINDEX, NOFOLLOW">'
       |  WHEN 2 THEN '<meta content="nofollow" name="robots">'
       |  WHEN 3 THEN '<meta name=''robots'' content=''none''>'
       |  WHEN 4 THEN '<meta name="googlebot" content="noindex">'
       |  WHEN 5 THEN '<meta name="robots" content="all">'
       |  WHEN 6 THEN '<meta name="description" content="noindex is a word">'
       |  WHEN 7 THEN '<meta name="robots" content="noarchive">' ||
       |    '<meta name="robots" content="noindex">'
       |  ELSE '' END ||
       |'</head><body><p>' || $textExpr || '</p></body></html>'""".stripMargin

  /** DuckDB twin of wrap + gate over the documents table — identical
    * pattern constants, list HOFs for the per-tag stages.
    */
  def robotsGateOracleSql: String = {
    def qp(p: String) = "'" + p.replace("'", "''") + "'"
    s"""WITH h AS (SELECT doc_id, ${wrapRobotsHtmlSql("doc_id", "text")} AS html
       |  FROM documents),
       |r AS (SELECT doc_id,
       |    list_filter(regexp_extract_all(html, ${qp(MetaTagPat)}, 0),
       |      m -> regexp_matches(m, ${qp(RobotsNamePat)})) AS robots
       |  FROM h),
       |f AS (SELECT doc_id, robots,
       |    list_transform(
       |      flatten(list_transform(robots,
       |        m -> string_split(regexp_extract(m, ${qp(ContentAttrPat)}, 1), ','))),
       |      t -> lower(trim(t))) AS flags
       |  FROM r)
       |SELECT doc_id,
       |  cast(len(robots) AS INTEGER) AS n_robots_meta,
       |  (list_contains(flags, 'noindex') OR list_contains(flags, 'none')) AS noindex,
       |  (list_contains(flags, 'nofollow') OR list_contains(flags, 'none')) AS nofollow,
       |  NOT (list_contains(flags, 'noindex') OR list_contains(flags, 'none')) AS indexable
       |FROM f""".stripMargin
  }

  /** Parse robots.txt files into a (host, ua, rtype, rpath) rules
    * table — RFC 9309 grammar: lines strip comments (`#` to EOL) and
    * whitespace; consecutive `User-agent:` lines form ONE group whose
    * every agent owns the rule block that follows; `Allow`/`Disallow`
    * names are case-insensitive; an empty-path `Disallow:` imposes no
    * restriction and is dropped. Group association runs as a window
    * over line numbers PER robots file — the input is one row per
    * host, thousands at most, never corpus-sized.
    */
  def robotsRules(robots: DataFrame, hostCol: String, contentCol: String): DataFrame = {
    val grouped = robotsGrouped(robots, hostCol, contentCol)
    val rules = grouped
      .select(col("host"), col("grp"),
        lower(regexp_extract(col("line"), "(?i)^(Allow|Disallow):", 1)).as("rtype"),
        trim(regexp_extract(col("line"), "(?i)^(?:Allow|Disallow):[ \\t]*(.*)$", 1)).as("rpath"))
      .filter(col("rtype") =!= "" && col("rpath") =!= "")
    robotsUas(grouped).join(rules, Seq("host", "grp"))
      .select("host", "ua", "rtype", "rpath")
  }

  // comment-stripped, trimmed robots.txt lines with their user-agent
  // GROUP id: consecutive UA lines share a run, each run starts a group
  private def robotsGrouped(robots: DataFrame, hostCol: String,
                            contentCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = robots.select(col(hostCol).as("host"),
        posexplode(split(col(contentCol), "\n")).as(Seq("line_no", "raw")))
      .select(col("host"), col("line_no"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
    val w = Window.partitionBy("host").orderBy("line_no")
    lines
      .withColumn("ua",
        lower(trim(regexp_extract(col("line"), "(?i)^User-agent:[ \\t]*(.*)$", 1))))
      .withColumn("is_ua", col("ua") =!= "")
      .withColumn("run_start",
        col("is_ua") && !coalesce(lag(col("is_ua"), 1).over(w), lit(false)))
      .withColumn("grp", sum(when(col("run_start"), 1).otherwise(0)).over(w))
  }

  private def robotsUas(grouped: DataFrame): DataFrame =
    grouped.filter(col("is_ua")).select(col("host"), col("grp"), col("ua"))

  /** Host-level robots.txt directives beyond the allow/disallow rules:
    * `Crawl-delay` (non-standard but universally emitted; group-scoped
    * like the rules, resolved for `agent` with the same
    * most-specific-group shadowing) and `Sitemap` (global — RFC 9309's
    * ecosystem defines it OUTSIDE any group, so every sitemap line
    * counts regardless of position). One row per host:
    * (host, crawl_delay_sec — 0.0 when none applies, n_sitemaps,
    * sitemaps — sorted, comma-joined; '' when none).
    */
  def robotsDirectives(robots: DataFrame, hostCol: String,
                       contentCol: String, agent: String): DataFrame = {
    val grouped = robotsGrouped(robots, hostCol, contentCol)
    val uas = robotsUas(grouped)
    val delays = grouped
      .select(col("host"), col("grp"),
        regexp_extract(col("line"), "(?i)^Crawl-delay:[ \\t]*([0-9.]+)", 1).as("__d"))
      .filter(col("__d") =!= "")
      .join(uas, Seq("host", "grp"))
    // shadowing is decided by GROUP presence, not delay presence: an
    // agent-specific group without a Crawl-delay line shadows '*'
    // entirely (its delay is the 0.0 default), it does not inherit
    val spec = uas.groupBy("host")
      .agg(max((col("ua") === agent).cast("int")).as("has_spec"))
    val delayPerHost = delays.join(broadcast(spec), Seq("host"))
      .filter((col("has_spec") === 1 && col("ua") === agent) ||
        (col("has_spec") === 0 && col("ua") === "*"))
      .groupBy("host")
      .agg(min(col("__d").cast("double")).as("crawl_delay_sec"))
    val sitemaps = grouped
      .select(col("host"),
        trim(regexp_extract(col("line"), "(?i)^Sitemap:[ \\t]*(.*)$", 1)).as("__s"))
      .filter(col("__s") =!= "")
      .groupBy("host")
      .agg(count(lit(1)).cast("int").as("n_sitemaps"),
        array_join(array_sort(collect_list(col("__s"))), ",").as("sitemaps"))
    robots.select(col(hostCol).as("host")).distinct()
      .join(delayPerHost, Seq("host"), "left")
      .join(sitemaps, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("crawl_delay_sec"), lit(0.0)).as("crawl_delay_sec"),
        coalesce(col("n_sitemaps"), lit(0)).as("n_sitemaps"),
        coalesce(col("sitemaps"), lit("")).as("sitemaps"))
  }

  /** Evaluate a URL frontier against a [[robotsRules]] table for one
    * crawler agent — RFC 9309 matching: the MOST SPECIFIC user-agent
    * group and ONLY that group applies (an exact-agent group shadows
    * `*` entirely, not a union); among that group's matching rules
    * (§2.2.3 patterns — `*` any-run wildcard and trailing-`$` end
    * anchor supported, prefix semantics otherwise) the LONGEST pattern
    * wins, `allow` winning length ties; no matching rule (or no rules
    * at all for the host) means allowed.
    *
    * Scale shape — the part that matters at a 100 TB frontier: rules
    * collapse to one array per host (robots.txt data is KB-per-host,
    * thousands of hosts) and ride a BROADCAST join; the winning rule
    * is picked per row by an `array_max` over a sortable
    * (len, allow-pref, path) struct — the frontier itself never
    * shuffles (the obvious per-URL row_number window would reshuffle
    * all of it).
    */
  def robotsFilter(urls: DataFrame, idCol: String, urlCol: String,
                   rules: DataFrame, agent: String): DataFrame = {
    val canon = urlNormalize(col(urlCol))
    val u = urls.select(col(idCol),
      regexp_extract(canon, HostOfUrlPat, 1).as("host"),
      regexp_extract(canon, PathOfUrlPat, 1).as("path"))
    u.join(broadcast(robotsRuleArrays(rules, agent)),
        col("host") === col("__rhost"), "left")
      .withColumn("__w", robotsWinner(col("path"), col("__rules")))
      .select(col(idCol), col("host"), col("path"),
        coalesce(col("__w").getField("rpath"), lit("")).as("matched_path"),
        coalesce(col("__w").getField("rtype"), lit("")).as("matched_type"),
        (col("__w").isNull || col("__w").getField("rtype") === "allow")
          .as("allowed"))
  }

  private[graft] val HostOfUrlPat = "^[a-z][a-z0-9+.-]*://([^/?#]*)"
  private[graft] val PathOfUrlPat = "^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)"

  /** The broadcast side of robots evaluation: resolve group shadowing
    * for `agent` and collapse the surviving rules to ONE array per
    * host — KB-sized per host, always broadcastable. Columns
    * (__rhost, __rules).
    */
  def robotsRuleArrays(rules: DataFrame, agent: String): DataFrame = {
    val spec = rules.groupBy("host")
      .agg(max((col("ua") === agent).cast("int")).as("has_spec"))
    rules.join(broadcast(spec), Seq("host"))
      .filter((col("has_spec") === 1 && col("ua") === agent) ||
        (col("has_spec") === 0 && col("ua") === "*"))
      .groupBy("host")
      .agg(collect_list(struct(col("rtype"), col("rpath"))).as("__rules"))
      .withColumnRenamed("host", "__rhost")
  }

  /** Per-row winning rule over a [[robotsRuleArrays]] array: RFC 9309
    * §2.2.3 pattern matching (`*` any-run wildcard, trailing-`$` end
    * anchor, prefix semantics otherwise — the native
    * GraftText.robotsMatch byte walk, no per-rule regex compile), the
    * most specific match winning where specificity is the raw PATTERN
    * length (the public robots.txt convention — wildcard rules count
    * their `*`/`$` octets), `allow` winning length ties. NULL when no
    * rule matches. One native kernel call per frontier URL
    * (graft.plans.RobotsWinnerExpr) since round 15 — the
    * filter/transform/array_max HOF composition it replaces
    * (kept in the test tree's `graft.ReferenceForms` as the
    * spec-pinned parity reference) ran INTERPRETED per URL: per-rule
    * lambda dispatch plus a filtered array and a struct allocation per
    * matching rule, on the one scan that touches every frontier row.
    */
  def robotsWinner(path: Column, rulesArr: Column): Column =
    graft.functions.TextFunctions.robotsWinner(path, rulesArr)

  /** Persist a crawl-frontier index: the distinct canonical URLs
    * already fetched, the left-anti reference [[graft.streaming.DocStreams.frontierAdmission]]
    * consults. One parquet dir, append-able; `\$path/urls`.
    */
  def buildFrontierIndex(fetched: DataFrame, urlCol: String, path: String): Unit =
    fetched.select(urlNormalize(col(urlCol)).as("canonical_url"))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/urls")

  /** Append newly fetched URLs to a [[buildFrontierIndex]] index —
    * visible to a streaming admission from its NEXT (re)start (the
    * static file listing pins at query start).
    */
  def appendToFrontierIndex(fetched: DataFrame, urlCol: String, path: String): Unit =
    fetched.select(urlNormalize(col(urlCol)).as("canonical_url"))
      .distinct()
      .write.mode("append").parquet(s"$path/urls")

  /** Deterministic robots.txt fixture per host: even-length sources
    * get an agent-specific `graftbot` group (exercising the
    * group-shadowing rule), every host gets a two-agent `*`/`otherbot`
    * group with longest-match allow overrides, an inline comment, and
    * an empty `Disallow:`. [[wrapRobotsTxtSql]] is the DuckDB twin.
    */
  def wrapRobotsTxt(src: Column): Column = concat(
    lit("# robots fixture\n"),
    lit("Sitemap: https://"), src, lit(".example.com/sitemap.xml\n"),
    when(length(src) % 2 === 0,
      concat(
        lit("User-agent: graftbot\nDisallow: /articles/item1\nAllow: /articles/item12\n" +
          "Disallow: /page/2\nAllow: /page/23\n" +
          // RFC 9309 §2.2.3 wildcard/anchor rules that BITE on the
          // frontier: item2* blocks the item2 family, the longer
          // anchored allows re-admit exactly item23 and exactly item2
          // (item20..29 stay blocked — the $ is what distinguishes
          // /articles/item2$ from a prefix rule); /page/2*4$ re-admits
          // the /page/2x4 sitemap locs under Disallow /page/2
          "Disallow: /articles/item2*\nAllow: /articles/item2*3$\n" +
          "Allow: /articles/item2$\nAllow: /page/2*4$\n"),
        // delay only on a sub-schedule: a graftbot group WITHOUT a
        // Crawl-delay exercises shadow-to-0.0 (never inherit *'s 5)
        when(regexp_extract(src, "([0-9])$", 1).isin("0", "3", "6", "9"),
          lit("Crawl-delay: 2\n")).otherwise(lit("")),
        lit("\n")))
      .otherwise(lit("")),
    lit("User-agent: *\nUser-agent: otherbot\n" +
      "Disallow: /articles/item2\nAllow: /articles/item23\n" +
      "Disallow: /articles/item3\nDisallow: /articles/item4 # seasonal\n" +
      // wildcard blocks the whole item1 family, the anchored-wildcard
      // allow re-admits exactly item19; item3*5$ out-ranks the plain
      // Disallow /articles/item3 for item35; /page/4*2$ blocks the
      // ...ends-in-2 slice of the /page/4xx sitemap locs
      "Disallow: /*/item1\nAllow: /*/item19$\n" +
      "Allow: /articles/item3*5$\nDisallow: /page/4*2$\n" +
      "Disallow: /page/1\nAllow: /page/13\n" +
      "Disallow:\nCrawl-delay: 5\n"),
    when(length(src) % 3 === 0,
      concat(lit("Sitemap: https://"), src, lit(".example.com/news.xml\n")))
      .otherwise(lit("")))

  /** DuckDB twin of [[wrapRobotsTxt]]. */
  def wrapRobotsTxtSql(srcExpr: String): String = {
    def nl(parts: Seq[String]) = parts.map(p => s"'$p'").mkString(" || chr(10) || ")
    s"""'# robots fixture' || chr(10) ||
       |'Sitemap: https://' || $srcExpr || '.example.com/sitemap.xml' || chr(10) ||
       |CASE WHEN length($srcExpr) % 2 = 0 THEN ${nl(Seq(
            "User-agent: graftbot", "Disallow: /articles/item1",
            "Allow: /articles/item12", "Disallow: /page/2",
            "Allow: /page/23", "Disallow: /articles/item2*",
            "Allow: /articles/item2*3$", "Allow: /articles/item2$",
            "Allow: /page/2*4$"))} || chr(10) ||
       |  CASE WHEN regexp_extract($srcExpr, '([0-9])$$', 1) IN ('0','3','6','9')
       |    THEN 'Crawl-delay: 2' || chr(10) ELSE '' END || chr(10) ELSE '' END ||
       |${nl(Seq("User-agent: *", "User-agent: otherbot",
            "Disallow: /articles/item2", "Allow: /articles/item23",
            "Disallow: /articles/item3", "Disallow: /articles/item4 # seasonal",
            "Disallow: /*/item1", "Allow: /*/item19$",
            "Allow: /articles/item3*5$", "Disallow: /page/4*2$",
            "Disallow: /page/1", "Allow: /page/13",
            "Disallow:", "Crawl-delay: 5"))} || chr(10) ||
       |CASE WHEN length($srcExpr) % 3 = 0
       |  THEN 'Sitemap: https://' || $srcExpr || '.example.com/news.xml' || chr(10)
       |  ELSE '' END""".stripMargin
  }

  /** DuckDB-side RE2 translation of an RFC 9309 path-pattern column —
    * the oracle twin of GraftText.robotsMatch: anchor at the path
    * start, escape every regex metacharacter EXCEPT `*`, translate
    * `*` → `.*`, and turn a TRAILING `$` into the end anchor (a
    * mid-pattern `$` stays literal via the escape).
    */
  private[graft] def robotsRxSql(c: String): String = {
    def esc(e: String) =
      s"replace(regexp_replace($e, '([.^$$+?(){}\\[\\]|\\\\])', '\\\\\\1', 'g'), '*', '.*')"
    s"CASE WHEN $c LIKE '%$$' " +
      s"THEN '^' || ${esc(s"left($c, len($c)-1)")} || '$$' " +
      s"ELSE '^' || ${esc(c)} END"
  }

  /** The fixture's APPLICABLE robots rules for agent graftbot as a
    * standalone DuckDB query — (host, rtype, rpath, rx) after group
    * shadowing, rx being each pattern's [[robotsRxSql]] translation;
    * embedded as a subquery by the filter and discover oracles.
    */
  def robotsApSql: String =
    s"""WITH src AS (SELECT DISTINCT source FROM documents),
       |rb AS (SELECT source || '.example.com' AS host,
       |    ${wrapRobotsTxtSql("source")} AS content FROM src),
       |lx AS (SELECT host, unnest(list_transform(string_split(content, chr(10)),
       |    (x, i) -> struct_pack(i := i, raw := x))) AS s FROM rb),
       |ln AS (SELECT host, s.i AS line_no,
       |    trim(regexp_replace(s.raw, '#.*$$', '')) AS line FROM lx),
       |cl AS (SELECT host, line_no,
       |    lower(trim(regexp_extract(line, '(?i)^User-agent:[ \t]*(.*)$$', 1))) AS ua,
       |    lower(regexp_extract(line, '(?i)^(Allow|Disallow):', 1)) AS rtype,
       |    trim(regexp_extract(line, '(?i)^(?:Allow|Disallow):[ \t]*(.*)$$', 1)) AS rpath
       |  FROM ln),
       |g AS (SELECT *, (ua <> '') AS is_ua,
       |    coalesce(lag(ua <> '') OVER (PARTITION BY host ORDER BY line_no), false) AS prev_ua
       |  FROM cl),
       |g2 AS (SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY host ORDER BY line_no) AS grp FROM g),
       |uas AS (SELECT host, grp, ua FROM g2 WHERE is_ua),
       |rules AS (SELECT host, grp, rtype, rpath FROM g2
       |  WHERE rtype <> '' AND rpath <> ''),
       |rr AS (SELECT uas.host, uas.ua, rules.rtype, rules.rpath
       |  FROM uas JOIN rules USING (host, grp)),
       |sp AS (SELECT host, max(CASE WHEN ua = 'graftbot' THEN 1 ELSE 0 END) AS has_spec
       |  FROM rr GROUP BY host)
       |SELECT rr.host, rtype, rpath, ${robotsRxSql("rpath")} AS rx
       |FROM rr JOIN sp USING (host)
       |WHERE (has_spec = 1 AND ua = 'graftbot') OR (has_spec = 0 AND ua = '*')""".stripMargin

  /** DuckDB twin of the full fixture → parse → filter chain over the
    * documents table, for agent `graftbot` on the [[wrapUrl]] frontier.
    */
  def robotsTxtFilterOracleSql: String =
    s"""WITH ap AS (SELECT * FROM (
       |$robotsApSql
       |) rap),
       |u0 AS (SELECT doc_id, ${urlNormalizeSql(wrapUrlSql("doc_id", "source"))} AS url
       |  FROM documents),
       |u AS (SELECT doc_id,
       |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host,
       |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
       |  FROM u0),
       |j AS (SELECT u.doc_id, u.host, u.path, ap.rpath, ap.rtype,
       |    CASE WHEN ap.rtype = 'allow' THEN 1 ELSE 0 END AS pref
       |  FROM u LEFT JOIN ap ON u.host = ap.host AND regexp_matches(u.path, ap.rx)),
       |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY len(rpath) DESC, pref DESC, rpath DESC) AS rn FROM j)
       |SELECT doc_id, host, path,
       |  coalesce(rpath, '') AS matched_path,
       |  coalesce(rtype, '') AS matched_type,
       |  (rpath IS NULL OR rtype = 'allow') AS allowed
       |FROM w WHERE rn = 1""".stripMargin

  /** DuckDB twin of fixture → [[robotsDirectives]] for agent graftbot. */
  def robotsDirectivesOracleSql: String =
    s"""WITH src AS (SELECT DISTINCT source FROM documents),
       |rb AS (SELECT source || '.example.com' AS host,
       |    ${wrapRobotsTxtSql("source")} AS content FROM src),
       |lx AS (SELECT host, unnest(list_transform(string_split(content, chr(10)),
       |    (x, i) -> struct_pack(i := i, raw := x))) AS s FROM rb),
       |ln AS (SELECT host, s.i AS line_no,
       |    trim(regexp_replace(s.raw, '#.*$$', '')) AS line FROM lx),
       |cl AS (SELECT host, line_no,
       |    lower(trim(regexp_extract(line, '(?i)^User-agent:[ \t]*(.*)$$', 1))) AS ua,
       |    regexp_extract(line, '(?i)^Crawl-delay:[ \t]*([0-9.]+)', 1) AS d,
       |    trim(regexp_extract(line, '(?i)^Sitemap:[ \t]*(.*)$$', 1)) AS sm
       |  FROM ln),
       |g AS (SELECT *, (ua <> '') AS is_ua,
       |    coalesce(lag(ua <> '') OVER (PARTITION BY host ORDER BY line_no), false) AS prev_ua
       |  FROM cl),
       |g2 AS (SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY host ORDER BY line_no) AS grp FROM g),
       |uas AS (SELECT host, grp, ua FROM g2 WHERE is_ua),
       |dl AS (SELECT host, grp, d FROM g2 WHERE d <> ''),
       |dj AS (SELECT dl.host, uas.ua, d FROM dl JOIN uas USING (host, grp)),
       |spd AS (SELECT host, max(CASE WHEN ua = 'graftbot' THEN 1 ELSE 0 END) AS has_spec
       |  FROM uas GROUP BY host),
       |dph AS (SELECT dj.host, min(cast(d AS DOUBLE)) AS crawl_delay_sec
       |  FROM dj JOIN spd USING (host)
       |  WHERE (has_spec = 1 AND ua = 'graftbot') OR (has_spec = 0 AND ua = '*')
       |  GROUP BY dj.host),
       |smaps AS (SELECT host, cast(count(*) AS INTEGER) AS n_sitemaps,
       |    array_to_string(list_sort(list(sm)), ',') AS sitemaps
       |  FROM g2 WHERE sm <> '' GROUP BY host)
       |SELECT rb.host,
       |  coalesce(crawl_delay_sec, 0.0) AS crawl_delay_sec,
       |  coalesce(n_sitemaps, 0) AS n_sitemaps,
       |  coalesce(sitemaps, '') AS sitemaps
       |FROM rb LEFT JOIN dph ON rb.host = dph.host
       |  LEFT JOIN smaps ON rb.host = smaps.host""".stripMargin

  // sitemap XML pattern constants — shared Spark/DuckDB, RE2-safe
  private[graft] val SitemapUrlPat = "(?is)<url>(.*?)</url>"
  private[graft] val LocPat = "(?is)<loc>[ \\t\\r\\n]*(.*?)[ \\t\\r\\n]*</loc>"
  private[graft] val LastmodPat = "(?is)<lastmod>[ \\t\\r\\n]*(.*?)[ \\t\\r\\n]*</lastmod>"
  private[graft] val ChangefreqPat = "(?is)<changefreq>[ \\t\\r\\n]*(.*?)[ \\t\\r\\n]*</changefreq>"
  private[graft] val PriorityPat = "(?is)<priority>[ \\t\\r\\n]*([0-9.]*)[ \\t\\r\\n]*</priority>"

  /** Parse sitemap XML (the sitemaps.org urlset schema — the discovery
    * feed [[robotsDirectives]] points at) into one row per `<url>`
    * entry: (id, entry_no, loc, lastmod, changefreq, priority).
    * `loc` is required by the schema — entries without one are
    * DROPPED; the optional fields default to ''/''/0.5 (0.5 is the
    * schema's documented priority default). Regex extraction, not an
    * XML parser — the deliberate trade of every large-scale sitemap
    * reader: crawl-scale sitemap files are machine-generated and
    * regular, and the regex chain runs as one zero-shuffle codegen'd
    * map pass (posexplode is a generate, not an exchange).
    */
  def sitemapParse(df: DataFrame, idCol: String, xmlCol: String): DataFrame = {
    def field(e: Column, pat: String) = regexp_extract(e, pat, 1)
    // every non-xml column rides along — provenance (e.g. the index
    // entry a child sitemap came from) survives the explode
    val carry = df.columns.filter(_ != xmlCol).map(col).toSeq
    df.select(carry :+
        posexplode(regexp_extract_all(col(xmlCol), lit(SitemapUrlPat), lit(1)))
          .as(Seq("entry_no", "__e")): _*)
      .filter(field(col("__e"), LocPat) =!= "")
      .select(carry ++ Seq(col("entry_no"),
        field(col("__e"), LocPat).as("loc"),
        field(col("__e"), LastmodPat).as("lastmod"),
        field(col("__e"), ChangefreqPat).as("changefreq"),
        when(field(col("__e"), PriorityPat) === "", lit(0.5))
          .otherwise(field(col("__e"), PriorityPat).cast("double"))
          .as("priority")): _*)
  }

  /** Recrawl scheduling from sitemap freshness hints — the refresh
    * policy stage between discovery (sitemapParse) and the frontier
    * budget: map each entry's `changefreq` to a recrawl interval in
    * days (always/hourly→1-day floor at batch granularity, daily→1,
    * weekly→7, monthly→30, yearly→365, never→-1 = never due; missing →
    * the 7-day default), age it against `asOf` (a FIXED reference date
    * — determinism: re-running the plan never flips `due`), and emit
    * the due bit. Entries without a `lastmod` have never been crawled
    * on record: age 99999, due whenever the interval allows. Pure
    * map-side date math, zero shuffle; rows stay per-ENTRY (a URL
    * listed twice schedules twice — dedupe upstream with url_dedup).
    *
    * Lastmod parsing is ANSI-crash-proof: sitemaps in the wild carry
    * W3C datetimes with timezone suffixes ('2026-01-15+02:00'), junk
    * text, or nothing at all — a bare cast("date") under Spark 4 ANSI
    * mode throws on the first malformed value and kills the whole
    * job. We take the leading yyyy-MM-dd through try_to_timestamp
    * (NULL on failure, never a throw): tz-suffixed dates age by their
    * date part; NULL / empty / unparseable all take the never-crawled
    * 99999 path.
    */
  def recrawlSchedule(entries: DataFrame, lastmodCol: String,
                      changefreqCol: String, asOf: String): DataFrame = {
    val interval =
      when(col(changefreqCol).isin("always", "hourly", "daily"), 1)
        .when(col(changefreqCol) === "weekly", 7)
        .when(col(changefreqCol) === "monthly", 30)
        .when(col(changefreqCol) === "yearly", 365)
        .when(col(changefreqCol) === "never", -1)
        .otherwise(7)
    val lastmodDate = try_to_timestamp(
      substring(col(lastmodCol), 1, 10), lit("yyyy-MM-dd")).cast("date")
    val age = when(lastmodDate.isNull, 99999)
      .otherwise(datediff(lit(asOf).cast("date"), lastmodDate))
    entries
      .withColumn("interval_days", interval)
      .withColumn("age_days", age)
      .withColumn("due",
        col("interval_days") >= 0 && col("age_days") >= col("interval_days"))
  }

  /** Deterministic sitemap-XML fixture per document: three entries on
    * a doc_id schedule — optional lastmod on %2 (tz-suffixed
    * '+02:00' on %10==4, junk 'pending' on %10==6 — keeps
    * recrawlSchedule's malformed-lastmod paths live at oracle level),
    * changefreq cycling, priority on %3 (else the 0.5 default path),
    * one loc-less entry on %5 (must drop), whitespace padding inside
    * tags throughout. [[wrapSitemapSql]] is the DuckDB twin.
    */
  def wrapSitemap(idCol: Column, srcCol: Column): Column = {
    val base = concat(lit("https://"), srcCol, lit(".example.com/page/"))
    def entry(k: Int): Column = concat(
      lit("<url>\n  <loc> "), base, ((idCol * 3 + lit(k)) % 1000).cast("string"),
      lit(" </loc>\n"),
      when(idCol % 2 === 0,
        concat(lit("  <lastmod>"),
          when(idCol % 10 === 6, lit("pending"))
            .otherwise(concat(lit("2026-0"), (idCol % 9 + 1).cast("string"),
              lit("-15"),
              when(idCol % 10 === 4, lit("+02:00")).otherwise(lit("")))),
          lit("</lastmod>\n"))).otherwise(lit("")),
      lit("  <changefreq>"),
      when((idCol + lit(k)) % 3 === 0, lit("daily"))
        .when((idCol + lit(k)) % 3 === 1, lit("weekly"))
        .otherwise(lit("monthly")),
      lit("</changefreq>\n"),
      when(idCol % 3 === 0,
        concat(lit("  <priority>0."), (idCol % 9 + 1).cast("string"),
          lit("</priority>\n"))).otherwise(lit("")),
      lit("</url>\n"))
    concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
      entry(0), entry(1), entry(2),
      when(idCol % 5 === 0,
        lit("<url>\n  <changefreq>never</changefreq>\n</url>\n"))
        .otherwise(lit("")),
      lit("</urlset>\n"))
  }

  /** DuckDB twin of [[wrapSitemap]]. */
  def wrapSitemapSql(idExpr: String, srcExpr: String): String = {
    val base = s"'https://' || $srcExpr || '.example.com/page/'"
    def entry(k: Int): String =
      s"""'<url>' || chr(10) || '  <loc> ' || $base ||
         |cast(($idExpr * 3 + $k) % 1000 AS varchar) || ' </loc>' || chr(10) ||
         |CASE WHEN $idExpr % 2 = 0 THEN '  <lastmod>' ||
         |  CASE WHEN $idExpr % 10 = 6 THEN 'pending'
         |       ELSE '2026-0' || cast($idExpr % 9 + 1 AS varchar) || '-15' ||
         |         CASE WHEN $idExpr % 10 = 4 THEN '+02:00' ELSE '' END
         |       END || '</lastmod>' || chr(10)
         |  ELSE '' END ||
         |'  <changefreq>' ||
         |CASE WHEN ($idExpr + $k) % 3 = 0 THEN 'daily'
         |     WHEN ($idExpr + $k) % 3 = 1 THEN 'weekly'
         |     ELSE 'monthly' END ||
         |'</changefreq>' || chr(10) ||
         |CASE WHEN $idExpr % 3 = 0 THEN '  <priority>0.' ||
         |  cast($idExpr % 9 + 1 AS varchar) || '</priority>' || chr(10)
         |  ELSE '' END ||
         |'</url>' || chr(10)""".stripMargin
    s"""'<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
       |'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
       |${entry(0)} || ${entry(1)} || ${entry(2)} ||
       |CASE WHEN $idExpr % 5 = 0 THEN '<url>' || chr(10) ||
       |  '  <changefreq>never</changefreq>' || chr(10) || '</url>' || chr(10)
       |  ELSE '' END ||
       |'</urlset>' || chr(10)""".stripMargin
  }

  private[graft] val SitemapIdxPat = "(?is)<sitemap>(.*?)</sitemap>"

  /** Parse a sitemapindex file (the sitemaps.org two-level schema —
    * large sites shard their urlset across child sitemaps and publish
    * one index): one row per `<sitemap>` entry, (id, sitemap_no,
    * child_loc, child_lastmod); loc required, entries without one
    * dropped. Same zero-shuffle regex + posexplode shape as
    * [[sitemapParse]].
    */
  def sitemapIndexParse(df: DataFrame, idCol: String, xmlCol: String): DataFrame = {
    def field(e: Column, pat: String) = regexp_extract(e, pat, 1)
    df.select(col(idCol),
        posexplode(regexp_extract_all(col(xmlCol), lit(SitemapIdxPat), lit(1)))
          .as(Seq("sitemap_no", "__e")))
      .filter(field(col("__e"), LocPat) =!= "")
      .select(col(idCol), col("sitemap_no"),
        field(col("__e"), LocPat).as("child_loc"),
        field(col("__e"), LastmodPat).as("child_lastmod"))
  }

  /** Resolve a sitemap INDEX end-to-end: parse the index, join each
    * entry to its fetched child sitemap by URL, parse every child's
    * urlset — the full discovery recursion (index → child sitemaps →
    * final URLs) in one declarative plan. The parsed index is
    * BROADCAST to the children join (an index is KB–MB even for a
    * 50k-file site; the fetched child corpus is the big side and never
    * shuffles). Children whose URL the index does not list are
    * dropped — crawl semantics: only indexed sitemaps are authorized
    * for discovery.
    */
  def sitemapIndexResolve(index: DataFrame, idxIdCol: String, idxXmlCol: String,
                          children: DataFrame, locCol: String,
                          xmlCol: String): DataFrame = {
    val entries = sitemapIndexParse(index, idxIdCol, idxXmlCol)
    val joined = children
      .join(broadcast(entries), col("child_loc") === col(locCol))
      .select(col(idxIdCol), col("sitemap_no"), col("child_loc"),
        col("child_lastmod"), col(xmlCol))
    sitemapParse(joined, idxIdCol, xmlCol)
  }

  /** DuckDB twin of fixture → [[sitemapParse]] over documents. */
  def sitemapParseOracleSql: String = {
    def qp(p: String) = "'" + p.replace("'", "''") + "'"
    def field(pat: String) = s"regexp_extract(e.x, ${qp(pat)}, 1)"
    s"""WITH sm AS (SELECT doc_id, ${wrapSitemapSql("doc_id", "source")} AS xml
       |  FROM documents),
       |ent AS (SELECT doc_id,
       |    unnest(list_transform(regexp_extract_all(xml, ${qp(SitemapUrlPat)}, 1),
       |      (x, i) -> struct_pack(i := i, x := x))) AS e
       |  FROM sm)
       |SELECT doc_id, cast(e.i - 1 AS INTEGER) AS entry_no,
       |  ${field(LocPat)} AS loc,
       |  ${field(LastmodPat)} AS lastmod,
       |  ${field(ChangefreqPat)} AS changefreq,
       |  CASE WHEN ${field(PriorityPat)} = '' THEN 0.5
       |       ELSE cast(${field(PriorityPat)} AS DOUBLE) END AS priority
       |FROM ent
       |WHERE ${field(LocPat)} <> ''""".stripMargin
  }

  /** Politeness scheduling of an admitted frontier: one fetch SLOT per
    * URL within its host's serial queue (slot = dense position in
    * id order) and the second offset that slot maps to under the
    * host's Crawl-delay ([[robotsDirectives]]; hosts without a delay
    * directive get `defaultDelaySec`). The per-host `row_number` is a
    * shuffle by host — deliberately: politeness REQUIRES per-host
    * serialization, so host is the semantically forced partition key.
    * A mega-host skews its partition by construction; bound it with
    * `maxPerHost` (default unbounded — the oracle contract): at most
    * that many URLs per host survive, chosen as the host's FIRST
    * `maxPerHost` in `idCol` order, so the quota'd output is exactly
    * the unbounded schedule's rows with `slot < maxPerHost`
    * (spec-pinned). The quota runs through the bounded TopKPerKey
    * operator BEFORE the window shuffle — each input partition is cut
    * to ≤ maxPerHost rows per host, so the skewed partition never
    * forms (measured on the mega-host soak: 52.4× straggler unbounded
    * → 1.1× under the quota, SURVEY §6).
    */
  def politenessSchedule(urls: DataFrame, idCol: String, urlCol: String,
                         directives: DataFrame,
                         defaultDelaySec: Double = 1.0,
                         maxPerHost: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = urlNormalize(col(urlCol))
    val u0 = urls.select(col(idCol),
      canon.as("canonical_url"),
      regexp_extract(canon, HostOfUrlPat, 1).as("host"))
    val u = if (maxPerHost == Int.MaxValue) u0
            else graft.plans.TopK.perKey(u0, Seq("host"), Seq(idCol),
              maxPerHost, descending = false)
    val delays = directives.select(col("host").as("__dh"),
      col("crawl_delay_sec").as("__delay"))
    val slot = row_number().over(
      Window.partitionBy(col("host")).orderBy(col(idCol))) - 1
    u.join(broadcast(delays), col("host") === col("__dh"), "left")
      .withColumn("slot", slot)
      .select(col(idCol), col("canonical_url"), col("host"), col("slot"),
        (col("slot") * coalesce(col("__delay"), lit(defaultDelaySec)))
          .as("fetch_offset_sec"))
  }

  /** DuckDB twin of the two-level fixture → [[sitemapIndexResolve]]:
    * per-host index (entries string_agg'd in doc_id order) over the
    * per-doc child sitemaps of [[wrapSitemap]].
    */
  def sitemapIndexOracleSql: String = {
    def qp(p: String) = "'" + p.replace("'", "''") + "'"
    def field(pat: String) = s"regexp_extract(e.x, ${qp(pat)}, 1)"
    s"""WITH ch AS (SELECT doc_id, source,
       |    'https://' || source || '.example.com/sitemaps/doc' ||
       |      cast(doc_id AS varchar) || '.xml' AS sm_loc,
       |    ${wrapSitemapSql("doc_id", "source")} AS sm_xml
       |  FROM documents),
       |ie AS (SELECT source, string_agg('<sitemap><loc>' || sm_loc ||
       |      '</loc><lastmod>2026-0' || cast(doc_id % 9 + 1 AS varchar) ||
       |      '-01</lastmod></sitemap>', '' ORDER BY doc_id) AS entries
       |  FROM ch GROUP BY source),
       |ix AS (SELECT source || '.example.com' AS host,
       |    '<?xml version="1.0"?><sitemapindex>' || entries || '</sitemapindex>' AS xml
       |  FROM ie),
       |ixe AS (SELECT host, unnest(list_transform(
       |    regexp_extract_all(xml, ${qp(SitemapIdxPat)}, 1),
       |    (x, i) -> struct_pack(i := i, x := x))) AS e FROM ix),
       |ixp AS (SELECT host, cast(e.i - 1 AS INTEGER) AS sitemap_no,
       |    ${field(LocPat)} AS child_loc,
       |    ${field(LastmodPat)} AS child_lastmod
       |  FROM ixe WHERE ${field(LocPat)} <> ''),
       |j AS (SELECT ixp.host, ixp.sitemap_no, ixp.child_loc,
       |    ixp.child_lastmod, ch.sm_xml
       |  FROM ch JOIN ixp ON ixp.child_loc = ch.sm_loc),
       |ce AS (SELECT host, sitemap_no, child_loc, child_lastmod,
       |    unnest(list_transform(regexp_extract_all(sm_xml, ${qp(SitemapUrlPat)}, 1),
       |      (x, i) -> struct_pack(i := i, x := x))) AS e FROM j)
       |SELECT host, sitemap_no, child_loc, child_lastmod,
       |  cast(e.i - 1 AS INTEGER) AS entry_no,
       |  ${field(LocPat)} AS loc,
       |  ${field(LastmodPat)} AS lastmod,
       |  ${field(ChangefreqPat)} AS changefreq,
       |  CASE WHEN ${field(PriorityPat)} = '' THEN 0.5
       |       ELSE cast(${field(PriorityPat)} AS DOUBLE) END AS priority
       |FROM ce
       |WHERE ${field(LocPat)} <> ''""".stripMargin
  }

  def htmlExtractOracleSql(maxLinkDensity: Double = DefaultMaxLinkDensity): String =
    s"""${htmlExtractCtes(maxLinkDensity)}
       |SELECT doc_id, clean_text, n_blocks, n_dropped, n_links, link_density
       |FROM extracted""".stripMargin

  /** The wrap + extract chain as a composable WITH-prefix ending in an
    * `extracted` CTE (doc_id, clean_text + the stats columns) — the
    * splice point for downstream composite oracles (crawl_pipeline).
    * `idExpr` parameterizes the page-title id so a composite can wrap
    * every doc under one constant title (making replicated texts exact
    * page duplicates for its dedup stage); reserved CTE names:
    * h/ns/blk/ne/agg/extracted.
    */
  def htmlExtractCtes(maxLinkDensity: Double = DefaultMaxLinkDensity,
                      idExpr: String = "doc_id"): String = {
    // duckdb string literals: backslashes are literal, only '' needs
    // escaping — WsPat's \t\r\n must stay as regex escapes
    def qp(p: String) = "'" + p.replace("'", "''") + "'"
    def strip(v: String) =
      s"trim(regexp_replace(regexp_replace($v, ${qp(TagPat)}, ' ', 'g'), ${qp(WsPat)}, ' ', 'g'))"
    def unesc(e: String) =
      s"replace(replace(replace(replace(replace($e, '&lt;', '<'), '&gt;', '>'), " +
        "'&quot;', '\"'), '&#39;', ''''), '&amp;', '&')"
    val blockTextSql = unesc(strip("b"))
    val linkTextSql = unesc(strip("l"))
    s"""WITH h AS (SELECT doc_id, ${wrapHtmlSql(idExpr, "text")} AS html FROM documents),
       |ns AS (SELECT doc_id,
       |    regexp_replace(regexp_replace(html, ${qp(ScriptPat)}, ' ', 'g'),
       |      ${qp(StylePat)}, ' ', 'g') AS html FROM h),
       |blk AS (SELECT doc_id, html,
       |    list_transform(regexp_split_to_array(html, ${qp(BlockSplitPat)}),
       |      b -> struct_pack(t := $blockTextSql,
       |        lc := coalesce(list_sum(list_transform(
       |          regexp_extract_all(b, ${qp(LinkTextPat)}, 1),
       |          l -> len($linkTextSql))), 0))) AS st
       |  FROM ns),
       |ne AS (SELECT doc_id, html,
       |    list_filter(st, s -> len(s.t) > 0) AS ne FROM blk),
       |agg AS (SELECT doc_id, html, ne,
       |    list_filter(ne, s -> cast(s.lc AS DOUBLE) <= $maxLinkDensity * cast(len(s.t) AS DOUBLE)) AS kept,
       |    coalesce(list_sum(list_transform(ne, s -> len(s.t))), 0) AS tot,
       |    coalesce(list_sum(list_transform(ne, s -> s.lc)), 0) AS lch
       |  FROM ne),
       |extracted AS (SELECT doc_id,
       |  array_to_string(list_transform(kept, s -> s.t), ' ') AS clean_text,
       |  cast(len(ne) AS INTEGER) AS n_blocks,
       |  cast(len(ne) - len(kept) AS INTEGER) AS n_dropped,
       |  cast(len(regexp_extract_all(html, ${qp(LinkTextPat)}, 1)) AS INTEGER) AS n_links,
       |  CASE WHEN tot > 0
       |    THEN round(cast(lch AS DOUBLE) / cast(tot AS DOUBLE), 6)
       |    ELSE 0.0 END AS link_density
       |FROM agg)""".stripMargin
  }
}
