package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Html
import graft.sources.Tables

/** The HTML extractor must (a) keep body prose and round-trip escaped
  * entities, (b) drop link-dense chrome blocks and script/style
  * wholesale, (c) degrade cleanly on malformed/nested/empty input, and
  * (d) stay a zero-shuffle map pass.
  */
class HtmlSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def extract(html: String*): Seq[org.apache.spark.sql.Row] =
    Html.htmlExtract(
      html.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("doc_id", "html"),
      "doc_id", "html")
      .orderBy("doc_id").collect().toSeq

  test("fixture page: nav/footer dropped, body prose kept, entities round-trip") {
    val docs = Tables.documents(spark, sf).limit(50)
    val wrapped = docs.select(col("doc_id"),
      Html.wrapHtml(col("doc_id"), col("text")).as("html"), col("text"))
    val out = Html.htmlExtract(wrapped, "doc_id", "html")
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
    // body text survives extraction verbatim modulo ws collapse
    val collapsed = trim(regexp_replace(col("text"), "[ \\t\\r\\n]+", " "))
    assert(out.filter(!col("clean_text").contains(collapsed)).count() == 0,
      "body prose lost or mangled by extraction")
    // nav ("Home About Contact") and footer links never leak
    assert(out.filter(col("clean_text").contains("Home About Contact")).count() == 0,
      "nav chrome leaked into clean text")
    assert(out.filter(col("clean_text").contains("var x=1")).count() == 0,
      "script content leaked into clean text")
    // page stats: 5 links on every fixture page, some block dropped
    assert(out.filter(col("n_links") =!= 5).count() == 0)
    assert(out.filter(col("n_dropped") < 1).count() == 0,
      "link-dense chrome was never dropped")
  }

  test("entity escape/unescape round-trips text containing markup characters") {
    val tricky = "a < b && b > c, \"quoted\" <p>not a tag</p>"
    val df = Seq((1L, tricky)).toDF("doc_id", "text")
    val out = Html.htmlExtract(
      df.select(col("doc_id"), Html.wrapHtml(col("doc_id"), col("text")).as("html")),
      "doc_id", "html").collect()(0)
    assert(out.getAs[String]("clean_text").contains(tricky),
      s"round-trip mangled: ${out.getAs[String]("clean_text")}")
  }

  test("malformed, nested, and empty HTML degrade cleanly") {
    val rows = extract(
      "",                                           // empty page
      "<p>unclosed everywhere <div><b>bold",        // never-closed tags
      "<div><div><p>deep <a href=x>link</a> text</p></div></div>", // nested
      "plain text, no tags at all",
      "<script>while(true){}</script>",             // script-only page
      "<p></p><div></div>",                         // only empty blocks
      "<a href=x>all</a> <a href=y>links</a>")      // pure-link page
    assert(rows.length == 7)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(0).getAs[String]("clean_text") == "")
    assert(byId(0).getAs[Double]("link_density") == 0.0)
    assert(byId(1).getAs[String]("clean_text").contains("unclosed everywhere"))
    assert(byId(2).getAs[String]("clean_text").contains("deep link text"))
    assert(byId(3).getAs[String]("clean_text") == "plain text, no tags at all")
    assert(byId(4).getAs[String]("clean_text") == "")
    assert(byId(5).getAs[Int]("n_blocks") == 0)
    // a pure-link page is all boilerplate: dropped, density ≈ 1
    // (the separator space between anchors is the only non-link char)
    assert(byId(6).getAs[String]("clean_text") == "")
    assert(byId(6).getAs[Double]("link_density") > 0.8)
    assert(byId(6).getAs[Int]("n_dropped") == byId(6).getAs[Int]("n_blocks"))
  }

  test("extraction is a zero-shuffle map pass") {
    val docs = Tables.documents(spark, sf)
    val out = Html.htmlExtract(
      docs.select(col("doc_id"),
        Html.wrapHtml(col("doc_id"), col("text")).as("html")),
      "doc_id", "html")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"html_extract shuffles:\n$plan")
  }

  test("url normalization: each canonicalization rule, alone and combined") {
    val cases = Seq(
      // scheme + host case, www, default port
      "HTTPS://WWW.Site.Example.com:443/a" -> "https://site.example.com/a",
      "http://www.site.org:80/x" -> "http://site.org/x",
      // non-default port survives
      "http://site.org:8080/x" -> "http://site.org:8080/x",
      // the OTHER scheme's default port is not this scheme's default:
      // http://h:443 and https://h:80 are distinct resources
      "http://site.org:443/x" -> "http://site.org:443/x",
      "https://site.org:80/x" -> "https://site.org:80/x",
      "ftp://site.org:80/x" -> "ftp://site.org:80/x",
      // trailing slash, fragment
      "https://site.org/path/" -> "https://site.org/path",
      "https://site.org/path#frag" -> "https://site.org/path",
      // tracking params stripped, the rest sorted; ? dropped when empty
      "https://site.org/p?utm_source=a&b=2&a=1&ref=rss" -> "https://site.org/p?a=1&b=2",
      "https://site.org/p?utm_campaign=x&fbclid=y&gclid=z" -> "https://site.org/p",
      // `ref` only as a whole param name: refresh=1 survives
      "https://site.org/p?refresh=1" -> "https://site.org/p?refresh=1",
      // path case preserved, host case folded
      "https://SITE.org/CasePath" -> "https://site.org/CasePath",
      // root: trailing slash strips to bare authority
      "https://site.org/" -> "https://site.org",
      // no scheme: pass-through minus fragment
      "not a url#frag" -> "not a url")
    val got = cases.map(_._1).toDF("url")
      .select(Html.urlNormalize(col("url")).as("n"))
      .as[String].collect().toSeq
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(g == want, s"normalize($in)")
    }
  }

  test("robots gate: directive table rule by rule, union, and non-binding tags") {
    def gate(html: String*) = Html.robotsGate(
      html.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("doc_id", "html"),
      "doc_id", "html")
      .orderBy("doc_id").collect()
      .map(r => (r.getInt(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
      .toSeq
    val page = (meta: String) => s"<html><head>$meta</head><body><p>x</p></body></html>"
    assert(gate(
      page("""<meta name="robots" content="noindex">"""),
      page("""<META NAME="ROBOTS" CONTENT="NOINDEX, NOFOLLOW">"""), // case + list
      page("""<meta content="nofollow" name="robots">"""),          // attr order
      page("""<meta name='robots' content='none'>"""),              // none = both
      page("""<meta name="googlebot" content="noindex">"""),        // UA tag: no bind
      page("""<meta name="robots" content="all">"""),
      page("""<meta name="description" content="noindex is a word">"""),
      page("""<meta name="robots" content="noarchive"><meta name="robots" content="noindex">"""),
      page(""),                                                      // no meta at all
      page("""<meta name="robots">""")                               // content-less
    ) == Seq(
      (1, true, false, false),
      (1, true, true, false),
      (1, false, true, true),
      (1, true, true, false),
      (0, false, false, true),
      (1, false, false, true),
      (0, false, false, true),
      (2, true, false, false),
      (0, false, false, true),
      (1, false, false, true)))
    // zero-shuffle map pass, like the extractor
    val docs = Tables.documents(spark, sf).limit(20)
    val plan = Html.robotsGate(
      docs.select(col("doc_id"),
        Html.wrapRobotsHtml(col("doc_id"), col("text")).as("html")),
      "doc_id", "html")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"robots gate shuffled:\n$plan")
  }

  test("robots.txt: RFC 9309 parse, group shadowing, longest-match, zero-shuffle frontier") {
    val robotsTxt =
      """# site robots
        |User-agent: graftbot
        |Disallow: /private
        |Allow: /private/ok
        |
        |User-agent: *
        |User-agent: otherbot
        |Disallow: /articles   # inline comment
        |Disallow:
        |""".stripMargin
    val robots = Seq(
      ("a.com", robotsTxt),
      // no graftbot group here: * applies
      ("b.com", "User-agent: *\nDisallow: /blocked\n"),
      ("c.com", "# nothing but comments\n")).toDF("host", "content")
    val rules = Html.robotsRules(robots, "host", "content")
    val got = rules.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("a.com", "graftbot", "disallow", "/private"),
      ("a.com", "graftbot", "allow", "/private/ok"),
      ("a.com", "*", "disallow", "/articles"),        // inline comment stripped
      ("a.com", "otherbot", "disallow", "/articles"), // consecutive UA lines share
      ("b.com", "*", "disallow", "/blocked")))        // empty Disallow: dropped
    val urls = Seq(
      (1L, "https://a.com/private/x"),    // graftbot group: blocked
      (2L, "https://a.com/private/ok/x"), // longest match: allow overrides
      (3L, "https://a.com/articles/y"),   // * group SHADOWED for graftbot: allowed
      (4L, "https://b.com/blocked/z"),    // * applies: blocked
      (5L, "https://b.com/open"),         // no matching rule: allowed
      (6L, "https://c.com/anything"),     // host with no rules: allowed
      (7L, "https://d.com/x")             // host with no robots.txt: allowed
    ).toDF("doc_id", "url")
    val out = Html.robotsFilter(urls, "doc_id", "url", rules, "graftbot")
    val byId = out.collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(byId == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false,
      5L -> true, 6L -> true, 7L -> true))
    // the frontier side must ride a broadcast join, never a sort-merge
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"frontier shuffled into a sort-merge join:\n$plan")
  }

  test("robots.txt: RFC 9309 wildcard and end-anchor pattern matching") {
    // kernel matrix — * matches any octet run (including '/'), a
    // TRAILING $ anchors the end, a mid-pattern $ is literal,
    // otherwise prefix semantics
    val m = graft.functions.GraftText.robotsMatch _
    def mm(path: String, pat: String) =
      m(org.apache.spark.unsafe.types.UTF8String.fromString(path),
        org.apache.spark.unsafe.types.UTF8String.fromString(pat))
    assert(mm("/abc", "/a*c$"))
    assert(mm("/abc", "/a*c"))
    assert(!mm("/abcd", "/a*c$"))
    assert(mm("/abcd", "/a*c"))
    assert(mm("/fish", "/fish$") && !mm("/fishing", "/fish$"))
    assert(mm("/a", "/a$") && !mm("/ab", "/a$"))
    assert(mm("/a$b", "/a$b")) // mid-pattern $ is literal
    assert(mm("/articles/item12", "/*/item1"))
    assert(mm("/articles/item12", "/*/item12$"))
    assert(!mm("/articles/item12x", "/*/item12$"))
    assert(mm("/x/item", "/*/item") && !mm("/x/yitem", "/*/item"))
    assert(mm("/a", "/a*") && mm("/ab", "/a*")) // star matches empty
    assert(mm("/a/b/c", "/*/*/c$")) // star crosses '/' and backtracks
    assert(mm("/über/item1", "/*/item1")) // multi-byte run under *
    assert(mm("/q", "/q*$") && !mm("/q!", "/q$*")) // $ special only last

    // end-to-end: specificity is the RAW pattern length (wildcards
    // count), allow wins length ties, $ splits exact-end from prefix
    val rules = Html.robotsRules(Seq(
      ("w.com", "User-agent: *\nDisallow: /p*q\nAllow: /p*q$\n" +
        "Disallow: /z*9\nAllow: /z*9\n")).toDF("host", "content"),
      "host", "content")
    val urls = Seq(
      (1L, "https://w.com/pXq"),  // both match; $ form longer: allowed
      (2L, "https://w.com/pXqZ"), // only the prefix form matches: blocked
      (3L, "https://w.com/z779"), // equal-length tie: allow wins
      (4L, "https://w.com/other") // no rule: allowed
    ).toDF("doc_id", "url")
    val out = Html.robotsFilter(urls, "doc_id", "url", rules, "graftbot")
    val byId = out.collect().map(r => r.getLong(0) ->
      (r.getBoolean(5), r.getString(3))).toMap
    assert(byId(1L) == (true, "/p*q$"))
    assert(byId(2L) == (false, "/p*q"))
    assert(byId(3L) == (true, "/z*9"))
    assert(byId(4L) == (true, ""))
    // the winner selection must be the native one-call kernel (which
    // byte-walks every rule internally), not a per-row regex compile
    // and not the interpreted filter/transform/array_max HOF chain
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("graft_robots_winner"), s"native winner missing:\n$plan")
    assert(!plan.toLowerCase.contains("rlike"), s"regex fallback in plan:\n$plan")
    assert(!plan.contains("array_max"), s"HOF winner back in the plan:\n$plan")
  }

  test("robots winner kernel ≡ composed HOF form (fixture + adversarial ties)") {
    // fixture rules (wildcards/anchors that BITE) + hand-built
    // adversarial arrays: equal-length allow/disallow ties, ties that
    // fall through to the rpath then rtype orderings, empty rule
    // arrays, no-match rows, hosts with no rules (null array), and
    // multi-byte paths
    val robots = Tables.documents(spark, sf).select(col("source")).distinct()
      .select(concat(col("source"), lit(".example.com")).as("host"),
        Html.wrapRobotsTxt(col("source")).as("content"))
    val rules = Html.robotsRuleArrays(
      Html.robotsRules(robots, "host", "content"), "graftbot")
    val frontier = Tables.documents(spark, sf).select(col("doc_id"),
      concat(lit("https://"), col("source"), lit(".example.com/articles/item"),
        col("doc_id")).as("url"))
    val canon = Html.urlNormalize(col("url"))
    val u = frontier.select(col("doc_id"),
      regexp_extract(canon, Html.HostOfUrlPat, 1).as("host"),
      regexp_extract(canon, Html.PathOfUrlPat, 1).as("path"))
      .join(broadcast(rules), col("host") === col("__rhost"), "left")
    val both = u.select(col("doc_id"),
      Html.robotsWinner(col("path"), col("__rules")).as("n"),
      ReferenceForms.robotsWinnerComposed(col("path"), col("__rules")).as("c"))
    assert(both.filter(!(col("n") <=> col("c"))).count() == 0,
      "native winner diverged from composed form on the fixture frontier")

    val adv = Seq(
      // equal length, allow vs disallow → allow (pref)
      ("/same", Seq(("disallow", "/same"), ("allow", "/sam*"))),
      // equal length AND pref → larger rpath wins (binary order)
      ("/ab", Seq(("allow", "/a*"), ("allow", "/ab"))),
      // identical rpath, rtype tie-break
      ("/t", Seq(("allow", "/t"), ("disallow", "/t"))),
      // no rule matches → null winner
      ("/nothing", Seq(("disallow", "/x"), ("allow", "/y$"))),
      // empty array → null winner
      ("/e", Seq.empty[(String, String)]),
      // multi-byte path under a wildcard
      ("/über/item1", Seq(("disallow", "/*/item1"), ("allow", "/*/item1$"))),
      // anchored vs prefix at same raw length
      ("/pq", Seq(("disallow", "/pq$"), ("allow", "/pq*")))
    ).toDF("path", "rules0")
      .select(col("path"), expr(
        "transform(rules0, r -> named_struct('rtype', r._1, 'rpath', r._2))")
        .as("__rules"))
    val advBoth = adv.select(col("path"),
      Html.robotsWinner(col("path"), col("__rules")).as("n"),
      ReferenceForms.robotsWinnerComposed(col("path"), col("__rules")).as("c"))
    val bad = advBoth.filter(!(col("n") <=> col("c"))).collect()
    assert(bad.isEmpty, s"adversarial divergence: ${bad.mkString("; ")}")
  }

  test("robots.txt directives: crawl-delay group shadowing, sitemaps are global") {
    val robots = Seq(
      ("a.com",
        "Sitemap: https://a.com/s2.xml\n" +
          "User-agent: graftbot\nCrawl-delay: 2\n\n" +
          "User-agent: *\nCrawl-delay: 9\n" +
          "Sitemap: https://a.com/s1.xml\n"),      // global even inside a group
      ("b.com", "User-agent: *\nCrawl-delay: 7\n"), // no graftbot group: * applies
      ("c.com", "User-agent: *\nDisallow: /x\n"),   // no delay, no sitemap
      // a graftbot group WITHOUT a delay shadows * entirely — the
      // delay is the 0.0 default, NOT inherited from *'s 7
      ("d.com",
        "User-agent: graftbot\nDisallow: /y\n\n" +
          "User-agent: *\nCrawl-delay: 7\n")
    ).toDF("host", "content")
    val got = Html.robotsDirectives(robots, "host", "content", "graftbot")
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got("a.com") ==
      ((2.0, 2, "https://a.com/s1.xml,https://a.com/s2.xml")))
    assert(got("b.com") == ((7.0, 0, "")))
    assert(got("c.com") == ((0.0, 0, "")))
    assert(got("d.com") == ((0.0, 0, "")))
  }

  test("sitemap parse: loc required, optional defaults, whitespace padding, zero shuffle") {
    val xml =
      """<?xml version="1.0"?><urlset>
        |<url><loc>  https://a.com/1  </loc><lastmod>2026-01-02</lastmod>
        |  <changefreq>daily</changefreq><priority>0.8</priority></url>
        |<url><loc>https://a.com/2</loc></url>
        |<url><changefreq>never</changefreq></url>
        |<url><loc>
        |https://a.com/3
        |</loc></url>
        |</urlset>""".stripMargin
    val out = Html.sitemapParse(Seq((7L, xml)).toDF("doc_id", "xml"), "doc_id", "xml")
      .orderBy("entry_no").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getString(3), r.getString(4), r.getDouble(5)))
      .toSeq
    assert(out == Seq(
      (0, "https://a.com/1", "2026-01-02", "daily", 0.8),
      (1, "https://a.com/2", "", "", 0.5),     // schema default priority
      // entry 2 has no <loc> → dropped (its position still consumed)
      (3, "https://a.com/3", "", "", 0.5)))    // newline padding trimmed
    val plan = Html.sitemapParse(
        Tables.documents(spark, sf).filter(col("doc_id") < 20).select(col("doc_id"),
          Html.wrapSitemap(col("doc_id"), col("source")).as("xml")),
        "doc_id", "xml")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sitemap parse shuffled:\n$plan")
  }

  test("sitemap index resolve: recursion, provenance, unindexed children dropped") {
    val idx =
      """<?xml version="1.0"?><sitemapindex>
        |<sitemap><loc>https://a.com/sm/1.xml</loc><lastmod>2026-02-01</lastmod></sitemap>
        |<sitemap><loc>https://a.com/sm/2.xml</loc></sitemap>
        |<sitemap><lastmod>2026-03-01</lastmod></sitemap>
        |</sitemapindex>""".stripMargin
    val child1 = "<urlset><url><loc>https://a.com/p1</loc><priority>0.9</priority></url>" +
      "<url><loc>https://a.com/p2</loc></url></urlset>"
    val child2 = "<urlset><url><loc>https://a.com/p3</loc></url></urlset>"
    val orphan = "<urlset><url><loc>https://a.com/p9</loc></url></urlset>"
    val index = Seq(("a.com", idx)).toDF("host", "xml")
    val children = Seq(
      ("https://a.com/sm/1.xml", child1),
      ("https://a.com/sm/2.xml", child2),
      ("https://a.com/sm/9.xml", orphan) // not in the index → dropped
    ).toDF("sm_loc", "sm_xml")
    val got = Html.sitemapIndexResolve(index, "host", "xml",
        children, "sm_loc", "sm_xml")
      .orderBy("sitemap_no", "entry_no").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getInt(4), r.getString(5), r.getDouble(8)))
      .toSeq
    assert(got == Seq(
      ("a.com", 0, "https://a.com/sm/1.xml", "2026-02-01", 0, "https://a.com/p1", 0.9),
      ("a.com", 0, "https://a.com/sm/1.xml", "2026-02-01", 1, "https://a.com/p2", 0.5),
      ("a.com", 1, "https://a.com/sm/2.xml", "", 0, "https://a.com/p3", 0.5)))
    // the index side must broadcast; the child corpus never sort-merges
    val plan = Html.sitemapIndexResolve(index, "host", "xml",
        children, "sm_loc", "sm_xml")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"children shuffled:\n$plan")
  }

  test("politeness schedule: per-host serial slots under each host's crawl delay") {
    val directives = Seq(("a.com", 2.0, 0, ""), ("b.com", 5.0, 0, ""))
      .toDF("host", "crawl_delay_sec", "n_sitemaps", "sitemaps")
    val urls = Seq(
      (1L, "https://a.com/x"), (2L, "https://b.com/y"),
      (3L, "https://a.com/z"), (4L, "https://c.com/no-robots"),
      (5L, "https://a.com/w"), (6L, "https://c.com/more")
    ).toDF("doc_id", "url")
    val got = Html.politenessSchedule(urls, "doc_id", "url", directives)
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getInt(3), r.getDouble(4))))
      .toMap
    assert(got == Map(
      1L -> (("a.com", 0, 0.0)), 3L -> (("a.com", 1, 2.0)), 5L -> (("a.com", 2, 4.0)),
      2L -> (("b.com", 0, 0.0)),
      4L -> (("c.com", 0, 0.0)), 6L -> (("c.com", 1, 1.0)))) // default 1s delay
  }

  test("politeness schedule maxPerHost: quota'd rows equal the unbounded schedule at slot < quota, planned through TopKPerKey") {
    val directives = Seq(("a.com", 2.0, 0, ""))
      .toDF("host", "crawl_delay_sec", "n_sitemaps", "sitemaps")
    // a.com is the mega-host (5 urls); b.com stays under the quota
    val urls = Seq(
      (1L, "https://a.com/1"), (2L, "https://a.com/2"), (3L, "https://a.com/3"),
      (4L, "https://a.com/4"), (5L, "https://a.com/5"),
      (6L, "https://b.com/1"), (7L, "https://b.com/2")
    ).toDF("doc_id", "url")
    val quotad = Html.politenessSchedule(urls, "doc_id", "url", directives,
      maxPerHost = 2)
    val full = Html.politenessSchedule(urls, "doc_id", "url", directives)
      .filter(col("slot") < 2)
    // the quota keeps each host's min-id urls and slots are id-ordered,
    // so quota-then-schedule ≡ schedule-then-filter — exactly
    assert(quotad.exceptAll(full).isEmpty && full.exceptAll(quotad).isEmpty)
    assert(quotad.groupBy("host").count()
      .filter(col("count") > 2).count() == 0)
    // the cut runs through the bounded TopKPerKey operator BEFORE the
    // per-host window shuffle (the measured mega-host skew mitigation)
    val plan = quotad.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"quota fell back to a window sort:\n$plan")
  }

  test("crawl discover composite: robots gate bites on discovered urls, slots contiguous") {
    val out = SparkEntry.queries("crawl_discover")(spark, sf)
    val rows = out.collect().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // the robots gate must have BITTEN: no surviving /page/1* URL on an
    // odd-length host (Disallow: /page/1) except the /page/13*
    // carve-out, and no /page/2* on an even-length host except the
    // /page/23* prefix carve-out and the anchored-wildcard
    // `Allow: /page/2*4$` re-admissions; the odd-length hosts' new
    // `Disallow: /page/4*2$` must also have fired
    def path(u: String) = u.replaceAll("^https://[^/]*", "")
    rows.foreach { case (url, host, _, _) =>
      val src = host.stripSuffix(".example.com")
      val p = path(url)
      if (src.length % 2 == 0)
        assert(!p.startsWith("/page/2") || p.startsWith("/page/23") ||
          (p.startsWith("/page/2") && p.endsWith("4")),
          s"graftbot-blocked url admitted: $url")
      else {
        assert(!p.startsWith("/page/1") || p.startsWith("/page/13"),
          s"*-blocked url admitted: $url")
        assert(!(p.startsWith("/page/4") && p.endsWith("2")),
          s"wildcard-blocked url admitted: $url")
      }
    }
    // at least one discovered URL was actually dropped by the gate
    val discovered = SparkEntry.queries("sitemap_index")(spark, sf)
      .select(col("loc")).distinct().count()
    assert(rows.length < discovered, "robots gate never fired on the fixture")
    // slots are contiguous 0..n-1 per host and offsets = slot * delay
    rows.groupBy(_._2).foreach { case (host, hs) =>
      val slots = hs.map(_._3).sorted
      assert(slots.toSeq == (0 until hs.length), s"slot gap on $host")
      // fixture schedule: even-length hosts have a graftbot group,
      // whose Crawl-delay: 2 appears only when the source's last digit
      // is divisible by 3 — a delay-less graftbot group SHADOWS *'s 5
      // and yields the 0.0 default; odd-length hosts fall to *'s 5
      val src = host.stripSuffix(".example.com")
      val delay =
        if (src.length % 2 == 0)
          (if ("0369".contains(src.last)) 2.0 else 0.0)
        else 5.0
      hs.foreach { case (_, _, slot, off) => assert(off == slot * delay) }
    }
  }

  test("recrawl schedule: frequency intervals, never-crawled due, never not due, " +
      "future lastmod not due, malformed/null/tz lastmod never throws") {
    val entries = Seq(
      ("h", "u1", "2026-01-15", "daily"),   // age 45 >= 1: due
      ("h", "u2", "2026-02-25", "weekly"),  // age 4 < 7: not due
      ("h", "u3", "2026-01-15", "monthly"), // age 45 >= 30: due
      ("h", "u4", "2026-02-15", "monthly"), // age 14 < 30: not due
      ("h", "u5", "", "daily"),             // never crawled: due
      ("h", "u6", "2026-01-15", "never"),   // never recrawl: not due
      ("h", "u7", "2026-05-15", "daily"),   // future lastmod: not due
      ("h", "u8", "2026-01-15", "always"),  // 1-day floor: due
      ("h", "u9", "2026-01-15", ""),        // default 7: due
      ("h", "u10", null, "daily"),          // NULL lastmod: never crawled, due
      ("h", "u11", "not-a-date", "never"),  // junk: 99999 path, never wins
      ("h", "u12", "2026-01-15+02:00", "daily"),          // tz suffix: ages by date part
      ("h", "u13", "2026-02-25T10:00:00Z", "weekly")      // W3C datetime: age 4 < 7
    ).toDF("host", "loc", "lastmod", "changefreq")
    val got = Html.recrawlSchedule(entries, "lastmod", "changefreq", "2026-03-01")
      .collect().map(r => r.getAs[String]("loc") ->
        ((r.getAs[Int]("interval_days"), r.getAs[Int]("age_days"), r.getAs[Boolean]("due")))).toMap
    assert(got == Map(
      "u1" -> ((1, 45, true)), "u2" -> ((7, 4, false)), "u3" -> ((30, 45, true)),
      "u4" -> ((30, 14, false)), "u5" -> ((1, 99999, true)), "u6" -> ((-1, 45, false)),
      "u7" -> ((1, -75, false)), "u8" -> ((1, 45, true)), "u9" -> ((7, 45, true)),
      "u10" -> ((1, 99999, true)), "u11" -> ((-1, 99999, false)),
      "u12" -> ((1, 45, true)), "u13" -> ((7, 4, false))))
  }

  test("url dedup groups spelling variants under one canonical survivor") {
    val pages = Seq(
      (1L, "https://site.org/a?id=1"),
      (2L, "HTTPS://www.site.org/a/?id=1&utm_source=x#top"), // same as 1
      (3L, "https://site.org/a?id=2")
    ).toDF("doc_id", "url")
    val out = Html.urlDedup(pages, "doc_id", "url")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      "https://site.org/a?id=1" -> ((1L, 2L)),
      "https://site.org/a?id=2" -> ((3L, 1L))))
  }
}
