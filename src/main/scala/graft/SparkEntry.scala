package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AnnSpec, Curation, Dedup, Html, Links, MapReduceOps, Multimodal, Relational, Scoring, Similarity, TextAnalysis}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every query is deterministic and oracle-comparable: fp sums run on
  * decimal internally (order-independent), orderings always carry a
  * unique tiebreak, and hashes are md5-derived (engine-portable).
  *
  * §2A queries re-express cooler-MapReduce's shipped workloads
  * (reference `shared/samples/word_count.py`, `weather_stats.py`,
  * `design.md:264-287`); §2B/§2C extend to the analytics and
  * training-data surface described in SURVEY.md.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  // ---- §2A: reference MapReduce surface ------------------------------------

  private val grepPattern = "stream (join|merge)"
  private val rawGrepPattern = "fox(es)? jump"

  /** The reference's own sample inputs (read-only), ingested through the
    * raw text/CSV source path — newline-delimited text and a headered
    * CSV are cooler-MapReduce's native input formats
    * (reference `src/worker/task_executor.py:103-160`,
    * `shared/samples/story_medium.txt`, `shared/samples/weather.csv`).
    */
  private val RawStoryPath   = "/root/reference/shared/samples/story_medium.txt"
  private val RawWeatherPath = "/root/reference/shared/samples/weather.csv"

  private def rawWeather(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("temperature", DoubleType),
      StructField("humidity", DoubleType),
      StructField("pressure", DoubleType)))
    graft.sources.Formats.readCsv(s, RawWeatherPath, schema)
      .selectExpr("stack(3, 'temperature', temperature, 'humidity', humidity, " +
        "'pressure', pressure) AS (measurement, value)")
  }

  private val aQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_wordcount" -> ((s, d) =>
      MapReduceOps.wordCount(Tables.documents(s, d), "text")),
    "mr_grep" -> ((s, d) =>
      MapReduceOps.grep(Tables.documents(s, d), "text", grepPattern)
        .select(col("doc_id"), col("source"), col("n_chars"))),
    "mr_inverted_index" -> ((s, d) =>
      MapReduceOps.invertedIndex(Tables.documents(s, d), "doc_id", "text")),
    "mr_key_stats" -> ((s, d) =>
      MapReduceOps.keyStats(Tables.events(s, d), "event_type", "value")),
    "mr_distributed_sort" -> ((s, d) =>
      MapReduceOps.distributedSort(Tables.events(s, d),
        Seq(col("value").desc, col("event_id")),
        Seq(col("event_id"), col("value")))),
    "mr_combiner_agg" -> ((s, d) =>
      MapReduceOps.combinerAgg(Tables.events(s, d), "user_id", "value")),
    "mr_secondary_sort" -> ((s, d) =>
      MapReduceOps.secondarySort(Tables.events(s, d), "user_id", "ts", "event_id", 5)),
    // raw-file ingestion: the reference's native input formats end-to-end
    "raw_wordcount" -> ((s, _) =>
      MapReduceOps.wordCount(graft.sources.Formats.readText(s, RawStoryPath), "value")),
    // LINE-level grep — the reference's actual grep contract emits
    // matching lines, not documents (reference design.md:276-278);
    // mr_grep above keeps the document-level variant for the tables
    "raw_grep" -> ((s, _) =>
      MapReduceOps.grep(graft.sources.Formats.readText(s, RawStoryPath),
          "value", rawGrepPattern)
        .select(col("value").as("line"))),
    "raw_weather_stats" -> ((s, _) =>
      MapReduceOps.keyStats(rawWeather(s), "measurement", "value")),
    // WARC-style record ingestion (A11): one raw multi-record file →
    // a documents table, records split at blank-line delimiters INSIDE
    // the scan (Spark text lineSep), ids content-addressed — the step
    // that feeds A8's pipeline at corpus scale. The fixture file is
    // generated once from the reference story (100-line records joined
    // by blank lines — driver-side, it's a 1 MB fixture build); the
    // oracle recomputes the SAME grouping from the story directly, so
    // the compare proves the write → delimiter-split → read round trip.
    "raw_corpus_ingest" -> ((s, _) => {
      buildRawIngestFixture()
      graft.sources.Formats.readRecords(s, "target/raw_ingest/corpus.txt")
        .select(col("record_id"), col("text"),
          length(col("text")).as("n_chars"),
          size(TextFunctions.tokens(col("text"))).as("n_tokens"))
    }),
    // WARC container ingestion (A12): the Common-Crawl shape — the
    // story's 100-line records wrapped in real WARC/1.0 named headers
    // (fixture build driver-side, ~1 MB), then readWarc splits records
    // at the version-line boundary INSIDE the scan and parses headers
    // + payload per-row, zero shuffle. The oracle re-parses the SAME
    // generated file in SQL, proving the split + header grammar.
    "warc_ingest" -> ((s, _) => {
      buildWarcFixture()
      graft.sources.Formats.readWarc(s, WarcFixturePath)
        .select(col("record_id"), col("warc_type"), col("warc_date"),
          col("target_uri"), col("content_type"), col("content_length"),
          col("length_ok"), col("block"))
    }),
    // gzip-member WARC ingestion (A14): the .warc.gz distribution
    // layout — per-file decompression, then the same split + parse;
    // the oracle is the PLAIN twin's SQL chain, so the compare proves
    // gz path ≡ plain path record for record
    "warc_gz_ingest" -> ((s, _) => {
      buildWarcGzFixture()
      graft.sources.Formats.readWarcGz(s, WarcGzFixturePath)
        .select(col("record_id"), col("warc_type"), col("warc_date"),
          col("target_uri"), col("content_type"), col("content_length"),
          col("length_ok"), col("block"))
    }),
    // HTTP responses inside WARC blocks (A13): the Common-Crawl payload
    // shape — status line, HTTP headers, body split out of each
    // response block; the block's own \r\n\r\n exercises warcParse's
    // substring-not-split contract for real
    "warc_http" -> ((s, _) => {
      buildWarcHttpFixture()
      graft.sources.Formats.httpParse(
        graft.sources.Formats.readWarc(s, WarcHttpFixturePath), "block")
        .select(col("record_id"), col("target_uri"), col("status"),
          col("http_content_type"), col("http_content_length"),
          col("body_ok"), col("body"))
    }),
    // redirect-chain resolution (A16): follow 3xx Location targets
    // to each URI's final address (the canonicalization step BEFORE
    // url_dedup); fixture plants 1/2-hop chains, a 5-hop run, a self
    // loop, and a dangling external target — every resolution class
    "redirect_resolve" -> ((s, _) => {
      buildWarcRedirectFixture()
      val fetches = graft.sources.Formats.httpParse(
        graft.sources.Formats.readWarc(s, WarcRedirectFixturePath), "block")
      Links.redirectResolve(fetches, "target_uri", "status", "http_location")
    }),
    // the fetch-layer COMPOSITE (A17) in one declarative plan: parse
    // the WARC fetch log → split out HTTP → resolve redirect chains →
    // keep in-corpus landings → collapse onto canonical FINAL urls
    // (first-seen source survives, as url_dedup) → rejoin each
    // landing page's own fetch for its status and payload size. What
    // a crawler's post-fetch canonicalization actually runs end-to-end
    "fetch_pipeline" -> ((s, _) => {
      buildWarcRedirectFixture()
      val fetches = graft.sources.Formats.httpParse(
        graft.sources.Formats.readWarc(s, WarcRedirectFixturePath), "block")
      val res = Links.redirectResolve(fetches, "target_uri", "status",
        "http_location")
      val landed = res.filter(col("resolution") =!= "exceeded" &&
        col("final_in_corpus"))
      // TRUE canonical collapse: group by canonical_url ALONE — two
      // distinct final URIs that normalize to the same canonical (the
      // fixture plants the :443/page/77 port variant) fold into ONE
      // row; the landing fetch joins through the min(final_uri)
      // representative, matching url_dedup's first-survivor policy.
      val collapsed = landed
        .groupBy(Html.urlNormalize(col("final_uri")).as("canonical_url"))
        .agg(count(lit(1)).as("n_sources"),
          min(col("start_uri")).as("first_source"),
          max(col("n_hops")).as("max_hops"),
          min(col("final_uri")).as("__rep"))
      val pages = fetches.select(col("target_uri").as("__fu"),
        col("status").as("landing_status"),
        octet_length(col("body")).as("body_bytes"))
      collapsed.join(pages, col("__rep") === col("__fu"))
        .select(col("canonical_url"), col("n_sources"), col("first_source"),
          col("max_hops"), col("landing_status"), col("body_bytes"))
    }),
    // fetch-layer snapshot dedup (A15): the WARC revisit mechanic —
    // classify every URI across two crawl snapshots by payload digest
    // (new / unchanged / changed / gone); snapshot B mutates, drops,
    // and adds records on a deterministic schedule. The oracle
    // re-parses BOTH generated files with the shared WARC SQL chain.
    "warc_revisit" -> ((s, _) => {
      buildWarcFixture()
      buildWarcBFixture()
      graft.sources.Formats.revisitClassify(
        graft.sources.Formats.readWarc(s, WarcFixturePath),
        graft.sources.Formats.readWarc(s, WarcBFixturePath))
    }),
  )

  private val WarcFixturePath = "/root/repo/target/warc_ingest/corpus.warc"

  /** Atomically publish a fixture file: write a uniquely-named temp
    * sibling, then ATOMIC_MOVE over the target — Bench's thread pool
    * runs warc_ingest and warc_gz_ingest concurrently and both
    * (re)build the shared corpus.warc, so a plain writeString could be
    * read mid-truncation. The unique temp name keeps two concurrent
    * builders from interleaving on the SAME temp file; each publishes
    * a complete byte-identical fixture.
    */
  private def writeFixtureAtomic(path: String, bytes: Array[Byte]): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(
      p.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID())
    java.nio.file.Files.write(tmp, bytes)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Build-once latch for the raw-ingest fixture (lazy val = JVM-wide
    * synchronized once). The blank-line `require` enforces the split
    * invariant raw_corpus_ingest's oracle assumes: records are joined
    * with \n\n and re-split on \n\n, so a blank line INSIDE a record
    * would silently diverge the Spark split from the oracle's
    * algebraic 100-line grouping.
    */
  private lazy val rawIngestFixtureBuilt: Unit = {
    val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(RawStoryPath))
    val lines = raw.split("\n", -1)
    require(lines.forall(_.nonEmpty),
      s"$RawStoryPath contains blank lines — records would embed the \\n\\n delimiter")
    val recs = lines.grouped(100).map(_.mkString("\n")).toSeq
    writeFixtureAtomic("target/raw_ingest/corpus.txt",
      recs.mkString("\n\n").getBytes("UTF-8"))
  }
  private def buildRawIngestFixture(): Unit = rawIngestFixtureBuilt

  /** Deterministic WARC/1.0 fixture from the reference story: each
    * 100-line record becomes one `response`/`request`/`metadata`
    * record (i%3) with uuid-shaped ids, minute-stepped dates, and a
    * byte-accurate Content-Length. Idempotent rebuild.
    */
  private def warcRecords(): Seq[String] = {
    val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(RawStoryPath))
    val blocks = raw.split("\n", -1).grouped(100).map(_.mkString("\n")).toSeq
    val types = Seq("response", "request", "metadata")
    blocks.zipWithIndex.map { case (b, i) =>
      s"WARC/1.0\r\n" +
        f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-${i}%012d>\r\n" +
        s"WARC-Type: ${types(i % 3)}\r\n" +
        f"WARC-Date: 2026-01-01T${i / 60}%02d:${i % 60}%02d:00Z\r\n" +
        s"WARC-Target-URI: https://crawl.example.com/page/$i\r\n" +
        "Content-Type: text/plain\r\n" +
        s"Content-Length: ${b.getBytes("UTF-8").length}\r\n" +
        s"\r\n$b\r\n\r\n"
    }
  }

  private lazy val warcFixtureBuilt: Unit =
    writeFixtureAtomic(WarcFixturePath,
      warcRecords().mkString("").getBytes("UTF-8"))
  private def buildWarcFixture(): Unit = warcFixtureBuilt

  private val WarcGzFixturePath = "/root/repo/target/warc_gz/corpus.warc.gz"

  /** The SAME records as [[buildWarcFixture]], compressed one gzip
    * MEMBER per record (the Common-Crawl .warc.gz layout) — the gz
    * reader must produce byte-identical results to the plain reader,
    * which is exactly what its oracle (the plain file's SQL twin)
    * checks.
    */
  private lazy val warcGzFixtureBuilt: Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    warcRecords().foreach { r =>
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(r.getBytes("UTF-8"))
      g.finish() // member trailer, underlying stream stays open
    }
    writeFixtureAtomic(WarcGzFixturePath, bos.toByteArray)
  }
  private def buildWarcGzFixture(): Unit = { buildWarcFixture(); warcGzFixtureBuilt }

  private val WarcBFixturePath = "/root/repo/target/warc_revisit/corpus_b.warc"

  /** Snapshot B of the WARC fixture — the SAME uris/types/blocks as
    * [[warcRecords]] except: records dropped where i%11==0 (`gone`),
    * blocks edited where i%5==0 (`changed`), three fresh uris appended
    * (`new`); dates/ids advanced to the February recrawl.
    */
  private lazy val warcBFixtureBuilt: Unit = {
    val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(RawStoryPath))
    val blocks = raw.split("\n", -1).grouped(100).map(_.mkString("\n")).toSeq
    val types = Seq("response", "request", "metadata")
    val recs = blocks.zipWithIndex.filter(_._2 % 11 != 0).map { case (b0, i) =>
      val b = if (i % 5 == 0) b0 + "\n[edited in snapshot B]" else b0
      s"WARC/1.0\r\n" +
        f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0003-${i}%012d>\r\n" +
        s"WARC-Type: ${types(i % 3)}\r\n" +
        f"WARC-Date: 2026-02-01T${i / 60}%02d:${i % 60}%02d:00Z\r\n" +
        s"WARC-Target-URI: https://crawl.example.com/page/$i\r\n" +
        "Content-Type: text/plain\r\n" +
        s"Content-Length: ${b.getBytes("UTF-8").length}\r\n" +
        s"\r\n$b\r\n\r\n"
    } ++ (0 until 3).map { j =>
      val b = s"fresh page $j from snapshot B"
      "WARC/1.0\r\n" +
        f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0004-${j}%012d>\r\n" +
        "WARC-Type: response\r\n" +
        s"WARC-Date: 2026-02-01T12:0$j:00Z\r\n" +
        s"WARC-Target-URI: https://crawl.example.com/page/new$j\r\n" +
        "Content-Type: text/plain\r\n" +
        s"Content-Length: ${b.getBytes("UTF-8").length}\r\n" +
        s"\r\n$b\r\n\r\n"
    }
    writeFixtureAtomic(WarcBFixturePath, recs.mkString("").getBytes("UTF-8"))
  }
  private def buildWarcBFixture(): Unit = warcBFixtureBuilt

  private val WarcRedirectFixturePath = "/root/repo/target/warc_redirect/corpus.warc"

  /** Fetch-log fixture for redirect resolution: 241 HTTP responses at
    * /page/i with a deterministic redirect schedule — i==36 self-loop
    * (302), i==72 dangling external 307 (72%16==8 in the status
    * cycle), i==76 a 308 onto the :443 port-variant of page/77 (two
    * distinct final URIs normalizing to ONE canonical — keeps
    * fetch_pipeline's canonical collapse live at oracle level; record
    * 240 is that variant's own 200 fetch so it lands in-corpus), i in
    * [200,216]∩4Z a 301 run (200/204 exceed 4 hops, 208 resolves at
    * exactly 4), other multiples of 4 redirect 1-2 hops with the
    * status cycling 301/302/307/308 by i%16, everything else
    * 200-terminal.
    */
  private lazy val warcRedirectFixtureBuilt: Unit = {
    def page(n: Int) = s"https://crawl.example.com/page/$n"
    val portVariant = "https://crawl.example.com:443/page/77"
    val recs = (0 to 240).map { i =>
      val loc: Option[String] =
        if (i == 36) Some(page(36))
        else if (i == 72) Some(page(9999))
        else if (i == 76) Some(portVariant)
        else if (i == 240) None
        else if (i % 4 == 0 && i >= 200 && i <= 216) Some(page(i + 4))
        else if (i % 4 == 0) Some(page(i + (if (i % 8 == 0) 4 else 2)))
        else None
      val (status, reason) = loc match {
        case None => (200, "OK")
        case Some(_) => (i % 16) match {
          case 0  => (301, "Moved Permanently")
          case 8  => (307, "Temporary Redirect")
          case 12 => (308, "Permanent Redirect")
          case _  => (302, "Found")
        }
      }
      val b = if (loc.isDefined) "moved" else s"content of page $i"
      val http = s"HTTP/1.1 $status $reason\r\n" +
        loc.map(l => s"Location: $l\r\n").getOrElse("") +
        "Content-Type: text/plain\r\n" +
        s"Content-Length: ${b.getBytes("UTF-8").length}\r\n" +
        s"\r\n$b"
      s"WARC/1.0\r\n" +
        f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0005-${i}%012d>\r\n" +
        "WARC-Type: response\r\n" +
        f"WARC-Date: 2026-01-03T${i / 60}%02d:${i % 60}%02d:00Z\r\n" +
        s"WARC-Target-URI: ${if (i == 240) portVariant else page(i)}\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.getBytes("UTF-8").length}\r\n" +
        s"\r\n$http\r\n\r\n"
    }
    writeFixtureAtomic(WarcRedirectFixturePath, recs.mkString("").getBytes("UTF-8"))
  }
  private def buildWarcRedirectFixture(): Unit = warcRedirectFixtureBuilt

  private val WarcHttpFixturePath = "/root/repo/target/warc_http/corpus.warc"

  /** WARC/1.0 fixture whose blocks are real HTTP responses: status
    * line (404 on i%7==3), HTTP headers with a byte-accurate HTTP
    * Content-Length, blank line, body — the block's internal
    * `\r\n\r\n` is the point. Idempotent rebuild.
    */
  private def buildWarcHttpFixture(): Unit = warcHttpFixtureBuilt
  private lazy val warcHttpFixtureBuilt: Unit = {
    val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(RawStoryPath))
    val blocks = raw.split("\n", -1).grouped(100).map(_.mkString("\n")).toSeq
    val recs = blocks.zipWithIndex.map { case (b, i) =>
      val (status, reason) = if (i % 7 == 3) (404, "Not Found") else (200, "OK")
      val http = s"HTTP/1.1 $status $reason\r\n" +
        "Content-Type: text/plain; charset=UTF-8\r\n" +
        s"Content-Length: ${b.getBytes("UTF-8").length}\r\n" +
        "Server: graft-fixture\r\n" +
        s"\r\n$b"
      s"WARC/1.0\r\n" +
        f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0001-${i}%012d>\r\n" +
        "WARC-Type: response\r\n" +
        f"WARC-Date: 2026-01-02T${i / 60}%02d:${i % 60}%02d:00Z\r\n" +
        s"WARC-Target-URI: https://crawl.example.com/page/$i\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.getBytes("UTF-8").length}\r\n" +
        s"\r\n$http\r\n\r\n"
    }
    writeFixtureAtomic(WarcHttpFixturePath, recs.mkString("").getBytes("UTF-8"))
  }

  private def tok = TextFunctions.tokensSql("text")

  /** The WARC split + header-parse chain as a WITH-prefix ending in a
    * `<prefix>p` CTE (record_id, warc_type, wd, target_uri,
    * content_type, content_length, block) — shared by the warc_ingest
    * and warc_http oracles; reserved CTE names {prefix}f/recs/norm/sp/p
    * (pass a prefix to compose two snapshots in one query).
    */
  private def warcCtes(path: String, prefix: String = ""): String =
    s"""WITH ${prefix}f AS (SELECT content FROM read_text('$path')),
       |${prefix}recs AS (SELECT unnest(string_split(content,
       |    chr(13)||chr(10)||chr(13)||chr(10)||'WARC/1.0'||chr(13)||chr(10))) AS r0 FROM ${prefix}f),
       |${prefix}norm AS (SELECT regexp_replace(regexp_replace(r0,
       |    '^WARC/1\\.0\r\n', ''), '[\r\n]+$$', '') AS rec FROM ${prefix}recs),
       |${prefix}sp AS (SELECT rec,
       |    string_split(rec, chr(13)||chr(10)||chr(13)||chr(10))[1] AS hdr
       |  FROM ${prefix}norm WHERE rec <> ''),
       |${prefix}p AS (SELECT
       |    regexp_extract(hdr, '(?im)^WARC-Record-ID:[ \t]*([^\r\n]*)', 1) AS record_id,
       |    regexp_extract(hdr, '(?im)^WARC-Type:[ \t]*([^\r\n]*)', 1) AS warc_type,
       |    regexp_extract(hdr, '(?im)^WARC-Date:[ \t]*([^\r\n]*)', 1) AS wd,
       |    regexp_extract(hdr, '(?im)^WARC-Target-URI:[ \t]*([^\r\n]*)', 1) AS target_uri,
       |    regexp_extract(hdr, '(?im)^Content-Type:[ \t]*([^\r\n]*)', 1) AS content_type,
       |    cast(regexp_extract(hdr, '(?im)^Content-Length:[ \t]*([^\r\n]*)', 1) AS bigint) AS content_length,
       |    substring(rec, length(hdr) + 5) AS block
       |  FROM ${prefix}sp)""".stripMargin

  /** Redirect-resolution oracle chain over the A16 fixture, ending in
    * `res(start_uri, final_uri, n_hops, resolution, final_in_corpus)`;
    * `hh` keeps the raw block for the fetch_pipeline landing join.
    */
  private def redirectResolveCtes: String = {
    val loc = "regexp_extract(hsec, '(?im)^Location:[ \\t]*([^\\r\\n]*)', 1)"
    val hops = (0 until 4).map { h =>
      s"""r${h + 1} AS (SELECT start_uri,
         |    CASE WHEN nxt IS NOT NULL THEN nxt ELSE final_uri END AS final_uri,
         |    CASE WHEN nxt IS NOT NULL THEN rn END AS nxt,
         |    n_hops + CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS n_hops
         |  FROM r$h LEFT JOIN red ON r$h.nxt = red.ru)""".stripMargin
    }.mkString(",\n")
    s"""${warcCtes(WarcRedirectFixturePath)},
       |hh AS (SELECT target_uri, block,
       |    CASE WHEN regexp_matches(block, '^HTTP/[0-9.]+ [0-9]{3}')
       |      THEN string_split(block, chr(13)||chr(10)||chr(13)||chr(10))[1]
       |      ELSE '' END AS hsec
       |  FROM p),
       |m AS (SELECT target_uri AS u,
       |    CASE WHEN try_cast(regexp_extract(hsec, '^HTTP/[0-9.]+ ([0-9]{3})', 1)
       |            AS INTEGER) IN (301, 302, 303, 307, 308)
       |          AND $loc <> ''
       |      THEN $loc END AS n
       |  FROM hh),
       |red AS (SELECT u AS ru, n AS rn FROM m WHERE n IS NOT NULL),
       |r0 AS (SELECT u AS start_uri, u AS final_uri, n AS nxt, 0 AS n_hops FROM m),
       |$hops,
       |res AS (SELECT r4.start_uri, r4.final_uri, r4.n_hops,
       |    CASE WHEN n_hops = 0 THEN 'direct'
       |         WHEN nxt IS NOT NULL THEN 'exceeded'
       |         ELSE 'resolved' END AS resolution,
       |    c.u IS NOT NULL AS final_in_corpus
       |  FROM r4 LEFT JOIN (SELECT DISTINCT u FROM m) c ON r4.final_uri = c.u)""".stripMargin
  }

  private val aOracles: Map[String, String] = Map(
    "mr_wordcount" ->
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest($tok) AS word FROM documents)
         |GROUP BY word""".stripMargin,
    "mr_grep" ->
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE regexp_matches(text, '$grepPattern')""".stripMargin,
    // posting lists are capped at the first 1000 doc ids (ascending) —
    // the bounded-state contract of MapReduceOps.invertedIndex; n_docs
    // stays the full distinct count
    "mr_inverted_index" ->
      s"""SELECT word,
         |  array_to_string(list_sort(list(DISTINCT doc_id))[1:1000], ',') AS doc_ids,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, unnest($tok) AS word FROM documents)
         |GROUP BY word""".stripMargin,
    "mr_key_stats" ->
      """SELECT event_type,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) / count(*) AS avg_value,
        |  min(value) AS min_value, max(value) AS max_value, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "mr_distributed_sort" ->
      """SELECT event_id, value,
        |  row_number() OVER (ORDER BY value DESC, event_id) AS pos
        |FROM events""".stripMargin,
    "mr_combiner_agg" ->
      """SELECT user_id,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value,
        |  count(*) AS n
        |FROM events GROUP BY user_id""".stripMargin,
    "mr_secondary_sort" ->
      """SELECT user_id,
        |  array_to_string(list(cast(event_id AS varchar) ORDER BY ts, event_id)[1:5], ',') AS first_values,
        |  count(*) AS n_values
        |FROM events GROUP BY user_id""".stripMargin,
    // whitespace tokenization is line-break agnostic, so tokens over the
    // whole file (read_text) equal Spark's per-line tokens exactly
    "raw_wordcount" ->
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest(${TextFunctions.tokensSql("content")}) AS word
         |      FROM read_text('$RawStoryPath'))
         |GROUP BY word""".stripMargin,
    // duplicates matter: identical matching lines appear once per
    // occurrence on both engines (the driver compare is multiset); the
    // regex split mirrors Spark's text source, which terminates lines
    // on \n, \r\n AND lone \r — a CRLF re-checkout of the sample file
    // must not break parity
    "raw_grep" ->
      s"""SELECT line FROM (
         |  SELECT unnest(string_split_regex(content, '\\r\\n|\\r|\\n')) AS line
         |  FROM read_text('$RawStoryPath'))
         |WHERE regexp_matches(line, '$rawGrepPattern')""".stripMargin,
    // the oracle never reads the generated file: it regroups the story
    // lines with the same 100-line/blank-line-join algebra the query's
    // fixture builder uses, so equality proves the whole
    // write → lineSep-split → read round trip. The [^ \t\r\n] filter
    // is the same explicit class the Spark side uses (\S differs
    // between engines).
    "raw_corpus_ingest" ->
      s"""WITH f AS (SELECT string_split(content, chr(10)) AS ls
         |  FROM read_text('$RawStoryPath')),
         |ln AS (SELECT unnest(list_transform(ls,
         |    (x, i) -> struct_pack(i := i, line := x))) AS s FROM f),
         |rec AS (SELECT array_to_string(list(s.line ORDER BY s.i), chr(10)) AS text
         |  FROM ln GROUP BY (s.i - 1) // 100)
         |SELECT md5(text) AS record_id, text,
         |  cast(length(text) AS integer) AS n_chars,
         |  cast(len(${TextFunctions.tokensSql("text")}) AS integer) AS n_tokens
         |FROM rec
         |WHERE regexp_matches(text, '[^ \t\r\n]')""".stripMargin,
    "warc_ingest" ->
      s"""${warcCtes(WarcFixturePath)}
         |SELECT record_id, warc_type, cast(wd AS timestamp) AS warc_date,
         |  target_uri, content_type, content_length,
         |  (strlen(block) = content_length) AS length_ok, block
         |FROM p""".stripMargin,
    "warc_gz_ingest" ->
      s"""${warcCtes(WarcFixturePath)}
         |SELECT record_id, warc_type, cast(wd AS timestamp) AS warc_date,
         |  target_uri, content_type, content_length,
         |  (strlen(block) = content_length) AS length_ok, block
         |FROM p""".stripMargin,
    "warc_http" ->
      s"""${warcCtes(WarcHttpFixturePath)},
         |hh AS (SELECT p.*,
         |    CASE WHEN regexp_matches(block, '^HTTP/[0-9.]+ [0-9]{3}')
         |      THEN string_split(block, chr(13)||chr(10)||chr(13)||chr(10))[1]
         |      ELSE '' END AS hsec
         |  FROM p),
         |hb AS (SELECT hh.*,
         |    CASE WHEN hsec <> '' THEN substring(block, length(hsec) + 5)
         |      ELSE block END AS body
         |  FROM hh)
         |SELECT record_id, target_uri,
         |  cast(CASE WHEN regexp_extract(hsec, '^HTTP/[0-9.]+ ([0-9]{3})', 1) = ''
         |    THEN NULL ELSE regexp_extract(hsec, '^HTTP/[0-9.]+ ([0-9]{3})', 1)
         |    END AS INTEGER) AS status,
         |  regexp_extract(hsec, '(?im)^Content-Type:[ \t]*([^\r\n]*)', 1) AS http_content_type,
         |  cast(CASE WHEN regexp_extract(hsec, '(?im)^Content-Length:[ \t]*([^\r\n]*)', 1) = ''
         |    THEN NULL ELSE regexp_extract(hsec, '(?im)^Content-Length:[ \t]*([^\r\n]*)', 1)
         |    END AS BIGINT) AS http_content_length,
         |  (strlen(body) = cast(regexp_extract(hsec,
         |    '(?im)^Content-Length:[ \t]*([^\r\n]*)', 1) AS BIGINT)) AS body_ok,
         |  body
         |FROM hb""".stripMargin,
    "redirect_resolve" ->
      s"""$redirectResolveCtes
         |SELECT start_uri, final_uri, n_hops, resolution, final_in_corpus
         |FROM res""".stripMargin,
    "fetch_pipeline" ->
      s"""$redirectResolveCtes,
         |landed AS (SELECT * FROM res
         |  WHERE resolution <> 'exceeded' AND final_in_corpus),
         |collapsed AS (SELECT
         |    ${Html.urlNormalizeSql("final_uri")} AS canonical_url,
         |    count(*) AS n_sources,
         |    min(start_uri) AS first_source,
         |    max(n_hops) AS max_hops,
         |    min(final_uri) AS rep
         |  FROM landed GROUP BY 1),
         |pg AS (SELECT target_uri AS fu,
         |    try_cast(regexp_extract(hsec, '^HTTP/[0-9.]+ ([0-9]{3})', 1)
         |      AS INTEGER) AS landing_status,
         |    strlen(CASE WHEN hsec <> '' THEN substring(block, length(hsec) + 5)
         |      ELSE block END) AS body_bytes
         |  FROM hh)
         |SELECT canonical_url, n_sources, first_source, max_hops,
         |  landing_status, body_bytes
         |FROM collapsed JOIN pg ON collapsed.rep = pg.fu""".stripMargin,
    "warc_revisit" ->
      s"""${warcCtes(WarcFixturePath, "a")},
         |${warcCtes(WarcBFixturePath, "b").stripPrefix("WITH ")},
         |pa AS (SELECT target_uri,
         |    max(struct_pack(wd := wd, d := md5(block))) AS m
         |  FROM ap WHERE warc_type = 'response' GROUP BY 1),
         |pb AS (SELECT target_uri,
         |    max(struct_pack(wd := wd, d := md5(block))) AS m
         |  FROM bp WHERE warc_type = 'response' GROUP BY 1)
         |SELECT coalesce(pa.target_uri, pb.target_uri) AS target_uri,
         |  CASE WHEN pa.target_uri IS NULL THEN 'new'
         |       WHEN pb.target_uri IS NULL THEN 'gone'
         |       WHEN pa.m.d = pb.m.d THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  coalesce(pa.m.d, '') AS prev_digest,
         |  coalesce(pb.m.d, '') AS cur_digest
         |FROM pa FULL OUTER JOIN pb ON pa.target_uri = pb.target_uri""".stripMargin,
    "raw_weather_stats" ->
      s"""WITH w AS (SELECT * FROM read_csv('$RawWeatherPath', header = true,
         |    columns = {'temperature': 'DOUBLE', 'humidity': 'DOUBLE', 'pressure': 'DOUBLE'})),
         |u AS (
         |  SELECT 'temperature' AS measurement, temperature AS value FROM w
         |  UNION ALL SELECT 'humidity', humidity FROM w
         |  UNION ALL SELECT 'pressure', pressure FROM w)
         |SELECT measurement,
         |  cast(sum(cast(value AS decimal(18,4))) AS double) / count(*) AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value, count(*) AS n
         |FROM u GROUP BY measurement""".stripMargin,
  )

  // ---- §2B: relational analytics -------------------------------------------

  private val bQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (Relational.q1PricingSummary _),
    "q3_top_orders"      -> (Relational.q3TopOrders _),
    "q5_region_revenue"  -> (Relational.q5RegionRevenue _),
    "q_groupby_having"   -> (Relational.qGroupByHaving _),
    "q_distinct"         -> (Relational.qDistinct _),
    "q_semi_join"        -> (Relational.qSemiJoin _),
    "q_anti_join"        -> (Relational.qAntiJoin _),
    "q_outer_join_agg"   -> (Relational.qOuterJoinAgg _),
    "q_window_rank"      -> (Relational.qWindowRank _),
    "q_window_running"   -> (Relational.qWindowRunning _),
    "q_rollup"           -> (Relational.qRollup _),
    "q_cube"             -> (Relational.qCube _),
    "q_topk"             -> (Relational.qTopK _),
    "q_union"            -> (Relational.qUnion _),
    "q_scalar_subquery"  -> (Relational.qScalarSubquery _),
    "q_sessionize"       -> (Relational.qSessionize _),
    "q_extract_props"    -> (Relational.qExtractProps _),
    "q_monthly_orders"   -> (Relational.qMonthlyOrders _),
    "q_tumbling_window"  -> (Relational.qTumblingWindow _),
    "q_hopping_window"   -> (Relational.qHoppingWindow _),
    "q_histogram"        -> (Relational.qHistogram _),
    // salting is semantically invisible — the oracle is the PLAIN sql
    "q_salted_agg" -> ((s, d) =>
      operators.Skew.saltedValueStats(Tables.events(s, d), "event_type", "value", 8)),
    "q_pivot"            -> (Relational.qPivot _),
    "q_asof_join"        -> (Relational.qAsofJoin _),
    "q_interval_join"    -> (Relational.qIntervalJoin _),
    "q_groupwise_max"    -> (Relational.qGroupwiseMax _),
    "q_approx_stats"     -> (Relational.qApproxStats _),
    "q_portable_quantiles" -> (Relational.qPortableQuantiles _),
    "q_approx_stats_exact" -> (Relational.qApproxStatsExact _),
    "q_set_ops"          -> (Relational.qSetOps _),
    "q4_order_priority"  -> (Relational.q4OrderPriority _),
    "q10_returned_items" -> (Relational.q10ReturnedItems _),
    "q14_promo_share"    -> (Relational.q14PromoShare _),
    "q18_large_orders"   -> (Relational.q18LargeOrders _),
    "q19_disjunctive"    -> (Relational.q19Disjunctive _),
    "q22_idle_customers" -> (Relational.q22IdleCustomers _),
    "q16_supplier_variety" -> (Relational.q16SupplierVariety _),
    "q21_sole_late_supplier" -> (Relational.q21SoleLateSupplier _),
    "q_ntile"            -> (Relational.qNtile _),
    "q_funnel"           -> (Relational.qFunnel _),
    "q_retention"        -> (Relational.qRetention _),
    "q_topk_per_key"     -> ((s, d) =>
      graft.plans.TopK.perKey(
        Tables.events(s, d).select(col("user_id"), col("event_id"), col("value")),
        Seq("user_id"), Seq("value", "event_id"), 3)),
    "q6_forecast_revenue"    -> (Relational.q6ForecastRevenue _),
    "q7_nation_volume"       -> (Relational.q7NationVolume _),
    "q8_market_share"        -> (Relational.q8MarketShare _),
    "q9_product_profit"      -> (Relational.q9ProductProfit _),
    "q13_order_distribution" -> (Relational.q13OrderDistribution _),
    "q15_top_supplier"       -> (Relational.q15TopSupplier _),
    "q17_small_quantity"     -> (Relational.q17SmallQuantity _),
    "q_grouping_sets"        -> (Relational.qGroupingSets _),
    "q_lead_lag"             -> (Relational.qLeadLag _),
    "q2_min_cost_supplier"   -> (Relational.q2MinCostSupplier _),
    "q11_important_parts"    -> (Relational.q11ImportantParts _),
    "q12_ship_priority"      -> (Relational.q12ShipPriority _),
    "q20_dominant_supplier"  -> (Relational.q20DominantSupplier _),
  )

  private val bOracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS sum_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(18,4))) AS double) AS sum_base_price,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS varchar) AS double) AS sum_disc_price,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2)) * cast(1 + l_tax AS decimal(8,2))) AS varchar) AS double) AS sum_charge,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) / count(*) AS avg_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) / count(*) AS avg_price,
        |  cast(sum(cast(l_discount AS decimal(8,4))) AS double) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS double) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT r_name, n_name,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS double) AS revenue,
        |  count(*) AS n_lines
        |FROM region, nation, customer, supplier, orders, lineitem
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q_groupby_having" ->
      """SELECT p_brand, count(*) AS n_parts,
        |  cast(sum(cast(p_retailprice AS decimal(18,4))) AS double) / count(*) AS avg_price,
        |  max(p_size) AS max_size
        |FROM part GROUP BY p_brand HAVING count(*) >= 5""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT c_mktsegment, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin,
    "q_outer_join_agg" ->
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |  coalesce(cast(sum(cast(o_totalprice AS decimal(18,4))) AS double), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name""".stripMargin,
    "q_window_rank" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    cast(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS integer) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q_window_running" ->
      """SELECT user_id, event_id,
        |  cast(sum(cast(value AS decimal(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS running_value
        |FROM events""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "q_union" ->
      """SELECT src, count(*) AS n,
        |  cast(sum(cast(amount AS decimal(18,4))) AS double) AS total_amount
        |FROM (
        |  SELECT 'event_purchase' AS src, value AS amount FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT 'order' AS src, o_totalprice AS amount FROM orders)
        |GROUP BY src""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) / count(*) FROM orders)""".stripMargin,
    "q_sessionize" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM lagged),
        |sessions AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id, count(*) AS n_events
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT user_id, cast(max(session_id) AS bigint) AS n_sessions,
        |  max(n_events) AS max_session_events, count(*) AS n_groups
        |FROM per_session GROUP BY user_id""".stripMargin,
    "q_extract_props" ->
      // try_cast: a non-matching props row extracts '' which must degrade
      // to NULL (as Spark's cast does), not crash the oracle run
      """SELECT try_cast(regexp_extract(props, '"k": (\d+)', 1) AS integer) % 10 AS k_bucket,
        |  count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_monthly_orders" ->
      """SELECT cast(date_trunc('month', o_orderdate) AS date) AS month,
        |  count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS total_price
        |FROM orders GROUP BY 1""".stripMargin,
    "q_tumbling_window" ->
      """SELECT cast(date_trunc('hour', ts) AS timestamp) AS hour_start, event_type,
        |  count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "q_asof_join" ->
      """SELECT user_id, event_id AS purchase_id, click_id FROM (
        |  SELECT user_id, event_id, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
        |  FROM events)
        |WHERE event_type = 'purchase'""".stripMargin,
    "q_interval_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        |  count(v.v_us) AS n_views_1h,
        |  epoch_us(p.ts) - max(v.v_us) AS last_view_gap_us
        |FROM (SELECT user_id, event_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id, epoch_us(ts) AS v_us FROM events
        |           WHERE event_type = 'view') v
        |  ON v.user_id = p.user_id
        |  AND v.v_us >= epoch_us(p.ts) - 3600000000
        |  AND v.v_us <= epoch_us(p.ts)
        |GROUP BY 1, 2, epoch_us(p.ts)""".stripMargin,
    "q_groupwise_max" ->
      """SELECT p_brand, p_partkey, p_retailprice FROM part p
        |WHERE p_retailprice = (
        |  SELECT max(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand)""".stripMargin,
    "q_histogram" ->
      """SELECT cast(floor(value / 10) AS bigint) AS bin, count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-04-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate >= o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q19_disjunctive" ->
      """SELECT p_brand,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS double) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
        |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
        |GROUP BY p_brand""".stripMargin,
    "q22_idle_customers" ->
      """SELECT c_nationkey, count(*) AS n_custs,
        |  cast(sum(cast(c_acctbal AS decimal(18,4))) AS double) AS total_bal
        |FROM customer c
        |WHERE c_acctbal > (
        |    SELECT cast(sum(cast(c_acctbal AS decimal(18,4))) AS double) / count(*)
        |    FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_nationkey""".stripMargin,
    "q_funnel" ->
      """WITH per_user AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM events GROUP BY user_id)
        |SELECT
        |  count(CASE WHEN first_view IS NOT NULL THEN 1 END) AS n_view,
        |  count(CASE WHEN first_click > first_view THEN 1 END) AS n_view_click,
        |  count(CASE WHEN first_click > first_view
        |              AND first_purchase > first_click THEN 1 END) AS n_view_click_purchase
        |FROM per_user""".stripMargin,
    "q_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id, cast(date_trunc('week', ts) AS date) AS week
        |  FROM events)
        |SELECT w.week, count(*) AS active_users,
        |  count(n.user_id) AS retained_users
        |FROM weeks w LEFT JOIN weeks n
        |  ON w.user_id = n.user_id
        |  AND cast(w.week + INTERVAL 7 DAY AS date) = n.week
        |GROUP BY w.week""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |GROUP BY p_brand, p_size""".stripMargin,
    "q21_sole_late_supplier" ->
      """WITH pairs AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    max(CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY
        |        THEN 1 ELSE 0 END) AS has_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |late AS (SELECT ok, sk FROM pairs WHERE has_late = 1)
        |SELECT l.sk AS l_suppkey, count(*) AS numwait
        |FROM late l
        |WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.ok = l.ok AND p.sk <> l.sk)
        |  AND NOT EXISTS (SELECT 1 FROM late o WHERE o.ok = l.ok AND o.sk <> l.sk)
        |GROUP BY l.sk""".stripMargin,
    "q_ntile" ->
      """SELECT c_nationkey, tier, count(*) AS n_custs,
        |  cast(sum(cast(c_acctbal AS decimal(18,4))) AS double) AS total_bal
        |FROM (
        |  SELECT c_nationkey, c_acctbal,
        |    cast(ntile(4) OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS int) AS tier
        |  FROM customer)
        |GROUP BY c_nationkey, tier""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS double) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem, orders, customer
        |WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |GROUP BY c_custkey, c_name, c_mktsegment
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo_share" ->
      """SELECT
        |  cast(sum(CASE WHEN p_type = 'PROMO'
        |    THEN cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))
        |    ELSE cast(0 AS decimal(18,2)) END) AS double) * 100.0
        |    / cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS double) AS promo_share_pct,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,
    "q18_large_orders" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice, total_qty FROM orders JOIN (
        |  SELECT l_orderkey, cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150
        |) ON o_orderkey = l_orderkey""".stripMargin,
    "q_set_ops" ->
      """SELECT segment, count(*) AS n_customers, min(c_custkey) AS min_key FROM (
        |  SELECT c_custkey, 'has_open_order' AS segment FROM (
        |    SELECT c_custkey FROM customer
        |    INTERSECT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT c_custkey, 'no_open_order' AS segment FROM (
        |    SELECT c_custkey FROM customer
        |    EXCEPT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
        |GROUP BY segment""".stripMargin,
    "q_approx_stats_exact" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin,
    // Portable-sketch query: the KMV estimate and min-hash sample
    // median are reproduced exactly (same md5-derived hashes, same
    // IEEE formulas) — see graft.functions.Sketches for the twin
    // fragment builders these strings are generated from.
    "q_approx_stats" ->
      s"""WITH kmv AS (${graft.functions.Sketches.kmvEstimateSql(
             "events", "event_type", "user_id", 64)}),
         |med AS (${graft.functions.Sketches.sampleMedianSql(
             "events", "event_type", "event_id", "value", 64)}),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users,
         |    min(value) AS min_value, max(value) AS max_value
         |  FROM events GROUP BY event_type)
         |SELECT ex.event_type, kmv_users, exact_users, sample_median,
         |  min_value, max_value
         |FROM ex JOIN kmv USING (event_type) JOIN med USING (event_type)""".stripMargin,
    "q_topk_per_key" ->
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin,
    "q_portable_quantiles" ->
      graft.functions.Sketches.sampleQuantilesSql(
        "events", "event_type", "event_id", "value", 64,
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75)),
    "q_salted_agg" ->
      """SELECT event_type, count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,
    // Spark's window(ts, 1h, 30m) assigns each event to the len/slide=2
    // epoch-aligned 30-min window starts covering it; DuckDB's
    // time_bucket origin (2000-01-03) is 30-min-aligned to the epoch,
    // so the buckets coincide.
    "q_hopping_window" ->
      """SELECT w_start, event_type, count(*) AS n,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value
        |FROM (
        |  SELECT unnest([
        |      time_bucket(INTERVAL '30 minutes', ts),
        |      time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
        |    ]) AS w_start, event_type, value
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin,
    "q_lead_lag" ->
      """SELECT user_id, event_id, event_type, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  value - lag(value, 1) OVER w AS delta_prev,
        |  lead(event_type, 1) OVER w AS next_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS sum_qty,
        |  cast(grouping_id(l_returnflag, l_linestatus) AS bigint) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus))""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT cast(sum(cast(l_extendedprice AS decimal(18,2))
        |    * cast(l_discount AS decimal(8,2))) AS double) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05e0 AND l_discount <= 0.07e0
        |  AND l_quantity < 24""".stripMargin,
    "q7_nation_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  year(l_shipdate) AS l_year,
         |  cast(sum($revSql) AS double) AS volume
         |FROM lineitem, supplier, orders, customer, nation n1, nation n2
         |WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey
         |  AND o_custkey = c_custkey
         |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
         |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
         |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
         |GROUP BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      s"""SELECT year(o_orderdate) AS o_year,
         |  coalesce(cast(sum(CASE WHEN n2.n_name = 'NATION_5'
         |      THEN $revSql END) AS double), 0.0e0)
         |    / cast(sum($revSql) AS double) AS mkt_share,
         |  cast(sum($revSql) AS double) AS total_volume
         |FROM lineitem, part, supplier, orders, customer, nation n1,
         |  nation n2, region
         |WHERE l_partkey = p_partkey AND p_type = 'ECONOMY'
         |  AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
         |  AND o_custkey = c_custkey
         |  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
         |  AND r_name = 'AFRICA' AND s_nationkey = n2.n_nationkey
         |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY 1""".stripMargin,
    "q9_product_profit" ->
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |  cast(sum($revSql) AS double) AS sum_profit
         |FROM lineitem, part, supplier, orders, nation
         |WHERE l_partkey = p_partkey AND contains(p_name, 'bolt')
         |  AND l_suppkey = s_suppkey AND l_orderkey = o_orderkey
         |  AND s_nationkey = n_nationkey
         |GROUP BY 1, 2""".stripMargin,
    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH q15rev AS (
         |  SELECT l_suppkey, cast(sum($revSql) AS double) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN q15rev ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM q15rev)""".stripMargin,
    "q17_small_quantity" ->
      """WITH q17pp AS (
        |  SELECT l_partkey AS t_partkey,
        |    0.2e0 * (cast(sum(cast(l_quantity AS decimal(18,4))) AS double)
        |      / count(*)) AS threshold
        |  FROM lineitem GROUP BY 1)
        |SELECT cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double)
        |    / 7.0e0 AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN q17pp ON l_partkey = t_partkey
        |WHERE p_brand = 'Brand#1' AND l_quantity < threshold""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH q2cost AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
        |  FROM lineitem GROUP BY 1, 2),
        |q2offers AS (
        |  SELECT p_partkey, p_name, s.s_suppkey, s_name, s_acctbal, n_name,
        |    supply_cost
        |  FROM q2cost
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier s ON l_suppkey = s.s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_type = 'STANDARD' AND p_size % 5 = 0 AND r_name = 'AFRICA'),
        |q2min AS (
        |  SELECT p_partkey AS mk, min(supply_cost) AS min_cost
        |  FROM q2offers GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
        |FROM q2offers JOIN q2min ON p_partkey = mk AND supply_cost = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,
    "q11_important_parts" ->
      """WITH q11v AS (
        |  SELECT l_partkey,
        |    cast(sum(cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))) AS decimal(18,4)) AS val
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_3')
        |  GROUP BY 1),
        |q11t AS (SELECT cast(sum(val) AS decimal(28,4)) AS total,
        |  count(*) AS n FROM q11v)
        |SELECT l_partkey, cast(val AS double) AS part_value
        |FROM q11v, q11t
        |WHERE val * n > total * 2""".stripMargin,
    "q12_ship_priority" ->
      """SELECT l_linestatus,
        |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
        |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS bigint) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate >= o_orderdate + INTERVAL 45 DAY
        |GROUP BY l_linestatus""".stripMargin,
    "q20_dominant_supplier" ->
      """WITH q20li AS (
        |  SELECT l_partkey, l_suppkey, cast(l_quantity AS decimal(18,4)) AS q
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
        |q20pair AS (
        |  SELECT l_partkey, l_suppkey, sum(q) AS pair_qty FROM q20li GROUP BY 1, 2),
        |q20part AS (
        |  SELECT l_partkey AS pk, sum(q) AS part_qty FROM q20li GROUP BY 1)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM q20pair JOIN q20part ON l_partkey = pk
        |  WHERE pair_qty * 2 > part_qty
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'))""".stripMargin,
  )

  /** Shared decimal revenue fragment for the TPC-H-style oracles —
    * mirrors Relational.revExpr exactly.
    */
  private def revSql: String =
    "cast(l_extendedprice AS decimal(18,2)) * cast(1 - l_discount AS decimal(8,2))"

  /** Shared by `decontaminate` and `decontaminate_bloom` — the bloom
    * variant's confirm join makes its result identical to the exact
    * screen, so one oracle serves both.
    */
  private def decontaminateSql: String =
    s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
       |sh AS (SELECT doc_id, unnest(${TextFunctions.shinglesSql("tokens", 4)}) AS s FROM toks),
       |ex AS (SELECT DISTINCT doc_id,
       |    cast('0x' || substr(md5(s), 1, 12) as bigint) AS gk FROM sh),
       |bench AS (SELECT DISTINCT gk FROM ex
       |  WHERE doc_id % 10 = 7 AND doc_id < 1000)
       |SELECT e.doc_id, count(*) AS n_hits
       |FROM ex e JOIN bench b ON e.gk = b.gk
       |WHERE NOT (e.doc_id % 10 = 7 AND e.doc_id < 1000) GROUP BY 1""".stripMargin

  // ---- §2C: LLM-training-data pipeline ops ---------------------------------

  private val cQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")),
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text")),
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text")),
    "ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text")),
    "ngram_containment" -> ((s, d) =>
      Dedup.ngramContainment(Tables.documents(s, d), "doc_id", "text")),
    // ExactSubstr family (Lee et al. 2022): corpus-wide duplicated
    // token spans via a positional k-gram index — linear, never pairwise
    "exact_substr_spans" -> ((s, d) =>
      Dedup.exactSubstrSpans(Tables.documents(s, d), "doc_id", "text")),
    "exact_substr_dedup" -> ((s, d) =>
      Dedup.exactSubstrStats(Tables.documents(s, d), "doc_id", "text")),
    // corpus-sized plane count (fixed-stride layout — oracle twin
    // selects the same count via the integer CASE ladder): 5 planes at
    // driver SFs, 8 at sf1's 20k vectors, bounded buckets forever
    "dedup_embedding" -> ((s, d) =>
      Similarity.embeddingPairsAuto(Tables.embeddings(s, d), "vec_id", "embedding", 0.3)),
    "knn_lsh" -> ((s, d) =>
      Similarity.knnLsh(Tables.embeddings(s, d), "vec_id", "embedding", 10, 5)),
    // PQ encoding (Jégou et al. 2011): corpus → m-byte codes (C55);
    // portable projection: codes array → CSV string, decimal → double
    // (driver compare is pandas-based — list/DECIMAL output columns
    // hash-mismatch or fail to sort; library API keeps the array form)
    "embedding_pq" -> ((s, d) =>
      Similarity.pqEncode(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          col("recon_err").cast("double").as("recon_err"))),
    // embedding-space eval decontamination (C61) — benchmark fixture is
    // fixed-cardinality at any SF, the broadcast contract
    "decontaminate_semantic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val isEval = col("vec_id") % 50 === 7
      Similarity.decontaminateSemantic(emb.filter(!isEval), emb.filter(isEval),
        "vec_id", "embedding")
    }),
    "lang_id" -> ((s, d) =>
      TextAnalysis.langId(Tables.documents(s, d), "doc_id", "text")),
    "text_quality" -> ((s, d) =>
      TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text")),
    "token_count" -> ((s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d), "doc_id", "text")),
    // Gini–Simpson token diversity + top-token share (boilerplate /
    // keyword-stuffing signal; transcendental-free entropy twin)
    "token_diversity" -> ((s, d) =>
      TextAnalysis.tokenDiversity(Tables.documents(s, d), "doc_id", "text")),
    // embedding hygiene: per-vector L2 norm z-scored against the corpus
    "embedding_outliers" -> ((s, d) =>
      Similarity.embeddingOutliers(Tables.embeddings(s, d), "vec_id", "embedding")),
    "doc_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d), "doc_id", "text")),
    "multimodal_meta" -> ((s, d) =>
      Multimodal.meta(Tables.documents(s, d), "doc_id", "text")),
    // PII redaction (C13): email/phone/IPv4/digit-run markers over
    // the deterministic PII fixture around each document — the driver
    // corpus carries none of the classes, so the wrap is what makes
    // every pattern BITE at driver SFs (same fixture convention as
    // wrapRobotsTxt/wrapUrl)
    "text_redact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.redact(
        docs.select(col("doc_id"),
          TextAnalysis.wrapPii(col("doc_id"), col("text")).as("text")),
        "doc_id", "text")
    }),
    // unicode-script histogram + dominant script (the gate BEFORE
    // lang_id): driver corpus is ASCII, so the wrapScripts fixture
    // plants every script class on id strides (same convention as
    // wrapPii/wrapRobotsTxt); the %7==2 stride's Han block outweighs
    // the base text so dominance genuinely flips there
    "script_profile" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.scriptProfile(
        docs.select(col("doc_id"),
          TextAnalysis.wrapScripts(col("doc_id"), col("text")).as("text")),
        "doc_id", "text")
    }),
    // per-source PII audit over the redact kernel's counts — the
    // SPARSE fixture (classes on their own id strides) makes
    // per-source incidence rates vary, unlike text_redact's
    // every-class-every-doc wrap
    "pii_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.piiStats(
        docs.select(col("doc_id"), col("source"),
          TextAnalysis.wrapPiiSparse(col("doc_id"), col("text")).as("text")),
        "doc_id", "source", "text")
    }),
    "text_repetition" -> ((s, d) =>
      TextAnalysis.repetition(Tables.documents(s, d), "doc_id", "text")),
    // Gopher quality rule bundle + repetition char-mass signals
    // (Rae et al. 2021, appendix A1.1)
    "gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d), "doc_id", "text")),
    // NFC + control-strip + whitespace-collapse canonicalization (C60)
    "text_normalize" -> ((s, d) =>
      TextAnalysis.textNormalize(Tables.documents(s, d), "doc_id", "text")),
    // C4 §2.2 cleaning-rule bundle (C105, Raffel et al. 2020): line
    // punctuation/length/javascript filters + page brace/lorem/lexicon
    // gates, on the deterministic multi-line page fixture (every rule
    // class live on an id schedule)
    "c4_rules" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.c4Rules(
        docs.select(col("doc_id"),
          TextAnalysis.wrapC4Page(col("doc_id"), col("text")).as("text")),
        "doc_id", "text", Seq("badterm"))
    }),
    // mojibake repair (C103, the ftfy core case): Windows-1252
    // double-decode artifacts planted deterministically on doc_id%5==2
    // (two in-word artifacts + one trailing triple), then reversed by
    // the fixed public repair table — the untouched 4/5 of the corpus
    // pins the no-op path (n_artifacts=0, changed=false)
    "encoding_repair" -> ((s, d) =>
      TextAnalysis.encodingRepair(
        mojibakeFixture(Tables.documents(s, d)), "doc_id", "text")),
    // C4/RefinedWeb-style lexicon + domain blocklist gate (C99):
    // drop on blocked domain or when blocked tokens exceed 3% per mille
    // threshold of the doc's tokens — integer comparison, float-free
    "blocklist_filter" -> ((s, d) =>
      TextAnalysis.blocklistGate(Tables.documents(s, d), "doc_id", "text",
        concat(col("source"), lit(".example.com")),
        BlockTerms, BlockDomains)),
    // crawl-ingestion stage 0 (C76): HTML → clean text with
    // link-density boilerplate filtering, on the deterministic
    // page fixture around each document
    "html_extract" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Html.htmlExtract(
        docs.select(col("doc_id"),
          Html.wrapHtml(col("doc_id"), col("text")).as("html")),
        "doc_id", "html")
    }),
    // robots-meta compliance gate (C85): noindex/nofollow/none
    // directives per page on the deterministic meta-tag fixture —
    // the exclusion signal honored before a page enters the corpus
    "robots_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Html.robotsGate(
        docs.select(col("doc_id"),
          Html.wrapRobotsHtml(col("doc_id"), col("text")).as("html")),
        "doc_id", "html")
    }),
    // robots.txt frontier filtering (C86): RFC 9309 parse + most-
    // specific-group / longest-match evaluation of the wrapUrl
    // frontier for agent graftbot — rules broadcast per host, the
    // frontier never shuffles
    "robots_txt_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val robots = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          Html.wrapRobotsTxt(col("source")).as("content"))
      Html.robotsFilter(
        docs.select(col("doc_id"),
          Html.wrapUrl(col("doc_id"), col("source")).as("url")),
        "doc_id", "url",
        Html.robotsRules(robots, "host", "content"), "graftbot")
    }),
    // robots.txt host-level directives (C87): Crawl-delay resolved
    // for graftbot under group shadowing + global Sitemap collection
    "robots_directives" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val robots = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          Html.wrapRobotsTxt(col("source")).as("content"))
      Html.robotsDirectives(robots, "host", "content", "graftbot")
    }),
    // sitemap XML parsing (C88): urlset entries → one row per <url>,
    // loc required, optional fields defaulted (priority 0.5 per the
    // sitemaps.org schema), zero shuffle
    "sitemap_parse" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Html.sitemapParse(
        docs.select(col("doc_id"),
          Html.wrapSitemap(col("doc_id"), col("source")).as("xml")),
        "doc_id", "xml")
    }),
    // sitemap INDEX resolution (C89): parse the per-host sitemapindex,
    // broadcast-join each entry to its fetched child sitemap, parse
    // every child's urlset — the discovery recursion in one plan
    "sitemap_index" -> ((s, d) => {
      val docs = Tables.documents(s, d)
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
    }),
    // politeness scheduling (C90): per-host serial fetch slots under
    // the crawl-delay each host's robots.txt declares (via the REAL
    // robotsDirectives parse — the oracle derives delays analytically
    // from the fixture rule, so parse bugs surface as a mismatch)
    "politeness_schedule" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val robots = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          Html.wrapRobotsTxt(col("source")).as("content"))
      Html.politenessSchedule(
        docs.select(col("doc_id"),
          Html.wrapUrl(col("doc_id"), col("source")).as("url")),
        "doc_id", "url",
        Html.robotsDirectives(robots, "host", "content", "graftbot"))
    }),
    // the quota'd schedule (C90 + C97 composed as ONE parameter):
    // maxPerHost cuts each host to its first 7 URLs via the bounded
    // TopKPerKey operator BEFORE the per-host window shuffle — the
    // measured mega-host skew mitigation (52.4× → 1.1× straggler,
    // SURVEY §6) as a politenessSchedule argument. The oracle is the
    // unbounded schedule filtered to slot < 7 (the quota keeps each
    // host's min-id URLs and slots are assigned in id order, so the
    // two forms are provably equal — also spec-pinned).
    "politeness_schedule_quota" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val robots = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          Html.wrapRobotsTxt(col("source")).as("content"))
      Html.politenessSchedule(
        docs.select(col("doc_id"),
          Html.wrapUrl(col("doc_id"), col("source")).as("url")),
        "doc_id", "url",
        Html.robotsDirectives(robots, "host", "content", "graftbot"),
        maxPerHost = PolitenessQuota)
    }),
    // the discovery-layer composite (C91): sitemap index → child
    // sitemaps → distinct discovered URLs → robots gate → politeness
    // slots, in ONE declarative plan — what a crawler's discovery
    // cycle actually runs end-to-end, every stage the verified
    // operator (C89 → C86 → C90)
    "crawl_discover" -> ((s, d) => {
      val docs = Tables.documents(s, d)
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
      val robots = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          Html.wrapRobotsTxt(col("source")).as("content"))
      val locs = Html.sitemapIndexResolve(index, "host", "xml",
          children, "sm_loc", "sm_xml")
        .select(col("loc")).distinct()
      val allowed = Html.robotsFilter(
          locs.select(col("loc").as("uid"), col("loc").as("url")),
          "uid", "url", Html.robotsRules(robots, "host", "content"), "graftbot")
        .filter(col("allowed"))
        .select(col("uid").as("u2"), col("uid").as("url2"))
      Html.politenessSchedule(allowed, "u2", "url2",
          Html.robotsDirectives(robots, "host", "content", "graftbot"))
        .select(col("canonical_url"), col("host"), col("slot"),
          col("fetch_offset_sec"))
    }),
    "gopher_repetition" -> ((s, d) =>
      TextAnalysis.gopherRepetition(Tables.documents(s, d), "doc_id", "text")),
    // CCNet-style bigram-LM perplexity screen: per-doc cross-entropy
    // under a corpus-trained LM, head/middle/tail terciles (C62)
    "ngram_lm_perplexity" -> ((s, d) =>
      Scoring.ngramLmPerplexity(Tables.documents(s, d), "doc_id", "text")),
    // Stupid Backoff trigram scoring against a half-corpus reference
    // model — real backoff on the held-out half (C67)
    "ngram_lm_backoff" -> ((s, d) =>
      Scoring.ngramLmBackoff(Tables.documents(s, d), "doc_id", "text",
        col("doc_id") % 2 === 0)),
    // DSIR hashed-n-gram importance weights against the 'en' slice (C63)
    "dsir_weights" -> ((s, d) =>
      Scoring.dsirWeights(Tables.documents(s, d), "doc_id", "text",
        col("lang") === "en")),
    // Naive-Bayes bag-of-tokens quality classifier — the deterministic
    // "fasttext-like classifier" analog (C64)
    "quality_classifier_nb" -> ((s, d) =>
      Scoring.nbQualityClassifier(Tables.documents(s, d), "doc_id", "text",
        col("lang") === "en")),
    // Good-Turing frequency spectrum + Zipf mass audit (C65)
    "token_spectrum" -> ((s, d) =>
      TextAnalysis.tokenSpectrum(Tables.documents(s, d), "text")),
    // per-source unigram KL vs the corpus blend — the mixture-design
    // distribution-shift audit (C68)
    "source_divergence" -> ((s, d) =>
      Scoring.sourceDivergence(Tables.documents(s, d), "text", "source")),
    // per-doc Shannon token entropy — the ln twin of token_diversity (C73)
    "token_entropy" -> ((s, d) =>
      Scoring.tokenEntropy(Tables.documents(s, d), "doc_id", "text")),
    // BPE round-one candidate merges from the word-count dictionary
    // (C66; the full merge LOOP is Bpe.bpeLearn — spec-driven, its
    // per-round argmax is this query's shape)
    "bpe_pair_freqs" -> ((s, d) =>
      operators.Bpe.pairFreqs(Tables.documents(s, d), "text", 100)),
    "corpus_dedup" -> ((s, d) =>
      Dedup.corpusDedup(Tables.documents(s, d), "doc_id", "text")),
    "dedup_clusters" -> ((s, d) =>
      Dedup.dedupClusters(Tables.documents(s, d), "doc_id", "text")),
    "corpus_quota_sample" -> ((s, d) =>
      Curation.quotaSample(Tables.documents(s, d), "doc_id", "source", 10)),
    // XLM-style α=0.5 temperature mixture draw over source char mass (C70)
    "temperature_sample" -> ((s, d) =>
      Curation.temperatureSample(Tables.documents(s, d), "doc_id", "source",
        "n_chars", 100)),
    "pack_sequences" -> ((s, d) =>
      Curation.packSequences(Tables.documents(s, d), "doc_id", "text", "source", 512)),
    "pack_aligned" -> ((s, d) =>
      Curation.packSequencesAligned(Tables.documents(s, d), "doc_id", "text", "source", 512)),
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incremental(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
    }),
    "decontaminate" -> ((s, d) => {
      // benchmark fixture is genuinely fixed-cardinality (≤100 docs at
      // ANY scale factor) — the contract under which decontaminate's
      // compile-time broadcast hint of the gram set is legitimate
      val docs = Tables.documents(s, d)
      val isBench = col("doc_id") % 10 === 7 && col("doc_id") < 1000
      Curation.decontaminate(docs.filter(!isBench), docs.filter(isBench),
        "doc_id", "text")
    }),
    // bloom-prescreened decontamination: result identical to the exact
    // screen (fp's die in the confirm join) -> same oracle SQL
    "decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isBench = col("doc_id") % 10 === 7 && col("doc_id") < 1000
      Curation.decontaminateBloom(docs.filter(!isBench), docs.filter(isBench),
        "doc_id", "text")
    }),
    "corpus_stats" -> ((s, d) =>
      Curation.corpusStats(Tables.documents(s, d), "text", "source", "lang")),
    "curation_pipeline" -> ((s, d) =>
      Curation.curationPipeline(Tables.documents(s, d), "doc_id", "text", "source")),
    "corpus_split" -> ((s, d) =>
      Curation.splitAssign(Tables.documents(s, d), "doc_id")),
    // cross-split 4-gram leakage: held-out docs sharing content with
    // train — the audit the id-bucket split can't prevent (C71)
    "split_leakage" -> ((s, d) =>
      Curation.splitLeakage(Tables.documents(s, d), "doc_id", "text",
        valPermille = 100, testPermille = 100)),
    "embedding_kmeans" -> ((s, d) =>
      Similarity.kmeans(Tables.embeddings(s, d), "vec_id", "embedding")),
    // prototypicality (cos to own k-means centroid) + in-cluster rank
    // — the Sorscher et al. data-pruning metric (C69)
    "prototype_scores" -> ((s, d) =>
      Similarity.prototypeScores(Tables.embeddings(s, d), "vec_id", "embedding")),
    // cluster-balanced sampling: semantic diversity via k-means strata
    // + the deterministic md5-order quota draw (TopKPerKey-planned) —
    // the composition that keeps a subsample from collapsing onto the
    // corpus's dominant semantic mode
    "cluster_sample" -> ((s, d) =>
      Curation.quotaSample(
        Similarity.kmeans(Tables.embeddings(s, d), "vec_id", "embedding"),
        "vec_id", "cluster_id", 25)),
    "vocab_build" -> ((s, d) =>
      Curation.vocabBuild(Tables.documents(s, d), "text", 500)),
    "heavy_hitters" -> ((s, d) =>
      Curation.heavyHittersCms(Tables.documents(s, d), "text")),
    "corpus_shuffle" -> ((s, d) =>
      Curation.shuffleOrder(Tables.documents(s, d), "doc_id")),
    "source_overlap" -> ((s, d) =>
      Curation.sourceOverlap(Tables.documents(s, d), "text", "source")),
    "corpus_token_budget" -> ((s, d) =>
      Curation.tokenBudgetSample(Tables.documents(s, d), "doc_id", "text",
        "source", 500L)),
    // CCNet-style corpus-wide line dedup (first-occurrence-wins) on
    // the deterministic multi-line page fixture — the boilerplate-line
    // removal stage between html_extract and document dedup (C78)
    "line_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.lineDedup(
        docs.select(col("doc_id"),
          Dedup.wrapLines(col("text"), col("source")).as("text")),
        "doc_id", "text")
    }),
    // incremental line dedup: the batch third of the corpus deduped
    // against the already-ingested rest — reference reduced to line
    // digests once, batch lines also first-occurrence-deduped within
    // the batch (C81)
    "line_dedup_incremental" -> ((s, d) => {
      val fx = Tables.documents(s, d)
        .select(col("doc_id"),
          Dedup.wrapLines(col("text"), col("source")).as("text"))
      Dedup.lineDedupAgainst(fx.filter(col("doc_id") % 3 === 0),
        fx.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
    }),
    // sliding-window context-length chunking, 64-token windows with
    // stride 48 (16-token overlap); chunk content dumped as md5 (C79)
    "doc_chunks" -> ((s, d) =>
      Curation.docChunks(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("n_tokens"), md5(col("chunk_text")).as("chunk_fp"))),
    // deterministic token-budgeted training-shard layout: per-shard
    // manifest (docs, tokens, xor content digest) over the md5-order
    // global assignment (C80)
    "training_shards" -> ((s, d) =>
      Curation.shardManifest(
        Curation.trainingShards(Tables.documents(s, d), "doc_id", "text", 2000L),
        "doc_id")),
    // shard-manifest diff across two corpus builds (full vs a
    // deterministic removal slice) — the retrain-only-changed-shards
    // audit; removal shifts every later global offset, so the diff
    // shows the boundary blast radius honestly (C84)
    "shard_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def mani(df: DataFrame) = Curation.shardManifest(
        Curation.trainingShards(df, "doc_id", "text", 2000L), "doc_id")
      Curation.shardDiff(mani(docs),
        mani(docs.filter(col("doc_id") % 17 =!= 3)))
    }),
    // URL-level dedup of a crawl frontier: canonicalize (case, www,
    // default ports, tracking params, param order, trailing slash,
    // fragments) then one aggregation — the dedup that runs before any
    // content byte is compared, on the deterministic URL fixture (C83)
    "url_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Html.urlDedup(
        docs.select(col("doc_id"),
          Html.wrapUrl(col("doc_id"), col("source")).as("url")),
        "doc_id", "url")
    }),
    // anchor extraction + relative-URL resolution (C92): every <a href>
    // on each page resolved against the page's own URL (absolute /
    // root-relative / document-relative / scheme-relative) and
    // canonicalized — the zero-shuffle map pass the frontier, the host
    // graph, and the anchor corpus all feed from
    "link_extract" -> ((s, d) => Links.linkExtract(
      linkPages(Tables.documents(s, d)), "doc_id", "url", "html")),
    // the host→host link graph (C93): followed links aggregated to
    // sparse host adjacency — the shuffle is hosts-sized, pages never move
    "link_graph" -> ((s, d) => Links.linkGraph(Links.linkExtract(
      linkPages(Tables.documents(s, d)), "doc_id", "url", "html"))),
    // host reputation (C94): directed integer-fixed-point PageRank over
    // the CROSS-host edge set — the crawl-prioritization signal
    "host_rank" -> ((s, d) => operators.Graph.pagerankDirected(
      Links.linkExtract(linkPages(Tables.documents(s, d)), "doc_id", "url", "html")
        .filter(!col("nofollow") && !col("internal"))
        .select(col("page_host").as("src"), col("target_host").as("dst")))),
    // anchor-text corpus (C95): per canonical target, the distinct
    // anchor texts pointing at it — retrieval/labeling signal
    "anchor_corpus" -> ((s, d) => Links.anchorCorpus(Links.linkExtract(
      linkPages(Tables.documents(s, d)), "doc_id", "url", "html"))),
    // inbound-anchor enrichment (C98): each doc joined with what OTHER
    // pages' anchors say about its canonical URL — label/relevance
    // signal for training; docs nobody cites get 0/''
    "doc_anchors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Links.docAnchors(
        docs.select(col("doc_id"),
          Html.urlNormalize(Html.wrapUrl(col("doc_id"), col("source")))
            .as("page_url")),
        "doc_id", "page_url",
        Links.linkExtract(linkPages(docs), "doc_id", "url", "html"))
    }),
    // host-keyed split (C96): all docs of one host share a split — the
    // leakage guard a per-doc id bucket cannot give (C71 measures the
    // leak; this prevents the host-local share of it)
    "host_split" -> ((s, d) => Curation.splitAssignByKey(
      Tables.documents(s, d), "doc_id",
      concat(col("source"), lit(".example.com")))),
    // rel=canonical hints (C102): the page's self-declared canonical
    // address — duplicate BY DECLARATION, honored alongside C83's
    // syntactic normalization; first hint wins, resolved + normalized
    "canonical_hint" -> ((s, d) => Links.canonicalHint(
      linkPages(Tables.documents(s, d)), "doc_id", "url", "html")),
    // host reputation (C101): the table a crawler sets per-host
    // budgets from — link signal (directed host PageRank) × content
    // signal (mean heuristic quality of the host's docs, decimal-exact
    // mean) × policy (domain blocklist), one row per doc host. Ranks
    // use the DANGLING-MASS-corrected PageRank: budget tables consume
    // absolute rank mass, not just ordering, so dangling hosts'
    // retained mass would skew every downstream budget ratio
    "host_reputation" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val rank = operators.Graph.pagerankDirected(
        Links.linkExtract(linkPages(docs), "doc_id", "url", "html")
          .filter(!col("nofollow") && !col("internal"))
          .select(col("page_host").as("src"), col("target_host").as("dst")),
        redistributeDangling = true)
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
    }),
    // per-host frontier budget (C97): keep the top-K sitemap entries
    // per host by (priority, lastmod, loc) via the bounded TopKPerKey
    // physical operator — heap-bounded per partition, never a full
    // per-host sort (the row_number window form would sort every
    // host's entire entry list)
    "frontier_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val entries = Html.sitemapParse(
        docs.select(concat(col("source"), lit(".example.com")).as("host"),
          col("doc_id"), Html.wrapSitemap(col("doc_id"), col("source")).as("xml")),
        "doc_id", "xml")
      graft.plans.TopK.perKey(
        entries.select(col("host"), col("loc"), col("lastmod"), col("priority")),
        Seq("host"), Seq("priority", "lastmod", "loc"), 25)
    }),
    // changefreq-driven recrawl scheduling (C100): age each sitemap
    // entry's lastmod against a fixed reference date under its
    // declared frequency; emits the due bit per entry
    "recrawl_schedule" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val entries = Html.sitemapParse(
        docs.select(concat(col("source"), lit(".example.com")).as("host"),
          col("doc_id"), Html.wrapSitemap(col("doc_id"), col("source")).as("xml")),
        "doc_id", "xml")
      Html.recrawlSchedule(entries, "lastmod", "changefreq", RecrawlAsOf)
        .select(col("host"), col("loc"), col("lastmod"), col("changefreq"),
          col("interval_days"), col("age_days"), col("due"))
    }),
    // the full stage-0 composite in ONE declarative plan: HTML extract
    // → token gate → exact dedup → shard manifest. Pages wrapped under
    // a CONSTANT title so replicated texts are exact page duplicates
    // and the dedup stage is live at sf >= 0.1 (C82)
    "crawl_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.crawlPipeline(
        docs.select(col("doc_id"), Html.wrapHtml(lit(0), col("text")).as("html")),
        "doc_id", "html")
    }),
    "tfidf_topterms" -> ((s, d) =>
      TextAnalysis.tfIdfTopTerms(Tables.documents(s, d), "doc_id", "text", 5)),
    "collocations" -> ((s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d), "text", 5, 50)),
    "knn_join" -> ((s, d) =>
      Similarity.knnJoin(Tables.embeddings(s, d), "vec_id", "embedding", 3)),
    "embedding_project" -> ((s, d) =>
      Similarity.randomProject(Tables.embeddings(s, d), "vec_id", "embedding")),
    "embedding_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")),
    "dedup_pagerank" -> ((s, d) =>
      operators.Graph.pagerankDocs(Tables.documents(s, d), "doc_id", "text")),
    // semantic dedup clusters: connected components over the
    // embedding-cosine near-dup graph — the same generic label-prop
    // engine as dedup_clusters, fed by LSH-bucketed cosine pairs
    "semantic_clusters" -> ((s, d) =>
      operators.Graph.connectedComponents(
        Similarity.embeddingPairsAuto(Tables.embeddings(s, d), "vec_id", "embedding", 0.4)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))),
    "mixture_sample" -> ((s, d) =>
      Curation.mixtureSample(Tables.documents(s, d), "doc_id", "lang",
          Map("en" -> 0.3, "zh" -> 1.0), defaultRate = 0.7)
        .select(col("doc_id"), col("lang"))),
    "cdc_chunks" -> ((s, d) =>
      Dedup.cdcChunkDups(Tables.documents(s, d), "doc_id", "text")),
    // snapshot halves stand in for two curation iterations (the same
    // synthetic-split convention as dedup_incremental)
    "corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.corpusDiff(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    }),
    // chunk-level containment screen: batch docs mostly made of chunks
    // already in the reference (same synthetic split as dedup_incremental)
    "cdc_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.cdcContainment(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
    }),
    // quality-aware near-dup dedup: each pair drops its LOWER-QUALITY
    // side (the survivor policy real curation uses), not just the
    // larger id
    "corpus_dedup_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.corpusDedupKeepBest(docs,
        TextAnalysis.quality(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score")),
        "doc_id", "text", "quality_score")
    }),
    // the quality × diversity capstone composition: per-semantic-cluster
    // quota of the highest-quality documents — quality scorer ⋈ k-means
    // assignment (map-side codebook), per-cluster cut through the
    // custom TopKPerKey operator (shuffle O(clusters × quota))
    "diverse_quality_sample" -> ((s, d) => {
      val q = TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val clusters = Similarity.kmeans(Tables.embeddings(s, d), "vec_id", "embedding")
      val joined = q.join(clusters, col("doc_id") === col("vec_id"))
        .select(col("cluster_id"), col("doc_id"), col("quality_score"),
          (-col("quality_score")).as("__negq"))
      graft.plans.TopK.perKey(joined, Seq("cluster_id"),
          Seq("__negq", "doc_id"), 25, descending = false)
        .select(col("cluster_id"), col("doc_id"), col("quality_score"))
    }),
    // BM25 keyword retrieval over the corpus: the ranked-search front
    // door a curated corpus serves (query terms fixed; postings
    // restricted to the query vocabulary before any shuffle)
    "bm25_search" -> ((s, d) =>
      TextAnalysis.bm25Search(Tables.documents(s, d), "doc_id", "text",
        Bm25Queries, 10)),
    // SemDeDup: k-means cells confine the pairwise cosine, pairs at
    // ≥ minCos drop their higher id — semantic near-dup pruning
    "semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding")),
    // duplicated-n-gram fraction per doc (Gopher/RefinedWeb-style
    // corpus-level boilerplate signal)
    "ngram_novelty" -> ((s, d) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, d), "doc_id", "text")),
    // per-source quality z-scores: "bad for its provenance" beats any
    // absolute quality threshold across heterogeneous sources
    "quality_calibration" -> ((s, d) =>
      TextAnalysis.qualityCalibration(Tables.documents(s, d), "doc_id",
        "text", "source")),
    // MOSS winnowing: positional fingerprint overlap with the
    // shared-run guarantee (≥ n+w−1 tokens ⇒ shared fingerprint)
    "winnow_overlap" -> ((s, d) =>
      Dedup.winnowOverlap(Tables.documents(s, d), "doc_id", "text")),
  )

  /** Fixed keyword queries for C48 bm25_search — corpus-frequent terms
    * so rankings are dense at every SF (same fixed-fixture convention
    * as decontaminate's benchmark split).
    */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join"),
    2 -> Seq("hash", "table", "scan"),
    3 -> Seq("stream", "window"),
    4 -> Seq("customer", "order"),
    5 -> Seq("vector", "data"))

  private def ph(expr: String): String =
    s"cast('0x' || substr(md5($expr), 1, 15) as bigint)"
  // blocklist_filter fixture params: terms present in the synthetic
  // vocabulary at a frequency that makes the 3% threshold bite both
  // ways; two blocked source domains
  private val BlockTerms = Seq("spark", "vector")
  private val BlockDomains = Seq("src3.example.com", "src17.example.com")
  // fixed recrawl reference date — sits between the fixture's lastmod
  // grid (2026-01..09-15) so monthly/weekly/daily classes all split
  private val RecrawlAsOf = "2026-03-01"
  /** The link-layer page fixture: each document as a page at its
    * [[Html.wrapUrl]] address with a [[Links.wrapLinksHtml]] body.
    */
  private def linkPages(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      Html.wrapUrl(col("doc_id"), col("source")).as("url"),
      Links.wrapLinksHtml(col("doc_id"), col("source")).as("html"))
  private def bm25TermsSql: String =
    Bm25Queries.flatMap(_._2).distinct.sorted
      .map(t => s"'$t'").mkString("(", ", ", ")")
  private def bm25QueryRowsSql: String =
    Bm25Queries.flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
  private def cosSql(a: String, b: String): String = VectorFunctions.cosineSql(a, b)

  /** Shared ExactSubstr CTE chain: positional 8-gram hashes → grams
    * occurring ≥ 2 times corpus-wide → per-doc gaps-and-islands merge →
    * maximal spans (`esp`). Positions are 0-based (DuckDB's
    * list_transform index is 1-based, hence the `i - 1`); islands break
    * when the next duplicated gram starts > 8 tokens after the previous
    * one — past overlap-or-abutment of its 8-token cover — mirroring
    * Dedup.exactSubstrSpans exactly.
    */
  private def exactSubstrSpansCte: String =
    s"""est AS (SELECT doc_id, $tok AS t FROM documents),
       |esh AS (SELECT doc_id, ${TextFunctions.shinglesSql("t", 8)} AS sh FROM est),
       |eg0 AS (SELECT doc_id, unnest(list_transform(sh, (x, i) -> struct_pack(
       |    pos := i - 1, gh := cast('0x' || substr(md5(x), 1, 12) AS bigint)))) AS g
       |  FROM esh),
       |eg AS (SELECT doc_id, g.pos AS pos, g.gh AS gh FROM eg0),
       |edup AS (SELECT gh FROM eg GROUP BY gh HAVING count(*) >= 2),
       |ehit AS (SELECT doc_id, pos FROM eg JOIN edup USING (gh)),
       |eisl AS (SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |  FROM (SELECT doc_id, pos,
       |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM ehit)),
       |esp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
       |  FROM eisl GROUP BY doc_id, isl)""".stripMargin

  /** DuckDB CTE fragment reproducing the deterministic LSH bucketing of
    * graft.operators.Similarity (same md5-derived planes as SQL literals
    * — Double.toString round-trips exactly — same sign-bit bucket sums;
    * only the SIGN of each projection matters, and the dot product is
    * the same left-to-right double fold on both engines).
    */
  private def lshBucketsCte(nPlanes: Int = 5, nTables: Int = 8, dims: Int = 64): String = {
    val rows = for (t <- 0 until nTables; p <- 0 until nPlanes) yield {
      val vec = Similarity.planeVec(t * nPlanes + p, dims)
        .map(java.lang.Double.toString).mkString("[", ",", "]")
      s"($t, $p, $vec)"
    }
    s"""planes(tbl, p, pv) AS (VALUES ${rows.mkString(", ")}),
       |proj AS (SELECT e.vec_id, pl.tbl, pl.p,
       |    CASE WHEN ${VectorFunctions.dotSql("e.embedding", "pl.pv")} >= 0
       |         THEN (1::BIGINT << pl.p) ELSE 0::BIGINT END AS bit
       |  FROM embeddings e CROSS JOIN planes pl),
       |buckets AS (SELECT vec_id, tbl, cast(sum(bit) AS bigint) AS bucket
       |  FROM proj GROUP BY 1, 2)""".stripMargin
  }

  /** Twin of [[Similarity.embeddingPairsAuto]]'s bucketing: the plane
    * VECTORS are baked once at the fixed [[Similarity.AutoPlaneStride]]
    * layout (table t, position p → planeVec(t·16+p)); the plane COUNT
    * is selected at query time by an integer CASE ladder over
    * count(*) — the exact thresholds [[Similarity.autoPlanes]] walks,
    * so both engines activate the same planes at every scale factor
    * (float log2 could disagree at exact powers of two; integer
    * comparisons cannot).
    */
  private def lshBucketsAutoCte(nTables: Int, targetBucket: Int = 128,
                                dims: Int = 64): String = {
    val stride = Similarity.AutoPlaneStride
    val rows = for (t <- 0 until nTables; p <- 0 until stride) yield {
      val vec = Similarity.planeVec(t * stride + p, dims)
        .map(java.lang.Double.toString).mkString("[", ",", "]")
      s"($t, $p, $vec)"
    }
    val cases = (5 until stride)
      .map(k => s"WHEN cnt <= ${targetBucket.toLong * (1L << k)} THEN $k")
      .mkString(" ")
    s"""planes(tbl, p, pv) AS (VALUES ${rows.mkString(", ")}),
       |npl AS (SELECT CASE $cases ELSE $stride END AS np
       |  FROM (SELECT count(*) AS cnt FROM embeddings)),
       |proj AS (SELECT e.vec_id, pl.tbl, pl.p,
       |    CASE WHEN ${VectorFunctions.dotSql("e.embedding", "pl.pv")} >= 0
       |         THEN (1::BIGINT << pl.p) ELSE 0::BIGINT END AS bit
       |  FROM embeddings e CROSS JOIN planes pl
       |  WHERE pl.p < (SELECT np FROM npl)),
       |buckets AS (SELECT vec_id, tbl, cast(sum(bit) AS bigint) AS bucket
       |  FROM proj GROUP BY 1, 2)""".stripMargin
  }

  /** Mojibake fixture for C103: docs with doc_id%5==2 get two in-word
    * Windows-1252 double-decode artifacts (mangled e-acute / a-umlaut)
    * plus a trailing mangled-ellipsis triple; all other docs pass
    * through untouched. Deterministic, planted inside the query (the
    * synthetic corpus is pure ASCII, so without the plant the repair
    * path would be vacuously untested).
    */
  private def mojibakeFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 2,
        concat(
          replace(replace(col("text"),
            lit("value"), lit("valu\u00c3\u00a9")),
            lit("part"), lit("p\u00c3\u00a4rt")),
          lit(" \u00e2\u20ac\u00a6")))
        .otherwise(col("text")).as("text"))

  /** Oracle twin of [[mojibakeFixture]] — identical corruption in SQL. */
  private def mojibakeCorruptSql: String =
    "CASE WHEN doc_id % 5 = 2 THEN replace(replace(text, 'value', " +
      "'valu\u00c3\u00a9'), 'part', 'p\u00c3\u00a4rt') || ' \u00e2\u20ac\u00a6' ELSE text END"

  /** Chained-replace repair expression over [[TextAnalysis.MojibakeRepairs]]. */
  private def mojibakeRepairSql(inner: String): String =
    TextAnalysis.MojibakeRepairs.foldLeft(inner) { case (e, (bad, good)) =>
      s"replace($e, '$bad', '$good')"
    }

  /** Per-pattern exact integer artifact count, mirroring the Spark side:
    * (len − len(without)) / patlen per pattern, cast bigint, summed.
    */
  private def mojibakeCountSql(inner: String): String =
    TextAnalysis.MojibakeRepairs.map { case (bad, _) =>
      s"cast((length($inner) - length(replace($inner, '$bad', ''))) / ${bad.length} AS bigint)"
    }.mkString("(", " + ", ")")

  private val cOracles: Map[String, String] = Map(
    "c4_rules" ->
      s"""WITH c4fx AS (SELECT doc_id,
         |    ${TextAnalysis.wrapC4PageSql("doc_id", "text")} AS text
         |  FROM documents),
         |c4l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM c4fx),
         |c4k AS (SELECT doc_id, text, lines,
         |    list_filter(lines, x -> regexp_matches(x, '[.!?"]$$')
         |      AND len(regexp_split_to_array(trim(x), '\\s+')) >= 5
         |      AND NOT contains(lower(x), 'javascript')) AS kept,
         |    len(list_filter(${graft.functions.TextFunctions.tokensSql("text")},
         |      x -> x IN ('badterm'))) > 0 AS has_badword
         |  FROM c4l)
         |SELECT doc_id,
         |  cast(len(lines) AS integer) AS n_lines,
         |  cast(len(kept) AS integer) AS n_kept,
         |  contains(text, '{') AS has_brace,
         |  contains(lower(text), 'lorem ipsum') AS has_lorem,
         |  has_badword,
         |  len(kept) >= 3 AND NOT contains(text, '{')
         |    AND NOT contains(lower(text), 'lorem ipsum')
         |    AND NOT has_badword AS keep,
         |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text
         |FROM c4k""".stripMargin,
    "encoding_repair" ->
      s"""WITH enc_src AS (SELECT doc_id, $mojibakeCorruptSql AS text FROM documents)
         |SELECT doc_id,
         |  ${mojibakeRepairSql("text")} AS repaired,
         |  ${mojibakeCountSql("text")} AS n_artifacts,
         |  ${mojibakeRepairSql("text")} <> text AS changed
         |FROM enc_src""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS survivor_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_minhash" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |sh AS (SELECT doc_id, ${TextFunctions.shinglesSql("tokens", 3)} AS shingles FROM toks),
         |hp AS (SELECT doc_id,
         |    list_transform(shingles, s -> struct_pack(
         |      h1 := cast('0x' || substr(md5(s), 1, 12) as bigint),
         |      h2 := cast('0x' || substr(md5(s), 17, 12) as bigint))) AS hp
         |  FROM sh),
         |sig AS (SELECT doc_id,
         |    list_transform(range(0, 16), i ->
         |      list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
         |  FROM hp WHERE len(hp) >= 1),
         |bands AS (SELECT doc_id, b,
         |    ${ph("concat(b, '|', sig[2*b+1], ',', sig[2*b+2])")} AS bkey
         |  FROM sig CROSS JOIN range(0, 8) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  list_sum(list_transform(range(1, 17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 AS est_jaccard
         |FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b""".stripMargin,
    "dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |hs AS (SELECT doc_id, list_transform(tokens, t -> ${ph("t")}) AS hashes FROM toks),
         |sh AS (SELECT doc_id, cast(list_sum(list_transform(range(0, 60), j ->
         |    CASE WHEN list_sum(list_transform(hashes, h -> ((h >> j) & 1) * 2 - 1)) > 0
         |         THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS bigint) AS simhash
         |  FROM hs),
         |chunks AS (SELECT doc_id, simhash, c, (simhash >> (15 * c)) & 32767 AS ckey
         |  FROM sh CROSS JOIN range(0, 4) t(c)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, cast(bit_count(xor(sa, sb)) AS integer) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 10""".stripMargin,
    "ngram_jaccard" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents WHERE doc_id % 2 = 0),
         |sh AS (SELECT doc_id, unnest(${TextFunctions.shinglesSql("tokens", 3)}) AS s FROM toks),
         |ex0 AS (SELECT DISTINCT doc_id, cast('0x' || substr(md5(s), 1, 12) as bigint) AS sk FROM sh),
         |ex AS (SELECT * FROM ex0 WHERE sk IN (
         |  SELECT sk FROM ex0 GROUP BY sk HAVING count(*) <= 10000)),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |  FROM ex x JOIN ex y ON x.sk = y.sk AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY 1)
         |SELECT doc_a, doc_b,
         |  cast(inter AS double) / (sa.n_sh + sb.n_sh - inter) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE cast(inter AS double) / (sa.n_sh + sb.n_sh - inter) >= 0.1""".stripMargin,
    "ngram_containment" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents WHERE doc_id % 2 = 0),
         |sh AS (SELECT doc_id, unnest(${TextFunctions.shinglesSql("tokens", 3)}) AS s FROM toks),
         |ex0 AS (SELECT DISTINCT doc_id, cast('0x' || substr(md5(s), 1, 12) as bigint) AS sk FROM sh),
         |ex AS (SELECT * FROM ex0 WHERE sk IN (
         |  SELECT sk FROM ex0 GROUP BY sk HAVING count(*) <= 10000)),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |  FROM ex x JOIN ex y ON x.sk = y.sk AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY 1)
         |SELECT doc_a, doc_b,
         |  cast(inter AS double) / least(sa.n_sh, sb.n_sh) AS containment
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE cast(inter AS double) / least(sa.n_sh, sb.n_sh) >= 0.5""".stripMargin,
    // ExactSubstr: positional 8-gram index → grams occurring ≥2 times
    // anywhere (incl. within one doc) → gaps-and-islands span merge
    // (islands break when the next gram no longer overlaps/abuts the
    // previous gram's 8-token cover); 0-based positions on both engines
    "exact_substr_spans" ->
      s"""WITH $exactSubstrSpansCte
         |SELECT doc_id, span_start, span_end, span_end - span_start + 1 AS span_tokens
         |FROM esp WHERE span_end - span_start + 1 >= 12""".stripMargin,
    "exact_substr_dedup" ->
      s"""WITH $exactSubstrSpansCte,
         |eper AS (SELECT doc_id, sum(span_end - span_start + 1) AS dup
         |  FROM esp WHERE span_end - span_start + 1 >= 12 GROUP BY 1)
         |SELECT d.doc_id, cast(len($tok) AS bigint) AS n_tokens,
         |  cast(coalesce(dup, 0) AS bigint) AS dup_tokens,
         |  cast(coalesce(dup, 0) AS double)
         |    / cast(greatest(len($tok), 1) AS double) AS dup_fraction
         |FROM documents d LEFT JOIN eper USING (doc_id)""".stripMargin,
    "dedup_embedding" ->
      s"""WITH ${lshBucketsAutoCte(nTables = 16)},
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM buckets a JOIN buckets b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT c.vec_a, c.vec_b,
         |  round(${cosSql("x.embedding", "y.embedding")}, 6) AS cosine
         |FROM cand c JOIN embeddings x ON x.vec_id = c.vec_a
         |  JOIN embeddings y ON y.vec_id = c.vec_b
         |WHERE round(${cosSql("x.embedding", "y.embedding")}, 6) >= 0.3""".stripMargin,
    "knn_lsh" ->
      s"""WITH ${lshBucketsCte()},
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |scored AS (SELECT query_id, neighbor_id,
         |    round(${cosSql("x.embedding", "y.embedding")}, 6) AS score
         |  FROM cand JOIN embeddings x ON x.vec_id = query_id
         |    JOIN embeddings y ON y.vec_id = neighbor_id)
         |SELECT query_id, neighbor_id, score, rnk FROM (
         |  SELECT query_id, neighbor_id, score,
         |    cast(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS integer) AS rnk
         |  FROM scored) WHERE rnk <= 5""".stripMargin,
    "lang_id" ->
      s"""SELECT doc_id, score_en, score_es, score_fr, score_de,
         |  CASE
         |    WHEN score_en > 0 AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_de THEN 'en'
         |    WHEN score_es > 0 AND score_es >= score_fr AND score_es >= score_de THEN 'es'
         |    WHEN score_fr > 0 AND score_fr >= score_de THEN 'fr'
         |    WHEN score_de > 0 THEN 'de'
         |    ELSE 'other' END AS pred_lang
         |FROM (SELECT doc_id,
         |    cast(len(list_filter($tok, x -> x IN ('the', 'a', 'is', 'of'))) AS integer) AS score_en,
         |    cast(len(list_filter($tok, x -> x IN ('el', 'la', 'los', 'de'))) AS integer) AS score_es,
         |    cast(len(list_filter($tok, x -> x IN ('le', 'les', 'des', 'et'))) AS integer) AS score_fr,
         |    cast(len(list_filter($tok, x -> x IN ('der', 'die', 'das', 'und'))) AS integer) AS score_de
         |  FROM documents)""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  cast(length(text) AS integer) AS n_chars,
         |  cast(len(t) AS integer) AS n_tokens,
         |  cast(list_sum(list_transform(t, x -> length(x))) AS double) / greatest(len(t), 1) AS avg_token_len,
         |  cast(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS double)
         |    / greatest(length(text), 1) AS punct_ratio,
         |  cast(len(list_filter(t, x -> x IN ${TextFunctions.stopwordsSql})) AS double)
         |    / greatest(len(t), 1) AS stopword_ratio,
         |  cast((CASE WHEN len(t) >= 5 THEN 4 ELSE 0 END)
         |    + (CASE WHEN cast(len(list_filter(t, x -> x IN ${TextFunctions.stopwordsSql})) AS double)
         |              / greatest(len(t), 1) > 0.05 THEN 3 ELSE 0 END)
         |    + (CASE WHEN cast(list_sum(list_transform(t, x -> length(x))) AS double) / greatest(len(t), 1)
         |              BETWEEN 3.0 AND 10.0 THEN 3 ELSE 0 END) AS double) / cast(10.0 AS double) AS quality_score
         |FROM (SELECT doc_id, text, $tok AS t FROM documents)""".stripMargin,
    "token_count" ->
      s"""SELECT doc_id,
         |  cast(len($tok) AS integer) AS ws_tokens,
         |  cast(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS integer) AS re_tokens,
         |  cast(length(text) AS integer) AS n_chars
         |FROM documents""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 2) AS bucket
        |FROM documents""".stripMargin,
    // integer-ratio arithmetic only (no log()): doubles are identical
    // IEEE divisions of exact longs on both engines, so no rounding
    "token_diversity" ->
      s"""WITH pairs AS (SELECT doc_id, t AS tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest($tok) AS t FROM documents) GROUP BY 1, 2),
         |agg AS (SELECT doc_id, cast(sum(c) AS bigint) AS n,
         |    cast(count(*) AS bigint) AS dt, max(c) AS maxc,
         |    cast(sum(c * c) AS bigint) AS sumc2
         |  FROM pairs GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n, 0) AS n_tokens,
         |  coalesce(dt, 0) AS distinct_tokens,
         |  CASE WHEN n IS NULL THEN 0.0
         |       ELSE maxc::DOUBLE / n::DOUBLE END AS top_share,
         |  CASE WHEN n IS NULL THEN 0.0
         |       ELSE 1.0 - sumc2::DOUBLE / (n * n)::DOUBLE END AS simpson_diversity
         |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "embedding_outliers" ->
      s"""WITH normed AS (SELECT vec_id,
         |    ${VectorFunctions.normSql("list_transform(embedding, x -> x::DOUBLE)")} AS l2_norm
         |  FROM embeddings),
         |stats AS (SELECT
         |    cast(sum(cast(l2_norm AS DECIMAL(28,9))) AS double) / count(*) AS m,
         |    cast(sum(cast(l2_norm * l2_norm AS DECIMAL(28,9))) AS double) / count(*) AS msq
         |  FROM normed),
         |s2 AS (SELECT m, sqrt(greatest(msq - m * m, 0.0e0)) AS sd FROM stats)
         |SELECT vec_id, l2_norm,
         |  CASE WHEN sd = 0.0e0 THEN 0.0e0 ELSE (l2_norm - m) / sd END AS z_score,
         |  abs(CASE WHEN sd = 0.0e0 THEN 0.0e0 ELSE (l2_norm - m) / sd END) > 2.0e0
         |    AS is_outlier
         |FROM normed CROSS JOIN s2""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id, 'application/octet-stream' AS mime,
        |  cast(octet_length(encode(text)) AS integer) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |sh AS (SELECT doc_id, ${TextFunctions.shinglesSql("tokens", 3)} AS shingles FROM toks),
         |hp AS (SELECT doc_id,
         |    list_transform(shingles, s -> struct_pack(
         |      h1 := cast('0x' || substr(md5(s), 1, 12) as bigint),
         |      h2 := cast('0x' || substr(md5(s), 17, 12) as bigint))) AS hp
         |  FROM sh),
         |sig AS (SELECT doc_id,
         |    list_transform(range(0, 16), i ->
         |      list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
         |  FROM hp WHERE len(hp) >= 1),
         |bands AS (SELECT doc_id, b,
         |    cast('0x' || substr(md5(concat(b, '|', sig[2*b+1], ',', sig[2*b+2])), 1, 15) as bigint) AS bkey
         |  FROM sig CROSS JOIN range(0, 8) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
         |  WHERE list_sum(list_transform(range(1, 17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5),
         |bidir AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM bidir
         |  UNION SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a)
         |SELECT a AS doc_id, least(min(b), a) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin,
    "corpus_quota_sample" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${ph("concat(source, '|', doc_id)")}, doc_id) AS rnk
         |  FROM documents) WHERE rnk <= 10""".stripMargin,
    // √mass weights on the round-6 decimal grid (exact total), quota
    // arithmetic as the identical double tree — α fixed at 0.5 because
    // sqrt is correctly rounded where pow is not
    "temperature_sample" ->
      s"""WITH sz AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS s
         |  FROM documents GROUP BY 1),
         |w AS (SELECT source,
         |    CAST(round(sqrt(CAST(s AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w
         |  FROM sz),
         |tw AS (SELECT CAST(sum(CAST(w AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS tw
         |  FROM w),
         |q AS (SELECT source,
         |    CASE WHEN tw > 0 THEN CAST(floor(CAST(100 AS DOUBLE) *
         |      (CAST(w AS DOUBLE) / CAST(tw AS DOUBLE))) AS INTEGER)
         |    ELSE 0 END AS quota
         |  FROM w CROSS JOIN tw),
         |r AS (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${ph("concat(source, '|', doc_id)")}, doc_id) AS rnk
         |  FROM documents)
         |SELECT doc_id, source FROM r JOIN q USING (source)
         |WHERE rnk <= quota""".stripMargin,
    "heavy_hitters" ->
      s"""WITH toksr AS (SELECT unnest($tok) AS token FROM documents),
         |cells AS (
         |  SELECT r, cast('0x' || substr(md5(concat(r, ':', token)), 1, 15) AS bigint) % 1024 AS cell,
         |    count(*) AS c
         |  FROM toksr, range(0, 4) t(r) GROUP BY 1, 2),
         |top AS (SELECT token, count(*) AS cnt FROM toksr
         |  GROUP BY token ORDER BY cnt DESC, token LIMIT 20),
         |probes AS (
         |  SELECT token, cnt, r,
         |    cast('0x' || substr(md5(concat(r, ':', token)), 1, 15) AS bigint) % 1024 AS cell
         |  FROM top, range(0, 4) t(r))
         |SELECT token, cnt, min(c) AS cms_est
         |FROM probes JOIN cells USING (r, cell) GROUP BY token, cnt""".stripMargin,
    "source_overlap" ->
      s"""WITH ex AS (SELECT DISTINCT source,
         |    cast('0x' || substr(md5(s), 1, 12) as bigint) AS gk
         |  FROM (SELECT source, unnest(${TextFunctions.shinglesSql("tokens", 3)}) AS s
         |        FROM (SELECT source, $tok AS tokens FROM documents))),
         |inter AS (SELECT x.source AS src_a, y.source AS src_b, count(*) AS shared_grams
         |  FROM ex x JOIN ex y ON x.gk = y.gk AND x.source < y.source
         |  GROUP BY 1, 2),
         |sizes AS (SELECT source, count(*) AS n_grams FROM ex GROUP BY 1)
         |SELECT src_a, src_b, shared_grams,
         |  cast(shared_grams AS double) / (sa.n_grams + sb.n_grams - shared_grams) AS gram_jaccard
         |FROM inter JOIN sizes sa ON sa.source = src_a JOIN sizes sb ON sb.source = src_b""".stripMargin,
    "corpus_shuffle" ->
      s"""SELECT doc_id,
         |  row_number() OVER (
         |    ORDER BY ${ph("concat('shuffle|', cast(doc_id AS varchar))")}, doc_id) AS pos
         |FROM documents""".stripMargin,
    "corpus_token_budget" ->
      s"""SELECT doc_id, source, n_tokens FROM (
         |  SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS tokens_before
         |  FROM (SELECT doc_id, source, cast(len($tok) AS bigint) AS n_tokens,
         |          ${ph("concat(source, '|', doc_id)")} AS h
         |        FROM documents))
         |WHERE tokens_before < 500""".stripMargin,
    "line_dedup" ->
      s"""WITH fx AS (SELECT doc_id, ${Dedup.wrapLinesSql("text", "source")} AS text
         |  FROM documents),
         |la AS (SELECT doc_id,
         |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
         |      l -> l <> '') AS lines
         |  FROM fx),
         |occ AS (SELECT doc_id, u.pos AS line_no, u.l AS line FROM (
         |  SELECT doc_id, unnest(list_transform(lines,
         |    (x, i) -> struct_pack(l := x, pos := i))) AS u
         |  FROM la)),
         |keep AS (SELECT doc_id, line_no FROM (
         |  SELECT doc_id, line_no,
         |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
         |  FROM occ) WHERE rn = 1)
         |SELECT o.doc_id,
         |  cast(count(*) AS int) AS n_lines,
         |  cast(count(k.doc_id) AS int) AS n_kept,
         |  coalesce(string_agg(o.line, chr(10) ORDER BY o.line_no)
         |    FILTER (WHERE k.doc_id IS NOT NULL), '') AS clean_text
         |FROM occ o LEFT JOIN keep k
         |  ON o.doc_id = k.doc_id AND o.line_no = k.line_no
         |GROUP BY o.doc_id""".stripMargin,
    "line_dedup_incremental" ->
      s"""WITH fx AS (SELECT doc_id, ${Dedup.wrapLinesSql("text", "source")} AS text
         |  FROM documents),
         |la AS (SELECT doc_id,
         |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
         |      l -> l <> '') AS lines
         |  FROM fx),
         |occ AS (SELECT doc_id, u.pos AS line_no, u.l AS line FROM (
         |  SELECT doc_id, unnest(list_transform(lines,
         |    (x, i) -> struct_pack(l := x, pos := i))) AS u
         |  FROM la)),
         |bocc AS (SELECT * FROM occ WHERE doc_id % 3 = 0),
         |keep AS (SELECT doc_id, line_no FROM (
         |  SELECT doc_id, line_no, line,
         |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
         |  FROM bocc) b
         |  WHERE rn = 1
         |    AND line NOT IN (SELECT line FROM occ WHERE doc_id % 3 <> 0))
         |SELECT o.doc_id,
         |  cast(count(*) AS int) AS n_lines,
         |  cast(count(k.doc_id) AS int) AS n_kept,
         |  coalesce(string_agg(o.line, chr(10) ORDER BY o.line_no)
         |    FILTER (WHERE k.doc_id IS NOT NULL), '') AS clean_text
         |FROM bocc o LEFT JOIN keep k
         |  ON o.doc_id = k.doc_id AND o.line_no = k.line_no
         |GROUP BY o.doc_id""".stripMargin,
    "doc_chunks" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS t FROM documents),
         |nch AS (SELECT doc_id, t,
         |    CASE WHEN len(t) = 0 THEN 0
         |         ELSE 1 + (greatest(len(t) - 64, 0) + 47) // 48 END AS nc
         |  FROM toks),
         |ex AS (SELECT doc_id, unnest(CASE WHEN nc > 0
         |      THEN generate_series(0, nc - 1) ELSE []::BIGINT[] END) AS i, t
         |  FROM nch)
         |SELECT doc_id, cast(i AS int) AS chunk_id, cast(i * 48 AS int) AS start_tok,
         |  cast(len(ct) AS int) AS n_tokens,
         |  md5(array_to_string(ct, ' ')) AS chunk_fp
         |FROM (SELECT doc_id, i, list_slice(t, i * 48 + 1, i * 48 + 64) AS ct
         |      FROM ex)""".stripMargin,
    "training_shards" ->
      s"""WITH base AS (SELECT doc_id,
         |    cast(len($tok) AS bigint) AS n,
         |    ${ph("concat('shuffle|', cast(doc_id AS varchar))")} AS h
         |  FROM documents),
         |cum AS (SELECT doc_id, n,
         |    cast(sum(n) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS bigint) AS before
         |  FROM base)
         |SELECT shard_id,
         |  cast(count(*) AS bigint) AS n_docs,
         |  cast(sum(n) AS bigint) AS n_tokens,
         |  bit_xor(${ph("concat('doc|', cast(doc_id AS varchar))")}) AS digest
         |FROM (SELECT doc_id, n, before // 2000 AS shard_id FROM cum)
         |GROUP BY shard_id""".stripMargin,
    "shard_diff" -> {
      def maniCtes(p: String, where: String) =
        s"""${p}b AS (SELECT doc_id, cast(len($tok) AS bigint) AS n,
           |    ${ph("concat('shuffle|', cast(doc_id AS varchar))")} AS h
           |  FROM documents$where),
           |${p}c AS (SELECT doc_id, n,
           |    cast(sum(n) OVER (ORDER BY h, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS bigint) AS before
           |  FROM ${p}b),
           |${p}m AS (SELECT before // 2000 AS shard_id,
           |    cast(count(*) AS bigint) AS n_docs,
           |    cast(sum(n) AS bigint) AS n_tokens,
           |    bit_xor(${ph("concat('doc|', cast(doc_id AS varchar))")}) AS digest
           |  FROM ${p}c GROUP BY 1)""".stripMargin
      s"""WITH ${maniCtes("so", "")},
         |${maniCtes("sn", " WHERE doc_id % 17 <> 3")}
         |SELECT coalesce(som.shard_id, snm.shard_id) AS shard_id,
         |  CASE WHEN som.shard_id IS NULL THEN 'added'
         |       WHEN snm.shard_id IS NULL THEN 'removed'
         |       WHEN som.digest = snm.digest AND som.n_docs = snm.n_docs
         |            AND som.n_tokens = snm.n_tokens THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  coalesce(som.n_docs, 0) AS old_docs,
         |  coalesce(snm.n_docs, 0) AS new_docs,
         |  coalesce(som.n_tokens, 0) AS old_tokens,
         |  coalesce(snm.n_tokens, 0) AS new_tokens
         |FROM som FULL OUTER JOIN snm ON som.shard_id = snm.shard_id""".stripMargin
    },
    "url_dedup" ->
      s"""WITH u AS (SELECT doc_id, ${Html.wrapUrlSql("doc_id", "source")} AS url
         |  FROM documents)
         |SELECT ${Html.urlNormalizeSql("url")} AS canonical_url,
         |  min(doc_id) AS survivor_id, count(*) AS n_copies
         |FROM u GROUP BY 1""".stripMargin,
    "crawl_pipeline" ->
      s"""${Html.htmlExtractCtes(idExpr = "0")},
         |gated AS (SELECT doc_id, clean_text FROM extracted
         |  WHERE len(${TextFunctions.tokensSql("clean_text")}) BETWEEN 5 AND 10000),
         |csurv AS (SELECT doc_id, clean_text FROM (
         |  SELECT doc_id, clean_text,
         |    row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) AS rn
         |  FROM gated) WHERE rn = 1),
         |cbase AS (SELECT doc_id,
         |    cast(len(${TextFunctions.tokensSql("clean_text")}) AS bigint) AS n,
         |    ${ph("concat('shuffle|', cast(doc_id AS varchar))")} AS h FROM csurv),
         |ccum AS (SELECT doc_id, n,
         |    cast(sum(n) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS bigint) AS before
         |  FROM cbase)
         |SELECT shard_id,
         |  cast(count(*) AS bigint) AS n_docs,
         |  cast(sum(n) AS bigint) AS n_tokens,
         |  bit_xor(${ph("concat('doc|', cast(doc_id AS varchar))")}) AS digest
         |FROM (SELECT doc_id, n, before // 2000 AS shard_id FROM ccum)
         |GROUP BY shard_id""".stripMargin,
    "embedding_kmeans" -> Similarity.kmeansOracleSql(),
    "prototype_scores" -> Similarity.prototypeScoresOracleSql(),
    "cluster_sample" ->
      s"""${Similarity.kmeansCtePrefix()},
         |ranked AS (
         |  SELECT vec_id, cid AS cluster_id,
         |    row_number() OVER (PARTITION BY cid
         |      ORDER BY ${ph("concat(cid, '|', vec_id)")}, vec_id) AS rnk
         |  FROM afinal)
         |SELECT vec_id, cluster_id FROM ranked WHERE rnk <= 25""".stripMargin,
    "corpus_split" ->
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < 10 THEN 'test'
         |       WHEN bucket < 20 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM (SELECT doc_id,
         |    ${ph("concat('split|', cast(doc_id AS varchar))")} % 1000 AS bucket
         |  FROM documents)""".stripMargin,
    "vocab_build" ->
      s"""SELECT token, cnt,
         |  cast(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS int) AS token_id
         |FROM (SELECT word AS token, count(*) AS cnt
         |  FROM (SELECT unnest($tok) AS word FROM documents)
         |  GROUP BY word ORDER BY cnt DESC, token LIMIT 500)""".stripMargin,
    "dedup_incremental" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |sh AS (SELECT doc_id, ${TextFunctions.shinglesSql("tokens", 3)} AS shingles FROM toks),
         |hp AS (SELECT doc_id,
         |    list_transform(shingles, s -> struct_pack(
         |      h1 := cast('0x' || substr(md5(s), 1, 12) as bigint),
         |      h2 := cast('0x' || substr(md5(s), 17, 12) as bigint))) AS hp
         |  FROM sh),
         |sig AS (SELECT doc_id,
         |    list_transform(range(0, 16), i ->
         |      list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
         |  FROM hp WHERE len(hp) >= 1),
         |bands AS (SELECT doc_id, b,
         |    ${ph("concat(b, '|', sig[2*b+1], ',', sig[2*b+2])")} AS bkey
         |  FROM sig CROSS JOIN range(0, 8) t(b)),
         |exact_kept AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0
         |  AND md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 3 <> 0)),
         |near AS (SELECT DISTINCT a.doc_id
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
         |    AND a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
         |  JOIN sig sa ON sa.doc_id = a.doc_id JOIN sig sb ON sb.doc_id = b.doc_id
         |  WHERE list_sum(list_transform(range(1, 17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) >= 8)
         |SELECT doc_id FROM exact_kept
         |WHERE doc_id NOT IN (SELECT doc_id FROM near)""".stripMargin,
    "decontaminate" -> decontaminateSql,
    "split_leakage" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |sh AS (SELECT doc_id,
         |    unnest(${TextFunctions.shinglesSql("tokens", 4)}) AS s FROM toks),
         |ex AS (SELECT DISTINCT doc_id,
         |    cast('0x' || substr(md5(s), 1, 12) as bigint) AS gk FROM sh),
         |sp AS (SELECT doc_id,
         |    CASE WHEN b < 100 THEN 'test'
         |         WHEN b < 200 THEN 'val' ELSE 'train' END AS split
         |  FROM (SELECT doc_id,
         |      ${ph("concat('split|', cast(doc_id AS varchar))")} % 1000 AS b
         |    FROM documents)),
         |tg AS (SELECT DISTINCT e.gk FROM ex e
         |  JOIN sp ON sp.doc_id = e.doc_id WHERE sp.split = 'train')
         |SELECT e.doc_id, sp.split, count(*) AS shared_grams
         |FROM ex e JOIN sp ON sp.doc_id = e.doc_id JOIN tg ON tg.gk = e.gk
         |WHERE sp.split <> 'train'
         |GROUP BY 1, 2""".stripMargin,
    // the bloom prescreen is exact after its confirm join — same oracle
    "decontaminate_bloom" -> decontaminateSql,
    "corpus_stats" ->
      s"""SELECT source, lang,
         |  count(*) AS n_docs,
         |  cast(sum(length(text)) AS bigint) AS n_chars,
         |  cast(sum(len($tok)) AS bigint) AS n_tokens,
         |  count(DISTINCT md5(text)) AS n_unique,
         |  1.0 - cast(count(DISTINCT md5(text)) AS double) / count(*) AS dup_rate
         |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin,
    "curation_pipeline" ->
      s"""WITH t0 AS (SELECT doc_id, text, source, $tok AS t FROM documents),
         |good AS (SELECT doc_id, text, source FROM t0 WHERE
         |  cast((CASE WHEN len(t) >= 5 THEN 4 ELSE 0 END)
         |    + (CASE WHEN cast(len(list_filter(t, x -> x IN ${TextFunctions.stopwordsSql})) AS double)
         |              / greatest(len(t), 1) > 0.05 THEN 3 ELSE 0 END)
         |    + (CASE WHEN cast(list_sum(list_transform(t, x -> length(x))) AS double) / greatest(len(t), 1)
         |              BETWEEN 3.0 AND 10.0 THEN 3 ELSE 0 END) AS double) / 10.0 >= 0.9),
         |fp AS (SELECT md5(text) AS f, min(doc_id) AS sid FROM good GROUP BY 1),
         |kept AS (SELECT d.doc_id, d.text, d.source FROM good d JOIN fp ON d.doc_id = fp.sid),
         |toks AS (SELECT doc_id, $tok AS tokens FROM kept),
         |sh AS (SELECT doc_id, ${TextFunctions.shinglesSql("tokens", 3)} AS shingles FROM toks),
         |hp AS (SELECT doc_id,
         |    list_transform(shingles, s -> struct_pack(
         |      h1 := cast('0x' || substr(md5(s), 1, 12) as bigint),
         |      h2 := cast('0x' || substr(md5(s), 17, 12) as bigint))) AS hp
         |  FROM sh),
         |sig AS (SELECT doc_id,
         |    list_transform(range(0, 16), i ->
         |      list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
         |  FROM hp WHERE len(hp) >= 1),
         |bands AS (SELECT doc_id, b,
         |    ${ph("concat(b, '|', sig[2*b+1], ',', sig[2*b+2])")} AS bkey
         |  FROM sig CROSS JOIN range(0, 8) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |pairs AS (SELECT doc_a, doc_b,
         |    list_sum(list_transform(range(1, 17),
         |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 AS est_jaccard
         |  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b),
         |drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE est_jaccard >= 0.5),
         |surv AS (SELECT k.doc_id, k.source FROM kept k
         |  WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = k.doc_id))
         |SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${ph("concat(source, '|', doc_id)")}, doc_id) AS rnk
         |  FROM surv) WHERE rnk <= 10""".stripMargin,
    "pack_sequences" ->
      s"""SELECT doc_id, source, n_tokens,
         |  cast(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS bigint) AS start_offset,
         |  cast(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0) AS bigint) AS bin
         |FROM (SELECT doc_id, source, cast(len($tok) AS bigint) AS n_tokens FROM documents)""".stripMargin,
    // next-fit is a sequential recurrence — the oracle replays it as a
    // recursive CTE advancing every stratum one doc per level
    "pack_aligned" ->
      s"""WITH RECURSIVE sized AS (
         |  SELECT doc_id, cast(source AS varchar) AS stratum,
         |    cast(len($tok) AS bigint) AS n_tokens,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |pack AS (
         |  SELECT doc_id, stratum, n_tokens, rn,
         |    cast(0 AS bigint) AS bin, n_tokens AS used
         |  FROM sized WHERE rn = 1
         |  UNION ALL
         |  SELECT d.doc_id, d.stratum, d.n_tokens, d.rn,
         |    CASE WHEN p.used + d.n_tokens <= 512 THEN p.bin ELSE p.bin + 1 END,
         |    CASE WHEN p.used + d.n_tokens <= 512 THEN p.used + d.n_tokens ELSE d.n_tokens END
         |  FROM pack p JOIN sized d ON d.stratum = p.stratum AND d.rn = p.rn + 1)
         |SELECT doc_id, stratum, n_tokens, bin FROM pack""".stripMargin,
    "text_redact" ->
      s"""WITH t AS (SELECT doc_id,
         |    ${TextAnalysis.wrapPiiSql("doc_id", "text")} AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.EmailRegex}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.PhoneRegex}', '<PHONE>', 'g'),
         |    '${TextAnalysis.Ipv4Regex}', '<IP>', 'g'),
         |    '${TextAnalysis.LongNumberRegex}', '<NUM>', 'g') AS redacted,
         |  cast(len(regexp_extract_all(text, '${TextAnalysis.EmailRegex}')) AS integer) AS n_emails,
         |  cast(len(regexp_extract_all(text, '${TextAnalysis.PhoneRegex}')) AS integer) AS n_phones,
         |  cast(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Regex}')) AS integer) AS n_ips,
         |  cast(len(regexp_extract_all(text, '${TextAnalysis.LongNumberRegex}')) AS integer) AS n_numbers
         |FROM t""".stripMargin,
    "script_profile" -> {
      // generated from the SAME ScriptClasses table the Spark kernel
      // reads — ranges, names, and tie-break order cannot drift
      val classes = TextAnalysis.ScriptClasses
      val cntCols = classes.map { case (n, r) =>
        s"length(text) - length(regexp_replace(text, '[$r]', '', 'g')) AS n_$n"
      }
      val allRanges = classes.map(_._2).mkString
      val names = classes.map { case (n, _) => s"n_$n" }
      val gr = names.mkString("greatest(", ", ", ")")
      val domCases = classes.map { case (n, _) =>
        s"WHEN n_$n = $gr THEN '$n'"
      }.mkString(" ")
      val scCount = names.map(n => s"(CASE WHEN $n > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id,
         |    ${TextAnalysis.wrapScriptsSql("doc_id", "text")} AS text
         |  FROM documents),
         |c AS (SELECT doc_id,
         |    ${cntCols.mkString(",\n    ")},
         |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         |    length(regexp_replace(text, '[${allRanges}0-9\\s]', '', 'g')) AS n_other
         |  FROM w)
         |SELECT doc_id,
         |  CASE WHEN $gr = 0 THEN 'none' $domCases END AS dominant_script,
         |  ${names.mkString(", ")}, n_digit, n_other,
         |  cast($scCount AS bigint) AS script_count
         |FROM c""".stripMargin
    },
    "pii_stats" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    ${TextAnalysis.wrapPiiSparseSql("doc_id", "text")} AS text
         |  FROM documents),
         |c AS (SELECT source,
         |    cast(len(regexp_extract_all(text, '${TextAnalysis.EmailRegex}')) AS bigint) AS email,
         |    cast(len(regexp_extract_all(text, '${TextAnalysis.PhoneRegex}')) AS bigint) AS phone,
         |    cast(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Regex}')) AS bigint) AS ip,
         |    cast(len(regexp_extract_all(text, '${TextAnalysis.LongNumberRegex}')) AS bigint) AS number
         |  FROM t),
         |u AS (SELECT source, 'email' AS pii_class, email AS n FROM c
         |  UNION ALL SELECT source, 'phone', phone FROM c
         |  UNION ALL SELECT source, 'ip', ip FROM c
         |  UNION ALL SELECT source, 'number', number FROM c)
         |SELECT source, pii_class, count(*) AS n_rows,
         |  cast(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS bigint) AS hits,
         |  cast(sum(n) AS bigint) AS spans,
         |  cast(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS double)
         |    / count(*) AS hit_rate
         |FROM u GROUP BY ROLLUP(source, pii_class)""".stripMargin,
    "text_repetition" ->
      s"""SELECT doc_id, cast(len(g) AS integer) AS n_bigrams,
         |  CASE WHEN len(g) > 0
         |    THEN cast(1.0 AS double) - cast(len(list_distinct(g)) AS double) / len(g)
         |    ELSE cast(0.0 AS double) END AS repetition_ratio
         |FROM (SELECT doc_id, ${TextFunctions.shinglesSql("tokens", 2)} AS g
         |      FROM (SELECT doc_id, $tok AS tokens FROM documents))""".stripMargin,
    "text_normalize" ->
      s"""SELECT doc_id,
         |  norm AS normalized,
         |  norm <> text AS changed,
         |  cast(length(text) AS integer) AS n_chars_before,
         |  cast(length(norm) AS integer) AS n_chars_after
         |FROM (SELECT doc_id, text,
         |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
         |      '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'), '[ \\t]+', ' ', 'g')) AS norm
         |  FROM documents)""".stripMargin,
    "blocklist_filter" ->
      s"""WITH t AS (SELECT doc_id, source || '.example.com' AS host,
         |    $tok AS toks FROM documents),
         |b AS (SELECT doc_id, host, toks,
         |    list_filter(toks, x -> x IN (${BlockTerms.map(t => s"'$t'").mkString(", ")})) AS bad
         |  FROM t)
         |SELECT doc_id, host,
         |  cast(len(toks) AS integer) AS n_tokens,
         |  cast(len(bad) AS integer) AS n_bad,
         |  coalesce(array_to_string(list_sort(list_distinct(bad)), ','), '') AS bad_terms,
         |  host IN (${BlockDomains.map(d => s"'$d'").mkString(", ")}) AS domain_blocked,
         |  (NOT host IN (${BlockDomains.map(d => s"'$d'").mkString(", ")}))
         |    AND len(bad) * 1000 <= len(toks) * 30 AS keep
         |FROM b""".stripMargin,
    // every ratio is an IEEE division of exact integers — bit-portable
    "gopher_rules" ->
      s"""WITH base AS (SELECT doc_id, text, $tok AS t,
         |    string_split(text, chr(10)) AS ls FROM documents),
         |m AS (SELECT doc_id,
         |  cast(len(t) AS integer) AS n_words,
         |  length(array_to_string(t, '')) AS wchars,
         |  length(text) - length(replace(text, '#', '')) AS n_hash,
         |  len(regexp_extract_all(text, '\\.\\.\\.')) AS n_ell3,
         |  length(text) - length(replace(text, '…', '')) AS n_ellu,
         |  len(ls) AS n_lines,
         |  len(list_filter(ls, l -> starts_with(ltrim(l), '- ')
         |    OR starts_with(ltrim(l), '* ') OR starts_with(ltrim(l), '• '))) AS n_bullet,
         |  len(list_filter(ls, l -> ends_with(rtrim(l), '...')
         |    OR ends_with(rtrim(l), '…'))) AS n_ellline,
         |  len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         |  cast(${TextAnalysis.GopherRequiredWords.map(w =>
                s"(CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END)").mkString(" + ")}
         |    AS integer) AS stop_hits
         |  FROM base)
         |SELECT doc_id, n_words,
         |  wchars::DOUBLE / greatest(n_words, 1) AS mean_word_len,
         |  (n_hash + n_ell3 + n_ellu)::DOUBLE / greatest(n_words, 1) AS symbol_ratio,
         |  n_bullet::DOUBLE / greatest(n_lines, 1) AS bullet_frac,
         |  n_ellline::DOUBLE / greatest(n_lines, 1) AS ellipsis_frac,
         |  n_alpha::DOUBLE / greatest(n_words, 1) AS alpha_frac,
         |  stop_hits,
         |  (n_words BETWEEN 50 AND 100000)
         |    AND (wchars::DOUBLE / greatest(n_words, 1) BETWEEN 3.0 AND 10.0)
         |    AND ((n_hash + n_ell3 + n_ellu)::DOUBLE / greatest(n_words, 1) <= 0.1)
         |    AND (n_bullet::DOUBLE / greatest(n_lines, 1) <= 0.9)
         |    AND (n_ellline::DOUBLE / greatest(n_lines, 1) <= 0.3)
         |    AND (n_alpha::DOUBLE / greatest(n_words, 1) >= 0.8)
         |    AND (stop_hits >= 2) AS keep
         |FROM m""".stripMargin,
    "gopher_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS t FROM documents),
         |grams AS (SELECT doc_id,
         |    unnest(${TextFunctions.shinglesSql("t", 2)}
         |      || ${TextFunctions.shinglesSql("t", 3)}
         |      || ${TextFunctions.shinglesSql("t", 5)}) AS gram
         |  FROM toks),
         |counts AS (SELECT doc_id,
         |    cast(length(gram) - length(replace(gram, ' ', '')) + 1 AS integer) AS n,
         |    gram, count(*) AS c
         |  FROM grams GROUP BY 1, 2, 3),
         |top AS (SELECT doc_id, n, gram, c FROM (
         |    SELECT doc_id, n, gram, c,
         |      row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) AS rn
         |    FROM counts WHERE n IN (2, 3)) WHERE rn = 1),
         |tops AS (SELECT doc_id,
         |    max(CASE WHEN n = 2 THEN gram END) AS top2g,
         |    max(CASE WHEN n = 2 THEN c END) AS c2,
         |    max(CASE WHEN n = 3 THEN gram END) AS top3g,
         |    max(CASE WHEN n = 3 THEN c END) AS c3
         |  FROM top GROUP BY 1),
         |dup5 AS (SELECT doc_id, sum(c * length(gram)) AS dup5
         |  FROM counts WHERE n = 5 AND c >= 2 GROUP BY 1)
         |SELECT d.doc_id, cast(length(d.text) AS integer) AS n_chars,
         |  coalesce(top2g, '') AS top2_gram,
         |  cast(coalesce(c2, 0) AS bigint) AS top2_count,
         |  (coalesce(c2, 0) * length(coalesce(top2g, '')))::DOUBLE
         |    / greatest(length(d.text), 1) AS top2_share,
         |  coalesce(top3g, '') AS top3_gram,
         |  cast(coalesce(c3, 0) AS bigint) AS top3_count,
         |  (coalesce(c3, 0) * length(coalesce(top3g, '')))::DOUBLE
         |    / greatest(length(d.text), 1) AS top3_share,
         |  coalesce(dup5, 0)::DOUBLE / greatest(length(d.text), 1) AS dup5_char_mass
         |FROM documents d
         |LEFT JOIN tops USING (doc_id) LEFT JOIN dup5 USING (doc_id)""".stripMargin,
    "corpus_dedup" ->
      s"""WITH fp AS (SELECT md5(text) AS f, min(doc_id) AS sid FROM documents GROUP BY 1),
         |kept AS (SELECT d.doc_id, d.text FROM documents d JOIN fp ON d.doc_id = fp.sid),
         |toks AS (SELECT doc_id, $tok AS tokens FROM kept),
         |sh AS (SELECT doc_id, ${TextFunctions.shinglesSql("tokens", 3)} AS shingles FROM toks),
         |hp AS (SELECT doc_id,
         |    list_transform(shingles, s -> struct_pack(
         |      h1 := cast('0x' || substr(md5(s), 1, 12) as bigint),
         |      h2 := cast('0x' || substr(md5(s), 17, 12) as bigint))) AS hp
         |  FROM sh),
         |sig AS (SELECT doc_id,
         |    list_transform(range(0, 16), i ->
         |      list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
         |  FROM hp WHERE len(hp) >= 1),
         |bands AS (SELECT doc_id, b,
         |    cast('0x' || substr(md5(concat(b, '|', sig[2*b+1], ',', sig[2*b+2])), 1, 15) as bigint) AS bkey
         |  FROM sig CROSS JOIN range(0, 8) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |pairs AS (SELECT doc_a, doc_b,
         |    list_sum(list_transform(range(1, 17),
         |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 AS est_jaccard
         |  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b),
         |drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE est_jaccard >= 0.5)
         |SELECT k.doc_id FROM kept k
         |WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = k.doc_id)""".stripMargin,
    "corpus_dedup_best" ->
      s"""WITH fp AS (SELECT md5(text) AS f, min(doc_id) AS sid FROM documents GROUP BY 1),
         |kept AS (SELECT d.doc_id, d.text FROM documents d JOIN fp ON d.doc_id = fp.sid),
         |toks AS (SELECT doc_id, $tok AS tokens FROM kept),
         |sh AS (SELECT doc_id, ${TextFunctions.shinglesSql("tokens", 3)} AS shingles FROM toks),
         |hp AS (SELECT doc_id,
         |    list_transform(shingles, s -> struct_pack(
         |      h1 := cast('0x' || substr(md5(s), 1, 12) as bigint),
         |      h2 := cast('0x' || substr(md5(s), 17, 12) as bigint))) AS hp
         |  FROM sh),
         |sig AS (SELECT doc_id,
         |    list_transform(range(0, 16), i ->
         |      list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
         |  FROM hp WHERE len(hp) >= 1),
         |bands AS (SELECT doc_id, b,
         |    cast('0x' || substr(md5(concat(b, '|', sig[2*b+1], ',', sig[2*b+2])), 1, 15) as bigint) AS bkey
         |  FROM sig CROSS JOIN range(0, 8) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
         |  WHERE list_sum(list_transform(range(1, 17),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 >= 0.5),
         |q AS (SELECT doc_id,
         |  cast((CASE WHEN len(t) >= 5 THEN 4 ELSE 0 END)
         |    + (CASE WHEN cast(len(list_filter(t, x -> x IN ${TextFunctions.stopwordsSql})) AS double)
         |              / greatest(len(t), 1) > 0.05 THEN 3 ELSE 0 END)
         |    + (CASE WHEN cast(list_sum(list_transform(t, x -> length(x))) AS double) / greatest(len(t), 1)
         |              BETWEEN 3.0 AND 10.0 THEN 3 ELSE 0 END) AS double) / cast(10.0 AS double) AS qs
         |  FROM (SELECT doc_id, $tok AS t FROM documents)),
         |drops AS (SELECT DISTINCT
         |    CASE WHEN coalesce(qa.qs, -1.7976931348623157e308)
         |           < coalesce(qb.qs, -1.7976931348623157e308)
         |         THEN doc_a ELSE doc_b END AS doc_id
         |  FROM pairs LEFT JOIN q qa ON qa.doc_id = doc_a
         |             LEFT JOIN q qb ON qb.doc_id = doc_b)
         |SELECT k.doc_id FROM kept k
         |WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = k.doc_id)""".stripMargin,
    "tfidf_topterms" ->
      s"""WITH pairs AS (SELECT doc_id, word AS token, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($tok) AS word FROM documents) GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(*) AS df FROM pairs GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, token, tf, df,
         |    cast(tf * n_docs AS double) / df AS score
         |  FROM pairs JOIN dfreq USING (token) CROSS JOIN n)
         |SELECT doc_id, token, tf, df, score FROM (
         |  SELECT doc_id, token, tf, df, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
         |  FROM scored) WHERE rnk <= 5""".stripMargin,
    "collocations" ->
      s"""WITH terms AS (SELECT unnest(list_concat(t, ${TextFunctions.shinglesSql("t", 2)})) AS term
         |  FROM (SELECT $tok AS t FROM documents)),
         |counts AS (SELECT term, count(*) AS cnt FROM terms GROUP BY 1),
         |uni AS (SELECT term, cnt FROM counts WHERE NOT contains(term, ' ')),
         |big AS (SELECT string_split(term, ' ')[1] AS w1, string_split(term, ' ')[2] AS w2,
         |    cnt AS n_pair FROM counts WHERE contains(term, ' ')),
         |t AS (SELECT cast(sum(cnt) AS bigint) AS total FROM uni)
         |SELECT w1, w2, n_pair, u1.cnt AS n_w1, u2.cnt AS n_w2,
         |  (cast(n_pair AS double) * cast(total AS double))
         |    / (cast(u1.cnt AS double) * cast(u2.cnt AS double)) AS score
         |FROM big JOIN uni u1 ON w1 = u1.term JOIN uni u2 ON w2 = u2.term CROSS JOIN t
         |WHERE n_pair >= 5
         |ORDER BY score DESC, w1, w2 LIMIT 50""".stripMargin,
    "knn_join" ->
      s"""WITH ${lshBucketsCte()},
         |cand AS (SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
         |  FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |    AND a.vec_id <> b.vec_id),
         |scored AS (SELECT c.vec_id, c.neighbor_id,
         |    round(${cosSql("x.embedding", "y.embedding")}, 6) AS score
         |  FROM cand c JOIN embeddings x ON x.vec_id = c.vec_id
         |  JOIN embeddings y ON y.vec_id = c.neighbor_id)
         |SELECT vec_id, neighbor_id, score FROM (
         |  SELECT vec_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, neighbor_id) AS rnk
         |  FROM scored) WHERE rnk <= 3""".stripMargin,
  )

  private val cOracles2: Map[String, String] = Map(
    "embedding_project" -> Similarity.randomProjectOracleSql(),
    "embedding_quantize" -> Similarity.quantizeInt8OracleSql(),
    "embedding_pq" -> Similarity.pqEncodeOracleSql(),
    "html_extract" -> Html.htmlExtractOracleSql(),
    "robots_gate" -> Html.robotsGateOracleSql,
    "robots_txt_filter" -> Html.robotsTxtFilterOracleSql,
    "robots_directives" -> Html.robotsDirectivesOracleSql,
    "sitemap_parse" -> Html.sitemapParseOracleSql,
    "sitemap_index" -> Html.sitemapIndexOracleSql,
    "link_extract" -> Links.linkExtractOracleSql,
    "link_graph" -> Links.linkGraphOracleSql,
    "host_rank" -> Links.hostRankOracleSql(),
    "anchor_corpus" -> Links.anchorCorpusOracleSql,
    "doc_anchors" -> Links.docAnchorsOracleSql,
    "canonical_hint" -> Links.canonicalHintOracleSql,
    "host_reputation" -> {
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
    },
    "host_split" ->
      s"""SELECT doc_id, source || '.example.com' AS split_key, bucket,
         |  CASE WHEN bucket < 100 THEN 'test'
         |       WHEN bucket < 200 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM (SELECT doc_id, source,
         |    ${ph("concat('ksplit|', source || '.example.com')")} % 1000 AS bucket
         |  FROM documents)""".stripMargin,
    "recrawl_schedule" ->
      s"""WITH sm AS (SELECT source || '.example.com' AS host, doc_id,
         |    ${Html.wrapSitemapSql("doc_id", "source")} AS xml FROM documents),
         |ent AS (SELECT host,
         |    unnest(list_transform(regexp_extract_all(xml, '${Html.SitemapUrlPat}', 1),
         |      (x, i) -> struct_pack(i := i, x := x))) AS e
         |  FROM sm),
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
         |FROM m""".stripMargin,
    "frontier_budget" ->
      s"""WITH sm AS (SELECT source || '.example.com' AS host, doc_id,
         |    ${Html.wrapSitemapSql("doc_id", "source")} AS xml FROM documents),
         |ent AS (SELECT host,
         |    unnest(list_transform(regexp_extract_all(xml, '${Html.SitemapUrlPat}', 1),
         |      (x, i) -> struct_pack(i := i, x := x))) AS e
         |  FROM sm),
         |fx AS (SELECT host,
         |    regexp_extract(e.x, '${Html.LocPat}', 1) AS loc,
         |    regexp_extract(e.x, '${Html.LastmodPat}', 1) AS lastmod,
         |    CASE WHEN regexp_extract(e.x, '${Html.PriorityPat}', 1) = '' THEN 0.5
         |         ELSE cast(regexp_extract(e.x, '${Html.PriorityPat}', 1) AS DOUBLE)
         |         END AS priority
         |  FROM ent WHERE regexp_extract(e.x, '${Html.LocPat}', 1) <> ''),
         |w AS (SELECT *, row_number() OVER (PARTITION BY host
         |    ORDER BY priority DESC, lastmod DESC, loc DESC) AS rn FROM fx)
         |SELECT host, loc, lastmod, priority FROM w WHERE rn <= 25""".stripMargin,
    "crawl_discover" ->
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
         |d AS (SELECT DISTINCT source || '.example.com' AS host,
         |    CASE WHEN length(source) % 2 = 0 THEN
         |      CASE WHEN regexp_extract(source, '([0-9])$$', 1) IN ('0','3','6','9')
         |        THEN 2.0 ELSE 0.0 END
         |      ELSE 5.0 END AS delay
         |  FROM documents),
         |sch AS (SELECT alw.loc, alw.host, coalesce(d.delay, 1.0) AS delay,
         |    cast(row_number() OVER (PARTITION BY alw.host ORDER BY alw.loc) - 1
         |      AS INTEGER) AS slot
         |  FROM alw LEFT JOIN d ON alw.host = d.host)
         |SELECT loc AS canonical_url, host, slot,
         |  cast(slot * delay AS DOUBLE) AS fetch_offset_sec
         |FROM sch""".stripMargin,
    // NOTE: must keep ending in the bare `FROM w` — oracleSql derives
    // politeness_schedule_quota from this string by appending a WHERE
    "politeness_schedule" ->
      s"""WITH u AS (SELECT doc_id,
         |    ${Html.urlNormalizeSql(Html.wrapUrlSql("doc_id", "source"))} AS url
         |  FROM documents),
         |h AS (SELECT doc_id, url AS canonical_url,
         |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host
         |  FROM u),
         |d AS (SELECT DISTINCT source || '.example.com' AS host,
         |    CASE WHEN length(source) % 2 = 0 THEN
         |      CASE WHEN regexp_extract(source, '([0-9])$$', 1) IN ('0','3','6','9')
         |        THEN 2.0 ELSE 0.0 END
         |      ELSE 5.0 END AS delay
         |  FROM documents),
         |w AS (SELECT h.doc_id, h.canonical_url, h.host,
         |    coalesce(d.delay, 1.0) AS delay,
         |    cast(row_number() OVER (PARTITION BY h.host ORDER BY h.doc_id) - 1
         |      AS INTEGER) AS slot
         |  FROM h LEFT JOIN d ON h.host = d.host)
         |SELECT doc_id, canonical_url, host, slot,
         |  cast(slot * delay AS DOUBLE) AS fetch_offset_sec
         |FROM w""".stripMargin,
    // politeness_schedule_quota's oracle is not listed here: oracleSql
    // DERIVES it (the unbounded schedule's SQL + "WHERE slot < 7") so
    // the twins can never drift
    "decontaminate_semantic" ->
      s"""WITH ev AS (SELECT vec_id AS eval_id, embedding AS e
         |  FROM embeddings WHERE vec_id % 50 = 7),
         |tr AS (SELECT vec_id, embedding AS t
         |  FROM embeddings WHERE vec_id % 50 <> 7),
         |scored AS (SELECT tr.vec_id, ev.eval_id,
         |    round(${cosSql("tr.t", "ev.e")}, 6) AS c
         |  FROM tr CROSS JOIN ev),
         |m AS (SELECT vec_id,
         |    max(struct_pack(c := c, nid := -eval_id)) AS m
         |  FROM scored GROUP BY 1)
         |SELECT vec_id, m.c AS max_eval_cos, -m.nid AS nearest_eval_id,
         |  m.c >= 0.9 AS contaminated
         |FROM m""".stripMargin,
    // log-based scores: every ln is rounded to 6 decimals and cast to
    // DECIMAL before summing (the 1-ulp JVM/DuckDB ln divergence is
    // absorbed by the round; decimal sums are exact and
    // order-independent — see operators/Scoring.scala)
    "ngram_lm_perplexity" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS t FROM documents),
         |dg AS (SELECT doc_id, gram, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(${TextFunctions.shinglesSql("t", 2)}) AS gram
         |        FROM toks)
         |  GROUP BY 1, 2),
         |gc AS (SELECT gram, CAST(sum(tf) AS BIGINT) AS c2 FROM dg GROUP BY 1),
         |pc AS (SELECT split_part(gram, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
         |  FROM gc GROUP BY 1),
         |sc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |    CAST(sum(CAST(tf AS DECIMAL(10,0)) *
         |        CAST(round(ln(CAST(c1 AS DOUBLE) / CAST(c2 AS DOUBLE)), 6)
         |          AS DECIMAL(18,6))) AS DOUBLE)
         |      / CAST(sum(tf) AS BIGINT) AS cross_entropy
         |  FROM dg JOIN gc USING (gram)
         |    JOIN pc ON pc.w1 = split_part(gram, ' ', 1)
         |  GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM sc)
         |SELECT doc_id, n_bigrams, cross_entropy,
         |  CASE WHEN (rn - 1) * 3 < n_docs THEN 'head'
         |       WHEN (rn - 1) * 3 < 2 * n_docs THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM (SELECT doc_id, n_bigrams, cross_entropy,
         |    row_number() OVER (ORDER BY cross_entropy, doc_id) AS rn FROM sc)
         |CROSS JOIN n""".stripMargin,
    "ngram_lm_backoff" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS t FROM documents),
         |train AS (SELECT t FROM toks WHERE doc_id % 2 = 0),
         |uni AS (SELECT w, count(*) AS c1
         |  FROM (SELECT unnest(t) AS w FROM train) GROUP BY 1),
         |bi AS (SELECT g, count(*) AS c2
         |  FROM (SELECT unnest(${TextFunctions.shinglesSql("t", 2)}) AS g FROM train)
         |  GROUP BY 1),
         |tri AS (SELECT g, count(*) AS c3
         |  FROM (SELECT unnest(${TextFunctions.shinglesSql("t", 3)}) AS g FROM train)
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uni),
         |dt AS (SELECT doc_id, g.tri AS tri, g.p12 AS p12, g.s23 AS s23,
         |    g.w2 AS w2, g.w3 AS w3, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
         |      i -> {'tri': t[i] || ' ' || t[i+1] || ' ' || t[i+2],
         |            'p12': t[i] || ' ' || t[i+1],
         |            's23': t[i+1] || ' ' || t[i+2],
         |            'w2': t[i+1], 'w3': t[i+2]})) AS g
         |    FROM toks WHERE len(t) >= 3)
         |  GROUP BY 1, 2, 3, 4, 5, 6),
         |j AS (SELECT dt.doc_id, dt.tf, t3.c3, bp.c2 AS c2p, bs.c2 AS c2s,
         |    u2.c1 AS c1w2, u3.c1 AS c1w3, n
         |  FROM dt LEFT JOIN tri t3 ON t3.g = dt.tri
         |    LEFT JOIN bi bp ON bp.g = dt.p12
         |    LEFT JOIN bi bs ON bs.g = dt.s23
         |    LEFT JOIN uni u2 ON u2.w = dt.w2
         |    LEFT JOIN uni u3 ON u3.w = dt.w3
         |    CROSS JOIN tot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
         |  CAST(sum(CAST(tf AS DECIMAL(10,0)) * CAST(round(
         |    CASE WHEN c3 IS NOT NULL
         |           THEN ln(CAST(c3 AS DOUBLE) / CAST(c2p AS DOUBLE))
         |         WHEN c2s IS NOT NULL
         |           THEN ln(0.4 * (CAST(c2s AS DOUBLE) / CAST(c1w2 AS DOUBLE)))
         |         WHEN c1w3 IS NOT NULL
         |           THEN ln(0.4 * 0.4 * (CAST(c1w3 AS DOUBLE) / CAST(n AS DOUBLE)))
         |         ELSE ln(0.4 * 0.4 * (1.0 / CAST(n AS DOUBLE))) END, 6)
         |    AS DECIMAL(18,6))) AS DOUBLE) / CAST(sum(tf) AS BIGINT)
         |    AS mean_logscore,
         |  CAST(sum(CASE WHEN c3 IS NOT NULL THEN tf ELSE 0 END) AS BIGINT) AS n_tri,
         |  CAST(sum(CASE WHEN c3 IS NULL AND c2s IS NOT NULL THEN tf ELSE 0 END)
         |    AS BIGINT) AS n_bi,
         |  CAST(sum(CASE WHEN c3 IS NULL AND c2s IS NULL AND c1w3 IS NOT NULL
         |    THEN tf ELSE 0 END) AS BIGINT) AS n_uni,
         |  CAST(sum(CASE WHEN c3 IS NULL AND c2s IS NULL AND c1w3 IS NULL
         |    THEN tf ELSE 0 END) AS BIGINT) AS n_oov
         |FROM j GROUP BY 1""".stripMargin,
    "token_entropy" ->
      s"""WITH tc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest($tok) AS token FROM documents)
         |  GROUP BY 1, 2),
         |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY 1),
         |e AS (SELECT t.doc_id, max(tot.n) AS n_tokens,
         |    CAST(sum(CAST(t.c AS DECIMAL(10,0)) * CAST(round(ln(
         |      CAST(tot.n AS DOUBLE) / CAST(t.c AS DOUBLE)), 6)
         |      AS DECIMAL(18,6))) AS DOUBLE) / CAST(max(tot.n) AS DOUBLE)
         |      AS entropy_nats
         |  FROM tc t JOIN tot ON tot.doc_id = t.doc_id GROUP BY 1)
         |SELECT d.doc_id, coalesce(e.n_tokens, 0) AS n_tokens,
         |  coalesce(e.entropy_nats, 0.0) AS entropy_nats
         |FROM documents d LEFT JOIN e USING (doc_id)""".stripMargin,
    // same weight factorization as the Spark side: integer counts ×
    // round-6-decimal ln terms, ONE unrounded decimal→double quotient
    "source_divergence" ->
      s"""WITH st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest($tok) AS token FROM documents)
         |  GROUP BY 1, 2),
         |tt AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY 1),
         |stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns,
         |    CAST(count(*) AS BIGINT) AS n_types FROM st GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st)
         |SELECT s.source, max(st2.ns) AS n_tokens, max(st2.n_types) AS n_types,
         |  CAST(sum(CAST(s.c AS DECIMAL(10,0)) * CAST(round(ln(
         |    (CAST(s.c AS DOUBLE) * CAST(tot.n AS DOUBLE)) /
         |    (CAST(st2.ns AS DOUBLE) * CAST(t.ct AS DOUBLE))), 6)
         |    AS DECIMAL(18,6))) AS DOUBLE) / CAST(max(st2.ns) AS DOUBLE) AS kl_nats
         |FROM st s JOIN tt t USING (token) JOIN stot st2 USING (source)
         |CROSS JOIN tot
         |GROUP BY 1""".stripMargin,
    "dsir_weights" ->
      s"""WITH toks AS (SELECT doc_id, lang = 'en' AS tgt, $tok AS t FROM documents),
         |feats AS (SELECT doc_id, tgt,
         |    ${graft.functions.PortableHash.duckdb("'dsir|' || feat")} % 4096 AS bucket,
         |    count(*) AS cnt
         |  FROM (SELECT doc_id, tgt,
         |        unnest(list_concat(t, ${TextFunctions.shinglesSql("t", 2)})) AS feat
         |        FROM toks)
         |  GROUP BY 1, 2, 3),
         |counts AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cr,
         |    CAST(sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS BIGINT) AS ct
         |  FROM feats GROUP BY 1),
         |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
         |    CAST(sum(ct) AS BIGINT) AS nt FROM counts),
         |sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
         |    round(CAST(sum(CAST(cnt AS DECIMAL(10,0)) * CAST(round(ln(
         |      (CAST(ct + 1 AS DOUBLE) / CAST(nt + 4096 AS DOUBLE)) /
         |      (CAST(cr + 1 AS DOUBLE) / CAST(nr + 4096 AS DOUBLE))), 6)
         |      AS DECIMAL(18,6))) AS DOUBLE), 6) AS log_weight
         |  FROM feats JOIN counts USING (bucket) CROSS JOIN tot
         |  GROUP BY 1),
         |m AS (SELECT count(*) AS m FROM documents WHERE lang = 'en')
         |SELECT doc_id, n_feats, log_weight,
         |  row_number() OVER (ORDER BY log_weight DESC, doc_id) <= m AS keep
         |FROM sc CROSS JOIN m""".stripMargin,
    "quality_classifier_nb" ->
      s"""WITH dt AS (SELECT doc_id, pos, token, count(*) AS cnt
         |  FROM (SELECT doc_id, lang = 'en' AS pos, unnest($tok) AS token
         |        FROM documents)
         |  GROUP BY 1, 2, 3),
         |counts AS (SELECT token,
         |    CAST(sum(CASE WHEN pos THEN cnt ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN pos THEN 0 ELSE cnt END) AS BIGINT) AS cn
         |  FROM dt GROUP BY 1),
         |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
         |    CAST(sum(cn) AS BIGINT) AS nn, count(*) AS v FROM counts),
         |dprior AS (SELECT
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS dp,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS dn
         |  FROM documents),
         |sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |    round(CAST(max(CAST(round(ln(CAST(dp AS DOUBLE) / CAST(dn AS DOUBLE)), 6)
         |        AS DECIMAL(18,6))) AS DOUBLE)
         |      + CAST(sum(CAST(cnt AS DECIMAL(10,0)) * CAST(round(ln(
         |        (CAST(cp + 1 AS DOUBLE) / CAST(np + v AS DOUBLE)) /
         |        (CAST(cn + 1 AS DOUBLE) / CAST(nn + v AS DOUBLE))), 6)
         |        AS DECIMAL(18,6))) AS DOUBLE), 6) AS log_odds
         |  FROM dt JOIN counts USING (token) CROSS JOIN tot CROSS JOIN dprior
         |  GROUP BY 1)
         |SELECT doc_id, n_tokens, log_odds, log_odds > 0 AS predicted
         |FROM sc""".stripMargin,
    "bpe_pair_freqs" ->
      s"""WITH words AS (SELECT word, count(*) AS wcount
         |  FROM (SELECT unnest($tok) AS word FROM documents) GROUP BY 1),
         |syms AS (SELECT list_append(string_split(word, ''), '</w>') AS s, wcount
         |  FROM words),
         |pairs AS (SELECT unnest(list_transform(range(1, len(s)),
         |    i -> {'l': s[i], 'r': s[i + 1]})) AS p, wcount FROM syms),
         |agg AS (SELECT p.l AS "left", p.r AS "right",
         |    CAST(sum(wcount) AS BIGINT) AS freq
         |  FROM pairs GROUP BY 1, 2)
         |SELECT "left", "right", freq FROM agg
         |ORDER BY freq DESC, "left", "right" LIMIT 100""".stripMargin,
    "token_spectrum" ->
      s"""WITH counts AS (SELECT token, count(*) AS freq
         |  FROM (SELECT unnest($tok) AS token FROM documents) GROUP BY 1),
         |spec AS (SELECT freq, count(*) AS n_types, freq * count(*) AS mass
         |  FROM counts GROUP BY 1)
         |SELECT freq, n_types, mass,
         |  CAST(sum(n_types) OVER (ORDER BY freq DESC) AS BIGINT) AS cum_types,
         |  CAST(sum(mass) OVER (ORDER BY freq DESC) AS BIGINT) AS cum_mass
         |FROM spec""".stripMargin,
    "dedup_pagerank" -> operators.Graph.pagerankOracleSql(),
    "semantic_clusters" ->
      s"""WITH RECURSIVE ${lshBucketsAutoCte(nTables = 16)},
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM buckets a JOIN buckets b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |pairs AS (SELECT c.vec_a, c.vec_b
         |  FROM cand c JOIN embeddings x ON x.vec_id = c.vec_a
         |    JOIN embeddings y ON y.vec_id = c.vec_b
         |  WHERE round(${cosSql("x.embedding", "y.embedding")}, 6) >= 0.4),
         |bidir AS (SELECT vec_a AS a, vec_b AS b FROM pairs
         |  UNION SELECT vec_b, vec_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM bidir
         |  UNION SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a)
         |SELECT a AS vec_id, least(min(b), a) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin,
    "mixture_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${ph("concat(lang, '|', cast(doc_id AS varchar))")} % 1000000 <
         |  CASE WHEN lang = 'en' THEN 300000
         |       WHEN lang = 'zh' THEN 1000000
         |       ELSE 700000 END""".stripMargin,
    "cdc_chunks" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |pt AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
         |  SELECT doc_id, unnest(list_transform(tokens,
         |    (x, i) -> struct_pack(tok := x, pos := i))) AS u
         |  FROM toks)),
         |anchored AS (SELECT doc_id, pos, tok,
         |    CASE WHEN ${ph("concat('cdc|', tok)")} % 16 = 0 THEN 1 ELSE 0 END AS is_anchor
         |  FROM pt),
         |chunked AS (SELECT doc_id, pos, tok,
         |    sum(is_anchor) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk
         |  FROM anchored),
         |chunks AS (SELECT doc_id, chunk,
         |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp,
         |    count(*) AS n_tokens
         |  FROM chunked GROUP BY doc_id, chunk)
         |SELECT chunk_fp, count(*) AS n_occurrences,
         |  count(DISTINCT doc_id) AS n_docs,
         |  min(doc_id) AS example_doc, min(n_tokens) AS n_tokens
         |FROM chunks GROUP BY chunk_fp HAVING count(DISTINCT doc_id) >= 2""".stripMargin,
    "cdc_containment" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
         |pt AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
         |  SELECT doc_id, unnest(list_transform(tokens,
         |    (x, i) -> struct_pack(tok := x, pos := i))) AS u
         |  FROM toks)),
         |anchored AS (SELECT doc_id, pos, tok,
         |    CASE WHEN ${ph("concat('cdc|', tok)")} % 16 = 0 THEN 1 ELSE 0 END AS is_anchor
         |  FROM pt),
         |chunked AS (SELECT doc_id, pos, tok,
         |    sum(is_anchor) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk
         |  FROM anchored),
         |chunks AS (SELECT doc_id, chunk,
         |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp,
         |    count(*) AS n_tokens
         |  FROM chunked GROUP BY doc_id, chunk),
         |ref AS (SELECT DISTINCT chunk_fp FROM chunks WHERE doc_id % 3 <> 0),
         |bat AS (SELECT * FROM chunks WHERE doc_id % 3 = 0),
         |tot AS (SELECT doc_id, count(*) AS n_chunks,
         |    cast(sum(n_tokens) AS bigint) AS total_tokens
         |  FROM bat GROUP BY 1),
         |mat AS (SELECT doc_id, count(*) AS n_matched,
         |    cast(sum(n_tokens) AS bigint) AS matched_tokens
         |  FROM bat WHERE chunk_fp IN (SELECT chunk_fp FROM ref) GROUP BY 1)
         |SELECT t.doc_id, n_chunks,
         |  coalesce(n_matched, 0) AS n_matched,
         |  cast(coalesce(matched_tokens, 0) AS double) / total_tokens AS matched_frac
         |FROM tot t LEFT JOIN mat USING (doc_id)
         |WHERE cast(coalesce(matched_tokens, 0) AS double) / total_tokens >= 0.5""".stripMargin,
    "diverse_quality_sample" ->
      s"""${Similarity.kmeansCtePrefix()},
         |q AS (SELECT doc_id,
         |  cast((CASE WHEN len(t) >= 5 THEN 4 ELSE 0 END)
         |    + (CASE WHEN cast(len(list_filter(t, x -> x IN ${TextFunctions.stopwordsSql})) AS double)
         |              / greatest(len(t), 1) > 0.05 THEN 3 ELSE 0 END)
         |    + (CASE WHEN cast(list_sum(list_transform(t, x -> length(x))) AS double) / greatest(len(t), 1)
         |              BETWEEN 3.0 AND 10.0 THEN 3 ELSE 0 END) AS double) / cast(10.0 AS double) AS quality_score
         |  FROM (SELECT doc_id, $tok AS t FROM documents)),
         |j AS (SELECT a.cid AS cluster_id, q.doc_id, q.quality_score
         |  FROM q JOIN afinal a ON q.doc_id = a.vec_id)
         |SELECT cluster_id, doc_id, quality_score FROM (
         |  SELECT cluster_id, doc_id, quality_score,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality_score DESC, doc_id) AS rnk
         |  FROM j) WHERE rnk <= 25""".stripMargin,
    // every arithmetic step in explicit DOUBLE (e0 literals — DuckDB
    // bare decimals are DECIMAL typed), same tree shape as the Spark
    // side; per-term contributions rounded to 6dp then DECIMAL-summed
    // so the score is order-independent on both engines
    "bm25_search" ->
      s"""WITH toks AS (SELECT doc_id, $tok AS t FROM documents),
         |bm_pairs AS (
         |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
         |  FROM (SELECT doc_id, cast(len(t) AS bigint) AS dl, unnest(t) AS token
         |        FROM toks)
         |  WHERE token IN ${bm25TermsSql}
         |  GROUP BY 1, 2),
         |bm_df AS (SELECT token, count(*) AS df FROM bm_pairs GROUP BY 1),
         |bm_stats AS (SELECT count(*) AS n, cast(sum(len(t)) AS bigint) AS tot
         |  FROM toks),
         |bm_q(query_id, token) AS (VALUES ${bm25QueryRowsSql}),
         |bm_contrib AS (SELECT query_id, p.doc_id,
         |    cast(round(
         |      ((n - df + 0.5e0) / (df + 0.5e0)) *
         |      ((p.tf::DOUBLE * 2.2e0) /
         |       (p.tf::DOUBLE + 1.2e0 * (0.25e0 + 0.75e0 *
         |        (p.dl::DOUBLE / (tot::DOUBLE / n))))), 6) AS DECIMAL(28,9)) AS c
         |  FROM bm_pairs p JOIN bm_q USING (token) JOIN bm_df USING (token)
         |  CROSS JOIN bm_stats),
         |bm_scores AS (SELECT query_id, doc_id, cast(sum(c) AS double) AS score
         |  FROM bm_contrib GROUP BY 1, 2)
         |SELECT query_id, doc_id, score FROM (
         |  SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS rnk
         |  FROM bm_scores) WHERE rnk <= 10""".stripMargin,
    "semantic_dedup" -> Similarity.semanticDedupOracleSql(),
    "ngram_novelty" ->
      s"""WITH nn_toks AS (SELECT doc_id, $tok AS t FROM documents),
         |nn_grams AS (SELECT DISTINCT doc_id,
         |    cast('0x' || substr(md5(s), 1, 12) AS bigint) AS gh
         |  FROM (SELECT doc_id, unnest(${TextFunctions.shinglesSql("t", 3)}) AS s
         |        FROM nn_toks)),
         |nn_df AS (SELECT gh, count(*) AS df FROM nn_grams GROUP BY 1),
         |nn_per AS (SELECT doc_id, cast(count(*) AS bigint) AS n_grams,
         |    cast(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS bigint) AS dup_grams
         |  FROM nn_grams JOIN nn_df USING (gh) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n_grams, 0) AS n_grams,
         |  coalesce(dup_grams, 0) AS dup_grams,
         |  coalesce(dup_grams, 0)::DOUBLE / greatest(coalesce(n_grams, 0), 1)
         |    AS dup_fraction
         |FROM documents d LEFT JOIN nn_per USING (doc_id)""".stripMargin,
    // window min with rightmost tiebreak = min over (h, -pos) structs;
    // full windows only (pos ≤ glen − (w−1)); df-capped before pairing
    "winnow_overlap" ->
      s"""WITH wt AS (SELECT doc_id, $tok AS t FROM documents),
         |wsh AS (SELECT doc_id, ${TextFunctions.shinglesSql("t", 4)} AS sh FROM wt),
         |wg0 AS (SELECT doc_id, len(sh) AS glen,
         |    unnest(list_transform(sh, (x, i) -> struct_pack(pos := i,
         |      h := cast('0x' || substr(md5(x), 1, 12) AS bigint)))) AS g
         |  FROM wsh),
         |wg AS (SELECT doc_id, glen, g.pos AS pos, g.h AS h FROM wg0),
         |wsel AS (SELECT g1.doc_id,
         |    min(struct_pack(h := g2.h, np := -g2.pos)) AS m
         |  FROM wg g1 JOIN wg g2 ON g1.doc_id = g2.doc_id
         |    AND g2.pos BETWEEN g1.pos AND g1.pos + 4
         |  WHERE g1.pos <= g1.glen - 4
         |  GROUP BY g1.doc_id, g1.pos),
         |wf AS (SELECT DISTINCT doc_id, m.h AS h FROM wsel),
         |wr AS (SELECT h FROM (SELECT h, count(*) AS c FROM wf GROUP BY 1)
         |       WHERE c <= 1000),
         |wk AS (SELECT wf.doc_id, wf.h FROM wf JOIN wr USING (h))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS shared_fps
         |FROM wk a JOIN wk b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // same moment arithmetic as embedding_outliers (decimal-cast sums,
    // sqrt of a zero-clamped variance), per source
    "quality_calibration" ->
      s"""WITH qc AS (SELECT doc_id, source,
         |  cast((CASE WHEN len(t) >= 5 THEN 4 ELSE 0 END)
         |    + (CASE WHEN cast(len(list_filter(t, x -> x IN ${TextFunctions.stopwordsSql})) AS double)
         |              / greatest(len(t), 1) > 0.05 THEN 3 ELSE 0 END)
         |    + (CASE WHEN cast(list_sum(list_transform(t, x -> length(x))) AS double) / greatest(len(t), 1)
         |              BETWEEN 3.0 AND 10.0 THEN 3 ELSE 0 END) AS double) / cast(10.0 AS double) AS q
         |  FROM (SELECT doc_id, source, $tok AS t FROM documents)),
         |qm AS (SELECT source,
         |    cast(sum(cast(q AS DECIMAL(28,12))) AS double) / count(*) AS m,
         |    cast(sum(cast(q * q AS DECIMAL(28,12))) AS double) / count(*) AS msq
         |  FROM qc GROUP BY 1),
         |qs2 AS (SELECT source, m, sqrt(greatest(msq - m * m, 0.0e0)) AS sd FROM qm)
         |SELECT doc_id, qc.source, q AS quality_score,
         |  CASE WHEN sd = 0.0e0 THEN 0.0e0 ELSE (q - m) / sd END AS z_score,
         |  (CASE WHEN sd = 0.0e0 THEN 0.0e0 ELSE (q - m) / sd END) < -1.0e0 AS is_low
         |FROM qc JOIN qs2 USING (source)""".stripMargin,
    "corpus_diff" ->
      """WITH olds AS (SELECT md5(text) AS fingerprint, min(doc_id) AS old_id
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |news AS (SELECT md5(text) AS fingerprint, min(doc_id) AS new_id
        |  FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1)
        |SELECT coalesce(olds.fingerprint, news.fingerprint) AS fingerprint,
        |  CASE WHEN old_id IS NULL THEN 'added'
        |       WHEN new_id IS NULL THEN 'removed'
        |       ELSE 'kept' END AS status,
        |  old_id, new_id
        |FROM olds FULL OUTER JOIN news ON olds.fingerprint = news.fingerprint""".stripMargin,
  )

  /** The nearest-neighbour ladder as [[AnnSpec]] values: each name is
    * `Similarity.knn` over the first 10 ids (top 5) with its spec, and
    * its oracle is `Similarity.knnOracleSql` of the same spec.
    */
  private val AnnQueries: Seq[(String, AnnSpec)] = {
    import AnnSpec.{Code, Coarse}
    Seq(
      // exact cosine — the correctness baseline (C6)
      "knn_bruteforce" -> AnnSpec(),
      // IVF over the `id % 50` subsample cells (C7b)
      "knn_ivf" -> AnnSpec(Coarse.Mod()),
      // fixed-k TRAINED coarse quantizer (C74): centroid count no longer
      // scales with the corpus — the 100 TB IVF configuration
      "knn_ivf_trained" -> AnnSpec(Coarse.Trained()),
      // exhaustive ADC over PQ codes with broadcast distance tables (C56)
      "knn_pq" -> AnnSpec(code = Code.Pq()),
      // PQ with Lloyd-trained subspace codebooks — the production
      // configuration; sampled codebooks are only the init (C103)
      "knn_pq_trained" -> AnnSpec(code = Code.Pq(trainIters = 2)),
      // IVF cells restrict the candidates, PQ codes score them (C59)
      "knn_ivfpq" -> AnnSpec(Coarse.Mod(), Code.Pq()),
      // full IVFADC: residual re-encoding per cell (C72)
      "knn_ivfpq_residual" -> AnnSpec(Coarse.Mod(), Code.ResidualPq()),
      // FAISS-default IVFADC: residuals against TRAINED cells (C75)
      "knn_ivfpq_residual_trained" -> AnnSpec(Coarse.Trained(), Code.ResidualPq()),
      // exact re-rank of the ADC shortlist — the FAISS refine stage (C77)
      "knn_ivfpq_refine" -> AnnSpec(Coarse.Mod(), Code.ResidualPq(), refine = Some(20)))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    aQueries ++ bQueries ++ cQueries ++ AnnQueries.map { case (name, spec) =>
      name -> ((s: SparkSession, d: String) =>
        Similarity.knn(Tables.embeddings(s, d), "vec_id", "embedding", 10, 5, spec))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — every query, including the sketch one
    * (q_approx_stats rides the portable KMinByHash aggregate, which
    * both engines reproduce bit-for-bit; the engine-specific
    * HLL/percentile_approx sketches live only in ApproxSpec).
    */
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

  def oracleSql: Map[String, String] = {
    val m = aOracles ++ bOracles ++ cOracles ++ cOracles2 ++
      AnnQueries.map { case (name, spec) => name -> Similarity.knnOracleSql(spec, 10, 5) }
    // the quota'd schedule's oracle IS the unbounded schedule's at
    // slot < maxPerHost — derived by textual append; the helper
    // ENFORCES the bare-`FROM w` tail the append depends on, so an
    // innocent trailing ORDER BY can't silently turn the appended
    // WHERE into valid-but-wrong SQL
    m.updated("politeness_schedule_quota", deriveQuotaOracle(m("politeness_schedule")))
  }

  /** Partitioned (multi-invocation) DuckDB oracle pipelines for the
    * three queries whose single-SQL twins are single-node-infeasible
    * at sf ≥ 1 (their quadratic pair stage / transitive-closure CTE
    * exceeded 129 GB RSS in one monolithic query — SURVEY §7f round
    * 7): the SAME oracle semantics, decomposed into stages the sweep
    * runner executes as SEPARATE DuckDB invocations, each writing its
    * output to parquet — so peak memory is one stage's (one shard's)
    * working set, not the whole pipeline's.
    *
    * Stage contract (consumed by scripts/selfcheck.py):
    *  - stages run in order; each earlier stage is visible to later
    *    SQL as a view named by its stage name;
    *  - `shards` > 0: the SQL contains `{SHARD}`/`{NSHARDS}`
    *    placeholders and runs once per shard in a FRESH connection
    *    (shard predicates are on a grouping/join key, so per-shard
    *    DISTINCT/GROUP BY equals the global form); the stage's output
    *    is the union of shard outputs;
    *  - a SQL starting with `@cc <pairsView>` is runner-side
    *    iterative min-label connected components over (vec_a, vec_b)
    *    pairs, emitting (vec_id, cluster_id) — every endpoint labeled
    *    with its component minimum, exactly the recursive CTE's
    *    `least(min(b), a)` fixpoint without materializing the
    *    transitive closure;
    *  - the LAST stage's rows are the oracle result, compared with
    *    the standard rows+schema+hash convention.
    *
    * Values are bit-identical to the single-SQL forms: the stage SQL
    * reuses the same CTE fragments (lshBucketsCte, kmeansCtePrefix,
    * tokensSql/shinglesSql, the cosine fold), and the decomposition
    * only moves set boundaries (DISTINCT / GROUP BY / NOT IN), never
    * arithmetic. Partial pair counts are summed per (doc_a, doc_b)
    * across hash shards before the HAVING, and cast back to BIGINT —
    * DuckDB widens sum() to HUGEINT, which would flip the dtype.
    */
  final case class OracleStage(name: String, shards: Int, sql: String)

  def oracleStages: Map[String, Seq[OracleStage]] = Map(
    "semantic_clusters" -> Seq(
      OracleStage("sc_buckets", 0,
        s"""WITH ${lshBucketsAutoCte(nTables = 16)}
           |SELECT vec_id, tbl, bucket FROM buckets""".stripMargin),
      OracleStage("sc_cand", 8,
        // shard on the bucket key: both sides of a colliding pair
        // share (tbl, bucket), so per-shard DISTINCT is exact
        s"""SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |FROM sc_buckets a JOIN sc_buckets b
           |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           |WHERE a.bucket % {NSHARDS} = {SHARD}""".stripMargin),
      OracleStage("sc_pairs", 8,
        // global pair dedup (the same pair collides in many tables,
        // i.e. many buckets → many shards): shard by vec_a so every
        // copy of a pair lands in ONE shard and per-shard DISTINCT is
        // global; then the cosine verify
        s"""SELECT c.vec_a, c.vec_b
           |FROM (SELECT DISTINCT vec_a, vec_b FROM sc_cand
           |      WHERE vec_a % {NSHARDS} = {SHARD}) c
           |  JOIN embeddings x ON x.vec_id = c.vec_a
           |  JOIN embeddings y ON y.vec_id = c.vec_b
           |WHERE round(${cosSql("x.embedding", "y.embedding")}, 6) >= 0.4""".stripMargin),
      OracleStage("semantic_clusters", 0, "@cc sc_pairs")),
    "semantic_dedup" -> Seq(
      OracleStage("sd_assign", 0,
        Similarity.kmeansCtePrefix(8, 2) + "\nSELECT vec_id, cid FROM afinal"),
      OracleStage("sd_base", 0,
        """SELECT e.vec_id, e.embedding, a.cid
          |FROM embeddings e JOIN sd_assign a USING (vec_id)""".stripMargin),
      OracleStage("sd_drops", 8,
        // the quadratic within-cell stage: shard by the dropped id
        // (per-shard DISTINCT on b.vec_id is exact)
        s"""SELECT DISTINCT b.vec_id AS d
           |FROM sd_base a JOIN sd_base b
           |  ON a.cid = b.cid AND a.vec_id < b.vec_id
           |WHERE b.vec_id % {NSHARDS} = {SHARD}
           |  AND round(${VectorFunctions.cosineSql("a.embedding", "b.embedding")}, 6) >= 0.35""".stripMargin),
      OracleStage("semantic_dedup", 0,
        """SELECT vec_id, cid AS cluster_id FROM sd_base
          |WHERE vec_id NOT IN (SELECT d FROM sd_drops)""".stripMargin)),
    "winnow_overlap" -> Seq(
      OracleStage("wo_fps", 8,
        // fingerprint selection is per-document — shard by doc_id
        s"""WITH wt AS (SELECT doc_id, $tok AS t FROM documents
           |  WHERE doc_id % {NSHARDS} = {SHARD}),
           |wsh AS (SELECT doc_id, ${TextFunctions.shinglesSql("t", 4)} AS sh FROM wt),
           |wg0 AS (SELECT doc_id, len(sh) AS glen,
           |    unnest(list_transform(sh, (x, i) -> struct_pack(pos := i,
           |      h := cast('0x' || substr(md5(x), 1, 12) AS bigint)))) AS g
           |  FROM wsh),
           |wg AS (SELECT doc_id, glen, g.pos AS pos, g.h AS h FROM wg0),
           |wsel AS (SELECT g1.doc_id,
           |    min(struct_pack(h := g2.h, np := -g2.pos)) AS m
           |  FROM wg g1 JOIN wg g2 ON g1.doc_id = g2.doc_id
           |    AND g2.pos BETWEEN g1.pos AND g1.pos + 4
           |  WHERE g1.pos <= g1.glen - 4
           |  GROUP BY g1.doc_id, g1.pos)
           |SELECT DISTINCT doc_id, m.h AS h FROM wsel""".stripMargin),
      OracleStage("wo_keep", 0,
        """SELECT h FROM (SELECT h, count(*) AS c FROM wo_fps GROUP BY 1)
          |WHERE c <= 1000""".stripMargin),
      OracleStage("wo_pairs", 8,
        // the pair join is per-fingerprint — shard by h; counts are
        // PARTIAL per shard (a pair shares fps across many h)
        s"""WITH wk AS (SELECT f.doc_id, f.h FROM wo_fps f
           |  JOIN wo_keep USING (h) WHERE f.h % {NSHARDS} = {SHARD})
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           |FROM wk a JOIN wk b ON a.h = b.h AND a.doc_id < b.doc_id
           |GROUP BY 1, 2""".stripMargin),
      OracleStage("winnow_overlap", 0,
        """SELECT doc_a, doc_b, cast(sum(c) AS BIGINT) AS shared_fps
          |FROM wo_pairs GROUP BY 1, 2 HAVING sum(c) >= 2""".stripMargin)))
}
