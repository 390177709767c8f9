package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators._
import graft.sources.{Formats, Tables}
import Shared._

/** §2A: cooler-MapReduce's shipped workloads over the tables, the
  * reference's native raw inputs (newline-delimited text, a headered
  * CSV), and WARC-container ingestion, with the fixtures they read.
  */
object MapReduceQueries {
  private val grepPattern = "stream (join|merge)"
  private val rawGrepPattern = "fox(es)? jump"

  /** Every raw and WARC fixture lives under `target/fixtures` of the
    * working directory (sbt, runMain and the verify recipe all run from
    * the checkout), made absolute once so the oracle SQL reads the same
    * files. Each is written on first use by the builders that read it,
    * never at object init.
    */
  private val FixtureRoot = java.nio.file.Paths.get("target", "fixtures").toAbsolutePath.toString
  private val StoryPath        = s"$FixtureRoot/story.txt"
  private val WeatherPath      = s"$FixtureRoot/weather.csv"
  private val RawIngestPath    = s"$FixtureRoot/raw_ingest/corpus.txt"
  private val WarcPath         = s"$FixtureRoot/warc_ingest/corpus.warc"
  private val WarcGzPath       = s"$FixtureRoot/warc_gz/corpus.warc.gz"
  private val WarcBPath        = s"$FixtureRoot/warc_revisit/corpus_b.warc"
  private val WarcRedirectPath = s"$FixtureRoot/warc_redirect/corpus.warc"
  private val WarcHttpPath     = s"$FixtureRoot/warc_http/corpus.warc"

  private val built = scala.collection.mutable.Set.empty[String]

  /** The fixture file at `path`, written once per JVM (`bytes` is
    * evaluated on first use only). One reentrant lock serializes the
    * builds, so a build may use another fixture. The write publishes a
    * uniquely-named temp sibling with ATOMIC_MOVE: a JVM reading the
    * file while another JVM on the same checkout rebuilds it never sees
    * it torn.
    */
  private def fixture(path: String)(bytes: => Array[Byte]): String = built.synchronized {
    if (!built(path)) {
      val p = java.nio.file.Paths.get(path)
      java.nio.file.Files.createDirectories(p.getParent)
      val tmp = p.resolveSibling(
        p.getFileName.toString + ".tmp-" + java.util.UUID.randomUUID())
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      built += path
    }
    path
  }

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** The story: 24,000 non-empty lines (240 distinct 100-line blocks,
    * each opening with its chapter number — the WARC fixtures' records)
    * and no trailing newline. Seeded words, with `fox(es)? jump` lines
    * for raw_grep, some of them repeated verbatim.
    */
  private def story(): String = {
    val words = Seq("the", "a", "of", "and", "stream", "river", "join", "merge",
      "quick", "brown", "lazy", "dog", "over", "hill", "night", "light", "record",
      "window", "page", "crawl", "map", "reduce", "key", "value", "worker", "task")
    val rnd = new scala.util.Random(42)
    (0 until 24000).map { i =>
      val line = Seq.fill(5 + rnd.nextInt(9))(words(rnd.nextInt(words.size))).mkString(" ")
      if (i % 100 == 0) s"chapter ${i / 100} $line"
      else if (i % 97 == 0) "the quick brown fox jumps over the lazy dog"
      else if (i % 89 == 0) s"$line and two foxes jump"
      else line
    }.mkString("\n")
  }

  /** The weather CSV: `temperature,humidity,pressure`, 2,000 seeded rows,
    * no empty cells, at most 2 decimals (the oracle sums at decimal(18,4)).
    */
  private def weatherCsv(): String = {
    val rnd = new scala.util.Random(7)
    def v(lo: Int, span: Int) =
      java.math.BigDecimal.valueOf(lo + rnd.nextInt(span).toLong, 2).toPlainString
    ("temperature,humidity,pressure" +: Seq.fill(2000)(
      s"${v(-2000, 6000)},${v(1000, 9000)},${v(98000, 6000)}")).mkString("\n")
  }

  private def storyFile(): String = fixture(StoryPath)(utf8(story()))
  private def weatherFile(): String = fixture(WeatherPath)(utf8(weatherCsv()))

  /** The story's 100-line blocks, the records of every story-based
    * fixture. raw_corpus_ingest joins them with \n\n and re-splits on
    * \n\n, so a blank line inside a block would silently diverge the
    * Spark split from its oracle's algebraic 100-line grouping.
    */
  private def storyBlocks(): Seq[String] = {
    val lines = story().split("\n", -1)
    require(lines.forall(_.nonEmpty), "the story has a blank line")
    lines.grouped(100).map(_.mkString("\n")).toSeq
  }

  /** raw_corpus_ingest's input; its oracle regroups the story file. */
  private def rawIngestFile(): String = {
    storyFile()
    fixture(RawIngestPath)(utf8(storyBlocks().mkString("\n\n")))
  }

  /** One WARC/1.0 record: uuid-shaped id `group`-`i`, named headers, a
    * byte-accurate Content-Length and the block.
    */
  private def warcRecord(group: Int, i: Int, warcType: String, date: String,
                         uri: String, contentType: String, block: String): String =
    "WARC/1.0\r\n" +
      f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-$group%04d-$i%012d>\r\n" +
      s"WARC-Type: $warcType\r\n" +
      s"WARC-Date: $date\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      s"Content-Type: $contentType\r\n" +
      s"Content-Length: ${utf8(block).length}\r\n" +
      s"\r\n$block\r\n\r\n"

  /** Minute `i` of `day`, as a WARC-Date. */
  private def minute(day: String, i: Int): String = f"${day}T${i / 60}%02d:${i % 60}%02d:00Z"

  private def page(n: Any): String = s"https://crawl.example.com/page/$n"

  private val WarcTypes = Seq("response", "request", "metadata")

  /** Each story block as one `response`/`request`/`metadata` record (i%3). */
  private def warcRecords(): Seq[String] = storyBlocks().zipWithIndex.map { case (b, i) =>
    warcRecord(0, i, WarcTypes(i % 3), minute("2026-01-01", i), page(i), "text/plain", b)
  }

  private def warcFile(): String = fixture(WarcPath)(utf8(warcRecords().mkString))

  /** The same records as [[warcFile]], compressed one gzip MEMBER per
    * record (the Common-Crawl .warc.gz layout). Its oracle is the plain
    * file's, which is written too.
    */
  private def warcGzFile(): String = {
    warcFile()
    fixture(WarcGzPath) {
      val bos = new java.io.ByteArrayOutputStream()
      warcRecords().foreach { r =>
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(utf8(r))
        g.finish() // member trailer, underlying stream stays open
      }
      bos.toByteArray
    }
  }

  /** Snapshot B of the WARC fixture — the SAME uris/types/blocks as
    * [[warcRecords]] except: records dropped where i%11==0 (`gone`),
    * blocks edited where i%5==0 (`changed`), three fresh uris appended
    * (`new`); dates/ids advanced to the February recrawl.
    */
  private def warcBFile(): String = fixture(WarcBPath)(utf8((
    storyBlocks().zipWithIndex.filter(_._2 % 11 != 0).map { case (b, i) =>
      warcRecord(3, i, WarcTypes(i % 3), minute("2026-02-01", i), page(i), "text/plain",
        if (i % 5 == 0) b + "\n[edited in snapshot B]" else b)
    } ++ (0 until 3).map { j =>
      warcRecord(4, j, "response", minute("2026-02-01", 720 + j), page(s"new$j"),
        "text/plain", s"fresh page $j from snapshot B")
    }).mkString))

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
  private def warcRedirectFile(): String = fixture(WarcRedirectPath) {
    val portVariant = "https://crawl.example.com:443/page/77"
    utf8((0 to 240).map { i =>
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
        s"Content-Length: ${utf8(b).length}\r\n" +
        s"\r\n$b"
      warcRecord(5, i, "response", minute("2026-01-03", i),
        if (i == 240) portVariant else page(i), "application/http; msgtype=response", http)
    }.mkString)
  }

  /** WARC/1.0 fixture whose blocks are real HTTP responses: status
    * line (404 on i%7==3), HTTP headers with a byte-accurate HTTP
    * Content-Length, blank line, body — the block's internal
    * `\r\n\r\n` is the point.
    */
  private def warcHttpFile(): String = fixture(WarcHttpPath)(utf8(
    storyBlocks().zipWithIndex.map { case (b, i) =>
      val (status, reason) = if (i % 7 == 3) (404, "Not Found") else (200, "OK")
      val http = s"HTTP/1.1 $status $reason\r\n" +
        "Content-Type: text/plain; charset=UTF-8\r\n" +
        s"Content-Length: ${utf8(b).length}\r\n" +
        "Server: graft-fixture\r\n" +
        s"\r\n$b"
      warcRecord(1, i, "response", minute("2026-01-02", i), page(i),
        "application/http; msgtype=response", http)
    }.mkString))

  private def rawWeather(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("temperature", DoubleType),
      StructField("humidity", DoubleType),
      StructField("pressure", DoubleType)))
    Formats.readCsv(s, weatherFile(), schema)
      .selectExpr("stack(3, 'temperature', temperature, 'humidity', humidity, " +
        "'pressure', pressure) AS (measurement, value)")
  }

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
    s"""${warcCtes(WarcRedirectPath)},
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

  /** warc_ingest's columns and oracle, and warc_gz_ingest's: the gz
    * reader must produce exactly the plain reader's records.
    */
  private def warcIngest(records: DataFrame): DataFrame =
    records.select(col("record_id"), col("warc_type"), col("warc_date"), col("target_uri"),
      col("content_type"), col("content_length"), col("length_ok"), col("block"))

  private val warcIngestOracle =
    s"""${warcCtes(WarcPath)}
       |SELECT record_id, warc_type, cast(wd AS timestamp) AS warc_date,
       |  target_uri, content_type, content_length,
       |  (strlen(block) = content_length) AS length_ok, block
       |FROM p""".stripMargin

  val all: Seq[Registered] = Seq(
    Registered("mr_wordcount", (s, d) =>
        MapReduceOps.wordCount(Tables.documents(s, d), "text"),
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest($tok) AS word FROM documents)
         |GROUP BY word""".stripMargin),
    Registered("mr_grep", (s, d) =>
        MapReduceOps.grep(Tables.documents(s, d), "text", grepPattern)
          .select(col("doc_id"), col("source"), col("n_chars")),
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE regexp_matches(text, '$grepPattern')""".stripMargin),
    Registered("mr_inverted_index", (s, d) =>
        MapReduceOps.invertedIndex(Tables.documents(s, d), "doc_id", "text"),
      // posting lists are capped at the first 1000 doc ids (ascending) —
      // the bounded-state contract of MapReduceOps.invertedIndex; n_docs
      // stays the full distinct count
      s"""SELECT word,
         |  array_to_string(list_sort(list(DISTINCT doc_id))[1:1000], ',') AS doc_ids,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, unnest($tok) AS word FROM documents)
         |GROUP BY word""".stripMargin),
    Registered("mr_key_stats", (s, d) =>
        MapReduceOps.keyStats(Tables.events(s, d), "event_type", "value"),
      """SELECT event_type,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) / count(*) AS avg_value,
        |  min(value) AS min_value, max(value) AS max_value, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin),
    Registered("mr_distributed_sort", (s, d) =>
        MapReduceOps.distributedSort(Tables.events(s, d),
          Seq(col("value").desc, col("event_id")),
          Seq(col("event_id"), col("value"))),
      """SELECT event_id, value,
        |  row_number() OVER (ORDER BY value DESC, event_id) AS pos
        |FROM events""".stripMargin),
    Registered("mr_combiner_agg", (s, d) =>
        MapReduceOps.combinerAgg(Tables.events(s, d), "user_id", "value"),
      """SELECT user_id,
        |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total_value,
        |  count(*) AS n
        |FROM events GROUP BY user_id""".stripMargin),
    Registered("mr_secondary_sort", (s, d) =>
        MapReduceOps.secondarySort(Tables.events(s, d), "user_id", "ts", "event_id", 5),
      """SELECT user_id,
        |  array_to_string(list(cast(event_id AS varchar) ORDER BY ts, event_id)[1:5], ',') AS first_values,
        |  count(*) AS n_values
        |FROM events GROUP BY user_id""".stripMargin),
    // raw-file ingestion: the reference's native input formats end-to-end
    Registered("raw_wordcount", (s, _) =>
        MapReduceOps.wordCount(Formats.readText(s, storyFile()), "value"),
      // whitespace tokenization is line-break agnostic, so tokens over the
      // whole file (read_text) equal Spark's per-line tokens exactly
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest(${TextFunctions.tokensSql("content")}) AS word
         |      FROM read_text('$StoryPath'))
         |GROUP BY word""".stripMargin),
    // LINE-level grep — the reference's actual grep contract emits
    // matching lines, not documents (reference design.md:276-278);
    // mr_grep above keeps the document-level variant for the tables
    Registered("raw_grep", (s, _) =>
        MapReduceOps.grep(Formats.readText(s, storyFile()),
            "value", rawGrepPattern)
          .select(col("value").as("line")),
      // duplicates matter: identical matching lines appear once per
      // occurrence on both engines (the driver compare is multiset); the
      // regex split mirrors Spark's text source, which terminates lines
      // on \n, \r\n AND lone \r — a CRLF re-checkout of the sample file
      // must not break parity
      s"""SELECT line FROM (
         |  SELECT unnest(string_split_regex(content, '\\r\\n|\\r|\\n')) AS line
         |  FROM read_text('$StoryPath'))
         |WHERE regexp_matches(line, '$rawGrepPattern')""".stripMargin),
    Registered("raw_weather_stats", (s, _) =>
        MapReduceOps.keyStats(rawWeather(s), "measurement", "value"),
      s"""WITH w AS (SELECT * FROM read_csv('$WeatherPath', header = true,
         |    columns = {'temperature': 'DOUBLE', 'humidity': 'DOUBLE', 'pressure': 'DOUBLE'})),
         |u AS (
         |  SELECT 'temperature' AS measurement, temperature AS value FROM w
         |  UNION ALL SELECT 'humidity', humidity FROM w
         |  UNION ALL SELECT 'pressure', pressure FROM w)
         |SELECT measurement,
         |  cast(sum(cast(value AS decimal(18,4))) AS double) / count(*) AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value, count(*) AS n
         |FROM u GROUP BY measurement""".stripMargin),
    // WARC-style record ingestion (A11): one raw multi-record file →
    // a documents table, records split at blank-line delimiters INSIDE
    // the scan (Spark text lineSep), ids content-addressed — the step
    // that feeds A8's pipeline at corpus scale. The fixture file is
    // generated once from the reference story (100-line records joined
    // by blank lines — driver-side, it's a 1 MB fixture build); the
    // oracle recomputes the SAME grouping from the story directly, so
    // the compare proves the write → delimiter-split → read round trip.
    Registered("raw_corpus_ingest", (s, _) =>
        Formats.readRecords(s, rawIngestFile())
          .select(col("record_id"), col("text"),
            length(col("text")).as("n_chars"),
            size(TextFunctions.tokens(col("text"))).as("n_tokens")),
      // the oracle never reads the generated file: it regroups the story
      // lines with the same 100-line/blank-line-join algebra the query's
      // fixture builder uses, so equality proves the whole
      // write → lineSep-split → read round trip. The [^ \t\r\n] filter
      // is the same explicit class the Spark side uses (\S differs
      // between engines).
      s"""WITH f AS (SELECT string_split(content, chr(10)) AS ls
         |  FROM read_text('$StoryPath')),
         |ln AS (SELECT unnest(list_transform(ls,
         |    (x, i) -> struct_pack(i := i, line := x))) AS s FROM f),
         |rec AS (SELECT array_to_string(list(s.line ORDER BY s.i), chr(10)) AS text
         |  FROM ln GROUP BY (s.i - 1) // 100)
         |SELECT md5(text) AS record_id, text,
         |  cast(length(text) AS integer) AS n_chars,
         |  cast(len(${TextFunctions.tokensSql("text")}) AS integer) AS n_tokens
         |FROM rec
         |WHERE regexp_matches(text, '[^ \t\r\n]')""".stripMargin),
    // WARC container ingestion (A12): the Common-Crawl shape — the
    // story's 100-line records wrapped in real WARC/1.0 named headers
    // (fixture build driver-side, ~1 MB), then readWarc splits records
    // at the version-line boundary INSIDE the scan and parses headers
    // + payload per-row, zero shuffle. The oracle re-parses the SAME
    // generated file in SQL, proving the split + header grammar.
    Registered("warc_ingest", (s, _) => warcIngest(Formats.readWarc(s, warcFile())),
      warcIngestOracle),
    // gzip-member WARC ingestion (A14): the .warc.gz distribution
    // layout — per-file decompression, then the same split + parse;
    // the oracle is the PLAIN twin's SQL chain, so the compare proves
    // gz path ≡ plain path record for record
    Registered("warc_gz_ingest", (s, _) =>
        warcIngest(Formats.readWarcGz(s, warcGzFile())),
      warcIngestOracle),
    // HTTP responses inside WARC blocks (A13): the Common-Crawl payload
    // shape — status line, HTTP headers, body split out of each
    // response block; the block's own \r\n\r\n exercises warcParse's
    // substring-not-split contract for real
    Registered("warc_http", (s, _) =>
        Formats.httpParse(
          Formats.readWarc(s, warcHttpFile()), "block")
          .select(col("record_id"), col("target_uri"), col("status"),
            col("http_content_type"), col("http_content_length"),
            col("body_ok"), col("body")),
      s"""${warcCtes(WarcHttpPath)},
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
         |FROM hb""".stripMargin),
    // redirect-chain resolution (A16): follow 3xx Location targets
    // to each URI's final address (the canonicalization step BEFORE
    // url_dedup); fixture plants 1/2-hop chains, a 5-hop run, a self
    // loop, and a dangling external target — every resolution class
    Registered("redirect_resolve", (s, _) => {
        val fetches = Formats.httpParse(
          Formats.readWarc(s, warcRedirectFile()), "block")
        Links.redirectResolve(fetches, "target_uri", "status", "http_location")
      },
      s"""$redirectResolveCtes
         |SELECT start_uri, final_uri, n_hops, resolution, final_in_corpus
         |FROM res""".stripMargin),
    // the fetch-layer COMPOSITE (A17) in one declarative plan: parse
    // the WARC fetch log → split out HTTP → resolve redirect chains →
    // keep in-corpus landings → collapse onto canonical FINAL urls
    // (first-seen source survives, as url_dedup) → rejoin each
    // landing page's own fetch for its status and payload size. What
    // a crawler's post-fetch canonicalization actually runs end-to-end
    Registered("fetch_pipeline", (s, _) => {
        val fetches = Formats.httpParse(
          Formats.readWarc(s, warcRedirectFile()), "block")
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
      },
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
         |FROM collapsed JOIN pg ON collapsed.rep = pg.fu""".stripMargin),
    // fetch-layer snapshot dedup (A15): the WARC revisit mechanic —
    // classify every URI across two crawl snapshots by payload digest
    // (new / unchanged / changed / gone); snapshot B mutates, drops,
    // and adds records on a deterministic schedule. The oracle
    // re-parses BOTH generated files with the shared WARC SQL chain.
    Registered("warc_revisit", (s, _) =>
        Formats.revisitClassify(
          Formats.readWarc(s, warcFile()),
          Formats.readWarc(s, warcBFile())),
      s"""${warcCtes(WarcPath, "a")},
         |${warcCtes(WarcBPath, "b").stripPrefix("WITH ")},
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
         |FROM pa FULL OUTER JOIN pb ON pa.target_uri = pb.target_uri""".stripMargin),
  )
}
