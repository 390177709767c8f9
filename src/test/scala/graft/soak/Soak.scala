package graft.soak

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Json, Profile, ReferenceForms}
import graft.functions.TextFunctions
import graft.operators._
import graft.sources.{Formats, Layouts, Tables}
import graft.streaming.EventStreams
import graft.tools.{FullChain, MiniCluster}

/** graft's scale measurements as one table: the reference's benchmark
  * axes (word-count throughput, reduce scaling, combiner on/off) and
  * every GB-scale claim of SURVEY §6 (dedup, similarity, retrieval,
  * crawl, curation and streaming operators at multi-GB, skew and
  * straggler factors, kernel-vs-reference A/Bs, the reliable-
  * materialize premium on a two-host cluster). An instrument, not a
  * gate: each row prints JSON lines (`graft.Json`, so no line depends
  * on the JVM's locale) and asserts nothing but its own sanity.
  *
  * Every row scales with one target size. The shared corpora are
  * generated from the sfDir's tables once per run, on first use:
  *
  *  - `flood`: exact copies of every doc under distinct ids — the worst
  *    realistic crawl shape, the one corpusDedup's exact-first
  *    composition claims to collapse before LSH;
  *  - `combined`: doc_i ⊕ doc_j for `m` distinct j per i — every doc
  *    textually distinct, shared-source pairs near jaccard ≈ 1/3: below
  *    the 0.5 near-dup bar but above the random band-collision floor,
  *    an honest heavy LSH candidate load instead of a quadratic clique;
  *  - `vectors` / `pqVectors`: summed-vector embeddings (a+b for the
  *    same pairing), genuinely new vectors whose shared-source cosine
  *    sits near 0.5;
  *  - `zipf`: a zipf(1) ~100k-token vocabulary (rank = ⌊V^u⌋ inverts the
  *    CDF for uniform u), the natural shape the combined corpus's
  *    ~40-token vocabulary is not;
  *  - `chainPages`: the full crawl → curation → shards chain's HTML.
  *
  * Run: sbt "Test/runMain graft.soak.Soak <sfDir> [axes|all] [targetMb]"
  * (axes comma-separated row names; targetMb defaults to
  * [[defaultTargetMb]]). Generated data lives under `target/soak`.
  */
object Soak {

  /** One soak run: its session, the base tables, the target size and
    * the directory generated corpora and indexes are written to. The
    * shared generators write once per run and hand out paths, so a row
    * that swaps the session ([[onCluster]]) still reads them.
    */
  final class Run(newSession: () => SparkSession, val sfDir: String,
                  val targetMb: Int, dir: String) {
    private var session = newSession()
    def spark: SparkSession = session

    def docs: DataFrame = Tables.documents(spark, sfDir)
    lazy val nDocs: Long = docs.count()
    lazy val baseMb: Double = textMb(docs, "text")
    /** Copies of the base corpus that make `mb`. */
    def mult(mb: Double = targetMb): Int = math.max(1, (mb / baseMb).toInt)
    /** Vector copies per base embedding (100 at a 2 GB target). */
    def vecMult: Int = math.max(1, targetMb / 20)

    def path(name: String): String = s"$dir/$name"
    /** `df` written as 32 parquet files under the run dir; its path. */
    def write(name: String)(df: DataFrame): String = {
      df.repartition(32).write.mode("overwrite").parquet(path(name))
      path(name)
    }
    def stage(name: String)(df: DataFrame): DataFrame = spark.read.parquet(write(name)(df))
    /** `df`'s one string column as 32 text files; their path. */
    def stageText(name: String)(df: DataFrame): String = {
      df.repartition(32).write.mode("overwrite").text(path(name))
      path(name)
    }

    /** `m` copies of every doc, copy k of doc i renumbered i·m + k. */
    def copies(m: Int): DataFrame =
      docs.select(explode(sequence(lit(1), lit(m))).as("copy"),
          col("doc_id").as("base_id"), col("text"), col("source"))
        .withColumn("doc_id", col("base_id") * m + col("copy"))

    /** Each row of `t` (value `a_v`) beside `m` rotating partners
      * (`b_v`), the pair numbered `new_id` = a·m + k.
      */
    private def pairs(t: DataFrame, id: String, v: String, m: Int): DataFrame = {
      val n = t.count()
      t.select(col(id).as("a_id"), col(v).as("a_v"), explode(sequence(lit(1), lit(m))).as("k"))
        .withColumn("b_id", (col("a_id") + col("k")) % n)
        .join(t.select(col(id).as("b_id"), col(v).as("b_v")), "b_id")
        .withColumn("new_id", col("a_id") * m + col("k"))
    }
    private def summed(name: String, m: Int): String =
      write(name)(pairs(Tables.embeddings(spark, sfDir), "vec_id", "embedding", m)
        .select(col("new_id").as("vec_id"),
          zip_with(col("a_v"), col("b_v"), (x, y) => x + y).as("embedding")))

    lazy val floodPath: String =
      write("flood")(copies(mult()).select(col("doc_id"), col("text")))
    lazy val combinedPath: String =
      write("combined")(pairs(docs, "doc_id", "text", mult(targetMb / 2.0))
        .select(col("new_id").as("doc_id"), concat(col("a_v"), lit(" "), col("b_v")).as("text")))
    lazy val vectorsPath: String = summed("vectors", vecMult)
    // encode is a pure scan, so the PQ rows afford 10× the width the
    // iterative clustering rows can
    lazy val pqVectorsPath: String = summed("pq_vectors", vecMult * 10)
    lazy val zipfPath: String = {
      val vocab = 100000
      val docLen = 200
      // head-heavy ranks average ~3 digits → ~5.5 bytes per "t<rank> "
      write("zipf")(spark.range((targetMb * 1e6 / (docLen * 5.5)).toLong)
        .select(col("id").as("doc_id"),
          array_join(transform(sequence(lit(1), lit(docLen)), p =>
            concat(lit("t"), floor(pow(lit(vocab.toDouble),
              pmod(xxhash64(col("id"), p), lit(1000000)).cast("double")
                / lit(1000000.0))).cast("long"))), " ").as("text")))
    }
    // The chain's corpus plants real work for every stage: even copies
    // are exact duplicates (the crawl stage's fingerprint dedup collapses
    // half the volume), 1 odd copy in 49 is base text + a unique suffix
    // (true near-dup cliques of ~copies/98 members, well under the
    // curation cap), the other odd copies mix in a rotating partner's
    // text (distinct docs near jaccard 1/3, the honest candidate load).
    // Planting base+suffix on every odd copy instead made ~3300-member
    // cliques whose ~b² candidates ENOSPC'd a 90 GB disk at 10 GB.
    lazy val chainPagesPath: String = {
      // partner-mixed copies carry ~2× text: 1.5× per average copy
      val m = math.max(2, (targetMb / (1.5 * baseMb)).toInt)
      // left join + coalesce: partner keys exist only for residues of
      // ids present, so a partnerless page mixes with itself
      val partner = docs.groupBy(pmod(col("doc_id"), lit(nDocs)).as("__pk"))
        .agg(min(col("text")).as("__ptext"))
      write("chain_pages")(copies(m)
        .withColumn("__pk", pmod(col("base_id") + col("copy"), lit(nDocs)))
        .join(broadcast(partner), Seq("__pk"), "left")
        .withColumn("__ptext", coalesce(col("__ptext"), col("text")))
        .select(col("doc_id"),
          Html.wrapHtml(lit(0),
            when(col("copy") % 2 === 0, col("text"))
              .when(col("copy") % 49 === 1, concat(col("text"), lit(" uniq"), col("doc_id")))
              .otherwise(concat(col("text"), lit(" "), col("__ptext"), lit(" uniq"), col("doc_id"))))
            .as("html"),
          col("source").as("stratum")))
    }
    // the warc, warcgz and revisit rows' archive
    lazy val warcPath: String =
      stageText("warc")(copies(mult()).select(warcRecord(col("doc_id"), page(col("doc_id")),
        "2026-01-01T00:00:00Z", "text/plain", col("text")).as("value")))
    def flood: DataFrame = spark.read.parquet(floodPath)
    lazy val floodMb: Double = textMb(flood, "text")
    def combined: DataFrame = spark.read.parquet(combinedPath)
    lazy val combinedMb: Double = textMb(combined, "text")
    def vectors: DataFrame = spark.read.parquet(vectorsPath)
    def pqVectors: DataFrame = spark.read.parquet(pqVectorsPath)
    def zipf: DataFrame = spark.read.parquet(zipfPath)
    def chainPages: DataFrame = spark.read.parquet(chainPagesPath)

    /** One JSON line: `metric` first, then `fields` in order. */
    def line(metric: String, fields: (String, Any)*): Unit =
      println(Json(ListMap(("metric" -> metric) +: fields: _*)))

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    /** `body` under [[Profile.measure]] in job group `name`, and its value. */
    def timed[A](name: String)(body: => A): (A, Profile.Measure) = {
      var out: Option[A] = None
      val m = Profile.measure(spark, name) { out = Some(body) }.orThrow
      (out.get, m)
    }

    /** The one timing of a plan: a warm noop write (JIT, codegen, page
      * cache), a gc so the warm run's dead shuffle and checkpoint blocks
      * are released before the timed run doubles the footprint, then
      * the measured noop write. `df` is rebuilt for each write.
      */
    def measure(name: String)(df: => DataFrame): Profile.Measure = {
      noop(df)
      System.gc()
      timed(name)(noop(df))._2
    }

    /** The one A/B: a warm write of each, then three interleaved
      * (a, b) measured pairs, so JIT or cache warm-up cannot pass for a
      * difference between the forms.
      */
    def ab(name: String)(a: => DataFrame, b: => DataFrame): Ab = {
      noop(a); noop(b)
      Ab((1 to 3).map { _ =>
        System.gc()
        (timed(s"${name}_a")(noop(a))._2, timed(s"${name}_b")(noop(b))._2)
      })
    }

    /** A soak axis: the measured plan's wall, input rate and total and
      * peak-stage shuffle write (the numbers that decide whether a plan
      * survives a 1000-executor run).
      */
    def axis(name: String, inputMb: Double)(df: => DataFrame): Unit = {
      val m = measure(s"soak_$name")(df)
      line(s"soak_$name", "input_mb" -> Json.dec(inputMb, 0), "sec" -> Json.dec(m.wallSec, 1),
        "mb_per_sec" -> Json.dec(inputMb / m.wallSec, 1),
        "shuffle_write_mb" -> Json.dec(m.shuffleWriteBytes / 1e6, 1),
        "peak_stage_shuffle_mb" -> Json.dec(m.stages.map(_.shuffleWrite).maxOption.getOrElse(0L) / 1e6, 1))
      // shuffle files outlive their stage until the ContextCleaner's
      // weak refs are collected, which an idle heap never does: without
      // this the disk fills with dead spills across axes
      System.gc()
    }

    /** A scan's rate over the flood corpus (the reference benchmark's
      * throughput line).
      */
    private def rate(metric: String, sec: Double): Unit =
      line(metric, "input_mb" -> Json.dec(floodMb, 1), "sec" -> Json.dec(sec, 2),
        "mb_per_sec" -> Json.dec(floodMb / sec, 1))
    def throughput(metric: String)(df: => DataFrame): Unit = rate(metric, measure(metric)(df).wallSec)

    /** [[ab]] as two throughput lines, each its form's best of three. */
    def throughputAb(a: String, b: String)(fa: => DataFrame, fb: => DataFrame): Unit = {
      val pairs = ab(a)(fa, fb)
      rate(a, pairs.a)
      rate(b, pairs.b)
    }

    /** `body` with session confs set, the previous values restored. */
    def withConf[A](kvs: (String, String)*)(body: => A): A = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    /** `body` on a session built after this run's session stops; this
      * run's session is rebuilt afterwards (one SparkContext per JVM).
      */
    def onCluster[A](cluster: => SparkSession)(body: => A): A = {
      session.stop()
      session = cluster
      try body
      finally { session.stop(); session = newSession() }
    }
  }

  /** An A/B's measured (a, b) pairs; `a` and `b` are each form's best
    * wall, `reps` the pairs' walls at `scale` decimals.
    */
  final case class Ab(pairs: Seq[(Profile.Measure, Profile.Measure)]) {
    def a: Double = pairs.map(_._1.wallSec).min
    def b: Double = pairs.map(_._2.wallSec).min
    def reps(scale: Int): Seq[Seq[java.math.BigDecimal]] =
      pairs.map { case (x, y) => Seq(Json.dec(x.wallSec, scale), Json.dec(y.wallSec, scale)) }
  }

  def textMb(df: DataFrame, c: String): Double =
    df.agg(sum(length(col(c)))).collect()(0).getLong(0) / 1e6

  def dirMb(path: String): Double = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return 0.0
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum() / 1e6
    finally s.close()
  }

  /** The straggler reading of a measured plan: (max, median) task ms of
    * the stage holding the LONGEST task, and their ratio. Picking by
    * stage total would favor a wide uniform map stage over a reduce
    * stage that is one giant task plus trivial ones — the pathology
    * the skew rows measure.
    */
  def straggler(m: Profile.Measure): Seq[(String, Any)] = {
    val (mx, med) = m.stages.map(_.taskMs).filter(_.nonEmpty).maxByOption(_.max)
      .fold((0L, 0L)) { h => val s = h.sorted; (s.last, s(s.size / 2)) }
    Seq("max_task_ms" -> mx, "median_task_ms" -> med,
      "straggler_ratio" -> Json.dec(mx.toDouble / math.max(med, 1), 1))
  }

  /** The default target: a hundredth of the free disk under `dir` (the
    * heaviest rows hold ~50× their input in shuffle and spill files)
    * and at most a quarter of the heap.
    */
  def defaultTargetMb(dir: String): Int = {
    val d = new java.io.File(dir)
    d.mkdirs()
    math.max(1L, math.min(d.getUsableSpace / 100, Runtime.getRuntime.maxMemory / 4) / 1000000L).toInt
  }

  private val CosT = 0.7

  /** WARC/1.0 response record around `block`, minus its final LF (the
    * text writer's per-row newline completes the \r\n\r\n terminator).
    */
  private def warcRecord(id: Column, uri: Column, date: String, ctype: String,
                         block: Column): Column =
    concat(lit("WARC/1.0\r\nWARC-Record-ID: <urn:uuid:"), id,
      lit(s">\r\nWARC-Type: response\r\nWARC-Date: $date\r\nWARC-Target-URI: "), uri,
      lit(s"\r\nContent-Type: $ctype\r\nContent-Length: "), octet_length(block),
      lit("\r\n\r\n"), block, lit("\r\n\r"))

  private def page(id: Column): Column = concat(lit("https://crawl.example.com/page/"), id)

  /** Word count with no map-side combine (groupByKey.mapGroups): every
    * token row rides the shuffle to its key's reducer.
    */
  private def noCombiner(r: Run): DataFrame = {
    val spark = r.spark
    import spark.implicits._
    r.flood.select(explode(TextFunctions.tokens(col("text"))).as("word")).as[String]
      .groupByKey(w => w).mapGroups((w, it) => (w, it.size)).toDF()
  }

  private def clusters(pairs: DataFrame): DataFrame =
    Graph.connectedComponents(pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))

  /** A stream run uninterrupted (timed), then again killed at batch 3
    * and resumed from its checkpoint: the two sinks must match. A kill
    * that came too early, too late or on a failed query is flagged
    * `degenerate`, so a no-op restart cannot pass as a proof.
    */
  private final case class StreamProof(sec: Double, batches: Int, rows: Long,
                                       killedAt: Long, degenerate: Boolean, diffRows: Long)

  private def streamProof(r: Run, base: String, name: String)
                         (start: (String, String) => StreamingQuery): StreamProof = {
    val (batches, m) = r.timed(s"soak_stream_$name") {
      val q = start(s"$base/ck_u", s"$base/out_u")
      q.processAllAvailable()
      try q.recentProgress.length finally q.stop()
    }
    val qk = start(s"$base/ck_r", s"$base/out_r")
    while (qk.isActive && (qk.lastProgress == null || qk.lastProgress.batchId < 3)) Thread.sleep(200)
    val killedAt = Option(qk.lastProgress).map(_.batchId).getOrElse(-1L)
    val failed = qk.exception.nonEmpty
    qk.stop()
    val qr = start(s"$base/ck_r", s"$base/out_r")
    qr.processAllAvailable()
    qr.stop()
    val u = r.spark.read.parquet(s"$base/out_u")
    val v = r.spark.read.parquet(s"$base/out_r")
    StreamProof(m.wallSec, batches, u.count(), killedAt,
      failed || killedAt < 3 || killedAt > batches - 2,
      u.exceptAll(v).count() + v.exceptAll(u).count())
  }

  /** The table: (row name, body). `all` runs every row in this order. */
  val rows: Seq[(String, Run => Unit)] = Seq(
    // ---- the reference benchmark's axes, on the flood corpus --------
    "wordcount" -> { r =>
      r.throughput("wordcount_throughput")(MapReduceOps.wordCount(r.flood, "text"))
      // the reference's combiner on/off axis
      r.throughput("wordcount_no_combiner")(noCombiner(r))
    },
    // the reduce side pinned to R partitions (AQE coalescing off, so R
    // is what runs): with the combiner the reduce side carries one row
    // per distinct word and R hardly matters; without it every token
    // crosses the wire and R behaves like the reference's knob
    "reducescaling" -> { r =>
      Seq(1, 2, 4, 8, 16, 32).foreach { n =>
        r.withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
            "spark.sql.shuffle.partitions" -> n.toString) {
          val c = r.measure("reduce_combiner")(MapReduceOps.wordCount(r.flood, "text"))
          val nc = r.measure("reduce_no_combiner")(noCombiner(r))
          r.line("wordcount_reduce_scaling", "reduce_partitions" -> n,
            "input_mb" -> Json.dec(r.floodMb, 1), "combiner_sec" -> Json.dec(c.wallSec, 2),
            "no_combiner_sec" -> Json.dec(nc.wallSec, 2))
        }
      }
    },
    // minhash signatures (the dedup hot path; the LSH pair stage is left
    // out: a replicated corpus has quadratic candidates by construction)
    // against the same pipeline on the interpreted HOF tokenizer and
    // shingler they replaced
    "minhashsig" -> { r =>
      r.throughputAb("minhash_sig_throughput", "minhash_sig_hof_throughput")(
        Dedup.minhashSignatures(r.flood, "doc_id", "text"), {
          val hashed = r.flood
            .select(col("doc_id"), explode(ReferenceForms.shinglesHof(
              ReferenceForms.tokensHof(col("text")), 3)).as("s"))
            .select(col("doc_id"),
              conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long").as("h1"),
              conv(substring(md5(col("s")), 17, 12), 16, 10).cast("long").as("h2"))
          val mins = (0 until 16).map(i => min(col("h1") + col("h2") * i).as(s"m$i"))
          hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
        })
    },
    // the flood case end to end: exact-first collapses the copies in one
    // fingerprint shuffle, so LSH only sees the unique docs
    "corpusdedup" -> { r =>
      r.throughput("corpus_dedup_throughput")(Dedup.corpusDedup(r.flood, "doc_id", "text"))
    },
    "cdcchunks" -> { r =>
      r.throughput("cdc_chunk_throughput")(Dedup.cdcChunkTable(r.flood, "doc_id", "text", 16))
    },
    "qualityscan" -> { r =>
      r.throughputAb("quality_score_throughput", "quality_score_hof_throughput")(
        TextAnalysis.quality(r.flood, "doc_id", "text"),
        ReferenceForms.qualityHof(r.flood, "doc_id", "text"))
    },
    // the winnowing kernel (hash + window-min + dedup in one pass)
    // against the explode → doc-keyed sort → sliding-frame form, which
    // pays a corpus-wide exchange for a per-doc computation
    "winnowscan" -> { r =>
      r.throughputAb("winnow_kernel_throughput", "winnow_window_throughput")(
        r.flood.select(col("doc_id"), explode(TextFunctions.winnowFps(
          TextFunctions.tokens(col("text")), 4, 5)).as("h")), {
          val grams = r.flood
            .select(col("doc_id"), TextFunctions.shingles(TextFunctions.tokens(col("text")), 4).as("sh"))
            .select(col("doc_id"), size(col("sh")).as("glen"), posexplode(col("sh")).as(Seq("p0", "s")))
            .select(col("doc_id"), col("glen"), (col("p0") + 1).as("pos"),
              conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long").as("h"))
          val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(Window.currentRow, 4)
          grams.withColumn("m", min(struct(col("h"), (-col("pos")).as("np"))).over(frame))
            .filter(col("pos") <= col("glen") - 4)
            .select(col("doc_id"), col("m").getField("h").as("h")).distinct()
        })
    },

    // ---- skew and stragglers -----------------------------------------
    // ONE source owns half of all rows, the rest spread over 1000; the
    // per-source dimension is deliberately not broadcast (the stand-in
    // for a dimension too large to broadcast, when skew bites a
    // sort-merge join). plain = AQE off, the hot key in one task; aqe =
    // Spark's runtime skew-join split; salted = AQE off + Skew.saltedJoin
    "skew" -> { r =>
      val rows = r.targetMb * 50000L
      val nSources = 1000
      val fact = r.stage("skew_fact")(r.spark.range(rows).select(col("id").as("doc_id"),
        when(pmod(xxhash64(col("id")), lit(2)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(nSources.toLong))).as("source_id"),
        (pmod(xxhash64(col("id"), lit(2)), lit(1000)) / 10.0).as("quality")))
      val dim = r.spark.range(nSources).select(col("id").as("source_id"),
        concat(lit("source_"), col("id")).as("source_name"),
        (pmod(xxhash64(col("id")), lit(100)) / 100.0).as("source_weight"))
      def consume(joined: DataFrame) = joined.groupBy(col("source_name"))
        .agg(count(lit(1)).as("n"),
          sum((col("quality") * col("source_weight")).cast("decimal(18,4)"))
            .cast("double").as("weighted_quality"))
      def plain = fact.join(dim, Seq("source_id"))
      Seq(("plain", false, () => plain), ("aqe", true, () => plain),
        ("salted", false, () => Skew.saltedJoin(fact, dim, "source_id", 32))).foreach { case (v, aqe, join) =>
        val m = r.withConf("spark.sql.adaptive.enabled" -> aqe.toString,
            "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          r.measure(s"skew_$v")(consume(join()))
        }
        r.line(s"skew_$v", Seq("rows" -> rows, "sec" -> Json.dec(m.wallSec, 1)) ++ straggler(m): _*)
      }
    },
    // the politeness schedule serializes by host, so a mega-host skews
    // its partition by construction; the mitigation is a per-host quota
    // upstream (TopKPerKey, id order) — its straggler factor collapsing
    // toward 1 is the §6 evidence
    "politeness" -> { r =>
      val rows = r.targetMb * 10000L
      val frontier = r.stage("politeness_frontier")(r.spark.range(rows).select(col("id"),
          when(pmod(xxhash64(col("id")), lit(2)) === 0, lit("megahost"))
            .otherwise(concat(lit("host"), pmod(xxhash64(col("id"), lit(1)), lit(math.max(1L, rows / 200)))))
            .as("h"))
        .select(col("id"), concat(lit("https://"), col("h"), lit(".example.com/page/"), col("id")).as("url"),
          concat(col("h"), lit(".example.com")).as("host")))
      // a handful of hosts carry Crawl-delay directives, the rest the default
      val directives = r.spark.range(50).select(
        concat(lit("host"), col("id"), lit(".example.com")).as("host"),
        (col("id") % 5 + 1).cast("double").as("crawl_delay_sec"))
      def schedule(urls: DataFrame) =
        Html.politenessSchedule(urls.select(col("id"), col("url")), "id", "url", directives)
      Seq("raw" -> (() => schedule(frontier)),
        "quota" -> (() => schedule(graft.plans.TopK.perKey(frontier, Seq("host"), Seq("id"),
          math.max(1, (rows / 2000).toInt), descending = false)))).foreach { case (v, body) =>
        val m = r.measure(s"politeness_$v")(body())
        r.line(s"politeness_$v", Seq("rows" -> rows, "out_rows" -> body().count(),
          "sec" -> Json.dec(m.wallSec, 1)) ++ straggler(m): _*)
      }
    },

    // ---- the dedup family at scale -----------------------------------
    "flood" -> { r =>
      r.axis("corpus_dedup_flood", r.floodMb)(Dedup.corpusDedup(r.flood, "doc_id", "text"))
    },
    // maxBucket = 200 is the production skew guard: without it one hot
    // band bucket serializes a task
    "minhash" -> { r =>
      r.axis("dedup_minhash_combined", r.combinedMb) {
        Dedup.minhashLsh(r.combined, "doc_id", "text", maxBucket = 200)
          .filter(col("est_jaccard") >= 0.5)
      }
    },
    // nPlanes sized to the corpus (~128 vectors a bucket): the 5-plane
    // oracle default has 32 buckets in all and melts down quadratically.
    // Clustered embeddings crowd few sign patterns, so the cap is tight
    // (maxBucket = 2000 made tens of billions of candidates and 49 GB of
    // spills); cluster-aware IVF (the ivf row) is the structural answer
    "vectors" -> { r =>
      val nVec = r.vectors.count()
      val planes = math.max(5, math.ceil(math.log(nVec / 128.0) / math.log(2)).toInt)
      def pairs = Similarity.embeddingPairs(r.vectors, "vec_id", "embedding", CosT,
        nPlanes = planes, maxBucket = 500)
      r.line("soak_pair_graph", "vectors" -> nVec, "n_planes" -> planes,
        "cos_threshold" -> CosT, "edges" -> pairs.count())
      r.axis("semantic_clusters_vectors", nVec * 64 * 8 / 1e6)(clusters(pairs))
    },
    // k-means cells fit the data's own density (~n/512 cells at 2
    // probes, codebook trained on a ~10k-vector stride sample), so cell
    // occupancy tracks clusters instead of flooding a cap
    "ivf" -> { r =>
      val nVec = r.vectors.count()
      def pairs = Similarity.embeddingPairsIvf(r.vectors, "vec_id", "embedding", CosT,
        k = math.max(8, (nVec / 512).toInt), nProbes = 2, maxCell = 2000,
        trainMod = math.max(1, (nVec / 10000).toInt))
      r.line("soak_ivf_pair_graph", "vectors" -> nVec, "k_cells" -> math.max(8, (nVec / 512).toInt),
        "cos_threshold" -> CosT, "edges" -> pairs.count())
      r.axis("semantic_clusters_ivf", nVec * 64 * 8 / 1e6)(clusters(pairs))
    },
    // winnowing with the three fingerprint populations of a real
    // plagiarism corpus: unique filler (df ≈ 1, must never reach the
    // pair join), planted pairs (docs 2m and 2m+1 share a 30-token run,
    // ≥ n+w−1 tokens, so a shared fingerprint is guaranteed) and one
    // boilerplate header on half the docs (df ≈ n/2: without the df cap
    // (n/2)²/2 pairs). Emitted pairs ≈ planted pairs ⇒ cap and recall held
    "winnow" -> { r =>
      val docLen = 200
      val nDocs = (r.targetMb * 1e6 / (docLen * 12.0)).toLong // ~12 B a token
      val nPlanted = math.min(20000L, nDocs / 4)
      val header = lit((1 to 30).map(i => s"hdr$i").mkString(" "))
      val planted = array_join(transform(sequence(lit(1), lit(30)), p =>
        concat(lit("r"), floor(col("id") / 2), lit("_"), p)), " ")
      val soup = array_join(transform(sequence(lit(1), lit(docLen)), p =>
        concat(lit("w"), abs(xxhash64(col("id"), p)))), " ")
      val corpus = r.stage("winnow")(r.spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", when(col("id") % 2 === 0, header).otherwise(lit("")),
          when(col("id") < nPlanted * 2, planted).otherwise(lit("")), soup).as("text")))
      r.axis("winnow_overlap_planted", textMb(corpus, "text"))(Dedup.winnowOverlap(corpus, "doc_id", "text"))
      r.line("soak_winnow_recall", "docs" -> nDocs, "planted_pairs" -> nPlanted,
        "emitted_pairs" -> Dedup.winnowOverlap(corpus, "doc_id", "text").count())
    },
    // batch = the combined corpus, reference = the base docs (every
    // batch doc is two reference docs): shuffle must stay at digest
    // scale, not text scale
    "cdc" -> { r =>
      r.axis("cdc_containment_combined", r.combinedMb)(
        Dedup.cdcContainment(r.combined, r.docs, "doc_id", "text"))
    },
    // the agreement kernel alone: signature pairs (each doc × its next 4
    // ids) are persisted, so both forms time only the per-pair count
    "sigagree" -> { r =>
      val sigs = Dedup.minhashSignatures(r.combined, "doc_id", "text")
      val pairs = r.stage("sigpairs")(sigs.select(col("doc_id").as("ida"), col("sig").as("sig_a"),
          explode(sequence(lit(1), lit(4))).as("j"))
        .withColumn("idb", col("ida") + col("j"))
        .join(sigs.select(col("doc_id").as("idb"), col("sig").as("sig_b")), "idb")
        .select(col("sig_a"), col("sig_b")))
      val hof = aggregate(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
      def agree(c: Column) = pairs.filter(c >= 8).agg(count(lit(1)))
      val ab = r.ab("sigagree")(agree(TextFunctions.sigAgree(col("sig_a"), col("sig_b"))), agree(hof))
      val (k, h) = (ab.a, ab.b)
      r.line("soak_sigagree_ab", "pairs" -> pairs.count(), "kernel_sec" -> Json.dec(k, 2),
        "hof_sec" -> Json.dec(h, 2), "speedup" -> Json.dec(h / k, 2),
        "reps_kernel_hof" -> ab.reps(2))
    },
    // the gram-stats kernel (zero shuffle) on the whole corpus; the A/B
    // against the count-shuffle form on an eighth, because that form's
    // materialized counts + shuffle are ~45× its input on disk (two soak
    // attempts died of ENOSPC on the whole 2 GB: the kernel is what makes
    // the full corpus runnable at all)
    "gramstats" -> { r =>
      val full = r.measure("soak_gramstats_full")(TextAnalysis.gopherRepetition(r.combined, "doc_id", "text"))
      val eighth = r.combined.filter(col("doc_id") % 8 === 0)
      val ab = r.ab("gramstats")(TextAnalysis.gopherRepetition(eighth, "doc_id", "text"),
        ReferenceForms.gopherRepetitionShuffle(eighth, "doc_id", "text"))
      val (k, s) = (ab.a, ab.b)
      r.line("soak_gramstats_ab", "input_mb" -> Json.dec(r.combinedMb, 0),
        "kernel_full_sec" -> Json.dec(full.wallSec, 1),
        "kernel_full_mb_per_sec" -> Json.dec(r.combinedMb / full.wallSec, 1),
        "ab_input_mb" -> Json.dec(textMb(eighth, "text"), 0), "kernel_sec" -> Json.dec(k, 1),
        "shuffle_sec" -> Json.dec(s, 1), "speedup" -> Json.dec(s / k, 2),
        "reps_kernel_shuffle" -> ab.reps(1))
    },
    // materialized (doc, gram, tf) rows + the model-join shuffle run
    // ~50× the input on disk, so half the corpus; the linearity claim
    // (shuffle ∝ input) reads the same. Hashed grams put fixed-width
    // longs on every shuffle instead of bigram strings
    "lmscore" -> { r =>
      val half = r.combined.filter(col("doc_id") % 2 === 0)
      val mb = textMb(half, "text")
      r.axis("ngram_lm", mb)(Scoring.ngramLmPerplexity(half, "doc_id", "text"))
      r.axis("ngram_lm_hashed", mb)(Scoring.ngramLmPerplexity(half, "doc_id", "text", hashGrams = true))
    },
    // one tokenize scan to (source, token, cnt); a mass agg plus one
    // TopKPerKey cut: shuffle bounded by the census, never the corpus
    "mixaudit" -> { r =>
      val corpus = r.combined
        .withColumn("source", concat(lit("s"), (col("doc_id") % 20).cast("string")))
        .withColumn("n_chars", length(col("text")).cast("long"))
      r.axis("source_divergence", r.combinedMb)(Scoring.sourceDivergence(corpus, "text", "source"))
      r.axis("temperature_sample", r.combinedMb)(
        Curation.temperatureSample(corpus, "doc_id", "source", "n_chars", 10000))
    },
    // both gram sides grow with the corpus: shuffle bounded by the
    // distinct (doc, gram-hash) census, longs only
    "leakage" -> { r =>
      r.axis("split_leakage", r.combinedMb)(
        Curation.splitLeakage(r.combined, "doc_id", "text", valPermille = 100, testPermille = 100))
    },

    // ---- retrieval ---------------------------------------------------
    // the combined corpus (a flood would dedup into the same postings):
    // the build scans once, the probe must answer from partition-pruned
    // postings at interactive cost at any corpus size
    "bm25" -> { r =>
      val idx = r.path("bm25_idx")
      val (_, b) = r.timed("soak_bm25_build")(TextAnalysis.buildBm25Index(r.combined, "doc_id", "text", idx))
      r.line("soak_bm25_build", "input_mb" -> Json.dec(r.combinedMb, 0), "sec" -> Json.dec(b.wallSec, 1),
        "mb_per_sec" -> Json.dec(r.combinedMb / b.wallSec, 1))
      val qs = graft.registry.TextQueries.Bm25Queries
      val p = r.measure("soak_bm25_probe")(TextAnalysis.bm25SearchIndexed(r.spark, idx, qs, 10))
      r.line("soak_bm25_probe", "indexed_mb" -> Json.dec(r.combinedMb, 0), "queries" -> qs.size,
        "sec" -> Json.dec(p.wallSec, 2))
    },
    // the combined corpus's ~40-token vocabulary has probes touch ~30%
    // of all postings; on zipf at 1024 buckets (≫ probe terms), 10
    // queries × 3 mid-frequency terms (ranks 10²..10⁴) report the share
    // of postings BYTES a probe reads (dir pruning × row-group skip)
    "bm25zipf" -> { r =>
      val idx = r.path("zipf_idx")
      val buckets = 1024
      val mb = textMb(r.zipf, "text")
      val (_, b) = r.timed("soak_bm25_zipf_build") {
        TextAnalysis.buildBm25Index(r.zipf, "doc_id", "text", idx, buckets = buckets)
      }
      r.line("soak_bm25_zipf_build", "input_mb" -> Json.dec(mb, 0),
        "vocab" -> r.spark.read.parquet(s"$idx/df").count(), "buckets" -> buckets,
        "sec" -> Json.dec(b.wallSec, 1), "mb_per_sec" -> Json.dec(mb / b.wallSec, 1))
      val qs = (1 to 10).map(q => (q, Seq(s"t${100 + q}", s"t${1000 + q * 7}", s"t${10000 + q * 97}")))
      val p = r.measure("soak_bm25_zipf_probe")(TextAnalysis.bm25SearchIndexed(r.spark, idx, qs, 10))
      val postingsMb = dirMb(s"$idx/postings")
      r.line("soak_bm25_zipf_probe", "indexed_mb" -> Json.dec(mb, 0), "queries" -> qs.size,
        "sec" -> Json.dec(p.wallSec, 2), "postings_mb" -> Json.dec(postingsMb, 1),
        "read_mb" -> Json.dec(p.inputBytes / 1e6, 1),
        "read_fraction" -> Json.dec(p.inputBytes / 1e6 / math.max(postingsMb, 1e-9), 4),
        "dirs_touched" -> qs.flatMap(_._2).distinct.map(TextAnalysis.tkeyOf(_, buckets)).distinct.size,
        "dirs_total" -> buckets)
    },
    // one scan to the word dictionary, then every merge round is a
    // vocabulary-sized job: sec/merge flat past the first scan (a
    // quarter of the zipf corpus)
    "bpe" -> { r =>
      val docs = r.stage("zipf_quarter")(r.zipf.filter(col("doc_id") % 4 === 0))
      val nWords = Bpe.wordVocab(docs, "text").count()
      val (dict, scan) = r.timed("soak_bpe_dict")(Bpe.wordVocab(docs, "text").count())
      require(dict == nWords)
      val (merges, learn) = r.timed("soak_bpe_learn")(Bpe.bpeLearn(docs, "text", nMerges = 30))
      // zero merges is legal (every pair under minFreq)
      val (top, freq) = merges.headOption.map(m => (m.merged, m.freq)).getOrElse(("", 0L))
      r.line("soak_bpe_learn", "input_mb" -> Json.dec(textMb(docs, "text"), 0), "word_vocab" -> nWords,
        "n_merges" -> merges.length, "sec" -> Json.dec(learn.wallSec, 1),
        "dict_scan_sec" -> Json.dec(scan.wallSec, 1),
        "sec_per_merge" -> Json.dec((learn.wallSec - scan.wallSec) / math.max(merges.length, 1), 2),
        "top_merge" -> top, "top_freq" -> freq)
    },

    // ---- vectors -----------------------------------------------------
    // the encode kernel against the composed least()-tree form (janino
    // rejects its >64 KB of Java, so it runs interpreted), then the
    // persisted index: codes 32× smaller than the floats, and a probe's
    // read bytes must track the code table, never the vectors
    "pq" -> { r =>
      val emb = r.pqVectors
      val nVec = emb.count()
      val vecMb = nVec * 64 * 4 / 1e6 // the float payload the codes replace
      val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding")
      val ab = r.ab("pq_encode")(Similarity.pqEncodeWith(emb, "vec_id", "embedding", cbs),
        ReferenceForms.pqEncodeExprForm(emb, "vec_id", "embedding", cbs))
      val (k, e) = (ab.a, ab.b)
      r.line("soak_pq_encode_ab", "vectors" -> nVec, "input_mb" -> Json.dec(vecMb, 0),
        "kernel_sec" -> Json.dec(k, 2), "expr_sec" -> Json.dec(e, 2), "speedup" -> Json.dec(e / k, 2),
        "kernel_mb_per_sec" -> Json.dec(vecMb / k, 1),
        "reps_kernel_expr" -> ab.reps(2))
      val idx = r.path("pq_idx")
      val (_, b) = r.timed("soak_pq_build") {
        Similarity.buildAnnIndex(emb, "vec_id", "embedding", idx, AnnSpec(code = AnnSpec.Code.Pq()))
      }
      val codesMb = dirMb(s"$idx/codes")
      r.line("soak_pq_build", "vectors" -> nVec, "input_mb" -> Json.dec(vecMb, 0),
        "sec" -> Json.dec(b.wallSec, 1), "codes_mb" -> Json.dec(codesMb, 1),
        "compression" -> Json.dec(vecMb / codesMb, 1))
      val spark = r.spark
      import spark.implicits._
      val queries = emb.filter(col("vec_id") < 10).collect()
        .map(q => (q.getLong(0), q.getSeq[Float](1))).toSeq.toDF("vec_id", "embedding")
      val p = r.measure("soak_pq_probe")(Similarity.knnProbe(r.spark, idx, queries, "vec_id", "embedding", 10))
      r.line("soak_pq_probe", "vectors" -> nVec, "sec" -> Json.dec(p.wallSec, 2),
        "codes_mb" -> Json.dec(codesMb, 1), "read_mb" -> Json.dec(p.inputBytes / 1e6, 1),
        "vectors_mb" -> Json.dec(vecMb, 0))
    },
    // train (2 Lloyd rounds) + score is a broadcast-codebook scan: the
    // only shuffle is the per-cluster rank window
    "proto" -> { r =>
      r.axis("prototype_scores", r.pqVectors.count() * 64 * 4 / 1e6)(
        Similarity.prototypeScores(r.pqVectors, "vec_id", "embedding"))
    },
    // rows × eval-set fused cosines, one kernel call a row, no shuffle
    "semgate" -> { r =>
      val sample = r.pqVectors.filter(col("vec_id") % 10 === 0)
      val nRows = sample.count()
      val eval = r.write("semgate_eval")(r.pqVectors.filter(col("vec_id") % 1000 === 7)
        .select(col("vec_id"), col("embedding")))
      r.axis("semantic_gate", nRows * 64 * 4 / 1e6)(
        graft.streaming.DocStreams.semanticAdmission(sample, "vec_id", "embedding", eval, minCos = 0.99))
      r.line("soak_semantic_gate_dims", "rows" -> nRows, "eval_set" -> r.spark.read.parquet(eval).count())
    },
    // the zero-shuffle argmax kernel on the whole corpus against the
    // broadcast cross join + per-id row_number window it replaced, on a
    // sixteenth (the whole corpus × centroids would burn ~40 GB of disk)
    "ivfassign" -> { r =>
      val nVec = r.vectors.count()
      val centroids = r.vectors.filter(col("vec_id") % math.max(1, (nVec / 256).toInt) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
      r.axis("ivf_assign_kernel", nVec * 64 * 8 / 1e6) {
        Similarity.ivfAssignCells(r.vectors.select(col("vec_id"), col("embedding")), "embedding", centroids)
          .select(col("vec_id"), col("centroid_id"))
      }
      val sub = r.vectors.filter(col("vec_id") % 16 === 0)
      val nSub = sub.count()
      r.axis("ivf_assign_window_sub16", nSub * 64 * 8 / 1e6) {
        sub.join(broadcast(centroids))
          .select(col("vec_id"), col("centroid_id"),
            graft.functions.VectorFunctions.cosineNative(col("embedding"), col("cv")).as("csim"))
          .withColumn("crnk", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("centroid_id"))))
          .filter(col("crnk") === 1)
          .select(col("vec_id"), col("centroid_id"))
      }
      r.line("soak_ivf_assign_meta", "vectors" -> nVec, "centroids" -> centroids.count(),
        "window_subset" -> nSub)
    },

    // ---- ingestion, crawl and curation -------------------------------
    // blank-line-delimited records (each text + its own newline; the
    // writer's row newline completes the \n\n) parsed inside the scan
    "ingest" -> { r =>
      val raw = r.stageText("raw")(r.copies(r.mult()).select(concat(col("text"), lit("\n")).as("value")))
      r.axis("raw_ingest", dirMb(raw)) {
        Formats.readRecords(r.spark, raw).select(col("record_id"), length(col("text")).as("n"))
      }
    },
    "htmlx" -> { r =>
      val html = r.stage("html")(r.copies(r.mult())
        .select(col("doc_id"), Html.wrapHtml(col("doc_id"), col("text")).as("html")))
      r.axis("html_extract", textMb(html, "html"))(Html.htmlExtract(html, "doc_id", "html"))
    },
    // extraction must run at scan rate with no shuffle, and the host
    // graph's shuffle must track host adjacency, not page bytes
    "links" -> { r =>
      val pages = r.stage("links")(r.copies(r.mult()).select(col("doc_id"),
        Html.wrapUrl(col("doc_id"), col("source")).as("url"),
        concat(Links.wrapLinksHtml(col("doc_id"), col("source")), col("text")).as("html")))
      val mb = pages.agg(sum(length(col("html")) + length(col("url")))).collect()(0).getLong(0) / 1e6
      r.axis("link_extract", mb)(Links.linkExtract(pages, "doc_id", "url", "html"))
      r.axis("link_graph", mb)(Links.linkGraph(Links.linkExtract(pages, "doc_id", "url", "html")))
    },
    // every body line occurs `mult` times and header/footer n×mult
    // times: shuffle MB should track line count, not text bytes
    "linededup" -> { r =>
      val lines = r.stage("lines")(r.copies(r.mult())
        .select(col("doc_id"), Dedup.wrapLines(col("text"), col("source")).as("text")))
      r.axis("line_dedup", textMb(lines, "text"))(Dedup.lineDedup(lines, "doc_id", "text"))
    },
    // chunking is zero-shuffle map throughput; shards is the two-pass
    // prefix sum whose only shuffle is the (id, 2×long) range sort
    "chunks" -> { r =>
      r.axis("doc_chunks", r.floodMb)(Curation.docChunks(r.flood, "doc_id", "text"))
    },
    "shards" -> { r =>
      r.axis("training_shards", r.floodMb) {
        Curation.shardManifest(Curation.trainingShards(r.flood, "doc_id", "text", 1000000L), "doc_id")
      }
    },
    // an exact-copy flood of pages under one title: extract, collapse
    // the copies, manifest the survivors
    "crawlpipe" -> { r =>
      val pages = r.stage("pages")(r.copies(r.mult())
        .select(col("doc_id"), Html.wrapHtml(lit(0), col("text")).as("html")))
      r.axis("crawl_pipeline", textMb(pages, "html"))(Curation.crawlPipeline(pages, "doc_id", "html"))
    },
    // a WARC archive split and header-parsed inside the scan; the gz
    // form (one member per file) reports the uncompressed MB, and the
    // recrawl classify (blocks edited on %5, records dropped on %11)
    // must shuffle (uri, digest) rows, never blocks
    "warc" -> { r => r.axis("warc_ingest", dirMb(r.warcPath))(warcScan(Formats.readWarc(r.spark, r.warcPath))) },
    "warcgz" -> { r =>
      val a = r.warcPath
      val gz = new java.io.File(r.path("warc_gz"))
      gz.mkdirs()
      gz.listFiles().foreach(_.delete())
      new java.io.File(a).listFiles().filter(f => f.getName.startsWith("part") && !f.getName.endsWith(".crc"))
        .foreach { f =>
          val out = new java.util.zip.GZIPOutputStream(
            new java.io.FileOutputStream(new java.io.File(gz, f.getName + ".gz")))
          try java.nio.file.Files.copy(f.toPath, out) finally out.close()
        }
      r.axis("warc_gz_ingest", dirMb(a))(warcScan(Formats.readWarcGz(r.spark, s"$gz/*.gz")))
    },
    "revisit" -> { r =>
      val a = r.warcPath
      val b = r.stageText("warc_b")(r.copies(r.mult()).filter(col("doc_id") % 11 =!= 0)
        .withColumn("__b", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit("\n[edited in snapshot B]"))).otherwise(col("text")))
        .select(warcRecord(concat(lit("b"), col("doc_id")), page(col("doc_id")), "2026-02-01T00:00:00Z",
          "text/plain", col("__b")).as("value")))
      r.axis("warc_revisit", dirMb(a) + dirMb(b)) {
        Formats.revisitClassify(Formats.readWarc(r.spark, a), Formats.readWarc(r.spark, b))
      }
    },
    // a replicated URL frontier (URLs are short: 10× the copies) against
    // per-host rule arrays: the broadcast join + winner pick must keep
    // shuffle near zero at any frontier size
    "robots" -> { r =>
      val urls = r.stage("urls")(r.copies(r.mult(r.targetMb * 10.0))
        .select(col("doc_id"), Html.wrapUrl(col("doc_id"), col("source")).as("url")))
      val rules = Html.robotsRules(r.docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          Html.wrapRobotsTxt(col("source")).as("content")), "host", "content")
      r.axis("robots_filter", textMb(urls, "url"))(Html.robotsFilter(urls, "doc_id", "url", rules, "graftbot"))
    },
    // the native winner kernel against the HOF composition over the
    // same broadcast rule arrays and frontier (prefix, wildcard and
    // anchored rules, no-match rows); both must gate identically
    "robotswinner" -> { r =>
      val nUrls = r.targetMb * 1000L
      val hosts = 500
      val rules = Html.robotsRuleArrays(Html.robotsRules(r.spark.range(hosts)
          .select(concat(lit("src"), col("id")).as("source"))
          .select(concat(col("source"), lit(".example.com")).as("host"),
            Html.wrapRobotsTxt(col("source")).as("content")), "host", "content"), "graftbot")
        .localCheckpoint()
      val joined = r.spark.range(nUrls).select(col("id"),
          concat(lit("/articles/item"), col("id") % 40,
            when(col("id") % 7 === 0, lit("/deep/page")).otherwise(lit(""))).as("path"),
          concat(lit("src"), col("id") % hosts, lit(".example.com")).as("host"))
        .join(broadcast(rules), col("host") === col("__rhost"), "left")
      def gate(w: Column) = joined.select(col("id"),
        (w.isNull || w.getField("rtype") === "allow").as("allowed"),
        coalesce(w.getField("rpath"), lit("")).as("matched_path"))
      val forms = Seq("native" -> gate(Html.robotsWinner(col("path"), col("__rules"))),
        "composed" -> gate(ReferenceForms.robotsWinnerComposed(col("path"), col("__rules"))))
      val ab = r.ab("robots_winner")(forms(0)._2, forms(1)._2)
      forms.zip(Seq(ab.pairs.map(_._1), ab.pairs.map(_._2))).foreach { case ((form, df), ms) =>
        val best = ms.map(_.engineSec).min
        val chk = df.agg(sum(when(col("allowed"), 1L)), expr("bit_xor(xxhash64(matched_path, id))"))
          .collect()(0)
        r.line("robots_winner", "form" -> form, "urls" -> nUrls, "hosts" -> hosts,
          "engine_sec" -> Json.dec(best), "wall_min_sec" -> Json.dec(ms.map(_.wallSec).min),
          "m_urls_per_sec" -> Json.dec(nUrls / best / 1e6, 2), "ns_per_url" -> Json.dec(best / nUrls * 1e9, 0),
          "allowed" -> chk.getLong(0), "path_hash" -> chk.getLong(1))
      }
    },
    // a redirect-heavy fetch log with every resolution class planted:
    // chains into the 4-hop budget (id%1000 in [200,216]), self-loops
    // (%1000 = 36), dangling externals (%1000 = 72), 1-2 hop redirects
    // on other multiples of 4, 200s carrying the text. The unrolled
    // redirect join must shuffle (uri, target) pairs only
    "fetch" -> { r =>
      val id = col("doc_id")
      val kilo = id % 1000
      val loc = when(kilo === 36, page(id))
        .when(kilo === 72, lit("https://elsewhere.example.org/gone"))
        .when(id % 4 === 0 && kilo >= 200 && kilo <= 216, page(id + 4))
        .when(id % 4 === 0, page(id + when(id % 8 === 0, 4).otherwise(2)))
      val status = when(loc.isNull, lit("200 OK"))
        .when(id % 16 === 0, lit("301 Moved Permanently"))
        .when(id % 16 === 8, lit("307 Temporary Redirect"))
        .when(id % 16 === 12, lit("308 Permanent Redirect"))
        .otherwise(lit("302 Found"))
      val body = when(loc.isNotNull, lit("moved")).otherwise(col("text"))
      val http = concat(lit("HTTP/1.1 "), status, lit("\r\n"),
        when(loc.isNotNull, concat(lit("Location: "), loc, lit("\r\n"))).otherwise(lit("")),
        lit("Content-Type: text/plain\r\nContent-Length: "), octet_length(body), lit("\r\n\r\n"), body)
      val log = r.stageText("fetch")(r.copies(r.mult()).select(warcRecord(concat(lit("f"), id), page(id),
        "2026-01-03T00:00:00Z", "application/http; msgtype=response", http).as("value")))
      def fetches = Formats.httpParse(Formats.readWarc(r.spark, log), "block")
      def resolved = Links.redirectResolve(fetches, "target_uri", "status", "http_location")
      r.axis("redirect_resolve", dirMb(log))(resolved)
      r.axis("fetch_pipeline", dirMb(log)) {
        resolved.filter(col("resolution") =!= "exceeded" && col("final_in_corpus"))
          .groupBy(Html.urlNormalize(col("final_uri")).as("canonical_url"))
          .agg(count(lit(1)).as("n_sources"), min(col("start_uri")).as("first_source"),
            max(col("n_hops")).as("max_hops"), min(col("final_uri")).as("__rep"))
          .join(fetches.select(col("target_uri").as("__fu"), col("status").as("landing_status"),
            octet_length(col("body")).as("body_bytes")), col("__rep") === col("__fu"))
          .select(col("canonical_url"), col("n_sources"), col("first_source"),
            col("max_hops"), col("landing_status"), col("body_bytes"))
      }
    },
    // every 5th copy carries three planted Windows-1252 artifacts, so the
    // repair path is live, not a sweep over clean ASCII
    "encfix" -> { r =>
      val m = r.mult()
      val planted = r.stage("encfix")(r.copies(m).select(col("doc_id"),
        when(col("doc_id") % 5 === 2,
          concat(regexp_replace(regexp_replace(col("text"), "value", "valu\u00c3\u00a9"),
            "part", "p\u00c3\u00a4rt"), lit(" \u00e2\u20ac\u00a6")))
          .otherwise(col("text")).as("text")))
      r.axis("encoding_repair", r.baseMb * m)(TextAnalysis.encodingRepair(planted, "doc_id", "text"))
    },
    // the stage-committed chain (FullChain): each stage commits parquet
    // and the next reads only that, which bounds the live shuffle
    // footprint (the composed form ENOSPC'd a 90 GB disk at 10 GB) and
    // makes a killed run resumable; gc at each boundary releases the
    // finished stage's blocks. Curation caps buckets at 300 (the
    // planted true near-dup cliques are ~35 docs)
    "fullchain" -> { r =>
      val pages = r.chainPages
      val mb = textMb(pages, "html")
      val (crawled, cut, shards) = (r.path("chain_crawled"), r.path("chain_curated"), r.path("chain_shards"))
      System.gc()
      val (_, a) = r.timed("soak_fullchain_crawl")(FullChain.stageCrawl(pages, crawled))
      System.gc()
      val (_, b) = r.timed("soak_fullchain_curate") {
        FullChain.stageCurate(r.spark, crawled, cut, minQuality = 0.3, quota = 2000, maxBucket = 300)
      }
      System.gc()
      val ((nShards, tokens), c) = r.timed("soak_fullchain_sink")(FullChain.stageSink(r.spark, cut, shards, 200000L))
      // where the bytes went: shuffle write and spill per heavy stage
      Seq(a, b, c).flatMap(_.stages).filter(st => st.shuffleWrite > 100e6 || st.spillBytes > 100e6)
        .foreach(st => System.err.println(s"[chain] stage ${st.id} shuffleWrite " +
          s"${st.shuffleWrite / 1000000} MB diskSpill ${st.spillBytes / 1000000} MB ${st.name}"))
      val sec = a.wallSec + b.wallSec + c.wallSec
      val shuffleMb = Seq(a, b, c).map(_.shuffleWriteBytes).sum / 1e6
      val (vShards, vBad) = Layouts.verifyTrainingShards(r.spark, shards, "doc_id", "clean_text")
      r.line("soak_fullchain", "input_mb" -> Json.dec(mb, 0), "sec" -> Json.dec(sec, 1),
        "mb_per_sec" -> Json.dec(mb / sec, 1), "crawl_sec" -> Json.dec(a.wallSec, 1),
        "curation_sec" -> Json.dec(b.wallSec, 1), "sink_sec" -> Json.dec(c.wallSec, 1),
        "shuffle_write_mb" -> Json.dec(shuffleMb, 1), "shuffle_over_input" -> Json.dec(shuffleMb / mb),
        "pages" -> pages.count(), "crawl_survivors" -> r.spark.read.parquet(crawled).count(),
        "final_docs" -> r.spark.read.parquet(cut).count(), "shards" -> nShards, "tokens" -> tokens,
        "manifest_shards_verified" -> vShards, "manifest_mismatches" -> vBad)
    },
    // the restart proof at soak scale (ChainResumeSpec pins it at spec
    // scale): the whole chain, then a replay from the committed crawl
    // parquet alone ("the driver died after the crawl commit") must give
    // identical shard manifests; the wall difference is what the commit
    // boundary saves on restart
    "fullchainresume" -> { r =>
      val pages = r.chainPages
      val base = r.path("resume")
      def curateAndSink(cut: String, shards: String): (Long, Long) = {
        FullChain.stageCurate(r.spark, s"$base/crawl", cut, minQuality = 0.3, quota = 2000, maxBucket = 300)
        System.gc()
        FullChain.stageSink(r.spark, cut, shards, 200000L)
      }
      System.gc()
      val (_, crawl) = r.timed("soak_resume_crawl")(FullChain.stageCrawl(pages, s"$base/crawl"))
      System.gc()
      val ((uShards, uTokens), rest) = r.timed("soak_resume_full")(curateAndSink(s"$base/cut", s"$base/shards"))
      System.gc()
      val ((rShards, rTokens), resume) = r.timed("soak_resume_replay")(curateAndSink(s"$base/rcut", s"$base/rshards"))
      val mu = r.spark.read.parquet(s"$base/shards/manifest")
      val mr = r.spark.read.parquet(s"$base/rshards/manifest")
      val (vShards, vBad) = Layouts.verifyTrainingShards(r.spark, s"$base/rshards", "doc_id", "clean_text")
      val full = crawl.wallSec + rest.wallSec
      r.line("soak_fullchain_resume", "input_mb" -> Json.dec(textMb(pages, "html"), 0),
        "full_sec" -> Json.dec(full, 1), "crawl_sec" -> Json.dec(crawl.wallSec, 1),
        "resume_sec" -> Json.dec(resume.wallSec, 1),
        "restart_saved_frac" -> Json.dec(1.0 - resume.wallSec / full), "shards" -> uShards,
        "tokens" -> uTokens, "resume_shards" -> rShards, "resume_tokens" -> rTokens,
        "manifest_diff_rows" -> (mu.exceptAll(mr).count() + mr.exceptAll(mu).count()),
        "resume_manifest_shards_verified" -> vShards, "resume_manifest_mismatches" -> vBad)
    },

    // ---- streaming ---------------------------------------------------
    // micro-batch throughput of the windowed-agg, keyed-state
    // (sessionize, funnels), sketch-state and stream-stream join paths,
    // and kill-and-restart exactly-once for each stateful sink. The event
    // copies are range-partitioned by ts with mtimes stamped in part
    // order (the file source reads by modification time), so batches
    // arrive in event-time order, the watermark drops nothing and both
    // runs close the same windows; copy i shifts ts by i·31 days and
    // strides event_id, user_id is shared so session state churns
    "streaming" -> { r =>
      val evDir = r.path("stream_events")
      val ev = Tables.events(r.spark, r.sfDir)
      val stride = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1
      ev.select(explode(sequence(lit(0), lit(math.max(4, r.targetMb / 2) - 1))).as("i"),
          col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"), col("props"))
        .select((col("event_id") + col("i") * stride).as("event_id"),
          expr("timestampadd(DAY, 31 * i, ts)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .repartitionByRange(64, col("ts")).sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(evDir)
      val parts = new java.io.File(evDir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val mt0 = parts.map(_.lastModified).min
      parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(mt0 + i * 1000L) }
      val schema = r.spark.read.parquet(evDir).schema
      val nEvents = r.spark.read.parquet(evDir).count()
      def events = r.spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).parquet(evDir)
      // fresh checkpoints and sinks every run: reused checkpoints replay
      // zero batches, and append sinks would mix runs
      val base = r.path("stream")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      def sink(df: DataFrame, ck: String, out: String) = df.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck).outputMode("append").start()
      val win = streamProof(r, s"$base/win", "win")((ck, out) => sink(EventStreams.windowedCounts(events), ck, out))
      val spark = r.spark
      import spark.implicits._
      val (_, sess) = r.timed("soak_stream_sessionize") {
        val q = sink(EventStreams.sessionize(events
            .select(col("event_id"), unix_micros(col("ts")).as("ts"), col("user_id"),
              col("event_type"), col("value"))
            .withColumn("event_time", timestamp_micros(col("ts")))
            .withWatermark("event_time", "10 minutes").as[EventStreams.Event]).toDF(),
          s"$base/ck_sess", s"$base/out_sess")
        q.processAllAvailable()
        q.stop()
      }
      val fun = streamProof(r, s"$base/fun", "fun")((ck, out) => sink(EventStreams.funnelCompletions(
        events.select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts"))), ck, out))
      val est = streamProof(r, s"$base/est", "est")((ck, out) => sink(EventStreams.windowedUserEstimate(events), ck, out))
      val attr = streamProof(r, s"$base/attr", "attr")((ck, out) => sink(EventStreams.purchaseAttribution(events), ck, out))
      def rate(sec: Double) = Json.dec(nEvents / sec, 0)
      r.line("soak_streaming", "events" -> nEvents, "input_mb" -> Json.dec(parts.map(_.length).sum / 1e6, 0),
        "files" -> 64, "win_sec" -> Json.dec(win.sec, 1), "win_events_per_sec" -> rate(win.sec),
        "win_batches" -> win.batches, "win_rows" -> win.rows, "sess_sec" -> Json.dec(sess.wallSec, 1),
        "sess_events_per_sec" -> rate(sess.wallSec),
        "sessions" -> r.spark.read.parquet(s"$base/out_sess").count(),
        "restart_killed_at_batch" -> win.killedAt, "restart_kill_degenerate" -> win.degenerate,
        "restart_diff_rows" -> win.diffRows,
        "fun_sec" -> Json.dec(fun.sec, 1), "fun_events_per_sec" -> rate(fun.sec), "funnels" -> fun.rows,
        "fun_restart_killed_at" -> fun.killedAt, "fun_restart_degenerate" -> fun.degenerate,
        "fun_restart_diff_rows" -> fun.diffRows,
        "est_sec" -> Json.dec(est.sec, 1), "est_events_per_sec" -> rate(est.sec), "est_windows" -> est.rows,
        "est_restart_killed_at" -> est.killedAt, "est_restart_degenerate" -> est.degenerate,
        "est_restart_diff_rows" -> est.diffRows,
        "attr_sec" -> Json.dec(attr.sec, 1), "attr_events_per_sec" -> rate(attr.sec),
        "attributions" -> attr.rows, "attr_restart_killed_at" -> attr.killedAt,
        "attr_restart_degenerate" -> attr.degenerate, "attr_restart_diff_rows" -> attr.diffRows)
      // unload the stopped queries' state stores: their maintenance
      // thread otherwise outlives a session stop (the premium row's, or
      // the run's end) and logs a failed coordinator call every round
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    },

    // ---- distributed -------------------------------------------------
    // the reliable-materialize premium (each cut subtree runs twice
    // under a reliable checkpoint) on the two-host cluster, where it
    // includes the cross-JVM traffic local[n] hides: corpus_dedup (exact
    // + LSH band cuts) and semantic_clusters (a cut every CC round, the
    // family's upper bound), on at most 60 MB of combined text and 20k
    // vectors (the 2×4-core cluster's budget); the ratio is the result
    "premium" -> { r =>
      val (docsPath, vecPath) = (r.combinedPath, r.vectorsPath)
      val docStride = math.max(1, (r.combinedMb / 60).toInt)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-premium-ckpt").toString
      MiniCluster.withCluster("reliable-soak", workerMemory = "3g", workerCores = 4) { master =>
        r.onCluster(MiniCluster.session(master, "reliable-materialize-soak", Map(
            "spark.executor.memory" -> "2g", "spark.sql.shuffle.partitions" -> "16"))) {
          val docs = r.spark.read.parquet(docsPath).filter(col("doc_id") % docStride === 0)
          val vecs0 = r.spark.read.parquet(vecPath)
          val vecs = vecs0.filter(col("vec_id") % math.max(1L, vecs0.count() / 20000) === 0)
          val planes = math.max(5, math.ceil(math.log(vecs.count() / 128.0) / math.log(2)).toInt)
          Seq[(String, () => DataFrame)](
            "corpus_dedup" -> (() => Dedup.corpusDedup(docs, "doc_id", "text")),
            "semantic_clusters" -> (() => clusters(Similarity.embeddingPairs(vecs, "vec_id", "embedding",
              CosT, nPlanes = planes, maxBucket = 500)))).foreach { case (name, body) =>
            val local = r.measure(s"premium_local_$name")(body()).wallSec
            val reliable = r.withConf(graft.Materialize.ReliableDirKey -> ckpt) {
              r.measure(s"premium_reliable_$name")(body()).wallSec
            }
            r.line(s"reliable_premium_$name", "local_sec" -> Json.dec(local, 1),
              "reliable_sec" -> Json.dec(reliable, 1), "ratio" -> Json.dec(reliable / local, 2))
          }
        }
      }
    })

  private def warcScan(warc: DataFrame): DataFrame =
    warc.select(col("record_id"), col("warc_type"), col("content_length"), col("length_ok"),
      length(col("block")).as("n"))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: Soak <sfDir> [axes|all] [targetMb]; rows: ${rows.map(_._1).mkString(",")}")
    val dir = "target/soak"
    val axes = args.lift(1).filter(_ != "all").map(_.split(',').toSet)
    val unknown = axes.getOrElse(Set.empty) -- rows.map(_._1)
    require(unknown.isEmpty, s"unknown axes ${unknown.mkString(",")}; rows: ${rows.map(_._1).mkString(",")}")
    val targetMb = args.lift(2).fold(defaultTargetMb(dir))(_.toInt)
    val run = new Run(() => graft.GraftSession.getOrCreate(), args(0), targetMb, dir)
    try {
      run.line("soak_run", "sf_dir" -> args(0), "target_mb" -> targetMb)
      rows.filter(row => axes.forall(_(row._1))).foreach { case (_, body) => body(run) }
    } finally run.spark.stop()
  }
}
