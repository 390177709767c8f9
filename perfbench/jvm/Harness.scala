package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Html, Similarity}
import graft.sources.{Layouts, Tables}
import graft.tools.FullChain

/** Closed-loop driver for one workload: one client thread, one operation
  * at a time, on the library's own session (`GraftSession.builder`).
  *
  * Arguments are `key=value` pairs:
  *   data, out     input parquet directory and output directory
  *   ops           comma-separated registered query names
  *   seconds       measured window; passes start only inside it
  *   cores         local[cores] and the shuffle partition count
  *   trace         1 = attach listeners on alternate passes and time the
  *                 kernels, one crawl → curate → shards chain, the floor
  *                 probe and a local[1] pass
  *   t0ms          wall-clock ms at which the benchmark process started
  *   seed          input seed; picks which chain pages are exact duplicates
  *
  * Every operation's output is written under `out/ops/<seq>` for the
  * caller to check; `out/result.json` lists operations, passes, set-up
  * times and, when tracing, spans and per-layer counters (keys in
  * snake_case).
  */
object Harness {
  final case class Op(seq: Int, name: String, pass: Int, traced: Boolean,
                      startMs: Long, endMs: Long, buildS: Double, secs: Double,
                      parts: Map[String, Double], inputBytes: Long, error: String)

  final case class Span(id: Int, name: String, startMs: Long, endMs: Long,
                        parent: Int, op: Int)

  /** One measured pass; `gcMs`, `jitMs` and `cpuMs` are the JVM's garbage
    * collection, JIT compilation and process CPU time (all threads) during it. */
  final case class Pass(pass: Int, traced: Boolean, secs: Double, startMs: Long,
                        gcMs: Long, jitMs: Long, cpuMs: Double)

  /** A traced chain run's shards checked against their manifest, and the
    * rows its crawl and curate stages committed. */
  final case class ChainCheck(seq: Int, shards: Long, mismatches: Long, crawled: Long,
                              kept: Long)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = conf("data")
    val out = conf("out")
    val ops = conf("ops").split(',').toSeq
    val seconds = conf("seconds").toDouble
    val cores = conf("cores").toInt
    val trace = conf.get("trace").contains("1")
    val t0ms = conf("t0ms").toLong
    val seed = conf("seed").toLong
    Files.createDirectories(Paths.get(out, "ops"))
    Files.writeString(Paths.get(out, "oracle_sql.json"), json.writeValueAsString(
      ops.flatMap(o => SparkEntry.oracleSql.get(o).map(o -> _)).toMap))

    val spans = mutable.ArrayBuffer[Span]()
    def span[T](name: String, parent: Int, op: Int)(body: Int => T): (T, Int) = {
      val id = spans.size
      spans += Span(id, name, System.currentTimeMillis(), -1L, parent, op)
      val r = body(id)
      spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
      (r, id)
    }
    def secsOf(id: Int) = (spans(id).endMs - spans(id).startMs) / 1e3

    def session(n: Int): SparkSession = {
      val s = GraftSession.builder(s"local[$n]", n)
        .config("spark.local.dir", Paths.get(out, "spark-local").toAbsolutePath.toString)
        .config("spark.sql.warehouse.dir", Paths.get(out, "warehouse").toAbsolutePath.toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    var seq = 0
    def nextDir(): String = { seq += 1; Paths.get(out, "ops", f"$seq%05d").toString }
    val results = mutable.ArrayBuffer[Op]()

    def sinkParquet(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").parquet(path)

    def runOp(spark: SparkSession, name: String, pass: Int, traced: Boolean,
              parent: Int): Op = {
      val dir = nextDir()
      val sc = spark.sparkContext
      sc.setLocalProperty("perfbench.op", seq.toString)
      val start = System.currentTimeMillis()
      val t = System.nanoTime()
      var build = 0.0
      var inputBytes = 0L
      val parts = mutable.ArrayBuffer[(String, Double)]()
      val err = try {
        span(name, parent, seq) { me =>
          if (name == "@chain") {
            // the ChainResumeSpec settings: quality 0.3, quota 50 per
            // stratum, LSH buckets capped at 300, 5,000-token shards
            val pages = spark.read.parquet(s"$data/pages.parquet")
            sc.setLocalProperty("perfbench.phase", "crawl")
            parts += "crawl" -> secsOf(span("chain.crawl", me, seq)(_ =>
              FullChain.stageCrawl(pages, s"$dir/crawl"))._2)
            sc.setLocalProperty("perfbench.phase", "curate")
            parts += "curate" -> secsOf(span("chain.curate", me, seq)(_ =>
              FullChain.stageCurate(spark, s"$dir/crawl", s"$dir/cut", 0.3, 50, 300))._2)
            sc.setLocalProperty("perfbench.phase", "sink")
            parts += "sink" -> secsOf(span("chain.sink", me, seq)(_ =>
              FullChain.stageSink(spark, s"$dir/cut", s"$dir/shards", 5000L))._2)
          } else if (name == "@floor") {
            sc.setLocalProperty("perfbench.phase", "sink")
            sinkParquet(spark.range(1).toDF(), dir)
          } else {
            sc.setLocalProperty("perfbench.phase", "build")
            val (df, b) = span("entry.build", me, seq)(_ => SparkEntry.queries(name)(spark, data))
            build = secsOf(b)
            if (pass == 0) inputBytes = df.inputFiles.map(f =>
              Files.size(Paths.get(new java.net.URI(f)))).sum
            sc.setLocalProperty("perfbench.phase", "sink")
            span("sink", me, seq)(_ => sinkParquet(df, dir))
          }
        }
        ""
      } catch {
        case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      } finally {
        sc.setLocalProperty("perfbench.op", null)
        sc.setLocalProperty("perfbench.phase", null)
      }
      val secs = (System.nanoTime() - t) / 1e9
      val op = Op(seq, name, pass, traced, start, System.currentTimeMillis(), build, secs,
        parts.toMap, inputBytes, err)
      results += op
      op
    }

    // Set-up, from process start (t0ms) to the first timed operation: JVM
    // start, the SparkContext and session build, the input check and one
    // warm-up pass.
    val (spark0, sessionSpan) = span("session.start", -1, 0)(_ => session(cores))
    var spark = spark0
    val (_, warmupSpan) = span("setup.warmup", -1, 0)(me =>
      ops.foreach(o => runOp(spark, o, 0, traced = false, me)))
    val setupS = (spans(warmupSpan).endMs - t0ms) / 1e3

    val tr = new Trace
    def attach(on: Boolean): Unit =
      if (on) { spark.sparkContext.addSparkListener(tr); spark.listenerManager.register(tr) }
      else { tr.settle(); spark.sparkContext.removeSparkListener(tr); spark.listenerManager.unregister(tr) }

    // Measured window: whole passes, started while the window is open; a
    // traced run has at least one untraced and one traced pass.
    val passes = mutable.ArrayBuffer[Pass]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    while (System.nanoTime() < deadline || (trace && p < 2)) {
      p += 1
      val traced = trace && p % 2 == 0
      if (traced) attach(on = true)
      val (gc0, jit0, cpu0) = (gcMs(), jitMs(), cpuMs())
      val (_, pid) = span(s"pass.$p", -1, 0) { me =>
        ops.foreach(o => runOp(spark, o, p, traced, me))
      }
      if (traced) attach(on = false)
      passes += Pass(p, traced, secsOf(pid), spans(pid).startMs, gcMs() - gc0, jitMs() - jit0,
        cpuMs() - cpu0)
    }

    // Repeated probes, as raw samples; the caller takes their medians.
    val extra = mutable.LinkedHashMap[String, Seq[Double]]()
    if (trace) {
      attach(on = true)
      commitPages(spark, data, seed)
      runOp(spark, "@chain", -3, traced = true, -1)
      val kernels = kernelCalls(spark, data)
      kernels.foreach { case (k, f) =>
        extra(k) = (1 to 3).map(_ => secsOf(span(k, -1, 0)(_ => f())._2))
      }
      extra("sched.floor_s") = (1 to 5).map(_ =>
        runOp(spark, "@floor", -1, traced = true, -1).secs)
      attach(on = false)
    }

    // Output checks that need Spark: the chain run's shards verify against
    // their manifest; counted rows feed the chain ratios.
    val chainChecks = results.filter(o => o.name == "@chain" && o.error.isEmpty).map { o =>
      val dir = Paths.get(out, "ops", f"${o.seq}%05d").toString
      val (nShards, bad) = Layouts.verifyTrainingShards(spark, s"$dir/shards", "doc_id", "clean_text")
      val crawled = spark.read.parquet(s"$dir/crawl").count()
      val kept = spark.read.parquet(s"$dir/cut").count()
      ChainCheck(o.seq, nShards, bad, crawled, kept)
    }
    val pages = if (trace) spark.read.parquet(s"$data/pages.parquet").count() else 0L

    if (trace) {
      spark.stop()
      val one = session(1)
      val (_, sid) = span("scale.local1", -1, 0)(me =>
        ops.foreach(o => runOp(one, o, -2, traced = false, me)))
      extra("scale.local1_wall_s") = Seq(secsOf(sid))
      spark = one
    }
    spark.stop()

    val result = mutable.LinkedHashMap[String, Any](
      "ops" -> results, "passes" -> passes, "setup_s" -> setupS,
      "session_s" -> secsOf(sessionSpan), "warmup_s" -> secsOf(warmupSpan), "extra" -> extra,
      "chain" -> chainChecks, "pages" -> pages)
    if (trace) result ++= Seq("jobs" -> tr.jobs.values.toSeq.sortBy(_.id),
      "stages" -> tr.stages.values.toSeq.sortBy(_.id), "execs" -> tr.execs,
      "cached_peak" -> tr.cachedPeak, "spans" -> spans)
    Files.writeString(Paths.get(out, "result.json"), json.writeValueAsString(result))
  }

  /** The chain's input, committed once per seed next to the other inputs,
    * in the ChainResumeSpec shape:
    * three pages per document, as HTML. The first copy is the document
    * itself; each later copy is, by a seeded coin, either an exact
    * duplicate (work for the crawl's exact dedup) or made unique. */
  private def commitPages(spark: SparkSession, data: String, seed: Long): Unit = {
    val path = Paths.get(data, "pages.parquet")
    if (Files.exists(path)) return
    val cid = col("doc_id") * 3 + col("copy")
    val dup = col("copy") === 1 || pmod(xxhash64(col("doc_id"), col("copy"), lit(seed)), lit(2)) === 0
    val tmp = Paths.get(data, "pages.parquet.tmp").toString
    Tables.documents(spark, data)
      .select(explode(sequence(lit(1), lit(3))).as("copy"),
        col("doc_id"), col("text"), col("source"))
      .select(cid.as("doc_id"),
        Html.wrapHtml(lit(0), when(dup, col("text"))
          .otherwise(concat(col("text"), lit(" uniq"), cid))).as("html"),
        col("source").as("stratum"))
      .write.mode("overwrite").parquet(tmp)
    Files.move(Paths.get(tmp), path)
  }

  private def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** One call per native kernel on the workload's own input, each written
    * to the noop sink. Pages come from the committed chain input when the
    * workload has one, else from the documents wrapped as HTML. */
  private def kernelCalls(spark: SparkSession, data: String): Seq[(String, () => Unit)] = {
    graft.plans.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, data)
    val pagesPath = Paths.get(data, "pages.parquet")
    val pages =
      if (Files.exists(pagesPath)) spark.read.parquet(pagesPath.toString)
      else docs.select(col("doc_id"), Html.wrapHtml(col("doc_id"), col("text")).as("html"))
    val emb = Tables.embeddings(spark, data)
    val probes = emb.orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("pid"), col("embedding").as("pv"))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    Seq(
      "kernel.html_extract_s" -> (() => noop(Html.htmlExtract(pages, "doc_id", "html"))),
      "kernel.tokens_s" -> (() => noop(docs.select(TextFunctions.tokens(col("text"))))),
      "kernel.shingles_s" -> (() =>
        noop(docs.select(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3)))),
      "kernel.minhash_s" -> (() => noop(Dedup.minhashSignatures(docs, "doc_id", "text"))),
      "kernel.cosine_s" -> (() => noop(emb.crossJoin(broadcast(probes))
        .select(VectorFunctions.cosineNative(col("embedding"), col("pv"))))),
      "kernel.pq_encode_s" -> (() => noop(Similarity.pqEncode(emb, "vec_id", "embedding"))),
      "kernel.kmeans_s" -> (() => { Similarity.kmeansCentroids(emb, "vec_id", "embedding"); () }))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
}
