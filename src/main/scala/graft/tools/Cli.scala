package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftSession, Monitoring, SparkEntry}

/** One user-facing command surface for the library — the Spark-native
  * analog of the reference client (cooler-MapReduce
  * `src/client/client.py`: submit :27, status/watch :65, list :102,
  * results :123) and its `mapreduce.sh` wrapper. A MapReduce cluster
  * needs a client talking to a coordinator over gRPC; on Spark the
  * "cluster" is the SparkSession itself, so submit+results collapse
  * into one synchronous `run`, and the status surface reads the
  * session's own status tracker via graft.Monitoring instead of a
  * coordinator RPC.
  *
  * {{{
  * sbt "runMain graft.tools.Cli run mr_wordcount /root/testdata/sf0.01 /tmp/out"
  * sbt "runMain graft.tools.Cli run dedup_minhash /root/testdata/sf0.1 --watch"
  * sbt "runMain graft.tools.Cli list"
  * sbt "runMain graft.tools.Cli explain q5_region_revenue"
  * sbt "runMain graft.tools.Cli sql 'SELECT count(*) FROM lineitem'"
  * sbt "runMain graft.tools.Cli status"
  * sbt "runMain graft.tools.Cli bench /root/testdata/sf0.01"
  * sbt "runMain graft.tools.Cli verify /root/testdata/sf0.01 /tmp/verify"
  * }}}
  *
  * Reference-command map: `submit` → `run` (the catalog entry is the
  * job file; the sf dir is `--input`; the parquet dir is `--output`),
  * `status --watch` → `run --watch` (live progress bar from the status
  * tracker), `list` → `list`, `results` → `run`'s printed rows /
  * parquet output, `resources` → `status`, `cancel` →
  * Monitoring.cancel (exercised in JobControlSpec; a one-shot CLI has
  * nothing long-lived to cancel).
  */
object Cli {
  private val DefaultSf = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: rest if rest.nonEmpty              => run(rest)
    case "list" :: _                                 => list()
    case "explain" :: name :: rest                   => explain(name, rest.headOption.getOrElse(DefaultSf))
    case "sql" :: stmt :: rest                       => sql(stmt, rest.headOption.getOrElse(DefaultSf))
    case "status" :: _                               => status()
    case "bench" :: rest                             => graft.Bench.main(rest.toArray)
    case "verify" :: sfDir :: outDir :: _            => graft.Verify.main(Array(sfDir, outDir))
    case "index" :: kind :: sfDir :: path :: _       => index(kind, sfDir, path)
    case "shards" :: sfDir :: path :: rest           =>
      shards(sfDir, path, rest.headOption.map(_.toLong).getOrElse(1000000L))
    case "imagedemo" :: rest                         => imageDemo(rest.headOption.map(_.toLong).getOrElse(500L))
    case "videodemo" :: rest                         => videoDemo(rest.headOption.map(_.toLong).getOrElse(200L))
    case "audit" :: rest                             => audit(rest.headOption.getOrElse(DefaultSf))
    case "job" :: jarPath :: className :: rest       => job(jarPath, className, rest)
    case _                                           => usage()
  }

  /** One-command corpus health report — the audits a mixture designer
    * reads before touching weights, as one JSON line per section:
    * composition (corpus_stats grand total), per-source distribution
    * shift (source_divergence), split hygiene (split_leakage count),
    * and the Gopher keep rate. Every section is an existing catalog
    * query — this is a reading order, not new computation.
    */
  private def audit(sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = session()
    def q(name: String) = SparkEntry.queries(name)(spark, sfDir)
    val stats = q("corpus_stats")
      .filter(col("source").isNull && col("lang").isNull).collect()(0)
    println(s"""{"audit":"composition","n_docs":${stats.getAs[Long]("n_docs")},"n_tokens":${stats.getAs[Long]("n_tokens")},"dup_rate":${stats.getAs[Double]("dup_rate")}}""")
    // source is free text from the corpus — escape it (a quote or
    // backslash in a source name must not produce an invalid JSON line)
    def js(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    q("source_divergence").orderBy(col("kl_nats").desc).collect().foreach { r =>
      println(s"""{"audit":"source_divergence","source":${js(r.getString(0))},"n_tokens":${r.getLong(1)},"kl_nats":${r.getDouble(3)}}""")
    }
    val leaks = q("split_leakage").count()
    println(s"""{"audit":"split_leakage","leaked_heldout_docs":$leaks}""")
    val keep = q("gopher_rules").agg(
      sum(when(col("keep"), 1L).otherwise(0L)).cast("double") / count(lit(1))).collect()(0).getDouble(0)
    println(s"""{"audit":"gopher_keep_rate","rate":$keep}""")
    spark.stop()
  }

  /** End-to-end demo of the REAL image path over generated PNGs — the
    * driver schema carries no image payloads, so this is the documented
    * runnable surface for [[graft.operators.Multimodal.decodeImageMeta]]
    * / `resizeImages` / `extractFeatures(ImageIoCodec)`:
    *
    *  1. synthesize `n` PNGs EXECUTOR-SIDE (patterns keyed by doc_id at
    *     mixed resolutions; every 10th payload is deliberately corrupt),
    *  2. decodeImageMeta → query-shaped screen stats (decoded vs marked
    *     undecodable, dims, luma) — the admit-unknown-and-mark gate,
    *  3. resizeImages(32×32) on the SCREENED set → re-decode, assert
    *     uniform dims,
    *  4. extractFeatures(ImageIoCodec) on original vs resized → per-doc
    *     cosine: the resolution-independence claim as a measured number
    *     (min cosine printed; bilinear resampling keeps it ≈ 1).
    */
  private def imageDemo(n: Long): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val spark = session()
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true))))
    val imgs = spark.range(n).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { idL =>
        val id = idL.longValue()
        if (id % 10 == 9) // truncated/garbage payload: must be MARKED, not thrown
          Row(id, Array.tabulate[Byte](128)(i => ((id + i) % 251).toByte))
        else {
          val w = 32 + (id % 4).toInt * 32 // 32..128 px, mixed resolutions
          val img = new java.awt.image.BufferedImage(w, w,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < w) {
            var x = 0
            while (x < w) {
              // pattern family keyed by id: gradient / checker / rings
              val v = (id % 3) match {
                case 0 => (x * 255 / w + id.toInt % 37) % 256
                case 1 => if ((x * 4 / w + y * 4 / w) % 2 == 0) 0 else 255
                case _ => (math.hypot(x - w / 2.0, y - w / 2.0) * 8).toInt % 256
              }
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Row(id, bos.toByteArray)
        }
      }
    }(enc)

    val meta = graft.operators.Multimodal.decodeImageMeta(imgs)
    val screen = meta.groupBy(col("width").isNotNull.as("decodable"))
      .agg(count(lit(1)).as("n"), min(col("width")).as("min_w"),
        max(col("width")).as("max_w"),
        round(avg(col("mean_luma")), 4).as("avg_luma"))
      .orderBy(col("decodable"))
    screen.show(truncate = false)

    val ok = imgs.join(meta.filter(col("width").isNotNull).select("doc_id"), "doc_id")
    val resized = graft.operators.Multimodal.resizeImages(ok, 32, 32)
    val dims = graft.operators.Multimodal.decodeImageMeta(resized)
      .agg(count(lit(1)).as("n"), min("width").as("w"), max("width").as("w2"),
        min("height").as("h"), max("height").as("h2")).collect()(0)
    println(s"resized: n=${dims.getLong(0)} dims=${dims.getInt(1)}x${dims.getInt(3)} " +
      s"(uniform=${dims.getInt(1) == dims.getInt(2) && dims.getInt(3) == dims.getInt(4)})")

    val codec = graft.operators.Multimodal.ImageIoCodec
    val fa = graft.operators.Multimodal.extractFeatures(ok, 16, codec)
      .withColumnRenamed("features", "fa")
    val fb = graft.operators.Multimodal.extractFeatures(resized, 16, codec)
      .withColumnRenamed("features", "fb")
    val cos = fa.join(fb, "doc_id").select(
        graft.functions.VectorFunctions.cosine(col("fa"), col("fb")).as("cos"))
      .agg(round(min("cos"), 4).as("min_cos"), round(avg("cos"), 4).as("avg_cos"))
      .collect()(0)
    println(s"""{"metric":"imagedemo","n":$n,"min_cos_orig_vs_resized":${cos.get(0)},"avg_cos":${cos.get(1)}}""")
    spark.stop()
  }

  /** Real-video-path demo: n generated animated GIFs (4-10 gray-ramp
    * frames each, 10% garbage payloads) → decode-and-mark frame scan →
    * stride sampling → GifFrameCodec temporal-mean features, with the
    * frame-drop near-dup check (full clip vs every-other-frame clip
    * under cosine) as the printed verdict.
    */
  private def videoDemo(n: Long): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val spark = session()
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("dropped", BinaryType, nullable = true))))
    val clips = spark.range(n).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      def gif(frames: Seq[Int], w: Int): Array[Byte] = {
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          frames.foreach { lvl =>
            val img = new java.awt.image.BufferedImage(w, w,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = img.createGraphics()
            try { g.setColor(new java.awt.Color(lvl, lvl, lvl)); g.fillRect(0, 0, w, w) }
            finally g.dispose()
            writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          }
          writer.endWriteSequence()
        } finally { writer.dispose(); ios.close() }
        bos.toByteArray
      }
      it.map { idL =>
        val id = idL.longValue()
        if (id % 10 == 9) // garbage payload: must be MARKED, not thrown
          Row(id, Array.tabulate[Byte](64)(i => ((id + i) % 251).toByte), null)
        else {
          val nf = 4 + (id % 7).toInt // 4..10 frames
          val levels = (0 until nf).map(f => ((id * 31 + f * 23) % 256).toInt)
          val w = 16 + (id % 3).toInt * 16
          Row(id, gif(levels, w), gif(levels.zipWithIndex.collect {
            case (l, i) if i % 2 == 0 => l
          }, w))
        }
      }
    }(enc)

    val frames = graft.operators.Multimodal.decodeVideoFrames(
      clips.select(col("doc_id"), col("payload")), dim = 4, stride = 2)
    frames.groupBy((col("n_frames") > 0).as("decodable"))
      .agg(countDistinct(col("doc_id")).as("clips"), count(lit(1)).as("frame_rows"),
        max(col("n_frames")).as("max_frames"))
      .orderBy(col("decodable")).show(truncate = false)

    val codec = graft.operators.Multimodal.GifFrameCodec
    val ok = clips.filter(col("doc_id") % 10 =!= 9)
    val fa = graft.operators.Multimodal.extractFeatures(
      ok.select(col("doc_id"), col("payload")), 4, codec)
      .withColumnRenamed("features", "fa")
    val fb = graft.operators.Multimodal.extractFeatures(
      ok.select(col("doc_id"), col("dropped").as("payload")), 4, codec)
      .withColumnRenamed("features", "fb")
    val cos = fa.join(fb, "doc_id").select(
        graft.functions.VectorFunctions.cosine(col("fa"), col("fb")).as("cos"))
      .agg(round(min("cos"), 4).as("min_cos"), round(avg("cos"), 4).as("avg_cos"))
      .collect()(0)
    println(s"""{"metric":"videodemo","n":$n,"min_cos_full_vs_framedrop":${cos.get(0)},"avg_cos":${cos.get(1)}}""")
    spark.stop()
  }

  /** Build a persisted index from the catalog tables — the production
    * build-once-probe-cheap entry points (minhash / LSH / CDC / BM25).
    */
  /** Training-shard sink command — write the documents table as
    * token-budgeted shard directories + manifest (Layouts
    * .writeTrainingShards), the output stage of the pipeline.
    */
  private def shards(sfDir: String, path: String, budget: Long): Unit = {
    val spark = session()
    val t0 = System.nanoTime()
    val (nShards, totalTokens) = graft.sources.Layouts.writeTrainingShards(
      graft.sources.Tables.documents(spark, sfDir), "doc_id", "text",
      budget, path)
    println(f"shards=$nShards tokens=$totalTokens budget=$budget path=$path " +
      f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    spark.stop()
  }

  private def index(kind: String, sfDir: String, path: String): Unit = {
    import graft.operators.AnnSpec, AnnSpec.{Code, Coarse}
    val spark = session()
    val t0 = System.nanoTime()
    def annIndex(spec: AnnSpec): Unit = graft.operators.Similarity.buildAnnIndex(
      graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding", path, spec)
    kind match {
      case "minhash" => graft.operators.Dedup.buildMinhashIndex(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text", path)
      case "lsh" => graft.operators.Similarity.buildLshIndex(
        graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding", path)
      case "cdc" => graft.operators.Dedup.buildCdcIndex(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text", path)
      case "bm25" => graft.operators.TextAnalysis.buildBm25Index(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text", path)
      case "pq" => annIndex(AnnSpec(code = Code.Pq()))
      case "ivfpq" => annIndex(AnnSpec(Coarse.Mod(), Code.ResidualPq()))
      // trained fixed-k coarse codebook (the 100 TB configuration)
      case "ivfpq-trained" => annIndex(AnnSpec(Coarse.Trained(), Code.ResidualPq()))
      // line-digest index for incremental line dedup / the streaming
      // line-clean admission (C81)
      case "line" => graft.operators.Dedup.buildLineIndex(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text", path)
      case "nbmodel" => graft.operators.Scoring.buildNbModel(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text",
        org.apache.spark.sql.functions.col("lang") === "en", path)
      case "lmmodel" => graft.operators.Scoring.buildLmModel(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text", path)
      // canonical-URL frontier index for the streaming crawl-frontier
      // admission (fixture frontier from the documents table)
      case "frontier" =>
        import org.apache.spark.sql.functions.col
        graft.operators.Html.buildFrontierIndex(
          graft.sources.Tables.documents(spark, sfDir)
            .select(graft.operators.Html.wrapUrl(col("doc_id"), col("source"))
              .as("url")),
          "url", path)
      // previous-snapshot payload-digest index for the streaming
      // fetch-layer revisit dedup (A15's continuous twin); here sfDir
      // is a WARC path, not a table directory
      case "revisit" =>
        graft.sources.Formats.buildRevisitIndex(
          graft.sources.Formats.readWarc(spark, sfDir), path)
      case other =>
        System.err.println(
          s"unknown index kind '$other' (minhash|lsh|cdc|bm25|pq|ivfpq|ivfpq-trained|line|nbmodel|lmmodel|frontier|revisit)")
        sys.exit(1)
    }
    println(f"index=$kind path=$path sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    spark.stop()
  }

  private def usage(): Unit = {
    System.err.println(
      """usage: graft.tools.Cli <command>
        |  run <query> [sfDir] [outDir] [--watch]  run a catalog query; parquet to
        |                                          outDir or print rows; --watch shows
        |                                          a live progress bar
        |  list                                    the runnable query catalog
        |  explain <query> [sfDir]                 formatted physical plan
        |  sql <statement> [sfDir]                 ad-hoc SQL over the registered tables
        |  status                                  executor / resource snapshot
        |  bench [sfDir]                           the benchmark main
        |  verify <sfDir> <outDir>                 the correctness-dump main
        |  index <minhash|lsh|cdc|bm25|pq|ivfpq|ivfpq-trained|line|nbmodel|lmmodel|frontier>
        |        <sfDir> <path>                    build a persisted index/model
        |  shards <sfDir> <path> [budgetTokens]    write the corpus as token-budgeted
        |                                          training shards + manifest
        |  imagedemo [n]                           real-image-path demo over n
        |                                          generated PNGs (decode screen,
        |                                          resize, feature cosine)
        |  videodemo [n]                           real-video-path demo over n
        |                                          generated animated GIFs (frame
        |                                          scan, stride sampling, temporal
        |                                          features, frame-drop cosine)
        |  audit [sfDir]                           corpus health report: composition,
        |                                          source KL, split leakage, Gopher
        |                                          keep rate (one JSON line each)
        |  job <jar> <class> [sfDir] [k=v ...] [--out=dir]
        |                                          submit a runtime job jar (a class
        |                                          implementing graft.GraftJob); args
        |                                          reach the job with dir=sfDir preset""".stripMargin)
    sys.exit(2)
  }

  /** Runtime job submission (the reference client's submit-a-code-file
    * path): `job <jar> <class> [sfDir] [k=v ...] [--out dir]` — loads
    * the GraftJob implementation from the jar, ships the jar to
    * executors, runs the returned plan. `dir` is preset to sfDir.
    */
  private def job(jarPath: String, className: String, rest: List[String]): Unit = {
    val (flags, pos) = rest.partition(_.startsWith("--out="))
    val sfDir = pos.headOption.filterNot(_.contains("=")).getOrElse(DefaultSf)
    val kvs = pos.filter(_.contains("=")).map { s =>
      val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1)
    }.toMap
    val spark = session()
    val df = graft.JobRunner.submit(spark, jarPath, className,
      Map("dir" -> sfDir) ++ kvs)
    flags.headOption.map(_.stripPrefix("--out=")) match {
      case Some(out) =>
        df.write.mode("overwrite").parquet(out)
        println(s"wrote ${spark.read.parquet(out).count()} rows to $out")
      case None => df.show(20, false)
    }
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def bar(done: Int, total: Int, width: Int = 40): String = {
    val frac = if (total <= 0) 0.0 else done.toDouble / total
    val filled = (frac * width).toInt
    s"[${"=" * filled}${" " * (width - filled)}] $done/$total tasks (${(frac * 100).toInt}%)"
  }

  private def run(rest: List[String]): Unit = {
    val watch = rest.contains("--watch")
    val a = rest.filterNot(_ == "--watch")
    val name = a.head
    val sfDir = a.lift(1).getOrElse(DefaultSf)
    val outDir = a.lift(2)
    SparkEntry.queries.get(name) match {
      case None =>
        System.err.println(s"unknown query '$name' — see `list`"); sys.exit(1)
      case Some(fn) =>
        val spark = session()
        val t0 = System.nanoTime()
        val result = new java.util.concurrent.atomic.AtomicReference[Option[Long]](None)
        val failure = new java.util.concurrent.atomic.AtomicReference[Option[Throwable]](None)
        val runner = new Thread(() =>
          try Monitoring.inGroup(spark, name) {
            val df: DataFrame = Monitoring.tag(fn(spark, sfDir), name)
            outDir match {
              case Some(dir) =>
                df.write.mode("overwrite").parquet(dir)
                result.set(Some(spark.read.parquet(dir).count()))
              case None =>
                // one execution: cache, count, print the first 20 from
                // the cached blocks (no second run of the query)
                df.persist()
                try {
                  result.set(Some(df.count()))
                  df.limit(20).collect().foreach(r => println(r.mkString("\t")))
                } finally df.unpersist()
            }
          } catch { case t: Throwable => failure.set(Some(t)) })
        runner.start()
        // the reference client's watch mode: poll the coordinator for
        // task counts and redraw a progress bar — here the
        // "coordinator" is the session's status tracker
        while (runner.isAlive) {
          if (watch) {
            val p = Monitoring.progress(spark, name)
            System.err.print(s"\r${bar(p.tasksCompleted, math.max(p.tasksTotal, 1))}")
          }
          runner.join(500)
        }
        if (watch) System.err.println()
        val sec = (System.nanoTime() - t0) / 1e9
        failure.get() match {
          case Some(t) =>
            // a failed query must read as one: print the cause, exit 1
            System.err.println(f"query=$name FAILED after $sec%.2f s")
            t.printStackTrace()
            spark.stop()
            sys.exit(1)
          case None =>
            println(f"query=$name rows=${result.get().getOrElse(-1L)} sec=$sec%.2f" +
              outDir.map(d => s" output=$d").getOrElse(""))
            spark.stop()
        }
    }
  }

  /** Every query is oracle-checked; the column names the ones that also
    * have a partitioned oracle (SparkEntry.oracleStages).
    */
  private def list(): Unit = {
    val staged = SparkEntry.oracleStages.keySet
    println(f"${"QUERY"}%-28s ORACLE")
    SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      println(f"$n%-28s ${if (staged(n)) "sql + stages" else "sql"}")
    }
    System.err.println(s"${SparkEntry.queries.size} queries " +
      s"(${staged.size} with a partitioned oracle)")
  }

  private def explain(name: String, sfDir: String): Unit =
    SparkEntry.queries.get(name) match {
      case None => System.err.println(s"unknown query '$name' — see `list`"); sys.exit(1)
      case Some(fn) =>
        val spark = session()
        fn(spark, sfDir).explain("formatted")
        spark.stop()
    }

  private def sql(stmt: String, sfDir: String): Unit = {
    val spark = session()
    graft.sources.Tables.registerAll(spark, sfDir)
    spark.sql(stmt).show(50, truncate = false)
    spark.stop()
  }

  private def status(): Unit = {
    val spark = session()
    println(f"${"HOST"}%-24s TASKS  CACHED  STORAGE_USED")
    Monitoring.executors(spark).foreach { e =>
      println(f"${e.host}%-24s ${e.numRunningTasks}%5d  ${e.cacheSize}%6d  ${e.usedOnHeapStorage}%12d")
    }
    val active = Monitoring.activeQueries(spark)
    if (active.nonEmpty) {
      println(f"${"ACTIVE QUERY"}%-28s JOBS  PROGRESS")
      active.foreach(g => println(f"${g.name}%-28s ${g.activeJobs}%4d  ${bar(g.tasksCompleted, math.max(g.tasksTotal, 1))}"))
    }
    spark.stop()
  }
}
