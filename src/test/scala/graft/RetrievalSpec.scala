package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Similarity, TextAnalysis}
import graft.registry.TextQueries
import graft.sources.Tables

/** C48 bm25_search, C49 semantic_dedup, C50 ngram_novelty. */
class RetrievalSpec extends AnyFunSuite {
  import TestSpark._

  test("bm25 returns at most k docs per query, scores positive and ranked") {
    val got = TextAnalysis.bm25Search(Tables.documents(spark, sf),
      "doc_id", "text", TextQueries.Bm25Queries, 10)
    val rows = got.collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getInt(0))
    assert(byQuery.keySet == TextQueries.Bm25Queries.map(_._1).toSet)
    byQuery.values.foreach { rs =>
      assert(rs.length <= 10)
      assert(rs.forall(_.getDouble(2) > 0.0))
    }
  }

  test("bm25 ranks higher term frequency first at equal document length") {
    import spark.implicits._
    // same length, same vocabulary exposure; doc 1 has 'spark' twice
    val docs = Seq(
      (1L, "spark spark join the row"),
      (2L, "spark value join the row"),
      (3L, "value value value the row")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(docs, "doc_id", "text",
      Seq(1 -> Seq("spark")), 10).orderBy(desc("score")).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L)) // doc 3 never matches
    assert(got(0).getDouble(2) > got(1).getDouble(2))
  }

  test("bm25 plans the per-query cut through TopKPerKey") {
    val got = TextAnalysis.bm25Search(Tables.documents(spark, sf),
      "doc_id", "text", TextQueries.Bm25Queries, 10)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("semantic dedup leaves no surviving within-cluster pair at or above the bar") {
    val emb = Tables.embeddings(spark, sf)
    val minCos = 0.35
    val survivors = Similarity.semanticDedup(emb, "vec_id", "embedding",
      minCos = minCos)
    val n = emb.count()
    val kept = survivors.count()
    assert(kept > 0 && kept < n, s"expected some drops: $kept of $n kept")
    // among survivors, every same-cluster pair sits below the bar
    val withVec = survivors.join(
      emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val a = withVec.select(col("cluster_id"), col("vec_id").as("ida"),
      col("embedding").as("va"))
    val b = withVec.select(col("cluster_id"), col("vec_id").as("idb"),
      col("embedding").as("vb"))
    val offenders = a.join(b, Seq("cluster_id"))
      .filter(col("ida") < col("idb") &&
        round(graft.functions.VectorFunctions.cosine(col("va"), col("vb")), 6)
          >= minCos)
      .count()
    assert(offenders == 0)
    // survivors keep the k-means assignment of the full corpus
    val asg = Similarity.kmeans(emb, "vec_id", "embedding")
    assert(survivors.join(asg, Seq("vec_id", "cluster_id"), "left_anti")
      .count() == 0)
  }

  test("semantic dedup salt is type-agnostic: string ids keep the long-id survivors") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    // k = 1: one cell, so k-means seeding (which hashes the id's string
    // form) cannot tell the encodings apart; zero-padded ids keep the
    // numeric order the drop rule (the higher id goes) follows
    val byLong = Similarity.semanticDedup(emb, "vec_id", "embedding", k = 1)
      .select("vec_id").as[Long].collect().toSet
    val strEmb = emb.select(format_string("v%08d", col("vec_id")).as("vec_id"),
      col("embedding"))
    val byStr = Similarity.semanticDedup(strEmb, "vec_id", "embedding", k = 1)
      .select("vec_id").as[String].collect().map(_.drop(1).toLong).toSet
    assert(byLong.size < emb.count(), "fixture must drop near-duplicates")
    assert(byStr == byLong, s"string-id survivors diverged: ${byStr.diff(byLong).take(5)} / " +
      s"${byLong.diff(byStr).take(5)}")
  }

  test("ngram novelty: replicated docs hit fraction 1.0, short docs keep a zero row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact copy of 1
      (3L, "zeta eta theta iota kappa"),      // fully novel
      (4L, "one two")).toDF("doc_id", "text") // too short for a 3-gram
    val got = TextAnalysis.ngramNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getDouble(3) == 1.0 && got(2L).getDouble(3) == 1.0)
    assert(got(3L).getDouble(3) == 0.0 && got(3L).getLong(1) > 0)
    assert(got(4L).getLong(1) == 0L && got(4L).getDouble(3) == 0.0)
  }

  test("bm25 index probe equals the direct scorer and prunes posting partitions") {
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("bm25idx").toString
    TextAnalysis.buildBm25Index(docs, "doc_id", "text", path)
    val direct = TextAnalysis.bm25Search(docs, "doc_id", "text",
      TextQueries.Bm25Queries, 10)
    val probed = TextAnalysis.bm25SearchIndexed(spark, path,
      TextQueries.Bm25Queries, 10)
    assert(probed.exceptAll(direct).isEmpty && direct.exceptAll(probed).isEmpty)
    // the postings scan must carry a tkey partition filter (directory
    // pruning to the query terms' buckets, not a full index scan)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tkey"),
      s"bm25 probe reads all posting partitions:\n$plan")
  }

  test("streaming bm25 alerts are bit-equal to the batch scorer over the same rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("bm25alert").toString
    TextAnalysis.buildBm25Index(docs, "doc_id", "text", path)
    val minScore = 0.05
    // batch truth: every (query, doc) score over the same corpus
    val expected = TextAnalysis.bm25Search(docs, "doc_id", "text",
      TextQueries.Bm25Queries, docs.count().toInt)
      .filter(col("score") >= minScore)
      .select(col("doc_id"), col("query_id"), col("score"))
    val ms = MemoryStream[(Long, String)]
    val alerts = graft.streaming.DocStreams.bm25Alerts(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", path,
      TextQueries.Bm25Queries, minScore)
    val q = alerts.writeStream.format("memory").queryName("bm25alerts")
      .outputMode("append").start()
    try {
      val rows = docs.select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      ms.addData(rows.take(rows.length / 2).toSeq)
      q.processAllAvailable()
      ms.addData(rows.drop(rows.length / 2).toSeq)
      q.processAllAvailable()
      val got = spark.table("bm25alerts")
        .select(col("doc_id"), col("query_id"), col("score"))
      assert(got.count() > 0)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        "streamed alert set diverged from the batch scorer")
    } finally q.stop()
  }

  test("bm25 index built in two appends probes identically to the one-pass build") {
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("bm25app").toString
    TextAnalysis.buildBm25Index(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    TextAnalysis.appendToBm25Index(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", path)
    val probed = TextAnalysis.bm25SearchIndexed(spark, path,
      TextQueries.Bm25Queries, 10)
    val direct = TextAnalysis.bm25Search(docs, "doc_id", "text",
      TextQueries.Bm25Queries, 10)
    assert(probed.exceptAll(direct).isEmpty && direct.exceptAll(probed).isEmpty)
  }

  test("round-5 operators degrade cleanly on empty input") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 2), docSchema)
    assert(TextAnalysis.bm25Search(empty, "doc_id", "text",
      TextQueries.Bm25Queries, 10).count() == 0)
    assert(TextAnalysis.ngramNovelty(empty, "doc_id", "text").count() == 0)
    assert(TextAnalysis.qualityCalibration(empty, "doc_id", "text",
      "source").count() == 0)
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val emptyEmb = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 2), embSchema)
    assert(Similarity.semanticDedup(emptyEmb, "vec_id", "embedding")
      .count() == 0)
  }

  test("streaming quality admission equals the batch gate; unknown sources pass") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf)
    val calibration = TextAnalysis.qualityMoments(docs, "text", "source")
    val expected = graft.streaming.DocStreams.qualityAdmission(
      docs, calibration, "doc_id", "text", "source")
    assert(expected.count() > 0 && expected.count() < docs.count(),
      "gate admitted everything or nothing — calibration not discriminating")
    val ms = MemoryStream[(Long, String, String)]
    val admitted = graft.streaming.DocStreams.qualityAdmission(
      ms.toDF().toDF("doc_id", "text", "source"), calibration,
      "doc_id", "text", "source")
    val q = admitted.writeStream.format("memory").queryName("qadmit")
      .outputMode("append").start()
    try {
      val rows = docs.select(col("doc_id"), col("text"), col("source"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      ms.addData(rows.toSeq)
      // a doc from a source absent in the calibration is admitted
      ms.addData(Seq((999999L, "tiny", "never-seen-source")))
      q.processAllAvailable()
      val got = spark.table("qadmit")
      assert(got.filter(col("doc_id") === 999999L).count() == 1)
      val streamed = got.filter(col("doc_id") =!= 999999L)
      assert(streamed.exceptAll(expected).isEmpty &&
        expected.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("quality calibration: full coverage, near-zero z mean per source, flag matches z") {
    val docs = Tables.documents(spark, sf)
    val got = TextAnalysis.qualityCalibration(docs, "doc_id", "text", "source")
    assert(got.count() == docs.count())
    // z-scores average to ~0 within every source (they're centered)
    val bad = got.groupBy(col("source"))
      .agg(avg(col("z_score")).as("mz"))
      .filter(abs(col("mz")) > 1e-9).count()
    assert(bad == 0)
    assert(got.filter(col("is_low") =!= (col("z_score") < -1.0)).count() == 0)
  }

  test("winnowing: shared run of n+w-1 tokens guarantees a shared fingerprint") {
    import spark.implicits._
    import graft.operators.Dedup
    // n=4, w=5 → any shared run of ≥ 8 tokens must produce a shared
    // fingerprint (the winnowing guarantee); docs 1/2 share 10 tokens
    val common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"one two three $common"),
      (2L, s"$common four five six seven"),
      (3L, "lambda mu nu xi omicron pi rho sigma tau upsilon")) // disjoint
      .toDF("doc_id", "text")
    val got = Dedup.winnowOverlap(docs, "doc_id", "text", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"guaranteed shared fingerprint missed: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      s"disjoint doc matched: $got")
    // deterministic
    val again = Dedup.winnowOverlap(docs, "doc_id", "text", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == again)
  }

  test("winnow kernel equals the window formulation; no window exchange in the plan") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val kernel = Dedup.winnowOverlap(docs, "doc_id", "text")
    val window = ReferenceForms.winnowOverlapWindow(docs, "doc_id", "text")
    assert(kernel.exceptAll(window).isEmpty && window.exceptAll(kernel).isEmpty)
    assert(kernel.count() > 0)
    val plan = kernel.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"winnow kernel form fell back to a window sort:\n$plan")
  }

  test("bloom-prescreened decontamination equals the exact screen; probe is map-side") {
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)
    val isBench = col("doc_id") % 10 === 7
    val (train, bench) = (docs.filter(!isBench), docs.filter(isBench))
    val exact = Curation.decontaminate(train, bench, "doc_id", "text",
      broadcastBench = false)
    val bloom = Curation.decontaminateBloom(train, bench, "doc_id", "text")
    assert(bloom.count() > 0)
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
    // the prescreen is a broadcast bloom probe in the plan (map-side
    // filter), not another join
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom prescreen missing:\n$plan")
    // empty benchmark degrades to an empty result
    assert(Curation.decontaminateBloom(train, bench.limit(0),
      "doc_id", "text").count() == 0)
  }

  test("bloom decontamination at 50M expected items: plan stays O(1)") {
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)
    val isBench = col("doc_id") % 10 === 7
    val (train, bench) = (docs.filter(!isBench), docs.filter(isBench))
    // 5×10⁷ items at 1% fpp → a ~57 MB filter: the regime the operator
    // exists for. It must ride a broadcast — the plan may not carry a
    // binary literal bigger than a hash seed, and the explain string
    // (where a literal would be hex-dumped) stays bounded.
    val big = Curation.decontaminateBloom(train, bench, "doc_id", "text",
      expectedItems = 50000000L)
    val maxBinaryLit = big.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.dataType == org.apache.spark.sql.types.BinaryType =>
          l.value match {
            case b: Array[Byte] => b.length
            case _ => 0
          }
      })
    }.flatten.maxOption.getOrElse(0)
    assert(maxBinaryLit < 1024,
      s"a $maxBinaryLit-byte binary literal is riding the plan tree")
    val explain = big.queryExecution.executedPlan.toString
    assert(explain.length < 200000,
      s"explain string is ${explain.length} chars — filter bytes leaked into the plan")
    // and the screen's RESULT is still the exact one
    val exact = Curation.decontaminate(train, bench, "doc_id", "text",
      broadcastBench = false)
    assert(big.count() > 0)
    assert(big.exceptAll(exact).isEmpty && exact.exceptAll(big).isEmpty)
  }

  test("ngram novelty covers every document exactly once") {
    val docs = Tables.documents(spark, sf)
    val got = TextAnalysis.ngramNovelty(docs, "doc_id", "text")
    assert(got.count() == docs.count())
    assert(got.select("doc_id").distinct().count() == docs.count())
    // fractions live in [0, 1]
    assert(got.filter(col("dup_fraction") < 0 || col("dup_fraction") > 1)
      .count() == 0)
  }
}
