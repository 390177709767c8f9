package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graph, Similarity}
import graft.sources.Tables

/** Invariants for the round-4 additions: fixed-point PageRank over the
  * near-dup graph, random projection, and int8 quantization. Value
  * equality vs DuckDB is the driver correctness gate; these pin the
  * structural/semantic contracts.
  */
class GraphVectorSpec extends AnyFunSuite {
  import TestSpark._

  private val pairSchema = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType)))
  private def pairsOf(rows: (Long, Long)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), pairSchema)

  test("pagerank: symmetric pair has equal ranks; center of a star outranks leaves") {
    val pair = Graph.pagerank(pairsOf((1L, 2L))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pair(1L) == pair(2L))

    // star: 1 at the center of 2..5
    val star = Graph.pagerank(pairsOf((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((2L to 5L).forall(l => star(1L) > star(l)))
    assert((2L to 5L).map(star).toSet.size == 1) // leaves identical
  }

  test("pagerank: path graph ranks the middle vertex highest; mass stays bounded") {
    val path = Graph.pagerank(pairsOf((1L, 2L), (2L, 3L))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(path(2L) > path(1L) && path(1L) == path(3L))
    // integer floors only ever LOSE mass: total ≤ n * scale
    assert(path.values.sum <= 3L * 1000000L)
    assert(path.values.forall(_ >= 150000L)) // every vertex keeps the base share
  }

  test("pagerank is deterministic and empty on an empty pair list") {
    val a = Graph.pagerank(pairsOf((1L, 2L), (2L, 3L), (4L, 5L))).collect().toSet
    val b = Graph.pagerank(pairsOf((1L, 2L), (2L, 3L), (4L, 5L))).collect().toSet
    assert(a == b && a.nonEmpty)
    assert(Graph.pagerank(pairsOf()).count() == 0)
  }

  test("connectedComponents fails closed when maxIters stops it before convergence") {
    val chain = (1L until 64L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException](
      Graph.connectedComponents(pairsOf(chain: _*), maxIters = 1))
    assert(e.getMessage.contains("maxIters=1"), e.getMessage)
  }

  test("connectedComponents: components labeled by their min id; chain collapses to one") {
    val cc = Graph.connectedComponents(pairsOf((1L, 2L), (2L, 3L), (4L, 5L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    // long chain: pointer jumping must still converge to one label
    val chain = (1L until 40L).map(i => (i, i + 1))
    val ccChain = Graph.connectedComponents(pairsOf(chain: _*))
      .collect().map(_.getLong(1)).toSet
    assert(ccChain == Set(1L))
    // empty graph must converge cleanly, not crash on the NULL sum
    assert(Graph.connectedComponents(pairsOf()).count() == 0)
  }

  test("mixture sampling: map-side, deterministic, rate-monotone nested subsets") {
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)
    val all = Curation.mixtureSample(docs, "doc_id", "lang", Map.empty, 1.0)
    assert(all.count() == docs.count())
    assert(Curation.mixtureSample(docs, "doc_id", "lang", Map.empty, 0.0).count() == 0)
    val s30 = Curation.mixtureSample(docs, "doc_id", "lang", Map.empty, 0.3)
    val s70 = Curation.mixtureSample(docs, "doc_id", "lang", Map.empty, 0.7)
    val plan = s30.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mixture sample must not shuffle:\n$plan")
    val ids30 = s30.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids70 = s70.select("doc_id").collect().map(_.getLong(0)).toSet
    // hash-threshold sampling nests: raising the rate only ADDS docs
    assert(ids30.subsetOf(ids70))
    assert(ids30.nonEmpty && ids30.size < ids70.size && ids70.size < docs.count())
    // per-stratum override: rate 0 for one lang empties exactly that stratum
    val noEn = Curation.mixtureSample(docs, "doc_id", "lang", Map("en" -> 0.0), 1.0)
    assert(noEn.filter(col("lang") === "en").count() == 0)
    assert(noEn.count() == docs.filter(col("lang") =!= "en").count())
  }

  test("CDC chunking: shared paragraph surfaces as shared chunks; head edit keeps later chunks") {
    import graft.operators.Dedup
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def docsOf(rows: (Long, String)*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), docSchema)
    val para = (1 to 40).map(i => s"w$i").mkString(" ")
    // doc 2 = doc 1 with an insertion at the head: content-defined
    // boundaries mean the shared tail still chunks identically
    val docs = docsOf((1L, para), (2L, s"inserted tokens here $para"))
    val dups = Dedup.cdcChunkDups(docs, "doc_id", "text", anchorMod = 2).collect()
    assert(dups.nonEmpty, "shared tail chunks must be detected")
    assert(dups.forall(_.getLong(2) == 2)) // each shared chunk in both docs
    // disjoint-vocabulary docs share nothing
    val disjoint = docsOf((1L, "alpha beta gamma delta"), (2L, "uno dos tres cuatro"))
    assert(Dedup.cdcChunkDups(disjoint, "doc_id", "text", anchorMod = 2).count() == 0)
    // identical docs: every chunk shared, occurrences = 2
    val twin = docsOf((1L, para), (2L, para))
    val t = Dedup.cdcChunkDups(twin, "doc_id", "text", anchorMod = 2).collect()
    assert(t.nonEmpty && t.forall(r => r.getLong(1) == 2 && r.getLong(2) == 2))
  }

  test("edge cases: empty inputs degrade cleanly across the new operators") {
    import graft.operators.{Curation, Dedup}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 2), docSchema)
    assert(Dedup.cdcChunkDups(empty, "doc_id", "text").count() == 0)
    assert(Graph.pagerankDocs(empty, "doc_id", "text").count() == 0)
    assert(Curation.corpusDiff(empty, empty, "doc_id", "text").count() == 0)
    // one-sided diff: everything added / everything removed
    val one = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "alpha beta")), 1), docSchema)
    val added = Curation.corpusDiff(empty, one, "doc_id", "text").collect()
    assert(added.length == 1 && added(0).getString(1) == "added")
    val removed = Curation.corpusDiff(one, empty, "doc_id", "text").collect()
    assert(removed.length == 1 && removed(0).getString(1) == "removed")
    // single doc: chunks exist but none shared
    assert(Dedup.cdcChunkDups(one, "doc_id", "text", anchorMod = 2).count() == 0)
    // mixture rates outside [0,1] are rejected
    intercept[IllegalArgumentException] {
      Curation.mixtureSample(one, "doc_id", "text", Map("x" -> 1.5))
    }
  }

  test("CDC kernel chunk table equals the windowed reference formulation") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val kernel = Dedup.cdcChunkTable(docs, "doc_id", "text", 16)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val windowed = ReferenceForms.cdcChunkTableWindowed(docs, "doc_id", "text", 16)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(kernel == windowed)
    // and the kernel build never shuffles tokens: no window, and the
    // only exchanges are the digest-keyed distinct-count pair (both
    // AFTER chunk digests exist — tokens never leave the scan stage)
    val plan = SparkEntry.queries("cdc_chunks")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"kernel build must not window:\n$plan")
    assert("Exchange".r.findAllMatchIn(plan).length <= 2,
      s"cdc_chunks should shuffle only chunk digests:\n$plan")
    assert(plan.contains("graft_cdc_chunks"), s"kernel expression missing:\n$plan")
  }

  test("CDC kernel: 50k-token docs chunk completely; anchor-free doc degrades to one chunk") {
    import graft.operators.Dedup
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val text = (1 to 50000).map(i => s"t$i").mkString(" ")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, text)), 1), docSchema)
    // normal anchors: every token accounted for, chunks near 1/16 rate
    val chunks = Dedup.cdcChunkTable(df, "doc_id", "text", 16).collect()
    assert(chunks.map(_.getLong(2)).sum == 50000L)
    assert(chunks.length > 1000 && chunks.length < 10000)
    // the documented pathological case: no anchor ever fires → ONE
    // whole-doc chunk (bounded by doc length, equivalent to the exact
    // fingerprint) — completes, no error
    val one = Dedup.cdcChunkTable(df, "doc_id", "text", Int.MaxValue).collect()
    assert(one.map(_.getLong(2)).sum == 50000L && one.length <= 2)
  }

  test("CDC containment: quoted doc flagged; indexed form equals two-corpus form") {
    import graft.operators.Dedup
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def docsOf(rows: (Long, String)*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), docSchema)
    val para = (1 to 30).map(i => s"c$i").mkString(" ")
    val reference = docsOf((10L, para), (11L, "other content entirely here"))
    // doc 3 quotes the reference paragraph inside new glue text;
    // doc 6 is fresh — only doc 3 crosses the containment threshold
    val batch = docsOf((3L, s"intro words $para closing words"),
      (6L, "fresh unrelated text body of words"))
    val direct = Dedup.cdcContainment(batch, reference, "doc_id", "text",
      anchorMod = 2, minFrac = 0.3).collect()
    assert(direct.map(_.getLong(0)).toSet == Set(3L))
    val flagged = direct.head
    assert(flagged.getDouble(3) > 0.3 && flagged.getDouble(3) <= 1.0)
    // the persisted-index screen is row-identical to the two-corpus form
    val path = java.nio.file.Files.createTempDirectory("cdcidx").toString
    Dedup.buildCdcIndex(reference, "doc_id", "text", path, anchorMod = 2)
    val indexed = Dedup.cdcContainmentIndexed(batch, path, "doc_id", "text",
      minFrac = 0.3).collect()
    assert(indexed.map(_.toSeq).toSet == direct.map(_.toSeq).toSet)
  }

  test("streaming CDC screen via foreachBatch equals the batch screen") {
    // the documented continuous-ingestion loop: chunk-containment needs
    // per-doc aggregation, so it runs per MICRO-BATCH against the
    // persisted index (not as an unbounded streaming agg)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def docsOf(rows: (Long, String)*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), docSchema)
    val para = (1 to 30).map(i => s"s$i").mkString(" ")
    val reference = docsOf((100L, para))
    val path = java.nio.file.Files.createTempDirectory("cdcstream").toString
    Dedup.buildCdcIndex(reference, "doc_id", "text", s"$path/idx", anchorMod = 2)
    val batchRows = Seq((1L, s"lead in $para trailer"), (2L, "totally fresh body here"))
    val expected = Dedup.cdcContainmentIndexed(
        docsOf(batchRows: _*), s"$path/idx", "doc_id", "text", minFrac = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flagged = scala.collection.mutable.Set[Long]()
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        flagged ++= Dedup.cdcContainmentIndexed(
            batch, s"$path/idx", "doc_id", "text", minFrac = 0.3)
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }
      .start()
    try {
      ms.addData(batchRows: _*)
      q.processAllAvailable()
      assert(flagged.toSet == expected && expected == Set(1L))
    } finally q.stop()
  }

  test("corpus diff: kept under id churn, added/removed on content change") {
    import graft.operators.Curation
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def docsOf(rows: (Long, String)*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), docSchema)
    val a = docsOf((1L, "alpha beta"), (2L, "gamma delta"))
    // same content under NEW ids + one edit + one addition
    val b = docsOf((10L, "alpha beta"), (11L, "gamma delta EDITED"), (12L, "brand new"))
    val d = Curation.corpusDiff(a, b, "doc_id", "text")
      .collect().map(r => r.getString(1) -> r).toSeq
    assert(d.count(_._1 == "kept") == 1)    // alpha beta survived id churn
    assert(d.count(_._1 == "removed") == 1) // gamma delta's old text gone
    assert(d.count(_._1 == "added") == 2)   // the edit + the new doc
    val kept = d.find(_._1 == "kept").get._2
    assert(kept.getLong(2) == 1L && kept.getLong(3) == 10L)
    // identical snapshots: everything kept
    assert(Curation.corpusDiff(a, a, "doc_id", "text")
      .filter(col("status") =!= "kept").count() == 0)
  }

  test("streaming mixture admission equals the batch sample exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Curation
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "lang")
    val rates = Map("en" -> 0.3, "zh" -> 1.0)
    val batchIds = Curation.mixtureSample(docs, "doc_id", "lang", rates, 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("doc_id", "lang")
    val out = graft.streaming.DocStreams
      .mixtureAdmission(stream, "doc_id", "lang", rates, 0.7)
    val q = out.writeStream.format("memory").queryName("mixture")
      .outputMode("append").start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      ms.addData(rows.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("mixture").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == batchIds)
    } finally q.stop()
  }

  test("random projection: map-side only (no exchange), deterministic, norm-bounded") {
    val emb = Tables.embeddings(spark, sf)
    val proj = Similarity.randomProject(emb, "vec_id", "embedding")
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
    val rows = proj.collect()
    assert(rows.length == emb.count())
    // |p_j| = |v·u_j| ≤ ‖v‖·‖u_j‖; planes have components in [-0.5,0.5)
    // over 64 dims so ‖u‖ ≤ 4; embeddings are unit-ish (‖v‖ ≤ ~2)
    assert(rows.forall(r => (1 to 8).forall(j => math.abs(r.getDouble(j)) < 16.0)))
    assert(proj.collect().sameElements(rows))
  }

  test("int8 quantization: map-side, values in [-127,127], zero vector handled, error small") {
    val emb = Tables.embeddings(spark, sf)
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantization must not shuffle:\n$plan")
    val rows = q.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val qs = r.getString(2).split(",").map(_.toLong)
      assert(qs.forall(v => v >= -127 && v <= 127))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1e-4,
        s"reconstruction MSE should be tiny, got ${r.getDouble(3)}")
    }
    // zero vector: scale 0, all-zero payload, zero error
    val zschema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val z = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, Seq.fill(4)(0.0f))), 1), zschema)
    val zr = Similarity.quantizeInt8(z, "vec_id", "embedding").collect()(0)
    assert(zr.getDouble(1) == 0.0 && zr.getString(2) == "0,0,0,0" && zr.getDouble(3) == 0.0)
  }

  test("quantization round-trips ordering: argmax of |v| maps to ±127") {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, Seq(0.5f, -1.0f, 0.25f))), 1), schema)
    val r = Similarity.quantizeInt8(df, "vec_id", "embedding").collect()(0)
    assert(r.getString(2) == "64,-127,32") // 0.5/ (1/127) = 63.5 → floor(63.5+0.5)=64
  }
}
