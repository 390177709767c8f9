package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnSpec, Curation, Dedup, MapReduceOps, Similarity, TextAnalysis}

/** Operators must degrade cleanly: empty inputs → empty outputs with
  * the right schema, single-row inputs → no pair explosions, documents
  * too short for shingles → filtered, not nulled.
  */
class EdgeCaseSpec extends AnyFunSuite {
  import TestSpark._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private def docsOf(rows: (Long, String)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), docSchema)
  private lazy val empty = docsOf()

  test("redact: every PII class bites and is marked, counts are per-class") {
    val d = docsOf((42L, "plain text with user@host.com and +44 20 7946 0958 " +
      "from 192.168.7.13 order 12345678"))
    val r = TextAnalysis.redact(d, "doc_id", "text").collect()(0)
    val red = r.getString(r.fieldIndex("redacted"))
    assert(red.contains("<EMAIL>") && red.contains("<PHONE>") &&
      red.contains("<IP>") && red.contains("<NUM>"))
    assert(!red.contains("user@") && !red.contains("7946") &&
      !red.contains("192.168") && !red.contains("12345678"))
    assert(r.getInt(r.fieldIndex("n_emails")) == 1)
    assert(r.getInt(r.fieldIndex("n_phones")) == 1)
    assert(r.getInt(r.fieldIndex("n_ips")) == 1)
    assert(r.getInt(r.fieldIndex("n_numbers")) == 1)
    // the strict-octet IPv4 pattern must NOT eat non-address quads,
    // and an IP's short octets must never count as a digit run
    val d2 = docsOf((7L, "build 999.278.1.4 is not an address"))
    val r2 = TextAnalysis.redact(d2, "doc_id", "text").collect()(0)
    assert(r2.getInt(r2.fieldIndex("n_ips")) == 0)
    // the registered query's fixture makes every class live at driver
    // SFs: each count column is positive on EVERY row there
    val q = SparkEntry.queries("text_redact")(spark, sf)
    import org.apache.spark.sql.functions.{min => fmin, col}
    val mins = q.agg(fmin(col("n_emails")), fmin(col("n_phones")),
      fmin(col("n_ips")), fmin(col("n_numbers"))).collect()(0)
    assert((0 to 3).forall(i => mins.getInt(i) >= 1), mins.toString)
  }

  test("empty input: wordcount, dedup, text analysis all yield empty") {
    assert(MapReduceOps.wordCount(empty, "text").count() == 0)
    assert(Dedup.exact(empty, "doc_id", "text").count() == 0)
    assert(Dedup.minhashLsh(empty, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.corpusDedup(empty, "doc_id", "text").count() == 0)
    assert(TextAnalysis.quality(empty, "doc_id", "text").count() == 0)
  }

  test("curation ops degrade cleanly on empty and tiny strata") {
    val stratified = empty.withColumn("source",
      org.apache.spark.sql.functions.lit("s"))
    assert(Curation.quotaSample(stratified, "doc_id", "source", 5).count() == 0)
    assert(Curation.packSequences(stratified, "doc_id", "text", "source", 512).count() == 0)
    val one = docsOf((1L, "alpha beta gamma"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    assert(Curation.quotaSample(one, "doc_id", "source", 5).count() == 1)
    val packed = Curation.packSequences(one, "doc_id", "text", "source", 512).collect()
    assert(packed.length == 1 && packed(0).getLong(3) == 0L && packed(0).getLong(4) == 0L)
  }

  test("incremental dedup: empty reference keeps everything, identical reference drops everything") {
    val batch = docsOf((3L, "alpha beta gamma delta"), (6L, "epsilon zeta eta theta"))
    assert(Dedup.incremental(batch, empty, "doc_id", "text").count() == 2)
    assert(Dedup.incremental(batch, batch, "doc_id", "text").count() == 0)
    assert(Dedup.incremental(empty, batch, "doc_id", "text").count() == 0)
  }

  test("decontaminate: empty benchmark flags nothing; disjoint vocab flags nothing") {
    val train = docsOf((1L, "alpha beta gamma delta epsilon"))
    assert(Curation.decontaminate(train, empty, "doc_id", "text").count() == 0)
    val bench = docsOf((7L, "one two three four five"))
    assert(Curation.decontaminate(train, bench, "doc_id", "text").count() == 0)
    assert(Curation.decontaminate(train, train, "doc_id", "text").count() == 1)
  }

  test("corpus stats on empty input is empty (no phantom grand-total row)") {
    val stratified = empty
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .filter(org.apache.spark.sql.functions.lit(false))
    assert(Curation.corpusStats(stratified, "text", "source", "lang").count() == 0)
  }

  test("single doc: no self-pairs from any pairwise operator") {
    val one = docsOf((1L, "alpha beta gamma delta"))
    assert(Dedup.minhashLsh(one, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(one, "doc_id", "text").count() == 0)
    assert(Dedup.corpusDedup(one, "doc_id", "text").count() == 1)
  }

  test("docs shorter than the shingle width are excluded, not null") {
    val short = docsOf((1L, "one two"), (2L, "a b c d e f"))
    val sigs = Dedup.minhashLsh(short, "doc_id", "text")
    assert(sigs.count() == 0) // no bands collide, and no null sigs blow up
    val rep = TextAnalysis.repetition(short, "doc_id", "text").collect()
    assert(rep.forall(r => !r.isNullAt(2)))
  }

  test("quality handles empty text without division by zero") {
    val weird = docsOf((1L, ""), (2L, "   "), (3L, "normal text here"))
    val q = TextAnalysis.quality(weird, "doc_id", "text").collect()
    assert(q.length == 3)
    assert(q.forall(r => !r.isNullAt(r.fieldIndex("quality_score"))))
  }

  test("split/vocab/sketch degrade cleanly on empty and tiny inputs") {
    // empty corpus: no assignments, no vocab
    assert(Curation.splitAssign(empty, "doc_id").count() == 0)
    assert(Curation.vocabBuild(empty, "text", 10).count() == 0)
    // one doc: one deterministic assignment; vocab ids stay dense
    val one = docsOf((42L, "tiny tiny corpus"))
    val a = Curation.splitAssign(one, "doc_id").collect()
    assert(a.length == 1 && Set("train", "val", "test").contains(a(0).getString(2)))
    val v = Curation.vocabBuild(one, "text", 10).collect()
    assert(v.map(_.getInt(2)).sorted.toSeq == (0 until v.length))
    // KMV sketch over an all-null hash column: empty array, estimate 0
    import org.apache.spark.sql.functions._
    graft.plans.GraftFunctions.register(spark)
    val est = one
      .agg(graft.functions.Sketches.kmvEstimate(
        graft.functions.Sketches.kminBy(lit(null).cast("bigint"), lit(1L), 8), 8))
      .collect()(0).getLong(0)
    assert(est == 0L)
  }

  test("shuffle and token-budget sampling degrade cleanly on empty/tiny input") {
    import org.apache.spark.sql.functions._
    assert(Curation.shuffleOrder(empty, "doc_id").count() == 0)
    assert(Curation.sourceOverlap(
      empty.withColumn("source", lit("s")), "text", "source").count() == 0)
    val one = docsOf((7L, "just one document here"))
      .withColumn("source", lit("s"))
    val sh = Curation.shuffleOrder(one, "doc_id").collect()
    assert(sh.length == 1 && sh(0).getLong(1) == 1L)
    // a doc bigger than the whole budget is still kept (greedy contract:
    // tokens-before = 0 < budget)
    val tb = Curation.tokenBudgetSample(one, "doc_id", "text", "source", 1L).collect()
    assert(tb.length == 1)
    assert(Curation.tokenBudgetSample(
      empty.withColumn("source", lit("s")), "doc_id", "text", "source", 100L).count() == 0)
  }

  test("empty embeddings: knn returns empty") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val emptyEmb = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 2), schema)
    assert(Similarity.knn(emptyEmb, "vec_id", "embedding", 10, 5).count() == 0)
    assert(Similarity.kmeans(emptyEmb, "vec_id", "embedding").count() == 0)
    // fewer vectors than k: every vector still assigned, ids within range
    import org.apache.spark.sql.functions._
    val three = sources.Tables.embeddings(spark, sf).limit(3)
    val a = Similarity.kmeans(three, "vec_id", "embedding", k = 8, iters = 1)
    assert(a.count() == 3)
    assert(a.filter(col("cluster_id") < 0 || col("cluster_id") >= 3).count() == 0)
  }

  test("kmeans: a component that is null in every member keeps its previous value") {
    // position 2 is null in every vector, so no (cluster, 2) cell ever
    // has a non-null element: its mean is undefined and the centroid
    // keeps the seed's component (a null seed element reads as 0.0),
    // as the DuckDB twin's coalesce(..., p.cval) does
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq[Any](1.0f, 2.0f, null, 4.0f)),
      Row(2L, Seq[Any](3.0f, 4.0f, null, 8.0f))), 2), schema)
    val cs = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 1, iters = 2)
    assert(cs.map(_.toSeq).toSeq == Seq(Seq(2.0, 3.0, 0.0, 6.0)))
    val two = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 2, iters = 1)
    assert(two.length == 2 && two.forall(_(2) == 0.0))
  }

  test("kmeans and PQ seeds skip null vectors") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq(1.0f, 0.0f)), Row(2L, null), Row(3L, Seq(0.0f, 1.0f))), 2), schema)
    val cs = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 3, iters = 1)
    assert(cs.map(_.toSeq).toSet == Set(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    assert(Similarity.kmeans(emb, "vec_id", "embedding", k = 3, iters = 1).count() == 3)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 2, ksub = 3)
    assert(cbs.length == 2 && cbs.forall(_.length == 2))
  }

  test("mixture-audit ops degrade cleanly on empty/degenerate input") {
    import org.apache.spark.sql.functions._
    import graft.operators.Scoring
    val srcSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    def srcDocs(rows: (Long, String, String, Long)*) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3, r._4)), 2), srcSchema)
    val none = srcDocs()
    // empty corpus → empty audits, no ANSI division/ln blowups
    assert(Scoring.sourceDivergence(none, "text", "source").count() == 0)
    assert(Curation.temperatureSample(none, "doc_id", "source", "n_chars", 100)
      .count() == 0)
    // single source: its distribution IS the corpus → KL exactly 0,
    // and the whole temperature budget lands on it (q_s = 1)
    val one = srcDocs((1L, "a b a", "only", 5L), (2L, "b a", "only", 3L))
    val kl = Scoring.sourceDivergence(one, "text", "source").collect()
    assert(kl.length == 1 && kl(0).getAs[Double]("kl_nats") == 0.0)
    val drawn = Curation.temperatureSample(one, "doc_id", "source", "n_chars", 100)
    assert(drawn.count() == 2, "budget beyond corpus size keeps everything")
    // prototypicality on an empty vector table stays empty
    val emptyEmb = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 2), StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(Similarity.prototypeScores(emptyEmb, "vec_id", "embedding").count() == 0)
    // empty-text docs: zero tokens contribute nothing but must not
    // null-poison the census (explode drops them)
    val mixed = srcDocs((1L, "a a", "s1", 3L), (2L, "", "s2", 0L))
    val k2 = Scoring.sourceDivergence(mixed, "text", "source").collect()
    assert(k2.length == 1 && k2(0).getString(0) == "s1",
      "token-less source has no distribution row; token-bearing one survives")
    // ALL sources at zero mass: the quota ratio would be NaN and the
    // ANSI int cast would kill the job — the draw must be empty instead
    val zeroMass = srcDocs((1L, "", "s1", 0L), (2L, "", "s2", 0L))
    assert(Curation.temperatureSample(zeroMass, "doc_id", "source",
      "n_chars", 100).count() == 0)
  }

  test("residual IVFADC degrades cleanly: empty corpus empty, centroid-less fails fast") {
    import org.apache.spark.sql.functions._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val emptyEmb = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 2), schema)
    assert(Similarity.knn(emptyEmb, "vec_id", "embedding",
      spec = AnnSpec(AnnSpec.Coarse.Mod(), AnnSpec.Code.ResidualPq())).count() == 0)
    // ids that never hit the centroid modulus: cells are undefined —
    // a clear refusal beats a confusing dims-divisibility error
    val odd = sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 2 === 1)
    val ex = intercept[IllegalArgumentException] {
      Similarity.knn(odd, "vec_id", "embedding",
        spec = AnnSpec(AnnSpec.Coarse.Mod(centroidMod = 2), AnnSpec.Code.ResidualPq()))
    }
    assert(ex.getMessage.contains("no centroids"))
  }

  test("line dedup / chunking / shards degrade cleanly on empty and all-blank input") {
    assert(Dedup.lineDedup(empty, "doc_id", "text").count() == 0)
    assert(Curation.docChunks(empty, "doc_id", "text").count() == 0)
    assert(Curation.trainingShards(empty, "doc_id", "text", 100L).count() == 0)
    assert(Curation.shardManifest(
      Curation.trainingShards(empty, "doc_id", "text", 100L), "doc_id").count() == 0)
    // all-blank corpus: every doc has zero effective lines/tokens.
    // NOTE the line filter is SPACE-trim (Spark's and DuckDB's shared
    // trim default — the portable contract): a tab-only line counts
    // as content; whitespace canonicalization is text_normalize's job
    val blank = docsOf((1L, ""), (2L, "  \n   \n  "))
    val ld = Dedup.lineDedup(blank, "doc_id", "text").collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(ld == Set((0, 0, "")))
    val tabLine = Dedup.lineDedup(docsOf((1L, "\t")), "doc_id", "text")
      .head()
    assert(tabLine.getInt(1) == 1 && tabLine.getString(3) == "\t")
    assert(Curation.docChunks(blank, "doc_id", "text").count() == 0)
    // zero-token docs all land in shard 0 at offset 0
    val ts = Curation.trainingShards(blank, "doc_id", "text", 100L).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(ts == Set((0L, 0L, 0L)))
    // invalid params fail fast, not silently
    intercept[IllegalArgumentException] {
      Curation.docChunks(blank, "doc_id", "text", win = 4, stride = 5)
    }
    intercept[IllegalArgumentException] {
      Curation.trainingShards(blank, "doc_id", "text", 0L)
    }
  }

  test("link layer degrades cleanly: empty/malformed html, empty corpus, " +
      "blocklist on empty text") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // no anchors, empty html, unclosed/malformed anchors, href-less <a>
    val pages = Seq(
      (1L, "https://a.com/p", ""),
      (2L, "https://a.com/p", "<p>no links at all</p>"),
      (3L, "https://a.com/p", "<a href=\"/x\">unclosed"),
      (4L, "https://a.com/p", "<a name=\"anchor-only\">no href</a>"),
      (5L, "not a url", "<a href=\"/y\">base has no scheme</a>")
    ).toDF("doc_id", "url", "html")
    val links = operators.Links.linkExtract(pages, "doc_id", "url", "html")
    // 1-3 yield nothing (no complete anchor tag); 4 drops (empty href);
    // 5 survives with a degenerate resolution (scheme-less base)
    assert(links.filter(col("doc_id") <= 4).count() == 0)
    assert(links.filter(col("doc_id") === 5).count() == 1)
    val emptyPages = pages.filter(col("doc_id") < 0)
    assert(operators.Links.linkExtract(emptyPages, "doc_id", "url", "html").count() == 0)
    assert(operators.Links.linkGraph(links.filter(col("doc_id") < 0)).count() == 0)
    assert(operators.Links.anchorCorpus(links.filter(col("doc_id") < 0)).count() == 0)
    // directed pagerank on an empty edge set: no vertices, no rows
    assert(operators.Graph.pagerankDirected(
      Seq.empty[(String, String)].toDF("src", "dst")).count() == 0)
    // blocklist gate: empty text keeps (0*1000 <= 0*30), empty corpus empty
    val bl = TextAnalysis.blocklistGate(docsOf((1L, "")), "doc_id", "text",
      lit("h.example.com"), Seq("bad"), Seq("blocked.example.com"))
    val r = bl.head()
    assert(r.getAs[Boolean]("keep") && r.getAs[Int]("n_tokens") == 0 &&
      r.getAs[String]("bad_terms") == "")
    assert(TextAnalysis.blocklistGate(empty, "doc_id", "text",
      lit("h"), Seq("bad"), Seq.empty).count() == 0)
    // empty lexicon fails fast
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistGate(empty, "doc_id", "text", lit("h"),
        Seq.empty, Seq.empty)
    }
    // revisit classify: both snapshots empty -> empty
    assert(graft.sources.Formats.revisitClassify(
      Seq.empty[(String, String, String, String)]
        .toDF("target_uri", "warc_type", "warc_date", "block"),
      Seq.empty[(String, String, String, String)]
        .toDF("target_uri", "warc_type", "warc_date", "block")).count() == 0)
  }
}
