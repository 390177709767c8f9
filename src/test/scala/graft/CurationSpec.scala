package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation
import graft.sources.Tables

class CurationSpec extends AnyFunSuite {
  import TestSpark._

  test("quota sample keeps at most the quota per stratum, deterministically") {
    val docs = Tables.documents(spark, sf)
    val s1 = Curation.quotaSample(docs, "doc_id", "source", 10)
    val over = s1.groupBy("source").count().filter(col("count") > 10).count()
    assert(over == 0)
    val s2 = Curation.quotaSample(docs, "doc_id", "source", 10)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    // kept ids are a subset of the corpus
    assert(s1.join(docs, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("quota sample equals the window formulation but plans through TopKPerKey") {
    val docs = Tables.documents(spark, sf)
    val topk = Curation.quotaSample(docs, "doc_id", "source", 7)
    val win = ReferenceForms.quotaSampleWindow(docs, "doc_id", "source", 7)
    assert(topk.exceptAll(win).isEmpty && win.exceptAll(topk).isEmpty)
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), s"quota sample fell back to a window sort:\n$plan")
  }

  test("temperature sample flattens toward small sources; draw matches the md5 quota order") {
    import spark.implicits._
    // big has 9× small's char mass: proportional sampling gives small
    // 10% of the budget; α = 0.5 gives it √1∕(√9+√1) = 25%
    val docs = ((1L to 900L).map(i => (i, "big", 100L)) ++
      (1001L to 1100L).map(i => (i, "small", 100L)))
      .toDF("doc_id", "source", "n_chars")
    val out = Curation.temperatureSample(docs, "doc_id", "source", "n_chars", 100)
    val bySrc = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    // weights √90000 = 300, √10000 = 100 → quotas ⌊75⌋ / ⌊25⌋
    assert(bySrc == Map("big" -> 75L, "small" -> 25L), bySrc.toString)
    val again = Curation.temperatureSample(docs, "doc_id", "source", "n_chars", 100)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // the per-source draw is exactly quotaSample's md5-order prefix
    val q = Curation.quotaSample(docs.filter(col("source") === "small"),
      "doc_id", "source", 25)
    assert(out.filter(col("source") === "small").exceptAll(q).isEmpty &&
      q.exceptAll(out.filter(col("source") === "small")).isEmpty)
  }

  test("split leakage flags planted cross-split duplicates, nothing else") {
    import spark.implicits._
    val ids = (1L to 200L)
    val sp = Curation.splitAssign(ids.toDF("doc_id"), "doc_id", 100, 100)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val trainId = ids.find(sp(_) == "train").get
    val heldId = ids.find(id => sp(id) != "train").get
    val docs = ids.map { id =>
      // one held-out doc gets the SAME text as a train doc — the leak
      // the id-bucket split cannot see; everyone else is gram-unique
      val text = if (id == trainId || id == heldId)
        "alpha beta gamma delta epsilon"
      else s"unique$id token$id filler$id pad$id tail$id"
      (id, text)
    }.toDF("doc_id", "text")
    val out = Curation.splitLeakage(docs, "doc_id", "text",
      valPermille = 100, testPermille = 100).collect()
    assert(out.length == 1, s"expected exactly the planted leak, got ${out.toSeq}")
    assert(out(0).getLong(0) == heldId && out(0).getString(1) == sp(heldId))
    // 5 tokens → two distinct 4-grams shared
    assert(out(0).getLong(2) == 2L)
  }

  test("corpus shuffle is a deterministic permutation of 1..N") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val a = Curation.shuffleOrder(docs, "doc_id")
    assert(a.count() == n)
    // positions are exactly 1..N, each once
    assert(a.agg(min(col("pos")), max(col("pos")), countDistinct(col("pos")))
      .collect()(0).toSeq == Seq(1L, n, n))
    // reproducible: a rerun assigns identical positions
    val b = Curation.shuffleOrder(docs, "doc_id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // and it IS a shuffle: position order differs from id order somewhere
    assert(a.filter(col("pos") =!= col("doc_id") + 1).count() > 0)
  }

  test("token-budget sample stops each stratum under budget plus one doc") {
    val budget = 2000L
    val docs = Tables.documents(spark, sf)
    val got = Curation.tokenBudgetSample(docs, "doc_id", "text", "source", budget)
    val perSource = got.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("total"), max(col("n_tokens")).as("biggest"))
      .collect()
    assert(perSource.nonEmpty)
    perSource.foreach { r =>
      // greedy contract: total < budget + the last kept doc's tokens,
      // i.e. total - ANY single doc stays under budget
      assert(r.getLong(1) - r.getLong(2) < budget,
        s"${r.getString(0)}: ${r.getLong(1)} tokens exceeds budget+1 doc")
    }
    // every non-empty stratum contributes at least one doc
    assert(got.select(col("source")).distinct().count() ==
      docs.select(col("source")).distinct().count())
  }

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") % 10 === 7)
    val train = docs.filter(col("doc_id") % 10 =!= 7)
    val hits = Curation.decontaminate(train, bench, "doc_id", "text", n = 4)
    assert(hits.count() > 0, "vacuous: no contaminated docs at this SF")
    // only training docs, every hit count positive
    assert(hits.filter(col("doc_id") % 10 === 7).count() == 0)
    assert(hits.filter(col("n_hits") < 1).count() == 0)
    // cross-check one flagged doc the slow way: distinct shared 4-grams
    import graft.functions.TextFunctions
    val some = hits.orderBy("doc_id").limit(1).collect()(0)
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), explode(TextFunctions.shingles(
        TextFunctions.tokens(col("text")), 4)).as("s"))
      .distinct()
    val shared = grams(train.filter(col("doc_id") === some.getLong(0)))
      .join(grams(bench).select(col("s")).distinct(), Seq("s"), "left_semi")
      .count()
    assert(shared == some.getLong(1))
    // the benchmark gram set rides a broadcast, not a shuffle of the corpus
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("corpus stats rollup levels are consistent") {
    val docs = Tables.documents(spark, sf)
    val stats = Curation.corpusStats(docs, "text", "source", "lang")
    val grand = stats.filter(col("source").isNull && col("lang").isNull).collect()
    assert(grand.length == 1)
    assert(grand(0).getAs[Long]("n_docs") == docs.count())
    // per-source subtotals sum to the grand total
    val perSource = stats.filter(col("source").isNotNull && col("lang").isNull)
    assert(perSource.agg(sum("n_docs")).collect()(0).getLong(0) == docs.count())
    // dup_rate bounded and zero when all contents distinct
    assert(stats.filter(col("dup_rate") < 0 || col("dup_rate") > 1).count() == 0)
  }

  test("incremental dedup drops exact and near reference duplicates, keeps the rest") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val ref = docs.filter(col("doc_id") % 3 =!= 0)
    val kept = Dedup.incremental(batch, ref, "doc_id", "text")
    assert(kept.count() > 0 && kept.count() <= batch.count())
    // no survivor's exact content appears in the reference
    val survivorTexts = docs.join(kept, Seq("doc_id"), "left_semi").select(md5(col("text").cast("binary")).as("f"))
    val refTexts = ref.select(md5(col("text").cast("binary")).as("f"))
    assert(survivorTexts.join(refTexts, Seq("f"), "left_semi").count() == 0)
    // agrees with minhashLsh run over the union: any batch doc paired
    // with a ref doc at est ≥ 0.5 must be dropped
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5)
    val crossPairs = pairs.filter(
      (col("doc_a") % 3 === 0 && col("doc_b") % 3 =!= 0) ||
      (col("doc_a") % 3 =!= 0 && col("doc_b") % 3 === 0))
    val mustDrop = crossPairs
      .select(when(col("doc_a") % 3 === 0, col("doc_a")).otherwise(col("doc_b")).as("doc_id"))
      .distinct()
    assert(mustDrop.join(kept, Seq("doc_id"), "left_semi").count() == 0)
  }

  test("source overlap: identical sources score jaccard 1, disjoint pairs emit no row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "s1"),
      (2L, "alpha beta gamma delta epsilon", "s2"), // s2 ≡ s1
      (3L, "one two three four five six", "s3")     // disjoint vocabulary
    ).toDF("doc_id", "text", "source")
    val o = Curation.sourceOverlap(docs, "text", "source").collect()
    assert(o.length == 1, s"only the (s1,s2) pair shares grams: ${o.toSeq}")
    val r = o(0)
    assert(r.getString(0) == "s1" && r.getString(1) == "s2")
    assert(r.getDouble(3) == 1.0)
  }

  test("indexed incremental dedup equals the two-corpus form; append closes the loop") {
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val reference = docs.filter(col("doc_id") % 3 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedupidx").toString
    graft.operators.Dedup.buildMinhashIndex(reference, "doc_id", "text", dir)
    val got = graft.operators.Dedup.incrementalIndexed(batch, dir, "doc_id", "text")
    val want = graft.operators.Dedup.incremental(batch, reference, "doc_id", "text")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // ingest the batch into the index; replaying the same batch must now
    // drop every doc as an exact duplicate of the indexed corpus
    graft.operators.Dedup.appendToMinhashIndex(batch, "doc_id", "text", dir)
    assert(graft.operators.Dedup.incrementalIndexed(batch, dir, "doc_id", "text").count() == 0)
  }

  test("incremental maxBucket passthrough: reference flood capped, normal near-dup still dropped; indexed form agrees") {
    import spark.implicits._
    import graft.operators.Dedup
    // reference: a 120-copy EXACT flood family (every member shares
    // every band bucket, so bucket membership is exactly 120 — above
    // the cap deterministically) + one normal doc
    val floodText = "boilerplate navigation header footer copyright terms privacy contact about products pages"
    val refArt = "a carefully written reference article on catalyst optimizer rules and physical planning"
    val reference = ((0 until 120).map(i => (i.toLong, floodText)) :+
      (2000L, refArt)).toDF("doc_id", "text")
    // batch: a near-dup of the flood, a near-dup of the normal doc,
    // and a genuinely novel doc
    val batch = Seq(
      (5000L, floodText + " extra"),
      (5001L, refArt + " v2"),
      (5002L, "completely unrelated text about mushroom foraging in temperate forests during autumn rains"))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    // capped: the flood's buckets (membership 120 > 50) are dropped
    // from the probe, so the flood near-dup survives (the documented
    // recall forfeit); the small-bucket near-dup is still caught
    val capped = ids(Dedup.incremental(batch, reference, "doc_id", "text",
      maxBucket = 50))
    assert(capped == Set(5000L, 5002L), capped.toString)
    // unbounded (the oracle contract): the flood near-dup is dropped
    val unbounded = ids(Dedup.incremental(batch, reference, "doc_id", "text"))
    assert(unbounded == Set(5002L), unbounded.toString)
    // the persisted-index probe takes the same cap and agrees exactly
    val dir = java.nio.file.Files.createTempDirectory("graft_dedupidx_cap").toString
    Dedup.buildMinhashIndex(reference, "doc_id", "text", dir)
    val idxCapped = ids(Dedup.incrementalIndexed(batch, dir, "doc_id", "text",
      maxBucket = 50))
    assert(idxCapped == capped, idxCapped.toString)
    val idxUnbounded = ids(Dedup.incrementalIndexed(batch, dir, "doc_id", "text"))
    assert(idxUnbounded == unbounded, idxUnbounded.toString)
  }

  test("indexed incremental dedup: a replayed reference append leaves capped survivors unchanged") {
    import spark.implicits._
    import graft.operators.Dedup
    // a 30-copy exact flood family: each of its band buckets holds 30
    // docs, under the cap of 40 — unless the band rows are counted
    // twice after the same append is replayed
    val floodText = "boilerplate navigation header footer copyright terms privacy contact about products pages"
    val reference = (0 until 30).map(i => (i.toLong, floodText)).toDF("doc_id", "text")
    val batch = Seq(
      (5000L, floodText + " extra"),
      (5002L, "completely unrelated text about mushroom foraging in temperate forests during autumn rains"))
      .toDF("doc_id", "text")
    def survivors(dir: String) =
      Dedup.incrementalIndexed(batch, dir, "doc_id", "text", maxBucket = 40)
        .collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_dedupidx_replay").toString
    Dedup.buildMinhashIndex(Seq((999L, "an unrelated indexed page about river ferries"))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    Dedup.appendToMinhashIndex(reference, "doc_id", "text", dir)
    val once = survivors(dir)
    assert(once == Set(5002L), once.toString)
    Dedup.appendToMinhashIndex(reference, "doc_id", "text", dir) // the replay
    assert(survivors(dir) == once)
  }

  test("curation pipeline equals its step-by-step composition") {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = Tables.documents(spark, sf)
    val piped = Curation.curationPipeline(docs, "doc_id", "text", "source")
    // manual composition
    val good = TextAnalysis.quality(docs, "doc_id", "text")
      .filter(col("quality_score") >= 0.9).select("doc_id")
    val gdocs = docs.join(good, Seq("doc_id"), "left_semi")
    val surv = Dedup.corpusDedup(gdocs, "doc_id", "text", 0.5)
    val manual = Curation.quotaSample(
      docs.select(col("doc_id"), col("source"))
        .join(surv, Seq("doc_id"), "left_semi"),
      "doc_id", "source", 10)
    assert(piped.exceptAll(manual).isEmpty && manual.exceptAll(piped).isEmpty)
    assert(piped.groupBy("source").count().filter(col("count") > 10).count() == 0)
    assert(piped.count() > 0)
  }

  test("split assignment is deterministic, exhaustive, and near the target ratios") {
    val docs = Tables.documents(spark, sf)
    val a = Curation.splitAssign(docs, "doc_id")
    val b = Curation.splitAssign(docs, "doc_id")
    assert(a.exceptAll(b).isEmpty) // pure function of the id
    assert(a.count() == docs.count())
    val counts = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(counts("train") / n > 0.9) // 980 permille target
    assert(counts.getOrElse("val", 0L) + counts.getOrElse("test", 0L) > 0)
    // stability under corpus growth: a doc's split never depends on the rest
    val half = Curation.splitAssign(docs.filter(col("doc_id") % 2 === 0), "doc_id")
    assert(half.exceptAll(a.filter(col("doc_id") % 2 === 0)).isEmpty)
  }

  test("vocab ids are dense, ordered by (count desc, token), and counts match wordcount") {
    val docs = Tables.documents(spark, sf)
    val v = Curation.vocabBuild(docs, "text", 100).collect()
      .sortBy(r => r.getInt(r.fieldIndex("token_id")))
    val nDistinct = graft.operators.MapReduceOps.wordCount(docs, "text").count()
    assert(v.length == math.min(100, nDistinct))
    assert(v.map(_.getInt(2)).toSeq == (0 until v.length))
    // ranks strictly follow (cnt desc, token asc)
    val pairs = v.map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.sliding(2).forall { case Array((c1, t1), (c2, t2)) =>
      c1 > c2 || (c1 == c2 && t1 < t2) })
    // counts agree with the wordcount query
    val wc = graft.operators.MapReduceOps.wordCount(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v.forall(r => wc(r.getString(0)) == r.getLong(1)))
  }

  test("count-min estimates never undercount and stay near truth at this density") {
    val docs = Tables.documents(spark, sf)
    val hh = Curation.heavyHittersCms(docs, "text").collect()
    assert(hh.nonEmpty)
    val total = docs
      .select(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    hh.foreach { r =>
      val cnt = r.getLong(1); val est = r.getLong(2)
      assert(est >= cnt, s"CMS undercounted ${r.getString(0)}: $est < $cnt")
      // classic CMS error bound with w=1024, d=4 (generous slack)
      assert(est <= cnt + 4L * total / 1024L + 1,
        s"CMS overcount beyond bound for ${r.getString(0)}: est=$est cnt=$cnt N=$total")
    }
  }

  test("aligned packing: bins respect the budget, ids contiguous, corpus preserved") {
    val docs = Tables.documents(spark, sf)
    val packed = Curation.packSequencesAligned(docs, "doc_id", "text", "source", 512L)
    assert(packed.count() == docs.count())
    // a bin only exceeds the budget when it holds a single oversized doc
    val over = packed.groupBy("stratum", "bin")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("c"))
      .filter(col("t") > 512 && col("c") > 1).count()
    assert(over == 0)
    // bin ids are contiguous 0..max per stratum
    val bad = packed.groupBy("stratum")
      .agg(countDistinct("bin").as("nbins"), max("bin").as("maxbin"))
      .filter(col("nbins") =!= col("maxbin") + 1).count()
    assert(bad == 0)
    // deterministic
    assert(packed.exceptAll(
      Curation.packSequencesAligned(docs, "doc_id", "text", "source", 512L)).isEmpty)
    // alignment costs bins vs the straddling form (waste is real but bounded)
    val aligned = packed.groupBy("stratum").agg(max("bin")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val straddled = Curation.packSequences(docs, "doc_id", "text", "source", 512)
      .groupBy("source").agg(max("bin")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    aligned.foreach { case (s, b) => assert(b >= straddled(s)) }
  }

  test("packing offsets are contiguous and bins follow floor(start/budget)") {
    val packed = Curation.packSequences(
      Tables.documents(spark, sf), "doc_id", "text", "source", 512)
    val bad = packed.filter(col("bin") =!= floor(col("start_offset") / 512)).count()
    assert(bad == 0)
    // contiguity: each doc starts where the previous one ended
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    val gaps = packed
      .withColumn("prev_end", lag(col("start_offset") + col("n_tokens"), 1, 0L).over(w))
      .filter(col("start_offset") =!= col("prev_end")).count()
    assert(gaps == 0)
    // conservation: per-stratum token totals survive packing
    val total = packed.agg(sum("n_tokens")).collect()(0).getLong(0)
    val direct = Tables.documents(spark, sf)
      .select(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(total == direct)
  }

  test("doc chunks: coverage, stride overlap, and edge sizes are exact") {
    import spark.implicits._
    // 10 tokens, win=4, stride=3 → starts 0,3,6 (ceil((10-4)/3)=2 extra)
    val docs = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
                   (2L, "a b"),   // short doc: one whole-doc chunk
                   (3L, "")       // empty doc: no chunks
    ).toDF("doc_id", "text")
    val out = Curation.docChunks(docs, "doc_id", "text", win = 4, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Int, Int, Int, String)].collect()
    assert(out.filter(_._1 == 1L).map(c => (c._2, c._3, c._4, c._5)).toSeq == Seq(
      (0, 0, 4, "t0 t1 t2 t3"), (1, 3, 4, "t3 t4 t5 t6"), (2, 6, 4, "t6 t7 t8 t9")))
    assert(out.filter(_._1 == 2L).map(c => (c._2, c._4, c._5)).toSeq ==
      Seq((0, 2, "a b")))
    assert(!out.exists(_._1 == 3L))
    // every token position is covered by at least one chunk
    val covered = out.filter(_._1 == 1L)
      .flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0 until 10).toSet)
  }

  test("doc chunks: last chunk never starts past the text and is never empty") {
    val out = Curation.docChunks(
      Tables.documents(spark, sf), "doc_id", "text")
    assert(out.filter(col("n_tokens") === 0).count() == 0)
    // chunk_id is dense from 0 per doc
    val dense = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max(col("chunk_id")).as("mx"))
      .filter(col("mx") =!= col("n") - 1).count()
    assert(dense == 0)
  }

  test("training shards: offsets are a prefix sum in md5 order; budget cuts hold") {
    val docs = Tables.documents(spark, sf)
    val out = Curation.trainingShards(docs, "doc_id", "text", budgetTokens = 2000L)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // global offsets: sorting by start_offset must give a gapless chain
    val chain = rows.sortBy(_._3)
    assert(chain.head._3 == 0L)
    chain.sliding(2).foreach {
      case Array((_, n, off, _), (_, _, off2, _)) => assert(off + n == off2)
      case _ => ()
    }
    // shard = floor(start_offset / budget), and totals are conserved
    assert(rows.forall { case (_, _, off, sh) => sh == off / 2000L })
    // determinism incl. under a different input partitioning
    val again = Curation.trainingShards(
      docs.repartition(13), "doc_id", "text", 2000L)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // order is shuffleOrder's: position ranks and offset ranks agree
    val pos = Curation.shuffleOrder(docs, "doc_id")
    val joined = out.join(pos, "doc_id")
      .select(col("start_offset"), col("pos")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(joined.sortBy(_._1).map(_._2).sameElements(
      joined.map(_._2).sorted))
  }

  test("crawl pipeline equals its step-by-step composition; each gate fires") {
    import spark.implicits._
    import graft.operators.{Dedup, Html}
    val prose = (1 to 40).map(i => s"word$i").mkString(" ")
    val pages = Seq(
      (1L, prose),                 // survives everything
      (2L, prose),                 // exact duplicate of 1 → deduped
      (3L, "tiny"),                // under the token gate → dropped
      (4L, prose + " extra tail")  // distinct → survives
    ).toDF("doc_id", "text")
      .select(col("doc_id"), Html.wrapHtml(lit(0), col("text")).as("html"))
    val got = Curation.crawlPipeline(pages, "doc_id", "html")
    // step-by-step replica
    val gated = Html.htmlExtract(pages, "doc_id", "html")
      .select(col("doc_id"), col("clean_text"))
      .filter(size(graft.functions.TextFunctions.tokens(col("clean_text")))
        .between(5, 10000))
    val sids = Dedup.exact(gated, "doc_id", "clean_text")
      .select(col("survivor_id").as("__sid"))
    val surv = gated.join(sids, col("doc_id") === col("__sid"), "left_semi")
    val want = Curation.shardManifest(
      Curation.trainingShards(surv, "doc_id", "clean_text", 2000L), "doc_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // survivors are exactly docs 1 and 4 (2 deduped, 3 gated out)
    assert(surv.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    // manifest conserves the survivors' token mass
    val mTok = got.agg(sum("n_tokens")).head().getLong(0)
    val sTok = surv.select(
      size(graft.functions.TextFunctions.tokens(col("clean_text"))).cast("long"))
      .as[Long].collect().sum
    assert(mTok == sTok)
  }

  test("shard diff classifies added/removed/changed/unchanged; identical builds all-unchanged") {
    import spark.implicits._
    val oldM = Seq((0L, 5L, 2000L, 111L), (1L, 4L, 1900L, 222L),
      (2L, 6L, 2100L, 333L)).toDF("shard_id", "n_docs", "n_tokens", "digest")
    val newM = Seq((0L, 5L, 2000L, 111L),  // unchanged
      (1L, 4L, 1900L, 999L),               // same counts, new digest → changed
      (3L, 2L, 800L, 444L)                 // new shard → added; 2 → removed
    ).toDF("shard_id", "n_docs", "n_tokens", "digest")
    val got = Curation.shardDiff(oldM, newM).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got(0L) == (("unchanged", 5L, 5L, 2000L, 2000L)))
    assert(got(1L) == (("changed", 4L, 4L, 1900L, 1900L)))
    assert(got(2L) == (("removed", 6L, 0L, 2100L, 0L)))
    assert(got(3L) == (("added", 0L, 2L, 0L, 800L)))
    // self-diff of a REAL manifest: everything unchanged
    val mani = Curation.shardManifest(
      Curation.trainingShards(Tables.documents(spark, sf), "doc_id", "text", 2000L),
      "doc_id")
    val self = Curation.shardDiff(mani, mani)
    assert(self.filter(col("status") =!= "unchanged").count() == 0)
    // a removal cascades `changed` from the victim's offset onward,
    // never silently `unchanged` with different content
    val pruned = Curation.shardManifest(
      Curation.trainingShards(
        Tables.documents(spark, sf).filter(col("doc_id") =!= 0L),
        "doc_id", "text", 2000L), "doc_id")
    val diff = Curation.shardDiff(mani, pruned)
    val statuses = diff.groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses.contains("changed"))
    val tokOld = diff.agg(sum("old_tokens")).head().getLong(0)
    val tokNew = diff.agg(sum("new_tokens")).head().getLong(0)
    assert(tokOld > tokNew) // the removed doc's tokens left the corpus
  }

  test("shard manifest agrees with a direct per-shard aggregation") {
    val docs = Tables.documents(spark, sf)
    val assign = Curation.trainingShards(docs, "doc_id", "text", 2000L)
    val mani = Curation.shardManifest(assign, "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val direct = assign.collect()
      .map(r => (r.getLong(3), r.getLong(1), r.getLong(0)))
      .groupBy(_._1)
      .map { case (sh, g) =>
        val digest = g.map { case (_, _, id) =>
          java.lang.Long.parseLong(
            org.apache.commons.codec.digest.DigestUtils.md5Hex(s"doc|$id")
              .substring(0, 15), 16)
        }.reduce(_ ^ _)
        sh -> (g.length.toLong, g.map(_._2).sum, digest)
      }
    assert(mani == direct)
    // every shard except possibly the last holds >= budget - max doc tokens
    val budgetShards = mani.keys.toSeq.sorted
    assert(budgetShards == (0L until budgetShards.length).toSeq)
  }
}
