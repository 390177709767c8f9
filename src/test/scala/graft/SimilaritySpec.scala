package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnSpec, Similarity}
import graft.operators.AnnSpec.{Code, Coarse}
import graft.sources.Tables

/** C5 ships the LSH-candidate plan; the brute-force all-pairs form is
  * the verifier: candidates must be a strict subset (precision 1.0 —
  * exact cosine runs on every candidate) with a measured recall floor,
  * and the plan must never contain an all-pairs product.
  */
class SimilaritySpec extends AnyFunSuite {
  import TestSpark._

  test("embeddingPairs: precision 1.0, recall floor vs brute force, no all-pairs plan") {
    val emb = Tables.embeddings(spark, sf)
    val lsh = Similarity.embeddingPairs(emb, "vec_id", "embedding", 0.3)
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs plan leaked into C5:\n$plan")
    val got = lsh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ReferenceForms.embeddingPairsBrute(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(want), "LSH produced a pair brute force did not")
    val recall = got.size.toDouble / want.size
    info(f"dedup_embedding LSH recall vs brute force: $recall%.3f (${got.size}/${want.size})")
    // shipped config (5 planes × 16 tables) models ≈0.72 at the 0.3
    // threshold boundary; 0.45 leaves headroom for data-dependence
    assert(recall >= 0.45, f"recall $recall%.3f below floor")
  }

  test("embeddingPairsIvf: precision 1.0, recall vs brute force, cell-join plan") {
    val emb = Tables.embeddings(spark, sf)
    val ivf = Similarity.embeddingPairsIvf(emb, "vec_id", "embedding", 0.3,
      k = 16, nProbes = 2)
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs plan leaked into the IVF miner:\n$plan")
    val got = ivf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ReferenceForms.embeddingPairsBrute(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(want), "IVF produced a pair brute force did not")
    val recall = got.size.toDouble / want.size
    info(f"IVF pair recall vs brute force (k=16, 2 probes): $recall%.3f (${got.size}/${want.size})")
    assert(recall >= 0.30, f"recall $recall%.3f below floor")
    // more probes never lose pairs: probe sets grow monotonically
    val more = Similarity.embeddingPairsIvf(emb, "vec_id", "embedding", 0.3,
      k = 16, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(more), "raising nProbes dropped a pair")
    info(f"IVF pair recall at 4 probes: ${more.size.toDouble / want.size}%.3f")
  }

  test("IVF recall-vs-nProbes curve: monotone, with a floor at the default") {
    val emb = Tables.embeddings(spark, sf)
    def hits(nProbes: Int): Set[(Long, Long)] =
      Similarity.knn(emb, "vec_id", "embedding", 10, 5, AnnSpec(Coarse.Mod(), nProbes = nProbes))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.knn(emb, "vec_id", "embedding", 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = Seq(1, 2, 4, 8).map(p => p -> (hits(p) & truth).size.toDouble / truth.size)
    info("IVF recall@5: " + recall.map { case (p, r) => f"$p probes $r%.2f" }.mkString(", "))
    // the knob's contract: more probes never lose recall...
    recall.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      assert(rb >= ra, f"recall fell from $ra%.2f ($pa probes) to $rb%.2f ($pb probes)")
    }
    // ...and the DEFAULT (4 probes, the documented high-recall setting)
    // clears a real floor — 1 probe is the cheap setting, not the default
    val rDefault = recall.toMap.apply(4)
    assert(rDefault >= 0.5, f"default-probe recall $rDefault%.2f below 0.5 floor")
    // the multi-table LSH ANN (knn_lsh's shipped 5 planes × 8 tables)
    // against the same truth: measured 0.40 on this fixture
    val lsh = Similarity.knnLsh(emb, "vec_id", "embedding", 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rLsh = (lsh & truth).size.toDouble / truth.size
    info(f"LSH recall@5: $rLsh%.2f")
    assert(rLsh >= 0.3, f"LSH recall $rLsh%.2f below 0.3 floor")
  }

  test("pqEncode: total, codes in range, seed vectors reconstruct exactly, map-side plan") {
    val emb = Tables.embeddings(spark, sf)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding")
    // compression is a pure scan: argmin against codebook literals, no
    // shuffle anywhere in the encode plan
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"PQ encode plan shuffles:\n$plan")
    val rows = enc.collect()
    assert(rows.length == emb.count(), "every vector must be encoded")
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == 16 && codes.forall(c => c >= 0 && c < 32))
      assert(r.getDecimal(2).doubleValue >= -1e-5,
        s"reconstruction error negative beyond rounding: $r")
    }
    // the ksub hash-ordered seeds ARE codebook entries: their slices
    // quantize to themselves with zero reconstruction error
    val seedErrs = rows.map(r => (r.getLong(0), r.getDecimal(2).doubleValue)).toMap
    val zeroErr = seedErrs.count { case (_, e) => math.abs(e) < 1e-9 }
    assert(zeroErr >= 32, s"expected the 32 seed vectors at zero error, got $zeroErr")
  }

  test("knnPq: ADC recall vs brute force, no all-pairs plan, code table not vectors") {
    val emb = Tables.embeddings(spark, sf)
    val pq = Similarity.knn(emb, "vec_id", "embedding", 10, 5, AnnSpec(code = Code.Pq()))
    val plan = pq.queryExecution.executedPlan.toString
    // the ADC scan is DELIBERATELY codes × broadcast-query-batch (it
    // is exhaustive by design); what must never appear is a
    // non-broadcast product, and the cut must ride TopKPerKey
    assert(!plan.contains("CartesianProduct"),
      s"non-broadcast product leaked into ADC:\n$plan")
    assert(plan.contains("TopKPerKey"), s"ADC cut fell off TopKPerKey:\n$plan")
    val got = pq.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.knn(emb, "vec_id", "embedding", 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"PQ ADC recall@5 vs exact cosine: $recall%.3f (${(got & truth).size}/${truth.size})")
    // sampled 16-entry codebooks over random 64-dim embeddings are the
    // hard case for PQ (no cluster structure to exploit); the measured
    // envelope sits well above the random-chance floor (5/corpus ≈ 1%)
    assert(recall >= 0.2, f"ADC recall $recall%.3f below floor")
    assert(got.size == truth.size, "ADC must return a full top-k per query")
  }

  test("trained PQ codebooks: Lloyd refinement cuts reconstruction MSE and lifts ADC recall") {
    import org.apache.spark.sql.functions.{col, sum}
    val emb = Tables.embeddings(spark, sf)
    val sampled = Similarity.pqCodebooks(emb, "vec_id", "embedding")
    val trained = Similarity.pqCodebooksTrained(emb, "vec_id", "embedding")
    def totalErr(cbs: Array[Array[Array[Double]]]): Double =
      Similarity.pqEncodeWith(emb, "vec_id", "embedding", cbs)
        .agg(sum(col("recon_err").cast("double"))).collect()(0).getDouble(0)
    val (e0, e1) = (totalErr(sampled), totalErr(trained))
    info(f"PQ total recon error: sampled $e0%.2f -> trained $e1%.2f " +
      f"(${(1 - e1 / e0) * 100}%.1f%% lower)")
    assert(e1 < e0,
      f"Lloyd refinement must cut reconstruction error: $e1%.2f !< $e0%.2f")
    val truth = Similarity.knn(emb, "vec_id", "embedding", 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val rSampled = recall(Similarity.knn(emb, "vec_id", "embedding", 10, 5, AnnSpec(code = Code.Pq())))
    val rTrained = recall(Similarity.knn(emb, "vec_id", "embedding", 10, 5,
      AnnSpec(code = Code.Pq(trainIters = 2))))
    info(f"ADC recall@5: sampled $rSampled%.3f -> trained $rTrained%.3f")
    assert(rTrained >= rSampled,
      f"trained recall $rTrained%.3f fell below sampled $rSampled%.3f")
  }

  test("PQ kernels are bit-identical to the composed expression forms") {
    // the >64KB least()-tree forms run interpreted (janino rejects the
    // stage); the kernels replace them on the hot path — parity here is
    // the license (codes, 6dp decimals, tie-breaks, all exact)
    val emb = Tables.embeddings(spark, sf)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding")
    val kEnc = Similarity.pqEncodeWith(emb, "vec_id", "embedding", cbs)
    val eEnc = ReferenceForms.pqEncodeExprForm(emb, "vec_id", "embedding", cbs)
    assert(kEnc.exceptAll(eEnc).isEmpty && eEnc.exceptAll(kEnc).isEmpty,
      "pqEncode kernel diverged from the expression form")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    val kDt = ReferenceForms.pqDistTable(q, "vec_id", "embedding", cbs)
    val eDt = ReferenceForms.pqDistTableExprForm(q, "vec_id", "embedding", cbs)
    assert(kDt.exceptAll(eDt).isEmpty && eDt.exceptAll(kDt).isEmpty,
      "pqDistTable kernel diverged from the expression form")
    // and the ADC scan shape (kernel lookup-sum, no shuffle) answers
    // exactly like the unnest-join-groupBy formulation it replaced
    val scan = Similarity.knn(emb, "vec_id", "embedding", 10, 5, AnnSpec(code = Code.Pq()))
    val join = ReferenceForms.knnPqJoinForm(emb, "vec_id", "embedding", 10, 5)
    assert(scan.exceptAll(join).isEmpty && join.exceptAll(scan).isEmpty,
      "ADC scan shape diverged from the join formulation")
  }

  test("embeddingPairsScaled: small corpus resolves to the 5-plane default; cap preserves pairs") {
    val emb = Tables.embeddings(spark, sf)
    val fixed = Similarity.embeddingPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // n < 128*32 here, so the sizing rule floors at 5 planes and the
    // scaled form must return exactly the fixed-default pair set
    // (maxBucket=10000 never trips on healthy buckets at this sf)
    val scaled = Similarity.embeddingPairsScaled(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scaled == fixed)
  }

  test("autoPlanes ≡ the oracle CASE ladder on every boundary; auto form sound at np > 5") {
    // Independent model of lshBucketsAutoCte's generated SQL: the CASE
    // ladder returns the FIRST k in [5, stride) with cnt <= 128*2^k,
    // ELSE stride. Both driver SFs sit at the np=5 floor, so the
    // formula's non-floor agreement is pinned here, not by the oracle
    // selfchecks.
    val stride = Similarity.AutoPlaneStride
    def ladder(cnt: Long, target: Long = 128L): Int =
      (5 until stride).find(k => cnt <= target * (1L << k)).getOrElse(stride)
    val boundaries = (5 until stride).flatMap { k =>
      val edge = 128L * (1L << k); Seq(edge - 1, edge, edge + 1)
    }
    val probes = Seq(0L, 1L, 500L, 2000L, 4096L, 4097L,
      128L * (1L << (stride - 1)) + 1, Long.MaxValue / 4) ++ boundaries
    probes.foreach { n =>
      assert(Similarity.autoPlanes(n) == ladder(n),
        s"autoPlanes($n)=${Similarity.autoPlanes(n)} != ladder=${ladder(n)}")
    }
    // end-to-end at a NON-floor plane count: a small targetBucket
    // forces np=7 on the driver fixture; precision vs brute force must
    // stay 1.0 (every candidate is exact-cosine checked, any bucketing)
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    assert(Similarity.autoPlanes(n, targetBucket = 8) > 5,
      "fixture too small to force a non-floor plane count")
    val auto = Similarity.embeddingPairsAuto(emb, "vec_id", "embedding", 0.4,
        targetBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ReferenceForms.embeddingPairsBrute(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.subsetOf(want), "auto form produced a pair brute force did not")
    assert(auto.nonEmpty, "np>5 bucketing lost every true pair on the fixture")
  }

  test("exactRowCount: footer path ≡ count() on scans/projections, falls back elsewhere") {
    // the np-derivation count must stay bit-identical to the oracle's
    // count(*) — footer metadata IS the exact count for a bare scan
    val emb = Tables.embeddings(spark, sf) // bare scan (or cast projection)
    assert(Similarity.exactRowCount(emb) == emb.count())
    val docs = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id")) // pruned projection
    assert(Similarity.exactRowCount(docs) == docs.count())
    // any non-projection node must take the count() fallback, never a
    // footer sum (a filter changes cardinality; footers don't know it)
    val filtered = Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
    assert(Similarity.exactRowCount(filtered) == filtered.count())
    import spark.implicits._
    val mem = Seq(1L, 2L, 3L).toDF("x") // no file source at all
    assert(Similarity.exactRowCount(mem) == 3L)
    // a corrupt file under ignoreCorruptFiles: count() skips it, so the
    // footer sum (which would throw opening it) must not be taken
    val dir = java.nio.file.Files.createTempDirectory("graft_rowcount").toString
    Tables.embeddings(spark, sf).limit(7).write.mode("overwrite").parquet(dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    val key = "spark.sql.files.ignoreCorruptFiles"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val withCorrupt = spark.read.parquet(dir)
      assert(Similarity.exactRowCount(withCorrupt) == withCorrupt.count())
      assert(withCorrupt.count() == 7L)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("exactRowCount: 64 files sum footers, 65 files take the count() fallback") {
    def rowsAndJobs(nFiles: Int): (Long, Int) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_rowcount_files")
        .resolve("t").toString
      spark.range(0, 2L * nFiles, 1, nFiles).write.parquet(dir)
      val df = spark.read.parquet(dir)
      assert(df.inputFiles.length == nFiles)
      var n = 0L
      val jobs = JobCount.during(spark) { n = Similarity.exactRowCount(df) }
      (n, jobs)
    }
    assert(rowsAndJobs(64) == ((128L, 0)))
    val (n, jobs) = rowsAndJobs(65)
    assert(n == 130L)
    assert(jobs >= 1, "a 65-file scan must count with a job, not 65 driver footer reads")
  }

  test("minhashLsh ids-only band join ≡ the sig-carrying reference form (r16 restructure)") {
    // round 16 rebuilt minhashLsh so the band self-join ships
    // (doc_id, band, bkey) only and the agreement kernel runs once per
    // UNIQUE pair after dedup; this pins the output against an inline
    // replica of the pre-r16 shape (signatures riding the band rows,
    // agreement per band collision, distinct at the end)
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val got = graft.operators.Dedup.minhashLsh(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (k, bands, rows) = (16, 8, 2)
    def phash(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val sigs = graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text", k)
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          phash(concat(b.cast("string"), lit("|"),
            concat_ws(",", transform(sequence(lit(0), lit(rows - 1)),
              r => element_at(col("sig"), b * rows + r + 1).cast("string"))))).as("bkey"))))
        .as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bkey"))
      .localCheckpoint()
    val a = banded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val want = a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (graft.functions.TextFunctions.sigAgree(col("sig_a"), col("sig_b"))
          / lit(k.toDouble)).as("est_jaccard"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"ids-only form diverged: ${got.diff(want)} / ${want.diff(got)}")
    assert(got.nonEmpty, "fixture produced no candidate pairs — test is vacuous")
  }

  test("minhash bucket cap bounds identical-doc floods without losing normal pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val flood = (0 until 200).map(i => (i.toLong, "the same exact flooded document text repeated verbatim many times over"))
    val nearDup = Seq(
      (1000L, "a genuinely distinct document about stream processing engines and shuffles"),
      (1001L, "a genuinely distinct document about stream processing engines and shuffling"))
    val docs = (flood ++ nearDup).toDF("doc_id", "text")
    val capped = graft.operators.Dedup.minhashLsh(docs, "doc_id", "text", maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // flooded bucket (200 members) dropped: no pairs among flood ids
    assert(!capped.exists { case (a, b) => a < 200 && b < 200 })
    // the normal near-dup pair survives in its own small bucket
    assert(capped.contains((1000L, 1001L)))
  }

  test("corpusDedup maxBucket passthrough: NEAR-identical flood capped, bounded clique still deduped") {
    import spark.implicits._
    // exact dedup can't collapse these: every doc is distinct text, but
    // the 120-member family shares all its band buckets (the
    // boilerplate-with-noise shape of an uncurated crawl). The
    // 3-member clique is what the near-dup stage must still catch.
    val boiler = "boilerplate navigation header footer copyright terms privacy contact about products"
    val flood = (0 until 120).map(i => (i.toLong, s"$boiler page$i"))
    val clique = Seq(
      (2000L, "a carefully written reference article on catalyst optimizer rules and physical planning"),
      (2001L, "a carefully written reference article on catalyst optimizer rules and physical planning v2"),
      (2002L, "a carefully written reference article on catalyst optimizer rules and physical planning v3"))
    val docs = (flood ++ clique).toDF("doc_id", "text")
    val kept = graft.operators.Dedup
      .corpusDedup(docs, "doc_id", "text", minEst = 0.5, maxBucket = 50)
      .collect().map(_.getLong(0)).toSet
    // capped flood: every family member survives (recall forfeited
    // inside flooded buckets — the documented cap contract)
    assert((0L until 120L).forall(kept.contains))
    // the small clique still collapses to its min id
    assert(kept.contains(2000L) && !kept.contains(2001L) && !kept.contains(2002L))
    // default (unbounded) still collapses the flood family
    val unbounded = graft.operators.Dedup
      .corpusDedup(docs, "doc_id", "text", minEst = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(unbounded.count(_ < 120L) < 120)
  }

  test("corpusDedupKeepBest maxBucket passthrough: flood capped, quality winner still kept") {
    import spark.implicits._
    // same corpus shape as the corpusDedup case — keepBest is exactly
    // the quality-aware dedup an UNCURATED crawl runs, where the
    // 16.6 GB soak measured the band-bucket flood
    val boiler = "boilerplate navigation header footer copyright terms privacy contact about products"
    val flood = (0 until 120).map(i => (i.toLong, s"$boiler page$i"))
    val clique = Seq(
      (2000L, "a carefully written reference article on catalyst optimizer rules and physical planning"),
      (2001L, "a carefully written reference article on catalyst optimizer rules and physical planning v2"))
    val docs = (flood ++ clique).toDF("doc_id", "text")
    // 2001 outscores 2000: keepBest must keep the HIGHER-quality id
    import org.apache.spark.sql.functions.{col, when}
    val scores = docs.select(col("doc_id"),
      when(col("doc_id") === 2001L, 9.0).otherwise(1.0).as("q"))
    val kept = graft.operators.Dedup
      .corpusDedupKeepBest(docs, scores, "doc_id", "text", "q",
        minEst = 0.5, maxBucket = 50)
      .collect().map(_.getLong(0)).toSet
    // capped flood: every family member survives (the cap contract)
    assert((0L until 120L).forall(kept.contains))
    // the near-dup pair still resolves, by QUALITY not id
    assert(kept.contains(2001L) && !kept.contains(2000L))
    // default (unbounded) still collapses the flood family
    val unbounded = graft.operators.Dedup
      .corpusDedupKeepBest(docs, scores, "doc_id", "text", "q", minEst = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(unbounded.count(_ < 120L) < 120)
  }

  test("persisted LSH index: probe equals the ad-hoc knnLsh answer, corpus not rescanned") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_lshidx").toString
    Similarity.buildLshIndex(emb, "vec_id", "embedding", dir)
    val queries = emb.filter(col("vec_id") < 10)
    val got = Similarity.knnLshProbe(spark, dir, queries, "vec_id", "embedding", k = 5)
    val want = Similarity.knnLsh(emb, "vec_id", "embedding", nQueries = 10, k = 5)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the probe plan reads the PREBUILT index — the only scans are the
    // index files and the probe batch, never a corpus re-bucketing
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("buckets"), s"probe should scan the persisted bucket table:\n$plan")
  }

  test("index append: probing after append equals one index built from the union") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val first = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 =!= 0)
    val grown = java.nio.file.Files.createTempDirectory("graft_lshidx_a").toString
    Similarity.buildLshIndex(first, "vec_id", "embedding", grown)
    Similarity.appendToLshIndex(batch, "vec_id", "embedding", grown)
    val whole = java.nio.file.Files.createTempDirectory("graft_lshidx_b").toString
    Similarity.buildLshIndex(emb, "vec_id", "embedding", whole)
    val queries = emb.filter(col("vec_id") < 10)
    val a = Similarity.knnLshProbe(spark, grown, queries, "vec_id", "embedding", k = 5)
    val b = Similarity.knnLshProbe(spark, whole, queries, "vec_id", "embedding", k = 5)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("knnIvfPq: cell-restricted ADC agrees with exhaustive ADC on shared pairs") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val ivfpq = Similarity.knn(emb, "vec_id", "embedding", 10, 5,
      AnnSpec(Coarse.Mod(), Code.Pq()))
    val plan = ivfpq.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TopKPerKey"), s"IVFPQ cut fell off TopKPerKey:\n$plan")
    val rows = ivfpq.collect()
    assert(rows.nonEmpty && rows.map(_.getLong(0)).distinct.length == 10)
    // same codes + same distance tables ⇒ any (query, neighbor) pair
    // both searches emit must carry the IDENTICAL approximate distance
    val full = Similarity.knn(emb, "vec_id", "embedding", 10, 5, AnnSpec(code = Code.Pq()))
      .select(col("query_id"), col("neighbor_id"), col("adist").as("adist_full"))
    val joined = ivfpq.join(full, Seq("query_id", "neighbor_id"))
    assert(joined.filter(col("adist") =!= col("adist_full")).count() == 0,
      "cell-restricted ADC distance diverged from exhaustive ADC")
  }

  test("persisted PQ index: probe equals the ad-hoc knnPq answer, vectors never read") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx").toString
    Similarity.buildAnnIndex(emb, "vec_id", "embedding", dir, AnnSpec(code = Code.Pq()))
    // probe batch as in-memory rows — so the plan below proves the
    // CORPUS vectors are never read (probes need not be index members)
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .toSeq.toDF("vec_id", "embedding")
    val got = Similarity.knnProbe(spark, dir, queries, "vec_id", "embedding", k = 5)
    val want = Similarity.knn(emb, "vec_id", "embedding", nQueries = 10, k = 5,
      spec = AnnSpec(code = Code.Pq()))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the probe reads the persisted CODE table; the corpus parquet
    // appears nowhere in the plan (codes are 32× smaller)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("codes"), s"probe should scan the persisted code table:\n$plan")
    assert(!plan.contains("embeddings.parquet"),
      s"probe re-read the corpus vectors:\n$plan")
  }

  test("persisted PQ index built with trainIters: probe equals ad-hoc knnPqTrained") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx_t").toString
    Similarity.buildAnnIndex(emb, "vec_id", "embedding", dir,
      AnnSpec(code = Code.Pq(trainIters = 2)))
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .toSeq.toDF("vec_id", "embedding")
    val got = Similarity.knnProbe(spark, dir, queries, "vec_id", "embedding", k = 5)
    val want = Similarity.knn(emb, "vec_id", "embedding", nQueries = 10, k = 5,
      spec = AnnSpec(code = Code.Pq(trainIters = 2)))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "trained-index probe diverged from ad-hoc trained ADC")
  }

  test("PQ index append encodes with the STORED codebook, not a re-sampled one") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val first = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx_a").toString
    Similarity.buildAnnIndex(first, "vec_id", "embedding", dir, AnnSpec(code = Code.Pq()))
    Similarity.appendToAnnIndex(batch, "vec_id", "embedding", dir)
    // the grown index must answer exactly like the union encoded under
    // the FIRST half's codebook (PQ codebooks are data-dependent, so
    // "rebuild on the union" would sample different seeds — the append
    // contract is codebook stability)
    val cbs = Similarity.pqCodebooks(first, "vec_id", "embedding")
    val wantCodes = Similarity.pqEncodeWith(emb, "vec_id", "embedding", cbs)
      .orderBy("vec_id").collect().toSeq
    val gotCodes = spark.read.parquet(s"$dir/codes")
      .orderBy("vec_id").collect().toSeq
    assert(gotCodes == wantCodes)
  }

  test("decontaminateSemantic: planted eval twin is flagged, scan is broadcast-shaped") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val isEval = col("vec_id") % 50 === 7
    val eval = emb.filter(isEval)
    // plant a train vector IDENTICAL to eval vector 7 — paraphrase-proof
    // contamination the n-gram screen can't see
    val twin = eval.filter(col("vec_id") === 7)
      .collect().map(r => (999999L, r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    val train = emb.filter(!isEval).select("vec_id", "embedding").unionAll(twin)
    val out = Similarity.decontaminateSemantic(train, eval, "vec_id", "embedding")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"eval side must broadcast, not shuffle-join:\n$plan")
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.size == train.count())
    val p = rows(999999L)
    assert(p.getAs[Double]("max_eval_cos") == 1.0)
    assert(p.getAs[Long]("nearest_eval_id") == 7L)
    assert(p.getAs[Boolean]("contaminated"))
    // sanity: every score is a cosine
    assert(rows.values.forall(r => math.abs(r.getAs[Double]("max_eval_cos")) <= 1.0))
  }

  test("decontaminateSemantic: empty eval set fails fast, never an empty report") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    // an empty eval set (wrong path/filter) would cross-join to ZERO
    // rows — a report a caller misreads as "nothing contaminated"
    val ex = intercept[IllegalArgumentException] {
      Similarity.decontaminateSemantic(emb, emb.filter(lit(false)),
        "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("eval set is empty"))
  }

  test("knnIvfPqResidual: recall floor vs brute force; residual quantization beats raw on seed cells") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val res = Similarity.knn(emb, "vec_id", "embedding", 10, 5,
      AnnSpec(Coarse.Mod(), Code.ResidualPq()))
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.knn(emb, "vec_id", "embedding", 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"residual IVFADC recall@5 vs exact cosine: $recall%.3f")
    // cell restriction caps recall like IVF-PQ; random 64-dim
    // embeddings with sampled codebooks are PQ's hard case — the floor
    // is above random chance, parity with the non-residual form's bar
    assert(recall >= 0.1, f"residual ADC recall $recall%.3f below floor")
    assert(got.size == truth.size, "must return a full top-k per query")
    // full top-k plan shape: broadcast joins only, TopKPerKey cut
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"non-broadcast product:\n$plan")
    assert(plan.contains("TopKPerKey"), s"cut fell off TopKPerKey:\n$plan")
  }

  test("persisted residual-IVFADC index: probe equals direct, scan prunes to probed cells") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val path = "target/test_ivfpq_idx"
    Similarity.buildAnnIndex(emb, "vec_id", "embedding", path,
      AnnSpec(Coarse.Mod(), Code.ResidualPq()))
    val probeQ = emb.filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    val probe = Similarity.knnProbe(spark, path, probeQ,
      "vec_id", "embedding", 5, nProbes = 4)
    val direct = Similarity.knn(emb, "vec_id", "embedding", 10, 5,
      AnnSpec(Coarse.Mod(), Code.ResidualPq()))
    assert(probe.exceptAll(direct).isEmpty && direct.exceptAll(probe).isEmpty,
      "index probe diverged from the direct residual IVFADC")
    // the probed-cells literal must reach the code scan as a
    // partition filter — the IVF promise materialized on disk
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"code scan not pruned to probed cells:\n$plan")
  }

  test("residual-IVFADC probe: candidate coverage grows monotonically with nProbes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val path = "target/test_ivfpq_idx_probes"
    Similarity.buildAnnIndex(emb, "vec_id", "embedding", path,
      AnnSpec(Coarse.Mod(), Code.ResidualPq()))
    val probeQ = emb.filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    val truth = Similarity.knn(emb, "vec_id", "embedding", 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(p: Int): Set[(Long, Long)] =
      Similarity.knnProbe(spark, path, probeQ, "vec_id", "embedding", 5, nProbes = p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = Seq(1, 2, 4).map(p => p -> (hits(p) & truth).size.toDouble / truth.size)
    info("residual IVFADC probe recall@5: " +
      recall.map { case (p, r) => f"$p probes $r%.2f" }.mkString(", "))
    // more probed cells never SHRINK the candidate pool; PQ re-ranking
    // within a larger pool can reshuffle the top-k, so the pinned
    // contract is a bounded drop, never a collapse
    recall.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      assert(rb >= ra - 0.1,
        f"recall collapsed from $ra%.2f ($pa probes) to $rb%.2f ($pb probes)")
    }
    assert(recall.toMap.apply(4) >= 0.1, "default-probe recall below floor")
  }

  test("residual-IVFADC append uses STORED geometry; probe sees old and new vectors") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 4)
    val batch = emb.filter(col("vec_id") % 5 === 4)
    val path = "target/test_ivfpq_idx_append"
    Similarity.buildAnnIndex(old, "vec_id", "embedding", path,
      AnnSpec(Coarse.Mod(), Code.ResidualPq()))
    val cbsBefore = spark.read.parquet(s"$path/codebook").collect().toSet
    Similarity.appendToAnnIndex(batch, "vec_id", "embedding", path)
    // geometry untouched: append must never re-sample centroids/codebook
    assert(spark.read.parquet(s"$path/codebook").collect().toSet == cbsBefore)
    val probeQ = emb.filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    val got = Similarity.knnProbe(spark, path, probeQ,
      "vec_id", "embedding", 5, nProbes = 4)
    // appended vectors are probe-visible...
    val batchIds = batch.select("vec_id").as[Long].collect().toSet
    assert(got.select("neighbor_id").as[Long].collect().exists(batchIds),
      "no appended vector ever surfaces as a neighbor")
    // ...and every query still gets a full top-k
    assert(got.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
  }

  test("prototypeScores: total, cells agree with kmeans, rank 1 is each cell's max cosine") {
    val emb = Tables.embeddings(spark, sf)
    val ps = Similarity.prototypeScores(emb, "vec_id", "embedding")
    assert(ps.count() == emb.count(), "every vector must be scored")
    // the argmin struct's trailing cosine must not perturb assignment
    val km = Similarity.kmeans(emb, "vec_id", "embedding")
    val cells = ps.select("vec_id", "cluster_id")
    assert(cells.exceptAll(km).isEmpty && km.exceptAll(cells).isEmpty,
      "prototype cells diverged from kmeans assignment")
    val rows = ps.collect()
    assert(rows.forall(r => math.abs(r.getAs[Double]("proto_cos")) <= 1.0 + 1e-9))
    rows.groupBy(_.getAs[Int]("cluster_id")).foreach { case (cid, rs) =>
      val top = rs.filter(_.getAs[Int]("rnk") == 1)
      assert(top.length == 1, s"cluster $cid must have exactly one rank-1 row")
      assert(top.head.getAs[Double]("proto_cos") ==
        rs.map(_.getAs[Double]("proto_cos")).max,
        s"cluster $cid rank 1 is not the most prototypical vector")
    }
    // scoring is map-side broadcast-codebook: no join anywhere (the
    // only exchange is the within-cluster rank window)
    val plan = ps.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"prototype scan grew a join:\n$plan")
  }

  test("knnLsh candidates carry no vector payload through the dedup shuffle") {
    val emb = Tables.embeddings(spark, sf)
    val plan = Similarity.knnLsh(emb, "vec_id", "embedding", 10, 5)
      .queryExecution.executedPlan.toString
    // the distinct (HashAggregate keys) must be over the two id columns only
    val dedupAggs = plan.linesIterator.filter(l =>
      l.contains("HashAggregate(keys=[query_id") || l.contains("HashAggregate(keys=[table"))
    assert(dedupAggs.forall(l => !l.contains("qv") && !l.contains("nv")),
      s"vector payload in candidate dedup:\n$plan")
  }

  test("kmeans: total assignment, deterministic, WCSS non-increasing with iterations") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val a2 = Similarity.kmeans(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(a2.count() == emb.count())
    assert(a2.filter(col("cluster_id") < 0 || col("cluster_id") >= 8).count() == 0)
    assert(a2.select("cluster_id").distinct().count() >= 2)
    assert(a2.exceptAll(Similarity.kmeans(emb, "vec_id", "embedding", 8, 2)).isEmpty)
    // Lloyd improves (or holds) the within-cluster L2 cost each iteration
    def wcss(iters: Int): Double = {
      val assigned = Similarity.kmeans(emb, "vec_id", "embedding", 8, iters)
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      val centers = assigned
        .select(col("cluster_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cluster_id", "pos").agg(avg(col("v").cast("double")).as("c"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assigned
        .select(col("cluster_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .collect().map { r =>
          val d = r.getFloat(2) - centers((r.getInt(0), r.getInt(1)))
          d * d
        }.sum
    }
    val w1 = wcss(1); val w2 = wcss(2)
    assert(w2 <= w1 * 1.0001, s"wcss grew: iter1=$w1 iter2=$w2")
  }

  test("ADC-shortlist exact re-rank: recall never below the plain residual IVFADC") {
    val emb = Tables.embeddings(spark, sf)
    val truth = Similarity.knn(emb, "vec_id", "embedding", 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Similarity.knn(emb, "vec_id", "embedding", 10, 5,
      AnnSpec(Coarse.Mod(), Code.ResidualPq()))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.knn(emb, "vec_id", "embedding", 10, 5,
      AnnSpec(Coarse.Mod(), Code.ResidualPq(), refine = Some(20)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rp = (plain & truth).size.toDouble / truth.size
    val rr = (refined & truth).size.toDouble / truth.size
    info(f"residual IVFADC recall@5: plain $rp%.2f, refined(20) $rr%.2f")
    // the shortlist is fixed; exact re-scoring can only improve the
    // ordering inside it — recall must not drop
    assert(rr >= rp - 1e-9, f"refine lost recall: $rp%.2f -> $rr%.2f")
    // and the refined set is drawn from the candidate pool (per-query
    // shortlist of 20), every query still gets a full top-5
    assert(refined.size == 50)
  }

  test("trained coarse quantizer: recall-vs-nProbes monotone with a floor at the default") {
    val emb = Tables.embeddings(spark, sf)
    val truth = Similarity.knn(emb, "vec_id", "embedding", 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(p: Int): Set[(Long, Long)] =
      Similarity.knn(emb, "vec_id", "embedding", 10, 5, AnnSpec(Coarse.Trained(), nProbes = p))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = Seq(1, 2, 4).map(p => p -> (hits(p) & truth).size.toDouble / truth.size)
    info("trained-IVF recall@5: " +
      recall.map { case (p, r) => f"$p probes $r%.2f" }.mkString(", "))
    recall.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      assert(rb >= ra - 1e-9, f"recall fell from $ra%.2f ($pa) to $rb%.2f ($pb probes)")
    }
    assert(recall.toMap.apply(4) >= 0.5, "trained-IVF default-probe recall below floor")
  }

  test("trained residual-IVFADC index: probe == ad-hoc trained; params record codebook source") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val path = "target/test_ivfpq_idx_trained"
    Similarity.buildAnnIndex(emb, "vec_id", "embedding", path,
      AnnSpec(Coarse.Trained(kCoarse = 16), Code.ResidualPq()))
    val params = spark.read.parquet(s"$path/params").collect()(0)
    assert(params.getAs[String]("coarse_src") == "trained")
    assert(params.getAs[Int]("coarse_k") == 16)
    val probeQ = emb.filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    val probe = Similarity.knnProbe(spark, path, probeQ,
      "vec_id", "embedding", 5, nProbes = 4)
    val direct = Similarity.knn(emb, "vec_id", "embedding", 10, 5,
      AnnSpec(Coarse.Trained(), Code.ResidualPq()))
    assert(probe.exceptAll(direct).isEmpty && direct.exceptAll(probe).isEmpty,
      "trained-index probe diverged from the ad-hoc trained IVFADC")
  }

  test("streaming ANN alerts replay == batch index probe thresholded on adist") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val emb = Tables.embeddings(spark, sf)
    val path = "target/test_ivfpq_idx_alerts"
    Similarity.buildAnnIndex(emb, "vec_id", "embedding", path,
      AnnSpec(Coarse.Trained(kCoarse = 16), Code.ResidualPq()))
    val queries = emb.filter(col("vec_id") < 10)
    val n = emb.count().toInt
    // batch truth: the full candidate set (k = corpus) cut at a
    // threshold that keeps a non-trivial alert set
    val all = Similarity.knnProbe(spark, path,
      queries, "vec_id", "embedding", n, nProbes = 4)
    val maxDist = all.select("adist").as[Double].collect().sorted.apply(30)
    val expected = all.filter(col("adist") <= maxDist)
      .select("query_id", "neighbor_id", "adist")
    val ms = MemoryStream[(Long, Seq[Float])]
    val alerts = graft.streaming.DocStreams.annAlerts(
      ms.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
      "vec_id", "embedding", path, maxDist, nProbes = 4)
    val q = alerts.writeStream.format("memory").queryName("annalerts")
      .outputMode("append").start()
    try {
      val rows = queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      ms.addData(rows.take(5).toSeq)
      q.processAllAvailable()
      ms.addData(rows.drop(5).toSeq)
      q.processAllAvailable()
      val got = spark.table("annalerts")
      assert(got.count() > 0, "alert replay produced nothing")
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        "streamed ANN alert set diverged from the batch probe")
    } finally q.stop()
  }

  test("batch annAlerts == thresholded index probe, scanning ONLY probed cells") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val path = "target/test_ivfpq_idx_alerts_pruned"
    Similarity.buildAnnIndex(emb, "vec_id", "embedding", path,
      AnnSpec(Coarse.Trained(kCoarse = 16), Code.ResidualPq()))
    val queries = emb.filter(col("vec_id") < 10)
    val n = emb.count().toInt
    val all = Similarity.knnProbe(spark, path,
      queries, "vec_id", "embedding", n, nProbes = 4)
    val maxDist = all.select("adist").as[Double].collect().sorted.apply(30)
    val expected = all.filter(col("adist") <= maxDist)
      .select("query_id", "neighbor_id", "adist")
    // a non-streaming query set knows its probed cells up front: the
    // code scan is pruned to them instead of the stream-static full read
    val pruned = graft.streaming.DocStreams.annAlerts(
      queries, "vec_id", "embedding", path, maxDist, nProbes = 4)
    assert(pruned.count() > 0, "pruned alert set is empty")
    assert(pruned.exceptAll(expected).isEmpty && expected.exceptAll(pruned).isEmpty,
      "pruned alert set diverged from the thresholded batch probe")
    // the point of the operator: the code scan carries a LITERAL
    // partition filter on centroid_id (only probed cells' files read)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"code scan not partition-pruned to the probed cells:\n$plan")
    // isin renders IN (...) below and INSET at-or-above the set-
    // conversion threshold — either form is the literal cell filter
    assert(plan.contains("centroid_id#") &&
      (plan.contains(" IN (") || plan.contains(" INSET ")),
      s"expected a literal IN/INSET cell filter on the code scan:\n$plan")
  }

  test("ivfAssignCells kernel == window form, incl. NaN zero-vectors and exact ties") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val emb0 = Tables.embeddings(spark, sf)
    val dims = emb0.select(size(col("embedding"))).first().getInt(0)
    // plant a zero vector (cosine NaN against every centroid) and an
    // exact duplicate of a centroid (6dp-and-beyond tie candidates)
    val centroidDup = emb0.filter(col("vec_id") % 50 === 0)
      .select(lit(900001L).as("vec_id"), col("embedding")).limit(1)
    val zeroVec = Seq((900002L, Array.fill(dims)(0f).toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val emb = emb0.select(col("vec_id"), col("embedding"))
      .unionByName(centroidDup).unionByName(zeroVec)
    val centroids = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val kernel = Similarity.ivfAssignCells(
        emb.select(col("vec_id"), col("embedding")), "embedding", centroids)
      .select(col("vec_id"), col("centroid_id"))
    // the spec-pinned parity reference: the round-8 window form
    val wa = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    val window = emb.join(broadcast(centroids))
      .select(col("vec_id"), col("centroid_id"),
        graft.functions.VectorFunctions.cosineNative(col("embedding"), col("cv")).as("csim"))
      .withColumn("crnk", org.apache.spark.sql.functions.row_number().over(wa))
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("centroid_id"))
    assert(kernel.exceptAll(window).isEmpty && window.exceptAll(kernel).isEmpty,
      "kernel assignment diverged from the window parity reference")
    // and the kernel plan is exchange-free (the whole point)
    val plan = kernel.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).isEmpty,
      s"kernel assignment shuffles:\n$plan")
    // the multi-probe query side: ProbeCellsBroadcast ≡ crnk <= nProbes
    val cells = Similarity.ivfCells(centroids).get
    Seq(2, 4).foreach { p =>
      val probed = cells.probe(emb.select(col("vec_id"), col("embedding")), "embedding", p)
        .select(col("vec_id"), col("centroid_id"))
      val windowP = emb.join(broadcast(centroids))
        .select(col("vec_id"), col("centroid_id"),
          graft.functions.VectorFunctions.cosineNative(col("embedding"), col("cv")).as("csim"))
        .withColumn("crnk", org.apache.spark.sql.functions.row_number().over(wa))
        .filter(col("crnk") <= p)
        .select(col("vec_id"), col("centroid_id"))
      assert(probed.exceptAll(windowP).isEmpty && windowP.exceptAll(probed).isEmpty,
        s"probe kernel diverged from the window form at nProbes=$p")
      assert(probed.count() == emb.count() * p, s"nProbes=$p must fan out to $p cells")
    }
  }

  test("ivfResidualRows (index build scan) has no shuffle exchange") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val centroids = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val rows = Similarity.residualRows(emb, "vec_id", "embedding",
      Similarity.ivfCells(centroids).get)
    assert(rows.count() == emb.count(), "build scan must keep every vector")
    val plan = rows.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).isEmpty,
      s"100 TB build path shuffles:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid-vector fetch should be a broadcast hash join:\n$plan")
  }

  test("IVF index build records cellstats; hot cell triggers a WARN, never a cap") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val dims = emb.select(size(col("embedding"))).first().getInt(0)
    // duplicate-flood: 400 copies of one direction land in one cell
    val hot = emb.limit(1).collect()(0).getSeq[Float](1)
    val flood = (0 until 400).map(i => (700000L + i, hot)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val path = "target/test_ivfpq_idx_skew"
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    try Similarity.buildAnnIndex(
      emb.select(col("vec_id"), col("embedding")).unionByName(flood),
      "vec_id", "embedding", path, AnnSpec(Coarse.Mod(), Code.ResidualPq()))
    finally System.setErr(realErr)
    val stats = spark.read.parquet(s"$path/cellstats")
    val total = stats.agg(sum("n")).first().getLong(0)
    assert(total == emb.count() + 400, "cellstats must account for every row")
    val maxCell = stats.agg(max("n")).first().getLong(0)
    assert(maxCell >= 400, "flood cell missing from cellstats")
    assert(errBuf.toString.contains("hot cell"),
      s"no hot-cell WARN for a ${maxCell}/$total flood; stderr: ${errBuf.toString.take(200)}")
    assert(dims > 0) // fixture sanity
  }

  test("appendToIvfPqIndex refuses a mis-dimensioned batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val path = "target/test_ivfpq_idx_dims"
    Similarity.buildAnnIndex(emb, "vec_id", "embedding", path,
      AnnSpec(Coarse.Mod(), Code.ResidualPq()))
    val bad = Seq((800000L, Seq.fill(16)(0.5f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToAnnIndex(bad, "vec_id", "embedding", path)
    }
    assert(e.getMessage.contains("dims"), e.getMessage)
  }

  test("planeVec: the byte-built digest prefix gives the hex form's doubles, bit for bit") {
    // planes 0-511 cover every LSH table layout (registry t·5+p and
    // t·16+p, lshBucket's planeOffset); 1000+ are randomProject's
    for (plane <- (0 until 512) ++ (1000 until 1064)) {
      val got = Similarity.planeVec(plane, 128).map(java.lang.Double.doubleToRawLongBits)
      val want = ReferenceForms.planeVecHex(plane, 128).map(java.lang.Double.doubleToRawLongBits)
      assert(got.sameElements(want), s"plane $plane")
    }
  }

  test("a repeat kmeans build keeps the session's graft function builders") {
    val registry = spark.sessionState.functionRegistry
    val dot = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")
    val emb = Tables.embeddings(spark, sf)
    Similarity.kmeans(emb, "vec_id", "embedding", k = 4, iters = 1)
    val first = registry.lookupFunctionBuilder(dot).get
    Similarity.kmeans(emb, "vec_id", "embedding", k = 4, iters = 1)
    assert(registry.lookupFunctionBuilder(dot).get eq first)
  }
}
