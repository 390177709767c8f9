package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** GB-scale soak of the dedup family — the "would this hold at 1000×"
  * check run as a measurement, not a thought experiment. sf0.1 is
  * ~1.5 MB of document text; the axes below scale it to multi-GB with
  * two different generators because replication CHANGES the problem:
  *
  *  - `corpus_dedup` gets an EXACT-copY flood (every doc × mult): the
  *    worst realistic crawl shape, and precisely the case its
  *    exact-dedup-first composition claims to collapse before LSH.
  *  - `dedup_minhash` gets a CROSS-COMBINED corpus (doc_i ⊕ doc_j for
  *    mult distinct j per i): every generated doc is textually
  *    distinct, two combined docs sharing one source sit near
  *    jaccard ≈ 1/3 — BELOW the 0.5 near-dup bar but ABOVE the random
  *    band-collision floor, so the LSH bucket join carries a heavy
  *    honest candidate load instead of an artificial quadratic clique.
  *  - `semantic_clusters` gets summed-vector embeddings (a+b for the
  *    same pairing): genuinely new vectors whose shared-source cosine
  *    sits near 0.5, probing the bucketed pair join + iterative CC at
  *    100× the vector count.
  *
  * Prints one JSON line per axis: wall sec, input MB, MB/s, TOTAL and
  * PEAK-stage shuffle write bytes (the numbers that decide whether a
  * plan survives a 1000-executor run), and output rows. Recorded in
  * SURVEY §6.
  *
  * Run: sbt "runMain graft.tools.SoakBench [targetTextMB] [vecMult]"
  */
object SoakBench {
  private def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return 0L
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val targetMb = args.headOption.map(_.toInt).getOrElse(2000)
    val vecMult = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = graft.GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, "/root/testdata/sf0.1")
    val baseMb = docs.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    val n = docs.count()

    // which axes to run: "flood,minhash,vectors,ivf,bm25,bm25zipf,
    // winnow,cdc" (default all) — lets a failed axis re-run without
    // regenerating/re-timing the rest
    val axes = args.lift(3).map(_.split(',').toSet)
      .getOrElse(Set("flood", "minhash", "vectors", "ivf", "bm25",
        "bm25zipf", "winnow", "cdc", "sigagree", "pq", "gramstats",
        "lmscore", "bpe", "mixaudit", "proto", "leakage", "semgate",
        "ingest", "htmlx", "ivfassign", "linededup", "chunks", "shards",
        "crawlpipe", "warc", "robots", "warcgz", "links", "revisit",
        "fetch", "encfix"))

    def axis(name: String, inputMb: Double)(body: => DataFrame): Unit = {
      // warm-up run then timed run, like ThroughputBench; gc between
      // them so the warm run's dead shuffle/checkpoint blocks are
      // released before the timed run doubles the footprint (the
      // materializing axes otherwise hold 2× their working set on
      // disk at once)
      body.write.format("noop").mode("overwrite").save()
      System.gc()
      val m = graft.Profile.measure(spark, s"soak_$name")(
        body.write.format("noop").mode("overwrite").save()).orThrow
      val sec = m.wallSec
      val peakMb = m.stages.map(_.shuffleWrite).maxOption.getOrElse(0L) / 1e6
      println(f"""{"metric":"soak_$name","input_mb":$inputMb%.0f,"sec":$sec%.1f,"mb_per_sec":${inputMb / sec}%.1f,"shuffle_write_mb":${m.shuffleWriteBytes / 1e6}%.1f,"peak_stage_shuffle_mb":$peakMb%.1f}""")
      // multi-GB axes in one JVM: shuffle files outlive their stage
      // until the ContextCleaner's weak refs collect — with a mostly
      // idle 8 GB heap that never happens on its own, and the disk
      // fills with dead spills (first soak run died exactly that way)
      System.gc()
    }

    // ---- axis 1: exact-copy flood → corpus_dedup --------------------
    if (axes("flood")) {
    val floodMult = math.max(1, (targetMb / baseMb).toInt)
    val floodPath = "target/soak_flood"
    docs.select(explode(sequence(lit(1), lit(floodMult))).as("copy"), col("doc_id"), col("text"))
      .select((col("doc_id") * floodMult + col("copy")).as("doc_id"), col("text"))
      .repartition(32).write.mode("overwrite").parquet(floodPath)
    val flood = spark.read.parquet(floodPath)
    val floodMb = baseMb * floodMult
    axis("corpus_dedup_flood", floodMb) {
      graft.operators.Dedup.corpusDedup(flood, "doc_id", "text")
    }
    }

    // ---- axis 2: cross-combined distinct corpus → dedup_minhash -----
    // doc (i,k) = text_i ⊕ text_{(i+k) mod n}: all distinct, shared-
    // source jaccard ≈ 1/3 — a heavy candidate load under the 0.5 bar.
    // maxBucket=200 is the production skew guard (same as the flood
    // spec); without it one hot band bucket serializes a task.
    if (axes("minhash")) {
    val combMult = math.max(1, (targetMb / (2 * baseMb)).toInt)
    val combPath = "target/soak_combined"
    val a = docs.select(col("doc_id").as("a_id"), col("text").as("a_text"),
        explode(sequence(lit(1), lit(combMult))).as("k"))
      .withColumn("b_id", (col("a_id") + col("k")) % n)
    val b = docs.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    a.join(b, "b_id")
      .select((col("a_id") * combMult + col("k")).as("doc_id"),
        concat(col("a_text"), lit(" "), col("b_text")).as("text"))
      .repartition(32).write.mode("overwrite").parquet(combPath)
    val combined = spark.read.parquet(combPath)
    val combMb = combined.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    axis("dedup_minhash_combined", combMb) {
      graft.operators.Dedup.minhashLsh(combined, "doc_id", "text", maxBucket = 200)
        .filter(col("est_jaccard") >= 0.5)
    }
    }

    // ---- axis 3: summed-vector embeddings → semantic_clusters -------
    // ("vecgen" regenerates target/soak_vectors without the timing
    // runs — for axes that only consume the corpus, e.g. ivfassign at
    // a different vecMult)
    if (axes("vectors") || axes("vecgen")) {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val nv = emb.count()
    val ea = emb.select(col("vec_id").as("a_id"), col("embedding").as("av"),
        explode(sequence(lit(1), lit(vecMult))).as("k"))
      .withColumn("b_id", (col("a_id") + col("k")) % nv)
    val eb = emb.select(col("vec_id").as("b_id"), col("embedding").as("bv"))
    val bigPath = "target/soak_vectors"
    ea.join(eb, "b_id")
      .select((col("a_id") * vecMult + col("k")).as("vec_id"),
        zip_with(col("av"), col("bv"), (x, y) => x + y).as("embedding"))
      .repartition(32).write.mode("overwrite").parquet(bigPath)
    }
    if (axes("vectors")) {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val nv = emb.count()
    val bigEmb = spark.read.parquet("target/soak_vectors")
    val vecMb = nv * vecMult * 64 * 8 / 1e6
    val cosT = args.lift(2).map(_.toDouble).getOrElse(0.7)
    // size the hyperplane count to the corpus (2^nPlanes buckets/table;
    // target ~128 vectors per bucket) — the 5-plane oracle default has
    // 32 buckets TOTAL and melts down quadratically at this scale; see
    // the embeddingPairs scaladoc
    val nVec = nv * vecMult
    val planes = math.max(5, math.ceil(
      math.log(nVec / 128.0) / math.log(2)).toInt)
    // CLUSTERED embeddings concentrate into few sign patterns, so many
    // buckets sit AT a generous cap: at maxBucket=2000 this axis
    // generated tens of billions of candidate pairs and 49 GB of
    // spills (measured — sign-LSH planes split uniform mass, not
    // cluster mass). A tight cap bounds dense-region candidates at the
    // cost of recall inside those regions; cluster-aware IVF (knn_ivf)
    // is the structural answer for such corpora.
    def pairs = graft.operators.Similarity.embeddingPairs(
      bigEmb, "vec_id", "embedding", cosT, nPlanes = planes, maxBucket = 500)
    val nEdges = pairs.count()
    println(f"""{"metric":"soak_pair_graph","vectors":$nVec,"n_planes":$planes,"cos_threshold":$cosT,"edges":$nEdges}""")
    axis("semantic_clusters_vectors", vecMb) {
      graft.operators.Graph.connectedComponents(
        pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    }
    }

    // ---- axis 5: BM25 index build + probe on the DISTINCT cross-
    // combined corpus (axis 2's generator — a flood of exact copies
    // would dedup into the same postings): build scans the corpus
    // once; the probe must answer from partition-pruned postings at
    // interactive cost regardless of corpus size -------------------
    if (axes("bm25")) {
    val corpus = spark.read.parquet("target/soak_combined")
    val cMb = corpus.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    val idxPath = "target/soak_bm25_idx"
    val tb = System.nanoTime()
    graft.operators.TextAnalysis.buildBm25Index(corpus, "doc_id", "text", idxPath)
    val secB = (System.nanoTime() - tb) / 1e9
    println(f"""{"metric":"soak_bm25_build","input_mb":$cMb%.0f,"sec":$secB%.1f,"mb_per_sec":${cMb / secB}%.1f}""")
    // warm + timed probe (10 queries, top-10 each)
    val qs = graft.registry.TextQueries.Bm25Queries
    graft.operators.TextAnalysis.bm25SearchIndexed(spark, idxPath, qs, 10)
      .write.format("noop").mode("overwrite").save()
    val tp = System.nanoTime()
    graft.operators.TextAnalysis.bm25SearchIndexed(spark, idxPath, qs, 10)
      .write.format("noop").mode("overwrite").save()
    val secP = (System.nanoTime() - tp) / 1e9
    println(f"""{"metric":"soak_bm25_probe","indexed_mb":$cMb%.0f,"queries":${qs.size},"sec":$secP%.2f}""")
    }

    // ---- axis 6: BM25 on a NATURAL (zipfian) vocabulary ------------
    // axis 5's cross-combined corpus has a ~40-token vocabulary, so
    // probes hit ~30% of ALL postings — the worst case for
    // token-bucket pruning, and it under-sells the index. The
    // realistic shape is a zipf(1) ~100k-term vocabulary (rank =
    // ⌊V^u⌋ for uniform u inverts the zipf CDF): build at 1024
    // buckets (buckets ≫ probe terms — see buildBm25Index), probe
    // with mid-frequency terms, and report the fraction of postings
    // BYTES the probe actually reads (dir pruning × in-file
    // row-group pruning on the sorted token column).
    // zipf(1) corpus generator: ~100k-token vocabulary, head-heavy —
    // shared by the bm25zipf and bpe axes
    def genZipf(path: String, mb: Int): Unit = {
      val vocab = 100000
      val docLen = 200
      // head-heavy ranks average ~3 digits → ~5.5 bytes per "t<rank> "
      val nDocs = (mb * 1e6 / (docLen * 5.5)).toLong
      spark.range(nDocs).select(col("id").as("doc_id"),
          array_join(transform(sequence(lit(1), lit(docLen)), p =>
            concat(lit("t"), floor(pow(lit(vocab.toDouble),
              pmod(xxhash64(col("id"), p), lit(1000000)).cast("double")
                / lit(1000000.0))).cast("long"))), " ").as("text"))
        .repartition(32).write.mode("overwrite").parquet(path)
    }

    if (axes("bm25zipf")) {
    val zPath = "target/soak_zipf"
    genZipf(zPath, targetMb)
    val zdocs = spark.read.parquet(zPath)
    val zMb = zdocs.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    val zIdx = "target/soak_zipf_idx"
    val zBuckets = 1024
    val tzb = System.nanoTime()
    graft.operators.TextAnalysis.buildBm25Index(zdocs, "doc_id", "text",
      zIdx, buckets = zBuckets)
    val secZb = (System.nanoTime() - tzb) / 1e9
    val nVocab = spark.read.parquet(s"$zIdx/df").count()
    println(f"""{"metric":"soak_bm25_zipf_build","input_mb":$zMb%.0f,"vocab":$nVocab,"buckets":$zBuckets,"sec":$secZb%.1f,"mb_per_sec":${zMb / secZb}%.1f}""")
    // 10 queries × 3 mid-frequency terms (zipf ranks ~10²..10⁴ — the
    // discriminative band real queries live in)
    val zQs = (1 to 10).map(q =>
      (q, Seq(s"t${100 + q}", s"t${1000 + q * 7}", s"t${10000 + q * 97}")))
    def zProbe() = graft.operators.TextAnalysis
      .bm25SearchIndexed(spark, zIdx, zQs, 10)
      .write.format("noop").mode("overwrite").save()
    zProbe() // warm
    // bytes actually READ from files — post dir-pruning, post row-group
    // skip: the honest measure of how much of an index a probe touches
    val zm = graft.Profile.measure(spark, "soak_bm25_zipf_probe")(zProbe()).orThrow
    val secZp = zm.wallSec
    val postingsMb = dirBytes(s"$zIdx/postings") / 1e6
    val readMb = zm.inputBytes / 1e6
    val dirsTouched = zQs.flatMap(_._2).distinct
      .map(t => graft.operators.TextAnalysis.tkeyOf(t, zBuckets)).distinct.size
    println(f"""{"metric":"soak_bm25_zipf_probe","indexed_mb":$zMb%.0f,"queries":${zQs.size},"sec":$secZp%.2f,"postings_mb":$postingsMb%.1f,"read_mb":$readMb%.1f,"read_fraction":${readMb / math.max(postingsMb, 1e-9)}%.4f,"dirs_touched":$dirsTouched,"dirs_total":$zBuckets}""")
    }

    // ---- axis 7: winnow_overlap at GB scale --------------------------
    // The pair-join side is where the df-cap either holds or doesn't,
    // so the generator plants all three fingerprint populations a real
    // plagiarism corpus has:
    //   - FILLER: unique token soup (64-bit hash space → df ≈ 1) — the
    //     bulk fingerprint mass that must flow through the materialize +
    //     df-cap aggregation without ever reaching the pair join;
    //   - PLANTED pairs: docs (2m, 2m+1) share a 30-token run unique to
    //     the pair (≥ n+w−1 = 8 tokens ⇒ winnowing GUARANTEES a shared
    //     fingerprint; df = 2 survives the cap) — the recall side;
    //   - BOILERPLATE: one fixed 30-token header on half the corpus —
    //     its fingerprints have df ≈ nDocs/2; WITHOUT the cap they emit
    //     (nDocs/2)² /2 pairs (~10¹¹ at 2 GB: the quadratic
    //     catastrophe); the cap must drop them pre-join.
    // Reported edges ≈ planted-pair count ⇒ cap held AND recall held.
    if (axes("winnow")) {
    val wDocLen = 200
    val wBytes = wDocLen * 12.0 // "w<19-digit-hash> " ≈ 12 B/token head-weighted
    val wDocs = (targetMb * 1e6 / wBytes).toLong
    val nPlanted = 20000L
    val wPath = "target/soak_winnow"
    val soup = array_join(transform(sequence(lit(1), lit(wDocLen)), p =>
      concat(lit("w"), abs(xxhash64(col("id"), p)))), " ")
    val header = lit((1 to 30).map(i => s"hdr$i").mkString(" "))
    val planted = array_join(transform(sequence(lit(1), lit(30)), p =>
      concat(lit("r"), floor(col("id") / 2), lit("_"), p)), " ")
    spark.range(wDocs).select(col("id").as("doc_id"),
        concat_ws(" ",
          when(col("id") % 2 === 0, header).otherwise(lit("")),
          when(col("id") < nPlanted * 2, planted).otherwise(lit("")),
          soup).as("text"))
      .repartition(32).write.mode("overwrite").parquet(wPath)
    val wCorpus = spark.read.parquet(wPath)
    val wMb = wCorpus.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    axis("winnow_overlap_planted", wMb) {
      graft.operators.Dedup.winnowOverlap(wCorpus, "doc_id", "text")
    }
    val wEdges = graft.operators.Dedup.winnowOverlap(wCorpus, "doc_id", "text").count()
    println(f"""{"metric":"soak_winnow_recall","docs":$wDocs,"planted_pairs":$nPlanted,"emitted_pairs":$wEdges}""")
    }

    // ---- axis 8: cdc_containment at GB scale -------------------------
    // Reference = the sf0.1 corpus (chunked once, digests only); batch =
    // the 2 GB cross-combined corpus from axis 2 (every batch doc is a
    // concat of two reference docs, so matched_frac ≈ 1 minus the
    // junction chunk). The heavy side is batch chunking — one scan
    // through the native kernel — and the digest-only left_semi join;
    // shuffle volume must stay at digest scale (16 B × chunks), not
    // text scale, or the screen can't front a 100 TB ingest.
    if (axes("cdc")) {
    val batch = spark.read.parquet("target/soak_combined")
    val bMb = batch.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    axis("cdc_containment_combined", bMb) {
      graft.operators.Dedup.cdcContainment(batch, docs, "doc_id", "text")
    }
    }

    // ---- axis 9: SigAgreeExpr vs interpreted-HOF A/B ----------------
    // The round-6 kernel claim, isolated: candidate signatures off the
    // cross-combined corpus are paired (each doc × its next 4 ids) and
    // PERSISTED, so both variants time ONLY the per-pair agreement
    // computation over the same parquet — the exact hot loop the
    // bucket join feeds in dedup_minhash (the HOF twin is the parity
    // spec's aggregate(zip_with) form).
    if (axes("sigagree")) {
    val combined = spark.read.parquet("target/soak_combined")
    val sigs = graft.operators.Dedup.minhashSignatures(combined, "doc_id", "text")
    val pairPath = "target/soak_sigpairs"
    sigs.select(col("doc_id").as("ida"), col("sig").as("sig_a"),
        explode(sequence(lit(1), lit(4))).as("j"))
      .withColumn("idb", col("ida") + col("j"))
      .join(sigs.select(col("doc_id").as("idb"), col("sig").as("sig_b")), "idb")
      .select(col("sig_a"), col("sig_b"))
      .repartition(32).write.mode("overwrite").parquet(pairPath)
    val pairs = spark.read.parquet(pairPath)
    val nPairs = pairs.count()
    val hof = aggregate(zip_with(col("sig_a"), col("sig_b"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
    val kCol = graft.functions.TextFunctions.sigAgree(col("sig_a"), col("sig_b"))
    def runAgree(agree: org.apache.spark.sql.Column): Double = {
      val t0 = System.nanoTime()
      pairs.filter(agree >= 8).agg(count(lit(1))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // interleaved ABAB with a warm pass each, so JIT/page-cache warmup
    // can't masquerade as a variant difference
    runAgree(kCol); runAgree(hof)
    val reps = (1 to 3).map(_ => (runAgree(kCol), runAgree(hof)))
    val kSec = reps.map(_._1).min
    val hSec = reps.map(_._2).min
    val all = reps.map { case (k, h) => f"[$k%.2f,$h%.2f]" }.mkString(",")
    println(f"""{"metric":"soak_sigagree_ab","pairs":$nPairs,"kernel_sec":$kSec%.2f,"hof_sec":$hSec%.2f,"speedup":${hSec / kSec}%.2f,"reps_kernel_hof":[$all]}""")
    }

    // ---- axis 4: same corpus, IVF pair mining (the clustered-corpus
    // structural answer to axis 3's sign-LSH bucket saturation:
    // k-means cells fit the data's own density, so cell occupancy
    // tracks cluster structure instead of flooding a cap) -------------
    if (axes("ivf")) {
    val bigEmb = spark.read.parquet("target/soak_vectors")
    val nVec = bigEmb.count()
    val vecMb = nVec * 64 * 8 / 1e6
    val cosT = args.lift(2).map(_.toDouble).getOrElse(0.7)
    // cells ≈ n/512 at 2 probes → ~1k occupants/cell; codebook trained
    // on a ~10k-vector stride sample (full training would re-scan the
    // corpus per Lloyd iteration for no codebook-quality gain)
    val kCells = math.max(8, (nVec / 512).toInt)
    val trainMod = math.max(1, (nVec / 10000).toInt)
    def pairs = graft.operators.Similarity.embeddingPairsIvf(
      bigEmb, "vec_id", "embedding", cosT, k = kCells, nProbes = 2,
      maxCell = 2000, trainMod = trainMod)
    val nEdges = pairs.count()
    println(f"""{"metric":"soak_ivf_pair_graph","vectors":$nVec,"k_cells":$kCells,"cos_threshold":$cosT,"edges":$nEdges}""")
    axis("semantic_clusters_ivf", vecMb) {
      graft.operators.Graph.connectedComponents(
        pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    }
    }

    // ---- axis 11: gram-stats kernel vs count-shuffle A/B -------------
    // The C58 reshape measured at GB scale: per-doc gram repetition
    // stats via the GramStatsExpr sorted-run kernel (zero shuffle)
    // against the explode → (doc, n, gram) count-shuffle → TopKPerKey
    // parity form, both over the same persisted cross-combined corpus.
    if (axes("gramstats")) {
    val corpus = spark.read.parquet("target/soak_combined")
    val gMb = corpus.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    def gNoop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // the KERNEL runs at the full corpus (zero shuffle — disk cost is
    // the scan only); the A/B against the shuffle form runs on an
    // EIGHTH subset: the shuffle form's (doc, n, gram) counts
    // materialization + shuffle is ~45× its input on disk, which at
    // the full 2 GB exceeds this host (two soak attempts died on
    // ENOSPC exactly there — itself the measurement: the kernel
    // reshape is what makes the full corpus RUNNABLE at all)
    def gk(c: DataFrame) = graft.operators.TextAnalysis.gopherRepetition(c, "doc_id", "text")
    def gs(c: DataFrame) = graft.operators.TextAnalysis.gopherRepetitionShuffle(c, "doc_id", "text")
    gNoop(gk(corpus)) // warm
    val gkFull = (1 to 3).map(_ => gNoop(gk(corpus))).min
    val eighth = corpus.filter(col("doc_id") % 8 === 0)
    val qMb = eighth.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    gNoop(gk(eighth)); gNoop(gs(eighth)); System.gc() // warm
    val gReps = (1 to 3).map { _ =>
      System.gc(); (gNoop(gk(eighth)), gNoop(gs(eighth)))
    }
    val gkSec = gReps.map(_._1).min
    val gsSec = gReps.map(_._2).min
    val gAll = gReps.map { case (k, s) => f"[$k%.1f,$s%.1f]" }.mkString(",")
    println(f"""{"metric":"soak_gramstats_ab","input_mb":$gMb%.0f,"kernel_full_sec":$gkFull%.1f,"kernel_full_mb_per_sec":${gMb / gkFull}%.1f,"ab_input_mb":$qMb%.0f,"kernel_sec":$gkSec%.1f,"shuffle_sec":$gsSec%.1f,"speedup":${gsSec / gkSec}%.2f,"reps_kernel_shuffle":[$gAll]}""")
    }

    // ---- axis 13: BPE merge learning on the zipfian vocabulary -------
    // The cost-shape claim to verify: the corpus pays ONE scan to the
    // word dictionary; every merge round is a VOCABULARY-sized job
    // (pair agg + scalar argmax + map-side fold), so sec/merge is flat
    // and independent of corpus size beyond the first scan.
    if (axes("bpe")) {
    // size rides in the path: a cached corpus from a previous run at a
    // DIFFERENT targetMb must not be silently re-benchmarked
    val bPath = s"target/soak_zipf_bpe_${targetMb / 4}mb"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(bPath)))
      genZipf(bPath, targetMb / 4)
    val bdocs = spark.read.parquet(bPath)
    val bMb = bdocs.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    val nWords = graft.operators.Bpe.wordVocab(bdocs, "text").count()
    val tb0 = System.nanoTime()
    val dict = graft.operators.Bpe.wordVocab(bdocs, "text").count() // scan cost probe
    val scanSec = (System.nanoTime() - tb0) / 1e9
    val tb1 = System.nanoTime()
    val bMerges = graft.operators.Bpe.bpeLearn(bdocs, "text", nMerges = 30)
    val bSec = (System.nanoTime() - tb1) / 1e9
    // bpeLearn can legitimately return zero merges (every pair below
    // minFreq) — don't let the report line throw on .head
    val (topMerge, topFreq) = bMerges.headOption
      .map(m => (m.merged, m.freq)).getOrElse(("", 0L))
    println(f"""{"metric":"soak_bpe_learn","input_mb":$bMb%.0f,"word_vocab":$nWords,"n_merges":${bMerges.length},"sec":$bSec%.1f,"dict_scan_sec":$scanSec%.1f,"sec_per_merge":${(bSec - scanSec) / math.max(bMerges.length, 1)}%.2f,"top_merge":"$topMerge","top_freq":$topFreq}""")
    require(dict == nWords)
    }

    // ---- axis 14: mixture-audit ops on the combined corpus -----------
    // source_divergence's scale claim: ONE tokenize scan to the
    // (source, token, cnt) table; everything after re-aggregates it,
    // so shuffle is bounded by the distinct-(source,token) census —
    // a small multiple of the input, never quadratic.
    // temperature_sample's claim: the corpus pays one mass agg + one
    // TopKPerKey cut — shuffle O(sources × maxQuota), not the corpus.
    if (axes("mixaudit")) {
    val corpus = spark.read.parquet("target/soak_combined")
      .withColumn("source", concat(lit("s"), (col("doc_id") % 20).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val mxMb = corpus.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    axis("source_divergence", mxMb) {
      graft.operators.Scoring.sourceDivergence(corpus, "text", "source")
    }
    axis("temperature_sample", mxMb) {
      graft.operators.Curation.temperatureSample(corpus, "doc_id", "source",
        "n_chars", 10000)
    }
    }

    // ---- axis 15: prototypicality scan over the wide vector corpus ---
    // the claim: train (2 Lloyd rounds, driver codebook) + score is a
    // broadcast-codebook SCAN — no join; the only shuffle is the
    // per-cluster rank window, bounded by the (id, cid, cos) rows.
    if (axes("proto")) {
    val bigEmb = spark.read.parquet("target/soak_pq_vectors")
    val nVec = bigEmb.count()
    val protoMb = nVec * 64 * 4 / 1e6
    axis("prototype_scores", protoMb) {
      graft.operators.Similarity.prototypeScores(bigEmb, "vec_id", "embedding")
    }
    }

    // ---- axis 16: cross-split leakage screen at corpus scale ---------
    // both gram sides grow with the corpus (no broadcast contract) —
    // the claim: shuffle bounded by the distinct (doc, gram-hash)
    // census (longs, never text), linear in input.
    if (axes("leakage")) {
    val corpus = spark.read.parquet("target/soak_combined")
    val lkMb = corpus.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    axis("split_leakage", lkMb) {
      graft.operators.Curation.splitLeakage(corpus, "doc_id", "text",
        valPermille = 100, testPermille = 100)
    }
    }

    // ---- axis 17: semantic-gate kernel throughput --------------------
    // the MaxCosineBroadcast scan: rows × evalSet fused cosines, one
    // kernel call per row, zero shuffle — measure vectors/s at a
    // benchmark-sized eval set (2k evals × 200k rows = 400M fused
    // dot+norm loops).
    if (axes("semgate")) {
    val bigEmb = spark.read.parquet("target/soak_pq_vectors")
    val sample = bigEmb.filter(col("vec_id") % 10 === 0)
    val nRows = sample.count()
    val evalPath = "target/soak_semgate_eval"
    bigEmb.filter(col("vec_id") % 1000 === 7)
      .select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(evalPath)
    val nEval = spark.read.parquet(evalPath).count()
    val gateMb = nRows * 64 * 4 / 1e6
    axis("semantic_gate", gateMb) {
      graft.streaming.DocStreams.semanticAdmission(
        sample, "vec_id", "embedding", evalPath, minCos = 0.99)
    }
    println(s"""{"metric":"soak_semantic_gate_dims","rows":$nRows,"eval_set":$nEval}""")
    }

    // ---- axis 12: bigram-LM train + score at corpus scale ------------
    // ngram_lm_perplexity end-to-end over the cross-combined corpus:
    // the scale shape is the gram-keyed model join (each (doc, gram, tf)
    // row crosses the shuffle once — the shuffle-volume line is the
    // claim to check: bounded by a small multiple of the tokenized
    // input, never quadratic).
    if (axes("lmscore")) {
    // half corpus: the materialized (doc, gram, tf) table + the
    // model-join shuffle together run ~50× the input on disk — the
    // full 2 GB would need ~100 GB transient; the LINEARITY claim
    // (shuffle ∝ input, never quadratic) reads the same at 1 GB
    val corpus = spark.read.parquet("target/soak_combined")
      .filter(col("doc_id") % 2 === 0)
    val lmMb = corpus.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
    axis("ngram_lm", lmMb) {
      graft.operators.Scoring.ngramLmPerplexity(corpus, "doc_id", "text")
    }
    // the production scale knob A/B: same plan with xxhash64 gram keys
    // — every shuffle carries fixed-width longs instead of bigram
    // strings (documented approximation; spec pins ≡ string form on
    // collision-free corpora)
    axis("ngram_lm_hashed", lmMb) {
      graft.operators.Scoring.ngramLmPerplexity(corpus, "doc_id", "text",
        hashGrams = true)
    }
    }

    // ---- axis 10: PQ encode + ADC search at vector scale -------------
    // First the encode-kernel claim isolated: PqEncodeExpr vs the
    // composed least()-tree form (janino-rejected >64 KB of generated
    // Java → interpreted eval) over the SAME persisted vectors,
    // interleaved ABAB min-of-3 like the sigagree axis. Then the
    // persisted-index contract: build once (codes 32× smaller than the
    // float payload), probe from codes alone — read bytes must track
    // the code table, never the vector corpus.
    if (axes("pq")) {
    // own corpus at 10× the clusters-axis mult (~2M vectors at the
    // default): encode is a pure scan, so the axis affords the width
    // the iterative CC soak cannot
    val pqEmbSrc = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val pqNv = pqEmbSrc.count()
    val pqMult = vecMult * 10
    val pqPath = "target/soak_pq_vectors"
    val pa = pqEmbSrc.select(col("vec_id").as("a_id"), col("embedding").as("av"),
        explode(sequence(lit(1), lit(pqMult))).as("k"))
      .withColumn("b_id", (col("a_id") + col("k")) % pqNv)
    val pb = pqEmbSrc.select(col("vec_id").as("b_id"), col("embedding").as("bv"))
    pa.join(pb, "b_id")
      .select((col("a_id") * pqMult + col("k")).as("vec_id"),
        zip_with(col("av"), col("bv"), (x, y) => x + y).as("embedding"))
      .repartition(32).write.mode("overwrite").parquet(pqPath)
    val bigEmb = spark.read.parquet(pqPath)
    val nVec = bigEmb.count()
    val vecMb = nVec * 64 * 4 / 1e6 // float payload the codes replace
    val cbs = graft.operators.Similarity.pqCodebooks(bigEmb, "vec_id", "embedding")
    def encNoop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def encK() = graft.operators.Similarity.pqEncodeWith(bigEmb, "vec_id", "embedding", cbs)
    def encE() = graft.operators.Similarity.pqEncodeExprForm(bigEmb, "vec_id", "embedding", cbs)
    encNoop(encK()); encNoop(encE()) // warm
    val encReps = (1 to 3).map(_ => (encNoop(encK()), encNoop(encE())))
    val ek = encReps.map(_._1).min
    val ee = encReps.map(_._2).min
    val encAll = encReps.map { case (k, e) => f"[$k%.2f,$e%.2f]" }.mkString(",")
    println(f"""{"metric":"soak_pq_encode_ab","vectors":$nVec,"input_mb":$vecMb%.0f,"kernel_sec":$ek%.2f,"expr_sec":$ee%.2f,"speedup":${ee / ek}%.2f,"kernel_mb_per_sec":${vecMb / ek}%.1f,"reps_kernel_expr":[$encAll]}""")
    val pqIdx = "target/soak_pq_idx"
    val tpb = System.nanoTime()
    graft.operators.Similarity.buildAnnIndex(bigEmb, "vec_id", "embedding", pqIdx,
      graft.operators.AnnSpec(code = graft.operators.AnnSpec.Code.Pq()))
    val secPb = (System.nanoTime() - tpb) / 1e9
    val codesMb = dirBytes(s"$pqIdx/codes") / 1e6
    println(f"""{"metric":"soak_pq_build","vectors":$nVec,"input_mb":$vecMb%.0f,"sec":$secPb%.1f,"codes_mb":$codesMb%.1f,"compression":${vecMb / codesMb}%.1f}""")
    import spark.implicits._
    val probeQ = bigEmb.filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      .toDF("vec_id", "embedding")
    def pqProbe(): Unit = graft.operators.Similarity
      .knnProbe(spark, pqIdx, probeQ, "vec_id", "embedding", 10)
      .write.format("noop").mode("overwrite").save()
    pqProbe() // warm
    val pm = graft.Profile.measure(spark, "soak_pq_probe")(pqProbe()).orThrow
    val secPp = pm.wallSec
    val pqReadMb = pm.inputBytes / 1e6
    println(f"""{"metric":"soak_pq_probe","vectors":$nVec,"sec":$secPp%.2f,"codes_mb":$codesMb%.1f,"read_mb":$pqReadMb%.1f,"vectors_mb":$vecMb%.0f}""")
    }

    // ---- axis: IVF corpus-side assignment kernel vs window A/B ------
    // The round-9 reshape measured at 2M vectors: zero-shuffle argmax
    // kernel (ivfAssignCells) over the FULL corpus vs the round-8
    // broadcast-cross-join + per-id row_number window on a 1/16 subset
    // (the full corpus × centroids shuffle would burn ~40 GB of disk
    // for no extra information — memoized soak discipline).
    if (axes("ivfassign")) {
      graft.plans.GraftFunctions.register(spark)
      val bigEmb = spark.read.parquet("target/soak_vectors")
      val nVec = bigEmb.count()
      val vecMb = nVec * 64 * 8 / 1e6
      val mod = math.max(1, (nVec / 256).toInt)
      val centroids = bigEmb.filter(col("vec_id") % mod === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
      val nCents = centroids.count()
      axis("ivf_assign_kernel", vecMb) {
        graft.operators.Similarity.ivfAssignCells(
            bigEmb.select(col("vec_id"), col("embedding")), "embedding", centroids)
          .select(col("vec_id"), col("centroid_id"))
      }
      val sub = bigEmb.filter(col("vec_id") % 16 === 0)
      val nSub = sub.count()
      val subMb = nSub * 64 * 8 / 1e6
      import org.apache.spark.sql.expressions.Window
      axis("ivf_assign_window_sub16", subMb) {
        val wa = Window.partitionBy(col("vec_id"))
          .orderBy(col("csim").desc, col("centroid_id"))
        sub.join(broadcast(centroids))
          .select(col("vec_id"), col("centroid_id"),
            graft.functions.VectorFunctions.cosineNative(
              col("embedding"), col("cv")).as("csim"))
          .withColumn("crnk", row_number().over(wa))
          .filter(col("crnk") === 1)
          .select(col("vec_id"), col("centroid_id"))
      }
      println(s"""{"metric":"soak_ivf_assign_meta","vectors":$nVec,"centroids":$nCents,"window_subset":$nSub}""")
    }

    // ---- axis: record-delimited raw-corpus ingestion ----------------
    // GB-scale readRecords: raw text files of blank-line-delimited
    // records (each doc's text + its own trailing newline — the text
    // writer's per-row newline completes the \n\n delimiter), parsed
    // inside the scan with content-addressed ids. Throughput line =
    // the SURVEY §6 ingestion row.
    if (axes("ingest")) {
      val ingMult = math.max(1, (targetMb / baseMb).toInt)
      val rawPath = "target/soak_raw"
      docs.select(explode(sequence(lit(1), lit(ingMult))).as("copy"), col("text"))
        .select(concat(col("text"), lit("\n")).as("value"))
        .repartition(32).write.mode("overwrite").text(rawPath)
      val rawMb = dirBytes(rawPath) / 1e6
      axis("raw_ingest", rawMb) {
        graft.sources.Formats.readRecords(spark, rawPath)
          .select(col("record_id"), length(col("text")).as("n"))
      }
    }

    // ---- axis: HTML extraction at corpus scale ----------------------
    // htmlExtract over page-wrapped docs: regex + HOF per-row chain,
    // zero shuffle — the MB/s line says whether the composed form
    // needs a kernel
    if (axes("htmlx")) {
      val hMult = math.max(1, (targetMb / baseMb).toInt)
      val htmlPath = "target/soak_html"
      docs.select(explode(sequence(lit(1), lit(hMult))).as("copy"),
          col("doc_id"), col("text"))
        .select((col("doc_id") * hMult + col("copy")).as("doc_id"),
          graft.operators.Html.wrapHtml(col("doc_id") * hMult + col("copy"),
            col("text")).as("html"))
        .repartition(32).write.mode("overwrite").parquet(htmlPath)
      val html = spark.read.parquet(htmlPath)
      val htmlMb = html.agg(sum(length(col("html")))).collect()(0).getLong(0) / 1e6
      axis("html_extract", htmlMb) {
        graft.operators.Html.htmlExtract(html, "doc_id", "html")
      }
    }

    // ---- axis: link extraction + host graph over linked pages -------
    // distinct page ids so every page's anchor schedule varies; checks
    // (a) extraction is scan-rate zero-shuffle and (b) the host-graph
    // agg's shuffle tracks the HOST adjacency, not page bytes
    if (axes("links")) {
      val kMult = math.max(1, (targetMb / baseMb).toInt)
      val lkPath = "target/soak_links"
      docs.select(explode(sequence(lit(1), lit(kMult))).as("copy"),
          col("doc_id"), col("text"), col("source"))
        .select((col("doc_id") * kMult + col("copy")).as("doc_id"),
          col("source"), col("text"))
        .select(col("doc_id"),
          graft.operators.Html.wrapUrl(col("doc_id"), col("source")).as("url"),
          concat(
            graft.operators.Links.wrapLinksHtml(col("doc_id"), col("source")),
            col("text")).as("html"))
        .repartition(32).write.mode("overwrite").parquet(lkPath)
      val pages = spark.read.parquet(lkPath)
      val pagesMb = pages.agg(sum(length(col("html")) + length(col("url"))))
        .collect()(0).getLong(0) / 1e6
      axis("link_extract", pagesMb) {
        graft.operators.Links.linkExtract(pages, "doc_id", "url", "html")
      }
      axis("link_graph", pagesMb) {
        graft.operators.Links.linkGraph(
          graft.operators.Links.linkExtract(pages, "doc_id", "url", "html"))
      }
    }

    // ---- axis: line dedup over a replicated-page corpus -------------
    // exact-copy replication of the multi-line page fixture: every
    // body line occurs `mult` times and the header/footer occur
    // n×mult times — the worst honest boilerplate shape. Checks the
    // digest-only shuffle claim holds at GB scale (shuffle MB should
    // track line COUNT, not text bytes).
    if (axes("linededup")) {
      val lMult = math.max(1, (targetMb / baseMb).toInt)
      val lPath = "target/soak_lines"
      // wrap the BASE docs once, then flood exact copies of the wrapped
      // page under distinct ids: the same all-lines-duplicated stress,
      // without re-running the per-doc wrap mult times
      docs.select(col("doc_id"),
          graft.operators.Dedup.wrapLines(col("text"), col("source")).as("text"))
        .repartition(32)
        .select(explode(sequence(lit(1), lit(lMult))).as("copy"),
          col("doc_id"), col("text"))
        .select((col("doc_id") * lMult + col("copy")).as("doc_id"), col("text"))
        .write.mode("overwrite").parquet(lPath)
      val lines = spark.read.parquet(lPath)
      val lineMb = lines.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
      axis("line_dedup", lineMb) {
        graft.operators.Dedup.lineDedup(lines, "doc_id", "text")
      }
    }

    // ---- axis: context chunking + shard assignment ------------------
    // both run off the flood corpus (distinct ids, replicated text):
    // chunking is the zero-shuffle map-throughput number; shards is
    // the two-pass prefix sum whose only shuffle is the (id, 2×long)
    // range sort — shuffle MB must be a small multiple of row count.
    if (axes("chunks") || axes("shards")) {
      val cMult = math.max(1, (targetMb / baseMb).toInt)
      val cPath = "target/soak_chunkdocs"
      docs.select(explode(sequence(lit(1), lit(cMult))).as("copy"),
          col("doc_id"), col("text"))
        .select((col("doc_id") * cMult + col("copy")).as("doc_id"), col("text"))
        .repartition(32).write.mode("overwrite").parquet(cPath)
      val cdocs = spark.read.parquet(cPath)
      val cMb = cdocs.agg(sum(length(col("text")))).collect()(0).getLong(0) / 1e6
      if (axes("chunks")) axis("doc_chunks", cMb) {
        graft.operators.Curation.docChunks(cdocs, "doc_id", "text")
      }
      if (axes("shards")) axis("training_shards", cMb) {
        graft.operators.Curation.shardManifest(
          graft.operators.Curation.trainingShards(
            cdocs, "doc_id", "text", 1000000L), "doc_id")
      }
    }

    // ---- axis: the stage-0 composite end-to-end ---------------------
    // exact-copy flood of HTML pages under one title: the extract is
    // the map-heavy stage, the dedup stage collapses mult copies to
    // one, and the manifest is computed over the collapsed survivor
    // set — the full crawl_pipeline shape at GB scale.
    if (axes("crawlpipe")) {
      val pMult = math.max(1, (targetMb / baseMb).toInt)
      val pPath = "target/soak_pages"
      docs.select(col("doc_id"),
          graft.operators.Html.wrapHtml(lit(0), col("text")).as("html"))
        .repartition(32)
        .select(explode(sequence(lit(1), lit(pMult))).as("copy"),
          col("doc_id"), col("html"))
        .select((col("doc_id") * pMult + col("copy")).as("doc_id"), col("html"))
        .write.mode("overwrite").parquet(pPath)
      val pages = spark.read.parquet(pPath)
      val pagesMb = pages.agg(sum(length(col("html")))).collect()(0).getLong(0) / 1e6
      axis("crawl_pipeline", pagesMb) {
        graft.operators.Curation.crawlPipeline(pages, "doc_id", "html")
      }
    }

    // ---- axis: WARC container ingestion ------------------------------
    // GB-scale readWarc: each doc's text wrapped in real WARC/1.0
    // headers, all records concatenated into raw files (each text-sink
    // row is one full record minus its final LF — the writer's own
    // per-row "\n" completes the \r\n\r\n terminator), then split +
    // header-parsed inside the scan. Zero shuffle expected; the MB/s
    // line is the ingestion-stage budget for a crawl archive.
    if (axes("warc") || axes("warcgz") || axes("revisit")) {
      val wMult = math.max(1, (targetMb / baseMb).toInt)
      val wPath = "target/soak_warc"
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Record-ID: <urn:uuid:"), col("doc_id"),
        lit(">\r\nWARC-Type: response\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"),
        lit("WARC-Target-URI: https://crawl.example.com/page/"), col("doc_id"),
        lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
        octet_length(col("text")),
        lit("\r\n\r\n"), col("text"), lit("\r\n\r"))
      docs.select(explode(sequence(lit(1), lit(wMult))).as("copy"),
          col("doc_id"), col("text"))
        .select((col("doc_id") * wMult + col("copy")).as("doc_id"), col("text"))
        .select(rec.as("value"))
        .repartition(32).write.mode("overwrite").text(wPath)
      val warcMb = dirBytes(wPath) / 1e6
      if (axes("warc")) axis("warc_ingest", warcMb) {
        graft.sources.Formats.readWarc(spark, wPath)
          .select(col("record_id"), col("warc_type"), col("content_length"),
            col("length_ok"), length(col("block")).as("n"))
      }
      // gz variant: compress each part file (one member per file — the
      // decode-cost question is the same as per-record members), then
      // the binaryFile + per-file decompression path. input_mb is the
      // UNCOMPRESSED payload so the MB/s compares against plain warc.
      if (axes("warcgz")) {
        val gzDir = new java.io.File("target/soak_warc_gz")
        gzDir.mkdirs()
        gzDir.listFiles().foreach(_.delete())
        val parts = new java.io.File(wPath).listFiles()
          .filter(f => f.getName.startsWith("part") && !f.getName.endsWith(".crc"))
        java.util.Arrays.stream(parts).parallel().forEach { f =>
          val out = new java.util.zip.GZIPOutputStream(
            new java.io.FileOutputStream(new java.io.File(gzDir, f.getName + ".gz")))
          try java.nio.file.Files.copy(f.toPath, out) finally out.close()
        }
        axis("warc_gz_ingest", warcMb) {
          graft.sources.Formats.readWarcGz(spark, s"$gzDir/*.gz")
            .select(col("record_id"), col("warc_type"), col("content_length"),
              col("length_ok"), length(col("block")).as("n"))
        }
      }
      // snapshot-B recrawl of the same corpus: blocks edited on %5,
      // records dropped on %11 — timing the two-snapshot digest
      // classify; shuffle must track (uri, digest) rows, never blocks
      if (axes("revisit")) {
        val bPath = "target/soak_warc_b"
        val bodyB = when(col("doc_id") % 5 === 0,
          concat(col("text"), lit("\n[edited in snapshot B]")))
          .otherwise(col("text"))
        val recB = concat(
          lit("WARC/1.0\r\nWARC-Record-ID: <urn:uuid:b"), col("doc_id"),
          lit(">\r\nWARC-Type: response\r\nWARC-Date: 2026-02-01T00:00:00Z\r\n"),
          lit("WARC-Target-URI: https://crawl.example.com/page/"), col("doc_id"),
          lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
          octet_length(col("__b")),
          lit("\r\n\r\n"), col("__b"), lit("\r\n\r"))
        docs.select(explode(sequence(lit(1), lit(wMult))).as("copy"),
            col("doc_id"), col("text"))
          .select((col("doc_id") * wMult + col("copy")).as("doc_id"), col("text"))
          .filter(col("doc_id") % 11 =!= 0)
          .withColumn("__b", bodyB)
          .select(recB.as("value"))
          .repartition(32).write.mode("overwrite").text(bPath)
        val bMb = dirBytes(bPath) / 1e6
        axis("warc_revisit", warcMb + bMb) {
          graft.sources.Formats.revisitClassify(
            graft.sources.Formats.readWarc(spark, wPath),
            graft.sources.Formats.readWarc(spark, bPath))
        }
      }
    }

    // ---- axis: robots.txt frontier filtering -------------------------
    // a mult-replicated URL frontier against per-host rule arrays: the
    // broadcast-join + array_max winner pick must keep shuffle at ~0
    // regardless of frontier size — the claim that matters at 100 TB.
    if (axes("robots")) {
      val rMult = math.max(1, ((targetMb * 10) / baseMb).toInt) // urls are short
      val rPath = "target/soak_urls"
      docs.select(explode(sequence(lit(1), lit(rMult))).as("copy"),
          col("doc_id"), col("source"))
        .select((col("doc_id") * rMult + col("copy")).as("doc_id"),
          graft.operators.Html.wrapUrl(col("doc_id") * rMult + col("copy"),
            col("source")).as("url"))
        .repartition(32).write.mode("overwrite").parquet(rPath)
      val urls = spark.read.parquet(rPath)
      val urlMb = urls.agg(sum(length(col("url")))).collect()(0).getLong(0) / 1e6
      val robots = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          graft.operators.Html.wrapRobotsTxt(col("source")).as("content"))
      val rules = graft.operators.Html.robotsRules(robots, "host", "content")
      axis("robots_filter", urlMb) {
        graft.operators.Html.robotsFilter(urls, "doc_id", "url", rules, "graftbot")
      }
    }

    // ---- axis: fetch layer — redirect-heavy WARC fetch log -----------
    // GB-scale fetch log with every resolution class planted on a dense
    // id schedule (chains running INTO the 4-hop budget around id%1000
    // in [200,216], self-loops at %1000==36, dangling externals at
    // %1000==72, 1-2 hop redirects on other multiples of 4, 200-terminal
    // bulk carrying the doc text): the 4-unrolled redirect join must
    // shuffle (uri, target) string pairs only — page payloads stay out
    // of every exchange — and fetch_pipeline stacks the canonical
    // collapse + landing join on top of the same scan.
    if (axes("fetch")) {
      val fMult = math.max(1, (targetMb / baseMb).toInt)
      val fPath = "target/soak_fetch"
      val id = col("doc_id") * fMult + col("copy") // dense in [1, n*fMult]
      val kilo = id % 1000
      val page = concat(lit("https://crawl.example.com/page/"), id)
      val loc =
        when(kilo === 36, page)
          .when(kilo === 72, lit("https://elsewhere.example.org/gone"))
          .when(id % 4 === 0 && kilo >= 200 && kilo <= 216,
            concat(lit("https://crawl.example.com/page/"), id + 4))
          .when(id % 4 === 0, concat(lit("https://crawl.example.com/page/"),
            id + when(id % 8 === 0, 4).otherwise(2)))
      val status = when(loc.isNull, lit("200 OK"))
        .when(id % 16 === 0, lit("301 Moved Permanently"))
        .when(id % 16 === 8, lit("307 Temporary Redirect"))
        .when(id % 16 === 12, lit("308 Permanent Redirect"))
        .otherwise(lit("302 Found"))
      val body = when(loc.isNotNull, lit("moved")).otherwise(col("text"))
      val http = concat(lit("HTTP/1.1 "), status, lit("\r\n"),
        when(loc.isNotNull, concat(lit("Location: "), loc, lit("\r\n")))
          .otherwise(lit("")),
        lit("Content-Type: text/plain\r\nContent-Length: "),
        octet_length(body), lit("\r\n\r\n"), body)
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Record-ID: <urn:uuid:f"), id,
        lit(">\r\nWARC-Type: response\r\nWARC-Date: 2026-01-03T00:00:00Z\r\n"),
        lit("WARC-Target-URI: "), page,
        lit("\r\nContent-Type: application/http; msgtype=response\r\n"),
        lit("Content-Length: "), octet_length(http),
        lit("\r\n\r\n"), http, lit("\r\n\r"))
      docs.select(explode(sequence(lit(1), lit(fMult))).as("copy"),
          col("doc_id"), col("text"))
        .select(rec.as("value"))
        .repartition(32).write.mode("overwrite").text(fPath)
      val fetchMb = dirBytes(fPath) / 1e6
      def fetchParsed = graft.sources.Formats.httpParse(
        graft.sources.Formats.readWarc(spark, fPath), "block")
      axis("redirect_resolve", fetchMb) {
        graft.operators.Links.redirectResolve(
          fetchParsed, "target_uri", "status", "http_location")
      }
      axis("fetch_pipeline", fetchMb) {
        val fetches = fetchParsed
        val res = graft.operators.Links.redirectResolve(
          fetches, "target_uri", "status", "http_location")
        val landed = res.filter(col("resolution") =!= "exceeded" &&
          col("final_in_corpus"))
        val collapsed = landed
          .groupBy(graft.operators.Html.urlNormalize(col("final_uri"))
            .as("canonical_url"))
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
      }
    }

    // ---- axis: mojibake-planted flood → encoding_repair -------------
    // Every 5th replica gets the three planted Windows-1252 artifacts
    // (same plant as the C104 fixture) so the repair path is LIVE at
    // GB scale, not a no-op sweep over clean ASCII. Expectation: pure
    // map pass — zero shuffle, scan-rate MB/s.
    if (axes("encfix")) {
      val eMult = math.max(1, (targetMb / baseMb).toInt)
      val ePath = "target/soak_encfix"
      val id = col("doc_id") * eMult + col("copy")
      docs.select(explode(sequence(lit(1), lit(eMult))).as("copy"),
          col("doc_id"), col("text"))
        .select(id.as("doc_id"),
          when(id % 5 === 2,
            concat(
              regexp_replace(regexp_replace(col("text"),
                "value", "valu\u00c3\u00a9"),
                "part", "p\u00c3\u00a4rt"),
              lit(" \u00e2\u20ac\u00a6")))
            .otherwise(col("text")).as("text"))
        .repartition(32).write.mode("overwrite").parquet(ePath)
      val planted = spark.read.parquet(ePath)
      val eMb = baseMb * eMult
      axis("encoding_repair", eMb) {
        graft.operators.TextAnalysis.encodingRepair(planted, "doc_id", "text")
      }
    }

    // ---- axis: the FULL chain crawl → curation → shards --------------
    // The end-to-end story local[32] can tell about the 100 TB run.
    // Corpus shape (what a real crawl hands curation, planted so every
    // stage has REAL work and no stage degenerates to a quadratic
    // artifact):
    //  - even copies: EXACT duplicates of their base doc — the crawl
    //    stage's fingerprint dedup collapses half the volume for real;
    //  - odd copies, 1 in 49: base text + a unique suffix — TRUE
    //    near-duplicates in bounded cliques (~copies/98 members), the
    //    signal the curation near-dup stage must actually catch;
    //  - other odd copies: base text ⊕ a rotating PARTNER doc's text +
    //    unique suffix — textually distinct docs whose shared half
    //    puts sibling pairs near jaccard ≈ 1/3: BELOW the 0.5 bar but
    //    far above the random band-collision floor, the heavy honest
    //    candidate load (same design as the minhash axis).
    // The first fullchain attempts planted base+suffix for ALL odd
    // copies — ~3300-member above-bar cliques whose band buckets emit
    // ~b² candidates (~22 BILLION pairs at 10 GB): the candidate
    // distinct's external sort needed >70 GB of scratch and ENOSPC'd
    // this VM three times. That flood is exactly what minhashLsh's
    // maxBucket guardrail exists for, so the chain now runs curation
    // with the cap (the uncurated-crawl composition) — and the corpus
    // keeps its detectable near-dup cliques BELOW the cap so the cap
    // never costs measured recall.
    // Records wall (total + per stage), shuffle ratio, doc counts per
    // stage, and the reader-side manifest verification.
    // Not in the default axis set (it is a dedicated ≥10 GB run):
    //   sbt "runMain graft.tools.SoakBench 10000 100 0.7 fullchain"
    // fullchain-shaped HTML corpus, shared by the fullchain and
    // fullchainresume axes (generated once, recipe-marked for reuse)
    def chainCorpus(): DataFrame = {
      // partner-mixed odd copies carry ~2× text, so the average copy is
      // ~1.5× baseMb — fold that into the multiplier to land on target
      val cMult = math.max(2, (targetMb / (1.5 * baseMb)).toInt)
      val cPath = "target/soak_chain_pages"
      val cMark = java.nio.file.Paths.get(cPath, "_TARGETMB")
      // The reuse marker carries the GENERATION RECIPE alongside the
      // size target: a corpus also depends on the cMult formula, the
      // copy-shape whens, and the partner mixing — bump the version
      // token on ANY recipe change, or a retry would silently soak a
      // stale corpus that matches on targetMb alone.
      val cRecipe = s"$targetMb|chain-recipe-v2|cMult=$cMult"
      // reuse a complete same-recipe generation: a failed chain attempt
      // must not pay the multi-minute corpus rebuild to retry
      if (!(java.nio.file.Files.exists(cMark) &&
            new String(java.nio.file.Files.readAllBytes(cMark)) == cRecipe)) {
        val cid = col("doc_id") * cMult + col("copy")
        // rotating partner keyed by pmod over the doc count (ids need
        // not be dense: the partner table dedups to one text per key)
        val partner = docs
          .groupBy(pmod(col("doc_id"), lit(n)).as("__pk"))
          .agg(min(col("text")).as("__ptext"))
        docs.select(explode(sequence(lit(1), lit(cMult))).as("copy"),
            col("doc_id"), col("text"), col("source"))
          .withColumn("__pk", pmod(col("doc_id") + col("copy"), lit(n)))
          // broadcast the n-row partner side explicitly: Catalyst's
          // size estimate for the exploded side ignores multiplicity,
          // so left alone it picks the cMult-times-larger side.
          // LEFT join + coalesce to the page's own text: partner keys
          // exist only for residues pmod(id, n) of ids actually
          // PRESENT, so with non-dense ids an inner join would drop
          // every page landing on an unpopulated residue (skewing
          // corpus size and dedup ratios); a partnerless page mixes
          // with itself instead — still a valid below-bar sibling.
          .join(org.apache.spark.sql.functions.broadcast(partner),
            Seq("__pk"), "left")
          .withColumn("__ptext", coalesce(col("__ptext"), col("text")))
          .select(cid.as("doc_id"),
            graft.operators.Html.wrapHtml(lit(0),
              when(col("copy") % 2 === 0, col("text"))
                .when(col("copy") % 49 === 1,
                  concat(col("text"), lit(" uniq"), cid))
                .otherwise(concat(col("text"), lit(" "), col("__ptext"),
                  lit(" uniq"), cid)))
              .as("html"),
            col("source").as("stratum"))
          .repartition(32).write.mode("overwrite").parquet(cPath)
        java.nio.file.Files.write(cMark, cRecipe.getBytes)
      }
      spark.read.parquet(cPath)
    }

    if (axes("fullchain")) {
      val pages = chainCorpus()
      val pagesMb = pages.agg(sum(length(col("html")))).collect()(0).getLong(0) / 1e6
      val shardPath = "target/soak_chain_shards"
      System.gc() // release the generation shuffle before the timed run
      // STAGE-COMMITTED pipeline, the production architecture: each
      // stage durably writes its output (crawl corpus, curated corpus)
      // and the next stage reads the committed parquet — a lineage cut
      // at every stage boundary, which is also what makes the run FIT
      // on one box. Spark retains every shuffle file a live plan
      // references until the plan completes; the fully-composed form
      // additionally re-derived the whole chain inside
      // writeTrainingShards (the prefix-sum sort and the shard join
      // each evaluate `docs`), so at 10 GB the retained
      // shuffles + the LSH shingle-distinct aggregation's external
      // sort (the chain's one genuinely corpus-scale spill, measured
      // ~40 GB live) overran this VM's ~90 GB of usable disk — three
      // ENOSPC deaths at three different compositions. A 1000-executor
      // cluster carries TBs of aggregate shuffle disk; a crawl
      // pipeline there STILL commits every stage durably (restart,
      // audit, and downstream consumers all demand it), so the
      // committed form is the honest 100 TB shape, not a concession.
      // gc at each boundary lets the ContextCleaner release the
      // finished stage's shuffle/cache blocks before the next begins.
      val crawlPath = "target/soak_chain_crawled"
      val cutPath = "target/soak_chain_curated"
      var t0, tA, tB, tC = 0L
      var sink = (0L, 0L)
      val chain = graft.Profile.measure(spark, "soak_fullchain") {
        t0 = System.nanoTime()
        // stage A (crawl): HTML → clean text → token gate → exact dedup.
        // Stage bodies live in FullChain (shared with ChainResumeSpec's
        // kill-and-resume proof); the survivor-id cut inside broadcasts
        // only while its measured count fits (the id set is
        // corpus-proportional — hundreds of MB as a hash relation at the
        // 16.6 GB run's 11.2M survivors — so the gate keeps larger soaks
        // a measurement, not an OOM).
        FullChain.stageCrawl(pages, crawlPath)
        tA = System.nanoTime()
        System.gc()
        // stage B (curation): quality gate → corpus near-dup → quota.
        // maxBucket=300: the uncurated-crawl flood cap (axis header) —
        // the planted TRUE near-dup cliques are ~35 docs, an order of
        // magnitude under the cap, so capped buckets cost no measured
        // recall; above it only the ~b² flood families live.
        FullChain.stageCurate(spark, crawlPath, cutPath,
          minQuality = 0.3, quota = 2000, maxBucket = 300)
        tB = System.nanoTime()
        System.gc()
        // stage C (sink): token-budgeted shards + committed manifest
        sink = FullChain.stageSink(spark, cutPath, shardPath, 200000L)
        tC = System.nanoTime()
      }
      // per-stage footprint diagnostics (WARN stream): where the bytes
      // went when the chain ran — shuffle write + disk spill per stage
      chain.stages.filter(st => st.shuffleWrite > 100e6 || st.spillBytes > 100e6)
        .foreach(st => System.err.println(f"[chain] stage ${st.id}%4d " +
          f"shuffleWrite ${st.shuffleWrite / 1e6}%8.0fMB " +
          f"diskSpill ${st.spillBytes / 1e6}%8.0fMB  ${st.name}%s"))
      chain.orThrow
      val (nShards, totTokens) = sink
      val shuffleMb = chain.shuffleWriteBytes / 1e6
      val crawled = spark.read.parquet(crawlPath)
      val finalDocs = spark.read.parquet(cutPath)
      val sec = (tC - t0) / 1e9
      val nPages = pages.count()
      val nCrawled = crawled.count()
      val nFinal = finalDocs.count()
      val (vShards, vBad) = graft.sources.Layouts.verifyTrainingShards(
        spark, shardPath, "doc_id", "clean_text")
      println(f"""{"metric":"soak_fullchain","input_mb":$pagesMb%.0f,"sec":$sec%.1f,"mb_per_sec":${pagesMb / sec}%.1f,"crawl_sec":${(tA - t0) / 1e9}%.1f,"curation_sec":${(tB - tA) / 1e9}%.1f,"sink_sec":${(tC - tB) / 1e9}%.1f,"shuffle_write_mb":$shuffleMb%.1f,"shuffle_over_input":${shuffleMb / pagesMb}%.3f,"pages":$nPages,"crawl_survivors":$nCrawled,"final_docs":$nFinal,"shards":$nShards,"tokens":$totTokens,"manifest_shards_verified":$vShards,"manifest_mismatches":$vBad}""")
    }

    // Measured restart proof for the stage-committed chain at soak
    // scale (ChainResumeSpec pins the same equality at spec scale):
    // run the chain uninterrupted, then replay the "driver died right
    // after the crawl commit" state — a fresh composition whose ONLY
    // input is the committed crawl parquet — and require identical
    // artifacts (shard manifests exceptAll-equal both ways, resumed
    // manifest re-verified against its own written data). The resume
    // wall vs the full wall quantifies what the commit boundary buys
    // on restart: the crawl stage is never re-paid.
    //   sbt "runMain graft.tools.SoakBench 4000 100 0.7 fullchainresume"
    if (axes("fullchainresume")) {
      val pages = chainCorpus()
      val pagesMb = pages.agg(sum(length(col("html")))).collect()(0).getLong(0) / 1e6
      val base = "target/soak_resume"
      System.gc()
      // uninterrupted run: A → B → C, stage-committed
      val t0 = System.nanoTime()
      FullChain.stageCrawl(pages, s"$base/crawl")
      val tA = System.nanoTime()
      System.gc()
      FullChain.stageCurate(spark, s"$base/crawl", s"$base/cut",
        minQuality = 0.3, quota = 2000, maxBucket = 300)
      System.gc()
      val (uShards, uTokens) =
        FullChain.stageSink(spark, s"$base/cut", s"$base/shards", 200000L)
      val tC = System.nanoTime()
      System.gc()
      // resume replay: fresh downstream paths, input = crawl parquet only
      val tR0 = System.nanoTime()
      FullChain.stageCurate(spark, s"$base/crawl", s"$base/rcut",
        minQuality = 0.3, quota = 2000, maxBucket = 300)
      System.gc()
      val (rShards, rTokens) =
        FullChain.stageSink(spark, s"$base/rcut", s"$base/rshards", 200000L)
      val tR1 = System.nanoTime()
      val mu = spark.read.parquet(s"$base/shards/manifest")
      val mr = spark.read.parquet(s"$base/rshards/manifest")
      val maniDiff = mu.exceptAll(mr).count() + mr.exceptAll(mu).count()
      val (vShards, vBad) = graft.sources.Layouts.verifyTrainingShards(
        spark, s"$base/rshards", "doc_id", "clean_text")
      val fullSec = (tC - t0) / 1e9
      val resumeSec = (tR1 - tR0) / 1e9
      println(f"""{"metric":"soak_fullchain_resume","input_mb":$pagesMb%.0f,"full_sec":$fullSec%.1f,"crawl_sec":${(tA - t0) / 1e9}%.1f,"resume_sec":$resumeSec%.1f,"restart_saved_frac":${1.0 - resumeSec / fullSec}%.3f,"shards":$uShards,"tokens":$uTokens,"resume_shards":$rShards,"resume_tokens":$rTokens,"manifest_diff_rows":$maniDiff,"resume_manifest_shards_verified":$vShards,"resume_manifest_mismatches":$vBad}""")
    }

    // Structured Streaming at soak scale — the §2D section's measured
    // numbers: (a) micro-batch THROUGHPUT of the windowed-agg path
    // (watermark + tumbling window + decimal sum → parquet sink) and
    // of the keyed-state path (sessionize via flatMapGroupsWithState),
    // and (b) kill-and-restart EXACTLY-ONCE at volume: a run killed
    // mid-stream and resumed from its checkpoint must leave the parquet
    // sink (read through its _spark_metadata commit log) exceptAll-equal
    // to an uninterrupted run's. Event files are RANGE-partitioned by
    // ts so the file source consumes them in event-time order — the
    // watermark advances monotonically and drops nothing, which also
    // makes the two runs' closed-window sets deterministic (the offsets
    // log pins each batch's file set; a restart replays the same sets).
    //   sbt "runMain graft.tools.SoakBench 800 100 0.7 streaming"
    if (axes("streaming")) {
      val evDir = "target/soak_stream_events"
      val evMark = java.nio.file.Paths.get(evDir, "_TARGETMB")
      // ~50k events/MB in the driver's parquet; copy i shifts ts by
      // i*31 days (event-time keeps moving forward across copies) and
      // strides event_id; user_id is SHARED across copies so the
      // session key space stays bounded while its state churns
      val eMult = math.max(4, targetMb / 2)
      val eRecipe = s"$targetMb|stream-recipe-v1|eMult=$eMult"
      if (!(java.nio.file.Files.exists(evMark) &&
            new String(java.nio.file.Files.readAllBytes(evMark)) == eRecipe)) {
        val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
        val idStride = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1
        ev.select(explode(sequence(lit(0), lit(eMult - 1))).as("i"),
            col("event_id"), col("ts"), col("user_id"), col("event_type"),
            col("value"), col("props"))
          .select(
            (col("event_id") + col("i") * idStride).as("event_id"),
            expr("timestampadd(DAY, 31 * i, ts)").as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .repartitionByRange(64, col("ts"))
          .sortWithinPartitions(col("ts"))
          .write.mode("overwrite").parquet(evDir)
        // the file source orders files by MODIFICATION time (task
        // completion order — effectively random), not by name; stamp
        // mtimes in part-index order so micro-batches consume the
        // range files in event-time order (part-00000 = lowest range)
        val parts = new java.io.File(evDir).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        val mt0 = parts.map(_.lastModified).min
        parts.zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(mt0 + i * 1000L) }
        java.nio.file.Files.write(evMark, eRecipe.getBytes)
      }
      val evSchema = spark.read.parquet(evDir).schema
      val nEvents = spark.read.parquet(evDir).count()
      val evMb = new java.io.File(evDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum / 1e6
      def fileStream() = spark.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", 8).parquet(evDir)
      def startWin(ck: String, out: String) =
        graft.streaming.EventStreams.windowedCounts(fileStream())
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .outputMode("append").start()
      val base = "target/soak_stream"
      // fresh checkpoints/sinks EVERY run: reused checkpoints mark all
      // files committed (zero batches replay → absurd events/s and a
      // kill loop that can spin forever), and append sinks would mix
      // rows across runs — the event CORPUS reuses via its recipe
      // marker, the measurement state never does
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      // (a1) windowed-agg throughput, uninterrupted
      val tw0 = System.nanoTime()
      val qw = startWin(s"$base/ck_u", s"$base/out_u")
      qw.processAllAvailable()
      val winBatches = qw.recentProgress.length
      qw.stop()
      val winSec = (System.nanoTime() - tw0) / 1e9
      // (a2) keyed-state throughput: sessionize over the same stream
      import spark.implicits._
      val sessStream = fileStream()
        .select(col("event_id"), unix_micros(col("ts")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .withColumn("event_time", timestamp_micros(col("ts")))
        .withWatermark("event_time", "10 minutes")
        .as[graft.streaming.EventStreams.Event]
      val ts0 = System.nanoTime()
      val qs = graft.streaming.EventStreams.sessionize(sessStream)
        .writeStream.format("parquet")
        .option("path", s"$base/out_sess")
        .option("checkpointLocation", s"$base/ck_sess")
        .outputMode("append").start()
      qs.processAllAvailable()
      qs.stop()
      val sessSec = (System.nanoTime() - ts0) / 1e9
      val nSessions = spark.read.parquet(s"$base/out_sess").count()
      // (b) kill mid-stream, resume from the checkpoint, require the
      // sink ≡ the uninterrupted run's
      val qk = startWin(s"$base/ck_r", s"$base/out_r")
      while (qk.isActive && (qk.lastProgress == null ||
             qk.lastProgress.batchId < 3)) Thread.sleep(200)
      val killedAt =
        Option(qk.lastProgress).map(_.batchId).getOrElse(-1L)
      val killFailed = qk.exception.nonEmpty
      qk.stop()
      // a kill is only a MID-STREAM kill if the query was healthy and
      // batches remained: a crashed run (killedAt -1 / exception) or a
      // kill after the final batch would degrade the exactly-once
      // proof to a no-op restart while still printing diff 0 — flag
      // that explicitly so the artifact can't masquerade
      val killDegenerate =
        killFailed || killedAt < 3 || killedAt > winBatches - 2
      val qr = startWin(s"$base/ck_r", s"$base/out_r")
      qr.processAllAvailable()
      qr.stop()
      val su = spark.read.parquet(s"$base/out_u")
      val sr = spark.read.parquet(s"$base/out_r")
      val restartDiff =
        su.exceptAll(sr).count() + sr.exceptAll(su).count()
      // (a3) funnelCompletions: the OTHER EventTimeTimeout operator
      // (same clamp/drop class that killed sessionize) — keyed-state
      // throughput plus its own kill-at-batch-3 exactly-once proof
      def startFun(ck: String, out: String) =
        graft.streaming.EventStreams.funnelCompletions(
          fileStream().select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts")))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .outputMode("append").start()
      val tf0 = System.nanoTime()
      val qf = startFun(s"$base/ck_fun_u", s"$base/out_fun_u")
      qf.processAllAvailable()
      val funBatches = qf.recentProgress.length
      qf.stop()
      val funSec = (System.nanoTime() - tf0) / 1e9
      val qfk = startFun(s"$base/ck_fun_r", s"$base/out_fun_r")
      while (qfk.isActive && (qfk.lastProgress == null ||
             qfk.lastProgress.batchId < 3)) Thread.sleep(200)
      val funKilledAt = Option(qfk.lastProgress).map(_.batchId).getOrElse(-1L)
      val funKillFailed = qfk.exception.nonEmpty
      qfk.stop()
      val funKillDegenerate =
        funKillFailed || funKilledAt < 3 || funKilledAt > funBatches - 2
      val qfr = startFun(s"$base/ck_fun_r", s"$base/out_fun_r")
      qfr.processAllAvailable()
      qfr.stop()
      val fu = spark.read.parquet(s"$base/out_fun_u")
      val fr = spark.read.parquet(s"$base/out_fun_r")
      val funDiff = fu.exceptAll(fr).count() + fr.exceptAll(fu).count()
      // (a4) windowedUserEstimate: sketch-state (KMV) merge across
      // micro-batches — the bounded-sketch analogue of the windowed
      // agg; its kill-restart proof covers sketch-state recovery
      def startEst(ck: String, out: String) =
        graft.streaming.EventStreams.windowedUserEstimate(fileStream())
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .outputMode("append").start()
      val te0 = System.nanoTime()
      val qe = startEst(s"$base/ck_est_u", s"$base/out_est_u")
      qe.processAllAvailable()
      val estBatches = qe.recentProgress.length
      qe.stop()
      val estSec = (System.nanoTime() - te0) / 1e9
      val qek = startEst(s"$base/ck_est_r", s"$base/out_est_r")
      while (qek.isActive && (qek.lastProgress == null ||
             qek.lastProgress.batchId < 3)) Thread.sleep(200)
      val estKilledAt = Option(qek.lastProgress).map(_.batchId).getOrElse(-1L)
      val estKillFailed = qek.exception.nonEmpty
      qek.stop()
      val estKillDegenerate =
        estKillFailed || estKilledAt < 3 || estKilledAt > estBatches - 2
      val qer = startEst(s"$base/ck_est_r", s"$base/out_est_r")
      qer.processAllAvailable()
      qer.stop()
      val eu = spark.read.parquet(s"$base/out_est_u")
      val er = spark.read.parquet(s"$base/out_est_r")
      val estDiff = eu.exceptAll(er).count() + er.exceptAll(eu).count()
      // (a5) STREAM-STREAM interval join: purchases × same-user clicks
      // in the preceding 30 min, both sides watermarked so the join
      // state store EVICTS rows that can no longer match — the
      // bounded-state claim of §2D's join operator, measured, plus its
      // own kill-at-batch-3 exactly-once proof
      def startAttr(ck: String, out: String) =
        graft.streaming.EventStreams.purchaseAttribution(fileStream())
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .outputMode("append").start()
      val ta0 = System.nanoTime()
      val qa = startAttr(s"$base/ck_attr_u", s"$base/out_attr_u")
      qa.processAllAvailable()
      val attrBatches = qa.recentProgress.length
      qa.stop()
      val attrSec = (System.nanoTime() - ta0) / 1e9
      val qak = startAttr(s"$base/ck_attr_r", s"$base/out_attr_r")
      while (qak.isActive && (qak.lastProgress == null ||
             qak.lastProgress.batchId < 3)) Thread.sleep(200)
      val attrKilledAt = Option(qak.lastProgress).map(_.batchId).getOrElse(-1L)
      val attrKillFailed = qak.exception.nonEmpty
      qak.stop()
      val attrKillDegenerate =
        attrKillFailed || attrKilledAt < 3 || attrKilledAt > attrBatches - 2
      val qar = startAttr(s"$base/ck_attr_r", s"$base/out_attr_r")
      qar.processAllAvailable()
      qar.stop()
      val au = spark.read.parquet(s"$base/out_attr_u")
      val ar = spark.read.parquet(s"$base/out_attr_r")
      val attrDiff = au.exceptAll(ar).count() + ar.exceptAll(au).count()
      println(f"""{"metric":"soak_streaming","events":$nEvents,"input_mb":$evMb%.0f,"files":64,"win_sec":$winSec%.1f,"win_events_per_sec":${nEvents / winSec}%.0f,"win_batches":$winBatches,"win_rows":${su.count()},"sess_sec":$sessSec%.1f,"sess_events_per_sec":${nEvents / sessSec}%.0f,"sessions":$nSessions,"restart_killed_at_batch":$killedAt,"restart_kill_degenerate":$killDegenerate,"restart_diff_rows":$restartDiff,"fun_sec":$funSec%.1f,"fun_events_per_sec":${nEvents / funSec}%.0f,"funnels":${fu.count()},"fun_restart_killed_at":$funKilledAt,"fun_restart_degenerate":$funKillDegenerate,"fun_restart_diff_rows":$funDiff,"est_sec":$estSec%.1f,"est_events_per_sec":${nEvents / estSec}%.0f,"est_windows":${eu.count()},"est_restart_killed_at":$estKilledAt,"est_restart_degenerate":$estKillDegenerate,"est_restart_diff_rows":$estDiff,"attr_sec":$attrSec%.1f,"attr_events_per_sec":${nEvents / attrSec}%.0f,"attributions":${au.count()},"attr_restart_killed_at":$attrKilledAt,"attr_restart_degenerate":$attrKillDegenerate,"attr_restart_diff_rows":$attrDiff}""")
    }

    spark.stop()
  }
}
