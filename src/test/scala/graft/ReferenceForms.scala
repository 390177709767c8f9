package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Curation, Dedup, Similarity, TextAnalysis}
import graft.plans.GraftFunctions
import graft.Materialize.MaterializeOps

/** Parity-only reference forms of graft's kernels: the composed
  * expression, window or join formulations each native kernel / scan
  * shape replaced. Specs pin the shipped operators against them and
  * the soak's A/B rows time them; nothing on a query path uses them.
  */
object ReferenceForms {

  /** The hex-string form of [[Similarity.planeVec]]: each md5 byte
    * formatted as two hex digits, the first 15 digits parsed back.
    */
  def planeVecHex(plane: Int, dims: Int): Array[Double] = {
    val mdI = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { d =>
      val hex = mdI.digest(s"plane$plane:$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 1000000L).toDouble / 1000000.0 - 0.5
    }
  }

  /** Brute-force all-pairs verifier (quadratic, small tables / specs
    * only — C5 ships [[Similarity.embeddingPairs]]).
    */
  def embeddingPairsBrute(emb: DataFrame, idCol: String, vecCol: String,
                          minCosine: Double): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val a = emb.select(col(idCol).as("vec_a"), col(vecCol).as("va")).repartition(par)
    val b = emb.select(col(idCol).as("vec_b"), col(vecCol).as("vb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VectorFunctions.cosineNative(col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Pre-round-15 composed form of [[Similarity.kmeansProbeCellsExpr]]:
    * array_sort over (‖c‖²−2·v·c, j) structs, first `nProbes` ids.
    */
  def kmeansProbeCellsExprComposed(vecCol: Column, centroids: Array[Array[Double]],
                                   nProbes: Int): Column = {
    require(centroids.nonEmpty)
    val structs = centroids.zipWithIndex.map { case (c, j) =>
      val cc = c.foldLeft(0.0)((acc, x) => acc + x * x)
      struct(
        (lit(cc) - lit(2.0) * call_function("graft_dot", vecCol, typedLit(c.toSeq)))
          .as("s"),
        lit(j).as("c"))
    }
    transform(
      slice(array_sort(array(structs.toIndexedSeq: _*)), 1, nProbes),
      x => x.getField("c"))
  }

  /** The pre-round-15 composed form of [[Similarity.kmeansAssignExpr]] —
    * a `least()` fold over (‖c‖²−2·v·c, j) structs with the centroid
    * norms as codegen-source literals. Every Lloyd iteration changes
    * the centroid constants, so this form recompiles its k×dims janino
    * class per iteration (and at k×dims past the 64 KB method limit
    * falls back to interpreted evaluation), which is why the
    * reference-object kernel replaced it on the query path.
    */
  def kmeansAssignExprComposed(vecCol: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty)
    val structs = centroids.zipWithIndex.map { case (c, j) =>
      val cc = c.foldLeft(0.0)((acc, x) => acc + x * x) // same fold as dotSql
      struct(
        (lit(cc) - lit(2.0) * call_function("graft_dot", vecCol, typedLit(c.toSeq)))
          .as("s"),
        lit(j).as("c"))
    }
    (if (structs.length == 1) structs.head
     else least(structs.toIndexedSeq: _*)).getField("c")
  }

  /** The per-query ADC distance table (query_id, m, code, d2) — the
    * native kernel (graft.plans.PqDistTableExpr) exploded to rows.
    */
  def pqDistTable(queries: DataFrame, idCol: String, vecCol: String,
                  cbs: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    val dt = GraftPlanFactory.column(
      graft.plans.PqDistTableExpr(GraftPlanFactory.expression(col(vecCol)), cbs))
    queries.select(col(idCol).as("query_id"), dt.as("__dt"))
      .select(col("query_id"), explode(col("__dt")).as("e"))
      .select(col("query_id"), col("e.m").as("m"),
        col("e.code").as("code"), col("e.d2").as("d2"))
  }

  /** Expression-composed form of [[pqDistTable]] (512 literal structs —
    * past the 64 KB codegen limit, harmless at query-batch cardinality).
    */
  def pqDistTableExprForm(queries: DataFrame, idCol: String, vecCol: String,
                          cbs: Array[Array[Array[Double]]]): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    val m = cbs.length
    val ksub = cbs.head.length
    val dsub = cbs.head.head.length
    val entries = for (mi <- 0 until m; j <- 0 until ksub) yield {
      val c = cbs(mi)(j)
      val cc = c.foldLeft(0.0)((acc, x) => acc + x * x) // same fold as dotSql
      val vm = col(s"__q$mi")
      struct(lit(mi).as("m"), lit(j).as("code"),
        round((lit(cc) - lit(2.0) * call_function("graft_dot", vm, typedLit(c.toSeq)))
          + call_function("graft_dot", vm, vm.cast("array<double>")), 6)
          .cast("decimal(18,6)").as("d2"))
    }
    queries
      .select(col(idCol).as("query_id") +: (0 until m).map { mi =>
        slice(col(vecCol), mi * dsub + 1, dsub).as(s"__q$mi")
      }: _*)
      .select(col("query_id"), explode(array(entries: _*)).as("e"))
      .select(col("query_id"), col("e.m").as("m"),
        col("e.code").as("code"), col("e.d2").as("d2"))
  }

  /** The unnest-join-groupBy formulation of the exhaustive ADC search
    * (shuffles Q×N partial-sum rows; the kernel scan replaced it).
    */
  def knnPqJoinForm(emb: DataFrame, idCol: String, vecCol: String,
                    nQueries: Int = 10, k: Int = 5,
                    m: Int = 16, ksub: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(emb.sparkSession)
    val cbs = Similarity.pqCodebooks(emb, idCol, vecCol, m, ksub)
    val codes = Similarity.pqEncodeWith(emb, idCol, vecCol, cbs).materialized
      .select(col("vec_id").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
    val dtab = pqDistTable(emb.filter(col(idCol) < nQueries), idCol, vecCol, cbs)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id"))
    codes.join(broadcast(dtab), Seq("m", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2")).cast("decimal(28,6)").as("adist"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .withColumn("adist", col("adist").cast("double"))
  }

  /** The per-round re-planned form of [[Similarity.kmeansCentroids]]:
    * each Lloyd round is a `posexplode` → `groupBy(cid, pos)` →
    * `collect()` query (two jobs and a shuffle per round). A
    * (cluster, position) whose elements are all null makes `sum` null
    * and the round throws.
    */
  def kmeansCentroidsExplode(emb: DataFrame, idCol: String, vecCol: String,
                              k: Int = 8, iters: Int = 2): Array[Array[Double]] = {
    GraftFunctions.register(emb.sparkSession)
    val Q = 1048576.0 // 2^20
    val seeds = emb
      .select(col(idCol).as("sid"), col(vecCol).as("sv"),
        graft.functions.PortableHash.portableHash(col(idCol)).as("__h"))
      .orderBy(col("__h"), col("sid")).limit(k) // TakeOrderedAndProject
      .collect()
    var centroids: Array[Array[Double]] =
      seeds.map(_.getSeq[Float](1).toArray.map(_.toDouble))
    val dims = centroids.headOption.map(_.length).getOrElse(0)

    // argmin via least() on (score, cid) structs — one expression, each
    // child evaluated once. (A when(b < a, b).otherwise(a) fold copies
    // the accumulated tree at every step: 2^k duplicates of the first
    // struct, blowing past codegen limits into exponential interpreted
    // evaluation — measured 19.8s vs 1.3s for this k=8 assignment.)
    // NOTE (round 15): the optimizer collapses the assignment ABOVE
    // the Generate here, so the argmin kernel re-runs per EXPLODED row
    // (dims× per vector). For PQ training (2048 mults + struct/Decimal
    // allocation per eval) that recompute dominated and
    // pqCodebooksTrained moved the kernel into the generator argument;
    // for THIS k=8×64 argmin the recompute is ~50 ms/iteration at
    // sf0.1 while the alternative (dims per-position sum aggregates
    // under the assignment key) measured 0.27 s/iteration SLOWER —
    // the 129-buffer HashAggregate costs more than the recompute it
    // saves. Measured both; the explode form stays.
    var it = 0
    while (it < iters && dims > 0) {
      val sums = emb
        .select(Similarity.kmeansAssignExpr(col(vecCol), centroids).as("cid"),
          posexplode(col(vecCol)).as(Seq("pos", "v")))
        .select(col("cid"), col("pos"),
          floor(col("v").cast("double") * Q + lit(0.5)).cast("long").as("q"))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val cid = r.getInt(0); val pos = r.getInt(1)
        next(cid)(pos) = r.getLong(2).toDouble / Q / r.getLong(3)
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /** The per-round re-planned form of [[Similarity.pqCodebooksTrained]]:
    * each round is a `posexplode(codes)` → `groupBy(mi, code)` query
    * with 2×dsub guarded sum aggregates (two jobs and a shuffle per
    * round).
    */
  def pqCodebooksTrainedExplode(emb: DataFrame, idCol: String, vecCol: String,
                                  m: Int = 16, ksub: Int = 32,
                                  iters: Int = 2,
                                  trainMod: Int = 1): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftFunctions.register(emb.sparkSession)
    val train = if (trainMod == 1) emb else emb.filter(col(idCol) % trainMod === 0)
    var cbs = Similarity.pqCodebooks(emb, idCol, vecCol, m, ksub)
    val dsub = cbs.head.head.length
    val Q = 1048576.0 // 2^20, the kmeansCentroids fixed-point grid
    var it = 0
    // Generator-argument placement: posexplode(enc.codes) evaluates
    // the encode kernel ONCE per input row. The previous
    // select(enc.codes, posexplode(vec)) form let the optimizer
    // collapse the kernel ABOVE the Generate, re-encoding every vector
    // dims× (measured: 1.2 s/iteration on 2000 rows at sf0.1). The
    // subspace slice sums ride dsub per-position aggregates under the
    // (mi, code) group — bit-identical values: same floor(v·2^20+0.5)
    // longs, same per-(mi,code,spos) counts (when-guards reproduce the
    // explode form's ragged-vector semantics; a (mi,code,spos) cell
    // with zero contributions keeps its previous codebook entry
    // exactly as a missing group did).
    while (it < iters) {
      val enc = GraftPlanFactory.column(graft.plans.PqEncodeExpr(
        GraftPlanFactory.expression(col(vecCol)), cbs))
      val aggs = (0 until dsub).flatMap { sp =>
        val idx = col("mi") * dsub + sp + 1
        val inRange = size(col("__v")) >= idx
        Seq(
          sum(when(inRange,
            floor(element_at(col("__v"), idx).cast("double") * Q + lit(0.5))
              .cast("long"))).as(s"s$sp"),
          sum(when(inRange, lit(1L))).as(s"n$sp"))
      }
      val sums = train
        .select(posexplode(enc.getField("codes")).as(Seq("mi", "code")),
          col(vecCol).as("__v"))
        .groupBy(col("mi"), col("code"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val next = cbs.map(_.map(_.clone()))
      sums.foreach { r =>
        val mi = r.getInt(0); val code = r.getInt(1)
        var sp = 0
        while (sp < dsub) {
          val si = 2 + 2 * sp
          if (!r.isNullAt(si) && r.getLong(si + 1) > 0L)
            next(mi)(code)(sp) = r.getLong(si).toDouble / Q / r.getLong(si + 1)
          sp += 1
        }
      }
      cbs = next
      it += 1
    }
    cbs
  }

  /** Window-function formulation of [[graft.operators.Dedup.winnowOverlap]]'s
    * fingerprint selection — the parity reference for the native kernel
    * (one doc-keyed sort shuffle + per-doc w-row frames), feeding the
    * same capped fingerprint self-join.
    */
  def winnowOverlapWindow(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 4, w: Int = 5, minShared: Long = 2,
                          maxDf: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.{shingles, tokens}
    import graft.operators.PairMiner
    val grams = docs
      .select(col(idCol).as("doc_id"), shingles(tokens(col(textCol)), n).as("__sh"))
      .select(col("doc_id"), size(col("__sh")).as("__glen"),
        posexplode(col("__sh")).as(Seq("__p0", "__s")))
      .select(col("doc_id"), col("__glen"), (col("__p0") + 1).as("pos"),
        conv(substring(md5(col("__s")), 1, 12), 16, 10).cast("long").as("h"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val fps = grams
      .withColumn("__m", min(struct(col("h"), (-col("pos")).as("np"))).over(frame))
      .filter(col("pos") <= col("__glen") - (w - 1)) // full windows only
      .select(col("doc_id"), col("__m").getField("h").as("h"))
      .distinct().materialized
    PairMiner.selfPairs(PairMiner.cap(fps, Seq("h"), maxDf).materialized, Seq("h"),
        "doc_id", "doc_a", "doc_b", n = "shared_fps")
      .filter(col("shared_fps") >= minShared)
  }

  /** Reference formulation of [[Dedup.cdcChunkTable]] from built-in
    * functions (posexplode → running-anchor window → ordered
    * reassembly); it shuffles every token.
    */
  def cdcChunkTableWindowed(docs: DataFrame, idCol: String, textCol: String,
                            anchorMod: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.tokens
    val toks = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val anchored = toks.withColumn("is_anchor",
      (Dedup.phash(concat(lit("cdc|"), col("tok"))) % anchorMod === 0).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    anchored.withColumn("chunk", sum(col("is_anchor")).over(w))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok"))).cast("binary")).as("chunk_fp"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("chunk_fp"), col("n_tokens"))
  }

  /** Built-in-window reference formulation of [[Curation.quotaSample]]. */
  def quotaSampleWindow(docs: DataFrame, idCol: String, strataCol: String,
                        quota: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("__h"), col(idCol))
    docs
      .select(col(idCol), col(strataCol),
        Curation.phash(concat(col(strataCol), lit("|"), col(idCol).cast("string"))).as("__h"))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= quota)
      .select(col(idCol), col(strataCol))
  }

  /** Shuffle formulation of [[TextAnalysis.tokenDiversity]] (two
    * exchanges; the kernel form computes the same longs map-side).
    */
  def tokenDiversityShuffle(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val pairs = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val agg = pairs.groupBy(col("doc_id")).agg(
      sum(col("c")).as("__n"),
      count(lit(1)).as("__d"),
      max(col("c")).as("__maxc"),
      sum(col("c") * col("c")).as("__sumc2"))
    docs.select(col(idCol).as("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__n"), lit(0L)).as("n_tokens"),
        coalesce(col("__d"), lit(0L)).as("distinct_tokens"),
        when(col("__n").isNull, lit(0.0))
          .otherwise(col("__maxc").cast("double") / col("__n").cast("double"))
          .as("top_share"),
        when(col("__n").isNull, lit(0.0))
          .otherwise(lit(1.0) - col("__sumc2").cast("double") /
            (col("__n") * col("__n")).cast("double"))
          .as("simpson_diversity"))
  }

  /** Reference implementation of [[TextAnalysis.encodingRepair]] from
    * built-in chained replaces (32 full-string scans per row).
    */
  def encodingRepairChained(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nArtifacts = TextAnalysis.MojibakeRepairs.map { case (bad, _) =>
      ((length(t) - length(replace(t, lit(bad), lit("")))) / bad.length)
        .cast("long")
    }.reduce(_ + _)
    val repaired = TextAnalysis.MojibakeRepairs.foldLeft(t) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }
    docs.select(col(idCol).as("doc_id"),
      repaired.as("repaired"),
      nArtifacts.as("n_artifacts"),
      (repaired =!= t).as("changed"))
  }

  /** [[TextFunctions.tokens]] from built-in HOFs (interpreted lambdas;
    * CollapseProject can inline projections into them).
    */
  def tokensHof(c: Column): Column =
    filter(
      transform(split(lower(c), "\\s+"), t => trim(t, TextFunctions.PunctChars)),
      t => t =!= lit(""))

  /** [[TextFunctions.shingles]] from built-in HOFs. */
  def shinglesHof(tokensCol: Column, n: Int): Column =
    when(size(tokensCol) < n, array().cast("array<string>"))
      .otherwise(
        transform(sequence(lit(1), size(tokensCol) - lit(n - 1)),
          i => concat_ws(" ", slice(tokensCol, i, lit(n)))))

  /** [[TextAnalysis.quality]] from built-in HOFs (interpreted lambdas). */
  def qualityHof(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = col("__toks")
    docs.select(col(idCol), col(textCol), tokensHof(col(textCol)).as("__toks")).select(
      col(idCol).as("doc_id"),
      length(col(textCol)).as("n_chars"),
      size(toks).as("n_tokens"),
      (aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
        greatest(size(toks), lit(1))).as("avg_token_len"),
      ((length(col(textCol)) -
        length(regexp_replace(col(textCol), "[.,!?;:]", ""))).cast("double") /
        greatest(length(col(textCol)), lit(1))).as("punct_ratio"),
      (size(filter(toks, t => TextFunctions.Stopwords.map(s => t === s).reduce(_ || _)))
        .cast("double") / greatest(size(toks), lit(1))).as("stopword_ratio"))
      .withColumn("quality_score",
        (when(col("n_tokens") >= 5, lit(4)).otherwise(lit(0)) +
          when(col("stopword_ratio") > 0.05, lit(3)).otherwise(lit(0)) +
          when(col("avg_token_len") >= 3.0 && col("avg_token_len") <= 10.0, lit(3))
            .otherwise(lit(0))).cast("double") / 10.0)
  }

  /** Shuffle formulation of [[TextAnalysis.gopherRepetition]] (explode +
    * count shuffle + TopKPerKey; the kernel computes the same values
    * map-side).
    */
  def gopherRepetitionShuffle(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        explode(concat(TextFunctions.shingles(col("__toks"), 2),
          TextFunctions.shingles(col("__toks"), 3), TextFunctions.shingles(col("__toks"), 5))).as("gram"))
      .withColumn("n",
        (length(col("gram")) - length(replace(col("gram"), lit(" "), lit(""))) + 1)
          .cast("int"))
      .groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .materialized // feeds the top-1 cut AND the dup-5 aggregation
    val top = graft.plans.TopK.perKey(
        counts.filter(col("n").isin(2, 3)).withColumn("__neg", -col("c")),
        Seq("doc_id", "n"), Seq("__neg", "gram"), 1, descending = false)
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("n") === 2, col("gram"))).as("top2_gram"),
        max(when(col("n") === 2, col("c"))).as("__c2"),
        max(when(col("n") === 3, col("gram"))).as("top3_gram"),
        max(when(col("n") === 3, col("c"))).as("__c3"))
    val dup5 = counts.filter(col("n") === 5 && col("c") >= 2)
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * length(col("gram"))).as("__dup5"))
    docs.select(col(idCol).as("doc_id"), length(col(textCol)).as("n_chars"))
      .join(top, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("top2_gram"), lit("")).as("top2_gram"),
        coalesce(col("__c2"), lit(0L)).as("top2_count"),
        ((coalesce(col("__c2"), lit(0L)) * length(coalesce(col("top2_gram"), lit(""))))
          .cast("double") / greatest(col("n_chars"), lit(1))).as("top2_share"),
        coalesce(col("top3_gram"), lit("")).as("top3_gram"),
        coalesce(col("__c3"), lit(0L)).as("top3_count"),
        ((coalesce(col("__c3"), lit(0L)) * length(coalesce(col("top3_gram"), lit(""))))
          .cast("double") / greatest(col("n_chars"), lit(1))).as("top3_share"),
        (coalesce(col("__dup5"), lit(0L)).cast("double") /
          greatest(col("n_chars"), lit(1))).as("dup5_char_mass"))
  }

  /** Nearest codebook entry for one subspace slice as a (score, code)
    * struct — `least()` over (‖c‖² − 2·v_m·c, j) structs, the exact
    * [[Similarity.kmeansAssignExpr]] argmin shape (score omits the
    * constant ‖v_m‖²; ties break on the lower code).
    */
  private def pqMinStruct(vm: Column, codebook: Array[Array[Double]]): Column = {
    val structs = codebook.zipWithIndex.map { case (c, j) =>
      val cc = c.foldLeft(0.0)((acc, x) => acc + x * x) // same fold as dotSql
      struct(
        (lit(cc) - lit(2.0) * call_function("graft_dot", vm, typedLit(c.toSeq))).as("s"),
        lit(j).as("c"))
    }
    if (structs.length == 1) structs.head else least(structs.toIndexedSeq: _*)
  }

  /** Expression-composed form of [[Similarity.pqEncode]] (it compiles to
    * >64 KB of generated Java and runs interpreted).
    */
  def pqEncodeExprForm(emb: DataFrame, idCol: String, vecCol: String,
                       cbs: Array[Array[Array[Double]]]): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val m = cbs.length
    val dsub = cbs.head.head.length
    val staged = emb.select(col(idCol).as("vec_id") +: (0 until m).map { mi =>
      slice(col(vecCol), mi * dsub + 1, dsub).as(s"__v$mi")
    }: _*)
    val encoded = staged.select(col("vec_id") +:
      ((0 until m).map(mi => col(s"__v$mi")) ++
        (0 until m).map(mi => pqMinStruct(col(s"__v$mi"), cbs(mi)).as(s"__st$mi"))): _*)
      .select(col("vec_id") +: (0 until m).flatMap { mi =>
        // graft_dot is float-left × double-right (embeddingOutliers
        // precedent) — the self-dot needs the explicit double cast
        Seq(col(s"__st$mi").getField("c").as(s"__c$mi"),
          round(col(s"__st$mi").getField("s") +
            call_function("graft_dot", col(s"__v$mi"),
              col(s"__v$mi").cast("array<double>")), 6)
            .cast("decimal(18,6)").as(s"__e$mi"))
      }: _*)
    encoded.select(col("vec_id"),
      array((0 until m).map(mi => col(s"__c$mi")): _*).as("codes"),
      (0 until m).map(mi => col(s"__e$mi").cast("decimal(28,6)"))
        .reduce(_ + _).cast("decimal(28,6)").as("recon_err"))
  }

  /** The HOF-composed robots winner (HtmlSpec pins native ≡ composed on
    * fixture and adversarial rules).
    */
  def robotsWinnerComposed(path: Column, rulesArr: Column): Column =
    array_max(transform(
      filter(rulesArr, r =>
        graft.functions.TextFunctions.robotsMatch(path, r.getField("rpath"))),
      r => struct(
        length(r.getField("rpath")).as("l"),
        when(r.getField("rtype") === "allow", 1).otherwise(0).as("pref"),
        r.getField("rpath").as("rpath"),
        r.getField("rtype").as("rtype"))))
}
