package graft.operators

import graft.sources.Tables
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.plans.GraftFunctions
import graft.Materialize.MaterializeOps

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline (spec verifier);
  * the random-hyperplane LSH variants are the 100 TB path: bucket keys
  * are computed map-side from deterministic (md5-derived) planes, the
  * candidate join is bucket-partitioned, candidates are deduplicated on
  * ids only (no vector payload through the shuffle), and exact cosine
  * runs on candidates alone — comparisons scale with bucket occupancy,
  * never n².
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane: md5-derived components in
    * [-0.5, 0.5), computed driver-side once (they are constants) and
    * shipped as array literals — the projection itself is the native
    * codegen'd `graft_dot`, so bucketing runs at scan rate.
    */
  private[graft] def planeVec(plane: Int, dims: Int): Array[Double] = {
    val mdI = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims) { d =>
      val md = mdI.digest(s"plane$plane:$d".getBytes("UTF-8"))
      // the digest's first 15 hex digits: 7 bytes, then byte 8's high nibble
      var prefix = 0L
      for (i <- 0 until 7) prefix = (prefix << 8) | (md(i) & 0xff)
      prefix = (prefix << 4) | ((md(7) & 0xff) >>> 4)
      (prefix % 1000000L).toDouble / 1000000.0 - 0.5
    }
  }

  /** LSH bucket signature: sign bits of projections onto `nPlanes`
    * deterministic hyperplanes.
    */
  def lshBucket(vecCol: Column, nPlanes: Int, dims: Int, planeOffset: Int = 0): Column = {
    val proj = (0 until nPlanes).map { p =>
      val dotP = call_function("graft_dot", vecCol,
        typedLit(planeVec(planeOffset + p, dims).toSeq))
      when(dotP >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    proj.reduce(_ + _)
  }

  /** One map pass assigning every vector to its bucket in each of
    * `nTables` independent hash tables → rows (id, table, bucket).
    * Ids only — vectors are re-joined AFTER candidate dedup so the
    * candidate shuffle never carries the 64-float payload. NOT
    * materialized: the raw bucketing scan shared by the ad-hoc
    * ([[lshBucketed]]) and persisted ([[buildLshIndex]]) index forms.
    *
    * `planeStride` fixes the plane-index spacing between tables
    * (table t uses planes t·stride … t·stride+nPlanes−1). The default
    * sentinel keeps the historical `stride = nPlanes` layout; the
    * corpus-sized form ([[embeddingPairsAuto]]) pins
    * [[AutoPlaneStride]] so the plane VECTORS don't shift when the
    * plane COUNT does — which is what lets the DuckDB twin bake one
    * fixed literal set and select the count dynamically.
    */
  private def bucketRows(emb: DataFrame, idCol: String, vecCol: String,
                         nPlanes: Int, nTables: Int, dims: Int,
                         planeStride: Int = -1): DataFrame = {
    val stride = if (planeStride < 0) nPlanes else planeStride
    val tableBuckets = (0 until nTables).map { t =>
      struct(lit(t).as("table"),
        lshBucket(col(vecCol), nPlanes, dims, planeOffset = t * stride).as("bucket"))
    }
    emb.select(col(idCol).as("id"),
      explode(array(tableBuckets: _*)).as("tb"))
      .select(col("id"), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
  }

  /** [[bucketRows]] materialized for the ad-hoc queries: every
    * consumer self-joins the bucket table, and without a cut Spark
    * recomputes BOTH sides — nTables × nPlanes dot products per vector,
    * twice. The materialized rows are three numbers each per (vector,
    * table) — at any scale vastly cheaper than re-running the
    * projection scan ([[buildLshIndex]] persists the same rows to disk
    * instead). Lazy, so explain-only consumers (plan audits) run no
    * job; the first action computes the rows once. Fault tolerance
    * follows [[graft.Materialize]]: block-manager blocks by default,
    * reliable checkpoint files under `graft.materialize.reliable` for
    * cluster runs; long-lived indexes belong on [[buildLshIndex]].
    */
  private def lshBucketed(emb: DataFrame, idCol: String, vecCol: String,
                          nPlanes: Int, nTables: Int, dims: Int): DataFrame =
    bucketRows(emb, idCol, vecCol, nPlanes, nTables, dims)
      .materialized

  /** C5: near-duplicate pairs by cosine ≥ threshold, via multi-table
    * LSH candidate generation + exact cosine verification on candidates
    * only.
    *
    * Expected recall (random-hyperplane model): a pair at cosine `t`
    * collides in one table with probability `p^nPlanes` where
    * `p = 1 - acos(t)/π`, so recall ≈ `1 - (1 - p^nPlanes)^nTables` —
    * at the threshold itself (the WORST retained pair) the defaults
    * (5 planes × 16 tables, t = 0.3 → p ≈ 0.60) give ≈ 0.72, and true
    * near-duplicates score far higher (t = 0.9 → ≈ 0.9999). Recall is
    * also spec-measured vs the brute-force verifier (SimilaritySpec,
    * floor 0.45 on the shipped config); raise `nTables` (compounding
    * collision chances) or lower `nPlanes` (bigger buckets) to trade
    * verification compute for recall.
    *
    * Scale shape: one scan to bucket, then [[PairMiner]] on (table,
    * bucket): id-pair dedup, one vector copy re-joined per side.
    *
    * SIZE nPlanes TO THE CORPUS: a table has only 2^nPlanes buckets,
    * so an average bucket holds n/2^nPlanes vectors and the candidate
    * join emits ~n²/2^nPlanes pairs per table — at the 5-plane default
    * (32 buckets, sized for the sf oracle tables) a 40k-vector corpus
    * already generates hundreds of millions of candidates
    * (measured by the soak, `graft.soak.Soak`). Pick
    * `nPlanes ≈ log2(n / B)` for target bucket size B (64-256), trading
    * worst-pair recall (compounded back via nTables) for bounded
    * candidates; `maxBucket` is the
    * [[PairMiner.cap]] that drops degenerate hot buckets
    * (identical/correlated vector floods) the plane count can't predict.
    */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double, nPlanes: Int = 5, nTables: Int = 16,
                     dims: Int = 64, maxBucket: Int = Int.MaxValue): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    cosinePairs(lshBucketed(emb, idCol, vecCol, nPlanes, nTables, dims), TableBucket,
      maxBucket, emb, idCol, vecCol, minCosine)
  }

  /** The LSH block key: (hash table, bucket). */
  private val TableBucket = Seq("table", "bucket")

  /** [[PairMiner]] over an (id, key…) block table, verified by cosine —
    * the body of [[embeddingPairs]], [[embeddingPairsAuto]] and
    * [[embeddingPairsIvf]].
    */
  private def cosinePairs(blocks: DataFrame, keys: Seq[String], maxKey: Int,
                          emb: DataFrame, idCol: String, vecCol: String,
                          minCosine: Double): DataFrame = {
    val cand = PairMiner.selfPairs(PairMiner.cap(blocks, keys, maxKey), keys,
        "id", "vec_a", "vec_b")
      .select(col("vec_a"), col("vec_b"))
    PairMiner.fetch(PairMiner.fetch(cand, "vec_a", emb, idCol, vecCol, "va"),
        "vec_b", emb, idCol, vecCol, "vb")
      .select(col("vec_a"), col("vec_b"), cosine("va", "vb").as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** The verify of every vector pair miner: cosine rounded to 6 places. */
  private def cosine(a: String, b: String): Column =
    round(VectorFunctions.cosineNative(col(a), col(b)), 6)

  /** Plane-index stride (and plane-count ceiling) of the corpus-sized
    * LSH layout: table t always draws its planes from indices
    * t·16 … t·16+15, using the first `np` of them. Because the VECTORS
    * are pinned by (table, position) regardless of how many planes a
    * given corpus size activates, the DuckDB twin bakes ONE fixed set
    * of plane literals and picks `np` with an integer CASE ladder over
    * count(*) — both engines stay bit-identical at every scale factor.
    */
  val AutoPlaneStride: Int = 16

  /** Corpus-sized plane count: the smallest `np` in
    * [minPlanes, [[AutoPlaneStride]]] with n ≤ targetBucket · 2^np
    * (ceiling when none) — expected bucket occupancy ≤ targetBucket,
    * so the candidate join emits ~n·targetBucket/2 pairs per table no
    * matter the corpus size. INTEGER comparisons only (no float log2):
    * the oracle's CASE ladder over the same thresholds agrees exactly
    * at every count, including exact powers of two.
    */
  def autoPlanes(n: Long, targetBucket: Int = 128, minPlanes: Int = 5): Int = {
    var np = minPlanes
    while (np < AutoPlaneStride && n > targetBucket.toLong * (1L << np)) np += 1
    np
  }

  /** Exact row count WITHOUT a Spark job when the plan is a pure
    * projection over one parquet file-source scan: parquet footers
    * carry exact per-file row counts, so the driver sums them in
    * milliseconds instead of scheduling a count() job (guide §6 — use
    * the format's metadata; round-15 verdict measured the dedicated
    * count() costing dedup_embedding +15% at sweep scale). Projections
    * never change cardinality, so unwrapping them is safe; any other
    * node (Filter, Join, …) falls back to a real count(). The value is
    * bit-identical to count(*) — the oracle twins' plane-count CASE
    * ladders key on count(*) of the same parquet files. Two more rules
    * fall back to count():
    *  - `ignoreCorruptFiles` / `ignoreMissingFiles` on (session conf or
    *    read option): count() then SKIPS an unreadable or vanished file
    *    while a footer read would throw or count it, so only count()
    *    keeps count()'s semantics;
    *  - a scan listing more than [[FooterCountMaxFiles]] files: footers
    *    open serially on the driver, so driver work stays bounded and a
    *    wide listing pays one distributed count() instead.
    */
  private[graft] def exactRowCount(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @annotation.tailrec
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => unwrap(child)
      case other             => other
    }
    val conf = df.sparkSession.conf
    def ignoring(fs: HadoopFsRelation): Boolean =
      Seq("ignoreCorruptFiles", "ignoreMissingFiles").exists { k =>
        fs.options.get(k).orElse(conf.getOption(s"spark.sql.files.$k"))
          .exists(_.trim.equalsIgnoreCase("true"))
      }
    unwrap(df.queryExecution.optimizedPlan) match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] &&
            !ignoring(fs) && fs.location.inputFiles.length <= FooterCountMaxFiles =>
          val hconf = df.sparkSession.sessionState.newHadoopConf()
          fs.location.inputFiles.map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(f), hconf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum
        case _ => df.count()
      }
      case _ => df.count()
    }
  }

  /** File-count ceiling of [[exactRowCount]]'s driver-side footer sum. */
  private val FooterCountMaxFiles = 64

  /** [[embeddingPairs]] with the hyperplane count sized to the corpus
    * AND an oracle-compatible fixed plane layout — the form the
    * oracle-pinned near-dup queries ship (C5 dedup_embedding, C39
    * semantic_clusters feed). The fixed 5-plane default melts down
    * quadratically as the corpus grows (32 buckets/table → ~n²/32
    * candidates per table; measured 150 s of a 159 s semantic_clusters
    * span at sf1's 20k vectors, ~100M pre-dedup candidates), and
    * [[embeddingPairsScaled]]'s `t·np+p` plane layout shifts every
    * plane vector when np changes, which no fixed oracle SQL can
    * follow. This form pins the layout at [[AutoPlaneStride]] and
    * derives np from the corpus count with [[autoPlanes]] — via
    * [[exactRowCount]], i.e. parquet footer metadata when the input is
    * a bare scan (no job at all), a count() otherwise — at the
    * driver SFs (≤4096 vectors) np stays 5, so small-corpus recall is
    * unchanged; at sf1 np=8 cuts candidates ~8×, and growth stays
    * ~n·targetBucket/2 per table forever.
    */
  def embeddingPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double, nTables: Int = 16, dims: Int = 64,
                         targetBucket: Int = 128,
                         maxBucket: Int = Int.MaxValue): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val np = autoPlanes(exactRowCount(emb), targetBucket)
    val bucketed = bucketRows(emb, idCol, vecCol, np, nTables, dims,
      planeStride = AutoPlaneStride).materialized
    cosinePairs(bucketed, TableBucket, maxBucket, emb, idCol, vecCol, minCosine)
  }

  /** [[embeddingPairs]] with the hyperplane count SIZED TO THE CORPUS:
    * one cheap count() picks `nPlanes = max(5, ceil(log2(n / targetBucket)))`
    * so the expected bucket holds ~targetBucket vectors no matter the
    * corpus size — the production entry point for ad-hoc near-dup
    * scans (the soak measured the fixed 5-plane default melting down
    * 8× in shuffle volume at 40k vectors; the oracle-pinned queries
    * keep the fixed default because their twin SQL bakes the plane
    * literals). maxBucket still guards degenerate floods.
    */
  def embeddingPairsScaled(emb: DataFrame, idCol: String, vecCol: String,
                           minCosine: Double, targetBucket: Int = 128,
                           nTables: Int = 16, dims: Int = 64,
                           maxBucket: Int = 10000): DataFrame = {
    val n = exactRowCount(emb)
    val planes = math.max(5,
      math.ceil(math.log(math.max(n, 1).toDouble / targetBucket) / math.log(2)).toInt)
    embeddingPairs(emb, idCol, vecCol, minCosine, nPlanes = planes,
      nTables = nTables, dims = dims, maxBucket = maxBucket)
  }

  /** Top-`nProbes` nearest k-means cells as an int array — the
    * map-side multi-probe assignment (codebook folded into literals,
    * no join; the multi-cell generalization of [[kmeansAssignExpr]]).
    * array_sort on (score, cid) structs makes ties deterministic.
    */
  def kmeansProbeCellsExpr(vecCol: Column, centroids: Array[Array[Double]],
                           nProbes: Int): Column = {
    require(centroids.nonEmpty)
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(graft.plans.KmeansProbeCellsExpr(
      GraftPlanFactory.expression(vecCol), centroids.map(_.clone()), nProbes))
  }

  /** Cosine-near pairs via IVF cells — the CLUSTERED-corpus scale path
    * for pair mining. Sign-hyperplane LSH splits UNIFORM directional
    * mass; a clustered corpus concentrates into a few sign patterns,
    * so its buckets saturate any cap and recall inside dense regions
    * collapses (soak-measured: tens of billions of candidates at a
    * 2000 cap). IVF cells are FITTED to the corpus's own density —
    * every vector lands in its `nProbes` nearest k-means cells,
    * candidates are same-cell id pairs, and the quadratic term is
    * bounded by (cell size × probes)², steered by `k` (scale k with
    * the corpus: cells ≈ n / targetCell, like the paper-standard
    * SemDeDup setting).
    *
    * Same [[PairMiner]] body as [[embeddingPairs]] with the cell as
    * the block key (multi-probe co-occurrence collapses in the id-pair
    * dedup); `maxCell` is its [[PairMiner.cap]].
    */
  def embeddingPairsIvf(emb: DataFrame, idCol: String, vecCol: String,
                        minCosine: Double, k: Int = 64, iters: Int = 2,
                        nProbes: Int = 2, maxCell: Int = Int.MaxValue,
                        trainMod: Int = 1): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    // codebook quality needs only a sample (trainMod-strided ids); the
    // full corpus pays k×dims multiplies per vector ONCE, at assignment
    val train = if (trainMod == 1) emb else emb.filter(col(idCol) % trainMod === 0)
    val centroids = kmeansCentroids(train, idCol, vecCol, k, iters)
    if (centroids.isEmpty)
      return emb.select(col(idCol).as("vec_a"), col(idCol).as("vec_b"),
        lit(0.0).as("cosine")).limit(0)
    val cells = emb.select(col(idCol).as("id"),
        explode(kmeansProbeCellsExpr(col(vecCol), centroids, nProbes))
          .as("cell"))
      .materialized // both sides of the cell self-join
    cosinePairs(cells, Seq("cell"), maxCell, emb, idCol, vecCol, minCosine)
  }

  /** Deterministic distributed k-means (Lloyd) over the embedding
    * column — the semantic-clustering primitive curation pipelines use
    * for cluster-balanced sampling and coarse semantic dedup. Returns
    * (vec_id, cluster_id).
    *
    * Scale shape (the classic Spark k-means): centroids are a k×dims
    * driver-side codebook (tiny); each iteration is ONE map-only job
    * ([[lloydRound]]) over a vector scan planned once per training
    * call: every partition folds its rows' assignments (the
    * [[kmeansAssignExpr]] kernel) into a dense k×dims accumulator and
    * the driver sums the partials. No shuffle, no join, no per-round
    * planning; each partial is 3×k×dims longs.
    *
    * Determinism (DuckDB-oracle bit-parity):
    *  - init: the k non-null vectors with the smallest (portable md5
    *    hash, id) ([[seedVectors]]);
    *  - argmin minimizes (‖c‖² − 2·v·c) — ‖v‖² is constant per row —
    *    with (score, cid) lexicographic tie-break;
    *  - means are computed on a 2⁻²⁰ fixed-point grid:
    *    `floor(v·2²⁰ + 0.5)` per component summed as LONGS (exact in
    *    any order) — double-sum nondeterminism and engine-specific
    *    decimal rounding both sidestepped; the tiny quantization is
    *    irrelevant to cluster semantics and documented here;
    *  - empty clusters, and components whose elements are all null,
    *    keep their previous value.
    */
  /** Map-side cluster assignment against a fixed centroid codebook —
    * the "predict" half of [[kmeans]], usable on ANY DataFrame or
    * stream with the vector column (no join, no shuffle, no state).
    */
  def kmeansAssignExpr(vecCol: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty)
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(graft.plans.KmeansArgminExpr(
      GraftPlanFactory.expression(vecCol), centroids.map(_.clone())))
  }

  /** The trained codebook alone (cluster id = array index) — collect it
    * once, then classify batches or streams with [[kmeansAssignExpr]].
    * A vector longer than the centroid it is assigned to fails the call.
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int = 8, iters: Int = 2): Array[Array[Double]] = {
    GraftFunctions.register(emb.sparkSession)
    var centroids: Array[Array[Double]] = seedVectors(emb, idCol, vecCol, k)
    val dims = centroids.headOption.map(_.length).getOrElse(0)
    if (iters <= 0 || dims == 0) return centroids
    val vecs = emb.select(col(vecCol)).queryExecution.toRdd
    val width = centroids.map(_.length).max
    (0 until iters).foreach { _ =>
      val cs = centroids
      val cc = cs.map(_.foldLeft(0.0)((acc, x) => acc + x * x)) // KmeansArgminExpr's ‖c‖²
      centroids = lloydRound(vecs, cs, width, v => {
        val cid = graft.functions.GraftKmeans.argmin(v, cs, cc)
        require(v.numElements() <= cs(cid).length, s"a ${v.numElements()}-element " +
          s"vector is longer than its ${cs(cid).length}-element centroid $cid")
        Array(cid)
      })
    }
    centroids
  }

  /** The seed rule of k-means and PQ (the twins' `seeds`/`pseeds`): the
    * `n` non-null vectors with the smallest (portable md5 hash, id).
    */
  private def seedVectors(emb: DataFrame, idCol: String, vecCol: String,
                          n: Int): Array[Array[Double]] =
    emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("sid"), col(vecCol).as("sv"),
        graft.functions.PortableHash.portableHash(col(idCol)).as("__h"))
      .orderBy(col("__h"), col("sid")).limit(n) // TakeOrderedAndProject
      .collect()
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))

  /** One Lloyd round as ONE map-only job over `vecs`, the planned-once
    * scan of a single `array<float>` column. `prev` is the table of
    * cells (`prev(c)(j)` = component j of cell c); `cellsOf` assigns a
    * non-null vector's consecutive `width`-element slices to cells (one
    * cell per slice, elements past the last slice are ignored). Every
    * partition folds its rows into a dense (cell, component)
    * accumulator — the sum of `floor(v·2²⁰ + 0.5)` longs over non-null
    * elements, the element count (nulls included) and the non-null
    * count — and the driver sums the partials. Long sums are exact in
    * any order (and throw on overflow, like the SQL `sum`), so the new
    * means `sum / 2²⁰ / count` do not depend on the partitioning. A
    * (cell, component) with no non-null element keeps `prev`'s value.
    *
    * Each round re-runs the scan, not its planning: the RDD is built
    * once per training call, and an exchange inside it is materialized
    * once and read again by each round.
    */
  private def lloydRound(vecs: RDD[InternalRow], prev: Array[Array[Double]], width: Int,
                         cellsOf: ArrayData => Array[Int]): Array[Array[Double]] = {
    val Q = 1048576.0 // 2^20
    val n = prev.length * width
    val partials = vecs.mapPartitions { rows =>
      val acc = new Array[Long](3 * n) // [sum | count | non-null count]
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          val v = r.getArray(0)
          val cells = cellsOf(v)
          var s = 0
          while (s < cells.length) {
            val off = s * width
            val base = cells(s) * width - off
            val end = math.min(v.numElements(), off + width)
            var p = off
            while (p < end) {
              val i = base + p
              acc(n + i) += 1
              if (!v.isNullAt(p)) {
                acc(i) = Math.addExact(acc(i), math.floor(v.getFloat(p).toDouble * Q + 0.5).toLong)
                acc(2 * n + i) += 1
              }
              p += 1
            }
            s += 1
          }
        }
      }
      Iterator.single(acc)
    }.collect()
    val acc = new Array[Long](3 * n)
    partials.foreach(a => (0 until 3 * n).foreach(i => acc(i) = Math.addExact(acc(i), a(i))))
    Array.tabulate(prev.length) { c =>
      Array.tabulate(prev(c).length) { j =>
        val i = c * width + j
        if (acc(2 * n + i) == 0L) prev(c)(j) else acc(i).toDouble / Q / acc(n + i)
      }
    }
  }

  def kmeans(emb: DataFrame, idCol: String, vecCol: String, k: Int = 8,
             iters: Int = 2): DataFrame = {
    val centroids = kmeansCentroids(emb, idCol, vecCol, k, iters)
    if (centroids.isEmpty)
      emb.select(col(idCol).as("vec_id"), lit(0).as("cluster_id")).limit(0)
    else
      emb.select(col(idCol).as("vec_id"),
        kmeansAssignExpr(col(vecCol), centroids).as("cluster_id"))
  }

  /** DuckDB twin of [[kmeans]] — the same init, assignment, and
    * fixed-point mean arithmetic as a CTE chain (centroids in long
    * (cid, pos, cval) form between iterations; `prev LEFT JOIN means`
    * keeps empty clusters' centroids). Every constant and fold shape
    * matches the Spark side expression-for-expression.
    */
  def kmeansOracleSql(k: Int = 8, iters: Int = 2, dims: Int = 64): String =
    kmeansCtePrefix(k, iters, dims) +
      "\nSELECT vec_id, cid AS cluster_id FROM afinal"

  /** The WITH-chain alone (ending after `afinal`) so compositions —
    * e.g. cluster-balanced sampling — can append their own CTEs.
    */
  def kmeansCtePrefix(k: Int = 8, iters: Int = 2, dims: Int = 64): String = {
    val ph = "cast('0x' || substr(md5(cast(vec_id AS varchar)), 1, 15) AS bigint)"
    def dot(a: String, b: String) = VectorFunctions.dotSql(a, b)
    def assign(cT: String, aT: String) =
      s"""$aT AS (
         |  SELECT vec_id, min(struct_pack(s := score, c := cid)).c AS cid
         |  FROM (SELECT e.vec_id, c.cid,
         |          (${dot("c.cv", "c.cv")} - (2.0 * ${dot("e.embedding", "c.cv")})) AS score
         |        FROM embeddings e CROSS JOIN $cT c)
         |  GROUP BY vec_id)""".stripMargin
    def step(i: Int): String = {
      val (cPrev, cPrevL) = (s"c$i", s"c${i}l")
      val (aT, mT, cNextL, cNext) = (s"a$i", s"m$i", s"c${i + 1}l", s"c${i + 1}")
      s"""${assign(cPrev, aT)},
         |$mT AS (
         |  SELECT a.cid, t.pos,
         |    sum(cast(floor(((e.embedding[t.pos]::DOUBLE) * 1048576.0) + 0.5) AS bigint)) AS s,
         |    count(*) AS n
         |  FROM embeddings e JOIN $aT a USING (vec_id), range(1, ${dims + 1}) t(pos)
         |  GROUP BY a.cid, t.pos),
         |$cNextL AS (
         |  SELECT p.cid, p.pos,
         |    coalesce((cast(m.s AS double) / 1048576.0) / m.n, p.cval) AS cval
         |  FROM $cPrevL p LEFT JOIN $mT m ON p.cid = m.cid AND p.pos = m.pos),
         |$cNext AS (
         |  SELECT cid, list(cval ORDER BY pos) AS cv FROM $cNextL GROUP BY cid)""".stripMargin
    }
    val steps = (0 until iters).map(step).mkString(",\n")
    s"""WITH seeds AS (
       |  SELECT vec_id, embedding,
       |    row_number() OVER (ORDER BY $ph, vec_id) AS rn
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |c0 AS (SELECT rn - 1 AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv
       |       FROM seeds WHERE rn <= $k),
       |c0l AS (SELECT cid, pos, cv[pos] AS cval
       |        FROM c0, range(1, ${dims + 1}) t(pos)),
       |$steps,
       |${assign(s"c$iters", "afinal")}""".stripMargin
  }

  /** C69: prototypicality scores for data pruning (Sorscher et al.
    * 2022, "Beyond neural scaling laws" — their self-supervised metric
    * ranks examples by cosine to their k-means centroid; SemDeDup's
    * sibling policy): every vector gets its cluster, its cosine to its
    * OWN centroid (high = prototypical/redundant, low = hard/outlier),
    * and its within-cluster rank. A pruning run keeps the bottom-X%
    * (hard examples) on abundant data or the top-X% on scarce data —
    * both read straight off this output.
    *
    * Scale shape: assignment AND the own-centroid cosine come out of
    * ONE `least()` tree per row — the argmin struct carries the cosine
    * as a trailing field (never compared: (score, cid) is already a
    * total order), so the scan stays map-side broadcast-codebook, no
    * join. The within-cluster row_number is the driver-SF audit form;
    * at 100 TB prune by a `proto_cos` THRESHOLD (emitted,
    * re-thresholdable without re-scan) or a TopKPerKey cut — ranking
    * every vector of a cluster is a per-cluster sort a lake-scale run
    * doesn't need. Portability: cosine is the dotSql fold replica
    * (centroid norm folded driver-side, same left-to-right order),
    * round-6 like every cosine in this file.
    */
  def prototypeScores(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int = 8, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(emb.sparkSession)
    val centroids = kmeansCentroids(emb, idCol, vecCol, k, iters)
    if (centroids.isEmpty)
      return emb.select(col(idCol).as("vec_id"), lit(0).as("cluster_id"),
        lit(0d).as("proto_cos"), lit(0).as("rnk")).limit(0)
    // native argmin+cos kernel (round 15) — the composed (s, c, cos)
    // struct least() it replaced selected by the same (s, j) ordering
    // and rounded the cos INSIDE the struct; rounding commutes with
    // selection (it never fed the ordering), so round(…, 6) moves out
    // here unchanged
    import org.apache.spark.sql.classic.GraftPlanFactory
    val m = GraftPlanFactory.column(graft.plans.KmeansArgminCosExpr(
      GraftPlanFactory.expression(col(vecCol)), centroids.map(_.clone())))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("proto_cos").desc, col("vec_id"))
    emb.select(col(idCol).as("vec_id"), m.as("__m"))
      .select(col("vec_id"), col("__m").getField("c").as("cluster_id"),
        round(col("__m").getField("cos"), 6).as("proto_cos"))
      .withColumn("rnk", row_number().over(w))
  }

  /** DuckDB twin of [[prototypeScores]] — the kmeans CTE chain's final
    * centroids re-joined for the own-centroid cosine.
    */
  def prototypeScoresOracleSql(k: Int = 8, iters: Int = 2): String =
    s"""${kmeansCtePrefix(k, iters)},
       |pr AS (
       |  SELECT e.vec_id, a.cid,
       |    round(${VectorFunctions.cosineSql("e.embedding", "c.cv")}, 6) AS proto_cos
       |  FROM embeddings e JOIN afinal a USING (vec_id)
       |  JOIN c$iters c ON c.cid = a.cid)
       |SELECT vec_id, cid AS cluster_id, proto_cos,
       |  cast(row_number() OVER (PARTITION BY cid
       |    ORDER BY proto_cos DESC, vec_id) AS integer) AS rnk
       |FROM pr""".stripMargin

  /** C49: SemDeDup-style semantic dedup — k-means partitions the
    * corpus into semantic clusters, pairwise cosine runs WITHIN each
    * cluster only, and for every pair at or above `minCos` the
    * higher-id vector is dropped; survivors keep their cluster id.
    * (Abbas et al. 2023, "SemDeDup": near-duplicate semantics live
    * inside k-means cells, so the quadratic comparison is confined to
    * cells instead of the corpus.)
    *
    * Scale shape: assignment is the map-side broadcast-codebook argmin
    * (no join); the (id, cluster) table — ids only, vectors re-read
    * from the pruned source scan per join side — is MATERIALIZED once
    * and self-joined on the cluster key: an equi-join, never an
    * all-pairs product. The within-cell product is (cell size)², so
    * `k` must scale with the corpus to hold cells at a target size
    * (the paper runs k ≈ N/100; the default k = 8 fits the driver
    * SFs). Drop set is ids-only, applied as one anti-join.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int = 8, iters: Int = 2,
                    minCos: Double = 0.35): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val centroids = kmeansCentroids(emb, idCol, vecCol, k, iters)
    if (centroids.isEmpty)
      return emb.select(col(idCol).as("vec_id"), lit(0).as("cluster_id")).limit(0)
    // materialize (id, cluster) ONLY — never the vectors: checkpointed
    // full-embedding blocks are the at-scale OOM mode the BM25 index
    // build measured (UNABLE_TO_ACQUIRE_MEMORY at corpus scale).
    // Assignment (the broadcast-codebook argmin) is computed once
    // here; each join side re-reads its vectors from the pruned source
    // scan, the embeddingPairs shape.
    val assigned = emb.select(col(idCol).as("vec_id"),
        kmeansAssignExpr(col(vecCol), centroids).as("cluster_id"))
      .materialized // both self-join sides + the survivor projection
    val vecs = emb.select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
    // Salted within-cell self-join (guide §2.5): the join key has only
    // k distinct values (k = 8 on the oracle-pinned queries), so an
    // unsalted equi-join runs the whole (cell size)² cosine work on at
    // most k tasks no matter the cluster — and AQE's skew splitter
    // never fires because all k partitions are EQUALLY oversized (no
    // 5×-median outlier). Side A gets a deterministic salt
    // pmod(xxhash64(id), S); side B is replicated S ways, so every
    // pair still meets exactly once (at side A's salt) — the result set is
    // bit-identical, only the partitioning changes. S derives from the
    // session's parallelism (a partitioning knob, like
    // shuffle.partitions — never affects values); the B-side payload
    // grows S×, the per-task quadratic work drops S×. S sweep at sf1
    // (20 k vectors, local[8], min-of-3 engine): S=2 → 11.5 s, 4 →
    // 9.8 s, 8 → 7.4 s, 16 → 8.1 s (duplication cost overtakes), vs
    // 16.3 s unsalted — so S targets 8× the key count per core slot,
    // capped at 64 so the replication stays bounded on wide clusters
    // (where the REAL lever is scaling k with the corpus, per the
    // scaladoc above — the k = 8 here is the oracle-pinned driver
    // configuration). The salt hashes the id (xxhash64 takes any
    // type): a string id would give pmod a NULL salt, and NULL keys
    // never meet — every pair, and so every drop, would vanish.
    val salts = math.min(64, math.max(1,
      emb.sparkSession.sparkContext.defaultParallelism * 8 / math.max(k, 1)))
    val a = assigned.join(vecs, Seq("vec_id"))
      .select(col("cluster_id"),
        pmod(xxhash64(col("vec_id")), lit(salts.toLong)).cast("int").as("__salt"),
        col("vec_id").as("__ida"), col("__v").as("__va"))
    val b = assigned.join(vecs, Seq("vec_id"))
      .select(col("cluster_id"),
        explode(sequence(lit(0), lit(salts - 1))).as("__salt"),
        col("vec_id").as("__idb"), col("__v").as("__vb"))
    val drops = a.join(b, Seq("cluster_id", "__salt"))
      .filter(col("__ida") < col("__idb") &&
        round(VectorFunctions.cosineNative(col("__va"), col("__vb")), 6) >= minCos)
      .select(col("__idb").as("__drop")).distinct()
    assigned.join(drops, col("vec_id") === col("__drop"), "left_anti")
      .select(col("vec_id"), col("cluster_id"))
  }

  /** DuckDB twin of [[semanticDedup]] — the kmeans CTE chain, the same
    * cell self-join and cosine fold, survivors by NOT IN.
    */
  def semanticDedupOracleSql(k: Int = 8, iters: Int = 2,
                             minCos: Double = 0.35): String =
    s"""${kmeansCtePrefix(k, iters)},
       |sd_base AS (
       |  SELECT e.vec_id, e.embedding, a.cid
       |  FROM embeddings e JOIN afinal a USING (vec_id)),
       |sd_drops AS (
       |  SELECT DISTINCT b.vec_id AS d
       |  FROM sd_base a JOIN sd_base b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE round(${VectorFunctions.cosineSql("a.embedding", "b.embedding")}, 6) >= $minCos)
       |SELECT vec_id, cid AS cluster_id FROM sd_base
       |WHERE vec_id NOT IN (SELECT d FROM sd_drops)""".stripMargin

  /** C7: ANN via multi-table random-hyperplane LSH — `nTables`
    * independent hash tables (distinct plane sets, offset seeds);
    * candidates are the UNION of bucket-mates across tables (the
    * standard recall lever: collision probability compounds per
    * table), mined by [[PairMiner]] on ids alone, then one vector copy
    * per side is re-joined for the exact cosine + top-k — the candidate
    * shuffle never carries 64-float payloads.
    */
  def knnLsh(emb: DataFrame, idCol: String, vecCol: String,
             nQueries: Int, k: Int, nPlanes: Int = 5, nTables: Int = 8,
             dims: Int = 64): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val bucketed = lshBucketed(emb, idCol, vecCol, nPlanes, nTables, dims)
    lshTopK(bucketed.filter(col("id") < nQueries), bucketed,
      emb.filter(col(idCol) < nQueries), idCol, vecCol, emb, idCol, vecCol, k)
  }

  /** The tail of [[knnLsh]] and [[knnLshProbe]]: probe buckets
    * (broadcast) mined against corpus buckets, equal ids excluded, one
    * vector fetch per side, cosine top-`k` (ties → lower neighbor id).
    */
  private def lshTopK(qBuckets: DataFrame, nBuckets: DataFrame,
                      qVecs: DataFrame, qIdCol: String, qVecCol: String,
                      nVecs: DataFrame, nIdCol: String, nVecCol: String,
                      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = PairMiner.candidates(
        broadcast(PairMiner.side(qBuckets, TableBucket, "id", "query_id")),
        PairMiner.side(nBuckets, TableBucket, "id", "neighbor_id"),
        TableBucket, "query_id", "neighbor_id", col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")) // union across tables, ids only
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    PairMiner.fetch(
        PairMiner.fetch(cand, "query_id", qVecs, qIdCol, qVecCol, "qv", small = true),
        "neighbor_id", nVecs, nIdCol, nVecCol, "nv")
      .select(col("query_id"), col("neighbor_id"), cosine("qv", "nv").as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** C35: the k-NN SELF-JOIN — every vector's top-`k` nearest neighbors
    * (not a probe batch's), the building block of semantic near-dup
    * clustering and diversity scoring over a whole corpus. Candidates
    * come from the same multi-table LSH bucketing as [[knnLsh]]; a
    * vector's neighbors are ranked among its bucket-mates only, so a
    * sparse-bucket vector may return fewer than `k` rows (the standard
    * ANN contract — raise `nTables` for recall).
    *
    * Scale shape: the bucket table is computed once (materialized — both
    * self-join sides read it), [[PairMiner]] deduplicates candidate
    * pairs on ids alone (both orders kept: each vector ranks its own
    * neighbors), ONE vector copy per side is re-joined for the exact cosine,
    * and the per-vector top-k runs through the custom TopKPerKey
    * operator — the final shuffle carries O(vectors × k) rows, never
    * the full candidate fan-out, and nothing is ever all-pairs.
    */
  def knnJoin(emb: DataFrame, idCol: String, vecCol: String, k: Int,
              nPlanes: Int = 5, nTables: Int = 8, dims: Int = 64): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val bucketed = lshBucketed(emb, idCol, vecCol, nPlanes, nTables, dims)
    val cand = PairMiner.selfPairs(bucketed, TableBucket, "id", "vec_id", "neighbor_id",
        pair = _ =!= _)
      .select(col("vec_id"), col("neighbor_id")) // union across tables, ids only
    val scored = PairMiner.fetch(PairMiner.fetch(cand, "vec_id", emb, idCol, vecCol, "va"),
        "neighbor_id", emb, idCol, vecCol, "vb")
      .select(col("vec_id"), col("neighbor_id"), cosine("va", "vb").as("score"))
    // TopKPerKey sorts one direction: descending score = ascending
    // negated score, with the ascending neighbor-id tie-break beside it
    graft.plans.TopK.perKey(scored.withColumn("__neg", -col("score")),
        Seq("vec_id"), Seq("__neg", "neighbor_id"), k, descending = false)
      .select(col("vec_id"), col("neighbor_id"), col("score"))
  }

  /** C36: deterministic random projection (Johnson–Lindenstrauss) of the
    * embedding column onto `nOut` md5-derived hyperplanes — the standard
    * dimensionality-reduction preprocessing before ANN indexing or
    * clustering at 100 TB (shrinks every downstream shuffle and index by
    * dims/nOut). Pure map-side: the planes are expression literals, each
    * output component one codegen'd `graft_dot` — no join, no shuffle,
    * no state (plan-guarded). Plane seeds live at offset 1000, a
    * namespace disjoint from every LSH table's planes.
    */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    nOut: Int = 8, dims: Int = 64): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val comps = (0 until nOut).map { j =>
      round(call_function("graft_dot", col(vecCol),
        typedLit(planeVec(1000 + j, dims).toSeq)), 6).as(s"p$j")
    }
    emb.select(col(idCol).as("vec_id") +: comps: _*)
  }

  /** DuckDB twin of [[randomProject]] — the same plane literals
    * (Double.toString round-trips exactly) and the same left-to-right
    * dot-product fold.
    */
  def randomProjectOracleSql(nOut: Int = 8, dims: Int = 64): String = {
    val comps = (0 until nOut).map { j =>
      val vec = planeVec(1000 + j, dims)
        .map(java.lang.Double.toString).mkString("[", ",", "]")
      s"round(${VectorFunctions.dotSql("embedding", vec)}, 6) AS p$j"
    }
    s"SELECT vec_id, ${comps.mkString(",\n  ")} FROM embeddings"
  }

  /** C37: int8 scalar quantization of the embedding column — the
    * compression step a 100 TB vector store applies before indexing
    * (4× smaller payloads through every shuffle and on disk). Per-vector
    * max-abs scaling: `scale = max|v|/127`, `q_i = ⌊v_i/scale + 0.5⌋`
    * (round-half-up, portable), zero vectors quantize to all-zero at
    * scale 0. Emits the quantized payload (comma-joined — the exact
    * bytes a store would write) plus the reconstruction MSE so quality
    * is measured where the compression happens. Pure map-side: one
    * projection, no shuffle (plan-guarded).
    */
  /** C47: embedding hygiene — per-vector L2 norm plus its z-score
    * against the corpus, flagging |z| > 2 outliers (truncated, zeroed
    * or exploded vectors are the embedding-pipeline bugs a curation
    * run wants surfaced before ANN indexes ingest them). The norm is
    * the native dot-product fold (deterministic per-dim order); the
    * corpus mean/std use decimal-cast sums (the house dsum pattern) so
    * the aggregate is order-independent and the DuckDB twin
    * bit-identical; the two scalars broadcast back over the scan —
    * two passes, no wide shuffle, O(1) driver state at any corpus
    * size.
    */
  /** C61: semantic decontamination — the embedding-space twin of the
    * n-gram screen (Curation.decontaminate): a training document whose
    * EMBEDDING sits above `minCos` of any eval-benchmark embedding is
    * contaminated even when no 4-gram survives paraphrase. The eval
    * set is benchmark-sized (fixed cardinality at any corpus scale —
    * the same contract decontaminate's broadcast rides), so it crosses
    * as ONE broadcast and the corpus pays a map-side scan + a
    * partial-agg'd max per vector: no corpus shuffle, no pairing
    * stage, linear at 100 TB. Emits every train vector with its
    * nearest-eval cosine, the offending eval id (ties → lower id) and
    * the flag — re-thresholdable without a re-scan.
    *
    * `idCol` must be numeric (the tie-break negates it). An EMPTY eval
    * set fails fast: the cross join would otherwise emit zero rows —
    * an empty contamination report a caller reads as "nothing
    * contaminated" (or, anti-joining to keep clean docs, as
    * "everything contaminated"). An empty eval set is a wiring bug
    * (wrong path/filter), never a meaningful screen.
    */
  def decontaminateSemantic(train: DataFrame, eval: DataFrame,
                            idCol: String, vecCol: String,
                            minCos: Double = 0.9): DataFrame = {
    GraftFunctions.register(train.sparkSession)
    require(!eval.isEmpty,
      "decontaminateSemantic: eval set is empty — every train row would " +
        "silently drop from the report; check the eval source/filter")
    val ev = eval.select(col(idCol).as("eval_id"), col(vecCol).as("ev"))
    val scored = train.select(col(idCol).as("vec_id"), col(vecCol).as("tv"))
      .crossJoin(broadcast(ev))
      .select(col("vec_id"), col("eval_id"),
        round(VectorFunctions.cosineNative(col("tv"), col("ev")), 6).as("cos"))
    // max struct((cos, -eval_id)) picks the highest cosine and, on
    // exact ties, the LOWER eval id — deterministic on both engines
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("eval_id")).as("nid"))).as("__m"))
      .select(col("vec_id"),
        col("__m").getField("cos").as("max_eval_cos"),
        (-col("__m").getField("nid")).as("nearest_eval_id"),
        (col("__m").getField("cos") >= minCos).as("contaminated"))
  }

  def embeddingOutliers(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    // graft_dot is float-left × double-right; both sides hold the same
    // float values widened to double, matching the oracle's x::DOUBLE
    val normed = emb.select(col(idCol).as("vec_id"),
      sqrt(call_function("graft_dot", col(vecCol),
        col(vecCol).cast("array<double>"))).as("l2_norm"))
    // Variance clamped at zero and sd = 0 guarded to z = 0: for a
    // near-constant norm column (unit-normalized embeddings) the true
    // variance sits BELOW the decimal quantization floor, so the
    // computed msq − m² is quantization noise of arbitrary sign —
    // unclamped, DuckDB raises on sqrt(negative) while Spark emits NaN.
    // Scale 9 (not finer): the engines' double→decimal casts disagree
    // on a value with probability ≈ ulp/grid (shortest-repr vs
    // exact-binary rounding at the grid line), and msq − m²'s
    // catastrophic cancellation amplifies ONE divergent cast in the
    // sum into a visible z divergence — measured at sf1: scale 12 put
    // ~4 divergent casts among 20k norms (2.2e-4 each) and z drifted
    // 5e-10 between engines. At scale 9 the probability is 2.2e-7 per
    // cast (portable past 1M vectors) and the scaled sum stays under
    // 2^53 (DuckDB's int128→double double-rounds above it — the dsum
    // bound); z keeps ~5 exact digits, identical on both engines, so
    // the |z| > 2 flag can't split either.
    val stats = normed.agg(
      (sum(col("l2_norm").cast("decimal(28,9)")).cast("double") /
        count(lit(1))).as("__mean"),
      (sum((col("l2_norm") * col("l2_norm")).cast("decimal(28,9)")).cast("double") /
        count(lit(1))).as("__meansq"))
      .select(col("__mean"),
        sqrt(greatest(col("__meansq") - col("__mean") * col("__mean"),
          lit(0.0))).as("__std"))
    normed.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("l2_norm"),
        when(col("__std") === 0.0, lit(0.0))
          .otherwise((col("l2_norm") - col("__mean")) / col("__std"))
          .as("z_score"))
      .withColumn("is_outlier", abs(col("z_score")) > 2.0)
  }

  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // Staged projections, NOT one inline tree: writing `scale` inline
    // would copy the max-abs fold into every element lambda (~2·dims
    // evaluations per row — an O(dims²) shape measured at 2.6 s vs
    // 0.55 s warm at sf0.1). As separate aliases the folds run once per
    // row; CollapseProject keeps them separate because duplicating a
    // non-cheap expression into multiple references is not allowed.
    val staged = emb.select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .select(col("vec_id"), col("__v"),
        (aggregate(col("__v"), lit(0.0), (acc, x) => greatest(acc, abs(x)))
          / lit(127.0)).as("__scale"))
      .select(col("vec_id"), col("__v"), col("__scale"),
        when(col("__scale") === 0.0, transform(col("__v"), _ => lit(0L)))
          .otherwise(transform(col("__v"),
            x => floor(x / col("__scale") + lit(0.5)).cast("long"))).as("__q"))
    staged.select(col("vec_id"),
      round(col("__scale"), 6).as("scale"),
      concat_ws(",", transform(col("__q"), _.cast("string"))).as("qvec"),
      round(aggregate(
          zip_with(col("__v"), col("__q"),
            (x, qi) => (x - qi * col("__scale")) * (x - qi * col("__scale"))),
          lit(0.0), (acc, e) => acc + e)
        / greatest(size(col("__v")), lit(1)), 9).as("recon_mse"))
  }

  /** DuckDB twin of [[quantizeInt8]] — same double casts, same
    * round-half-up, same left-to-right error fold.
    */
  def quantizeInt8OracleSql(): String =
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |scaled AS (
       |  SELECT vec_id, v,
       |    CASE WHEN len(v) = 0 THEN 0.0
       |      ELSE list_reduce(list_transform(v, x -> abs(x)),
       |        (a, x) -> greatest(a, x)) END AS maxabs
       |  FROM base),
       |qd AS (
       |  SELECT vec_id, v, maxabs / 127.0 AS scale,
       |    CASE WHEN maxabs = 0
       |      THEN list_transform(v, x -> 0::BIGINT)
       |      ELSE list_transform(v, x -> cast(floor(x / (maxabs / 127.0) + 0.5) AS bigint))
       |    END AS q
       |  FROM scaled)
       |SELECT vec_id, round(scale, 6) AS scale,
       |  array_to_string(q, ',') AS qvec,
       |  round(CASE WHEN len(v) = 0 THEN 0.0
       |      ELSE list_reduce(list_transform(range(1, len(v) + 1),
       |        i -> (v[i] - q[i] * scale) * (v[i] - q[i] * scale)),
       |        (a, e) -> a + e) END
       |    / greatest(len(v), 1), 9) AS recon_mse
       |FROM qd""".stripMargin

  // ---- Product quantization (PQ) -------------------------------------------

  /** PQ codebooks `[subspace][code][component]`: the embedding space is
    * split into `m` contiguous `dims/m`-dim subspaces and each gets a
    * `ksub`-entry codebook (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search" — the standard billion-scale ANN
    * compression; reference workloads are all exact, so this is part
    * of the beyond-reference pipeline surface). Codebook entries are
    * the subspace slices of the `ksub` hash-ordered seed vectors — the
    * same deterministic seed rule as [[kmeansCentroids]] init and the
    * same sampled-codebook trade the `id % mod` IVF cells make
    * ([[pqCodebooksTrained]] refines them with per-subspace Lloyd).
    * Generic over the seeded table: the residual IVFADC codebook is the
    * same rule over the seed vectors' RESIDUALS. Driver-side state is
    * m×ksub×dsub doubles — broadcast-sized at any corpus size.
    */
  private[graft] def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                                 m: Int = 16, ksub: Int = 32): Array[Array[Array[Double]]] = {
    val vecs = seedVectors(emb, idCol, vecCol, ksub)
    val dims = vecs.headOption.map(_.length).getOrElse(0)
    require(vecs.nonEmpty && dims % m == 0, s"dims $dims not divisible by m=$m")
    val dsub = dims / m
    Array.tabulate(m)(mi => vecs.map(v => v.slice(mi * dsub, (mi + 1) * dsub)))
  }

  /** [[pqCodebooks]] refined with per-subspace Lloyd — the TRAINED
    * configuration (Jégou et al. 2011 §III.A: PQ codebooks are k-means
    * codebooks per subspace; the sampled form above is only the init).
    * Each iteration is one [[lloydRound]] over a training scan planned
    * once: every vector's m subspace slices are assigned to their
    * nearest code by the encode kernel (graft.functions.GraftPq.encode
    * — the same argmin the encode stage runs, so training and encoding
    * can never disagree on assignment), and each (subspace, code) mean
    * is recomputed on the 2^-20 fixed-point grid exactly like
    * [[kmeansCentroids]] (per-component longs summed — exact in any
    * order, engine-portable; a (subspace, code, component) with no
    * non-null contribution keeps its previous entry). Scale shape: one
    * map-only job per iteration, no shuffle; each partition's partial
    * and the driver state are m×ksub×dsub numbers — broadcast-sized at
    * any corpus size. `trainMod` strides the training sample like the
    * trained coarse quantizer (codebook quality needs only a sample).
    */
  private[graft] def pqCodebooksTrained(emb: DataFrame, idCol: String, vecCol: String,
                                        m: Int = 16, ksub: Int = 32,
                                        iters: Int = 2,
                                        trainMod: Int = 1): Array[Array[Array[Double]]] = {
    GraftFunctions.register(emb.sparkSession)
    val train = if (trainMod == 1) emb else emb.filter(col(idCol) % trainMod === 0)
    var cbs = pqCodebooks(emb, idCol, vecCol, m, ksub)
    if (iters <= 0) return cbs
    val (nCodes, dsub) = (cbs.head.length, cbs.head.head.length)
    val vecs = train.select(col(vecCol)).queryExecution.toRdd
    (0 until iters).foreach { _ =>
      val cb = cbs
      val cc = cb.map(_.map(_.foldLeft(0.0)((acc, x) => acc + x * x))) // PqEncodeExpr's ‖c‖²
      cbs = lloydRound(vecs, cb.flatten, dsub, v => {
        val codes = graft.functions.GraftPq.encode(v, cb, cc).getArray(0)
        Array.tabulate(m)(mi => mi * nCodes + codes.getInt(mi))
      }).grouped(nCodes).toArray
    }
    cbs
  }

  /** C55: PQ encoding of the corpus — every vector compressed to `m`
    * small codes (m bytes at ksub ≤ 256 vs dims×4 float bytes: 32× for
    * 64-dim/m=8) plus the per-vector reconstruction error the
    * compression costs, measured where it happens (the int8-quantize
    * convention). Pure map-side: one native codegen'd kernel call per
    * row (graft.plans.PqEncodeExpr — codebook rides as a reference
    * object), no shuffle — at 100 TB this is the scan that turns a
    * float vector lake into an ADC-searchable code table.
    * Reconstruction error ‖v − c(v)‖² = Σ_m (score_m +
    * ‖v_m‖²), each subspace term 6dp-rounded and decimal-summed
    * (order-independent, engine-portable).
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               m: Int = 16, ksub: Int = 32): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val cbs = pqCodebooks(emb, idCol, vecCol, m, ksub)
    pqEncodeWith(emb, idCol, vecCol, cbs)
  }

  /** [[pqEncode]] against an ALREADY-BUILT codebook — the shape both
    * the direct query and the persisted-index probe share. One native
    * kernel call per row (graft.plans.PqEncodeExpr → GraftPq.encode):
    * the composed form's 16 `least()` trees of 32 dot-product structs
    * inline past janino's 64 KB method limit, so the whole ENCODE
    * STAGE fell out of whole-stage codegen into interpreted eval —
    * measured and replaced; the test tree's `graft.ReferenceForms`
    * keeps the composed form as the bit-parity reference
    * (SimilaritySpec pins equality).
    */
  private[graft] def pqEncodeWith(emb: DataFrame, idCol: String, vecCol: String,
                                  cbs: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    val enc = GraftPlanFactory.column(
      graft.plans.PqEncodeExpr(GraftPlanFactory.expression(col(vecCol)), cbs))
    emb.select(col(idCol).as("vec_id"), enc.as("__e"))
      .select(col("vec_id"),
        col("__e").getField("codes").as("codes"),
        col("__e").getField("recon_err").as("recon_err"))
  }

  // ---- ANN family: one spec, one query path, one index ----------------------

  /** Collect a (centroid_id, cv) codebook table into kernel arrays —
    * the codebook-scalar convention (the table was already broadcast-
    * sized; collecting it is the same data the old broadcast shipped).
    * Ids are read generically (any integral type) so a non-long idCol
    * fails with a named error instead of a ClassCastException.
    */
  private def centroidArrays(centroids: DataFrame): (Array[Long], Array[Array[Float]]) = {
    val rows = centroids.select(col("centroid_id"), col("cv")).collect()
    val ids = rows.map(r => r.get(0) match {
      case l: java.lang.Long => l.longValue
      case i: java.lang.Integer => i.longValue
      case s: java.lang.Short => s.longValue
      case b: java.lang.Byte => b.longValue
      case other => throw new IllegalArgumentException(
        "centroidArrays: centroid_id must be integral, got " +
          (if (other == null) "NULL" else other.getClass.getName))
    })
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    (ids, vecs)
  }

  /** IVF cells: the coarse codebook TABLE (centroid_id, cv array<float>)
    * plus its kernel broadcast, collected ONCE and shared by both sides
    * of every IVF search. Both assignments are one map pass per row,
    * ZERO shuffle:
    *  - corpus side ([[assign]]): each vector's nearest cell through
    *    [[graft.plans.ArgMaxCosineBroadcast]] — no corpus × centroids
    *    hash exchange carrying vector payloads on the 100 TB build path;
    *  - query side ([[probe]]): the `nProbes` nearest cells through
    *    [[graft.plans.ProbeCellsBroadcast]], exploded to one row per
    *    probed cell — ≡ the window `crnk <= nProbes` (spec-pinned with
    *    the argmax kernel, NaN zero-vectors and exact ties included).
    */
  private[graft] final class Cells(table: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Array[Float]])]) {
    import org.apache.spark.sql.classic.GraftPlanFactory
    def assign(df: DataFrame, vecCol: String): DataFrame =
      df.withColumn("centroid_id", GraftPlanFactory.column(graft.plans.ArgMaxCosineBroadcast(
        bc, GraftPlanFactory.expression(col(vecCol)))).getField("id"))
    def probe(df: DataFrame, vecCol: String, nProbes: Int): DataFrame =
      df.withColumn("centroid_id", explode(GraftPlanFactory.column(
        graft.plans.ProbeCellsBroadcast(bc, nProbes, GraftPlanFactory.expression(col(vecCol))))))
    /** The residual `vecCol − cv` of each row against its cell centroid,
      * as `rvCol` (float arithmetic, the DuckDB REAL−REAL twin); the
      * centroid vector comes from a broadcast hash join on the codebook
      * table — 1 row in, 1 row out, no exchange.
      */
    def residual(df: DataFrame, vecCol: String, rvCol: String): DataFrame =
      df.join(broadcast(table), Seq("centroid_id"))
        .withColumn(rvCol, zip_with(col(vecCol), col("cv"), (x, y) => x - y))
  }

  /** The [[Cells]] of a codebook table — None when it holds no centroid. */
  private[graft] def ivfCells(centroids: DataFrame): Option[Cells] = {
    val ca = centroidArrays(centroids)
    if (ca._1.isEmpty) None
    else Some(new Cells(centroids, centroids.sparkSession.sparkContext.broadcast(ca)))
  }

  /** Corpus-side cell assignment alone: `df` with a `centroid_id`
    * (bigint) column appended; an empty codebook yields the empty frame.
    */
  private[graft] def ivfAssignCells(df: DataFrame, vecCol: String,
                                    centroids: DataFrame): DataFrame =
    ivfCells(centroids).fold(df.withColumn("centroid_id", lit(null).cast("bigint")).limit(0))(
      _.assign(df, vecCol))

  /** The residual-IVF corpus scan: (neighbor_id, nv, centroid_id, cv,
    * rv), one row per input row, NO exchange anywhere (kernel argmax +
    * broadcast hash join for the winning centroid vector). This is the
    * shape that must stay shuffle-free at 100 TB — the ad-hoc residual
    * search, [[buildAnnIndex]] and [[appendToAnnIndex]] all encode it.
    * SimilaritySpec pins the no-Exchange property.
    */
  private[graft] def residualRows(emb: DataFrame, idCol: String, vecCol: String,
                           cells: Cells): DataFrame =
    cells.residual(cells.assign(
      emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv")), "nv"), "nv", "rv")

  /** Per-cell occupancy of a persisted IVF index — recomputed into
    * `path/cellstats` on build AND append. Counting groups the codes
    * scan's PARTITION column only, so parquet column pruning makes the
    * refresh a footer-cheap pass even on a 100 TB index. A hot cell
    * (duplicate-flood vector, degenerate codebook) concentrates probe
    * cost toward linear scan; per the house rule the guard WARNS and
    * records — it never drops rows silently (an index must answer for
    * every vector it was given).
    */
  private[graft] def refreshIvfCellStats(spark: org.apache.spark.sql.SparkSession,
                                         path: String,
                                         warnFrac: Double = 0.2): Unit = {
    Tables.read(spark, s"$path/codes")
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cellstats")
    val rows = Tables.read(spark, s"$path/cellstats").collect()
    if (rows.length > 1) {
      val total = rows.map(_.getLong(1)).sum
      val hot = rows.maxBy(_.getLong(1))
      val frac = if (total == 0) 0.0 else hot.getLong(1).toDouble / total
      if (frac > warnFrac)
        System.err.println(s"[graft] WARNING: IVF index $path hot cell " +
          s"${hot.get(0)} holds ${hot.getLong(1)} of $total rows " +
          f"($frac%.2f > $warnFrac%.2f bound) — probes on it pay near-linear " +
          "cost; train a larger coarse codebook or dedup the flood upstream")
    }
  }

  /** The coarse codebook TABLE of a cellular spec (centroid_id, cv
    * array<float>):
    *  - [[AnnSpec.Coarse.Mod]]: the `id % centroidMod == 0` subsample —
    *    grows WITH the corpus (n/mod centroids → assignment cosines
    *    O(n²/mod), a corpus-proportional broadcast);
    *  - [[AnnSpec.Coarse.Trained]]: the [[kmeansCentroids]] codebook
    *    (deterministic Lloyd on the fixed-point grid) trained on a
    *    `trainMod`-strided sample, float-cast so every downstream shape
    *    (kernel cosines, REAL residuals) is identical to the mod path —
    *    k cells at any corpus size, the 100 TB configuration.
    */
  private def centroidTable(emb: DataFrame, idCol: String, vecCol: String,
                            coarse: AnnSpec.Coarse): DataFrame = coarse match {
    case AnnSpec.Coarse.Mod(mod) =>
      emb.filter(col(idCol) % mod === 0)
        .select(col(idCol).as("centroid_id"), col(vecCol).as("cv"))
    case AnnSpec.Coarse.Trained(k, iters, trainMod) =>
      val spark = emb.sparkSession
      import spark.implicits._
      val train = if (trainMod == 1) emb else emb.filter(col(idCol) % trainMod === 0)
      kmeansCentroids(train, idCol, vecCol, k, iters).zipWithIndex
        .map { case (c, j) => (j.toLong, c.map(_.toFloat).toSeq) }
        .toSeq.toDF("centroid_id", "cv")
        .select(col("centroid_id"), col("cv").cast("array<float>"))
    case AnnSpec.Coarse.Flat =>
      throw new IllegalArgumentException("centroidTable: a Flat spec has no cells")
  }

  /** The PQ codebook of a [[AnnSpec.Code.Pq]] spec: sampled seeds, or
    * seeds refined by `trainIters` per-subspace Lloyd rounds.
    */
  private def pqCodebooksFor(emb: DataFrame, idCol: String, vecCol: String,
                             pq: AnnSpec.Code.Pq): Array[Array[Array[Double]]] =
    if (pq.trainIters > 0) pqCodebooksTrained(emb, idCol, vecCol, pq.m, pq.ksub, pq.trainIters)
    else pqCodebooks(emb, idCol, vecCol, pq.m, pq.ksub)

  private def pqCodes(vecCol: String, cbs: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(graft.plans.PqEncodeExpr(
      GraftPlanFactory.expression(col(vecCol)), cbs)).getField("codes")
  }

  /** C6/C7b/C56/C59/C72/C75/C77: top-`k` neighbours of the first
    * `nQueries` ids (`id < nQueries`) under one [[AnnSpec]] — the FAISS
    * index ladder as one operator, every rung shuffle-free before its
    * per-query cut:
    *  - Flat + Raw: brute-force exact cosine (the correctness baseline)
    *    — broadcast query batch × corpus, rank window per query;
    *  - Mod/Trained + Raw: IVF — the corpus assigned to its nearest cell
    *    and the queries fanned out to their `nProbes` nearest cells
    *    ([[Cells]], both map-side kernels), exact cosine inside the
    *    probed inverted lists (corpus vectors live in exactly one list,
    *    so (query, neighbor) pairs are already unique — no dedup);
    *  - Flat + Pq: exhaustive ADC — the corpus encoded once through the
    *    PQ kernel and materialized (encode once, search the code table
    *    many times; the cut also caps the plan the optimizer re-copies
    *    per rule), each code row scored against the broadcast per-query
    *    distance tables in one kernel lookup-sum;
    *  - Mod/Trained + Pq: IVF-PQ — the same code table with cells; the
    *    queries ride the broadcast WITH their distance tables, so after
    *    the corpus scan no float vector is read again;
    *  - Mod/Trained + ResidualPq: IVFADC — each vector encoded as its
    *    residual against its cell centroid, each query building one
    *    distance table per probed cell from its OWN residual; the
    *    residual codebook follows the sampled-seed rule over the seed
    *    vectors' residuals. Residuals are centered near zero, so the
    *    same m×ksub budget quantizes them with less error (the FAISS
    *    IVFADC default);
    *  - `refine = Some(r)`: the top `r` of the spec's own search per
    *    query re-scored with the exact cosine (both vector fetches are
    *    broadcast hash joins — the shortlist is queries × r ids).
    *
    * nProbes is the IVF compute↔recall lever; the default of 4 is the
    * documented high-recall setting (SimilaritySpec pins recall vs
    * nProbes monotone with floors at the default). A cellular spec over
    * a non-empty corpus with no centroid (ids that never hit the
    * modulus) fails fast — cells are undefined; an empty corpus gives
    * an empty answer.
    */
  def knn(emb: DataFrame, idCol: String, vecCol: String,
          nQueries: Int = 10, k: Int = 5, spec: AnnSpec = AnnSpec()): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    spec.refine match {
      case Some(r) =>
        val short = knn(emb, idCol, vecCol, nQueries, r, spec.copy(refine = None))
          .select(col("query_id"), col("neighbor_id"))
        exactTopK(broadcast(short)
          .join(emb.select(col(idCol).as("query_id"), col(vecCol).as("qv")), Seq("query_id"))
          .join(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv")),
            Seq("neighbor_id")), k)
      case None =>
        val queries = emb.filter(col(idCol) < nQueries)
          .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        val vectors = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
        val flat = spec.coarse == AnnSpec.Coarse.Flat
        val cells = if (flat) None else ivfCells(centroidTable(emb, idCol, vecCol, spec.coarse))
        (spec.code, cells) match {
          case (_, None) if !flat =>
            require(emb.isEmpty, s"knn: no centroids for ${spec.coarse} (empty codebook " +
              "table) — IVF cells are undefined; supply a non-empty codebook")
            emb.select(col(idCol).as("query_id"), col(idCol).as("neighbor_id"),
              lit(0d).as(if (spec.code == AnnSpec.Code.Raw) "score" else "adist"),
              lit(0).as("rnk")).limit(0)
          case (AnnSpec.Code.Raw, None) =>
            val par = emb.sparkSession.sparkContext.defaultParallelism
            exactTopK(broadcast(queries).join(vectors.repartition(par),
              col("query_id") =!= col("neighbor_id")), k)
          case (AnnSpec.Code.Raw, Some(c)) =>
            exactTopK(broadcast(c.probe(queries, "qv", spec.nProbes))
              .join(c.assign(vectors, "nv"), Seq("centroid_id"))
              .filter(col("query_id") =!= col("neighbor_id")), k)
          case (pq: AnnSpec.Code.Pq, None) =>
            val cbs = pqCodebooksFor(emb, idCol, vecCol, pq)
            val codes = pqEncodeWith(emb, idCol, vecCol, cbs).materialized
              .select(col("vec_id").as("neighbor_id"), col("codes"))
            adcTopK(adcScored(codes, distTables(queries, "qv", cbs), cellular = false), k)
          case (pq: AnnSpec.Code.Pq, Some(c)) =>
            val cbs = pqCodebooksFor(emb, idCol, vecCol, pq)
            val codes = c.assign(vectors, "nv")
              .select(col("neighbor_id"), col("centroid_id"), pqCodes("nv", cbs).as("codes"))
              .materialized
            adcTopK(adcScored(codes,
              distTables(c.probe(queries, "qv", spec.nProbes), "qv", cbs), cellular = true), k)
          case (rp: AnnSpec.Code.ResidualPq, Some(c)) =>
            val rows = residualRows(emb, idCol, vecCol, c)
            val cbs = pqCodebooks(rows, "neighbor_id", "rv", rp.m, rp.ksub)
            val codes = rows
              .select(col("neighbor_id"), col("centroid_id"), pqCodes("rv", cbs).as("codes"))
              .materialized
            adcTopK(adcScored(codes, residualDistTables(c, queries, spec.nProbes, cbs),
              cellular = true), k)
          case (code, _) => // AnnSpec rejects residual codes without cells
            throw new IllegalStateException(s"knn: $code without cells")
        }
    }
  }

  /** Exact scoring tail: round(cosine, 6) per (query, neighbor) pair
    * of `pairs` (query_id, neighbor_id, qv, nv), rank window per query
    * (score desc, lower neighbor id first), cut at `k`.
    */
  private def exactTopK(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    pairs.select(col("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosineNative(col("qv"), col("nv")), 6).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Per-query ADC distance tables (query_id[, centroid_id], __dt) —
    * one native kernel call per query row (graft.plans.PqDistTableExpr:
    * m × ksub entries of ‖q_m − c_j‖², 6dp decimal).
    */
  private def distTables(queries: DataFrame, vecCol: String,
                         cbs: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    val keys = Seq("query_id", "centroid_id").filter(queries.columns.contains).map(col)
    queries.select(keys :+ GraftPlanFactory.column(graft.plans.PqDistTableExpr(
      GraftPlanFactory.expression(col(vecCol)), cbs)).as("__dt"): _*)
  }

  /** The residual query side: (query, vector) rows fanned out to their
    * `nProbes` nearest cells, one distance table per probed cell built
    * from the query's OWN residual against that cell's centroid —
    * broadcast-sized: queries × nProbes × m × ksub decimals.
    */
  private def residualDistTables(cells: Cells, queries: DataFrame, nProbes: Int,
                                 cbs: Array[Array[Array[Double]]]): DataFrame =
    distTables(cells.residual(cells.probe(queries, "qv", nProbes), "qv", "qrv")
      .select(col("query_id"), col("centroid_id"), col("qrv")), "qrv", cbs)

  /** The ADC scan: each code row × each (broadcast) query table of its
    * cell — or of every query when not `cellular` — evaluates
    * Σ_m dt[m][codes[m]] in ONE kernel call (graft.plans.AdcSumExpr):
    * no unnest, no join fan-out, NO shuffle before the per-query top-k
    * cut. The unnest-join-groupBy form it replaced shuffled Q×N
    * partial-sum rows (measured 35.7 s for 10 queries over 2M codes);
    * values are bit-equal (the kernel sums the same 6dp decimals as
    * unscaled longs).
    */
  private def adcScored(codes: DataFrame, tables: DataFrame, cellular: Boolean): DataFrame = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    val adist = GraftPlanFactory.column(graft.plans.AdcSumExpr(
      GraftPlanFactory.expression(col("codes")),
      GraftPlanFactory.expression(col("__dt"))))
    (if (cellular) codes.join(broadcast(tables), Seq("centroid_id"))
     else codes.crossJoin(broadcast(tables)))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adist.as("adist"))
  }

  /** The per-query ADC cut through TopKPerKey (final exchange
    * O(queries × k × partitions) rows), ranked AFTER the cut. Cut and
    * rank on the exact decimal; EMIT double — final query outputs must
    * be pandas-portable types (the driver reads Spark parquet via
    * pyarrow, which keeps DECIMAL as object(Decimal), while DuckDB's
    * .df() converts DECIMAL to float64 — equal values, unequal hashes).
    * decimal(28,6)→double is correctly rounded and identical on both
    * engines.
    */
  private def adcTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
        Seq("adist", "neighbor_id"), k, descending = false)
      .withColumn("rnk", row_number().over(w))
      .withColumn("adist", col("adist").cast("double"))
  }

  // ---- Persisted ANN index ---------------------------------------------------

  /** Persist the index of `spec` at `path` — the encode-once/search-many
    * production shape; after the build, probes never touch a float
    * vector again. Two on-disk layouts:
    *  - Flat + [[AnnSpec.Code.Pq]]: the code table (vec_id, codes,
    *    recon_err) under `path/codes` (32× smaller than the vectors it
    *    replaces), the codebook under `path/codebook` (m×ksub rows of
    *    double slices — bit-exact parquet round trip), params
    *    (m, ksub, dsub);
    *  - Mod/Trained + [[AnnSpec.Code.ResidualPq]]: the residual code
    *    table DIRECTORY-PARTITIONED BY CELL (a probe reads only its
    *    probed cells' partitions — the IVF promise materialized as
    *    partition pruning), centroids under `path/centroids`, the
    *    residual codebook, params (m, ksub, dsub, centroid_mod,
    *    coarse_src, coarse_k) and per-cell occupancy
    *    ([[refreshIvfCellStats]]).
    * Params pin the build-time geometry so a probe can never run
    * against mismatched codebooks. Other specs have no persisted form.
    */
  def buildAnnIndex(emb: DataFrame, idCol: String, vecCol: String, path: String,
                    spec: AnnSpec): Unit = {
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    def writeCodebook(cbs: Array[Array[Array[Double]]]): Unit =
      cbs.zipWithIndex.flatMap { case (cbm, mi) =>
        cbm.zipWithIndex.map { case (cv, j) => (mi, j, cv.toSeq) }
      }.toSeq.toDF("m", "code", "cv")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    (spec.coarse, spec.code) match {
      case (AnnSpec.Coarse.Flat, pq: AnnSpec.Code.Pq) =>
        // the stored codebook IS the probe codebook, trained or not
        val cbs = pqCodebooksFor(emb, idCol, vecCol, pq)
        pqEncodeWith(emb, idCol, vecCol, cbs)
          .write.mode("overwrite").parquet(s"$path/codes")
        writeCodebook(cbs)
        Seq((pq.m, pq.ksub, cbs.head.head.length)).toDF("m", "ksub", "dsub")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
      case (coarse, rp: AnnSpec.Code.ResidualPq) =>
        val centroids = centroidTable(emb, idCol, vecCol, coarse)
        val cells = ivfCells(centroids).getOrElse(throw new IllegalArgumentException(
          s"buildAnnIndex: no centroids ($coarse) — refusing to write an unprobeable index"))
        centroids.write.mode("overwrite").parquet(s"$path/centroids")
        val rows = residualRows(emb, idCol, vecCol, cells)
        val cbs = pqCodebooks(rows, "neighbor_id", "rv", rp.m, rp.ksub)
        rows.select(col("neighbor_id").as("vec_id"), col("centroid_id"),
            pqCodes("rv", cbs).as("codes"))
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(s"$path/codes")
        writeCodebook(cbs)
        // centroid_mod keeps the Mod default on trained indexes and
        // coarse_k is 0 on mod ones: the params layout predates the spec
        val (mod, src, coarseK) = coarse match {
          case AnnSpec.Coarse.Trained(kc, _, _) => (AnnSpec.Coarse.Mod().centroidMod, "trained", kc)
          case AnnSpec.Coarse.Mod(cm) => (cm, "mod", 0)
          case AnnSpec.Coarse.Flat => throw new IllegalStateException("unreachable")
        }
        Seq((rp.m, rp.ksub, cbs.head.head.length, mod, src, coarseK))
          .toDF("m", "ksub", "dsub", "centroid_mod", "coarse_src", "coarse_k")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
        refreshIvfCellStats(spark, path)
      case _ => throw new IllegalArgumentException(s"buildAnnIndex: $spec has no " +
        "persisted layout — indexes are Flat + Pq or cellular + ResidualPq")
    }
  }

  /** A persisted index's geometry: params row, codebook, and (IVF only)
    * its stored cells.
    */
  private final case class StoredIndex(params: org.apache.spark.sql.Row,
                                       cbs: Array[Array[Array[Double]]],
                                       cells: Option[Cells])

  private def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): StoredIndex = {
    val params = Tables.read(spark, s"$path/params").collect()(0)
    val (m, ksub) = (params.getInt(0), params.getInt(1))
    val rows = Tables.read(spark, s"$path/codebook")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    // doubles round-trip parquet bit-exactly: probe arithmetic ≡ build-time
    val cbs = Array.tabulate(m)(mi => Array.tabulate(ksub)(j => rows((mi, j))))
    val cells = if (!params.schema.fieldNames.contains("coarse_src")) None
      else Some(ivfCells(Tables.read(spark, s"$path/centroids")
        .select(col("centroid_id").cast("bigint").as("centroid_id"), col("cv")))
        .getOrElse(throw new IllegalArgumentException(
          s"IVF index at $path has no centroids — nothing is probeable")))
    StoredIndex(params, cbs, cells)
  }

  /** Append a batch to a persisted index — the continuous-ingestion
    * path: the batch assigns against the INDEX's stored centroids and
    * encodes with its stored codebook (never re-sampled geometry —
    * probes must keep answering over one consistent code space), then
    * its code rows append (into the cell partitions for an IVF index,
    * whose cellstats are refreshed). A batch whose vector width differs
    * from the stored m×dsub fails fast instead of encoding a TRUNCATED
    * vector into the shared code space. No existing row is touched, so
    * appends are cheap at any index size. Crash semantics: a replayed
    * partial append duplicates code rows (repeated neighbors in top-k)
    * — rebuild or re-id after a mid-append failure, don't blind-retry.
    */
  def appendToAnnIndex(emb: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val ix = readIndex(spark, path)
    val (pm, pdsub) = (ix.params.getAs[Number]("m").intValue,
      ix.params.getAs[Number]("dsub").intValue)
    emb.select(size(col(vecCol))).limit(1).collect().headOption.foreach { r =>
      val dims = r.getInt(0)
      require(dims == pm * pdsub,
        s"appendToAnnIndex: batch vector dims $dims != stored geometry " +
          s"m*dsub = $pm*$pdsub = ${pm * pdsub} — refusing to corrupt the index")
    }
    ix.cells match {
      case None =>
        pqEncodeWith(emb, idCol, vecCol, ix.cbs)
          .write.mode("append").parquet(s"$path/codes")
      case Some(cells) =>
        residualRows(emb, idCol, vecCol, cells)
          .select(col("neighbor_id").as("vec_id"), col("centroid_id"),
            pqCodes("rv", ix.cbs).as("codes"))
          .write.mode("append").partitionBy("centroid_id")
          .parquet(s"$path/codes")
        refreshIvfCellStats(spark, path)
    }
  }

  /** The persisted IVF code table as (neighbor_id, centroid_id BIGINT,
    * codes), restricted to `cells` when given via a LITERAL isin on the
    * partition column, converted to the SCAN's inferred partition-column
    * type — an implicit cast on the partition column itself would
    * defeat the PartitionFilters pruning this index exists for: only
    * the named cells' directories are ever read.
    */
  private def readCellCodes(spark: org.apache.spark.sql.SparkSession, path: String,
                            cells: Option[Array[Long]]): DataFrame = {
    val codesRaw = Tables.read(spark, s"$path/codes")
    def lits(cs: Array[Long]): Seq[Any] = codesRaw.schema("centroid_id").dataType match {
      case org.apache.spark.sql.types.IntegerType => cs.toIndexedSeq.map(_.toInt)
      case org.apache.spark.sql.types.ShortType => cs.toIndexedSeq.map(_.toShort)
      case _ => cs.toIndexedSeq
    }
    cells.fold(codesRaw)(cs => codesRaw.filter(col("centroid_id").isin(lits(cs): _*)))
      .select(col("vec_id").as("neighbor_id"),
        col("centroid_id").cast("bigint").as("centroid_id"), col("codes"))
  }

  /** ADC-scored (query_id, neighbor_id, adist decimal) pairs of a probe
    * batch (any (id, vector) frame, not necessarily index members —
    * identical ids on both sides are excluded as self-matches) against
    * a persisted index: the distance tables come from the STORED
    * codebook (and, for an IVF index, the stored cells and residuals),
    * and the corpus vectors are never read — they need not exist
    * anymore. With `prune` (needs a non-streaming batch) the IVF code
    * scan carries a LITERAL cell filter — the probed cells collected
    * driver-side — so partition pruning reads only those cells' files;
    * without it the scan reads the whole code table (the stream-static
    * form [[graft.streaming.DocStreams.annAlerts]] uses per micro-batch).
    */
  private[graft] def probeScored(spark: org.apache.spark.sql.SparkSession, path: String,
                                 queries: DataFrame, idCol: String, vecCol: String,
                                 nProbes: Int, prune: Boolean): DataFrame = {
    GraftFunctions.register(spark)
    val ix = readIndex(spark, path)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    ix.cells match {
      case None =>
        adcScored(Tables.read(spark, s"$path/codes")
            .select(col("vec_id").as("neighbor_id"), col("codes")),
          distTables(q, "qv", ix.cbs), cellular = false)
      case Some(cells) =>
        val tables = residualDistTables(cells, q, nProbes, ix.cbs)
        // the probed cells, driver-side: queries × nProbes bigints
        val probed = if (!prune) None
          else Some(tables.select(col("centroid_id")).distinct().collect().map(_.getLong(0)))
        adcScored(readCellCodes(spark, path, probed), tables, cellular = true)
    }
  }

  /** Top-`k` ADC neighbors for a PROBE batch against a persisted index
    * ([[buildAnnIndex]]): the same scan and cut as [[knn]] over the
    * stored codes, partition-pruned to the probed cells on an IVF index
    * (`nProbes` nearest stored cells per query). Same answer as [[knn]]
    * with the build spec on identical data (spec-pinned).
    */
  def knnProbe(spark: org.apache.spark.sql.SparkSession, path: String,
               queries: DataFrame, idCol: String, vecCol: String,
               k: Int, nProbes: Int = 4): DataFrame =
    adcTopK(probeScored(spark, path, queries, idCol, vecCol, nProbes, prune = true), k)

  // ---- ANN DuckDB twin -----------------------------------------------------

  /** PQ codebook + encode WITH-chain over `src(vec_id, <vec>)`:
    * hash-ordered seeds (`pseeds`) → per-subspace seed slices (`cb0`),
    * `trainIters` per-subspace Lloyd rounds replaying
    * [[pqCodebooksTrained]] bit-exactly (same (score, code) argmin
    * struct, same 2^-20 fixed-point long-sum means, same empty-code
    * carry via LEFT JOIN + coalesce — the kmeansCtePrefix pattern per
    * subspace) → `cb`, per-vector subspace slices (`sub`) and argmin
    * codes (`enc`). Every dot is [[VectorFunctions.dotSql]] (the
    * Spark-fold replica); CTE names avoid the kmeans chain's so the two
    * compose in one WITH list.
    */
  private def pqChainCtes(src: String, vec: String, m: Int, ksub: Int, trainIters: Int,
                          dims: Int): Seq[String] = {
    val dsub = dims / m
    val ph = graft.functions.PortableHash.duckdb("cast(vec_id AS varchar)")
    def dot(a: String, b: String) = VectorFunctions.dotSql(a, b)
    def slice(v: String) = s"list_transform($v[t.m*$dsub+1 : t.m*$dsub+$dsub], x -> x::DOUBLE)"
    val argmin =
      s"""min(struct_pack(s := ${dot("c.cv", "c.cv")} - (2.0 * ${dot("s.vm", "c.cv")}),
         |                    c := c.code))""".stripMargin
    def step(i: Int): Seq[String] = Seq(
      s"""pa$i AS (SELECT s.vec_id, s.m, $argmin.c AS code
         |  FROM sub s JOIN cb$i c ON c.m = s.m GROUP BY s.vec_id, s.m)""".stripMargin,
      s"""pm$i AS (SELECT a.m, a.code, t.pos,
         |    sum(cast(floor(((s.vm[t.pos])::DOUBLE) * 1048576.0 + 0.5) AS bigint)) AS s,
         |    count(*) AS n
         |  FROM sub s JOIN pa$i a ON a.vec_id = s.vec_id AND a.m = s.m,
         |    range(1, ${dsub + 1}) t(pos)
         |  GROUP BY a.m, a.code, t.pos)""".stripMargin,
      s"""cb${i + 1}l AS (SELECT p.m, p.code, p.pos,
         |    coalesce((cast(mm.s AS double) / 1048576.0) / mm.n, p.cval) AS cval
         |  FROM cb${i}l p LEFT JOIN pm$i mm
         |    ON p.m = mm.m AND p.code = mm.code AND p.pos = mm.pos)""".stripMargin,
      s"""cb${i + 1} AS (SELECT m, code, list(cval ORDER BY pos) AS cv
         |  FROM cb${i + 1}l GROUP BY m, code)""".stripMargin)
    Seq(
      s"""pseeds AS (SELECT vec_id, $vec AS v,
         |    row_number() OVER (ORDER BY $ph, vec_id) AS rn
         |  FROM $src WHERE $vec IS NOT NULL)""".stripMargin,
      s"""sub AS (SELECT e.vec_id, t.m, ${slice(s"e.$vec")} AS vm
         |  FROM $src e CROSS JOIN range(0, $m) t(m))""".stripMargin,
      s"""cb0 AS (SELECT t.m, cast(s.rn - 1 AS integer) AS code, ${slice("s.v")} AS cv
         |  FROM pseeds s CROSS JOIN range(0, $m) t(m) WHERE s.rn <= $ksub)""".stripMargin) ++
    (if (trainIters == 0) Nil
     else s"""cb0l AS (SELECT m, code, pos, cv[pos] AS cval
             |  FROM cb0, range(1, ${dsub + 1}) t(pos))""".stripMargin +:
       (0 until trainIters).flatMap(step)) ++
    Seq(s"cb AS (SELECT m, code, cv FROM cb$trainIters)",
      s"""enc AS (SELECT s.vec_id, s.m, $argmin AS st
         |  FROM sub s JOIN cb c ON c.m = s.m GROUP BY s.vec_id, s.m)""".stripMargin)
  }

  /** DuckDB twin of [[knn]] for any spec over the `embeddings` table —
    * the same cells (row_number window ≡ the kernels' ordering: cosine
    * desc, ties → lower centroid id), codebooks, distance tables and
    * cuts as CTEs:
    *  - candidates `cand` (query_id, neighbor_id[, centroid_id]): every
    *    other vector, or the members of each probed cell;
    *  - `scored`: exact round(cosine, 6), or the ADC sum of 6dp decimal
    *    table entries (per query, or per (query, probed cell) from the
    *    query's residual);
    *  - `refine`: the ADC shortlist re-scored exactly;
    *  - the rank/emit tail (adist emitted as double, rnk as integer).
    * A Trained coarse spec replays [[kmeansCtePrefix]] (bit-exact Lloyd)
    * capped with the same double→REAL cast [[centroidTable]] applies,
    * over the full corpus (`trainMod` 1).
    */
  def knnOracleSql(spec: AnnSpec, nQueries: Int = 10, k: Int = 5, dims: Int = 64): String = {
    def dot(a: String, b: String) = VectorFunctions.dotSql(a, b)
    def cos(a: String, b: String) = VectorFunctions.cosineSql(a, b)
    def residualOf(v: String) = s"list_transform(range(1, ${dims + 1}), i -> $v[i] - c.cv[i])"
    val (head, centroids) = spec.coarse match {
      case AnnSpec.Coarse.Flat => ("WITH ", Nil)
      case AnnSpec.Coarse.Mod(mod) => ("WITH ", Seq(
        s"""centroids AS (SELECT vec_id AS centroid_id, embedding AS cv
           |  FROM embeddings WHERE vec_id % $mod = 0)""".stripMargin))
      case AnnSpec.Coarse.Trained(kc, iters, trainMod) =>
        require(trainMod == 1, "knnOracleSql: the Lloyd replay trains on the full corpus")
        (kmeansCtePrefix(kc, iters, dims) + ",\n", Seq(
          s"""centroids AS (SELECT cid AS centroid_id,
             |  list_transform(cv, x -> x::REAL) AS cv FROM c$iters)""".stripMargin))
    }
    val cand = if (centroids.isEmpty) Seq(
      s"""cand AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
         |  FROM embeddings q CROSS JOIN embeddings n
         |  WHERE q.vec_id < $nQueries AND q.vec_id <> n.vec_id)""".stripMargin)
    else Seq(
      s"""cranked AS (SELECT e.vec_id, c.centroid_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cos("e.embedding", "c.cv")} DESC, c.centroid_id) AS crnk
         |  FROM embeddings e CROSS JOIN centroids c)""".stripMargin,
      "assigned AS (SELECT vec_id, centroid_id FROM cranked WHERE crnk = 1)",
      s"""probed AS (SELECT vec_id, centroid_id FROM cranked
         |  WHERE crnk <= ${spec.nProbes} AND vec_id < $nQueries)""".stripMargin,
      """cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id, p.centroid_id
        |  FROM probed p JOIN assigned a ON p.centroid_id = a.centroid_id
        |  WHERE p.vec_id <> a.vec_id)""".stripMargin)
    def exact(from: String) =
      s"""SELECT p.query_id, p.neighbor_id,
         |    round(${cos("x.embedding", "y.embedding")}, 6) AS score
         |  FROM $from p JOIN embeddings x ON x.vec_id = p.query_id
         |    JOIN embeddings y ON y.vec_id = p.neighbor_id""".stripMargin
    // ADC: query subspace slices `qsub` (query_id[, centroid_id], m, vm)
    // → distance table `dtab` → per-candidate sum over the codes
    def adc(perCell: Boolean): Seq[String] = {
      val cellCol = if (perCell) " q.centroid_id," else ""
      Seq(
        s"""dtab AS (SELECT q.query_id,$cellCol q.m, c.code,
           |    cast(round((${dot("c.cv", "c.cv")} - (2.0 * ${dot("q.vm", "c.cv")}))
           |      + ${dot("q.vm", "q.vm")}, 6) AS decimal(18,6)) AS d2
           |  FROM qsub q JOIN cb c ON c.m = q.m)""".stripMargin,
        s"""scored AS (SELECT p.query_id, p.neighbor_id,
           |    cast(sum(d.d2) AS decimal(28,6)) AS adist
           |  FROM cand p JOIN enc e ON e.vec_id = p.neighbor_id
           |  JOIN dtab d ON d.query_id = p.query_id AND d.m = e.m AND d.code = e.st.c
           |    ${if (perCell) "AND d.centroid_id = p.centroid_id" else ""}
           |  GROUP BY 1, 2)""".stripMargin)
    }
    val scoring = spec.code match {
      case AnnSpec.Code.Raw => Seq(s"scored AS (${exact("cand")})")
      case AnnSpec.Code.Pq(m, ksub, trainIters) =>
        pqChainCtes("embeddings", "embedding", m, ksub, trainIters, dims) ++
          (s"qsub AS (SELECT vec_id AS query_id, m, vm FROM sub WHERE vec_id < $nQueries)" +:
            adc(perCell = false))
      case AnnSpec.Code.ResidualPq(m, ksub) =>
        val dsub = dims / m
        (s"""res AS (SELECT a.vec_id, ${residualOf("e.embedding")} AS rv
            |  FROM assigned a JOIN embeddings e USING (vec_id)
            |  JOIN centroids c USING (centroid_id))""".stripMargin +:
          pqChainCtes("res", "rv", m, ksub, 0, dims)) ++
          Seq(s"""qres AS (SELECT p.vec_id AS query_id, p.centroid_id,
                 |    ${residualOf("e.embedding")} AS qrv
                 |  FROM probed p JOIN embeddings e ON e.vec_id = p.vec_id
                 |  JOIN centroids c USING (centroid_id))""".stripMargin,
            s"""qsub AS (SELECT query_id, centroid_id, t.m,
               |    list_transform(qrv[t.m*$dsub+1 : t.m*$dsub+$dsub], x -> x::DOUBLE) AS vm
               |  FROM qres CROSS JOIN range(0, $m) t(m))""".stripMargin) ++
          adc(perCell = true)
    }
    // rank order of an exact (cosine) or ADC score column
    def order(exact: Boolean) = if (exact) "score DESC" else "adist ASC"
    val refine = spec.refine.toSeq.flatMap(r => Seq(
      s"""short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY ${order(spec.code == AnnSpec.Code.Raw)}, neighbor_id) AS srnk
         |  FROM scored) WHERE srnk <= $r)""".stripMargin,
      s"refined AS (${exact("short")})"))
    val exactOut = spec.code == AnnSpec.Code.Raw || refine.nonEmpty
    val (col, emit) = if (exactOut) ("score", "score") else ("adist", "cast(adist AS double) AS adist")
    head + (centroids ++ cand ++ scoring ++ refine).mkString(",\n") +
      s"""
         |SELECT query_id, neighbor_id, $emit, rnk FROM (
         |  SELECT query_id, neighbor_id, $col,
         |    cast(row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${order(exactOut)}, neighbor_id) AS integer) AS rnk
         |  FROM ${if (refine.nonEmpty) "refined" else "scored"}) WHERE rnk <= $k""".stripMargin
  }

  /** DuckDB twin of the portable [[pqEncode]] projection (codes
    * serialized to a CSV string, recon_err as double — final query
    * outputs must be pandas-portable: no DECIMAL, no list columns; a
    * list column is unsortable/unhashable in the driver's compare).
    */
  def pqEncodeOracleSql(m: Int = 16, ksub: Int = 32, dims: Int = 64): String = {
    def dot(a: String, b: String) = VectorFunctions.dotSql(a, b)
    s"""WITH ${pqChainCtes("embeddings", "embedding", m, ksub, 0, dims).mkString(",\n")},
       |per AS (
       |  SELECT e.vec_id, e.m, e.st.c AS code,
       |    cast(round(e.st.s + ${dot("s.vm", "s.vm")}, 6) AS decimal(18,6)) AS err
       |  FROM enc e JOIN sub s ON s.vec_id = e.vec_id AND s.m = e.m)
       |SELECT vec_id, array_to_string(list(code ORDER BY m), ',') AS codes,
       |  cast(cast(sum(err) AS decimal(28,6)) AS double) AS recon_err
       |FROM per GROUP BY vec_id""".stripMargin
  }

  // ---- Persisted LSH index -------------------------------------------------

  /** Build and persist the LSH index for `emb` at `path` — the
    * production form of the per-query bucketing scan: the bucket table
    * lands under `path/buckets` directory-partitioned by hash table
    * (probes prune to the tables they touch), the id→vector map under
    * `path/vectors`, and the plane parameters under `path/params` so a
    * probe can never run against mismatched hyperplanes. The build
    * costs the one bucketing scan every ad-hoc query pays anyway;
    * amortized across every later probe batch, the corpus is never
    * re-bucketed again.
    */
  def buildLshIndex(emb: DataFrame, idCol: String, vecCol: String, path: String,
                    nPlanes: Int = 5, nTables: Int = 8, dims: Int = 64): Unit = {
    GraftFunctions.register(emb.sparkSession)
    bucketRows(emb, idCol, vecCol, nPlanes, nTables, dims)
      .write.mode("overwrite").partitionBy("table").parquet(s"$path/buckets")
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .write.mode("overwrite").parquet(s"$path/vectors")
    import emb.sparkSession.implicits._
    Seq((nPlanes, nTables, dims)).toDF("n_planes", "n_tables", "dims")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Append a new batch of vectors to a persisted index — the
    * continuous-ingestion path: the batch is bucketed with the INDEX's
    * stored parameters (never its own), and its bucket/vector rows are
    * appended to the existing tables. No existing row is touched, so
    * appends are cheap at any index size; callers dedup the batch
    * first ([[graft.operators.Dedup.incremental]]) if ids may repeat.
    *
    * Crash semantics: the two appends are separate jobs, not one
    * transaction. A crash between them leaves bucket rows without
    * vectors — benign (the probe's inner vector join drops them) — but
    * REPLAYING a partially-failed append duplicates rows, and
    * duplicated vector rows surface as repeated neighbors in probe
    * top-k. After a mid-append failure, rebuild the index (or append
    * the batch under fresh ids); don't blind-retry.
    */
  def appendToLshIndex(emb: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val p = Tables.read(spark, s"$path/params").collect()(0)
    val (nPlanes, nTables, dims) = (p.getInt(0), p.getInt(1), p.getInt(2))
    bucketRows(emb, idCol, vecCol, nPlanes, nTables, dims)
      .write.mode("append").partitionBy("table").parquet(s"$path/buckets")
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .write.mode("append").parquet(s"$path/vectors")
  }

  /** Top-k neighbors for a PROBE batch against a persisted index:
    * probe vectors are bucketed map-side with the index's stored
    * parameters (a scan of the probe batch only), candidates come from
    * an equi-join against the prebuilt bucket table, and exact cosine
    * runs against the stored vectors — the corpus is neither rescanned
    * nor re-bucketed. `queries` is the (small) probe batch — any
    * (id, vector) DataFrame, not necessarily index members — and is
    * broadcast; identical ids on both sides are excluded as
    * self-matches. Same answer as [[knnLsh]] on identical parameters
    * (spec-pinned).
    */
  def knnLshProbe(spark: org.apache.spark.sql.SparkSession, path: String,
                  queries: DataFrame, idCol: String, vecCol: String,
                  k: Int): DataFrame = {
    GraftFunctions.register(spark)
    val p = Tables.read(spark, s"$path/params").collect()(0)
    val (nPlanes, nTables, dims) = (p.getInt(0), p.getInt(1), p.getInt(2))
    lshTopK(bucketRows(queries, idCol, vecCol, nPlanes, nTables, dims),
      Tables.read(spark, s"$path/buckets"),
      queries, idCol, vecCol, Tables.read(spark, s"$path/vectors"), "id", "vec", k)
  }
}
