package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout helpers — where 100 TB performance is actually won:
  *
  * - **Partitioned layout**: directory partitioning by a low-cardinality
  *   column; equality/range predicates prune entire directories before
  *   any I/O (`PartitionFilters` in the scan node).
  * - **Bucketed layout**: pre-shuffled by join/agg key at write time;
  *   joins and aggregations on the bucket key skip the exchange
  *   entirely (co-located join).
  * - **Z-ordered layout**: range-partition + sort by an interleaved-bit
  *   key over TWO dimensions, so every parquet file covers a narrow
  *   range of BOTH columns and row-group min/max stats prune scans for
  *   predicates on either one (single-column sorting only prunes its
  *   own column).
  */
object Layouts {

  /** Morton (Z-order) key: interleaves the low `bitsPerDim` bits of two
    * non-negative int columns (x gets the even bit positions, y the
    * odd). Pure column math — shifts, masks, adds — stays inside
    * whole-stage codegen; values are clamped to the bit budget so the
    * key is total. 2 × 30 bits fit a signed long.
    */
  def zOrderKey(x: Column, y: Column, bitsPerDim: Int = 16): Column = {
    require(bitsPerDim >= 1 && bitsPerDim <= 30)
    def clamp(c: Column): Column =
      least(greatest(c.cast("long"), lit(0L)), lit((1L << bitsPerDim) - 1))
    val cx = clamp(x)
    val cy = clamp(y)
    (0 until bitsPerDim).map { b =>
      (shiftright(cx, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b))) +
        (shiftright(cy, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1)))
    }.reduce(_ + _)
  }

  /** Write `df` clustered by the Z-order of (`xCol`, `yCol`):
    * range-partition on the key (balanced files via reservoir-sampled
    * bounds — the same mechanism as a global sort) and sort within
    * partitions, then drop the key. Readers filtering on EITHER column
    * skip most files/row-groups via min/max stats; LayoutsSpec measures
    * the per-file range narrowing against an unclustered write.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    nFiles: Int, bitsPerDim: Int = 16): Unit =
    df.withColumn("__z", zOrderKey(col(xCol), col(yCol), bitsPerDim))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, path)

  /** Write as a bucketed managed table (requires a warehouse-enabled
    * session). `nBuckets` should match downstream shuffle parallelism.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  private def parquetBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(root)
    try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  private def parquetFileCount(path: String): Int = {
    val root = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(root)
    try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).count().toInt
    finally s.close()
  }

  /** Small-file compaction — the lakehouse OPTIMIZE pass. Streaming
    * sinks and incremental appends leave thousands of KB-scale files;
    * at 100 TB the scan's task-scheduling and footer-read overhead is
    * then dominated by FILE COUNT, not bytes. Rewrites `src` into
    * `dest` as ceil(bytes ∕ targetMb) files via `coalesce` (no
    * shuffle — partitions are merged, never redistributed; use
    * [[writeZOrdered]] when re-clustering is the goal). Returns
    * (filesBefore, filesAfter). `dest` must differ from `src`: the
    * rewrite is a fresh atomic-ish directory write, never an in-place
    * mutation of files a concurrent reader may hold open — callers
    * swap the path at their metadata layer, the same contract a real
    * table format's OPTIMIZE commits through its log.
    */
  /** Training-shard sink: write the corpus as token-budgeted shard
    * directories (`path/data/shard_id=N/…`) in the deterministic
    * layout of [[graft.operators.Curation.trainingShards]], plus a
    * `path/manifest` table ([[graft.operators.Curation.shardManifest]]:
    * per-shard doc/token counts and xor content digest) a training job
    * verifies before reading. Returns (nShards, totalTokens).
    *
    * Scale shape: the assignment rows (id + three longs) join the docs
    * table once on id; `repartition(shard_id)` then clusters each
    * shard's docs so the partitioned write emits ONE file per shard
    * (budget-sized by construction) instead of a file per (task,
    * shard) pair — at 100 TB the no-repartition form would shatter
    * every shard directory into thousands of KB files.
    *
    * Crash semantics: data first, manifest LAST — a reader that finds
    * the manifest knows the shard directories it describes are
    * complete (a crash between the two writes leaves data without a
    * manifest, which readers treat as absent; rerunning the sink
    * overwrites both). The manifest is the commit marker.
    */
  def writeTrainingShards(docs: DataFrame, idCol: String, textCol: String,
                          budgetTokens: Long, path: String): (Long, Long) = {
    val assign = graft.operators.Curation
      .trainingShards(docs, idCol, textCol, budgetTokens)
    docs.join(assign.select(col(idCol), col("start_offset"), col("shard_id")),
        Seq(idCol))
      .repartition(col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(s"$path/data")
    val mani = graft.operators.Curation.shardManifest(assign, idCol)
    mani.coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
    val tot = mani.agg(count(lit(1)), sum(col("n_tokens"))).head()
    (tot.getLong(0), if (tot.isNullAt(1)) 0L else tot.getLong(1))
  }

  /** Reader-side trust check for a [[writeTrainingShards]] directory:
    * re-derive each shard's (n_docs, n_tokens, digest) from the
    * WRITTEN data files (token counts recomputed from the text, the
    * digest through the same [[graft.operators.Curation.shardManifest]]
    * aggregation) and compare against the committed manifest. Returns
    * (n_shards, n_mismatched) — a training job refuses the corpus on
    * any nonzero second component. One manifest-sized join; the data
    * re-read is the one full scan a verification inherently costs.
    */
  def verifyTrainingShards(spark: SparkSession, path: String,
                           idCol: String, textCol: String): (Long, Long) = {
    val mani = Tables.read(spark, s"$path/manifest")
      .select(col("shard_id"), col("n_docs"), col("n_tokens"), col("digest"))
    val data = Tables.read(spark, s"$path/data")
    val derived = graft.operators.Curation.shardManifest(
      data.select(col(idCol),
        size(graft.functions.TextFunctions.tokens(col(textCol)))
          .cast("long").as("n_tokens"),
        col("shard_id")), idCol)
      .select(col("shard_id"), col("n_docs").as("d_docs"),
        col("n_tokens").as("d_tokens"), col("digest").as("d_digest"))
    val joined = mani.join(derived, Seq("shard_id"), "full_outer")
    val bad = joined.filter(
      col("n_docs").isNull || col("d_docs").isNull ||
        col("n_docs") =!= col("d_docs") ||
        col("n_tokens") =!= col("d_tokens") ||
        col("digest") =!= col("d_digest")).count()
    (mani.count(), bad)
  }

  def compact(spark: SparkSession, src: String, dest: String,
              targetMb: Int = 128): (Int, Int) = {
    require(src != dest, "compact() rewrites into a NEW directory")
    val before = parquetFileCount(src)
    val bytes = parquetBytes(src)
    val nFiles = math.max(1, math.ceil(bytes / (targetMb * 1e6)).toInt)
    Tables.read(spark, src).coalesce(nFiles)
      .write.mode("overwrite").parquet(dest)
    (before, parquetFileCount(dest))
  }
}
