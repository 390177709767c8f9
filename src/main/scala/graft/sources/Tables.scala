package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's star schema + text/vector tables.
  *
  * One parquet file per table under an `sf` directory (TESTDATA.md).
  * Every library parquet read goes through [[read]]: a file-source
  * parquet scan, so Catalyst pushes filters and prunes columns into
  * it, whose schema is inferred once per unchanged set of files; at
  * 100 TB the same code reads a partitioned parquet/lakehouse layout
  * unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet at `path`, with the schema Spark's own inference returned
    * for the same files the last time. Inference is a Spark job (one
    * footer-reading task) on every bare parquet read, which dominates
    * a small query's driver floor; a repeat read passes the remembered
    * schema instead and launches no job.
    *
    * The memo answers only when everything inference depends on is
    * unchanged: it is keyed by `path` and the session's
    * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` settings
    * (the `events` nanos encoding reads as BIGINT or not by
    * `nanosAsLong`), and an entry holds only while the read's own file
    * listing — qualified root paths, each leaf file's path, length and
    * modification time — equals the listing it was inferred from
    * (compared by a SHA-256 of the sorted listing, so an entry does not
    * grow with the table's file count). So a
    * hit lists the files once, like a plain read; an overwritten or
    * appended table re-infers. Failures are never remembered: a read
    * that cannot be inferred throws what a plain parquet read throws,
    * every time.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val key = (path, spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    })
    Option(inferred.get(key))
      .flatMap { case (files, schema) =>
        scala.util.Try(spark.read.schema(schema).parquet(path)).toOption
          .filter(df => listing(df).contains(files))
      }
      .getOrElse {
        val df = spark.read.parquet(path)
        listing(df).foreach(files => inferred.put(key, (files, df.schema)))
        df
      }
  }

  /** Bound of [[read]]'s memo, in entries (least recently used out).
    * Each entry holds a listing digest, not the listing, so this also
    * bounds its bytes.
    */
  private val InferredMaxEntries = 1024

  private type Listing = Seq[Byte] // SHA-256 of the sorted listing

  private val inferred = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Map[String, String]), (Listing, StructType)](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Map[String, String]), (Listing, StructType)]): Boolean =
        size() > InferredMaxEntries
    })

  /** The digest of the file listing the read's relation was built on
    * (sorted root paths, then sorted leaf path/length/mtime lines), if
    * it has one.
    */
  private def listing(df: DataFrame): Option[Listing] =
    Some(df.queryExecution.analyzed)
      .collect { case lr: LogicalRelation => lr.relation }
      .collect { case fs: HadoopFsRelation => fs.location }
      .collect { case ix: PartitioningAwareFileIndex =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        def add(lines: Seq[String]): Unit = lines.sorted.foreach { l =>
          md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update('\n'.toByte)
        }
        add(ix.rootPaths.map(_.toString))
        md.update(0.toByte) // roots end; file paths cannot contain NUL
        add(ix.allFiles().toSeq.map(f =>
          s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}"))
        md.digest().toSeq
      }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Session conf required to read TIMESTAMP(NANOS) parquet; there is
    * no per-read DataSource option for it, so graft's session builders
    * (GraftSession, Verify, Bench, specs) set it at build time.
    */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (reads as BIGINT under `nanosAsLong`)
    * and timestamp[us] (reads as TIMESTAMP_NTZ, or TIMESTAMP for
    * tz-adjusted files). A 100 TB lake holds mixed-encoding files as a
    * matter of course, so the loader branches on the *observed* schema
    * instead of assuming one generation:
    *   - LongType        → nanos: truncate to micros (session TZ is UTC,
    *                       matching the file's naive-UTC semantics)
    *   - Timestamp(NTZ)  → cast to session-local timestamp (UTC session,
    *                       so the naive values are preserved verbatim)
    * Either way consumers see one stable `ts: timestamp` column.
    * The conf set here is a no-op guard for foreign sessions — every
    * graft-built session already pins it at build time (value is
    * constant, so concurrent loaders can't race to different states).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    if (!s.conf.getOption(NanosAsLong).contains("true"))
      s.conf.set(NanosAsLong, "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType =>
        raw
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported parquet type $other (expected INT64 nanos, timestamp, or timestamp_ntz)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")

  /** `embeddings.embedding` has shipped as `list<float>` in every
    * driver generation so far, but the same vector lake could ship
    * `list<double>` (numpy's float64 default) after a regeneration —
    * the events-ts lesson applied BEFORE it burns: every graft vector
    * kernel reads float slots (`ArrayData.getFloat`), which silently
    * misreads a double-backed array rather than failing. Branch on the
    * observed element type and normalize to `array<float>`; anything
    * else is rejected with a clear error.
    */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val raw = load(s, d, "embeddings")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case ArrayType(DoubleType, _) =>
        raw.withColumn("embedding", col("embedding").cast("array<float>"))
      case other =>
        throw new IllegalArgumentException(
          s"embeddings.embedding: unsupported parquet type $other " +
            "(expected array<float> or array<double>)")
    }
  }

  /** Register all tables as temp views for `spark.sql` users
    * (events goes through its nanosecond-timestamp wrapper).
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
