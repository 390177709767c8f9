package graft

import org.apache.spark.sql.SparkSession

/** Tuned [[SparkSession]] factory for the graft engine.
  *
  * Local runs use `local[N]` threads; on a real cluster the same confs
  * apply (AQE handles runtime re-planning and skew joins). Shuffle
  * partition count follows core count locally — on a 1000-executor
  * cluster AQE coalesces the initial (larger) partition count instead.
  */
object GraftSession {
  /** The `file:` filesystem of every graft-built session: Hadoop's, with
    * modes set and links read by syscall instead of a forked `chmod` /
    * `readlink` per call (see [[graft.sources.LocalFs]]).
    */
  val LocalFsConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.sources.GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.sources.GraftLocalFs].getName)

  /** A session's cores: `SPARK_GRAFT_CPUS`, or else this JVM's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    prewarmCollation
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.NanosAsLong, "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // runtime bloom-filter pruning: the selective side of a shuffle
      // join filters the large side's scan — a pure win at fact-table
      // scale, free when inapplicable
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // Compress cached RDD blocks (off by default in Spark): the
      // library's materialized cuts are long/digest tables by
      // convention, which lz4 shrinks 2-4× — at the 10 GB fullchain
      // soak the LSH shingle cut's on-disk blocks were ~28 GB
      // uncompressed, the single largest line in the footprint that
      // ENOSPC'd the run. The decode cost rides the block read, not
      // the hot loop.
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .config(LocalFsConfs)
  }

  /** The first `lower()`/`upper()` in a JVM initializes Spark's
    * `CollationAwareUTF8String`, whose static table title-cases every
    * code point through ICU (~1.9 s). Loading it once per JVM on a
    * daemon thread takes that off the first query's path.
    */
  private lazy val prewarmCollation: Unit = {
    val t = new Thread(() =>
      try Class.forName("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
      catch { case _: ClassNotFoundException => },
      "graft-collation-prewarm")
    t.setDaemon(true)
    t.start()
  }

  /** graft's one session rule: the tuned [[builder]] on
    * `SPARK_GRAFT_MASTER`, or else `local[cores]`, with `cores` shuffle
    * partitions, plus `confs`, logging at WARN.
    */
  def getOrCreate(cores: Int = cpus, confs: Map[String, String] = Map.empty): SparkSession = {
    val s = builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"), cores)
      .config(confs).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
