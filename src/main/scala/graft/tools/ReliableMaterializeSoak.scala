package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the reliable-materialize "insurance premium" DISTRIBUTED —
  * the cost ratio the [[graft.Materialize]] scaladoc asserts (each cut
  * subtree executes twice under reliable `Dataset.checkpoint`, once for
  * the consuming job and once for the checkpoint write) but which no
  * soak had put a number on.
  *
  * [[ReliableMaterializeDemo]] proves the CORRECTNESS side (reliable
  * cuts survive executor loss, localCheckpoint cuts don't); this tool
  * measures the COST side on the same two-host standalone topology —
  * real executor JVMs, real RPC, checkpoint files on a shared directory
  * (the stand-in for HDFS/object store) — so the premium includes the
  * cross-JVM traffic a `local[n]` run would hide.
  *
  * Workloads are the two soak shapes with the most materialize cuts:
  *  - `corpus_dedup` (exact-first + LSH band table cuts),
  *  - `semantic_clusters` (LSH pair mining + per-round CC label cuts —
  *    the iterative engine pays the premium EVERY round, so its ratio
  *    is the upper bound of the family).
  *
  * Each workload runs warm+timed in BOTH modes on the same cluster and
  * data. Prints one JSON line per workload:
  *   {"metric":"reliable_premium_<w>","local_sec":…,"reliable_sec":…,"ratio":…}
  *
  * Run: sbt "runMain graft.tools.ReliableMaterializeSoak [docMult] [vecMult]"
  * (defaults 40/10 ≈ 60 MB text / 50k vectors — sized for the 2×4-core
  * 4 GB mini cluster; the ratio, not the absolute seconds, is the
  * result).
  */
object ReliableMaterializeSoak {
  def main(args: Array[String]): Unit = {
    val docMult = args.headOption.map(_.toInt).getOrElse(40)
    val vecMult = args.lift(1).map(_.toInt).getOrElse(10)
    MiniCluster.withCluster("reliable-soak", workerMemory = "5g",
      workerCores = 4) { masterUrl =>
      run(masterUrl, docMult, vecMult)
    }
  }

  private def run(masterUrl: String, docMult: Int, vecMult: Int): Unit = {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-premium-ckpt").toString
    val spark = SparkSession.builder()
      .master(masterUrl)
      .appName("reliable-materialize-soak")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.executor.memory", "4g")
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        MiniCluster.addOpensFlags.mkString(" "))
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.GraftSession.LocalFsConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // ---- shared inputs, written once as parquet ------------------
      val docs0 = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
      val n = docs0.count()
      val docDir = java.nio.file.Files.createTempDirectory("graft-premium-docs").toString
      // axis-2 generator shape: cross-combined distinct docs
      docs0.select(col("doc_id").as("a_id"), col("text").as("a_text"),
          explode(sequence(lit(1), lit(docMult))).as("k"))
        .withColumn("b_id", (col("a_id") + col("k")) % n)
        .join(docs0.select(col("doc_id").as("b_id"), col("text").as("b_text")), "b_id")
        .select((col("a_id") * docMult + col("k")).as("doc_id"),
          concat(col("a_text"), lit(" "), col("b_text")).as("text"))
        .repartition(16).write.mode("overwrite").parquet(docDir)
      val docs = spark.read.parquet(docDir)

      val emb0 = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
      val nv = emb0.count()
      val vecDir = java.nio.file.Files.createTempDirectory("graft-premium-vecs").toString
      emb0.select(col("vec_id").as("a_id"), col("embedding").as("av"),
          explode(sequence(lit(1), lit(vecMult))).as("k"))
        .withColumn("b_id", (col("a_id") + col("k")) % nv)
        .join(emb0.select(col("vec_id").as("b_id"), col("embedding").as("bv")), "b_id")
        .select((col("a_id") * vecMult + col("k")).as("vec_id"),
          zip_with(col("av"), col("bv"), (x, y) => x + y).as("embedding"))
        .repartition(16).write.mode("overwrite").parquet(vecDir)
      val vecs = spark.read.parquet(vecDir)
      val planes = math.max(5, math.ceil(
        math.log(nv * vecMult / 128.0) / math.log(2)).toInt)

      val workloads: Seq[(String, () => DataFrame)] = Seq(
        "corpus_dedup" -> (() =>
          graft.operators.Dedup.corpusDedup(docs, "doc_id", "text")),
        "semantic_clusters" -> (() =>
          graft.operators.Graph.connectedComponents(
            graft.operators.Similarity.embeddingPairs(
              vecs, "vec_id", "embedding", 0.7, nPlanes = planes,
              maxBucket = 500)
              .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))))

      def timed(body: () => DataFrame): Double = {
        body().write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        body().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }

      for ((name, body) <- workloads) {
        spark.conf.unset(graft.Materialize.ReliableDirKey)
        val localSec = timed(body)
        spark.conf.set(graft.Materialize.ReliableDirKey, ckptDir)
        val reliableSec = timed(body)
        spark.conf.unset(graft.Materialize.ReliableDirKey)
        println(f"""{"metric":"reliable_premium_$name","local_sec":$localSec%.1f,"reliable_sec":$reliableSec%.1f,"ratio":${reliableSec / localSec}%.2f}""")
      }
    } finally {
      if (!spark.sparkContext.isStopped) spark.stop()
    }
  }
}
