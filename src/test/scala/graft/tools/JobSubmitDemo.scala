package graft.tools

import java.nio.file.Files

/** Cluster-shipping proof for runtime job submission: the local-mode
  * JobRunnerSpec proves classloader isolation but never forces the job
  * class across a JVM boundary — in `local[n]` the executor IS the
  * driver. This demo runs the submit path against a real two-worker
  * standalone cluster ([[MiniCluster]]: master + two worker JVMs on
  * distinct loopback hosts) with a job whose plan contains a UDF
  * DEFINED IN THE SUBMITTED JAR: the UDF instance serializes into task
  * closures, so every executor must load the job class — which is NOT
  * on any worker/executor classpath (compiled into a temp-dir jar at
  * run time) and can only arrive via `sc.addJar`'s file server, the
  * exact mechanism `spark-submit --jars` uses on a 1000-executor
  * cluster.
  *
  * Prints `JOBSUBMIT shipped_ok=… sum_ok=…`; exit 0 iff the submitted
  * UDF evaluated executor-side with the right result. JobSubmitSpec
  * runs this as a child JVM and asserts on that line.
  */
object JobSubmitDemo {
  private val jobSource =
    """import org.apache.spark.sql.Dataset;
      |import org.apache.spark.sql.Row;
      |import org.apache.spark.sql.SparkSession;
      |import org.apache.spark.sql.api.java.UDF1;
      |import org.apache.spark.sql.types.DataTypes;
      |import java.util.Map;
      |
      |public class GraftClusterUdfJob implements graft.GraftJob {
      |  public static class Mix implements UDF1<Long, Long> {
      |    public Long call(Long x) {
      |      return (x * 2654435761L) % 1000L;
      |    }
      |  }
      |  public Dataset<Row> run(SparkSession spark, Map<String, String> args) {
      |    spark.udf().register("graft_demo_mix", new Mix(), DataTypes.LongType);
      |    long n = Long.parseLong(args.getOrDefault("n", "100000"));
      |    return spark.range(0, n, 1, 8)
      |        .selectExpr("sum(graft_demo_mix(id)) AS s");
      |  }
      |}
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val rc = MiniCluster.withCluster("jobsubmit", workerMemory = "1g",
      workerCores = 2) { masterUrl =>
      run(masterUrl)
    }
    sys.exit(rc)
  }

  private def run(masterUrl: String): Int = {
    // executor classpath = THIS JVM's classpath (spark + graft) — the
    // job jar lives in a temp dir outside it, so only addJar can
    // deliver the UDF class to the workers' executor JVMs
    val spark = MiniCluster.session(masterUrl, "jobsubmit-demo", Map(
      "spark.executor.memory" -> "512m",
      "spark.sql.shuffle.partitions" -> "4"))
    try {
      val work = Files.createTempDirectory("graft-cluster-job")
      val jar = graft.JobRunner.compileJavaJob(jobSource, "GraftClusterUdfJob", work)
      val n = 100000L
      val got = graft.JobRunner
        .submit(spark, jar.toString, "GraftClusterUdfJob", Map("n" -> n.toString))
        .head().getLong(0)
      val want = (0L until n).map(x => (x * 2654435761L) % 1000L).sum
      // the job ran on executors in the workers' JVMs (a standalone
      // driver runs no tasks), so they loaded the jar-only UDF class
      val execs = spark.sparkContext.statusTracker.getExecutorInfos
        .count(_.host() != "127.0.0.1")
      val shipped = execs > 0
      println(s"JOBSUBMIT shipped_ok=$shipped sum_ok=${got == want} sum=$got " +
        s"want=$want remote_executors=$execs")
      if (shipped && got == want) 0 else 1
    } finally spark.stop()
  }
}
