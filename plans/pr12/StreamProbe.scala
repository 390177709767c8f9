import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** A stateful `groupBy().count()` stream on a graft session (local[4]):
  * 5 warm-up micro-batches of 1,000 rows, then `batches` timed ones.
  * Prints the median `triggerExecution` time of the timed batches and
  * the processes the JVM started meanwhile (JFR `jdk.ProcessStart`),
  * by command. `hadoop` overrides the session's `file:` filesystem
  * with Hadoop's stock classes; `graft` keeps graft's.
  *
  * args: <statePartitions> <graft|hadoop> <batches>
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val parts: Int = args(0).toInt
    val useGraft = args(1) == "graft"
    val batches: Int = args(2).toInt
    val b = graft.GraftSession.builder("local[4]", parts)
    val spark: org.apache.spark.sql.SparkSession = (if (useGraft) b else b
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-probe")
    val input = MemoryStream[Long]
    val q = input.toDF().groupBy($"value" % 100).count()
      .writeStream.format("memory").queryName("probe_counts").outputMode("update")
      .option("checkpointLocation", s"$dir/ck").start()
    def batch(i: Int): Unit = {
      input.addData((i * 1000L) until (i * 1000L + 1000): _*)
      q.processAllAvailable()
    }
    (0 until 5).foreach(batch)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    (5 until 5 + batches).foreach(batch)
    rec.stop()
    val jfr = Files.createTempFile("probe", ".jfr")
    rec.dump(jfr)
    val cmds = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command").split(" ").head)
    val batchMs = q.recentProgress.filter(_.batchId >= 5)
      .map(_.durationMs.get("triggerExecution").longValue).sorted
    q.stop()
    val byCmd = cmds.groupBy(identity).map { case (k, v) => s"$k=${v.size}" }.mkString(",")
    println(s"""PROBE {"parts":$parts,"fs":"${args(1)}","batches":${batchMs.length},""" +
      s""""median_batch_ms":${batchMs(batchMs.length / 2)},"process_starts":${cmds.size},"by_cmd":"$byCmd"}""")
    spark.stop()
  }
}
