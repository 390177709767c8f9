package graft.tools

import org.apache.spark.sql.SparkSession

/** Two-host standalone-cluster harness for fault-injection demos — a
  * real Spark master plus two single-core workers spawned as child JVMs
  * on DISTINCT loopback host names (127.0.0.2 / 127.0.0.3, one
  * simulated machine each). `local-cluster[…]` puts every executor on
  * `localhost`, which defeats both speculation placement (a backup is
  * never placed on the host running the original attempt) and any
  * block-loss scenario where "the other machine" must survive — so the
  * smallest honest topology is this one. Shared by
  * [[SpeculationDemo]] (straggler → backup task),
  * [[ReliableMaterializeDemo]] (executor loss vs materialized blocks),
  * [[JobSubmitDemo]] (a submitted jar's UDF on remote executors) and
  * the soak's reliable-premium row.
  */
object MiniCluster {
  /** The JDK 17 opens Spark needs outside spark-submit: the one list the
    * test tree's child JVMs and executors get.
    */
  val AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")

  def addOpensFlags: Seq[String] = AddOpens.map(p => s"--add-opens=$p=ALL-UNNAMED")

  /** The workers' SPARK_HOME: a stand-in whose `jars` dir is empty. A
    * worker's executor class path is that dir plus
    * `spark.executor.extraClassPath`, which [[session]] sets to this
    * JVM's class path, so executors load exactly the driver's classes.
    */
  private lazy val sparkHome: String = {
    val home = java.nio.file.Files.createTempDirectory("graft-spark-home")
    home.toFile.deleteOnExit()
    java.nio.file.Files.createDirectory(home.resolve("jars")).toFile.deleteOnExit()
    home.toString
  }

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** A child JVM on this JVM's class path and opens; output to `log`. */
  private def fork(cls: String, args: Seq[String], jvm: Seq[String],
                   log: java.io.File, host: Option[String] = None): Process = {
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ addOpensFlags ++ jvm ++
      Seq("-cp", sys.props("java.class.path"), cls) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_HOME", sparkHome)
    // the Worker builds the executor command through the launcher,
    // which needs the scala version when not under spark-submit
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    host.foreach(pb.environment().put("SPARK_LOCAL_HOSTNAME", _))
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    pb.start()
  }

  private def spawn(host: String, cls: String, extra: Seq[String]): Process =
    fork(cls, extra, Seq("-Xmx512m", "-Dspark.ui.enabled=false"),
      java.io.File.createTempFile(s"minicluster-${cls.split('.').last}-$host", ".log"),
      Some(host))

  /** Start master + two workers, run `body` against the master URL,
    * always tear the child JVMs down. `workerMemory` must cover the
    * executor memory the body's session requests. The fault demos keep
    * the default single-core workers (one task slot per "machine");
    * the soak measurements widen `workerCores` so the cluster has
    * enough parallelism for the timing to mean anything.
    */
  def withCluster[A](tag: String, workerMemory: String = "1g",
                     workerCores: Int = 1)
                    (body: String => A): A = {
    val port = freePort()
    val masterUrl = s"spark://127.0.0.1:$port"
    val master = spawn("127.0.0.1", "org.apache.spark.deploy.master.Master",
      Seq("--host", "127.0.0.1", "--port", port.toString, "--webui-port", "0"))
    Thread.sleep(3000) // master RPC up before workers dial in
    val workers = Seq("127.0.0.2", "127.0.0.3").map { h =>
      spawn(h, "org.apache.spark.deploy.worker.Worker",
        Seq("--host", h, "--port", "0", "--webui-port", "0",
          "--cores", workerCores.toString, "--memory", workerMemory,
          "--work-dir", s"${sys.props("java.io.tmpdir")}/graft-$tag-work-$h", masterUrl))
    }
    try body(masterUrl)
    finally {
      workers.foreach(_.destroy())
      master.destroy()
      workers.foreach(_.waitFor(5, java.util.concurrent.TimeUnit.SECONDS))
      master.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)
      (workers :+ master).foreach(_.destroyForcibly())
    }
  }

  /** A driver session on the cluster at `masterUrl`: executors get this
    * JVM's class path (Spark, graft and the test classes) and opens,
    * the session UTC and graft's `file:` filesystem, plus `confs`.
    */
  def session(masterUrl: String, app: String, confs: Map[String, String]): SparkSession = {
    val s = SparkSession.builder()
      .master(masterUrl)
      .appName(app)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpensFlags.mkString(" "))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.GraftSession.LocalFsConfs)
      .config(confs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A main's child JVM: its exit code (None when it outran `timeoutSec`
    * and was killed) and its combined output.
    */
  final case class Child(exit: Option[Int], out: String) {
    def tail: String = out.takeRight(2000)
  }

  /** Run `cls` in a child JVM (2 GB heap) and wait up to `timeoutSec`. */
  def runMain(cls: String, timeoutSec: Long): Child = {
    val log = java.io.File.createTempFile(cls.split('.').last, ".log")
    val proc = fork(cls, Nil, Seq("-Xmx2g"), log)
    val finished = proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly().waitFor()
    Child(if (finished) Some(proc.exitValue()) else None,
      java.nio.file.Files.readString(log.toPath))
  }
}
