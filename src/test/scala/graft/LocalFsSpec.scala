package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}

/** graft's `file:` filesystem (graft.sources.LocalFs) against Hadoop's:
  * the same modes, link statuses and `FileContext` trees on twin paths,
  * and no process started by the local writes a graft session makes.
  */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark._

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val hadoopRaw = initialized(new RawLocalFileSystem)
  private lazy val graftRaw = initialized(new GraftRawLocalFileSystem)

  /** The Hadoop conf a graft session derives from its `spark.hadoop.*`. */
  private def graftConf: Configuration = {
    val c = new Configuration()
    GraftSession.LocalFsConfs.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }

  /** Commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val jfr = Files.createTempFile("graft-localfs", ".jfr")
      try {
        rec.dump(jfr)
        RecordingFile.readAllEvents(jfr).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      } finally Files.delete(jfr)
    } finally rec.close()
  }

  test("setPermission sets the modes Hadoop's forked chmod sets, setgid dirs included") {
    val root = Files.createTempDirectory("graft-localfs-mode")
    val cases = for {
      to <- Seq("0755", "0644", "0700", "1777")
      isDir <- Seq(false, true)
      from <- if (isDir) Seq("0700", "2775", "6775") else Seq("0600", "6755")
      qualified <- Seq(false, true)
    } yield (to, isDir, from, qualified)
    cases.foreach { case c @ (to, isDir, from, qualified) =>
      val Seq(viaHadoop, viaGraft) = Seq(hadoopRaw, graftRaw).map { fs =>
        val p = root.resolve(s"${fs.getClass.getSimpleName}-$to-$isDir-$from-$qualified")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setAttribute(p, "unix:mode", oct(from))
        fs.setPermission(if (qualified) new Path(p.toUri) else new Path(p.toString),
          new FsPermission(oct(to).toShort))
        mode(p)
      }
      assert(viaGraft == viaHadoop, s"$c: graft ${viaGraft.toOctalString}, hadoop ${viaHadoop.toOctalString}")
    }
    // GNU chmod keeps a directory's setgid bit under a 4-digit mode
    val sgid = Files.createDirectory(root.resolve("sgid"))
    Files.setAttribute(sgid, "unix:mode", oct("2775"))
    graftRaw.setPermission(new Path(sgid.toString), new FsPermission(oct("0755").toShort))
    assert(mode(sgid) == oct("2755"))
    val missing = new Path(root.resolve("missing").toString)
    val perm = new FsPermission(oct("0644").toShort)
    intercept[java.io.IOException](hadoopRaw.setPermission(missing, perm))
    intercept[java.io.IOException](graftRaw.setPermission(missing, perm))
  }

  test("getFileLinkStatus equals Hadoop's for files, dirs, links and file: paths") {
    val root = Files.createTempDirectory("graft-localfs-link")
    val file = Files.writeString(root.resolve("f"), "abc")
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    val relative = Files.createSymbolicLink(root.resolve("rl"), Paths.get("f"))
    val dirLink = Files.createSymbolicLink(root.resolve("dl"), dir)
    val dangling = Files.createSymbolicLink(root.resolve("gone"), root.resolve("nothing"))
    def view(st: FileStatus) = (st.getPath, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null, st.getLen, st.getModificationTime,
      st.getPermission, st.getOwner, st.getGroup)
    val paths = Seq(file, dir, link, relative, dirLink, dangling).map(p => new Path(p.toString)) ++
      Seq(file, dir, link).map(p => new Path(p.toUri))
    paths.foreach { p =>
      assert(view(graftRaw.getFileLinkStatus(p)) == view(hadoopRaw.getFileLinkStatus(p)), s"$p")
    }
    assert(graftRaw.getFileLinkStatus(new Path(link.toString)).getSymlink ==
      new Path(file.toUri))
    // Hadoop reads no link behind a file:-qualified path; neither do we
    assert(!graftRaw.getFileLinkStatus(new Path(link.toUri)).isSymlink)
    val missing = new Path(root.resolve("missing").toString)
    intercept[FileNotFoundException](hadoopRaw.getFileLinkStatus(missing))
    intercept[FileNotFoundException](graftRaw.getFileLinkStatus(missing))
  }

  test("FileContext mkdir, create and rename leave the tree Hadoop's LocalFs leaves") {
    def tree(conf: Configuration): Seq[(String, Int, String)] = {
      val root = Files.createTempDirectory("graft-localfs-fc")
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val base = new Path(root.toString)
      def put(rel: String, text: String): Unit = {
        val out = fc.create(new Path(base, rel), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(text.getBytes("UTF-8")) finally out.close()
      }
      fc.mkdir(new Path(base, "a/b"), FsPermission.getDirDefault, true)
      fc.mkdir(new Path(base, "c"), new FsPermission(oct("0700").toShort), false)
      put("a/b/x", "hello")
      put("a/y", "old")
      put("c/d/z", "deep")
      fc.rename(new Path(base, "a/b/x"), new Path(base, "a/y"), Options.Rename.OVERWRITE)
      fc.rename(new Path(base, "c/d"), new Path(base, "e"))
      val walk = Files.walk(root)
      try walk.iterator.asScala.toSeq.map { p =>
        (root.relativize(p).toString, mode(p),
          if (Files.isRegularFile(p)) java.util.Base64.getEncoder.encodeToString(Files.readAllBytes(p))
          else "")
      }.sorted
      finally walk.close()
    }
    assert(FileContext.getFileContext(URI.create("file:///"), graftConf).getDefaultFileSystem
      .isInstanceOf[GraftLocalFs])
    val viaGraft = tree(graftConf)
    assert(viaGraft.map(_._1).contains("a/.y.crc"))
    assert(viaGraft == tree(new Configuration()))
  }

  test("a graft session's local writes, checkpoints and stream batches start no process") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-localfs-jfr")
    val write = processStarts(spark.range(0, 1, 1, 1).toDF().write.parquet(s"$root/one"))
    assert(write.size == 0, s"processes on a one-file parquet write: ${write.mkString("; ")}")
    assert(root.resolve("one").toFile.list.count(_.endsWith(".parquet")) == 1)

    spark.conf.set(Materialize.ReliableDirKey, s"$root/checkpoints")
    val checkpoint =
      try processStarts(assert(Materialize.eagerNoStats(spark.range(0, 100, 1, 2).toDF()).count() == 100))
      finally spark.conf.unset(Materialize.ReliableDirKey)
    assert(checkpoint.size == 0, s"processes on a reliable checkpoint: ${checkpoint.mkString("; ")}")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val stream = processStarts {
      val q = ms.toDF().groupBy($"value" % 3).count()
        .writeStream.format("memory").queryName("graft_localfs_counts").outputMode("complete")
        .option("checkpointLocation", s"$root/stream").start()
      try (0 until 3).foreach { b =>
        ms.addData((b * 10L) until (b * 10L + 10): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(spark.table("graft_localfs_counts").as[(Long, Long)].collect().map(_._2).sum == 30)
    assert(stream.size == 0, s"processes over 3 stateful micro-batches: ${stream.take(5).mkString("; ")}")

    assert(FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[GraftLocalFileSystem])
  }
}
