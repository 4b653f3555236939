package graft

import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.streaming.{DocStream, EventStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free `file:` file system against Hadoop's stock
  * LocalFileSystem/LocalFs: same modes, rename outcomes and link
  * status — and, through the shared test session, no `chmod`,
  * `readlink` or `ls` process for a sink or a stateful stream. */
class ForkFreeFsSpec extends AnyFunSuite {

  private val root = URI.create("file:///")

  /** (name, FileSystem, FileContext) for the stock and the fork-free
    * implementation, each built fresh (no JVM cache). */
  private def impls: Seq[(String, FileSystem, FileContext)] = {
    def fc(impl: String) = {
      val c = new Configuration()
      c.set("fs.AbstractFileSystem.file.impl", impl)
      FileContext.getFileContext(root, c)
    }
    def init(fs: FileSystem) = { fs.initialize(root, new Configuration()); fs }
    Seq(
      ("stock", init(new LocalFileSystem),
        fc("org.apache.hadoop.fs.local.LocalFs")),
      ("fork-free", init(new ForkFreeLocalFileSystem),
        fc(classOf[ForkFreeLocalFs].getName)))
  }

  /** Runs `scenario` once per implementation, each in a fresh dir, and
    * returns its results by implementation name. */
  private def perImpl[T](scenario: (FileSystem, FileContext, String) => T): Map[String, T] =
    impls.map { case (name, fs, fc) =>
      name -> scenario(fs, fc, Files.createTempDirectory(s"forkfree_$name").toString)
    }.toMap

  /** Every entry under `dir` with its mode, e.g. "a.crc" -> "rw-r--r--". */
  private def modes(dir: String): Map[String, String] = {
    val base = Paths.get(dir)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map(p =>
      base.relativize(p).toString -> PosixFilePermissions.toString(
        Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))).toMap
    finally walk.close()
  }

  private def perm(mode: Int) = new FsPermission(mode.toShort)

  test("modes after create and mkdirs match the stock file systems") {
    val got = perImpl { (fs, fc, d) =>
      fs.create(new Path(d, "a"), perm(Integer.parseInt("640", 8)), true,
        4096, 1.toShort, 1L << 20, null).close()
      fs.create(new Path(d, "b")).close()
      fs.mkdirs(new Path(d, "x/y"), perm(Integer.parseInt("750", 8)))
      fs.mkdirs(new Path(d, "z"))
      fc.create(new Path(d, "c"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm(Integer.parseInt("604", 8)))).close()
      fc.mkdir(new Path(d, "m/n"), perm(Integer.parseInt("711", 8)), true)
      modes(d)
    }
    assert(got("fork-free") == got("stock"))
    // the explicit modes really land (022 umask), .crc files included
    assert(got("stock")("a") == "rw-r-----", got("stock"))
    assert(got("stock")("x/y") == "rwxr-x---", got("stock"))
    assert(got("stock")("m/n") == "rwx--x--x", got("stock"))
    assert(got("stock").contains(".a.crc") && got("stock").contains(".c.crc"),
      got("stock"))
  }

  test("FileContext rename with and without OVERWRITE matches LocalFs") {
    val got = perImpl { (_, fc, d) =>
      def write(name: String, body: String): Unit = {
        val out = fc.create(new Path(d, name), EnumSet.of(CreateFlag.CREATE))
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      def outcome(f: => Unit): String = Try(f).fold(_.getClass.getName, _ => "ok")
      write("s", "one"); write("t", "two"); write("v", "three")
      val steps = Seq(
        outcome(fc.rename(new Path(d, "s"), new Path(d, "t"))),
        outcome(fc.rename(new Path(d, "s"), new Path(d, "t"),
          Options.Rename.OVERWRITE)),
        outcome(fc.rename(new Path(d, "v"), new Path(d, "u"))),
        outcome(fc.rename(new Path(d, "missing"), new Path(d, "w"))))
      val contents = modes(d).keys.toSeq.sorted.map(n => n -> (
        if (n.endsWith(".crc")) ""
        else new String(Files.readAllBytes(Paths.get(d, n)), "UTF-8")))
      (steps, contents)
    }
    assert(got("fork-free") == got("stock"))
    val (steps, contents) = got("stock")
    assert(steps.head == classOf[FileAlreadyExistsException].getName, steps)
    assert(steps(1) == "ok" && steps(2) == "ok", steps)
    assert(steps(3) == classOf[java.io.FileNotFoundException].getName, steps)
    assert(contents.toMap == Map("t" -> "one", ".t.crc" -> "", "u" -> "three",
      ".u.crc" -> ""), contents)
  }

  test("link status of a symlink, a dangling symlink and a missing path " +
    "matches the stock file systems") {
    val d = Files.createTempDirectory("forkfree_links")
    Files.write(d.resolve("f"), "data".getBytes("UTF-8"))
    Files.createSymbolicLink(d.resolve("l"), Paths.get("f"))
    Files.createSymbolicLink(d.resolve("dl"), Paths.get("gone"))
    def summary(st: => FileStatus): String = Try(st).fold(_.getClass.getName,
      s => Seq(s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        if (s.isSymlink) s.getSymlink.toString.replace(d.toString, "<d>") else "",
        s.getPath.toString.replace(d.toString, "<d>")).mkString(","))
    val paths = Seq("f", "l", "dl", "missing").flatMap { n =>
      val p = new Path(d.resolve(n).toString)
      Seq(p, p.makeQualified(root, new Path("/")))
    }
    val got = impls.map { case (name, fs, fc) =>
      name -> paths.flatMap(p => Seq(summary(fs.getFileLinkStatus(p)),
        summary(fc.getFileLinkStatus(p))))
    }.toMap
    assert(got("fork-free") == got("stock"))
    // the stock FileContext reports the dangling link as a link, and
    // both report a missing path as missing
    assert(got("stock").exists(_.contains("<d>/gone")), got("stock"))
    assert(got("stock").count(_ == classOf[java.io.FileNotFoundException].getName) >= 4,
      got("stock"))
  }

  test("two triggers each of batchedSink and nearDupVerdicts start no " +
    "chmod, readlink or ls process") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val local = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    assert(local.isInstanceOf[ForkFreeLocalFileSystem], local.getClass)
    def tmp(p: String) = Files.createTempDirectory(p).toString

    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val events = MemoryStream[String]
      val sink = EventStream.batchedSink(EventStream.route(
        EventStream.validate(EventStream.parse(events.toDF())), spark),
        tmp("forkfree_out"), tmp("forkfree_sink_ck"))
      try (1 to 2).foreach { i =>
        events.addData(s"""{"msg_type":4,"source":"mac:$i","dest":"event:click/$i",""" +
          s""""event_id":$i,"user_id":$i,"ts":"2024-01-01 00:00:0$i","value":1.0}""")
        sink.processAllAvailable()
      } finally sink.stop()

      val docs = MemoryStream[(Long, String)]
      val dedup = DocStream.nearDupVerdicts(docs.toDF().toDF("doc_id", "text"))
        .writeStream.format("noop")
        .option("checkpointLocation", tmp("forkfree_dedup_ck")).start()
      try (1 to 2).foreach { i =>
        docs.addData((i.toLong, "alpha beta gamma delta epsilon"), (10L + i, "short"))
        dedup.processAllAvailable()
      } finally dedup.stop()
    } finally rec.stop()

    val file = Files.createTempFile("forkfree", ".jfr")
    rec.dump(file)
    rec.close()
    val started = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).toSeq
    Files.delete(file)
    val forked = started.filter { c =>
      Set("chmod", "readlink", "ls")(Paths.get(c.trim.split("\\s+").head)
        .getFileName.toString)
    }
    assert(forked.isEmpty, s"${forked.size} process starts, e.g. ${forked.take(3)}")
  }
}
