package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem,
  FsConstants, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalFs
import graft.streaming.{ChangelogStream, UpsertSink}
import graft.streaming.ChangelogStream.{Change, TxEvent}

/** [[LocalFs]] against Hadoop's stock local file system: the same modes
  * on disk and the same link statuses, with no child process on the
  * write paths of a live micro-batch or a parquet write. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val root = URI.create("file:///")
  private def tmp(name: String): JPath = Files.createTempDirectory(s"localfs_$name")
  private def mode(octal: String): Int = Integer.parseInt(octal, 8)
  private def perm(octal: String): FsPermission = new FsPermission(mode(octal).toShort)

  private def fileSystem(fs: FileSystem): FileSystem = { fs.initialize(root, new Configuration()); fs }
  private def context(afs: AbstractFileSystem): FileContext =
    FileContext.getFileContext(afs, new Configuration())
  private def stockContext: FileContext =
    context(AbstractFileSystem.get(root, new Configuration()))
  private def graftContext: FileContext =
    context(new LocalFs.Context(FsConstants.LOCAL_FS_URI, new Configuration()))

  /** Every entry under `dir` (the `.crc` files too) with its full mode,
    * sticky bit included. */
  private def modes(dir: JPath): Map[String, Int] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap

  /** The same creates, renames and permission sets through one
    * `FileSystem` and one `FileContext`, under `dir`. */
  private def populate(fs: FileSystem, fc: FileContext, dir: JPath): Unit = {
    def at(s: String) = new Path(dir.resolve(s).toString)
    fs.mkdirs(at("fs/a/b"))
    val out = fs.create(at("fs/a/b/f")); out.write(1); out.close()
    fs.create(at("fs/g")).close()
    fs.setPermission(at("fs/g"), perm("600"))
    fs.mkdirs(at("fs/h"))
    fs.setPermission(at("fs/h"), perm("700"))
    fs.mkdirs(at("fs/sticky"))
    fs.setPermission(at("fs/sticky"), perm("1777"))
    fc.mkdir(at("fc/a/b"), FsPermission.getDirDefault, true)
    val o2 = fc.create(at("fc/a/b/f.tmp"), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    o2.write(2); o2.close()
    fc.rename(at("fc/a/b/f.tmp"), at("fc/a/b/f"), Options.Rename.OVERWRITE)
    fc.create(at("fc/g"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.setPermission(at("fc/g"), perm("600"))
    fc.mkdir(at("fc/h"), FsPermission.getDirDefault, false)
    fc.setPermission(at("fc/h"), perm("700"))
  }

  test("files and dirs get the stock modes through FileSystem and FileContext, sticky bit too") {
    val (stock, graft) = (tmp("stock"), tmp("graft"))
    populate(fileSystem(new LocalFileSystem()), stockContext, stock)
    populate(fileSystem(new LocalFs.Checksummed), graftContext, graft)
    val want = modes(stock)
    assert(want.keys.exists(_.endsWith(".crc")), s"stock tree: $want")
    assert(modes(graft) == want)
    assert(want("fs/g") == mode("600") && want("fc/h") == mode("700"))
    assert(want("fs/sticky") == mode("1777"), "the sticky bit is set through chmod")
    // as created, under Hadoop's default umask (`fs.permissions.umask-mode` 022)
    for (side <- Seq("fs", "fc"))
      assert(want(s"$side/a/b/f") == mode("644") && want(s"$side/a/b") == mode("755"))
  }

  test("getFileLinkStatus matches the stock file system on files, dirs, symlinks and missing paths") {
    val dir = tmp("links")
    val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    def status(get: Path => FileStatus, p: Path): Either[Class[_], (Boolean, Boolean, Boolean, Long, Path, Option[Path])] =
      Try(get(p)).toEither.left.map(_.getClass).map { s =>
        (s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPath, if (s.isSymlink) Some(s.getSymlink) else None)
      }
    val stockRaw = fileSystem(new RawLocalFileSystem())
    val graftRaw = fileSystem(new LocalFs.Raw)
    val (stockFc, graftFc) = (stockContext, graftContext)
    for (p <- Seq(file, sub, link, dangling, missing); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(status(graftRaw.getFileLinkStatus, path) == status(stockRaw.getFileLinkStatus, path), s"FileSystem $path")
      assert(status(graftFc.getFileLinkStatus, path) == status(stockFc.getFileLinkStatus, path), s"FileContext $path")
    }
    val plain = (p: JPath) => status(graftRaw.getFileLinkStatus, new Path(p.toString))
    assert(plain(file).exists(s => s._1 && !s._3) && plain(sub).exists(_._2))
    assert(plain(link).exists(_._3), "a symlink is reported as one")
    assert(plain(missing) == Left(classOf[FileNotFoundException]))
    assert(Try(graftFc.getFileLinkStatus(new Path(missing.toString))).failed.get.isInstanceOf[FileNotFoundException])
  }

  test("the test session resolves file: to LocalFs for FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, conf).getClass == classOf[LocalFs.Checksummed])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass == classOf[LocalFs.Context])
  }

  /** The commands of the processes the JVM starts while `body` runs. */
  private def processStarts[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val f = Files.createTempFile("process_starts", ".jfr")
    try {
      rec.dump(f)
      (out, RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")))
    } finally { rec.close(); Files.delete(f) }
  }

  test("a live micro-batch and a parquet write start no process; a restarted view equals the fold") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (dir, ckpt) = (tmp("view").toString, tmp("ckpt").toString)
    val in = MemoryStream[TxEvent]
    def start() = UpsertSink.materialize(ChangelogStream.filterCommitted(in.toDS(), txTimeoutMs = 0),
      dir, ckpt, numBuckets = 8)
    val none = Change(0L, "none", "", 0L, 0.0)
    var log = Vector.empty[Change]
    def commit(tx: Long, cs: Seq[Change]): Unit = {
      log ++= cs
      in.addData((TxEvent(tx, 0L, "begin", none) +:
        cs.zipWithIndex.map { case (c, i) => TxEvent(tx, i + 1L, "data", c) }) :+
        TxEvent(tx, cs.size + 1L, "commit", none))
    }
    val q1 = start()
    try {
      commit(0L, (1L to 40L).map(i => Change(i, "upsert", "t", i, 1.0)))
      q1.processAllAvailable()
      // the batch after the first: its state store, offset and commit
      // logs and view version all follow files that already exist
      val (_, live) = processStarts {
        commit(1L, (1L to 10L).map(i => Change(100L + i, "upsert", "t", i, 2.0)))
        q1.processAllAvailable()
      }
      assert(live.isEmpty, s"a live micro-batch started ${live.size} processes: ${live.distinct.take(5)}")
    } finally q1.stop()
    val (_, written) = processStarts {
      (1 to 100).toDF("i").repartition(4).write.parquet(tmp("parquet").resolve("out").toString)
    }
    assert(written.isEmpty, s"a parquet write started ${written.size} processes: ${written.distinct.take(5)}")
    val q2 = start()
    try {
      commit(2L, Seq(Change(200L, "delete", "t", 3L, 0.0), Change(201L, "upsert", "t", 50L, 5.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    val fold = log.groupBy(c => (c.tbl, c.id)).values.map(_.maxBy(_.pos))
      .collect { case c if c.op != "delete" => (c.tbl, c.id, c.value, c.pos) }.toSet
    val view = UpsertSink.readCurrent(spark, dir).select("tbl", "id", "value", "lastPos")
      .as[(String, Long, Double, Long)].collect().toSet
    assert(fold.size == 40 && view == fold)
  }
}
