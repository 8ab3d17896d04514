package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.MergeTable
import graft.streaming.Pipelines

/** `LocalFiles`: the local file system `Engine.configure` installs
  * answers as Hadoop's stock one does, without starting a process. */
class LocalFilesSpec extends AnyFunSuite {
  import SparkTest._

  private def fresh(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("a configured session's file: FileSystem and FileContext are the fork-free ones") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[ForklessLocalFileSystem], fs.getClass)
    val afs = AbstractFileSystem.get(URI.create("file:///"), conf)
    assert(afs.isInstanceOf[ForklessLocalFs], afs.getClass)
  }

  test("MergeTable create, applyBatch and an MV-sink trigger start no file-system process") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("forkless").toString
    val path = s"$root/table"; val mvDir = s"$root/mv"
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      MergeTable.create((0L until 40L).map(k => (k, 1L, s"g${k % 3}", k * 0.5))
        .toDF("id", "ts", "grp", "amt").repartitionByRange(2, col("id")),
        path, statsCol = Some("id"))
      MergeTable.applyBatch(spark, path,
        Seq((3L, 2L, "g9", 9.0), (50L, 2L, "g1", 1.0)).toDF("id", "ts", "grp", "amt"),
        Seq(7L).toDF("id"), "id")
      val in = MemoryStream[(Long, Long, String, String, Double)]
      val q = in.toDF().toDF("id", "ts", "op", "grp", "amt").writeStream
        .foreachBatch(Pipelines.mergeApplyWithMvSink(path, mvDir, "id", "ts", "grp", "amt"))
        .option("checkpointLocation", s"$root/ckpt").start()
      try {
        in.addData((4L, 3L, "U", "g2", 4.5), (5L, 3L, "D", "g2", 0.0))
        q.processAllAvailable()
      } finally q.stop()
    } finally rec.stop()
    val dump = Files.createTempFile("forkless", ".jfr")
    rec.dump(dump)
    rec.close()
    // only Hadoop's file system code counts: the suite's JVM is shared,
    // and Spark deletes an earlier session's artifact directory with an
    // `rm -rf` process whenever that session is cleaned up
    val starts = RecordingFile.readAllEvents(dump).asScala
      .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop."))))
      .map(_.getString("command"))
    Files.delete(dump)
    assert(starts.isEmpty, s"${starts.size} process starts: ${starts.take(5)}")
    assert(MergeTable.read(spark, path).count() == 39)
  }

  test("create and mkdirs set the same permission bits as the stock file system") {
    val dir = Files.createTempDirectory("forkless_perm")
    val stock = fresh(new RawLocalFileSystem)
    val ours = fresh(new ForklessRawLocalFileSystem)
    def bits(p: JPath) = Files.getPosixFilePermissions(p)
    for (perm <- Seq("644", "600", "755", "700", "777", "400")) {
      val fp = new FsPermission(Integer.parseInt(perm, 8).toShort)
      val made = Seq(stock -> "stock", ours -> "ours").map { case (fs, tag) =>
        val f = dir.resolve(s"$tag-$perm.bin")
        fs.create(new Path(f.toString), fp, true, 4096, 1.toShort, 1L << 20, null).close()
        val d = dir.resolve(s"$tag-$perm.d")
        assert(fs.mkdirs(new Path(d.toString), fp))
        (bits(f), bits(d))
      }
      assert(made(0) == made(1), s"permission $perm")
    }
    // the default permission, masked by the configuration's umask
    val made = Seq(stock -> "stock", ours -> "ours").map { case (fs, tag) =>
      val f = dir.resolve(s"$tag-default.bin")
      fs.create(new Path(f.toString)).close()
      val d = dir.resolve(s"$tag-default.d/sub")
      assert(fs.mkdirs(new Path(d.toString)))
      (bits(f), bits(d), bits(d.getParent))
    }
    assert(made(0) == made(1))
  }

  test("getFileLinkStatus equals the stock answer for a file, a directory, a missing path and a symlink") {
    val dir = Files.createTempDirectory("forkless_link")
    val file = Files.writeString(dir.resolve("f.txt"), "abc")
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val stock = fresh(new RawLocalFileSystem)
    val ours = fresh(new ForklessRawLocalFileSystem)
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
      s.getPermission)
    for (p <- Seq(file, sub, link); q <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(view(ours.getFileLinkStatus(q)) == view(stock.getFileLinkStatus(q)), q)
    }
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("a FileContext rename onto an existing file without OVERWRITE still fails") {
    val dir = Files.createTempDirectory("forkless_rename")
    val conf = new Configuration()
    LocalFiles.install(conf)
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    val a = new Path(Files.writeString(dir.resolve("a"), "a").toUri)
    val b = new Path(Files.writeString(dir.resolve("b"), "b").toUri)
    intercept[FileAlreadyExistsException](fc.rename(a, b, Options.Rename.NONE))
    fc.rename(a, b, Options.Rename.OVERWRITE)
    assert(Files.readString(dir.resolve("b")) == "a" && !Files.exists(dir.resolve("a")))
  }
}
