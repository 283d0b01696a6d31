package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{ChangeEventRow, FileTopicSink, Ns, Pipeline, ResumeToken, Settings}
import graft.sources.ChangeEventReplaySource

/** The fork-free `file:` binding: the pipeline's write path starts no
  * Hadoop shell process, and what lands on disk (modes, `.crc` files,
  * link status) is what stock Hadoop writes.
  */
class LocalFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private val root = URI.create("file:///")

  private def shellStarts(jfr: JPath): Int =
    RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .count(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))

  /** Runs `body` inside a JFR recording of process starts (with
    * stacks) and returns how many came from Hadoop's `Shell`.
    */
  private def shellStartsDuring(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val jfr = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(jfr)
      shellStarts(jfr)
    } finally {
      rec.close()
      Files.deleteIfExists(jfr)
    }
  }

  test("Spark's Hadoop conf binds file: to the fork-free classes for both APIs") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }

  test("read -> transform -> file sink over 3+ batches starts no Hadoop shell process") {
    // 6 documents × 20 updates over 3 collections, 40 rows a batch
    val events = (0 until 120).map { i =>
      val k = i % 6
      ChangeEventRow(ResumeToken(f"$i%08x"), "update",
        new java.sql.Timestamp(1720890531000L + i),
        new java.sql.Timestamp(1720890531000L + i), Ns("db", s"c${k % 3}"),
        Some(s"""{"_id": $k}"""), Some(s"""{"_id": $k, "n": $i}"""),
        None, None)
    }
    val fixture = "localfs-pipeline"
    val opts = ChangeEventReplaySource.register(fixture, events) ++
      Map("partitions" -> "2", "maxRowsPerBatch" -> "40")
    val out = Files.createTempDirectory("graft-localfs-out").resolve("sink")
    val s = Settings(
      sourceFormat = "graft-replay",
      sourceOptions = opts,
      checkpointLocation =
        Files.createTempDirectory("graft-localfs-cp").toString,
      triggerInterval = "0 seconds",
      sinkPartitions = Some(2),
      streamReaderName = "localfs_pipeline")
    val batches = new java.util.concurrent.atomic.AtomicInteger()
    // start the session before recording: loading Hadoop's Shell class
    // probes for `setsid` once per JVM
    spark.sessionState.newHadoopConf()
    val starts =
      try shellStartsDuring {
        val q = Pipeline.writeForeach(
            Pipeline.transform(Pipeline.read(spark, s), s), s) { (b, _) =>
          FileTopicSink.append(b, out.toString)
          batches.incrementAndGet()
        }
        try q.processAllAvailable() finally q.stop()
      } finally ChangeEventReplaySource.unregister(fixture)

    assert(batches.get >= 3, "expected at least 3 batches")
    val written = Files.walk(out).iterator.asScala
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .map(p => Files.readAllLines(p).size).sum
    assert(written === events.length)
    // stock Hadoop without libhadoop starts 130 here: a chmod per part
    // file, .crc and topic dir, a chmod and a readlink per log entry
    assert(starts === 0, "Hadoop Shell process starts on the pipeline path")
  }

  test("the recording sees a stock setPermission's chmod (control)") {
    assume(!NativeCodeLoader.isNativeCodeLoaded,
      "libhadoop is loaded: stock Hadoop forks nothing to compare against")
    val f = Files.createTempFile("graft-localfs-chmod", ".txt")
    val stock = new RawLocalFileSystem()
    stock.initialize(root, new Configuration())
    val starts = shellStartsDuring(
      stock.setPermission(new Path(f.toString), new FsPermission("640")))
    Files.delete(f)
    assert(starts >= 1)
  }

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def fs(local: LocalFileSystem, c: Configuration): LocalFileSystem = {
    local.initialize(root, c)
    local
  }

  private def modes(dir: JPath): Map[String, String] =
    Files.walk(dir).iterator.asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  /** The checkpoint manager's write: create a temp file through
    * FileContext, then rename it over the final name.
    */
  private def fileContextWrite(fc: FileContext, dir: JPath): Unit = {
    val tmp = new Path(dir.resolve("offsets/.0.tmp").toString)
    val dst = new Path(dir.resolve("offsets/0").toString)
    val o = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    o.write("v1\n{}\n".getBytes("UTF-8"))
    o.close()
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  for (umask <- Seq("022", "077"))
    test(s"files, .crc files and dirs get stock Hadoop's modes under umask $umask") {
      val c = conf(umask)
      val base = Files.createTempDirectory("graft-localfs-modes")
      val (stockDir, oursDir) = (base.resolve("stock"), base.resolve("ours"))
      // a plain conf's FileContext FS is stock `LocalFs`
      val stockFc = AbstractFileSystem.get(root, c)
      assert(stockFc.getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
      for ((dir, fsys, afs) <- Seq[(JPath, LocalFileSystem, AbstractFileSystem)](
          (stockDir, fs(new LocalFileSystem(), c), stockFc),
          (oursDir, fs(new ForkFreeLocalFileSystem(), c),
            new ForkFreeLocalFs(root, c)))) {
        def p(rel: String) = new Path(dir.resolve(rel).toString)
        val o = fsys.create(p("topic=a/part-0.json"))
        o.write("{}\n".getBytes("UTF-8"))
        o.close()
        assert(fsys.mkdirs(p("plain/nested/dirs")))
        assert(fsys.mkdirs(p("moded/nested/dirs"),
          FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(c))))
        fileContextWrite(FileContext.getFileContext(afs, c), dir)
      }
      val expected = modes(stockDir)
      assert(expected.contains("topic=a/.part-0.json.crc"))
      assert(expected.contains("offsets/.0.crc"))
      assert(modes(oursDir) === expected)
      // the file mode follows the umask, as stock sets it
      assert(expected("topic=a/part-0.json") ===
        (if (umask == "022") "rw-r--r--" else "rw-------"))
    }

  test("setPermission sets rwx bits as chmod does; a sticky bit falls back") {
    val c = conf("022")
    val base = Files.createTempDirectory("graft-localfs-chmod")
    val ours = fs(new ForkFreeLocalFileSystem(), c)
    val stock = fs(new LocalFileSystem(), c)
    for ((mode, expected) <- Seq("600" -> "rw-------", "640" -> "rw-r-----",
        "755" -> "rwxr-xr-x")) {
      for ((name, fsys) <- Seq("ours" -> ours, "stock" -> stock)) {
        val f = base.resolve(s"$name-$mode")
        Files.write(f, Array[Byte](1))
        fsys.setPermission(new Path(f.toString), new FsPermission(mode))
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
          === expected, s"$name $mode")
      }
    }
    for ((name, fsys) <- Seq("ours" -> ours, "stock" -> stock)) {
      val d = Files.createDirectory(base.resolve(s"$name-sticky"))
      fsys.setPermission(new Path(d.toString), new FsPermission("1755"))
      val unixMode = Files.getAttribute(d, "unix:mode").asInstanceOf[Int]
      assert((unixMode & 0x0fff) === Integer.parseInt("1755", 8), name)
    }
  }

  private def fields(st: FileStatus) =
    (st.getPath, st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) Some(st.getSymlink) else None,
      st.getPermission, st.getOwner, st.getGroup, st.getModificationTime)

  test("getFileLinkStatus matches stock for a file, a dir and a symlink") {
    val c = conf("022")
    val ours = fs(new ForkFreeLocalFileSystem(), c)
    val stock = fs(new LocalFileSystem(), c)
    val base = Files.createTempDirectory("graft-localfs-link")
    val file = Files.write(base.resolve("f.txt"), "x".getBytes("UTF-8"))
    val dir = Files.createDirectory(base.resolve("d"))
    val link = Files.createSymbolicLink(base.resolve("l"), file)
    for (p <- Seq(file, dir).map(x => new Path(x.toString))) {
      assert(fields(ours.getFileLinkStatus(p)) === fields(ours.getFileStatus(p)))
      assert(fields(ours.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)))
    }
    val lp = new Path(link.toString)
    val st = ours.getFileLinkStatus(lp)
    assert(st.isSymlink)
    assert(st.getSymlink === new Path("file:" + file))
    assert(fields(st) === fields(stock.getFileLinkStatus(lp)))
    intercept[java.io.FileNotFoundException] {
      ours.getFileLinkStatus(new Path(base.resolve("missing").toString))
    }
  }

  test("getFileLinkStatus reports a symlink given as a qualified file: path") {
    val ours = fs(new ForkFreeLocalFileSystem(), conf("022"))
    val base = Files.createTempDirectory("graft-localfs-qlink")
    val file = Files.write(base.resolve("f.txt"), "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(base.resolve("l"), file)
    val plain = ours.getFileLinkStatus(new Path(link.toString))
    val qp = new Path("file:" + link)
    val st = ours.getFileLinkStatus(qp)
    assert(st.isSymlink)
    assert(st.getSymlink === new Path("file:" + file))
    assert(st.getPath === qp)
    assert(fields(st).copy(_1 = plain.getPath) === fields(plain))
  }
}
