package graft

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.model.{Cell, Mutation}
import graft.operators.Stage
import graft.streaming.{ExactlyOnce, RowMaterializer}
import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => NioPath}
import java.util.EnumSet
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._

/** `file:` paths bind to graft's nio local file system: it creates,
  * chmods and renames without starting a process, and otherwise
  * behaves as Hadoop's stock local file system. */
class LocalFsSpec extends SparkSpec {

  private val Local = URI.create("file:///")

  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  test("file: binds to the nio local file system for FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(Local, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(new Configuration()).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val ckpt = scratchDir("graft_fs_ckpt").toUri
    assert(FileContext.getFileContext(ckpt, conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a checkpointed dedupe + materialize drain and a parquet write start no Hadoop shell command") {
    import spark.implicits._
    val dir = scratchDir("graft_fs_jfr")
    // Hadoop's Shell starts a process when its class loads
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val t0 = 3600L * 1000000L
    val muts = (1 to 40).map { i =>
      val ts = t0 + i * 60L * 1000000L
      Mutation(i.toLong, ts, "t", s"r${i % 7}", Seq(Cell("f", "a", s"v$i", ts, "put")))
    }
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val batches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val written =
      try {
        val st = Stage("spec_localfs", dir.toString)
        val wal = st.walStream(muts.toDS().toDF(), batches = 2, maxFilesPerTrigger = 1).open(spark)
        st.run(RowMaterializer.materialize(spark, ExactlyOnce.dedupe(wal).as[Mutation]),
          OutputMode.Update()) { (d, id) => d.count(); batches.add(id); () }
        val n = st.parquet("pq", spark.range(100).toDF("id")).count()
        // the recording sees a process this test starts itself
        new ProcessBuilder("true").start().waitFor()
        n
      } finally rec.stop()
    val file = dir.resolve("starts.jfr")
    rec.dump(file)
    rec.close()
    assert(batches.size >= 2 && written == 100L)

    def frames(e: RecordedEvent): Seq[String] =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).map(_.getMethod.getType.getName)
    val starts = RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    assert(starts.exists(e => frames(e).contains(classOf[LocalFsSpec].getName)),
      "the recording saw no process start")
    val forked = starts.filter(e => frames(e).contains("org.apache.hadoop.util.Shell"))
      .map(_.getString("command"))
    assert(forked.size == 0, forked.take(5).mkString("; "))
  }

  test("created files and directories get stock Hadoop's mode bits and checksums") {
    val root = scratchDir("graft_fs_mode")
    val Perm640 = new FsPermission(Integer.parseInt("640", 8).toShort)
    val Perm1777 = new FsPermission(Integer.parseInt("1777", 8).toShort)
    for (umask <- Seq("022", "077", "002")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def make(fs: FileSystem, side: String): Seq[Int] = {
        fs.initialize(Local, conf)
        val d = root.resolve(s"$umask-$side")
        val base = new Path(d.toUri)
        val out = fs.create(new Path(base, "a/b/file"))
        out.write("graft".getBytes(UTF_8))
        out.close()
        fs.create(new Path(base, "narrow"), Perm640, true, 4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(base, "dir/sub"))
        fs.mkdirs(new Path(base, "sticky"), Perm1777)
        Seq("a", "a/b", "a/b/file", "a/b/.file.crc", "narrow", "dir", "dir/sub", "sticky")
          .map(p => mode(d.resolve(p)))
      }
      assert(make(new NioLocalFileSystem, "nio") == make(new LocalFileSystem, "stock"),
        s"umask $umask")
      assert(Files.readAllBytes(root.resolve(s"$umask-nio/a/b/.file.crc")).toSeq ==
        Files.readAllBytes(root.resolve(s"$umask-stock/a/b/.file.crc")).toSeq)
    }
    // under a setgid parent, a new directory keeps the bit it inherits
    val sgid = Files.createDirectories(root.resolve("sgid"))
    assert(new ProcessBuilder("chmod", "g+s", sgid.toString).start().waitFor() == 0)
    val conf = new Configuration()
    for ((fs, side) <- Seq(new NioLocalFileSystem -> "nio", new LocalFileSystem -> "stock")) {
      fs.initialize(Local, conf)
      fs.mkdirs(new Path(sgid.resolve(side).toUri))
    }
    assert((mode(sgid.resolve("stock")) & Integer.parseInt("2000", 8)) != 0)
    assert(mode(sgid.resolve("nio")) == mode(sgid.resolve("stock")))
  }

  test("a FileContext rename with OVERWRITE replaces the target and its checksum as stock Hadoop's") {
    val root = scratchDir("graft_fs_rename")
    def run(impl: String, side: String): (Set[String], String, Seq[Byte]) = {
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", impl)
      val fc = FileContext.getFileContext(conf)
      assert(fc.getDefaultFileSystem.getClass.getName == impl)
      val d = root.resolve(side)
      def path(name: String) = new Path(d.resolve(name).toUri)
      def write(name: String, text: String): Unit = {
        val out = fc.create(path(name), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(text.getBytes(UTF_8))
        out.close()
      }
      write("src", "new")
      write("dst", "old")
      write("other", "x")
      fc.rename(path("src"), path("dst"), Options.Rename.OVERWRITE)
      intercept[FileAlreadyExistsException](fc.rename(path("dst"), path("other")))
      val in = fc.open(path("dst")) // verified against .dst.crc
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val listed = Files.list(d)
      val names = try listed.iterator().asScala.map(_.getFileName.toString).toSet
      finally listed.close()
      (names, text, Files.readAllBytes(d.resolve(".dst.crc")).toSeq)
    }
    val nio = run(classOf[NioLocalFs].getName, "nio")
    assert(nio == run("org.apache.hadoop.fs.local.LocalFs", "stock"))
    assert(nio._1 == Set("dst", ".dst.crc", "other", ".other.crc") && nio._2 == "new")
  }

  test("link statuses and missing paths read as in stock Hadoop") {
    val root = scratchDir("graft_fs_link")
    val conf = new Configuration()
    val stock = new RawLocalFileSystem()
    val nio = new NioRawLocalFileSystem()
    Seq(stock, nio).foreach(_.initialize(Local, conf))
    val file = Files.writeString(root.resolve("file"), "graft")
    val link = Files.createSymbolicLink(root.resolve("link"), Paths.get("file"))
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), Paths.get("gone"))
    val missing = root.resolve("missing")
    def status(fs: FileSystem, p: Path): Either[Class[_], Any] =
      try {
        val st = fs.getFileLinkStatus(p)
        Right((st.getPath, st.isSymlink, if (st.isSymlink) st.getSymlink else null,
          st.getLen, st.isDirectory, st.getPermission, st.getOwner, st.getGroup))
      } catch { case e: IOException => Left(e.getClass) }
    // plain paths, and scheme-qualified ones (which Hadoop never reads as links)
    for (p <- Seq(file, link, dangling, missing, root);
         path <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(status(nio, path) == status(stock, path), path)
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(status(nio, new Path(missing.toString)) == Left(classOf[FileNotFoundException]))

    val fc = FileContext.getFileContext(conf)
    intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(missing.toUri)))
    intercept[FileNotFoundException](fc.open(new Path(missing.toUri)))
    for (fs <- Seq(stock, nio))
      intercept[IOException](fs.setPermission(new Path(missing.toUri), FsPermission.getFileDefault))
  }
}
