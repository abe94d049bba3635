package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumFs, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, NioRawLocalFs, Sources}

/** The `file:` file system graft sessions install: wired on both Hadoop
  * APIs, equal to stock Hadoop on the operations it reimplements, and
  * starting no `chmod` or `readlink` process. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val local = URI.create("file:///")

  private def sessionConf: Configuration = spark.sparkContext.hadoopConfiguration

  /** The session's conf with stock Hadoop for `file:`. */
  private def stockConf: Configuration = {
    val c = new Configuration(sessionConf)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    c
  }

  /** Run `body` once per side on sibling fresh directories: stock first. */
  private def bothSides[T](name: String)(body: (Configuration, File) => T): (T, T) = {
    val root = new File(s"target/tmp/localfs/${name}_${System.nanoTime()}").getAbsoluteFile
    def side(conf: Configuration, tag: String): T = {
      val dir = new File(root, tag)
      assert(dir.mkdirs())
      body(conf, dir)
    }
    (side(stockConf, "stock"), side(sessionConf, "nio"))
  }

  private def withFs[T](conf: Configuration)(body: FileSystem => T): T = {
    // newInstance, not get: FileSystem.get caches one instance per scheme
    // for the whole JVM, whichever conf created it first
    val fs = FileSystem.newInstance(local, conf)
    try body(fs) finally fs.close()
  }

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def hpath(f: File): Path = new Path(f.toURI)

  test("a graft session resolves file: to the fork-free classes on both Hadoop APIs") {
    withFs(sessionConf) { fs =>
      assert(fs.getClass === classOf[NioLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[NioRawLocalFileSystem])
    }
    val afs = AbstractFileSystem.get(local, sessionConf)
    assert(afs.getClass === classOf[NioLocalFs])
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.getClass === classOf[NioRawLocalFs])
  }

  test("create and mkdirs leave stock Hadoop's mode bits under the session umask; " +
      "setPermission(01777) sets the sticky bit") {
    val (stock, nio) = bothSides("modes") { (conf, dir) =>
      val modes = withFs(conf) { fs =>
        fs.create(hpath(new File(dir, "f"))).close()
        assert(fs.mkdirs(hpath(new File(dir, "d/e"))))
        val sticky = hpath(new File(dir, "s"))
        assert(fs.mkdirs(sticky))
        fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
        Seq("f", ".f.crc", "d", "d/e", "s").map(n => n -> mode(new File(dir, n)))
      }
      val fc = FileContext.getFileContext(local, conf)
      fc.create(hpath(new File(dir, "g")),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
      fc.mkdir(hpath(new File(dir, "h/i")), FsPermission.getDirDefault, true)
      modes ++ Seq("g", ".g.crc", "h", "h/i").map(n => n -> mode(new File(dir, n)))
    }
    assert(nio === stock)
    // Hadoop's default umask is 022
    assert(nio.toMap.view.mapValues(Integer.toOctalString).toMap === Map(
      "f" -> "644", ".f.crc" -> "644", "d" -> "755", "d/e" -> "755", "s" -> "1777",
      "g" -> "644", ".g.crc" -> "644", "h" -> "755", "h/i" -> "755"))
  }

  test("FileContext rename agrees with stock Hadoop under NONE and OVERWRITE") {
    val (stock, nio) = bothSides("rename") { (conf, dir) =>
      val fc = FileContext.getFileContext(local, conf)
      def write(n: String, text: String): Path = {
        val p = hpath(new File(dir, n))
        val out = fc.create(p, java.util.EnumSet.of(
          org.apache.hadoop.fs.CreateFlag.CREATE, org.apache.hadoop.fs.CreateFlag.OVERWRITE))
        try out.write(text.getBytes("UTF-8")) finally out.close()
        p
      }
      val (src, dst) = (write("src", "new"), write("dst", "old"))
      val refused = intercept[FileAlreadyExistsException] {
        fc.rename(src, dst, Options.Rename.NONE)
      }
      assert(refused.getMessage.contains("dst"))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (text, dir.list().toSeq.sorted)
    }
    assert(nio === stock)
    assert(nio === (("new", Seq(".dst.crc", "dst"))))
  }

  test("getFileLinkStatus agrees with stock Hadoop for a file, a directory, " +
      "a missing path, a symlink and a dangling symlink") {
    def status(s: FileStatus): Seq[Any] =
      Seq(s.getPath.getName, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        if (s.isSymlink) s.getSymlink.getName else "")
    def outcome(get: => FileStatus): Either[String, Seq[Any]] =
      try Right(status(get)) catch { case e: IOException => Left(e.getClass.getName) }
    val names = Seq("file", "dir", "missing", "link", "dangling")
    val (stock, nio) = bothSides("links") { (conf, dir) =>
      Files.write(new File(dir, "file").toPath, "x".getBytes("UTF-8"))
      assert(new File(dir, "dir").mkdir())
      Files.createSymbolicLink(new File(dir, "link").toPath, Paths.get("file"))
      Files.createSymbolicLink(new File(dir, "dangling").toPath, Paths.get("nowhere"))
      val fc = FileContext.getFileContext(local, conf)
      withFs(conf) { fs =>
        for {
          n <- names
          p <- Seq(hpath(new File(dir, n)), new Path(new File(dir, n).getPath))
        } yield (n, p.toUri.getScheme, outcome(fs.getFileLinkStatus(p)),
          outcome(fc.getFileLinkStatus(p)))
      }
    }
    assert(nio === stock)
    val byName = nio.groupBy(_._1)
    assert(byName("missing").forall(r =>
      r._3 == Left(classOf[FileNotFoundException].getName) && r._4 == r._3))
    assert(byName("file").forall(_._3.exists(_(1) == true)))
    assert(byName("dir").forall(_._3.exists(_(2) == true)))
  }

  test("no chmod or readlink process starts in a streaming drain (q106) " +
      "or a parquet staging write, and .crc files are still written") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val root = new File(s"target/tmp/localfs/forks_${System.nanoTime()}").getAbsoluteFile
    assert(root.mkdirs())
    // the control: stock Hadoop's chmod, so an empty census cannot pass
    // because the recording saw nothing
    val control = new File(root, "control")
    assert(control.createNewFile())
    val rec = new Recording()
    val commands = try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      withFs(stockConf)(_.setPermission(hpath(control), new FsPermission("644")))
      assert(SparkEntry.queries("q106_dedup_stream")(spark, TestSpark.sf).collect().nonEmpty)
      Sources.writeParquet(spark.range(100).toDF("id").repartition(2),
        new File(root, "staged").getPath)
      rec.stop()
      val dump = new File(root, "census.jfr").toPath
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.map(_.getString("command"))
    } finally rec.close()
    def started(tool: String): Seq[String] =
      commands.filter(c => new File(c.split(" ").head).getName == tool)
    assert(started("chmod") === commands.filter(_.endsWith(s" ${control.getPath}")),
      s"chmod processes other than the control: $commands")
    assert(started("chmod").size === 1, s"the control's chmod was not recorded: $commands")
    assert(started("readlink").isEmpty, s"readlink processes: $commands")
    // Other processes stay allowed: Spark's own `rm -rf`
    // (JavaUtils.deleteRecursively) is not the file system's.
    val staged = new File(root, "staged").list().toSeq
    assert(staged.exists(n => n.startsWith(".part-") && n.endsWith(".crc")), staged)
  }
}
