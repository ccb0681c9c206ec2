package graft

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{AbstractFileContextBasedCheckpointFileManager, CheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** graft's NIO local filesystem answers as Hadoop's stock local
  * filesystem does, on the same paths, and sessions serve `file:`
  * with it through both Hadoop APIs. */
class LocalFsSpec extends AnyFunSuite {
  import LocalFsSpec._

  private val StockFs = "org.apache.hadoop.fs.local.LocalFs"

  private def withDir[A](f: File => A): A = {
    val d = Files.createTempDirectory("localfs")
    try f(d.toFile)
    finally Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration(false)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Both raw filesystems over one configuration: stock, then graft's. */
  private def raws(c: Configuration = conf()): (RawLocalFileSystem, RawLocalFileSystem) = {
    val stock = new RawLocalFileSystem
    val nio = new NioRawLocalFileSystem
    stock.initialize(URI.create("file:///"), c)
    nio.initialize(URI.create("file:///"), c)
    (stock, nio)
  }

  private def fields(st: FileStatus) =
    (st.getPath, st.getLen, st.isDirectory, st.getModificationTime, st.getBlockSize,
      st.getReplication, st.getPermission, st.getOwner, st.getGroup,
      if (st.isSymlink) Some(st.getSymlink) else None)

  private def write(f: File, s: String): Unit = Files.write(f.toPath, s.getBytes(UTF_8))

  test("status fields equal the stock class's for a file, a directory, links and a missing path") {
    withDir { d =>
      val (stock, nio) = raws()
      write(new File(d, "data.bin"), "x" * 1234)
      new File(d, "sub").mkdir()
      Files.createSymbolicLink(Paths.get(d.getPath, "link"), Paths.get("data.bin"))
      Files.createSymbolicLink(Paths.get(d.getPath, "dangling"), Paths.get("gone"))
      // scheme-less paths: the only form whose links the stock class sees
      for (name <- Seq("data.bin", "sub", "link")) {
        val p = new Path(s"${d.getPath}/$name")
        assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)), name)
        assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), name)
      }
      val link = new Path(s"${d.getPath}/link")
      assert(nio.getFileLinkStatus(link).getSymlink == new Path(s"file:${d.getPath}/data.bin"))
      val dangling = new Path(s"${d.getPath}/dangling")
      assert(fields(nio.getFileLinkStatus(dangling)) == fields(stock.getFileLinkStatus(dangling)))
      // a qualified path reads as the link's target, with no link
      val qualified = new Path(s"file:${d.getPath}/link")
      assert(fields(nio.getFileLinkStatus(qualified)) == fields(stock.getFileLinkStatus(qualified)))
      assert(!nio.getFileLinkStatus(qualified).isSymlink)
      for (name <- Seq("missing", "dangling", "data.bin/below")) {
        val p = new Path(s"${d.getPath}/$name")
        intercept[FileNotFoundException](stock.getFileStatus(p))
        intercept[FileNotFoundException](nio.getFileStatus(p))
      }
      val missing = new Path(s"${d.getPath}/missing")
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
      intercept[FileNotFoundException](nio.listStatus(missing))
    }
  }

  test("a path deleted after its status was taken fails the lazy permission load as stock does") {
    withDir { d =>
      val (stock, nio) = raws()
      val f = new File(d, "brief")
      write(f, "x")
      val p = new Path(s"${d.getPath}/brief")
      val (stockSt, nioSt) = (stock.getFileStatus(p), nio.getFileStatus(p))
      assert(f.delete())
      intercept[RuntimeException](stockSt.getPermission)
      intercept[RuntimeException](nioSt.getPermission)
      intercept[RuntimeException](nioSt.getOwner)
    }
  }

  test("listStatus returns the stock class's statuses for a directory and a file") {
    withDir { d =>
      val (stock, nio) = raws()
      write(new File(d, "a"), "aa")
      write(new File(d, "b"), "bbbb")
      new File(d, "sub").mkdir()
      Files.createSymbolicLink(Paths.get(d.getPath, "link"), Paths.get("a"))
      val dir = new Path(d.getPath)
      val got = nio.listStatus(dir).map(fields).toSet
      assert(got.size == 4 && got == stock.listStatus(dir).map(fields).toSet)
      val file = new Path(s"${d.getPath}/b")
      assert(nio.listStatus(file).map(fields).toSeq == stock.listStatus(file).map(fields).toSeq)
    }
  }

  test("create and mkdirs leave the umask-applied mode the stock class leaves") {
    withDir { d =>
      val (stock, nio) = raws(conf(umask = "027"))
      for ((fs, tag) <- Seq(stock -> "stock", nio -> "nio")) {
        fs.create(new Path(s"${d.getPath}/f-$tag")).close()
        fs.mkdirs(new Path(s"${d.getPath}/d-$tag/nested"))
        fs.mkdirs(new Path(s"${d.getPath}/e-$tag"), perm("755"))
        for ((name, want) <- Seq(s"f-$tag" -> "640", s"d-$tag" -> "750",
            s"d-$tag/nested" -> "750", s"e-$tag" -> "750")) {
          val p = new Path(s"${d.getPath}/$name")
          assert(stock.getFileStatus(p).getPermission == perm(want), name)
          assert(nio.getFileStatus(p).getPermission == perm(want), name)
        }
      }
      // and the bits on disk
      assert(Files.getPosixFilePermissions(new File(d, "f-nio").toPath).asScala.map(_.toString) ==
        Set("OWNER_READ", "OWNER_WRITE", "GROUP_READ"))
    }
  }

  test("a sticky bit goes through the stock chmod and reads back as stock reads it") {
    withDir { d =>
      val (stock, nio) = raws()
      val p = new Path(s"${d.getPath}/shared")
      nio.mkdirs(p)
      val sticky = perm("1777")
      nio.setPermission(p, sticky)
      assert(stock.getFileStatus(p).getPermission == sticky)
      assert(nio.getFileStatus(p).getPermission == sticky)
      assert(nio.getFileStatus(p).getPermission.getStickyBit)
      nio.setPermission(p, perm("700"))
      assert(stock.getFileStatus(p).getPermission == perm("700"))
    }
  }

  private def fileContext(impl: String): FileContext = {
    val c = conf()
    c.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(URI.create("file:///"), c)
  }

  private def fcWrite(fc: FileContext, p: Path, s: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** Reads through `ChecksumFs`'s checker: stock `LocalFs` inherits
    * `FilterFs.open(path)`, which without a buffer size bypasses it
    * and verifies nothing. */
  private def fcRead(fc: FileContext, p: Path): String = {
    val in = fc.open(p, 4096)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("FileContext rename with and without OVERWRITE behaves as stock LocalFs") {
    def outcome(impl: String): (String, String, Boolean, Set[String]) = withDir { d =>
      val fc = fileContext(impl)
      assert(fc.getDefaultFileSystem.getClass.getName == impl)
      val (src, dst) = (new Path(s"file:${d.getPath}/src"), new Path(s"file:${d.getPath}/dst"))
      fcWrite(fc, src, "new")
      fcWrite(fc, dst, "old")
      val refused = intercept[FileAlreadyExistsException](fc.rename(src, dst)).getClass.getName
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      fc.rename(dst, new Path(s"file:${d.getPath}/moved"))
      (refused, fcRead(fc, new Path(s"file:${d.getPath}/moved")), fc.util.exists(src),
        d.list().toSet)
    }
    val stock = outcome(StockFs)
    assert(stock._2 == "new" && !stock._3)
    assert(outcome(classOf[NioLocalFs].getName) == stock)
  }

  test(".crc sidecars are written on create and a flipped data byte fails the read") {
    for (impl <- Seq(StockFs, classOf[NioLocalFs].getName)) withDir { d =>
      val fc = fileContext(impl)
      val p = new Path(s"file:${d.getPath}/data")
      val text = "graft" * 400
      fcWrite(fc, p, text)
      assert(new File(d, ".data.crc").isFile, impl)
      assert(fcRead(fc, p) == text)
      val raf = new RandomAccessFile(new File(d, "data"), "rw")
      try { raf.seek(1000); raf.write('X') } finally raf.close()
      intercept[ChecksumException](fcRead(fc, p))
      // the one-argument open, the call Spark's checkpoint reads make:
      // stock reads the corrupted bytes, graft's verifies them
      def openRead(): Int = { val in = fc.open(p); try in.readAllBytes().length finally in.close() }
      if (impl == StockFs) assert(openRead() == text.length)
      else intercept[ChecksumException](openRead())
    }
    withDir { d =>
      val c = conf()
      c.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      val local: LocalFileSystem = FileSystem.newInstanceLocal(c)
      try {
        assert(local.isInstanceOf[NioLocalFileSystem])
        assert(local.getRaw.isInstanceOf[NioRawLocalFileSystem])
        val out = local.create(new Path(s"${d.getPath}/part"))
        try out.write(Array.fill[Byte](700)(7)) finally out.close()
        assert(new File(d, ".part.crc").isFile)
        assert(local.open(new Path(s"${d.getPath}/part")).readAllBytes().length == 700)
      } finally local.close()
    }
  }

  test("the test session serves file: with graft's classes through both APIs") {
    val s = TestSpark.spark
    withDir { d =>
      assert(FileSystem.get(URI.create("file:///"), s.sparkContext.hadoopConfiguration)
        .isInstanceOf[NioLocalFileSystem])
      assert(FileSystem.getLocal(s.sparkContext.hadoopConfiguration).isInstanceOf[NioLocalFileSystem])
      assert(checkpointFs(s, d.getPath) == classOf[NioLocalFs])
    }
  }

  test("GraftSession.build serves file: with graft's classes, also after stop and a rebuild") {
    // a fresh JVM: Hadoop's FileSystem cache and the shared test
    // session would hide what build itself does
    val jvm = Paths.get(sys.props("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(jvm, "-Xmx1g", "-cp", sys.props("java.class.path")) ++ opens ++
      Seq("graft.LocalFsSessionCheck")
    val out = new StringBuilder
    val code = cmd ! ProcessLogger(l => out.append(l).append('\n'), _ => ())
    val lines = out.toString.linesIterator.filter(_.startsWith("LOCALFS")).toSeq
    val want = s"fs=${classOf[NioLocalFileSystem].getName} local=true ckpt=${classOf[NioLocalFs].getName}"
    assert(code == 0 && lines == Seq(s"LOCALFS 1 $want", s"LOCALFS 2 $want", "LOCALFS ok"),
      out.toString.takeRight(3000))
  }
}

object LocalFsSpec {

  /** The `AbstractFileSystem` class behind the checkpoint file manager
    * a stream of `spark` builds for `dir`. */
  def checkpointFs(spark: SparkSession, dir: String): Class[_] = {
    val fm = CheckpointFileManager.create(new Path(dir), spark.sessionState.newHadoopConf())
    val fc = classOf[AbstractFileContextBasedCheckpointFileManager].getDeclaredField("fc")
    fc.setAccessible(true)
    fc.get(fm).asInstanceOf[FileContext].getDefaultFileSystem.getClass
  }
}

/** Builds a `GraftSession` twice in one JVM, stopping the first, and
  * prints which classes serve `file:` each time; `LocalFsSpec` runs it
  * in a fresh JVM. */
object LocalFsSessionCheck {
  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("localfs-session").toString
    for (i <- 1 to 2) {
      val s = GraftSession.build(cores = 2, master = Some("local[2]"))
      s.sparkContext.setLogLevel("ERROR")
      val hc = s.sparkContext.hadoopConfiguration
      // one micro-batch through a checkpoint, as a stream writes it
      import s.implicits._
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](s)
      val q = in.toDS().writeStream.format("noop")
        .option("checkpointLocation", s"$dir/ckpt$i").start()
      in.addData(1L, 2L)
      q.processAllAvailable()
      q.stop()
      require(new File(s"$dir/ckpt$i/commits/0").isFile, "no commit written")
      println(s"LOCALFS $i fs=${FileSystem.get(URI.create("file:///"), hc).getClass.getName} " +
        s"local=${FileSystem.getLocal(hc).isInstanceOf[NioLocalFileSystem]} " +
        s"ckpt=${LocalFsSpec.checkpointFs(s, dir).getName}")
      s.stop()
    }
    println("LOCALFS ok")
  }
}
