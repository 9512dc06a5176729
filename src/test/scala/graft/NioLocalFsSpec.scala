package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.security.PrivilegedExceptionAction

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` filesystem `GraftSession` binds answers permissions and
  * link status exactly as the stock `RawLocalFileSystem` does, and every
  * session resolves to it through both Hadoop APIs. */
class NioLocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val nio = raw(new NioRawLocalFileSystem)

  private def unixMode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission: all 512 rwx modes read back alike through NIO and getFileStatus") {
    val dir = Files.createTempDirectory("nio_perm").toFile
    val a = new Path(new File(dir, "stock").getPath)
    val b = new Path(new File(dir, "nio").getPath)
    Seq(a, b).foreach(p => new File(p.toString).createNewFile())
    for (mode <- 0 until 512) {
      val perm = new FsPermission(mode.toShort)
      stock.setPermission(a, perm)
      nio.setPermission(b, perm)
      val (ma, mb) = (unixMode(new File(a.toString)), unixMode(new File(b.toString)))
      assert(ma == mode && mb == mode, f"mode $mode%04o: stock $ma%04o, nio $mb%04o")
      val (pa, pb) = (stock.getFileStatus(a).getPermission, nio.getFileStatus(b).getPermission)
      assert(pa == perm && pb == perm, f"mode $mode%04o: stock $pa, nio $pb")
    }
    assert(NioRawLocalFileSystem.perms(0x1a4) == PosixFilePermissions.fromString("rw-r--r--"))
  }

  test("setPermission: a sticky-bit mode takes the stock path") {
    // java.nio cannot set the sticky bit, so a sticky bit on disk shows
    // the stock chmod ran
    val dir = Files.createTempDirectory("nio_sticky").toFile
    nio.setPermission(new Path(dir.getPath), new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(unixMode(dir) == Integer.parseInt("1755", 8))
    assert(nio.getFileStatus(new Path(dir.getPath)).getPermission.getStickyBit)
  }

  private def fields(s: FileStatus): Seq[Any] = Seq(
    s.getPath, s.getLen, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
    s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner, s.getGroup,
    s.getReplication, s.getBlockSize)

  test("getFileLinkStatus: file, directory, symlink, dangling symlink and missing path as stock") {
    val dir = Files.createTempDirectory("nio_link").toFile
    val file = new File(dir, "f")
    Files.write(file.toPath, "abc".getBytes)
    val sub = new File(dir, "d")
    sub.mkdir()
    val link = new File(dir, "l")
    Files.createSymbolicLink(link.toPath, file.toPath)
    val dangling = new File(dir, "dl")
    Files.createSymbolicLink(dangling.toPath, Paths.get(dir.getPath, "gone"))
    val missing = new File(dir, "missing")
    // a qualified dangling link fails alike on both: the stock readlink
    // is handed the `file:` URI string and finds no link there
    def outcome(fs: RawLocalFileSystem, p: Path): Either[(Class[_], String), Seq[Any]] =
      try Right(fields(fs.getFileLinkStatus(p)))
      catch { case e: java.io.IOException => Left(e.getClass -> e.getMessage) }
    for (f <- Seq(file, sub, link, dangling, missing); p <- Seq(new Path(f.getPath), new Path(f.toURI)))
      assert(outcome(stock, p) == outcome(nio, p), s"$p")
    // unqualified paths reach the stock readlink, so both see the links
    assert(nio.getFileLinkStatus(new Path(link.getPath)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.getPath)).isSymlink)
    for (p <- Seq(new Path(missing.getPath), new Path(missing.toURI)))
      intercept[FileNotFoundException](nio.getFileLinkStatus(p))
  }

  test("the shared session resolves file: to the NIO classes through FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(spark.sessionState.newHadoopConf()) eq fs)
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(FileContext.getFileContext(spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("FileSystem rename: onto a file answers false and keeps both, as the unbound file: does") {
    val dir = Files.createTempDirectory("nio_rename").toFile
    val conf = new Configuration()
    val proxy = new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
    val nioFs = new NioLocalFileSystem
    for (fs <- Seq(proxy, nioFs)) {
      fs.initialize(URI.create("file:///"), conf)
      val name = fs.getClass.getSimpleName
      val (src, dst) = (new Path(dir.getPath, s"$name-src"), new Path(dir.getPath, s"$name-dst"))
      Seq(src -> "s", dst -> "d").foreach { case (p, v) =>
        val out = fs.create(p, true); try out.write(v.getBytes) finally out.close()
      }
      assert(!fs.rename(src, dst), name)
      assert(fs.isFile(src) && fs.getFileStatus(dst).getLen == 1, name)
      val moved = new Path(dir.getPath, s"$name-moved")
      assert(fs.rename(src, moved) && fs.isFile(moved) && !fs.exists(src), name)
      assert(fs.exists(new Path(dir.getPath, s".$name-moved.crc")), name)
    }
    // the unbound resolution this mirrors, on the classpath the suite runs
    val unbound = FileSystem.getFileSystemClass("file", new Configuration())
    assert(unbound == proxy.getClass, unbound.getName)
  }

  test("a stock file: filesystem cached before the session fails GraftSession loudly") {
    // the cache is per user: a throwaway user's stock entry leaves the
    // shared session's untouched
    val ugi = UserGroupInformation.createRemoteUser("nio-local-fs-spec")
    try {
      val (cached, err) = ugi.doAs(new PrivilegedExceptionAction[(String, Throwable)] {
        def run(): (String, Throwable) = {
          val cached = FileSystem.get(URI.create("file:///"), new Configuration())
          assert(!cached.isInstanceOf[NioLocalFileSystem])
          cached.getClass.getName -> intercept[IllegalStateException](
            GraftSession.configure(SparkSession.builder(), "1"))
        }
      })
      assert(err.getMessage.contains(cached))
    } finally FileSystem.closeAllForUGI(ugi)
  }

  test("the cache probe leaves the file: filesystem to the session's own configuration") {
    val ugi = UserGroupInformation.createRemoteUser("nio-local-fs-spec-probe")
    try {
      val bytesPerSum = ugi.doAs(new PrivilegedExceptionAction[Int] {
        def run(): Int = {
          GraftSession.configure(SparkSession.builder(), "1")
          val conf = new Configuration()
          conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
          conf.setInt("file.bytes-per-checksum", 1024)
          FileSystem.get(URI.create("file:///"), conf) match {
            case fs: NioLocalFileSystem => fs.getBytesPerSum
            case fs => fail(fs.getClass.getName)
          }
        }
      })
      assert(bytesPerSum == 1024)
    } finally FileSystem.closeAllForUGI(ugi)
  }

  test("micro-batch offsets, commits and state deltas keep their .crc siblings") {
    import spark.implicits._
    val ck = Files.createTempDirectory("nio_ck").toFile
    val input = MemoryStream[Int](spark)
    val q = input.toDS().groupBy("value").count()
      .writeStream.outputMode("complete").format("memory").queryName("nio_ck")
      .option("checkpointLocation", ck.getPath)
      .start()
    try {
      input.addData(1, 2, 2)
      q.processAllAvailable()
      input.addData(3)
      q.processAllAvailable()
    } finally q.stop()
    def names(d: File): Set[String] = Option(d.list()).map(_.toSet).getOrElse(Set.empty)
    for (d <- Seq("offsets", "commits"); b <- Seq("0", "1")) {
      val n = names(new File(ck, d))
      assert(n(b) && n(s".$b.crc"), s"$d: $n")
    }
    val deltas = Files.walk(new File(ck, "state").toPath).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".delta"))
    assert(deltas.nonEmpty)
    deltas.foreach { d =>
      val f = new File(d)
      assert(new File(f.getParent, s".${f.getName}.crc").isFile, d)
    }
  }
}
