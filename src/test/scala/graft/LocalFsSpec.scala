package graft

import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.fs.LocalFs

/** `LocalFs` against the session's stock `file:` file system (on Spark's
  * classpath Hive's `ProxyLocalFileSystem`, loaded as a service) and the
  * stock FileContext (`org.apache.hadoop.fs.local.LocalFs`): the same
  * files, mode bits, `.crc` bytes and rename and link answers, without the
  * process launches.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The SparkContext's Hadoop conf (no session keys) under `umask`, with
    * graft's keys or without. */
  private def conf(graft: Boolean, umask: String = "022"): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    if (graft) LocalFs.conf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** A file system built for `c` (uncached, so its umask is `c`'s). */
  private def fsOf(c: Configuration): FileSystem = FileSystem.newInstance(new URI("file:///"), c)

  private def tmp(): File = Files.createTempDirectory("graft-localfs").toFile

  private val payload: Array[Byte] = Array.tabulate(3000)(i => (i * 31 % 251).toByte)

  private def write(fs: FileSystem, p: Path): Unit = {
    val out = fs.create(p)
    try out.write(payload) finally out.close()
  }

  /** A checkpoint-style write: FileContext create, then rename into place. */
  private def commit(fc: FileContext, p: Path): Unit = {
    val tmpPath = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fc.create(tmpPath, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(payload) finally out.close()
    fc.rename(tmpPath, p, Options.Rename.NONE)
  }

  private def crc(p: Path): File = new File(p.getParent.toUri.getPath, s".${p.getName}.crc")
  private def mode(f: File): Int = Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff
  private def bytes(f: File): Seq[Byte] = Files.readAllBytes(f.toPath).toSeq

  test("the stock file system is another class, and graft's conf resolves LocalFs") {
    assert(!fsOf(conf(graft = false)).isInstanceOf[LocalFs.Checksummed])
    assert(fsOf(conf(graft = true)).isInstanceOf[LocalFs.Checksummed])
    assert(new Path("file:///").getFileSystem(conf(graft = true)).isInstanceOf[LocalFs.Checksummed],
      "the cached stock instance shadows fs.file.impl")
  }

  test("files and their .crc get the stock mode bits and bytes under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val (stockC, graftC) = (conf(graft = false, umask), conf(graft = true, umask))
      val dir = tmp()
      val Seq(s1, g1, s2, g2) = Seq("s1", "g1", "s2", "g2").map(n => new Path(dir.toURI.toString, n))
      write(fsOf(stockC), s1)
      write(fsOf(graftC), g1)
      commit(FileContext.getFileContext(stockC), s2)
      commit(FileContext.getFileContext(graftC), g2)
      for ((s, g) <- Seq(s1 -> g1, s2 -> g2)) {
        val (sf, gf) = (new File(s.toUri.getPath), new File(g.toUri.getPath))
        assert(mode(gf) == mode(sf), s"umask $umask: data mode of $g")
        assert(mode(crc(g)) == mode(crc(s)), s"umask $umask: .crc mode of $g")
        assert(bytes(gf) == bytes(sf) && bytes(crc(g)) == bytes(crc(s)), s"umask $umask: bytes of $g")
      }
      assert(mode(new File(g1.toUri.getPath)) == (if (umask == "022") 0x1a4 else 0x180)) // 0644, 0600
    }
  }

  test("a flipped data byte fails the read with ChecksumException") {
    val c = conf(graft = true)
    // a failed read moves the file aside (LocalFileSystem.reportChecksumFailure),
    // so each read gets its own corrupted file
    def corrupted(): Path = {
      val p = new Path(tmp().toURI.toString, "f")
      write(fsOf(c), p)
      val raf = new RandomAccessFile(p.toUri.getPath, "rw")
      try { raf.seek(1000); raf.write(payload(1000) ^ 1) } finally raf.close()
      p
    }
    intercept[ChecksumException](fsOf(c).open(corrupted()).readAllBytes())
    // FileContext verifies on open(path, bufferSize); the one-argument open
    // goes through FilterFs straight to the raw file system, stock or not
    intercept[ChecksumException](
      FileContext.getFileContext(c).open(corrupted(), 4096).readAllBytes())
  }

  test("FileContext rename refuses to replace a file without OVERWRITE and replaces it with") {
    val fc = FileContext.getFileContext(conf(graft = true))
    val dir = tmp().toURI.toString
    val (a, b) = (new Path(dir, "a"), new Path(dir, "b"))
    Seq(a, b).foreach(commit(fc, _))
    val out = fc.create(a, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(Array[Byte](7, 7)) finally out.close()
    intercept[FileAlreadyExistsException](fc.rename(a, b, Options.Rename.NONE))
    fc.rename(a, b, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(a) && !crc(a).exists)
    val in = fc.open(b) // verified against the renamed .crc
    try assert(in.readAllBytes().toSeq == Seq[Byte](7, 7)) finally in.close()
    // FileSystem rename keeps the stock refusal to replace a file
    val fs = fsOf(conf(graft = true))
    write(fs, a)
    assert(!fs.rename(a, b) && !fsOf(conf(graft = false)).rename(a, b))
  }

  test("getFileLinkStatus of a file, a symlink and a dangling symlink is the stock answer") {
    val dir = tmp()
    val file = new Path(dir.toURI.toString, "file")
    write(fsOf(conf(graft = false)), file)
    Files.createSymbolicLink(Paths.get(dir.getPath, "link"), Paths.get(file.toUri.getPath))
    Files.createSymbolicLink(Paths.get(dir.getPath, "dangling"), Paths.get(dir.getPath, "gone"))
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
      s.getGroup, if (s.isSymlink) Some(s.getSymlink) else None)
    // Hadoop's readlink gets the path with its scheme, so the stock answer
    // differs between qualified and bare paths: ask both
    def answer(p: Path, graft: Boolean, fc: Boolean) = scala.util.Try(fields(
      if (fc) FileContext.getFileContext(conf(graft)).getFileLinkStatus(p)
      else fsOf(conf(graft)).getFileLinkStatus(p))).toEither.left.map(_.getClass)
    for (n <- Seq("file", "link", "dangling", "gone"); p <- Seq(new Path(dir.toURI.toString, n),
        new Path(dir.getPath, n)); fc <- Seq(false, true))
      assert(answer(p, graft = true, fc) == answer(p, graft = false, fc), s"$p (FileContext: $fc)")
    assert(answer(new Path(dir.getPath, "link"), graft = true, fc = false).exists(_._11.isDefined),
      "a bare symlink path reads as a symlink")
  }

  test("a sticky-bit mode still lands") {
    val fs = fsOf(conf(graft = true))
    val d = new Path(tmp().toURI.toString, "d")
    assert(fs.mkdirs(d))
    fs.setPermission(d, new FsPermission(0x3ff.toShort)) // 01777
    assert(mode(new File(d.toUri.getPath)) == 0x3ff)
    fs.setPermission(d, new FsPermission(0x1ed.toShort)) // 0755, through the stock call
    assert(mode(new File(d.toUri.getPath)) == 0x1ed)
  }

  test("100 creates and 100 checkpoint commits launch no processes") {
    // /proc/stat's `processes` counts every fork and thread creation on the
    // host, so other work adds to it; the stock file system counts ~2,400 here
    def launched(): Long = scala.io.Source.fromFile("/proc/stat").getLines()
      .collectFirst { case l if l.startsWith("processes ") => l.split(" ")(1).toLong }.get
    val c = conf(graft = true)
    val (fs, fc, dir) = (fsOf(c), FileContext.getFileContext(c), tmp().toURI.toString)
    val before = launched()
    (0 until 100).foreach { i =>
      write(fs, new Path(dir, s"f$i"))
      commit(fc, new Path(dir, s"c$i"))
    }
    val n = launched() - before
    assert(n < 50, s"$n processes launched")
  }
}
