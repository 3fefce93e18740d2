package graft.core

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileSystem, FsConstants, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** LocalFs — the `file:` filesystem every session registers must be
  * graft's fork-free class on both Hadoop APIs, leave exactly the
  * permission bits Hadoop's stock local filesystem leaves, and keep the
  * checksummed wrappers (`.crc` sidecars written and verified). */
class LocalFsSpec extends SparkSpec {

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration
  private val localUri = new URI("file:///")

  private def fc(c: Configuration) = FileContext.getFileContext(localUri, c)

  /** The stock bindings, built directly (the session conf names graft's). */
  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(FsConstants.LOCAL_FS_URI, conf)
    fs
  }
  private def stockFc: FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    fc(c)
  }

  /** Every path under `root` (relative) -> its full mode incl. special bits. */
  private def modes(root: String): Map[String, Int] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => r.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff))
      .toMap
    finally walk.close()
  }

  private val perms = Seq("600", "640", "700", "755")
    .map(o => new FsPermission(Integer.parseInt(o, 8).toShort))

  /** The same create / mkdirs / setPermission calls for each permission,
    * through the FileSystem API (`fs`) and the FileContext API (`ctx`). */
  private def exercise(root: String, fs: FileSystem, ctx: FileContext): Unit =
    perms.foreach { perm =>
      val o = Integer.toOctalString(perm.toShort.toInt)
      fs.create(new Path(s"$root/fs/create-$o/f"), perm, true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(s"$root/fs/mkdirs-$o"), perm)
      val set = new Path(s"$root/fs/set-$o")
      fs.create(new Path(set, "f")).close()
      fs.setPermission(set, perm)
      fs.setPermission(new Path(set, "f"), perm)
      ctx.create(new Path(s"$root/fc/create-$o/f"),
        java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm), Options.CreateOpts.createParent())
        .close()
      ctx.mkdir(new Path(s"$root/fc/mkdir-$o/d"), perm, true)
      val cset = new Path(s"$root/fc/set-$o")
      ctx.mkdir(cset, FsPermission.getDirDefault, true)
      ctx.setPermission(cset, perm)
    }

  test("file: resolves to graft's LocalFs on the FileSystem and FileContext APIs") {
    val fs = FileSystem.get(localUri, conf)
    assert(fs.isInstanceOf[LocalFs.Checksummed])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[LocalFs.Raw])
    // the JVM-wide cache is keyed by scheme and user: a conf that names
    // no binding still gets the instance the session registered
    assert(FileSystem.get(localUri, new Configuration()) eq fs)
    assert(new Path(StoreFs.base(spark)).getFileSystem(conf) eq fs)
    assert(fc(conf).getDefaultFileSystem.isInstanceOf[LocalFs.Context])
  }

  test("create / mkdirs / setPermission leave the stock permission bits " +
    "through both APIs (0600 0640 0700 0755 under the session umask)") {
    val base = tmpDir("graft-localfs-perm")
    exercise(s"$base/graft", FileSystem.get(localUri, conf), fc(conf))
    exercise(s"$base/stock", stockFs, stockFc)
    val got = modes(s"$base/graft")
    assert(got.keySet.exists(_.endsWith(".f.crc")), "no .crc sidecars written")
    assert(got === modes(s"$base/stock"))
    assert(got("fs/mkdirs-700") === Integer.parseInt("700", 8))
    assert(got("fs/set-640/f") === Integer.parseInt("640", 8))
  }

  test("special bits take Hadoop's path: sticky 01777 is set, a " +
    "directory's setgid bit survives a 0755 setPermission") {
    val base = tmpDir("graft-localfs-special")
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val rwx = new FsPermission(Integer.parseInt("755", 8).toShort)
    Seq("graft" -> FileSystem.get(localUri, conf), "stock" -> stockFs)
      .foreach { case (side, fs) =>
        val st = new Path(s"$base/$side/sticky")
        fs.mkdirs(st)
        fs.setPermission(st, sticky)
        val sg = Paths.get(s"$base/$side/setgid")
        Files.createDirectories(sg)
        Files.setAttribute(sg, "unix:mode", Integer.valueOf(
          Integer.parseInt("2700", 8)))
        fs.setPermission(new Path(sg.toString), rwx)
      }
    val got = modes(s"$base/graft")
    assert(got("sticky") === Integer.parseInt("1777", 8))
    assert(got("setgid") === Integer.parseInt("2755", 8))
    assert(got === modes(s"$base/stock"))
  }

  test("checksums are kept: the .crc sidecar is written and a flipped " +
    "data byte fails the checksummed read") {
    val base = tmpDir("graft-localfs-crc")
    val fs = FileSystem.get(localUri, conf)
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    def write(fs: FileSystem, side: String): Path = {
      val p = new Path(s"$base/$side/data.bin")
      val out = fs.create(p)
      try out.write(bytes) finally out.close()
      p
    }
    val p = write(fs, "graft")
    val crc = Paths.get(s"$base/graft/.data.bin.crc")
    assert(Files.exists(crc))
    write(stockFs, "stock")
    assert(Files.readAllBytes(crc) ===
      Files.readAllBytes(Paths.get(s"$base/stock/.data.bin.crc")))
    // open(path, bufferSize): FileContext.open(path) reaches the raw
    // stream past ChecksumFs (Hadoop's FilterFs.open(Path) delegates to
    // the wrapped filesystem) and verifies nothing, stock or graft
    def readBack(): Array[Byte] = {
      val in = fc(conf).open(p, 4096)
      try { val b = new Array[Byte](bytes.length); in.readFully(b); b }
      finally in.close()
    }
    assert(readBack() === bytes)
    // flip one byte behind the checksummed layer's back. The read goes
    // through the FileContext binding: LocalFileSystem's read path
    // answers a checksum failure by moving the file to a bad_files dir
    // at the top of its mount, which a test must not do.
    val raw = Paths.get(s"$base/graft/data.bin")
    val onDisk = Files.readAllBytes(raw)
    onDisk(1000) = (onDisk(1000) ^ 0x5a).toByte
    Files.write(raw, onDisk)
    intercept[ChecksumException](readBack())
  }
}
