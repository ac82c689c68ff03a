package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.core.{GraftSession, LocalFs}

/** `LocalFs` answers link status and permission changes without shell
  * processes; this suite holds it to stock `RawLocalFileSystem`'s
  * answers, and pins which sessions install it. */
class LocalFsSpec extends SparkSpec {

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val shim = init(new LocalFs)

  private def fields(s: FileStatus): Seq[Any] = Seq(s.getPath, s.getLen,
    s.isFile, s.isDirectory, s.isSymlink, s.getReplication, s.getBlockSize,
    s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
    s.getGroup, if (s.isSymlink) s.getSymlink else null, s.isEncrypted,
    s.isErasureCoded, s.isSnapshotEnabled, s.hasAcl)

  private def hpath(p: JPath) = new Path(p.toUri)

  test("getFileLinkStatus matches stock on every field: file, directory, " +
    "symlink, dangling symlink; missing paths throw alike") {
    val dir = Files.createTempDirectory("localfs_link")
    val file = Files.writeString(dir.resolve("f.txt"), "twelve bytes")
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("ln"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("nowhere"))
    val missing = dir.resolve("missing")
    def outcome(fs: FileSystem, p: Path): Either[Class[_], Seq[Any]] =
      try Right(fields(fs.getFileLinkStatus(p)))
      catch { case e: java.io.IOException => Left(e.getClass) }
    // stock reads a link target only from a bare path (its readlink gets
    // the path's string, scheme and all): qualified paths exercise the
    // non-link answer, bare paths the link branch
    for (p <- Seq(file, sub, link, dangling, missing);
         h <- Seq(hpath(p), new Path(p.toString)))
      assert(outcome(shim, h) == outcome(stock, h), s"at $h")
    Seq(link, dangling).foreach(p =>
      assert(shim.getFileLinkStatus(new Path(p.toString)).isSymlink, p))
    intercept[FileNotFoundException](stock.getFileLinkStatus(hpath(missing)))
    intercept[FileNotFoundException](shim.getFileLinkStatus(hpath(missing)))
  }

  test("setPermission leaves the same mode bits as stock, sticky bit " +
    "included") {
    val dir = Files.createTempDirectory("localfs_chmod")
    def mode(p: JPath): Int =
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff
    for (m <- Seq("644", "600", "755", "1777").map(Integer.parseInt(_, 8));
         (kind, make) <- Seq[(String, JPath => JPath)](
           "file" -> (p => Files.createFile(p)),
           "dir" -> (p => Files.createDirectory(p)))) {
      val (a, b) = (make(dir.resolve(s"stock_${kind}_$m")),
        make(dir.resolve(s"shim_${kind}_$m")))
      stock.setPermission(hpath(a), new FsPermission(m.toShort))
      shim.setPermission(hpath(b), new FsPermission(m.toShort))
      assert(mode(a) == m, f"$kind $m%o")
      assert(mode(b) == mode(a), f"$kind $m%o")
    }
  }

  /** A Hadoop conf carrying a builder's `spark.hadoop.*` options, as
    * Spark derives the session's. `options` is protected in Scala and
    * public in bytecode: read it without building a second session in
    * this JVM. */
  private def hadoopConf(b: org.apache.spark.sql.SparkSession.Builder) = {
    val options = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.HashMap[String, String]]
    val conf = new Configuration()
    options.foreach { case (k, v) =>
      if (k.startsWith("spark.hadoop.")) conf.set(k.stripPrefix("spark.hadoop."), v) }
    conf
  }

  private def resolved(conf: Configuration): (Class[_], Class[_]) = {
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try (fs.getClass, FileContext.getFileContext(conf).getDefaultFileSystem.getClass)
    finally fs.close()
  }

  test("local masters resolve file: to the shim, other masters keep stock") {
    val shimmed = (classOf[LocalFs.Checked], classOf[LocalFs.Context])
    assert(resolved(hadoopConf(GraftSession.builder("local[2]"))) == shimmed)
    assert(resolved(hadoopConf(GraftSession.builder("local[*]"))) == shimmed)
    val (fs, ctx) = resolved(hadoopConf(GraftSession.builder("")))
    assert(fs != shimmed._1 && ctx == classOf[org.apache.hadoop.fs.local.LocalFs])
    assert(GraftSession.localFs("spark://host:7077").isEmpty)
    assert(GraftSession.localFs("local-cluster[2,1,1024]").isEmpty)
    // the shared test session takes the same posture
    assert(resolved(spark.sparkContext.hadoopConfiguration) == shimmed)
  }

  test("the shim's FileContext round-trips a checkpoint-style write: " +
    "create, atomic rename, checksum, read back") {
    val dir = Files.createTempDirectory("localfs_fc")
    val conf = hadoopConf(GraftSession.builder("local[2]"))
    val fc = FileContext.getFileContext(conf)
    val tmp = new Path(dir.resolve(".0.tmp").toUri)
    val dst = new Path(dir.resolve("0").toUri)
    val out = fc.create(tmp, java.util.EnumSet.of(
      org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write("v1\n{}".getBytes("UTF-8"))
    out.close()
    fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
    assert(!Files.exists(Paths.get(tmp.toUri)))
    assert(Files.exists(dir.resolve(".0.crc")))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") == "v1\n{}")
    finally in.close()
  }
}
