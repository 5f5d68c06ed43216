package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.io._

/** The engine's fork-free `file:` filesystem against Hadoop's own: the same
  * permissions, link statuses and checkpoint-style renames, and the binding
  * every session's Hadoop conf carries.
  */
class LocalFsSpec extends SparkSpec {

  private val Root = URI.create("file:///")

  private def hadoopConf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Hadoop's stock checksummed local filesystem and the engine's, uncached. */
  private def both(c: Configuration): Seq[(String, FileSystem)] =
    Seq("stock" -> new LocalFileSystem(new RawLocalFileSystem),
      "fork-free" -> new ForkFreeLocalFileSystem).map { case (n, fs) =>
      fs.initialize(Root, c)
      n -> fs
    }

  /** Mode bits (including file type) of every path under `dir`, by relative name. */
  private def modes(dir: JPath): Map[String, Int] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.map(p => dir.relativize(p).toString ->
      Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]).toMap
    finally st.close()
  }

  /** What a link status tells (path, kind, link target, length, mtime), or
    * the class of the error it throws. */
  private def linkStatus(fs: FileSystem, p: Path) =
    try {
      val s = fs.getFileLinkStatus(p)
      Right((s.getPath, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getModificationTime))
    } catch { case e: java.io.IOException => Left(e.getClass) }

  test("created files and directories get Hadoop's permissions under the same umask") {
    for (umask <- Seq("022", "077", "027", "002")) {
      val trees = both(hadoopConf(umask)).map { case (name, fs) =>
        val dir = Files.createTempDirectory(s"perm-$name")
        val p = new Path(dir.toUri)
        fs.mkdirs(new Path(p, "a/b/c"))
        fs.create(new Path(p, "a/b/c/file")).close()
        fs.create(new Path(p, "a/explicit"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 25, null).close()
        fs.mkdirs(new Path(p, "d"), new FsPermission("751"))
        fs.create(new Path(p, "set")).close()
        fs.setPermission(new Path(p, "set"), new FsPermission("604"))
        fs.mkdirs(new Path(p, "sticky"))
        fs.setPermission(new Path(p, "sticky"), new FsPermission("1777"))
        fs.close()
        name -> modes(dir)
      }.toMap
      assert(trees("stock").size == 12, s"umask $umask: ${trees("stock").keys}")
      assert(trees("fork-free") == trees("stock"), s"umask $umask")
    }
  }

  test("getFileLinkStatus matches Hadoop's on a file, a directory and symlinks") {
    val dir = Files.createTempDirectory("linkstat")
    Files.writeString(dir.resolve("file"), "payload")
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dirlink"), dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val Seq(stock, ours) = Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem).map { fs =>
      fs.initialize(Root, hadoopConf("022"))
      fs
    }
    // a bare path and a `file:` path: Hadoop resolves links on the first
    // (and keeps the target), follows them on the second
    for (n <- Seq("file", "dir", "link", "dirlink", "dangling");
         p <- Seq(new Path(dir.resolve(n).toString), new Path(dir.resolve(n).toUri)))
      assert(linkStatus(ours, p) == linkStatus(stock, p), s"$p")
    val link = ours.getFileLinkStatus(new Path(dir.resolve("link").toString))
    assert(link.isSymlink && link.getSymlink.toUri.getPath == dir.resolve("file").toString)
    assert(linkStatus(ours, new Path(dir.resolve("dangling").toUri)) ==
      Left(classOf[FileNotFoundException]))
    for (fs <- Seq(stock, ours))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("missing").toUri)))
  }

  test("FileContext rename over an existing file works as the checkpoint manager uses it") {
    // the streaming checkpoint manager's atomic write: create a temp file
    // (plus its .crc), rename it OVERWRITE onto the target, drop a left-over
    // temp .crc; the second round overwrites the first
    val c = hadoopConf("022")
    val afs = Seq(
      "stock" -> AbstractFileSystem.get(Root, new Configuration()),
      "fork-free" -> new ForkFreeLocalFs(Root, c))
    assert(afs.head._2.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    val trees = afs.map { case (name, fs) =>
      val fc = FileContext.getFileContext(fs, c)
      val dir = Files.createTempDirectory(s"rename-$name")
      val dst = new Path(dir.resolve("0").toUri)
      for (round <- 1 to 2) {
        val tmp = new Path(dir.resolve(s".0.$round.tmp").toUri)
        val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(s"v1\n{round:$round}".getBytes(UTF_8))
        out.close()
        fc.rename(tmp, dst, Options.Rename.OVERWRITE)
        val crc = new Path(dir.resolve(s"..0.$round.tmp.crc").toUri)
        if (fc.util.exists(crc)) fc.delete(crc, false)
      }
      val in = fc.open(dst) // verifies the renamed .crc
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      assert(body == "v1\n{round:2}", name)
      name -> modes(dir)
    }.toMap
    assert(trees("stock").keySet == Set("", "0", ".0.crc"))
    assert(trees("fork-free") == trees("stock"))
  }

  test("file: resolves to the fork-free classes through every session's Hadoop conf") {
    val shared = spark.newSession()
    Graft.EngineConf.foreach { case (k, _) => shared.conf.unset(k) }
    assert(shared.conf.getOption("fs.file.impl").isEmpty)
    Graft.configure(shared)
    // the session conf alone binds FileContext over a stock Hadoop conf,
    // as on a context built without the engine's `spark.hadoop.` keys
    val bare = new Configuration()
    shared.conf.getAll.foreach { case (k, v) => bare.set(k, v) }
    assert(FileContext.getFileContext(Root, bare).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
    for (s <- Seq(TestSpark.spark, shared)) {
      val hc = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()
      // FileSystem.get caches one instance per scheme for the JVM: a stock
      // one cached before the binding would win here
      assert(FileSystem.get(Root, hc).getClass == classOf[ForkFreeLocalFileSystem])
      assert(new Path(Files.createTempDirectory("bind").toUri).getFileSystem(hc)
        .getClass == classOf[ForkFreeLocalFileSystem])
      assert(FileContext.getFileContext(Root, hc).getDefaultFileSystem.getClass ==
        classOf[ForkFreeLocalFs])
    }
  }
}
