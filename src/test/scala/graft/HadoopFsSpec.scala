package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.HadoopFs

/** The publish's file system: modes set in-process on `file://`, and
  * every publish file handle opened through [[HadoopFs.forPath]]. Also
  * the source guard that keeps durable checkpoint writes in `Tables`. */
class HadoopFsSpec extends SparkSpec {

  private val conf = new Configuration()
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x0fff

  test("file:// creates and mkdirs get Hadoop's modes without a chmod fork") {
    val root = tempDir("graft_fs_modes")
    val fs = HadoopFs.forPath(new Path(s"file://$root"), conf)
    val umask = FsPermission.getUMask(conf)

    val plain = s"$root/a/b/plain.json"
    fs.create(new Path(plain), true).close()
    assert(mode(plain) == FsPermission.getFileDefault.applyUMask(umask).toShort)
    assert(mode(s"$root/a/b") == FsPermission.getDirDefault.applyUMask(umask).toShort)

    val secret = s"$root/secret.json"
    fs.create(new Path(secret), new FsPermission(Integer.parseInt("600", 8).toShort),
      true, 4096, 1.toShort, 1L << 20, null).close()
    assert(mode(secret) == Integer.parseInt("600", 8))

    val dir = s"$root/d750"
    assert(fs.mkdirs(new Path(dir), new FsPermission(Integer.parseInt("750", 8).toShort)))
    assert(mode(dir) == Integer.parseInt("750", 8))

    // the sticky bit is beyond NIO: Hadoop's own chmod still sets it
    fs.setPermission(new Path(dir), new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1750", 8))
  }

  test("file:// listStatus matches RawLocalFileSystem's on odd entries") {
    val root = tempDir("graft_fs_list")
    def write(rel: String, body: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
    }
    write("d/a.test.stdout", "BenchmarkA-8")
    write("d/nested/deeper/b.test.stdout", "BenchmarkB-8 \t 1 \t 2 ns/op")
    write("d/.hidden", "h")
    write("d/_tmp/x", "x")
    write("d/empty", "")
    write("d/colon:name", "c")
    Files.createDirectories(Paths.get(root, "d/emptydir"))
    Files.createSymbolicLink(Paths.get(root, "d/link-file"), Paths.get(root, "d/a.test.stdout"))
    Files.createSymbolicLink(Paths.get(root, "d/link-dir"), Paths.get(root, "d/nested"))
    Files.createSymbolicLink(Paths.get(root, "d/dangling"), Paths.get(root, "d/gone"))
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem
    raw.initialize(java.net.URI.create("file:///"), conf)
    val nio = HadoopFs.forPath(new Path(root), conf)
    def listing(fs: org.apache.hadoop.fs.FileSystem, p: Path) =
      fs.listStatus(p).map(s => (s.getPath.toString, s.isDirectory, s.getLen,
        s.getModificationTime)).toSeq.sorted
    for (dir <- Seq(s"$root/d", s"file://$root/d", s"$root/d/nested", s"$root/d/link-dir",
                    s"$root/d/emptydir", s"$root/d/a.test.stdout", s"$root/d/link-file")) {
      val p = new Path(dir)
      assert(listing(nio, p) == listing(raw, p), dir)
    }
    // 10 entries, less the dangling link
    assert(listing(nio, new Path(s"$root/d")).size == 9)
    intercept[java.io.FileNotFoundException](nio.listStatus(new Path(s"$root/nope")))
  }

  test("the publish sources open file systems only through HadoopFs.forPath") {
    // `getFileSystem` on file:// is the checksumming LocalFileSystem
    // (a `.crc` sidecar per file written) and `FileUtil.copy` takes
    // whatever FS it is handed; both would bypass forPath's raw local
    // FS and its in-process chmod.
    val banned = Seq("getFileSystem(", "FileUtil.copy(")
    Seq("sources/BenchIngest.scala", "operators/BenchSinks.scala").foreach { f =>
      val hits = for (l <- codeLines(f); b <- banned if l.contains(b)) yield l.trim
      assert(hits.isEmpty, s"$f opens a file system outside HadoopFs.forPath: $hits")
    }
  }

  test("durable checkpoint writes live only in Tables") {
    // Tables.artifact alone decides what is written durably; a query
    // module's intermediates are plain localCheckpoint()s.
    val root = Paths.get("src/main/scala/graft")
    val banned = Seq(".checkpoint(", "setCheckpointDir(")
    val files = Files.walk(root).iterator().asScala.toSeq
      .map(root.relativize(_).toString)
      .filter(f => f.endsWith(".scala") && f != "sources/Tables.scala")
    assert(files.size > 20, s"source scan found only $files")
    val hits = for (f <- files; l <- codeLines(f); b <- banned if l.contains(b))
      yield s"$f: ${l.trim}"
    assert(hits.isEmpty, s"durable checkpoint outside Tables: $hits")
  }
}
