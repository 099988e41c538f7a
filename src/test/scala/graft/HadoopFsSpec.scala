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

  /** The code lines of `src/main/scala/graft/<f>`, comments dropped. */
  private def codeLines(f: String): Seq[String] =
    Files.readAllLines(Paths.get("src/main/scala/graft", f))
      .toArray(Array.empty[String]).toSeq
      .map(_.replaceAll("//.*", ""))
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("/*") }
}
