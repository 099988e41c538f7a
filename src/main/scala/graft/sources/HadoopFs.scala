package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The Hadoop FileSystem that the stdout reader, the deploy sink and
  * the asset copy open their files through, on the driver and on
  * executors alike.
  *
  * All three pass the session's `sessionState.newHadoopConf()`. A
  * `spark.hadoop.*` deploy setting (object-store credentials, an
  * endpoint, `fs.<scheme>.impl`) reaches that conf only when it is set
  * on the session builder (or as a `--conf` / spark-defaults entry),
  * where Spark strips the prefix. Set at run time with
  * `spark.conf.set("spark.hadoop.…")`, it is copied with its prefix kept
  * and no FileSystem reads it. An unprefixed key set at run time
  * (`spark.conf.set("fs.<scheme>.impl", …)`) does reach the conf.
  *
  * The tree is read through this FS once per publish:
  * `BenchIngest.ingest` is eager and returns a local checkpoint that
  * both sinks read, so a long-lived caller that publishes again and
  * again frees each fact with `Tables.freeCheckpoint` once its sinks
  * are written.
  */
object HadoopFs {

  /** The FileSystem of `path`'s scheme; for `file://` (and scheme-less)
    * paths a fresh [[NioModeLocalFs]]. The cached `LocalFileSystem`
    * checksums: it writes `.crc` sidecars next to every file a sink
    * creates, and it probes for them on every open. Any other scheme
    * (hdfs://, s3a://, a test scheme) keeps its registered FileSystem.
    */
  def forPath(path: Path, conf: Configuration): FileSystem = {
    val fs = path.getFileSystem(conf)
    if (fs.getScheme == "file") {
      val raw = new NioModeLocalFs
      raw.initialize(java.net.URI.create("file:///"), conf)
      raw
    } else fs
  }

  /** The raw local FS with `setPermission` and directory listing done
    * in-process. Without Hadoop's native library `RawLocalFileSystem`
    * sets a mode by forking `chmod`, and every `create` and every
    * `mkdirs` sets one: about 5 ms per file, most of a deploy of small
    * series files. This sets the same mode through `java.nio`; only a
    * mode NIO cannot express (the sticky bit) takes Hadoop's own path.
    *
    * `RawLocalFileSystem.listStatus` stats each entry of a directory
    * several times over (exists, length, is-dir, two times). This reads
    * each entry once, by one directory stream and one `readAttributes`,
    * into a status with the same path, kind, length and times; like
    * Hadoop's, it follows symlinks and skips an entry that cannot be
    * stat'ed (a dangling link, a file deleted meanwhile). It stats an
    * entry by its decoded name, so a listed path is one this FS can
    * open: where `sun.jnu.encoding` cannot encode a name (a non-ASCII
    * name without a UTF-8 locale) that throws InvalidPathException,
    * where Hadoop's listing drops the entry unseen. It does not
    * read owner, group or mode (Hadoop's status forks `ls` for them
    * when first asked), so those read as `FileStatus` defaults; the
    * publish reads only path, kind and length. A file or a missing
    * path takes Hadoop's own path.
    */
  private final class NioModeLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        java.nio.file.attribute.PosixFilePermissions.fromString(
          permission.toString))

    override def listStatus(f: Path): Array[FileStatus] = {
      val dir = pathToFile(f).toPath
      if (!Files.isDirectory(dir)) return super.listStatus(f)
      val blockSize = getDefaultBlockSize(f)
      val entries = Files.newDirectoryStream(dir)
      try entries.iterator().asScala.flatMap { e =>
        val name = e.getFileName.toString
        try {
          val a = Files.readAttributes(dir.resolve(name), classOf[BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, blockSize,
            a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis, null, null, null,
            new Path(pathToFile(new Path(f, new Path(null, null, name))).getPath)
              .makeQualified(getUri, getWorkingDirectory)))
        } catch { case _: java.io.IOException => None }
      }.toArray
      finally entries.close()
    }
  }
}
