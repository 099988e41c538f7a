package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
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

  /** The raw local FS with `setPermission` done in-process. Without
    * Hadoop's native library `RawLocalFileSystem` sets a mode by forking
    * `chmod`, and every `create` and every `mkdirs` sets one: about
    * 5 ms per file, most of a deploy of small series files. This sets
    * the same mode through `java.nio`; only a mode NIO cannot express
    * (the sticky bit) takes Hadoop's own path.
    */
  private final class NioModeLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
        java.nio.file.attribute.PosixFilePermissions.fromString(
          permission.toString))
  }
}
