package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}

/** The Hadoop FileSystem that the stdout reader and the deploy sink
  * open their files through, on the driver and on executors alike.
  */
object HadoopFs {

  /** The FileSystem of `path`'s scheme; for `file://` (and scheme-less)
    * paths a fresh raw local FS. The cached `LocalFileSystem` checksums:
    * it writes `.crc` sidecars next to every file a sink creates, and it
    * probes for them on every open. Any other scheme (hdfs://, s3a://,
    * a test scheme) keeps its registered FileSystem.
    */
  def forPath(path: Path, conf: Configuration): FileSystem = {
    val fs = path.getFileSystem(conf)
    if (fs.getScheme == "file") {
      val raw = new RawLocalFileSystem
      raw.initialize(java.net.URI.create("file:///"), conf)
      raw
    } else fs
  }
}
