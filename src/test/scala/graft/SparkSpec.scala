package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"

  /** A fresh temp dir, deleted when the test JVM exits. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.getPath
  }

  /** The lines of `src/main/scala/graft/<f>` with comments blanked, so
    * an index is still a line number. */
  def codeLines(f: String): Seq[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("src/main/scala/graft", f))
      .asScala.toSeq
      .map(_.replaceAll("//.*", ""))
      .map { l => val t = l.trim; if (t.startsWith("*") || t.startsWith("/*")) "" else l }

  /** How many Spark jobs `body` starts. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.GraftBusShim.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; org.apache.spark.GraftBusShim.drain(sc) }
    finally sc.removeSparkListener(l)
    jobs.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
