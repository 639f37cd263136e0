package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
}

object SparkSuite {
  /** Create a temp directory that is recursively deleted when the test JVM
    * exits (ADVICE r15: suites were leaking graft-* parquet dirs into /tmp
    * on every run). One shutdown hook for all registered dirs.
    */
  def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    cleanupDirs.synchronized { cleanupDirs += d }
    d.toString
  }

  private val cleanupDirs = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    cleanupDirs.synchronized(cleanupDirs.toSeq).foreach { root =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: java.io.IOException => () } // best-effort at exit
    }))

  /** [[GraftSession.builder]]'s settings at 4 cores, with a per-run
    * warehouse and the test app name.
    */
  lazy val session: SparkSession =
    GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", scratchDir("graft-warehouse"))
      .getOrCreate()
}
