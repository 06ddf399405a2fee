package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), small local parallelism. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(s: String): String = s"/root/testdata/sf$s"
}

object SparkSpec {
  /** One temp root per test JVM: the session warehouse and every
    * fixture directory ([[tempDir]]) live under it, and a shutdown hook
    * deletes it, so a test run leaves nothing behind in the system temp
    * directory. */
  lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-test")
    sys.addShutdownHook(deleteTree(root))
    root
  }

  /** A fresh fixture directory under [[tempRoot]]. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)

  /** Best-effort recursive delete: an entry that vanishes or cannot be
    * removed is skipped, never fatal at JVM exit. */
  private def deleteTree(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach { p =>
          try Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () }
        }
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }

  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", tempDir("graft-wh").toString)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
