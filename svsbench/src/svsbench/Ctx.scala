package svsbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Kb

/** Per-run state shared by the workloads: the session, the tracer, the
  * Spark counters, the metrics collected so far and the correctness
  * tally.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val root: Path) {

  val tracer = new Tracer(trace)
  val counters = new SparkCounters
  spark.sparkContext.addSparkListener(counters)

  /** End-to-end metrics (name -> (value, unit)), reported when untraced. */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics, reported when traced. */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Figures the run prints by name but BENCHMARK.json does not gate. */
  val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
  val sizes = mutable.LinkedHashMap.empty[String, Long]
  /** How many ops of each kind ran. */
  val opCounts = mutable.Map.empty[String, Long]

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one attempted operation; a thrown error or a false check
    * counts it as failed. */
  def attempt(what: String)(ok: => Boolean): Unit = synchronized {
    attempted += 1
    val problem = try { if (ok) None else Some(what) } catch {
      case e: Exception => Some(s"$what: $e")
    }
    problem.foreach { p =>
      failed += 1
      if (failures.size < 50) failures += p
    }
  }

  /** Record a correctness check as its own attempted operation. */
  def check(what: String)(ok: => Boolean): Unit = attempt(s"check $what")(ok)

  def sc = spark.sparkContext

  /** Run `body` as an op of `kind`: its Spark jobs are attributed to
    * the kind and, when tracing, it is one span. Returns (result, ms).
    */
  def timed[A](kind: String, op: Int = -1)(body: => A): (A, Double) = {
    opCounts.synchronized { opCounts(kind) = opCounts.getOrElse(kind, 0L) + 1 }
    SparkCounters.as(sc, kind) {
      tracer.span(kind, op) {
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1e6)
      }
    }
  }

  def openKb(name: String, provider: ClusteredProvider): Kb =
    Kb(spark, root.resolve(name).toString, provider)
}

object Ctx {
  /** Bytes and regular-file count under a directory. */
  def dirStats(p: Path): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    var bytes = 0L
    var files = 0L
    val it = Files.walk(p)
    try it.forEach { f =>
      if (Files.isRegularFile(f)) { bytes += Files.size(f); files += 1 }
    } finally it.close()
    (bytes, files)
  }

  def dirStats(s: String): (Long, Long) = dirStats(Paths.get(s))

  /** Heap used after a full collection, in MiB. Spark frees
    * unpersisted blocks asynchronously, so collect until two readings
    * agree within 1 MiB (at most eight rounds). */
  def heapRetainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = prev
    var i = 0
    do {
      Thread.sleep(50)
      prev = cur
      cur = used()
      i += 1
    } while (math.abs(cur - prev) > 1.0 && i < 8)
    math.min(cur, prev)
  }

  def gcCount(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionCount)).sum
  }

  /** Peak heap use since JVM start, in MiB (sum of heap pool peaks). */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
