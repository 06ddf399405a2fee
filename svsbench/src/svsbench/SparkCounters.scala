package svsbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-layer counters attributed to the benchmark op kind that
  * submitted each job. The op kind travels as a thread-local Spark
  * property ([[SparkCounters.OpProperty]]), which Spark copies onto
  * every job the calling thread submits.
  */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var queueWaitMs = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  private val byOp = mutable.Map.empty[String, Acc]
  private val jobOp = mutable.Map.empty[Int, String]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSubmit = mutable.Map.empty[Int, Long]

  private def acc(op: String): Acc = byOp.getOrElseUpdate(op, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkCounters.OpProperty)))
      .getOrElse("other")
    jobOp(e.jobId) = op
    jobSubmit(e.jobId) = e.time
    e.stageIds.foreach { s => stageOp(s) = op; stageJob(s) = e.jobId }
    acc(op).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      acc(stageOp.getOrElse(e.stageInfo.stageId, "other")).stages += 1
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    // queue wait: job submission until its first task starts
    stageJob.get(e.stageId).foreach { j =>
      jobSubmit.remove(j).foreach { t0 =>
        acc(jobOp(j)).queueWaitMs += math.max(0L, e.taskInfo.launchTime - t0)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageOp.getOrElse(e.stageId, "other"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: Map[String, Acc] = synchronized(byOp.toMap)
}

object SparkCounters {
  val OpProperty = "svsbench.op"

  /** Run `body` with its Spark jobs attributed to `op`. */
  def as[A](sc: SparkContext, op: String)(body: => A): A = {
    val prev = sc.getLocalProperty(OpProperty)
    sc.setLocalProperty(OpProperty, op)
    try body finally sc.setLocalProperty(OpProperty, prev)
  }
}
