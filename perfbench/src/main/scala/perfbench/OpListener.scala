package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Attributes Spark jobs, tasks, shuffle bytes and spill to the benchmark
  * op that was running when the job started. Each op runs under its own
  * job group (`op-<id>`); jobs submitted from pool threads that did not
  * inherit the group fall back to the op current at submission — the
  * benchmark is a single closed-loop client, so at most one op runs. */
final class OpListener extends SparkListener {
  import OpListener.OpStats
  @volatile var current: Int = -1

  private val stats = mutable.HashMap.empty[Int, OpStats]
  private val jobOp = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toInt).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    if (op >= 0) {
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach(stageOp(_) = op)
      stats.getOrElseUpdate(op, OpStats()).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) =>
      stats.getOrElseUpdate(op, OpStats()).jobSpans += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val s = stats.getOrElseUpdate(op, OpStats())
      s.tasks += 1
      val d = e.taskInfo.duration
      s.taskMs += d
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += d
      Option(e.taskMetrics).foreach { m =>
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def of(op: Int): OpStats = synchronized(stats.getOrElse(op, OpStats()))

  /** Wall time of [t0, t1] (epoch ms) that no job of `op` covers. */
  def driverGapMs(op: Int, t0: Long, t1: Long): Long = synchronized {
    var covered = 0L
    var end = t0
    of(op).jobSpans.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, end)
      val to = math.min(b, t1)
      if (to > from) { covered += to - from; end = to }
    }
    math.max(0L, (t1 - t0) - covered)
  }

  /** Mean over stages with at least two tasks of max / median task time. */
  def taskSkew: Double = synchronized {
    val r = stageTasks.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (r.isEmpty) 1.0 else r.sum / r.size
  }
}

object OpListener {
  final case class OpStats(var jobs: Int = 0, var tasks: Long = 0,
      var taskMs: Long = 0, var shuffleBytes: Long = 0,
      var spillBytes: Long = 0,
      jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty)
}
