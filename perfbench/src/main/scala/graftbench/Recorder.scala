package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** Cumulative Spark counters, fed by the listener bus. Readers call
  * [[take]], which drains the bus first, so a reading taken after an
  * action returns covers every task of that action. */
final class Recorder(sc: SparkContext) extends SparkListener {
  import Recorder.Reading

  private var jobs = 0L
  private var taskMs = 0L
  private var shuffleBytes = 0L
  private var spillBytes = 0L
  private var recordsRead = 0L
  private var peakExecBytes = 0L
  private val tasks = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      recordsRead += m.inputMetrics.recordsRead
      peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
    }
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  /** Drain the listener bus, return everything recorded since the last
    * call, and reset. */
  def take(): Reading = {
    org.apache.spark.ListenerBusDrain.drain(sc)
    synchronized {
      val r = Reading(jobs, taskMs, shuffleBytes, spillBytes, recordsRead,
        peakExecBytes, tasks.toList)
      jobs = 0; taskMs = 0; shuffleBytes = 0; spillBytes = 0
      recordsRead = 0; peakExecBytes = 0; tasks.clear()
      r
    }
  }
}

object Recorder {

  /** Counters accumulated between two [[Recorder.take]]s. `tasks` holds
    * each task's (launch, finish) epoch-ms interval. */
  final case class Reading(jobs: Long, taskMs: Long, shuffleBytes: Long,
                           spillBytes: Long, recordsRead: Long,
                           peakExecBytes: Long, tasks: Seq[(Long, Long)])
}
