package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Execution counters of a session's Spark jobs — jobs started, tasks
  * ended, executor task CPU, shuffle-write bytes (each exchange writes its
  * input once, so a delta measures data moved independent of host speed)
  * and the longest task run. Listener events arrive asynchronously: after
  * an action, read through [[quietCpuNs]], which waits for them to drain.
  */
final class TaskCounters extends SparkListener {
  val jobs, tasks, cpuNs, shuffleBytes, maxTaskMs = new AtomicLong(0)

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = te.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      maxTaskMs.accumulateAndGet(m.executorRunTime, (a, b) => math.max(a, b))
    }
  }

  def reset(): Unit = Seq(jobs, tasks, cpuNs, shuffleBytes, maxTaskMs).foreach(_.set(0))

  /** task CPU once it has stayed unchanged for 40 ms, waiting at most 2 s */
  def quietCpuNs(): Long = {
    var prev = cpuNs.get(); var stableMs = 0; var waited = 0
    while (stableMs < 40 && waited < 2000) {
      Thread.sleep(10); waited += 10
      val cur = cpuNs.get()
      if (cur == prev) stableMs += 10 else { stableMs = 0; prev = cur }
    }
    prev
  }
}
