package perfbench

import org.apache.spark.scheduler._

/** The Spark jobs the program launches, seen from outside it: a listener
  * that sums job, stage and task metrics over the jobs whose job group
  * starts with `prefix` (the benchmark sets one group per measured op). */
final class ExecStats(prefix: String) extends SparkListener {
  private val stageInScope = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var runNs = 0L
  @volatile var cpuNs = 0L
  @volatile var gcNs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (g.exists(_.startsWith(prefix))) {
      jobs += 1
      e.stageIds.foreach(s => stageInScope.put(s, true))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    if (stageInScope.containsKey(e.stageInfo.stageId)) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    if (m != null && stageInScope.containsKey(e.stageId)) {
      tasks += 1
      runNs += m.executorRunTime * 1000000L
      cpuNs += m.executorCpuTime
      gcNs += m.jvmGCTime * 1000000L
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  /** Wait until the asynchronous listener bus has delivered every event:
    * the event count must hold still for three polls (bounded at 10 s). */
  def drain(): Unit = {
    var last = -1L; var stable = 0; var waited = 0
    while (stable < 3 && waited < 10000) {
      Thread.sleep(100); waited += 100
      val now = synchronized(events)
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }
}
