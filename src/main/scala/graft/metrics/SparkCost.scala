package graft.metrics

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusDrain
import scala.collection.mutable

/** Spark's own cost of a body of work — the one SparkListener of the
  * project. It records every job (wall time and description) and, per
  * stage, executor run and CPU time, tasks, input bytes, shuffle read and
  * write bytes, memory and disk spill, and GC time. Use it through
  * [[SparkCost.measure]], which scopes it to one body and drains the
  * listener bus before reading, so the totals are complete on return. */
final class SparkCost private () extends SparkListener {
  import SparkCost._

  private val jobsById = mutable.HashMap.empty[Int, Job]
  private val stagesById = mutable.HashMap.empty[Int, Stage]

  private def stage(id: Int): Stage = stagesById.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.nonEmpty)
      .getOrElse(e.stageInfos.map(s => s"${firstLine(s.name)}(n=${s.numTasks})")
        .mkString(" | "))
    jobsById(e.jobId) = Job(e.jobId, e.time, -1L, desc)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(j => jobsById(e.jobId) = j.copy(endMs = e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).name = firstLine(e.stageInfo.name)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val st = stage(e.stageId)
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.cpuMs += m.executorCpuTime / 1000000
      st.gcMs += m.jvmGCTime
      st.inputBytes += m.inputMetrics.bytesRead
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.memorySpillBytes += m.memoryBytesSpilled
      st.diskSpillBytes += m.diskBytesSpilled
    }
  }

  def jobs: Seq[Job] = synchronized(jobsById.values.toSeq.sortBy(_.id))
  def stages: Seq[Stage] = synchronized(stagesById.values.toSeq.sortBy(_.id))

  /** Every stage's counters summed (named "total"). */
  def totals: Stage = stages.foldLeft(new Stage(-1, "total"))(_ add _)

  /** Jobs of ≥ 20 ms with their descriptions, then the top 25 stages by
    * summed task run time. */
  def report(): String = {
    val sb = new StringBuilder
    val js = jobs
    val wall = js.filter(_.endMs > 0).map(_.wallMs).sum
    sb.append(f"jobs=${js.size} summed-job-wall=${wall}ms%n")
    js.foreach { j =>
      if (j.endMs > 0 && j.wallMs >= 20)
        sb.append(f"  job ${j.id}%4d ${j.wallMs}%6d ms  ${j.description}%n")
    }
    sb.append("top stages by summed task run time:\n")
    stages.sortBy(-_.runMs).take(25).foreach { st =>
      sb.append(f"  stage ${st.id}%4d run=${st.runMs}%7d cpu=${st.cpuMs}%7d gc=${st.gcMs}%5d " +
        f"tasks=${st.tasks}%4d in=${st.inputBytes / 1024}%8dK " +
        f"sr=${st.shuffleReadBytes / 1024}%7dK sw=${st.shuffleWriteBytes / 1024}%7dK " +
        f"spill=${st.memorySpillBytes / 1024}%6dK  ${st.name}%n")
    }
    sb.toString
  }
}

object SparkCost {

  final case class Job(id: Int, startMs: Long, endMs: Long, description: String) {
    def wallMs: Long = endMs - startMs
  }

  final class Stage(val id: Int, var name: String = "") {
    var tasks = 0
    var runMs, cpuMs, gcMs = 0L
    var inputBytes, shuffleReadBytes, shuffleWriteBytes = 0L
    var memorySpillBytes, diskSpillBytes = 0L

    private[SparkCost] def add(o: Stage): Stage = {
      tasks += o.tasks; runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
      inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
      shuffleWriteBytes += o.shuffleWriteBytes
      memorySpillBytes += o.memorySpillBytes; diskSpillBytes += o.diskSpillBytes
      this
    }
  }

  private def firstLine(s: String): String = s.takeWhile(_ != '\n').take(80)

  /** Run `body` with a fresh SparkCost attached and return it once every
    * event of the body's jobs has been delivered. The bus is drained
    * before attaching too, so earlier work's queued events stay out. */
  def measure(spark: SparkSession)(body: => Unit): SparkCost = {
    val sc = spark.sparkContext
    val cost = new SparkCost
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(cost)
    try { body; ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(cost)
    cost
  }
}
