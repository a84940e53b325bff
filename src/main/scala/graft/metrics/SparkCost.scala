package graft.metrics

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusDrain
import scala.collection.mutable

/** Spark's own cost of a body of work — the one SparkListener of the
  * project. It records every job carrying its job tag (wall time and
  * description) and, per stage of those jobs, executor run and CPU time,
  * tasks, input bytes, shuffle read and write bytes, memory and disk
  * spill, and GC time. Use it through [[SparkCost.measure]], which scopes
  * it to one body and drains the listener bus before reading, so the
  * totals are complete on return. */
final class SparkCost private (tag: String) extends SparkListener {
  import SparkCost._

  private val jobsById = mutable.HashMap.empty[Int, Job]
  private val stagesById = mutable.HashMap.empty[Int, Stage]
  private val ownStages = mutable.HashSet.empty[Int]

  private def stage(id: Int): Stage = stagesById.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(p => Option(p.getProperty(TagsKey)).exists(_.split(',').contains(tag)))) {
      val desc = props
        .flatMap(p => Option(p.getProperty(DescriptionKey)))
        .filter(_.nonEmpty)
        .getOrElse(e.stageInfos.map(s => s"${firstLine(s.name)}(n=${s.numTasks})")
          .mkString(" | "))
      jobsById(e.jobId) = Job(e.jobId, e.time, -1L, desc)
      ownStages ++= e.stageIds
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(j => jobsById(e.jobId) = j.copy(endMs = e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (ownStages(e.stageInfo.stageId))
      stage(e.stageInfo.stageId).name = firstLine(e.stageInfo.name)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && ownStages(e.stageId)) {
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

  private val tags = new java.util.concurrent.atomic.AtomicLong()

  // the local properties holding a thread's job tags (comma-separated,
  // as `SparkContext.addJobTag` keeps them) and its job description
  private val TagsKey = "spark.job.tags"
  private val DescriptionKey = "spark.job.description"

  /** Run `body` with a fresh SparkCost attached and return it once every
    * event of the body's jobs has been delivered. The body runs with a
    * fresh job tag added to the thread's tags and with the caller's job
    * description (or the tag, when there is none), so only jobs started
    * from this thread — and from the threads it starts, such as adaptive
    * execution's query-stage submissions, which inherit its local
    * properties — are counted, and each carries that description. A tag
    * leaves the caller's job group in place, so `cancelJobGroup` still
    * reaches the body's jobs. The tag is removed and the caller's
    * description restored afterwards. The bus is drained before
    * attaching too, so earlier work's queued events stay out. */
  def measure(spark: SparkSession)(body: => Unit): SparkCost = {
    val sc = spark.sparkContext
    val tag = s"graft-cost-${tags.incrementAndGet()}"
    val cost = new SparkCost(tag)
    val description = sc.getLocalProperty(DescriptionKey)
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(cost)
    sc.addJobTag(tag)
    sc.setJobDescription(Option(description).getOrElse(tag))
    try { body; ListenerBusDrain.drain(sc) }
    finally {
      sc.removeJobTag(tag)
      sc.setJobDescription(description)
      sc.removeSparkListener(cost)
    }
    cost
  }
}
