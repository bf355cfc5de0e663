package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Records each Spark job's wall window, stage count and description for
  * the profiling tools' per-job and per-stage rollups. The description
  * is `spark.job.description` (CubeRun's `cube:<stage>` markers), or the
  * job's short call site when untagged. Registers itself on `sc`.
  */
final class JobRecorder(sc: SparkContext) extends SparkListener {
  import JobRecorder.Job

  private val jobs = scala.collection.concurrent.TrieMap.empty[Int, Job]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageInfos.size, desc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))

  def clear(): Unit = jobs.clear()

  /** Jobs recorded since the last [[clear]], in job-id order. */
  def recorded: Seq[Job] = jobs.values.toSeq.sortBy(_.id)

  /** (description, summed seconds, job count) per description, slowest
    * first; unfinished jobs count 0 s. */
  def byDescription: Seq[(String, Double, Int)] =
    recorded.groupBy(_.desc).toSeq
      .map { case (d, js) => (d, js.map(j => math.max(j.seconds, 0.0)).sum, js.size) }
      .sortBy(-_._2)
}

object JobRecorder {
  final case class Job(id: Int, start: Long, end: Long, stages: Int,
                       desc: String) {
    /** Wall seconds, or -1 while the job is unfinished. */
    def seconds: Double = if (end > 0) (end - start) / 1e3 else -1.0
  }
}
