package cubebench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Benchmark-side job recorder: keys every Spark job and SQL execution on
  * the `cube:<stage>` job description the engine sets, and sums task
  * metrics per stage. A stage's wall time is the union of its jobs' and SQL
  * executions' spans (an execution also covers its query planning). The
  * listener bus delivers events on one thread; readers drain the bus first
  * (see [[org.apache.spark.CubebenchBus]]).
  */
final class JobRecorder extends SparkListener {
  final case class Job(id: Int, desc: String, start: Long) {
    @volatile var end: Long = -1L
  }
  final class StageAcc {
    var tasks = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageOwner = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAcc]
  private val sqlOpen = mutable.Map.empty[Long, (String, Long)]
  private val sqlSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlOpen(s.executionId) = (s.description, s.time)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqlOpen.remove(x.executionId).foreach { case (d, t) => sqlSpans += ((d, t, x.time)) }
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val d = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, d, e.time)
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stageOwner.clear(); stages.clear(); sqlOpen.clear(); sqlSpans.clear()
  }

  /** Roll up the jobs that started inside [t0, t1] (epoch ms). */
  def window(t0: Long, t1: Long, slots: Int): Trace.Window = synchronized {
    val js = jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
    def accs(j: Job) = stageOwner.collect { case (s, o) if o == j.id => s }
      .flatMap(stages.get)
    val cubeJobs = js.filter(_.desc.startsWith("cube:"))
    val spans = cubeJobs.map(j => (j.desc, j.start, if (j.end > 0) j.end else t1)) ++
      sqlSpans.filter(x => x._1.startsWith("cube:") && x._2 >= t0 && x._2 <= t1)
    val cpuByStage = cubeJobs.groupBy(j => Trace.stageKey(j.desc))
      .map { case (k, g) => k -> g.flatMap(accs).map(_.cpuNs).sum / 1e9 }
    val stageRows = spans.groupBy(x => Trace.stageKey(x._1)).map { case (k, g) =>
      k -> Trace.Row(Trace.union(g.map(x => (x._2, x._3))) / 1e3, cpuByStage.getOrElse(k, 0.0))
    }
    val all = js.flatMap(accs)
    val wall = (t1 - t0) / 1e3
    val cpu = all.map(_.cpuNs).sum / 1e9
    val covered = Trace.union(spans.map(x => (x._2, x._3))) / 1e3
    Trace.Window(wall, stageRows, js.size, all.map(_.tasks).sum,
      all.map(_.shuffleWrite).sum / 1e6, all.map(_.spill).sum / 1e6,
      cpu / (wall * slots), covered)
  }
}

object Trace {
  /** The ten stages the engine tags, by their short names. */
  val Stages = Seq("plan", "decode", "quarantine", "composite", "index", "items",
    "quicklook", "cogs", "ledger", "readback")

  def stageKey(desc: String): String = desc.stripPrefix("cube:") match {
    case "decode+bucket"            => "decode"
    case "composite+publish:blocks" => "composite"
    case s if s.startsWith("publish:") => s.stripPrefix("publish:")
    case s                          => s
  }

  final case class Row(wallS: Double, cpuS: Double)
  final case class Window(wallS: Double, stages: Map[String, Row], jobs: Int,
                          tasks: Long, shuffleMb: Double, spillMb: Double,
                          cpuUtil: Double, coveredS: Double) {
    def coverage: Double = coveredS / wallS
  }

  /** Total length of the union of [start, end] intervals, in ms. */
  def union(spans: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- spans.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMillis(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  /** Peak old-generation occupancy right after a collection, in bytes. */
  object LiveHeap {
    @volatile var peak = 0L
    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
            n.getUserData match {
              case cd: javax.management.openmbean.CompositeData
                  if n.getType == "com.sun.management.gc.notification" =>
                val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
                info.getGcInfo.getMemoryUsageAfterGc.asScala
                  .collect { case (pool, u) if pool.contains("Old Gen") => u.getUsed }
                  .foreach(u => if (u > peak) peak = u)
              case _ => ()
            }
          }, null, null)
        case _ => ()
      }
  }
}
