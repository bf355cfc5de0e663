package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; Spark's
  * getOrCreate makes this cheap across suites).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** Runs `body` and sums the shuffle records written by the tasks of
    * every job whose description is `description` (the `cube:<stage>`
    * tags `CubeRun` sets) while it ran; also returns the ids of the
    * shuffles those jobs' stages write.
    */
  def shuffleRecordsWrittenBy[T](description: String)(
      body: => T): (T, Long, Set[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffles = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong
    val probe = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.job.description") == description))
          j.stageInfos.foreach { s =>
            stages.add(s.stageId)
            org.apache.spark.ShuffleFiles.writtenBy(s).foreach(shuffles.add(_))
          }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null && stages.contains(t.stageId))
          records.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(probe)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain.drain(sc)
      import scala.jdk.CollectionConverters._
      (r, records.get, shuffles.asScala.toSet)
    } finally sc.removeSparkListener(probe)
  }

  /** Ids of the shuffles that still have files in the local dirs. */
  def shufflesOnDisk(): Set[Int] =
    org.apache.spark.ShuffleFiles.onDisk(spark.sparkContext)

  /** The persisted RDDs and catalog tables of the shared session. */
  def scratchState(): (Set[Int], Set[String]) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      spark.catalog.listTables().collect().map(_.name).toSet)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.Scratch.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
