package org.apache.spark.sql.graftbridge

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}

/** A hash-partitioned frame whose shuffle files are its only copy: every
  * action re-reads them, and the frame reports the partitioning they were
  * written with, so aggregates and joins on a superset of the keys plan no
  * Exchange over it. Spark's public API offers no such frame: `persist`
  * keeps the partitioning but stores a second, uncompressed copy, and
  * `localCheckpoint` stores a copy and reports no partitioning. Nor can it
  * remove a shuffle's files before a driver GC lets the ContextCleaner
  * find them, which on a quiet driver can take until its 30-minute
  * periodic GC.
  */
object ShuffledScan {
  /** `df` hash-partitioned on `keys` into `numPartitions` partitions.
    * Under adaptive execution the shuffle is written here, otherwise by
    * the first action; its runtime size, when known, guides join planning.
    */
  def apply(df: DataFrame, keys: Seq[String],
            numPartitions: Int): DataFrame = {
    val clustered = df.repartition(numPartitions, keys.map(df.col): _*)
      .asInstanceOf[classic.Dataset[_]]
    val qe = clustered.queryExecution
    val rdd = qe.toRdd
    require(rdd.getNumPartitions == numPartitions,
      s"shuffle read has ${rdd.getNumPartitions} partitions, " +
        s"not $numPartitions")
    val output = qe.analyzed.output
    val keyAttrs = keys.map(k => output.find(_.name == k).get)
    def stats(p: SparkPlan): Option[Statistics] = p match {
      case a: AdaptiveSparkPlanExec => stats(a.executedPlan)
      case s: ShuffleQueryStageExec => Some(s.getRuntimeStatistics)
      case q: QueryStageExec => stats(q.plan)
      case _ => p.children.view.flatMap(stats).headOption
    }
    val session = clustered.sparkSession
    classic.Dataset.ofRows(session, LogicalRDD(output, rdd,
      HashPartitioning(keyAttrs, numPartitions), Nil, isStreaming = false)(
      session, stats(qe.executedPlan), None))
  }

  /** Removes the files of the shuffles `df` reads, as the ContextCleaner
    * would later (its cleanup is then a no-op). No job may read `df` again.
    */
  def release(df: DataFrame): Unit = {
    def shufflesRead(rdd: RDD[_]): Seq[Int] = rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => Seq(s.shuffleId)
      case d => shufflesRead(d.rdd)
    }
    val sc = df.sparkSession.sparkContext
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
      .collect { case r: LogicalRDD => r.rdd }
      .flatMap(shufflesRead).distinct
      .foreach(id => sc.cleaner.foreach(_.doCleanupShuffle(id, blocking = true)))
  }
}
