package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev aid: run ONE SparkEntry query (or a comma-separated list, sharing
  * one warmed JVM) and print a per-job wall-time breakdown (job id,
  * seconds, stage count, task count, description) so a slow bench entry
  * can be attributed to its dominant jobs instead of guessed at. Usage:
  *   sbt "runMain graft.tools.ProfileOne <query>[,<query>...] [sfDir]"
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(sys.error("usage: ProfileOne <query>[,...] [sfDir]"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val name = names.head
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    // same scratch election as Bench — profiling on a different
    // spill device than the bench would mis-attribute shuffle cost
    val spark = graft.core.Scratch.configure(SparkSession.builder()
      .master("local[32]")
      .appName(s"profile-$name")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.install(spark)

    // warmup (JIT + codegen cache)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()

    val jobs = new JobRecorder(spark.sparkContext)

    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    for (name <- names; p <- 1 to passes) {
      val fn = graft.SparkEntry.queries(name)
      jobs.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      // unfinished jobs print as -1 s but count as 0
      val recs = jobs.recorded
      println(f"== pass $p: $name total ${total}%.3f s, ${recs.size} jobs ==")
      recs.foreach { j =>
        println(f"  job ${j.id}%3d ${j.seconds}%7.3f s  stages=${j.stages}%2d  ${j.desc.take(100)}")
      }
      val acct = recs.map(j => math.max(j.seconds, 0)).sum
      println(f"  (job-accounted ${acct}%.3f s of ${total}%.3f s; gap = driver/planning time)")
      // rollup by description: operators that tag their stages (e.g.
      // CubeRun's `cube:<stage>` markers) get a direct per-stage total
      jobs.byDescription.foreach { case (d, sec, n) =>
        println(f"  stage ${sec}%7.3f s  jobs=$n%3d  ${if (d.isEmpty) "<untagged>" else d.take(80)}")
      }
    }
    spark.stop()
  }
}
