package graft.tools

import org.apache.spark.sql.SparkSession
import graft.model.{Band, Collection, MaskDef}

/** Dev aid: soak [[graft.cube.CubeRun]] at an sf0.1-class synthetic scale
  * with COG publication ON and print the per-stage wall rollup — the
  * measured row behind the read-back's "composite executes once per run"
  * scale claim (the toy e2e gate is driver-overhead-bound; this run is
  * data-bound enough that the stage ratios mean something).
  *
  * Usage: sbt "runMain graft.tools.ProfileCube [tiles] [dates] [px] [passes]"
  * Defaults: 4 tiles x 8 dates x 3 bands at 1024x1024 px, block 256 —
  * ~100M raster pixels decoded per pass, 2 16-day periods composited and
  * published as COGs into a fresh outDir per pass.
  */
object ProfileCube {
  def main(args: Array[String]): Unit = {
    val tiles = args.lift(0).map(_.toInt).getOrElse(4)
    val dates = args.lift(1).map(_.toInt).getOrElse(8)
    val px = args.lift(2).map(_.toInt).getOrElse(1024)
    val passes = args.lift(3).map(_.toInt).getOrElse(2)
    val spark = graft.core.Scratch.configure(SparkSession.builder()
      .master("local[32]")
      .appName("profile-cube")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.install(spark)

    val nodata = -9999
    val coll = Collection(
      name = "soak", version = 1, grid = "G", compositeFunction = "LCF",
      temporalSchema = "Continuous", temporalUnit = "day", temporalStep = 16,
      bands = Seq(
        Band("B04", "red", "int16", nodata),
        Band("B8A", "nir", "int16", nodata),
        Band("QA", "quality", "uint8", 255)),
      qualityBand = "QA",
      // S11/S12 per-item quicklook (false-color: nir, red, red) so the
      // soak exercises the FULL publication surface the 4x claim covers
      quicklook = Seq("B8A", "B04", "B04"))
    val mask = MaskDef(clearData = Seq(0L, 1L), notClearData = Seq(2L, 3L, 4L),
      nodata = 255L)

    // a reference-dimension pass leaves ~10 GB of blocks+COGs, and the
    // scenes several GB more: both are deleted when the soak ends or a
    // pass throws (an OOM included), unless SPARK_GRAFT_SOAK_KEEP=1, or
    // repeated soaks fill the disk and later runs die on "No space left
    // on device"
    val keep = sys.env.get("SPARK_GRAFT_SOAK_KEEP").contains("1")

    // scene synthesis: deterministic per (tile, date, band); written once,
    // decoded fresh each pass (the outDir is per-pass)
    val sceneDir = java.nio.file.Files.createTempDirectory("soak_scenes")
    try {
      println(s"[soak] writing ${tiles * dates * 3} scenes at ${px}x$px ...")
      val t0w = System.nanoTime()
      for (t <- 1 to tiles; di <- 0 until dates; band <- Seq("B04", "B8A", "QA")) {
        val date = java.time.LocalDate.of(2020, 1, 2).plusDays(di * 3L)
          .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
        val isQa = band == "QA"
        val arr = Array.tabulate(px * px)(i =>
          if (isQa) (if ((i + di) % 5 == 0) 4 else 0)
          else 100 + (i * 7 + di * 13 + t * 31) % 900)
        val bytes = graft.sources.GeoTiff.write(arr, px, px, tileSize = 256,
          originX = 0, originY = px * 10.0, scaleX = 10, scaleY = 10,
          nodata = if (isQa) 255 else nodata)
        java.nio.file.Files.write(
          sceneDir.resolve(f"S_T$t%04d_${date}_$band.tif"), bytes)
      }
      println(f"[soak] scene write ${(System.nanoTime() - t0w) / 1e9}%.1f s")

      val jobs = new JobRecorder(spark.sparkContext)

      // per-pass peak-heap readout (50 ms-sampled max of total used — pool
      // peaks can't be summed, they peak at different instants). A coarse
      // upper bound only: G1 lets garbage ride until a collection, so used
      // saturates toward capacity on long passes — COMPLETION at a given
      // SPARK_DRIVER_MEM is the primary sizing signal, and
      // Scale.recommendedHeapBytes is the rule calibrated from that ladder.
      val memBean = java.lang.management.ManagementFactory.getMemoryMXBean
      val peakUsed = new java.util.concurrent.atomic.AtomicLong(0L)
      val sampler = new Thread(() => {
        while (true) {
          val u = memBean.getHeapMemoryUsage.getUsed
          peakUsed.updateAndGet(p => math.max(p, u)): Unit
          Thread.sleep(50)
        }
      }, "heap-sampler")
      sampler.setDaemon(true)
      sampler.start()

      (1 to passes).foreach { pass =>
        jobs.clear()
        peakUsed.set(0L)
        val outDir = java.nio.file.Files.createTempDirectory("soak_out").toString
        try {
          val t0 = System.nanoTime()
          val r = graft.cube.CubeRun.runTiles(spark, coll, mask, sceneDir.toString,
            outDir,
            java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
            blockSize = 256, publishCogs = true,
            quicklookRange = Some((0.0, 1000.0)))
          val total = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300)
          println(f"== pass $pass: total $total%.1f s  planned=${r.planned} " +
            f"items=${r.items} blocks=${r.blocks} errors=${r.errors} ==")
          jobs.byDescription.foreach { case (d, sec, n) =>
            println(f"  stage $sec%7.2f s  jobs=$n%3d  " +
              (if (d.isEmpty) "<untagged>" else d.take(80)))
          }
          // the COG output actually landed
          val dataDir = java.nio.file.Paths.get(outDir, "data")
          val (nCogs, nPngs) =
            if (!java.nio.file.Files.exists(dataDir)) (0, 0)
            else {
              val s = java.nio.file.Files.walk(dataDir)
              try {
                var tif = 0; var png = 0
                s.forEach { p =>
                  val n = p.toString
                  if (n.endsWith(".tif")) tif += 1
                  else if (n.endsWith(".png")) png += 1
                }
                (tif, png)
              } finally s.close()
            }
          println(s"  cogs_published=$nCogs  quicklooks_published=$nPngs  " +
            s"outDir=$outDir")
          val peakMb = peakUsed.get() / (1024.0 * 1024)
          val maxMb = Runtime.getRuntime.maxMemory() / (1024.0 * 1024)
          println(f"  peak_heap=$peakMb%.0f MB of $maxMb%.0f MB " +
            f"(${peakMb / 32}%.1f MB/slot at 32 slots)")
        } finally
          if (!keep) graft.core.Fs.deleteTree(java.nio.file.Paths.get(outDir))
      }
    } finally if (!keep) graft.core.Fs.deleteTree(sceneDir)
    spark.stop()
  }
}
