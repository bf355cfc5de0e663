package graft

import org.apache.spark.sql.SparkSession

/** Replicates the driver's t1 smoke: run SparkEntry.entry and assert
  * rows > 0. Usage: `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Scratch.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-smoke")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.install(spark)
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry returned ${rows.length} rows; first: " +
      rows.headOption.map(_.toString).getOrElse("<none>"))
    assert(rows.nonEmpty, "entry must return rows")

    miniCubeBuild(spark)
    println("[smoke] OK")
    spark.stop()
  }

  /** Miniature end-to-end cube build over real GeoTIFF files, through
    * the production run ([[graft.cube.CubeRun.runTiles]]): three dated
    * scenes of one tile → published items, NDVI index blocks and COGs.
    */
  private def miniCubeBuild(spark: SparkSession): Unit = {
    import graft.cube.CubeRun
    import graft.model.{Band, Collection, MaskDef}
    import graft.sources.GeoTiff

    val dir = java.nio.file.Files.createTempDirectory("smoke_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("smoke_out").toString
    val w = 64; val h = 64; val nodata = -9999
    def px(seed: Int, qa: Boolean) = Array.tabulate(w * h) { i =>
      if (qa) (if ((i + seed) % 7 == 0) 4 else 0)
      else 1000 + ((i * 13 + seed * 97) % 4000)
    }
    for ((date, seed) <- Seq(("20200105", 1), ("20200110", 2), ("20200121", 3));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val bytes = GeoTiff.write(px(seed, isQa), w, h, tileSize = 64,
        originX = 0, originY = 640, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(dir.resolve(s"S2A_T1_${date}_$band.tif"), bytes)
    }

    val coll = Collection("smoke", 1, "G", "LCF", "Continuous", "day", 16,
      bands = Seq(Band("B04", "red", "int16", nodata),
        Band("B8A", "nir", "int16", nodata),
        Band("QA", "quality", "uint8", 255),
        Band("NDVI", "ndvi", "int16", nodata,
          expression = "10000.*((B8A-B04)/(B8A+B04))")),
      qualityBand = "QA")
    val mask = MaskDef(clearData = Seq(0, 1), notClearData = Seq(2, 3, 4), nodata = 255)

    val run = CubeRun.runTiles(spark, coll, mask, dir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = CubeRun.Tiles.Fixed("t1"), blockSize = 32, publishCogs = true)
    val ndviRows = spark.read.parquet(s"$outDir/index_blocks")
      .filter(org.apache.spark.sql.functions.col("band") === "NDVI").count()
    val itemDir = java.nio.file.Paths.get(outDir, "data", coll.identifier,
      "t1", "2020-01-01")
    val assets = {
      val s = java.nio.file.Files.list(itemDir)
      try s.toArray.map(_.toString).sorted finally s.close()
    }
    val b04 = assets.find(a => a.contains("_B04_") && a.endsWith(".tif"))
    assert(b04.nonEmpty, s"B04 COG published: ${assets.mkString(", ")}")
    val info = GeoTiff.readInfo(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(b04.get)))
    assert(info.width == 64 && info.height == 64, "composite tiff dims")
    assert(run.items > 0, "items published")
    assert(ndviRows > 0, "ndvi blocks generated")
    println(s"[smoke] mini cube build: ${run.items} items, " +
      s"${run.blocks} blocks, $ndviRows ndvi blocks, " +
      s"${assets.length} assets in item 2020-01-01")
  }
}
