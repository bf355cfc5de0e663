package graft

import graft.catalog.Ledger
import graft.cube.{CubeRun, CubeStream}
import graft.cube.CubeRun.Tiles
import graft.model.{Band, Collection, MaskDef}
import graft.sources.GeoTiff
import org.apache.spark.sql.streaming.Trigger

/** Always-on ingestion: the file stream drives horizon-bounded
  * idempotent CubeRun backfills as scenes land over time.
  */
class CubeStreamSpec extends SparkSpec {

  private val nodata = -9999
  private val coll = Collection(
    name = "stream", version = 1, grid = "G", compositeFunction = "LCF",
    temporalSchema = "Continuous", temporalUnit = "day", temporalStep = 16,
    bands = Seq(
      Band("B04", "red", "int16", nodata),
      Band("B8A", "nir", "int16", nodata),
      Band("QA", "quality", "uint8", 255)),
    qualityBand = "QA")
  private val mask = MaskDef(clearData = Seq(0L, 1L),
    notClearData = Seq(2L, 3L, 4L), nodata = 255L)

  private def sceneBytes(band: String, seed: Int): Array[Byte] = {
    val w = 32; val h = 32
    val isQa = band == "QA"
    val px = Array.tabulate(w * h)(i =>
      if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
    GeoTiff.write(px, w, h, tileSize = 32, originX = 0, originY = 320,
      scaleX = 10, scaleY = 10, nodata = if (isQa) 255 else nodata)
  }

  test("scenes landing over time build exactly the CLOSED periods, " +
       "idempotently, through the streaming ingest") {
    val sceneDir = java.nio.file.Files.createTempDirectory("ingest_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("ingest_out").toString
    def drop(date: String, seed: Int, bands: Seq[String] = Seq("B04", "B8A", "QA")): Unit =
      for (band <- bands)
        java.nio.file.Files.write(
          sceneDir.resolve(s"S_T9_${date}_$band.tif"), sceneBytes(band, seed))
    // one AvailableNow pass = "the ingest caught up with the directory"
    def pass(): Unit = {
      val q = CubeStream.ingestTiles(spark, coll, mask, sceneDir.toString,
        outDir, java.time.LocalDate.of(2020, 1, 1),
        java.time.LocalDate.of(2020, 1, 31), tiles = Tiles.Fixed("t9"),
        trigger = Trigger.AvailableNow(), blockSize = 32)
      q.awaitTermination()
    }
    def items(): Long =
      Ledger.readCurrent(spark, s"$outDir/items").map(_.count()).getOrElse(0L)
    def success(): Long =
      Ledger.readCurrent(spark, s"$outDir/ledger")
        .map(_.filter(org.apache.spark.sql.functions.col("status") ===
          Ledger.StatusSuccess).count()).getOrElse(0L)

    // batch 1: scenes for period 1 (Jan 1-16) only. The horizon is
    // Jan 5 — period 1 is still OPEN (more scenes may come), so the
    // ingest must build NOTHING yet: compositing now would ledger the
    // period done with a partial scene set. A far-future-DATED file
    // that is NOT a scene (glob-matched but no band suffix — a preview
    // sidecar) must not advance the horizon: readiness follows the
    // run's own scan, not every file in the directory.
    drop("20200105", 1)
    java.nio.file.Files.write(sceneDir.resolve("S_T9_20300101_preview.tif"),
      Array[Byte](1, 2, 3))
    pass()
    assert(items() == 0L,
      "an open period must not composite from a partial scene set " +
        "(nor close off a dated non-scene sidecar)")

    // batch 2: a Jan 20 scene closes period 1 (p_end Jan 16 <= Jan 20).
    // Period 1 builds from its full scene set; period 2 (Jan 17-Feb 1)
    // is now the open one and stays out.
    drop("20200120", 2)
    pass()
    assert(items() == 1L, "the closed period publishes exactly one item")
    assert(success() == 3L, "3 band units ledger SUCCESS for period 1")

    // batch 3: a Feb 2 scene closes period 2. It builds from the
    // Jan 20 scenes (Feb 2 is outside the period window) — the Feb
    // scene only advances the horizon here (its own period is outside
    // the requested range).
    drop("20200202", 3)
    pass()
    assert(items() == 2L)
    assert(success() == 6L)
    val blocks = spark.read.parquet(s"$outDir/blocks")
    assert(blocks.count() == 4L, "2 periods x 2 spectral bands x 1 block")

    // a pass with NO new files runs no batch and changes nothing
    pass()
    assert(items() == 2L && success() == 6L)

    // and the ingested cube is exactly what a one-shot batch run
    // produces: a manual run over the same range plans ZERO units
    val manual = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)
    assert(manual.planned == 0L,
      "the streaming ingest must converge to the batch-run fixpoint")

    // replay safety: a replayed batch carries an OLDER horizon, which
    // only shrinks the expected set — it must plan nothing and touch
    // nothing (the doc's idempotence claim, pinned)
    val replayed = CubeRun.runTiles(spark, coll, mask, sceneDir.toString,
      outDir, java.time.LocalDate.of(2020, 1, 1),
      java.time.LocalDate.of(2020, 1, 31), tiles = Tiles.Fixed("t9"),
      blockSize = 32, horizon = Some(java.time.LocalDate.of(2020, 1, 10)))
    assert(replayed.planned == 0L,
      "an older-horizon replay must be a no-op")
    assert(items() == 2L && success() == 6L)
  }

  test("ingestTiles: a new tile landing mid-stream backfills alone, " +
       "existing tiles untouched") {
    val sceneDir = java.nio.file.Files.createTempDirectory("ingt_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("ingt_out").toString
    def drop(tile: String, date: String, seed: Int): Unit =
      for (band <- Seq("B04", "B8A", "QA"))
        java.nio.file.Files.write(
          sceneDir.resolve(s"S_${tile}_${date}_$band.tif"),
          sceneBytes(band, seed))
    def pass(): Unit = {
      val q = CubeStream.ingestTiles(spark, coll, mask, sceneDir.toString,
        outDir, java.time.LocalDate.of(2020, 1, 1),
        java.time.LocalDate.of(2020, 1, 31),
        trigger = Trigger.AvailableNow(), blockSize = 32)
      q.awaitTermination()
    }
    // tile TA: period-1 scene + a Jan 20 scene closing period 1
    drop("TA", "20200105", 1); drop("TA", "20200120", 2)
    pass()
    val items1 = Ledger.readCurrent(spark, s"$outDir/items").get
    import org.apache.spark.sql.functions._
    assert(items1.count() == 1L)
    // tile TB lands later with a period-1 scene: only TB's units plan
    // (TA is SUCCESS-ledgered), and TB's period 1 builds in this batch
    // because the horizon is already past its end
    drop("TB", "20200106", 5)
    pass()
    val items2 = Ledger.readCurrent(spark, s"$outDir/items").get
    assert(items2.count() == 2L, "the new tile must backfill alone")
    val tiles = items2.select(col("tileId")).collect()
      .map(_.getString(0)).toSet
    assert(tiles == Set("TA", "TB"))
    // TA's published blocks are byte-identical across the two passes —
    // the TB backfill never rewrote TA's partitions
    val taSum = spark.read.parquet(s"$outDir/blocks")
      .filter(col("tileId") === "TA" && col("band") === "B04")
      .select(graft.functions.PixelExpressions.arraySumLong(col("value")))
      .collect().map(_.getLong(0)).sum
    val expectTa = (0 until 1024).map(i => 100L + (i * 7 + 13) % 900).sum
    assert(taSum == expectTa, s"TA composite changed: $taSum != $expectTa")
  }

  test("publishCogs through the stream: each closed period commits its " +
       "full COG band set") {
    val sceneDir = java.nio.file.Files.createTempDirectory("ingc_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("ingc_out").toString
    for (band <- Seq("B04", "B8A", "QA"))
      java.nio.file.Files.write(
        sceneDir.resolve(s"S_T9_20200105_$band.tif"), sceneBytes(band, 1))
    for (band <- Seq("B04", "B8A", "QA"))
      java.nio.file.Files.write(
        sceneDir.resolve(s"S_T9_20200120_$band.tif"), sceneBytes(band, 2))
    val q = CubeStream.ingestTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), trigger = Trigger.AvailableNow(),
      blockSize = 32, publishCogs = true)
    q.awaitTermination()
    // horizon Jan 20 closes period 1 only; its item commits to data/
    // with both spectral COGs (atomic per-item publication)
    val dataDir = java.nio.file.Paths.get(outDir, "data")
    assert(java.nio.file.Files.isDirectory(dataDir), "data/ must exist")
    val walk = java.nio.file.Files.walk(dataDir)
    val tifs = try walk.toArray.map(_.toString).filter(_.endsWith(".tif"))
      .map(_.split("/").last).toSet
      finally walk.close()
    assert(tifs.count(_.contains("2020-01-01")) == 2 &&
      tifs.exists(n => n.contains("B04")) && tifs.exists(_.contains("B8A")),
      s"exactly the closed period's full spectral band set publishes: $tifs")
    assert(!tifs.exists(_.contains("2020-01-17")),
      s"the open period must not publish COGs: $tifs")
  }

  test("soak: an incremental batch decodes only the NEW period's " +
       "scenes — batch cost tracks arrival rate, not archive size") {
    // 8 periods of history already ledgered SUCCESS; one new scene
    // closes one more period. The backfill's decode (the dominant
    // cost) must touch the new window only — the pending-window prune
    // keeps the other 24 archived scenes out at filename-metadata
    // cost. This is the always-on deployment's steady state: work per
    // batch ∝ new data, not ∝ archive.
    val sceneDir = java.nio.file.Files.createTempDirectory("incr_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("incr_out").toString
    // periods start Jan 1 + 16k days; scene on day 2 of each period
    def sceneDate(k: Int): String =
      java.time.LocalDate.of(2020, 1, 2).plusDays(16L * k)
        .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    def drop(k: Int): Unit =
      for (band <- Seq("B04", "B8A", "QA"))
        java.nio.file.Files.write(
          sceneDir.resolve(s"S_T9_${sceneDate(k)}_$band.tif"),
          sceneBytes(band, k + 1))
    (0 until 8).foreach(drop)
    val start = java.time.LocalDate.of(2020, 1, 1)
    val end = java.time.LocalDate.of(2020, 12, 31)
    def run(h: java.time.LocalDate): CubeRun.RunResult =
      CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir, start, end,
        tiles = Tiles.Fixed("t9"), blockSize = 32, horizon = Some(h))
    // build the 8-period history (horizon = day after scene 7's period)
    val r0 = run(start.plusDays(16L * 8))
    assert(r0.planned == 8 * 3 && r0.items == 8)
    // the NEW scene arrives, closing period 9
    drop(8)
    val (r1, decodedRows, decodeShuffles) =
      shuffleRecordsWrittenBy("cube:decode+bucket")(run(start.plusDays(16L * 9)))
    assert(r1.planned == 3 && r1.items == 9)
    // the incremental run decoded ONLY the new scene: exactly the new
    // period's 3 band blocks reach the block table's shuffle, not the
    // 27-file archive's
    assert(decodedRows == 3L,
      s"incremental decode must be the new scene only, got $decodedRows rows")
    // and the wave leaves no copy of its decoded blocks in the local dirs
    assert(decodeShuffles.nonEmpty && (decodeShuffles & shufflesOnDisk()).isEmpty,
      s"decode shuffles $decodeShuffles must be released when the run ends")
  }

  test("lateness slack delays readiness: a period closes only once the " +
       "horizon clears p_end + latenessDays") {
    val sceneDir = java.nio.file.Files.createTempDirectory("late_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("late_out").toString
    for (band <- Seq("B04", "B8A", "QA"))
      java.nio.file.Files.write(
        sceneDir.resolve(s"S_T9_20200105_$band.tif"), sceneBytes(band, 1))
    // horizon Jan 20 with 7 days lateness = effective Jan 13 < p_end
    // Jan 16: period 1 must WAIT for stragglers
    for (band <- Seq("B04", "B8A", "QA"))
      java.nio.file.Files.write(
        sceneDir.resolve(s"S_T9_20200120_$band.tif"), sceneBytes(band, 2))
    def pass(lateness: Int): Unit = {
      val q = CubeStream.ingestTiles(spark, coll, mask, sceneDir.toString,
        outDir, java.time.LocalDate.of(2020, 1, 1),
        java.time.LocalDate.of(2020, 1, 31), tiles = Tiles.Fixed("t9"),
        trigger = Trigger.AvailableNow(), blockSize = 32,
        latenessDays = lateness)
      q.awaitTermination()
    }
    pass(lateness = 7)
    assert(Ledger.readCurrent(spark, s"$outDir/items").isEmpty,
      "inside the lateness window the period must not close")
    // a late straggler lands INSIDE period 1 — precisely what the
    // slack exists to admit — then a new scene advances the horizon
    // past the slack and the period builds with the straggler included
    for (band <- Seq("B04", "B8A", "QA"))
      java.nio.file.Files.write(
        sceneDir.resolve(s"S_T9_20200114_$band.tif"), sceneBytes(band, 9))
    for (band <- Seq("B04", "B8A", "QA"))
      java.nio.file.Files.write(
        sceneDir.resolve(s"S_T9_20200124_$band.tif"), sceneBytes(band, 3))
    pass(lateness = 7)
    // horizon Jan 24 - 7 = Jan 17 >= p_end Jan 16: period 1 closes;
    // LCF's later-date priority makes the Jan 14 straggler the winner
    val items = Ledger.readCurrent(spark, s"$outDir/items").get
    assert(items.count() == 1L)
    import org.apache.spark.sql.functions._
    val b04 = spark.read.parquet(s"$outDir/blocks")
      .filter(col("band") === "B04")
      .select(element_at(col("value"), 1)).collect().map(_.getInt(0)).toSeq
    assert(b04 == Seq(100 + (9 * 13) % 900),
      s"the admitted straggler (seed 9, latest in-period date) must win LCF: $b04")
  }
}
