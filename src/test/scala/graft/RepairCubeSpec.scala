package graft

import graft.cube.CubeRun
import graft.cube.CubeRun.Tiles
import graft.model.{Band, Collection, MaskDef}
import graft.sources.GeoTiff
import graft.tools.RepairCube

/** The operator-facing repair workflow (tools/RepairCube): dry-run plans
  * without touching the cube, --apply drives Repair end-to-end, and a
  * non-cube path is rejected instead of reported healthy.
  */
class RepairCubeSpec extends SparkSpec {

  private val nodata = -9999
  private val coll = Collection(
    name = "fix", version = 1, grid = "G", compositeFunction = "LCF",
    temporalSchema = "Continuous", temporalUnit = "day", temporalStep = 16,
    bands = Seq(
      Band("B04", "red", "int16", nodata),
      Band("B8A", "nir", "int16", nodata),
      Band("QA", "quality", "uint8", 255)),
    qualityBand = "QA")
  private val mask = MaskDef(clearData = Seq(0L, 1L),
    notClearData = Seq(2L, 3L, 4L), nodata = 255L)

  test("dry run reports torn partitions without changing the cube; " +
       "--apply repairs them") {
    val sceneDir = java.nio.file.Files.createTempDirectory("fix_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("fix_out").toString
    val w = 32; val h = 32
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"),
        bytes)
    }
    CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)

    val lines = collection.mutable.ArrayBuffer.empty[String]
    // healthy cube: plan rows print, nothing torn
    val healthy = RepairCube.run(spark, outDir, doApply = false, lines += _)
    assert(healthy == RepairCube.Summary(2, 0, 0))
    assert(lines.exists(_.contains("cube is healthy")))
    assert(lines.count(_.contains("keep")) == 2)

    // tear one period's partition: truncate its data file mid-body
    val tileDir = java.nio.file.Paths.get(outDir, "blocks", "tileId=t9")
    val pDir = {
      val ls = java.nio.file.Files.list(tileDir)
      try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("p_start=")).max
      finally ls.close()
    }
    val dataFile = {
      val ls = java.nio.file.Files.list(pDir)
      try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      finally ls.close()
    }
    val whole = java.nio.file.Files.readAllBytes(dataFile)
    java.nio.file.Files.write(dataFile, whole.dropRight(whole.length / 2))

    // dry run: the torn dir is reported but NOT touched
    lines.clear()
    val dry = RepairCube.run(spark, outDir, doApply = false, lines += _)
    assert(dry == RepairCube.Summary(2, 1, 0))
    assert(lines.exists(_.contains("DRY RUN")))
    assert(java.nio.file.Files.exists(dataFile),
      "dry run must not delete anything")

    // an explicitly-passed plan is AUTHORITATIVE — no recompute behind
    // the caller's back: an empty plan repairs nothing even though the
    // cube has a torn partition the planner would flag
    assert(graft.cube.Repair.applyTornRepair(spark, outDir,
      Some(Seq.empty)) == 0L)
    assert(java.nio.file.Files.exists(dataFile),
      "an empty explicit plan must not trigger a re-plan")

    // apply: repaired and ledgered; the cube then rebuilds it from source
    lines.clear()
    val applied = RepairCube.run(spark, outDir, doApply = true, lines += _)
    assert(applied == RepairCube.Summary(2, 1, 1))
    assert(!java.nio.file.Files.exists(pDir), "torn dir must be deleted")
    import spark.implicits._
    val led = graft.catalog.Ledger.readCurrent(spark, s"$outDir/ledger").get
    assert(led.filter($"status" === "ERROR").count() == 3)

    // post-repair state: one healthy partition left, nothing pending
    lines.clear()
    assert(RepairCube.run(spark, outDir, doApply = false, lines += _) ==
      RepairCube.Summary(1, 0, 0))
  }

  private def buildCube(prefix: String, c: Collection = coll)
      : (String, () => graft.cube.CubeRun.RunResult) = {
    val sceneDir = java.nio.file.Files.createTempDirectory(s"${prefix}_scenes")
    val outDir = java.nio.file.Files.createTempDirectory(s"${prefix}_out").toString
    val w = 32; val h = 32
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"),
        bytes)
    }
    def go() = CubeRun.runTiles(spark, c, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)
    go(): Unit
    (outDir, () => go())
  }

  private def periodDirs(outDir: String, table: String = "blocks") = {
    val tileDir = java.nio.file.Paths.get(outDir, table, "tileId=t9")
    val ls = java.nio.file.Files.list(tileDir)
    try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("p_start=")).sorted
    finally ls.close()
  }

  test("a VANISHED partition is caught via the items catalog; " +
       "dir-less SUCCESS units without an item never flag; " +
       "repaired units don't re-flag before the rebuild") {
    val (outDir, go) = buildCube("gone")
    import spark.implicits._

    // a SUCCESS unit with no item and no dir — the empty-period shape —
    // must NOT flag (an item is the witness that blocks ever existed)
    val ledgerPath = s"$outDir/ledger"
    val led = graft.catalog.Ledger.readCurrent(spark, ledgerPath).get
    val phantom = led.limit(1).select(
      $"cube", $"tile_id",
      org.apache.spark.sql.functions.lit("2099-01-01")
        .cast(led.schema("p_start").dataType).as("p_start"),
      org.apache.spark.sql.functions.lit("2099-01-16")
        .cast(led.schema("p_end").dataType).as("p_end"),
      $"band",
      org.apache.spark.sql.functions.lit(graft.catalog.Ledger.StatusSuccess)
        .as("status"))
    graft.catalog.Ledger.commitVersion(spark, ledgerPath,
      led.unionByName(phantom))
    assert(RepairCube.run(spark, outDir, doApply = false, _ => ()) ==
      RepairCube.Summary(2, 0, 0), "empty-period shape must not flag")

    // delete a WHOLE partition dir out-of-band: invisible to the
    // directory walk, caught by the items cross-check
    val gone = periodDirs(outDir).head
    val goneP = gone.getFileName.toString.stripPrefix("p_start=")
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toList.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
    rmTree(gone)
    val lines = collection.mutable.ArrayBuffer.empty[String]
    assert(RepairCube.run(spark, outDir, doApply = false, lines += _) ==
      RepairCube.Summary(2, 1, 0))
    assert(lines.exists(l => l.contains(goneP) && l.contains("delete_and_retry")))

    // apply downgrades the unit; a second apply before the rebuild is a
    // no-op (the loss is already recorded as ERROR = pending)
    assert(RepairCube.run(spark, outDir, doApply = true, _ => ()).repaired == 1)
    val led2 = graft.catalog.Ledger.readCurrent(spark, ledgerPath).get
    assert(led2.filter($"status" === "ERROR" &&
      $"p_start".cast("string") === goneP).count() == 3)
    assert(RepairCube.run(spark, outDir, doApply = true, _ => ()) ==
      RepairCube.Summary(1, 0, 0))

    // the next run republishes exactly the lost period
    assert(go().planned == 3)
    assert(RepairCube.run(spark, outDir, doApply = false, _ => ()) ==
      RepairCube.Summary(2, 0, 0))
  }

  test("a repaired unit whose source scenes are GONE converges: the " +
       "hollow item is retired, no repair/rebuild oscillation") {
    val sceneDir = java.nio.file.Files.createTempDirectory("osc_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("osc_out").toString
    val w = 32; val h = 32
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"),
        bytes)
    }
    def go() = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)
    go(): Unit
    import spark.implicits._

    // the double loss that used to oscillate: blocks partition vanishes
    // out-of-band AND the source scenes are deleted, so the rebuild can
    // republish nothing
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toList.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
    val gone = periodDirs(outDir).last
    val goneP = gone.getFileName.toString.stripPrefix("p_start=")
    rmTree(gone)
    for (b <- Seq("B04", "B8A", "QA"))
      java.nio.file.Files.delete(sceneDir.resolve(s"S_T9_20200120_$b.tif"))

    // flagged via the items cross-check, repaired, rebuilt-to-nothing
    assert(RepairCube.run(spark, outDir, doApply = false, _ => ()) ==
      RepairCube.Summary(2, 1, 0))
    assert(RepairCube.run(spark, outDir, doApply = true, _ => ()).repaired == 1)
    assert(go().planned == 3, "the repaired unit re-plans")

    // CONVERGED, not oscillating: the unit is SUCCESS-empty, its stale
    // item is retired (an item with no assets must not be served), and
    // the planner sees a healthy cube — before the fix the surviving
    // item re-flagged the unit forever (repair → hollow SUCCESS →
    // re-flag, rewriting the ledger every cycle)
    assert(RepairCube.run(spark, outDir, doApply = false, _ => ()) ==
      RepairCube.Summary(1, 0, 0), "no re-flag after the hollow rebuild")
    val items = graft.catalog.Ledger.readCurrent(spark, s"$outDir/items").get
    assert(items.count() == 1, "the hollow item is retired")
    assert(items.filter($"start_date" === goneP).count() == 0)
    // the healthy period's item survives the retire join untouched
    assert(go().planned == 0, "converged: nothing pending")
  }

  test("a torn INDEX partition condemns its unit and both table dirs " +
       "are repaired; its presence witnesses index bands for the twin check") {
    val (outDir, go) = buildCube("idx")
    val Seq(p1, p2) = periodDirs(outDir)
      .map(_.getFileName.toString.stripPrefix("p_start=")).toSeq
    // manufacture a torn index partition for the first period
    val idxDir = java.nio.file.Paths.get(outDir, "index_blocks",
      "tileId=t9", s"p_start=$p1")
    java.nio.file.Files.createDirectories(idxDir)
    java.nio.file.Files.write(idxDir.resolve("part-torn.parquet"),
      ("PAR1" + "x" * 64).getBytes("ASCII")) // head magic, no tail

    // p1 flags on the torn file; and because ANY index partition
    // witnesses "this cube has index bands", p2's missing index twin
    // flags too (blocks-vs-index cross-check)
    val lines = collection.mutable.ArrayBuffer.empty[String]
    assert(RepairCube.run(spark, outDir, doApply = false, lines += _) ==
      RepairCube.Summary(2, 2, 0))
    assert(lines.exists(l => l.contains(p1) && l.contains("delete_and_retry")))
    assert(lines.exists(l => l.contains(p2) && l.contains("delete_and_retry")))

    assert(RepairCube.run(spark, outDir, doApply = true, _ => ()).repaired == 2)
    assert(!java.nio.file.Files.exists(idxDir), "index dir must be deleted")
    for (p <- Seq(p1, p2))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(outDir, "blocks", "tileId=t9",
          s"p_start=$p")), s"blocks dir for $p must be deleted with it")

    // rebuild restores both units; no index bands in this collection, so
    // the plan settles back to two healthy block partitions
    assert(go().planned == 6)
    assert(RepairCube.run(spark, outDir, doApply = false, _ => ()) ==
      RepairCube.Summary(2, 0, 0))
  }

  test("a VANISHED index partition (blocks intact) is caught by the " +
       "blocks-vs-index cross-check and the unit rebuilds") {
    // a collection WITH an index band, so index_blocks really publishes
    val collIdx = coll.copy(bands = coll.bands :+
      Band("NDVI", "ndvi", "int16", nodata,
        expression = "10000.*((B8A-B04)/(B8A+B04))"))
    val (outDir, go) = buildCube("vidx", collIdx)
    assert(periodDirs(outDir, "index_blocks").length == 2,
      "fixture: both periods must have index partitions")
    assert(RepairCube.run(spark, outDir, doApply = false, _ => ()) ==
      RepairCube.Summary(2, 0, 0), "fixture must start healthy")

    // delete one WHOLE index partition out-of-band: invisible to the
    // directory walk of index_blocks itself, and the items catalog can't
    // see it either (items witness blocks, not index assets) — only the
    // blocks-vs-index presence check catches it
    val gone = periodDirs(outDir, "index_blocks").head
    val goneP = gone.getFileName.toString.stripPrefix("p_start=")
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toList.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
    rmTree(gone)

    val lines = collection.mutable.ArrayBuffer.empty[String]
    assert(RepairCube.run(spark, outDir, doApply = false, lines += _) ==
      RepairCube.Summary(2, 1, 0))
    assert(lines.exists(l => l.contains(goneP) && l.contains("delete_and_retry")))

    assert(RepairCube.run(spark, outDir, doApply = true, _ => ()).repaired == 1)
    // rebuild restores the unit with BOTH tables; plan settles healthy
    assert(go().planned == 3)
    assert(periodDirs(outDir, "index_blocks").length == 2)
    assert(RepairCube.run(spark, outDir, doApply = false, _ => ()) ==
      RepairCube.Summary(2, 0, 0))
  }

  test("a DOUBLE loss (blocks partition + item row) is caught by the " +
       "orphan-index mirror check and the unit rebuilds") {
    // the items cross-check needs a surviving item row; here both the
    // blocks dir AND the item vanish out-of-band, so only the orphan
    // index partition is left as evidence
    val collIdx = coll.copy(bands = coll.bands :+
      Band("NDVI", "ndvi", "int16", nodata,
        expression = "10000.*((B8A-B04)/(B8A+B04))"))
    val (outDir, go) = buildCube("dloss", collIdx)
    import spark.implicits._
    assert(RepairCube.run(spark, outDir, doApply = false, _ => ()) ==
      RepairCube.Summary(2, 0, 0), "fixture must start healthy")

    val gone = periodDirs(outDir).head
    val goneP = gone.getFileName.toString.stripPrefix("p_start=")
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toList.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
    rmTree(gone)
    val itemsPath = s"$outDir/items"
    val items = graft.catalog.Ledger.readCurrent(spark, itemsPath).get
    graft.catalog.Ledger.commitVersion(spark, itemsPath,
      items.filter($"start_date" =!= goneP))

    val lines = collection.mutable.ArrayBuffer.empty[String]
    assert(RepairCube.run(spark, outDir, doApply = false, lines += _) ==
      RepairCube.Summary(2, 1, 0))
    assert(lines.exists(l => l.contains(goneP) && l.contains("delete_and_retry")))

    // apply downgrades the ledger and sweeps the orphan index dir;
    // the rebuild then restores the unit end-to-end
    assert(RepairCube.run(spark, outDir, doApply = true, _ => ()).repaired == 1)
    assert(go().planned == 3)
    assert(periodDirs(outDir).length == 2)
    assert(periodDirs(outDir, "index_blocks").length == 2)
    assert(RepairCube.run(spark, outDir, doApply = false, _ => ()) ==
      RepairCube.Summary(2, 0, 0))
  }

  test("a path that is not a cube outDir is rejected, not reported healthy") {
    val notACube = java.nio.file.Files.createTempDirectory("not_a_cube")
    intercept[IllegalArgumentException] {
      RepairCube.run(spark, notACube.toString, doApply = false, _ => ())
    }
  }
}
