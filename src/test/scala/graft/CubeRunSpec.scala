package graft

import graft.cube.CubeRun
import graft.cube.CubeRun.Tiles
import graft.model.{Band, Collection, MaskDef}
import graft.sources.GeoTiff

/** Orchestrated run: plan → execute → publish → ledger; idempotent rerun. */
class CubeRunSpec extends SparkSpec {

  private val nodata = -9999
  private val coll = Collection(
    name = "run", version = 1, grid = "G", compositeFunction = "LCF",
    temporalSchema = "Continuous", temporalUnit = "day", temporalStep = 16,
    bands = Seq(
      Band("B04", "red", "int16", nodata),
      Band("B8A", "nir", "int16", nodata),
      Band("QA", "quality", "uint8", 255)),
    qualityBand = "QA")
  private val mask = MaskDef(clearData = Seq(0L, 1L), notClearData = Seq(2L, 3L, 4L),
    nodata = 255L)

  test("run plans pending units, publishes, and reruns as a no-op") {
    val sceneDir = java.nio.file.Files.createTempDirectory("run_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("run_out").toString
    val w = 32; val h = 32
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) (if ((i + seed) % 5 == 0) 4 else 0)
        else 100 + (i * 7 + seed * 13) % 900)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"), bytes)
    }

    // the run executes on a CLONED session: its co-partition conf
    // override must never leak into (or race with) the caller's session
    val coPartConf = "spark.sql.requireAllClusterKeysForCoPartition"
    val callerCoPart = spark.conf.getOption(coPartConf)
    val scratchBefore = scratchState()

    val (r1, decodedRows1, decodeShuffles) =
      shuffleRecordsWrittenBy("cube:decode+bucket")(
        CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
          java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
          tiles = Tiles.Fixed("t9"), blockSize = 32))
    // the decoded block table's shuffle is released with the table
    assert(decodedRows1 > 0 && decodeShuffles.nonEmpty)
    assert((decodeShuffles & shufflesOnDisk()).isEmpty,
      s"decode shuffles $decodeShuffles must be released when the run ends")
    // 2 periods × 2 spectral bands + QA? expected counts bands incl QA unit rows
    assert(r1.planned == 2 * 3)
    assert(r1.items == 2)   // one item per period
    assert(r1.blocks == 2 * 2) // (2 periods × 2 spectral bands) × 1 block
    assert(spark.conf.getOption(coPartConf) == callerCoPart,
      "the run's conf override must stay inside its cloned session")

    val r2 = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)
    assert(r2.planned == 0, "second run must be a no-op")

    // force rebuilds
    val r3 = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), force = true, blockSize = 32)
    assert(r3.planned == 6)
    // republication is idempotent: the force rebuild REPLACES its
    // (tileId, p_start) block partitions and upserts items by item_id —
    // nothing duplicates
    assert(r3.blocks == 4, s"force rebuild must not duplicate blocks, got ${r3.blocks}")
    assert(r3.items == 2, s"force rebuild must not duplicate items, got ${r3.items}")

    // completed and no-op runs alike release the Datasets they
    // persisted and register no catalog table
    assert(scratchState() == scratchBefore,
      "a run must leave no persisted Dataset or catalog table behind")

    // extending the range backfills only the new periods (C4)
    val (r4, decodedRows, _) = shuffleRecordsWrittenBy("cube:decode+bucket")(
      CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
        java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 2, 15),
        tiles = Tiles.Fixed("t9"), blockSize = 32))
    assert(r4.planned == 3) // one new period × 3 bands

    // the backfill decoded NOTHING: its pending period (Feb) has no
    // scenes, and the date prune keeps the whole Jan archive out of the
    // decode — no block row reaches the block table's shuffle
    assert(decodedRows == 0L,
      "incremental backfill must not re-decode out-of-window scenes, " +
        s"$decodedRows block rows shuffled")
  }

  test("a run that fails after decode releases its persisted Datasets") {
    val sceneDir = java.nio.file.Files.createTempDirectory("fail_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("fail_out").toString
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val px = Array.tabulate(32 * 32)(i =>
        if (band == "QA") 0 else 100 + (i * 7 + seed * 13) % 900)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"),
        GeoTiff.write(px, 32, 32, tileSize = 32, originX = 0, originY = 320,
          scaleX = 10, scaleY = 10, nodata = if (band == "QA") 255 else nodata))
    }
    // a regular file where the blocks table goes: decode and the
    // quarantine check succeed, then the blocks write throws
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "blocks"),
      Array[Byte](1))
    val before = scratchState()
    val (_, decodedRows, decodeShuffles) =
      shuffleRecordsWrittenBy("cube:decode+bucket")(
        intercept[Exception](CubeRun.runTiles(spark, coll, mask,
          sceneDir.toString, outDir, java.time.LocalDate.of(2020, 1, 1),
          java.time.LocalDate.of(2020, 1, 31), tiles = Tiles.Fixed("t9"),
          blockSize = 32)))
    // the run got as far as filling the block table before it threw
    assert(decodedRows == 2 * 3,
      s"2 dates × 3 bands of one block must reach the block table, " +
        s"got $decodedRows rows")
    assert(scratchState() == before,
      "a failed run must release its persisted Datasets")
    assert((decodeShuffles & shufflesOnDisk()).isEmpty,
      s"a failed run must release its decode shuffles $decodeShuffles")
  }

  test("a legacy (pre-pointer) flat-parquet ledger resumes instead of " +
       "silently re-planning, and migrates on the next commit") {
    val sceneDir = java.nio.file.Files.createTempDirectory("leg_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("leg_out").toString
    val w = 32; val h = 32
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"),
        GeoTiff.write(px, w, h, tileSize = 32, originX = 0, originY = 320,
          scaleX = 10, scaleY = 10, nodata = if (isQa) 255 else nodata))
    }
    def go() = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)
    assert(go().planned == 6)
    // simulate the pre-versioning layout an operator upgrades from:
    // flatten the current ledger + items into PLAIN parquet at the same
    // paths (no _current pointer, no version dirs)
    import graft.catalog.Ledger
    for (sub <- Seq("ledger", "items")) {
      val dir = s"$outDir/$sub"
      val cur = Ledger.readCurrent(spark, dir).get.collect()
      val schema = Ledger.readCurrent(spark, dir).get.schema
      Ledger.hadoopDelete(spark, dir)
      spark.createDataFrame(
        spark.sparkContext.parallelize(cur.toIndexedSeq), schema)
        .write.mode("overwrite").parquet(dir)
    }
    assert(Ledger.currentVersion(s"$outDir/ledger").isEmpty)
    // the resume must READ the legacy ledger (0 units re-plan — the
    // old behavior silently discarded it and re-ran the whole cube) …
    val resumed = go()
    assert(resumed.planned == 0,
      s"legacy ledger must resume, not re-plan; planned ${resumed.planned}")
    assert(Ledger.readCurrent(spark, s"$outDir/items").get.count() == 2,
      "legacy items catalog must be readable")
    // … and FORCED runs migrate both dirs: the first commit flips the
    // pointer (legacy files keep a one-commit reader grace), the next
    // sweeps them — pointer-versioned content only, no orphans
    val forced = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), force = true, blockSize = 32)
    assert(forced.planned == 6 && forced.items == 2 && forced.blocks == 4)
    CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), force = true, blockSize = 32): Unit
    for (sub <- Seq("ledger", "items")) {
      assert(Ledger.currentVersion(s"$outDir/$sub").isDefined)
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(outDir, sub))
      val names = try ls.toArray.map(_.toString.split("/").last).toSet
        finally ls.close()
      assert(!names.exists(n => n.startsWith("part-") || n == "_SUCCESS"),
        s"$sub still holds orphaned legacy part-files: $names")
    }
  }

  test("a crash between block publication and the ledger commit resumes " +
       "without duplicating anything") {
    val sceneDir = java.nio.file.Files.createTempDirectory("crash_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("crash_out").toString
    val w = 32; val h = 32
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"), bytes)
    }
    def go() = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)
    val r1 = go()
    assert(r1.planned == 6 && r1.blocks == 4 && r1.items == 2)

    // simulate a crash AFTER blocks/items published but BEFORE the ledger
    // commit: wipe the ledger (its versioned commit means a torn write can
    // only ever look like "not committed"), leaving blocks+items on disk
    def del(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
    }
    del(new java.io.File(s"$outDir/ledger"))

    // the resume re-plans everything (nothing is ledgered) and REPLACES
    // the already-published partitions/items instead of appending dupes
    val r2 = go()
    assert(r2.planned == 6, "un-ledgered units must re-plan on resume")
    assert(r2.blocks == 4, s"crash-resume must not duplicate blocks, got ${r2.blocks}")
    assert(r2.items == 2, s"crash-resume must not duplicate items, got ${r2.items}")
    assert(go().planned == 0, "after the resume the run is complete")
  }

  test("a crash-resume whose source scenes vanished still republishes the " +
       "item from the surviving blocks") {
    val sceneDir = java.nio.file.Files.createTempDirectory("gone_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("gone_out").toString
    val w = 32; val h = 32
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"), bytes)
    }
    def go() = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)
    val r1 = go()
    assert(r1.planned == 6 && r1.blocks == 4 && r1.items == 2)

    def del(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
    }
    // crash BEFORE the items/ledger commits, and the source archive has
    // since rotated: the scenes are gone, only the published blocks
    // survive. The resume owes the items those blocks back — publication
    // reads back the surviving partitions (crash-resume semantics of the
    // read-back path); the alternative is a SUCCESS ledger with no item
    // behind the published data.
    del(new java.io.File(s"$outDir/ledger"))
    del(new java.io.File(s"$outDir/items"))
    del(sceneDir.toFile)
    java.nio.file.Files.createDirectories(sceneDir) // dir exists, empty

    val r2 = go()
    assert(r2.planned == 6, "un-ledgered units must re-plan")
    assert(r2.blocks == 4, "surviving blocks stay published")
    assert(r2.items == 2,
      s"resume must republish items from the surviving blocks, got ${r2.items}")
    assert(go().planned == 0, "after the resume the run is complete")
  }

  test("a tile id needing partition-path escaping publishes and reruns " +
       "as a no-op") {
    // the read-back names partition dirs by escaping the tile id the
    // same way the writer does — a tile id with path-hostile chars
    // (space, '=', '%') must round-trip or publication would silently
    // read back nothing and publish zero items
    val sceneDir = java.nio.file.Files.createTempDirectory("esc_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("esc_out").toString
    val w = 32; val h = 32
    for (band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7) % 900)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_20200105_$band.tif"), bytes)
    }
    def go() = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 16),
      tiles = Tiles.Fixed("t 9=x%7"), blockSize = 32)
    val r1 = go()
    assert(r1.planned == 3 && r1.blocks == 2,
      s"hostile tile id must publish blocks: $r1")
    assert(r1.items == 1,
      s"read-back must find the escaped partition dir and publish the item: $r1")
    assert(go().planned == 0, "rerun is a no-op")

    // the repair planner walks the SAME escaped layout: it must
    // un-escape the dir names back to the ledger's tile id, or apply
    // would delete the dir yet downgrade nothing (the unit never
    // re-plans — a silent repair hole)
    val clean = graft.cube.Repair.tornRepairPlan(spark, outDir).collect()
    assert(clean.length == 1 && clean.head.getAs[String]("tile_id") == "t 9=x%7"
      && clean.head.getAs[String]("action") == "keep",
      s"plan must unescape the hostile tile id: ${clean.mkString(",")}")
    // tear it: the apply must round-trip the id back INTO the escaped
    // dir path and hit the ledger rows by the raw id
    val pDir = {
      val base = java.nio.file.Paths.get(outDir, "blocks")
      val ls = java.nio.file.Files.walk(base, 2)
      try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.startsWith("p_start=")).get
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
    assert(graft.cube.Repair.applyTornRepair(spark, outDir) == 1L)
    assert(!java.nio.file.Files.exists(pDir), "escaped torn dir must delete")
    import spark.implicits._
    assert(graft.catalog.Ledger.readCurrent(spark, s"$outDir/ledger").get
      .filter($"status" === "ERROR" && $"tile_id" === "t 9=x%7").count() == 3,
      "the downgrade must hit the RAW tile id's ledger rows")
    val r2 = go()
    assert(r2.planned == 3 && r2.items == 1 && r2.blocks == 2,
      s"repaired hostile-id cube must republish: $r2")
  }

  test("a corrupt scene quarantines its (tile, period): ERROR ledger rows " +
       "re-plan after the file is repaired") {
    val sceneDir = java.nio.file.Files.createTempDirectory("quar_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("quar_out").toString
    val w = 32; val h = 32
    def goodBytes(band: String, seed: Int): Array[Byte] = {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
    }
    for (band <- Seq("B04", "B8A", "QA"))
      java.nio.file.Files.write(
        sceneDir.resolve(s"S_T9_20200105_$band.tif"), goodBytes(band, 1))
    for (band <- Seq("B04", "B8A"))
      java.nio.file.Files.write(
        sceneDir.resolve(s"S_T9_20200120_$band.tif"), goodBytes(band, 2))
    // the second period's QA is truncated garbage — decode must fail
    val corrupt = sceneDir.resolve("S_T9_20200120_QA.tif")
    java.nio.file.Files.write(corrupt,
      Array.tabulate[Byte](64)(i => (i * 37).toByte))

    def go() = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)
    val r1 = go()
    assert(r1.planned == 6, "both periods plan")
    assert(r1.errors == 3, "the corrupt period's 3 band units ledger ERROR")
    assert(r1.items == 1, "no item publishes from a partial band set")
    assert(r1.blocks == 2, "only the healthy period's spectral bands publish")
    val ledger1 = graft.catalog.Ledger.readCurrent(spark, s"$outDir/ledger").get
    import spark.implicits._
    assert(ledger1.filter($"status" === "SUCCESS").count() == 3)
    assert(ledger1.filter($"status" === "ERROR").count() == 3)
    val q1 = graft.catalog.Ledger.readCurrent(spark, s"$outDir/quarantine").get
      .collect()
    assert(q1.length == 1, "exactly the corrupt file quarantines")
    val qRow = q1.head
    assert(qRow.getAs[String]("path").endsWith("S_T9_20200120_QA.tif"))
    assert(qRow.getAs[String]("error").nonEmpty)

    // a plain rerun retries the ERROR units (still failing — idempotent)
    val r2 = go()
    assert(r2.planned == 3 && r2.errors == 3 && r2.items == 1)

    // repair the file: the next run backfills exactly the ERROR units,
    // clears the quarantine, and completes the cube
    java.nio.file.Files.write(corrupt, goodBytes("QA", 2))
    val r3 = go()
    assert(r3.planned == 3, "only the repaired period's units re-plan")
    assert(r3.errors == 0 && r3.items == 2 && r3.blocks == 4)
    val ledger3 = graft.catalog.Ledger.readCurrent(spark, s"$outDir/ledger").get
    assert(ledger3.filter($"status" === "SUCCESS").count() == 6)
    assert(ledger3.filter($"status" === "ERROR").count() == 0)
    assert(graft.catalog.Ledger.readCurrent(spark, s"$outDir/quarantine").get
      .count() == 0, "a repaired file's quarantine entry retires")
    assert(go().planned == 0)
  }

  test("a deleted (not repaired) corrupt scene's quarantine entry retires " +
       "once its path leaves the scan listing") {
    val sceneDir = java.nio.file.Files.createTempDirectory("quardel_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("quardel_out").toString
    val w = 32; val h = 32
    def goodBytes(band: String, seed: Int): Array[Byte] = {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
    }
    for (band <- Seq("B04", "B8A", "QA"))
      java.nio.file.Files.write(
        sceneDir.resolve(s"S_T9_20200105_$band.tif"), goodBytes(band, 1))
    for (band <- Seq("B04", "B8A"))
      java.nio.file.Files.write(
        sceneDir.resolve(s"S_T9_20200120_$band.tif"), goodBytes(band, 2))
    val corrupt = sceneDir.resolve("S_T9_20200120_QA.tif")
    java.nio.file.Files.write(corrupt,
      Array.tabulate[Byte](64)(i => (i * 37).toByte))
    def go() = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)
    val r1 = go()
    assert(r1.errors == 3)
    assert(graft.catalog.Ledger.readCurrent(spark, s"$outDir/quarantine").get
      .count() == 1)
    // operator decision: the scene is garbage — remove the whole
    // second-period scene instead of repairing it. Its path can never
    // decode cleanly, so only the listing check can retire the entry.
    for (band <- Seq("B04", "B8A", "QA"))
      java.nio.file.Files.delete(
        sceneDir.resolve(s"S_T9_20200120_$band.tif"))
    val r2 = go()
    assert(r2.errors == 0, "no scenes left to fail")
    assert(graft.catalog.Ledger.readCurrent(spark, s"$outDir/quarantine").get
      .count() == 0,
      "a vanished path's quarantine entry must retire, not persist forever")
  }

  test("publishCogs commits per-item COG directories with the full band " +
       "set, index bands included") {
    val sceneDir = java.nio.file.Files.createTempDirectory("pub_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("pub_out").toString
    val w = 32; val h = 32
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"), bytes)
    }
    val withNdvi = coll.copy(
      bands = coll.bands :+
        Band("NDVI", "ndvi", "int16", nodata,
          expression = "10000.*((B8A-B04)/(B8A+B04))"),
      quicklook = Seq("B04", "B8A", "B04"))
    val r = CubeRun.runTiles(spark, withNdvi, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32, publishCogs = true,
      quicklookRange = Some((0.0, 1000.0)))
    assert(r.planned == 6 && r.items == 2)
    // work root emptied, data root holds one dir per item with the full
    // asset set: 2 composites + the NDVI index band as decodable tiffs,
    // plus the S11 quicklook PNG committed WITH the item
    for (period <- Seq("2020-01-01", "2020-01-17")) {
      val itemDir = java.nio.file.Paths.get(outDir, "data",
        withNdvi.identifier, "t9", period)
      val s = java.nio.file.Files.list(itemDir)
      val files = try s.toArray.map(_.toString).sorted finally s.close()
      val tifs = files.filter(_.endsWith(".tif"))
      assert(tifs.length == 3, s"item $period: ${files.mkString(", ")}")
      assert(tifs.exists(_.contains("_NDVI_")), "index band must publish")
      val info = GeoTiff.readInfo(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tifs.head)))
      assert(info.width == 32 && info.height == 32)
      val pngs = files.filter(_.endsWith("_quicklook.png"))
      assert(pngs.length == 1, s"item $period must carry its quicklook")
      val png = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(pngs.head))
      assert(png.take(4).sameElements(
        Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)),
        "quicklook must be a PNG")
    }
    val workRoot = java.nio.file.Paths.get(outDir, "work")
    assert(!java.nio.file.Files.exists(workRoot) || {
      val s = java.nio.file.Files.list(workRoot)
      try !s.iterator().hasNext finally s.close()
    }, "work root must be emptied after the commit")
  }

  test("publishCogs writes each band COG in its declared data type: a " +
       "uint16 sample above 32767 decodes unchanged") {
    val sceneDir = java.nio.file.Files.createTempDirectory("u16_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("u16_out").toString
    val w = 32; val h = 32
    for (band <- Seq("B04", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i => if (isQa) 0 else 40000 + i)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        sampleFormat = if (isQa) 2 else 1,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else 0)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_20200105_$band.tif"),
        bytes)
    }
    val u16 = coll.copy(bands = Seq(Band("B04", "red", "uint16", 0),
      Band("QA", "quality", "uint8", 255)))
    val r = CubeRun.runTiles(spark, u16, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 16),
      tiles = Tiles.Fixed("t9"), blockSize = 32, publishCogs = true)
    assert(r.items == 1 && r.errors == 0)
    val cog = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(outDir,
      "data", u16.identifier, "t9", "2020-01-01",
      s"${u16.identifier}_t9_B04_2020-01-01.tif"))
    val info = GeoTiff.readInfo(cog)
    assert(info.bitsPerSample == 16 && info.sampleFormat == 1)
    assert(GeoTiff.readWindow(cog, info, 0, 0, h, w).toSeq ==
      Seq.tabulate(w * h)(40000 + _))
  }

  test("a run's writes fork no process, keep the stock permission modes, " +
       "and leave the caller's file: filesystem stock") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val sceneDir = Files.createTempDirectory("nofork_scenes")
    val outDir = Files.createTempDirectory("nofork_out").toString
    val w = 32; val h = 32
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"),
        GeoTiff.write(px, w, h, tileSize = 32, originX = 0, originY = 320,
          scaleX = 10, scaleY = 10, nodata = if (isQa) 255 else nodata))
    }
    val withNdvi = coll.copy(
      bands = coll.bands :+ Band("NDVI", "ndvi", "int16", nodata,
        expression = "10000.*((B8A-B04)/(B8A+B04))"),
      quicklook = Seq("B04", "B8A", "B04"))
    // the class Hadoop resolves for the caller's `file:` scheme (with
    // Hive on the classpath it can be Hive's ProxyLocalFileSystem)
    def callerFs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), spark.sessionState.newHadoopConf())
      .getClass
    val callerFsBefore = callerFs
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val r =
      try CubeRun.runTiles(spark, withNdvi, mask, sceneDir.toString, outDir,
        java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
        tiles = Tiles.Fixed("t9"), blockSize = 32, publishCogs = true,
        quicklookRange = Some((0.0, 1000.0)))
      finally rec.stop()
    val jfr = Files.createTempFile("nofork", ".jfr")
    val commands =
      try {
        rec.dump(jfr)
        jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command")).toList
      } finally { rec.close(); Files.deleteIfExists(jfr): Unit }
    assert(r.items == 2 && r.blocks == 4)
    val mine = commands.filter(_.contains(outDir))
    assert(mine.isEmpty,
      s"${mine.size} process starts named the run's outDir: ${mine.take(3)}")

    // the stock LocalFileSystem's modes, per kind of entry, from a
    // partitioned parquet write of the caller's session
    val ref = Files.createTempDirectory("nofork_ref")
    spark.range(4).selectExpr("id", "id % 2 AS k").write
      .partitionBy("k").parquet(ref.resolve("t").toString)
    def entries(root: Path): List[Path] = {
      val s = Files.walk(root)
      try s.iterator().asScala.toList finally s.close()
    }
    def modesByKind(ps: Seq[Path]): Map[Boolean, Set[String]] =
      ps.groupBy(Files.isDirectory(_)).map { case (dir, xs) =>
        dir -> xs.map(p => java.nio.file.attribute.PosixFilePermissions
          .toString(Files.getPosixFilePermissions(p))).toSet
      }
    val stock = modesByKind(entries(ref.resolve("t")))
    assert(stock.keySet == Set(true, false) && stock.values.forall(_.size == 1),
      s"stock modes: $stock")
    // the ledger's pointer files and the catalog roots are created through
    // java.nio, not Hadoop; everything else under the four tables is a
    // Hadoop write of the run
    val written = Seq("blocks", "index_blocks", "items", "ledger").flatMap { t =>
      val root = java.nio.file.Paths.get(outDir, t)
      val es = entries(root).filterNot { p =>
        val n = p.getFileName.toString
        n == "_current" || n.startsWith(".claim_") ||
          (p == root && Set("items", "ledger")(t))
      }
      assert(es.exists(_.getFileName.toString.endsWith(".parquet.crc")),
        s"$t holds no checksummed parquet file")
      es
    }
    for ((isDir, modes) <- modesByKind(written))
      assert(modes == stock(isDir),
        s"${if (isDir) "directory" else "file"} modes $modes, stock ${stock(isDir)}")

    assert(callerFs == callerFsBefore && callerFs != classOf[graft.core.LocalFs])
    Seq(sceneDir, java.nio.file.Paths.get(outDir), ref)
      .foreach(graft.core.Fs.deleteTree)
  }

  test("runTiles: one declarative chain carries many tiles; a dropped-in " +
       "tile backfills alone") {
    val sceneDir = java.nio.file.Files.createTempDirectory("mt_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("mt_out").toString
    val w = 32; val h = 32
    def writeScene(tile: String, date: String, seed: Int): Unit =
      for (band <- Seq("B04", "B8A", "QA")) {
        val isQa = band == "QA"
        val px = Array.tabulate(w * h)(i =>
          if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
        val bytes = GeoTiff.write(px, w, h, tileSize = 32,
          originX = 0, originY = 320, scaleX = 10, scaleY = 10,
          nodata = if (isQa) 255 else nodata)
        java.nio.file.Files.write(
          sceneDir.resolve(s"S_${tile}_${date}_$band.tif"), bytes)
      }
    writeScene("T9", "20200105", 1); writeScene("T9", "20200120", 2)
    writeScene("T7", "20200105", 3); writeScene("T7", "20200120", 4)

    def go() = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      blockSize = 32)
    val r1 = go()
    assert(r1.planned == 2 * 2 * 3, "2 tiles × 2 periods × 3 bands")
    assert(r1.items == 4, "one item per (tile, period)")
    assert(r1.blocks == 2 * 2 * 2, "2 tiles × 2 periods × 2 spectral bands")
    import spark.implicits._
    val perTile = spark.read.parquet(s"$outDir/blocks")
      .groupBy($"tileId").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perTile == Map("T9" -> 4L, "T7" -> 4L), s"got $perTile")

    assert(go().planned == 0, "rerun must be a no-op across all tiles")

    // a NEW tile lands in the same directory: only it backfills
    writeScene("T5", "20200105", 5); writeScene("T5", "20200120", 6)
    val r3 = go()
    assert(r3.planned == 2 * 3, "only the new tile's units plan")
    val tiles3 = spark.read.parquet(s"$outDir/blocks")
      .select($"tileId").distinct().collect().map(_.getString(0)).toSet
    assert(tiles3 == Set("T9", "T7", "T5"))
  }

  test("runTiles: a corrupt scene quarantines only ITS tile's period; " +
       "every other tile publishes") {
    val sceneDir = java.nio.file.Files.createTempDirectory("mtq_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("mtq_out").toString
    val w = 32; val h = 32
    def bandBytes(band: String, seed: Int): Array[Byte] = {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
    }
    def writeScene(tile: String, date: String, seed: Int,
                   bands: Seq[String] = Seq("B04", "B8A", "QA")): Unit =
      bands.foreach { band =>
        java.nio.file.Files.write(
          sceneDir.resolve(s"S_${tile}_${date}_$band.tif"),
          bandBytes(band, seed))
      }
    writeScene("T9", "20200105", 1); writeScene("T9", "20200120", 2)
    writeScene("T7", "20200105", 3)
    writeScene("T7", "20200120", 4, Seq("B04", "B8A"))
    val corrupt = sceneDir.resolve("S_T7_20200120_QA.tif")
    java.nio.file.Files.write(corrupt,
      Array.tabulate[Byte](48)(i => (i * 29 + 5).toByte))

    def go() = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      blockSize = 32)
    val r1 = go()
    assert(r1.planned == 12, "2 tiles × 2 periods × 3 bands")
    assert(r1.errors == 3, "only T7's second period ledgers ERROR")
    assert(r1.items == 3, "T9 publishes both periods, T7 only the first")
    assert(r1.blocks == 6)
    import spark.implicits._
    val blocksByTile = spark.read.parquet(s"$outDir/blocks")
      .groupBy($"tileId").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(blocksByTile == Map("T9" -> 4L, "T7" -> 2L), s"got $blocksByTile")

    java.nio.file.Files.write(corrupt, bandBytes("QA", 4))
    val r2 = go()
    assert(r2.planned == 3 && r2.errors == 0 && r2.items == 4 && r2.blocks == 8)
    assert(go().planned == 0)
  }

  test("merge→composite over the clustered block table plans ZERO Exchange") {
    // the production chain runTiles() executes: decoded blocks clustered
    // on (tileId, blockY, blockX) by CubeRun.clusterBlocks, then
    // per-slice merges, the spectral↔quality join and the composite
    // groupBy must all inherit its HashPartitioning — one shuffle for
    // the whole tile lifecycle, the layout a 1000-executor job wants
    import spark.implicits._
    val rows = for {
      date <- Seq("2020-01-05", "2020-01-20"); band <- Seq("B04", "B8A", "QA")
      by <- 0 until 2; bx <- 0 until 2
    } yield ("run_V1", "t9", java.sql.Date.valueOf(date), band, by, bx,
      16, 16, bx * 160.0, 320.0 - by * 160.0, 10.0, 10.0, nodata,
      Array.tabulate(256)(i => if (band == "QA") i % 5 else 100 + i), 0, 0)
    val blocks = CubeRun.clusterBlocks(
      rows.toDF("cube", "tileId", "date", "band", "blockY", "blockX",
        "height", "width", "x0", "y0", "resX", "resY", "nodata", "pixels",
        "assetOrder", "source"), 8)
    val periods = Seq(("2020-01-01", "2020-01-16"), ("2020-01-17", "2020-02-01"))
      .toDF("ps", "pe")
      .select($"ps".cast("date").as("p_start"), $"pe".cast("date").as("p_end"))
    val composited = CubeRun.mergeCompositeChain(blocks, coll, this.mask, periods)
    assert(composited.count() == 2 * 2 * 4, "2 periods × 2 bands × 4 blocks")
    val n = graft.operators.Scale.shuffleExchangeCount(composited)
    assert(n == 0,
      s"the e2e merge→composite chain must plan zero Exchange, got $n:\n" +
        composited.queryExecution.executedPlan)

    // the AT-SCALE variant: broadcast off (a tile-date quality slice is
    // hundreds of MB in production) + subset-key co-partitioning on (the
    // conf CubeRun.runTiles sets) — the spectral↔quality join must ride the
    // scan's (tileId, blockY, blockX) partitioning, still zero Exchange
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevC =
      spark.conf.getOption("spark.sql.requireAllClusterKeysForCoPartition")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      val c2 = CubeRun.mergeCompositeChain(blocks, coll, this.mask, periods)
      assert(c2.count() == 2 * 2 * 4)
      val n2 = graft.operators.Scale.shuffleExchangeCount(c2)
      assert(n2 == 0,
        s"no-broadcast chain must co-partition on the bucket subset, got " +
          s"$n2:\n${c2.queryExecution.executedPlan}")
    } finally {
      org.apache.spark.sql.graftbridge.ShuffledScan.release(blocks)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      prevC match {
        case Some(v) =>
          spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", v)
        case None =>
          spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      }
    }
  }

  test("a torn block partition is planned for deletion and the next run " +
       "republishes it from source") {
    val sceneDir = java.nio.file.Files.createTempDirectory("torn_scenes")
    val outDir = java.nio.file.Files.createTempDirectory("torn_out").toString
    val w = 32; val h = 32
    for ((date, seed) <- Seq(("20200105", 1), ("20200120", 2));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) 0 else 100 + (i * 7 + seed * 13) % 900)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"), bytes)
    }
    def go() = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
      java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31),
      tiles = Tiles.Fixed("t9"), blockSize = 32)
    val r1 = go()
    assert(r1.planned == 6 && r1.blocks == 4)

    // a clean cube plans all-keep
    val clean = graft.cube.Repair.tornRepairPlan(spark, outDir).collect()
    assert(clean.length == 2 && clean.forall(_.getAs[String]("action") == "keep"))

    // tear the LATER period's partition: truncate its data file mid-body
    // (the tail "PAR1" magic is gone — exactly a writer crash signature)
    val tileDir = java.nio.file.Paths.get(outDir, "blocks", "tileId=t9")
    val periodDirs = {
      val ls = java.nio.file.Files.list(tileDir)
      try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("p_start=")).sortBy(_.toString)
      finally ls.close()
    }
    assert(periodDirs.length == 2)
    val tornPeriod = periodDirs.last.getFileName.toString.stripPrefix("p_start=")
    val keptPeriod = periodDirs.head.getFileName.toString.stripPrefix("p_start=")
    val pDir = periodDirs.last
    val dataFile = {
      val ls = java.nio.file.Files.list(pDir)
      try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.toString.endsWith(".parquet")).get
      finally ls.close()
    }
    val whole = java.nio.file.Files.readAllBytes(dataFile)
    java.nio.file.Files.write(dataFile, whole.dropRight(whole.length / 2))

    // the plan flags exactly the torn dir; the healthy one keeps
    val plan = graft.cube.Repair.tornRepairPlan(spark, outDir).collect()
    assert(plan.length == 2)
    val byPeriod = plan.map(r =>
      r.getAs[String]("p_start") -> r.getAs[String]("action")).toMap
    assert(byPeriod(tornPeriod) == "delete_and_retry",
      s"truncated partition must plan for deletion: ${byPeriod.mkString(",")}")
    assert(byPeriod(keptPeriod) == "keep")

    // apply: the dir is gone and its ledger rows downgrade to ERROR
    assert(graft.cube.Repair.applyTornRepair(spark, outDir) == 1L)
    assert(!java.nio.file.Files.exists(pDir), "torn dir must be deleted")
    import spark.implicits._
    val led = graft.catalog.Ledger.readCurrent(spark, s"$outDir/ledger").get
    assert(led.filter($"status" === "ERROR" && $"p_start" === tornPeriod)
      .count() == 3, "the torn period's 3 band units must ledger ERROR")
    assert(led.filter($"status" === "SUCCESS").count() == 3,
      "the healthy period's units must stay SUCCESS")

    // the next run re-plans exactly the torn period and republishes it
    val r2 = go()
    assert(r2.planned == 3, s"only the torn period re-plans, got ${r2.planned}")
    assert(r2.blocks == 4 && r2.items == 2, "the cube is whole again")
    assert(spark.read.parquet(s"$outDir/blocks")
      .filter($"p_start" === java.sql.Date.valueOf(tornPeriod))
      .count() == 2, "the republished partition reads back")
    // idempotent: a repaired cube plans all-keep and a rerun is a no-op
    assert(graft.cube.Repair.tornRepairPlan(spark, outDir).collect()
      .forall(_.getAs[String]("action") == "keep"))
    assert(graft.cube.Repair.applyTornRepair(spark, outDir) == 0L)
    assert(go().planned == 0)
  }

  test("run-level T1/T10: a default run composites the later date, " +
       "efficacyPriority the clearer one; histogramMatching publishes the " +
       "same items and ledger rows") {
    val sceneDir = java.nio.file.Files.createTempDirectory("t1_scenes")
    val w = 32; val h = 32
    // one period (Jan 1-16), two dates: Jan-10 is the later and the
    // cloudier scene (every 4th pixel cloud), Jan-5 is clear everywhere
    for ((date, seed, cloudy) <- Seq(("20200105", 1, false),
                                     ("20200110", 2, true));
         band <- Seq("B04", "B8A", "QA")) {
      val isQa = band == "QA"
      val px = Array.tabulate(w * h)(i =>
        if (isQa) (if (cloudy && i % 4 == 0) 4 else 0)
        else 100 + (i * 7 + seed * 13) % 900)
      val bytes = GeoTiff.write(px, w, h, tileSize = 32,
        originX = 0, originY = 320, scaleX = 10, scaleY = 10,
        nodata = if (isQa) 255 else nodata)
      java.nio.file.Files.write(sceneDir.resolve(s"S_T9_${date}_$band.tif"), bytes)
    }
    def build(efficacyPriority: Boolean = false,
              histogramMatching: Boolean = false): String = {
      val outDir = java.nio.file.Files.createTempDirectory("t1_out").toString
      val r = CubeRun.runTiles(spark, coll, mask, sceneDir.toString, outDir,
        java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 16),
        tiles = Tiles.Fixed("t9"), blockSize = 32,
        efficacyPriority = efficacyPriority,
        histogramMatching = histogramMatching)
      assert(r.planned == 3 && r.items == 1 && r.blocks == 2)
      outDir
    }
    // provenance = the chosen date's day of year, per pixel
    def provenance(outDir: String): Seq[Int] =
      spark.read.parquet(s"$outDir/blocks")
        .filter(org.apache.spark.sql.functions.col("band") === "B04")
        .select("provenance").head().getSeq[Int](0)
    def catalog(outDir: String, table: String): Set[String] =
      graft.catalog.Ledger.readCurrent(spark, s"$outDir/$table").get
        .collect().map(_.toString).toSet
    val byDate = provenance(build())
    val eff = build(efficacyPriority = true)
    val byEfficacy = provenance(eff)
    // pixel 1 is clear on both dates: the later date wins by default,
    // the clearer date under efficacy priority
    assert(byDate(1) == 10)
    assert(byEfficacy(1) == 5)
    // pixel 0 is cloud on Jan-10, so both runs take Jan-5 there
    assert(byDate(0) == 5 && byEfficacy(0) == 5)
    val matched = build(histogramMatching = true)
    assert(provenance(matched) == byEfficacy)
    for (table <- Seq("items", "ledger"))
      assert(catalog(matched, table) == catalog(eff, table), table)
  }

  test("probeMaxDims sizes the advisory for the LARGEST geometry in a " +
       "mixed-platform scene dir; garbage never aborts; empty dir -> None") {
    import graft.sources.GeoTiff
    val dir = java.nio.file.Files.createTempDirectory("mixdims")
    def put(name: String, w: Int, h: Int): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        GeoTiff.write(Array.fill(w * h)(1), w, h, tileSize = 32)): Unit
    put("S_T1_20200101_B04.tif", 32, 32)   // the "Landsat" small tile
    put("S_T2_20200101_B04.tif", 96, 64)   // largest block count, not first
    put("S_T3_20200101_B04.tif", 64, 64)
    java.nio.file.Files.write(dir.resolve("junk.tif"),
      "not a tiff".getBytes("ASCII")): Unit
    // real scene bundles lead with sidecars: the <=16 budget must count
    // DECODABLE headers, not listed files, or 20 sidecars sorting ahead
    // of the rasters would starve the probe (the walk goes in listing
    // order; "A_..." names sort before "S_...")
    for (i <- 0 until 20)
      java.nio.file.Files.write(dir.resolve(f"A_sidecar_$i%02d.xml"),
        "<mtl/>".getBytes("ASCII")): Unit
    assert(CubeRun.probeMaxDims(dir.toString, 32).contains((96, 64)))
    val empty = java.nio.file.Files.createTempDirectory("mixdims_empty")
    assert(CubeRun.probeMaxDims(empty.toString, 32).isEmpty)
  }

  test("quicklookRange against a collection without 3 quicklook bands " +
       "fails UP-FRONT, not as a MatchError after the heavy stages") {
    val e = intercept[IllegalArgumentException] {
      CubeRun.runTiles(spark, coll, mask, "/nonexistent_scenes",
        "/nonexistent_out", java.time.LocalDate.of(2020, 1, 1),
        java.time.LocalDate.of(2020, 1, 31), tiles = Tiles.Fixed("t9"),
        quicklookRange = Some((0.0, 1000.0)))
    }
    assert(e.getMessage.contains("quicklook"))
  }

  test("band lineage rejects DUPLICATE band names instead of silently " +
       "fanning out one edge per same-named id") {
    import graft.catalog.BandLineage.BandDef
    val e = intercept[IllegalArgumentException] {
      graft.catalog.BandLineage.edges(spark, Seq(
        BandDef(1, "B04"), BandDef(7, "B04"), BandDef(8, "B08"),
        BandDef(9, "NDVI", Some("(B08-B04)/(B08+B04)"))))
    }
    assert(e.getMessage.contains("duplicate band names"))
    assert(e.getMessage.contains("B04"))
  }
}
