package graft

import org.apache.spark.sql.functions._
import graft.sources.{GeoTiff, RasterIO}

/** GeoTIFF codec round-trip, directory scan, and distributed decode/write. */
class RasterIOSpec extends SparkSpec {

  private def checker(w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h)(i => ((i % w) * 31 + (i / w) * 17) % 1000 - 200)

  test("GeoTIFF round-trip: int16 tiled, geo tags, nodata") {
    val px = checker(300, 200)
    val bytes = GeoTiff.write(px, 300, 200, tileSize = 128,
      originX = 5000.0, originY = 9000.0, scaleX = 30.0, scaleY = 30.0,
      nodata = -9999)
    val info = GeoTiff.readInfo(bytes)
    assert(info.width == 300 && info.height == 200)
    assert(info.tileWidth == 128 && info.tileHeight == 128)
    assert(info.originX == 5000.0 && info.originY == 9000.0)
    assert(info.scaleX == 30.0 && info.nodata == -9999.0)
    val back = GeoTiff.readWindow(bytes, info, 0, 0, 200, 300)
    assert(back.toSeq == px.toSeq)
  }

  test("sceneDims probes a scene header driver-side; garbage yields None") {
    val px = checker(300, 200)
    val bytes = GeoTiff.write(px, 300, 200, tileSize = 128)
    val dir = java.nio.file.Files.createTempDirectory("dims")
    val good = dir.resolve("S_T1_20200101_B04.tif")
    java.nio.file.Files.write(good, bytes)
    assert(RasterIO.sceneDims(good.toString).contains((300, 200)))
    val bad = dir.resolve("junk.tif")
    java.nio.file.Files.write(bad, "not a tiff at all".getBytes("ASCII"))
    assert(RasterIO.sceneDims(bad.toString).isEmpty)
    assert(RasterIO.sceneDims(dir.resolve("absent.tif").toString).isEmpty)
  }

  test("a failed band write leaves no file under a committable name") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("wfail").toString
    // first block fixes the writer's tile dims; the later LARGER block
    // violates writeBlock's bound mid-partition — the write must fail
    // loudly, and only a .graft-tmp. sibling may remain on disk
    val rows = Seq(
      ("c", "t1", "B04", "2020-01-01", 0, 0, 16, 16, 0.0, 160.0, 10.0, 10.0,
        -9999, Array.fill(256)(1)),
      ("c", "t1", "B04", "2020-01-01", 0, 1, 32, 32, 160.0, 160.0, 10.0, 10.0,
        -9999, Array.fill(1024)(2)))
      .toDF("cube", "tileId", "band", "date", "blockY", "blockX", "height",
        "width", "x0", "y0", "resX", "resY", "nodata", "pixels")
    intercept[org.apache.spark.SparkException] {
      RasterIO.writeGeoTiffs(rows, out, _ => "int16")
    }
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
    val files =
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toList
      finally walk.close()
    assert(files.forall(graft.core.Fs.isStagedTemp),
      s"only staged temps may survive a failed write: $files")
  }

  test("GeoTIFF windowed read crosses tile boundaries correctly") {
    val px = checker(300, 200)
    val bytes = GeoTiff.write(px, 300, 200, tileSize = 128)
    val info = GeoTiff.readInfo(bytes)
    val win = GeoTiff.readWindow(bytes, info, 100, 100, 60, 80)
    for (r <- 0 until 60; c <- 0 until 80)
      assert(win(r * 80 + c) == px((100 + r) * 300 + (100 + c)))
  }

  test("uint8 and int32 sample widths round-trip") {
    val p8 = Array.tabulate(100)(i => i % 256)
    val b8 = GeoTiff.write(p8, 10, 10, tileSize = 16, bitsPerSample = 8,
      sampleFormat = 1)
    assert(GeoTiff.readWindow(b8, GeoTiff.readInfo(b8), 0, 0, 10, 10).toSeq == p8.toSeq)
    val p32 = Array.tabulate(100)(i => i * 100000 - 5000000)
    val b32 = GeoTiff.write(p32, 10, 10, tileSize = 16, bitsPerSample = 32)
    assert(GeoTiff.readWindow(b32, GeoTiff.readInfo(b32), 0, 0, 10, 10).toSeq == p32.toSeq)
  }

  test("deflate-compressed GeoTIFF round-trips and is smaller") {
    val px = checker(300, 200)
    val plain = GeoTiff.write(px, 300, 200, tileSize = 128, nodata = -9999)
    val packed = GeoTiff.write(px, 300, 200, tileSize = 128, nodata = -9999,
      deflate = true)
    assert(packed.length < plain.length / 2, s"${packed.length} vs ${plain.length}")
    val info = GeoTiff.readInfo(packed)
    assert(info.compression == 8)
    assert(GeoTiff.readWindow(packed, info, 0, 0, 200, 300).toSeq == px.toSeq)
    assert(GeoTiff.readWindow(packed, info, 100, 100, 60, 80).toSeq ==
      GeoTiff.readWindow(plain, GeoTiff.readInfo(plain), 100, 100, 60, 80).toSeq)
  }

  test("scanDirectory extracts band and date from file names") {
    val dir = java.nio.file.Files.createTempDirectory("scenes")
    val px = checker(64, 64)
    for ((date, band) <- Seq(("20200105", "B04"), ("20200105", "QA"),
                             ("20200121", "B04"))) {
      val bytes = GeoTiff.write(px, 64, 64, tileSize = 64,
        originX = 0, originY = 640, scaleX = 10, scaleY = 10, nodata = -9999)
      java.nio.file.Files.write(dir.resolve(s"S2A_T1_${date}_$band.tif"), bytes)
    }
    val scanned = RasterIO.scanDirectory(spark, dir.toString)
    val rows = scanned.select("band", "date").collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).sorted
    assert(rows.toSeq == Seq(("B04", "2020-01-05"), ("B04", "2020-01-21"),
      ("QA", "2020-01-05")))

    // decode into chunked-raster rows and verify pixels survive
    val blocks = RasterIO.failOnDecodeError(RasterIO.decodeBlocksQuarantining(
      scanned.withColumn("tile", lit("t1")), "c1", blockSize = 32))
    assert(blocks.count() == 3 * 4) // 64/32 = 2×2 blocks per file
    val b00 = blocks.filter(col("band") === "B04" && col("date") === "2020-01-05" &&
      col("blockY") === 0 && col("blockX") === 0).head()
    val got = b00.getSeq[Int](b00.fieldIndex("pixels"))
    for (r <- 0 until 32; c <- 0 until 32)
      assert(got(r * 32 + c) == px(r * 64 + c))
    assert(b00.getAs[Double]("y0") == 640.0)
  }

  test("stream writer: each declared data type round-trips its range; a " +
       "sample outside it fails the write") {
    import graft.sources.{GeoTiffStreamWriter, SampleOutOfRange}
    val dir = java.nio.file.Files.createTempDirectory("dtypes")
    for ((t, lo, hi) <- Seq(("uint8", 0, 255), ("int16", -32768, 32767),
         ("uint16", 0, 65535), ("int32", Int.MinValue, Int.MaxValue))) {
      val (bits, format) = GeoTiffStreamWriter.sampleLayout(t)
      val out = dir.resolve(s"$t.tif")
      val w = new GeoTiffStreamWriter(out, 2, 2, bitsPerSample = bits,
        sampleFormat = format)
      w.writeBlock(0, 0, 2, 2, Array(lo, hi, lo, hi))
      w.close(0.0, 20.0, 10.0, 10.0)
      val bytes = java.nio.file.Files.readAllBytes(out)
      assert(GeoTiff.readWindow(bytes, GeoTiff.readInfo(bytes), 0, 0, 2, 2)
        .toSeq == Seq(lo, hi, lo, hi), t)
      if (t != "int32") {
        val bad = new GeoTiffStreamWriter(dir.resolve(s"bad_$t.tif"), 2, 2,
          bitsPerSample = bits, sampleFormat = format)
        intercept[SampleOutOfRange](bad.writeBlock(0, 0, 2, 2,
          Array(lo, hi + 1, lo, hi)))
        bad.dispose()
      }
    }
    intercept[IllegalArgumentException](
      GeoTiffStreamWriter.sampleLayout("float32"))
  }

  test("internal mask: 1-bit mask subIFDs per level, bits track validity") {
    val out = java.nio.file.Files.createTempDirectory("masktif").resolve("m.tif")
    val w = new graft.sources.GeoTiffStreamWriter(out, 32, 32,
      bitsPerSample = 16, sampleFormat = 2, nodata = -9999,
      deflate = true, overviews = true, internalMask = true)
    // 64×64 raster, 4 blocks; nodata where (gy + gx) % 5 == 0
    for (by <- 0 to 1; bx <- 0 to 1) {
      val px = Array.tabulate(32 * 32) { i =>
        val gy = by * 32 + i / 32; val gx = bx * 32 + i % 32
        if ((gy + gx) % 5 == 0) -9999 else gy * 100 + gx
      }
      w.writeBlock(by, bx, 32, 32, px)
    }
    w.close(0.0, 640.0, 10.0, 10.0)

    val bytes = java.nio.file.Files.readAllBytes(out)
    val infos = GeoTiff.readInfos(bytes)
    val masks = infos.filter(i => (i.subfileType & 4) != 0)
    val mains = infos.filterNot(i => (i.subfileType & 4) != 0)
    assert(masks.nonEmpty, "no mask IFDs found")
    assert(masks.length == mains.length, "one mask level per data level")
    masks.foreach { m =>
      assert(m.photometric == 4 && m.bitsPerSample == 1)
      assert(mains.exists(d => d.width == m.width && d.height == m.height))
    }
    // decode mask tile (0,0) of the full-res mask and compare bit-for-bit
    val m0 = masks.find(m => m.width == 64 && m.height == 64).get
    val raw = new Array[Byte](m0.tileByteCounts(0).toInt)
    System.arraycopy(bytes, m0.tileOffsets(0).toInt, raw, 0, raw.length)
    val inf = new java.util.zip.Inflater()
    inf.setInput(raw)
    val plane = new Array[Byte](4 * 32) // 32 rows × 4 bytes/row
    var n = 0
    while (n < plane.length && !inf.finished())
      n += inf.inflate(plane, n, plane.length - n)
    inf.end()
    for (gy <- 0 until 32; gx <- 0 until 32) {
      val bit = (plane(gy * 4 + (gx >> 3)) >> (7 - (gx & 7))) & 1
      val valid = (gy + gx) % 5 != 0
      assert(bit == (if (valid) 1 else 0), s"mask bit at ($gy,$gx)")
    }
    // data still decodes unchanged underneath the mask chain
    val d0 = mains.find(_.width == 64).get
    val back = GeoTiff.readWindow(bytes, d0, 0, 0, 64, 64)
    assert(back(0) == -9999 && back(1) == 1)
  }

  test("quarantining decode: truncation quarantines at open, in-bounds " +
       "tile corruption quarantines mid-stream, healthy files decode") {
    import org.apache.spark.sql.functions.lit
    val dir = java.nio.file.Files.createTempDirectory("qscenes")
    val px = checker(64, 64)
    // healthy uncompressed file — must fully decode
    java.nio.file.Files.write(dir.resolve("S2A_T1_20200105_B04.tif"),
      GeoTiff.write(px, 64, 64, tileSize = 32,
        originX = 0, originY = 640, scaleX = 10, scaleY = 10, nodata = -9999))
    // deflate file whose LAST tile payload is garbage IN BOUNDS: the
    // open-time bounds audit passes, so the failure surfaces in the lazy
    // window reads — the guarded iterator must convert it into the file's
    // quarantine row instead of failing the job (or spinning: a stalled
    // Inflater used to loop forever)
    val packed = GeoTiff.write(px, 64, 64, tileSize = 32,
      originX = 0, originY = 640, scaleX = 10, scaleY = 10, nodata = -9999,
      deflate = true)
    val pinfo = GeoTiff.readInfo(packed)
    val li = pinfo.tileOffsets.length - 1
    java.util.Arrays.fill(packed, pinfo.tileOffsets(li).toInt,
      pinfo.tileOffsets(li).toInt + pinfo.tileByteCounts(li).toInt, 0x55.toByte)
    java.nio.file.Files.write(dir.resolve("S2A_T1_20200105_B8A.tif"), packed)
    // truncated file: offsets point beyond the file end — the bounds
    // audit quarantines it at open, before ANY block emits
    val whole = GeoTiff.write(px, 64, 64, tileSize = 32, nodata = -9999)
    java.nio.file.Files.write(dir.resolve("S2A_T1_20200121_B04.tif"),
      java.util.Arrays.copyOf(whole, whole.length / 2))

    val decoded = RasterIO.decodeBlocksQuarantining(
      RasterIO.scanDirectory(spark, dir.toString)
        .withColumn("tile", lit("t1")), "c1", blockSize = 32)
    val errPaths = decoded.filter(col("error").isNotNull)
      .select("path").collect().map(_.getString(0)).sorted
    assert(errPaths.length == 2, s"got ${errPaths.toSeq}")
    assert(errPaths.exists(_.endsWith("20200105_B8A.tif")))
    assert(errPaths.exists(_.endsWith("20200121_B04.tif")))
    // the healthy file decodes all 4 blocks
    assert(decoded.filter(col("error").isNull)
      .filter(col("path").endsWith("20200105_B04.tif")).count() == 4)
    // truncation caught at open: zero blocks from the truncated file
    assert(decoded.filter(col("error").isNull)
      .filter(col("path").endsWith("20200121_B04.tif")).count() == 0)
    // mid-stream corruption: the earlier tiles' blocks emitted, the bad
    // tile became the quarantine row (3 of 4 blocks, never a partial 4th)
    assert(decoded.filter(col("error").isNull)
      .filter(col("path").endsWith("20200105_B8A.tif")).count() == 3)
  }

  test("failOnDecodeError fails the job on a corrupt scene, naming the " +
       "file; healthy scenes pass through as plain blocks") {
    val dir = java.nio.file.Files.createTempDirectory("strictscenes")
    java.nio.file.Files.write(dir.resolve("S2A_T1_20200105_B04.tif"),
      GeoTiff.write(checker(64, 64), 64, 64, tileSize = 32, nodata = -9999))
    def strict() = RasterIO.failOnDecodeError(RasterIO.decodeBlocksQuarantining(
      RasterIO.scanDirectory(spark, dir.toString)
        .withColumn("tile", lit("t1")), "c1", blockSize = 32))
    assert(strict().count() == 4)
    assert(!strict().columns.exists(Set("path", "error")))
    java.nio.file.Files.write(dir.resolve("S2A_T1_20200121_B04.tif"),
      Array.tabulate[Byte](64)(i => (i * 37).toByte))
    val e = intercept[Exception](strict().count())
    assert(e.getMessage.contains("S2A_T1_20200121_B04.tif"),
      s"the failure must name the corrupt file: ${e.getMessage}")
  }

  test("writeGeoTiffs reassembles blocks into one tiled file per band") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scenes2")
    val outDir = java.nio.file.Files.createTempDirectory("tiffout")
    val px = checker(64, 64)
    val bytes = GeoTiff.write(px, 64, 64, tileSize = 64,
      originX = 100, originY = 740, scaleX = 10, scaleY = 10, nodata = -9999)
    java.nio.file.Files.write(dir.resolve(s"S2A_T1_20200105_B04.tif"), bytes)
    val blocks = RasterIO.failOnDecodeError(RasterIO.decodeBlocksQuarantining(
      RasterIO.scanDirectory(spark, dir.toString).withColumn("tile", lit("t1")),
      "c1", blockSize = 32))
    RasterIO.writeGeoTiffs(blocks, outDir.toString, _ => "int16")
    val written = java.nio.file.Files.list(outDir).iterator()
    assert(written.hasNext)
    val f = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outDir.toString, "c1_t1_B04_2020-01-05.tif"))
    val info = GeoTiff.readInfo(f)
    assert(info.width == 64 && info.height == 64)
    assert(info.originX == 100.0 && info.originY == 740.0)
    assert(GeoTiff.readWindow(f, info, 0, 0, 64, 64).toSeq == px.toSeq)
  }
}
