package graft

import org.apache.spark.sql.functions._
import graft.cube.CubeBuilder
import graft.model.{Band, Collection, MaskDef}
import graft.raster.Raster

/** End-to-end pipeline test: two scenes per date over a 2×2-pixel block,
  * merge → 16-day LCF composite → NDVI index band → items row, with
  * hand-computed expectations.
  */
class CubeBuilderSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private val nodata = -9999
  private val mask = MaskDef(clearData = Seq(0L, 1L), notClearData = Seq(2L, 3L, 4L),
    nodata = 255L)

  private val coll = Collection(
    name = "demo", version = 1, grid = "G", compositeFunction = "LCF",
    temporalSchema = "Continuous", temporalUnit = "day", temporalStep = 16,
    bands = Seq(
      Band("B04", "red", "int16", nodata),
      Band("B8A", "nir", "int16", nodata),
      Band("QA", "quality", "uint8", 255),
      Band("NDVI", "ndvi", "int16", nodata,
        expression = "10000.*((B8A-B04)/(B8A+B04))")),
    qualityBand = "QA")

  /** two dates in period 1 (Jan 1-16) and one in period 2 (Jan 17 -…). */
  private def scenes: DataFrame = {
    import spark.implicits._
    def block(date: String, band: String, order: Int, px: Array[Int]) =
      (("c1", "t1", java.sql.Date.valueOf(date), band, 0, 0, 2, 2,
        0.0, 20.0, 10.0, 10.0, if (band == "QA") 255 else nodata, px), order, 0)
    Seq(
      // date 1: two scenes — asset 0 has a nodata hole at px1, asset 1 fills it
      block("2020-01-05", "B04", 0, Array(100, nodata, 300, 400)),
      block("2020-01-05", "B04", 1, Array(110, 220, 330, 440)),
      block("2020-01-05", "B8A", 0, Array(500, nodata, 700, 800)),
      block("2020-01-05", "B8A", 1, Array(510, 620, 730, 840)),
      block("2020-01-05", "QA", 0, Array(0, 255, 4, 0)),
      block("2020-01-05", "QA", 1, Array(0, 0, 4, 0)),
      // date 2: single scene, px0 cloudy, px3 clear
      block("2020-01-10", "B04", 0, Array(150, 250, 350, 450)),
      block("2020-01-10", "B8A", 0, Array(550, 650, 750, 850)),
      block("2020-01-10", "QA", 0, Array(4, 0, 0, 0)),
      // period 2 scene
      block("2020-01-20", "B04", 0, Array(111, 222, 333, 444)),
      block("2020-01-20", "B8A", 0, Array(555, 666, 777, 888)),
      block("2020-01-20", "QA", 0, Array(0, 0, 0, 255)))
      .map { case ((cube, tile, date, band, by, bx, h, w, x0, y0, rx, ry, nd, px), ord, src) =>
        (cube, tile, date, band, by, bx, h, w, x0, y0, rx, ry, nd, px, ord, src)
      }
      .toDF("cube", "tileId", "date", "band", "blockY", "blockX", "height",
        "width", "x0", "y0", "resX", "resY", "nodata", "pixels",
        "assetOrder", "source")
  }

  private lazy val merged =
    CubeBuilder.merge(scenes.filter(col("band") =!= "QA"), nodata, combined = true)
      .unionByName(
        CubeBuilder.merge(scenes.filter(col("band") === "QA"), 255, combined = true))

  test("merge fills nodata holes from later assets (combined mode)") {
    val b04 = merged.filter(col("band") === "B04" && col("date") === "2020-01-05")
      .select("pixels").head().getSeq[Int](0)
    assert(b04 == Seq(100, 220, 300, 400))
    val qa = merged.filter(col("band") === "QA" && col("date") === "2020-01-05")
      .select("pixels").head().getSeq[Int](0)
    assert(qa == Seq(0, 0, 4, 0)) // hole at px1 filled by asset 1's clear
  }

  private lazy val periods = CubeBuilder.periodTable(spark, coll,
    java.time.LocalDate.of(2020, 1, 1), java.time.LocalDate.of(2020, 1, 31))

  private lazy val composited = CubeBuilder.composite(
    merged, periods, coll, mask,
    // later scene-date = higher priority to make expectations interesting
    priority = dayofyear(col("date")).cast("double"))

  test("LCF composite picks best-priority clear pixel per period") {
    val p1b04 = composited
      .filter(col("band") === "B04" && col("p_start") === "2020-01-01")
      .select("value", "provenance", "clearob", "totalob").head()
    // priorities: Jan-10 (doy 10) > Jan-5 (doy 5)
    // px0: Jan-10 cloudy(4) → falls to Jan-5 clear 100; backfill writes 150
    //      first, clear tier overwrites with 100
    assert(p1b04.getSeq[Int](0) == Seq(100, 250, 350, 450))
    // px2: Jan-10 clear 350 wins (Jan-5 QA=4)
    assert(p1b04.getSeq[Int](1) == Seq(5, 10, 10, 10)) // provenance = chosen doy
    assert(p1b04.getSeq[Int](2) == Seq(1, 2, 1, 2))    // clearob
    assert(p1b04.getSeq[Int](3) == Seq(2, 2, 2, 2))    // totalob
  }

  test("period 2 composite carries QA-nodata through") {
    val p2 = composited
      .filter(col("band") === "B04" && col("p_start") === "2020-01-17")
      .select("value", "clearob").head()
    // px3: QA nodata(255) but band valid → usable=false, backfill tier → 444
    assert(p2.getSeq[Int](0) == Seq(111, 222, 333, 444))
    assert(p2.getSeq[Int](1) == Seq(1, 1, 1, 0))
  }

  test("NDVI index band evaluates over composited bands") {
    val ndvi = CubeBuilder.indexBands(composited, coll)
    val row = ndvi.filter(col("p_start") === "2020-01-01").select("value").head()
    // px0: B04=100 B8A=500 → 10000*400/600 = 6666 (trunc)
    val got = row.getSeq[Int](0)
    assert(got.head == 6666)
    assert(got(1) == ((650.0 - 250.0) / (650.0 + 250.0) * 10000).toInt)
  }

  test("index band DROPS blocks whose expression source band is missing " +
       "(no null pixel arrays reach the table or the COG writer)") {
    // period 1 loses its B8A rows (scene file absent from the archive):
    // the pivot yields B8A=null and the NDVI expression evaluates to a
    // null array — the row must be dropped, same as quicklook's
    // complete-band filter, not published
    val partial = composited.filter(
      !(col("band") === "B8A" && col("p_start") === "2020-01-01"))
    val ndvi = CubeBuilder.indexBands(partial, coll)
    assert(ndvi.filter(col("value").isNull).count() == 0,
      "no null pixel arrays may be emitted")
    assert(ndvi.filter(col("p_start") === "2020-01-01").count() == 0,
      "the incomplete period emits no index row")
    assert(ndvi.filter(col("p_start") === "2020-01-17").count() == 1,
      "the complete period is unaffected")
  }

  test("reference-day proximity STRICTLY dominates efficacy at any " +
       "resolution; efficacy only breaks same-distance ties") {
    import spark.implicits._
    // near scene (doy 2) fully cloudy vs far scene (doy 9) fully clear,
    // at resolution=1 — the shape that inverted under the old
    // efficacy*100/resolution weight (tie term 10000 > the 1000/day step)
    def qa(date: String, px: Array[Int]) =
      ("c1", "t1", java.sql.Date.valueOf(date), "QA", 0, 0, 2, 2,
        0.0, 20.0, 10.0, 10.0, 255, px)
    val m = Seq(qa("2020-01-02", Array(4, 4, 4, 4)),
                qa("2020-01-09", Array(0, 0, 0, 0)))
      .toDF("cube", "tileId", "date", "band", "blockY", "blockX", "height",
        "width", "x0", "y0", "resX", "resY", "nodata", "pixels")
    val prios = CubeBuilder.scenePriorities(m, coll, mask, resolution = 1.0,
      referenceDay = Some(1)).collect()
      .map(r => r.getDate(1).toString -> r.getDouble(2)).toMap
    assert(prios("2020-01-02") > prios("2020-01-09"),
      "a closer fully-cloudy scene must outrank a farther fully-clear one")
    // same distance → efficacy decides (both doy-distance 4 from day 5)
    val tied = Seq(qa("2020-01-01", Array(0, 0, 0, 0)),
                   qa("2020-01-09", Array(4, 4, 4, 4)))
      .toDF("cube", "tileId", "date", "band", "blockY", "blockX", "height",
        "width", "x0", "y0", "resX", "resY", "nodata", "pixels")
    val tp = CubeBuilder.scenePriorities(tied, coll, mask, resolution = 1.0,
      referenceDay = Some(5)).collect()
      .map(r => r.getDate(1).toString -> r.getDouble(2)).toMap
    assert(tp("2020-01-01") > tp("2020-01-09"),
      "within one distance the clearer scene wins")
  }

  test("items catalog rows publish per (tile, period) with bbox and bands") {
    val items = CubeBuilder.publishItems(composited, coll)
    val rows = items.orderBy("start_date").collect()
    assert(rows.length == 2)
    val r = rows.head
    assert(r.getAs[String]("item_id") == "C1_V001_t1_20200101")
    assert(r.getAs[Seq[String]]("bands").toSet == Set("B04", "B8A"))
    assert(r.getAs[Double]("xmin") == 0.0 && r.getAs[Double]("ymax") == 20.0)
    assert(r.getAs[Double]("xmax") == 20.0 && r.getAs[Double]("ymin") == 0.0)
  }

  test("T1 efficacy priorities order scenes; best-efficacy date wins the composite") {
    // Jan-5 QA after merge: (0,0,4,0) → 75% clear; Jan-10: (4,0,0,0) → 75%;
    // Jan-20 (other period): (0,0,0,255) → 75% of total (3 clear / 4 px)
    val prios = CubeBuilder.scenePriorities(merged, coll, mask, resolution = 30)
      .collect().map(r => r.getDate(1).toString -> r.getDouble(2)).toMap
    assert(prios("2020-01-05") == 75.0 * 100 / 30)
    assert(prios("2020-01-10") == 75.0 * 100 / 30)

    val composited2 = graft.cube.CubeRun.mergeCompositeChain(
      scenes, coll, mask, periods, efficacyPriority = true, resolution = 30)
    // equal efficacy → tie toward later doy (reference sorts keys desc):
    // px1 clear in both Jan-5 (220) and Jan-10 (250) → Jan-10 wins
    val p1 = composited2
      .filter(col("band") === "B04" && col("p_start") === "2020-01-01")
      .select("value").head().getSeq[Int](0)
    assert(p1(1) == 250)

    // reference-day weighting flips the order toward Jan-5 (ref day 1)
    val withRefDay = graft.cube.CubeRun.mergeCompositeChain(
      scenes, coll, mask, periods, resolution = 30, referenceDay = Some(1))
    val p2 = withRefDay
      .filter(col("band") === "B04" && col("p_start") === "2020-01-01")
      .select("value").head().getSeq[Int](0)
    assert(p2(1) == 220)
  }

  /** Publish composite `value` blocks as item-tree int16 GeoTIFFs and
    * render each (cube, tile, period) item's quicklook from its B8A, B04,
    * B04 band files, as the item commit does: the PNGs, in item order.
    */
  private def quicklooks(blocks: DataFrame, inMin: Double, inMax: Double,
                         maxRows: Int = 768): Seq[Array[Byte]] = {
    val dir = java.nio.file.Files.createTempDirectory("ql_items")
    try {
      graft.sources.RasterIO.writeGeoTiffs(
        blocks.select(col("cube"), col("tileId"), col("p_start"), col("band"),
          col("blockY"), col("blockX"), col("height"), col("width"),
          lit(0.0).as("x0"), lit(0.0).as("y0"), lit(10.0).as("resX"),
          lit(10.0).as("resY"), col("nodata"), col("value").as("pixels")),
        dir.toString, _ => "int16", periodCols = Seq("p_start"),
        itemTree = true)
      val items = {
        val s = java.nio.file.Files.walk(dir, 3)
        try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(p => dir.relativize(p).getNameCount == 3).sortBy(_.toString)
        finally s.close()
      }
      items.toSeq.flatMap { item =>
        val Seq(cube, tile, period) =
          (0 until 3).map(dir.relativize(item).getName(_).toString)
        graft.cube.Publish.renderQuicklook(Seq("B8A", "B04", "B04")
          .map(b => item.resolve(s"${cube}_${tile}_${b}_$period.tif")),
          inMin, inMax, maxRows)
      }
    } finally graft.core.Fs.deleteTree(dir)
  }

  test("quicklook renders a PNG per (tile, period)") {
    val ql = quicklooks(composited, 0, 1000)
    assert(ql.length == 2)
    val png = ql.head
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 2 && img.getHeight == 2)
  }

  test("quicklook stride-downsamples per block: large tile, thumbnail-sized rows only") {
    import spark.implicits._
    // 1600×1200 tile in 512-px blocks (truncated edge blocks); maxRows=400
    // → stride 4, thumbnail 400×300. Every block contributes only its
    // stride-grid pixels; the assembled PNG must equal direct sampling.
    val bh = 512; val bw = 512; val th = 1600; val tw = 1200
    def v8a(gy: Int, gx: Int) = (gy * 7 + gx * 13) % 1000
    def v04(gy: Int, gx: Int) = (gy * 11 + gx * 3) % 1000
    val rows = for {
      by <- 0 until (th + bh - 1) / bh
      bx <- 0 until (tw + bw - 1) / bw
      band <- Seq("B8A", "B04")
    } yield {
      val h = math.min(bh, th - by * bh); val w = math.min(bw, tw - bx * bw)
      val f = if (band == "B8A") v8a _ else v04 _
      val px = Array.tabulate(h * w)(i => f(by * bh + i / w, bx * bw + i % w))
      ("c1", "t9", java.sql.Date.valueOf("2020-01-01"),
        java.sql.Date.valueOf("2020-01-16"), by, bx, h, w, band, -9999, px)
    }
    val composited = rows.toDF("cube", "tileId", "p_start", "p_end",
      "blockY", "blockX", "height", "width", "band", "nodata", "value")
    val ql = quicklooks(composited, 0, 1000, maxRows = 400)
    assert(ql.length == 1)
    val png = ql.head
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getHeight == 400 && img.getWidth == 300)
    def lum(v: Int): Int = ((v.toDouble / 1000.0) * 255.0).toInt // P3 + int trunc
    for ((qy, qx) <- Seq((0, 0), (127, 128), (128, 127), (399, 299), (200, 150))) {
      val argb = img.getRGB(qx, qy)
      val (gy, gx) = (qy * 4, qx * 4)
      assert(((argb >> 16) & 0xff) == lum(v8a(gy, gx)), s"r at ($qy,$qx)")
      assert(((argb >> 8) & 0xff) == lum(v04(gy, gx)), s"g at ($qy,$qx)")
      assert((argb & 0xff) == lum(v04(gy, gx)), s"b at ($qy,$qx)")
      assert(((argb >> 24) & 0xff) == 255, s"alpha at ($qy,$qx)")
    }
  }

  test("quicklook skips blocks missing a band instead of failing the run") {
    import spark.implicits._
    val d1 = java.sql.Date.valueOf("2020-01-01")
    val d2 = java.sql.Date.valueOf("2020-01-16")
    val rows = Seq(
      ("c1", "t1", d1, d2, 0, 0, 2, 2, "B8A", -9999, Array(100, 200, 300, 400)),
      ("c1", "t1", d1, d2, 0, 0, 2, 2, "B04", -9999, Array(10, 20, 30, 40)),
      // block (0,1): the B8A scene file is absent from the archive —
      // its tile is outside the B8A file's grid, which must render
      // transparent, not fail
      ("c1", "t1", d1, d2, 0, 1, 2, 2, "B04", -9999, Array(50, 60, 70, 80)))
      .toDF("cube", "tileId", "p_start", "p_end", "blockY", "blockX",
        "height", "width", "band", "nodata", "value")
    val ql = quicklooks(rows, 0, 1000)
    assert(ql.length == 1, "item still renders from its complete block")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ql.head))
    assert(img.getWidth == 4 && img.getHeight == 2)
    assert(((img.getRGB(0, 0) >>> 24) & 0xff) == 255, "complete block opaque")
    assert(((img.getRGB(2, 0) >>> 24) & 0xff) == 0,
      "missing-band block renders transparent, not garbage")
    // a band absent from the whole item → no quicklook row, no failure
    assert(quicklooks(rows.filter($"band" === "B04"), 0, 1000).isEmpty)
  }

  test("quicklook leaves a band file's sparse tile transparent") {
    import spark.implicits._
    val d1 = java.sql.Date.valueOf("2020-01-01")
    // B8A lacks block (0,1) between two present blocks: its file carries
    // a sparse tile there, where B04 has data
    val rows = (for (bx <- 0 to 2; band <- Seq("B8A", "B04")
                     if !(band == "B8A" && bx == 1))
      yield ("c1", "t1", d1, 0, bx, 2, 2, band, -9999, Array(10, 20, 30, 40)))
      .toDF("cube", "tileId", "p_start", "blockY", "blockX", "height",
        "width", "band", "nodata", "value")
    val Seq(png) = quicklooks(rows, 0, 1000)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 6 && img.getHeight == 2)
    def alpha(x: Int) = (img.getRGB(x, 0) >>> 24) & 0xff
    assert(alpha(0) == 255 && alpha(4) == 255, "complete blocks opaque")
    assert(alpha(2) == 0 && alpha(3) == 0, "sparse tile transparent")
  }

  test("S12 rgbComposite packs full-res ARGB with the exact P3 channel " +
       "math the quicklook sampler replicates") {
    import spark.implicits._
    val nd = -9999
    // below-min, above-max, nodata, and boundary values in both bands;
    // px 4 is nodata in ALL bands (alpha 0), px 10 only in B8A (opaque)
    val a8 = Array(-50, 0, 500, 1200, nd, 250, 750, 1000, 3, 999,
      nd, 42, 7, 888, 123, 456)
    val a4 = Array(100, nd, 300, -5, nd, 2000, 10, 0, 64, 1,
      77, 500, 999, 2, 77, 1000)
    val df = Seq(
      ("c1", "t1", java.sql.Date.valueOf("2020-01-01"),
        java.sql.Date.valueOf("2020-01-16"), 0, 0, 4, 4, "B8A", nd, a8),
      ("c1", "t1", java.sql.Date.valueOf("2020-01-01"),
        java.sql.Date.valueOf("2020-01-16"), 0, 0, 4, 4, "B04", nd, a4))
      .toDF("cube", "tileId", "p_start", "p_end",
        "blockY", "blockX", "height", "width", "band", "nodata", "value")
    val row = graft.operators.Visual
      .rgbComposite(df, "B8A", "B04", "B04", 0, 1000).head()
    val argb = row.getSeq[Int](row.fieldIndex("argb"))
    // the same IEEE op sequence as linearScaleS + cast("int")
    def chan(v: Int): Int = {
      val c = math.min(math.max(v.toDouble, 0.0), 1000.0)
      ((c - 0.0) / (1000.0 - 0.0) * 255.0 + 0.0).toInt
    }
    for (i <- 0 until 16) {
      val (r, g, b) = (a8(i), a4(i), a4(i))
      val a = if (r == nd && g == nd && b == nd) 0 else 255
      val want = (a << 24) | (chan(r) << 16) | (chan(g) << 8) | chan(b)
      assert(argb(i) == want, f"pixel $i: got ${argb(i)}%08x want $want%08x")
    }
    assert((argb(4) >>> 24) == 0, "all-nodata pixel is transparent")
    assert((argb(10) >>> 24) == 255, "partial-nodata pixel stays opaque")
  }

  test("M4 saturated-band propagation masks RADSAT-flagged pixels") {
    import spark.implicits._
    val maskSat = mask.copy(saturatedBand = "RADSAT", saturatedData = Seq(9L))
    // add a RADSAT band for 2020-01-05: bit 1..7 set on px0 only
    val radsat = Seq(("c1", "t1", java.sql.Date.valueOf("2020-01-05"), "RADSAT",
      0, 0, 2, 2, 0.0, 20.0, 10.0, 10.0, 0, Array(2, 0, 0, 0)))
      .toDF("cube", "tileId", "date", "band", "blockY", "blockX", "height",
        "width", "x0", "y0", "resX", "resY", "nodata", "pixels")
    val withSat = CubeBuilder.composite(
      merged.unionByName(radsat), periods, coll, maskSat,
      priority = dayofyear(col("date")).cast("double"))
    val p1 = withSat.filter(col("band") === "B04" && col("p_start") === "2020-01-01")
      .select("value", "clearob").head()
    // without RADSAT px0 had clearob=1 (Jan-5 clear); saturation removes it
    // and Jan-10 is cloudy there → fallback keeps the backfilled value
    assert(p1.getSeq[Int](1) == Seq(0, 2, 1, 2))
    assert(p1.getSeq[Int](0).head == 150) // first non-nodata (Jan-10 backfill)
  }

  test("empty raster generator produces all-nodata blocks distributively") {
    val df = Raster.emptyRaster(spark, "c1", "t1",
      java.sql.Date.valueOf("2020-02-01"), "B04", 1024, 700, 0, 7000, 10, nodata)
    assert(df.count() == 4) // 2×2 block grid (1024×700 at 512)
    val heights = df.select(sum(col("height") * col("width"))).head().getLong(0)
    assert(heights == 1024L * 700L)
    val allNodata = df.select(
      sum(aggregate(col("pixels"), lit(0L),
        (a, x) => a + when(x === nodata, 0L).otherwise(1L)))).head().getLong(0)
    assert(allNodata == 0L)
  }
}
