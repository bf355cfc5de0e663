package cubebench

import java.nio.file.{Files, Path}

import graft.functions.BandExprParser
import graft.model.MaskDef
import graft.operators.Composite
import graft.sources.{GeoTiff, GeoTiffStreamWriter}

/** Single-thread timed calls into the kernels' public functions, on
  * generator-made blocks. Each kernel warms up, then reports the median
  * throughput of several timed repetitions.
  */
object Kernels {
  val Block = 256
  val Tiff = 512
  val Ndvi = "10000.*((B8A-B04)/(B8A+B04))"
  val Mask = MaskDef(clearData = Seq(0L, 1L), notClearData = Seq(2L, 3L), nodata = 255L)

  /** Median over reps of (units per call) / (seconds per call). */
  private def rate(units: Double)(call: => Any): Double = {
    def timed(minNs: Long): Double = {
      var n = 0; val t0 = System.nanoTime(); var t = t0
      while (t - t0 < minNs || n < 2) { call; n += 1; t = System.nanoTime() }
      units * n / ((t - t0) / 1e9)
    }
    timed(150L * 1000 * 1000)
    val rs = Array.fill(5)(timed(60L * 1000 * 1000)).sorted
    rs(2)
  }

  def run(seed: Long, work: Path): Seq[(String, Double, String)] = {
    val stack = (0 until 16).map { d =>
      Scenes.scene(seed, 0, Scenes.Start.plusDays(d.toLong), Tiff)
    }
    val s0 = stack.head
    val rawMb = Tiff.toDouble * Tiff * 2 / 1e6
    val (ox, oy) = Scenes.origin(0, Tiff)
    def encode(deflate: Boolean) = TiffWriter.encode(s0.nir, Tiff, Tiff, Block, 16,
      signed = true, ox, oy, Scenes.Res, Scenes.Nodata, deflate)
    def decodeAll(bytes: Array[Byte]): Long = {
      val info = GeoTiff.readInfo(bytes)
      var sum = 0L
      for (ty <- 0 until Tiff / Block; tx <- 0 until Tiff / Block)
        sum += GeoTiff.readTile(bytes, info, ty, tx)(0)
      sum
    }
    val raw = encode(deflate = false)
    val deflated = encode(deflate = true)
    val cog = work.resolve("kernel_cog.tif")
    def cogWrite(): Unit = {
      val w = new GeoTiffStreamWriter(cog, Block, Block, nodata = Scenes.Nodata)
      for (by <- 0 until Tiff / Block; bx <- 0 until Tiff / Block)
        w.writeBlock(by, bx, Block, Block, crop(s0.nir, Tiff, by, bx))
      w.close(ox, oy, Scenes.Res, Scenes.Res): Unit
    }

    val blk = (s: Scenes.Scene, b: String) => crop(s.band(b), Tiff, 0, 0)
    def obs(depth: Int) = stack.take(depth).zipWithIndex.map { case (s, d) =>
      Composite.Obs(1.0, d + 1, 0, blk(s, "B04"), blk(s, "QA"))
    }
    val obs4 = obs(4); val obs16 = obs(16)
    val mosaicIn = stack.take(2).zipWithIndex.map { case (s, i) => (i, i, blk(s, "B04")) }
    val px = Block.toDouble * Block / 1e6
    val red = blk(s0, "B04"); val nir = blk(s0, "B8A")
    val ndvi = BandExprParser.compileIndexed(BandExprParser.parse(Ndvi), Seq("B04", "B8A"))
    def ndviBlock(): Array[Int] = {
      val out = new Array[Int](red.length); val smp = new Array[Double](2)
      var i = 0
      while (i < red.length) {
        smp(0) = red(i); smp(1) = nir(i)
        val v = ndvi(smp)
        out(i) = if (v.isNaN) Scenes.Nodata else math.min(math.max(v, -32768.0), 32767.0).toInt
        i += 1
      }
      out
    }

    val out = Seq(
      ("sources.tiff_decode_raw.mb_s", rate(rawMb)(decodeAll(raw)), "MB/s"),
      ("sources.tiff_decode_deflate.mb_s", rate(rawMb)(decodeAll(deflated)), "MB/s"),
      ("sources.tiff_encode_deflate.mb_s", rate(rawMb)(GeoTiff.write(s0.nir, Tiff, Tiff,
        tileSize = Block, nodata = Scenes.Nodata, deflate = true)), "MB/s"),
      ("sources.cog_write.mb_s", rate(rawMb)(cogWrite()), "MB/s"),
      ("operators.mosaic.mpx_s", rate(2 * px)(Composite.mosaic(mosaicIn, Scenes.Nodata,
        combined = true)), "Mpx/s"),
      ("operators.compose_d4.mpx_s", rate(4 * px)(Composite.compose(obs4, Mask,
        Scenes.Nodata)), "Mpx/s"),
      ("operators.compose_d16.mpx_s", rate(16 * px)(Composite.compose(obs16, Mask,
        Scenes.Nodata)), "Mpx/s"),
      ("functions.ndvi.mpx_s", rate(px)(ndviBlock()), "Mpx/s"))
    Files.deleteIfExists(cog)
    out
  }

  /** The Block x Block window at block (by, bx) of a width-`w` raster. */
  private def crop(a: Array[Int], w: Int, by: Int, bx: Int): Array[Int] = {
    val out = new Array[Int](Block * Block)
    for (r <- 0 until Block)
      System.arraycopy(a, (by * Block + r) * w + bx * Block, out, r * Block, Block)
    out
  }
}
