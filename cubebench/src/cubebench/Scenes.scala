package cubebench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Seeded synthetic Sentinel-2-like scenes.
  *
  * Every pixel is a pure function of (seed, tile, date, pixel index), so the
  * oracle regenerates exactly the stack the engine decoded without keeping
  * it in memory. A scene is:
  *  - spatially smooth red and nir fields (three low-frequency sinusoids per
  *    band, fixed per tile) with a seasonal swing and a little per-pixel
  *    noise, so deflate behaves as it does on imagery;
  *  - water patches (QA 1, clear) where the first field is low;
  *  - 0-2 elliptical clouds (QA 2, bright) with offset shadows (QA 3, dark);
  *  - with probability 0.35 a slanted nodata stripe (every band nodata,
  *    QA 255), the swath edge of a real acquisition.
  */
object Scenes {
  val Nodata = -9999
  val QaNodata = 255
  val QaClear = 0
  val QaWater = 1
  val QaCloud = 2
  val QaShadow = 3
  val Res = 10.0
  val Start: LocalDate = LocalDate.of(2020, 1, 1)
  val PeriodDays = 16

  def tileId(t: Int): String = f"T${t + 1}%04d"
  def origin(t: Int, px: Int): (Double, Double) =
    (300000.0 + t * px * Res, 8000000.0)
  def fileName(t: Int, date: LocalDate, band: String): String =
    s"S2_${tileId(t)}_${date.format(DateTimeFormatter.BASIC_ISO_DATE)}_$band.tif"

  /** Start of period `p` (Continuous 16-day periods from [[Start]]). */
  def periodStart(p: Int): LocalDate = Start.plusDays(p.toLong * PeriodDays)

  /** `n` acquisition dates spread evenly over period `p`. */
  def periodDates(p: Int, n: Int): Seq[LocalDate] =
    (0 until n).map(j => periodStart(p).plusDays((j * PeriodDays / n).toLong))

  final case class Scene(red: Array[Int], nir: Array[Int], qa: Array[Int]) {
    def band(name: String): Array[Int] = name match {
      case "B04" => red
      case "B8A" => nir
      case "QA"  => qa
    }
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One low-frequency field in [-1, 1]: the mean of three sinusoids. */
  private def field(rng: java.util.SplittableRandom, px: Int): Array[Double] = {
    val out = new Array[Double](px * px)
    for (_ <- 0 until 3) {
      val kx = 1 + rng.nextInt(3); val ky = rng.nextInt(3)
      val ph = rng.nextDouble() * 2 * math.Pi
      val sa = Array.tabulate(px)(x => math.sin(2 * math.Pi * kx * x / px))
      val ca = Array.tabulate(px)(x => math.cos(2 * math.Pi * kx * x / px))
      var y = 0
      while (y < px) {
        val b = 2 * math.Pi * ky * y / px + ph
        val sb = math.sin(b); val cb = math.cos(b)
        var x = 0
        while (x < px) {
          out(y * px + x) += (sa(x) * cb + ca(x) * sb) / 3
          x += 1
        }
        y += 1
      }
    }
    out
  }

  def scene(seed: Long, tile: Int, date: LocalDate, px: Int): Scene = {
    val land = new java.util.SplittableRandom(mix(mix(seed, 0x6c616e64L), tile))
    val f1 = field(land, px)
    val f2 = field(land, px)
    val sceneKey = mix(mix(seed, tile + 1L), date.toEpochDay)
    val rng = new java.util.SplittableRandom(sceneKey)
    val season = math.sin(2 * math.Pi * date.getDayOfYear / 365.25)
    val n = px * px
    val red = new Array[Int](n); val nir = new Array[Int](n)
    val qa = new Array[Int](n)
    var i = 0
    while (i < n) {
      val noise = (mix(sceneKey, i) & 31).toInt - 15
      if (f1(i) < -0.55) {
        red(i) = 300 + noise; nir(i) = 150 + noise; qa(i) = QaWater
      } else {
        red(i) = (900 + 350 * f1(i) - 90 * season).toInt + noise
        nir(i) = (2600 + 900 * f2(i) + 450 * season).toInt + noise
        qa(i) = QaClear
      }
      i += 1
    }
    val clouds = rng.nextInt(3)
    for (_ <- 0 until clouds) {
      val cx = rng.nextDouble() * px; val cy = rng.nextDouble() * px
      val rx = (0.08 + rng.nextDouble() * 0.14) * px
      val ry = (0.08 + rng.nextDouble() * 0.14) * px
      val sx = 0.12 * px; val sy = 0.08 * px
      var y = 0
      while (y < px) {
        var x = 0
        while (x < px) {
          val j = y * px + x
          val dc = sq((x - cx) / rx) + sq((y - cy) / ry)
          val ds = sq((x - cx - sx) / (rx * 0.8)) + sq((y - cy - sy) / (ry * 0.8))
          if (dc <= 1) {
            red(j) = 2600 + 4 * (red(j) & 63); nir(j) = 3000 + 4 * (nir(j) & 63)
            qa(j) = QaCloud
          } else if (ds <= 1 && qa(j) != QaCloud) {
            red(j) = red(j) * 45 / 100; nir(j) = nir(j) * 45 / 100
            qa(j) = QaShadow
          }
          x += 1
        }
        y += 1
      }
    }
    if (rng.nextDouble() < 0.35) {
      val x0 = rng.nextDouble() * px
      val slope = rng.nextDouble() - 0.5
      val hw = (0.03 + rng.nextDouble() * 0.05) * px
      var y = 0
      while (y < px) {
        var x = 0
        while (x < px) {
          if (math.abs(x - (x0 + slope * y)) < hw) {
            val j = y * px + x
            red(j) = Nodata; nir(j) = Nodata; qa(j) = QaNodata
          }
          x += 1
        }
        y += 1
      }
    }
    Scene(red, nir, qa)
  }

  private def sq(v: Double): Double = v * v

  /** Write every band of one scene into `dir`. */
  def writeScene(dir: Path, seed: Long, tile: Int, date: LocalDate,
                 px: Int): Unit = {
    val s = scene(seed, tile, date, px)
    val (ox, oy) = origin(tile, px)
    Seq("B04", "B8A", "QA").foreach { b =>
      val isQa = b == "QA"
      val bytes = TiffWriter.encode(s.band(b), px, px, tile = math.min(256, px),
        bits = if (isQa) 8 else 16, signed = !isQa, originX = ox, originY = oy,
        res = Res, nodata = if (isQa) QaNodata else Nodata, deflate = true)
      // land atomically: a half-written scene must never match the scan glob
      val tmp = dir.resolve("." + fileName(tile, date, b) + ".part")
      Files.write(tmp, bytes)
      Files.move(tmp, dir.resolve(fileName(tile, date, b)),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Write the scenes of `jobs` (tile, date) into `dir` on `threads` threads. */
  def writeAll(dir: Path, seed: Long, jobs: Seq[(Int, LocalDate)], px: Int,
               threads: Int): Unit = {
    Files.createDirectories(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      jobs.map { case (t, d) =>
        pool.submit(new Runnable { def run(): Unit = writeScene(dir, seed, t, d, px) })
      }.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES): Unit
    }
  }
}

/** Tiled single-band little-endian GeoTIFF encoder, written from the TIFF
  * 6.0 and GeoTIFF specs and independent of the engine's own codec, so a
  * fault shared by the engine's writer and reader cannot hide from the
  * oracle.
  */
object TiffWriter {
  def encode(px: Array[Int], width: Int, height: Int, tile: Int, bits: Int,
             signed: Boolean, originX: Double, originY: Double, res: Double,
             nodata: Int, deflate: Boolean): Array[Byte] = {
    val across = (width + tile - 1) / tile
    val down = (height + tile - 1) / tile
    val bps = bits / 8
    val tiles = Array.tabulate(across * down) { k =>
      val ty = k / across; val tx = k % across
      val raw = ByteBuffer.allocate(tile * tile * bps).order(ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until tile; c <- 0 until tile) {
        val y = ty * tile + r; val x = tx * tile + c
        val v = if (y < height && x < width) px(y * width + x) else nodata
        if (bps == 1) raw.put(v.toByte) else raw.putShort(v.toShort)
      }
      if (!deflate) raw.array()
      else {
        val d = new java.util.zip.Deflater()
        d.setInput(raw.array()); d.finish()
        val out = new java.io.ByteArrayOutputStream(raw.capacity() / 4)
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        out.toByteArray
      }
    }
    val nd = (nodata.toString + "\u0000").getBytes("ASCII")
    val n = tiles.length
    val dataEnd = 8L + tiles.map(_.length.toLong).sum
    val geoAt = dataEnd
    val offsAt = geoAt + 9 * 8
    val cntsAt = offsAt + 4L * n
    val ndAt = cntsAt + 4L * n
    val ifdAt0 = ndAt + nd.length
    val ifdAt = ifdAt0 + (ifdAt0 & 1) // IFDs start on a word boundary
    // (tag, type, count, value-or-offset); types 3 SHORT, 4 LONG, 2 ASCII, 12 DOUBLE
    val offsets = tiles.scanLeft(8L)(_ + _.length).init
    val entries = Seq(
      (256, 3, 1, width.toLong), (257, 3, 1, height.toLong),
      (258, 3, 1, bits.toLong), (259, 3, 1, if (deflate) 8L else 1L),
      (262, 3, 1, 1L), (277, 3, 1, 1L),
      (322, 3, 1, tile.toLong), (323, 3, 1, tile.toLong),
      (324, 4, n, if (n == 1) offsets(0) else offsAt),
      (325, 4, n, if (n == 1) tiles(0).length.toLong else cntsAt),
      (339, 3, 1, if (signed) 2L else 1L),
      (33550, 12, 3, geoAt), (33922, 12, 6, geoAt + 24),
      (42113, 2, nd.length, ndAt))
    val out = ByteBuffer.allocate((ifdAt + 2 + entries.size * 12 + 4).toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42.toShort).putInt(ifdAt.toInt)
    tiles.foreach(out.put)
    Seq(res, res, 0.0, 0.0, 0.0, 0.0, originX, originY, 0.0).foreach(out.putDouble)
    offsets.foreach(o => out.putInt(o.toInt))
    tiles.foreach(t => out.putInt(t.length))
    out.put(nd)
    out.position(ifdAt.toInt)
    out.putShort(entries.size.toShort)
    for ((tag, typ, count, v) <- entries) {
      out.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) out.putShort(v.toShort).putShort(0.toShort)
      else out.putInt(v.toInt)
    }
    out.putInt(0)
    out.array()
  }
}
