package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** Classic TIFF offsets are unsigned 32-bit: a file that would cross 4 GB
  * must be BigTIFF. The writer fails loudly with this instead of silently
  * wrapping offsets (reference switches drivers at the same boundary,
  * `cube_builder/utils/image.py:309-378`).
  */
final class BigTiffRequired(size: Long)
    extends RuntimeException(
      s"raster needs BigTIFF: encoded size $size exceeds the 4 GB classic-TIFF" +
        " offset limit — shrink the tile, enable deflate, or split the output")

/** A sample the file's declared sample type cannot hold. The writer fails
  * loudly with this instead of narrowing it to a wrapped value.
  */
final class SampleOutOfRange(value: Int, bitsPerSample: Int, sampleFormat: Int)
    extends RuntimeException(
      s"sample $value does not fit ${if (sampleFormat == 2) "int" else "uint"}" +
        s"$bitsPerSample — declare a wider band data type")

/** S9 — incremental single-band tiled GeoTIFF/COG writer.
  *
  * Blocks stream in one at a time (any order; one block = one TIFF tile)
  * and go straight to disk, so memory stays O(one tile) no matter how
  * large the raster is — a 10560² reference tile never materializes in
  * one buffer. On `close` the writer builds reduced-resolution overview
  * IFDs GDAL-style: it reads the just-written level-(k−1) tiles back from
  * the file 2×2 at a time, decimates by 2 (nearest neighbor), and appends
  * the overview tiles, halving until the level fits one tile. Missing
  * blocks become sparse tiles (offset 0 — GDAL reads them as nodata).
  *
  * Reference behavior mirrored: COG write with tiling + overviews
  * (`cube_builder/utils/image.py:309-378`).
  */
final class GeoTiffStreamWriter(
    path: java.nio.file.Path,
    tileWidth: Int, tileHeight: Int,
    bitsPerSample: Int = 16, sampleFormat: Int = 2,
    nodata: Double = Double.NaN,
    deflate: Boolean = true,
    overviews: Boolean = true,
    /** GDAL-convention internal mask: one 1-bit transparency-mask subIFD
      * (NewSubfileType 4, photometric 4) per resolution level, bit=1 where
      * the sample is valid (!= nodata) — the reference writes the same via
      * GDAL_TIFF_INTERNAL_MASK (`utils/image.py:360-378`). Requires a
      * concrete `nodata`.
      */
    internalMask: Boolean = false) {

  private val bytesPerSample = bitsPerSample / 8
  // the samples this layout holds; 32-bit holds every Int
  private val (minSample, maxSample) = (bitsPerSample, sampleFormat) match {
    case (8, _)  => (0, 0xff)
    case (16, 2) => (Short.MinValue.toInt, Short.MaxValue.toInt)
    case (16, _) => (0, 0xffff)
    case _       => (Int.MinValue, Int.MaxValue)
  }
  private val raf = new java.io.RandomAccessFile(path.toFile, "rw")
  raf.setLength(0)
  raf.seek(8) // header written last, once the IFD offset is known
  private var pos: Long = 8

  private final case class TileRef(offset: Long, count: Int)

  // level-0 registry + grid extent (blocks may arrive in any order)
  private val tiles0 = mutable.Map.empty[(Int, Int), TileRef]
  private var maxBY = -1; private var maxBX = -1
  private var lastRowH = 0; private var lastColW = 0

  /** Append one block as one TIFF tile (padded to tileWidth×tileHeight). */
  def writeBlock(blockY: Int, blockX: Int, h: Int, w: Int,
                 pixels: Array[Int]): Unit = {
    require(h <= tileHeight && w <= tileWidth,
      s"block ${h}x$w exceeds tile ${tileHeight}x$tileWidth")
    require(pixels.length >= h * w, "short pixel array")
    val padded =
      if (h == tileHeight && w == tileWidth) pixels
      else {
        val p = new Array[Int](tileHeight * tileWidth)
        var r = 0
        while (r < h) {
          System.arraycopy(pixels, r * w, p, r * tileWidth, w)
          r += 1
        }
        p
      }
    appendTile((blockY, blockX), padded, tiles0)
    if (blockY > maxBY) { maxBY = blockY; lastRowH = h }
    if (blockX > maxBX) { maxBX = blockX; lastColW = w }
  }

  private def deflateBytes(raw: Array[Byte]): Array[Byte] =
    if (deflate) {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 128)
      val n = d.deflate(buf)
      require(d.finished(), "deflate output larger than bound")
      d.end()
      java.util.Arrays.copyOf(buf, n)
    } else raw

  private def checked(v: Int): Int =
    if (v < minSample || v > maxSample)
      throw new SampleOutOfRange(v, bitsPerSample, sampleFormat)
    else v

  private def encodeTile(padded: Array[Int]): Array[Byte] = {
    val raw = ByteBuffer.allocate(tileWidth * tileHeight * bytesPerSample)
      .order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    bitsPerSample match {
      case 8 => while (i < padded.length) { raw.put(checked(padded(i)).toByte); i += 1 }
      case 16 => while (i < padded.length) { raw.putShort(checked(padded(i)).toShort); i += 1 }
      case 32 => while (i < padded.length) { raw.putInt(padded(i)); i += 1 }
      case b => throw new IllegalArgumentException(s"unsupported bits/sample: $b")
    }
    deflateBytes(raw.array())
  }

  /** 1-bit mask plane of one tile: MSB-first, rows padded to whole bytes
    * (TIFF bilevel layout); bit set where the sample is valid.
    */
  private def encodeMaskTile(padded: Array[Int]): Array[Byte] = {
    val nd = nodata.toInt
    val bpr = (tileWidth + 7) / 8
    val raw = new Array[Byte](bpr * tileHeight)
    var r = 0
    while (r < tileHeight) {
      var c = 0
      while (c < tileWidth) {
        if (padded(r * tileWidth + c) != nd) {
          val bi = r * bpr + (c >> 3)
          raw(bi) = (raw(bi) | (1 << (7 - (c & 7)))).toByte
        }
        c += 1
      }
      r += 1
    }
    deflateBytes(raw)
  }

  private def appendRaw(key: (Int, Int), data: Array[Byte],
                        registry: mutable.Map[(Int, Int), TileRef]): Unit = {
    if (pos + data.length > 0xfffffff0L) throw new BigTiffRequired(pos + data.length)
    raf.write(data)
    registry(key) = TileRef(pos, data.length)
    pos += data.length
  }

  private def appendTile(key: (Int, Int), padded: Array[Int],
                         registry: mutable.Map[(Int, Int), TileRef]): Unit =
    appendRaw(key, encodeTile(padded), registry)

  /** Read one already-written tile back (for overview construction). */
  private def readBack(ref: TileRef): Array[Int] = {
    val data = new Array[Byte](ref.count)
    val mark = raf.getFilePointer
    raf.seek(ref.offset); raf.readFully(data); raf.seek(mark)
    val count = tileWidth * tileHeight
    val tileBytes =
      if (deflate) {
        val inf = new java.util.zip.Inflater()
        inf.setInput(data)
        val out = new Array[Byte](count * bytesPerSample)
        var written = 0
        while (written < out.length && !inf.finished())
          written += inf.inflate(out, written, out.length - written)
        inf.end()
        out
      } else data
    val bb = ByteBuffer.wrap(tileBytes).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Int](count)
    var i = 0
    bitsPerSample match {
      case 8 => while (i < count) { out(i) = tileBytes(i) & 0xff; i += 1 }
      case 16 => while (i < count) {
        val v = bb.getShort(i * 2)
        out(i) = if (sampleFormat == 2) v.toInt else v & 0xffff
        i += 1
      }
      case 32 => while (i < count) { out(i) = bb.getInt(i * 4); i += 1 }
    }
    out
  }

  /** Abandon without finishing: release the file handle, leaving the
    * (incomplete, never-renamed) temp file for the commit sweep. For the
    * failure path only — a completed write goes through [[close]].
    */
  def dispose(): Unit =
    try raf.close()
    catch { case scala.util.control.NonFatal(_) => () }

  /** Finish: build overview pyramids, write the tag trailer + IFD chain,
    * then the header. Returns the final file length.
    */
  def close(originX: Double, originY: Double,
            scaleX: Double, scaleY: Double): Long = {
    require(maxBY >= 0 && maxBX >= 0, "no blocks written")
    val width0 = maxBX * tileWidth + lastColW
    val height0 = maxBY * tileHeight + lastRowH
    val pad = if (nodata.isNaN) 0 else nodata.toInt

    // (width, height, row-major tile table) per level, level 0 first
    final case class Level(w: Int, h: Int, tiles: Array[TileRef])
    def table(m: mutable.Map[(Int, Int), TileRef], w: Int, h: Int): Array[TileRef] = {
      val across = (w + tileWidth - 1) / tileWidth
      val down = (h + tileHeight - 1) / tileHeight
      Array.tabulate(across * down)(i =>
        m.getOrElse((i / across, i % across), TileRef(0, 0))) // sparse
    }
    val levels = mutable.ArrayBuffer(Level(width0, height0, table(tiles0, width0, height0)))

    while (overviews &&
        math.max(levels.last.w, levels.last.h) > math.max(tileWidth, tileHeight)) {
      val prev = levels.last
      val w1 = (prev.w + 1) / 2; val h1 = (prev.h + 1) / 2
      val prevAcross = (prev.w + tileWidth - 1) / tileWidth
      val prevDown = (prev.h + tileHeight - 1) / tileHeight
      val across = (w1 + tileWidth - 1) / tileWidth
      val down = (h1 + tileHeight - 1) / tileHeight
      val reg = mutable.Map.empty[(Int, Int), TileRef]
      for (ty <- 0 until down; tx <- 0 until across) {
        // assemble the 2×2 source tiles, then 2× nearest-neighbor decimate
        val buf = Array.fill(4 * tileHeight * tileWidth)(pad)
        for (dy <- 0 to 1; dx <- 0 to 1) {
          val sy = 2 * ty + dy; val sx = 2 * tx + dx
          if (sy < prevDown && sx < prevAcross) {
            val ref = prev.tiles(sy * prevAcross + sx)
            if (ref.count > 0) {
              val src = readBack(ref)
              var r = 0
              while (r < tileHeight) {
                System.arraycopy(src, r * tileWidth,
                  buf, (dy * tileHeight + r) * 2 * tileWidth + dx * tileWidth,
                  tileWidth)
                r += 1
              }
            }
          }
        }
        val out = Array.fill(tileHeight * tileWidth)(pad)
        val vh = math.min(tileHeight, h1 - ty * tileHeight)
        val vw = math.min(tileWidth, w1 - tx * tileWidth)
        var r = 0
        while (r < vh) {
          var c = 0
          while (c < vw) {
            out(r * tileWidth + c) = buf(2 * r * 2 * tileWidth + 2 * c)
            c += 1
          }
          r += 1
        }
        appendTile((ty, tx), out, reg)
      }
      levels += Level(w1, h1, table(reg, w1, h1))
    }

    // internal mask planes: one 1-bit mask level per resolution level
    // (sparse data tiles get sparse mask tiles — both read as invalid)
    val maskLevels: Seq[Level] =
      if (internalMask && !nodata.isNaN) levels.toSeq.map { l =>
        val across = (l.w + tileWidth - 1) / tileWidth
        val reg = mutable.Map.empty[(Int, Int), TileRef]
        l.tiles.zipWithIndex.foreach { case (ref, i) =>
          if (ref.count > 0)
            appendRaw((i / across, i % across), encodeMaskTile(readBack(ref)), reg)
        }
        Level(l.w, l.h, table(reg, l.w, l.h))
      } else Nil

    // ---- trailer: geo doubles | per-IFD offset/count arrays | nodata | IFDs
    val nodataAscii =
      if (nodata.isNaN) Array.empty[Byte]
      else {
        val s = if (nodata == math.rint(nodata) && !nodata.isInfinite)
          nodata.toLong.toString else nodata.toString
        (s + "\u0000    ").getBytes("ASCII")
      }
    final case class IfdSpec(w: Int, h: Int, tiles: Array[TileRef],
                             subfile: Long, isMask: Boolean, isLevel0: Boolean)
    val ifds =
      levels.zipWithIndex.map { case (l, i) =>
        IfdSpec(l.w, l.h, l.tiles, if (i == 0) 0L else 1L,
          isMask = false, isLevel0 = i == 0)
      } ++
      maskLevels.zipWithIndex.map { case (l, i) =>
        IfdSpec(l.w, l.h, l.tiles, if (i == 0) 4L else 5L,
          isMask = true, isLevel0 = false)
      }

    val doublesStart = pos
    var cursor = doublesStart + (3 + 6) * 8
    val arrayStarts = ifds.map { s =>
      val a = (cursor, cursor + s.tiles.length * 4L)
      cursor = a._2 + s.tiles.length * 4L; a
    }
    val nodataStart = cursor
    cursor += nodataAscii.length

    // entry lists per IFD (tag, type, count, value)
    def entriesFor(s: IfdSpec, offsetsAt: Long, countsAt: Long) = {
      val e = mutable.ArrayBuffer.empty[(Int, Int, Int, Long)]
      if (s.subfile != 0) e += ((254, 4, 1, s.subfile))
      e += ((256, 3, 1, s.w.toLong))
      e += ((257, 3, 1, s.h.toLong))
      e += ((258, 3, 1, if (s.isMask) 1L else bitsPerSample.toLong))
      e += ((259, 3, 1, if (deflate) 8L else 1L))
      e += ((262, 3, 1, if (s.isMask) 4L else 1L)) // photometric: 4 = mask
      e += ((277, 3, 1, 1L))
      e += ((322, 3, 1, tileWidth.toLong))
      e += ((323, 3, 1, tileHeight.toLong))
      e += ((324, 4, s.tiles.length,
        if (s.tiles.length == 1) s.tiles(0).offset else offsetsAt))
      e += ((325, 4, s.tiles.length,
        if (s.tiles.length == 1) s.tiles(0).count.toLong else countsAt))
      if (!s.isMask) e += ((339, 3, 1, sampleFormat.toLong))
      if (s.isLevel0) {
        e += ((33550, 12, 3, doublesStart))
        e += ((33922, 12, 6, doublesStart + 24))
      }
      if (!s.isMask && nodataAscii.nonEmpty)
        e += ((42113, 2, nodataAscii.length, nodataStart))
      e.sortBy(_._1)
    }
    val perIfd = ifds.zipWithIndex.map { case (s, i) =>
      entriesFor(s, arrayStarts(i)._1, arrayStarts(i)._2)
    }
    val ifdStarts = perIfd.scanLeft(cursor)((a, es) => a + 2 + es.length * 12 + 4).init
    val totalLen = ifdStarts.last + 2 + perIfd.last.length * 12 + 4
    if (totalLen > 0xfffffff0L) throw new BigTiffRequired(totalLen)

    val trailer = ByteBuffer.allocate((totalLen - doublesStart).toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    trailer.putDouble(scaleX).putDouble(scaleY).putDouble(0)
    trailer.putDouble(0).putDouble(0).putDouble(0)
    trailer.putDouble(originX).putDouble(originY).putDouble(0)
    ifds.foreach { s =>
      s.tiles.foreach(t => trailer.putInt(t.offset.toInt))
      s.tiles.foreach(t => trailer.putInt(t.count))
    }
    trailer.put(nodataAscii)
    perIfd.zipWithIndex.foreach { case (es, i) =>
      trailer.putShort(es.length.toShort)
      for ((tag, typ, count, value) <- es) {
        trailer.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
        if (typ == 3 && count == 1) trailer.putShort(value.toShort).putShort(0)
        else trailer.putInt(value.toInt)
      }
      trailer.putInt(if (i < perIfd.length - 1) ifdStarts(i + 1).toInt else 0)
    }
    raf.seek(doublesStart)
    raf.write(trailer.array())
    raf.seek(0)
    val header = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    header.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdStarts.head.toInt)
    raf.write(header.array())
    raf.close()
    totalLen
  }
}

object GeoTiffStreamWriter {

  /** (bitsPerSample, sampleFormat) of a band's declared data type
    * (`graft.model.Band.dataType`): the types [[GeoTiff.readTile]]
    * decodes back to the same Int.
    */
  def sampleLayout(dataType: String): (Int, Int) = dataType match {
    case "uint8"  => (8, 1)
    case "int16"  => (16, 2)
    case "uint16" => (16, 1)
    case "int32"  => (32, 2)
    case t => throw new IllegalArgumentException(
      s"no GeoTIFF sample layout for band data type '$t' " +
        "(uint8, int16, uint16 and int32 are written)")
  }
}
