package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PixelOps

/** Visualization + geometry outputs (SURVEY §2.1 S11/S12, §2.2 P3/P10).
  *
  *  - S11 quicklook: downsampled RGB thumbnail rows, PNG-encoded with
  *    `javax.imageio` (JDK-builtin — no external deps);
  *  - S12 RGB composite: 3 band arrays zip to byte triples after P3
  *    linear display scaling;
  *  - P10 extent/footprint: valid-data bbox via aggregation; convex hull
  *    over block-level valid extents (monotone chain, driver-side on the
  *    small per-tile block set — reference polygonizes whole rasters,
  *    `image.py:665-708`).
  */
object Visual {

  /** S12 — fuse three band block-rows (r/g/b pivoted to columns) into a
    * PACKED ARGB int array after linear scaling to 0..255 (P3). Alpha is
    * 0 (transparent) where all three raw bands are nodata — the
    * reference's transparent-nodata quicklook
    * (`cube_builder/utils/processing.py:1291-1324`).
    *
    * This is the FULL-RESOLUTION composite (every pixel packs); the
    * quicklook does not use it — it stride-samples the item's published
    * band files and packs only the sampled pixels with bit-identical
    * channel math ([[graft.cube.Publish.renderQuicklook]]). One int per
    * pixel, not a struct: consumers random-access pixels by index, and
    * an array-of-struct column deserializes through the Seq encoder into
    * a LIST with O(n) apply(). `Array[Int]` round-trips the encoder as a
    * primitive array: O(1) indexing, no per-pixel boxing, and the pack is
    * the same (a<<24)|(r<<16)|(g<<8)|b BufferedImage expects.
    */
  def rgbComposite(blocks: DataFrame, rBand: String, gBand: String, bBand: String,
                   inMin: Double, inMax: Double): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val pivoted = blocks
      .filter($"band".isin(rBand, gBand, bBand))
      .groupBy($"cube", $"tileId", $"p_start", $"p_end", $"blockY", $"blockX",
        $"height", $"width")
      .pivot("band", Seq(rBand, gBand, bBand).distinct)
      .agg(first(struct($"value".as("v"), $"nodata".as("nd"))))
    def raw(c: String) = col(c).getField("v")
    def nd(c: String) = col(c).getField("nd")
    def chan(px: org.apache.spark.sql.Column) =
      PixelOps.linearScaleS(px, inMin, inMax, 0, 255).cast("int")
    val argb = zip_with(
      zip_with(raw(rBand), raw(gBand), (r, g) =>
        struct(r.as("r"), g.as("g"))),
      raw(bBand),
      (rg, b) => {
        val r = rg.getField("r"); val g = rg.getField("g")
        val a = when(r === nd(rBand) && g === nd(gBand) && b === nd(bBand),
          lit(0)).otherwise(lit(255))
        shiftleft(a, 24).bitwiseOR(shiftleft(chan(r), 16))
          .bitwiseOR(shiftleft(chan(g), 8)).bitwiseOR(chan(b))
      })
    pivoted.select($"cube", $"tileId", $"p_start", $"p_end",
      $"blockY", $"blockX", $"height", $"width", argb.as("argb"))
  }

  /** S11 — PNG-encode one assembled RGB raster (driver- or executor-side;
    * the quicklook is ≤768 rows by design, reference
    * `processing.py:1303-1304`).
    */
  def encodePng(rgb: Array[Int], width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, rgb, 0, width)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** S11 — PNG with alpha: packed ARGB ints, transparent where alpha=0. */
  def encodePngArgb(argb: Array[Int], width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    img.setRGB(0, 0, width, height, argb, 0, width)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Downsample factor so the quicklook has ≤ `maxRows` rows. */
  def quicklookStride(heightPx: Int, maxRows: Int = 768): Int =
    math.max(1, (heightPx + maxRows - 1) / maxRows)

  /** P10 — valid-data extent per (cube, tile, period, band): bbox over
    * blocks that contain any non-nodata sample.
    */
  def extent(blocks: DataFrame, valueCol: String = "value"): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val hasData = exists(col(valueCol), px => px =!= col("nodata"))
    blocks.filter(hasData)
      .groupBy($"cube", $"tileId", $"p_start", $"p_end", $"band")
      .agg(
        min($"x0").as("xmin"),
        max($"x0" + $"width" * $"resX").as("xmax"),
        min($"y0" - $"height" * $"resY").as("ymin"),
        max($"y0").as("ymax"))
  }

  /** P10 — pixel-perfect footprint polygonize of a binary mask (the
    * reference polygonizes whole rasters via rasterio/GDAL,
    * `cube_builder/utils/image.py:665-708`; this is the same semantics
    * re-derived from scratch). Pixel (r, c) occupies the unit square
    * x ∈ [c, c+1], y ∈ [r, r+1] (y down). Every pixel side facing an
    * invalid neighbor becomes a directed unit edge with the interior on
    * its LEFT; edges stitch into closed rectilinear rings by walking
    * with left-turn preference (which splits diagonal-touching pixels
    * into separate rings — 4-connected component semantics), and
    * collinear vertices are merged. Outer rings and holes come out with
    * opposite winding, so the signed shoelace sum over all rings is
    * ±(valid-pixel count) — the `p10_polygonize` gate query pins exactly
    * that against an oracle that counts pixels directly.
    *
    * Scale shape: one footprint is traced per (tile, period) group whose
    * mask is bounded by the tile raster; the trace is O(boundary), driven
    * per group inside `mapGroups` — no driver-side collection.
    *
    * @param valid set of valid (row, col) pixels
    * @return rings as vertex cycles (x, y), each rotated to start at its
    *         lexicographically smallest vertex; rings ordered by head
    */
  def polygonize(valid: Set[(Int, Int)]): Seq[Vector[(Int, Int)]] = {
    if (valid.isEmpty) return Seq.empty
    type Pt = (Int, Int)
    def has(r: Int, c: Int) = valid.contains((r, c))
    val outgoing = scala.collection.mutable.Map.empty[Pt, scala.collection.mutable.Set[Pt]]
    def addEdge(a: Pt, b: Pt): Unit =
      outgoing.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
    valid.foreach { case (r, c) =>
      if (!has(r - 1, c)) addEdge((c + 1, r), (c, r)) // top, walking -x
      if (!has(r + 1, c)) addEdge((c, r + 1), (c + 1, r + 1)) // bottom, +x
      if (!has(r, c - 1)) addEdge((c, r), (c, r + 1)) // left, +y
      if (!has(r, c + 1)) addEdge((c + 1, r + 1), (c + 1, r)) // right, -y
    }
    val rings = scala.collection.mutable.ArrayBuffer.empty[Vector[Pt]]
    for (s0 <- outgoing.keys.toSeq.sorted) {
      while (outgoing.get(s0).exists(_.nonEmpty)) {
        val firstEnd = outgoing(s0).min
        outgoing(s0) -= firstEnd
        val d0 = (firstEnd._1 - s0._1, firstEnd._2 - s0._2)
        var ring = Vector(s0)
        var cur = firstEnd
        var d = d0
        while (cur != s0) {
          // left turn hugs the interior; straight merges collinear runs
          val next = Seq((d._2, -d._1), d, (-d._2, d._1)).iterator
            .map(p => ((cur._1 + p._1, cur._2 + p._2), p))
            .collectFirst {
              case (nxt, nd) if outgoing.get(cur).exists(_.contains(nxt)) => (nxt, nd)
            }.getOrElse(sys.error(s"open boundary at $cur"))
          outgoing(cur) -= next._1
          if (next._2 != d) ring :+= cur // corner
          cur = next._1
          d = next._2
        }
        if (d == d0) ring = ring.tail // s0 itself was collinear
        val i = ring.indexOf(ring.min)
        rings += (ring.drop(i) ++ ring.take(i))
      }
    }
    rings.toSeq.sortBy(_.head)
  }

  /** (ring count, vertex count, |shoelace| area in pixels, perimeter) of a
    * polygonize result.
    */
  def ringStats(rings: Seq[Vector[(Int, Int)]]): (Int, Int, Long, Long) = {
    def pairs(r: Vector[(Int, Int)]) = r.zip(r.tail :+ r.head)
    val shoelace = rings.map(pairs(_).map {
      case (a, b) => a._1.toLong * b._2 - b._1.toLong * a._2
    }.sum).sum
    val perim = rings.map(pairs(_).map {
      case (a, b) => (math.abs(a._1 - b._1) + math.abs(a._2 - b._2)).toLong
    }.sum).sum
    (rings.size, rings.map(_.size).sum, math.abs(shoelace) / 2, perim)
  }

  /** Group traced rings into shells with their holes by even-odd
    * containment depth. The representative point of a ring is the cell
    * diagonally inside its lexicographically-smallest vertex — a
    * half-integer point, so the ray cast never grazes a vertex. A ring at
    * even depth (counting the OTHER rings that contain its
    * representative) is a shell; odd depth is a hole, attached to the
    * shell one level up that contains it (islands inside holes become
    * their own shells at depth 2).
    */
  def assemblePolygons(rings: Seq[Vector[(Int, Int)]])
      : Seq[(Vector[(Int, Int)], Seq[Vector[(Int, Int)]])] = {
    def contains(ring: Vector[(Int, Int)], px: Double, py: Double): Boolean = {
      var c = false
      ring.zip(ring.tail :+ ring.head).foreach { case ((x1, y1), (x2, y2)) =>
        if ((y1 > py) != (y2 > py)) {
          val xint = x1 + (py - y1) / (y2 - y1).toDouble * (x2 - x1)
          if (xint > px) c = !c
        }
      }
      c
    }
    val reps = rings.map { r =>
      val m = r.min
      (m._1 + 0.5, m._2 + 0.5)
    }
    val depth = rings.indices.map(i => rings.indices.count(j =>
      j != i && contains(rings(j), reps(i)._1, reps(i)._2)))
    rings.indices.filter(depth(_) % 2 == 0).map { si =>
      val holes = rings.indices.filter { hi =>
        depth(hi) == depth(si) + 1 &&
          contains(rings(si), reps(hi)._1, reps(hi)._2)
      }
      (rings(si), holes.map(rings(_)).toSeq)
    }
  }

  /** P10 — item footprint as WKT: polygonize the valid mask of every
    * (cube, tileId, p_start, p_end) group of composited blocks and print
    * a world-coordinate POLYGON/MULTIPOLYGON (shells counter-clockwise,
    * holes clockwise — the reference extracts the same geometry with
    * raster_extent/polygonize, `cube_builder/utils/image.py:665-708`).
    *
    * Blocks must be grid-aligned (same resX/resY across the item, x0/y0
    * on the pixel lattice — true for every warp/composite output here).
    * `stride` coarsens the mask before tracing (a stride-s cell is valid
    * if any sampled pixel in it is valid), bounding trace cost on huge
    * tiles the same way the quicklook bounds pixels.
    *
    * Scale shape: one `mapGroups` trace per item over block-local strided
    * coords — the full-resolution mask never assembles anywhere.
    */
  def footprintWkt(blocks: DataFrame, stride: Int = 1): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val rows = blocks.select(
      $"cube", $"tileId", $"p_start".cast("string"), $"p_end".cast("string"),
      $"x0".cast("double"), $"y0".cast("double"),
      $"resX".cast("double"), $"resY".cast("double"),
      $"height".cast("int"), $"width".cast("int"),
      $"nodata".cast("int"), $"value")
      .as[(String, String, String, String, Double, Double, Double, Double,
        Int, Int, Int, Array[Int])]
    rows.groupByKey(t => (t._1, t._2, t._3, t._4))
      .mapGroups { (key: (String, String, String, String),
                    it: Iterator[(String, String, String, String, Double,
                      Double, Double, Double, Int, Int, Int, Array[Int])]) =>
        val (cube, tile, ps, pe) = key
        // stream blocks one at a time: strided valid cells land on an
        // ABSOLUTE world-pixel lattice (x0/resX, -y0/resY), so no anchor
        // pre-pass is needed and the item never materializes whole
        val bit = it.buffered
        val resX = bit.head._7; val resY = bit.head._8
        val cells = scala.collection.mutable.Set.empty[(Int, Int)]
        bit.foreach { case (_, _, _, _, x0, y0, _, _, h, w, nd, v) =>
          val offX = math.round(x0 / resX).toInt
          val offY = math.round(-y0 / resY).toInt
          var r = 0
          while (r < h) {
            var c = 0
            while (c < w) {
              if (v(r * w + c) != nd)
                cells += ((Math.floorDiv(offY + r, stride),
                  Math.floorDiv(offX + c, stride)))
              c += stride
            }
            r += stride
          }
        }
        val rings = polygonize(cells.toSet)
        val polys = assemblePolygons(rings)
        def fmt(d: Double): String =
          if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
          else d.toString
        def world(p: (Int, Int)): (Double, Double) =
          (p._1 * stride * resX, -(p._2 * stride * resY))
        def signedArea(r: Vector[(Double, Double)]): Double =
          r.zip(r.tail :+ r.head).map { case (a, b) =>
            a._1 * b._2 - b._1 * a._2
          }.sum
        def orient(r: Vector[(Double, Double)], ccw: Boolean) = {
          val oriented =
            if ((signedArea(r) > 0) == ccw) r
            else r.head +: r.tail.reverse // keep the canonical start vertex
          oriented
        }
        def ringStr(r: Vector[(Double, Double)]): String =
          (r :+ r.head).map(p => s"${fmt(p._1)} ${fmt(p._2)}")
            .mkString("(", ", ", ")")
        def polyStr(shell: Vector[(Int, Int)], holes: Seq[Vector[(Int, Int)]]) =
          (orient(shell.map(world), ccw = true) +:
            holes.map(h => orient(h.map(world), ccw = false)))
            .map(ringStr).mkString("(", ", ", ")")
        val wkt = polys match {
          case Seq() => "POLYGON EMPTY"
          case Seq((shell, holes)) => s"POLYGON ${polyStr(shell, holes)}"
          case many =>
            many.map { case (sh, ho) => polyStr(sh, ho) }
              .mkString("MULTIPOLYGON (", ", ", ")")
        }
        (cube, tile, ps, pe, wkt, polys.size,
          polys.map(_._2.size).sum, cells.size.toLong)
      }
      .toDF("cube", "tileId", "p_start", "p_end", "wkt", "n_shells",
        "n_holes", "valid_cells")
  }

  /** P10 — convex hull (monotone chain) over 2-D points; used on the
    * block-corner cloud of valid blocks per tile (small).
    */
  def convexHull(points: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    if (points.length <= 2) return points.distinct
    val sorted = points.distinct.sorted
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)) =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    def half(ps: Seq[(Double, Double)]): List[(Double, Double)] =
      ps.foldLeft(List.empty[(Double, Double)]) { (hull, p) =>
        var h = hull
        while (h.length >= 2 && cross(h(1), h.head, p) <= 0) h = h.tail
        p :: h
      }
    val lower = half(sorted).reverse
    val upper = half(sorted.reverse).reverse
    (lower.init ++ upper.init)
  }
}
