package cubebench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Independent expectation for a published cube, computed from the seeded
  * generator with the reference's rules (never with the engine's kernels):
  *  - LCF: later date first; the first clear sample wins; a nodata slot is
  *    backfilled by any later-visited non-nodata sample;
  *  - MED: median of the clear samples, truncated toward zero;
  *  - NDVI: 10000*(nir-red)/(nir+red), clamped to int16, nodata for NaN.
  * COGs are decoded with the JDK's `javax.imageio` TIFF reader; items and
  * ledger are read as plain parquet through the `_current` pointer.
  */
object Oracle {
  val Spectral = Seq("B04", "B8A")
  val PhysicalBands = Seq("B04", "B8A", "QA")
  val ClearQa = Set(Scenes.QaClear, Scenes.QaWater)
  val NotClearQa = Set(Scenes.QaCloud, Scenes.QaShadow)

  javax.imageio.ImageIO.setUseCache(false)

  final case class Result(checks: Int, failures: Seq[String]) {
    def ok: Boolean = failures.isEmpty
  }

  private def usable(qa: Int, v: Int): Boolean =
    ClearQa(qa) || !(qa == Scenes.QaNodata || NotClearQa(qa) || v == Scenes.Nodata)

  /** Expected composite of one band over a (tile, period) stack. */
  final case class Composite(value: Array[Int], clear: Long, total: Long)

  def composite(stack: Seq[(java.time.LocalDate, Scenes.Scene)], band: String,
                function: String): Composite = {
    val obs = stack.sortBy(-_._1.toEpochDay).map(_._2) // later date first
    val n = obs.head.qa.length
    val out = Array.fill(n)(Scenes.Nodata)
    var clear = 0L; var total = 0L
    val vals = new Array[Int](obs.size)
    var i = 0
    while (i < n) {
      var done = false; var k = 0
      for (s <- obs) {
        val v = s.band(band)(i); val q = s.qa(i)
        if (q != Scenes.QaNodata) total += 1
        if (usable(q, v)) { vals(k) = v; k += 1; clear += 1 }
        if (function == "LCF") {
          if (out(i) == Scenes.Nodata && v != Scenes.Nodata) out(i) = v
          if (!done && usable(q, v)) { out(i) = v; done = true }
        }
      }
      if (function == "MED" && k > 0) {
        java.util.Arrays.sort(vals, 0, k)
        out(i) =
          if (k % 2 == 1) vals(k / 2)
          else ((vals(k / 2 - 1).toDouble + vals(k / 2)) / 2.0).toInt
      }
      i += 1
    }
    Composite(out, clear, total)
  }

  def ndvi(red: Array[Int], nir: Array[Int]): Array[Int] =
    Array.tabulate(red.length) { i =>
      val r = red(i).toDouble; val n = nir(i).toDouble
      val v = 10000.0 * ((n - r) / (n + r))
      if (v.isNaN) Scenes.Nodata else math.min(math.max(v, -32768.0), 32767.0).toLong.toInt
    }

  /** Decode band 0 of a TIFF with the JDK reader. */
  def readTiff(p: Path): (Int, Int, Array[Int]) = {
    val in = javax.imageio.ImageIO.createImageInputStream(p.toFile)
    try {
      val r = javax.imageio.ImageIO.getImageReaders(in).next()
      try {
        r.setInput(in)
        val ras = r.read(0).getRaster
        (ras.getWidth, ras.getHeight,
          ras.getSamples(0, 0, ras.getWidth, ras.getHeight, 0, null: Array[Int]))
      } finally r.dispose()
    } finally in.close()
  }

  def currentVersion(dir: Path): Option[String] = {
    val p = dir.resolve("_current")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim) else None
  }

  def cogPath(out: Path, spec: Workload, tile: Int, p: Int, band: String): Path = {
    val ps = Scenes.periodStart(p).toString
    val t = Scenes.tileId(tile)
    out.resolve("data").resolve(spec.cube).resolve(t).resolve(ps)
      .resolve(s"${spec.cube}_${t}_${band}_$ps.tif")
  }

  /** Check the cube at `out` against the expectation for `periods`. */
  def check(spark: SparkSession, spec: Workload, seed: Long, out: Path,
            periods: Seq[Int]): Result = {
    val fails = ArrayBuffer.empty[String]
    var checks = 0
    def expect(cond: Boolean, what: => String): Unit = {
      checks += 1
      if (!cond) fails += what
    }
    val expectedItems = scala.collection.mutable.Map.empty[(String, String),
      (Double, Double, Double, Double, Double)]
    for (t <- 0 until spec.tiles; p <- periods) {
      val stack = Scenes.periodDates(p, spec.datesPerPeriod)
        .map(d => d -> Scenes.scene(seed, t, d, spec.px))
      val comps = Spectral.map(b => b -> composite(stack, b, spec.function)).toMap
      val bands = comps.map { case (b, c) => b -> c.value } ++
        (if (spec.ndvi) Map("NDVI" -> ndvi(comps("B04").value, comps("B8A").value))
         else Map.empty)
      for ((b, want) <- bands.toSeq.sortBy(_._1)) {
        val f = cogPath(out, spec, t, p, b)
        if (!Files.exists(f)) expect(false, s"missing COG $f")
        else {
          val (w, h, got) = readTiff(f)
          if (w != spec.px || h != spec.px)
            expect(false, s"COG $f is ${w}x$h, want ${spec.px}x${spec.px}")
          else {
            val bad = want.indices.indexWhere(i => got(i) != want(i))
            expect(bad < 0, s"COG $f pixel $bad: got ${got(bad)}, want ${want(bad)}")
          }
        }
      }
      if (spec.quicklook) {
        val ps = Scenes.periodStart(p).toString
        val ql = cogPath(out, spec, t, p, "x").resolveSibling(
          s"${spec.cube}_${Scenes.tileId(t)}_${ps}_quicklook.png")
        expect(Files.exists(ql) && javax.imageio.ImageIO.read(ql.toFile) != null,
          s"missing or undecodable quicklook $ql")
      }
      val (ox, oy) = Scenes.origin(t, spec.px)
      val ext = spec.px * Scenes.Res
      val clear = Spectral.map(comps(_).clear).sum
      val total = Spectral.map(comps(_).total).sum
      expectedItems((Scenes.tileId(t), Scenes.periodStart(p).toString)) =
        (ox, oy - ext, ox + ext, oy, clear * 100.0 / math.max(total, 1L))
    }

    val itemsDir = out.resolve("items")
    currentVersion(itemsDir) match {
      case None => expect(false, "items catalog has no current version")
      case Some(v) =>
        val rows = spark.read.parquet(itemsDir.resolve(v).toString)
          .select("tileId", "start_date", "xmin", "ymin", "xmax", "ymax", "clear_pct")
          .collect()
        expect(rows.length == expectedItems.size,
          s"items: ${rows.length} rows, want ${expectedItems.size}")
        val seen = rows.groupBy(r => (r.getString(0), r.getString(1)))
        for ((k, (x0, y0, x1, y1, cp)) <- expectedItems.toSeq.sortBy(_._1)) {
          seen.get(k) match {
            case Some(Array(r)) =>
              val bbox = Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
              expect(bbox.zip(Seq(x0, y0, x1, y1)).forall { case (a, b) => math.abs(a - b) < 1e-6 },
                s"item $k bbox $bbox, want ${Seq(x0, y0, x1, y1)}")
              expect(math.abs(r.getDouble(6) - cp) < 1e-9,
                s"item $k clear_pct ${r.getDouble(6)}, want $cp")
            case Some(rs) => expect(false, s"item $k appears ${rs.length} times")
            case None => expect(false, s"item $k missing")
          }
        }
    }

    val ledgerDir = out.resolve("ledger")
    currentVersion(ledgerDir) match {
      case None => expect(false, "ledger has no current version")
      case Some(v) =>
        val rows = spark.read.parquet(ledgerDir.resolve(v).toString)
          .select("tile_id", "p_start", "band", "status").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
        val success = rows.filter(_._4 == "SUCCESS").map(r => (r._1, r._2, r._3))
        val want = for (t <- 0 until spec.tiles; p <- periods; b <- PhysicalBands)
          yield (Scenes.tileId(t), Scenes.periodStart(p).toString, b)
        expect(success.length == want.size,
          s"ledger: ${success.length} SUCCESS rows, want ${want.size}")
        expect(success.toSet == want.toSet, "ledger SUCCESS units differ from tiles x periods x bands")
        expect(!rows.exists(_._4 == "ERROR"), "ledger has ERROR rows")
    }
    Result(checks, fails.toSeq)
  }

  /** Snapshot of the catalog versions, to show a no-op adds none. */
  def catalogState(out: Path): Seq[(String, Option[String], Seq[String])] =
    Seq("items", "ledger").map { d =>
      val dir = out.resolve(d)
      val versions =
        if (!Files.isDirectory(dir)) Nil
        else {
          val s = Files.list(dir)
          try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
            .map(_.getFileName.toString).filter(_.matches("v\\d+")).toList.sorted
          finally s.close()
        }
      (d, currentVersion(dir), versions)
    }
}
