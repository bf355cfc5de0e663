package graft.cube

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** C2 — transactional item publication (reference `publish_datacube`,
  * `processing.py:1038-1155`): every asset of an item is written to a WORK
  * directory first; publishing "commits" the item by moving its files into
  * the DATA directory only once the full asset set exists, then cleans the
  * item's work directory. A crash mid-write leaves the data dir untouched
  * and the re-run regenerates the work dir from scratch — the same
  * write-then-move discipline as the reference's `files_to_move` executed
  * after the database commit.
  */
object Publish {

  /** Work-directory path for one item's assets. */
  def itemWorkDir(workRoot: String, cube: String, tileId: String,
                  period: String): Path =
    Paths.get(workRoot, cube, tileId, period)

  /** Commit one item: move every regular file under `workDir` to the same
    * relative location under `dataRoot`, then remove the emptied work
    * tree. Existing targets are replaced (idempotent re-publish, the
    * reference's get_or_create + move), and a move that loses the race
    * to a DUPLICATE attempt of the same commit (speculative execution, a
    * zombie retry after a network blip) counts as done when the
    * destination exists — the committer runs on executors now, so two
    * attempts of one partition can walk the same item dirs. In-progress
    * staged temps ([[graft.core.Fs.StagedTempPrefix]] names, left by a
    * duplicate attempt killed mid-write) are swept, never moved.
    *
    * Returns the destination directory's full visible regular-file set —
    * deliberately NOT just what this attempt moved (a retried task whose
    * first attempt already moved some files must not under-report the
    * item's assets). The flip side: files a PREVIOUS publish left at the
    * destination are included too — e.g. an asset from an earlier run
    * with a different band set, which an idempotent re-publish replaces
    * by name but never deletes. Callers needing "what this run produced"
    * must intersect with the run's expected asset names; today's callers
    * only count the item's visible assets, for which this is the right
    * set.
    */
  def commitItem(workDir: Path, dataRoot: Path): Seq[Path] = {
    if (!Files.isDirectory(workDir)) return Nil
    // every walk/list stream here closes in try/finally: commitItem runs
    // per item on long-lived executors and tolerates concurrent duplicate
    // attempts — an iterator abandoned mid-walk by an exception would
    // otherwise pin directory handles until GC (fd exhaustion over
    // thousands of item commits)
    val walked = {
      val s = Files.walk(workDir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .toList.sortBy(_.toString)
      finally s.close()
    }
    val (temps, files) = walked.partition(graft.core.Fs.isStagedTemp)
    // a temp here is an abandoned in-flight write from a duplicate
    // attempt that lost its race — its finished twin (if any) sits under
    // the final name already; sweep so the emptied work tree can go
    temps.foreach(Files.deleteIfExists(_))
    files.foreach { f =>
      val rel = workDir.relativize(f)
      val dest = dataRoot.resolve(rel)
      Files.createDirectories(dest.getParent)
      // ATOMIC_MOVE within a filesystem; fall back to replace-copy across
      try Files.move(f, dest, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          // the fallback copy-move needs the SAME duplicate-attempt
          // tolerance: a twin can move the source between the atomic
          // attempt's throw and this retry (cross-mount work/data roots
          // are exactly where duplicates overlap longest)
          try Files.move(f, dest, StandardCopyOption.REPLACE_EXISTING)
          catch {
            case e: java.nio.file.NoSuchFileException =>
              if (!Files.isRegularFile(dest)) throw e
          }
        case e: java.nio.file.NoSuchFileException =>
          // the source vanished: a duplicate attempt moved it first —
          // success iff the destination is there, a real error otherwise
          if (!Files.isRegularFile(dest)) throw e
      }
    }
    cleanEmpty(workDir)
    if (!Files.isDirectory(dataRoot)) Nil
    else {
      val s = Files.walk(dataRoot)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !graft.core.Fs.isStagedTemp(p))
        .toList.sortBy(_.toString)
      finally s.close()
    }
  }

  /** Remove the emptied tree under `root`, deepest-first (reference
    * `cleanup`); emptiness is re-checked after each child deletion.
    * Tolerant of concurrent duplicate attempts racing the same scratch
    * tree — a cleanup loss is cosmetic (a leftover empty dir), never
    * worth failing a committed publication over.
    */
  private def cleanEmpty(root: Path): Unit =
    try {
      def isEmptyDir(p: Path): Boolean = Files.isDirectory(p) && {
        try {
          val s = Files.list(p)
          try !s.iterator().hasNext finally s.close()
        } catch { case _: java.nio.file.NoSuchFileException => false }
      }
      if (Files.isDirectory(root)) {
        val s = Files.walk(root)
        val dirs = try s.iterator().asScala.toList.reverse finally s.close()
        dirs.foreach { p => if (isEmptyDir(p)) Files.deleteIfExists(p) }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** S11 — render one item's quicklook PNG from its staged `rgb` band
    * files (reference `generate_quick_look`, `processing.py:1291-1324`).
    * The thumbnail is the raster's global stride grid
    * ([[graft.operators.Visual.quicklookStride]] over the tallest file,
    * ≤`maxRows` rows), sampled tile by tile so only one decoded TIFF tile
    * per file is held at a time. Each sample is P3-scaled to 0..255 with
    * the channel arithmetic of [[graft.operators.Visual.rgbComposite]]
    * and packed ARGB, transparent where all three bands read their
    * file's `GDAL_NODATA`. A sample that lies in a sparse tile, or
    * outside any one file's grid, stays transparent black. None when a
    * file is missing or no sample is covered by all three files.
    */
  def renderQuicklook(rgb: Seq[Path], inMin: Double, inMax: Double,
                      maxRows: Int = 768): Option[Array[Byte]] = {
    import graft.sources.{GeoTiff, RasterIO}
    if (!rgb.forall(Files.isRegularFile(_))) return None
    val files = rgb.distinct
    val bufs = scala.collection.mutable.ArrayBuffer.empty[java.nio.ByteBuffer]
    try {
      files.foreach(f => bufs += RasterIO.mapScene(f.toString))
      val infos = bufs.map(GeoTiff.readInfo(_))
      val stride = graft.operators.Visual.quicklookStride(
        infos.map(_.height).max, maxRows)
      val qh = math.max(1, infos.map(_.height).max / stride)
      val qw = math.max(1, infos.map(_.width).max / stride)
      // per file, its sampled values; per sample, how many files cover it
      val hits = new Array[Int](qh * qw)
      val values = files.indices.map { f =>
        val (bb, info) = (bufs(f), infos(f))
        val v = new Array[Int](qh * qw)
        // stride-grid indices q (below qMax) whose position q·stride lies
        // in [from, until)
        def grid(from: Int, until: Int, qMax: Int): Range =
          (from + stride - 1) / stride until
            math.min(qMax, (until + stride - 1) / stride)
        val across = (info.width + info.tileWidth - 1) / info.tileWidth
        val down = (info.height + info.tileHeight - 1) / info.tileHeight
        for (ty <- 0 until down; tx <- 0 until across) {
          val t = ty * across + tx
          val y0 = ty * info.tileHeight; val x0 = tx * info.tileWidth
          val rows = grid(y0, math.min(y0 + info.tileHeight, info.height), qh)
          val cols = grid(x0, math.min(x0 + info.tileWidth, info.width), qw)
          if (info.tileOffsets(t) > 0 && info.tileByteCounts(t) > 0 &&
              rows.nonEmpty && cols.nonEmpty) {
            val tile = GeoTiff.readTile(bb, info, ty, tx)
            for (qy <- rows; qx <- cols) {
              v(qy * qw + qx) =
                tile((qy * stride - y0) * info.tileWidth + qx * stride - x0)
              hits(qy * qw + qx) += 1
            }
          }
        }
        v
      }
      if (!hits.contains(files.size)) return None
      val Seq(r, g, b) = rgb.map(files.indexOf(_))
      def nodata(f: Int, i: Int) = values(f)(i) == infos(f).nodata
      // P3 channel scale: clip, then the same IEEE op sequence as
      // Visual.rgbComposite's linearScaleS + int cast
      def chan(f: Int, i: Int): Int = {
        val clipped = math.min(math.max(values(f)(i).toDouble, inMin), inMax)
        ((clipped - inMin) / (inMax - inMin) * 255.0 + 0.0).toInt
      }
      val argb = new Array[Int](qh * qw)
      for (i <- argb.indices if hits(i) == files.size) {
        val a = if (nodata(r, i) && nodata(g, i) && nodata(b, i)) 0 else 255
        argb(i) = (a << 24) | (chan(r, i) << 16) | (chan(g, i) << 8) | chan(b, i)
      }
      Some(graft.operators.Visual.encodePngArgb(argb, qw, qh))
    } finally bufs.foreach(RasterIO.unmapScene)
  }

  /** Stage composite blocks as GeoTIFFs in the work root and commit each
    * (cube, tile, period) item into the data root — S9 write + C2 commit.
    * The write lands in per-item directories
    * (`workRoot/cube/tile/period/…`), and the move into the data root
    * happens one ITEM at a time, only after that item's full band set
    * finished streaming out — the reference's per-item
    * `files_to_move`-after-commit granularity (`processing.py:1038-1155`).
    * Items commit in parallel on the executors (each task moves whole
    * items); a crash mid-publication leaves some items fully published
    * and the rest absent — no item is ever half-visible. With
    * `quicklookRange`, the commit task first renders the item's
    * quicklook PNG from its staged `quicklookBands` (r, g, b) files
    * ([[renderQuicklook]]), so the PNG commits with the band set.
    */
  def publishGeoTiffs(blocks: DataFrame, workRoot: String, dataRoot: String,
                      bandTypes: String => String,
                      periodCols: Seq[String] = Seq("p_start"),
                      quicklookBands: Seq[String] = Nil,
                      quicklookRange: Option[(Double, Double)] = None): Seq[Path] = {
    graft.sources.RasterIO.writeGeoTiffs(blocks, workRoot, bandTypes,
      periodCols, itemTree = true)
    val work = Paths.get(workRoot)
    val depth = 2 + periodCols.size // cube / tile / period…
    val itemDirs =
      if (!Files.isDirectory(work)) Nil
      else {
        val s = Files.walk(work, depth)
        try s.iterator().asScala
          .filter(p => Files.isDirectory(p) &&
            work.relativize(p).getNameCount == depth)
          .toList.sortBy(_.toString)
        finally s.close()
      }
    // Commit items from the EXECUTORS (same shared-filesystem contract as
    // the staged write above): the unit of work shipped is a directory
    // name, each task commits whole items, and only destination paths come
    // back — so the move fan-out scales with the cluster instead of a
    // serial driver rename loop (100k items x several assets x per-rename
    // latency is hours on one thread). Atomicity is unchanged — an item
    // still becomes visible only as a whole — but a crash mid-publication
    // now leaves an arbitrary SUBSET of items committed rather than a
    // sorted prefix; the ledger/read-back already treats any incomplete
    // publication as pending, so re-runs converge identically.
    val moved =
      if (itemDirs.isEmpty) Nil
      else {
        val sc = blocks.sparkSession.sparkContext
        val workRootStr = work.toString
        val slices = math.max(1,
          math.min(itemDirs.size, sc.defaultParallelism))
        sc.parallelize(itemDirs.map(_.toString), slices)
          .flatMap { d =>
            val dir = Paths.get(d)
            val rel = Paths.get(workRootStr).relativize(dir)
            for ((inMin, inMax) <- quicklookRange)
              stageQuicklook(dir, rel, quicklookBands, inMin, inMax)
            commitItem(dir, Paths.get(dataRoot).resolve(rel)).map(_.toString)
          }
          .collect().toSeq.map(Paths.get(_))
      }
    cleanEmpty(work)
    moved
  }

  /** Render the quicklook of the item staged at `dir` (`rel` =
    * cube/tile/period… under the work root) into it, under the name
    * `<cube>_<tile>_<period…>_quicklook.png`; the band files follow
    * [[graft.sources.RasterIO.writeGeoTiffs]]' `<cube>_<tile>_<band>_<period…>.tif`.
    * A duplicate attempt that finds the band files already moved skips
    * the render: the attempt that moved them rendered first.
    */
  private def stageQuicklook(dir: Path, rel: Path, rgb: Seq[String],
                             inMin: Double, inMax: Double): Unit = {
    val parts = rel.iterator().asScala.map(_.toString).toSeq
    val (cube, tile, period) = (parts(0), parts(1), parts.drop(2))
    val files = rgb.map(band =>
      dir.resolve((Seq(cube, tile, band) ++ period).mkString("_") + ".tif"))
    try renderQuicklook(files, inMin, inMax).foreach { png =>
      graft.core.Fs.writeAtomic(dir.resolve(
        (Seq(cube, tile) ++ period).mkString("_") + "_quicklook.png"), png)
    } catch { case _: java.nio.file.NoSuchFileException => () }
  }
}
