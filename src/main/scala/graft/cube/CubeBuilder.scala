package graft.cube

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Timeline
import graft.functions.PixelOps
import graft.model.{Band, Collection, MaskDef}
import graft.functions.PixelExpressions
import graft.operators.Composite

/** End-to-end cube-build pipeline (SURVEY §3.1 re-expressed Spark-first).
  *
  * The reference's Celery DAG (merge fan-out → blend barrier → publish,
  * `cube_builder/maestro.py:439-628`, `celery/tasks.py`) becomes three
  * DataFrame stages; the chord barriers become shuffle boundaries that
  * Catalyst schedules:
  *
  *  1. '''merge''' — same-date scenes of one (tile, band, block) overlay by
  *     asset order (M2) via `MosaicAggregator`;
  *  2. '''composite''' — merged dates of one (tile, band, block) inside each
  *     period fold through `CompositeAggregator` (T2-T9), driven by the
  *     period dimension table (C12) joined by date range;
  *  3. '''publish''' — index bands from band algebra (P8) and an `items`
  *     catalog row per (tile, period) (C2).
  *
  * Scale design: every group key is prefixed by (tileId, blockY, blockX),
  * so repartitioning once by that prefix co-locates all downstream stages;
  * the date/scene dimension folds happen within a partition. The quality
  * band rides along each spectral band's observation (a (tile, date, block)
  * join against the quality slice — broadcast-sized per tile) exactly like
  * the reference pairs `ARDfiles[band]` with `ARDfiles[quality]`.
  */
object CubeBuilder {

  /** Stage 1 — M2/M3 merge: overlay same-date scenes in asset order.
    *
    * Input: scene blocks with an `assetOrder` column (0 = first asset) and
    * a `source` column (dataset index for DATASOURCE provenance).
    * Output: one block row per (tileId, date, band, block) with merged
    * pixels (+ `datasource` array when `buildProvenance`).
    */
  def merge(scenes: DataFrame, nodata: Int, combined: Boolean,
            buildProvenance: Boolean = false): DataFrame = {
    val spark = scenes.sparkSession
    import spark.implicits._
    val m = Composite.mosaicAgg(nodata, combined)(
      $"assetOrder", $"source", $"pixels")
    val merged = scenes
      .groupBy($"cube", $"tileId", $"date", $"band", $"blockY", $"blockX",
        $"height", $"width", $"x0", $"y0", $"resX", $"resY")
      .agg(m.as("m"))
    val base = merged.select(
      $"cube", $"tileId", $"date", $"band", $"blockY", $"blockX",
      $"height", $"width", $"x0", $"y0", $"resX", $"resY",
      lit(nodata).as("nodata"),
      $"m.value".as("pixels"), $"m.datasource".as("datasource"))
    if (buildProvenance) base else base.drop("datasource")
  }

  /** Stage 2 — temporal composite over a period dimension table.
    *
    * @param merged   merge() output for all bands incl. the quality band
    * @param periods  (p_start: date, p_end: date) inclusive period table
    * @param priority per-(date) scene priority (efficacy/resolution); the
    *                 column is resolved against `merged`, default 1.0
    */
  def composite(merged: DataFrame, periods: DataFrame,
                collection: Collection, mask: MaskDef,
                priority: Column = lit(1.0),
                sourceIdx: Column = lit(0),
                applyValidRange: Boolean = false): DataFrame = {
    val (spectral, quality, radsat) = bandSlices(merged, collection, mask)
    compositeSlices(spectral, quality, radsat, periods, collection,
      mask, priority, sourceIdx, applyValidRange)
  }

  /** Split a block table into the slices [[compositeSlices]] takes: the
    * spectral bands, the quality band, and the mask's saturated (RADSAT)
    * band when it names one.
    */
  private[graft] def bandSlices(blocks: DataFrame, collection: Collection,
      mask: MaskDef): (DataFrame, DataFrame, Option[DataFrame]) = {
    val satBand = Option(mask.saturatedBand).filter(_.nonEmpty)
    (blocks.filter(col("band") =!= collection.qualityBand &&
        satBand.map(col("band") =!= _).getOrElse(lit(true))),
      blocks.filter(col("band") === collection.qualityBand),
      satBand.map(sb => blocks.filter(col("band") === sb)))
  }

  /** [[composite]] over pre-split slices. Taking the spectral and quality
    * slices as SEPARATE frames (instead of one unioned `merged` frame)
    * matters for the zero-shuffle path: `Union` reports unknown output
    * partitioning, so a composite over `spectralMerge.unionByName(qaMerge)`
    * re-shuffles the quality join even when both merges preserved the
    * block table's (tileId, blockY, blockX) clustering. With slices,
    * both join children keep the scan's HashPartitioning and the whole
    * merge→composite chain plans with zero Exchange (pinned in
    * CubeRunSpec).
    */
  def compositeSlices(spectral: DataFrame, qualityMerged: DataFrame,
                      radsat: Option[DataFrame], periods: DataFrame,
                      collection: Collection, mask: MaskDef,
                      priority: Column = lit(1.0),
                      sourceIdx: Column = lit(0),
                      applyValidRange: Boolean = false): DataFrame = {
    val spark = spectral.sparkSession
    import spark.implicits._

    val qualityRaw = qualityMerged
      .select($"tileId", $"date", $"blockY", $"blockX", $"pixels".as("qa"))

    // M4 — saturated-band propagation (reference `tasks.py:355-366`,
    // `processing.py:787-791`): where the RADSAT companion band has any of
    // bits 1..7 set, rewrite the QA sample to a saturated marker so the
    // composite's usability predicate rejects it.
    val quality = radsat match {
      case Some(satDf) =>
        val marker = mask.saturatedData.headOption.getOrElse(mask.nodata)
        val sat = satDf
          .select($"tileId", $"date", $"blockY", $"blockX", $"pixels".as("radsat"))
        qualityRaw.join(sat, Seq("tileId", "date", "blockY", "blockX"), "left")
          .select($"tileId", $"date", $"blockY", $"blockX",
            Composite.saturatedPropagate($"qa", $"radsat", marker.toInt).as("qa"))
      case None => qualityRaw
    }

    // pair each spectral block with its date's QA block (co-keyed join)
    val paired = spectral.join(quality, Seq("tileId", "date", "blockY", "blockX"))

    // assign periods by date-range join (periods table is tiny → broadcast)
    val inPeriod = paired.join(broadcast(periods),
      $"date" >= $"p_start" && $"date" <= $"p_end")

    // per-band metadata (reference applies nodata and the valid range PER
    // BAND, `processing.py:764-791`): map-literal lookups keyed by band
    // name; the merged stream's own nodata column is the fallback for
    // bands absent from the collection definition.
    def bandMap(f: graft.model.Band => Column): Column =
      map(collection.bands.flatMap(b => Seq(lit(b.name), f(b))): _*)
    val withMeta = inPeriod
      .withColumn("nodata",
        coalesce(element_at(bandMap(b => lit(b.nodata.toInt)), $"band"),
          $"nodata").cast("int"))
      .withColumn("minv",
        coalesce(element_at(bandMap(b => lit(b.minValue)), $"band"),
          lit(Double.MinValue)))
      .withColumn("maxv",
        coalesce(element_at(bandMap(b => lit(b.maxValue)), $"band"),
          lit(Double.MaxValue)))

    val c = Composite.compositeAgg(mask, applyValidRange)(
      priority, dayofyear($"date"), sourceIdx,
      $"pixels", $"qa", $"nodata", $"minv", $"maxv")
    withMeta
      .groupBy($"cube", $"tileId", $"band", $"p_start", $"p_end",
        $"blockY", $"blockX", $"height", $"width", $"x0", $"y0",
        $"resX", $"resY", $"nodata")
      .agg(c.as("c"))
      .select($"cube", $"tileId", $"band", $"p_start", $"p_end",
        $"blockY", $"blockX", $"height", $"width", $"x0", $"y0",
        $"resX", $"resY", $"nodata",
        $"c.value", $"c.median", $"c.average", $"c.provenance",
        $"c.datasource", $"c.clearob", $"c.totalob")
  }

  /** T1 — scene priority from QA efficacy (reference `processing.py:
    * 636-654`): `100 * efficacy / resolution` per (tile, date), where
    * efficacy is the M5 clear-pixel percentage of the merged quality
    * raster. Optional `referenceDay` re-weights by temporal proximity to
    * a day-of-period (reference-day mode, `timeline.py:208-249` applied
    * `tasks.py:387-395`): closer dates get higher priority.
    */
  def scenePriorities(merged: DataFrame, collection: Collection, mask: MaskDef,
                      resolution: Double,
                      referenceDay: Option[Int] = None): DataFrame = {
    val spark = merged.sparkSession
    import spark.implicits._
    val (eff, _) = Composite.qaStatistics($"pixels", mask)
    val base = merged.filter($"band" === collection.qualityBand)
      .groupBy($"tileId", $"date")
      .agg(eff.as("efficacy"))
    referenceDay match {
      case None =>
        base.select($"tileId", $"date",
          ($"efficacy" * 100.0 / resolution).as("scene_priority"))
      case Some(day) =>
        // proximity rank: smaller |doy - refDoy| → higher priority; the
        // efficacy breaks ties within the same distance. The tie term is
        // efficacy*9.99 <= 999, STRICTLY below the 1000-per-day step for
        // any resolution — resolution divides every candidate equally
        // within a run, so it cannot change the tie-break order and must
        // not leak into the weight (efficacy*100/resolution reaches the
        // day step at the default resolution=10 and EXCEEDS it below,
        // letting a clearer-but-farther scene outrank a closer one)
        base.select($"tileId", $"date",
          (lit(100000.0) - abs(dayofyear($"date") - lit(day)) * 1000.0 +
            $"efficacy" * 9.99).as("scene_priority"))
    }
  }

  /** Select the output pixel array for the collection's composite function. */
  def compositeBand(collection: Collection): Column =
    graft.model.CompositeFunction.parse(collection.compositeFunction) match {
      case graft.model.CompositeFunction.MED => col("median")
      case graft.model.CompositeFunction.AVG => col("average")
      case _                                 => col("value")
    }

  /** Stage 3a — P8 index bands: evaluate each derived band's expression
    * over the composite bands of one (tile, period, block). Bands pivot to
    * columns first (small fixed set), then the expression maps per sample.
    */
  def indexBands(composited: DataFrame, collection: Collection): DataFrame = {
    val spark = composited.sparkSession
    import spark.implicits._
    val indexBandDefs = collection.bands.filter(_.expression.nonEmpty)
    if (indexBandDefs.isEmpty) return spark.emptyDataFrame

    val value = compositeBand(collection)
    val pivoted = composited
      .groupBy($"cube", $"tileId", $"p_start", $"p_end", $"blockY", $"blockX",
        $"height", $"width", $"x0", $"y0", $"resX", $"resY")
      .pivot("band", collection.bands.filter(_.expression.isEmpty)
        .map(_.name).filter(_ != collection.qualityBand))
      .agg(first(value))

    indexBandDefs.map { idx =>
      val sourceBands = collection.bands
        .filter(b => b.expression.isEmpty && b.name != collection.qualityBand)
        .map(b => b.name -> col(b.name)).toMap
      pivoted.select(
        $"cube", $"tileId", $"p_start", $"p_end", $"blockY", $"blockX",
        $"height", $"width", $"x0", $"y0", $"resX", $"resY",
        lit(idx.name).as("band"),
        lit(idx.nodata.toInt).as("nodata"),
        PixelOps.bandExpr(sourceBands, idx.expression, idx.dataType,
          idx.nodata.toInt).as("value"))
        // a block missing a source band the expression reads (its scene
        // file absent from the archive) pivots that band to null and the
        // expression evaluates to a null pixels array; dropping the row
        // here keeps the table total
        .filter(col("value").isNotNull)
    }.reduce(_ unionByName _)
  }

  /** Stage 3b — C2 item publication: one catalog row per (tile, period)
    * with per-band efficacy/cloud stats (M5 over the composite QA would
    * ride here; the synthetic path derives cloud from CLEAROB/TOTALOB).
    */
  def publishItems(composited: DataFrame, collection: Collection): DataFrame = {
    val spark = composited.sparkSession
    import spark.implicits._
    composited
      .groupBy($"cube", $"tileId", $"p_start", $"p_end")
      .agg(
        collect_set($"band").as("bands"),
        min($"x0").as("xmin"),
        max($"x0" + $"width" * $"resX").as("xmax"),
        min($"y0" - $"height" * $"resY").as("ymin"),
        max($"y0").as("ymax"),
        (sum(PixelExpressions.arraySumLong($"clearob")) * 100.0 /
          greatest(sum(PixelExpressions.arraySumLong($"totalob")), lit(1L)))
          .as("clear_pct"))
      .select(
        PixelOps.itemId($"cube", lit(collection.version),
          $"tileId", $"p_start").as("item_id"),
        $"cube", $"tileId",
        date_format($"p_start", "yyyy-MM-dd").as("start_date"),
        date_format($"p_end", "yyyy-MM-dd").as("end_date"),
        array_sort($"bands").as("bands"),
        $"xmin", $"ymin", $"xmax", $"ymax", $"clear_pct")
  }

  /** Per-block value→count histograms of `(tileId, band, date, pixels,
    * nodata)` rows: the T10 shuffle reducer. The explode emits
    * ≤ |distinct sample values| rows per block (int16 imagery ⇒ ≤65k)
    * instead of O(pixels) — at the reference's 10560² tile that is ~3
    * orders of magnitude less data into the shuffle.
    */
  private[graft] def blockValueHistograms(spectral: DataFrame): DataFrame = {
    val spark = spectral.sparkSession
    import spark.implicits._
    spectral
      .select($"tileId", $"band", $"date",
        explode(PixelExpressions.valueHistogram($"pixels", $"nodata")).as("vc"))
      .select($"tileId", $"band", $"date",
        $"vc.value".as("value"), $"vc.cnt".as("cnt"))
  }

  /** T10 — histogram-match each scene-date's merged band to the
    * best-priority date of its (tile, band) group before compositing
    * (reference `tasks.py:368-385`). The value→matched mapping (one small
    * table per (tile, band, date)) is collected into a map column and
    * applied to the pixel arrays with a codegen'd `transform` — no
    * explode/regroup of pixel payloads.
    */
  def histogramMatchScenes(merged: DataFrame, priority: Column,
                           qualityBand: String): DataFrame = {
    val spark = merged.sparkSession
    import spark.implicits._
    val spectral = merged.filter($"band" =!= qualityBand)
      .withColumn("prio", priority)

    val refDates = spectral.groupBy($"tileId", $"band")
      .agg(max_by($"date", $"prio").as("refDate"))

    // Collapse each block to its value histogram BEFORE anything widens
    // (see [[blockValueHistograms]]), then materialize the collapsed
    // result ONCE: the src and ref CDF branches below would otherwise
    // each recompute the histogram subtree — i.e. scan the pixel blocks
    // twice. The checkpointed histogram is ~3 orders of magnitude
    // smaller than the pixels, so this is cheap insurance.
    val hist = blockValueHistograms(spectral).localCheckpoint()
    val withRef = hist.join(broadcast(refDates), Seq("tileId", "band"))
    val src = withRef.filter($"date" =!= $"refDate")
      .select($"tileId", $"band", $"date", $"value", $"cnt")
    val ref = withRef.filter($"date" === $"refDate")
      .select($"tileId", $"band", $"value", $"cnt")

    val mapping = graft.operators.HistogramMatch.matchToReference(
      src, ref, Seq("tileId", "band"), "date")
      .groupBy($"tileId", $"band", $"date")
      .agg(map_from_entries(collect_list(
        struct($"value", round($"matched").cast("int").as("m")))).as("vmap"))

    merged.join(mapping, Seq("tileId", "band", "date"), "left")
      .withColumn("pixels",
        when($"vmap".isNull, $"pixels").otherwise(
          transform($"pixels", px =>
            coalesce(element_at($"vmap", px), px))))
      .drop("vmap")
  }

  /** Period dimension table from the collection's temporal schema (C12). */
  def periodTable(spark: SparkSession, collection: Collection,
                  start: java.time.LocalDate, end: java.time.LocalDate): DataFrame = {
    import spark.implicits._
    Timeline.mount(collection.temporalSchema, start, end,
      collection.temporalUnit, collection.temporalStep,
      cycleUnit = Option(collection.cycleUnit).filter(_.nonEmpty))
      .map(p => (java.sql.Date.valueOf(p.start), java.sql.Date.valueOf(p.end)))
      .toDF("p_start", "p_end")
  }

  final case class MergeKey(cube: String, tileId: String, date: java.sql.Date,
                            band: String, blockY: Int, blockX: Int,
                            height: Int, width: Int,
                            x0: Double, y0: Double, resX: Double, resY: Double)

  final case class CompositeKey(cube: String, tileId: String, band: String,
                                p_start: java.sql.Date, p_end: java.sql.Date,
                                blockY: Int, blockX: Int, height: Int, width: Int,
                                x0: Double, y0: Double, resX: Double, resY: Double,
                                nodata: Int)
}
