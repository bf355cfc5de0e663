package graft.cube

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.catalog.Ledger
import graft.model.{Collection, MaskDef}
import graft.sources.RasterIO

/** Orchestration facade — the reference's `Maestro.orchestrate/run`
  * (§3.1 steps 3-8) as one driver-side planner over DataFrame stages.
  *
  * A run:
  *  1. mounts the period table (C12) for the requested range;
  *  2. consults the run ledger (parquet) and plans
  *     pending = expected ∖ done — idempotent resume / C4 backfill;
  *  3. scans + decodes scene files (S2/S3), merges (M2), composites
  *     (T2-T9) for the pending periods only;
  *  4. publishes: composite blocks + items catalog appended as parquet,
  *     ledger upserted with SUCCESS rows.
  *
  * Re-running after success is a no-op (0 pending units); `force = true`
  * rebuilds everything (the reference's `--force`).
  */
object CubeRun {

  /** Scope a pipeline stage under a Spark job description: every job the
    * body launches shows as `cube:<name>` in the Spark UI / event log /
    * [[graft.tools.ProfileOne]], so a slow run attributes to its stage
    * (plan, decode, quarantine, publish, readback) instead of an
    * anonymous job id. Restores the caller's description on exit — the
    * property is thread-local on the shared SparkContext.
    */
  private def stage[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"cube:$name")
    try body finally sc.setJobDescription(prev)
  }

  final case class RunResult(planned: Long, items: Long, blocks: Long,
                             /** units ledgered ERROR this run (a corrupt
                               * scene quarantines its whole (tile, period)
                               * — see `outDir/quarantine`); they stay
                               * pending and re-plan on the next run */
                             errors: Long = 0L)

  /** Which tile each scanned scene file belongs to. */
  sealed trait Tiles
  object Tiles {
    /** Every scanned file belongs to this one tile. */
    final case class Fixed(tileId: String) extends Tiles
    /** Each file's tile is capture group 1 of `pattern` over its file
      * name, and the scanned directory defines the tile set. */
    final case class FromName(pattern: String = "_(T[0-9A-Za-z]+)_")
      extends Tiles
  }

  /** Scene-geometry probe for the sizing advisory: max dims over the
    * first <=16 DECODABLE TIFF headers, not the first one — a
    * mixed-platform scene dir (10 m Sentinel + 30 m Landsat in one run,
    * the reference's combined-collections case) must size for its
    * LARGEST tile geometry, and the first listed file is arbitrary.
    * The budget counts decodable headers, not listed files: real scene
    * bundles lead with sidecars (MTL.xml, ANG.txt, manifests,
    * quicklooks) and a files-counted budget could starve on 16 sidecars
    * before reaching the first raster. Still bounded: <=16 header
    * parses (a few KB touched each) within <=256 listed files, zero
    * Spark jobs. Max taken on the block-count axis (what the volume
    * estimate consumes); the winning (w, h) pair is returned.
    */
  private[graft] def probeMaxDims(sceneDir: String,
                                  blockSize: Int): Option[(Int, Int)] = {
    // java.nio, not the Hadoop local FileSystem: without the native
    // Hadoop library every listed file status forks an `ls -ld`, and
    // the decode already reads scenes through the POSIX contract
    val walk = java.nio.file.Files.walk(RasterIO.scenePath(sceneDir))
    try {
      val it = walk.iterator()
      var best = Option.empty[(Int, Int)]
      def blocks(d: (Int, Int)): Long =
        ((d._1 + blockSize - 1) / blockSize).toLong *
          ((d._2 + blockSize - 1) / blockSize)
      var decoded = 0
      var listed = 0
      while (decoded < 16 && listed < 256 && it.hasNext) {
        val f = it.next()
        if (java.nio.file.Files.isRegularFile(f)) {
          listed += 1
          for (d <- RasterIO.sceneDims(f.toString)) {
            decoded += 1
            if (best.forall(b => blocks(d) > blocks(b))) best = Some(d)
          }
        }
      }
      best
    } finally walk.close()
  }

  /** Build the cube at `outDir` from the scenes in `sceneDir` for the
    * periods of [start, end]. The reference Maestro dispatches one unit
    * per (tile, period); here ONE declarative chain carries every tile —
    * the (tileId, blockY, blockX)-clustered block table
    * ([[clusterBlocks]]) co-locates each tile's
    * lifecycle, so tiles parallelize across the cluster without
    * per-tile jobs. With [[Tiles.FromName]] (the default) tiles are read
    * from the scene FILENAMES, the scan is metadata-only, and the
    * ledger plans pending = expected ∖ done per (tile, period, band) —
    * a new tile dropped into the directory backfills alone on re-run.
    * [[Tiles.Fixed]] assigns every scanned file to one tile.
    */
  def runTiles(callerSession: SparkSession,
               collection: Collection,
               mask: MaskDef,
               sceneDir: String,
               outDir: String,
               start: java.time.LocalDate,
               end: java.time.LocalDate,
               tiles: Tiles = Tiles.FromName(),
               force: Boolean = false,
               blockSize: Int = 512,
               blockBuckets: Int = 32,
               /** also publish composite+index bands as COG items under
                 * `outDir/data` via the crash-safe work→data commit
                 * ([[Publish.publishGeoTiffs]]) */
               publishCogs: Boolean = false,
               /** with [[publishCogs]]: also publish an S11 quicklook PNG
                 * per item, rendered from the item's own
                 * `collection.quicklook` (r, g, b) band COGs
                 * ([[Publish.renderQuicklook]]) and scaled over this
                 * (inMin, inMax) display range */
               quicklookRange: Option[(Double, Double)] = None,
               /** T1 scene ordering: blend clearer scenes first instead
                 * of the later-date default (see [[mergeCompositeChain]]) */
               efficacyPriority: Boolean = false,
               /** T1 reference-day mode: prefer scenes closest to this
                 * day-of-period, efficacy as tie-break */
               referenceDay: Option[Int] = None,
               /** T10: histogram-match every scene to the best-priority
                 * scene per (tile, band) before compositing (the cube's
                 * `histogram_matching` parameter; implies
                 * [[efficacyPriority]]) */
               histogramMatching: Boolean = false,
               /** Event-time watermark for ALWAYS-ON ingestion
                 * ([[CubeStream]]): only periods with `p_end < horizon`
                 * are expected (STRICT — a scene dated exactly `p_end`
                 * may still be mid-arrival when its first file lands), so
                 * an open period — one scenes can still arrive for — is
                 * never composited early or ledgered SUCCESS with a
                 * partial scene set. None (batch builds): every period in
                 * [start, end] is expected. */
               horizon: Option[java.time.LocalDate] = None,
               /** scene-scan filename conventions, forwarded to
                 * [[RasterIO.scanDirectory]] (drivers differ; defaults
                 * match the reference's band/date naming) */
               glob: String = RasterIO.DefaultGlob,
               bandPattern: String = RasterIO.DefaultBandPattern,
               datePattern: String = RasterIO.DefaultDatePattern): RunResult = {
    // The (tileId, blockY, blockX)-clustered block table carries every
    // downstream stage shuffle-free — but the spectral↔quality join
    // (keys + date) only rides SUBSET-key co-partitioning when the
    // conf below is off (aggregates accept subset clustering uncondi-
    // tionally; joins gate it behind the conf). The whole chain runs
    // on a CLONED session — shared SparkContext and catalog, isolated
    // SQLConf — so the conf change is scoped to THIS run by
    // construction: concurrent runs on one driver no longer race on a
    // shared session's conf (the set-then-restore hazard the previous
    // form documented away). The caller's runtime SQL tunings carry
    // over; newSession() alone would reset them to SparkContext
    // defaults.
    // fail the misconfiguration BEFORE any heavy stage: a quicklook
    // request against a collection with fewer than 3 configured bands
    // would otherwise complete scan/decode/merge/composite and die in
    // the item commit with an opaque MatchError on Seq(r, g, b)
    quicklookRange.foreach { _ =>
      require(collection.quicklook.size >= 3,
        s"quicklookRange set but collection '${collection.name}' " +
          s"configures ${collection.quicklook.size} quicklook band(s); " +
          "3 (r, g, b) are required")
    }
    val spark = callerSession.newSession()
    callerSession.conf.getAll.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () } // static conf
    }
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // Publication reads back the just-written blocks partitions (see the
    // blocks write below); with type inference on, an all-digit tile id
    // directory would come back as an INT partition column (losing
    // leading zeros) and the pruning filters would miss. Strings
    // everywhere; p_start is cast back to date explicitly after the read.
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled",
      "false")
    // Block-table rows carry whole pixel arrays (a 512² block is ~1 MB),
    // and the vectorized parquet reader preallocates its batch as
    // rows × row-bytes: the 4096-row default turns one read-back task
    // into a ~4 GB batch at reference block sizes (the 10560² soak OOM'd
    // exactly there). 16 rows bounds the batch at ~16 MB/slot for any
    // block size the engine writes, and the per-batch overhead is noise
    // at block-table row counts. Scoped to the run's cloned session,
    // which means EVERY parquet read inside the run uses the 16-row
    // batch — including the ledger/items/quarantine read-backs (tiny
    // tables today, so the 256×-smaller batches cost nothing; if a
    // LARGE non-block catalog table is ever read inside the run, scope
    // this setting around the block-table stages instead). Other
    // sessions' catalog scans keep the wide default.
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize",
      graft.operators.Scale.BlockReaderBatchRows.toString)
    // The composite TypedImperativeAggregates hold a whole scene stack
    // per group buffer (~1 MB per 256² block × stack depth), and
    // ObjectHashAggregate keeps up to `fallbackThreshold` group buffers
    // in flight per task before switching to sort-based aggregation —
    // the 128 default is ~4 GB across 32 slots at a 2-scene stack and
    // scales with stack depth. 16 bounds in-flight state at ~32 MB/slot;
    // the fallback then sorts the rest of the task's input, which spills.
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      graft.operators.Scale.CompositeAggInFlightBuffers.toString)
    // The run's `file:` writes set permissions without forking `chmod`
    // (graft.core.LocalFs says why the cache must be off). Both keys reach
    // executor tasks through the write jobs' Hadoop conf.
    spark.conf.set("fs.file.impl", classOf[graft.core.LocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    import spark.implicits._

    // with a horizon (streaming ingestion), only CLOSED periods are
    // expected: p_end < horizon (STRICT) means a scene STRICTLY newer
    // than the period's last day exists, so no scene for the period
    // can still arrive — a scene dated exactly p_end could be
    // mid-arrival (its band files land one by one) at the moment its
    // first file advances the horizon to p_end, and <= would close
    // the period against that partial set. Open periods stay out of
    // the expected set and become pending in the batch whose horizon
    // clears them.
    val periods = horizon.foldLeft(
      CubeBuilder.periodTable(spark, collection, start, end)) { (p, h) =>
        p.filter($"p_end" < lit(java.sql.Date.valueOf(h)))
      }
    // ledger, items and quarantine live as POINTER-VERSIONED parquet
    // (Ledger.commitVersion): the `_current` pointer only ever names a
    // fully-written snapshot, so a crash anywhere in publication leaves
    // readers consistent and the resume re-plans from the last commit
    val ledgerPath = s"$outDir/ledger"
    // its columns are known, so the read infers no schema (no job)
    val ledger = Ledger.readCurrent(spark, ledgerPath, Some(Ledger.Schema))
      .getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        Ledger.Schema))

    // the scan is filename metadata only — safe to take before planning;
    // with a tile pattern the scanned directory also DEFINES the tile
    // set. Invalidate the session's FileStatusCache first: it has no
    // TTL by default, so a re-run after new scenes landed would
    // otherwise plan against the STALE listing and silently skip them.
    spark.catalog.refreshByPath(sceneDir)
    val scannedAll = RasterIO.scanDirectory(spark, sceneDir,
      bandPattern = bandPattern, datePattern = datePattern, glob = glob)
    val scannedTiled = tiles match {
      case Tiles.Fixed(t) => scannedAll.withColumn("tile", lit(t))
      case Tiles.FromName(p) =>
        // a pattern with no capture group extracts "" from EVERY file and
        // the filter below would silently drop the whole archive
        require(java.util.regex.Pattern.compile(p).matcher("").groupCount() >= 1,
          s"Tiles.FromName pattern must have a capture group for the tile id: $p")
        scannedAll
        .withColumn("tile",
          regexp_extract(element_at(split($"path", "/"), -1), p, 1))
        .filter($"tile" =!= "")
    }
    val tilesDf = tiles match {
      case Tiles.Fixed(t)    => Seq(t).toDF("tile_id")
      case Tiles.FromName(_) =>
        scannedTiled.select($"tile".as("tile_id")).distinct()
    }

    val bandNames = collection.bands.filter(_.expression.isEmpty).map(_.name)
    val expected = Ledger.expectedUnits(
      tilesDf,
      periods.select($"p_start".cast("string"), $"p_end".cast("string")),
      bandNames, collection.identifier)
    // materialize the plan now: the ledger parquet is swapped below and
    // re-evaluating this lazy plan afterwards would read deleted files
    val pending = Ledger.pendingUnits(expected, ledger, force).cache()
    // the decoded block table, once defined; released with `pending` in
    // the finally below, whether the run returns early, completes or throws
    var blockTable = Option.empty[DataFrame]
    try {
      // ONE action plans the run: the per-period rollup yields both the
      // planned-unit total and the distinct period list (they were two
      // separate jobs over the same cached table — on the always-on ingest
      // this is per-BATCH driver overhead, paid even by 0-pending batches)
      val unitCounts = stage(spark, "plan") {
        pending.groupBy($"tile_id", $"p_start", $"p_end")
          .agg(count(lit(1)).as("n"))
          .collect()
      }
      val plannedCount = unitCounts.map(_.getLong(3)).sum
      val pendingPeriods = unitCounts
        .map(r => (r.getString(1), r.getString(2))).distinct
      // (tile, period) pairs this run will write — the read-back prune set
      val pendingPairs = unitCounts
        .map(r => (r.getString(0), r.getString(1))).distinct
      // the no-op return releases `pending` too (finally below): under the
      // always-on ingest it runs on every batch that arrives while no
      // period has closed, and a leaked entry per batch is unbounded cache
      // growth over a stream's lifetime
      if (pendingPeriods.isEmpty) return RunResult(0, 0, 0)

      // stage 1-2: scan → decode → merge → composite, restricted to pending.
      // The decoded chunked-raster table is hash-partitioned on (tileId,
      // blockY, blockX) by one shuffle ([[clusterBlocks]]), after which
      // the merge groupBys, the spectral↔quality join, and the
      // composite groupBy all inherit its HashPartitioning — the whole
      // merge→composite chain plans with zero Exchange (pinned in
      // CubeRunSpec). At cluster scale this is the layout a 1000-executor
      // job wants: every stage of every (tile, block)'s lifecycle runs
      // where its bytes already live.
      // C4 scale path: decode ONLY scenes whose (tile, date) can land in a
      // pending unit — an incremental backfill re-reads its new window,
      // not the whole archive, and a tile already ledgered SUCCESS drops
      // out entirely. Tile and date are filename metadata, so the prune
      // costs zero pixel decodes; the pending-window table is (tiles ×
      // periods)-bounded, built on the driver from the plan rollup (no
      // job re-reads `pending` for it) and broadcasts into a left-semi
      // join.
      val pendingWindows = unitCounts.toSeq
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toDF("tile", "ps", "pe")
        .select($"tile", $"ps".cast("date").as("__ps"),
          $"pe".cast("date").as("__pe"))
      val scanned = scannedTiled.join(broadcast(pendingWindows),
        scannedTiled("tile") === pendingWindows("tile") &&
          $"date".between($"__ps", $"__pe"),
        "left_semi")
      // Sizing advisory BEFORE the heavy stages: warn while the run is
      // still cheap to abort — the alternative at production scale is an
      // OOM hours in, then a torn-partition repair. Two-step so small runs
      // pay ~nothing: (1) driver-side probe of ONE scene's TIFF header
      // (bounded FS listing + mmap'd IFD walk, a few KB touched, zero
      // Spark jobs) gives blocks-per-tile; only if a GENEROUS stack-depth
      // upper bound (64 — production stacks run 10-30) already implies an
      // undersized heap does (2) one tiny job over the filename metadata
      // measure the real depth: max distinct dates per (tile, PERIOD) —
      // per-period, because a composite stack never spans periods and a
      // whole-window count would overestimate a 23-period year backfill
      // ~23×, firing the advisory on every healthy run. Estimates err
      // simple; the advisory never fails the run.
      // Single-JVM assumption, explicit: the advisory compares the task
      // slots against THIS JVM's max heap, which is only the executor heap
      // on a local[N] master. On a multi-executor cluster the driver's
      // Runtime.maxMemory says nothing about executor heaps (and
      // defaultParallelism is cluster-wide), so the check could misfire in
      // either direction — gate on a local master and stay silent
      // elsewhere (the Scale.recommendedHeapBytes rule itself is
      // deployment-agnostic: a cluster operator applies it per executor as
      // slots-per-executor x the same per-slot demand).
      if (spark.sparkContext.isLocal) try {
        val have = Runtime.getRuntime.maxMemory()
        val slots = spark.sparkContext.defaultParallelism
        for ((w, h) <- probeMaxDims(sceneDir, blockSize)) {
          val blocksPerTile =
            ((w + blockSize - 1) / blockSize).toLong *
              ((h + blockSize - 1) / blockSize)
          // PHYSICAL composite bands only: a composite group is one
          // (spectral band, block, period, tile) and its buffer already
          // carries QA as the 2× in 2·depth·blockBytes — counting the
          // quality band again would overstate by bands/(bands-1), and
          // expression (index) bands and the mask's saturated band never
          // form composite groups either (CubeBuilder filters both out of
          // its `spectral` slice: indices derive AFTER compositing,
          // radsat rides the QA pairing) — counting them would fire
          // false-positive advisories on index-heavy collections
          val spectral = math.max(1,
            collection.bands.count(b => b.expression.isEmpty &&
              b.name != collection.qualityBand &&
              b.name != mask.saturatedBand))
          val groups = pendingPairs.size.toLong * spectral * blocksPerTile
          def rec(depth: Int) = graft.operators.Scale.recommendedHeapBytes(
            slots, blockSize, depth, groups, blockBuckets)
          if (rec(64) > have) {
            // Loud marker BEFORE the depth job: healthy-sized runs (and
            // the bench path) must short-circuit at the rec(64) gate
            // above — this line in a log is the proof the gate did NOT
            // short-circuit, so "did the advisory cost a Spark job" is
            // answerable from the log alone.
            System.err.println(
              "[cube] sizing probe: depth-64 upper bound exceeds this " +
                "JVM's heap; measuring real stack depth (one metadata job)")
            // per-(tile, period) depths: max sizes the in-flight buffers,
            // the SUM gives the run's true aggregation volume (periods
            // rarely share one depth — charging max-depth to every group
            // would overstate a mixed year-long backfill)
            val depthRow = stage(spark, "plan")(
              scanned.join(
                  broadcast(pendingWindows.select($"tile".as("__wt"),
                    $"__ps", $"__pe")),
                  scanned("tile") === $"__wt" &&
                    $"date".between($"__ps", $"__pe"))
                .groupBy($"tile", $"__ps")
                .agg(countDistinct($"date").as("d"))
                .agg(max($"d"), sum($"d")).collect())
              .headOption.filterNot(_.isNullAt(0))
            for (r <- depthRow) {
              val maxDepth = r.getLong(0).toInt
              val totalAgg = 2L * r.getLong(1) * spectral * blocksPerTile *
                graft.operators.Scale.blockBytes(blockSize)
              val want = graft.operators.Scale.recommendedHeapBytesForVolume(
                slots, blockSize, maxDepth, totalAgg, blockBuckets)
              if (maxDepth > 0 && want > have)
                System.err.println(
                  f"[cube] sizing advisory: ~$groups%d composite groups, " +
                    f"stack depth <=$maxDepth%d, block $blockSize%d px over " +
                    f"$slots%d slots wants ~${want / 1e9}%.1f GB heap " +
                    f"(Scale.recommendedHeapBytesForVolume); this " +
                    f"single-JVM local master has ${have / 1e9}%.1f GB - " +
                    f"expect GC thrash or OOM in " +
                    f"the composite stage. Raise the heap or raise " +
                    f"blockBuckets (Scale.recommendedBuckets inverts the " +
                    f"rule for a fixed heap).")
            }
          }
        }
      } catch { case scala.util.control.NonFatal(_) => () }
      // decode with per-file error capture (the reference maestro's
      // activity-ERROR discipline): a corrupt scene yields a quarantine row
      // instead of failing the job, and its whole (tile, period) is
      // excluded from publication and ledgered ERROR — an item is never
      // published from a partial band set, and ERROR units stay pending so
      // the next run retries them after the file is repaired.
      // The block table is written here, then read once for the errored
      // keys: a quarantined file decodes to one error row, so the collect
      // is scene-count-bounded, and its periods are matched on the driver
      // (ISO dates order as strings).
      val (decoded, erroredKeys) = stage(spark, "decode+bucket") {
        val d = clusterBlocks(
          RasterIO.decodeBlocksQuarantining(scanned, collection.identifier,
              blockSize)
            .withColumn("assetOrder", lit(0)).withColumn("source", lit(0)),
          blockBuckets)
        blockTable = Some(d)
        val errored = d.filter($"error".isNotNull)
          .select($"tileId", $"date".cast("string")).collect()
          .flatMap { r =>
            val date = r.getString(1)
            pendingPeriods.collect {
              case (ps, pe) if ps <= date && date <= pe => (r.getString(0), ps)
            }
          }.distinct
        (d, errored)
      }
      val pendingPeriodsDf = pendingPeriods.toSeq.toDF("ps", "pe")
        .select($"ps".cast("date").as("p_start"), $"pe".cast("date").as("p_end"))
      val erroredSet = erroredKeys.map { case (t, p) => s"$t|$p" }.toSet
      val qDir = s"$outDir/quarantine"
      val prevQ = Ledger.readCurrent(spark, qDir)
      if (erroredSet.nonEmpty || prevQ.isDefined) {
        val newErrors = decoded.filter($"error".isNotNull)
          .select($"path", $"tileId", $"date", $"band", $"error")
        // retire entries whose file now decodes cleanly; refresh re-failures
        val okPaths = decoded.filter($"error".isNull).select($"path").distinct()
        // also retire entries whose file is GONE from the scanned listing
        // (deleted rather than repaired): a vanished path can never decode
        // again, so without this check its quarantine row would outlive its
        // (tile, period)'s eventual success forever. The semi-join runs
        // against the FULL directory listing (metadata-only), not the
        // pending-window subset — a still-present file whose window isn't
        // pending this run keeps its entry. Quarantine is thereby scoped to
        // the run's scene directory, matching how entries are created.
        val presentPaths = scannedTiled.select($"path").distinct()
        val mergedQ = prevQ match {
          case Some(q) => q.join(presentPaths, Seq("path"), "left_semi")
            .join(okPaths, Seq("path"), "left_anti")
            .join(newErrors.select($"path"), Seq("path"), "left_anti")
            .unionByName(newErrors)
          case None => newErrors
        }
        stage(spark, "quarantine")(Ledger.commitVersion(spark, qDir, mergedQ))
      }
      val blocks = decoded.filter($"error".isNull).drop("path", "error")
      val composited0 = mergeCompositeChain(blocks, collection, mask,
        pendingPeriodsDf, efficacyPriority, referenceDay, histogramMatching)
      // broadcast keys join, not isin literals: erroredSet is quarantine-
      // bounded (<= tiles x periods), but a disaster-sized quarantine
      // would serialize thousands of literals into every task closure —
      // same rationale as Repair.applyTornRepair's ledger downgrade
      val erroredDf =
        if (erroredKeys.isEmpty) null
        else broadcast(erroredKeys.toSeq.toDF("__et", "__ep"))
      val composited =
        if (erroredSet.isEmpty) composited0
        else composited0.join(erroredDf,
          composited0("tileId") === col("__et") &&
            composited0("p_start").cast("string") === col("__ep"),
          "left_anti")

      // stage 3: publish blocks, index bands, items, ledger. Block tables
      // overwrite exactly the (tileId, p_start) partitions this run
      // recomputed (dynamic partition overwrite): a force rebuild or a
      // crash-resume REPLACES its partitions instead of appending
      // duplicates, and untouched partitions survive — publication is
      // idempotent at the unit grain the ledger plans
      val blocksOut =
        composited.withColumn("value", CubeBuilder.compositeBand(collection))
      // what a read of the blocks table returns: the write's data columns,
      // then the partition columns as strings (partition type inference is
      // off). Read-backs pass it, so they run no schema-inference job.
      val partCols = Seq("tileId", "p_start")
      val blocksSchema = StructType(
        blocksOut.schema.filterNot(f => partCols.contains(f.name)) ++
          partCols.map(StructField(_, StringType)))
      stage(spark, "composite+publish:blocks")(
        blocksOut.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .options(graft.operators.Scale.BlockParquetOptions)
          .partitionBy(partCols: _*)
          .parquet(s"$outDir/blocks"))
      // The merge→composite chain executes exactly ONCE per run — the
      // blocks write above. Every later publication stage (index bands,
      // items, COGs) reads BACK the partitions just written
      // instead of re-running the composite from the block table: at
      // cube scale the composite aggregation over the full scene stack is
      // the dominant cost, and items alone used to pay it a second time
      // (COG publication a third and fourth). The read names the run's
      // (tile, period) partition DIRECTORIES explicitly — a whole-table
      // read would list the cube's full lifetime partition tree on the
      // driver just to prune it back down, and grows with the cube, not
      // the run; `basePath` keeps tileId/p_start as columns, the escape
      // matches what the writer used for the directory names, and the
      // existence filter drops pairs that wrote nothing (an empty period).
      // A pending pair whose dir predates this run (a crashed run's blocks,
      // or a force rebuild whose source scenes have since vanished) IS
      // read back and republished: that is crash-resume semantics — the
      // item minted from the existing blocks is the one the interrupted
      // publication owed, and item ids are content-stable so a republish
      // is idempotent — where publishing nothing would ledger a SUCCESS
      // with no item behind it. A torn partition (crashed mid-write AND
      // scenes deleted, so no later run rewrites it) fails the read loudly
      // at action time; that beats minting an item from partial stats, and
      // the repair is deleting the torn dir. Fallback to the lazy
      // composited plan when nothing readable exists — publication then
      // sees the same empty result it does today.
      val okPairs = pendingPairs.filterNot { case (t, p) => erroredSet(s"$t|$p") }
      val blocksBase = s"$outDir/blocks"
      // pairDirs: the SUCCESS-bound pairs whose blocks partition exists on
      // disk after the write (the publication read-back set). hollowPairs:
      // the SUCCESS-bound pairs with NO partition — an empty period, or a
      // repaired unit whose source scenes are gone, which republishes
      // nothing; their pre-existing catalog rows are retired below.
      val (pairDirs, hollowPairs) = {
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
        val fs = new org.apache.hadoop.fs.Path(blocksBase)
          .getFileSystem(spark.sessionState.newHadoopConf())
        // one listStatus per TILE, not one exists() per pair: a large
        // backfill carries tiles × periods pairs, and on an object store
        // each existence probe is a round trip — the per-tile listing is
        // one RPC and the period check is a set lookup
        val byTile = okPairs.groupBy(_._1).toSeq.map { case (t, ps) =>
          val tileDir = new org.apache.hadoop.fs.Path(blocksBase,
            s"tileId=${escapePathName(t)}")
          // only MISSING maps to "wrote nothing" — a transient listing
          // failure (store throttling, auth refresh) must propagate, or a
          // resume would silently skip republishing this tile's items
          // while still ledgering SUCCESS
          val present =
            try fs.listStatus(tileDir).map(_.getPath.getName).toSet
            catch { case _: java.io.FileNotFoundException => Set.empty[String] }
          val (there, missing) =
            ps.partition(p => present(s"p_start=${escapePathName(p._2)}"))
          (there.map(p => new org.apache.hadoop.fs.Path(tileDir,
            s"p_start=${escapePathName(p._2)}")), missing)
        }
        (byTile.flatMap(_._1), byTile.flatMap(_._2))
      }
      // no Try here: pairDirs nonEmpty means readable parquet is EXPECTED
      // (this run just wrote it, or a crashed run left it); a failure is a
      // torn partition or a store fault and must fail the run loudly — a
      // silent fallback to the (possibly empty) lazy plan would publish
      // nothing yet ledger SUCCESS, the exact hollow-success hole the
      // read-back closes
      val pubSource: DataFrame =
        if (pairDirs.isEmpty) composited
        else spark.read.schema(blocksSchema).option("basePath", blocksBase)
          .parquet(pairDirs.map(_.toString).toSeq: _*)
          .withColumn("p_start", $"p_start".cast("date"))
      val indexDf = CubeBuilder.indexBands(pubSource, collection)
      // structural, not executed: `!indexDf.isEmpty` re-ran the whole
      // merge→composite→pivot chain just to learn what the collection
      // definition already says. A zero-row write (every unit quarantined)
      // writes no partitions under dynamic overwrite — existing data
      // survives; and per the loud-failure contract above, an unreadable
      // partition dir in the read-back FAILS the run (no Try) rather than
      // being skipped.
      val hasIndex = collection.bands.exists(_.expression.nonEmpty)
      // pairDirs.nonEmpty ⇔ some blocks exist for this run ⇔ the pivot has
      // rows: skips the zero-row write that would leave a schema-less
      // index_blocks dir on a first run whose every unit quarantined
      if (hasIndex && pairDirs.nonEmpty)
        stage(spark, "publish:index")(indexDf.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .options(graft.operators.Scale.BlockParquetOptions)
          .partitionBy("tileId", "p_start")
          .parquet(s"$outDir/index_blocks"))
      // the items catalog is a C1 upsert keyed on item_id (the reference's
      // get_or_create over the items table), committed pointer-versioned
      val items = CubeBuilder.publishItems(pubSource, collection)
      val itemsPath = s"$outDir/items"
      // (measured r20: riding RunResult's items total on an Observation
      // attached to the commit write — saving the readback's re-read, 3
      // jobs — read FLAT solo but LOST 1.15 s in-suite, 2.82→3.97: by the
      // time a long-lived bench session reaches this query its async
      // listener bus is seconds behind, and Await(obs.future) blocks on
      // the backlog — an Observation await is a hidden sync point on the
      // listener bus. Don't re-litigate without a non-blocking read.)
      stage(spark, "publish:items") {
        val newItems = Ledger.readCurrent(spark, itemsPath) match {
          case Some(old) =>
            // Retire pre-existing rows for the hollow pairs: a unit this
            // run completes as SUCCESS with no blocks partition behind it
            // (repaired unit whose source scenes are gone) must not keep
            // serving its stale item — the item has no assets, and the
            // repair planner's items cross-check would re-flag the unit
            // forever (repair → rebuild-to-nothing → SUCCESS → re-flag, a
            // permanent oscillation rewriting the ledger every cycle).
            // Quarantined (ERROR) units are NOT in hollowPairs: they
            // re-plan next run, and their old item may still front a
            // healthy surviving partition. Broadcast keys join, not isin
            // literals (catalog-bounded but disaster-sized repairs exist).
            val kept =
              if (hollowPairs.isEmpty) old
              else old.join(
                broadcast(hollowPairs.toDF("__ht", "__hp")),
                old("tileId") === col("__ht") &&
                  old("start_date") === col("__hp"),
                "left_anti")
            kept.join(items, Seq("item_id"), "left_anti").unionByName(items)
          case None => items
        }
        Ledger.commitVersion(spark, itemsPath, newItems)
      }
      // optional S9+C2 asset publication: composite (and index) bands
      // stream into per-item COG directories under work/ and each item
      // commits atomically into data/ only once its full band set exists
      // (Publish.publishGeoTiffs, executor-parallel) — a crash mid-run
      // leaves some items fully published and the rest absent, never a
      // half-visible item
      if (publishCogs) {
        val cogBlocks = pubSource
          .withColumn("pixels", CubeBuilder.compositeBand(collection))
          .select($"cube", $"tileId", $"band", $"p_start", $"blockY",
            $"blockX", $"height", $"width", $"x0", $"y0", $"resX", $"resY",
            $"nodata", $"pixels")
        val withIndex =
          if (!hasIndex) cogBlocks
          else cogBlocks.unionByName(indexDf
            .select($"cube", $"tileId", $"band", $"p_start", $"blockY",
              $"blockX", $"height", $"width", $"x0", $"y0", $"resX", $"resY",
              $"nodata", $"value".as("pixels")))
        // each item's quicklook renders in its commit task, from the
        // band files it just staged, so the PNG commits with the band set
        stage(spark, "publish:cogs")(
          Publish.publishGeoTiffs(withIndex, s"$outDir/work", s"$outDir/data",
            collection.bands.map(b => b.name -> b.dataType).toMap,
            quicklookBands = collection.quicklook.take(3),
            quicklookRange = quicklookRange))
      }

      // every planned unit ledgers: SUCCESS normally, ERROR when its
      // (tile, period) was quarantined — ERROR units are NOT done
      // (pendingUnits only excludes SUCCESS) so they re-plan next run
      val completions = {
        val base = pending.select($"cube", $"tile_id", $"p_start", $"p_end",
          $"band")
        if (erroredSet.isEmpty)
          base.withColumn("status", lit(Ledger.StatusSuccess))
        else base.join(erroredDf,
            base("tile_id") === col("__et") &&
              base("p_start").cast("string") === col("__ep"),
            "left")
          .withColumn("status",
            when(col("__et").isNotNull, lit(Ledger.StatusError))
              .otherwise(lit(Ledger.StatusSuccess)))
          .drop("__et", "__ep")
      }
      // the ERROR rows of `completions`, counted from the plan rollup
      val errorCount = unitCounts
        .filter(r => erroredSet(s"${r.getString(0)}|${r.getString(1)}"))
        .map(_.getLong(3)).sum
      stage(spark, "publish:ledger")(
        Ledger.commitVersion(spark, ledgerPath, Ledger.upsert(ledger, completions)))

      // a count reads no columns: both reads take the known schemas
      stage(spark, "readback")(RunResult(plannedCount,
        Ledger.readCurrent(spark, itemsPath, Some(items.schema))
          .map(_.count()).getOrElse(0L),
        readParquetIfExists(spark, blocksBase, blocksSchema)
          .map(_.count()).getOrElse(0L),
        errorCount))
    } finally {
      pending.unpersist()
      blockTable.foreach(org.apache.spark.sql.graftbridge.ShuffledScan.release)
    }
  }

  /** The run's decoded blocks as one table: hash-partitioned into
    * `buckets` partitions on (tileId, blockY, blockX) by one shuffle,
    * whose files are the table's only copy (see
    * [[org.apache.spark.sql.graftbridge.ShuffledScan]]). Every later
    * groupBy on a superset of those keys plans with no Exchange, and so
    * does an equi-join on such keys while
    * `spark.sql.requireAllClusterKeysForCoPartition` is off (as `runTiles`
    * sets it). The caller releases the table with `ShuffledScan.release`.
    */
  private[graft] def clusterBlocks(decoded: DataFrame,
                                   buckets: Int): DataFrame =
    org.apache.spark.sql.graftbridge.ShuffledScan(decoded,
      Seq("tileId", "blockY", "blockX"), buckets)

  /** Stages 1-2 of a run — per-band-slice merge then compositeSlices —
    * over an already-decoded block table. Exposed (package-private) so
    * the plan gate can pin the zero-Exchange property on the EXACT
    * production chain `runTiles` executes: when `blocks` comes from
    * [[clusterBlocks]], this whole chain must plan
    * with no shuffle after the scan (default flags; the priority branch
    * adds ONE (tile, date)-bounded partial-agg exchange for the T1
    * priority table, which broadcasts back).
    *
    * `efficacyPriority` / `referenceDay` turn on T1 scene ordering (the
    * reference's prepare-blend sort; `processing.py:636-654`,
    * `timeline.py:208-249`); `histogramMatching` additionally T10-matches
    * every non-reference scene to the best-priority scene per
    * (tile, band) before compositing (`tasks.py:368-385`, the cube's
    * `histogram_matching` parameter, `forms.py:125`). Matching without a
    * priority signal would pick an arbitrary reference, so it implies
    * the efficacy ordering. `resolution` only scales the efficacy term
    * (order-invariant for pure efficacy; the tie-break weight under
    * referenceDay).
    */
  private[graft] def mergeCompositeChain(blocks: DataFrame,
      collection: Collection, mask: MaskDef,
      periodsDf: DataFrame,
      efficacyPriority: Boolean = false,
      referenceDay: Option[Int] = None,
      histogramMatching: Boolean = false,
      resolution: Double = 10.0): DataFrame = {
    import blocks.sparkSession.implicits._
    val nodata = collection.bands.find(_.name != collection.qualityBand)
      .map(_.nodata.toInt).getOrElse(-9999)
    val (spectral, quality, radsat) =
      CubeBuilder.bandSlices(blocks, collection, mask)
    val spectralMerged = CubeBuilder.merge(spectral, nodata, combined = true)
    val qualityMerged = CubeBuilder.merge(quality, mask.nodata.toInt,
      combined = true)
    val radsatMerged = radsat.map(CubeBuilder.merge(_, nodata, combined = true))
    val needPrio = efficacyPriority || referenceDay.isDefined ||
      histogramMatching
    val (spectralIn, prioCol) =
      if (!needPrio) (spectralMerged, lit(1.0))
      else {
        val prio = CubeBuilder.scenePriorities(qualityMerged, collection,
          mask, resolution, referenceDay)
        val sp = spectralMerged
          .join(broadcast(prio), Seq("tileId", "date"), "left")
          .withColumn("scene_priority",
            coalesce($"scene_priority", lit(0.0)))
        val hm =
          if (histogramMatching)
            CubeBuilder.histogramMatchScenes(sp, $"scene_priority",
              collection.qualityBand)
          else sp
        (hm, col("scene_priority"))
      }
    CubeBuilder.compositeSlices(spectralIn, qualityMerged,
      radsatMerged, periodsDf, collection, mask, priority = prioCol)
  }

  /** None when absent. With its schema given, the read touches no file
    * until an action runs, so a zero-partition first write (a directory
    * with no parquet to infer from) reads as empty. */
  private def readParquetIfExists(spark: SparkSession, path: String,
                                  schema: StructType): Option[DataFrame] =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      Some(spark.read.schema(schema).parquet(path))
    else None
}
