package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale mechanics for the 100 TB story (builder-prompt mandate): the two
  * levers the cube pipeline reaches for when a shuffle becomes the
  * bottleneck.
  *
  *  - **Bucketed co-located joins**: the scene↔tile and ledger↔timeline
  *    joins repeat every run on the same keys; persisting both sides
  *    bucketed by the join key lets Spark plan a SortMergeJoin with ZERO
  *    shuffle exchanges (each bucket pair joins in place). At 100 TB this
  *    converts the dominant repeated shuffle into a one-time write cost.
  *    ScaleSpec pins the exchange-free plan.
  *  - **Salted skew joins**: a heavy-hitter key (one mega-tile, one
  *    degenerate QA value) funnels its whole partition through one task.
  *    Salting splits the big side's key into `salts` sub-keys and
  *    replicates the small side across them, bounding any task at
  *    1/salts of the hot key. AQE's skew-join handles moderate skew
  *    automatically; explicit salting is for the pathological key that
  *    exceeds a single executor. Inner/left joins only (the replicated
  *    small side would duplicate unmatched rows under right/outer).
  */
object Scale {

  /** Range join as an EQUI-join over coarse grid cells — the third lever,
    * for when the range side outgrows a broadcast. A broadcast
    * nested-loop range join (M1's shape) evaluates every (point, range)
    * pair against a broadcast table; fine for dozens of tiles, fatal when
    * the range table itself is millions of rows. Here each half-open
    * range `[lo, hi)` explodes to the grid cells it covers (≤
    * `span/cellSize + 1` rows — bounded when cellSize ~ typical span) and
    * each point hashes to exactly ONE cell, so the join is a plain
    * shuffled/broadcast HASH join on the cell id plus an exact range
    * filter. No pair explosion: a (point, range) pair meets in at most
    * one cell. Empty ranges (hi <= lo) match nothing.
    */
  def bucketedRangeJoin(points: DataFrame, pointCol: String,
                        ranges: DataFrame, loCol: String, hiCol: String,
                        cellSize: Double,
                        maxCellsPerRange: Long = 4096): DataFrame = {
    require(cellSize > 0, s"cellSize must be positive: $cellSize")
    val spanCells = ceil(col(hiCol) / cellSize) - floor(col(loCol) / cellSize)
    // the guard rides INSIDE the sequence bound (a dropped side column
    // would be pruned before it ever evaluated): fail fast with an
    // actionable message instead of sequence()'s opaque array-size
    // blow-up when cellSize is far below a span
    val lastCell = when(spanCells > maxCellsPerRange,
      raise_error(concat(
        lit(s"bucketedRangeJoin: a range spans more than $maxCellsPerRange " +
          s"cells at cellSize $cellSize; raise cellSize or maxCellsPerRange " +
          "(range lo="), col(loCol).cast("string"),
        lit(" hi="), col(hiCol).cast("string"), lit(")"))).cast("long"))
      // last covered cell of [lo, hi) is ceil(hi/cs) - 1 (hi itself is out)
      .otherwise((ceil(col(hiCol) / cellSize) - 1).cast("long"))
    val cells = ranges.filter(col(hiCol) > col(loCol))
      .withColumn("__cell", explode(sequence(
        floor(col(loCol) / cellSize).cast("long"), lastCell)))
    val pts = points.withColumn("__cell",
      floor(col(pointCol) / cellSize).cast("long"))
    pts.join(cells, Seq("__cell"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__cell")
  }

  /** Parquet row-group size for BLOCK-PAYLOAD tables (~260 KB pixel-array
    * rows). Parquet buffers one row group per open writer UNCOMPRESSED,
    * so the 128 MB default × one writer per task slot is the dominant
    * task-memory term on these tables — 32 slots × 128 MB = 4 GB of
    * writer buffers before a single pixel lands (the 10560² reference
    * tile OOM'd the local soak exactly here). 16 MB still packs ~60
    * block rows per group and bounds writer memory per slot at ANY
    * raster scale; these tables are always scanned partition-at-a-time,
    * so the smaller group costs nothing on read.
    */
  val BlockParquetRowGroupBytes: Int = 16 * 1024 * 1024

  /** Writer options for block-payload parquet: the row-group bound above
    * plus a tight size-check cadence. parquet-mr sizes BOTH its row-group
    * and its page checks by ROW COUNT with a 100-row minimum before the
    * first check — but one of these rows carries a whole pixel array
    * (~65k values), so "100 rows" is ~26 MB of row-group buffer and tens
    * of MB of page/dictionary-id buffer per column writer before anything
    * is measured. The `parquet.page.size.row.check.{min,max}` keys govern
    * BOTH cadences: `InternalParquetRecordWriter.checkBlockSizeReached`
    * derives its next-check row count from the same
    * `getMin/MaxRowCountForPageSizeCheck` properties (verified against
    * parquet-hadoop 1.16.0 — there is no separate block-level row-check
    * key), so do NOT remove them on the theory that they only bound
    * pages: they are the row-GROUP cadence bound too. Checking every
    * ≤8 rows holds the real buffers near the configured bounds at any
    * block size.
    */
  /** Upper bound of the size-check cadence in [[BlockParquetOptions]] —
    * also the writer's worst-case row-count overshoot past a configured
    * size bound (the term the sizing model charges per open writer).
    */
  val BlockParquetCheckRowsMax: Int = 8

  val BlockParquetOptions: Map[String, String] = Map(
    "parquet.block.size" -> BlockParquetRowGroupBytes.toString,
    "parquet.page.size.row.check.min" -> "4",
    "parquet.page.size.row.check.max" -> BlockParquetCheckRowsMax.toString)

  /** Vectorized-parquet batch rows for block-payload reads (CubeRun sets
    * `spark.sql.parquet.columnarReaderBatchSize` to this on its cloned
    * session): the reader preallocates rows × row-bytes per batch, and the
    * 4096-row default is a ~4 GB/task allocation at reference block sizes.
    */
  val BlockReaderBatchRows: Int = 16

  /** ObjectHashAggregate in-flight group buffers before the sort-based
    * fallback (CubeRun sets
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` to this):
    * each composite group buffer holds a whole scene stack
    * (2 × depth × blockBytes — pixels + QA per scene), so the 128 default
    * is multi-GB per task at production stack depths.
    */
  val CompositeAggInFlightBuffers: Int = 16

  // ---------------------------------------------------------------------
  // Per-slot working-set model — the heap-sizing rule the 10560²
  // reference-dimension soak ladder implies (measured, NOTES_r17/r18).
  //
  // The composite+publish stage is the run's memory peak: one task
  // simultaneously holds (a) its parquet writer's row-group buffer,
  // (b) a vectorized reader batch, (c) the aggregate's in-flight group
  // buffers, and (d) a share of the sort-fallback's spill/merge traffic
  // over the task's total aggregation volume. (a)-(c) are hard-bounded by
  // the constants above; (d) spills, but empirically needs ~1/4 of the
  // task's aggregation volume resident to stay out of OOM (GC headroom
  // for serialize/copy churn during spill + merge).
  //
  // Measured completion ladder (ProfileCube at 10560², block 256,
  // local[32], so blockBytes = 256 KB; V = groups/task × 2·depth·B):
  //   tiles×depth  V/task   heap/slot   result
  //   1×2          110 MB    256 MB     OK  40 s     (8 GB)
  //   1×4          220 MB    256 MB     OK  44 s     (8 GB)
  //   4×2          441 MB    256 MB     OK  100 s    (8 GB)
  //   4×2          441 MB    160 MB     OOM          (5 GB)
  //   4×4          882 MB    256 MB     OOM          (8 GB)
  //   4×4          882 MB    288 MB     DEGRADED 344 s (9 GB — completes,
  //                                     but 3.2× the 10 GB time: GC thrash)
  //   4×4          882 MB    320 MB     OK  108 s    (10 GB)
  //   4×4          882 MB    384/768 MB OK  106/270 s (12/24 GB)
  //   4×8 (depths 5+3, Σ32)  640 MB     OK  290 s    (20 GB)
  //   4×8 (mixed, V≈1.85 GB) 448 MB     OK  307 s    (14 GB — 6% over
  //                                     the 20 GB time: barely degraded)
  // The fixed-plus-quarter-residency model below classifies every rung;
  // ScaleSpec pins that, with a stated ≤10% conservative band at the
  // marginal 10 GB rung. The recommendation marks HEALTHY completion:
  // just below it there is a narrow GC-thrash band (the 9 GB rung) where
  // runs finish at a multiple of the healthy time, then hard OOM.
  // ---------------------------------------------------------------------

  /** Bytes of one block's pixel payload (`Array[Int]`). */
  def blockBytes(blockPx: Int): Long = 4L * blockPx * blockPx

  /** Hard-bounded per-slot buffers during composite+publish: writer
    * row-group + its check-cadence overshoot, one reader batch, and the
    * aggregate's in-flight scene-stack buffers.
    */
  def perSlotFixedBytes(blockPx: Int, stackDepth: Int): Long = {
    val b = blockBytes(blockPx)
    BlockParquetRowGroupBytes +
      (BlockParquetCheckRowsMax + BlockReaderBatchRows) * b +
      CompositeAggInFlightBuffers.toLong * 2 * stackDepth * b
  }

  /** One task's total aggregation volume: its share of the composite
    * groups, each a 2 × depth × blockBytes scene stack (pixels + QA).
    */
  def perTaskAggBytes(blockPx: Int, stackDepth: Int,
                      groupsPerTask: Long): Long =
    groupsPerTask * 2 * stackDepth * blockBytes(blockPx)

  /** Per-slot slack for everything the named terms don't capture (codegen
    * scratch, shuffle transit, task bookkeeping). Calibrated at the 10 GB
    * marginal rung.
    */
  val PerSlotSlackBytes: Long = 16L * 1024 * 1024

  /** Fraction of the task's aggregation volume that must stay heap-
    * resident for the sort-fallback's spill/serialize/merge churn to
    * clear. Calibrated: 1/4 separates every measured rung.
    */
  val AggResidentFraction: Double = 0.25

  /** Driver/scheduler base (catalog tables, listener bus, broadcast) —
    * independent of data scale.
    */
  val DriverBaseBytes: Long = 1024L * 1024 * 1024

  /** Recommended executor-JVM heap for a cube run: the rule an operator
    * sizes from without rediscovering the r17 OOM ladder.
    *
    * @param cores           task slots per JVM (local[N] or executor cores)
    * @param blockPx         block edge in pixels (runTiles `blockSize`)
    * @param stackDepth      scenes per (tile, period) — the composite
    *                        stack depth (production: 10-30)
    * @param compositeGroups total composite groups in the run =
    *                        bands × blocksPerTile × tiles × periods
    * @param buckets         block-table partition count (runTiles
    *                        `blockBuckets`, default 32, the
    *                        [[graft.cube.CubeRun.clusterBlocks]]
    *                        repartition) — the composite stage's task
    *                        count
    */
  def recommendedHeapBytes(cores: Int, blockPx: Int, stackDepth: Int,
                           compositeGroups: Long,
                           buckets: Int = 32): Long = {
    val groupsPerTask = (compositeGroups + buckets - 1) / buckets
    val concurrent = math.min(cores, buckets)
    DriverBaseBytes + concurrent *
      (perSlotFixedBytes(blockPx, stackDepth) + PerSlotSlackBytes +
        (AggResidentFraction *
          perTaskAggBytes(blockPx, stackDepth, groupsPerTask)).toLong)
  }

  /** [[recommendedHeapBytes]] for a run whose stack depth VARIES across
    * periods: takes the run's true TOTAL aggregation volume (Σ over
    * (tile, period) of groups × 2·depth·blockBytes) instead of charging
    * every group the maximum depth. `maxDepth` still sizes the bounded
    * agg-buffer term (the in-flight buffers hold the deepest stacks).
    * Identical to the fixed-depth rule when all periods share one depth.
    */
  def recommendedHeapBytesForVolume(cores: Int, blockPx: Int, maxDepth: Int,
                                    totalAggBytes: Long,
                                    buckets: Int = 32): Long = {
    val perTask = (totalAggBytes + buckets - 1) / buckets
    val concurrent = math.min(cores, buckets)
    DriverBaseBytes + concurrent *
      (perSlotFixedBytes(blockPx, maxDepth) + PerSlotSlackBytes +
        (AggResidentFraction * perTask).toLong)
  }

  /** The inversion of [[recommendedHeapBytes]] for the common cluster
    * case where the executor heap is FIXED and `blockBuckets` is the free
    * variable: the smallest bucket count whose per-task aggregation
    * volume fits the given per-slot heap budget. At 100 TB the composite
    * group count grows with tiles × periods, and the model says V/task —
    * not the raw data size — is what a slot must carry: more buckets
    * means smaller V, at the cost of more (cheap) tasks.
    */
  def recommendedBuckets(blockPx: Int, stackDepth: Int,
                         compositeGroups: Long,
                         heapPerSlotBytes: Long): Int = {
    val avail = heapPerSlotBytes -
      perSlotFixedBytes(blockPx, stackDepth) - PerSlotSlackBytes
    require(avail > 0,
      s"per-slot budget $heapPerSlotBytes B cannot even fit the bounded " +
        s"buffers (${perSlotFixedBytes(blockPx, stackDepth)} B) at block " +
        s"$blockPx px / depth $stackDepth: raise the heap or shrink the " +
        "block size")
    val groupsPerTask = math.max(1L,
      (avail / AggResidentFraction / (2.0 * stackDepth * blockBytes(blockPx)))
        .toLong)
    val buckets = (compositeGroups + groupsPerTask - 1) / groupsPerTask
    math.min(buckets, Int.MaxValue.toLong).toInt.max(1)
  }

  /** Persist `df` bucketed+sorted by `key` for shuffle-free joins against
    * other tables bucketed the same way (same key, same bucket count).
    * With `path` the table is external (data at the given location,
    * only metadata in the session catalog).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Number of shuffle exchanges in `df`'s physical plan — the levers in
    * this object exist to make this zero for the joins they cover, and
    * the gates assert it stays zero.
    */
  def shuffleExchangeCount(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    var n = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ShuffleExchangeExec => n += 1
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }

  /** Fan a CPU-dense derivation out across the cluster when the scan
    * behind it is byte-small: Spark sizes scan splits by BYTES
    * (`files.maxPartitionBytes`), so a few-MB input planned under a
    * per-row-expensive pipeline (shingle explode × 8 hashes, media
    * codec round-trips, char-bigram explodes) serializes the whole
    * derivation onto one or two tasks while 30 cores idle. Repartitions
    * round-robin to `target` ONLY when the scan has fewer partitions —
    * at 100 TB the scan already carries thousands of splits and this is
    * a NO-OP (no shuffle added on the big-data path); at the small end
    * the narrow pre-inflation rows (the shuffle moves the doc text, not
    * the exploded shingles) buy full-width parallelism for the expensive
    * part. Row-order-neutral for every caller: the derivations feed
    * aggregates/joins, never order-sensitive windows over the raw scan.
    */
  def fanOutScan(df: DataFrame, target: Int = 0): DataFrame = {
    val want =
      if (target > 0) target else df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }

  /** Join two big frames on `key` with the big side salted into `salts`
    * sub-keys and the smaller side replicated across them. The salt is
    * derived per-row (not from the key), so a single hot key spreads
    * evenly; results are salt-invariant.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left" ||
      joinType == "left_outer",
      s"salted join replicates the small side — $joinType would duplicate" +
        " unmatched small-side rows")
    val saltCol = pmod(hash(monotonically_increasing_id()), lit(salts))
    val bigS = big.withColumn("__salt", saltCol)
    val smallS = small.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    bigS.join(smallS, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
