package graft.cube

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Ledger

/** Torn-partition repair — the operational answer to the read-back's
  * loud-failure contract (see [[CubeRun]]: an unreadable block partition
  * FAILS the run rather than minting a hollow item).
  *
  * A partition is "torn" when a writer died mid-file: the directory
  * exists but holds no data file, or a data file is missing its parquet
  * tail magic (the 4-byte "PAR1" footer sentinel a completed write always
  * ends with). The reference keeps the analogous failed merge as an
  * ERROR-status activity row for the operator to retry
  * (`cube_builder/celery/tasks.py:234` logs-and-ledgers the merge error;
  * `cube_builder/models/activity.py:44,55` is the status column it
  * queries by). Repair is two steps, both catalog-bounded (tiles x
  * periods directories, never pixel data):
  *
  *  1. [[tornRepairPlan]] — the planning query (family of
  *     c19_compaction_plan / c35_vacuum_plan): list the cube's block AND
  *     index-block partition dirs, probe each data file's head+tail magic
  *     (8 bytes of I/O per file, metadata-only), cross-check the items
  *     catalog for partitions that vanished ENTIRELY (an item exists only
  *     if blocks existed; empty periods mint no item, so they never
  *     false-flag), and emit one row per (tile, period) with the planned
  *     action.
  *  2. [[applyTornRepair]] — downgrade the flagged units' ledger rows
  *     SUCCESS -> ERROR, THEN delete the torn dirs (that order is
  *     load-bearing — see the method doc), so the next run re-plans
  *     exactly those units and republishes them from source (ERROR units
  *     stay pending by [[Ledger.pendingUnits]]'s contract).
  */
object Repair {

  /** Shared planning fold, per-file stats -> per-dir plan: any torn file
    * (or a fileless dir) condemns its whole directory — parquet offers no
    * sub-file recovery, and the unit regenerates from source anyway.
    * Expects `bytes` and `torn` (0/1) columns plus the key columns; the
    * c36 gated query drives this same fold over a modeled file table, so
    * the oracle pins the fold the real path executes.
    */
  private[graft] def planFromFileStats(files: DataFrame,
                                       keys: Seq[String]): DataFrame =
    files.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_files"),
        sum(col("bytes")).as("dir_bytes"),
        sum(col("torn")).as("n_torn"))
      .withColumn("action",
        when(col("n_torn") > 0, lit("delete_and_retry"))
          .otherwise(lit("keep")))

  /** Head+tail magic probe: 8 bytes of I/O, never the page data. A file
    * shorter than the 12-byte minimum (magic + footer-length + magic) or
    * missing either sentinel was torn mid-write. An unreadable file (store
    * fault, vanished between list and open) also plans as torn: deleting
    * and regenerating the unit is the safe answer to both.
    */
  private def footerIntact(fs: org.apache.hadoop.fs.FileSystem,
                           st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.getLen >= 12 && {
      val magic = "PAR1".getBytes("ASCII")
      val head = new Array[Byte](4); val tail = new Array[Byte](4)
      try {
        val in = fs.open(st.getPath)
        try {
          in.readFully(0L, head)
          in.readFully(st.getLen - 4, tail)
        } finally in.close()
        java.util.Arrays.equals(head, magic) &&
          java.util.Arrays.equals(tail, magic)
      } catch { case scala.util.control.NonFatal(_) => false }
    }

  /** Both partitioned block tables a (tile, period) unit owns — a torn
    * or missing partition in EITHER fails the unit's read-back, so both
    * are probed and both are deleted on repair. Vanished-partition
    * detection differs by table: blocks dirs are cross-checked against
    * the items catalog; index dirs against blocks presence (witnessed by
    * any surviving index partition — see [[tornRepairPlan]] for the
    * whole-table-vanish residual).
    */
  private val BlockTables = Seq("blocks", "index_blocks")

  /** (tile_id, p_start, bytes, torn) file rows from one partitioned
    * block table. One listStatus per tile plus one per partition dir, 8
    * probe bytes per data file — directory-count-sized. An empty
    * partition dir (writer died before its first file) yields one
    * synthetic torn row so the fold still condemns it.
    */
  private def probeTable(fs: org.apache.hadoop.fs.FileSystem,
                         base: org.apache.hadoop.fs.Path)
      : Seq[(String, String, Long, Long)] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    val tileDirs =
      try fs.listStatus(base).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("tileId="))
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    tileDirs.toSeq.flatMap { td =>
      val tile = unescapePathName(td.getPath.getName.stripPrefix("tileId="))
      val periodDirs = fs.listStatus(td.getPath).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("p_start="))
      periodDirs.toSeq.flatMap { pd =>
        val p = unescapePathName(pd.getPath.getName.stripPrefix("p_start="))
        val data = fs.listStatus(pd.getPath)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (data.isEmpty) Seq((tile, p, 0L, 1L))
        else data.toSeq.map(s =>
          (tile, p, s.getLen, if (footerIntact(fs, s)) 0L else 1L))
      }
    }
  }

  /** One row per (tileId, p_start) block partition:
    * (tile_id, p_start, n_files, dir_bytes, n_torn, action). Probes both
    * `blocks/` and `index_blocks/`, and runs two vanished-partition
    * cross-checks (a fully-deleted dir is invisible to the directory
    * walk alone): (1) the ITEMS catalog — a published item whose blocks
    * partition vanished entirely (out-of-band delete, or an r17-era
    * crash window) plans as torn; an item is minted only from existing
    * blocks, while an EMPTY period ledgers SUCCESS with no blocks dir
    * and no item, so empty periods never false-flag; (2) blocks-vs-index
    * presence — a blocks partition whose index twin vanished plans as
    * torn whenever any surviving index partition witnesses that the
    * collection has index bands (the one residual blind spot is the
    * WHOLE index table vanishing — see the inline note); (3) the mirror,
    * index-vs-blocks — an orphan index partition whose blocks twin
    * vanished plans as torn even when the item row is also lost (the
    * double-loss the items check can't see).
    */
  def tornRepairPlan(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(s"$outDir/blocks")
      .getFileSystem(hconf)
    val blockRows =
      probeTable(fs, new org.apache.hadoop.fs.Path(s"$outDir/blocks"))
    val indexRows =
      probeTable(fs, new org.apache.hadoop.fs.Path(s"$outDir/index_blocks"))
    val fileRows = blockRows ++ indexRows
    // presence means "has a blocks dir" specifically: index partitions
    // are optional, so a surviving index dir must not mask a vanished
    // blocks dir
    val present = blockRows.map(r => (r._1, r._2)).toSet
    // Vanished INDEX partitions: index_blocks is written for every unit
    // that got blocks (CubeRun publishes both in one pass whenever the
    // collection has expression bands), so any surviving index partition
    // witnesses that this cube HAS index bands — and then every blocks
    // partition must have its index twin. A blocks-present/index-absent
    // pair plans as torn (the publication read-back would fail on it the
    // same way). Idempotent across applies for free: the repair deletes
    // BOTH dirs, so a repaired unit leaves `present` too. Residual blind
    // spot, by construction: if the index_blocks table vanished IN ITS
    // ENTIRETY there is no witness left — the directory state is
    // indistinguishable from a collection with no index bands (the items
    // catalog can't arbitrate either: items carry no per-band assets).
    // That case needs the collection definition, which the repair tool
    // deliberately doesn't take; a full-table loss is a restore-from-
    // backup event, not a partition repair.
    val indexPresent = indexRows.map(r => (r._1, r._2)).toSet
    val missingIndex =
      if (indexRows.isEmpty) Seq.empty[(String, String, Long, Long)]
      else (present -- indexPresent).toSeq.sorted
        .map { case (t, p) => (t, p, 0L, 1L) }
    // The mirror: an index partition whose BLOCKS twin vanished. Blocks
    // write BEFORE index in the publication pass (CubeRun reads the
    // blocks partitions back off disk to derive indexDf), so
    // index-present/blocks-absent can never arise from a crash — it is
    // always an out-of-band loss, and unlike the items cross-check it
    // needs no surviving witness row: a DOUBLE loss (blocks dir + item
    // row) that the items check can't see still leaves the orphan index
    // partition as evidence. Without this flag such a unit stays
    // SUCCESS-ledgered forever: no item to serve, no pending unit to
    // rebuild, an orphan index dir pinning the loss invisibly.
    val orphanIndex = (indexPresent -- present).toSeq.sorted
      .map { case (t, p) => (t, p, 0L, 1L) }
    // catalog-bounded: one row per published item / ledger unit. Only
    // SUCCESS-ledgered pairs flag as missing: after a repair their units
    // are ERROR (already pending — the next run republishes), so a
    // second apply before the rebuild is a no-op instead of re-reporting
    // the same loss forever
    val missing = Ledger.readCurrent(spark, s"$outDir/items") match {
      case None => Seq.empty[(String, String, Long, Long)]
      case Some(items) =>
        val successPairs = Ledger.readCurrent(spark, s"$outDir/ledger")
          .map(_.filter(col("status") === Ledger.StatusSuccess)
            .select(col("tile_id"), col("p_start").cast("string"))
            .distinct().collect()
            .map(r => (r.getString(0), r.getString(1))).toSet)
          .getOrElse(Set.empty[(String, String)])
        items.select("tileId", "start_date").distinct().collect()
          .map(r => (r.getString(0), r.getString(1)))
          .filter(pr => successPairs(pr) && !present(pr))
          .map { case (t, p) => (t, p, 0L, 1L) }.toSeq
    }
    planFromFileStats(
      (fileRows ++ missingIndex ++ orphanIndex ++ missing)
        .toDF("tile_id", "p_start", "bytes", "torn"),
      Seq("tile_id", "p_start"))
      .orderBy($"tile_id", $"p_start")
  }

  /** Execute the plan: delete each torn partition dir and flip its
    * ledger rows to ERROR (pointer-versioned commit — the downgrade is
    * atomic and survives a crash mid-repair; a re-run of the repair is
    * idempotent). Returns the number of dirs repaired. The next
    * [[CubeRun.runTiles]] re-plans exactly those (tile, period) units and
    * republishes them from source.
    *
    * `tornUnits` lets a caller that has ALREADY collected the plan (the
    * RepairCube CLI prints it first) apply exactly those (tile_id,
    * p_start) pairs — without it the plan is recomputed here, which
    * doubles the full probe (directory walks + footer reads + the
    * catalog jobs) and opens a window where the plan the operator read
    * and the plan being applied diverge.
    */
  def applyTornRepair(spark: SparkSession, outDir: String,
                      tornUnits: Option[Seq[(String, String)]] = None)
      : Long = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val torn = tornUnits.getOrElse {
      tornRepairPlan(spark, outDir)
        .filter(col("action") === "delete_and_retry")
        .select("tile_id", "p_start")
        .collect() // catalog-bounded: <= tiles x periods rows
        .map(r => (r.getString(0), r.getString(1))).toSeq
    }
    if (torn.isEmpty) return 0L
    // ledger downgrade BEFORE the deletes — the order is load-bearing.
    // Deletes-first has an unrecoverable crash window: a dir already
    // deleted but still SUCCESS-ledgered is invisible to both the
    // planner (listStatus no longer sees it) and pendingUnits (SUCCESS
    // excludes it) — the cube would serve an item whose blocks are gone,
    // forever. Downgrade-first converges from every crash point: ERROR
    // rows + torn dirs re-plan on the next run (dynamic partition
    // overwrite replaces the dir), and a repair re-run still sees the
    // torn dir and deletes it.
    val ledgerPath = s"$outDir/ledger"
    Ledger.readCurrent(spark, ledgerPath).foreach { led =>
      import spark.implicits._
      // broadcast join on a keys DataFrame, not isin over literals: a
      // disaster-recovery repair of thousands of units would otherwise
      // build a thousands-literal predicate (quadratic to analyze, and
      // a degenerate codegen shape). The plan rows are distinct by
      // construction (tornRepairPlan groups by the pair), so the left
      // join cannot duplicate ledger rows.
      val keysDf = torn.toSeq.toDF("__rt", "__rp")
      val updated = led
        .join(broadcast(keysDf),
          led("tile_id") === col("__rt") &&
            led("p_start").cast("string") === col("__rp"),
          "left")
        .withColumn("status",
          when(col("__rt").isNotNull, lit(Ledger.StatusError))
            .otherwise(col("status")))
        .drop("__rt", "__rp")
      Ledger.commitVersion(spark, ledgerPath, updated)
    }
    val fs = new org.apache.hadoop.fs.Path(s"$outDir/blocks")
      .getFileSystem(spark.sessionState.newHadoopConf())
    torn.foreach { case (t, p) =>
      // delete the unit's partition in BOTH block tables: the next run's
      // dynamic partition overwrite rewrites both, and a surviving stale
      // index partition would otherwise pair with regenerated blocks
      BlockTables.foreach { table =>
        val dir = new org.apache.hadoop.fs.Path(
          s"$outDir/$table/tileId=${escapePathName(t)}/" +
            s"p_start=${escapePathName(p)}")
        fs.delete(dir, true): Unit
      }
    }
    torn.length.toLong
  }
}
