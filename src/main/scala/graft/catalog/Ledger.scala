package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run-ledger + idempotent-resume orchestration (SURVEY §2.5 C1/C4,
  * §4 "merge result caching"; reference `models/activity.py`,
  * `tasks.py:126-182`, `tasks.py:577-620`).
  *
  * The ledger is a parquet table of work units
  * `(cube, tile_id, period_start, period_end, band, status)`. Planning a
  * run = expected-units ∖ completed-units (anti-join); completing a run =
  * C1 upsert. Everything is a DataFrame op — idempotent re-runs fall out
  * of the anti-join exactly like the reference's file-existence cache.
  */
object Ledger {

  val StatusCreated = "CREATED"
  val StatusSuccess = "SUCCESS"
  val StatusError = "ERROR"

  /** Expected work units: tiles × periods × bands. */
  def expectedUnits(tiles: DataFrame, periods: DataFrame,
                    bands: Seq[String], cube: String): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.select($"tile_id")
      .crossJoin(broadcast(periods.select($"p_start", $"p_end")))
      .crossJoin(broadcast(bands.toDF("band")))
      .select(lit(cube).as("cube"), $"tile_id", $"p_start", $"p_end", $"band")
  }

  /** C4 — missing-timeline backfill plan: expected units with no SUCCESS
    * ledger row (left anti-join). `force` re-plans everything (the
    * reference's `--force` flag).
    */
  def pendingUnits(expected: DataFrame, ledger: DataFrame,
                   force: Boolean = false): DataFrame = {
    if (force) return expected
    val done = ledger.filter(col("status") === StatusSuccess)
      .select("cube", "tile_id", "p_start", "p_end", "band")
    expected.join(done, Seq("cube", "tile_id", "p_start", "p_end", "band"),
      "left_anti")
  }

  /** C1 — upsert completions into the ledger: latest status wins per key. */
  def upsert(ledger: DataFrame, completions: DataFrame): DataFrame = {
    val keys = Seq("cube", "tile_id", "p_start", "p_end", "band")
    ledger.join(completions.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(completions)
  }

  /** Crash-safe versioned parquet commit: write `df` as a NEW version
    * directory under `dir`, then flip the `_current` pointer atomically,
    * then best-effort drop superseded versions KEEPING the last `retain`
    * (current + retain-1 predecessors — a concurrent reader's lazy
    * DataFrame over the just-superseded version survives the next
    * commit). At every instant the pointer names a fully-written
    * version, so a crash anywhere in the sequence leaves readers on a
    * complete snapshot and the re-run simply rewrites the next version —
    * the discipline the reference gets from its database transaction
    * (`models/activity.py` commits), here over plain parquet. Racing
    * committers claim DISTINCT version numbers (atomic `.claim_vN`
    * create) so they never write the same directory; between their
    * complete snapshots the pointer flip is last-write-wins. `df` must
    * NOT be derived lazily from files this call deletes; deriving it
    * from [[readCurrent]] is safe because the read version (legacy or
    * versioned) is only dropped AFTER the pointer moved off it, the new
    * version was fully materialized, and `retain-1` further commits
    * happened — a guarantee that assumes SEQUENTIAL commits. The
    * contract is single-LOGICAL-writer: concurrent committers (a manual
    * recovery run racing an always-on stream on one outDir) never
    * corrupt a version on disk, but last-write-wins silently DISCARDS
    * the loser's upsert, and interleaved commits burn the retain grace
    * a concurrent reader's lazy plan depends on. This call detects the
    * interleaving (the pointer moved between claim and flip) and warns
    * on stderr rather than failing — the snapshots are individually
    * complete, and which upsert should win needs context only the
    * caller has. Pause the stream for manual runs (see CubeStream).
    */
  def commitVersion(spark: SparkSession, dir: String, df: DataFrame,
                    retain: Int = 2): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    require(retain >= 1, s"retain must keep at least the current version: $retain")
    Files.createDirectories(Paths.get(dir))
    val cur0 = currentVersion(dir)
    val curN = cur0
      .flatMap("""(\d+)$""".r.findFirstIn(_)).map(_.toLong).getOrElse(-1L)
    // Cross-process guard: CLAIM the next version number via an atomic
    // create (`.claim_vN`; dot-prefixed so Spark listings ignore it).
    // Two committers racing on one dir thus write DIFFERENT version
    // directories instead of clobbering the same one; the pointer flip
    // below is last-write-wins between complete snapshots. A claim
    // whose committer crashed before writing just skips that number
    // forever — numbers are free. (Pointer machinery is java.nio, so
    // the coordination holds on POSIX-visible dirs — the module's
    // documented scope; data files themselves go through the Hadoop
    // FileSystem so the sweep also works when `dir` resolves remote.)
    var nextN = curN + 1
    var claimed = false
    while (!claimed) {
      try { Files.createFile(Paths.get(dir, s".claim_v$nextN")); claimed = true }
      catch { case _: java.nio.file.FileAlreadyExistsException => nextN += 1 }
    }
    val next = s"v$nextN"
    df.write.mode("overwrite").parquet(s"$dir/$next")
    // lost-update detection (see scaladoc): another committer flipped
    // the pointer while this version was materializing — this flip will
    // bury that commit's rows. Warn loudly; both snapshots are complete,
    // and only the caller knows which upsert should win.
    val movedTo = currentVersion(dir)
    if (movedTo != cur0)
      System.err.println(s"[ledger] concurrent commit detected on $dir: " +
        s"pointer moved to ${movedTo.getOrElse("<absent>")} while " +
        s"v$nextN was being written; this flip buries that commit " +
        "(single-logical-writer contract)")
    val tmp = Paths.get(dir, "_current.tmp")
    Files.write(tmp, next.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(dir, "_current"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // Sweep: keep `next` plus the retain-1 highest-numbered other
    // versions (a reader holding a lazy DataFrame over the superseded
    // version survives the next commit instead of hitting FileNotFound
    // mid-job), then retire LEGACY flat-parquet files (a pre-pointer
    // layout this dir migrated from — see readCurrent) so the dir holds
    // only versioned content. Both deletes run strictly AFTER the new
    // version materialized, so a `df` derived from readCurrent — legacy
    // or versioned — never loses its source mid-write.
    val versionName = """^v\d+$""".r
    val s = Files.list(Paths.get(dir))
    val (versions, legacy) =
      try {
        val all = scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
          .asScala.toList
        (all.filter(p => versionName.matches(p.getFileName.toString)),
          all.filter(p => isLegacyDataFile(p) ||
            legacySideFile(p.getFileName.toString)))
      } finally s.close()
    def num(p: java.nio.file.Path): Long =
      """(\d+)$""".r.findFirstIn(p.getFileName.toString).map(_.toLong).getOrElse(-1L)
    val keep = versions.filter(_.getFileName.toString != next)
      .sortBy(-num(_)).take(retain - 1).map(_.getFileName.toString).toSet + next
    versions.filterNot(p => keep(p.getFileName.toString)).foreach { p =>
      hadoopDelete(spark, p.toString)
      Files.deleteIfExists(Paths.get(dir, s".claim_${p.getFileName}")): Unit
    }
    // legacy files get the SAME one-commit grace as superseded versions:
    // on the migration commit itself (no prior version dir) a reader may
    // still hold a lazy DataFrame over the flat files — readCurrent
    // prefers the pointer from now on, so they are inert leftovers until
    // the NEXT commit sweeps them
    if (versions.exists(_.getFileName.toString != next))
      legacy.foreach(p => hadoopDelete(spark, p.toString))
  }

  /** Recursive delete through the Hadoop FileSystem — see
    * [[graft.core.Fs.deleteRecursive]].
    */
  private[graft] def hadoopDelete(spark: SparkSession, path: String): Unit =
    graft.core.Fs.deleteRecursive(spark, path)

  /** The ledger version the `_current` pointer names, if any. */
  def currentVersion(dir: String): Option[String] = {
    val p = java.nio.file.Paths.get(dir, "_current")
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  /** A top-level parquet data file from the LEGACY (pre-pointer) flat
    * layout: `part-*` / `*.parquet` written straight into `dir`.
    */
  private def isLegacyDataFile(p: java.nio.file.Path): Boolean = {
    val n = p.getFileName.toString
    java.nio.file.Files.isRegularFile(p) && !n.endsWith(".crc") &&
      (n.startsWith("part-") || n.endsWith(".parquet"))
  }

  private def legacySideFile(n: String): Boolean =
    n == "_SUCCESS" || n.endsWith(".crc") ||
      n.startsWith("_committed") || n.startsWith("_started")

  /** Top-level legacy data files, listed explicitly so the legacy read
    * below never trips over co-resident version directories (a crash
    * between a version write and its pointer flip leaves one).
    */
  private def legacyDataFiles(dir: String): List[java.nio.file.Path] = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(d)) return Nil
    val s = java.nio.file.Files.list(d)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
      .asScala.filter(isLegacyDataFile).toList
    finally s.close()
  }

  /** Read the ledger as of its current committed version. A directory
    * with NO `_current` pointer but flat parquet files at top level is
    * the legacy (pre-pointer-versioning) layout: read those files
    * directly — the next [[commitVersion]] migrates the dir (new
    * version + pointer, legacy files swept).
    */
  def readCurrent(spark: SparkSession, dir: String): Option[DataFrame] =
    currentVersion(dir).map(v => spark.read.parquet(s"$dir/$v"))
      .orElse {
        val legacy = legacyDataFiles(dir)
        if (legacy.isEmpty) None
        else Some(spark.read.parquet(legacy.map(_.toString): _*))
      }

  /** C3 — per-tile summary with missing periods as a set difference. */
  def summarize(ledger: DataFrame, periods: DataFrame): DataFrame = {
    val spark = ledger.sparkSession
    import spark.implicits._
    val expected = periods.select($"p_start").as[java.sql.Date]
      .collect().sorted.map(_.toString)
    ledger.filter($"status" === StatusSuccess)
      .groupBy($"cube", $"tile_id")
      .agg(sort_array(collect_set($"p_start".cast("string"))).as("done"))
      .select($"cube", $"tile_id", $"done",
        array_except(lit(expected), $"done").as("missing"))
  }
}
