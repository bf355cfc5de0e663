package graft.cube

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.{Collection, MaskDef}

/** Always-on cube ingestion — the reference's continuous dispatch loop
  * (`maestro.py` orchestrate + workers consuming per-scene activities,
  * `tasks.py:126-182`) as ONE Structured Streaming query: the file
  * source detects newly landed scene files (exactly-once listing via
  * the stream checkpoint under `outDir/_ingest_ckpt`) and every
  * micro-batch drives an idempotent [[CubeRun]] backfill over the
  * directory.
  *
  * Period readiness is EVENT-TIME, not arrival-time: each batch
  * re-derives the data horizon (the newest scene date in the
  * directory — no extra state to persist), and a period is
  * composited only once `p_end < horizon - latenessDays` (STRICT: a
  * scene dated exactly p_end may still be mid-arrival, band file by
  * band file, when its first file advances the horizon). An open
  * period — one scenes can still arrive for — is never composited
  * early or marked done with a partial scene set; it becomes pending
  * in the batch whose horizon closes it. Scenes arriving later than
  * `latenessDays` behind the front miss their period (the standard
  * watermark trade-off); a manual `CubeRun.runTiles(force = true)` over the
  * affected range recovers them — PAUSE the stream for that run: the
  * ledger is single-logical-writer (concurrent committers never corrupt
  * a version on disk, but the pointer flip is last-write-wins — the
  * loser's upsert is silently discarded — and an interleaved commit
  * voids the sequential retain-grace a lazy reader depends on; see
  * [[graft.catalog.Ledger.commitVersion]], which warns on stderr when
  * it detects the interleaving).
  *
  * Crash/replay safety is INHERITED, not re-implemented: Structured
  * Streaming may replay a batch after a failure, but a replayed (or
  * spurious) run plans `pending = expected ∖ SUCCESS-ledger` and so
  * re-executes only units the previous attempt did not commit — the
  * same invariant that makes a manual re-run a no-op. A replayed batch
  * carries an OLDER horizon, which only shrinks the expected set —
  * still idempotent. The ledger/items/quarantine pointer commits keep
  * every intermediate state readable, so an ingest killed mid-batch
  * resumes exactly where the last pointer flip left it.
  *
  * Cost shape: the stream batch projects `path` only (binaryFile
  * prunes unread content), and the run's pending-window prune decodes
  * just the scenes whose (tile, date) can land in a pending unit — a
  * batch costs one directory listing plus the NEW scenes' decodes,
  * regardless of archive size.
  */
object CubeStream {

  /** Watch `sceneDir` and keep the cube at `outDir` current; `tiles`
    * assigns scene files to tiles exactly as in [[CubeRun.runTiles]] — a
    * new tile landing in the directory backfills alone in its batch.
    * Each batch with at least one new dated scene file triggers one
    * horizon-bounded run.
    */
  def ingestTiles(spark: SparkSession,
                  collection: Collection,
                  mask: MaskDef,
                  sceneDir: String,
                  outDir: String,
                  start: java.time.LocalDate,
                  end: java.time.LocalDate,
                  tiles: CubeRun.Tiles = CubeRun.Tiles.FromName(),
                  trigger: Trigger = Trigger.ProcessingTime("1 minute"),
                  blockSize: Int = 512,
                  blockBuckets: Int = 32,
                  latenessDays: Int = 0,
                  glob: String = graft.sources.RasterIO.DefaultGlob,
                  bandPattern: String = graft.sources.RasterIO.DefaultBandPattern,
                  datePattern: String = graft.sources.RasterIO.DefaultDatePattern,
                  publishCogs: Boolean = false,
                  quicklookRange: Option[(Double, Double)] = None,
                  efficacyPriority: Boolean = false,
                  referenceDay: Option[Int] = None,
                  histogramMatching: Boolean = false): StreamingQuery =
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", glob)
      // streaming sources demand an explicit schema; binaryFile's is
      // fixed (path, modificationTime, length, content)
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .load(sceneDir)
      // the batch is only the NEW-FILE signal: project path so the
      // source never reads scene bytes into the stream (the run decodes
      // from the directory itself, under its own error quarantine)
      .select("path")
      .writeStream
      .option("checkpointLocation", s"$outDir/_ingest_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the horizon comes from the DIRECTORY via the SAME scan the
        // run will perform (scanDirectory with identical glob + band +
        // date patterns — a dated file the run would never treat as a
        // scene, e.g. a preview sidecar, must not advance readiness),
        // not from this batch alone: a replayed batch then re-runs
        // with the up-to-date horizon. Guard first — an empty batch
        // (catch-up pass, idle trigger) must not pay the listing job.
        if (!batch.isEmpty) {
          val maxDate = graft.sources.RasterIO
            .scanDirectory(batch.sparkSession, sceneDir,
              bandPattern = bandPattern, datePattern = datePattern,
              glob = glob)
            .agg(max(col("date"))).collect().head
          if (!maxDate.isNullAt(0))
            CubeRun.runTiles(spark, collection, mask, sceneDir, outDir,
              start, end, tiles = tiles, blockSize = blockSize,
              blockBuckets = blockBuckets, publishCogs = publishCogs,
              quicklookRange = quicklookRange,
              efficacyPriority = efficacyPriority,
              referenceDay = referenceDay,
              histogramMatching = histogramMatching,
              horizon = Some(maxDate.getDate(0).toLocalDate
                .minusDays(latenessDays.toLong)),
              glob = glob, bandPattern = bandPattern,
              datePattern = datePattern): Unit
        }
      }
      .trigger(trigger)
      .start()
}
