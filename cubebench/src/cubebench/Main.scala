package cubebench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.cube.{CubeRun, CubeStream}
import graft.model.{Band, Collection, MaskDef}

/** One benchmark workload: the scene stack it synthesizes and how it is
  * built. Batch workloads build every period with `CubeRun.runTiles`; the
  * streaming one lands one period per wave under `CubeStream.ingestTiles`.
  */
final case class Workload(name: String, tiles: Int, px: Int, block: Int,
                          periods: Int, datesPerPeriod: Int, function: String,
                          ndvi: Boolean, quicklook: Boolean, warmups: Int,
                          streaming: Boolean = false) {
  def cube: String = s"s2${function.toLowerCase}-1"
  def blocksPerTile: Int = { val n = (px + block - 1) / block; n * n }
  /** The (tile, date) scenes of `periods`. */
  def sceneJobs(periods: Range): Seq[(Int, LocalDate)] =
    for (p <- periods; d <- Scenes.periodDates(p, datesPerPeriod); t <- 0 until tiles)
      yield (t, d)
  /** Input megapixels of `periods` periods: scenes x bands x px^2. */
  def mpx(periods: Int): Double =
    tiles.toDouble * periods * datesPerPeriod * 3 * px * px / 1e6
  def collection: Collection = Collection(
    name = s"s2${function.toLowerCase}", version = 1, grid = "BENCH",
    compositeFunction = function, temporalSchema = "Continuous",
    temporalUnit = "day", temporalStep = Scenes.PeriodDays,
    bands = Seq(Band("B04", "red", "int16", Scenes.Nodata),
      Band("B8A", "nir", "int16", Scenes.Nodata),
      Band("QA", "quality", "uint8", Scenes.QaNodata)) ++
      (if (ndvi) Seq(Band("NDVI", "ndvi", "int16", Scenes.Nodata,
        expression = Kernels.Ndvi)) else Nil),
    qualityBand = "QA",
    quicklook = if (quicklook) Seq("B8A", "B04", "B04") else Nil)
}

object Workloads {
  val all: Map[String, Workload] = Seq(
    Workload("cube_build", tiles = 5, px = 128, block = 64, periods = 2,
      datesPerPeriod = 4, function = "LCF", ndvi = true, quicklook = true,
      warmups = 2),
    Workload("cube_ingest", tiles = 2, px = 128, block = 128, periods = 60,
      datesPerPeriod = 4, function = "MED", ndvi = false, quicklook = false,
      warmups = 1, streaming = true),
    Workload("negative_control", tiles = 2, px = 128, block = 128, periods = 2,
      datesPerPeriod = 2, function = "LCF", ndvi = true, quicklook = true,
      warmups = 0)
  ).map(w => w.name -> w).toMap
}

object Main {
  val Mask = Kernels.Mask
  val QuicklookRange = Some((0.0, 5000.0))

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, slots: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      m.getOrElse("--trace", "0") == "1", Paths.get(need("--work")),
      slots = math.min(4, Runtime.getRuntime.availableProcessors()))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val w = Workloads.all.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))
    Trace.LiveHeap.install()
    val code =
      if (w.name == "negative_control") NegativeControl.run(a, w)
      else { new Bench(a, w).run(); 0 }
    sys.exit(code)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.slots}]")
      .appName("cubebench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * a.slots).toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  /** Bytes the cube leaves in `out`, in MB; the stream checkpoint is the
    * stream's own state, not the cube's. */
  def outputMb(out: Path): Double = {
    val s = Files.walk(out)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !out.relativize(p).startsWith("_ingest_ckpt"))
      .map(Files.size).sum / 1e6
    finally s.close()
  }

  def emit(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}""")
  }

  def log(s: String): Unit = System.err.println(s"[cubebench] $s")
}

/** One benchmark run: set-up, a cold build (or wave), warm-ups, timed
  * builds (or waves) for the run length, a no-op re-run, the oracle. */
final class Bench(a: Main.Args, w: Workload) {
  import Main._

  private var spark: SparkSession = _
  private val scenes = a.work.resolve("scenes")
  private val staging = a.work.resolve("staging")
  private val coll = w.collection
  private val end = Scenes.periodStart(w.periods).minusDays(1)
  private var attempted = 0
  private var failed = 0
  private val problems = ArrayBuffer.empty[String]
  private val recorder = new JobRecorder

  /** Timed build or wave, with its trace window when traced. */
  final case class Timed(seconds: Double, window: Option[Trace.Window], gcS: Double)
  /** What a run's build phase leaves for the report and the oracle. */
  final case class Phase(coldS: Double, coldJitS: Double, timed: Seq[Timed],
                         noopS: Double, outputMb: Double, out: Path, periods: Seq[Int])

  private def describe(x: Trace.Window): String =
    f" (traced, stage coverage ${x.coverage * 100}%.1f%%, ${x.jobs} jobs, ${x.tasks} tasks: " +
      Trace.Stages.flatMap(s => x.stages.get(s).map(r => f"$s ${r.wallS}%.2f/${r.cpuS}%.2f")).mkString(", ") + ")"

  /** Session start plus scene synthesis, in the fresh JVM, up to the
    * first build; returns its seconds. */
  private def setUp(): Double = {
    val t0 = System.nanoTime()
    spark = session(a)
    val initial = if (w.streaming) 0 until 2 else 0 until w.periods
    Scenes.writeAll(scenes, a.seed, w.sceneJobs(initial), w.px, a.slots)
    val s = (System.nanoTime() - t0) / 1e9
    log(f"setup: $s%.3f s")
    s
  }

  private def traced[T](on: Boolean)(body: => (Long, Long, T)): (Timed, T) = {
    val sc = spark.sparkContext
    if (on) { recorder.clear(); sc.addSparkListener(recorder) }
    val gc0 = Trace.gcMillis()
    val (t0, t1, r) = body
    val gcS = (Trace.gcMillis() - gc0) / 1e3
    val win =
      if (!on) None
      else {
        org.apache.spark.CubebenchBus.drain(sc)
        sc.removeSparkListener(recorder)
        Some(recorder.window(t0, t1, a.slots))
      }
    (Timed((t1 - t0) / 1e3, win, gcS), r)
  }

  private def build(out: Path, horizon: Option[LocalDate] = None): CubeRun.RunResult =
    CubeRun.runTiles(spark, coll, Mask, scenes.toString, out.toString,
      Scenes.Start, end, blockSize = w.block, publishCogs = true,
      quicklookRange = if (w.quicklook) QuicklookRange else None,
      horizon = horizon)

  /** A build into a fresh dir, checked against the plan it must execute. */
  private def timedBuild(out: Path, trace: Boolean): Timed = {
    attempted += 1
    val (t, r) = traced(trace) {
      val t0 = System.currentTimeMillis()
      val r = scala.util.Try(build(out))
      (t0, System.currentTimeMillis(), r)
    }
    val units = w.tiles * w.periods
    val ok = r.toOption.exists(x => x.planned == units * 3 && x.items == units &&
      x.blocks == units * 2 * w.blocksPerTile && x.errors == 0)
    if (!ok) {
      failed += 1
      log(s"build into $out did not execute its plan: $r")
    }
    t
  }

  def run(): Unit = {
    val setupS = setUp()
    val ph = if (w.streaming) runStream() else runBatch()
    val timedRuns = ph.timed
    val oracle = Oracle.check(spark, w, a.seed, ph.out, ph.periods)
    oracle.failures.take(10).foreach(f => log(s"oracle: $f"))
    log(s"oracle: ${oracle.checks} checks, ${oracle.failures.size} failed; " +
      s"problems: ${problems.mkString("; ")}")
    val correct = oracle.ok && problems.isEmpty
    val untraced = timedRuns.filter(_.window.isEmpty).map(_.seconds)
    val perOp = if (w.streaming) w.mpx(1) else w.mpx(w.periods)
    val metrics =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("cold_build_s", ph.coldS, "s"),
        ("build_mpx_s", perOp / median(untraced), "Mpx/s"),
        ("wave_s", median(untraced), "s"),
        ("output_mb", ph.outputMb, "MB"))
      else {
        val wins = timedRuns.flatMap(_.window)
        val tracedS = timedRuns.filter(_.window.nonEmpty).map(_.seconds)
        def med(f: Trace.Window => Double) = median(wins.map(f))
        val stageRows = Trace.Stages.flatMap { s =>
          Seq((s"cube.$s.wall_s", med(_.stages.get(s).map(_.wallS).getOrElse(0.0)), "s"),
            (s"cube.$s.cpu_s", med(_.stages.get(s).map(_.cpuS).getOrElse(0.0)), "s"))
        }
        val coverage = wins.map(_.coverage).min
        if (coverage < 0.9)
          log(f"stage rows cover only ${coverage * 100}%.1f%% of a build's wall time")
        // counts come from the first traced op, the same op in every run
        // (on the stream each wave adds to the catalog, so later waves differ)
        val first = wins.head
        stageRows ++ Seq(
          ("cube.jobs", first.jobs.toDouble, "count"),
          ("cube.tasks", first.tasks.toDouble, "count"),
          ("cube.shuffle_mb", first.shuffleMb, "MB"),
          ("cube.spill_mb", first.spillMb, "MB"),
          ("cube.cpu_util", med(_.cpuUtil), "ratio"),
          ("cube.noop_s", ph.noopS, "s"),
          ("cube.stream_s", med(x => x.wallS - x.coveredS), "s"),
          ("trace.stage_coverage", coverage, "ratio"),
          ("trace.build_mpx_s_delta", perOp / median(tracedS) - perOp / median(untraced), "Mpx/s"),
          ("trace.wave_s_delta", median(tracedS) - median(untraced), "s"),
          ("jvm.gc_s", median(timedRuns.filter(_.window.nonEmpty).map(_.gcS)), "s"),
          ("jvm.jit_s", ph.coldJitS, "s"),
          ("jvm.heap_live_peak_mb", Trace.LiveHeap.peak / 1e6, "MB")) ++
          Kernels.run(a.seed, a.work)
      }
    spark.stop()
    emit(correct, attempted, failed, metrics)
  }

  /** Measured phase: at least `minOps` ops and the run length (at most
    * `maxOps`); a traced run alternates untraced and traced ops. */
  private def measure(minOps: Int, maxOps: Int = Int.MaxValue)(op: Boolean => Timed): Seq[Timed] = {
    val out = ArrayBuffer.empty[Timed]
    val t0 = System.nanoTime()
    val need = if (a.trace) math.max(minOps, 4) else minOps
    while (out.size < maxOps && (out.size < need || (System.nanoTime() - t0) / 1e9 < a.seconds))
      out += op(a.trace && out.size % 2 == 1)
    out.toSeq
  }

  private def runBatch(): Phase = {
    var k = 0
    var prev: Option[Path] = None
    def next(trace: Boolean): (Timed, Path) = {
      val out = a.work.resolve(s"out_$k"); k += 1
      val t = timedBuild(out, trace)
      prev.foreach(deleteTree)
      prev = Some(out)
      log(f"build ${k - 1}: ${t.seconds}%.3f s${t.window.fold("")(describe)}")
      (t, out)
    }
    val jit0 = Trace.jitMillis()
    val (cold, _) = next(false)
    val coldJit = (Trace.jitMillis() - jit0) / 1e3
    (0 until w.warmups).foreach(_ => next(false))
    val sizes = ArrayBuffer.empty[Double]
    val timed = measure(2) { tr =>
      val (t, out) = next(tr); sizes += outputMb(out); t
    }
    val last = prev.get
    val before = Oracle.catalogState(last)
    attempted += 1
    val t0 = System.nanoTime()
    val noop = scala.util.Try(build(last))
    val noopS = (System.nanoTime() - t0) / 1e9
    checkNoop(noop, before, last)
    Phase(cold.seconds, coldJit, timed, noopS, median(sizes.toSeq), last, 0 until w.periods)
  }

  private def checkNoop(r: scala.util.Try[CubeRun.RunResult],
                        before: Seq[(String, Option[String], Seq[String])], out: Path): Unit = {
    if (r.isFailure) failed += 1
    if (!r.toOption.exists(_.planned == 0))
      problems += s"no-op re-run planned units: $r"
    if (Oracle.catalogState(out) != before)
      problems += s"no-op re-run changed the catalog: $before -> ${Oracle.catalogState(out)}"
  }

  /** Streaming: one long-running ingest query; each wave lands the scenes
    * of one period for every tile, which closes (and publishes) the one
    * before it. A wave is timed from its landing to the end of the first
    * micro-batch that started after it.
    */
  private def runStream(): Phase = {
    val out = a.work.resolve("out")
    val triggerMs = 250L
    val batches = new java.util.concurrent.LinkedBlockingQueue[(Long, Long)]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      // a micro-batch that ran the sink (foreachBatch reports no input
      // row counts, so "it added a batch" is the signal)
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.durationMs.containsKey("addBatch")) {
          val s = java.time.Instant.parse(p.timestamp).toEpochMilli
          batches.put((s, s + p.durationMs.get("triggerExecution").longValue))
        }
      }
    })
    var q: StreamingQuery = null
    /** End (epoch ms) of the first micro-batch that started at or after `t0`. */
    def awaitBatch(t0: Long): Long = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      var endMs = -1L
      while (endMs < 0) {
        val b = batches.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (b != null) { if (b._1 >= t0) endMs = b._2 }
        else if (!q.isActive || System.nanoTime() > deadline)
          throw new IllegalStateException("ingest stopped before its next micro-batch",
            q.exception.orNull)
      }
      endMs
    }
    var landed = 1 // waves 0 and 1 landed during set-up
    def land(trace: Boolean): Timed = {
      landed += 1
      attempted += 1
      Scenes.writeAll(staging, a.seed, w.sceneJobs(landed to landed), w.px, a.slots)
      val files = { val s = Files.list(staging)
        try s.iterator().asScala.toList.sortBy(_.toString) finally s.close() }
      // land mid-way between two trigger ticks so one micro-batch sees the wave
      val now = System.currentTimeMillis()
      Thread.sleep((now / triggerMs + 2) * triggerMs + triggerMs / 2 - now)
      val (t, _) = traced(trace) {
        val t0 = System.currentTimeMillis()
        files.foreach(f => Files.move(f, scenes.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
        val t1 = awaitBatch(t0)
        (t0, t1, ())
      }
      log(f"wave $landed: ${t.seconds}%.3f s${t.window.fold("")(describe)}")
      t
    }
    val jit0 = Trace.jitMillis()
    attempted += 1
    val t0 = System.currentTimeMillis()
    q = CubeStream.ingestTiles(spark, coll, Mask, scenes.toString, out.toString,
      Scenes.Start, end, trigger = Trigger.ProcessingTime(triggerMs),
      blockSize = w.block, publishCogs = true)
    val coldS = (awaitBatch(t0) - t0) / 1e3
    val coldJit = (Trace.jitMillis() - jit0) / 1e3
    log(f"cold wave: $coldS%.3f s")
    (0 until w.warmups).foreach(_ => land(false))
    var outMb = Double.NaN
    // the last period must stay open: a wave closes the one before it
    val timed = measure(2, maxOps = w.periods - 2 - landed) { tr =>
      val t = land(tr)
      if (landed == w.warmups + 3) outMb = outputMb(out)
      t
    }
    q.stop()
    val before = Oracle.catalogState(out)
    attempted += 1
    val t1 = System.nanoTime()
    val noop = scala.util.Try(build(out,
      horizon = Some(Scenes.periodDates(landed, w.datesPerPeriod).last)))
    val noopS = (System.nanoTime() - t1) / 1e9
    checkNoop(noop, before, out)
    Phase(coldS, coldJit, timed, noopS, outMb, out, 0 until landed)
  }
}

/** Shows the oracle is not vacuous: it passes on a built cube and fails on
  * three corrupted copies of it (a flipped COG pixel, a missing item, a
  * duplicate ledger row). Exit code 0 only if all four verdicts hold. */
object NegativeControl {
  import Main._

  def run(a: Args, w: Workload): Int = {
    val spark = session(a)
    val scenes = a.work.resolve("scenes")
    Scenes.writeAll(scenes, a.seed, w.sceneJobs(0 until w.periods), w.px, a.slots)
    val out = a.work.resolve("out")
    CubeRun.runTiles(spark, w.collection, Mask, scenes.toString, out.toString,
      Scenes.Start, Scenes.periodStart(w.periods).minusDays(1), blockSize = w.block,
      publishCogs = true, quicklookRange = QuicklookRange)
    val periods = 0 until w.periods
    def copy(name: String): Path = {
      val dst = a.work.resolve(name)
      val s = Files.walk(out)
      try s.iterator().asScala.foreach { p =>
        val d = dst.resolve(out.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
      } finally s.close()
      dst
    }
    def recommit(dir: Path, df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.parquet(dir.resolve("v900").toString)
      Files.write(dir.resolve("_current"), "v900".getBytes("UTF-8"))
    }
    def versionDf(dir: Path) =
      spark.read.parquet(dir.resolve(Oracle.currentVersion(dir).get).toString)

    val flipped = copy("flipped_pixel")
    val cog = Oracle.cogPath(flipped, w, 0, 0, "B04")
    val (cw, ch, px) = Oracle.readTiff(cog)
    val i = px.indexWhere(_ != Scenes.Nodata)
    px(i) += 1
    val (ox, oy) = Scenes.origin(0, w.px)
    Files.write(cog, TiffWriter.encode(px, cw, ch, w.block, 16, signed = true,
      ox, oy, Scenes.Res, Scenes.Nodata, deflate = true))

    val noItem = copy("missing_item")
    val items = versionDf(noItem.resolve("items"))
    recommit(noItem.resolve("items"), items.filter(
      !(items("tileId") === Scenes.tileId(0) && items("start_date") === Scenes.periodStart(0).toString)))

    val dupLedger = copy("duplicate_ledger_row")
    val ledger = versionDf(dupLedger.resolve("ledger"))
    recommit(dupLedger.resolve("ledger"), ledger.unionByName(ledger.limit(1)))

    val verdicts = Seq(("pristine", out, true), ("flipped_pixel", flipped, false),
      ("missing_item", noItem, false), ("duplicate_ledger_row", dupLedger, false)).map {
      case (name, dir, shouldPass) =>
        val r = Oracle.check(spark, w, a.seed, dir, periods)
        val as = r.ok == shouldPass
        println(s"[negative-control] $name: oracle ${if (r.ok) "passes" else "fails"}" +
          s" (${r.failures.size} of ${r.checks} checks failed" +
          r.failures.headOption.fold("")(f => s"; first: $f") + ")" +
          (if (as) "" else " -- UNEXPECTED"))
        as
    }
    spark.stop()
    if (verdicts.forall(identity)) 0 else 1
  }
}
