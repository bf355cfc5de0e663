package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization through the noop
  * sink (a bare `count()` would let Catalyst prune aggregates), and prints
  * one JSON line with per-query wall times.
  *
  * Each query is timed over `SPARK_GRAFT_BENCH_PASSES` (default 2) full
  * sweeps of the suite and the per-query MINIMUM is reported. On a shared
  * box a single pass is hostage to CPU contention from co-tenants — a
  * 1-second query can read 30x its clean time if a noisy-neighbor burst
  * lands on it. The passes are separated in time (whole-suite sweeps, not
  * back-to-back repeats), so a burst that poisons a query in one sweep
  * rarely poisons the same query in the other; min-of-sweeps converges on
  * the code's actual cost.
  */
object Bench {
  /** Fixed, Spark-free CPU calibration probe: md5 over a 64-byte buffer,
    * a constant iteration count, one thread. Its wall time moves ONLY
    * with the box (clock, steal, thermal state) — never with this repo's
    * code — so `calib_secs` in the output normalizes cross-round query
    * deltas mechanically: query_r15/query_r14 vs calib_r15/calib_r14
    * separates code changes from host drift without solo-bench forensics.
    * ~1 s on an unloaded core of this class of box.
    */
  private def md5Loop(): Unit = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var buf = new Array[Byte](64)
    var i = 0
    while (i < 3000000) { md.update(buf); buf = md.digest(); i += 1 }
    // fold the digest into a side effect the JIT can't elide
    if (buf(0) == 127 && buf(1) == -127) System.err.println("[calib]")
  }

  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    md5Loop()
    (System.nanoTime() - t0) / 1e9
  }

  /** Multi-core twin of [[calibrate]]: the same fixed loop on N threads
    * at once, wall time of the slowest. On an unloaded >=N-core box it
    * reads ~the single-thread time; under co-tenant steal it inflates
    * while the single-thread probe stays quiet — exactly the r15 blind
    * spot (calib 0.345 while 32-way queries drifted 1.7-2.4x). Reading
    * BOTH probes separates "box is busy" (mc up, st flat) from "box is
    * slow" (both up) from "code regressed" (neither up).
    */
  private def calibrateMC(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => md5Loop())
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Previous round's committed reference: per-query minimums plus the
    * calibration probes that accompanied them. */
  private final case class Prior(times: Map[String, Double],
                                 calib: Option[Double],
                                 calibMc: Option[Double])

  /** Previous round's per-query minimums (and calib probes), read from
    * the durable detail file BEFORE this run overwrites it. The times
    * fuel the targeted re-pass: a query reading far above its
    * prior-round time on identical code is contention-suspect and earns
    * an extra measurement. The calib fields fuel the self-attribution
    * ratios in the output line. Absent/corrupt file → empty → no
    * targeted passes, null ratios (first round, fresh clone).
    */
  private def priorTimes(path: String, sfDir: String): Prior =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      // a detail file from a DIFFERENT scale factor (a dev run at
      // sf0.001 overwrote it) would flag the whole sf0.1 suite as
      // inflated and burn the budget on a pointless third sweep
      val sfOk = Option(root.get("sf")).exists(_.asText() == sfDir)
      val qs = root.get("queries")
      if (qs == null || !sfOk) Prior(Map.empty, None, None)
      else {
        val b = Map.newBuilder[String, Double]
        val it = qs.fieldNames()
        while (it.hasNext) {
          val k = it.next(); b += k -> qs.get(k).asDouble()
        }
        def num(field: String): Option[Double] =
          Option(root.get(field)).map(_.asDouble()).filter(_ > 0)
        Prior(b.result(), num("calib_secs"), num("calib_mc_secs"))
      }
    } catch {
      case scala.util.control.NonFatal(_) => Prior(Map.empty, None, None)
    }

  /** Where the ATTRIBUTION prior (calib fields + per-query floor) comes
    * from: always the committed official detail file. A subset
    * (BENCH_ONLY) run reads/writes `bench_detail_subset.json` for its
    * re-pass prior — solo-to-solo comparable, and the official file
    * must survive dev loops — but that file's calib is whatever window
    * the LAST dev probe ran on, so a calib_ratio against it reads
    * ~1.0 on a stolen box that was equally stolen ten minutes ago
    * (observed r19: a 0.500-calib probe run made the next run's 0.406
    * window read 0.812 "faster than reference"). The reference the
    * ratios are FOR is the committed quiet window; point at it
    * unconditionally. */
  private[graft] def attributionPriorPath(
      detailPath: String,
      env: Map[String, String] = sys.env): String =
    // a deliberately-redirected OFFICIAL run (SPARK_GRAFT_BENCH_DETAIL
    // pointing at a bench_detail.json copy) keeps its own reference;
    // anything else (subset files, ad-hoc dev paths) attributes against
    // the committed file — SPARK_GRAFT_ATTR_PRIOR overrides for a
    // process whose cwd is not the repo root (the cwd-relative default
    // only resolves under sbt, which forks from the checkout root)
    if (new java.io.File(detailPath).getName == "bench_detail.json") detailPath
    else env.getOrElse("SPARK_GRAFT_ATTR_PRIOR", "bench_detail.json")

  /** A JSON number with `decimals` places, independent of the default
    * locale (a `de_DE` default would print a decimal comma).
    */
  private[graft] def num(v: Double, decimals: Int = 3): String =
    s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)

  /** (prior, write) paths of the per-query detail file. The re-pass
    * prior reads the committed `bench_detail.json`
    * (`bench_detail_subset.json` for a BENCH_ONLY subset run) and the
    * fresh detail is written under `scratchDir`, so a default run never
    * rewrites a tracked file. `SPARK_GRAFT_BENCH_DETAIL` names one path
    * for both — set it to the committed file to update the prior.
    */
  private[graft] def detailPaths(subset: Boolean, scratchDir: String,
      env: Map[String, String] = sys.env): (String, String) = {
    val committed =
      if (subset) "bench_detail_subset.json" else "bench_detail.json"
    env.get("SPARK_GRAFT_BENCH_DETAIL") match {
      case Some(p) => (p, p)
      case None => (committed, new java.io.File(scratchDir, committed).getPath)
    }
  }

  /** Tail-survivable per-query records (the r19 verdict's item #2): the
    * caller that collects this program's output keeps only the LAST ~2000
    * characters of stdout, which beheads the multi-KB `"metric":"total"`
    * line — per-query times never survived the capture (three rounds of
    * `parsed: null`). Pack the per-query map into small SELF-CONTAINED
    * JSON lines (each independently parseable, each well under the
    * capture window), ordered fastest-first so the chunks that survive at
    * the tail carry the SLOWEST — most diagnostic — queries. Pure
    * function so the spec can pin the packing (every entry appears
    * exactly once, every line fits the bound, ordering is by time).
    */
  private[graft] def queryChunkLines(times: Seq[(String, Double)],
                                     sfJson: String,
                                     maxChunkBytes: Int = 700): Seq[String] = {
    val entries = times.sortBy { case (k, v) => (v, k) }
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
    val packed = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    var cur = Vector.empty[String]
    var curLen = 0
    for (e <- entries) {
      if (cur.nonEmpty && curLen + e.length + 1 > maxChunkBytes) {
        packed += cur; cur = Vector.empty; curLen = 0
      }
      cur :+= e; curLen += e.length + 1
    }
    if (cur.nonEmpty) packed += cur
    val n = packed.size
    packed.zipWithIndex.map { case (es, i) =>
      s"""{"metric":"queries_part","part":${i + 1},"parts":$n,"unit":"sec","sf":"$sfJson","queries":${es.mkString("{", ",", "}")}}"""
    }.toSeq
  }

  /** The attribution arithmetic behind the JSON fields, separated so the
    * spec can pin it. `sharedPairs` is (priorSecs, currentSecs) per query
    * both rounds measured; ratios are current-over-prior. code_ratio
    * normalizes the total by the MULTI-core calib ratio when the prior
    * carries one (the suite runs N-way, so co-tenant steal shows in the
    * mc probe), falling back to single-thread; None whenever the prior is
    * absent — a null in the JSON, never a fabricated 1.0.
    */
  private[graft] def attributionRatios(
      sharedPairs: Seq[(Double, Double)],
      calib: Double, calibMc: Double,
      priorCalib: Option[Double], priorCalibMc: Option[Double])
      : (Option[Double], Option[Double], Option[Double]) = {
    val priorTotal = sharedPairs.map(_._1).sum
    val calibRatio = priorCalib.filter(_ => calib > 0).map(calib / _)
    val calibMcRatio = priorCalibMc.filter(_ => calibMc > 0).map(calibMc / _)
    val codeRatio =
      if (priorTotal <= 0) None
      else calibMcRatio.orElse(calibRatio).map(norm =>
        (sharedPairs.map(_._2).sum / priorTotal) / math.max(norm, 1e-9))
    (calibRatio, calibMcRatio, codeRatio)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // probe thread count parsed defensively: SPARK_GRAFT_CPUS is also a
    // valid Spark master spec (e.g. "*"), which must not abort the bench
    val cpuN = cpus.trim.toIntOption.filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    // Sweeps the re-sweep budget can NEVER truncate (default: all of the
    // configured passes). The r16 lesson: a contended pass-1 exhausted
    // the budget and left 276/324 queries with a single inflated pass —
    // exactly the runs where the second pass matters most. min-of-sweeps
    // is only a contention filter if every query actually gets >=2
    // sweeps, so the first `minPasses` sweeps run to completion
    // unconditionally; the budget gates only passes BEYOND them (and the
    // targeted re-pass below).
    val minPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_MIN_PASSES", "2")
      .toInt.max(1).min(passes)
    val spark = graft.core.Scratch.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.install(spark)
    // What the session is ACTUALLY spilling to — read back off the conf,
    // not recomputed, so a silent Scratch regression shows in the JSON.
    // Escaped: the dir comes from an env override and a quote or
    // backslash in it would corrupt both JSON lines.
    def jq(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val scratchDir = jq(spark.conf.getOption("spark.local.dir")
      .getOrElse("<jvm-default>"))
    // Probe vectors: one reading before the warmup, one after every
    // sweep, so each pass's times have a NEARBY host-state reading —
    // a 17 s min-of-2 outlier decomposes into "which pass, and was the
    // box busy then" from the JSON alone, no rerun.
    val calibRuns = scala.collection.mutable.ArrayBuffer(calibrate())
    val calibMcRuns = scala.collection.mutable.ArrayBuffer(calibrateMC(cpuN))

    // untimed warmup: JIT + session init must not bill the first query
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()

    // Re-sweep budget: passes beyond `minPasses` (and the targeted
    // re-pass) stop once the harness has run this long (seconds). Guards
    // the caller's own timeout — but it no longer truncates the
    // guaranteed sweeps: a fully-contended double sweep costs ~2x a
    // contended single sweep, well inside the driver's observed window,
    // and a min-of-2 under contention beats a min-of-1 every time
    // (r16: 86 queries kept a 1.5-50x inflated single pass).
    val budgetSecs = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SECS", "1800").toLong
    val started = System.nanoTime()
    def elapsedSecs: Long = (System.nanoTime() - started) / 1000000000L

    // Dev aid: SPARK_GRAFT_BENCH_ONLY="q1,q2" restricts the sweep to the
    // named queries — for solo re-measurement of a flagged outlier without
    // the 100+-query suite around it. Unset = full suite (the official run).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .map { names =>
        // same typo-hardening as Verify's subset list: unknown names
        // warn instead of silently shrinking the sweep to nothing
        val unknown = names.diff(SparkEntry.queries.keySet)
        if (unknown.nonEmpty)
          System.err.println("[bench] WARNING: unknown query names in " +
            s"SPARK_GRAFT_BENCH_ONLY ignored: ${unknown.toSeq.sorted.mkString(",")}")
        names.intersect(SparkEntry.queries.keySet)
      }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Later sweeps run in DESCENDING order of the best time observed so
    // far: the queries carrying the worst (most contention-suspect)
    // numbers get their re-measurement first, so a budget-truncated sweep
    // still rescues exactly the outliers min-of-sweeps exists for. (The
    // old reverse-alphabetical order did the opposite under budget
    // pressure — the cold-JVM first-run queries were re-swept last and
    // could keep a 30x-inflated pass-1 time as their only measurement.)
    var sweeps = Vector.empty[Map[String, (Double, Boolean)]]
    (1 to passes).foreach { pass =>
      def bestSoFar(name: String): Double =
        sweeps.flatMap(_.get(name)).map(_._1).minOption.getOrElse(Double.MaxValue)
      val order =
        if (pass == 1) ordered else ordered.sortBy { case (n, _) => -bestSoFar(n) }
      val sweep = order.flatMap { case (name, fn) =>
        if (pass > minPasses && elapsedSecs > budgetSecs) {
          System.err.println(s"[bench] budget exhausted; skipping $name (pass $pass)")
          None
        } else {
          val t0 = System.nanoTime()
          val ok =
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
            } catch {
              case e: Throwable =>
                System.err.println(s"[bench] $name failed (pass $pass): ${e.getMessage}")
                false
            }
          Some(name -> ((System.nanoTime() - t0) / 1e9, ok))
        }
      }.toMap
      sweeps = sweeps :+ sweep
      calibRuns += calibrate()
      calibMcRuns += calibrateMC(cpuN)
    }
    // The committed detail files are load-bearing input (the re-pass
    // reads them as the prior-round reference): only an explicit
    // SPARK_GRAFT_BENCH_DETAIL rewrites one (see detailPaths)
    val (detailPath, detailOut) = detailPaths(only.isDefined,
      spark.conf.getOption("spark.local.dir").map(_.split(",").head.trim)
        .getOrElse(System.getProperty("java.io.tmpdir")))
    // Targeted re-pass: a query whose best-so-far reads far above its
    // PRIOR-ROUND minimum (from the committed detail file) is
    // contention-suspect — on identical code
    // the true per-round delta is never 2x on a quiet box. Each suspect
    // gets ONE more measurement, worst-relative-inflation first, budget-
    // gated: the r16 sweep would have re-run the 86 queries it left
    // 1.5-50x inflated instead of stopping at the 48 the fixed order
    // reached. The +0.5s floor keeps sub-second queries from earning a
    // re-pass on absolute noise.
    val priorRef = priorTimes(detailPath, sfDir)
    val prior = priorRef.times
    // Attribution reference: the committed official file, even when the
    // re-pass prior above is a subset/dev file (see attributionPriorPath)
    val attrPath = attributionPriorPath(detailPath)
    val attrRef = if (attrPath == detailPath) priorRef
                  else priorTimes(attrPath, sfDir)
    // a silently-missing reference is the failure mode the attribution
    // fields were built to close — say where it was looked for
    if (attrRef.times.isEmpty)
      System.err.println("[bench] no same-SF attribution prior at " +
        new java.io.File(attrPath).getAbsolutePath +
        "; calib_ratio/calib_mc_ratio/code_ratio will be null")
    var extraPasses = 0
    if (prior.nonEmpty) {
      def best(name: String): Option[Double] =
        sweeps.flatMap(_.get(name)).filter(_._2).map(_._1).minOption
      val suspects = ordered.flatMap { case (name, fn) =>
        (best(name), prior.get(name)) match {
          case (Some(b), Some(p)) if p > 0 && b > math.max(2 * p, p + 0.5) =>
            Some((name, fn, b / p))
          case _ => None
        }
      }.sortBy(-_._3)
      if (suspects.nonEmpty) {
        val sweep = suspects.flatMap { case (name, fn, infl) =>
          if (elapsedSecs > budgetSecs) {
            System.err.println(s"[bench] budget exhausted; no re-pass for $name")
            None
          } else {
            System.err.println(f"[bench] targeted re-pass: $name (${infl}%.1fx prior)")
            extraPasses += 1
            val t0 = System.nanoTime()
            val ok =
              try {
                fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
              } catch { case e: Throwable =>
                System.err.println(s"[bench] $name failed (re-pass): ${e.getMessage}")
                false
              }
            Some(name -> ((System.nanoTime() - t0) / 1e9, ok))
          }
        }.toMap
        if (sweep.nonEmpty) {
          sweeps = sweeps :+ sweep
          calibRuns += calibrate()
          calibMcRuns += calibrateMC(cpuN)
        }
      }
    }
    // a failed pass's time-to-exception is not a measurement: min over
    // the successful passes; only if every pass failed does the elapsed
    // time (still finite, keeps the JSON numeric) stand in
    val results = ordered.map { case (name, _) =>
      val runs = sweeps.flatMap(_.get(name)) // later sweeps may be partial
      val good = runs.filter(_._2)
      name -> ((if (good.nonEmpty) good else runs).map(_._1).min, runs.size)
    }
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val passCounts = results.map { case (k, (_, n)) => "\"" + k + s"""":$n""" }
      .mkString("{", ",", "}")
    val truncated = results.collect { case (k, (_, n)) if n < passes => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2._1).sum
    // min over the probe vector: a steal burst landing on one probe run
    // shouldn't inflate the round's whole normalization factor
    val calib = calibRuns.min
    val calibMc = calibMcRuns.min
    // contended-sweep attribution the gate can consume directly: the
    // multi-core probe over the single-thread probe. ~1.0 = the box ran
    // this suite's 32-way load unimpeded; >1.3 = co-tenant steal was
    // present for the sweep and cross-round totals need mc-normalization
    // (tools/diff_bench.py prints it) before any code-regression call.
    val stealRatio = if (calib > 0) calibMc / calib else 1.0
    // Self-attribution vs the committed prior (so a hot window carries
    // its own evidence in the one line the capture keeps, instead of
    // needing hand arithmetic over the detail file):
    //  - calib_ratio:    this window's single-thread probe over the
    //    prior's — "how much slower is one core of this box than the
    //    box that set the reference". ~1.0 = comparable window.
    //  - calib_mc_ratio: same for the multi-core probe — the suite runs
    //    N-way, so co-tenant steal shows here first (r15 blind spot).
    //  - code_ratio:     this sweep's total over the prior's total
    //    (restricted to queries both measured), normalized by the
    //    multi-core calib ratio (falling back to single-thread if the
    //    prior predates the mc probe). ~1.0 = the CODE is flat vs the
    //    committed reference regardless of the window; this is the
    //    number that arbitrates "regression or stolen box".
    // All three are null when no committed prior exists for this SF.
    val sharedPairs = results.collect {
      case (n, (v, _)) if attrRef.times.contains(n) => (attrRef.times(n), v)
    }
    val (calibRatio, calibMcRatio, codeRatio) = attributionRatios(
      sharedPairs, calib, calibMc, attrRef.calib, attrRef.calibMc)
    def jnum(o: Option[Double]): String = o.map(num(_)).getOrElse("null")
    val attribution = s""""calib_ratio":${jnum(calibRatio)},""" +
      s""""calib_mc_ratio":${jnum(calibMcRatio)},""" +
      s""""code_ratio":${jnum(codeRatio)}"""
    // the gate's ">=2 passes for every query" guarantee, in-band: the
    // MINIMUM count of SUCCESSFUL passes across the suite (2 = every
    // reported minimum really is a min-of-2+ measurements; a query that
    // failed a pass must not count it toward the guarantee). minOption:
    // an all-unknown BENCH_ONLY list yields an empty suite, which should
    // still print its (empty) JSON rather than crash on empty.min.
    val minPassesRun = ordered.map { case (name, _) =>
      sweeps.flatMap(_.get(name)).count(_._2)
    }.minOption.getOrElse(0)
    val fullJson =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"sf":"${jq(sfDir)}","passes":$passes,"method":"min-of-$passes-sweeps","calib_secs":${num(calib)},"calib_mc_secs":${num(calibMc)},"mc_over_st":${num(stealRatio, 2)},$attribution,"scratch_dir":"$scratchDir","min_passes":$minPassesRun,"extra_passes":$extraPasses,"passes_run":$passCounts,"budget_skipped":$truncated}"""
    println(fullJson)
    // Durable copy: a capture that keeps only a 2000-char stdout tail
    // loses per-query times beyond worst5, so the full map also goes to
    // the detail file (scratch by default, see detailPaths) and
    // round-over-round forensics never need a solo re-bench.
    // Detail-only extras: the full per-pass time vector per query (in
    // pass order — only the min survives into `queries`), which passes
    // failed (usually none), and the calibration-probe vectors bracketing
    // the sweeps (index 0 = before warmup, index i = after sweep i).
    val passTimes = ordered.map { case (name, _) =>
      "\"" + name + "\":" + sweeps.flatMap(_.get(name))
        .map(r => num(r._1)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val passFails = ordered.flatMap { case (name, _) =>
      val runs = sweeps.flatMap(_.get(name))
      if (runs.forall(_._2)) None
      else Some("\"" + name + "\":" +
        runs.map(r => if (r._2) "true" else "false").mkString("[", ",", "]"))
    }.mkString("{", ",", "}")
    val calibVec = calibRuns.map(num(_)).mkString("[", ",", "]")
    val calibMcVec = calibMcRuns.map(num(_)).mkString("[", ",", "]")
    val detailJson = fullJson.dropRight(1) +
      s""","pass_times":$passTimes,"pass_fails":$passFails,"calib_passes":$calibVec,"calib_mc_passes":$calibMcVec}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailOut),
        (detailJson + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] per-query detail written to $detailOut")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    // Second, SHORT summary line printed AFTER the full one: the capture
    // window that collects this output keeps only the stdout tail, which
    // truncates the leading "value" field off the (multi-KB) line above
    // once the query map grows. This line is small enough to always
    // survive whole, so the headline total and the worst offenders are
    // never lost to the capture window.
    val worst5 = results.sortBy(-_._2._1).take(5)
      .map { case (k, (v, _)) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // Box-noise gauge: median of each query's (max/min) across the
    // sweeps that ran it more than once. ~1.0 = quiet box, the reported
    // minimums are trustworthy; >1.3 = heavy co-tenant/steal noise —
    // read cross-round deltas against this before calling a regression.
    val spreads = ordered.flatMap { case (name, _) =>
      val ts = sweeps.flatMap(_.get(name)).filter(_._2).map(_._1)
      if (ts.size >= 2 && ts.min > 0) Some(ts.max / ts.min) else None
    }.sorted
    val noise =
      if (spreads.isEmpty) 1.0 else spreads(spreads.size / 2)
    val compactLine =
      s"""{"metric":"total_compact","value":${num(total)},"unit":"sec","n_queries":${results.size},"sweep_noise_median":${num(noise, 2)},"calib_secs":${num(calib)},"calib_mc_secs":${num(calibMc)},"mc_over_st":${num(stealRatio, 2)},$attribution,"min_passes":$minPassesRun,"extra_passes":$extraPasses,"scratch_dir":"$scratchDir","worst5":$worst5}"""
    println(compactLine)
    // Per-query records in tail-survivable form (see [[queryChunkLines]]),
    // then the compact summary ONCE MORE as the very last line: the
    // capture keeps a fixed-size suffix, so whatever chunk prefix it
    // drops, the suffix always ends with complete per-query records for
    // the slowest queries plus the headline total. Additions only — the
    // two lines above are unchanged from previous rounds.
    queryChunkLines(results.map { case (k, (v, _)) => (k, v) }, jq(sfDir))
      .foreach(println)
    println(compactLine)
    spark.stop()
  }
}
