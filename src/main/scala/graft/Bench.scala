package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization through the noop
  * sink (a bare `count()` would let Catalyst prune aggregates), and prints
  * one JSON line with per-query wall times.
  *
  * One measurement method: an untimed warm-up sweep of the selected
  * queries, then [[TimedSweeps]] timed sweeps in alternating forward and
  * reverse order, each query reported as the median of its successful
  * timed sweeps. The warm-up takes JIT and session set-up off whichever
  * queries happen to run first, and the alternation gives every query
  * both an early and a late position, so a query's reading does not
  * depend on where it sits in the suite. Comparing two commits is a
  * paired run of this main in both checkouts (`tools/ab_bench.py`), not
  * a comparison against a stored reading.
  */
object Bench {
  /** Timed sweeps per run: the smallest count with a median that one
    * contended sweep cannot move. */
  private[graft] val TimedSweeps = 3

  /** Fixed, Spark-free CPU calibration probe: md5 over a 64-byte buffer,
    * a constant iteration count, one thread. Its wall time moves only
    * with the box (clock, steal, thermal state), never with this repo's
    * code, so `calib_secs` says how fast the window was.
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
    * while the single-thread probe stays quiet, so reading both
    * separates "box is busy" (mc up, st flat) from "box is slow" (both
    * up).
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

  /** A JSON number with `decimals` places, independent of the default
    * locale (a `de_DE` default would print a decimal comma).
    */
  private[graft] def num(v: Double, decimals: Int = 3): String =
    s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)

  /** The order of timed sweep `sweep` (0-based): forward on even sweeps,
    * reverse on odd ones.
    */
  private[graft] def sweepOrder[A](queries: Seq[A], sweep: Int): Seq[A] =
    if (sweep % 2 == 0) queries else queries.reverse

  /** One query's reported time from its timed sweeps, each
    * (seconds, succeeded): the median of the successful sweeps. A failed
    * sweep's time-to-exception is not a measurement; only when every
    * sweep failed does the median of those times stand in, which keeps
    * the JSON numeric. Even counts take the mean of the middle two.
    */
  private[graft] def sweepMedian(runs: Seq[(Double, Boolean)]): Double = {
    val good = runs.filter(_._2)
    val ts = (if (good.nonEmpty) good else runs).map(_._1).sorted
    if (ts.size % 2 == 1) ts(ts.size / 2)
    else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2
  }

  /** Tail-survivable per-query records: the caller that collects this
    * program's output keeps only the LAST ~2000 characters of stdout,
    * which beheads the multi-KB `"metric":"total"` line. Pack the
    * per-query map into small SELF-CONTAINED JSON lines (each
    * independently parseable, each well under the capture window),
    * ordered fastest-first so the chunks that survive at the tail carry
    * the SLOWEST — most diagnostic — queries. `maxChunkBytes` bounds the
    * whole line: the envelope (which embeds `sfJson`, a path of any
    * length) comes out of the entry budget. An envelope that leaves no
    * room still carries one entry per line.
    */
  private[graft] def queryChunkLines(times: Seq[(String, Double)],
                                     sfJson: String,
                                     maxChunkBytes: Int = 700): Seq[String] = {
    def line(part: Int, parts: Int, es: Seq[String]): String =
      s"""{"metric":"queries_part","part":$part,"parts":$parts,"unit":"sec","sf":"$sfJson","queries":${es.mkString("{", ",", "}")}}"""
    val entries = times.sortBy { case (k, v) => (v, k) }
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
    // part and parts never exceed the entry count, so this envelope is
    // the widest any line gets
    val widest = entries.size.max(1)
    val budget = maxChunkBytes - line(widest, widest, Nil).length
    val packed = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    var cur = Vector.empty[String]
    var curLen = 0
    for (e <- entries) {
      // joined entries add one comma each after the first
      val grown = curLen + e.length + (if (cur.isEmpty) 0 else 1)
      if (cur.nonEmpty && grown > budget) {
        packed += cur; cur = Vector(e); curLen = e.length
      } else { cur :+= e; curLen = grown }
    }
    if (cur.nonEmpty) packed += cur
    val n = packed.size
    packed.zipWithIndex.map { case (es, i) => line(i + 1, n, es) }.toSeq
  }

  /** The summary line repeated as the very last output line, marked so a
    * reader of the whole stream can tell it from the first copy, which
    * stays byte-identical for parsers that key on it.
    */
  private[graft] def finalCompactLine(compactLine: String): String =
    compactLine.stripSuffix("}") + ",\"final\":true}"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // probe thread count parsed defensively: SPARK_GRAFT_CPUS is also a
    // valid Spark master spec (e.g. "*"), which must not abort the bench
    val cpuN = cpus.trim.toIntOption.filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)
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
    val localDir = spark.conf.getOption("spark.local.dir")
    val scratchDir = jq(localDir.getOrElse("<jvm-default>"))

    // Dev aid: SPARK_GRAFT_BENCH_ONLY="q1,q2" restricts the sweeps to the
    // named queries. Unset = full suite (the official run).
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

    def runOnce(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                label: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed ($label): ${e.getMessage}")
            false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }

    // The probes bracket the whole measurement, never sit between sweeps:
    // a timed query that ran right after a probe would pay for its cache
    // and JIT disturbance.
    val calibBefore = calibrate()
    val calibMcBefore = calibrateMC(cpuN)
    ordered.foreach { case (name, fn) => runOnce(name, fn, "warm-up") }
    // sweeps(i)(name) = (seconds, succeeded) of timed sweep i
    val sweeps = (0 until TimedSweeps).map { s =>
      sweepOrder(ordered, s).map { case (name, fn) =>
        name -> runOnce(name, fn, s"sweep ${s + 1}")
      }.toMap
    }
    val calibAfter = calibrate()
    val calibMcAfter = calibrateMC(cpuN)

    val results = ordered.map { case (name, _) =>
      name -> sweepMedian(sweeps.map(_(name)))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // min over the two probes: a steal burst landing on one of them
    // shouldn't inflate the window's reading
    val calib = math.min(calibBefore, calibAfter)
    val calibMc = math.min(calibMcBefore, calibMcAfter)
    // ~1.0 = the box ran N-way load unimpeded; >1.3 = co-tenant steal
    // was present
    val stealRatio = if (calib > 0) calibMc / calib else 1.0
    val fullJson =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"sf":"${jq(sfDir)}","passes":$TimedSweeps,"method":"median-of-$TimedSweeps-after-warmup","calib_secs":${num(calib)},"calib_mc_secs":${num(calibMc)},"mc_over_st":${num(stealRatio, 2)},"scratch_dir":"$scratchDir"}"""
    println(fullJson)
    // Forensic copy, never read back: the full map plus each query's
    // per-sweep times (in sweep order), the sweeps that failed and both
    // probe readings (index 0 = before the warm-up, 1 = after the last
    // sweep), since stdout capture keeps only a tail.
    val passTimes = results.map { case (name, _) =>
      "\"" + name + "\":" + sweeps.map(s => num(s(name)._1)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val passFails = results.flatMap { case (name, _) =>
      val oks = sweeps.map(_(name)._2)
      if (oks.forall(identity)) None
      else Some("\"" + name + "\":" + oks.mkString("[", ",", "]"))
    }.mkString("{", ",", "}")
    val detailJson = fullJson.dropRight(1) +
      s""","pass_times":$passTimes,"pass_fails":$passFails,"calib_passes":[${num(calibBefore)},${num(calibAfter)}],"calib_mc_passes":[${num(calibMcBefore)},${num(calibMcAfter)}]}"""
    val detailOut = new java.io.File(
      localDir.map(_.split(",").head.trim)
        .getOrElse(System.getProperty("java.io.tmpdir")),
      "bench_detail.json").getPath
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailOut),
        (detailJson + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] per-query detail written to $detailOut")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    // Second, SHORT summary line printed AFTER the full one: the capture
    // window keeps only the stdout tail, which truncates the leading
    // "value" field off the (multi-KB) line above. This line is small
    // enough to always survive whole.
    val worst5 = results.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // Box-noise gauge: median of each query's (max/min) across its
    // successful timed sweeps. ~1.0 = quiet box; >1.3 = heavy
    // co-tenant/steal noise.
    val spreads = results.flatMap { case (name, _) =>
      val ts = sweeps.map(_(name)).filter(_._2).map(_._1)
      if (ts.size >= 2 && ts.min > 0) Some(ts.max / ts.min) else None
    }.sorted
    val noise =
      if (spreads.isEmpty) 1.0 else spreads(spreads.size / 2)
    val compactLine =
      s"""{"metric":"total_compact","value":${num(total)},"unit":"sec","n_queries":${results.size},"sweep_noise_median":${num(noise, 2)},"calib_secs":${num(calib)},"calib_mc_secs":${num(calibMc)},"mc_over_st":${num(stealRatio, 2)},"scratch_dir":"$scratchDir","worst5":$worst5}"""
    println(compactLine)
    // Per-query records in tail-survivable form (see [[queryChunkLines]]),
    // then the compact summary once more as the very last line (see
    // [[finalCompactLine]]): whatever chunk prefix the capture drops, its
    // suffix ends with the slowest queries plus the headline total.
    queryChunkLines(results, jq(sfDir)).foreach(println)
    println(finalCompactLine(compactLine))
    spark.stop()
  }
}
