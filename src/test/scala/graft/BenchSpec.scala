package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's self-attribution arithmetic (r19): the JSON line must
  * let the gate separate "code regressed" from "box was stolen" without
  * hand arithmetic over the detail file. Pure function, no Spark.
  */
class BenchSpec extends AnyFunSuite {

  private def ratios(pairs: Seq[(Double, Double)], calib: Double,
                     calibMc: Double, pCalib: Option[Double],
                     pMc: Option[Double]) =
    Bench.attributionRatios(pairs, calib, calibMc, pCalib, pMc)

  test("a hot window reads as calib inflation with a flat code_ratio") {
    // box 1.4x slower on both probes, every query 1.4x its prior: the
    // code is flat and the fields say so
    val pairs = Seq((1.0, 1.4), (2.0, 2.8), (0.5, 0.7))
    val (st, mc, code) = ratios(pairs, calib = 0.35, calibMc = 0.56,
      pCalib = Some(0.25), pMc = Some(0.40))
    assert(st.exists(r => math.abs(r - 1.4) < 1e-9))
    assert(mc.exists(r => math.abs(r - 1.4) < 1e-9))
    assert(code.exists(r => math.abs(r - 1.0) < 1e-9))
  }

  test("a genuine regression survives calib normalization") {
    // quiet box (probes flat), queries 2x: code_ratio reads the 2x
    val pairs = Seq((1.0, 2.0), (3.0, 6.0))
    val (_, _, code) = ratios(pairs, 0.25, 0.40, Some(0.25), Some(0.40))
    assert(code.exists(r => math.abs(r - 2.0) < 1e-9))
  }

  test("normalization prefers the multi-core probe, falls back to " +
       "single-thread when the prior predates it") {
    val pairs = Seq((10.0, 10.0))
    // mc probe says 2x steal, st probe flat: the N-way suite tracks mc
    val (_, _, viaMc) = ratios(pairs, 0.25, 0.80, Some(0.25), Some(0.40))
    assert(viaMc.exists(r => math.abs(r - 0.5) < 1e-9))
    // no prior mc: fall back to st
    val (_, mcNone, viaSt) = ratios(pairs, 0.50, 0.80, Some(0.25), None)
    assert(mcNone.isEmpty)
    assert(viaSt.exists(r => math.abs(r - 0.5) < 1e-9))
  }

  test("attribution prior always resolves to the committed official " +
       "file; only an official-named redirect keeps its own path") {
    // subset + ad-hoc dev paths attribute against the committed file:
    // their own calib is whatever window the last dev probe ran on
    assert(Bench.attributionPriorPath("bench_detail_subset.json")
      == "bench_detail.json")
    assert(Bench.attributionPriorPath("/tmp/solo_e2e_detail.json")
      == "bench_detail.json")
    // the official file (including a deliberate redirect to a copy of
    // it) is its own reference
    assert(Bench.attributionPriorPath("bench_detail.json")
      == "bench_detail.json")
    assert(Bench.attributionPriorPath("/tmp/copy/bench_detail.json")
      == "/tmp/copy/bench_detail.json")
    // a process whose cwd is not the repo root names the committed file
    // explicitly (the cwd-relative default only resolves under sbt)
    assert(Bench.attributionPriorPath("/tmp/solo_e2e_detail.json",
      Map("SPARK_GRAFT_ATTR_PRIOR" -> "/repo/bench_detail.json"))
      == "/repo/bench_detail.json")
    // ... but the override never hijacks an official-named redirect
    assert(Bench.attributionPriorPath("/tmp/copy/bench_detail.json",
      Map("SPARK_GRAFT_ATTR_PRIOR" -> "/repo/bench_detail.json"))
      == "/tmp/copy/bench_detail.json")
  }

  test("queries_part chunks: every entry once, every line bounded, " +
       "slowest queries in the LAST chunk") {
    val times = (1 to 300).map(i => (f"q$i%03d_some_query_name", i / 100.0))
    val lines = Bench.queryChunkLines(times, "/data/sf0.1")
    // each line is bounded well under the 2000-char capture window
    // (payload bound + fixed envelope), and self-contained JSON
    assert(lines.forall(_.length < 900))
    assert(lines.forall(l => l.startsWith("{\"metric\":\"queries_part\"")
      && l.endsWith("}")))
    // every query appears exactly once across the chunks
    val all = lines.flatMap(l =>
      "\"(q\\d+_some_query_name)\":".r.findAllMatchIn(l).map(_.group(1)))
    assert(all.sorted == times.map(_._1).sorted)
    // ascending-time packing: the final chunk holds the slowest query,
    // so a capture that keeps only the suffix keeps the worst offenders
    assert(lines.last.contains("\"q300_some_query_name\":3.000"))
    assert(lines.head.contains("\"q001_some_query_name\":0.010"))
    // part/parts envelope is consistent
    assert(lines.head.contains(s""""part":1,"parts":${lines.size}"""))
    assert(lines.last.contains(s""""part":${lines.size},"parts":${lines.size}"""))
  }

  test("queries_part chunks are byte-identical and valid JSON under a " +
       "decimal-comma default locale") {
    val times = Seq(("q_fast", 0.0125), ("q_slow", 1234.5))
    val prev = java.util.Locale.getDefault
    val root =
      try {
        java.util.Locale.setDefault(java.util.Locale.ROOT)
        Bench.queryChunkLines(times, "/data/sf0.1")
      } finally java.util.Locale.setDefault(prev)
    val german =
      try {
        java.util.Locale.setDefault(java.util.Locale.GERMANY)
        Bench.queryChunkLines(times, "/data/sf0.1")
      } finally java.util.Locale.setDefault(prev)
    assert(german == root)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = german.map(mapper.readTree)
    assert(parsed.map(_.get("queries").get("q_slow"))
      .exists(n => n != null && n.isNumber && n.asDouble() == 1234.5))
  }

  test("a default run writes its detail to scratch and reads the " +
       "committed prior; SPARK_GRAFT_BENCH_DETAIL names one path for both") {
    assert(Bench.detailPaths(subset = false, "/scratch", Map.empty) ==
      ("bench_detail.json", "/scratch/bench_detail.json"))
    assert(Bench.detailPaths(subset = true, "/scratch", Map.empty) ==
      ("bench_detail_subset.json", "/scratch/bench_detail_subset.json"))
    val env = Map("SPARK_GRAFT_BENCH_DETAIL" -> "bench_detail.json")
    assert(Bench.detailPaths(subset = false, "/scratch", env) ==
      ("bench_detail.json", "bench_detail.json"))
    assert(Bench.detailPaths(subset = true, "/scratch", env) ==
      ("bench_detail.json", "bench_detail.json"))
  }

  test("no committed prior -> every ratio is None (null in JSON), " +
       "never a fabricated 1.0") {
    val (st, mc, code) = ratios(Seq.empty, 0.25, 0.40, None, None)
    assert(st.isEmpty && mc.isEmpty && code.isEmpty)
    // prior calib present but zero shared queries (fresh SF): ratios for
    // the probes still print, code_ratio stays null
    val (st2, _, code2) =
      ratios(Seq.empty, 0.25, 0.40, Some(0.25), Some(0.40))
    assert(st2.nonEmpty && code2.isEmpty)
  }
}
