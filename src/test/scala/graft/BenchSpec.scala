package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's pure parts: the sweep order and reducer behind each
  * reported time, and the tail-survivable output lines. No Spark.
  */
class BenchSpec extends AnyFunSuite {

  test("timed sweeps alternate forward and reverse; a query reads the " +
       "median of its successful sweeps") {
    val qs = Seq("a", "b", "c")
    assert((0 until 3).map(Bench.sweepOrder(qs, _)) ==
      Seq(Seq("a", "b", "c"), Seq("c", "b", "a"), Seq("a", "b", "c")))
    // the median, not the minimum: one quiet sweep cannot set the reading
    assert(Bench.sweepMedian(Seq((2.9, true), (1.8, true), (2.0, true))) == 2.0)
    // a failed sweep's time-to-exception is not counted
    assert(Bench.sweepMedian(Seq((0.1, false), (1.8, true), (2.0, true))) == 1.9)
    assert(Bench.sweepMedian(Seq((9.0, true), (0.1, false), (0.2, false))) == 9.0)
    // every sweep failed: the times-to-failure stand in, still numeric
    assert(Bench.sweepMedian(Seq((0.3, false), (0.1, false), (0.2, false))) == 0.2)
  }

  test("queries_part chunks: every entry once, every line bounded, " +
       "slowest queries in the LAST chunk") {
    val times = (1 to 300).map(i => (f"q$i%03d_some_query_name", i / 100.0))
    // the envelope embeds the scale-factor path, which can be any length:
    // it counts against the line bound, not on top of it
    val longSf = "/data/" + "nested/" * 60 + "sf0.1"
    for (sf <- Seq("/data/sf0.1", longSf)) {
      val lines = Bench.queryChunkLines(times, sf)
      // each whole line fits the 700-char default bound, well under the
      // 2000-char capture window, and is self-contained JSON
      assert(lines.forall(_.length <= 700), s"sf=$sf: ${lines.map(_.length)}")
      assert(lines.forall(l => l.startsWith("{\"metric\":\"queries_part\"")
        && l.endsWith("}")))
      assert(lines.forall(_.contains(s""""sf":"$sf"""")))
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
  }

  test("the repeated summary line is marked final; the first copy is not") {
    val compact = """{"metric":"total_compact","value":1.500,"unit":"sec","worst5":{"q":1.500}}"""
    val last = Bench.finalCompactLine(compact)
    assert(last == """{"metric":"total_compact","value":1.500,"unit":"sec","worst5":{"q":1.500},"final":true}""")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readTree(last).get("final").asBoolean())
    assert(!mapper.readTree(compact).has("final"))
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
}
