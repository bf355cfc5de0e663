package graft

import org.apache.spark.sql.functions._
import graft.operators.Components

/** Large-star/small-star connected components: equivalence with a
  * driver-side union-find oracle on seeded random graphs of several
  * shapes (sparse, chain-heavy, clique-heavy).
  */
class ComponentsSpec extends SparkSpec {

  /** Driver-side union-find over the same edges. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n.toLong.toInt)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a.toInt); val rb = find(b.toInt)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min vertex per component
    val minOf = scala.collection.mutable.Map.empty[Int, Long]
    (0 until n).foreach { v =>
      val r = find(v)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), v.toLong)
    }
    (0 until n).map(v => v.toLong -> minOf(find(v))).toMap
  }

  private def check(n: Int, edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val want = unionFind(n, edges)
    val got = Components.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // only vertices with at least one edge appear in the result
    val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(got.keySet == touched)
    touched.foreach { v =>
      assert(got(v) == want(v), s"vertex $v: got ${got(v)} want ${want(v)}")
    }
  }

  test("random sparse graph matches union-find") {
    val rnd = new scala.util.Random(42)
    val n = 200
    val edges = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    check(n, edges)
  }

  test("long chains (worst case for propagation) match union-find") {
    // two chains of 50 plus a ring of 30
    val chain1 = (0L until 49L).map(i => (i, i + 1))
    val chain2 = (60L until 109L).map(i => (i, i + 1))
    val ring = (120L until 149L).map(i => (i, i + 1)) :+ (149L, 120L)
    check(150, chain1 ++ chain2 ++ ring)
  }

  test("clique-heavy graph (near-dup shape) matches union-find") {
    val rnd = new scala.util.Random(7)
    val cliques = (0 until 6).flatMap { c =>
      val base = c * 20L
      val ids = (0 until 8).map(i => base + rnd.nextInt(15))
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }
    check(120, cliques)
  }

  test("matches union-find on a seeded 80-vertex random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 80
    val edges = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val want = unionFind(n, edges)
    val got = Components.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (v, c) => assert(want(v) == c) }
  }

  test("fixpoint fires in the round that first produces a star forest") {
    import spark.implicits._
    // already a star forest: zero star rounds — the old signature-repeat
    // check burned a full confirmation round even here
    val star = Seq((1L, 0L), (2L, 0L), (3L, 0L), (9L, 7L), (10L, 7L))
    val (starDf, starRounds) =
      Components.connectedComponentsWithRounds(star.toDF("src", "dst"))
    assert(starRounds == 0)
    assert(starDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 7L -> 7L, 9L -> 7L, 10L -> 7L))

    // triangle: at most one star pass flattens whatever the local
    // union-find contraction left (0 rounds when the partition layout
    // co-locates the edges)
    val (triDf, triRounds) = Components.connectedComponentsWithRounds(
      Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst"))
    assert(triRounds <= 1)
    assert(triDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L))

    // a 50-chain paid exactly 6 doubling rounds before the per-partition
    // union-find contraction landed; post-contraction the hop count is
    // the number of partition crossings, so the bound pins that the
    // contraction never does WORSE than the raw alternation and the
    // fixpoint still fires the round it first appears
    val chain = (0L until 49L).map(i => (i, i + 1))
    val (chDf, chRounds) =
      Components.connectedComponentsWithRounds(chain.toDF("src", "dst"))
    info(s"50-chain converged in $chRounds rounds")
    assert(chRounds <= 6)
    assert(chDf.filter(col("component") =!= 0L).count() == 0)
    assert(chDf.count() == 50)
  }

  test("localContract preserves connectivity and emits downward star edges") {
    import spark.implicits._
    // chain + triangle + isolate-pair, forced across 3 partitions so the
    // contraction must leave genuine cross-partition work behind
    val edges = ((0L until 20L).map(i => (i, i + 1)) ++
      Seq((30L, 31L), (31L, 32L), (32L, 30L), (40L, 41L)))
    val df = edges.toDF("src", "dst").repartition(3)
    val star = Components.localContract(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // downward: every emitted edge points from a vertex to a strictly
    // smaller local root
    star.foreach { case (v, r) => assert(r < v, s"edge $v -> $r not downward") }
    // per-partition star property composes into identical global
    // components: run the driver union-find over both edge sets
    val want = unionFind(42, edges)
    val gotUF = unionFind(42, star.toSeq)
    val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
    touched.foreach { v => assert(gotUF(v) == want(v), s"vertex $v split") }
    // and the end-to-end result over the contracted path stays exact
    check(42, edges)
  }

  test("localContract drops null-endpoint edges instead of crashing") {
    import spark.implicits._
    // nullable edge columns reach localContract from callers whose edge
    // derivation can emit nulls; the pre-contraction pipeline silently
    // dropped them — the typed decode must not reintroduce an NPE
    val df = Seq((Option(1L), Option(2L)), (None, Option(3L)),
      (Option(4L), None), (Option(2L), Option(5L)))
      .toDF("src", "dst")
    val star = Components.localContract(df.coalesce(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the non-null edges contract: {1,2,5} -> root 1
    assert(star == Set((2L, 1L), (5L, 1L)), s"got $star")
  }

  test("empty and single-edge graphs") {
    import spark.implicits._
    assert(Components.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0)
    val one = Components.connectedComponents(Seq((5L, 2L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(5L -> 2L, 2L -> 2L))
  }

  test("upward-oriented input edges still label with the MINIMUM id") {
    import spark.implicits._
    // regression: an upward star (or single upward edge) is a star forest
    // by src/dst counting, so without round-0 canonicalization the fixpoint
    // fires immediately and vertices get the LARGER id as their component
    val upEdge = Components.connectedComponents(Seq((2L, 5L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(upEdge == Map(2L -> 2L, 5L -> 2L))

    val upStar = Components.connectedComponents(
        Seq((1L, 3L), (2L, 3L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(upStar == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))

    // mixed orientation + opposite-orientation duplicate of the same edge
    val mixed = Components.connectedComponents(
        Seq((3L, 1L), (2L, 3L), (1L, 3L), (7L, 9L), (9L, 7L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mixed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))

    check(20, Seq((0L, 10L), (10L, 4L), (4L, 12L), (6L, 18L), (18L, 6L)))
  }

  test("componentClusters: cluster ids match union-find; an isolate is " +
       "its own one-member cluster") {
    import spark.implicits._
    // a chain, a triangle, an isolate (doc 8 has no edge)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L))
    val docs = (0L to 8L).toDF("doc_id")
    val out = graft.queries.Pipeline
      .componentClusters(docs, edges.toDF("id1", "id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.map(_._1) == (0L to 8L), "one row per doc, ordered by doc_id")
    assert(out.map(t => t._1 -> t._2).toMap == unionFind(9, edges))
    assert(out.map(t => t._1 -> t._3).toMap ==
      Map(0L -> 5L, 1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L,
        5L -> 3L, 6L -> 3L, 7L -> 3L, 8L -> 1L))
  }
}
