package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components at scale: alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14), the one components algorithm behind near-dup clustering
  * (`queries.Pipeline.componentClusters`). Star alternation converges in
  * O(log² n) rounds on ANY graph shape, so edges that chain (transitive
  * similarity at loose thresholds) cost no more rounds than quasi-clique
  * near-dup components.
  *
  * Both operations are plain groupBy/join rounds — equi-shuffles only, no
  * driver-side graph state; `localCheckpoint` truncates the plan each
  * round, and convergence is the direct star-forest fixpoint test
  * ([[isStarForest]]) on the checkpointed edges — it fires in the round
  * that FIRST produces the fixpoint, where the previous signature-repeat
  * check paid one extra full star round to see the signature stabilize.
  */
object Components {

  /** Large-star: for every node u, connect all strictly-larger neighbors
    * of u to the minimum of the closed neighborhood Γ⁺(u).
    */
  private[operators] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val m = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("m"))
    sym.join(m, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: for every node u, connect u and all smaller neighbors of
    * u to the minimum of {u} ∪ smaller neighbors.
    */
  private[operators] def smallStar(edges: DataFrame): DataFrame = {
    val canon = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val m = canon.groupBy(col("src")).agg(min(col("dst")).as("m"))
    val withM = canon.join(m, "src")
    withM.select(col("dst").as("src"), col("m").as("dst"))
      .unionAll(withM.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** The alternation's fixpoint test, checked directly instead of waiting
    * for a signature repeat: an edge set (distinct, every edge pointing
    * strictly downward, which `smallStar`'s output guarantees) is a
    * fixpoint of largeStar∘smallStar iff it is a union of downward stars —
    * every src appears in exactly one edge and no vertex is both a src and
    * a dst. (A multi-parent src is rewired by smallStar; a chain vertex is
    * rewired by largeStar; conversely both maps are the identity on a star
    * forest.) One cheap groupBy over the checkpointed edges per round,
    * saving the full 6-shuffle star round the old signature-repeat check
    * spent confirming an already-stable edge set.
    */
  private[operators] def isStarForest(edges: DataFrame): Boolean = {
    val stats = edges.select(col("src").as("v"), lit(1L).as("s"), lit(0L).as("d"))
      .unionAll(edges.select(col("dst").as("v"), lit(0L).as("s"), lit(1L).as("d")))
      .groupBy(col("v"))
      .agg(sum(col("s")).as("ns"), sum(col("d")).as("nd"))
    stats.filter(col("ns") > 1 || (col("ns") > 0 && col("nd") > 0)).isEmpty
  }

  /** Per-partition union-find contraction (the "local aggregation"
    * optimization from the Kiveris et al. paper): each partition's edges
    * collapse to downward star edges (v → min vertex of v's component
    * *within the partition*) before any global round. Connectivity is
    * preserved — the union over partitions of the local star edges links
    * exactly the vertices the original edges linked — while path lengths
    * drop to the number of partition crossings, so the global star
    * alternation converges in 0-2 rounds on graphs that previously paid
    * O(log diameter). Memory per task is one parent entry per distinct
    * vertex in the partition — the same bound the groupBy state already
    * has, so a partition sized to fit memory for the shuffle also fits
    * the union-find.
    *
    * Effectiveness tracks input LOCALITY (ScaleSpec pins both regimes):
    * when a partition holds edges of related vertices — the production
    * case, since LSH/bucket pair lists explode whole neighborhoods per
    * bucket — rounds are bounded by partition crossings regardless of
    * graph size; an adversarial layout (edges scattered independently of
    * structure) contracts nothing and the pipeline falls back to the
    * large-star/small-star O(log² n) alternation bound, never worse. No
    * shuffle is spent trying to manufacture locality: a repartition that
    * reliably co-locates communities would itself be the components
    * problem.
    */
  private[graft] def localContract(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      // the pre-contraction pipeline (greatest/least canonicalize +
      // filter) silently DROPPED null endpoints; the typed decode below
      // would NPE on them instead — preserve the drop-nulls contract
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var r = x0
          var p = parent.getOrDefault(r, r)
          while (p != r) { r = p; p = parent.getOrDefault(r, r) }
          var c = x0
          while (parent.getOrDefault(c, c) != r) {
            val nxt = parent.get(c); parent.put(c, r); c = nxt
          }
          r
        }
        it.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val keys = parent.keySet().toArray(new Array[java.lang.Long](0))
        keys.iterator.flatMap { v =>
          val r = find(v)
          if (r != v.longValue()) Iterator((v.longValue(), r)) else Iterator.empty
        }
      }
      .toDF("src", "dst")
  }

  /** Component id (= minimum reachable vertex id) for every vertex that
    * appears in `edges` (long `src`/`dst` columns). Isolated vertices
    * don't appear — union the vertex table downstream if needed.
    *
    * @return (vertex, component) DataFrame
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame =
    connectedComponentsWithRounds(edges, maxRounds)._1

  /** As [[connectedComponents]], also returning how many star rounds ran —
    * pinned by ComponentsSpec so the fixpoint detection can't silently
    * regress to paying a confirmation round again.
    */
  private[graft] def connectedComponentsWithRounds(
      edges: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    // Round 0 is the per-partition union-find contraction ([[localContract]]):
    // its output is downward star edges (v → local component min), which is
    // exactly the orientation isStarForest assumes — the old explicit
    // canonicalize step is subsumed (union-find ignores edge orientation,
    // and a min-root is by construction the smaller endpoint). The distinct
    // removes cross-partition duplicates of the same (v, root) edge so a
    // graph that IS fully contracted after round 0 passes the fixpoint
    // check immediately instead of reading as a multi-parent src.
    var e = localContract(edges)
      .distinct()
      .localCheckpoint()
    var converged = isStarForest(e)
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      e = smallStar(largeStar(e)).localCheckpoint()
      converged = isStarForest(e)
      rounds += 1
    }
    // fixpoint edges all point at roots: (larger vertex, its component);
    // roots get their own id
    val verts = e.select(col("src").as("vertex"), col("dst").as("component"))
      .unionAll(e.select(col("dst").as("vertex"), col("dst").as("component")))
    (verts.groupBy(col("vertex")).agg(min(col("component")).as("component")), rounds)
  }
}
