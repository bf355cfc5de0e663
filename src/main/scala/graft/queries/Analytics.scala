package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph/analytics and source-format operators (round 10, wave 4):
  * degree-ordered triangle counting, the TPC-H Q17 correlated-threshold
  * shape, character-entropy quality scoring, duplicated-span run length,
  * CDC latest-state snapshots, and the storage-layout sources — a
  * partition-pruned writer path plus CSV / JSON-lines round trips through
  * the engine's own writers.
  *
  * Shared discipline with [[Pipeline]] / [[Curation]]: every score is
  * engine-portable (md5 hex, integer arithmetic, explicit ×1e6 / ×100
  * quantization) so the DuckDB oracle replays results exactly, and every
  * aggregation on a scale path is partial-aggregable.
  */
object Analytics {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  private def words(text: Column): Column = split(trim(text), " +")

  /** The deterministic synthetic link graph shared with `v_pagerank`
    * (Curation): dst = (v² + 37k) mod N for k = 1..3 — quadratic, so
    * in-degrees vary. Returned as canonical undirected edges
    * (a = least, b = greatest, self-loops dropped, deduped).
    */
  def linkGraphEdges(docs0: DataFrame): DataFrame = {
    import docs0.sparkSession.implicits._
    val docs = docs0.select($"doc_id")
    val nRow = docs.agg(count(lit(1)).as("n"))
    docs.crossJoin(broadcast(nRow))
      .select($"doc_id".as("src"), explode(array(
        ($"doc_id" * $"doc_id" + 37) % $"n",
        ($"doc_id" * $"doc_id" + 74) % $"n",
        ($"doc_id" * $"doc_id" + 111) % $"n")).as("dst"))
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
  }

  /** Per-node triangle participation counts over an undirected edge set
    * (columns `a`, `b`, canonical a<b, deduped), by the degree-ordered
    * node-iterator (Suri & Vassilvitskii, WWW'11 "Counting triangles and
    * the curse of the last reducer"): orient every edge from its
    * lower-(degree, id) endpoint to the higher, enumerate wedges as the
    * self-join of oriented edges on the low endpoint, and close each
    * wedge with an oriented-edge equi-join. Each triangle {u,v,w} is
    * found exactly once, at its minimum-(degree, id) corner, and the
    * wedge fan-out per node is bounded by its ORIENTED out-degree — at
    * most O(√m) on any graph — which is what keeps the hottest node from
    * becoming "the last reducer" at 100 TB. All three joins are hash
    * equi-joins; no window touches the edge set.
    */
  def triangleCorners(edges0: DataFrame): DataFrame = {
    import edges0.sparkSession.implicits._
    // The edge table feeds four consumers (degree count ×2, orientation,
    // closing-edge probe): a lazy localCheckpoint materializes it once
    // instead of replaying the generator subtree per consumer.
    val edges = edges0.localCheckpoint(false)
    val deg = edges.select($"a".as("v")).union(edges.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("dg"))
    val da = deg.select($"v".as("a"), $"dg".as("dga"))
    val db = deg.select($"v".as("b"), $"dg".as("dgb"))
    val aFirst = $"dga" < $"dgb" || ($"dga" === $"dgb" && $"a" < $"b")
    val oriented = edges.join(da, "a").join(db, "b")
      .select(
        when(aFirst, $"a").otherwise($"b").as("lo"),
        when(aFirst, $"b").otherwise($"a").as("hi"),
        when(aFirst, $"dgb").otherwise($"dga").as("dh"))
      .localCheckpoint(false)
    val o1 = oriented.select($"lo", $"hi".as("y"), $"dh".as("dy"))
    val o2 = oriented.select($"lo", $"hi".as("z"), $"dh".as("dz"))
    val wedges = o1.join(o2, Seq("lo"))
      .filter($"dy" < $"dz" || ($"dy" === $"dz" && $"y" < $"z"))
      .select($"lo".as("x"), $"y", $"z")
    val closing = oriented.select($"lo".as("y"), $"hi".as("z"))
    wedges.join(closing, Seq("y", "z"))
      .select($"x", $"y", $"z")
  }

  /** Gap-based batch sessionization (the x_sessionize gate): input
    * columns (user_id, event_id, ts_us, event_type); a session starts
    * when the per-user inter-event gap exceeds `gapUs`. Both windows
    * and the stats aggregate key on user_id, so the whole operator
    * clusters once per user partition — per-key cost only.
    */
  def sessionize(ev: DataFrame,
                 gapUs: Long = 8L * 3600 * 1000000): DataFrame = {
    import ev.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    ev
      .withColumn("nf",
        when(lag($"ts_us", 1).over(w).isNull ||
          $"ts_us" - lag($"ts_us", 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("sess", sum($"nf").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sess")
      .agg(min($"ts_us").as("session_start_us"),
        count(lit(1)).as("n_events"),
        (max($"ts_us") - min($"ts_us")).cast("long").as("dur_us"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("purchases"))
      .select($"user_id", $"session_start_us", $"n_events", $"dur_us",
        $"purchases")
  }

  /** Trailing-7-day distinct users per observed day (the x_rolling_dau
    * gate): input columns (day: date, user_id). Each event fans out to
    * its 7 window-end days; the shuffle carries DISTINCT (day, user)
    * pairs with partial aggregation — never 7 re-scans of the fact
    * table. Returns (wday, dau7).
    */
  def rollingDau(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val days = ev.select($"day").distinct()
    ev.select(explode(sequence(lit(0), lit(6))).as("off"), $"day",
        $"user_id")
      .select(date_add($"day", $"off").as("wday"), $"user_id")
      // no explicit distinct on the fanned table (r20): countDistinct's
      // own two-phase plan partial-aggregates on (wday, user) map-side
      // before its exchange — the former .distinct() shuffled the same
      // deduped pairs a SECOND time for byte-identical output
      // the observed-day list is the build side, pinned: without the hint
      // AQE may instead broadcast the 7x fanned table when its stage
      // finishes first — a plan that drops both exchanges at small n but
      // ships O(events) to every task, and flips run to run
      .join(broadcast(days.select($"day".as("wday"))), Seq("wday"))
      .groupBy($"wday")
      .agg(countDistinct($"user_id").as("dau7"))
  }

  /** Two-phase 2D Pareto frontier (the x_pareto_frontier gate): input
    * columns (id, price_x100, p_size) — rows no other row dominates
    * (price ≥, size ≤, one strict). Local skyline per hash bucket
    * prunes losslessly; the exact global windows run over survivors.
    */
  def paretoFrontier(points: DataFrame): DataFrame = {
    import points.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    def skyline(df: DataFrame, part: Seq[Column]): DataFrame = {
      val higher = Window.partitionBy(part: _*)
        .orderBy(col("price_x100").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val same = Window.partitionBy(part :+ col("price_x100"): _*)
      df.withColumn("mh", min(col("p_size")).over(higher))
        .withColumn("ms", min(col("p_size")).over(same))
        .filter((col("mh").isNull || col("p_size") < col("mh")) &&
          col("p_size") === col("ms"))
        .drop("mh", "ms")
    }
    val b = points.withColumn("bkt",
      pmod(crc32($"id".cast("string").cast("binary")), lit(32)))
    skyline(skyline(b, Seq($"bkt")), Seq.empty).drop("bkt")
  }

  /** k-core peel (the v_kcore gate): canonical undirected edges
    * (a < b), `rounds` iterations of degree-filter + survivor
    * restriction; returns surviving (v, deg) at the final round.
    */
  def kcore(edges0: DataFrame, k: Int, rounds: Int): DataFrame = {
    import edges0.sparkSession.implicits._
    var edges = edges0.localCheckpoint(false)
    var deg: DataFrame = null
    for (i <- 1 to rounds) {
      deg = edges.select($"a".as("v")).union(edges.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("deg"))
      val keep = deg.filter($"deg" >= k).select($"v").localCheckpoint(false)
      edges = edges
        .join(keep.select($"v".as("a")), Seq("a"), "left_semi")
        .join(keep.select($"v".as("b")), Seq("b"), "left_semi")
      // checkpoint EVERY closed round (matching v_sssp/v_label_prop):
      // the final round's edges feed the next degree count + two
      // semi-joins, so leaving it lazy replays that join subtree
      if (i < rounds) edges = edges.localCheckpoint(false)
    }
    deg.filter($"deg" >= k)
  }

  /** Distributed global row_number — the shard-prefix-sum rank (the
    * packBins pattern, factored): ranks every row exactly as
    * `row_number().over(Window.orderBy(order))` would, WITHOUT funneling
    * the table through one partition. `shard` must be a non-decreasing
    * function of the leading order key (e.g. `floor(col / 64)` for an
    * ascending sort, `floor(-col / 64)` for a descending one); then
    * per-shard row_numbers plus the cumulative count of earlier shards
    * compose to the exact global rank. The only serial window runs on
    * the shard-count-sized subtotal table, which broadcasts back.
    * `part` (optional) scopes the ranking per partition value — the
    * serial step then runs per part on shard-count rows.
    *
    * Skew escape hatch: a value-bucketed shard concentrates a dominant
    * value in one task. Because the shard only needs to be
    * non-decreasing along the FULL order (leading key, then
    * tiebreaks), a composite STRUCT shard whose leading field is the
    * EXACT leading key and whose second field buckets the tiebreak —
    * `struct(v, floor(id / 4096))` for order `(v, id)` — splits a hot
    * value across tasks and stays exact (struct ordering is
    * lexicographic; a BUCKETED leading field with a tiebreak suffix
    * would NOT be monotone across values inside one bucket).
    * CrossCheckSpec pins the composite form.
    */
  def shardedRank(df0: DataFrame, shard: Column, order: Seq[Column],
                  out: String, part: Seq[String] = Nil): DataFrame = {
    import df0.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = df0.withColumn("__shard", shard)
    val partCols = part.map(col)
    val w = Window.partitionBy((partCols :+ $"__shard"): _*)
      .orderBy(order: _*)
    val ranked = df.withColumn("__ri", row_number().over(w).cast("long"))
    val cnt = ranked.groupBy((partCols :+ $"__shard"): _*)
      .agg(max($"__ri").as("__cnt"))
    val offW = (if (part.isEmpty) Window.partitionBy()
                else Window.partitionBy(partCols: _*))
      .orderBy($"__shard").rowsBetween(Window.unboundedPreceding, -1)
    val offs = cnt.select((partCols :+ $"__shard" :+
      coalesce(sum($"__cnt").over(offW), lit(0L)).as("__off")): _*)
    ranked.join(broadcast(offs), part :+ "__shard")
      .withColumn(out, $"__off" + $"__ri")
      .drop("__shard", "__ri", "__off")
  }

  /** SQL-standard `ntile(k)` computed arithmetically from a global rank
    * `i` of `n` (1-based): the first `n mod k` buckets take `n div k + 1`
    * rows, the rest `n div k` — exactly the window ntile's distribution,
    * but composable with [[shardedRank]] so no unpartitioned window is
    * needed. `i` and `n` must be column NAMES in scope.
    */
  def ntileOf(k: Int, i: String, n: String): Column = expr(
    s"case when $i <= ($n % $k) * ($n div $k + 1) " +
    s"then ($i + ($n div $k)) div (($n div $k) + 1) " +
    s"else ($n % $k) + ($i - ($n % $k) * (($n div $k) + 1) + ($n div $k) - 1) " +
    s"div greatest($n div $k, 1) end")

  /** Exact interpolated per-group quantiles (the `quantile_cont` /
    * Spark-`percentile` definition) computed from a VALUE HISTOGRAM —
    * the buffer-free 100 TB path: `percentile` holds every group value
    * in an executor-memory buffer, while this folds to (group, value)
    * counts first, so the only window runs over histogram rows (bounded
    * by the distinct-value count, never the corpus). The interpolation
    * replays Spark's `Percentile.getPercentile` arithmetic exactly —
    * `rn = (n-1)·p` in doubles, then `(ceil(rn)-rn)·lo +
    * (rn-floor(rn))·hi` — so results are bit-identical to the in-memory
    * aggregate (pinned in AnalyticsSpec) and DuckDB's `quantile_cont`
    * oracles keep matching.
    *
    * Returns one row per group: (`group`, one double column per entry
    * of `ps` named by its key). A group whose values are ALL null has
    * no rows here (the in-memory aggregate would emit a null-quantile
    * row instead) — callers join the result back on the group key, so
    * such groups drop rather than carry null bounds.
    */
  def contQuantiles(df: DataFrame, group: String, value: String,
                    ps: Seq[(String, Double)]): DataFrame = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    // nulls are skipped, as the percentile aggregate skips them — a null
    // histogram row would otherwise shift every cumulative count
    val h = df.filter(col(value).isNotNull)
      .groupBy(col(group), col(value)).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(group)).orderBy(col(value))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the per-group total rides the SAME partitioning as the running
    // sum (an unbounded frame over the identical partition key chains
    // onto the cum window's exchange+sort) — the former separate
    // groupBy + broadcast-join pass paid one more exchange and one more
    // job for the same number
    val wTot = Window.partitionBy(col(group))
    val j = h.withColumn("__cum", sum($"__c").over(w))
      .withColumn("__n", sum($"__c").over(wTot))
    val aggs = ps.flatMap { case (nm, p) =>
      val rn = ($"__n" - 1).cast("double") * lit(p)
      Seq(
        // x_(k) is the smallest value whose cumulative count reaches k
        // (1-based); lo sits at floor(rn)+1, hi at ceil(rn)+1
        min(when($"__cum" >= floor(rn) + 1, col(value))).as(s"__lo_$nm"),
        min(when($"__cum" >= ceil(rn) + 1, col(value))).as(s"__hi_$nm"),
        max(rn).as(s"__rn_$nm"))
    }
    val g = j.groupBy(col(group)).agg(aggs.head, aggs.tail: _*)
    val outs = col(group) +: ps.map { case (nm, _) =>
      val rn = col(s"__rn_$nm")
      val lo = col(s"__lo_$nm").cast("double")
      val hi = coalesce(col(s"__hi_$nm"), col(s"__lo_$nm")).cast("double")
      when(floor(rn) === ceil(rn), lo)
        .otherwise((ceil(rn) - rn) * lo + (rn - floor(rn)) * hi).as(nm)
    }
    g.select(outs: _*)
  }

  /** Kaplan–Meier product-limit estimator over (t, cens) lifetime rows
    * (the x_survival_km gate): per distinct lifetime, at-risk counts
    * from a reverse running sum, each step's ln(1 − d/n) floor-quantized
    * ×1e9 so the cumulative product runs as an order-free integer sum in
    * log space; one exp per output row recovers S(t)·1e6. Every window
    * runs on the distinct-lifetime table (bounded by the observation
    * window's day count, never the user count).
    */
  def kaplanMeier(life: DataFrame): DataFrame = {
    import life.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val byT = life.groupBy($"t").agg(count(lit(1)).as("n_t"),
      sum(lit(1L) - $"cens").as("deaths"))
    val wRisk = Window.orderBy($"t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.withColumn("at_risk", sum($"n_t").over(wRisk))
      .withColumn("lnterm",
        when($"deaths" === 0, 0L)
          .when($"deaths" < $"at_risk",
            floor(log(lit(1.0) -
              $"deaths".cast("double") / $"at_risk") * 1e9).cast("long"))
          .otherwise(lit(-23000000000L)))
      .withColumn("cum", sum($"lnterm").over(wCum))
      .select($"t", $"at_risk", $"deaths",
        floor(exp($"cum".cast("double") / 1e9) * 1e6).cast("long")
          .as("surv_x1e6"))
      .orderBy($"t")
  }

  /** Market-basket pair mining (the x_itemsets_pairs gate): distinct
    * (basket, item) rows in, co-occurrence pairs with support ≥
    * `minSupport` out — the self-join keys on the basket, so fan-out
    * is bounded per basket, never global.
    */
  /** One row per basket with its SORTED distinct item set — one shuffle
    * on the basket key (collect_set dedups repeat items in-agg, so no
    * separate distinct pass).
    */
  def baskets(items0: DataFrame): DataFrame = {
    import items0.sparkSession.implicits._
    items0.groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("ids"))
  }

  /** Ordered co-occurrence pairs above min-support from a [[baskets]]
    * table: the pair space explodes IN the basket row (fan bounded by
    * items-per-basket², a per-basket constant — the capped-LSH-bucket
    * shape) and the counts partial-aggregate; a keyed self-join would
    * pay a second corpus-wide exchange for the same pairs.
    */
  def basketPairsFrom(bk: DataFrame, minSupport: Long): DataFrame = {
    import bk.sparkSession.implicits._
    bk.select(explode(flatten(transform($"ids", (x, i) =>
        transform(slice($"ids", i + 2, size($"ids")),
          y => struct(x.as("pa"), y.as("pb")))))).as("p"))
      .groupBy($"p.pa".as("pa"), $"p.pb".as("pb"))
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= minSupport)
  }

  def basketPairs(items0: DataFrame, minSupport: Long): DataFrame =
    basketPairsFrom(baskets(items0), minSupport)

  /** TPC-H Q21's EXISTS/NOT-EXISTS, decorrelated to a per-order top-2:
    * supplier s "waited" on order o iff o has ≥2 suppliers AND s's max
    * shipdate ≥ the max shipdate among o's OTHER suppliers (the global
    * per-order max, or the runner-up when s itself holds it — ties pass,
    * matching the strict `d3 > l_shipdate` anti side). This replaces
    * TWO lineitem self-joins (semi + anti, three corpus scans) with one
    * (order, supplier) partial aggregate, one order-level top-2 fold
    * over supplier-bounded lists, and one keyed join back. Returns the
    * distinct waited (l_orderkey, l_suppkey) rows.
    */
  def waitingSuppliers(li: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    // two consumers (the order-level top-2 fold and the join back) —
    // materialize the (order, supplier) fold once: ONE lineitem scan
    val perOS = li.groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"l_shipdate").as("mx"))
      .localCheckpoint(false)
    val perO = perOS.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("nsupp"),
        reverse(sort_array(collect_list(
          struct($"mx", $"l_suppkey".as("sk"))))).as("tops"))
      .select($"l_orderkey", $"nsupp",
        $"tops"(0).as("m1"), element_at($"tops", 2).as("m2"))
    perOS.join(perO, Seq("l_orderkey"))
      .filter($"nsupp" >= 2 &&
        $"mx" >= when($"l_suppkey" === $"m1.sk", $"m2.mx")
          .otherwise($"m1.mx"))
      .select($"l_orderkey", $"l_suppkey")
  }

  /** Trained char-bigram naive-Bayes language classifier (the
    * x_langid_ngram gate): trains on even doc_ids, classifies the odd
    * half, returns the confusion matrix (lang, pred_lang, n, hit).
    * The model is vocabulary-bounded and broadcasts; inference is pure
    * integer sums of once-quantized log-probs.
    */
  def langidNgram(docs0: DataFrame): DataFrame = {
    import docs0.sparkSession.implicits._
    // fanOutScan: the char-bigram explode multiplies rows by text length
    // before the first shuffle — parallelize the byte-small scan first.
    // Aggregate the explode to per-(doc, bigram) counts IMMEDIATELY (one
    // partial-aggregated exchange) and derive both the trained model and
    // the eval side from that compact table: the raw exploded rows are
    // never materialized or re-scanned (the former shape checkpointed the
    // corpus-length explode and aggregated it twice).
    val docBgAll = graft.operators.Scale.fanOutScan(docs0)
      .filter(length($"text") >= 2)
      .select($"doc_id", $"lang",
        explode(expr(
          "transform(sequence(1, length(text) - 1)," +
            " i -> substring(text, i, 2))")).as("bg"))
      .groupBy($"doc_id", $"lang", $"bg").agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val cnts = docBgAll.filter($"doc_id" % 2 === 0)
      .groupBy($"lang".as("mlang"), $"bg")
      .agg(sum($"n").as("c")).localCheckpoint(false)
    val tots = cnts.groupBy($"mlang").agg(sum($"c").as("tot"))
    val vocab = cnts.select($"bg").distinct()
      .agg(count(lit(1)).as("v"))
    val langs = tots.select($"mlang", $"tot")
      .crossJoin(broadcast(vocab))
    // doc-side bigram counts on the EVAL half, hash-clustered by doc_id
    // BEFORE the ×n_langs scoring fan: both downstream aggregations
    // ((doc, lang, mlang) term sums and the (doc, lang) argmax) accept
    // the subset-key clustering and run exchange-free, so the shuffle
    // moves the 1× pre-fan rows instead of the fanned table twice.
    // (measured r20: replacing the fan with a broadcast lang→(tot,
    // bigram→count) map row scored via higher-order transform/aggregate
    // + try_element_at LOST 5.5 s in-suite, 2.41→7.86 — the lambda
    // functions evaluate interpreted per (doc × lang × bigram) where
    // this fan's join/agg pipeline is whole-stage-codegen; don't
    // re-litigate without a codegen'd map-lookup expression)
    val docBg = docBgAll.filter($"doc_id" % 2 === 1)
      .repartition($"doc_id")
    val scored = docBg
      .crossJoin(broadcast(langs))
      .join(broadcast(cnts), Seq("mlang", "bg"), "left")
      .select($"doc_id", $"lang", $"mlang",
        ($"n" * floor(log((coalesce($"c", lit(0L)) + 1).cast("double") /
          ($"tot" + $"v").cast("double")) * 1e6).cast("long"))
          .as("term"))
      .groupBy($"doc_id", $"lang", $"mlang")
      .agg(sum($"term").as("score"))
    scored.groupBy($"doc_id", $"lang")
      .agg(max(struct($"score", $"mlang")).as("best"))
      .select($"lang", $"best.mlang".as("pred_lang"))
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n"),
        max(when($"lang" === $"pred_lang", 1L).otherwise(0L)).as("hit"))
  }

  /** CDC latest-state snapshot: fold an upsert/delete change stream to
    * the live state by per-key argmax over (ts, change_id) — a
    * partial-aggregable max(struct(...)), NOT a row_number window, so
    * map-side combine trims each task to one candidate row per key
    * before the exchange. Keys whose latest change is a delete drop out
    * of the snapshot. Input columns: k, ts, change_id, op ('upsert' |
    * 'delete'), val_cents.
    */
  def cdcSnapshot(changes: DataFrame): DataFrame = {
    import changes.sparkSession.implicits._
    changes
      .groupBy($"k")
      .agg(max(struct($"ts", $"change_id", $"op", $"val_cents")).as("last"))
      .filter($"last.op" === "upsert")
      .select($"k", unix_micros($"last.ts").as("last_ts_us"),
        $"last.change_id".as("last_change"),
        $"last.val_cents".as("last_val_cents"))
  }

  /** Per-document character-entropy (natural log, ×1e6 integer): the
    * gibberish / binary-spill detector of a text-quality pipeline.
    * H = ln N − (Σ c·ln c)/N over per-doc character counts c; each ln
    * quantizes to floor(ln·1e6) exactly once per (doc, char) row, and
    * the division is integer `div`, so the oracle replays every value
    * bit-for-bit. Scale shape: one char explode → partial-aggregated
    * (doc, char) counts → per-doc partial-aggregated sum; linear, no
    * joins.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.filter(length($"text") > 0)
      .select($"doc_id", explode(split($"text", "")).as("c"))
      .filter($"c" =!= "")
      .groupBy($"doc_id", $"c").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_ch"), count(lit(1)).as("n_distinct"),
        sum($"cnt" * floor(log($"cnt".cast("double")) * 1e6).cast("long"))
          .as("esum"))
      .select($"doc_id", $"n_ch", $"n_distinct",
        (floor(log($"n_ch".cast("double")) * 1e6).cast("long") -
          expr("esum div n_ch")).as("entropy_x1e6"))
  }

  /** The directed form of the synthetic link graph (distinct src→dst). */
  def linkGraphDirected(docs0: DataFrame): DataFrame = {
    import docs0.sparkSession.implicits._
    val docs = docs0.select($"doc_id")
    val nRow = docs.agg(count(lit(1)).as("n"))
    docs.crossJoin(broadcast(nRow))
      .select($"doc_id".as("src"), explode(array(
        ($"doc_id" * $"doc_id" + 37) % $"n",
        ($"doc_id" * $"doc_id" + 74) % $"n",
        ($"doc_id" * $"doc_id" + 111) % $"n")).as("dst"))
      .distinct()
  }

  /** Frontier BFS to a fixed hop bound: per round, expand the previous
    * frontier through one edge equi-join and fold with a min-hop
    * partial aggregation — the canonical distributed BFS step (each
    * round touches |frontier|·avg-degree rows, never the whole graph
    * squared). Rounds unroll into one lazy plan; a deep production
    * traversal would localCheckpoint per round like
    * operators/Components. Returns (v, hop) for every node reached
    * within maxHops.
    */
  def bfsHops(edges: DataFrame, seeds: Seq[Long], maxHops: Int): DataFrame = {
    import edges.sparkSession.implicits._
    var dist = edges.sparkSession.createDataFrame(
      seeds.map(v => (v, 0))).toDF("v", "hop")
    for (h <- 1 to maxHops) {
      val next = edges.join(dist.filter($"hop" === h - 1),
          edges("src") === $"v")
        .select($"dst".as("v"), lit(h).as("hop"))
      dist = dist.union(next).groupBy($"v").agg(min($"hop").as("hop"))
    }
    dist
  }

  /** 2×2 mean-downsample of a w×w row-major integer pixel array to
    * (w/2)×(w/2) — pure higher-order array arithmetic (codegen'd
    * `transform` over an index sequence), truncating integer division
    * exactly like a uint overview build. The COG overview math (SURVEY
    * S9) as a relational operator.
    */
  def downsample2x2(arr: Column, w: Int): Column = {
    val half = w / 2
    transform(sequence(lit(0), lit(half * half - 1)), { j =>
      val y = floor(j.cast("double") / half).cast("long")
      val x = j.cast("long") % half
      val base = (y * 2 * w + x * 2 + 1).cast("int")
      val s = element_at(arr, base) + element_at(arr, base + 1) +
        element_at(arr, base + w) + element_at(arr, base + w + 1)
      floor(s.cast("double") / 4).cast("long")
    })
  }

  /** 3×3 focal (neighborhood) mean over a w×w row-major integer pixel
    * array, edge-clamped: each output pixel is the truncating-integer
    * mean of its in-bounds neighbors (9 in the interior, 6 on edges,
    * 4 in corners). Nine conditional terms inside one codegen'd
    * `transform` — the raster convolution primitive (smoothing, cloud
    *-mask dilation) as a relational operator.
    */
  def focalMean3x3(arr: Column, w: Int): Column =
    transform(sequence(lit(0), lit(w * w - 1)), { i =>
      val y = floor(i.cast("double") / w).cast("long")
      val x = i.cast("long") % w
      val terms = for (dy <- -1 to 1; dx <- -1 to 1) yield {
        val ny = y + dy
        val nx = x + dx
        val ok = ny >= 0 && ny < w && nx >= 0 && nx < w
        (when(ok, element_at(arr, (ny * w + nx + 1).cast("int")))
          .otherwise(0L),
          when(ok, 1L).otherwise(0L))
      }
      val s = terms.map(_._1).reduce(_ + _)
      val c = terms.map(_._2).reduce(_ + _)
      floor(s.cast("double") / c).cast("long")
    })

  /** Horn-method gradient magnitude (squared) over a w×w integer pixel
    * array with edge replication: gx = (tr+2r+br) − (tl+2l+bl),
    * gy = (bl+2b+br) − (tl+2t+tr), output gx²+gy² — the slope/terrain
    * primitive in EXACT integer arithmetic (no trig, so the oracle
    * replays bit-for-bit; a real slope product divides by cell size
    * and applies atan at the edge of the pipeline).
    */
  def hornSlopeSq(arr: Column, w: Int): Column =
    transform(sequence(lit(0), lit(w * w - 1)), { i =>
      val y = floor(i.cast("double") / w).cast("long")
      val x = i.cast("long") % w
      def px(dy: Int, dx: Int): Column = {
        val cy = greatest(lit(0L), least(lit(w - 1L), y + dy))
        val cx = greatest(lit(0L), least(lit(w - 1L), x + dx))
        element_at(arr, (cy * w + cx + 1).cast("int"))
      }
      val gx = (px(-1, 1) + lit(2L) * px(0, 1) + px(1, 1)) -
        (px(-1, -1) + lit(2L) * px(0, -1) + px(1, -1))
      val gy = (px(1, -1) + lit(2L) * px(1, 0) + px(1, 1)) -
        (px(-1, -1) + lit(2L) * px(-1, 0) + px(-1, 1))
      gx * gx + gy * gy
    })

  /** Last-touch attribution core (see the `x_attribution_last_touch`
    * gate): purchases credit their latest click/view in a trailing
    * 7-day window via a user-keyed interval hash join + a
    * partial-aggregable max(struct) winner. Takes any events frame with
    * (user_id, ts, event_id, event_type, value); factored out so
    * ScaleSpec can soak the interval-join pair space at two sizes.
    */
  def lastTouchAttribution(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("pid"), $"ts".as("pts"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    val t = ev.filter($"event_type".isin("click", "view"))
      .select($"user_id", $"ts", $"event_id", $"event_type")
    p.join(t, Seq("user_id"))
      .filter($"ts" < $"pts" && $"ts" >= $"pts" - expr("INTERVAL 7 DAY"))
      .groupBy($"pid")
      .agg(max(struct($"ts", $"event_id", $"event_type")).as("w"),
        first($"cents").as("cents"))
      .groupBy($"w.event_type".as("event_type"))
      .agg(count(lit(1)).as("purchases"),
        sum($"cents").as("attributed_cents"))
      .orderBy($"event_type")
  }

  val queries: Map[String, Q] = Map(

    // Horn slope over the synthetic raster — see [[hornSlopeSq]]; the
    // per-block stats gate the gradient stencil (incl. edge
    // replication) exactly.
    "m10_horn_slope" -> ((s, d) => {
      import s.implicits._
      val blocks = s.range(0, 64).select(
        ($"id" / 16).cast("long").as("tile"),
        (($"id" / 4) % 4).cast("long").as("by"),
        ($"id" % 4).as("bx"))
        .select($"tile", $"by", $"bx",
          transform(sequence(lit(0), lit(63)), { i =>
            val y = $"by" * 8 + floor(i.cast("double") / 8).cast("long")
            val x = $"bx" * 8 + i.cast("long") % 8
            ($"tile" * 31 + y * 7 + x * 13) % 256
          }).as("px"))
      blocks.withColumn("sl", hornSlopeSq($"px", 8))
        .select($"tile", $"by", $"bx",
          aggregate($"sl", lit(0L), (acc, x) => acc + x).as("slope_sum"),
          array_min($"sl").as("slope_min"), array_max($"sl").as("slope_max"),
          element_at($"sl", 28).as("interior_px"))
        .orderBy($"tile", $"by", $"bx")
    }),

    // Focal 3×3 mean over the same synthetic raster as the pyramid —
    // see [[focalMean3x3]]; per-block stats of the filtered array gate
    // the convolution arithmetic (incl. the edge/corner divisor
    // handling) bit-for-bit. Narrow per-row work like m8.
    "m9_focal_mean" -> ((s, d) => {
      import s.implicits._
      val blocks = s.range(0, 64).select(
        ($"id" / 16).cast("long").as("tile"),
        (($"id" / 4) % 4).cast("long").as("by"),
        ($"id" % 4).as("bx"))
        .select($"tile", $"by", $"bx",
          transform(sequence(lit(0), lit(63)), { i =>
            val y = $"by" * 8 + floor(i.cast("double") / 8).cast("long")
            val x = $"bx" * 8 + i.cast("long") % 8
            ($"tile" * 31 + y * 7 + x * 13) % 256
          }).as("px"))
      blocks.withColumn("fm", focalMean3x3($"px", 8))
        .select($"tile", $"by", $"bx",
          aggregate($"fm", lit(0L), (acc, x) => acc + x).as("focal_sum"),
          array_min($"fm").as("focal_min"), array_max($"fm").as("focal_max"),
          element_at($"fm", 1).as("corner_px"),
          element_at($"fm", 28).as("interior_px"))
        .orderBy($"tile", $"by", $"bx")
    }),

    // Overview-pyramid build over a deterministic synthetic raster: 64
    // blocks of 8×8 integer pixels, downsampled 8→4→2 per block with
    // [[downsample2x2]] — level stats (sum/min/max) gate the array
    // arithmetic bit-for-bit against the oracle's list_transform
    // replay. Everything is narrow per-row HOF work (one shuffle for
    // the final ordering only): at 100 TB each block row downsamples
    // independently, which is exactly how COG overview generation
    // parallelizes.
    "m8_overview_pyramid" -> ((s, d) => {
      import s.implicits._
      val blocks = s.range(0, 64).select(
        ($"id" / 16).cast("long").as("tile"),
        (($"id" / 4) % 4).cast("long").as("by"),
        ($"id" % 4).as("bx"))
        .select($"tile", $"by", $"bx",
          transform(sequence(lit(0), lit(63)), { i =>
            val y = $"by" * 8 + floor(i.cast("double") / 8).cast("long")
            val x = $"bx" * 8 + i.cast("long") % 8
            ($"tile" * 31 + y * 7 + x * 13) % 256
          }).as("px"))
      val l1 = blocks.withColumn("px1", downsample2x2($"px", 8))
      val l2 = l1.withColumn("px2", downsample2x2($"px1", 4))
      def stats(c: Column, level: Int) = l2.select(
        $"tile", $"by", $"bx", lit(level).as("level"),
        size(c).cast("long").as("n_px"),
        aggregate(c, lit(0L), (acc, x) => acc + x).as("px_sum"),
        array_min(c).as("px_min"), array_max(c).as("px_max"))
      stats($"px", 0).union(stats($"px1", 1)).union(stats($"px2", 2))
        .orderBy($"tile", $"by", $"bx", $"level")
    }),

    // Referential-integrity + fan-out audit of the warehouse FK chains
    // (lineitem→orders→customer, lineitem→part/supplier): orphan
    // children and childless parents via LEFT ANTI joins, fan-out
    // min/max/avg from per-parent partial-agg counts — the
    // constraint-check a lakehouse runs after every load (engines at
    // this scale verify FKs by query, not by constraint enforcement).
    "c24_referential_audit" -> ((s, d) => {
      import s.implicits._
      def audit(rel: String, child: DataFrame, ck: String,
                parent: DataFrame, pk: String): DataFrame = {
        // ONE child scan: the per-key fan counts full-outer-joined with
        // the (unique, by construction) parent keys carry every audit
        // stat — orphan children are the fan counts with no parent key,
        // childless parents the parent keys with no fan row. The former
        // shape paid three child scans and two LEFT ANTI joins per
        // relation for the same numbers.
        val fan = child.groupBy(child(ck).as("k"))
          .agg(count(lit(1)).as("c"))
        val pkeys = parent.select(parent(pk).as("pk"))
        fan.join(pkeys, $"k" === $"pk", "full_outer")
          .agg(sum($"c").as("children"),
            count($"c").as("linked_parents"),
            sum(when($"pk".isNull, $"c").otherwise(0L))
              .as("orphan_children"),
            count(when($"c".isNull, lit(1))).as("childless_parents"),
            min($"c").as("min_fan"), max($"c").as("max_fan"))
          .select(lit(rel).as("relation"), $"children", $"linked_parents",
            $"orphan_children", $"childless_parents", $"min_fan", $"max_fan",
            expr("(children * 100) div linked_parents").as("avg_fan_x100"))
      }
      audit("lineitem->orders", lineitem(s, d), "l_orderkey",
          orders(s, d), "o_orderkey")
        .union(audit("lineitem->part", lineitem(s, d), "l_partkey",
          part(s, d), "p_partkey"))
        .union(audit("lineitem->supplier", lineitem(s, d), "l_suppkey",
          supplier(s, d), "s_suppkey"))
        .union(audit("orders->customer", orders(s, d), "o_custkey",
          customer(s, d), "c_custkey"))
        .orderBy($"relation")
    }),

    // Deterministic A/B experiment read-out: arm assignment is a pure
    // function of md5("exp1:" + user_id) (stable across runs and
    // engines — the x_train_split discipline), the metric is per-user
    // purchase cents, and the read-out is Welch's t on exact integer
    // moment sums — one event scan, one user-level agg, two 1-row arm
    // aggregates; only the final t divides in doubles, ×1e6-quantized.
    "x_ab_experiment" -> ((s, d) => {
      import s.implicits._
      val arms = events(s, d).filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
        .select(when(substring(md5(concat(lit("exp1:"),
            $"user_id".cast("string")).cast("binary")), 1, 1) < "8", "A")
          .otherwise("B").as("arm"), $"cents")
      // the 2-row arm-moment table feeds both branches — checkpoint it
      // so the event scan runs once
      val m = arms.groupBy($"arm")
        .agg(count(lit(1)).as("n"), sum($"cents").as("sc"),
          sum($"cents" * $"cents").as("scc"))
        .localCheckpoint(false)
      val a = m.filter($"arm" === "A").select($"n".as("n_a"),
        $"sc".as("sc_a"), $"scc".as("scc_a"))
      val b = m.filter($"arm" === "B").select($"n".as("n_b"),
        $"sc".as("sc_b"), $"scc".as("scc_b"))
      val mean = (sc: Column, n: Column) => sc.cast("double") / n.cast("double")
      val varOf = (scc: Column, sc: Column, n: Column) =>
        (scc.cast("double") - sc.cast("double") * sc.cast("double") /
          n.cast("double")) / (n.cast("double") - 1)
      a.crossJoin(broadcast(b))
        .select($"n_a", $"n_b",
          floor(mean($"sc_a", $"n_a") * 100).cast("long").as("mean_a_x100"),
          floor(mean($"sc_b", $"n_b") * 100).cast("long").as("mean_b_x100"),
          floor((mean($"sc_a", $"n_a") - mean($"sc_b", $"n_b")) /
            sqrt(varOf($"scc_a", $"sc_a", $"n_a") / $"n_a".cast("double") +
              varOf($"scc_b", $"sc_b", $"n_b") / $"n_b".cast("double")) * 1e6)
            .cast("long").as("welch_t_x1e6"))
    }),

    // k-hop reachability from a seed set over the directed link graph
    // (the crawl-frontier / blast-radius query) — see [[bfsHops]].
    "v_bfs_hops" -> ((s, d) => {
      import s.implicits._
      bfsHops(linkGraphDirected(documents(s, d)), Seq(0L, 1L, 2L), maxHops = 3)
        .orderBy($"hop", $"v")
    }),

    // Event funnel: view → click (within 1 day of the FIRST view) →
    // purchase (within 3 days of that click), counted per user with
    // per-stage conversion. Each stage is a min-timestamp partial
    // aggregation plus one hash equi-join on user — window-free, so
    // stage N's shuffle carries one row per surviving user, and the
    // final card is three 1-row aggregates crossed together.
    "x_event_funnel" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"user_id", $"ts", $"event_type")
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("tv"))
      val c = ev.join(v, Seq("user_id"))
        .filter($"event_type" === "click" && $"ts" > $"tv" &&
          $"ts" <= $"tv" + expr("INTERVAL 1 DAY"))
        .groupBy($"user_id").agg(min($"ts").as("tc"))
      val p = ev.join(c, Seq("user_id"))
        .filter($"event_type" === "purchase" && $"ts" > $"tc" &&
          $"ts" <= $"tc" + expr("INTERVAL 3 DAY"))
        .groupBy($"user_id").agg(min($"ts").as("tp"))
      v.agg(count(lit(1)).as("viewers"))
        .crossJoin(broadcast(c.agg(count(lit(1)).as("clickers"))))
        .crossJoin(broadcast(p.agg(count(lit(1)).as("purchasers"))))
        .select($"viewers", $"clickers", $"purchasers",
          floor($"clickers" * 10000 / $"viewers").as("click_conv_x10000"),
          floor($"purchasers" * 10000 / $"clickers")
            .as("purchase_conv_x10000"))
    }),

    // Cohort retention matrix over high-value purchases (value > 95):
    // cohort = each user's first such day, activity = distinct
    // (user, day), offset = days since cohort — the
    // day-0/day-N retention table every growth dashboard ships. Two
    // partial aggs + one user equi-join; no windows.
    "x_retention_cohorts" -> ((s, d) => {
      import s.implicits._
      val hv = events(s, d)
        .filter($"event_type" === "purchase" && $"value" > 95)
        .select($"user_id", to_date(date_trunc("DAY", $"ts")).as("day"))
        .distinct()
      val cohorts = hv.groupBy($"user_id").agg(min($"day").as("cohort"))
      hv.join(cohorts, Seq("user_id"))
        .groupBy($"cohort", datediff($"day", $"cohort").as("offset_days"))
        .agg(count(lit(1)).as("active_users"))
        .select(date_format($"cohort", "yyyy-MM-dd").as("cohort_day"),
          $"offset_days".cast("long").as("offset_days"), $"active_users")
        .orderBy($"cohort_day", $"offset_days")
    }),

    // TPC-H Q22 shape — "idle rich customers": balance above the
    // positive-balance average (a 1-row scalar broadcast, the
    // decorrelated scalar subquery) AND no orders since a cutoff (a
    // LEFT ANTI join against the date-filtered orders — the filter
    // pushes to the orders scan). Grouped per market segment.
    "q22_idle_customers" -> ((s, d) => {
      import s.implicits._
      val cust = customer(s, d)
      val avgBal = cust.filter($"c_acctbal" > 0)
        .agg(avg($"c_acctbal").as("ab"))
      val recent = orders(s, d)
        .filter($"o_orderdate" >= lit("1998-07-15").cast("timestamp"))
        .select($"o_custkey")
      cust.crossJoin(broadcast(avgBal))
        .filter($"c_acctbal" > $"ab")
        .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          floor(sum($"c_acctbal") * 100 + 0.5).cast("long")
            .as("totacctbal_x100"))
        .orderBy($"c_mktsegment")
    }),

    // Triangle counting over the synthetic link graph (the spam-farm /
    // community-density signal of link-based curation). Degree-ordered
    // node-iterator — see [[triangleCorners]]; per-node participation =
    // each triangle credited to all three corners; top-20 nodes ranked.
    // The only window runs on the node-count-sized aggregate, never the
    // edge set.
    "v_triangles" -> ((s, d) => {
      import s.implicits._
      val tris = triangleCorners(linkGraphEdges(documents(s, d)))
      val corners = tris.select(explode(array($"x", $"y", $"z")).as("node"))
        .groupBy($"node").agg(count(lit(1)).as("tri_cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"tri_cnt".desc, $"node")
      corners
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= 20)
        .select($"node", $"tri_cnt", $"rnk")
        .orderBy($"rnk")
    }),

    // TPC-H Q17 shape — "small-quantity orders revenue": rows whose
    // quantity is below 20% of their part's average, summed per brand.
    // The correlated scalar subquery decorrelates into ONE per-part
    // partial aggregation of lineitem joined back to the probe scan —
    // and the threshold test stays integer-exact by clearing the
    // division: qty < sum/(5·cnt) ⟺ 5·qty·cnt < sum. The part dim
    // filter (p_size ≤ 10) broadcasts into the probe.
    "q17_small_quantity" -> ((s, d) => {
      import s.implicits._
      val li = lineitem(s, d)
      val perPart = li.groupBy($"l_partkey")
        .agg(sum($"l_quantity".cast("long")).as("sq"), count(lit(1)).as("cnt"))
      val pp = part(s, d).filter($"p_size" <= 10)
        .select($"p_partkey", $"p_brand")
      li.join(broadcast(pp), li("l_partkey") === pp("p_partkey"))
        .join(perPart, Seq("l_partkey"))
        .filter(lit(5) * $"l_quantity".cast("long") * $"cnt" < $"sq")
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_small"),
          floor(sum($"l_extendedprice") * 100 + 0.5).cast("long")
            .as("revenue_x100"))
        .orderBy($"p_brand")
    }),

    // Character-entropy quality scores — see [[charEntropy]]; flag docs
    // under 2.0 nats as low-entropy (repetitive / degenerate text).
    "x_char_entropy" -> ((s, d) => {
      import s.implicits._
      charEntropy(documents(s, d))
        .withColumn("low_entropy",
          when($"entropy_x1e6" < 2000000L, 1L).otherwise(0L))
        .orderBy($"doc_id")
    }),

    // Longest duplicated-span run per document (Lee et al. 2022: exact
    // substring dedup targets spans, not whole docs): a 5-gram position
    // is "duplicated" when its gram occurs ≥2 times corpus-wide (same
    // doc or another); the longest run of consecutive duplicated
    // positions measures the span a substring-level dedup would cut.
    // Runs via the pos − row_number() grouping trick; both windows
    // partition BY DOC — no global window, and the gram table join is
    // vocabulary-sized (x_dup_spans' proven shape).
    "x_dup_run" -> ((s, d) => {
      import s.implicits._
      // fanOutScan: the 5-gram explode below is CPU-bound per row and the
      // byte-small scan arrives in one split — spread it first (no-op at
      // scale, where the scan already carries ≥ core-count splits)
      val base = graft.operators.Scale.fanOutScan(documents(s, d))
        .select($"doc_id", words($"text").as("w"))
        .filter(size($"w") >= 5)
      // two consumers (frequency build, positional join) — the 5-gram
      // explode materializes once
      val grams = base.select($"doc_id",
        posexplode(transform(sequence(lit(1), size($"w") - 4),
          i => concat_ws(" ", element_at($"w", i), element_at($"w", i + 1),
            element_at($"w", i + 2), element_at($"w", i + 3),
            element_at($"w", i + 4)))))
        .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("g"))
        .localCheckpoint(false)
      val freq = grams.groupBy($"g").agg(count(lit(1)).as("call"))
      val dup = grams.join(freq.filter($"call" >= 2), Seq("g"))
        .select($"doc_id", $"pos")
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      dup.withColumn("grp", $"pos" - row_number().over(byDoc))
        .groupBy($"doc_id", $"grp").agg(count(lit(1)).as("run"))
        .groupBy($"doc_id").agg(max($"run").as("max_dup_run"),
          count(lit(1)).as("n_runs"))
        .orderBy($"doc_id")
    }),

    // CDC latest-state snapshot — see [[cdcSnapshot]]. The change
    // stream derives deterministically from events (key = user_id mod
    // 50, 'error' events act as deletes); the streaming twin
    // (StreamOps.cdcLatestStream) folds the same changes with
    // mapGroupsWithState and is pinned equal in StreamOpsSpec.
    "w_stream_cdc" -> ((s, d) => {
      import s.implicits._
      val changes = events(s, d).select(
        ($"user_id" % 50).as("k"), $"ts", $"event_id".as("change_id"),
        when($"event_type" === "error", "delete").otherwise("upsert").as("op"),
        floor($"value" * 100 + 0.5).cast("long").as("val_cents"))
      cdcSnapshot(changes).orderBy($"k")
    }),

    // Point-in-time snapshot diff ("time travel"): reconstruct the CDC
    // ledger state as of two timestamps with the same window-free
    // [[cdcSnapshot]] argmax (filtered to ts ≤ T — the predicate pushes
    // to the scan), then diff the snapshots by one full-outer hash join:
    // added / removed / changed / unchanged per key with the value
    // delta. The lakehouse as-of read, expressed as two bounded folds —
    // data is never replayed row-by-row.
    "c22_snapshot_asof" -> ((s, d) => {
      import s.implicits._
      val changes = events(s, d).select(
        ($"user_id" % 50).as("k"), $"ts", $"event_id".as("change_id"),
        when($"event_type" === "error", "delete").otherwise("upsert").as("op"),
        floor($"value" * 100 + 0.5).cast("long").as("val_cents"))
      def asof(t: String) = cdcSnapshot(
        changes.filter($"ts" <= lit(t).cast("timestamp")))
      val s1 = asof("2024-01-15").select($"k",
        $"last_change".as("change_t1"), $"last_val_cents".as("val_t1"))
      val s2 = asof("2024-01-25").select($"k",
        $"last_change".as("change_t2"), $"last_val_cents".as("val_t2"))
      s1.join(s2, Seq("k"), "full_outer")
        .select($"k",
          when($"change_t1".isNull, "added")
            .when($"change_t2".isNull, "removed")
            .when($"change_t1" === $"change_t2", "unchanged")
            .otherwise("changed").as("status"),
          coalesce($"val_t1", lit(0L)).as("val_t1"),
          coalesce($"val_t2", lit(0L)).as("val_t2"),
          (coalesce($"val_t2", lit(0L)) - coalesce($"val_t1", lit(0L)))
            .as("delta_cents"))
        .orderBy($"k")
    }),

    // Per-language Pearson correlation + regression slope between doc
    // length in chars and in words — the profile stat behind a
    // length-normalization choice. The five sums (Σx, Σy, Σx², Σy²,
    // Σxy) are exact integer partial aggregates (ONE corpus scan, no
    // joins); the moment PRODUCTS (n·Σx², Σx·Σy, …) form in DOUBLE with
    // the oracle mirroring the op order — Long products over corpus-
    // sized groups wrap silently in Spark but raise in DuckDB (the
    // welch/cuped discipline); the final corr/beta floor-quantize ×1e6
    // so the oracle replays bit-for-bit.
    "x_corr_len" -> ((s, d) => {
      import s.implicits._
      val f = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"lang", $"n_chars".as("x"),
          size(words($"text")).cast("long").as("y"))
      f.groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
          sum($"x" * $"y").as("sxy"))
        .select($"lang", $"n",
          floor(($"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sy") /
            (sqrt($"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx") *
              sqrt($"n".cast("double") * $"syy" - $"sy".cast("double") * $"sy")) * 1e6)
            .cast("long").as("corr_x1e6"),
          floor(($"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sy") * 1e6 /
            ($"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx"))
            .cast("long").as("beta_x1e6"))
        .orderBy($"lang")
    }),

    // TPC-H Q21 shape — "suppliers who shipped last on multi-supplier
    // orders": the correlated EXISTS decorrelates to a LEFT SEMI hash
    // join (another supplier touched the order) and the NOT EXISTS to a
    // LEFT ANTI hash join (nobody else shipped strictly later) — the
    // two join flavors a 100 TB engine must keep as equi-joins with
    // residual conditions, never per-row subquery replays. Top-20 by
    // wait count with a total tie-break order.
    "q21_waiting_supplier" -> ((s, d) => {
      import s.implicits._
      waitingSuppliers(lineitem(s, d)
          .select($"l_orderkey", $"l_suppkey", $"l_shipdate"))
        .join(broadcast(supplier(s, d).select($"s_suppkey", $"s_name")),
          col("l_suppkey") === $"s_suppkey")
        .groupBy($"s_name")
        .agg(countDistinct($"l_orderkey").as("numwait"))
        .orderBy($"numwait".desc, $"s_name")
        .limit(20)
    }),

    // Join-cardinality profiler: the output size of a self-equi-join on
    // l_partkey is EXACTLY Σ cnt(k)² — computed from one per-key count
    // aggregation, never by materializing the join (the estimate a
    // planner wants before committing to a shuffle, and the profile
    // that justifies salting: top keys' share of the join output). The
    // top-5 keys reduce via orderBy+limit (a bounded TakeOrdered), the
    // 1-row total broadcasts back.
    "x_join_size_profile" -> ((s, d) => {
      import s.implicits._
      // the per-key profile feeds both the total and the top-5 — one
      // lazy checkpoint keeps it a single lineitem scan (plan-pinned)
      val cnts = lineitem(s, d).groupBy($"l_partkey")
        .agg(count(lit(1)).as("cnt"))
        .select($"l_partkey", $"cnt", ($"cnt" * $"cnt").as("contrib"))
        .localCheckpoint(false)
      val tot = cnts.agg(sum($"contrib").as("join_rows"))
      val top = cnts.orderBy($"contrib".desc, $"l_partkey").limit(5)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"contrib".desc, $"l_partkey")
      top.crossJoin(broadcast(tot))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .select($"rnk", $"l_partkey", $"cnt", $"contrib", $"join_rows",
          floor($"contrib" * 10000 / $"join_rows").as("share_x10000"))
        .orderBy($"rnk")
    }),

    // Dataset release card: the one-row corpus summary a dataset
    // publisher ships (docs, languages, sources, chars, words, exact-dup
    // rate via distinct text fingerprints) — ONE corpus scan into a
    // two-level aggregate; every count is partial-aggregable and the
    // distinct fingerprint count is itself a hash-groupBy, not a global
    // distinct sort.
    "x_dataset_card" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"doc_id", $"lang", $"source", $"n_chars",
          size(words($"text")).cast("long").as("n_words"),
          md5($"text".cast("binary")).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"lang").as("n_langs"),
          countDistinct($"source").as("n_sources"),
          sum($"n_chars").as("chars_sum"),
          sum($"n_words").as("words_sum"),
          countDistinct($"fp").as("n_unique_texts"))
        .select($"n_docs", $"n_langs", $"n_sources", $"chars_sum",
          $"words_sum", $"n_unique_texts",
          floor(($"n_docs" - $"n_unique_texts") * 10000 / $"n_docs")
            .as("dup_x10000"),
          expr("(chars_sum * 100) div n_docs").as("mean_chars_x100"))
    }),

    // Bigram PMI collocation mining (the classic phrase-detection
    // metric, Mikolov-style phrase learning): pmi = ln(N·c(ab)/(c(a)·
    // c(b))) over corpus bigrams with count ≥ 5, top-25. Unigram and
    // bigram counts are two partial-agg explodes; the PMI join runs on
    // the VOCAB-sized bigram table (never the corpus), N broadcasts as
    // one row; ln quantizes ×1e6 once per surviving bigram.
    "x_ngram_pmi" -> ((s, d) => {
      import s.implicits._
      val base = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", words($"text").as("w"))
      val toks = base.select(explode($"w").as("t"))
      val uni = toks.groupBy($"t").agg(count(lit(1)).as("c"))
      val nn = toks.agg(count(lit(1)).as("n"))
      val big = base.filter(size($"w") >= 2)
        .select(explode(transform(sequence(lit(1), size($"w") - 1),
          i => struct(element_at($"w", i).as("a"),
            element_at($"w", i + 1).as("b")))).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(count(lit(1)).as("cab"))
        .filter($"cab" >= 5)
      val ua = uni.select($"t".as("a"), $"c".as("ca"))
      val ub = uni.select($"t".as("b"), $"c".as("cb"))
      big.join(ua, Seq("a")).join(ub, Seq("b"))
        .crossJoin(broadcast(nn))
        .select($"a", $"b", $"cab",
          floor(log($"n".cast("double") * $"cab" / ($"ca" * $"cb")) * 1e6)
            .cast("long").as("pmi_x1e6"))
        .orderBy($"pmi_x1e6".desc, $"a", $"b")
        .limit(25)
    }),

    // The SQL front-end surface: the same Catalyst plans are reachable
    // through `spark.sql` over registered views — TPC-H Q6 (the
    // scan-filter-aggregate forecast query) runs as literal SQL text
    // and gates against the DuckDB oracle like every DataFrame query.
    "q6_revenue_forecast_sql" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT CAST(floor(sum(l_extendedprice * l_discount) * 10000
             + 0.5) AS BIGINT) AS revenue_x10000,
           count(*) AS n_rows
         FROM lineitem_v
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""")
    }),

    // Schema-evolution read: two engine-written parquet batches with
    // DIFFERENT schemas (the second adds a quality column) merge under
    // mergeSchema with null backfill for the early batch — the
    // add-a-column migration every long-lived 100 TB table goes
    // through, gated on the merged aggregate.
    "c25_schema_evolution" -> ((s, d) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_evo").toString
      val docs = documents(s, d)
      docs.filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"lang", $"n_chars")
        .write.mode("overwrite").parquet(s"$tmp/batch=1")
      docs.filter($"doc_id" % 2 === 1)
        .select($"doc_id", $"lang", $"n_chars",
          expr("n_chars div 10").as("quality"))
        .write.mode("overwrite").parquet(s"$tmp/batch=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"),
          count($"quality").as("rows_with_quality"),
          sum(coalesce($"quality", lit(0L))).as("quality_sum"))
        .orderBy($"lang")
    }),

    // Rank-statistics window surface: percent_rank and cume_dist of
    // each doc's length within its language — windows partition BY
    // LANG (never a global sort); the exact (rank−1)/(n−1) and
    // rank/n rationals replay in any engine, ×10000-quantized.
    "x_cume_dist" -> ((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"n_chars")
      documents(s, d)
        .select($"doc_id", $"lang", $"n_chars")
        .withColumn("pr_x10000",
          floor(percent_rank().over(w) * 10000).cast("long"))
        .withColumn("cd_x10000",
          floor(cume_dist().over(w) * 10000).cast("long"))
        .orderBy($"lang", $"doc_id")
    }),

    // TPC-H Q4 shape — order-priority checking: orders in a date window
    // with at least one DELAYED line (shipped > 60 days after the order
    // date). The correlated EXISTS carries a non-equi residual across
    // BOTH sides (l_shipdate vs o_orderdate) — it must still plan as a
    // LEFT SEMI hash join on the order key with the residual attached,
    // never a per-order subquery replay.
    "q4_order_priority" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1996-07-01").cast("timestamp"))
      val l = lineitem(s, d).select($"l_orderkey", $"l_shipdate")
      o.join(l, $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAY"),
          "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy($"o_orderpriority")
    }),

    // TPC-H Q12 shape — two-bucket priority classification per return
    // flag: conditional CASE sums inside ONE aggregation (count_if
    // style), the canonical "pivot two classes without a pivot"
    // pattern; one hash join on the order key.
    "q12_return_priority" -> ((s, d) => {
      import s.implicits._
      val l = lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
        .select($"l_orderkey", $"l_returnflag")
      l.join(orders(s, d).select($"o_orderkey", $"o_orderpriority"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(
          sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy($"l_returnflag")
    }),

    // TPC-H Q14 shape — promo revenue share: a conditional-numerator /
    // total-denominator ratio inside one aggregation over a month of
    // shipments; the part dim broadcasts.
    "q14_promo_share" -> ((s, d) => {
      import s.implicits._
      val l = lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
      l.join(broadcast(part(s, d).select($"p_partkey", $"p_type")),
          $"l_partkey" === $"p_partkey")
        .agg(
          floor(sum(when($"p_type" === "PROMO", rev).otherwise(0.0)) * 100
            + 0.5).cast("long").as("promo_rev_x100"),
          floor(sum(rev) * 100 + 0.5).cast("long").as("total_rev_x100"),
          floor(sum(when($"p_type" === "PROMO", rev).otherwise(0.0)) *
            10000 / sum(rev)).cast("long").as("promo_share_x10000"),
          count(lit(1)).as("n_rows"))
    }),

    // TPC-H Q19 shape — disjunctive join predicates (OR of brand/size/
    // quantity conjunctions): Catalyst must still run ONE hash equi-join
    // on the part key and evaluate the disjunction as a residual, with
    // the common sub-predicates (size ≥ 1, quantity bounds) pushed
    // toward the scans — the classic test that an optimizer doesn't
    // fall back to a cartesian product on OR-heavy conditions.
    "q19_disjunctive_join" -> ((s, d) => {
      import s.implicits._
      val l = lineitem(s, d)
      val p = part(s, d)
      val cond =
        (p("p_brand") === "Brand#12" && p("p_size").between(1, 5) &&
          l("l_quantity").between(1, 11)) ||
        (p("p_brand") === "Brand#23" && p("p_size").between(1, 10) &&
          l("l_quantity").between(10, 20)) ||
        (p("p_brand") === "Brand#34" && p("p_size").between(1, 15) &&
          l("l_quantity").between(20, 30))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey") && cond)
        .agg(count(lit(1)).as("n_rows"),
          floor(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")) * 100
            + 0.5).cast("long").as("revenue_x100"))
    }),

    // Last-touch attribution: each purchase credits the latest click or
    // view in its trailing 7-day window. The touch→purchase pairing is
    // a user-keyed interval hash join; the winner per purchase is a
    // partial-aggregable max(struct(ts, id, type)) — NOT a row_number
    // window — so map-side combine trims candidates before the
    // exchange (the ad-tech staple, window-free at log scale).
    "x_attribution_last_touch" -> ((s, d) =>
      lastTouchAttribution(events(s, d))),

    // Event-sequence Markov transitions: consecutive event-type bigrams
    // per user (BY-USER lead window, never global) → transition counts
    // and row-normalized probabilities ×10000 — the session-flow model
    // behind funnel design.
    "x_markov_transitions" -> ((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val trans = events(s, d)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("nxt", lead($"event_type", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"event_type", $"nxt").agg(count(lit(1)).as("n"))
      val totals = trans.groupBy($"event_type").agg(sum($"n").as("tot"))
      trans.join(totals, Seq("event_type"))
        .select($"event_type", $"nxt", $"n",
          expr("(n * 10000) div tot").as("p_x10000"))
        .orderBy($"event_type", $"nxt")
    }),

    // Community-quality (modularity) contributions over the synthetic
    // link graph with a deterministic 7-way community assignment:
    // per community c, Q_c = e_c/m − (d_c/2m)² — internal edges via a
    // double label equi-join, degree sums via one partial agg; the two
    // FP divisions replay exactly, ×1e9-quantized. The clustering-
    // evaluation half of the graph suite (components/pagerank/
    // triangles/BFS are the algorithms; this scores a partition).
    "v_modularity" -> ((s, d) => {
      import s.implicits._
      val e = linkGraphEdges(documents(s, d)).localCheckpoint(false)
      val m = e.agg(count(lit(1)).as("m"))
      val deg = e.select($"a".as("v")).union(e.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("dg"))
      val com = deg.select($"v", ($"v" % 7).as("c"), $"dg")
      val ca = com.select($"v".as("a"), $"c".as("ca"))
      val cb = com.select($"v".as("b"), $"c".as("cb"))
      val ein = e.join(ca, "a").join(cb, "b").filter($"ca" === $"cb")
        .groupBy($"ca".as("c")).agg(count(lit(1)).as("ec"))
      val dsum = com.groupBy($"c").agg(sum($"dg").as("dc"))
      dsum.join(ein, Seq("c"), "left")
        .crossJoin(broadcast(m))
        .select($"c", coalesce($"ec", lit(0L)).as("internal_edges"),
          $"dc".as("degree_sum"),
          floor((coalesce($"ec", lit(0L)).cast("double") / $"m" -
            ($"dc".cast("double") / (lit(2) * $"m")) *
            ($"dc".cast("double") / (lit(2) * $"m"))) * 1e9)
            .cast("long").as("contrib_x1e9"))
        .orderBy($"c")
    }),

    // TPC-H Q10 shape — returned-item revenue per customer, top 20:
    // broadcast customer dim, date-windowed orders, flag-filtered
    // lineitem, one partial agg, bounded TakeOrdered.
    "q10_returned_items" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1996-07-01").cast("timestamp"))
        .select($"o_orderkey", $"o_custkey")
      val l = lineitem(s, d).filter($"l_returnflag" === "R")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(customer(s, d).select($"c_custkey", $"c_name")),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_custkey", $"c_name")
        .agg(floor(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")) *
          100 + 0.5).cast("long").as("revenue_x100"))
        .orderBy($"revenue_x100".desc, $"c_custkey")
        .limit(20)
    }),

    // TPC-H Q15 shape — top supplier(s) by quarterly revenue: the
    // per-supplier aggregate compares against its own 1-row broadcast
    // maximum in integer cents (the "view + scalar aggregate equality"
    // pattern, decorrelated).
    "q15_top_supplier" -> ((s, d) => {
      import s.implicits._
      val rev = lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
        .groupBy($"l_suppkey")
        .agg(floor(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")) *
          100 + 0.5).cast("long").as("rev_x100"))
        .localCheckpoint(false)
      val mx = rev.agg(max($"rev_x100").as("mx"))
      rev.crossJoin(broadcast(mx)).filter($"rev_x100" === $"mx")
        .join(broadcast(supplier(s, d).select($"s_suppkey", $"s_name")),
          $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"rev_x100")
        .orderBy($"s_suppkey")
    }),

    // Integer half-life freshness decay: weight = 1e6 >> (age_days/7) —
    // exponential decay as PURE bit shifts (no exp(), so the score
    // replays exactly in any engine); the recency weighting a crawl
    // scheduler or feed ranker applies, summed per event type. One scan
    // + a 1-row max-ts broadcast.
    "x_freshness_decay" -> ((s, d) => {
      import s.implicits._
      val mx = events(s, d).agg(max($"ts").as("m"))
      events(s, d).crossJoin(broadcast(mx))
        .select($"event_type", datediff($"m", $"ts").as("age"))
        .select($"event_type",
          expr("shiftright(1000000L, cast(age div 7 as int))").as("wt"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"wt").as("decayed_x1e6"))
        .orderBy($"event_type")
    }),

    // Deterministic ordered aggregation digest: per source, the md5 of
    // the comma-joined ORDERED doc-id list — the cheap content-manifest
    // a replication check compares across clusters. sort_array sorts
    // the collected LONGS (numeric order, matching the oracle's ORDER
    // BY) before stringification.
    "c26_ordered_digest" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .groupBy($"source")
        .agg(md5(array_join(transform(sort_array(collect_list($"doc_id")),
            x => x.cast("string")), ",").cast("binary")).as("digest"),
          count(lit(1)).as("n"))
        .orderBy($"source")
    }),

    // Typed cogroup (KeyValueGroupedDataset.cogroup): per user, merge
    // the click and purchase streams with imperative per-key logic — a
    // sorted click array + binary search answers "purchase preceded by
    // a click within 1 hour" in O(log c) per purchase. The API surface
    // for per-key merge logic that outgrows SQL; state is one user's
    // events at a time, co-partitioned by the cogroup shuffle.
    "x_cogroup_merge" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"user_id",
        unix_micros($"ts").as("ts_us"), $"event_type")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts_us").as[(Long, Long)]
      val purch = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts_us").as[(Long, Long)]
      clicks.groupByKey(_._1).cogroup(purch.groupByKey(_._1)) {
        (user, cs, ps) =>
          val cl = cs.map(_._2).toArray.sorted
          val plist = ps.map(_._2).toList
          if (plist.isEmpty) Iterator.empty
          else {
            val qualified = plist.count { pt =>
              val lo = pt - 3600L * 1000000L
              var i = java.util.Arrays.binarySearch(cl, lo)
              if (i < 0) i = -i - 1
              i < cl.length && cl(i) < pt
            }
            Iterator((user, plist.size.toLong, qualified.toLong))
          }
      }.toDF("user_id", "n_purchases", "qualified")
        .orderBy($"user_id")
    }),

    // Code-vs-prose detection (the curation signal that routes source
    // files away from prose pipelines): deterministic synthetic code is
    // appended to every 7th doc (the x_pii_scrub recipe), then flagged
    // by the special-character density ratio — pure codegen'd regex
    // counting, one scan.
    "x_code_detection" -> ((s, d) => {
      import s.implicits._
      val doc = documents(s, d).select($"doc_id",
        when($"doc_id" % 7 === 0,
          concat($"text", lit(" if (x == 1) { y = f(x); } // end")))
          .otherwise($"text").as("t"))
      doc.select($"doc_id",
          size(regexp_extract_all($"t", lit("[{};=()]"), lit(0)))
            .cast("long").as("specials"),
          length($"t").cast("long").as("len"))
        .select($"doc_id", $"specials", $"len",
          when($"specials" * 1000 >= $"len" * 10, 1L).otherwise(0L)
            .as("code_flag"))
        .orderBy($"doc_id")
    }),

    // Snapshot ROLLBACK plan (the lakehouse RESTORE): the inverse change
    // set that returns the T2 state to T1 — keys added since T1 emit a
    // delete, keys removed or changed emit an upsert of their T1 value.
    // Pure plan computation over the two window-free as-of folds + one
    // full-outer diff; data is never rewritten to plan the restore.
    "c27_rollback_plan" -> ((s, d) => {
      import s.implicits._
      val changes = events(s, d).select(
        ($"user_id" % 50).as("k"), $"ts", $"event_id".as("change_id"),
        when($"event_type" === "error", "delete").otherwise("upsert").as("op"),
        floor($"value" * 100 + 0.5).cast("long").as("val_cents"))
      def asof(t: String) = cdcSnapshot(
        changes.filter($"ts" <= lit(t).cast("timestamp")))
      val s1 = asof("2024-01-15").select($"k",
        $"last_change".as("ch1"), $"last_val_cents".as("v1"))
      val s2 = asof("2024-01-25").select($"k",
        $"last_change".as("ch2"), $"last_val_cents".as("v2"))
      s1.join(s2, Seq("k"), "full_outer")
        .filter($"ch1".isNull || $"ch2".isNull || $"ch1" =!= $"ch2")
        .select($"k",
          when($"ch1".isNull, "delete").otherwise("upsert").as("action"),
          coalesce($"v1", lit(0L)).as("target_val_cents"))
        .orderBy($"k")
    }),

    // TPC-H Q5 shape — local-supplier volume: the six-table star join
    // (customer⋈orders⋈lineitem⋈supplier⋈nation⋈region) with the
    // same-nation residual between customer and supplier. The three
    // tiny dims broadcast; the two fact joins are the only shuffles;
    // the region/date filters push to their scans.
    "q5_local_volume" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_custkey")
      val c = customer(s, d).select($"c_custkey", $"c_nationkey")
      val l = lineitem(s, d)
        .select($"l_orderkey", $"l_suppkey", $"l_extendedprice",
          $"l_discount")
      val sup = supplier(s, d).select($"s_suppkey", $"s_nationkey")
      val nr = nation(s, d)
        .join(broadcast(region(s, d)
          .filter($"r_name".isin("AMERICA", "ASIA"))),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name")
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(sup), $"l_suppkey" === $"s_suppkey" &&
          $"c_nationkey" === $"s_nationkey")
        .join(broadcast(nr), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(floor(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")) *
          100 + 0.5).cast("long").as("revenue_x100"))
        .orderBy($"revenue_x100".desc, $"n_name")
    }),

    // TPC-H Q8 shape — national market share: one nation's fraction of
    // a region's spend on a part type, per year — the deepest join tree
    // in the suite (8 relations) ending in a conditional-share
    // aggregation; dims broadcast, facts shuffle once each.
    "q8_market_share" -> ((s, d) => {
      import s.implicits._
      val l = lineitem(s, d).select($"l_orderkey", $"l_partkey",
        $"l_suppkey", ($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("vol"))
      val p = part(s, d).filter($"p_type" === "STANDARD")
        .select($"p_partkey")
      val o = orders(s, d)
        .filter($"o_orderdate".between(
          lit("1995-01-01").cast("timestamp"),
          lit("1996-12-31").cast("timestamp")))
        .select($"o_orderkey", $"o_custkey",
          year($"o_orderdate").as("yr"))
      val c = customer(s, d).select($"c_custkey", $"c_nationkey")
      val n1r = nation(s, d)
        .join(broadcast(region(s, d).filter($"r_name" === "AMERICA")),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey".as("cnat"))
      val sup = supplier(s, d).select($"s_suppkey", $"s_nationkey")
      val n2 = nation(s, d).select($"n_nationkey".as("snatkey"),
        $"n_name".as("supp_nation"))
      l.join(broadcast(p), $"l_partkey" === $"p_partkey")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n1r), $"c_nationkey" === $"cnat")
        .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(n2), $"s_nationkey" === $"snatkey")
        .groupBy($"yr")
        .agg(floor(sum(when($"supp_nation" === "NATION_7", $"vol")
            .otherwise(0.0)) * 10000 / sum($"vol")).cast("long")
            .as("share_x10000"),
          count(lit(1)).as("n"))
        .orderBy($"yr")
    }),

    // TPC-H Q7 shape — volume shipping between a nation PAIR in either
    // direction: the disjunctive cross-dim pair predicate rides two
    // broadcast nation joins as a residual; per (supplier-nation,
    // customer-nation, year) revenue.
    "q7_nation_volume" -> ((s, d) => {
      import s.implicits._
      val l = lineitem(s, d)
        .filter($"l_shipdate".between(
          lit("1995-01-01").cast("timestamp"),
          lit("1996-12-31").cast("timestamp")))
        .select($"l_orderkey", $"l_suppkey",
          year($"l_shipdate").as("yr"),
          ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("vol"))
      val sup = supplier(s, d).select($"s_suppkey", $"s_nationkey")
      val n1 = nation(s, d).select($"n_nationkey".as("snk"),
        $"n_name".as("supp_nation"))
      val o = orders(s, d).select($"o_orderkey", $"o_custkey")
      val c = customer(s, d).select($"c_custkey", $"c_nationkey")
      val n2 = nation(s, d).select($"n_nationkey".as("cnk"),
        $"n_name".as("cust_nation"))
      val pairOk =
        ($"supp_nation" === "NATION_3" && $"cust_nation" === "NATION_8") ||
        ($"supp_nation" === "NATION_8" && $"cust_nation" === "NATION_3")
      l.join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(n1), $"s_nationkey" === $"snk")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n2), $"c_nationkey" === $"cnk")
        .filter(pairOk)
        .groupBy($"supp_nation", $"cust_nation", $"yr")
        .agg(floor(sum($"vol") * 100 + 0.5).cast("long").as("revenue_x100"))
        .orderBy($"supp_nation", $"cust_nation", $"yr")
    }),

    // TPC-H Q13 shape — customer order-count distribution: the LEFT
    // OUTER join with an ON-clause residual (zero-order customers must
    // survive with count 0) folded into a two-level aggregation — the
    // histogram-of-group-sizes pattern.
    "q13_order_distribution" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d).filter($"o_orderpriority" =!= "1-URGENT")
        .select($"o_orderkey", $"o_custkey")
      customer(s, d).select($"c_custkey")
        .join(o, $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
        .limit(10)
    }),

    // Partition-pruned storage layout: write documents through the
    // engine's partitionBy(lang) writer, then read back ONLY two
    // partitions — PlanQualitySpec pins that the lang predicate lands in
    // PartitionFilters (directories skipped at planning time, the 100 TB
    // behavior: a partition-pruned scan never opens the other
    // partitions' files).
    "s_partitioned_prune" -> ((s, d) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
      documents(s, d).select($"doc_id", $"source", $"n_chars", $"lang")
        .write.mode("overwrite").partitionBy("lang").parquet(tmp)
      s.read.parquet(tmp)
        .filter($"lang".isin("en", "fr"))
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars_sum"))
        .orderBy($"lang", $"source")
    }),

    // CSV round trip through the engine's own writer/reader: doc text
    // with commas/quotes must survive quote-escaping byte-exactly — the
    // gate hashes the text after the round trip against the parquet
    // original. Explicit read schema (no inference pass over the data).
    "s_csv_roundtrip" -> ((s, d) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
      documents(s, d).select($"doc_id", $"lang", $"text")
        .write.mode("overwrite").option("header", "true")
        .option("escape", "\"")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false").csv(tmp)
      s.read
        .schema("doc_id LONG, lang STRING, text STRING")
        .option("header", "true").option("escape", "\"").csv(tmp)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"doc_id").as("sum_doc"),
          sum(conv(substring(md5($"text".cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash_sum"))
        .orderBy($"lang")
    }),

    // JSON-lines round trip (the interchange format of most public text
    // corpora): write + read with an explicit schema, then hash-audit
    // the text per source exactly like the CSV gate.
    "s_jsonl_roundtrip" -> ((s, d) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
      documents(s, d).select($"doc_id", $"source", $"text")
        .write.mode("overwrite").json(tmp)
      s.read
        .schema("doc_id LONG, source STRING, text STRING")
        .json(tmp)
        .groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"doc_id").as("sum_doc"),
          sum(conv(substring(md5($"text".cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash_sum"))
        .orderBy($"source")
    }),

    // TPC-H Q2 shape — minimum-cost supplier per part within a region:
    // the correlated MIN subquery decorrelated to a partial-aggregable
    // min(struct(cost, suppkey)) argmax. The schema carries no partsupp
    // table, so the part-supplier cost relation derives from lineitem
    // (min observed price cents per pair) — same shape, same plan
    // skeleton: derived ps → regional-supplier broadcast semi →
    // filtered-part broadcast semi → per-part argmax → winner re-join.
    "q2_min_cost_supplier" -> ((s, d) => {
      import s.implicits._
      val ps = lineitem(s, d)
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(min(floor($"l_extendedprice" * 100 + 0.5).cast("long"))
          .as("cost_x100"))
      val supEu = supplier(s, d)
        .join(broadcast(nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(region(s, d).filter($"r_name" === "EUROPE")),
          $"n_regionkey" === $"r_regionkey")
        .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
      val pfil = part(s, d)
        .filter($"p_type" === "LARGE" && $"p_size" <= 15)
        .select($"p_partkey", $"p_brand")
      val best = ps
        .join(broadcast(supEu.select($"s_suppkey")),
          $"l_suppkey" === $"s_suppkey")
        .join(broadcast(pfil), $"l_partkey" === $"p_partkey")
        .groupBy($"p_partkey", $"p_brand")
        .agg(min(struct($"cost_x100", $"l_suppkey")).as("best"))
      best
        .join(broadcast(supEu), $"best.l_suppkey" === $"s_suppkey")
        .select(floor($"s_acctbal" * 100 + 0.5).cast("long")
            .as("acctbal_x100"),
          $"s_name", $"n_name", $"p_partkey", $"p_brand",
          $"best.cost_x100".as("cost_x100"))
        .orderBy($"acctbal_x100".desc, $"s_name", $"p_partkey")
    }),

    // TPC-H Q9 shape — product-line profit by nation and year: fact ⋈
    // filtered-part ⋈ supplier ⋈ nation (all dims broadcast) ⋈ orders
    // (the one genuine shuffle join, orderkey↔orderkey), profit =
    // revenue − 0.4·retail·qty standing in for the partsupp supply
    // cost. Two-level money: per-row exact cents, floored once at the
    // aggregate like every other revenue gate.
    "q9_product_profit" -> ((s, d) => {
      import s.implicits._
      val p = part(s, d).filter($"p_name".contains("an"))
        .select($"p_partkey", $"p_retailprice")
      val sup = supplier(s, d).select($"s_suppkey", $"s_nationkey")
      val n = nation(s, d).select($"n_nationkey", $"n_name")
      val o = orders(s, d).select($"o_orderkey", year($"o_orderdate").as("yr"))
      lineitem(s, d)
        .join(broadcast(p), $"l_partkey" === $"p_partkey")
        .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"n_name", $"yr")
        .agg(floor(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") -
            lit(0.4) * $"p_retailprice" * $"l_quantity") * 100 + 0.5)
          .cast("long").as("profit_x100"),
          count(lit(1)).as("n"))
        .orderBy($"n_name", $"yr".desc)
    }),

    // TPC-H Q11 shape — "important stock" value concentration: per-part
    // value restricted to one region's suppliers, kept only where it
    // exceeds 1.5× the MEAN per-part value — the scalar aggregate
    // subquery decorrelated to a 1-row broadcast. The mean-relative
    // threshold (2·value·n > 3·total, integer cents, no division) is
    // scale-free: it selects the top tail at every SF, where TPC-H's
    // fixed fraction goes empty as the part count grows.
    "q11_important_stock" -> ((s, d) => {
      import s.implicits._
      val supR = supplier(s, d)
        .join(broadcast(nation(s, d).filter($"n_regionkey" === 3)),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey")
      val v = lineitem(s, d)
        .join(broadcast(supR), $"l_suppkey" === $"s_suppkey")
        .groupBy($"l_partkey")
        .agg(sum(floor($"l_extendedprice" * 100 + 0.5).cast("long"))
          .as("value_x100"))
        .localCheckpoint(false)
      val tot = v.agg(sum($"value_x100").as("tot"),
        count(lit(1)).as("nparts"))
      v.crossJoin(broadcast(tot))
        .filter($"value_x100" * $"nparts" * 2 > $"tot" * 3)
        .select($"l_partkey", $"value_x100")
        .orderBy($"value_x100".desc, $"l_partkey")
    }),

    // TPC-H Q16 shape — supplier diversity per (brand, type, size) with
    // an excluded-supplier anti-join: distinct part-supplier pairs from
    // the fact table, complaint suppliers (deterministic key-mod stand-in)
    // removed BEFORE the count-distinct aggregate, NOT-IN folded to a
    // broadcast left-anti hash join.
    "q16_supplier_cnt" -> ((s, d) => {
      import s.implicits._
      val excl = supplier(s, d).filter($"s_suppkey" % 4 === 0)
        .select($"s_suppkey")
      val pfil = part(s, d)
        .filter($"p_brand" =!= "Brand#13" && !$"p_type".startsWith("PROMO") &&
          $"p_size".isin(1, 4, 7, 10, 13, 16, 19, 22))
        .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
      lineitem(s, d).select($"l_partkey", $"l_suppkey").distinct()
        .join(broadcast(excl), $"l_suppkey" === $"s_suppkey", "left_anti")
        .join(broadcast(pfil), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
    }),

    // TPC-H Q20 shape — excess-availability suppliers: the two nested
    // IN subqueries (parts by name prefix; availability vs a half-year
    // shipped threshold) decorrelated into ONE conditional-aggregate
    // scan over lineitem — avail and windowed quantity come out of the
    // same groupBy, so the correlated comparison is a plain filter, and
    // the qualifying pairs semi-join down to distinct suppliers.
    "q20_excess_avail" -> ((s, d) => {
      import s.implicits._
      val in96 = $"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp")
      val ps = lineitem(s, d)
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(sum($"l_quantity").cast("long").as("avail"),
          sum(when(in96, $"l_quantity").otherwise(0.0)).cast("long")
            .as("q96"))
        .filter($"q96" > 0 && $"avail" > $"q96" * 2)
      val pblue = part(s, d).filter($"p_name".startsWith("blue"))
        .select($"p_partkey")
      val qualSupp = ps
        .join(broadcast(pblue), $"l_partkey" === $"p_partkey")
        .select($"l_suppkey").distinct()
      supplier(s, d)
        .join(qualSupp, $"s_suppkey" === $"l_suppkey", "left_semi")
        .join(broadcast(nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"n_name")
        .orderBy($"s_suppkey")
    }),

    // Gap-based batch sessionization: a session starts when a user's
    // inter-event gap exceeds 8 hours; session id = running count of
    // starts (lag + cumulative sum over the SAME per-user ordering),
    // then per-session stats. Both windows partition by user_id, so the
    // whole query costs ONE shuffle — the session assignment never sees
    // another user's rows, which is exactly what lets it scale per-key.
    "x_sessionize" -> ((s, d) => {
      import s.implicits._
      sessionize(events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
          $"event_type"))
        .orderBy($"user_id", $"session_start_us")
    }),

    // Blocked fuzzy matching (entity-resolution core): candidate pairs
    // form only WITHIN a blocking key (the name's final token), then
    // exact edit distance ≤ 4 scores them. The self-join runs over
    // DISTINCT names — the pair space is bounded by the name vocabulary
    // squared per block, not corpus rows squared, which is the standard
    // blocking contract at scale.
    "x_fuzzy_match" -> ((s, d) => {
      import s.implicits._
      val names = part(s, d).select($"p_name").distinct()
        .select($"p_name", element_at(split($"p_name", " "), -1).as("blk"))
        .localCheckpoint(false)
      val a = names.select($"blk", $"p_name".as("name_a"))
      val b = names.select($"blk", $"p_name".as("name_b"))
      a.join(b, Seq("blk"))
        .filter($"name_a" < $"name_b")
        .withColumn("lev", levenshtein($"name_a", $"name_b"))
        .filter($"lev" <= 4)
        .select($"blk", $"name_a", $"name_b", $"lev".cast("long").as("lev"))
        .orderBy($"blk", $"name_a", $"name_b")
    }),

    // Weighted single-source shortest paths, 3 relaxation rounds
    // (Bellman-Ford over the Pregel-style frontier): each round joins
    // the current distance table against the directed edge list, unions
    // the relaxed candidates, and folds min per node — equi-joins and a
    // partial-aggregable min only, the iterative-graph twin of
    // v_pagerank/v_bfs_hops with per-edge costs. Deterministic integer
    // weights w = (a+b) % 7 + 1 over the shared synthetic link graph.
    "v_sssp" -> ((s, d) => {
      import s.implicits._
      val edges = linkGraphEdges(documents(s, d))
        .select($"a", $"b", (($"a" + $"b") % 7 + 1).as("w"))
        .localCheckpoint(false)
      val dir = edges.select($"a".as("u"), $"b".as("v"), $"w")
        .union(edges.select($"b".as("u"), $"a".as("v"), $"w"))
      var dist = documents(s, d).filter($"doc_id" === 0)
        .select($"doc_id".as("v"), lit(0L).as("dist"))
      for (i <- 1 to 3) {
        val relaxed = dist.join(dir, dist("v") === dir("u"))
          .select(dir("v").as("v"), (dist("dist") + dir("w")).as("dist"))
        dist = dist.union(relaxed)
          .groupBy($"v").agg(min($"dist").as("dist"))
        // Checkpoint the CLOSED rounds (each feeds two consumers next
        // round); the last stays lazy so its join + min-fold plan is
        // the query's own.
        if (i < 3) dist = dist.localCheckpoint(false)
      }
      dist.orderBy($"v")
    }),

    // Deterministic stratified sampling: 5 docs per language, ranked by
    // a 48-bit md5 prefix (pseudo-random but replayable; 48 bits stays
    // exact in the aggregate's double score). Runs through the
    // bounded-heap TopKAgg — O(k) state per stratum and NO ranking
    // window, so the sample never sorts a partition's full row set.
    "x_stratified_sample" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"lang", $"doc_id",
          conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 12),
            16, 10).cast("long").as("h"))
        .groupBy($"lang")
        .agg(graft.operators.TopKAgg.topKByScore(-$"h".cast("double"),
          $"doc_id", 5).as("top"))
        .select($"lang", posexplode($"top").as(Seq("i", "e")))
        .select($"lang", ($"i" + 1).cast("long").as("rk"),
          $"e.id".as("doc_id"), (-$"e.score").cast("long").as("h"))
        .orderBy($"lang", $"rk")
    }),

    // Semi-supervised label propagation, 2 synchronous rounds: seeds
    // (doc_id % 10 = 0, label = doc_id % 3) stay fixed; an unlabeled
    // node adopts the most common label among its labeled neighbors,
    // ties to the SMALLEST label (argmax by max(struct(cnt, -label)) —
    // partial-aggregable, window-free). Per round: one equi-join of the
    // current label table against the directed edge list + two hash
    // aggregates — the sync-round structure every Pregel label spread
    // runs at scale.
    "v_label_prop" -> ((s, d) => {
      import s.implicits._
      val edges = linkGraphEdges(documents(s, d)).localCheckpoint(false)
      val dir = edges.select($"a".as("u"), $"b".as("v"))
        .union(edges.select($"b".as("u"), $"a".as("v")))
      var labels = documents(s, d).filter($"doc_id" % 10 === 0)
        .select($"doc_id".as("v"), ($"doc_id" % 3).as("lbl"))
        .localCheckpoint(false)
      for (i <- 1 to 2) {
        val votes = labels.join(dir, labels("v") === dir("u"))
          .select(dir("v").as("v"), labels("lbl").as("lbl"))
          .groupBy($"v", $"lbl").agg(count(lit(1)).as("cnt"))
        val adopted = votes.groupBy($"v")
          .agg(max(struct($"cnt", (-$"lbl").as("neg"))).as("best"))
          .select($"v", (-$"best.neg").as("lbl"))
          .join(labels.select($"v"), Seq("v"), "left_anti")
        labels = labels.union(adopted)
        if (i < 2) labels = labels.localCheckpoint(false)
      }
      labels.orderBy($"v")
    }),

    // Trailing-7-day distinct active users per day (rolling DAU): each
    // event fans out to the 7 window-end days it participates in
    // (explode over a 0..6 offset), then distinct (day, user) + count —
    // the shuffle carries distinct pairs with partial aggregation, where
    // the naive per-day self-join re-scans the fact table 7×. Window
    // ends are restricted to days that actually occur.
    "x_rolling_dau" -> ((s, d) => {
      import s.implicits._
      rollingDau(events(s, d).select(to_date($"ts").as("day"), $"user_id"))
        .select(date_format($"wday", "yyyy-MM-dd").as("day"), $"dau7")
        .orderBy($"day")
    }),

    // Data-quality constraint audit (the Deequ/dbt-tests shape): every
    // row-level expectation over orders — null keys, value range,
    // domain membership, date bounds — evaluates in ONE conditional-
    // aggregate scan producing a single row, unpivoted to one row per
    // constraint; the key-uniqueness expectation adds its own keyed
    // aggregate. At 100 TB the audit costs one pass plus one shuffle
    // on the unique-key check, independent of how many expectations run.
    "c28_constraint_audit" -> ((s, d) => {
      import s.implicits._
      val o = orders(s, d)
      val rowChecks = o.agg(
        count(lit(1)).as("checked"),
        sum(when($"o_orderkey".isNull || $"o_custkey".isNull, 1L)
          .otherwise(0L)).as("null_keys"),
        sum(when($"o_totalprice" <= 0, 1L).otherwise(0L)).as("bad_price"),
        sum(when(!$"o_orderstatus".isin("F", "O", "P"), 1L).otherwise(0L))
          .as("bad_status"),
        sum(when($"o_orderdate" < lit("1990-01-01").cast("timestamp") ||
          $"o_orderdate" >= lit("2010-01-01").cast("timestamp"), 1L)
          .otherwise(0L)).as("bad_date"))
      val dupKeys = o.groupBy($"o_orderkey")
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("checked"),
          sum(when($"c" > 1, $"c").otherwise(0L)).as("violations"))
        .select(lit("unique_orderkey").as("constraint_name"), $"violations",
          $"checked")
      rowChecks
        .select(explode(array(
          struct(lit("not_null_keys").as("constraint_name"),
            $"null_keys".as("violations"), $"checked"),
          struct(lit("positive_price").as("constraint_name"),
            $"bad_price".as("violations"), $"checked"),
          struct(lit("status_domain").as("constraint_name"),
            $"bad_status".as("violations"), $"checked"),
          struct(lit("date_bounds").as("constraint_name"),
            $"bad_date".as("violations"), $"checked"))).as("r"))
        .select($"r.constraint_name", $"r.violations", $"r.checked")
        .union(dupKeys)
        .orderBy($"constraint_name")
    }),

    // §2.8 — streaming rate-anomaly detection, batch replay: hourly
    // per-type counts flagged where a bucket exceeds 2× its trailing
    // 8-bucket average (integer cross-multiply, never a division; the
    // first 8 buckets can't flag). The trailing frame is a rows-window
    // per event_type over closed buckets — StreamOpsSpec pins
    // StreamOps.anomalyStream (O(window) ring state per key via
    // flatMapGroupsWithState) equal to this shape across micro-batches.
    "w_stream_anomaly" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val buckets = events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).as("cnt"))
      val tw = Window.partitionBy($"event_type").orderBy($"hr")
        .rowsBetween(-8, -1)
      buckets
        .withColumn("trail_n", count(lit(1)).over(tw))
        .withColumn("trail_sum_raw", coalesce(sum($"cnt").over(tw), lit(0L)))
        .select($"event_type",
          date_format($"hr", "yyyy-MM-dd HH:mm").as("hr"), $"cnt",
          when($"trail_n" === 8, $"trail_sum_raw").otherwise(0L)
            .as("trail_sum"),
          $"trail_n",
          when($"trail_n" === 8 && $"cnt" * 8 > $"trail_sum_raw" * 2, 1L)
            .otherwise(0L).as("flag"))
        .orderBy($"event_type", $"hr")
    }),

    // k-anonymity audit (the privacy gate before a corpus release):
    // group sizes over the quasi-identifier tuple (lang, source,
    // length-centile bin); per (lang, source) the count of
    // re-identifiable groups (size < k = 5) and the rows suppression
    // would drop. Two chained hash aggregates, both partial-aggregable
    // — one corpus scan at any scale.
    "x_group_anonymity" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .groupBy($"lang", $"source", expr("n_chars div 100").as("size_bin"))
        .agg(count(lit(1)).as("c"))
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_groups"),
          sum(when($"c" < 5, 1L).otherwise(0L)).as("risky_groups"),
          sum(when($"c" < 5, $"c").otherwise(0L)).as("suppressed_rows"))
        .orderBy($"lang", $"source")
    }),

    // 2D Pareto frontier (skyline): parts no other part dominates
    // (retail price ≥, size ≤, one strict). Two-phase, never all-pairs:
    // a LOCAL skyline per hash bucket (running-min window inside the
    // bucket — anything locally dominated is globally dominated, so
    // pruning is lossless) shrinks n to the survivors (O(log n)
    // expected on unclustered data), then the exact global windows run
    // over that small set — where the textbook dominance test is an
    // all-pairs theta join. Price in exact cents so the range frame's
    // "strictly higher" boundary is integral.
    "x_pareto_frontier" -> ((s, d) => {
      import s.implicits._
      paretoFrontier(part(s, d).select($"p_partkey".as("id"), $"p_name",
          $"p_size",
          floor($"p_retailprice" * 100 + 0.5).cast("long").as("price_x100")))
        .select($"id".as("p_partkey"), $"p_name", $"price_x100",
          $"p_size".cast("long").as("p_size"))
        .orderBy($"price_x100".desc, $"p_partkey")
    }),

    // Rolling-DAU sketch path: the x_rolling_dau fan-out with
    // approx_count_distinct (HLL++) next to the exact count, banded —
    // hll_ok pins |sketch − exact| ≤ max(2, 5%·exact) as a LITERAL 1 in
    // the oracle, so the gate fails if sketch quality drifts. At 100 TB
    // only the mergeable sketch survives: per-day HLL registers shuffle
    // O(1) per (day, register) where exact distinct shuffles every
    // (day, user) pair.
    "x_rolling_dau_hll" -> ((s, d) => {
      import s.implicits._
      // dedup to (day, user) BEFORE the ×7 window fan-out: the explode
      // multiplies whatever feeds it, so distincting first shrinks both
      // the fan-out and the second distinct's exchange (shuffle fewer
      // bytes — the event table repeats (day, user) heavily)
      val du = events(s, d)
        .select(to_date($"ts").as("day"), $"user_id")
        .distinct().localCheckpoint(false)
      val days = du.select($"day").distinct()
      du.select(explode(sequence(lit(0), lit(6))).as("off"), $"day",
          $"user_id")
        .select(date_add($"day", $"off").as("wday"), $"user_id")
        // no explicit distinct on the fanned table (r20): BOTH downstream
        // aggregates are multiplicity-invariant — countDistinct dedups
        // (wday, user) in its own partial pass, and an HLL sketch of a
        // multiset equals the sketch of its set (duplicates rewrite the
        // same register with the same value) — so the former .distinct()
        // was a second full exchange of the ×7 table for byte-identical
        // output
        // the observed-day list is the build side, pinned: without the hint
        // AQE may instead broadcast the 7x fanned table when its stage
        // finishes first — a plan that drops both exchanges at small n but
        // ships O(events) to every task, and flips run to run
        .join(broadcast(days.select($"day".as("wday"))), Seq("wday"))
        .groupBy($"wday")
        .agg(countDistinct($"user_id").as("dau7"),
          approx_count_distinct($"user_id", 0.02).as("hll"))
        .select(date_format($"wday", "yyyy-MM-dd").as("day"), $"dau7",
          when(abs($"hll" - $"dau7") <=
            greatest(lit(2.0), $"dau7" * 0.05), 1L).otherwise(0L)
            .as("hll_ok"))
        .orderBy($"day")
    }),

    // Linear interpolation of hourly gaps (time-series repair, the
    // step past f_ffill): per user, purchase values land on a shared
    // hourly grid; missing hours fill linearly between the bracketing
    // observations (integer cents, floor'd once), edges carry the
    // nearest observation. SEGMENT EXPLODE, not grid windows: the only
    // window pass (lead/lag, one spec) runs over the OBSERVATIONS —
    // tiny vs the grid — and each obs row then explodes its own slice
    // of the grid (leading edge for the user's first obs, itself, the
    // gap to the next obs or the trailing edge) with the interpolated
    // value computed inline. The dense user×hour grid is never joined,
    // never window-sorted; the one grid-sized job left is the output
    // ORDER BY the oracle contract requires.
    "f_interpolate" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val obs = events(s, d).filter($"event_type" === "purchase")
        .groupBy($"user_id",
          (unix_micros(date_trunc("hour", $"ts")) / 3600000000L)
            .cast("long").as("h"))
        .agg(floor(avg($"value") * 100 + 0.5).cast("long").as("cents"))
        .localCheckpoint(false)
      val bounds = obs.agg(min($"h").as("h_lo"), max($"h").as("h_hi"))
      val w = Window.partitionBy($"user_id").orderBy($"h")
      val emptyHs = expr("CAST(array() AS ARRAY<BIGINT>)")
      obs.crossJoin(broadcast(bounds))
        .withColumn("nh", lead($"h", 1).over(w))
        .withColumn("nv", lead($"cents", 1).over(w))
        .withColumn("is_first", lag($"h", 1).over(w).isNull)
        .withColumn("hs", concat(
          when($"is_first" && $"h_lo" < $"h",
            sequence($"h_lo", $"h" - 1)).otherwise(emptyHs),
          array($"h"),
          when($"nh".isNotNull,
              when($"nh" > $"h" + 1, sequence($"h" + 1, $"nh" - 1))
                .otherwise(emptyHs))
            .otherwise(when($"h_hi" > $"h", sequence($"h" + 1, $"h_hi"))
              .otherwise(emptyHs))))
        .select($"user_id", $"h".as("ph"), $"cents", $"nh", $"nv",
          explode($"hs").as("h"))
        .select($"user_id", $"h",
          when($"h" <= $"ph" || $"nh".isNull, $"cents")
            .otherwise(($"cents" + floor((($"nv" - $"cents") *
              ($"h" - $"ph")).cast("double") / ($"nh" - $"ph")))
              .cast("long")).as("filled_cents"),
          when($"h" === $"ph", lit("obs"))
            .when($"h" > $"ph" && $"nh".isNotNull, lit("interp"))
            .otherwise(lit("edge")).as("src"))
        .orderBy($"user_id", $"h")
    }),

    // Time-respecting reachability (temporal graph): earliest-arrival
    // times from node 0 where a directed edge (u→v, t) is usable only
    // if t ≥ the arrival time at u — 3 relaxation rounds, each an
    // equi-join on u with the time constraint as a residual filter +
    // a partial-aggregable min fold. The v_sssp skeleton with temporal
    // path semantics (information-flow / contact-tracing reachability).
    "v_temporal_reach" -> ((s, d) => {
      import s.implicits._
      val nRow = documents(s, d).agg(count(lit(1)).as("n"))
      val edges = documents(s, d).select($"doc_id").crossJoin(broadcast(nRow))
        .select($"doc_id".as("u"), explode(array(
          ($"doc_id" * $"doc_id" + 37) % $"n",
          ($"doc_id" * $"doc_id" + 74) % $"n",
          ($"doc_id" * $"doc_id" + 111) % $"n")).as("v"))
        .filter($"u" =!= $"v")
        .select($"u", $"v", (($"u" * 7 + $"v") % 100).as("t"))
        .localCheckpoint(false)
      var arr = documents(s, d).filter($"doc_id" === 0)
        .select($"doc_id".as("v"), lit(0L).as("arr"))
      for (i <- 1 to 3) {
        val relaxed = arr.join(edges, arr("v") === edges("u"))
          .filter(edges("t") >= arr("arr"))
          .select(edges("v").as("v"), edges("t").as("arr"))
        arr = arr.union(relaxed)
          .groupBy($"v").agg(min($"arr").as("arr"))
        if (i < 3) arr = arr.localCheckpoint(false)
      }
      arr.orderBy($"v")
    }),

    // Mixture sampling to per-source token budgets (the data-mixing
    // step of LLM corpus assembly): each source class gets a budget
    // fraction (25/50/75% by source id mod 3), docs admit in md5 order
    // until the running total crosses it (take-until-crossing: the
    // first crossing doc is included). The cumulative sum partitions by
    // source — per-source state only; the budget table derives from a
    // partial-agg totals pass, broadcast back.
    "x_dataset_mixer" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, d).select($"doc_id", $"source", $"n_chars",
        md5($"doc_id".cast("string").cast("binary")).as("h"))
      val budgets = docs.groupBy($"source")
        .agg(sum($"n_chars").as("total_chars"))
        .select($"source", $"total_chars",
          expr("(total_chars * (cast(substring(source, 4, 10) as bigint)" +
            " % 3 + 1)) div 4").as("budget_chars"))
      val w = Window.partitionBy($"source").orderBy($"h", $"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.join(broadcast(budgets), Seq("source"))
        .withColumn("cum_excl", coalesce(sum($"n_chars").over(w), lit(0L)))
        .filter($"cum_excl" < $"budget_chars")
        .groupBy($"source")
        .agg(count(lit(1)).as("docs_kept"), sum($"n_chars").as("chars_kept"),
          first($"budget_chars").as("budget_chars"))
        .orderBy($"source")
    }),

    // Source vocabulary-overlap matrix (near-duplicate SOURCE
    // detection): per source pair, the Jaccard of distinct token sets
    // ×10000 — the corpus-level contamination fingerprint. Token-keyed
    // equi-join over the distinct (source, token) table: the pair space
    // per token is bounded by the source count, the token table by the
    // vocabulary — never corpus-quadratic.
    "x_source_overlap" -> ((s, d) => {
      import s.implicits._
      val tok = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"source", explode(words($"text")).as("tk"))
        .filter($"tk" =!= "").distinct()
        .localCheckpoint(false)
      val sizes = tok.groupBy($"source").agg(count(lit(1)).as("nt"))
      val inter = tok.select($"source".as("sa"), $"tk")
        .join(tok.select($"source".as("sb"), $"tk"), Seq("tk"))
        .filter($"sa" < $"sb")
        .groupBy($"sa", $"sb").agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select($"source".as("sa"), $"nt".as("na"))),
          Seq("sa"))
        .join(broadcast(sizes.select($"source".as("sb"), $"nt".as("nb"))),
          Seq("sb"))
        .select($"sa", $"sb", $"inter",
          floor(lit(10000.0) * $"inter" / ($"na" + $"nb" - $"inter") + 0.5)
            .cast("long").as("jacc_x10000"))
        .orderBy($"sa", $"sb")
    }),

    // Zonal statistics over the shared synthetic raster (m8/m9's 4
    // tiles of 32×32): pixels map to zones that CUT ACROSS block
    // boundaries (11-row × 16-col bands), so each block explodes to
    // per-pixel rows carrying global coordinates and zone stats fold
    // with partial aggregation — the explode-then-partial-agg shape is
    // exactly how zonal stats distribute when zone geometries ignore
    // the tile grid.
    "m11_zonal_stats" -> ((s, d) => {
      import s.implicits._
      val blocks = s.range(0, 64).select(
        ($"id" / 16).cast("long").as("tile"),
        (($"id" / 4) % 4).cast("long").as("by"),
        ($"id" % 4).as("bx"))
        .select($"tile", $"by", $"bx",
          posexplode(transform(sequence(lit(0), lit(63)), { i =>
            val y = $"by" * 8 + floor(i.cast("double") / 8).cast("long")
            val x = $"bx" * 8 + i.cast("long") % 8
            ($"tile" * 31 + y * 7 + x * 13) % 256
          })).as(Seq("i", "v")))
      blocks
        .select($"tile",
          expr("(by * 8 + i div 8) div 11").as("zy"),
          expr("(bx * 8 + i % 8) div 16").as("zx"), $"v")
        .groupBy($"tile", $"zy", $"zx")
        .agg(count(lit(1)).as("n_px"), sum($"v").as("px_sum"),
          min($"v").as("px_min"), max($"v").as("px_max"))
        .orderBy($"tile", $"zy", $"zx")
    }),

    // Positional phrase search ("window join" as an exact phrase): the
    // positional-postings index shape — (doc, position, term) rows from
    // one posexplode, term-filtered BEFORE any join (the index is
    // term-selective), adjacency by an equi-join on (doc, pos+1).
    // Distinct from the bag-of-words BM25 gate: phrase semantics need
    // positions, and the join carries only the two terms' postings.
    "x_phrase_search" -> ((s, d) => {
      import s.implicits._
      val postings = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", posexplode(words($"text")).as(Seq("pos", "tk")))
        .filter($"tk".isin("window", "join"))
        .localCheckpoint(false)
      val p1 = postings.filter($"tk" === "window")
        .select($"doc_id", ($"pos" + 1).as("nxt"))
      val p2 = postings.filter($"tk" === "join")
        .select($"doc_id", $"pos".as("nxt"))
      p1.join(p2, Seq("doc_id", "nxt"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_matches"),
          (min($"nxt") - 1).cast("long").as("first_pos"))
        .orderBy($"doc_id")
    }),

    // Point-in-time training-set assembly (feature-store semantics):
    // features aggregate STRICTLY up to the cutoff, the churn label
    // comes only from the following 7 days — the leakage-free temporal
    // split every production ML pipeline needs. Two conditional-
    // aggregate passes over one scan (the label is a filtered
    // aggregate, not a second scan), keyed once per user.
    "x_feature_snapshot" -> ((s, d) => {
      import s.implicits._
      val cutoff = lit("2024-01-24").cast("timestamp")
      val horizon = lit("2024-01-31").cast("timestamp")
      events(s, d)
        .filter($"ts" < horizon)
        .groupBy($"user_id")
        .agg(
          sum(when($"ts" <= cutoff, 1L).otherwise(0L)).as("n_events"),
          sum(when($"ts" <= cutoff && $"event_type" === "purchase", 1L)
            .otherwise(0L)).as("n_purchases"),
          sum(when($"ts" <= cutoff, floor($"value" * 100 + 0.5))
            .otherwise(0L)).cast("long").as("value_cents"),
          max(when($"ts" <= cutoff, unix_micros($"ts"))).as("last_seen_us"),
          max(when($"ts" > cutoff && $"event_type" === "purchase", 1L)
            .otherwise(0L)).as("label_purchase_7d"))
        .filter($"n_events" > 0)
        .orderBy($"user_id")
    }),

    // k-core decomposition (k=4), 3 peel rounds: drop nodes whose
    // degree falls below k, restrict the edge set to survivors (two
    // semi joins), recount — the iterative-peel structure that finds
    // the dense backbone of a graph. Each round is partial-agg degree
    // counts + keyed semi joins; rounds checkpoint so the edge subtree
    // never replays.
    "v_kcore" -> ((s, d) => {
      import s.implicits._
      kcore(linkGraphEdges(documents(s, d)), k = 4, rounds = 3)
        .orderBy($"v")
    }),

    // SQL front-end window query (literal spark.sql over a registered
    // view): top-3 orders per customer by ranking window — the
    // q6_revenue_forecast_sql twin for the WINDOW surface, proving the
    // SQL entry point plans/executes ranked queries identically to the
    // DataFrame API.
    "q_sql_topn" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c_custkey, o_orderkey, price_x100, rk FROM (
             SELECT o_custkey AS c_custkey, o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_x100,
               CAST(row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
             FROM orders_v) t
           WHERE rk <= 3 ORDER BY c_custkey, rk""")
    }),

    // MinHash signature MERGEABILITY (the property that makes the dedup
    // index incremental): sig(A ∪ B) = elementwise min of sig(A) and
    // sig(B). Shingles split by hash parity into two deltas, signatures
    // built per delta, merged via least() — merged_ok pins equality
    // with the directly-built signature for every doc (oracle replays
    // it as LITERAL 1, so the gate fails if merging ever diverges).
    // This is why a 100 TB corpus updates its MinHash index by folding
    // per-batch signatures instead of re-sketching history.
    "x_minhash_incremental" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val sh = Pipeline.bigramShingles(docs).localCheckpoint(false)
      val direct = Pipeline.minhashSigsFromShingles(sh)
      val parity = substring(md5($"s".cast("binary")), 1, 1) < "8"
      def renamed(df: DataFrame, p: String) =
        df.select($"doc_id" +: (0 until 8).map(j =>
          col(s"m$j").as(s"$p$j")): _*)
      val sigA = renamed(Pipeline.minhashSigsFromShingles(
        sh.filter(parity)), "a")
      val sigB = renamed(Pipeline.minhashSigsFromShingles(
        sh.filter(!parity)), "b")
      // Long.MaxValue exceeds every g_j < 2³⁵ — an absent delta never wins
      val ok = (0 until 8).map(j =>
        col(s"m$j") === least(coalesce(col(s"a$j"), lit(Long.MaxValue)),
          coalesce(col(s"b$j"), lit(Long.MaxValue)))).reduce(_ && _)
      direct
        .join(sigA, Seq("doc_id"), "left")
        .join(sigB, Seq("doc_id"), "left")
        .select($"doc_id", $"m0", when(ok, 1L).otherwise(0L)
          .as("merged_ok"))
        .orderBy($"doc_id")
    }),

    // Sample-ratio-mismatch check (the A/B-test health gate): per
    // user-cohort, arm counts under the x_ab_experiment assignment and
    // the one-degree chi-square ×1e6 against the expected 50/50 —
    // flagged above the 3.8415 critical value. One distinct-user pass,
    // integer-exact chi-square via cross-multiplication.
    "x_ab_srm" -> ((s, d) => {
      import s.implicits._
      events(s, d).select($"user_id").distinct()
        .select(($"user_id" % 5).as("cohort"),
          when(substring(md5(concat(lit("exp1:"),
            $"user_id".cast("string")).cast("binary")), 1, 1) < "8", 1L)
            .otherwise(0L).as("is_a"))
        .groupBy($"cohort")
        .agg(sum($"is_a").as("n_a"),
          sum(lit(1L) - $"is_a").as("n_b"))
        .select($"cohort", $"n_a", $"n_b",
          floor(lit(1e6) * ($"n_a" - $"n_b") * ($"n_a" - $"n_b") /
            ($"n_a" + $"n_b")).cast("long").as("chi2_x1e6"))
        .select($"cohort", $"n_a", $"n_b", $"chi2_x1e6",
          when($"chi2_x1e6" > 3841459L, 1L).otherwise(0L).as("srm_flag"))
        .orderBy($"cohort")
    }),

    // Deterministic random-walk sampling (the node2vec/DeepWalk corpus
    // generator): 3-step walks from seed nodes; each step picks
    // neighbor index md5(walk, step, node) mod degree from the RANKED
    // adjacency list — an equi-join on (node, rank), never a scan of
    // the neighbor set. The ranking window partitions per node (its
    // partition is one adjacency list), and each step is one keyed
    // join — the walk batch scales with walks, not graph size.
    "v_random_walk" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val edges = linkGraphEdges(documents(s, d)).localCheckpoint(false)
      val dir = edges.select($"a".as("u"), $"b".as("v"))
        .union(edges.select($"b".as("u"), $"a".as("v")))
      val wRank = Window.partitionBy($"u").orderBy($"v")
      val adj = dir
        .withColumn("rnk", row_number().over(wRank))
        .withColumn("deg", count(lit(1)).over(Window.partitionBy($"u")))
        .localCheckpoint(false)
      var walks = documents(s, d).filter($"doc_id" % 20 === 0)
        .select($"doc_id".as("walk_id"), $"doc_id".as("cur"),
          $"doc_id".cast("string").as("path"))
      for (step <- 1 to 3) {
        val idx = conv(substring(md5(concat($"walk_id", lit(":"),
          lit(step), lit(":"), $"cur").cast("binary")), 1, 12), 16, 10)
          .cast("long")
        walks = walks
          .join(adj, walks("cur") === adj("u"))
          .filter($"rnk" === idx % $"deg" + 1)
          .select($"walk_id", $"v".as("cur"),
            concat($"path", lit(">"), $"v").as("path"))
        if (step < 3) walks = walks.localCheckpoint(false)
      }
      walks.select($"walk_id", $"cur".as("end_node"), $"path")
        .orderBy($"walk_id")
    }),

    // Market-basket pair mining (the A-priori first pass): distinct
    // items per order, co-occurrence pairs via a self-join keyed on the
    // order (fan-out bounded by items-per-order², a per-basket
    // constant), pairs above min-support kept with their lift
    // denominator inputs. The shuffle carries (pair, count) partials —
    // never the basket cross-product globally.
    "x_itemsets_pairs" -> ((s, d) => {
      import s.implicits._
      // ONE basket aggregation feeds both consumers: the pair explode and
      // the item frequencies (exploding the per-basket sets re-derives
      // the distinct (order, item) rows without a second lineitem pass).
      // (measured r19: a fanOutScan before the collect_set LOST 0.7 s
      // in-suite — the repartition's sort+shuffle of 600k raw rows costs
      // more than the single-task map-side set build it replaces)
      val bk = baskets(lineitem(s, d).select($"l_orderkey", $"l_partkey"))
        .localCheckpoint(false)
      val pairs = basketPairsFrom(bk, minSupport = 3)
      val freq = bk.select(explode($"ids").as("l_partkey"))
        .groupBy($"l_partkey").agg(count(lit(1)).as("f"))
      pairs
        .join(broadcast(freq.select($"l_partkey".as("pa"), $"f".as("fa"))),
          Seq("pa"))
        .join(broadcast(freq.select($"l_partkey".as("pb"), $"f".as("fb"))),
          Seq("pb"))
        .select($"pa", $"pb", $"support", $"fa", $"fb")
        .orderBy($"support".desc, $"pa", $"pb")
    }),

    // Unicode NFC canonicalization audit through the codegen'd
    // NormalizeNFC expression (graft.functions.TextExpressions): every
    // 9th doc gets a decomposed "e"+COMBINING ACUTE appended, NFC
    // composes it to one codepoint — per lang, docs whose normalized
    // form differs and the codepoints saved. The canonicalization step
    // a pipeline runs BEFORE hashing/dedup; one scan, zero joins, and
    // the expression stays inside whole-stage codegen (no UDF).
    "x_unicode_nfc" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextExpressions.nfcNormalize
      val raw = documents(s, d).select($"doc_id", $"lang",
        when($"doc_id" % 9 === 0, concat($"text", lit(" cafe\u0301")))
          .otherwise($"text").as("t"))
      raw.select($"lang", $"t", nfcNormalize($"t").as("n"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"t" =!= $"n", 1L).otherwise(0L)).as("n_changed"),
          sum(length($"t") - length($"n")).as("cp_saved"))
        .orderBy($"lang")
    }),

    // Right-to-be-forgotten erasure plan (GDPR delete): for a keyed
    // erase set (user_id % 17 = 0), the per-file rewrite bill — rows to
    // delete, rows surviving, affected users, and whether the file
    // needs a rewrite at all. File-level planning from input_file_name
    // over one scan; at 100 TB the plan prunes the rewrite to exactly
    // the files that contain the subjects.
    "c30_erasure_plan" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .select(regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"),
          $"user_id", ($"user_id" % 17 === 0).as("erase"))
        .groupBy($"file")
        .agg(sum(when($"erase", 1L).otherwise(0L)).as("rows_to_delete"),
          sum(when(!$"erase", 1L).otherwise(0L)).as("rows_kept"),
          countDistinct(when($"erase", $"user_id")).as("affected_users"),
          max(when($"erase", 1L).otherwise(0L)).as("rewrite_needed"))
        .orderBy($"file")
    }),

    // Longest consecutive-active-day streak per user (the
    // gaps-and-islands pattern): day-index minus per-user rank is
    // constant within a run, so one distinct + one ranking window +
    // two aggregates find every streak without self-joins; the best
    // streak per user resolves by a window-free max(struct) argmax
    // (longest, ties to earliest start).
    "x_streaks" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"day")
      val days = events(s, d)
        .select($"user_id", to_date($"ts").as("day")).distinct()
      days
        .withColumn("isl",
          datediff($"day", lit("2024-01-01").cast("date")) -
            row_number().over(w))
        .groupBy($"user_id", $"isl")
        .agg(count(lit(1)).as("len"), min($"day").as("start"))
        .groupBy($"user_id")
        .agg(max(struct($"len", (-datediff($"start",
            lit("2024-01-01").cast("date"))).as("negd"), $"start"))
          .as("best"), count(lit(1)).as("n_streaks"))
        .select($"user_id", $"best.len".as("best_len"),
          date_format($"best.start", "yyyy-MM-dd").as("streak_start"),
          $"n_streaks")
        .orderBy($"user_id")
    }),

    // Malformed-record ingestion (the dead-letter surface): every 11th
    // doc's JSON is corrupted, from_json under PERMISSIVE yields null
    // fields — per lang, parsed vs corrupt counts and the recovered
    // payload sum. One scan; the JSON codec runs inside codegen.
    "s_json_corrupt" -> ((s, d) => {
      import s.implicits._
      val j = documents(s, d).select($"lang",
        when($"doc_id" % 11 === 0, lit("{not json"))
          .otherwise(to_json(struct($"doc_id", $"n_chars"))).as("payload"))
      j.select($"lang", from_json($"payload",
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, n_chars LONG")).as("p"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"p.doc_id".isNull, 1L).otherwise(0L)).as("n_corrupt"),
          sum(coalesce($"p.n_chars", lit(0L))).as("chars_recovered"))
        .orderBy($"lang")
    }),

    // Consistent-hash placement + rebalance audit (how a 100 TB store
    // assigns and MOVES data): md5 ring with 8 virtual nodes per
    // shard; each doc lands on the clockwise-nearest vnode. Adding a
    // 5th shard must move ONLY docs that land on the new shard —
    // stable_ok pins that no doc moved between surviving shards
    // (the property that makes consistent hashing worth its name; a
    // mod-N partitioner would reshuffle almost everything). Vnode
    // tables are 32/40-row broadcasts; assignment is a per-doc argmin.
    "x_consistent_hash" -> ((s, d) => {
      import s.implicits._
      val M = 1L << 48
      def vnodes(nShards: Int): DataFrame =
        (0 until nShards).flatMap(sh => (0 until 8).map(v => (sh.toLong,
          java.lang.Long.parseLong(
            org.apache.commons.codec.digest.DigestUtils
              .md5Hex(s"shard:$sh:$v").substring(0, 12), 16))))
          .toDF("shard", "vh")
      def assign(docs: DataFrame, vn: DataFrame, out: String): DataFrame =
        docs.crossJoin(broadcast(vn))
          .select($"doc_id",
            struct((($"vh" - $"dh") + M) % M, $"shard").as("c"))
          .groupBy($"doc_id").agg(min($"c").as("best"))
          .select($"doc_id", $"best.shard".as(out))
      val docs = documents(s, d).select($"doc_id",
        conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 12),
          16, 10).cast("long").as("dh")).localCheckpoint(false)
      val a4 = assign(docs, vnodes(4), "s4")
      val a5 = assign(docs, vnodes(5), "s5")
      a4.join(a5, Seq("doc_id"))
        .groupBy($"s4")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"s4" =!= $"s5", 1L).otherwise(0L)).as("moved"),
          sum(when($"s4" =!= $"s5" && $"s5" =!= 4, 1L).otherwise(0L))
            .as("moved_to_existing"))
        .select($"s4".as("shard"), $"n_docs", $"moved",
          when($"moved_to_existing" === 0, 1L).otherwise(0L)
            .as("stable_ok"))
        .orderBy($"shard")
    }),

    // Language-ID confusion matrix (the classifier eval table, like
    // the ANN recall evals): the x_langid stopword scorer's prediction
    // against the corpus's TRUE lang label, per (true, predicted)
    // counts with the per-class hit flag — the honest per-class
    // accuracy readout (fr/zh have no scorer class and show exactly
    // where they land). One scan + one partial-agg shuffle.
    "x_langid_confusion" -> ((s, d) => {
      import s.implicits._
      def hits(w: Column, xs: Seq[String]): Column =
        size(filter(w, x => x.isin(xs: _*)))
      documents(s, d)
        .select($"lang", words($"text").as("w"))
        .select($"lang",
          hits($"w", Seq("the", "a", "of", "and")).as("s_en"),
          hits($"w", Seq("el", "la", "de", "y")).as("s_es"),
          hits($"w", Seq("der", "die", "das", "und")).as("s_de"))
        .select($"lang",
          when($"s_en" >= $"s_es" && $"s_en" >= $"s_de", "en")
            .when($"s_es" >= $"s_de", "es")
            .otherwise("de").as("pred_lang"))
        .groupBy($"lang", $"pred_lang")
        .agg(count(lit(1)).as("n"),
          max(when($"lang" === $"pred_lang", 1L).otherwise(0L)).as("hit"))
        .orderBy($"lang", $"pred_lang")
    }),

    // Perceptual image dedup by average-hash (aHash): each image's 8×8
    // grayscale grid thresholds against its own mean into a 64-bit
    // fingerprint (carried as two 32-bit halves — no sign games, exact
    // oracle replay); images sharing the fingerprint group into dup
    // clusters by one hash aggregate — the image-modality twin of the
    // text fingerprint dedup. Synthetic frames 4..7 repeat 0..3's
    // pixel function, so every base has exactly one duplicate.
    "x_image_ahash" -> ((s, d) => {
      import s.implicits._
      val imgs = s.range(0, 8).select($"id".as("img_id"),
          ($"id" % 4).as("base"))
        .select($"img_id",
          // multiplicative in base: a CONSTANT brightness shift would
          // give every frame the same fingerprint (aHash is brightness-
          // invariant by construction — that invariance is the point)
          transform(sequence(lit(0), lit(63)), { i =>
            (($"base" + 1) * (floor(i.cast("double") / 8).cast("long") * 7 +
              (i.cast("long") % 8) * 13)) % 256
          }).as("px"))
      val withMean = imgs.withColumn("mean",
        expr("aggregate(px, 0L, (acc, x) -> acc + x) div 64"))
      def half(lo: Int): Column =
        (lo until lo + 32).map(i =>
          when(element_at($"px", i + 1) > $"mean", lit(1L << (i - lo)))
            .otherwise(0L)).reduce(_ + _)
      val hashed = withMean
        .select($"img_id", half(0).as("h_lo"), half(32).as("h_hi"))
      hashed.groupBy($"h_hi", $"h_lo")
        .agg(count(lit(1)).as("n_dups"),
          sort_array(collect_list($"img_id")).as("members"))
        .select($"h_hi", $"h_lo", $"n_dups",
          array_join(transform($"members", x => x.cast("string")), ",")
            .as("members"))
        .orderBy($"h_hi", $"h_lo")
    }),

    // Parquet footer-integrity audit: the row-group statistics the
    // engine PRUNES WITH (min/max/value counts read via parquet-mr
    // from the file footers, folded across row groups inside
    // mapPartitions — the distributed manifest-collection shape) must
    // equal the data's true aggregates, which the oracle recomputes
    // from the rows. A footer that lies here would mean silent wrong
    // answers under predicate pushdown — this gate makes the skipping
    // metadata itself part of the verified surface.
    "s_footer_stats" -> ((s, d) => {
      import s.implicits._
      val files = s.createDataset(Seq(s"$d/lineitem.parquet"))
      val rows = files.mapPartitions { it =>
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        import scala.jdk.CollectionConverters._
        it.flatMap { p =>
          val in = HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p),
            new org.apache.hadoop.conf.Configuration())
          val r = ParquetFileReader.open(in)
          try {
            val cols = r.getFooter.getBlocks.asScala.flatMap(
              _.getColumns.asScala)
            def fold(name: String): (String, Long, Double, Double) = {
              val cs = cols.filter(_.getPath.toDotString == name)
              val mins = cs.map(_.getStatistics.genericGetMin
                .asInstanceOf[Number].doubleValue())
              val maxs = cs.map(_.getStatistics.genericGetMax
                .asInstanceOf[Number].doubleValue())
              (name, cs.map(_.getValueCount).sum, mins.min, maxs.max)
            }
            Iterator(fold("l_orderkey"), fold("l_quantity"))
          } finally r.close()
        }
      }.toDF("col", "n_values", "mn", "mx")
      rows.select($"col", $"n_values",
          floor($"mn" * 100 + 0.5).cast("long").as("min_x100"),
          floor($"mx" * 100 + 0.5).cast("long").as("max_x100"))
        .orderBy($"col")
    }),

    // RFM segmentation (recency / frequency / monetary): per-user
    // purchase stats quantiled into terciles per dimension,
    // concatenated into the classic segment code. Each tercile is the
    // shardedRank prefix sum + arithmetic ntile — three shard-
    // partitioned rank passes over the user table, never a global
    // sort; descending dimensions shard on the NEGATED key so the
    // shard stays monotone along the sort. One event scan in front.
    "x_rfm_segments" -> ((s, d) => {
      import s.implicits._
      val mx = events(s, d).agg(max($"ts").as("m"))
      val rfm = events(s, d).filter($"event_type" === "purchase")
        .crossJoin(broadcast(mx))
        .groupBy($"user_id")
        .agg(min(datediff($"m", $"ts")).as("recency_days"),
          count(lit(1)).as("frequency"),
          floor(sum($"value") * 100 + 0.5).cast("long").as("monetary_x100"))
        .localCheckpoint(false)
      val n1 = rfm.agg(count(lit(1)).as("n"))
      val ranked = {
        val r1 = shardedRank(rfm, floor($"recency_days" / 8),
          Seq($"recency_days", $"user_id"), "ir")
        val r2 = shardedRank(r1, floor(-$"frequency" / 8),
          Seq($"frequency".desc, $"user_id"), "if_")
        shardedRank(r2, floor(-$"monetary_x100" / 100000),
          Seq($"monetary_x100".desc, $"user_id"), "im")
      }
      ranked.crossJoin(broadcast(n1))
        .select($"user_id", $"recency_days".cast("long").as("recency_days"),
          $"frequency", $"monetary_x100",
          concat(ntileOf(3, "ir", "n").cast("string"),
            ntileOf(3, "if_", "n").cast("string"),
            ntileOf(3, "im", "n").cast("string")).as("segment"))
        .orderBy($"user_id")
    }),

    // A/B-test power analysis (the pre-registration step): from the
    // pooled per-user purchase-value moments, the per-arm sample size
    // for 80% power at α=0.05 to detect a 5% lift —
    // n = 16·σ²/Δ² (Lehr), all moments integer cents until the final
    // quantized division. One scan to a single planning row.
    "x_ab_power" -> ((s, d) => {
      import s.implicits._
      events(s, d).filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
        .agg(count(lit(1)).as("n_users"),
          sum($"cents").as("sc"), sum($"cents" * $"cents").as("scc"))
        .select($"n_users", $"sc", $"scc",
          // σ² = (Σx² − (Σx)²/n)/(n−1); Δ = 5% of the mean; both ×1
          // cent² — the 16σ²/Δ² ratio is dimensionless
          floor(lit(16.0) *
            (($"scc" - $"sc" * $"sc" / $"n_users") / ($"n_users" - 1)) /
            (($"sc" / $"n_users") * 0.05 * ($"sc" / $"n_users") * 0.05))
            .cast("long").as("n_per_arm"))
    }),

    // Zipf-law fit over the token frequency table: OLS slope of
    // log-freq on log-rank (both floor-quantized ×1e6 integers so the
    // regression inputs replay exactly; only the final slope division
    // is FP, floored once). The corpus-science sanity check — a
    // healthy natural corpus fits slope ≈ −1. The top-200 cut is a
    // TakeOrdered (bounded heap, no vocab-sized sort); the rank window
    // then runs on the 200-row result only.
    "x_zipf_fit" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val freq = documents(s, d).filter(length(trim($"text")) > 0)
        .select(explode(words($"text")).as("tk"))
        .filter($"tk" =!= "")
        .groupBy($"tk").agg(count(lit(1)).as("f"))
      val ranked = freq
        .orderBy($"f".desc, $"tk").limit(200)
        .withColumn("r", row_number().over(
          Window.orderBy($"f".desc, $"tk")))
        .select(floor(log($"r".cast("double")) * 1e6).cast("long").as("x"),
          floor(log($"f".cast("double")) * 1e6).cast("long").as("y"))
      ranked.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"y").as("sy"), sum($"x" * $"y").as("sxy"),
          sum($"x" * $"x").as("sxx"))
        .select($"n",
          floor(lit(1e6) * ($"n" * $"sxy" - $"sx" * $"sy") /
            ($"n" * $"sxx" - $"sx" * $"sx")).cast("long")
            .as("slope_x1e6"))
    }),

    // Quantile normalization across sources (the microarray-style
    // distribution alignment a mixed-corpus length/quality signal
    // needs): each source's i-th of n values maps to the GLOBAL value
    // at the matching quantile position ceil(i·N/n) — after it, every
    // source has the same length distribution. NO corpus-sized rank
    // runs unpartitioned: both the per-source and the global rank use
    // the packBins shard-prefix-sum — shard = n_chars div 64 (monotone
    // in the leading sort key, so per-shard row_numbers + cumulative
    // earlier-shard counts compose to the exact global rank); the only
    // serial window runs on the shard-count-sized offset table before
    // broadcasting back. The reference lookup stays an equi-join on
    // the computed index (never a theta join).
    "x_quantile_norm" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, d).select($"doc_id", $"source", $"n_chars")
        .withColumn("shard", floor($"n_chars" / 64).cast("long"))
        .localCheckpoint(false)
      // per-source rank i of n: (source, shard)-partitioned windows +
      // a (sources × shards)-row serial offset cumsum
      val sw = Window.partitionBy($"source", $"shard")
        .orderBy($"n_chars", $"doc_id")
      val sRank = docs.withColumn("si", row_number().over(sw))
      val sCnt = sRank.groupBy($"source", $"shard")
        .agg(max($"si").as("cnt"))
      val sOffW = Window.partitionBy($"source").orderBy($"shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val sOffsets = sCnt.select($"source", $"shard",
        coalesce(sum($"cnt").over(sOffW), lit(0L)).as("soff"))
      val sTotals = sCnt.groupBy($"source").agg(sum($"cnt").as("n"))
      val bySrc = sRank
        .join(broadcast(sOffsets), Seq("source", "shard"))
        .join(broadcast(sTotals), Seq("source"))
        .select($"doc_id", $"source", $"n_chars",
          ($"soff" + $"si").as("i"), $"n")
      // global rank: shard-partitioned windows + shard-sized offsets
      val gw = Window.partitionBy($"shard").orderBy($"n_chars", $"doc_id")
      val gRank = docs.withColumn("ri", row_number().over(gw))
      val gCnt = gRank.groupBy($"shard").agg(max($"ri").as("cnt"))
      val gOffW = Window.orderBy($"shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val gOffsets = gCnt.select($"shard",
        coalesce(sum($"cnt").over(gOffW), lit(0L)).as("goff"))
      val global = gRank.join(broadcast(gOffsets), Seq("shard"))
        .select($"n_chars".as("gv"), ($"goff" + $"ri").as("gi"))
      val total = docs.agg(count(lit(1)).as("nn"))
      bySrc.crossJoin(broadcast(total))
        .withColumn("gi", expr("cast(ceil(i * nn / cast(n as double)) as bigint)"))
        .join(global, Seq("gi"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("raw_sum"), sum($"gv").as("norm_sum"),
          max(abs($"n_chars" - $"gv")).as("max_shift"))
        .orderBy($"source")
    }),

    // Session path analysis (the product-analytics "top navigation
    // sequences" table): events sessionize per user (the x_sessionize
    // gap logic), each session folds to its ordered event-type path
    // (array_sort over (ts, event_id, type) structs — deterministic
    // under any partitioning, no ORDER BY inside the aggregate), and
    // paths count globally. Truncated to the first 5 steps so the
    // path vocabulary stays bounded; one per-user window pass + two
    // hash aggregates.
    "x_session_paths" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      val gapUs = 8L * 3600 * 1000000
      events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
          $"event_type")
        .withColumn("nf",
          when(lag($"ts_us", 1).over(w).isNull ||
            $"ts_us" - lag($"ts_us", 1).over(w) > gapUs, 1L).otherwise(0L))
        .withColumn("sess", sum($"nf").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sess")
        .agg(array_join(slice(transform(
          array_sort(collect_list(struct($"ts_us", $"event_id",
            $"event_type"))), x => x.getField("event_type")), 1, 5), ">")
          .as("path"))
        .groupBy($"path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy($"n_sessions".desc, $"path")
        .limit(10)
    }),

    // Difference-in-differences (the causal-effect workhorse): the
    // md5 arm assignment crossed with a pre/post cutoff into the 2×2
    // cell means (integer cents until the final quantized divisions);
    // DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre). One
    // conditional-aggregate scan to four cells.
    "x_diff_in_diff" -> ((s, d) => {
      import s.implicits._
      val cut = lit("2024-01-16").cast("timestamp")
      val cells = events(s, d).filter($"event_type" === "purchase")
        .select(
          when(substring(md5(concat(lit("exp1:"),
            $"user_id".cast("string")).cast("binary")), 1, 1) < "8", 1L)
            .otherwise(0L).as("treat"),
          when($"ts" >= cut, 1L).otherwise(0L).as("post"),
          floor($"value" * 100 + 0.5).cast("long").as("cents"))
        .groupBy($"treat", $"post")
        .agg(count(lit(1)).as("n"), sum($"cents").as("sc"))
        .select($"treat", $"post", $"n",
          floor($"sc" * 100 / $"n").cast("long").as("mean_x100"))
        .localCheckpoint(false)
      def cell(t: Int, p: Int) = cells
        .filter($"treat" === t && $"post" === p)
        .select($"mean_x100".as(s"m_$t$p"))
      cells.orderBy($"treat", $"post")
        .crossJoin(broadcast(cell(1, 1))).crossJoin(broadcast(cell(1, 0)))
        .crossJoin(broadcast(cell(0, 1))).crossJoin(broadcast(cell(0, 0)))
        .select($"treat", $"post", $"n", $"mean_x100",
          ($"m_11" - $"m_10" - ($"m_01" - $"m_00")).as("did_x100"))
    }),

    // Degree assortativity (Newman 2002) over the link graph: the
    // Pearson correlation of endpoint degrees across edges, from
    // INTEGER moment sums over the symmetric edge list (each edge
    // contributes both orientations — the standard convention); only
    // the final correlation divides, floored once. Positive = hubs
    // attach to hubs. One degree aggregate + one keyed join + one
    // moment fold.
    "v_assortativity" -> ((s, d) => {
      import s.implicits._
      val edges = linkGraphEdges(documents(s, d)).localCheckpoint(false)
      val deg = edges.select($"a".as("v")).union(edges.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("dg"))
      val dir = edges.select($"a".as("u"), $"b".as("w"))
        .union(edges.select($"b".as("u"), $"a".as("w")))
      dir
        .join(deg.select($"v".as("u"), $"dg".as("du")), Seq("u"))
        .join(deg.select($"v".as("w"), $"dg".as("dw")), Seq("w"))
        .agg(count(lit(1)).as("m2"), sum($"du").as("sx"),
          sum($"dw").as("sy"), sum($"du" * $"dw").as("sxy"),
          sum($"du" * $"du").as("sxx"), sum($"dw" * $"dw").as("syy"))
        .select($"m2",
          floor(lit(1e6) * ($"m2" * $"sxy" - $"sx" * $"sy") /
            (sqrt(($"m2" * $"sxx" - $"sx" * $"sx").cast("double")) *
              sqrt(($"m2" * $"syy" - $"sy" * $"sy").cast("double"))))
            .cast("long").as("assortativity_x1e6"))
    }),

    // Linear trend forecast of daily event volume: integer-moment OLS
    // of count on day index, then the day-32 projection — the capacity
    // planning row. Counts and moments stay integers; slope/intercept
    // divide once, floored.
    "x_trend_forecast" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .groupBy(datediff(to_date($"ts"), lit("2024-01-01").cast("date"))
          .cast("long").as("x"))
        .agg(count(lit(1)).as("y"))
      daily.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"y").as("sy"), sum($"x" * $"y").as("sxy"),
          sum($"x" * $"x").as("sxx"))
        .select($"n", $"sy", $"sx",
          floor(lit(1e6) * ($"n" * $"sxy" - $"sx" * $"sy") /
            ($"n" * $"sxx" - $"sx" * $"sx")).cast("long")
            .as("slope_x1e6"))
        // intercept and projection reuse the FLOORED slope, so from
        // here everything is exact integer arithmetic
        .select($"n", $"sy", $"slope_x1e6",
          expr("(1000000 * sy - slope_x1e6 * sx) div n")
            .as("intercept_x1e6"))
        .select($"n", $"sy", $"slope_x1e6", $"intercept_x1e6",
          expr("(intercept_x1e6 + slope_x1e6 * 32) div 1000000")
            .as("forecast_day32"))
    }),

    // Seasonal activity profile: the (day-of-week × hour) heat map
    // with each weekday's peak hour flagged by a window-free
    // max(struct) argmax — the load-shaping table behind crawl/compute
    // scheduling. One scan, two partial-aggregable levels.
    "x_seasonal_profile" -> ((s, d) => {
      import s.implicits._
      val cells = events(s, d)
        .groupBy(dayofweek($"ts").cast("long").as("dow"),
          hour($"ts").cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      val peaks = cells.groupBy($"dow")
        .agg(max(struct($"n", (-$"hr").as("negh"))).as("best"))
        .select($"dow", (-$"best.negh").as("peak_hr"))
      cells.join(broadcast(peaks), Seq("dow"))
        .select($"dow", $"hr", $"n",
          when($"hr" === $"peak_hr", 1L).otherwise(0L).as("is_peak"))
        .orderBy($"dow", $"hr")
    }),

    // Gini coefficient of per-user event counts (the corpus/activity
    // concentration index): G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n over
    // ascending-ranked counts — integer sums until ONE final floored
    // division (×1e6). The rank is the shardedRank prefix sum (shard =
    // x div 16, monotone in the sort key), so even a billion-user table
    // never funnels through one partition.
    "x_gini_users" -> ((s, d) => {
      import s.implicits._
      val per = events(s, d).groupBy($"user_id")
        .agg(count(lit(1)).as("x"))
      shardedRank(per, floor($"x" / 16), Seq($"x", $"user_id"), "i")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"i" * $"x").as("six"))
        .select($"n", $"sx",
          floor(lit(1e6) * (lit(2.0) * $"six" / ($"n".cast("double") * $"sx") -
            ($"n" + 1).cast("double") / $"n")).cast("long")
            .as("gini_x1e6"))
    }),

    // Winsorized mean per language (the robust-mean companion to the
    // MAD outlier gate): token counts clamp at the exact P10/P90 —
    // computed buffer-free from the value histogram ([[contQuantiles]],
    // bit-identical to the in-memory `percentile`) — before averaging;
    // one quantile pre-agg broadcast back over the corpus, integer sums
    // to one final quantized division.
    "x_winsorize" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"lang", size(words($"text")).cast("double").as("tokens"))
      val bounds = contQuantiles(docs, "lang", "tokens",
        Seq("p10" -> 0.1, "p90" -> 0.9))
      docs.join(broadcast(bounds), "lang")
        .select($"lang",
          // P10/P90 interpolate to arbitrary fractions — floor once
          // to milli-tokens (an engine-portable quantization; a bare
          // cast would round in DuckDB and truncate in Spark)
          floor(greatest(least($"tokens", $"p90"), $"p10") * 1000)
            .cast("long").as("w1000"),
          when($"tokens" < $"p10" || $"tokens" > $"p90", 1L).otherwise(0L)
            .as("clamped"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"clamped").as("n_clamped"),
          expr("sum(w1000) div count(1)").as("wmean_x1000"))
        .orderBy($"lang")
    }),

    // Schema fingerprint per table (cross-environment drift detection,
    // the catalog twin of c26's content digest): md5 of the SORTED
    // column-name list — metadata-only reads, catalog-bounded
    // driver-side like the Ledger planning loop.
    "c31_schema_fingerprint" -> ((s, d) => {
      import s.implicits._
      val tables = Seq("customer", "documents", "embeddings", "events",
        "lineitem", "nation", "orders", "part", "region", "supplier")
      val rows = tables.map { t =>
        val cols = s.read.parquet(s"$d/$t.parquet").schema.fieldNames.sorted
        (t, cols.length.toLong, cols.mkString(","))
      }
      rows.toDF("table_name", "n_cols", "cols")
        .select($"table_name", $"n_cols",
          md5($"cols".cast("binary")).as("schema_md5"))
        .orderBy($"table_name")
    }),

    // Trained character-bigram language classifier (naive Bayes with
    // add-one smoothing) — the train/apply ML-pipeline shape: the
    // model (per-lang bigram log-probs, ×1e6 floor-quantized ONCE at
    // training so inference is pure integer sums) trains on even
    // doc_ids and classifies the odd half; the confusion matrix is
    // the eval. The model is vocabulary-bounded and broadcasts;
    // scoring is one explode + one keyed join + two aggregates.
    "x_langid_ngram" -> ((s, d) => {
      import s.implicits._
      langidNgram(documents(s, d).select($"doc_id", $"lang", $"text"))
        .orderBy($"lang", $"pred_lang")
    }),

    // 2-hop neighborhood features (the GraphSAGE/GNN feature-
    // extraction shape): per node its degree, the mean neighbor
    // degree (integer ×1000 div), and the distinct 2-hop neighbor
    // count (self and direct neighbors excluded) — two keyed joins +
    // partial aggregates. At 100 TB the 2-hop expansion is the known
    // quadratic hazard; degree-bounded graphs (this one: ≤6) keep it
    // linear, and a production run caps the expansion per node the
    // way the LSH buckets cap theirs.
    "v_neighbor_features" -> ((s, d) => {
      import s.implicits._
      val edges = linkGraphEdges(documents(s, d)).localCheckpoint(false)
      val dir = edges.select($"a".as("u"), $"b".as("v"))
        .union(edges.select($"b".as("u"), $"a".as("v")))
        .localCheckpoint(false)
      val deg = dir.groupBy($"u").agg(count(lit(1)).as("deg"))
      val nbrDeg = dir
        .join(deg.select($"u".as("v"), $"deg".as("vdeg")), Seq("v"))
        .groupBy($"u")
        .agg(count(lit(1)).as("dg"),
          expr("(sum(vdeg) * 1000) div count(1)").as("mean_nbr_deg_x1000"))
      val twoHop = dir.select($"u", $"v".as("m"))
        .join(dir.select($"u".as("m"), $"v".as("w")), Seq("m"))
        .filter($"u" =!= $"w")
        .select($"u", $"w").distinct()
        .join(dir.select($"u", $"v".as("w")), Seq("u", "w"), "left_anti")
        .groupBy($"u").agg(count(lit(1)).as("n_2hop"))
      nbrDeg.join(twoHop, Seq("u"), "left")
        .select($"u".as("v"), $"dg".as("deg"), $"mean_nbr_deg_x1000",
          coalesce($"n_2hop", lit(0L)).as("n_2hop"))
        .orderBy($"v")
    }),

    // Cohort LTV curves: users cohort by first-seen week; per
    // (cohort, week offset) the per-user cumulative revenue in cents —
    // the lifetime-value table under every retention-economics chart.
    // First-seen is a partial-aggregable min; the cumulative sum runs
    // over the tiny cohort × offset matrix, not events.
    "x_cohort_ltv" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
        .select($"user_id", $"ts", $"event_type", $"value")
        .localCheckpoint(false)
      val firstSeen = ev.groupBy($"user_id")
        .agg(min($"ts").as("first_ts"))
        .select($"user_id",
          expr("datediff(to_date(first_ts), date '2024-01-01') div 7")
            .as("cohort"))
      val weekly = ev.filter($"event_type" === "purchase")
        .join(firstSeen, Seq("user_id"))
        .groupBy($"cohort",
          expr("datediff(to_date(ts), date '2024-01-01') div 7")
            .as("wk"))
        .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
        .select($"cohort", ($"wk" - $"cohort").as("offset_wk"), $"cents")
      val sizes = firstSeen.groupBy($"cohort")
        .agg(countDistinct($"user_id").as("n_users"))
      val w = Window.partitionBy($"cohort").orderBy($"offset_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weekly
        .withColumn("cum_cents", sum($"cents").over(w))
        .join(broadcast(sizes), Seq("cohort"))
        .select($"cohort", $"offset_wk", $"n_users", $"cum_cents",
          expr("cum_cents div n_users").as("ltv_per_user_cents"))
        .orderBy($"cohort", $"offset_wk")
    }),

    // Tamper-evident hash chain per user (the audit-log integrity
    // check): events fold in (ts, event_id) order through
    // h ← md5(h ∥ event_id) — any insertion, deletion, or reorder
    // anywhere in the history changes the head hash. The fold is a
    // codegen'd aggregate() HOF over the per-user sorted array
    // (deterministic under any partitioning); verification across
    // replicas compares one row per key.
    "c32_hash_chain" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          aggregate(
            transform(array_sort(collect_list(struct($"ts_us", $"event_id"))),
              x => x.getField("event_id").cast("string")),
            lit("seed"),
            (acc, x) => md5(concat(acc, x).cast("binary")))
            .as("chain_head"))
        .orderBy($"user_id")
    }),

    // Low-side outage detection — the spike detector's mirror: a
    // bucket is flagged when its count falls below 2/3 of the trailing
    // 8-bucket average (12·cnt < trail_sum, full trail required) —
    // the silent-pipeline-death alarm; same rows-frame shape as
    // w_stream_anomaly, whose ring-state streaming twin carries the
    // identical trailing window.
    "w_stream_outage" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val buckets = events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).as("cnt"))
      val tw = Window.partitionBy($"event_type").orderBy($"hr")
        .rowsBetween(-8, -1)
      buckets
        .withColumn("trail_n", count(lit(1)).over(tw))
        .withColumn("trail_sum_raw", coalesce(sum($"cnt").over(tw), lit(0L)))
        .select($"event_type",
          date_format($"hr", "yyyy-MM-dd HH:mm").as("hr"), $"cnt",
          when($"trail_n" === 8 && $"cnt" * 12 < $"trail_sum_raw", 1L)
            .otherwise(0L).as("outage_flag"))
        .filter($"outage_flag" === 1)
        .orderBy($"event_type", $"hr")
    }),

    // Week-over-week change per event type (the reporting staple):
    // weekly counts, previous week via lag over the tiny
    // (type × week) matrix, delta in exact per-mille integers.
    "x_wow_change" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val weekly = events(s, d)
        .groupBy($"event_type",
          expr("datediff(to_date(ts), date '2024-01-01') div 7").as("wk"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"event_type").orderBy($"wk")
      weekly
        .withColumn("prev", lag($"n", 1).over(w))
        .filter($"prev".isNotNull)
        .select($"event_type", $"wk", $"n", $"prev",
          expr("((n - prev) * 1000) div prev").as("delta_permille"))
        .orderBy($"event_type", $"wk")
    }),

    // Population-stability-index drift monitor (the model-monitoring
    // standard): length-bin distributions of the corpus's two halves
    // compared as PSI = Σ (p−q)·ln(p/q), add-one smoothed, each bin's
    // term floor-quantized ×1e6 so the sum replays exactly; PSI ≥ 0.2
    // is the conventional "investigate" flag. Two conditional counts
    // per bin from ONE scan.
    "x_psi_drift" -> ((s, d) => {
      import s.implicits._
      val bins = documents(s, d)
        .select(expr("n_chars div 100").as("bin"),
          ($"doc_id" % 2 === 0).as("a"))
        .groupBy($"bin")
        .agg(sum(when($"a", 1L).otherwise(0L)).as("ca"),
          sum(when(!$"a", 1L).otherwise(0L)).as("cb"))
        .localCheckpoint(false)
      val tots = bins.agg(sum($"ca").as("na"), sum($"cb").as("nb"))
      val terms = bins.crossJoin(broadcast(tots))
        .select($"bin", $"ca", $"cb",
          floor((($"ca" + 1).cast("double") / ($"na" + 1) -
            ($"cb" + 1).cast("double") / ($"nb" + 1)) *
            log((($"ca" + 1) * ($"nb" + 1)).cast("double") /
              (($"cb" + 1) * ($"na" + 1)).cast("double")) * 1e6)
            .cast("long").as("term_x1e6"))
      terms.agg(count(lit(1)).as("n_bins"),
          sum($"term_x1e6").as("psi_x1e6"))
        .select($"n_bins", $"psi_x1e6",
          when($"psi_x1e6" >= 200000L, 1L).otherwise(0L).as("drift_flag"))
    }),

    // Edge embeddedness / weak-tie profile (Granovetter): per edge its
    // triangle support (how many triangles contain it), folded to the
    // support histogram — support-0 edges are the weak ties a
    // community-aware sampler treats differently. Triangles come from
    // the degree-ordered enumerator; each triangle charges its three
    // canonical edges through one explode + keyed aggregates, and the
    // histogram left-joins back to count the zero-support tail.
    "v_edge_support" -> ((s, d) => {
      import s.implicits._
      val edges = linkGraphEdges(documents(s, d)).localCheckpoint(false)
      val tris = triangleCorners(edges)
      val triEdges = tris.select(explode(array(
          struct(least($"x", $"y").as("a"), greatest($"x", $"y").as("b")),
          struct(least($"x", $"z").as("a"), greatest($"x", $"z").as("b")),
          struct(least($"y", $"z").as("a"), greatest($"y", $"z").as("b"))))
          .as("e"))
        .select($"e.a", $"e.b")
        .groupBy($"a", $"b").agg(count(lit(1)).as("support"))
      edges.join(triEdges, Seq("a", "b"), "left")
        .select(coalesce($"support", lit(0L)).as("support"))
        .groupBy($"support")
        .agg(count(lit(1)).as("n_edges"))
        .orderBy($"support")
    }),

    // Local clustering coefficient (Watts–Strogatz): per node with
    // degree ≥ 2, triangles-at-node / (deg choose 2) ×1e6 — the
    // community-density score under every "how clumpy is this graph"
    // question. Triangle counts and degrees both come from
    // partial-aggregable folds over the same enumerator; one keyed
    // join marries them.
    "v_clustering_coeff" -> ((s, d) => {
      import s.implicits._
      val edges = linkGraphEdges(documents(s, d)).localCheckpoint(false)
      val tris = triangleCorners(edges)
      val triAt = tris.select(explode(array($"x", $"y", $"z")).as("v"))
        .groupBy($"v").agg(count(lit(1)).as("t"))
      val deg = edges.select($"a".as("v")).union(edges.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("dg"))
      deg.filter($"dg" >= 2)
        .join(triAt, Seq("v"), "left")
        .select($"v", $"dg",
          coalesce($"t", lit(0L)).as("triangles"),
          expr("(coalesce(t, 0) * 2000000) div (dg * (dg - 1))")
            .as("coeff_x1e6"))
        .orderBy($"v")
    }),

    // Corpus-driven stopword discovery: tokens present in over 60% of
    // documents, with the language spread that separates true
    // function words (everywhere) from topical ones — the list the
    // stopword-ratio quality signals and BM25 pruning consume.
    // Document frequency via one distinct + partial-agg count; the
    // threshold is a cross-multiplied integer against a 1-row total.
    "x_stopword_discovery" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).filter(length(trim($"text")) > 0)
      val tot = docs.agg(count(lit(1)).as("n_docs"))
      val df = docs
        .select($"doc_id", $"lang", explode(words($"text")).as("tk"))
        .filter($"tk" =!= "")
        .groupBy($"tk")
        .agg(countDistinct($"doc_id").as("df"),
          countDistinct($"lang").as("n_langs"))
      df.crossJoin(broadcast(tot))
        .filter($"df" * 10 > $"n_docs" * 6)
        .select($"tk", $"df", $"n_langs",
          floor($"df" * 10000 / $"n_docs").cast("long").as("df_x10000"))
        .orderBy($"df".desc, $"tk")
    }),

    // SQL join-hint surface: a literal spark.sql query carrying a
    // /*+ BROADCAST */ hint — the escape hatch when statistics
    // mislead the planner; PlanQualitySpec pins that the hint actually
    // produced a broadcast join. Results are the plain join semantics
    // (hints must never change answers).
    "q_sql_hint" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_h")
      customer(s, d).createOrReplaceTempView("customer_h")
      s.sql(
        """SELECT /*+ BROADCAST(customer_h) */
             c.c_mktsegment, count(*) AS n,
             CAST(floor(sum(o.o_totalprice) * 100 + 0.5) AS BIGINT)
               AS total_x100
           FROM orders_h o JOIN customer_h c
             ON o.o_custkey = c.c_custkey
           GROUP BY c.c_mktsegment
           ORDER BY c.c_mktsegment""")
    }),

    // Dormancy / reactivation (the win-back metric): per user, gaps
    // over 7 days between consecutive events counted as dormancy
    // episodes, with the longest gap — one lag window over per-user
    // events + one aggregate.
    "x_reactivation" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
        .withColumn("gap_us", $"ts_us" - lag($"ts_us", 1).over(w))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when($"gap_us" > 7L * 86400 * 1000000, 1L).otherwise(0L))
            .as("reactivations"),
          expr("coalesce(max(gap_us), 0) div 1000000")
            .as("longest_gap_secs"))
        .orderBy($"user_id")
    }),

    // Benford's-law first-digit audit (the forensic-accounting
    // standard): observed first-digit distribution of order totals vs
    // the log10(1+1/d) expectation, per-digit chi-square contributions
    // ×1e6 — fabricated numbers flunk this. First digit by integer
    // math on the magnitude (no string formatting, which differs
    // between engines); one scan + a 9-row expectation literal.
    "c33_benford_audit" -> ((s, d) => {
      import s.implicits._
      val digit = floor($"o_totalprice" /
        pow(lit(10.0), floor(log10($"o_totalprice")))).cast("long")
      val obs = orders(s, d).filter($"o_totalprice" >= 1)
        .select(digit.as("d"))
        .groupBy($"d").agg(count(lit(1)).as("observed"))
      val tot = obs.agg(sum($"observed").as("n"))
      obs.crossJoin(broadcast(tot))
        .select($"d", $"observed",
          expr("(observed * 1000) div n").as("obs_permille"),
          floor(log10(lit(1.0) + lit(1.0) / $"d") * 1e6).cast("long")
            .as("expected_x1e6"))
        .orderBy($"d")
    }),

    // Canonicalized exact dedup: NFC-normalize + casefold BEFORE
    // hashing, so case and accent-encoding variants of the same
    // content collapse into one group — raw-byte dedup misses all of
    // them. Every 13th doc gets an uppercased, decomposed-accent twin
    // (id + 100000); the gate counts groups by size and pins that
    // every planted twin was caught (caught = docs in groups ≥ 2).
    // The NormalizeNFC codegen expression runs inside the hash
    // pipeline — one union + one hash aggregate.
    "d_canonical_dedup" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TextExpressions.nfcNormalize
      val base = documents(s, d).select($"doc_id", $"text")
      val twins = base.filter($"doc_id" % 13 === 0)
        .select(($"doc_id" + 100000).as("doc_id"),
          concat(upper($"text"), lit(" café")).as("text"))
      val originals = base.union(
        base.filter($"doc_id" % 13 === 0)
          .select($"doc_id", concat($"text", lit(" caf\u00e9")).as("text"))
          .select(($"doc_id" + 200000).as("doc_id"), $"text"))
      originals.union(twins)
        .select($"doc_id",
          md5(lower(nfcNormalize($"text")).cast("binary")).as("h"))
        .groupBy($"h").agg(count(lit(1)).as("members"))
        .groupBy($"members").agg(count(lit(1)).as("n_groups"))
        .orderBy($"members")
    }),

    // Lorenz curve (the Gini index's picture): user deciles by
    // ascending activity vs their cumulative share of all events —
    // "the bottom 50% of users produce X% of traffic". Deciles come
    // from the shardedRank prefix sum + the arithmetic ntile (no
    // unpartitioned window over the user table); the cumulative sum
    // runs over the 10-row decile table only. Shares in exact basis
    // points.
    "x_lorenz_curve" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val per = events(s, d).groupBy($"user_id")
        .agg(count(lit(1)).as("x"))
      val n1 = per.agg(count(lit(1)).as("n"))
      val dec = shardedRank(per, floor($"x" / 16), Seq($"x", $"user_id"), "i")
        .crossJoin(broadcast(n1))
        .withColumn("decile", ntileOf(10, "i", "n"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_users"), sum($"x").as("events"))
      val tot = dec.agg(sum($"events").as("te"))
      dec.crossJoin(broadcast(tot))
        .withColumn("cum_events", sum($"events").over(
          Window.orderBy($"decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select($"decile".cast("long").as("decile"), $"n_users", $"events",
          expr("(cum_events * 10000) div te").as("cum_share_x1e4"))
        .orderBy($"decile")
    }),

    // Type-token ratio per language (lexical diversity, the
    // repetitiveness quality signal at the vocabulary level): per doc
    // distinct/total tokens, folded to per-lang mean in exact basis
    // points — one explode + two partial-aggregable levels.
    "x_type_token_ratio" -> ((s, d) => {
      import s.implicits._
      documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", $"lang", explode(words($"text")).as("tk"))
        .filter($"tk" =!= "")
        .groupBy($"doc_id", $"lang")
        .agg(countDistinct($"tk").as("types"), count(lit(1)).as("tokens"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum((types * 10000) div tokens) div count(1)")
            .as("mean_ttr_x1e4"))
        .orderBy($"lang")
    }),

    // Jensen–Shannon divergence between two sources' token
    // distributions (the symmetric, bounded drift metric the PSI/KS
    // monitors lack): per-token contribution (p·ln(p/m) + q·ln(q/m))/2
    // with m = (p+q)/2, FLOOR-QUANTIZED ×1e9 PER TOKEN before the sum —
    // the x_unigram_nll discipline that makes a float reduction
    // order-free (each term is one deterministic double expression;
    // the cross-engine sum is then integer). Vocab-sized aggregation
    // only; at 1e8-token vocabularies the ×1e9 quantized terms still
    // sum under 2⁶².
    "x_js_divergence" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d)
        .filter($"source".isin("src0", "src1"))
        .filter(length(trim($"text")) > 0)
        .select($"source", explode(words(lower($"text"))).as("t"))
        .filter($"t" =!= "")
      val cnt = toks.groupBy($"t")
        .agg(sum(when($"source" === "src0", 1L).otherwise(0L)).as("ca"),
          sum(when($"source" === "src1", 1L).otherwise(0L)).as("cb"))
        .localCheckpoint(false)
      val tot = cnt.agg(sum($"ca").as("ta"), sum($"cb").as("tb"))
      cnt.crossJoin(broadcast(tot))
        .select(expr(
          """floor(1e9 * (
               (case when ca > 0 then (cast(ca as double) / ta) *
                 ln((cast(ca as double) / ta) /
                    ((cast(ca as double) / ta + cast(cb as double) / tb) / 2))
                else 0.0 end)
             + (case when cb > 0 then (cast(cb as double) / tb) *
                 ln((cast(cb as double) / tb) /
                    ((cast(ca as double) / ta + cast(cb as double) / tb) / 2))
                else 0.0 end)) / 2)""").cast("long").as("j"))
        .agg(count(lit(1)).as("vocab"), sum($"j").as("js_x1e9"))
    }),

    // Exact quantiles WITHOUT per-group buffers (the 100 TB path for
    // exact percentiles on a bounded integer domain, complementing the
    // in-memory `percentile` the winsorize gate uses): fold to a
    // (lang, value) histogram first — the only window then runs over
    // histogram rows (bounded by the distinct-value count, not the
    // corpus) — and the type-1 quantile is the smallest value whose
    // cumulative count crosses ceil(p·n), found by cross-multiplied
    // integer comparison. Same discipline as T10's value-histogram.
    "x_exact_quantile_hist" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val h = documents(s, d).groupBy($"lang", $"n_chars")
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"lang").orderBy($"n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h.withColumn("cum", sum($"c").over(w))
      val tot = h.groupBy($"lang").agg(sum($"c").as("n"))
      cum.join(broadcast(tot), "lang")
        .groupBy($"lang")
        .agg(max($"n").as("n"),
          min(when($"cum" * 100 >= $"n" * 50, $"n_chars")).as("p50"),
          min(when($"cum" * 100 >= $"n" * 90, $"n_chars")).as("p90"),
          min(when($"cum" * 100 >= $"n" * 99, $"n_chars")).as("p99"))
        .orderBy($"lang")
    }),

    // Spelling-variant pairs via the deletion neighborhood (the
    // FastSS/SymSpell trick): every vocab token explodes to its ≤len
    // single-deletion variants (plus itself), variants EQUI-join, and
    // an exact edit-distance ≤ 1 filter verifies — a fuzzy join with
    // no all-pairs scan and no theta join, the scale path a
    // levenshtein-threshold crawl dedup needs. The synthetic corpus's
    // vocabulary has no natural typos, so every 37th doc contributes
    // its first word with the second character dropped (deterministic
    // crawl noise, the linkGraphEdges recipe) — the variants the
    // neighborhood join must then recover exactly.
    "x_spelling_variants" -> ((s, d) => {
      import s.implicits._
      val base = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", words(lower($"text")).as("w"))
        .localCheckpoint(false)
      val toks = base.select(explode($"w").as("t"))
      val typos = base.filter($"doc_id" % 37 === 0)
        .select(element_at($"w", 1).as("t0"))
        .select(concat(substring($"t0", 1, 1), expr("substring(t0, 3)"))
          .as("t"))
      val vocab = toks.unionAll(typos)
        .filter(length($"t") >= 3)
        .groupBy($"t").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val dels = vocab.select($"t", $"c", explode(array_distinct(concat(
          array($"t"),
          expr("transform(sequence(1, length(t)), i -> " +
            "concat(substring(t, 1, i - 1), substring(t, i + 1)))"))))
          .as("v"))
      val pairs = dels.select($"t".as("ta"), $"c".as("ca"), $"v")
        .join(dels.select($"t".as("tb"), $"c".as("cb"), $"v"), Seq("v"))
        .filter($"ta" < $"tb")
        .select($"ta", $"tb", $"ca", $"cb").distinct()
      pairs.filter(levenshtein($"ta", $"tb") <= 1)
        .orderBy($"ta", $"tb")
    }),

    // Simpson diversity per source (1 − Σpᵢ² over the token
    // distribution — the no-logarithm twin of the entropy gates, and
    // EXACT in integers until one final division: Σc² and n² never
    // touch a double). Low diversity = a source dominated by few
    // tokens, the template-farm signal.
    "x_simpson_diversity" -> ((s, d) => {
      import s.implicits._
      documents(s, d).filter(length(trim($"text")) > 0)
        .select($"source", explode(words(lower($"text"))).as("t"))
        .filter($"t" =!= "")
        .groupBy($"source", $"t").agg(count(lit(1)).as("c"))
        .groupBy($"source")
        .agg(count(lit(1)).as("vocab"), sum($"c").as("n"),
          sum($"c" * $"c").as("sc2"))
        .select($"source", $"vocab", $"n",
          floor((lit(1.0) - $"sc2".cast("double") /
            ($"n".cast("double") * $"n".cast("double"))) * 1e6)
            .cast("long").as("simpson_x1e6"))
        .orderBy($"source")
    }),

    // Conditional bigram entropy H(w₂|w₁) = H(bigrams) − H(unigrams)
    // (the corpus predictability rate — low means templated text, the
    // sequence-level repetitiveness signal char entropy can't see).
    // Both entropies accumulate c·ln(c) terms floor-quantized ×1e6 PER
    // VOCAB ROW (order-free integer sums, the x_js_divergence
    // discipline); H = ln N − Σc·ln c / N assembles from four scalars.
    "x_bigram_cond_entropy" -> ((s, d) => {
      import s.implicits._
      val ws = documents(s, d).filter(length(trim($"text")) > 0)
        .select(words(lower($"text")).as("w"))
        .localCheckpoint(false)
      def entropyParts(counts: DataFrame): DataFrame =
        counts.agg(sum($"c").as("n"),
          sum(floor($"c".cast("double") * log($"c".cast("double")) * 1e6)
            .cast("long")).as("clnc_x1e6"))
      val uni = entropyParts(ws.select(explode($"w").as("t"))
        .filter($"t" =!= "").groupBy($"t").agg(count(lit(1)).as("c")))
        .select($"n".as("n1"), $"clnc_x1e6".as("u_x1e6"))
      val bi = entropyParts(ws.select(explode(zip_with($"w",
          slice($"w", lit(2), greatest(size($"w") - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))).as("t"))
        // null = zip_with's tail pad; a leading/trailing space means an
        // empty token on either side (tokens cannot contain spaces)
        .filter($"t".isNotNull && !$"t".startsWith(" ") &&
          !$"t".endsWith(" "))
        .groupBy($"t").agg(count(lit(1)).as("c")))
        .select($"n".as("n2"), $"clnc_x1e6".as("b_x1e6"))
      uni.crossJoin(broadcast(bi))
        .select($"n1", $"n2",
          (floor((log($"n2".cast("double")) -
            $"b_x1e6".cast("double") / 1e6 / $"n2") * 1e6) -
           floor((log($"n1".cast("double")) -
            $"u_x1e6".cast("double") / 1e6 / $"n1") * 1e6))
            .cast("long").as("cond_h_x1e6"))
    }),

    // Operating-threshold selection (Youden's J over the classifier
    // score grid): for each candidate cut (the decile bin's max
    // score), TPR/FPR in basis points against the n_chars > 500 label
    // and J = TPR − FPR — the row a deployment picks its threshold
    // from. Confusion counts come from one score-vs-cut explode over
    // the 10-row cut table, never an all-pairs scan.
    "x_youden_threshold" -> ((s, d) => {
      import s.implicits._
      // fanOutScan: the same per-feature md5 volume as
      // x_quality_classifier (measured −0.8 s) off a one-split scan
      val scored = graft.operators.Scale.fanOutScan(
          documents(s, d).filter(length(trim($"text")) > 0))
        .select($"doc_id", ($"n_chars" > 500).cast("long").as("label"),
          words($"text").as("w"))
        .select($"doc_id", $"label", explode(concat($"w",
          zip_with($"w",
            slice($"w", lit(2), greatest(size($"w") - 1, lit(0))),
            (a, b) => concat(a, lit("_"), b)))).as("f"))
        .filter($"f".isNotNull)
        .select($"doc_id", $"label",
          (conv(substring(md5(concat(lit("qw:"), $"f").cast("binary")),
            1, 6), 16, 10).cast("long") % 2001 - 1000).as("wt"))
        .groupBy($"doc_id", $"label")
        .agg(expr("(sum(wt) * 1000) div count(1)").as("score_x1000"))
        .localCheckpoint(false)
      val cuts = Seq(-40L, -20L, -10L, 0L, 10L, 20L, 40L).toDF("cut")
      scored.crossJoin(broadcast(cuts))
        .groupBy($"cut")
        .agg(
          sum(when($"label" === 1 && $"score_x1000" >= $"cut", 1L)
            .otherwise(0L)).as("tp"),
          sum(when($"label" === 0 && $"score_x1000" >= $"cut", 1L)
            .otherwise(0L)).as("fp"),
          sum($"label").as("pos"),
          sum(lit(1L) - $"label").as("neg"))
        .select($"cut", expr("(tp * 10000) div pos").as("tpr_x1e4"),
          expr("(fp * 10000) div neg").as("fpr_x1e4"))
        .select($"cut", $"tpr_x1e4", $"fpr_x1e4",
          ($"tpr_x1e4" - $"fpr_x1e4").as("youden_x1e4"))
        .orderBy($"cut")
    }),

    // Token burstiness (Church & Gale's Fano factor, var/mean of the
    // per-doc count INCLUDING zeros): bursty tokens (names, topics)
    // concentrate in few docs while function words spread evenly —
    // the signal that separates topical from grammatical vocabulary.
    // Population moments from integer sums over the (doc, token)
    // count table + the 1-row corpus doc count; top-20 by frequency
    // via bounded TakeOrdered, one final quantized division each.
    "x_burstiness" -> ((s, d) => {
      import s.implicits._
      val dt = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", explode(words(lower($"text"))).as("t"))
        .filter($"t" =!= "")
        .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
      val nDocs = documents(s, d).filter(length(trim($"text")) > 0)
        .agg(count(lit(1)).as("nd"))
      dt.groupBy($"t")
        .agg(sum($"c").as("ct"), sum($"c" * $"c").as("ct2"))
        .orderBy($"ct".desc, $"t").limit(20)
        .crossJoin(broadcast(nDocs))
        .select($"t", $"ct",
          // fano = var/mean = (E[c²] − E[c]²)/E[c]
          //      = (nd·Σc² − (Σc)²) / (nd·Σc), all integer until ÷
          floor(($"nd" * $"ct2" - $"ct" * $"ct").cast("double") /
            ($"nd" * $"ct").cast("double") * 1e6).cast("long")
            .as("fano_x1e6"))
        .orderBy($"ct".desc, $"t")
    }),

    // Cohen's kappa over the language-ID confusion matrix (agreement
    // beyond chance — the single-number companion to
    // x_langid_confusion): κ = (pₒ − pₑ)/(1 − pₑ) from integer
    // marginal products, quantized ×1e6 once.
    "x_langid_kappa" -> ((s, d) => {
      import s.implicits._
      def hits(w: Column, xs: Seq[String]): Column =
        size(filter(w, x => x.isin(xs: _*)))
      val preds = documents(s, d)
        .select($"lang", words($"text").as("w"))
        .select($"lang",
          hits($"w", Seq("the", "a", "of", "and")).as("s_en"),
          hits($"w", Seq("el", "la", "de", "y")).as("s_es"),
          hits($"w", Seq("der", "die", "das", "und")).as("s_de"))
        .select($"lang",
          when($"s_en" >= $"s_es" && $"s_en" >= $"s_de", "en")
            .when($"s_es" >= $"s_de", "es")
            .otherwise("de").as("pred"))
        .localCheckpoint(false)
      val agree = preds.agg(count(lit(1)).as("n"),
        sum(when($"lang" === $"pred", 1L).otherwise(0L)).as("po_n"))
      val margT = preds.groupBy($"lang").agg(count(lit(1)).as("mt"))
      val margP = preds.groupBy($"pred").agg(count(lit(1)).as("mp"))
      val pe = margT.join(margP, margT("lang") === margP("pred"))
        .agg(sum($"mt" * $"mp").as("pe_nn"))
      agree.crossJoin(broadcast(pe))
        .select($"n", $"po_n",
          floor(($"po_n" * $"n" - $"pe_nn").cast("double") /
            ($"n" * $"n" - $"pe_nn").cast("double") * 1e6).cast("long")
            .as("kappa_x1e6"))
    }),

    // PMI collocation mining (the tokenizer-vocab companion: which
    // adjacent pairs behave as one unit): top-20 bigrams by count with
    // pointwise mutual information ln(N·c(ab)/(c(a)·c(b))) — one ln
    // per output row (deterministic, quantized ×1e6), bigram/unigram
    // tables are vocab-sized, the final cut is a bounded TakeOrdered.
    "x_pmi_collocations" -> ((s, d) => {
      import s.implicits._
      // fanOutScan + checkpoint: two consumers (unigram and bigram
      // explodes) off a one-split scan — spread and tokenize once
      val ws = graft.operators.Scale.fanOutScan(
          documents(s, d).filter(length(trim($"text")) > 0))
        .select(words(lower($"text")).as("w"))
        .localCheckpoint(false)
      val uni = ws.select(explode($"w").as("t")).filter($"t" =!= "")
        .groupBy($"t").agg(count(lit(1)).as("c")).localCheckpoint(false)
      val tot = uni.agg(sum($"c").as("n"))
      val bi = ws.select(explode(zip_with($"w",
          slice($"w", lit(2), greatest(size($"w") - 1, lit(0))),
          (a, b) => struct(a.as("ta"), b.as("tb")))).as("p"))
        .filter($"p.tb".isNotNull && $"p.ta" =!= "" && $"p.tb" =!= "")
        .groupBy($"p.ta".as("ta"), $"p.tb".as("tb"))
        .agg(count(lit(1)).as("cab"))
        .orderBy($"cab".desc, $"ta", $"tb").limit(20)
      bi.join(uni.select($"t".as("ta"), $"c".as("ca")), Seq("ta"))
        .join(uni.select($"t".as("tb"), $"c".as("cb")), Seq("tb"))
        .crossJoin(broadcast(tot))
        .select($"ta", $"tb", $"cab",
          floor(log($"n".cast("double") * $"cab" /
            ($"ca".cast("double") * $"cb")) * 1e6).cast("long")
            .as("pmi_x1e6"))
        .orderBy($"cab".desc, $"ta", $"tb")
    }),

    // Source-vocabulary overlap matrix (how much do two sources share
    // a lexicon — the domain-mixing signal a sampler reads): Jaccard
    // of distinct token sets per source pair, in basis points. The
    // token-keyed join fans out at most source-count ways per token.
    "x_vocab_overlap" -> ((s, d) => {
      import s.implicits._
      val sv = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"source", explode(words(lower($"text"))).as("t"))
        .filter($"t" =!= "").distinct().localCheckpoint(false)
      val sizes = sv.groupBy($"source").agg(count(lit(1)).as("vs"))
      val inter = sv.select($"source".as("sa"), $"t")
        .join(sv.select($"source".as("sb"), $"t"), Seq("t"))
        .filter($"sa" < $"sb")
        .groupBy($"sa", $"sb").agg(count(lit(1)).as("vi"))
      inter
        .join(broadcast(sizes.select($"source".as("sa"), $"vs".as("va"))),
          Seq("sa"))
        .join(broadcast(sizes.select($"source".as("sb"), $"vs".as("vb"))),
          Seq("sb"))
        .select($"sa", $"sb", $"vi",
          expr("(vi * 10000) div (va + vb - vi)").as("jaccard_x1e4"))
        .orderBy($"sa", $"sb")
    }),

    // Embedding-space drift matrix (the vector-side complement to the
    // token-level PSI/KS/JS monitors): per label-pair cosine between
    // integer-quantized centroid sums (the v_ann_ivf quantization — no
    // division before the final cosine, so centroids merge exactly).
    // The pair table is label², never vector-sized.
    "x_embedding_drift" -> ((s, d) => {
      import s.implicits._
      val cent = embeddings(s, d)
        .select($"label", posexplode($"embedding").as(Seq("k", "v")))
        .groupBy($"label", $"k")
        .agg(sum(floor($"v".cast("double") * 1000).cast("long")).as("cs"))
        .localCheckpoint(false)
      val a = cent.select($"label".as("la"), $"k", $"cs".as("ca"))
      val b = cent.select($"label".as("lb"), $"k", $"cs".as("cb"))
      a.join(b, Seq("k"))
        .filter($"la" < $"lb")
        .groupBy($"la", $"lb")
        .agg(sum($"ca" * $"cb").as("dp"),
          sum($"ca" * $"ca").as("na"), sum($"cb" * $"cb").as("nb"))
        .select($"la", $"lb",
          floor($"dp".cast("double") /
            (sqrt($"na".cast("double")) * sqrt($"nb".cast("double"))) *
            1e6).cast("long").as("cos_x1e6"))
        .orderBy($"la", $"lb")
    }),

    // Autocorrelation of the daily event-count series at lags 1..7
    // (the seasonality diagnostic behind the DOW index: a weekly cycle
    // shows as an ACF spike at lag 7): Pearson r per lag over the
    // (day, day+lag) pair join — exact integer moments on the
    // day-count-sized series, one quantized division per lag.
    "x_acf_daily" -> ((s, d) => {
      import s.implicits._
      val daily = events(s, d)
        .select(expr("datediff(to_date(ts), date '2024-01-01')")
          .cast("long").as("day"))
        .groupBy($"day").agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      val lags = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("lag")
      daily.crossJoin(broadcast(lags))
        .select($"lag", ($"day" + $"lag").as("day"), $"n".as("x"))
        .join(daily.select($"day", $"n".as("y")), Seq("day"))
        .groupBy($"lag")
        .agg(count(lit(1)).as("m"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
          sum($"x" * $"y").as("sxy"))
        .select($"lag", $"m",
          floor(($"m".cast("double") * $"sxy" - $"sx".cast("double") * $"sy") /
            (sqrt($"m".cast("double") * $"sxx" - $"sx".cast("double") * $"sx") *
             sqrt($"m".cast("double") * $"syy" - $"sy".cast("double") * $"sy")) * 1e6)
            .cast("long").as("acf_x1e6"))
        .orderBy($"lag")
    }),

    // New-user rate per day (the growth board's acquisition line):
    // each user's first-seen day from one min() aggregate, then the
    // share of each day's actives who are brand new, in basis points.
    "x_new_user_rate" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"user_id",
          expr("datediff(to_date(ts), date '2024-01-01')").cast("long")
            .as("day"))
        .localCheckpoint(false)
      // user-keyed equi-join of two user-scale tables: a plain hash
      // join on user_id (no broadcast — the first-seen table grows
      // with the user base)
      val first = ev.groupBy($"user_id").agg(min($"day").as("d0"))
      val daily = ev.distinct()
      daily.join(first, Seq("user_id"))
        .groupBy($"day")
        .agg(count(lit(1)).as("active"),
          sum(when($"d0" === $"day", 1L).otherwise(0L)).as("new_users"))
        .select($"day", $"active", $"new_users",
          expr("(new_users * 10000) div active").as("new_rate_x1e4"))
        .orderBy($"day")
    }),

    // Kaplan–Meier survival over user lifetimes (the retention curve
    // with honest right-censoring): lifetime = last−first active day,
    // censored when the user is still active near the window's end.
    // The product-limit estimator runs in LOG space with each step's
    // ln(1 − d/n) floor-quantized ×1e9 — the cumulative sum is then
    // integer (order-free) and one exp per output row recovers S(t).
    // All windows run over the ≤31-row distinct-lifetime table.
    "x_survival_km" -> ((s, d) => {
      import s.implicits._
      val life = events(s, d)
        .select($"user_id",
          expr("datediff(to_date(ts), date '2024-01-01')").as("day"))
        .groupBy($"user_id").agg(min($"day").as("d0"), max($"day").as("d1"))
        .select(($"d1" - $"d0").cast("long").as("t"),
          ($"d1" >= 25).cast("long").as("cens"))
      kaplanMeier(life)
    }),

    // Calibration / reliability table for the hashed quality
    // classifier (is a score of 0.8 right 80% of the time?): docs
    // decile-bucketed by mean feature score via shardedRank +
    // arithmetic ntile (no global window), each bin reporting its
    // mean score and the observed rate of the deterministic
    // n_chars > 500 label — the reliability diagram's data, and the
    // eval-completeness twin of x_langid_confusion.
    "x_calibration_bins" -> ((s, d) => {
      import s.implicits._
      // fanOutScan: same per-feature md5 volume as x_quality_classifier
      // (measured −0.8 s there) off a one-split scan
      val scored = graft.operators.Scale.fanOutScan(
          documents(s, d).filter(length(trim($"text")) > 0))
        .select($"doc_id", ($"n_chars" > 500).cast("long").as("label"),
          words($"text").as("w"))
        .select($"doc_id", $"label", explode(concat($"w",
          zip_with($"w",
            slice($"w", lit(2), greatest(size($"w") - 1, lit(0))),
            (a, b) => concat(a, lit("_"), b)))).as("f"))
        .filter($"f".isNotNull)
        .select($"doc_id", $"label",
          (conv(substring(md5(concat(lit("qw:"), $"f").cast("binary")),
            1, 6), 16, 10).cast("long") % 2001 - 1000).as("wt"))
        .groupBy($"doc_id", $"label")
        .agg(expr("(sum(wt) * 1000) div count(1)").as("score_x1000"))
      val n1 = scored.agg(count(lit(1)).as("n"))
      shardedRank(scored, floor($"score_x1000" / 64),
          Seq($"score_x1000", $"doc_id"), "i")
        .crossJoin(broadcast(n1))
        .withColumn("bin", ntileOf(10, "i", "n"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(score_x1000) div count(1)").as("mean_score_x1000"),
          expr("(sum(label) * 10000) div count(1)").as("label_rate_x1e4"))
        .orderBy($"bin")
    }),

    // Welch's unequal-variance t-test (the A/B readout that doesn't
    // assume pooled variance): per-arm user means of post-period
    // purchase cents from exact integer moments, t and the
    // Welch–Satterthwaite df in doubles quantized once. Completes the
    // experiment kit: SRM guards the split, CUPED shrinks the
    // variance, Welch reads the effect.
    "x_welch_ttest" -> ((s, d) => {
      import s.implicits._
      val per = events(s, d).filter($"event_type" === "purchase")
        .select($"user_id",
          floor($"value" * 100 + 0.5).cast("long").as("cents"))
        .groupBy($"user_id").agg(sum($"cents").as("y"))
        .select($"y",
          when(substring(md5(concat(lit("exp1:"),
            $"user_id".cast("string")).cast("binary")), 1, 1) < "8", 1L)
            .otherwise(0L).as("arm"))
      per.agg(
          sum(when($"arm" === 1, 1L).otherwise(0L)).as("na"),
          sum(when($"arm" === 1, $"y").otherwise(0L)).as("sa"),
          sum(when($"arm" === 1, $"y" * $"y").otherwise(0L)).as("ssa"),
          sum(when($"arm" === 0, 1L).otherwise(0L)).as("nb"),
          sum(when($"arm" === 0, $"y").otherwise(0L)).as("sb"),
          sum(when($"arm" === 0, $"y" * $"y").otherwise(0L)).as("ssb"))
        // moment products form in DOUBLE (sa·sa over summed cents can
        // exceed Long at large SFs, where Spark wraps silently but
        // DuckDB raises — the oracle mirrors the same double op order)
        .select($"na", $"nb",
          (($"ssa".cast("double") - $"sa".cast("double") * $"sa" / $"na") /
            ($"na" - 1) / $"na").as("qa"),
          (($"ssb".cast("double") - $"sb".cast("double") * $"sb" / $"nb") /
            ($"nb" - 1) / $"nb").as("qb"),
          ($"sa".cast("double") / $"na" - $"sb".cast("double") / $"nb")
            .as("delta"))
        .select($"na", $"nb",
          floor($"delta" / sqrt($"qa" + $"qb") * 1e6).cast("long")
            .as("t_x1e6"),
          floor(($"qa" + $"qb") * ($"qa" + $"qb") /
            ($"qa" * $"qa" / ($"na" - 1) + $"qb" * $"qb" / ($"nb" - 1)) *
            100).cast("long").as("df_x100"),
          (abs($"delta" / sqrt($"qa" + $"qb")) > 1.96).cast("long")
            .as("sig_flag"))
    }),

    // Hill tail-index estimator over the link graph's degree
    // distribution (is the graph scale-free enough that hub-aware
    // algorithms matter?): α̂ = k / Σ ln(dᵢ/d₍ₖ₎) over the top-k=50
    // degrees — top-k via the bounded-heap TopKAgg, each ln term
    // floor-quantized ×1e9 before the k-row sum (order-free), one
    // final quantized division.
    "v_degree_tail" -> ((s, d) => {
      import s.implicits._
      val deg = linkGraphEdges(documents(s, d))
        .select(explode(array($"a", $"b")).as("v"))
        .groupBy($"v").agg(count(lit(1)).as("deg"))
      val top = deg.agg(graft.operators.TopKAgg.topKByScore(
          $"deg".cast("double"), $"v", 50).as("top"))
        .select(posexplode($"top").as(Seq("i", "e")))
        .select($"i", $"e.score".as("dv"))
        .localCheckpoint(false)
      val dk = top.agg(min($"dv").as("dk"))
      top.crossJoin(broadcast(dk))
        .select(floor(log($"dv" / $"dk") * 1e9).cast("long").as("t"))
        .agg(count(lit(1)).as("k"), sum($"t").as("sum_ln_x1e9"))
        .select($"k", $"sum_ln_x1e9",
          expr("(k * 1000000000000) div greatest(sum_ln_x1e9, 1)")
            .as("alpha_x1e3"))
    }),

    // Deterministic Poisson bootstrap CI (the scale recipe for "error
    // bars without resampling passes"): each of B=40 replicas weights
    // every user by a Poisson(1) draw — the md5-derived uniform cut at
    // fixed 16-bit CDF thresholds — so one ×B explode + one hash
    // aggregate yields all replica means, and both engines replay the
    // "randomness" exactly. CI = percentile bootstrap (ranks 1 and 39
    // of 40); the final rank window runs on the 40-row replica table.
    "x_bootstrap_ci" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val per = events(s, d).filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
        .localCheckpoint(false)
      val rep = per.select($"user_id", $"cents",
          explode(sequence(lit(0), lit(39))).as("r"))
        .withColumn("u16", conv(substring(md5(concat(lit("bs:"),
          $"r".cast("string"), lit(":"), $"user_id".cast("string"))
          .cast("binary")), 1, 4), 16, 10).cast("long"))
        .withColumn("w",
          when($"u16" < 24109, 0L).when($"u16" < 48218, 1L)
            .when($"u16" < 60281, 2L).when($"u16" < 64300, 3L)
            .when($"u16" < 65293, 4L).otherwise(5L))
        .groupBy($"r")
        .agg(sum($"w" * $"cents").as("sw"), sum($"w").as("nw"))
        .select($"r", expr("(sw * 100) div nw").as("mean_x100"))
      val point = per.agg(
        expr("(sum(cents) * 100) div count(1)").as("point_x100"))
      val ranked = rep.withColumn("rk",
        row_number().over(Window.orderBy($"mean_x100", $"r")))
      ranked.agg(
          min(when($"rk" === 1, $"mean_x100")).as("lo_x100"),
          min(when($"rk" === 39, $"mean_x100")).as("hi_x100"))
        .crossJoin(broadcast(point))
        .select($"point_x100", $"lo_x100", $"hi_x100")
    }),

    // CUPED variance reduction (Deng et al., WSDM'13 — the industry
    // A/B precision lever): adjust each user's post-period purchase
    // total by θ× their PRE-period total, θ = cov(pre, post)/var(pre)
    // pooled across arms. All moments are exact integer cents sums;
    // θ and the adjusted lift divide in doubles once, floor-quantized.
    // Reports the raw and adjusted treatment deltas side by side —
    // the adjusted one is what the experiment reads.
    "x_cuped" -> ((s, d) => {
      import s.implicits._
      val cut = lit("2024-01-16").cast("timestamp")
      val per = events(s, d).filter($"event_type" === "purchase")
        .select($"user_id",
          when(substring(md5(concat(lit("exp1:"),
            $"user_id".cast("string")).cast("binary")), 1, 1) < "8", 1L)
            .otherwise(0L).as("arm"),
          when($"ts" < cut, floor($"value" * 100 + 0.5).cast("long"))
            .otherwise(0L).as("pre"),
          when($"ts" >= cut, floor($"value" * 100 + 0.5).cast("long"))
            .otherwise(0L).as("post"))
        .groupBy($"user_id", $"arm")
        .agg(sum($"pre").as("x"), sum($"post").as("y"))
      per.agg(count(lit(1)).as("n"),
          sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"),
          sum(when($"arm" === 1, 1L).otherwise(0L)).as("nt"),
          sum(when($"arm" === 1, $"x").otherwise(0L)).as("sxt"),
          sum(when($"arm" === 1, $"y").otherwise(0L)).as("syt"))
        // θ's moment products form in DOUBLE (n·sxy / sx·sy over summed
        // cents overflow Long at large SFs; the oracle mirrors the op
        // order so both engines round identically)
        .select($"n", $"nt", ($"n" - $"nt").as("nc"),
          (($"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sy") /
            ($"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx"))
            .as("theta"),
          ($"syt".cast("double") / $"nt" -
            ($"sy" - $"syt").cast("double") / ($"n" - $"nt"))
            .as("raw_delta"),
          ($"sxt".cast("double") / $"nt" -
            ($"sx" - $"sxt").cast("double") / ($"n" - $"nt"))
            .as("pre_delta"))
        .select($"n", $"nt", $"nc",
          floor($"theta" * 1e6).cast("long").as("theta_x1e6"),
          floor($"raw_delta").cast("long").as("raw_delta_cents"),
          floor($"raw_delta" - $"theta" * $"pre_delta").cast("long")
            .as("adj_delta_cents"))
    }),

    // Day-of-week seasonality index (the ops-dashboard shape): each
    // weekday's event rate vs the uniform expectation, in basis points
    // — one scan, a 7-row aggregate, integer arithmetic.
    "x_seasonality_dow" -> ((s, d) => {
      import s.implicits._
      val byDow = events(s, d)
        .select(dayofweek($"ts").cast("long").as("dow"))
        .groupBy($"dow").agg(count(lit(1)).as("n"))
      val tot = byDow.agg(sum($"n").as("t"))
      byDow.crossJoin(broadcast(tot))
        .select($"dow", $"n",
          expr("(n * 7 * 10000) div t").as("index_x1e4"))
        .orderBy($"dow")
    }),

    // Directed-edge reciprocity (how mutual is the link graph): the
    // share of directed edges whose reverse also exists — one
    // self-equi-join on the deduped directed edge set, counted in
    // basis points. High reciprocity changes how a crawler dedups
    // link-derived features.
    "v_graph_reciprocity" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).select($"doc_id")
      val nRow = docs.agg(count(lit(1)).as("n"))
      val e = docs.crossJoin(broadcast(nRow))
        .select($"doc_id".as("src"), explode(array(
          ($"doc_id" * $"doc_id" + 37) % $"n",
          ($"doc_id" * $"doc_id" + 74) % $"n",
          ($"doc_id" * $"doc_id" + 111) % $"n")).as("dst"))
        .filter($"src" =!= $"dst").distinct()
        .localCheckpoint(false)
      val rec = e.join(e.select($"dst".as("src"), $"src".as("dst")),
        Seq("src", "dst"), "left_semi")
      e.agg(count(lit(1)).as("n_edges")).crossJoin(
          broadcast(rec.agg(count(lit(1)).as("n_reciprocal"))))
        .select($"n_edges", $"n_reciprocal",
          expr("(n_reciprocal * 10000) div n_edges").as("recip_x1e4"))
    }),

    // Community conductance φ(S) = cut(S) / min(vol(S), 2m − vol(S))
    // over the synthetic link graph with doc_id%4 communities — the
    // partition-quality metric that complements v_modularity (low φ =
    // well-separated). Cut and volume are both one explode + hash
    // aggregate over the edge table; integer ×1e6 quantization.
    "v_conductance" -> ((s, d) => {
      import s.implicits._
      val e = linkGraphEdges(documents(s, d))
        .select(($"a" % 4).as("ca"), ($"b" % 4).as("cb"))
        .localCheckpoint(false)
      val vol = e.select(explode(array($"ca", $"cb")).as("c"))
        .groupBy($"c").agg(count(lit(1)).as("vol"))
      val cut = e.filter($"ca" =!= $"cb")
        .select(explode(array($"ca", $"cb")).as("c"))
        .groupBy($"c").agg(count(lit(1)).as("cut"))
      val tot = vol.agg(sum($"vol").as("tv"))
      vol.join(cut, Seq("c"), "left").crossJoin(broadcast(tot))
        .select($"c".as("community"), $"vol",
          coalesce($"cut", lit(0L)).as("cut_edges"), $"tv")
        .select($"community", $"vol", $"cut_edges",
          expr("(cut_edges * 1000000) div least(vol, tv - vol)")
            .as("phi_x1e6"))
        .orderBy($"community")
    }),

    // Cross-validation fold leakage (the eval-integrity audit k-fold
    // setups skip at their peril): deterministic md5 5-fold assignment,
    // then every NEAR-DUPLICATE pair (shared 8-word-prefix fingerprint,
    // the x_cross_source_dup key) that straddles two folds is a
    // train→test leak. Pairs come from the per-fingerprint fold set
    // (≤5² per fingerprint, never corpus-sized); output is the leak
    // count per fold pair plus the duplicate groups affected.
    "x_fold_leakage" -> ((s, d) => {
      import s.implicits._
      val folded = documents(s, d).filter(length(trim($"text")) > 0)
        .select(md5(concat_ws(" ", slice(words(lower($"text")), 1, 8))
            .cast("binary")).as("h"),
          (conv(substring(md5(concat(lit("fold:"),
            $"doc_id".cast("string")).cast("binary")), 1, 4), 16, 10)
            .cast("long") % 5).as("fold"))
      // distinct (h, fold): a hash's fold set is ≤5 rows, so the pair
      // join below is bounded by 25 per duplicate group
      val hf = folded.groupBy($"h", $"fold")
        .agg(count(lit(1)).as("n")).localCheckpoint(false)
      hf.select($"h", $"fold".as("fold_a"), $"n".as("na"))
        .join(hf.select($"h", $"fold".as("fold_b"), $"n".as("nb")),
          Seq("h"))
        .filter($"fold_a" < $"fold_b")
        .groupBy($"fold_a", $"fold_b")
        .agg(count(lit(1)).as("dup_groups"),
          sum($"na" * $"nb").as("leaked_pairs"))
        .orderBy($"fold_a", $"fold_b")
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    // per source, the 5 docs with the largest u^(1/w) key — here the
    // equivalent ln(u)/w ordering — with w = n_chars and u the
    // md5-derived uniform (the x_dp_counts recipe per doc), so longer
    // docs are proportionally likelier but the draw replays
    // deterministically in both engines. Selection is the bounded-heap
    // TopKAgg (map-side trim to k per partition — a per-source window
    // would funnel each source through one task at corpus scale); the
    // winners' metadata joins back via the broadcast-small side. Keys
    // quantized ×1e9 only for display.
    "x_weighted_sample" -> ((s, d) => {
      import s.implicits._
      val u = conv(substring(md5(concat(lit("ws:"),
          $"doc_id".cast("string")).cast("binary")), 1, 12), 16, 10)
        .cast("long").cast("double") / lit(281474976710656.0)
      val scored = documents(s, d).filter($"n_chars" > 0)
        .select($"source", $"doc_id",
          (log(u) / $"n_chars".cast("double")).as("key"))
      val top = scored.groupBy($"source")
        .agg(graft.operators.TopKAgg.topKByScore($"key", $"doc_id", 5)
          .as("top"))
        .select($"source", posexplode($"top").as(Seq("i", "e")))
        .select($"source", ($"i" + 1).cast("int").as("rnk"),
          $"e.id".as("doc_id"),
          floor($"e.score" * 1e9).cast("long").as("key_x1e9"))
      top.join(documents(s, d).select($"doc_id", $"n_chars"),
          Seq("doc_id"))
        .select($"source", $"rnk", $"doc_id", $"n_chars", $"key_x1e9")
        .orderBy($"source", $"rnk")
    }),

    // Sequential pattern detection (the funnel's strict-adjacency
    // sibling): per user, occurrences of the exact view→view→purchase
    // trigram over the time-ordered event stream — one user-partitioned
    // window pass (two lags), then a hash aggregate. The streaming twin
    // (StreamOps.patternStream, ListState) is asserted equal to this
    // shape in StreamOpsSpec.
    "x_event_pattern" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
          $"event_type")
        .select($"user_id", $"event_type",
          lag($"event_type", 2).over(w).as("p2"),
          lag($"event_type", 1).over(w).as("p1"))
        .filter($"p2" === "view" && $"p1" === "view" &&
          $"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("matches"))
        .orderBy($"user_id")
    }),

    // Curriculum ordering (easy→hard scheduling for staged pretraining):
    // an integer quality score (alpha-word rate + stopword bonus) ranks
    // the corpus via the shard-prefix-sum (shard = score div 64 — no
    // unpartitioned window, the same machinery as x_quantile_norm) and
    // the arithmetic ntile cuts it into 4 curriculum phases; per-phase
    // doc counts, score range, and character budget come out as the
    // schedule table a trainer consumes.
    "x_curriculum_order" -> ((s, d) => {
      import s.implicits._
      val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val scored = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", $"n_chars", words(lower($"text")).as("w"))
        .select($"doc_id", $"n_chars",
          size($"w").cast("long").as("nw"),
          expr("size(filter(w, x -> x rlike '[a-z]'))").cast("long")
            .as("alpha_w"),
          expr(s"size(filter(array(${stop.map("'" + _ + "'").mkString(",")})," +
            " s -> array_contains(w, s)))").cast("long").as("n_stop"))
        .select($"doc_id", $"n_chars",
          (expr("(alpha_w * 1000) div nw") + $"n_stop" * 100).as("score"))
      val n1 = scored.agg(count(lit(1)).as("n"))
      shardedRank(scored, floor($"score" / 64), Seq($"score", $"doc_id"), "i")
        .crossJoin(broadcast(n1))
        .withColumn("phase", ntileOf(4, "i", "n"))
        .groupBy($"phase")
        .agg(count(lit(1)).as("n_docs"),
          min($"score").as("min_score"), max($"score").as("max_score"),
          sum($"n_chars").as("phase_chars"))
        .orderBy($"phase")
    }),

    // Differentially-private count release (the privacy-budgeted stats
    // a data-access boundary publishes): per-source counts + Laplace(1)
    // noise at ε=1, with the noise DETERMINISTIC — the uniform draw is
    // the first 12 md5 hex digits of the source name over 2⁴⁸, pushed
    // through the exact Laplace inverse CDF — so both engines replay
    // the same "randomness" bit-for-bit (the x_hash_sample recipe
    // applied to noise). Floor-quantized to whole counts; true counts
    // ride along for the utility-loss audit.
    "x_dp_counts" -> ((s, d) => {
      import s.implicits._
      val u = (conv(substring(md5(concat(lit("dp:"), $"source")
          .cast("binary")), 1, 12), 16, 10).cast("long").cast("double") /
        lit(281474976710656.0)).as("u")
      documents(s, d).groupBy($"source")
        .agg(count(lit(1)).as("n"))
        .select($"source", $"n", u)
        .select($"source", $"n",
          ($"n" + floor(when($"u" >= 0.5, -log(lit(2.0) * (lit(1.0) - $"u")))
            .otherwise(log(lit(2.0) * $"u"))).cast("long")).as("noisy_n"))
        .orderBy($"source")
    }),

    // Gopher quality-rule bundle (Rae et al. 2021, §A1.1 table A1 — the
    // published pretraining filter set, doc-level subset): word count in
    // [50, 10⁵], mean word length in [3, 10], symbol-word ratio < 10%,
    // ≥80% of words with an alphabetic character, ≥2 distinct English
    // stopwords present. All ratios compare as cross-multiplied integers
    // (no division), every predicate is a codegen'd higher-order array
    // function over the split-once word array — no explode, no shuffle
    // before the per-source fold.
    "x_gopher_rules" -> ((s, d) => {
      import s.implicits._
      val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val m = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"source", words(lower($"text")).as("w"))
        .select($"source",
          size($"w").cast("long").as("nw"),
          expr("aggregate(w, cast(0 as bigint), (acc, x) -> acc + length(x))")
            .as("chars"),
          expr("size(filter(w, x -> x rlike '[a-z]'))").cast("long")
            .as("alpha_w"),
          expr("size(filter(w, x -> x like '%#%' or x like '%...%'))")
            .cast("long").as("sym_w"),
          expr(s"size(filter(array(${stop.map("'" + _ + "'").mkString(",")})," +
            " s -> array_contains(w, s)))").cast("long").as("n_stop"))
      m.select($"source",
          ($"nw" >= 50 && $"nw" <= 100000).cast("long").as("r_count"),
          ($"chars" >= $"nw" * 3 && $"chars" <= $"nw" * 10).cast("long")
            .as("r_wordlen"),
          ($"sym_w" * 10 < $"nw").cast("long").as("r_symbol"),
          ($"alpha_w" * 10 >= $"nw" * 8).cast("long").as("r_alpha"),
          ($"n_stop" >= 2).cast("long").as("r_stop"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"r_count").as("pass_count"),
          sum($"r_wordlen").as("pass_wordlen"),
          sum($"r_symbol").as("pass_symbol"),
          sum($"r_alpha").as("pass_alpha"),
          sum($"r_stop").as("pass_stop"),
          sum($"r_count" * $"r_wordlen" * $"r_symbol" * $"r_alpha" *
            $"r_stop").as("kept"))
        .orderBy($"source")
    }),

    // Cross-source contamination matrix: for every source pair, the
    // number of distinct 8-word-prefix fingerprints present in BOTH —
    // the train/test-leakage view a mixture designer checks before
    // trusting held-out sources. The fingerprint table is distinct
    // (source, fp), so per fingerprint the join fan-out is bounded by
    // the source count (≤20²), never by corpus size.
    "x_cross_source_dup" -> ((s, d) => {
      import s.implicits._
      val sh = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"source",
          md5(concat_ws(" ", slice(words(lower($"text")), 1, 8))
            .cast("binary")).as("h"))
        .distinct().localCheckpoint(false)
      sh.select($"source".as("src_a"), $"h")
        .join(sh.select($"source".as("src_b"), $"h"), Seq("h"))
        .filter($"src_a" < $"src_b")
        .groupBy($"src_a", $"src_b")
        .agg(count(lit(1)).as("shared_fps"))
        .orderBy($"src_a", $"src_b")
    }),

    // Dedup length-bias audit (the distribution-shift check the dedup
    // literature warns about: removing boilerplate copies shifts the
    // survivor length profile): per source, mean length before vs after
    // exact dedup (keeper = min-doc_id argmin via one partial-aggregable
    // max(struct) election) and the shift in basis points. A biased
    // shift flags that dedup is eating one register of the corpus.
    "x_dedup_length_bias" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
        .select($"doc_id", $"source", $"n_chars",
          md5($"text".cast("binary")).as("h"))
        .localCheckpoint(false)
      val pre = docs.groupBy($"source")
        .agg(count(lit(1)).as("n_pre"), sum($"n_chars").as("c_pre"))
      val kept = docs.groupBy($"h")
        .agg(max(struct((-$"doc_id").as("nid"), $"source", $"n_chars"))
          .as("k"))
        .select($"k.source".as("source"), $"k.n_chars".as("n_chars"))
      val post = kept.groupBy($"source")
        .agg(count(lit(1)).as("n_post"), sum($"n_chars").as("c_post"))
      pre.join(post, "source")
        .select($"source", $"n_pre", $"n_post",
          expr("(c_pre * 100) div n_pre").as("mean_pre_x100"),
          expr("(c_post * 100) div n_post").as("mean_post_x100"))
        .select($"source", $"n_pre", $"n_post", $"mean_pre_x100",
          $"mean_post_x100",
          expr("((mean_post_x100 - mean_pre_x100) * 10000)" +
            " div mean_pre_x100").as("shift_bp"))
        .orderBy($"source")
    }),

    // Token-budget / epoch planner (data-constrained scaling: past ~4
    // epochs, repeating a source stops buying loss): given each
    // source's available whitespace-token supply and an equal-share
    // target of 2× the corpus total, the passes each source must
    // repeat (×100) and the >4-epoch repetition flag. One scan to a
    // source-count-sized plan table.
    "x_token_budget" -> ((s, d) => {
      import s.implicits._
      val avail = documents(s, d).filter(length(trim($"text")) > 0)
        .groupBy($"source")
        .agg(sum(size(words($"text")).cast("long")).as("avail_tokens"))
        .localCheckpoint(false)
      val tot = avail.agg(sum($"avail_tokens").as("t"),
        count(lit(1)).as("k"))
      avail.crossJoin(broadcast(tot))
        .select($"source", $"avail_tokens",
          expr("(2 * t) div k").as("target_tokens"))
        .select($"source", $"avail_tokens", $"target_tokens",
          expr("(target_tokens * 100) div avail_tokens").as("epochs_x100"))
        .select($"source", $"avail_tokens", $"target_tokens",
          $"epochs_x100",
          ($"epochs_x100" > 400).cast("long").as("over_repeat"))
        .orderBy($"source")
    }),

    // Dedup savings headline ("how many tokens does dedup buy back"):
    // corpus characters before vs after exact text dedup, per source
    // and overall inflation in basis points — the one number a
    // pretraining-budget meeting asks for. One hash aggregate elects a
    // keeper per distinct text; everything else is partial-aggregable
    // sums.
    "x_dup_inflation" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
        .select($"source", $"n_chars", md5($"text".cast("binary")).as("h"))
        .localCheckpoint(false)
      // min(n_chars), not first(): deterministic election that matches
      // the DuckDB oracle even if same-text rows ever diverge in n_chars
      val kept = docs.groupBy($"h")
        .agg(min($"n_chars").as("n_chars"), count(lit(1)).as("copies"))
      val raw = docs.groupBy($"source")
        .agg(count(lit(1)).as("docs_raw"), sum($"n_chars").as("chars_raw"))
      val global = kept
        .agg(count(lit(1)).as("docs_kept"), sum($"n_chars").as("chars_kept"),
          sum($"n_chars" * ($"copies" - 1)).as("chars_saved"))
      raw.crossJoin(broadcast(global))
        .select($"source", $"docs_raw", $"chars_raw", $"docs_kept",
          $"chars_saved",
          expr("(chars_saved * 10000) div chars_kept")
            .as("inflation_x1e4"))
        .orderBy($"source")
    }),

    // Heaps'-law vocabulary growth: distinct-token count as the corpus
    // grows — computed WITHOUT re-scanning any prefix: each token's
    // FIRST-occurrence doc (a partial-aggregable min) buckets it where
    // it entered the vocabulary, one cumulative sum finishes the
    // curve. The synthetic corpus's closed vocabulary saturates within
    // the first few documents, so the buckets are the first 10 docs +
    // the tail — the curve SHOWS the saturation (Heaps' exponent ~0).
    "x_vocab_growth" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val firstSeen = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", explode(words($"text")).as("tk"))
        .filter($"tk" =!= "")
        .groupBy($"tk").agg(min($"doc_id").as("first_doc"))
      firstSeen
        .select(least($"first_doc", lit(10L)).as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("new_types"))
        .withColumn("vocab_size", sum($"new_types").over(
          Window.orderBy($"bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy($"bucket")
    }),

    // Exact two-sample Kolmogorov–Smirnov statistic (the unbinned
    // complement to the PSI monitor): D = max |F_a(x) − F_b(x)| over
    // src0 vs src1 length distributions, each row's CDF gap floor-
    // quantized ×1e6, folded by max. The running per-source counts are
    // computed with the shard-prefix-sum (shard = n_chars div 64, a
    // monotone function of the leading sort key): shard-partitioned
    // running sums + a shard-count-sized serial cumsum of per-shard
    // subtotals broadcast back — running counts compose across shards
    // by adding the earlier-shard offsets, so nothing corpus-sized
    // funnels through one partition. The critical value at α=0.05
    // (1.358·√((na+nb)/(na·nb))) rides along, same quantization.
    "x_ks_test" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val vals = documents(s, d)
        .filter($"source".isin("src0", "src1"))
        .select($"n_chars", ($"source" === "src0").as("isa"),
          $"doc_id")
        .withColumn("shard", floor($"n_chars" / 64).cast("long"))
        .localCheckpoint(false)
      val tot = vals.agg(sum(when($"isa", 1L).otherwise(0L)).as("na"),
        sum(when(!$"isa", 1L).otherwise(0L)).as("nb"))
      val w = Window.partitionBy($"shard").orderBy($"n_chars", $"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val inShard = vals
        .withColumn("ca0", sum(when($"isa", 1L).otherwise(0L)).over(w))
        .withColumn("cb0", sum(when(!$"isa", 1L).otherwise(0L)).over(w))
      // shard subtotal = the last running count in the shard (running
      // sums are non-decreasing, so max = final); the serial cumsum
      // below runs on shard-count rows only
      val sub = inShard.groupBy($"shard")
        .agg(max($"ca0").as("sa"), max($"cb0").as("sb"))
      val offW = Window.orderBy($"shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = sub.select($"shard",
        coalesce(sum($"sa").over(offW), lit(0L)).as("oa"),
        coalesce(sum($"sb").over(offW), lit(0L)).as("ob"))
      inShard.join(broadcast(offs), Seq("shard"))
        .crossJoin(broadcast(tot))
        .select(floor(abs(($"oa" + $"ca0").cast("double") / $"na" -
          ($"ob" + $"cb0").cast("double") / $"nb") * 1e6).cast("long")
          .as("gap"),
          $"na", $"nb")
        .groupBy($"na", $"nb")
        .agg(max($"gap").as("d_x1e6"))
        .select($"na", $"nb", $"d_x1e6",
          floor(lit(1.358) * sqrt(($"na" + $"nb").cast("double") /
            ($"na" * $"nb").cast("double")) * 1e6).cast("long")
            .as("crit05_x1e6"))
        .select($"na", $"nb", $"d_x1e6", $"crit05_x1e6",
          when($"d_x1e6" > $"crit05_x1e6", 1L).otherwise(0L)
            .as("reject_flag"))
    }),

    // Weekly churn: of the users active in week w, the fraction gone
    // in week w+1 — the retention board's headline. Distinct
    // (user, week) pairs once, then a self-join on the tiny pair
    // table shifted by one week; rates in basis points.
    "x_churn_weekly" -> ((s, d) => {
      import s.implicits._
      val uw = events(s, d)
        .select($"user_id",
          expr("datediff(to_date(ts), date '2024-01-01') div 7").as("wk"))
        .distinct().localCheckpoint(false)
      val nxt = uw.select($"user_id", ($"wk" - 1).as("wk"))
      uw.join(nxt, Seq("user_id", "wk"), "left_semi")
        .groupBy($"wk").agg(count(lit(1)).as("retained"))
        .join(uw.groupBy($"wk").agg(count(lit(1)).as("active")), Seq("wk"))
        .select($"wk", $"active", $"retained",
          expr("((active - retained) * 10000) div active")
            .as("churn_x1e4"))
        .orderBy($"wk")
    }),

    // Shannon entropy of the source mix (the corpus-balance index a
    // mixture designer tracks): H = ln N − (Σ c·ln c)/N over source
    // counts, the charEntropy quantization recipe on the 20-row
    // source distribution — one aggregate pass.
    "x_source_entropy" -> ((s, d) => {
      import s.implicits._
      documents(s, d).groupBy($"source").agg(count(lit(1)).as("c"))
        .agg(sum($"c").as("n"), count(lit(1)).as("n_sources"),
          sum($"c" * floor(log($"c".cast("double")) * 1e6).cast("long"))
            .as("clnc"))
        .select($"n_sources", $"n",
          (floor(log($"n".cast("double")) * 1e6).cast("long") -
            expr("clnc div n")).as("entropy_x1e6"))
    }),

    // Out-of-vocabulary rate (the coverage check before freezing a
    // tokenizer or embedding table): the even-doc half defines the
    // vocabulary; the odd half's token stream measures what falls
    // outside it, per lang in basis points. The vocabulary is
    // vocab-bounded and the membership test a broadcast anti-ish
    // left join — one explode feeds both halves.
    "x_oov_rate" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", $"lang", explode(words($"text")).as("tk"))
        .filter($"tk" =!= "").localCheckpoint(false)
      val vocab = toks.filter($"doc_id" % 2 === 0)
        .select($"tk").distinct().withColumn("known", lit(1L))
      toks.filter($"doc_id" % 2 === 1)
        .join(broadcast(vocab), Seq("tk"), "left")
        .groupBy($"lang")
        .agg(count(lit(1)).as("tokens"),
          sum(when($"known".isNull, 1L).otherwise(0L)).as("oov"))
        .select($"lang", $"tokens", $"oov",
          expr("(oov * 10000) div tokens").as("oov_x1e4"))
        .orderBy($"lang")
    }),

    // Embedding↔document alignment audit (the multimodal referential
    // check): vectors without a document, documents without a vector,
    // and the aligned count — the c24 FK-audit shape applied to the
    // modality join every embedding-based operator here assumes. Two
    // anti joins + one semi join, all keyed.
    "c34_embedding_alignment" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d).select($"doc_id")
      val vecs = embeddings(s, d).select($"vec_id")
      val orphanVecs = vecs.join(docs, $"vec_id" === $"doc_id",
        "left_anti").agg(count(lit(1)).as("orphan_vectors"))
      val docsNoVec = docs.join(vecs, $"doc_id" === $"vec_id",
        "left_anti").agg(count(lit(1)).as("docs_without_vector"))
      val aligned = docs.join(vecs, $"doc_id" === $"vec_id", "left_semi")
        .agg(count(lit(1)).as("aligned"))
      aligned.crossJoin(broadcast(orphanVecs))
        .crossJoin(broadcast(docsNoVec))
        .select($"aligned", $"orphan_vectors", $"docs_without_vector",
          when($"orphan_vectors" === 0 && $"docs_without_vector" === 0, 1L)
            .otherwise(0L).as("fully_aligned"))
    }),

    // ANALYZE-style column statistics (the optimizer's planning input:
    // NDV, null rate, bounds): exact distinct counts for three columns
    // plus min/max/nulls in ONE logical pass — Spark expands multiple
    // DISTINCT aggregates into a single Expand + two-level aggregate,
    // not one scan per column, which is what makes stats collection
    // affordable on a 100 TB table.
    "c29_analyze_stats" -> ((s, d) => {
      import s.implicits._
      orders(s, d).agg(
          count(lit(1)).as("n_rows"),
          countDistinct($"o_custkey").as("ndv_custkey"),
          countDistinct($"o_orderstatus").as("ndv_status"),
          countDistinct($"o_orderpriority").as("ndv_priority"),
          sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("null_custkey"),
          min($"o_orderkey").as("min_orderkey"),
          max($"o_orderkey").as("max_orderkey"),
          floor(min($"o_totalprice") * 100 + 0.5).cast("long")
            .as("min_price_x100"),
          floor(max($"o_totalprice") * 100 + 0.5).cast("long")
            .as("max_price_x100"))
    }))

  /** The [[focalMean3x3]] arithmetic as a DuckDB lambda expression over
    * list variable `px` and index variable `i` (0-based, w = 8).
    */
  private val focalSqlExpr: String = {
    val conds = for (dy <- -1 to 1; dx <- -1 to 1) yield {
      val c = s"(i // 8 + $dy) BETWEEN 0 AND 7 AND (i % 8 + $dx) BETWEEN 0 AND 7"
      val v = s"px[(i // 8 + $dy) * 8 + (i % 8 + $dx) + 1]"
      (s"(CASE WHEN $c THEN $v ELSE 0 END)",
        s"(CASE WHEN $c THEN 1 ELSE 0 END)")
    }
    s"(${conds.map(_._1).mkString(" + ")}) // (${conds.map(_._2).mkString(" + ")})"
  }

  /** The [[hornSlopeSq]] stencil as a DuckDB lambda expression (list
    * variable `px`, index `i`, w = 8, edge replication via
    * greatest/least clamping).
    */
  private val hornSqlExpr: String = {
    def px(dy: Int, dx: Int): String =
      s"px[greatest(0, least(7, i // 8 + $dy)) * 8 + " +
        s"greatest(0, least(7, i % 8 + $dx)) + 1]"
    val gx = s"((${px(-1, 1)} + 2 * ${px(0, 1)} + ${px(1, 1)}) - " +
      s"(${px(-1, -1)} + 2 * ${px(0, -1)} + ${px(1, -1)}))"
    val gy = s"((${px(1, -1)} + 2 * ${px(1, 0)} + ${px(1, 1)}) - " +
      s"(${px(-1, -1)} + 2 * ${px(-1, 0)} + ${px(-1, 1)}))"
    s"$gx * $gx + $gy * $gy"
  }

  val oracles: Map[String, String] = Map(
    "m10_horn_slope" ->
      s"""WITH b AS (SELECT t.id // 16 AS tile, (t.id // 4) % 4 AS by,
             t.id % 4 AS bx
           FROM range(0, 64) t(id)),
         p0 AS (SELECT tile, by, bx,
             list_transform(generate_series(0, 63), i ->
               (tile * 31 + (by * 8 + i // 8) * 7 + (bx * 8 + i % 8) * 13)
                 % 256) AS px
           FROM b),
         sl AS (SELECT tile, by, bx,
             list_transform(generate_series(0, 63), i -> $hornSqlExpr) AS s
           FROM p0)
         SELECT tile, by, bx,
           CAST(list_aggregate(s, 'sum') AS BIGINT) AS slope_sum,
           CAST(list_aggregate(s, 'min') AS BIGINT) AS slope_min,
           CAST(list_aggregate(s, 'max') AS BIGINT) AS slope_max,
           CAST(s[28] AS BIGINT) AS interior_px
         FROM sl ORDER BY tile, by, bx""",
    "m9_focal_mean" ->
      s"""WITH b AS (SELECT t.id // 16 AS tile, (t.id // 4) % 4 AS by,
             t.id % 4 AS bx
           FROM range(0, 64) t(id)),
         p0 AS (SELECT tile, by, bx,
             list_transform(generate_series(0, 63), i ->
               (tile * 31 + (by * 8 + i // 8) * 7 + (bx * 8 + i % 8) * 13)
                 % 256) AS px
           FROM b),
         fm AS (SELECT tile, by, bx,
             list_transform(generate_series(0, 63), i -> $focalSqlExpr) AS f
           FROM p0)
         SELECT tile, by, bx,
           CAST(list_aggregate(f, 'sum') AS BIGINT) AS focal_sum,
           CAST(list_aggregate(f, 'min') AS BIGINT) AS focal_min,
           CAST(list_aggregate(f, 'max') AS BIGINT) AS focal_max,
           CAST(f[1] AS BIGINT) AS corner_px,
           CAST(f[28] AS BIGINT) AS interior_px
         FROM fm ORDER BY tile, by, bx""",
    "m8_overview_pyramid" ->
      """WITH b AS (SELECT t.id // 16 AS tile, (t.id // 4) % 4 AS by,
             t.id % 4 AS bx
           FROM range(0, 64) t(id)),
         p0 AS (SELECT tile, by, bx,
             list_transform(generate_series(0, 63), i ->
               (tile * 31 + (by * 8 + i // 8) * 7 + (bx * 8 + i % 8) * 13)
                 % 256) AS px
           FROM b),
         p1 AS (SELECT tile, by, bx, px,
             list_transform(generate_series(0, 15), j ->
               (px[(j // 4) * 16 + (j % 4) * 2 + 1]
                + px[(j // 4) * 16 + (j % 4) * 2 + 2]
                + px[(j // 4) * 16 + (j % 4) * 2 + 9]
                + px[(j // 4) * 16 + (j % 4) * 2 + 10]) // 4) AS px1
           FROM p0),
         p2 AS (SELECT tile, by, bx, px, px1,
             list_transform(generate_series(0, 3), k ->
               (px1[(k // 2) * 8 + (k % 2) * 2 + 1]
                + px1[(k // 2) * 8 + (k % 2) * 2 + 2]
                + px1[(k // 2) * 8 + (k % 2) * 2 + 5]
                + px1[(k // 2) * 8 + (k % 2) * 2 + 6]) // 4) AS px2
           FROM p1),
         lv AS (SELECT tile, by, bx, 0 AS level, px AS a FROM p2
           UNION ALL SELECT tile, by, bx, 1, px1 FROM p2
           UNION ALL SELECT tile, by, bx, 2, px2 FROM p2)
         SELECT tile, by, bx, CAST(level AS INT) AS level,
           CAST(len(a) AS BIGINT) AS n_px,
           CAST(list_aggregate(a, 'sum') AS BIGINT) AS px_sum,
           CAST(list_aggregate(a, 'min') AS BIGINT) AS px_min,
           CAST(list_aggregate(a, 'max') AS BIGINT) AS px_max
         FROM lv ORDER BY tile, by, bx, level""",
    "c24_referential_audit" ->
      """WITH lo AS (SELECT l_orderkey AS k, count(*) AS c
             FROM lineitem GROUP BY 1),
         lp AS (SELECT l_partkey AS k, count(*) AS c
             FROM lineitem GROUP BY 1),
         ls AS (SELECT l_suppkey AS k, count(*) AS c
             FROM lineitem GROUP BY 1),
         oc AS (SELECT o_custkey AS k, count(*) AS c
             FROM orders GROUP BY 1)
         SELECT 'lineitem->orders' AS relation,
           CAST(sum(c) AS BIGINT) AS children, count(*) AS linked_parents,
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
             AS orphan_children,
           (SELECT count(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
             AS childless_parents,
           CAST(min(c) AS BIGINT) AS min_fan, CAST(max(c) AS BIGINT) AS max_fan,
           (CAST(sum(c) AS BIGINT) * 100) // count(*) AS avg_fan_x100
         FROM lo
         UNION ALL
         SELECT 'lineitem->part',
           CAST(sum(c) AS BIGINT), count(*),
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
           (SELECT count(*) FROM part p WHERE NOT EXISTS
             (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)),
           CAST(min(c) AS BIGINT), CAST(max(c) AS BIGINT),
           (CAST(sum(c) AS BIGINT) * 100) // count(*)
         FROM lp
         UNION ALL
         SELECT 'lineitem->supplier',
           CAST(sum(c) AS BIGINT), count(*),
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
           (SELECT count(*) FROM supplier s WHERE NOT EXISTS
             (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)),
           CAST(min(c) AS BIGINT), CAST(max(c) AS BIGINT),
           (CAST(sum(c) AS BIGINT) * 100) // count(*)
         FROM ls
         UNION ALL
         SELECT 'orders->customer',
           CAST(sum(c) AS BIGINT), count(*),
           (SELECT count(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer cu WHERE cu.c_custkey = o.o_custkey)),
           (SELECT count(*) FROM customer cu WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_custkey = cu.c_custkey)),
           CAST(min(c) AS BIGINT), CAST(max(c) AS BIGINT),
           (CAST(sum(c) AS BIGINT) * 100) // count(*)
         FROM oc
         ORDER BY relation""",
    "x_ab_experiment" ->
      """WITH u AS (SELECT user_id,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         arms AS (SELECT CASE WHEN
             substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
             THEN 'A' ELSE 'B' END AS arm, cents FROM u),
         m AS (SELECT arm, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sc,
             CAST(sum(cents * cents) AS BIGINT) AS scc
           FROM arms GROUP BY 1),
         a AS (SELECT n AS n_a, sc AS sc_a, scc AS scc_a FROM m
           WHERE arm = 'A'),
         b AS (SELECT n AS n_b, sc AS sc_b, scc AS scc_b FROM m
           WHERE arm = 'B')
         SELECT n_a, n_b,
           CAST(floor(CAST(sc_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 100)
             AS BIGINT) AS mean_a_x100,
           CAST(floor(CAST(sc_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 100)
             AS BIGINT) AS mean_b_x100,
           CAST(floor((CAST(sc_a AS DOUBLE) / CAST(n_a AS DOUBLE)
               - CAST(sc_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt(((CAST(scc_a AS DOUBLE) - CAST(sc_a AS DOUBLE)
                 * CAST(sc_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                 / (CAST(n_a AS DOUBLE) - 1)) / CAST(n_a AS DOUBLE)
               + ((CAST(scc_b AS DOUBLE) - CAST(sc_b AS DOUBLE)
                 * CAST(sc_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / (CAST(n_b AS DOUBLE) - 1)) / CAST(n_b AS DOUBLE))
             * 1e6) AS BIGINT) AS welch_t_x1e6
         FROM a, b""",
    "v_bfs_hops" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         e AS (SELECT DISTINCT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         h0 AS (SELECT doc_id AS v, 0 AS hop FROM documents
           WHERE doc_id IN (0, 1, 2)),
         n1 AS (SELECT e.dst AS v FROM e JOIN h0 ON e.src = h0.v),
         f1 AS (SELECT v, min(hop) AS hop FROM
           (SELECT * FROM h0 UNION ALL SELECT v, 1 FROM n1) GROUP BY 1),
         n2 AS (SELECT e.dst AS v FROM e JOIN f1 ON e.src = f1.v
           WHERE f1.hop = 1),
         f2 AS (SELECT v, min(hop) AS hop FROM
           (SELECT * FROM f1 UNION ALL SELECT v, 2 FROM n2) GROUP BY 1),
         n3 AS (SELECT e.dst AS v FROM e JOIN f2 ON e.src = f2.v
           WHERE f2.hop = 2),
         f3 AS (SELECT v, min(hop) AS hop FROM
           (SELECT * FROM f2 UNION ALL SELECT v, 3 FROM n3) GROUP BY 1)
         SELECT v, CAST(hop AS INT) AS hop FROM f3 ORDER BY hop, v""",
    "x_event_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS tc
           FROM events e JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts > v.tv
             AND e.ts <= v.tv + INTERVAL '1 day' GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS tp
           FROM events e JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.tc
             AND e.ts <= c.tc + INTERVAL '3 days' GROUP BY 1)
         SELECT (SELECT count(*) FROM v) AS viewers,
           (SELECT count(*) FROM c) AS clickers,
           (SELECT count(*) FROM p) AS purchasers,
           CAST(floor((SELECT count(*) FROM c) * 10000
             / (SELECT count(*) FROM v)) AS BIGINT) AS click_conv_x10000,
           CAST(floor((SELECT count(*) FROM p) * 10000
             / (SELECT count(*) FROM c)) AS BIGINT)
             AS purchase_conv_x10000""",
    "x_retention_cohorts" ->
      """WITH hv AS (SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS d
           FROM events WHERE event_type = 'purchase' AND value > 95),
         f AS (SELECT user_id, min(d) AS cohort FROM hv GROUP BY 1)
         SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
           CAST(datediff('day', f.cohort, hv.d) AS BIGINT) AS offset_days,
           count(*) AS active_users
         FROM hv JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_day, offset_days""",
    "q22_idle_customers" ->
      """WITH avgbal AS (SELECT avg(c_acctbal) AS ab FROM customer
           WHERE c_acctbal > 0),
         cand AS (SELECT c_custkey, c_mktsegment, c_acctbal
           FROM customer, avgbal WHERE c_acctbal > ab)
         SELECT cand.c_mktsegment, count(*) AS numcust,
           CAST(floor(sum(cand.c_acctbal) * 100 + 0.5) AS BIGINT)
             AS totacctbal_x100
         FROM cand
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = cand.c_custkey
             AND o.o_orderdate >= TIMESTAMP '1998-07-15')
         GROUP BY 1 ORDER BY c_mktsegment""",
    "v_triangles" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         raw AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         deg AS (SELECT v, count(*) AS dg FROM
           (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY 1),
         o AS (SELECT
             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.a ELSE e.b END AS lo,
             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.b ELSE e.a END AS hi,
             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN db.dg ELSE da.dg END AS dh
           FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
         w AS (SELECT o1.lo AS x, o1.hi AS y, o2.hi AS z
           FROM o o1 JOIN o o2 ON o1.lo = o2.lo
           WHERE (o1.dh, o1.hi) < (o2.dh, o2.hi)),
         tris AS (SELECT w.x, w.y, w.z
           FROM w JOIN o ON o.lo = w.y AND o.hi = w.z),
         corners AS (SELECT node, count(*) AS tri_cnt FROM
           (SELECT x AS node FROM tris UNION ALL SELECT y FROM tris
            UNION ALL SELECT z FROM tris) GROUP BY 1)
         SELECT node, tri_cnt,
           CAST(row_number() OVER (ORDER BY tri_cnt DESC, node) AS BIGINT)
             AS rnk
         FROM corners QUALIFY rnk <= 20 ORDER BY rnk""",
    "q17_small_quantity" ->
      """WITH pa AS (SELECT l_partkey,
             CAST(sum(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
             count(*) AS cnt
           FROM lineitem GROUP BY 1),
         pp AS (SELECT p_partkey, p_brand FROM part WHERE p_size <= 10)
         SELECT pp.p_brand, count(*) AS n_small,
           CAST(floor(sum(l.l_extendedprice) * 100 + 0.5) AS BIGINT)
             AS revenue_x100
         FROM lineitem l
         JOIN pp ON l.l_partkey = pp.p_partkey
         JOIN pa ON l.l_partkey = pa.l_partkey
         WHERE 5 * CAST(trunc(l.l_quantity) AS BIGINT) * pa.cnt < pa.sq
         GROUP BY 1 ORDER BY 1""",
    "x_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
           FROM documents WHERE len(text) > 0),
         cc AS (SELECT doc_id, c, count(*) AS cnt
           FROM ch WHERE c <> '' GROUP BY 1, 2),
         pd AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_ch,
             count(*) AS n_distinct,
             CAST(sum(cnt * CAST(floor(ln(cnt) * 1e6) AS BIGINT)) AS BIGINT)
               AS esum
           FROM cc GROUP BY 1)
         SELECT doc_id, n_ch, n_distinct,
           CAST(floor(ln(n_ch) * 1e6) AS BIGINT) - esum // n_ch
             AS entropy_x1e6,
           CAST(CASE WHEN CAST(floor(ln(n_ch) * 1e6) AS BIGINT) - esum // n_ch
               < 2000000 THEN 1 ELSE 0 END AS BIGINT) AS low_entropy
         FROM pd ORDER BY doc_id""",
    "x_dup_run" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
           FROM documents),
         d2 AS (SELECT doc_id, w FROM d WHERE len(w) >= 5),
         g AS (SELECT doc_id, p AS pos,
             array_to_string(list_slice(w, p, p + 4), ' ') AS gm
           FROM d2, unnest(range(1, len(w) - 3)) t(p)),
         cf AS (SELECT gm, count(*) AS call FROM g GROUP BY 1),
         dup AS (SELECT g.doc_id, g.pos
           FROM g JOIN cf ON g.gm = cf.gm WHERE cf.call >= 2),
         runs AS (SELECT doc_id,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM dup),
         rc AS (SELECT doc_id, grp, count(*) AS run
           FROM runs GROUP BY 1, 2)
         SELECT doc_id, max(run) AS max_dup_run, count(*) AS n_runs
         FROM rc GROUP BY 1 ORDER BY 1""",
    "w_stream_cdc" ->
      """WITH c AS (SELECT user_id % 50 AS k, ts, event_id AS change_id,
             CASE WHEN event_type = 'error' THEN 'delete'
                  ELSE 'upsert' END AS op,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_cents
           FROM events),
         r AS (SELECT k, ts, change_id, op, val_cents,
             row_number() OVER (PARTITION BY k
               ORDER BY ts DESC, change_id DESC) AS rn
           FROM c)
         SELECT k, CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
           change_id AS last_change, val_cents AS last_val_cents
         FROM r WHERE rn = 1 AND op = 'upsert' ORDER BY k""",
    "c22_snapshot_asof" ->
      """WITH c AS (SELECT user_id % 50 AS k, ts, event_id AS change_id,
             CASE WHEN event_type = 'error' THEN 'delete'
                  ELSE 'upsert' END AS op,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_cents
           FROM events),
         s1 AS (SELECT k, change_id, val_cents FROM
           (SELECT *, row_number() OVER (PARTITION BY k
              ORDER BY ts DESC, change_id DESC) AS rn
            FROM c WHERE ts <= TIMESTAMP '2024-01-15')
           WHERE rn = 1 AND op = 'upsert'),
         s2 AS (SELECT k, change_id, val_cents FROM
           (SELECT *, row_number() OVER (PARTITION BY k
              ORDER BY ts DESC, change_id DESC) AS rn
            FROM c WHERE ts <= TIMESTAMP '2024-01-25')
           WHERE rn = 1 AND op = 'upsert')
         SELECT coalesce(s1.k, s2.k) AS k,
           CASE WHEN s1.k IS NULL THEN 'added'
                WHEN s2.k IS NULL THEN 'removed'
                WHEN s1.change_id = s2.change_id THEN 'unchanged'
                ELSE 'changed' END AS status,
           coalesce(s1.val_cents, 0) AS val_t1,
           coalesce(s2.val_cents, 0) AS val_t2,
           coalesce(s2.val_cents, 0) - coalesce(s1.val_cents, 0)
             AS delta_cents
         FROM s1 FULL OUTER JOIN s2 ON s1.k = s2.k ORDER BY k""",
    "x_corr_len" ->
      """WITH f AS (SELECT lang, n_chars AS x,
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS y
           FROM documents WHERE len(trim(text)) > 0),
         s AS (SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
           FROM f GROUP BY 1)
         SELECT lang, n,
           CAST(floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
              sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 1e6) AS BIGINT) AS corr_x1e6,
           CAST(floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * 1e6 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
             AS BIGINT) AS beta_x1e6
         FROM s ORDER BY lang""",
    "q21_waiting_supplier" ->
      """SELECT s.s_name, count(DISTINCT l1.l_orderkey) AS numwait
         FROM lineitem l1
         JOIN supplier s ON s.s_suppkey = l1.l_suppkey
         WHERE EXISTS (SELECT 1 FROM lineitem l2
             WHERE l2.l_orderkey = l1.l_orderkey
               AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
             WHERE l3.l_orderkey = l1.l_orderkey
               AND l3.l_suppkey <> l1.l_suppkey
               AND l3.l_shipdate > l1.l_shipdate)
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""",
    "x_join_size_profile" ->
      """WITH c AS (SELECT l_partkey, count(*) AS cnt,
             count(*) * count(*) AS contrib
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(sum(contrib) AS BIGINT) AS join_rows FROM c),
         top AS (SELECT l_partkey, cnt, contrib,
             CAST(row_number() OVER (ORDER BY contrib DESC, l_partkey)
               AS BIGINT) AS rnk
           FROM c QUALIFY rnk <= 5)
         SELECT top.rnk, top.l_partkey, top.cnt,
           CAST(top.contrib AS BIGINT) AS contrib, tot.join_rows,
           CAST(floor(top.contrib * 10000 / tot.join_rows) AS BIGINT)
             AS share_x10000
         FROM top, tot ORDER BY rnk""",
    "x_dataset_card" ->
      """WITH f AS (SELECT doc_id, lang, source, n_chars,
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
               AS n_words,
             md5(text) AS fp
           FROM documents),
         a AS (SELECT count(*) AS n_docs,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT source) AS n_sources,
             CAST(sum(n_chars) AS BIGINT) AS chars_sum,
             CAST(sum(n_words) AS BIGINT) AS words_sum,
             count(DISTINCT fp) AS n_unique_texts
           FROM f)
         SELECT n_docs, n_langs, n_sources, chars_sum, words_sum,
           n_unique_texts,
           CAST(floor((n_docs - n_unique_texts) * 10000 / n_docs) AS BIGINT)
             AS dup_x10000,
           (chars_sum * 100) // n_docs AS mean_chars_x100
         FROM a""",
    "x_ngram_pmi" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         toks AS (SELECT unnest(w) AS t FROM d),
         uni AS (SELECT t, count(*) AS c FROM toks GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM toks),
         d2 AS (SELECT w FROM d WHERE len(w) >= 2),
         big AS (SELECT w[i] AS a, w[i + 1] AS b, count(*) AS cab
           FROM d2, unnest(range(1, len(w))) t(i) GROUP BY 1, 2
           HAVING count(*) >= 5),
         pmi AS (SELECT big.a, big.b, big.cab,
             CAST(floor(ln(CAST(nn.n AS DOUBLE) * big.cab
               / (ua.c * ub.c)) * 1e6) AS BIGINT) AS pmi_x1e6
           FROM big, nn
           JOIN uni ua ON ua.t = big.a
           JOIN uni ub ON ub.t = big.b)
         SELECT a, b, cab, pmi_x1e6 FROM pmi
         ORDER BY pmi_x1e6 DESC, a, b LIMIT 25""",
    "q6_revenue_forecast_sql" ->
      """SELECT CAST(floor(sum(l_extendedprice * l_discount) * 10000 + 0.5)
           AS BIGINT) AS revenue_x10000,
         count(*) AS n_rows
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
    "c25_schema_evolution" ->
      """WITH m AS (SELECT doc_id, lang, n_chars,
             CASE WHEN doc_id % 2 = 1 THEN n_chars // 10 END AS quality
           FROM documents)
         SELECT lang, count(*) AS n,
           count(quality) AS rows_with_quality,
           CAST(sum(coalesce(quality, 0)) AS BIGINT) AS quality_sum
         FROM m GROUP BY 1 ORDER BY lang""",
    "x_cume_dist" ->
      """SELECT doc_id, lang, n_chars,
           CAST(floor(percent_rank() OVER (PARTITION BY lang
             ORDER BY n_chars) * 10000) AS BIGINT) AS pr_x10000,
           CAST(floor(cume_dist() OVER (PARTITION BY lang
             ORDER BY n_chars) * 10000) AS BIGINT) AS cd_x10000
         FROM documents ORDER BY lang, doc_id""",
    "x_attribution_last_touch" ->
      """WITH p AS (SELECT user_id, event_id AS pid, ts AS pts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         t AS (SELECT user_id, ts, event_id, event_type FROM events
           WHERE event_type IN ('click', 'view')),
         j AS (SELECT p.pid, p.cents, t.event_type,
             row_number() OVER (PARTITION BY p.pid
               ORDER BY t.ts DESC, t.event_id DESC) AS rn
           FROM p JOIN t ON p.user_id = t.user_id
             AND t.ts < p.pts AND t.ts >= p.pts - INTERVAL 7 DAY)
         SELECT event_type, count(*) AS purchases,
           CAST(sum(cents) AS BIGINT) AS attributed_cents
         FROM j WHERE rn = 1 GROUP BY 1 ORDER BY event_type""",
    "x_markov_transitions" ->
      """WITH o AS (SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
           FROM events),
         tr AS (SELECT event_type, nxt, count(*) AS n FROM o
           WHERE nxt IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
           FROM tr GROUP BY 1)
         SELECT tr.event_type, tr.nxt, tr.n,
           (tr.n * 10000) // tot.tot AS p_x10000
         FROM tr JOIN tot USING (event_type)
         ORDER BY tr.event_type, tr.nxt""",
    "v_modularity" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM (SELECT d.doc_id AS src,
               (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
             FROM documents d, nn, range(1, 4) t(k))
           WHERE src <> dst),
         m AS (SELECT count(*) AS m FROM e),
         deg AS (SELECT v, count(*) AS dg FROM
           (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         com AS (SELECT v, v % 7 AS c, dg FROM deg),
         ein AS (SELECT ca.c, count(*) AS ec
           FROM e JOIN com ca ON e.a = ca.v
           JOIN com cb ON e.b = cb.v AND ca.c = cb.c
           GROUP BY 1),
         dsum AS (SELECT c, CAST(sum(dg) AS BIGINT) AS dc
           FROM com GROUP BY 1)
         SELECT dsum.c, CAST(coalesce(ein.ec, 0) AS BIGINT)
             AS internal_edges,
           dsum.dc AS degree_sum,
           CAST(floor((CAST(coalesce(ein.ec, 0) AS DOUBLE) / m.m
             - (CAST(dsum.dc AS DOUBLE) / (2 * m.m))
               * (CAST(dsum.dc AS DOUBLE) / (2 * m.m))) * 1e9) AS BIGINT)
             AS contrib_x1e9
         FROM dsum LEFT JOIN ein USING (c), m ORDER BY c""",
    "q10_returned_items" ->
      """SELECT c.c_custkey, c.c_name,
           CAST(floor(sum(l.l_extendedprice * (1.0 - l.l_discount)) * 100
             + 0.5) AS BIGINT) AS revenue_x100
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1996-07-01'
         GROUP BY 1, 2 ORDER BY revenue_x100 DESC, c_custkey LIMIT 20""",
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
             CAST(floor(sum(l_extendedprice * (1.0 - l_discount)) * 100
               + 0.5) AS BIGINT) AS rev_x100
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1),
         mx AS (SELECT max(rev_x100) AS mx FROM rev)
         SELECT r.l_suppkey AS s_suppkey, s.s_name, r.rev_x100
         FROM rev r, mx JOIN supplier s ON s.s_suppkey = r.l_suppkey
         WHERE r.rev_x100 = mx.mx ORDER BY r.l_suppkey""",
    "x_cogroup_merge" ->
      """WITH c AS (SELECT user_id, ts FROM events
           WHERE event_type = 'click'),
         p AS (SELECT user_id, ts FROM events
           WHERE event_type = 'purchase'),
         q AS (SELECT p.user_id, p.ts,
             CASE WHEN EXISTS (SELECT 1 FROM c
               WHERE c.user_id = p.user_id AND c.ts < p.ts
                 AND c.ts >= p.ts - INTERVAL 1 HOUR)
               THEN 1 ELSE 0 END AS ok
           FROM p)
         SELECT user_id, count(*) AS n_purchases,
           CAST(sum(ok) AS BIGINT) AS qualified
         FROM q GROUP BY 1 ORDER BY user_id""",
    "x_code_detection" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' if (x == 1) { y = f(x); } // end'
               ELSE text END AS t
           FROM documents),
         s AS (SELECT doc_id,
             CAST(len(regexp_extract_all(t, '[{};=()]')) AS BIGINT)
               AS specials,
             CAST(len(t) AS BIGINT) AS len
           FROM d)
         SELECT doc_id, specials, len,
           CAST(CASE WHEN specials * 1000 >= len * 10 THEN 1 ELSE 0 END
             AS BIGINT) AS code_flag
         FROM s ORDER BY doc_id""",
    "q5_local_volume" ->
      """SELECT n.n_name,
           CAST(floor(sum(l.l_extendedprice * (1.0 - l.l_discount)) * 100
             + 0.5) AS BIGINT) AS revenue_x100
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
           AND c.c_nationkey = s.s_nationkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name IN ('AMERICA', 'ASIA')
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1 ORDER BY revenue_x100 DESC, n_name""",
    "q8_market_share" ->
      """WITH allrows AS (SELECT EXTRACT(year FROM o.o_orderdate) AS yr,
             n2.n_name AS supp_nation,
             l.l_extendedprice * (1.0 - l.l_discount) AS vol
           FROM lineitem l
           JOIN part p ON l.l_partkey = p.p_partkey
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
           JOIN region r ON n1.n_regionkey = r.r_regionkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
           WHERE r.r_name = 'AMERICA' AND p.p_type = 'STANDARD'
             AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01'
               AND TIMESTAMP '1996-12-31')
         SELECT CAST(yr AS INT) AS yr,
           CAST(floor(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol
             ELSE 0.0::DOUBLE END) * 10000 / sum(vol)) AS BIGINT)
             AS share_x10000,
           count(*) AS n
         FROM allrows GROUP BY 1 ORDER BY yr""",
    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS yr,
           CAST(floor(sum(l.l_extendedprice * (1.0 - l.l_discount)) * 100
             + 0.5) AS BIGINT) AS revenue_x100
         FROM lineitem l
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
         WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
             OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
           AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01'
             AND TIMESTAMP '1996-12-31'
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q13_order_distribution" ->
      """WITH co AS (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c LEFT JOIN orders o
             ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
         FROM co GROUP BY 1
         ORDER BY custdist DESC, c_count DESC LIMIT 10""",
    "c27_rollback_plan" ->
      """WITH c AS (SELECT user_id % 50 AS k, ts, event_id AS change_id,
             CASE WHEN event_type = 'error' THEN 'delete'
                  ELSE 'upsert' END AS op,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_cents
           FROM events),
         s1 AS (SELECT k, change_id AS ch1, val_cents AS v1 FROM
           (SELECT *, row_number() OVER (PARTITION BY k
              ORDER BY ts DESC, change_id DESC) AS rn
            FROM c WHERE ts <= TIMESTAMP '2024-01-15')
           WHERE rn = 1 AND op = 'upsert'),
         s2 AS (SELECT k, change_id AS ch2, val_cents AS v2 FROM
           (SELECT *, row_number() OVER (PARTITION BY k
              ORDER BY ts DESC, change_id DESC) AS rn
            FROM c WHERE ts <= TIMESTAMP '2024-01-25')
           WHERE rn = 1 AND op = 'upsert')
         SELECT coalesce(s1.k, s2.k) AS k,
           CASE WHEN s1.k IS NULL THEN 'delete' ELSE 'upsert' END AS action,
           coalesce(s1.v1, 0) AS target_val_cents
         FROM s1 FULL OUTER JOIN s2 ON s1.k = s2.k
         WHERE s1.k IS NULL OR s2.k IS NULL OR s1.ch1 <> s2.ch2
         ORDER BY k""",
    "x_freshness_decay" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
         e AS (SELECT event_type, datediff('day', ts, mx.m) AS age
           FROM events, mx)
         SELECT event_type, count(*) AS n,
           CAST(sum(1000000 // power(2, age // 7)) AS BIGINT)
             AS decayed_x1e6
         FROM e GROUP BY 1 ORDER BY event_type""",
    "c26_ordered_digest" ->
      """SELECT source,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS digest,
           count(*) AS n
         FROM documents GROUP BY 1 ORDER BY source""",
    "q4_order_priority" ->
      """SELECT o.o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1996-07-01'
           AND EXISTS (SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
               AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1 ORDER BY 1""",
    "q12_return_priority" ->
      """SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY 1 ORDER BY 1""",
    "q14_promo_share" ->
      """SELECT
           CAST(floor(sum(CASE WHEN p.p_type = 'PROMO'
             THEN l.l_extendedprice * (1.0 - l.l_discount)
             ELSE 0.0::DOUBLE END) * 100 + 0.5) AS BIGINT) AS promo_rev_x100,
           CAST(floor(sum(l.l_extendedprice * (1.0 - l.l_discount)) * 100
             + 0.5) AS BIGINT) AS total_rev_x100,
           CAST(floor(sum(CASE WHEN p.p_type = 'PROMO'
             THEN l.l_extendedprice * (1.0 - l.l_discount)
             ELSE 0.0::DOUBLE END) * 10000
             / sum(l.l_extendedprice * (1.0 - l.l_discount))) AS BIGINT)
             AS promo_share_x10000,
           count(*) AS n_rows
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
           AND l.l_shipdate < TIMESTAMP '1996-04-01'""",
    "q19_disjunctive_join" ->
      """SELECT count(*) AS n_rows,
           CAST(floor(sum(l.l_extendedprice * (1.0 - l.l_discount)) * 100
             + 0.5) AS BIGINT) AS revenue_x100
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
             AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
             AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 20 AND 30)""",
    "s_partitioned_prune" ->
      """SELECT lang, source, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum
         FROM documents WHERE lang IN ('en', 'fr')
         GROUP BY 1, 2 ORDER BY lang, source""",
    "s_csv_roundtrip" ->
      """SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_doc,
           CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
             AS text_hash_sum
         FROM documents GROUP BY 1 ORDER BY lang""",
    "s_jsonl_roundtrip" ->
      """SELECT source, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_doc,
           CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
             AS text_hash_sum
         FROM documents GROUP BY 1 ORDER BY source""",
    "q2_min_cost_supplier" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
             CAST(min(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
               AS cost_x100
           FROM lineitem GROUP BY 1, 2),
         se AS (SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
           FROM supplier s
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = 'EUROPE'),
         cand AS (SELECT p.p_partkey, p.p_brand, ps.l_suppkey, ps.cost_x100,
             row_number() OVER (PARTITION BY p.p_partkey
               ORDER BY ps.cost_x100, ps.l_suppkey) AS rn
           FROM ps
           JOIN se ON ps.l_suppkey = se.s_suppkey
           JOIN part p ON ps.l_partkey = p.p_partkey
           WHERE p.p_type = 'LARGE' AND p.p_size <= 15)
         SELECT CAST(floor(se.s_acctbal * 100 + 0.5) AS BIGINT)
             AS acctbal_x100,
           se.s_name, se.n_name, c.p_partkey, c.p_brand, c.cost_x100
         FROM cand c JOIN se ON c.l_suppkey = se.s_suppkey
         WHERE c.rn = 1
         ORDER BY acctbal_x100 DESC, s_name, p_partkey""",
    "q9_product_profit" ->
      """SELECT n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS yr,
           CAST(floor(sum(l.l_extendedprice * (1.0 - l.l_discount)
             - 0.4::DOUBLE * p.p_retailprice * l.l_quantity) * 100 + 0.5)
             AS BIGINT) AS profit_x100,
           count(*) AS n
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE p.p_name LIKE '%an%'
         GROUP BY 1, 2 ORDER BY n_name, yr DESC""",
    "q11_important_stock" ->
      """WITH v AS (SELECT l.l_partkey,
             CAST(sum(floor(l.l_extendedprice * 100 + 0.5)) AS BIGINT)
               AS value_x100
           FROM lineitem l
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           WHERE n.n_regionkey = 3
           GROUP BY 1),
         t AS (SELECT sum(value_x100) AS tot, count(*) AS nparts FROM v)
         SELECT v.l_partkey, v.value_x100 FROM v, t
         WHERE v.value_x100 * t.nparts * 2 > t.tot * 3
         ORDER BY value_x100 DESC, l_partkey""",
    "q16_supplier_cnt" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part p ON ps.l_partkey = p.p_partkey
         WHERE p.p_brand <> 'Brand#13'
           AND p.p_type NOT LIKE 'PROMO%'
           AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
           AND ps.l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_suppkey % 4 = 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q20_excess_avail" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
             CAST(sum(l_quantity) AS BIGINT) AS avail,
             CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
               AND l_shipdate < TIMESTAMP '1997-01-01'
               THEN l_quantity ELSE 0.0::DOUBLE END) AS BIGINT) AS q96
           FROM lineitem GROUP BY 1, 2),
         qs AS (SELECT DISTINCT ps.l_suppkey
           FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
           WHERE p.p_name LIKE 'blue%' AND ps.q96 > 0
             AND ps.avail > ps.q96 * 2)
         SELECT s.s_suppkey, s.s_name, n.n_name
         FROM supplier s
         JOIN qs ON s.s_suppkey = qs.l_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         ORDER BY s_suppkey""",
    "x_sessionize" ->
      """WITH e AS (SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
           FROM events),
         g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
               OR ts_us - lag(ts_us) OVER w > 28800000000 THEN 1 ELSE 0 END
               AS nf
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         s AS (SELECT *, sum(nf) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sess
           FROM g)
         SELECT user_id, min(ts_us) AS session_start_us,
           count(*) AS n_events,
           CAST(max(ts_us) - min(ts_us) AS BIGINT) AS dur_us,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS purchases
         FROM s GROUP BY user_id, sess
         ORDER BY user_id, session_start_us""",
    "x_fuzzy_match" ->
      """WITH n AS (SELECT DISTINCT p_name,
             string_split(p_name, ' ')[-1] AS blk
           FROM part)
         SELECT a.blk AS blk, a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
         FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= 4
         ORDER BY a.blk, name_a, name_b""",
    "v_sssp" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         raw AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         dir AS (SELECT a AS u, b AS v, (a + b) % 7 + 1 AS w FROM e
           UNION ALL SELECT b, a, (a + b) % 7 + 1 FROM e),
         d0 AS (SELECT CAST(0 AS BIGINT) AS v, CAST(0 AS BIGINT) AS dist),
         d1 AS (SELECT v, min(dist) AS dist FROM (
           SELECT * FROM d0 UNION ALL
           SELECT dir.v, d0.dist + dir.w FROM d0 JOIN dir ON d0.v = dir.u)
           GROUP BY v),
         d2 AS (SELECT v, min(dist) AS dist FROM (
           SELECT * FROM d1 UNION ALL
           SELECT dir.v, d1.dist + dir.w FROM d1 JOIN dir ON d1.v = dir.u)
           GROUP BY v),
         d3 AS (SELECT v, min(dist) AS dist FROM (
           SELECT * FROM d2 UNION ALL
           SELECT dir.v, d2.dist + dir.w FROM d2 JOIN dir ON d2.v = dir.u)
           GROUP BY v)
         SELECT CAST(v AS BIGINT) AS v, CAST(dist AS BIGINT) AS dist
         FROM d3 ORDER BY v""",
    "x_stratified_sample" ->
      """WITH h AS (SELECT lang, doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               AS h
           FROM documents),
         r AS (SELECT *, row_number() OVER (PARTITION BY lang
             ORDER BY h, doc_id) AS rk
           FROM h)
         SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, h
         FROM r WHERE rk <= 5 ORDER BY lang, rk""",
    "v_label_prop" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         raw AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         dir AS (SELECT a AS u, b AS v FROM e
           UNION ALL SELECT b, a FROM e),
         l0 AS (SELECT doc_id AS v, doc_id % 3 AS lbl FROM documents
           WHERE doc_id % 10 = 0),
         c1 AS (SELECT dir.v AS v, l0.lbl, count(*) AS cnt
           FROM l0 JOIN dir ON l0.v = dir.u GROUP BY 1, 2),
         a1 AS (SELECT v, lbl FROM (SELECT v, lbl,
             row_number() OVER (PARTITION BY v
               ORDER BY cnt DESC, lbl) AS rn FROM c1)
           WHERE rn = 1 AND v NOT IN (SELECT v FROM l0)),
         l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM a1),
         c2 AS (SELECT dir.v AS v, l1.lbl, count(*) AS cnt
           FROM l1 JOIN dir ON l1.v = dir.u GROUP BY 1, 2),
         a2 AS (SELECT v, lbl FROM (SELECT v, lbl,
             row_number() OVER (PARTITION BY v
               ORDER BY cnt DESC, lbl) AS rn FROM c2)
           WHERE rn = 1 AND v NOT IN (SELECT v FROM l1)),
         l2 AS (SELECT * FROM l1 UNION ALL SELECT * FROM a2)
         SELECT CAST(v AS BIGINT) AS v, CAST(lbl AS BIGINT) AS lbl
         FROM l2 ORDER BY v""",
    "x_rolling_dau" ->
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             user_id
           FROM events),
         days AS (SELECT DISTINCT day FROM e),
         p AS (SELECT DISTINCT e.day + to_days(CAST(t.off AS INTEGER))
             AS wday, e.user_id
           FROM e, range(0, 7) t(off)),
         j AS (SELECT p.wday, p.user_id
           FROM p JOIN days d ON p.wday = d.day)
         SELECT strftime(wday, '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS dau7
         FROM j GROUP BY 1 ORDER BY day""",
    "c28_constraint_audit" ->
      """WITH r AS (SELECT count(*) AS checked,
           sum(CASE WHEN o_orderkey IS NULL OR o_custkey IS NULL
             THEN 1 ELSE 0 END) AS null_keys,
           sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
           sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
             THEN 1 ELSE 0 END) AS bad_status,
           sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
             OR o_orderdate >= TIMESTAMP '2010-01-01'
             THEN 1 ELSE 0 END) AS bad_date
           FROM orders),
         u AS (SELECT count(*) AS checked,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS violations
           FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1))
         SELECT * FROM (
           SELECT 'not_null_keys' AS constraint_name,
             CAST(null_keys AS BIGINT) AS violations, checked FROM r
           UNION ALL SELECT 'positive_price', CAST(bad_price AS BIGINT),
             checked FROM r
           UNION ALL SELECT 'status_domain', CAST(bad_status AS BIGINT),
             checked FROM r
           UNION ALL SELECT 'date_bounds', CAST(bad_date AS BIGINT),
             checked FROM r
           UNION ALL SELECT 'unique_orderkey', CAST(violations AS BIGINT),
             checked FROM u)
         ORDER BY constraint_name""",
    "w_stream_anomaly" ->
      """WITH b AS (SELECT event_type,
             time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS hr,
             count(*) AS cnt
           FROM events GROUP BY 1, 2),
         w AS (SELECT *, count(*) OVER tw AS trail_n,
             coalesce(sum(cnt) OVER tw, 0) AS trail_sum
           FROM b
           WINDOW tw AS (PARTITION BY event_type ORDER BY hr
             ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
         SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M') AS hr, cnt,
           CAST(CASE WHEN trail_n = 8 THEN trail_sum ELSE 0 END AS BIGINT)
             AS trail_sum,
           CAST(trail_n AS BIGINT) AS trail_n,
           CAST(CASE WHEN trail_n = 8 AND cnt * 8 > trail_sum * 2
             THEN 1 ELSE 0 END AS BIGINT) AS flag
         FROM w ORDER BY event_type, hr""",
    "x_group_anonymity" ->
      """WITH g AS (SELECT lang, source, n_chars // 100 AS size_bin,
             count(*) AS c
           FROM documents GROUP BY 1, 2, 3)
         SELECT lang, source, count(*) AS n_groups,
           CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS risky_groups,
           CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
             AS suppressed_rows
         FROM g GROUP BY 1, 2 ORDER BY lang, source""",
    "x_pareto_frontier" ->
      """WITH p AS (SELECT p_partkey, p_name,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_x100,
             CAST(p_size AS BIGINT) AS p_size
           FROM part)
         SELECT p_partkey, p_name, price_x100, p_size FROM p a
         WHERE NOT EXISTS (SELECT 1 FROM p b
           WHERE b.price_x100 >= a.price_x100 AND b.p_size <= a.p_size
             AND (b.price_x100 > a.price_x100 OR b.p_size < a.p_size))
         ORDER BY price_x100 DESC, p_partkey""",
    "x_rolling_dau_hll" ->
      """WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             user_id
           FROM events),
         days AS (SELECT DISTINCT day FROM e),
         p AS (SELECT DISTINCT e.day + to_days(CAST(t.off AS INTEGER))
             AS wday, e.user_id
           FROM e, range(0, 7) t(off)),
         j AS (SELECT p.wday, p.user_id
           FROM p JOIN days d ON p.wday = d.day)
         SELECT strftime(wday, '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS dau7,
           CAST(1 AS BIGINT) AS hll_ok
         FROM j GROUP BY wday ORDER BY day""",
    "f_interpolate" ->
      """WITH obs AS (SELECT user_id,
             epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
               // 3600000000 AS h,
             CAST(floor(avg(value) * 100 + 0.5) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         b AS (SELECT min(h) AS lo, max(h) AS hi FROM obs),
         u AS (SELECT DISTINCT user_id FROM obs),
         grid AS (SELECT u.user_id, t.h
           FROM u, (SELECT unnest(generate_series(b.lo, b.hi)) AS h
             FROM b) t),
         j AS (SELECT g.user_id, g.h, o.cents
           FROM grid g LEFT JOIN obs o
             ON g.user_id = o.user_id AND g.h = o.h),
         wn AS (SELECT *,
             last_value(cents IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN cents IS NOT NULL THEN h END
               IGNORE NULLS) OVER wp AS ph,
             first_value(cents IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN cents IS NOT NULL THEN h END
               IGNORE NULLS) OVER wf AS nh
           FROM j
           WINDOW wp AS (PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, h,
           CASE WHEN cents IS NOT NULL THEN cents
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv +
               CAST(floor(((nv - pv) * (h - ph))::DOUBLE / (nh - ph))
                 AS BIGINT)
             ELSE coalesce(pv, nv) END AS filled_cents,
           CASE WHEN cents IS NOT NULL THEN 'obs'
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
             ELSE 'edge' END AS src
         FROM wn ORDER BY user_id, h""",
    "v_temporal_reach" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         e AS (SELECT u, v, (u * 7 + v) % 100 AS t FROM
           (SELECT d.doc_id AS u,
               (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS v
             FROM documents d, nn, range(1, 4) t(k))
           WHERE u <> v),
         a0 AS (SELECT CAST(0 AS BIGINT) AS v, CAST(0 AS BIGINT) AS arr),
         a1 AS (SELECT v, min(arr) AS arr FROM (
           SELECT * FROM a0 UNION ALL
           SELECT e.v, e.t FROM a0 JOIN e ON a0.v = e.u AND e.t >= a0.arr)
           GROUP BY v),
         a2 AS (SELECT v, min(arr) AS arr FROM (
           SELECT * FROM a1 UNION ALL
           SELECT e.v, e.t FROM a1 JOIN e ON a1.v = e.u AND e.t >= a1.arr)
           GROUP BY v),
         a3 AS (SELECT v, min(arr) AS arr FROM (
           SELECT * FROM a2 UNION ALL
           SELECT e.v, e.t FROM a2 JOIN e ON a2.v = e.u AND e.t >= a2.arr)
           GROUP BY v)
         SELECT CAST(v AS BIGINT) AS v, CAST(arr AS BIGINT) AS arr
         FROM a3 ORDER BY v""",
    "x_dataset_mixer" ->
      """WITH docs AS (SELECT doc_id, source, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         b AS (SELECT source, sum(n_chars) AS total_chars,
             (sum(n_chars) * (CAST(substr(source, 4) AS BIGINT) % 3 + 1))
               // 4 AS budget_chars
           FROM docs GROUP BY 1),
         c AS (SELECT d.*, b.budget_chars,
             coalesce(sum(d.n_chars) OVER (PARTITION BY d.source
               ORDER BY d.h, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_excl
           FROM docs d JOIN b USING (source))
         SELECT source, count(*) AS docs_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept,
           CAST(min(budget_chars) AS BIGINT) AS budget_chars
         FROM c WHERE cum_excl < budget_chars
         GROUP BY 1 ORDER BY source""",
    "x_source_overlap" ->
      """WITH tok AS (SELECT DISTINCT source, tk FROM (
           SELECT source, unnest(string_split_regex(trim(text), ' +')) AS tk
           FROM documents WHERE len(trim(text)) > 0)
           WHERE tk <> ''),
         sz AS (SELECT source, count(*) AS nt FROM tok GROUP BY 1),
         i AS (SELECT a.source AS sa, b.source AS sb, count(*) AS inter
           FROM tok a JOIN tok b ON a.tk = b.tk AND a.source < b.source
           GROUP BY 1, 2)
         SELECT i.sa, i.sb, i.inter,
           CAST(floor(10000.0 * i.inter /
             (za.nt + zb.nt - i.inter) + 0.5) AS BIGINT) AS jacc_x10000
         FROM i JOIN sz za ON i.sa = za.source
           JOIN sz zb ON i.sb = zb.source
         ORDER BY sa, sb""",
    "m11_zonal_stats" ->
      """WITH blk AS (SELECT t.id // 16 AS tile, (t.id // 4) % 4 AS by,
             t.id % 4 AS bx, p.i
           FROM range(0, 64) t(id), range(0, 64) p(i)),
         px AS (SELECT tile, by, bx, i,
             (tile * 31 + (by * 8 + i // 8) * 7 + (bx * 8 + i % 8) * 13)
               % 256 AS v
           FROM blk)
         SELECT CAST(tile AS BIGINT) AS tile,
           CAST((by * 8 + i // 8) // 11 AS BIGINT) AS zy,
           CAST((bx * 8 + i % 8) // 16 AS BIGINT) AS zx,
           count(*) AS n_px, CAST(sum(v) AS BIGINT) AS px_sum,
           CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
         FROM px GROUP BY 1, 2, 3 ORDER BY tile, zy, zx""",
    "x_phrase_search" ->
      """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), ' +')) AS tk,
             generate_subscripts(string_split_regex(trim(text), ' +'), 1)
               - 1 AS pos
           FROM documents WHERE len(trim(text)) > 0),
         p1 AS (SELECT doc_id, pos + 1 AS nxt FROM w WHERE tk = 'window'),
         p2 AS (SELECT doc_id, pos AS nxt FROM w WHERE tk = 'join')
         SELECT p1.doc_id AS doc_id, count(*) AS n_matches,
           CAST(min(p1.nxt) - 1 AS BIGINT) AS first_pos
         FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id AND p1.nxt = p2.nxt
         GROUP BY 1 ORDER BY p1.doc_id""",
    "x_feature_snapshot" ->
      """SELECT user_id,
           CAST(sum(CASE WHEN ts <= TIMESTAMP '2024-01-24' THEN 1 ELSE 0
             END) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN ts <= TIMESTAMP '2024-01-24'
             AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases,
           CAST(sum(CASE WHEN ts <= TIMESTAMP '2024-01-24'
             THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS value_cents,
           max(CASE WHEN ts <= TIMESTAMP '2024-01-24'
             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS last_seen_us,
           CAST(max(CASE WHEN ts > TIMESTAMP '2024-01-24'
             AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS label_purchase_7d
         FROM events WHERE ts < TIMESTAMP '2024-01-31'
         GROUP BY 1 HAVING n_events > 0 ORDER BY user_id""",
    "v_kcore" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         raw AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         d1 AS (SELECT v, count(*) AS deg FROM
           (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
         k1 AS (SELECT v FROM d1 WHERE deg >= 4),
         e1 AS (SELECT a, b FROM e0
           WHERE a IN (SELECT v FROM k1) AND b IN (SELECT v FROM k1)),
         d2 AS (SELECT v, count(*) AS deg FROM
           (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1) GROUP BY v),
         k2 AS (SELECT v FROM d2 WHERE deg >= 4),
         e2 AS (SELECT a, b FROM e1
           WHERE a IN (SELECT v FROM k2) AND b IN (SELECT v FROM k2)),
         d3 AS (SELECT v, count(*) AS deg FROM
           (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2) GROUP BY v)
         SELECT CAST(v AS BIGINT) AS v, CAST(deg AS BIGINT) AS deg
         FROM d3 WHERE deg >= 4 ORDER BY v""",
    "q_sql_topn" ->
      """SELECT c_custkey, o_orderkey, price_x100, rk FROM (
           SELECT o_custkey AS c_custkey, o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_x100,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
           FROM orders) t
         WHERE rk <= 3 ORDER BY c_custkey, rk""",
    "x_minhash_incremental" ->
      """WITH base AS (SELECT doc_id,
             string_split_regex(trim(text), ' +') AS w
           FROM documents),
         base2 AS (SELECT doc_id, w FROM base WHERE len(w) >= 2),
         sh AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
               i -> w[i] || ' ' || w[i + 1])) AS s
           FROM base2),
         sig AS (SELECT doc_id,
             min(('0x' || substr(md5(s), 1, 8))::BIGINT) AS m0
           FROM sh GROUP BY 1)
         SELECT doc_id, m0, CAST(1 AS BIGINT) AS merged_ok
         FROM sig ORDER BY doc_id""",
    "x_spelling_variants" ->
      """WITH base AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         tk AS (SELECT unnest(w) AS t FROM base
           UNION ALL
           SELECT substr(w[1], 1, 1) || substr(w[1], 3) AS t
           FROM base WHERE doc_id % 37 = 0),
         v AS (SELECT t, count(*) AS c FROM tk
           WHERE len(t) >= 3 GROUP BY 1),
         dels AS (SELECT t, c, unnest(list_distinct(list_append(
             list_transform(generate_series(1, len(t)),
               i -> substr(t, 1, i - 1) || substr(t, i + 1)), t)))
             AS var
           FROM v),
         p AS (SELECT DISTINCT a.t AS ta, b.t AS tb,
             a.c AS ca, b.c AS cb
           FROM dels a JOIN dels b ON a.var = b.var AND a.t < b.t)
         SELECT ta, tb, ca, cb FROM p
         WHERE levenshtein(ta, tb) <= 1 ORDER BY ta, tb""",
    "x_simpson_diversity" ->
      """WITH tk AS (SELECT source, t FROM
             (SELECT source, unnest(string_split_regex(
               trim(lower(text)), ' +')) AS t
              FROM documents WHERE len(trim(text)) > 0)
           WHERE t <> ''),
         c AS (SELECT source, t, count(*) AS c FROM tk GROUP BY 1, 2),
         m AS (SELECT source, count(*) AS vocab,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * c) AS BIGINT) AS sc2
           FROM c GROUP BY 1)
         SELECT source, vocab, n,
           CAST(floor((1.0 - CAST(sc2 AS DOUBLE) /
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * 1e6) AS BIGINT)
             AS simpson_x1e6
         FROM m ORDER BY source""",
    "x_bigram_cond_entropy" ->
      """WITH d AS (SELECT string_split_regex(trim(lower(text)), ' +')
             AS w
           FROM documents WHERE len(trim(text)) > 0),
         uc AS (SELECT t, count(*) AS c FROM
             (SELECT unnest(w) AS t FROM d) WHERE t <> '' GROUP BY 1),
         u AS (SELECT CAST(sum(c) AS BIGINT) AS n1,
             CAST(sum(CAST(floor(CAST(c AS DOUBLE) *
               ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT)
               AS u_x1e6
           FROM uc),
         bc AS (SELECT t, count(*) AS c FROM
             (SELECT unnest(list_transform(
                 generate_series(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i + 1])) AS t
              FROM d WHERE len(w) >= 2)
           WHERE NOT starts_with(t, ' ') AND NOT ends_with(t, ' ')
           GROUP BY 1),
         b AS (SELECT CAST(sum(c) AS BIGINT) AS n2,
             CAST(sum(CAST(floor(CAST(c AS DOUBLE) *
               ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT)
               AS b_x1e6
           FROM bc)
         SELECT u.n1, b.n2,
           CAST(CAST(floor((ln(CAST(b.n2 AS DOUBLE)) -
               CAST(b.b_x1e6 AS DOUBLE) / 1e6 / b.n2) * 1e6) AS BIGINT)
             - CAST(floor((ln(CAST(u.n1 AS DOUBLE)) -
               CAST(u.u_x1e6 AS DOUBLE) / 1e6 / u.n1) * 1e6) AS BIGINT)
             AS BIGINT) AS cond_h_x1e6
         FROM u, b""",
    "x_youden_threshold" ->
      """WITH base AS (SELECT doc_id,
             CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS label,
             string_split_regex(trim(text), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         feats AS (SELECT doc_id, label, unnest(w) AS f FROM base
           UNION ALL
           SELECT doc_id, label, unnest(
             list_transform(generate_series(1, len(w) - 1),
               i -> w[i] || '_' || w[i + 1])) AS f
           FROM base WHERE len(w) >= 2),
         wt AS (SELECT doc_id, label,
             ('0x' || substr(md5('qw:' || f), 1, 6))::BIGINT % 2001
               - 1000 AS wt
           FROM feats),
         sc AS (SELECT doc_id, label,
             (CAST(sum(wt) AS BIGINT) * 1000) // count(*) AS score
           FROM wt GROUP BY 1, 2),
         cuts AS (SELECT unnest([-40, -20, -10, 0, 10, 20, 40]) AS cut),
         m AS (SELECT cuts.cut,
             CAST(sum(CASE WHEN label = 1 AND score >= cuts.cut
               THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN label = 0 AND score >= cuts.cut
               THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(1 - label) AS BIGINT) AS neg
           FROM sc, cuts GROUP BY 1)
         SELECT CAST(cut AS BIGINT) AS cut,
           CAST((tp * 10000) // pos AS BIGINT) AS tpr_x1e4,
           CAST((fp * 10000) // neg AS BIGINT) AS fpr_x1e4,
           CAST((tp * 10000) // pos - (fp * 10000) // neg AS BIGINT)
             AS youden_x1e4
         FROM m ORDER BY cut""",
    "x_burstiness" ->
      """WITH dt AS (SELECT doc_id, t, count(*) AS c FROM
             (SELECT doc_id, unnest(string_split_regex(
               trim(lower(text)), ' +')) AS t
              FROM documents WHERE len(trim(text)) > 0)
           WHERE t <> '' GROUP BY 1, 2),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents
           WHERE len(trim(text)) > 0),
         m AS (SELECT t, CAST(sum(c) AS BIGINT) AS ct,
             CAST(sum(c * c) AS BIGINT) AS ct2
           FROM dt GROUP BY 1 ORDER BY ct DESC, t LIMIT 20)
         SELECT m.t, m.ct,
           CAST(floor(CAST(nd.nd * m.ct2 - m.ct * m.ct AS DOUBLE) /
             CAST(nd.nd * m.ct AS DOUBLE) * 1e6) AS BIGINT)
             AS fano_x1e6
         FROM m, nd ORDER BY m.ct DESC, m.t""",
    "x_langid_kappa" ->
      """WITH sc AS (SELECT lang,
           CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             x -> x IN ('the', 'a', 'of', 'and'))) AS INT) AS s_en,
           CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             x -> x IN ('el', 'la', 'de', 'y'))) AS INT) AS s_es,
           CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             x -> x IN ('der', 'die', 'das', 'und'))) AS INT) AS s_de
           FROM documents),
         pr AS (SELECT lang,
             CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                  WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred
           FROM sc),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang = pred THEN 1 ELSE 0 END)
               AS BIGINT) AS po_n
           FROM pr),
         mt AS (SELECT lang, count(*) AS mt FROM pr GROUP BY 1),
         mp AS (SELECT pred, count(*) AS mp FROM pr GROUP BY 1),
         pe AS (SELECT CAST(sum(mt.mt * mp.mp) AS BIGINT) AS pe_nn
           FROM mt JOIN mp ON mt.lang = mp.pred)
         SELECT ag.n, ag.po_n,
           CAST(floor(CAST(ag.po_n * ag.n - pe.pe_nn AS DOUBLE) /
             CAST(ag.n * ag.n - pe.pe_nn AS DOUBLE) * 1e6) AS BIGINT)
             AS kappa_x1e6
         FROM ag, pe""",
    "x_pmi_collocations" ->
      """WITH d AS (SELECT string_split_regex(trim(lower(text)), ' +')
             AS w
           FROM documents WHERE len(trim(text)) > 0),
         uni AS (SELECT t, count(*) AS c FROM
             (SELECT unnest(w) AS t FROM d) WHERE t <> '' GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
         bi0 AS (SELECT unnest(list_transform(
             generate_series(1, len(w) - 1),
             i -> struct_pack(ta := w[i], tb := w[i + 1]))) AS p
           FROM d WHERE len(w) >= 2),
         bi AS (SELECT p.ta AS ta, p.tb AS tb, count(*) AS cab
           FROM bi0 WHERE p.ta <> '' AND p.tb <> ''
           GROUP BY 1, 2 ORDER BY cab DESC, ta, tb LIMIT 20)
         SELECT bi.ta, bi.tb, bi.cab,
           CAST(floor(ln(CAST(tot.n AS DOUBLE) * bi.cab /
             (CAST(ua.c AS DOUBLE) * ub.c)) * 1e6) AS BIGINT)
             AS pmi_x1e6
         FROM bi JOIN uni ua ON bi.ta = ua.t
           JOIN uni ub ON bi.tb = ub.t, tot
         ORDER BY bi.cab DESC, bi.ta, bi.tb""",
    "x_vocab_overlap" ->
      """WITH sv AS (SELECT DISTINCT source, t FROM
             (SELECT source, unnest(string_split_regex(
               trim(lower(text)), ' +')) AS t
              FROM documents WHERE len(trim(text)) > 0)
           WHERE t <> ''),
         sz AS (SELECT source, count(*) AS vs FROM sv GROUP BY 1),
         inter AS (SELECT a.source AS sa, b.source AS sb,
             count(*) AS vi
           FROM sv a JOIN sv b ON a.t = b.t AND a.source < b.source
           GROUP BY 1, 2)
         SELECT i.sa, i.sb, i.vi,
           CAST((i.vi * 10000) // (za.vs + zb.vs - i.vi) AS BIGINT)
             AS jaccard_x1e4
         FROM inter i JOIN sz za ON i.sa = za.source
           JOIN sz zb ON i.sb = zb.source
         ORDER BY i.sa, i.sb""",
    "x_embedding_drift" ->
      """WITH dims AS (SELECT label, k,
             CAST(floor(CAST(embedding[k + 1] AS DOUBLE) * 1000)
               AS BIGINT) AS qv
           FROM embeddings, range(0, 64) t(k)),
         cent AS (SELECT label, k, CAST(sum(qv) AS BIGINT) AS cs
           FROM dims GROUP BY 1, 2),
         p AS (SELECT a.label AS la, b.label AS lb,
             CAST(sum(a.cs * b.cs) AS BIGINT) AS dp,
             CAST(sum(a.cs * a.cs) AS BIGINT) AS na,
             CAST(sum(b.cs * b.cs) AS BIGINT) AS nb
           FROM cent a JOIN cent b ON a.k = b.k AND a.label < b.label
           GROUP BY 1, 2)
         SELECT la, lb,
           CAST(floor(CAST(dp AS DOUBLE) /
             (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) * 1e6)
             AS BIGINT) AS cos_x1e6
         FROM p ORDER BY la, lb""",
    "x_acf_daily" ->
      """WITH daily AS (SELECT CAST(datediff('day', DATE '2024-01-01',
             CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day,
             count(*) AS n
           FROM events GROUP BY 1),
         lags AS (SELECT CAST(unnest([1,2,3,4,5,6,7]) AS BIGINT) AS lag),
         p AS (SELECT l.lag, a.n AS x, b.n AS y
           FROM lags l CROSS JOIN daily a
           JOIN daily b ON b.day = a.day + l.lag),
         m AS (SELECT lag, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
           FROM p GROUP BY 1)
         SELECT lag, m,
           CAST(floor((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
              sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             * 1e6) AS BIGINT) AS acf_x1e6
         FROM m ORDER BY lag""",
    "x_new_user_rate" ->
      """WITH e AS (SELECT DISTINCT user_id,
             CAST(datediff('day', DATE '2024-01-01',
               CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS day
           FROM events),
         f AS (SELECT user_id, min(day) AS d0 FROM e GROUP BY 1)
         SELECT e.day, count(*) AS active,
           CAST(sum(CASE WHEN f.d0 = e.day THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST((sum(CASE WHEN f.d0 = e.day THEN 1 ELSE 0 END) * 10000)
             // count(*) AS BIGINT) AS new_rate_x1e4
         FROM e JOIN f USING (user_id)
         GROUP BY 1 ORDER BY e.day""",
    "x_survival_km" ->
      """WITH l AS (SELECT user_id,
             min(datediff('day', DATE '2024-01-01',
               CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS d0,
             max(datediff('day', DATE '2024-01-01',
               CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS d1
           FROM events GROUP BY 1),
         lt AS (SELECT CAST(d1 - d0 AS BIGINT) AS t,
             CASE WHEN d1 >= 25 THEN 1 ELSE 0 END AS cens FROM l),
         bt AS (SELECT t, count(*) AS n_t,
             CAST(sum(1 - cens) AS BIGINT) AS deaths
           FROM lt GROUP BY 1),
         ar AS (SELECT t, n_t, deaths,
             CAST(sum(n_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS at_risk
           FROM bt),
         km AS (SELECT t, at_risk, deaths,
             CASE WHEN deaths = 0 THEN 0
                  WHEN deaths < at_risk THEN CAST(floor(ln(1.0 -
                    CAST(deaths AS DOUBLE) / at_risk) * 1e9) AS BIGINT)
                  ELSE -23000000000 END AS lnterm
           FROM ar),
         cm AS (SELECT t, at_risk, deaths,
             CAST(sum(lnterm) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum
           FROM km)
         SELECT t, at_risk, deaths,
           CAST(floor(exp(CAST(cum AS DOUBLE) / 1e9) * 1e6) AS BIGINT)
             AS surv_x1e6
         FROM cm ORDER BY t""",
    "x_calibration_bins" ->
      """WITH base AS (SELECT doc_id,
             CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS label,
             string_split_regex(trim(text), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         feats AS (SELECT doc_id, label, unnest(w) AS f FROM base
           UNION ALL
           SELECT doc_id, label, unnest(
             list_transform(generate_series(1, len(w) - 1),
               i -> w[i] || '_' || w[i + 1])) AS f
           FROM base WHERE len(w) >= 2),
         wt AS (SELECT doc_id, label,
             ('0x' || substr(md5('qw:' || f), 1, 6))::BIGINT % 2001
               - 1000 AS wt
           FROM feats),
         sc AS (SELECT doc_id, label,
             (CAST(sum(wt) AS BIGINT) * 1000) // count(*) AS score_x1000
           FROM wt GROUP BY 1, 2),
         r AS (SELECT doc_id, label, score_x1000,
             ntile(10) OVER (ORDER BY score_x1000, doc_id) AS bin
           FROM sc)
         SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
           CAST(sum(score_x1000) // count(*) AS BIGINT)
             AS mean_score_x1000,
           CAST((sum(label) * 10000) // count(*) AS BIGINT)
             AS label_rate_x1e4
         FROM r GROUP BY 1 ORDER BY 1""",
    "x_welch_ttest" ->
      """WITH per AS (SELECT user_id,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS y
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         a AS (SELECT y, CASE WHEN substr(md5('exp1:' ||
             CAST(user_id AS VARCHAR)), 1, 1) < '8' THEN 1 ELSE 0 END
             AS arm FROM per),
         m AS (SELECT
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
               AS sa,
             CAST(sum(CASE WHEN arm = 1 THEN y * y ELSE 0 END)
               AS BIGINT) AS ssa,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb,
             CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
               AS sb,
             CAST(sum(CASE WHEN arm = 0 THEN y * y ELSE 0 END)
               AS BIGINT) AS ssb
           FROM a),
         q AS (SELECT na, nb,
             (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na)
               / (na - 1) / na AS qa,
             (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb)
               / (nb - 1) / nb AS qb,
             CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS delta
           FROM m)
         SELECT na, nb,
           CAST(floor(delta / sqrt(qa + qb) * 1e6) AS BIGINT) AS t_x1e6,
           CAST(floor((qa + qb) * (qa + qb) /
             (qa * qa / (na - 1) + qb * qb / (nb - 1)) * 100) AS BIGINT)
             AS df_x100,
           CAST(CASE WHEN abs(delta / sqrt(qa + qb)) > 1.96
             THEN 1 ELSE 0 END AS BIGINT) AS sig_flag
         FROM q""",
    "v_degree_tail" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         e0 AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e1 AS (SELECT DISTINCT least(src, dst) AS a,
             greatest(src, dst) AS b
           FROM e0 WHERE src <> dst),
         deg AS (SELECT v, count(*) AS deg FROM
             (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1)
           GROUP BY 1),
         top AS (SELECT CAST(deg AS DOUBLE) AS dv FROM deg
           ORDER BY deg DESC, v LIMIT 50),
         dk AS (SELECT min(dv) AS dk FROM top),
         t AS (SELECT CAST(floor(ln(dv / dk.dk) * 1e9) AS BIGINT) AS t
           FROM top, dk)
         SELECT count(*) AS k, CAST(sum(t) AS BIGINT) AS sum_ln_x1e9,
           CAST((count(*) * 1000000000000) //
             greatest(CAST(sum(t) AS BIGINT), 1) AS BIGINT) AS alpha_x1e3
         FROM t""",
    "x_bootstrap_ci" ->
      """WITH per AS (SELECT user_id,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         rep AS (SELECT t.r, per.user_id, per.cents,
             ('0x' || substr(md5('bs:' || t.r || ':' ||
               CAST(user_id AS VARCHAR)), 1, 4))::BIGINT AS u16
           FROM per, range(0, 40) t(r)),
         w AS (SELECT r, cents,
             CASE WHEN u16 < 24109 THEN 0 WHEN u16 < 48218 THEN 1
                  WHEN u16 < 60281 THEN 2 WHEN u16 < 64300 THEN 3
                  WHEN u16 < 65293 THEN 4 ELSE 5 END AS w
           FROM rep),
         means AS (SELECT r,
             (CAST(sum(w * cents) AS BIGINT) * 100)
               // CAST(sum(w) AS BIGINT) AS mean_x100
           FROM w GROUP BY 1),
         rk AS (SELECT mean_x100, row_number() OVER
             (ORDER BY mean_x100, r) AS rk FROM means),
         pt AS (SELECT (CAST(sum(cents) AS BIGINT) * 100) // count(*)
             AS point_x100 FROM per)
         SELECT pt.point_x100,
           CAST(min(CASE WHEN rk = 1 THEN mean_x100 END) AS BIGINT)
             AS lo_x100,
           CAST(min(CASE WHEN rk = 39 THEN mean_x100 END) AS BIGINT)
             AS hi_x100
         FROM rk, pt GROUP BY pt.point_x100""",
    "x_cuped" ->
      """WITH p AS (SELECT user_id,
             CASE WHEN substr(md5('exp1:' || CAST(user_id AS VARCHAR)),
               1, 1) < '8' THEN 1 ELSE 0 END AS arm,
             CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) <
                 TIMESTAMP '2024-01-16'
               THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) >=
                 TIMESTAMP '2024-01-16'
               THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS y
           FROM events WHERE event_type = 'purchase'
           GROUP BY 1, 2),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nt,
             CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT)
               AS sxt,
             CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
               AS syt
           FROM p),
         c AS (SELECT n, nt, n - nt AS nc,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
               (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               AS theta,
             CAST(syt AS DOUBLE) / nt -
               CAST(sy - syt AS DOUBLE) / (n - nt) AS raw_delta,
             CAST(sxt AS DOUBLE) / nt -
               CAST(sx - sxt AS DOUBLE) / (n - nt) AS pre_delta
           FROM m)
         SELECT n, nt, nc,
           CAST(floor(theta * 1e6) AS BIGINT) AS theta_x1e6,
           CAST(floor(raw_delta) AS BIGINT) AS raw_delta_cents,
           CAST(floor(raw_delta - theta * pre_delta) AS BIGINT)
             AS adj_delta_cents
         FROM c""",
    "x_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         a AS (SELECT user_id % 5 AS cohort,
             CASE WHEN substr(md5('exp1:' || CAST(user_id AS VARCHAR)),
               1, 1) < '8' THEN 1 ELSE 0 END AS is_a
           FROM u),
         c AS (SELECT cohort, CAST(sum(is_a) AS BIGINT) AS n_a,
             CAST(sum(1 - is_a) AS BIGINT) AS n_b
           FROM a GROUP BY 1)
         SELECT cohort, n_a, n_b,
           CAST(floor(1e6 * (n_a - n_b) * (n_a - n_b) / (n_a + n_b))
             AS BIGINT) AS chi2_x1e6,
           CAST(CASE WHEN floor(1e6 * (n_a - n_b) * (n_a - n_b) /
             (n_a + n_b)) > 3841459 THEN 1 ELSE 0 END AS BIGINT)
             AS srm_flag
         FROM c ORDER BY cohort""",
    "x_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
           FROM events),
         isl AS (SELECT user_id, day,
             datediff('day', DATE '2024-01-01', day) -
               row_number() OVER (PARTITION BY user_id ORDER BY day) AS g
           FROM days),
         runs AS (SELECT user_id, g, count(*) AS len, min(day) AS start
           FROM isl GROUP BY 1, 2),
         best AS (SELECT user_id, len, start, count(*) OVER
               (PARTITION BY user_id) AS n_streaks,
             row_number() OVER (PARTITION BY user_id
               ORDER BY len DESC, start) AS rn
           FROM runs)
         SELECT user_id, CAST(len AS BIGINT) AS best_len,
           strftime(start, '%Y-%m-%d') AS streak_start,
           CAST(n_streaks AS BIGINT) AS n_streaks
         FROM best WHERE rn = 1 ORDER BY user_id""",
    "s_json_corrupt" ->
      """WITH j AS (SELECT lang,
             CASE WHEN doc_id % 11 = 0 THEN '{not json'
               ELSE '{"doc_id":' || doc_id || ',"n_chars":' || n_chars || '}'
               END AS payload
           FROM documents)
         SELECT lang, count(*) AS n_rows,
           CAST(sum(CASE WHEN json_valid(payload) THEN 0 ELSE 1 END)
             AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN json_valid(payload)
             THEN CAST(json_extract_string(payload, '$.n_chars') AS BIGINT)
             ELSE 0 END) AS BIGINT) AS chars_recovered
         FROM j GROUP BY 1 ORDER BY lang""",
    "x_unicode_nfc" ->
      """WITH r AS (SELECT doc_id, lang,
             CASE WHEN doc_id % 9 = 0 THEN text || ' cafe' || chr(769)
               ELSE text END AS t
           FROM documents),
         n AS (SELECT lang, t, nfc_normalize(t) AS nt FROM r)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN t <> nt THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(sum(len(t) - len(nt)) AS BIGINT) AS cp_saved
         FROM n GROUP BY 1 ORDER BY lang""",
    "c30_erasure_plan" ->
      """SELECT 'events.parquet' AS file,
           CAST(sum(CASE WHEN user_id % 17 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS rows_to_delete,
           CAST(sum(CASE WHEN user_id % 17 = 0 THEN 0 ELSE 1 END)
             AS BIGINT) AS rows_kept,
           count(DISTINCT CASE WHEN user_id % 17 = 0 THEN user_id END)
             AS affected_users,
           CAST(max(CASE WHEN user_id % 17 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS rewrite_needed
         FROM events""",
    "w_stream_outage" ->
      """WITH b AS (SELECT event_type,
             time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS hr,
             count(*) AS cnt
           FROM events GROUP BY 1, 2),
         w AS (SELECT *, count(*) OVER tw AS trail_n,
             coalesce(sum(cnt) OVER tw, 0) AS trail_sum
           FROM b
           WINDOW tw AS (PARTITION BY event_type ORDER BY hr
             ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
         SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M') AS hr, cnt,
           CAST(1 AS BIGINT) AS outage_flag
         FROM w WHERE trail_n = 8 AND cnt * 12 < trail_sum
         ORDER BY event_type, hr""",
    "x_wow_change" ->
      """WITH weekly AS (SELECT event_type,
             datediff('day', DATE '2024-01-01',
               CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS wk,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         l AS (SELECT *, lag(n) OVER (PARTITION BY event_type
             ORDER BY wk) AS prev
           FROM weekly)
         SELECT event_type, CAST(wk AS BIGINT) AS wk, n,
           CAST(prev AS BIGINT) AS prev,
           CAST(((n - prev) * 1000) // prev AS BIGINT) AS delta_permille
         FROM l WHERE prev IS NOT NULL ORDER BY event_type, wk""",
    "x_psi_drift" ->
      """WITH bins AS (SELECT n_chars // 100 AS bin,
             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)
               AS BIGINT) AS cb
           FROM documents GROUP BY 1),
         t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM bins),
         terms AS (SELECT bin,
             CAST(floor((CAST(ca + 1 AS DOUBLE) / (na + 1) -
               CAST(cb + 1 AS DOUBLE) / (nb + 1)) *
               ln(CAST((ca + 1) * (nb + 1) AS DOUBLE) /
                 CAST((cb + 1) * (na + 1) AS DOUBLE)) * 1e6) AS BIGINT)
               AS term_x1e6
           FROM bins, t)
         SELECT count(*) AS n_bins,
           CAST(sum(term_x1e6) AS BIGINT) AS psi_x1e6,
           CAST(CASE WHEN sum(term_x1e6) >= 200000 THEN 1 ELSE 0 END
             AS BIGINT) AS drift_flag
         FROM terms""",
    "c32_hash_chain" ->
      """WITH e AS (SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
           FROM events),
         l AS (SELECT user_id, count(*) AS n_events,
             list(CAST(event_id AS VARCHAR)
               ORDER BY ts_us, event_id) AS ids
           FROM e GROUP BY 1)
         SELECT user_id, n_events,
           list_reduce(list_prepend('seed', ids),
             (a, b) -> md5(a || b)) AS chain_head
         FROM l ORDER BY user_id""",
    "x_cohort_ltv" ->
      """WITH fs AS (SELECT user_id,
             datediff('day', DATE '2024-01-01',
               CAST(min(CAST(ts AS TIMESTAMP)) AS DATE)) // 7 AS cohort
           FROM events GROUP BY 1),
         wk AS (SELECT fs.cohort,
             datediff('day', DATE '2024-01-01',
               CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) // 7 - fs.cohort
               AS offset_wk,
             CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents
           FROM events e JOIN fs USING (user_id)
           WHERE e.event_type = 'purchase' GROUP BY 1, 2),
         sz AS (SELECT cohort, count(DISTINCT user_id) AS n_users
           FROM fs GROUP BY 1),
         c AS (SELECT cohort, offset_wk, cents,
             sum(cents) OVER (PARTITION BY cohort ORDER BY offset_wk
               ROWS UNBOUNDED PRECEDING) AS cum_cents
           FROM wk)
         SELECT c.cohort, c.offset_wk, sz.n_users,
           CAST(c.cum_cents AS BIGINT) AS cum_cents,
           CAST(c.cum_cents // sz.n_users AS BIGINT) AS ltv_per_user_cents
         FROM c JOIN sz USING (cohort)
         ORDER BY cohort, offset_wk""",
    "c34_embedding_alignment" ->
      """SELECT
           (SELECT count(*) FROM documents d WHERE EXISTS
             (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))
             AS aligned,
           (SELECT count(*) FROM embeddings e WHERE NOT EXISTS
             (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
             AS orphan_vectors,
           (SELECT count(*) FROM documents d WHERE NOT EXISTS
             (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))
             AS docs_without_vector,
           CAST(CASE WHEN
             (SELECT count(*) FROM embeddings e WHERE NOT EXISTS
               (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)) = 0
             AND (SELECT count(*) FROM documents d WHERE NOT EXISTS
               (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) = 0
             THEN 1 ELSE 0 END AS BIGINT) AS fully_aligned""",
    "x_oov_rate" ->
      """WITH tok AS (SELECT doc_id, lang,
             unnest(string_split_regex(trim(text), ' +')) AS tk
           FROM documents WHERE len(trim(text)) > 0),
         t2 AS (SELECT * FROM tok WHERE tk <> ''),
         voc AS (SELECT DISTINCT tk FROM t2 WHERE doc_id % 2 = 0),
         ev AS (SELECT t2.lang, t2.tk,
             CASE WHEN voc.tk IS NULL THEN 1 ELSE 0 END AS oov
           FROM t2 LEFT JOIN voc ON t2.tk = voc.tk
           WHERE t2.doc_id % 2 = 1)
         SELECT lang, count(*) AS tokens,
           CAST(sum(oov) AS BIGINT) AS oov,
           CAST((sum(oov) * 10000) // count(*) AS BIGINT) AS oov_x1e4
         FROM ev GROUP BY 1 ORDER BY lang""",
    "x_churn_weekly" ->
      """WITH uw AS (SELECT DISTINCT user_id,
             datediff('day', DATE '2024-01-01',
               CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS wk
           FROM events),
         ret AS (SELECT a.wk, count(*) AS retained
           FROM uw a WHERE EXISTS (SELECT 1 FROM uw b
             WHERE b.user_id = a.user_id AND b.wk = a.wk + 1)
           GROUP BY 1),
         act AS (SELECT wk, count(*) AS active FROM uw GROUP BY 1)
         SELECT CAST(act.wk AS BIGINT) AS wk, act.active,
           CAST(ret.retained AS BIGINT) AS retained,
           CAST(((act.active - ret.retained) * 10000) // act.active
             AS BIGINT) AS churn_x1e4
         FROM act JOIN ret USING (wk) ORDER BY wk""",
    "x_source_entropy" ->
      """WITH s AS (SELECT source, count(*) AS c FROM documents
           GROUP BY 1),
         m AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS n_sources,
             CAST(sum(c * CAST(floor(ln(c) * 1e6) AS BIGINT)) AS BIGINT)
               AS clnc
           FROM s)
         SELECT n_sources, n,
           CAST(CAST(floor(ln(n) * 1e6) AS BIGINT) - clnc // n AS BIGINT)
             AS entropy_x1e6
         FROM m""",
    "x_ks_test" ->
      """WITH v AS (SELECT n_chars, source = 'src0' AS isa, doc_id
           FROM documents WHERE source IN ('src0', 'src1')),
         t AS (SELECT sum(CASE WHEN isa THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN isa THEN 0 ELSE 1 END) AS nb
           FROM v),
         c AS (SELECT
             sum(CASE WHEN isa THEN 1 ELSE 0 END) OVER w AS ca,
             sum(CASE WHEN isa THEN 0 ELSE 1 END) OVER w AS cb
           FROM v
           WINDOW w AS (ORDER BY n_chars, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         g AS (SELECT CAST(max(floor(abs(
             CAST(c.ca AS DOUBLE) / t.na - CAST(c.cb AS DOUBLE) / t.nb)
             * 1e6)) AS BIGINT) AS d_x1e6,
             CAST(min(t.na) AS BIGINT) AS na, CAST(min(t.nb) AS BIGINT)
               AS nb
           FROM c, t)
         SELECT na, nb, d_x1e6,
           CAST(floor(1.358 * sqrt(CAST(na + nb AS DOUBLE) /
             CAST(na * nb AS DOUBLE)) * 1e6) AS BIGINT) AS crit05_x1e6,
           CAST(CASE WHEN d_x1e6 > floor(1.358 *
             sqrt(CAST(na + nb AS DOUBLE) / CAST(na * nb AS DOUBLE))
             * 1e6) THEN 1 ELSE 0 END AS BIGINT) AS reject_flag
         FROM g""",
    "x_vocab_growth" ->
      """WITH tok AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), ' +')) AS tk
           FROM documents WHERE len(trim(text)) > 0),
         fs AS (SELECT tk, min(doc_id) AS first_doc FROM tok
           WHERE tk <> '' GROUP BY 1),
         g AS (SELECT CAST(least(first_doc, 10) AS BIGINT) AS bucket,
             count(*) AS new_types
           FROM fs GROUP BY 1)
         SELECT bucket, new_types,
           CAST(sum(new_types) OVER (ORDER BY bucket
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
         FROM g ORDER BY bucket""",
    "x_curriculum_order" ->
      """WITH d AS (SELECT doc_id, n_chars,
             string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         sc AS (SELECT doc_id, n_chars,
             (len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1000)
               // len(w)
             + 100 * len(list_filter(
                 ['the','be','to','of','and','that','have','with'],
                 s -> list_contains(w, s))) AS score
           FROM d),
         r AS (SELECT doc_id, n_chars, score,
             ntile(4) OVER (ORDER BY score, doc_id) AS phase
           FROM sc)
         SELECT CAST(phase AS BIGINT) AS phase, count(*) AS n_docs,
           CAST(min(score) AS BIGINT) AS min_score,
           CAST(max(score) AS BIGINT) AS max_score,
           CAST(sum(n_chars) AS BIGINT) AS phase_chars
         FROM r GROUP BY 1 ORDER BY 1""",
    "x_dp_counts" ->
      """WITH g AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         un AS (SELECT source, n,
             CAST(('0x' || substr(md5('dp:' || source), 1, 12))::BIGINT
               AS DOUBLE) / 281474976710656.0 AS u
           FROM g)
         SELECT source, n,
           CAST(n + CAST(floor(CASE WHEN u >= 0.5
             THEN -ln(2.0 * (1.0 - u)) ELSE ln(2.0 * u) END) AS BIGINT)
             AS BIGINT) AS noisy_n
         FROM un ORDER BY source""",
    "x_gopher_rules" ->
      """WITH d AS (SELECT source,
             string_split_regex(trim(lower(text)), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         m AS (SELECT source, len(w) AS nw,
             list_sum(list_transform(w, x -> len(x))) AS chars,
             len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
               AS alpha_w,
             len(list_filter(w, x -> x LIKE '%#%' OR x LIKE '%...%'))
               AS sym_w,
             len(list_filter(
               ['the','be','to','of','and','that','have','with'],
               s -> list_contains(w, s))) AS n_stop
           FROM d),
         f AS (SELECT source,
             CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END
               AS r_count,
             CASE WHEN chars >= nw * 3 AND chars <= nw * 10 THEN 1 ELSE 0
               END AS r_wordlen,
             CASE WHEN sym_w * 10 < nw THEN 1 ELSE 0 END AS r_symbol,
             CASE WHEN alpha_w * 10 >= nw * 8 THEN 1 ELSE 0 END AS r_alpha,
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop
           FROM m)
         SELECT source, count(*) AS n_docs,
           CAST(sum(r_count) AS BIGINT) AS pass_count,
           CAST(sum(r_wordlen) AS BIGINT) AS pass_wordlen,
           CAST(sum(r_symbol) AS BIGINT) AS pass_symbol,
           CAST(sum(r_alpha) AS BIGINT) AS pass_alpha,
           CAST(sum(r_stop) AS BIGINT) AS pass_stop,
           CAST(sum(r_count * r_wordlen * r_symbol * r_alpha * r_stop)
             AS BIGINT) AS kept
         FROM f GROUP BY 1 ORDER BY 1""",
    "x_cross_source_dup" ->
      """WITH sh AS (SELECT DISTINCT source,
             md5(array_to_string(list_slice(
               string_split_regex(trim(lower(text)), ' +'), 1, 8), ' '))
               AS h
           FROM documents WHERE len(trim(text)) > 0)
         SELECT a.source AS src_a, b.source AS src_b,
           count(*) AS shared_fps
         FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "x_dedup_length_bias" ->
      """WITH d AS (SELECT doc_id, source, n_chars, md5(text) AS h
           FROM documents),
         pre AS (SELECT source, count(*) AS n_pre,
             CAST(sum(n_chars) AS BIGINT) AS c_pre
           FROM d GROUP BY 1),
         kmin AS (SELECT h, min(doc_id) AS kid FROM d GROUP BY 1),
         kept AS (SELECT d.source, d.n_chars
           FROM d JOIN kmin ON d.h = kmin.h AND d.doc_id = kmin.kid),
         post AS (SELECT source, count(*) AS n_post,
             CAST(sum(n_chars) AS BIGINT) AS c_post
           FROM kept GROUP BY 1),
         j AS (SELECT pre.source, n_pre, n_post,
             (c_pre * 100) // n_pre AS mean_pre_x100,
             (c_post * 100) // n_post AS mean_post_x100
           FROM pre JOIN post USING (source))
         SELECT source, n_pre, n_post,
           CAST(mean_pre_x100 AS BIGINT) AS mean_pre_x100,
           CAST(mean_post_x100 AS BIGINT) AS mean_post_x100,
           CAST(((mean_post_x100 - mean_pre_x100) * 10000)
             // mean_pre_x100 AS BIGINT) AS shift_bp
         FROM j ORDER BY source""",
    "x_token_budget" ->
      """WITH a AS (SELECT source,
             CAST(sum(len(string_split_regex(trim(text), ' +')))
               AS BIGINT) AS avail_tokens
           FROM documents WHERE len(trim(text)) > 0 GROUP BY 1),
         t AS (SELECT CAST(sum(avail_tokens) AS BIGINT) AS t,
             count(*) AS k FROM a),
         p AS (SELECT source, avail_tokens, (2 * t.t) // t.k
             AS target_tokens
           FROM a, t)
         SELECT source, avail_tokens, target_tokens,
           CAST((target_tokens * 100) // avail_tokens AS BIGINT)
             AS epochs_x100,
           CAST(CASE WHEN (target_tokens * 100) // avail_tokens > 400
             THEN 1 ELSE 0 END AS BIGINT) AS over_repeat
         FROM p ORDER BY source""",
    "x_dup_inflation" ->
      """WITH d AS (SELECT source, n_chars, md5(text) AS h
           FROM documents),
         kept AS (SELECT h, min(n_chars) AS n_chars, count(*) AS copies
           FROM d GROUP BY 1),
         raw AS (SELECT source, count(*) AS docs_raw,
             CAST(sum(n_chars) AS BIGINT) AS chars_raw
           FROM d GROUP BY 1),
         g AS (SELECT count(*) AS docs_kept,
             CAST(sum(n_chars) AS BIGINT) AS chars_kept,
             CAST(sum(n_chars * (copies - 1)) AS BIGINT) AS chars_saved
           FROM kept)
         SELECT raw.source, raw.docs_raw, raw.chars_raw, g.docs_kept,
           g.chars_saved,
           CAST((g.chars_saved * 10000) // g.chars_kept AS BIGINT)
             AS inflation_x1e4
         FROM raw, g ORDER BY source""",
    "x_lorenz_curve" ->
      """WITH per AS (SELECT user_id, count(*) AS x FROM events
           GROUP BY 1),
         dec AS (SELECT ntile(10) OVER (ORDER BY x, user_id) AS decile, x
           FROM per),
         g AS (SELECT decile, count(*) AS n_users,
             CAST(sum(x) AS BIGINT) AS events
           FROM dec GROUP BY 1),
         t AS (SELECT sum(events) AS te FROM g),
         c AS (SELECT *, sum(events) OVER (ORDER BY decile
             ROWS UNBOUNDED PRECEDING) AS cum_events
           FROM g)
         SELECT CAST(c.decile AS BIGINT) AS decile, c.n_users, c.events,
           CAST((c.cum_events * 10000) // t.te AS BIGINT) AS cum_share_x1e4
         FROM c, t ORDER BY decile""",
    "x_type_token_ratio" ->
      """WITH tok AS (SELECT doc_id, lang,
             unnest(string_split_regex(trim(text), ' +')) AS tk
           FROM documents WHERE len(trim(text)) > 0),
         p AS (SELECT doc_id, lang, count(DISTINCT tk) AS types,
             count(*) AS tokens
           FROM tok WHERE tk <> '' GROUP BY 1, 2)
         SELECT lang, count(*) AS n_docs,
           CAST(sum((types * 10000) // tokens) // count(*) AS BIGINT)
             AS mean_ttr_x1e4
         FROM p GROUP BY 1 ORDER BY lang""",
    "d_canonical_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
         twins AS (SELECT doc_id + 100000 AS doc_id,
             upper(text) || ' CAFE' || chr(769) AS text
           FROM base WHERE doc_id % 13 = 0),
         third AS (SELECT doc_id + 200000 AS doc_id,
             text || ' caf' || chr(233) AS text
           FROM base WHERE doc_id % 13 = 0),
         allr AS (SELECT * FROM base UNION ALL SELECT * FROM third
           UNION ALL SELECT * FROM twins),
         h AS (SELECT md5(lower(nfc_normalize(text))) AS h FROM allr),
         g AS (SELECT h, count(*) AS members FROM h GROUP BY 1)
         SELECT CAST(members AS BIGINT) AS members, count(*) AS n_groups
         FROM g GROUP BY 1 ORDER BY members""",
    "c33_benford_audit" ->
      """WITH o AS (SELECT floor(o_totalprice /
             pow(10.0, floor(log10(o_totalprice)))) AS d
           FROM orders WHERE o_totalprice >= 1),
         obs AS (SELECT CAST(d AS BIGINT) AS d, count(*) AS observed
           FROM o GROUP BY 1),
         t AS (SELECT sum(observed) AS n FROM obs)
         SELECT obs.d, obs.observed,
           CAST((obs.observed * 1000) // t.n AS BIGINT) AS obs_permille,
           CAST(floor(log10(1.0 + 1.0 / obs.d) * 1e6) AS BIGINT)
             AS expected_x1e6
         FROM obs, t ORDER BY d""",
    "q_sql_hint" ->
      """SELECT c.c_mktsegment, count(*) AS n,
           CAST(floor(sum(o.o_totalprice) * 100 + 0.5) AS BIGINT)
             AS total_x100
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""",
    "x_reactivation" ->
      """WITH e AS (SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
           FROM events),
         g AS (SELECT user_id,
             ts_us - lag(ts_us) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS gap_us
           FROM e)
         SELECT user_id, count(*) AS n_events,
           CAST(sum(CASE WHEN gap_us > 604800000000 THEN 1 ELSE 0 END)
             AS BIGINT) AS reactivations,
           CAST(coalesce(max(gap_us), 0) // 1000000 AS BIGINT)
             AS longest_gap_secs
         FROM g GROUP BY 1 ORDER BY user_id""",
    "x_stopword_discovery" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents
           WHERE len(trim(text)) > 0),
         t AS (SELECT count(*) AS n_docs FROM d),
         tok AS (SELECT doc_id, lang,
             unnest(string_split_regex(trim(text), ' +')) AS tk
           FROM d),
         df AS (SELECT tk, count(DISTINCT doc_id) AS df,
             count(DISTINCT lang) AS n_langs
           FROM tok WHERE tk <> '' GROUP BY 1)
         SELECT tk, df, n_langs,
           CAST(floor(df * 10000 / t.n_docs) AS BIGINT) AS df_x10000
         FROM df, t WHERE df * 10 > t.n_docs * 6
         ORDER BY df DESC, tk""",
    "v_clustering_coeff" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         raw AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         deg AS (SELECT v, count(*) AS dg FROM
           (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY 1),
         o AS (SELECT
             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.a ELSE e.b END AS lo,
             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.b ELSE e.a END AS hi,
             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN db.dg ELSE da.dg END AS dh
           FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
         w AS (SELECT o1.lo AS x, o1.hi AS y, o2.hi AS z
           FROM o o1 JOIN o o2 ON o1.lo = o2.lo
           WHERE (o1.dh, o1.hi) < (o2.dh, o2.hi)),
         tris AS (SELECT w.x, w.y, w.z
           FROM w JOIN o ON o.lo = w.y AND o.hi = w.z),
         ta AS (SELECT v, count(*) AS t FROM
           (SELECT x AS v FROM tris UNION ALL SELECT y FROM tris
            UNION ALL SELECT z FROM tris) GROUP BY 1)
         SELECT CAST(deg.v AS BIGINT) AS v, CAST(deg.dg AS BIGINT) AS dg,
           CAST(coalesce(ta.t, 0) AS BIGINT) AS triangles,
           CAST((coalesce(ta.t, 0) * 2000000) // (deg.dg * (deg.dg - 1))
             AS BIGINT) AS coeff_x1e6
         FROM deg LEFT JOIN ta USING (v)
         WHERE deg.dg >= 2 ORDER BY v""",
    "v_edge_support" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         raw AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         deg AS (SELECT v, count(*) AS dg FROM
           (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY 1),
         o AS (SELECT
             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.a ELSE e.b END AS lo,
             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.b ELSE e.a END AS hi,
             CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN db.dg ELSE da.dg END AS dh
           FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
         w AS (SELECT o1.lo AS x, o1.hi AS y, o2.hi AS z
           FROM o o1 JOIN o o2 ON o1.lo = o2.lo
           WHERE (o1.dh, o1.hi) < (o2.dh, o2.hi)),
         tris AS (SELECT w.x, w.y, w.z
           FROM w JOIN o ON o.lo = w.y AND o.hi = w.z),
         te AS (SELECT least(x, y) AS a, greatest(x, y) AS b FROM tris
           UNION ALL SELECT least(x, z), greatest(x, z) FROM tris
           UNION ALL SELECT least(y, z), greatest(y, z) FROM tris),
         sup AS (SELECT a, b, count(*) AS support FROM te GROUP BY 1, 2)
         SELECT CAST(coalesce(sup.support, 0) AS BIGINT) AS support,
           count(*) AS n_edges
         FROM e LEFT JOIN sup USING (a, b)
         GROUP BY 1 ORDER BY support""",
    "v_neighbor_features" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         raw AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
         deg AS (SELECT u, count(*) AS deg FROM dir GROUP BY 1),
         nd AS (SELECT dir.u, count(*) AS dg,
             (sum(d2.deg) * 1000) // count(*) AS mean_nbr_deg_x1000
           FROM dir JOIN deg d2 ON dir.v = d2.u GROUP BY 1),
         th AS (SELECT t.u, count(*) AS n_2hop FROM (
           SELECT DISTINCT d1.u, d2.v AS w
           FROM dir d1 JOIN dir d2 ON d1.v = d2.u
           WHERE d1.u <> d2.v) t
           WHERE NOT EXISTS (SELECT 1 FROM dir
             WHERE dir.u = t.u AND dir.v = t.w)
           GROUP BY 1)
         SELECT CAST(nd.u AS BIGINT) AS v, CAST(nd.dg AS BIGINT) AS deg,
           CAST(nd.mean_nbr_deg_x1000 AS BIGINT) AS mean_nbr_deg_x1000,
           CAST(coalesce(th.n_2hop, 0) AS BIGINT) AS n_2hop
         FROM nd LEFT JOIN th USING (u) ORDER BY v""",
    "x_langid_ngram" ->
      """WITH bg AS (SELECT doc_id, lang,
             unnest(list_transform(range(1, len(text)),
               i -> text[i:i+1])) AS bg
           FROM documents WHERE len(text) >= 2),
         train AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
         cnts AS (SELECT lang AS mlang, bg, count(*) AS c
           FROM train GROUP BY 1, 2),
         tots AS (SELECT mlang, CAST(sum(c) AS BIGINT) AS tot
           FROM cnts GROUP BY 1),
         voc AS (SELECT count(DISTINCT bg) AS v FROM cnts),
         docbg AS (SELECT doc_id, lang, bg, count(*) AS n FROM bg
           WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
         sc AS (SELECT d.doc_id, d.lang, t.mlang,
             CAST(sum(d.n * CAST(floor(ln(
               (coalesce(c.c, 0) + 1) / CAST(t.tot + voc.v AS DOUBLE))
               * 1e6) AS BIGINT)) AS BIGINT) AS score
           FROM docbg d
           CROSS JOIN tots t CROSS JOIN voc
           LEFT JOIN cnts c ON c.mlang = t.mlang AND c.bg = d.bg
           GROUP BY 1, 2, 3),
         pred AS (SELECT doc_id, lang, mlang AS pred_lang FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, mlang DESC) AS rn FROM sc)
           WHERE rn = 1)
         SELECT lang, pred_lang, count(*) AS n,
           CAST(max(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END)
             AS BIGINT) AS hit
         FROM pred GROUP BY 1, 2 ORDER BY lang, pred_lang""",
    "x_winsorize" ->
      """WITH d AS (SELECT lang,
             CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE)
               AS tokens
           FROM documents WHERE len(trim(text)) > 0),
         b AS (SELECT lang, quantile_cont(tokens, 0.1) AS p10,
             quantile_cont(tokens, 0.9) AS p90
           FROM d GROUP BY 1),
         j AS (SELECT d.lang,
             CAST(floor(greatest(least(tokens, p90), p10) * 1000)
               AS BIGINT) AS w1000,
             CASE WHEN tokens < p10 OR tokens > p90 THEN 1 ELSE 0 END
               AS cl
           FROM d JOIN b USING (lang))
         SELECT lang, count(*) AS n, CAST(sum(cl) AS BIGINT) AS n_clamped,
           CAST(sum(w1000) // count(*) AS BIGINT) AS wmean_x1000
         FROM j GROUP BY 1 ORDER BY lang""",
    "c31_schema_fingerprint" ->
      """WITH c AS (SELECT table_name, column_name
           FROM information_schema.columns
           WHERE table_name IN ('customer', 'documents', 'embeddings',
             'events', 'lineitem', 'nation', 'orders', 'part', 'region',
             'supplier')),
         a AS (SELECT table_name, count(*) AS n_cols,
             string_agg(column_name, ',' ORDER BY column_name) AS cols
           FROM c GROUP BY 1)
         SELECT table_name, n_cols, md5(cols) AS schema_md5
         FROM a ORDER BY table_name""",
    "x_seasonal_profile" ->
      """WITH cells AS (SELECT dayofweek(CAST(ts AS TIMESTAMP)) AS dw0,
             CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         c2 AS (SELECT CAST(CASE WHEN dw0 = 0 THEN 1 ELSE dw0 + 1 END
               AS BIGINT) AS dow, hr, n
           FROM cells),
         p AS (SELECT dow, hr AS peak_hr FROM (SELECT dow, hr,
             row_number() OVER (PARTITION BY dow
               ORDER BY n DESC, hr) AS rn FROM c2) WHERE rn = 1)
         SELECT c2.dow, c2.hr, c2.n,
           CAST(CASE WHEN c2.hr = p.peak_hr THEN 1 ELSE 0 END AS BIGINT)
             AS is_peak
         FROM c2 JOIN p USING (dow) ORDER BY dow, hr""",
    "x_gini_users" ->
      """WITH per AS (SELECT user_id, count(*) AS x FROM events
           GROUP BY 1),
         r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i
           FROM per),
         m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(i * x) AS BIGINT) AS six
           FROM r)
         SELECT n, sx,
           CAST(floor(1e6 * (2.0 * six / (CAST(n AS DOUBLE) * sx) -
             CAST(n + 1 AS DOUBLE) / n)) AS BIGINT) AS gini_x1e6
         FROM m""",
    "x_diff_in_diff" ->
      """WITH c AS (SELECT
             CASE WHEN substr(md5('exp1:' || CAST(user_id AS VARCHAR)),
               1, 1) < '8' THEN 1 ELSE 0 END AS treat,
             CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
               AS post,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         cells AS (SELECT treat, post, count(*) AS n,
             CAST(floor(sum(cents) * 100 / count(*)) AS BIGINT)
               AS mean_x100
           FROM c GROUP BY 1, 2),
         w AS (SELECT
             max(CASE WHEN treat=1 AND post=1 THEN mean_x100 END) AS m11,
             max(CASE WHEN treat=1 AND post=0 THEN mean_x100 END) AS m10,
             max(CASE WHEN treat=0 AND post=1 THEN mean_x100 END) AS m01,
             max(CASE WHEN treat=0 AND post=0 THEN mean_x100 END) AS m00
           FROM cells)
         SELECT CAST(treat AS BIGINT) AS treat, CAST(post AS BIGINT)
             AS post, n, mean_x100,
           CAST(m11 - m10 - (m01 - m00) AS BIGINT) AS did_x100
         FROM cells, w ORDER BY treat, post""",
    "v_assortativity" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         raw AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         deg AS (SELECT v, count(*) AS dg FROM
           (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         dir AS (SELECT a AS u, b AS w FROM e
           UNION ALL SELECT b, a FROM e),
         j AS (SELECT du.dg AS du, dw.dg AS dw
           FROM dir JOIN deg du ON dir.u = du.v
           JOIN deg dw ON dir.w = dw.v),
         m AS (SELECT count(*) AS m2, CAST(sum(du) AS BIGINT) AS sx,
             CAST(sum(dw) AS BIGINT) AS sy,
             CAST(sum(du * dw) AS BIGINT) AS sxy,
             CAST(sum(du * du) AS BIGINT) AS sxx,
             CAST(sum(dw * dw) AS BIGINT) AS syy
           FROM j)
         SELECT m2, CAST(floor(1e6 * (m2 * sxy - sx * sy) /
             (sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE)) *
              sqrt(CAST(m2 * syy - sy * sy AS DOUBLE)))) AS BIGINT)
           AS assortativity_x1e6
         FROM m""",
    "x_trend_forecast" ->
      """WITH daily AS (SELECT CAST(datediff('day', DATE '2024-01-01',
             CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS x,
             count(*) AS y
           FROM events GROUP BY 1),
         m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
           FROM daily),
         s AS (SELECT n, sy, sx,
             CAST(floor(1e6 * (n * sxy - sx * sy) /
               (n * sxx - sx * sx)) AS BIGINT) AS slope_x1e6
           FROM m),
         i AS (SELECT n, sy, slope_x1e6,
             (1000000 * sy - slope_x1e6 * sx) // n AS intercept_x1e6
           FROM s)
         SELECT n, sy, slope_x1e6, CAST(intercept_x1e6 AS BIGINT)
             AS intercept_x1e6,
           CAST((intercept_x1e6 + slope_x1e6 * 32) // 1000000 AS BIGINT)
             AS forecast_day32
         FROM i""",
    "x_js_divergence" ->
      """WITH tk AS (SELECT source, unnest(string_split_regex(
             trim(lower(text)), ' +')) AS t
           FROM documents
           WHERE source IN ('src0', 'src1') AND len(trim(text)) > 0),
         tk2 AS (SELECT source, t FROM tk WHERE t <> ''),
         cnt AS (SELECT t,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
               AS BIGINT) AS ca,
             CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
               AS BIGINT) AS cb
           FROM tk2 GROUP BY 1),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
             CAST(sum(cb) AS BIGINT) AS tb FROM cnt),
         terms AS (SELECT CAST(floor(1e9 * (
               (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / ta) *
                 ln((CAST(ca AS DOUBLE) / ta) /
                    ((CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb) / 2))
                ELSE 0.0 END)
             + (CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / tb) *
                 ln((CAST(cb AS DOUBLE) / tb) /
                    ((CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb) / 2))
                ELSE 0.0 END)) / 2) AS BIGINT) AS j
           FROM cnt, tot)
         SELECT count(*) AS vocab, CAST(sum(j) AS BIGINT) AS js_x1e9
         FROM terms""",
    "x_exact_quantile_hist" ->
      """WITH h AS (SELECT lang, n_chars, count(*) AS c
           FROM documents GROUP BY 1, 2),
         cum AS (SELECT lang, n_chars,
             sum(c) OVER (PARTITION BY lang ORDER BY n_chars
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM h),
         tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n
           FROM h GROUP BY 1)
         SELECT cum.lang, max(tot.n) AS n,
           CAST(min(CASE WHEN cum.cum * 100 >= tot.n * 50
             THEN cum.n_chars END) AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum.cum * 100 >= tot.n * 90
             THEN cum.n_chars END) AS BIGINT) AS p90,
           CAST(min(CASE WHEN cum.cum * 100 >= tot.n * 99
             THEN cum.n_chars END) AS BIGINT) AS p99
         FROM cum JOIN tot USING (lang)
         GROUP BY 1 ORDER BY cum.lang""",
    "x_seasonality_dow" ->
      """WITH e AS (SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1
             AS BIGINT) AS dow FROM events),
         g AS (SELECT dow, count(*) AS n FROM e GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM g)
         SELECT dow, n, CAST((n * 7 * 10000) // t.t AS BIGINT)
           AS index_x1e4
         FROM g, t ORDER BY dow""",
    "v_graph_reciprocity" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         e0 AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
         r AS (SELECT count(*) AS n_reciprocal FROM e a
           WHERE EXISTS (SELECT 1 FROM e b
             WHERE b.src = a.dst AND b.dst = a.src)),
         c AS (SELECT count(*) AS n_edges FROM e)
         SELECT CAST(c.n_edges AS BIGINT) AS n_edges,
           CAST(r.n_reciprocal AS BIGINT) AS n_reciprocal,
           CAST((r.n_reciprocal * 10000) // c.n_edges AS BIGINT)
             AS recip_x1e4
         FROM c, r""",
    "v_conductance" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         e0 AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e1 AS (SELECT DISTINCT least(src, dst) AS a,
             greatest(src, dst) AS b
           FROM e0 WHERE src <> dst),
         e AS (SELECT a % 4 AS ca, b % 4 AS cb FROM e1),
         v AS (SELECT c, count(*) AS vol FROM
             (SELECT ca AS c FROM e UNION ALL SELECT cb FROM e)
           GROUP BY 1),
         cu AS (SELECT c, count(*) AS cut FROM
             (SELECT ca AS c FROM e WHERE ca <> cb
              UNION ALL SELECT cb FROM e WHERE ca <> cb)
           GROUP BY 1),
         t AS (SELECT CAST(sum(vol) AS BIGINT) AS tv FROM v)
         SELECT v.c AS community, CAST(v.vol AS BIGINT) AS vol,
           CAST(coalesce(cu.cut, 0) AS BIGINT) AS cut_edges,
           CAST((coalesce(cu.cut, 0) * 1000000)
             // least(v.vol, t.tv - v.vol) AS BIGINT) AS phi_x1e6
         FROM v LEFT JOIN cu ON v.c = cu.c, t
         ORDER BY community""",
    "x_fold_leakage" ->
      """WITH f AS (SELECT
             md5(array_to_string(list_slice(
               string_split_regex(trim(lower(text)), ' +'), 1, 8), ' '))
               AS h,
             ('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)),
               1, 4))::BIGINT % 5 AS fold
           FROM documents WHERE len(trim(text)) > 0),
         hf AS (SELECT h, fold, count(*) AS n FROM f GROUP BY 1, 2)
         SELECT a.fold AS fold_a, b.fold AS fold_b,
           count(*) AS dup_groups,
           CAST(sum(a.n * b.n) AS BIGINT) AS leaked_pairs
         FROM hf a JOIN hf b ON a.h = b.h AND a.fold < b.fold
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "x_weighted_sample" ->
      """WITH sc AS (SELECT source, doc_id, n_chars,
             ln(CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
               1, 12))::BIGINT AS DOUBLE) / 281474976710656.0)
               / CAST(n_chars AS DOUBLE) AS key
           FROM documents WHERE n_chars > 0),
         r AS (SELECT source, doc_id, n_chars, key,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY key DESC, doc_id) AS INT) AS rnk
           FROM sc)
         SELECT source, rnk, doc_id, n_chars,
           CAST(floor(key * 1e9) AS BIGINT) AS key_x1e9
         FROM r WHERE rnk <= 5 ORDER BY source, rnk""",
    "x_event_pattern" ->
      """WITH e AS (SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
           FROM events),
         l AS (SELECT user_id, event_type,
             lag(event_type, 2) OVER w AS p2,
             lag(event_type, 1) OVER w AS p1
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
         SELECT user_id, count(*) AS matches
         FROM l WHERE p2 = 'view' AND p1 = 'view'
           AND event_type = 'purchase'
         GROUP BY 1 ORDER BY user_id""",
    "x_session_paths" ->
      """WITH e AS (SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
           FROM events),
         g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
               OR ts_us - lag(ts_us) OVER w > 28800000000 THEN 1 ELSE 0 END
               AS nf
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         s AS (SELECT *, sum(nf) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sess
           FROM g),
         p AS (SELECT user_id, sess,
             array_to_string((string_split(string_agg(event_type, '>'
               ORDER BY ts_us, event_id), '>'))[:5], '>') AS path
           FROM s GROUP BY 1, 2)
         SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
         ORDER BY n_sessions DESC, path LIMIT 10""",
    "x_quantile_norm" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
         b AS (SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY n_chars, doc_id) AS i,
             count(*) OVER (PARTITION BY source) AS n
           FROM d),
         g AS (SELECT n_chars AS gv, row_number() OVER
             (ORDER BY n_chars, doc_id) AS gi FROM d),
         t AS (SELECT count(*) AS nn FROM d),
         j AS (SELECT b.source, b.n_chars, g.gv
           FROM b, t JOIN g
             ON g.gi = CAST(ceil(b.i * t.nn / CAST(b.n AS DOUBLE))
               AS BIGINT))
         SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS raw_sum,
           CAST(sum(gv) AS BIGINT) AS norm_sum,
           CAST(max(abs(n_chars - gv)) AS BIGINT) AS max_shift
         FROM j GROUP BY 1 ORDER BY source""",
    "x_rfm_segments" ->
      """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events),
         rfm AS (SELECT user_id,
             CAST(min(datediff('day', CAST(ts AS TIMESTAMP), mx.m))
               AS BIGINT) AS recency_days,
             count(*) AS frequency,
             CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS monetary_x100
           FROM events, mx WHERE event_type = 'purchase'
           GROUP BY user_id, mx.m),
         q AS (SELECT *,
             ntile(3) OVER (ORDER BY recency_days, user_id) AS r,
             ntile(3) OVER (ORDER BY frequency DESC, user_id) AS f,
             ntile(3) OVER (ORDER BY monetary_x100 DESC, user_id) AS m
           FROM rfm)
         SELECT user_id, recency_days, frequency, monetary_x100,
           CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
             AS segment
         FROM q ORDER BY user_id""",
    "x_ab_power" ->
      """WITH u AS (SELECT user_id,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         m AS (SELECT count(*) AS n_users, CAST(sum(cents) AS BIGINT) AS sc,
             CAST(sum(cents * cents) AS BIGINT) AS scc
           FROM u)
         SELECT n_users, sc, scc,
           CAST(floor(16.0 * ((scc - sc * sc / n_users) / (n_users - 1)) /
             ((sc / n_users) * 0.05 * (sc / n_users) * 0.05)) AS BIGINT)
             AS n_per_arm
         FROM m""",
    "x_zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), ' +'))
             AS tk
           FROM documents WHERE len(trim(text)) > 0),
         freq AS (SELECT tk, count(*) AS f FROM tok WHERE tk <> ''
           GROUP BY 1),
         ranked AS (SELECT CAST(floor(ln(r) * 1e6) AS BIGINT) AS x,
             CAST(floor(ln(f) * 1e6) AS BIGINT) AS y
           FROM (SELECT f, row_number() OVER (ORDER BY f DESC, tk) AS r
             FROM freq) WHERE r <= 200),
         m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
           FROM ranked)
         SELECT n, CAST(floor(1e6 * (n * sxy - sx * sy) /
             (n * sxx - sx * sx)) AS BIGINT) AS slope_x1e6
         FROM m""",
    "s_footer_stats" ->
      """SELECT 'l_orderkey' AS col, count(*) AS n_values,
           CAST(floor(min(l_orderkey) * 100 + 0.5) AS BIGINT) AS min_x100,
           CAST(floor(max(l_orderkey) * 100 + 0.5) AS BIGINT) AS max_x100
         FROM lineitem
         UNION ALL
         SELECT 'l_quantity', count(*),
           CAST(floor(min(l_quantity) * 100 + 0.5) AS BIGINT),
           CAST(floor(max(l_quantity) * 100 + 0.5) AS BIGINT)
         FROM lineitem
         ORDER BY col""",
    "x_image_ahash" ->
      """WITH img AS (SELECT t.id AS img_id, t.id % 4 AS base, p.i,
             ((t.id % 4 + 1) * ((p.i // 8) * 7 + (p.i % 8) * 13)) % 256 AS v
           FROM range(0, 8) t(id), range(0, 64) p(i)),
         m AS (SELECT img_id, CAST(sum(v) AS BIGINT) // 64 AS mean
           FROM img GROUP BY 1),
         h AS (SELECT img.img_id,
             CAST(sum(CASE WHEN img.i < 32 AND img.v > m.mean
               THEN 1::BIGINT << img.i ELSE 0 END) AS BIGINT) AS h_lo,
             CAST(sum(CASE WHEN img.i >= 32 AND img.v > m.mean
               THEN 1::BIGINT << (img.i - 32) ELSE 0 END) AS BIGINT) AS h_hi
           FROM img JOIN m USING (img_id) GROUP BY 1)
         SELECT h_hi, h_lo, count(*) AS n_dups,
           string_agg(CAST(img_id AS VARCHAR), ',' ORDER BY img_id)
             AS members
         FROM h GROUP BY 1, 2 ORDER BY h_hi, h_lo""",
    "x_langid_confusion" ->
      """WITH sc AS (SELECT lang,
           CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             x -> x IN ('the', 'a', 'of', 'and'))) AS INT) AS s_en,
           CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             x -> x IN ('el', 'la', 'de', 'y'))) AS INT) AS s_es,
           CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             x -> x IN ('der', 'die', 'das', 'und'))) AS INT) AS s_de
           FROM documents),
         p AS (SELECT lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang
           FROM sc)
         SELECT lang, pred_lang, count(*) AS n,
           CAST(max(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END)
             AS BIGINT) AS hit
         FROM p GROUP BY 1, 2 ORDER BY lang, pred_lang""",
    "x_consistent_hash" ->
      """WITH doc AS (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               AS dh
           FROM documents),
         vn4 AS (SELECT sh.s AS shard,
             ('0x' || substr(md5('shard:' || sh.s || ':' || v.v), 1, 12))
               ::BIGINT AS vh
           FROM range(0, 4) sh(s), range(0, 8) v(v)),
         vn5 AS (SELECT sh.s AS shard,
             ('0x' || substr(md5('shard:' || sh.s || ':' || v.v), 1, 12))
               ::BIGINT AS vh
           FROM range(0, 5) sh(s), range(0, 8) v(v)),
         a4 AS (SELECT doc_id, shard AS s4 FROM (
           SELECT d.doc_id, vn4.shard, row_number() OVER (
               PARTITION BY d.doc_id ORDER BY
               (vn4.vh - d.dh + 281474976710656) % 281474976710656,
               vn4.shard) AS rn
           FROM doc d, vn4) WHERE rn = 1),
         a5 AS (SELECT doc_id, shard AS s5 FROM (
           SELECT d.doc_id, vn5.shard, row_number() OVER (
               PARTITION BY d.doc_id ORDER BY
               (vn5.vh - d.dh + 281474976710656) % 281474976710656,
               vn5.shard) AS rn
           FROM doc d, vn5) WHERE rn = 1)
         SELECT a4.s4 AS shard, count(*) AS n_docs,
           CAST(sum(CASE WHEN s4 <> s5 THEN 1 ELSE 0 END) AS BIGINT)
             AS moved,
           CAST(CASE WHEN sum(CASE WHEN s4 <> s5 AND s5 <> 4
             THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS stable_ok
         FROM a4 JOIN a5 USING (doc_id) GROUP BY 1 ORDER BY shard""",
    "c29_analyze_stats" ->
      """SELECT count(*) AS n_rows,
           count(DISTINCT o_custkey) AS ndv_custkey,
           count(DISTINCT o_orderstatus) AS ndv_status,
           count(DISTINCT o_orderpriority) AS ndv_priority,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS null_custkey,
           min(o_orderkey) AS min_orderkey,
           max(o_orderkey) AS max_orderkey,
           CAST(floor(min(o_totalprice) * 100 + 0.5) AS BIGINT)
             AS min_price_x100,
           CAST(floor(max(o_totalprice) * 100 + 0.5) AS BIGINT)
             AS max_price_x100
         FROM orders""",
    "v_random_walk" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         raw AS (SELECT d.doc_id AS src,
             (d.doc_id * d.doc_id + 37 * t.k) % nn.n AS dst
           FROM documents d, nn, range(1, 4) t(k)),
         e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
         adj AS (SELECT u, v,
             row_number() OVER (PARTITION BY u ORDER BY v) AS rnk,
             count(*) OVER (PARTITION BY u) AS deg
           FROM dir),
         w0 AS (SELECT doc_id AS walk_id, doc_id AS cur,
             CAST(doc_id AS VARCHAR) AS path
           FROM documents WHERE doc_id % 20 = 0),
         w1 AS (SELECT w.walk_id, a.v AS cur, w.path || '>' || a.v AS path
           FROM w0 w JOIN adj a ON w.cur = a.u
           WHERE a.rnk = ('0x' || substr(md5(w.walk_id || ':1:' || w.cur),
             1, 12))::BIGINT % a.deg + 1),
         w2 AS (SELECT w.walk_id, a.v AS cur, w.path || '>' || a.v AS path
           FROM w1 w JOIN adj a ON w.cur = a.u
           WHERE a.rnk = ('0x' || substr(md5(w.walk_id || ':2:' || w.cur),
             1, 12))::BIGINT % a.deg + 1),
         w3 AS (SELECT w.walk_id, a.v AS cur, w.path || '>' || a.v AS path
           FROM w2 w JOIN adj a ON w.cur = a.u
           WHERE a.rnk = ('0x' || substr(md5(w.walk_id || ':3:' || w.cur),
             1, 12))::BIGINT % a.deg + 1)
         SELECT walk_id, CAST(cur AS BIGINT) AS end_node, path
         FROM w3 ORDER BY walk_id""",
    "x_itemsets_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             count(*) AS support
           FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 3),
         freq AS (SELECT l_partkey, count(*) AS f FROM items GROUP BY 1)
         SELECT p.pa, p.pb, p.support, fa.f AS fa, fb.f AS fb
         FROM pairs p JOIN freq fa ON p.pa = fa.l_partkey
           JOIN freq fb ON p.pb = fb.l_partkey
         ORDER BY support DESC, pa, pb""")
}
