package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan quality gates (builder mandate: "explain the plan and
  * iterate until it's the plan you'd want"). These assert the scale
  * properties the code comments claim: filters reach the parquet scan,
  * projections prune columns, small dimensions broadcast, and shuffle
  * counts stay at the theoretical minimum.
  */
class PlanQualitySpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  test("c5: date filter is pushed to the parquet scan") {
    val plan = planString(q("c5_item_listing"))
    assert(plan.contains("PushedFilters:") &&
      plan.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"expected o_orderdate in PushedFilters:\n$plan")
  }

  test("c5: scan reads only the referenced columns") {
    val plan = planString(q("c5_item_listing"))
    val ordersScan = plan.split("FileScan parquet").find(_.contains("orders"))
    assert(ordersScan.exists(s => !s.split("ReadSchema").last.contains("o_orderpriority")),
      "o_orderpriority must be pruned from the orders scan")
  }

  test("c9: dimension joins broadcast (no shuffle join for nation/region)") {
    val plan = planString(q("c9_lineage_walk"))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no sort-merge for tiny dims:\n$plan")
  }

  test("m1: bbox range join broadcasts the tile table") {
    val plan = planString(q("m1_bbox_join"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"range join should broadcast tiles:\n$plan")
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val plan = planString(q("q1_pricing_summary"))
    assert(plan.contains("partial_"), s"expected partial aggregates:\n$plan")
  }

  test("q1: whole-stage codegen covers the aggregation") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val df = q("q1_pricing_summary")
    df.collect() // finalize AQE on THIS QueryExecution (write would fork one)
    var found = false
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(s.plan)
        case _: WholeStageCodegenExec => found = true
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(found, "expected a WholeStageCodegen span in the final plan")
  }

  private def countShuffles(plan: SparkPlan): Int = {
    var n = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(s.plan)
        case s: ShuffleExchangeExec => n += 1
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(plan)
    n
  }

  test("q1: exactly two shuffles (group-by + output range sort)") {
    val df = q("q1_pricing_summary")
    df.write.format("noop").mode("overwrite").save()
    assert(countShuffles(df.queryExecution.executedPlan) == 2)
  }

  test("t2 composite: one shuffle for group-by plus one for the output sort") {
    val df = q("t2_lcf_composite")
    df.write.format("noop").mode("overwrite").save()
    // row_number window and groupBy share the l_orderkey partitioning;
    // Catalyst reuses it, leaving only the window shuffle + final sort range
    val shuffles = countShuffles(df.queryExecution.executedPlan)
    assert(shuffles <= 3, s"composite pipeline should reuse partitioning, got $shuffles")
  }

  test("d_ngram_jaccard: prefix-filter candidates — no theta join over the corpus") {
    val plan = planString(q("d_ngram_jaccard"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"prefix-filtered Jaccard must not contain an all-pairs join:\n$plan")
  }

  test("v_kmeans: centroid joins broadcast, no all-pairs join") {
    val plan = planString(q("v_kmeans"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"k-means must not contain an all-pairs join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"k-means centroid tables should broadcast:\n$plan")
  }

  test("x_decontaminate: benchmark n-grams broadcast, no all-pairs join") {
    val plan = planString(q("x_decontaminate"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"decontamination must not scan all pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the benchmark n-gram set should broadcast:\n$plan")
  }

  test("x_dup_spans: doc-frequency join is hash-based — no all-pairs join") {
    val plan = planString(q("x_dup_spans"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"dup-span coverage must join grams by equality:\n$plan")
  }

  test("x_vocab_hll: both distinct paths partial-aggregate before the shuffle") {
    val plan = planString(q("x_vocab_hll"))
    assert(plan.contains("partial_"), s"expected partial aggregates:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("c36: repair planning is pure partial-agg folds — no window, no join") {
    // two groupBys (file grain, then dir grain) must both map-side
    // combine, and planning must never windowize or join the file table:
    // at real scale the "files" are a catalog listing, but the modeled
    // gate keeps the fold's plan honest at corpus size too
    val plan = planString(q("c36_torn_repair_plan"))
    assert(plan.contains("partial_"), s"expected partial aggregates:\n$plan")
    assert(!plan.contains("Window"), s"no window in repair planning:\n$plan")
    assert(!plan.contains("Join"), s"no join in repair planning:\n$plan")
  }

  test("d_semantic_dedup: cluster equi-join bounds pairs — no all-pairs join") {
    val plan = planString(q("d_semantic_dedup"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"semantic dedup must pair only within clusters:\n$plan")
  }

  test("d_embed_neardup_lsh: no all-pairs join — every join is hash-based") {
    val plan = planString(q("d_embed_neardup_lsh"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"LSH near-dup must not contain an all-pairs join:\n$plan")
  }

  test("v_ann_ivf: centroid joins broadcast, corpus never nested-loops") {
    val df = q("v_ann_ivf")
    val plan = planString(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"IVF ANN must not contain an all-pairs join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the K×64 centroid table should broadcast:\n$plan")
  }

  test("v_ann_pq: codebook broadcasts; corpus never self-joins") {
    val plan = planString(q("v_ann_pq"))
    assert(!plan.contains("CartesianProduct"),
      s"PQ ANN must not contain a cartesian product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the PQ codebook/codeword-stat/query tables should broadcast:\n$plan")
    // the one allowed nested-loop is the recall audit's crossJoin against
    // the 3-row broadcast query table (the v_ann_cosine exact-scan shape);
    // the corpus itself must never appear on both sides of a join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(plan).size
    assert(bnlj <= 1,
      s"only the 3-row exact-audit crossJoin may nested-loop, got $bnlj:\n$plan")
  }

  test("v_ann_lsh: corpus side never self-joins or nested-loops") {
    val plan = planString(q("v_ann_lsh"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"LSH ANN must not contain an all-pairs join:\n$plan")
  }

  test("per-query top-k across the ANN family heap-trims map-side " +
       "and never windows the scored corpus") {
    // the r14 topKPerQuery contract: every per-query ranking runs through
    // the bounded-heap aggregate (partial_graft_topk = map-side trim to k
    // before the exchange); a Window node over the scored table would be
    // the full-shuffle-per-query regression this pin exists to catch
    // v_ann_ivf keeps ONE window: the NProbe ranking over the 3 query
    // vectors' K=8 centroid scores (24 rows, bounded by construction) —
    // the corpus-wide assignment is the argmax aggregate, not a window
    val allowedWindows = Map("v_ann_ivf" -> 1).withDefaultValue(0)
    for (name <- Seq("v_ann_cosine", "v_ann_lsh", "v_ann_lsh_multiprobe",
        "v_ann_ivf", "v_recall_eval_mrl", "x_bitext_mine")) {
      val plan = planString(q(name))
      assert(plan.contains("partial_graft_topk"),
        s"$name: per-query selection must map-side trim via TopKAgg:\n$plan")
      val windows = "\\bWindow\\b".r.findAllMatchIn(plan).size
      assert(windows <= allowedWindows(name),
        s"$name: ${windows} Window nodes rank the scored corpus " +
          s"(allowed ${allowedWindows(name)}):\n$plan")
    }
  }

  test("v_ann_int8: top-k heap partial-aggregates; only the query side nested-loops") {
    val plan = planString(q("v_ann_int8"))
    assert(!plan.contains("CartesianProduct"),
      s"int8 ANN must not contain a cartesian product:\n$plan")
    // both corpus passes cross-join ONLY against the 3-row broadcast
    // query table (the exact-scan shape shared with v_ann_cosine)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(plan).size
    assert(bnlj <= 2,
      s"only the broadcast query side may nested-loop, got $bnlj:\n$plan")
    assert(plan.contains("partial_graft_topk"),
      s"candidate selection must map-side trim through the TopKAgg heap:\n$plan")
  }

  test("d_paragraph_dedup: keeper election is a partial min — no window, no all-pairs") {
    val plan = planString(q("d_paragraph_dedup"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"paragraph dedup must join segments by hash equality:\n$plan")
    assert(!plan.contains("Window"),
      s"the global first-occurrence must be a partial-aggregable min, not a window sort:\n$plan")
    assert(plan.contains("partial_min"),
      s"keeper election must partial-aggregate before the shuffle:\n$plan")
  }

  test("x_bpe_learn: best-pair tables broadcast; pair counts partial-aggregate") {
    val plan = planString(q("x_bpe_learn"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"every iterative BPE step is vocab-sized with broadcast best-pair rows:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"word and pair counts must partial-aggregate before their shuffles:\n$plan")
  }

  test("x_bpe_apply: corpus tokenization is one vocab equi-join, no cartesian") {
    val plan = planString(q("x_bpe_apply"))
    assert(!plan.contains("CartesianProduct"),
      s"corpus words must equi-join the vocab table, never cross:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the vocab-sized lookup should broadcast at this SF:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"per-doc token accounting must partial-aggregate:\n$plan")
  }

  test("x_dsir: bucket-weight table broadcasts; corpus is never sort-merge-joined") {
    val plan = planString(q("x_dsir"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"the 4096-row bucket tables must broadcast into the corpus side:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins for the bucket-weight lookup:\n$plan")
    assert(plan.contains("TakeOrdered"),
      s"top-k selection must be a bounded TakeOrdered, not a global sort:\n$plan")
  }

  test("x_bm25_search: df/stats broadcast, bounded TakeOrdered, no corpus join") {
    val plan = planString(q("x_bm25_search"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"the df table and 1-row stats must broadcast into the candidate set:\n$plan")
    assert(plan.contains("TakeOrdered"),
      s"retrieval must select via bounded TakeOrdered, not a corpus sort:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"tf/df counts must partial-aggregate before their shuffles:\n$plan")
  }

  test("x_lang_quota: group-bounded heap, never a window sort of the corpus") {
    val plan = planString(q("x_lang_quota"))
    assert(!plan.contains("Window"),
      s"quota sampling must not window-sort the corpus per language:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"the bounded top-k heap should plan as ObjectHashAggregate with " +
        s"map-side partials:\n$plan")
  }

  test("x_quality_classifier: pure score — no joins anywhere in the plan") {
    val plan = planString(q("x_quality_classifier"))
    assert(!plan.contains("Join"),
      s"hashed-weight inference must not join (weights are computed):\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"the per-doc score must partial-aggregate:\n$plan")
  }

  test("documents scan for token stats prunes to the referenced columns") {
    val plan = planString(q("x_text_stats"))
    val readSchema = plan.split("ReadSchema:").last
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unused document columns must be pruned: $readSchema")
  }

  test("observe metric is delivered by the localCheckpoint action") {
    // an Observation attached to a plan must still deliver its metric
    // when the only action is localCheckpoint (it runs through
    // withAction, so the listener fires); pin that so an observe-based
    // check over a checkpointed frame never falls to its Await timeout.
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    Seq(1L, 2L, 3L).toDF("v")
      .observe(obs, org.apache.spark.sql.functions.sum($"v").as("s"))
      .localCheckpoint()
    val row = scala.concurrent.Await
      .result(obs.future, scala.concurrent.duration.Duration(5, "s"))
    assert(row.getAs[Long]("s") == 6L)
  }

  test("t10 histogram match: blocks collapse to value histograms pre-shuffle") {
    import spark.implicits._
    def block(date: String, px: Array[Int]) =
      ("c1", "t1", java.sql.Date.valueOf(date), "B04", 0, 0, 2, 2,
        0.0, 20.0, 10.0, 10.0, -9999, px)
    val merged = Seq(
      block("2020-01-10", Array(10, 20, 30, 40)),
      block("2020-01-05", Array(110, 120, 130, 140)))
      .toDF("cube", "tileId", "date", "band", "blockY", "blockX",
        "height", "width", "x0", "y0", "resX", "resY", "nodata", "pixels")
    // the histogram stage: per-block collapse, explode only over the
    // histogram struct array, never raw pixels
    val hist = graft.cube.CubeBuilder.blockValueHistograms(merged)
    val hplan = hist.queryExecution.optimizedPlan.toString
    assert(hplan.contains("graft_value_histogram"),
      s"CDF input must be per-block value histograms:\n$hplan")
    hplan.linesIterator.filter(_.contains("Generate explode")).foreach { l =>
      assert(l.contains("graft_value_histogram"),
        s"pixel explode must not precede the shuffle: $l")
    }
    // the full operator materializes that histogram ONCE (localCheckpoint)
    // — the src/ref CDF branches must not re-scan the pixel blocks, so
    // the histogram expression never appears in the downstream plan
    val matched = graft.cube.CubeBuilder.histogramMatchScenes(
      merged, org.apache.spark.sql.functions.dayofyear($"date").cast("double"),
      "QA")
    val plan = matched.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_value_histogram"),
      s"histogram subtree must be checkpointed, not recomputed per branch:\n$plan")
  }

  test("w_stream_join: equi-key extracted — hash/merge join, no nested loop") {
    // the interval condition must ride as a post-join filter on the
    // user_id equi-join, not degrade the join to BNLJ/cartesian
    val plan = planString(q("w_stream_join"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join must keep the user_id equi-key:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"expected a hash/merge join:\n$plan")
  }

  test("c2_publish_items: unused pixel-model window is pruned from the plan") {
    // pixelModel computes a row_number() the C2 aggregation never reads;
    // Catalyst's column pruning must drop the Window (and its sort)
    // entirely or C2 pays an O(rows log rows) per-partition sort for
    // nothing at 100 TB
    val plan = planString(q("c2_publish_items"))
    assert(!plan.contains("Window"),
      s"unused row_number window must be pruned:\n$plan")
  }

  test("v_centroid_outliers: centroid table broadcasts, corpus never self-joins") {
    val plan = planString(q("v_centroid_outliers"))
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus must not shuffle-join or cross-join:\n$plan")
  }

  test("x_tfidf_top: corpus count broadcasts; term join is hash-based") {
    val plan = planString(q("x_tfidf_top"))
    assert(!plan.contains("CartesianProduct"),
      s"N must broadcast, not cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected broadcast for the single-row count:\n$plan")
  }

  test("m1b: bucketed range join is hash-based, never a nested loop") {
    val plan = planString(q("m1b_bbox_bucket"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"cell equi-join must not nested-loop:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"expected a hash join on __cell:\n$plan")
  }

  test("composite over a block-bucketed raster table plans ZERO exchanges") {
    // SURVEY §7.4's warning made concrete: if the chunked-raster table
    // is persisted bucketed by its block key, the T2/T3 composites must
    // aggregate IN PLACE — a full pixel-array shuffle per composite run
    // is the difference between reading 100 TB once and moving it once
    // per period. Bucket col ⊆ group keys, so the scan's
    // HashPartitioning satisfies the aggregate's distribution.
    import graft.operators.{Composite, Scale}
    import graft.model.MaskDef
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val mask = MaskDef(clearData = Seq(0L), notClearData = Seq(2L, 4L),
      nodata = 255L)
    val raster = spark.range(2L * 8 * 4).select(
      ($"id" % 2).as("tile_id"),
      expr("(id div 2) % 8").as("block"),
      expr("id div 16").cast("int").as("rn"),
      ($"id" % 3).cast("int").as("src"),
      array_repeat(($"id" % 100).cast("int"), 16).as("val"),
      array_repeat((pmod($"id", lit(3)) * 2).cast("int"), 16).as("qa"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-raster-b")
    val table =
      s"g_raster_b_${java.util.UUID.randomUUID().toString.replace("-", "").take(10)}"
    raster.write.mode("overwrite").format("parquet")
      .bucketBy(8, "block").sortBy("block")
      .option("path", s"$tmp/r").saveAsTable(table)
    try {
      val c = Composite.compositeAgg(mask)(
        (lit(1000) - $"rn").cast("double"), $"rn", $"src",
        $"val", $"qa", lit(-9999))
      val composed = spark.table(table)
        .groupBy($"tile_id", $"block").agg(c.as("c"))
        .select($"tile_id", $"block",
          element_at($"c.value", 1).as("v"),
          element_at($"c.median", 1).as("med"))
      val n = Scale.shuffleExchangeCount(composed)
      assert(n == 0,
        s"bucketed composite must aggregate in place, planned $n " +
          s"exchange(s):\n${composed.queryExecution.executedPlan}")
      // and it actually computes: 2 tiles × 8 blocks
      assert(composed.collect().length == 16)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(tmp.toFile)
    }
  }

  test("single-shuffle pins: rolling window, rollup, pivot group once") {
    // w_rolling_1h: one exchange for the user_id window + one output sort
    val rolling = planString(q("w_rolling_1h"))
    assert(rolling.split("Exchange").length - 1 <= 2,
      s"rolling features must shuffle once plus the sort:\n$rolling")
    // rollup expands grouping sets BEFORE the aggregate: still one
    // group-by exchange (+ output sort)
    val rollup = planString(q("c15_rollup_stats"))
    assert(rollup.contains("Expand"), s"rollup should Expand grouping sets:\n$rollup")
    assert(rollup.split("Exchange").length - 1 <= 2,
      s"rollup must group once:\n$rollup")
    // pivot rewrites to a two-level aggregation (pre-agg on
    // (status, priority), then pivot_first over status): no join, two
    // group-by exchanges + the output sort
    val pivot = planString(q("c16_pivot"))
    assert(!pivot.contains("Join"), s"pivot must not join:\n$pivot")
    assert(pivot.split("Exchange").length - 1 <= 3,
      s"pivot is two grouping levels plus the sort:\n$pivot")
  }

  test("x_hash_sample: sampling filter stays inside codegen, no shuffle") {
    val df = q("x_hash_sample")
    val plan = planString(df)
    // one shuffle is the output orderBy; the filter itself is narrow
    val shuffles = plan.split("Exchange").length - 1
    assert(shuffles <= 1, s"hash sampling must not shuffle beyond the sort:\n$plan")
  }

  test("x_chunk_windows: chunking is narrow — no shuffle beyond the sort") {
    val plan = planString(q("x_chunk_windows"))
    val shuffles = plan.split("Exchange").length - 1
    assert(shuffles <= 1, s"chunking must be a narrow explode:\n$plan")
    assert(!plan.contains("Join"), s"chunking must not join:\n$plan")
  }

  test("e2e_corpus_build: one corpus scan, tiny serial steps, no cartesian") {
    val df = q("e2e_corpus_build")
    df.collect() // finalize AQE on THIS QueryExecution: exchange reuse
                 // (the shared funnel under both pack branches) only
                 // appears in the final adaptive plan; drop the
                 // "== Initial Plan ==" echo so counts see only reality
    val plan = planString(df).split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian anywhere in the funnel:\n$plan")
    assert(plan.contains("partial_"),
      s"pack aggregations must pre-aggregate:\n$plan")
    // serial steps stay tiny: the mix totals row and the shard cumsum —
    // nothing doc-sized may funnel through one partition
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single <= 2, s"expected ≤2 tiny serial steps, got $single:\n$plan")
    // the checkpointed dedup survivors serve all three downstream
    // consumers: the documents parquet must not be re-scanned per branch
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 0, s"downstream of the checkpoint there is no parquet rescan:\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("LocalTableScan"),
      s"expected the checkpoint boundary in the plan:\n$plan")
  }

  test("w_stream_enrich: customer dimension broadcasts into the event stream") {
    val plan = planString(q("w_stream_enrich"))
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no shuffle join for the dimension:\n$plan")
  }

  test("d_bloom_incremental: filter probe is a hash equi-join, partial-aggregated") {
    val plan = planString(q("d_bloom_incremental"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"slot probe must be an equi-join:\n$plan")
    assert(plan.contains("partial_"),
      s"slot distinct/membership counts must pre-aggregate:\n$plan")
  }

  test("x_source_mix: rate table broadcasts into the corpus — no sort-merge join") {
    val plan = planString(q("x_source_mix"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"20-row rate table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing in the mixture plan warrants a sort-merge join:\n$plan")
  }

  test("x_shuffle_buckets: one group-by over a narrow key projection") {
    val plan = planString(q("x_shuffle_buckets"))
    assert(plan.contains("partial_"), s"bucket histogram must pre-aggregate:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"histogram + broadcast total only:\n$plan")
  }

  test("shuffledExport: range-partitioned on the seeded key (the writer shape)") {
    val df = graft.queries.Pipeline.shuffledExport(
      graft.queries.Tables.documents(spark, sfDir), partitions = 4)
    val plan = planString(df)
    assert(plan.contains("rangepartitioning(k"),
      s"export must range-shuffle on the shuffle key:\n$plan")
  }

  test("x_seq_pack: doc-level window is shard-partitioned, serial step is shard-sized") {
    val plan = planString(q("x_seq_pack"))
    // Exactly one SinglePartition exchange is allowed, and it must feed
    // the shard-subtotal cumsum (a |corpus|/shardSize-row table), never
    // the doc-level running sum — the property that keeps the prefix sum
    // distributed at 100 TB.
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single == 1, s"expected exactly 1 shard-level serial window:\n$plan")
    // the doc-level window must carry a hashpartitioning on shard
    assert(plan.matches("(?s).*Exchange hashpartitioning\\(shard.*"),
      s"doc-level running sum must partition by shard:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"shard offsets must broadcast back:\n$plan")
  }

  test("d_prefix_keep_best: keeper is a partial-aggregable argmax, no window sort") {
    val plan = planString(q("d_prefix_keep_best"))
    assert(plan.contains("partial_"),
      s"keep-best must combine map-side before the fp shuffle:\n$plan")
    assert(!plan.contains("Window"),
      s"keeper must be max(struct), not a row_number window:\n$plan")
  }

  test("v_hits: final join reads checkpointed score frames, keyed only") {
    val plan = planString(q("v_hits"))
    // closed half-steps checkpoint (the kcore discipline): the final
    // lineage is just auth ⋈ hub on doc_id over materialized frames —
    // the per-round aggregation towers must never replay here
    assert(plan.contains("Scan ExistingRDD"),
      s"closed rounds must be checkpointed:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"hits output join must stay keyed on doc_id:\n$plan")
  }

  test("x_gopher_rules: array HOFs, no explode, partial per-source fold") {
    val plan = planString(q("x_gopher_rules"))
    assert(!plan.contains("Generate"),
      s"rule predicates must stay array HOFs — no token explode:\n$plan")
    assert(plan.contains("partial_"),
      s"per-source rule counts must combine map-side:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning") ||
      plan.indexOf("Exchange rangepartitioning") <
        plan.indexOf("HashAggregate"),
      s"only the output sort may range-shuffle:\n$plan")
  }

  test("x_cross_source_dup: fingerprint join is keyed, never all-pairs") {
    val plan = planString(q("x_cross_source_dup"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"source-pair matrix must join on the fingerprint only:\n$plan")
    assert(plan.contains("partial_"),
      s"pair counts must combine map-side:\n$plan")
  }

  test("x_hard_negatives: broadcast 3-row query side, heap selection") {
    val plan = planString(q("x_hard_negatives"))
    // same fenced shape as v_ann_topk: ONE nested-loop against the
    // broadcast 3-row query table; selection map-side trims via TopKAgg
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(plan).size
    assert(bnlj <= 1,
      s"only the 3-row query broadcast may nested-loop, got $bnlj:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no corpus-vs-corpus join in hard-negative mining:\n$plan")
    assert(plan.contains("partial_graft_topk"),
      s"top-5 must map-side trim through the TopKAgg heap:\n$plan")
    assert(!plan.contains("Window"),
      s"no per-qid window may sort the candidate set:\n$plan")
  }

  test("x_ngram_coverage: coverage cumsum is shard-partitioned") {
    val plan = planString(q("x_ngram_coverage"))
    assert(plan.matches("(?s).*Exchange hashpartitioning\\(shard.*"),
      s"vocab rank must partition by the -cnt shard:\n$plan")
    // allowed serial inputs: the distinct-frequency subtotal cumsum and
    // the 1-row corpus total
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single <= 2,
      s"only frequency-subtotals + 1-row total may serialize ($single):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"shard offsets must broadcast back:\n$plan")
  }

  test("x_zipf_fit: top-200 cut is a bounded TakeOrdered, no vocab sort") {
    val plan = planString(q("x_zipf_fit"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-200 must plan as a bounded heap:\n$plan")
  }

  test("x_weighted_sample: selection is a bounded heap, not a window") {
    val plan = planString(q("x_weighted_sample"))
    assert(plan.contains("partial_graft_topk"),
      s"per-source winners must map-side trim through TopKAgg:\n$plan")
    assert(!plan.contains("Window"),
      s"no per-source window may sort the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the tiny winner table must broadcast into the metadata join:\n$plan")
  }

  test("x_spelling_variants: fuzzy join is variant-keyed, never all-pairs") {
    val plan = planString(q("x_spelling_variants"))
    // the deletion-neighborhood trick exists precisely to avoid a
    // levenshtein theta join: the candidate join must be an equi-join
    // on the variant key
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"deletion-neighborhood join must stay keyed:\n$plan")
    // the candidate join itself must key on the variant column (the
    // vocab aggregation sits behind a checkpoint, so partial_ spans
    // are not visible in this lineage)
    assert(plan.matches("(?s).*Join \\[v#.*"),
      s"candidates must equi-join on the deletion variant:\n$plan")
  }

  test("x_exact_quantile_hist: cumsum runs on the value histogram only") {
    val plan = planString(q("x_exact_quantile_hist"))
    // corpus folds to a (lang, value) histogram map-side first; the
    // running-count window then touches histogram rows only, and no
    // single-partition step exists anywhere
    assert(plan.contains("partial_count"),
      s"value histogram must combine map-side:\n$plan")
    assert(plan.matches("(?s).*Exchange hashpartitioning\\(lang.*"),
      s"quantile window must partition by lang:\n$plan")
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single == 0,
      s"exact quantiles need no serial step at all, got $single:\n$plan")
  }

  test("v_pagerank: rank iterations are hash equi-joins, never all-pairs") {
    val plan = planString(q("v_pagerank"))
    assert(!plan.contains("CartesianProduct"),
      s"pagerank must not cartesian-join ranks with edges:\n$plan")
    // the only nested-loop join allowed is the broadcast of the 1-row
    // node-count aggregate into the edge generator
    assert(plan.contains("partial_"),
      s"per-dst contribution sums must pre-aggregate map-side:\n$plan")
  }

  test("x_heavy_hitters: sketch cells pre-aggregate; total broadcasts") {
    val plan = planString(q("x_heavy_hitters"))
    assert(plan.contains("partial_"),
      s"CMS cells must combine map-side (shuffle carries cells, not tokens):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"probe joins a 4096-cell sketch — hash/broadcast only:\n$plan")
  }

  test("x_train_split: split assignment is a narrow projection into one hash-agg") {
    val df = q("x_train_split")
    df.write.format("noop").mode("overwrite").save()
    // one shuffle for the (source, split) group-by, one for the tiny
    // output sort — membership itself must not shuffle
    assert(countShuffles(df.queryExecution.executedPlan) <= 2,
      "split must be decided map-side")
  }

  test("q3: segment-filtered customer dim broadcasts; date filters reach the scans") {
    val plan = planString(q("q3_shipping_priority"))
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered customer dim must broadcast:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"order-date filter must push to the orders scan:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      s"ship-date filter must push to the lineitem scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must be a bounded heap, not a global sort:\n$plan")
  }

  test("c18_scd2: snapshot diff is one full-outer hash join, no all-pairs") {
    val plan = planString(q("c18_scd2"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"snapshot diff joins on the key only:\n$plan")
    assert(plan.contains("FullOuter"), s"diff must be a full-outer join:\n$plan")
  }

  test("x_skew_keys: profile is partial-agg + broadcast totals + bounded top-k") {
    val plan = planString(q("x_skew_keys"))
    assert(plan.contains("partial_"),
      s"key counts must combine map-side:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded heap:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the 2-column totals row must broadcast:\n$plan")
  }

  test("v_recall_eval: eval joins are hash/broadcast — corpus never self-joins") {
    val plan = planString(q("v_recall_eval"))
    assert(!plan.contains("CartesianProduct"),
      s"recall eval must not all-pairs join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-side tables must broadcast:\n$plan")
  }

  test("x_minhash_est: exact-Jaccard side is pair-bounded equi-joins only") {
    val plan = planString(q("x_minhash_est"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"sketch audit must join shingles through the candidate pairs:\n$plan")
  }

  test("x_ccnet_bucket: tercile window partitions by lang, never one partition") {
    val plan = planString(q("x_ccnet_bucket"))
    assert(plan.matches("(?s).*Exchange hashpartitioning\\(lang.*"),
      s"tercile window must partition by lang:\n$plan")
    // the only single-partition step allowed is the 1-row corpus-total
    // aggregate inside the unigram LM — the doc-level bucketing itself
    // must stay lang-partitioned
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single <= 1,
      s"only the 1-row total agg may single-partition:\n$plan")
  }

  test("c19_compaction_plan: planning window runs on the file-stats table") {
    val plan = planString(q("c19_compaction_plan"))
    // the single-partition step is the stats-table cumsum (file-count
    // rows), fed by a partial-aggregated per-file count — the data-sized
    // side shuffles once into the stats aggregation and no more
    assert(plan.contains("partial_"),
      s"per-file counts must pre-aggregate:\n$plan")
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single <= 1, s"only the stats cumsum may serialize:\n$plan")
  }

  test("x_quantile_norm: both ranks shard-partition; serial steps shard-sized") {
    val plan = planString(q("x_quantile_norm"))
    // the per-source rank must partition by (source, shard), the global
    // rank by shard — never an unpartitioned corpus-sized window
    assert(plan.matches("(?s).*Exchange hashpartitioning\\(source[^)]*shard.*"),
      s"per-source rank must partition by (source, shard):\n$plan")
    assert(plan.matches("(?s).*Exchange hashpartitioning\\(shard.*"),
      s"global rank must partition by shard:\n$plan")
    // allowed serial steps: the shard-count-sized offset cumsum and the
    // 1-row corpus total — nothing doc-sized
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single <= 2,
      s"only shard-offset cumsum + 1-row total may serialize ($single):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"shard offsets must broadcast back:\n$plan")
  }

  test("x_ks_test: running CDF is shard-partitioned; serial step shard-sized") {
    val plan = planString(q("x_ks_test"))
    assert(plan.matches("(?s).*Exchange hashpartitioning\\(shard.*"),
      s"running counts must partition by shard:\n$plan")
    // allowed: the shard-subtotal cumsum + the 1-row (na, nb) total
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single <= 2,
      s"only shard-offset cumsum + 1-row totals may serialize ($single):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"shard offsets must broadcast back:\n$plan")
  }

  test("x_gini_users: user rank is shard-partitioned, not a global sort") {
    val plan = planString(q("x_gini_users"))
    assert(plan.matches("(?s).*Exchange hashpartitioning\\(__shard.*"),
      s"rank window must partition by the value shard:\n$plan")
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single <= 2,
      s"only shard-offset cumsum + final 1-row fold may serialize ($single):\n$plan")
  }

  test("x_rfm_segments: all three tercile ranks shard-partition") {
    val plan = planString(q("x_rfm_segments"))
    assert(plan.matches("(?s).*Exchange hashpartitioning\\(__shard.*"),
      s"tercile ranks must partition by their value shard:\n$plan")
    // three shard-offset cumsums + the 1-row user count; the user table
    // itself must never funnel through a single-partition window
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single <= 4,
      s"only the 3 offset cumsums + 1-row count may serialize ($single):\n$plan")
  }

  test("x_lorenz_curve: decile rank shard-partitions; cumsum is 10 rows") {
    val plan = planString(q("x_lorenz_curve"))
    assert(plan.matches("(?s).*Exchange hashpartitioning\\(__shard.*"),
      s"decile rank must partition by the value shard:\n$plan")
    // every SinglePartition input here is tiny: the shard-offset
    // cumsum (shard-count rows), the 1-row n / te totals and their
    // broadcast staging, and the 10-row decile cumsum — the user-sized
    // window is pinned shard-partitioned above
    val single = plan.split("Exchange SinglePartition").length - 1
    assert(single <= 6,
      s"serial steps must all be shard- or decile-sized ($single):\n$plan")
  }

  test("c20_incremental_view: delta merge is partial-agg + key equi-joins only") {
    val plan = planString(q("c20_incremental_view"))
    assert(plan.contains("partial_"),
      s"both aggregates must combine map-side:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"IVM merges on the group key only:\n$plan")
    assert(plan.contains("FullOuter"),
      s"the delta merge is a full-outer join on the key:\n$plan")
  }

  test("q18: qualifying keys broadcast back; one partial-agg lineitem scan") {
    val plan = planString(q("q18_large_orders"))
    assert(plan.contains("partial_"),
      s"per-order quantity sums must combine map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the tiny qualifying-key table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no corpus-sized shuffle joins in the Q18 path:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded heap:\n$plan")
  }

  test("zorderLayout: range-partitions on the Morton key (the CLUSTER BY shape)") {
    import org.apache.spark.sql.functions.col
    val df = graft.queries.Curation.zorderLayout(
      graft.queries.Tables.lineitem(spark, sfDir),
      col("l_partkey"), col("l_suppkey"), partitions = 4)
    val plan = planString(df)
    assert(plan.contains("rangepartitioning(z16"),
      s"layout rewrite must range-shuffle on z16:\n$plan")
    assert(plan.contains("Sort") && !plan.contains("Exchange SinglePartition"),
      s"within-partition sort only, never a global single-partition sort:\n$plan")
  }

  test("v_triangles: wedge/closing joins are hash equi-joins, never all-pairs") {
    val plan = planString(q("v_triangles"))
    assert(!plan.contains("CartesianProduct"),
      s"triangle enumeration must never go all-pairs:\n$plan")
    // the only BNLJ allowed is the 1-row count broadcast into the edge gen
    val bnlj = plan.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 1, s"only the 1-row N broadcast may nest-loop:\n$plan")
    assert(plan.contains("partial_count"),
      s"degree and corner counts must combine map-side:\n$plan")
  }

  test("q17: part dim broadcasts; threshold join is a hash equi-join") {
    val plan = planString(q("q17_small_quantity"))
    assert(plan.contains("BroadcastHashJoin"),
      s"size-filtered part dim must broadcast into the probe:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the decorrelated threshold must stay an equi-join:\n$plan")
    assert(plan.contains("partial_"),
      s"per-part quantity sums must combine map-side:\n$plan")
  }

  test("w_stream_cdc: snapshot is a partial-aggregable argmax, no window") {
    val plan = planString(q("w_stream_cdc"))
    assert(!plan.contains("Window"),
      s"the CDC fold must not row_number the change log:\n$plan")
    assert(plan.contains("partial_max"),
      s"the (ts, change_id) argmax must combine map-side:\n$plan")
  }

  test("s_partitioned_prune: lang predicate prunes partitions at planning") {
    val plan = planString(q("s_partitioned_prune"))
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"),
      s"lang IN (...) must land in PartitionFilters, not a data filter:\n$plan")
  }

  test("s1: STAC predicates land in the DSv2 scan's pushdown, not " +
       "post-scan Filters") {
    // the 100 TB catalog path's partition-elimination proof: collection,
    // date range, bbox and cloud-cover all absorb into the search request
    // (StacScanBuilder.absorb) and never replay as a post-scan Filter
    val plan = planString(q("s1_stac_search"))
    assert(plan.contains("collection=S2_L2A"),
      s"collection must push into the STAC search:\n$plan")
    assert(plan.contains("start=2020-02-01") && plan.contains("end=2020-03-31"),
      s"the date range must push into the STAC search:\n$plan")
    assert(plan.contains("bbox=(5.0,0.0,25.0,12.0)"),
      s"the bbox corners must be recovered into the search:\n$plan")
    assert(plan.contains("cloudCover<=60.0"),
      s"the cloud bound must push into the STAC search:\n$plan")
    // absorbed predicates must not re-run row-by-row after the scan —
    // only isnotnull residuals may remain ("Filter (" matches the
    // operator node, not the scan's PushedFilters list)
    val filterLines = plan.linesIterator.filter(_.contains("Filter (")).toSeq
    for (pred <- Seq("= S2_L2A", "<= 60.0", "< 25.0", ">= 2020-02-01"))
      assert(!filterLines.exists(_.contains(pred)),
        s"pushed comparison '$pred' reappears post-scan:\n$plan")
  }

  test("winsorize/MAD: no in-memory percentile buffer on corpus input") {
    // both robust-stats gates route their quantiles through the
    // histogram-cumsum shape (Analytics.contQuantiles) — a `percentile`
    // aggregate would buffer every group value in executor memory
    for (name <- Seq("x_winsorize", "x_mad_outliers")) {
      val plan = planString(q(name))
      assert(!plan.contains("percentile"),
        s"$name must not plan an in-memory percentile buffer:\n$plan")
      // the histogram cumsum windows partition BY LANG — no global
      // serial step anywhere in the quantile path
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name quantiles must stay group-partitioned:\n$plan")
    }
  }

  test("x_char_entropy: linear explode into two partial hash-aggs, no joins") {
    val plan = planString(q("x_char_entropy"))
    assert(!plan.contains("Join"), s"entropy needs no joins:\n$plan")
    assert(plan.contains("partial_"),
      s"char counts must combine map-side:\n$plan")
  }

  test("x_dup_run: run windows partition by doc, never one partition") {
    val plan = planString(q("x_dup_run"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"gram-frequency join stays an equi-join:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no global window over the position table:\n$plan")
  }

  test("q21: EXISTS/NOT EXISTS decorrelate to one aggregate pass, " +
       "no lineitem self-joins") {
    val plan = planString(q("q21_waiting_supplier"))
    assert(plan.split("lineitem.parquet").length - 1 <= 1,
      s"the top-2 decorrelation reads lineitem ONCE, not per subquery:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("partial_count"),
      s"the per-(order, supplier) fold must combine map-side:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("Window"),
      s"no per-row subquery replay and no window over lineitem:\n$plan")
  }

  test("c22: as-of snapshots are window-free partial-aggregable argmaxes") {
    val plan = planString(q("c22_snapshot_asof"))
    assert(!plan.contains("Window"),
      s"point-in-time reconstruction must not row_number the ledger:\n$plan")
    assert(plan.contains("partial_max"),
      s"both snapshots must combine map-side:\n$plan")
    assert(plan.contains("FullOuter"),
      s"the diff is one full-outer key join:\n$plan")
  }

  test("x_corr_len: five moment sums in one scan, no joins") {
    val plan = planString(q("x_corr_len"))
    assert(!plan.contains("Join"), s"corr needs no joins:\n$plan")
    assert(plan.contains("partial_"),
      s"moment sums must combine map-side:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"exactly one documents scan, saw $scans:\n$plan")
  }

  test("v_knn_graph: pair space is bucket-bounded, never a corpus self-join") {
    val plan = planString(q("v_knn_graph"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"kNN candidates must come from bucket equi-joins:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"the ranking window partitions by node, never globally:\n$plan")
  }

  test("v_cluster_silhouette: centroid tables broadcast; no pairwise join") {
    val plan = planString(q("v_cluster_silhouette"))
    assert(plan.contains("BroadcastHashJoin"),
      s"k-row centroid tables must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"silhouette must never score pairwise point distances:\n$plan")
    assert(!plan.contains("Window"),
      s"per-point min-distance is an aggregate, not a window:\n$plan")
  }

  test("x_join_size_profile: profile never materializes the join") {
    val plan = planString(q("x_join_size_profile"))
    // the per-key profile is checkpointed (one lineitem scan by
    // construction); both consumers read the ExistingRDD, so no parquet
    // scan may survive in the final plan
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 0 && plan.contains("ExistingRDD"),
      s"consumers must share the checkpointed profile, saw $scans scans:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top keys reduce via a bounded heap:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"only the 1-row total broadcasts back:\n$plan")
  }

  test("v_bfs_hops: frontier expansion is hash equi-joins + min-hop aggs") {
    val plan = planString(q("v_bfs_hops"))
    assert(!plan.contains("CartesianProduct"),
      s"BFS must expand frontiers, never square the graph:\n$plan")
    assert(plan.contains("partial_min"),
      s"hop folding must combine map-side:\n$plan")
    assert(!plan.contains("Window"),
      s"no window over the reach set:\n$plan")
  }

  test("q22: scalar threshold broadcasts; inactivity is a left-anti join") {
    val plan = planString(q("q22_idle_customers"))
    assert(plan.contains("LeftAnti"),
      s"NOT EXISTS must run as a left-anti join:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"the cutoff must reach the orders scan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"only the 1-row average may nest-loop:\n$plan")
  }

  test("x_event_funnel: stages are window-free min-ts aggs and equi-joins") {
    val plan = planString(q("x_event_funnel"))
    assert(!plan.contains("Window"),
      s"funnel stages must not sort-rank the event log:\n$plan")
    assert(plan.contains("partial_min"),
      s"first-touch timestamps must combine map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"stage joins stay keyed on user:\n$plan")
  }

  test("x_retention_cohorts: two partial aggs + one user equi-join") {
    val plan = planString(q("x_retention_cohorts"))
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the retention matrix is window-free keyed work:\n$plan")
    assert(plan.contains("partial_"),
      s"cohort mins must combine map-side:\n$plan")
  }

  test("m8_overview_pyramid: per-block HOF work, no joins, no windows") {
    val plan = planString(q("m8_overview_pyramid"))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"each block downsamples independently:\n$plan")
    assert(plan.contains("transform"),
      s"downsampling must stay a codegen'd array transform:\n$plan")
  }

  test("c24_referential_audit: one child scan per relation, stats off " +
      "one full-outer join") {
    val plan = planString(q("c24_referential_audit"))
    // r19 optimization: orphans/childless/fan all derive from the fan
    // counts full-outer-joined with the parent keys — no anti joins, and
    // each relation scans its child table exactly once (4 relations ×
    // (1 child + 1 parent) = 8 scans; the old shape paid 16)
    assert(plan.split("FullOuter").length - 1 >= 4,
      s"every relation audits through one full-outer join:\n$plan")
    assert(!plan.contains("LeftAnti"),
      s"the anti-join double scan must stay collapsed:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans <= 8, s"one child + one parent scan per relation:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"audits never cross tables:\n$plan")
    assert(plan.contains("partial_count"),
      s"fan-out counts must combine map-side:\n$plan")
  }

  test("x_ab_experiment: one event scan into checkpointed arm moments") {
    val plan = planString(q("x_ab_experiment"))
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 0 && plan.contains("ExistingRDD"),
      s"both arm branches must share the checkpointed moments:\n$plan")
    assert(!plan.contains("Window"), s"window-free read-out:\n$plan")
  }

  test("x_ngram_pmi: PMI joins run on vocab tables; top-25 is a heap") {
    val plan = planString(q("x_ngram_pmi"))
    assert(!plan.contains("CartesianProduct"),
      s"collocation scoring never crosses the corpus:\n$plan")
    val bnlj = plan.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 1, s"only the 1-row N total may nest-loop:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top collocations reduce via a bounded heap:\n$plan")
    assert(plan.contains("partial_count"),
      s"unigram/bigram counts must combine map-side:\n$plan")
  }

  test("q6 (SQL front-end): filters push to the scan, agg is partial") {
    val plan = planString(q("q6_revenue_forecast_sql"))
    // the pushed-filter list is long enough that Spark truncates it with
    // "..." (no closing bracket) — match the prefix, not the whole list
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]\\n]*l_shipdate.*"),
      s"the date range must reach the parquet scan:\n$plan")
    assert(plan.contains("partial_"),
      s"the forecast sum must combine map-side:\n$plan")
    assert(!plan.contains("Join"), s"Q6 is scan-filter-aggregate:\n$plan")
  }

  test("c25_schema_evolution: merged scan carries the evolved column") {
    val plan = planString(q("c25_schema_evolution"))
    assert(plan.matches("(?s).*ReadSchema:[^\\n]*quality.*"),
      s"mergeSchema must surface the late column in the scan schema:\n$plan")
    assert(plan.contains("partial_"),
      s"the merged aggregate must combine map-side:\n$plan")
  }

  test("x_cume_dist: rank windows partition by lang, never globally") {
    val plan = planString(q("x_cume_dist"))
    assert(plan.contains("Window"), s"rank stats are window functions:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no global sort for per-lang rank statistics:\n$plan")
  }

  test("q4: correlated EXISTS with cross-side residual stays a semi join") {
    val plan = planString(q("q4_order_priority"))
    assert(plan.contains("LeftSemi"),
      s"the delayed-line EXISTS must run as a left-semi join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the residual must ride the hash join, not force a replay:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]\\n]*o_orderdate.*"),
      s"the order-date window must reach the orders scan:\n$plan")
  }

  test("q19: disjunctive predicates stay one hash join with a residual") {
    val plan = planString(q("q19_disjunctive_join"))
    assert(plan.contains("BroadcastHashJoin"),
      s"the OR-of-conjunctions must not break the equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"no cartesian fallback on OR-heavy conditions:\n$plan")
  }

  test("q12/q14: conditional-class sums combine map-side over one join") {
    for (name <- Seq("q12_return_priority", "q14_promo_share")) {
      val plan = planString(q(name))
      assert(plan.contains("partial_"),
        s"$name: CASE sums must combine map-side:\n$plan")
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name: one hash join only:\n$plan")
    }
  }

  test("x_hilbert: the 8-round fold stays a linear projection chain") {
    val plan = planString(q("x_hilbert"))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"the curve index is per-row arithmetic:\n$plan")
    assert(plan.contains("partial_"),
      s"bucket stats must combine map-side:\n$plan")
    // the projection-chain construction must not blow the plan up — a
    // naive column fold produced a 4^8 expression tree (analyzer OOM)
    assert(plan.length < 200000,
      s"hilbert plan exploded to ${plan.length} chars")
  }

  test("x_attribution_last_touch: winner is a window-free argmax") {
    val plan = planString(q("x_attribution_last_touch"))
    assert(!plan.contains("Window"),
      s"attribution must not row_number the touch log:\n$plan")
    assert(plan.contains("partial_max"),
      s"the per-purchase winner must combine map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"touch pairing stays keyed on user:\n$plan")
  }

  test("x_markov_transitions: lead windows partition by user") {
    val plan = planString(q("x_markov_transitions"))
    assert(!plan.contains("Exchange SinglePartition"),
      s"no global sort of the event log:\n$plan")
    assert(plan.contains("partial_count"),
      s"transition counts must combine map-side:\n$plan")
  }

  test("v_modularity: label joins are equi; only the 1-row m broadcasts") {
    val plan = planString(q("v_modularity"))
    assert(!plan.contains("CartesianProduct"),
      s"modularity never crosses the edge set:\n$plan")
    val bnlj = plan.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 1, s"only the 1-row edge count may nest-loop:\n$plan")
  }

  test("q10/q15: bounded heap top-k; checkpointed revenue view shared") {
    val p10 = planString(q("q10_returned_items"))
    assert(p10.contains("TakeOrderedAndProject") &&
      !p10.contains("SortMergeJoin"),
      s"q10 reduces via a heap over hash joins:\n$p10")
    val p15 = planString(q("q15_top_supplier"))
    assert(p15.contains("ExistingRDD"),
      s"q15's revenue view must be computed once:\n$p15")
    assert(!p15.contains("SortMergeJoin") && !p15.contains("CartesianProduct"),
      s"q15 joins stay broadcast/hash:\n$p15")
  }

  test("x_cogroup_merge: plans the typed CoGroup physical operator") {
    val plan = planString(q("x_cogroup_merge"))
    assert(plan.contains("CoGroup"),
      s"per-key merge must run through cogroup, not joins:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      s"no fallback join or window:\n$plan")
  }

  test("x_code_detection: one scan of codegen'd regex counting") {
    val plan = planString(q("x_code_detection"))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"the detector is per-row arithmetic:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"one documents scan, saw $scans:\n$plan")
  }

  test("q5/q8: star joins broadcast every dim; facts shuffle-join only") {
    for (name <- Seq("q5_local_volume", "q8_market_share")) {
      val plan = planString(q(name))
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: dims must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: no sort-merge/cartesian in the star:\n$plan")
      assert(plan.contains("partial_"),
        s"$name: the final agg must combine map-side:\n$plan")
    }
  }

  test("q13: zero-order customers survive the outer join into the histogram") {
    val plan = planString(q("q13_order_distribution"))
    assert(plan.contains("LeftOuter") || plan.contains("RightOuter"),
      s"the distribution needs an outer join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"outer join stays keyed:\n$plan")
  }

  test("x_dataset_card: one corpus scan, two-level partial aggregation") {
    val plan = planString(q("x_dataset_card"))
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"the card is ONE scan, saw $scans:\n$plan")
    assert(plan.contains("partial_"),
      s"card metrics must combine map-side:\n$plan")
    assert(!plan.contains("Join"), s"no joins in the card:\n$plan")
  }

  test("q2/q9: derived-ps argmax and profit star stay broadcast-hash") {
    for (name <- Seq("q2_min_cost_supplier", "q9_product_profit")) {
      val plan = planString(q(name))
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: dims must broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: every join is keyed:\n$plan")
      assert(plan.contains("partial_"),
        s"$name: aggregates must combine map-side:\n$plan")
    }
    // Q2's per-part minimum is a partial-aggregable min(struct), never a
    // ranking window over the candidate set.
    assert(!planString(q("q2_min_cost_supplier")).contains("Window"),
      "q2's argmax must be an aggregate, not a window")
  }

  test("q11/q20: scalar-subquery thresholds ride 1-row broadcasts") {
    val p11 = planString(q("q11_important_stock"))
    assert(p11.contains("ExistingRDD"),
      s"q11's per-part value view must be computed once:\n$p11")
    val bnlj11 = p11.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj11 <= 1 && !p11.contains("CartesianProduct"),
      s"only the 1-row total may nest-loop:\n$p11")
    val p20 = planString(q("q20_excess_avail"))
    assert(p20.contains("LeftSemi"),
      s"q20 reduces via a semi join, never a fan-out join:\n$p20")
    assert(!p20.contains("CartesianProduct") &&
      !p20.contains("BroadcastNestedLoopJoin"),
      s"q20: every join is keyed:\n$p20")
    // Both IN subqueries fold into ONE conditional-aggregate lineitem
    // scan: avail and the windowed quantity come from the same groupBy.
    val scans20 = p20.split("FileScan parquet").count(_.contains("lineitem"))
    assert(scans20 == 1, s"q20 scans lineitem once, saw $scans20:\n$p20")
  }

  test("x_sessionize: per-user windows and session agg share one pipeline") {
    val df = q("x_sessionize")
    val plan = planString(df)
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"sessionization is ONE events scan, saw $scans:\n$plan")
    assert(!plan.contains("Join"), s"no joins in sessionization:\n$plan")
    // Window by user_id + groupBy (user_id, sess) + output sort: the
    // assignment itself costs one exchange; the stats re-key adds one.
    df.collect()
    val shuffles = countShuffles(df.queryExecution.executedPlan)
    assert(shuffles <= 3, s"expected <=3 shuffles, saw $shuffles:\n$plan")
  }

  test("x_fuzzy_match: pairs form only within blocks, names computed once") {
    val plan = planString(q("x_fuzzy_match"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"blocking must keep the join keyed:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"the distinct name table must be computed once:\n$plan")
  }

  test("v_sssp: relaxation rounds are equi-joins + partial min folds") {
    val plan = planString(q("v_sssp"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"frontier relaxation joins stay keyed:\n$plan")
    assert(plan.contains("partial_min"),
      s"the per-node min must combine map-side:\n$plan")
  }

  test("x_stratified_sample: bounded-heap sample, no ranking window") {
    val plan = planString(q("x_stratified_sample"))
    assert(!plan.contains("Window"),
      s"the per-stratum sample must use the heap aggregate:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"one documents scan, saw $scans:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"TopKAgg runs through ObjectHashAggregate:\n$plan")
  }

  test("v_label_prop: sync rounds are equi-joins + window-free argmax") {
    val plan = planString(q("v_label_prop"))
    // The already-labeled anti-join may sort-merge — the label table is
    // O(nodes), not broadcastable at scale; what must never appear is an
    // unkeyed join.
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"label spread joins stay keyed:\n$plan")
    assert(!plan.contains("Window"),
      s"the per-node vote argmax must be an aggregate:\n$plan")
    assert(plan.contains("partial_"),
      s"vote counts must combine map-side:\n$plan")
  }

  test("x_rolling_dau: window fan-out aggregates partially, joins keyed") {
    val plan = planString(q("x_rolling_dau"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"day-restriction join must be keyed:\n$plan")
    assert(plan.contains("partial_"),
      s"distinct pairs must combine map-side:\n$plan")
  }

  test("c28_constraint_audit: all expectations ride two orders scans") {
    val plan = planString(q("c28_constraint_audit"))
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 2,
      s"one row-level scan + one uniqueness scan, saw $scans:\n$plan")
    assert(!plan.contains("Join"), s"no joins in the audit:\n$plan")
  }

  test("x_pareto_frontier: two-phase skyline — windows only, no theta join") {
    val plan = planString(q("x_pareto_frontier"))
    assert(!plan.contains("Join"),
      s"the skyline must never run the all-pairs dominance join:\n$plan")
    assert(plan.contains("Window"), s"running-min windows expected:\n$plan")
    // the local pass is genuinely bucketed — a partitioned window exists
    assert(plan.matches("(?s).*Window.*partitionBy.*bkt.*|(?s).*\\[bkt.*Window.*"),
      s"local skyline must partition by the hash bucket:\n$plan")
  }

  test("x_rolling_dau_hll: mergeable sketch aggregates partially") {
    val plan = planString(q("x_rolling_dau_hll"))
    assert(plan.contains("partial_"),
      s"HLL registers must combine map-side:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"day-restriction join stays keyed:\n$plan")
  }

  test("f_interpolate: grid joins keyed; only the 1-row bounds nest-loops") {
    val plan = planString(q("f_interpolate"))
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian in gap filling:\n$plan")
    val bnlj = plan.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 1, s"only the 1-row bounds may nest-loop:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"the observation table must be computed once:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 0, s"consumers reuse the checkpoint, saw $scans scans:\n$plan")
  }

  test("v_temporal_reach: time-respecting relaxation stays keyed + partial") {
    val plan = planString(q("v_temporal_reach"))
    assert(!plan.contains("CartesianProduct"),
      s"temporal relaxation joins stay keyed:\n$plan")
    assert(plan.contains("partial_min"),
      s"earliest-arrival fold must combine map-side:\n$plan")
  }

  test("x_dataset_mixer: budgets broadcast; admission is one keyed window") {
    val plan = planString(q("x_dataset_mixer"))
    assert(plan.contains("BroadcastHashJoin"),
      s"the budget table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"no wide join in admission:\n$plan")
    assert(plan.contains("Window"),
      s"take-until-crossing runs on a per-source cumulative window:\n$plan")
  }

  test("x_source_overlap: pair join keyed on token, sizes broadcast") {
    val plan = planString(q("x_source_overlap"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the overlap join must stay token-keyed:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"the distinct token table must be computed once:\n$plan")
    assert(plan.contains("partial_"),
      s"pair counts must combine map-side:\n$plan")
  }

  test("m11_zonal_stats: per-pixel explode folds with partial aggregation") {
    val plan = planString(q("m11_zonal_stats"))
    assert(!plan.contains("Join"), s"zonal stats never join:\n$plan")
    assert(plan.contains("partial_"),
      s"zone stats must combine map-side before one exchange:\n$plan")
    val df = q("m11_zonal_stats")
    df.collect()
    val shuffles = countShuffles(df.queryExecution.executedPlan)
    assert(shuffles <= 2, s"explode + agg + sort needs <=2 shuffles:\n$plan")
  }

  test("x_phrase_search: postings term-filtered before one keyed join") {
    val plan = planString(q("x_phrase_search"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"adjacency must be an equi-join on (doc, pos):\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"the two-term posting table must be computed once:\n$plan")
  }

  test("x_feature_snapshot: features and label from ONE scan, no joins") {
    val plan = planString(q("x_feature_snapshot"))
    assert(!plan.contains("Join"),
      s"the label is a filtered aggregate, not a second scan + join:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"one events scan, saw $scans:\n$plan")
    assert(plan.contains("partial_"),
      s"feature aggregates must combine map-side:\n$plan")
    assert(plan.contains("PushedFilters"),
      s"the horizon filter must reach the scan:\n$plan")
  }

  test("v_kcore: final round reads checkpointed edges; degree count partial") {
    val plan = planString(q("v_kcore"))
    // every closed round's edge set is localCheckpointed, so the final
    // degree count must read the materialized RDD — a LeftSemi in this
    // lineage would mean the last round's join subtree replays (the
    // off-by-one this pin regressed from)
    assert(plan.contains("Scan ExistingRDD"),
      s"final round must read the checkpointed edge set:\n$plan")
    assert(!plan.contains("LeftSemi"),
      s"no peel join may replay past the checkpoint:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"peel joins stay keyed:\n$plan")
    assert(plan.contains("partial_count"),
      s"degree counts must combine map-side:\n$plan")
  }

  test("q_sql_topn: the SQL window plans a rank filter, not a full sort+scan") {
    val plan = planString(q("q_sql_topn"))
    assert(plan.contains("Window"), s"ranking window expected:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"no joins in the ranked read:\n$plan")
  }

  test("x_minhash_incremental: one shingle explode feeds all three sigs") {
    val plan = planString(q("x_minhash_incremental"))
    assert(plan.contains("ExistingRDD"),
      s"the shingle table must be computed once:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 0,
      s"delta and direct signatures reuse the checkpoint, saw $scans:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"signature joins stay keyed on doc_id:\n$plan")
  }

  test("x_ab_srm: one distinct-user pass, no joins") {
    val plan = planString(q("x_ab_srm"))
    assert(!plan.contains("Join"), s"the SRM check never joins:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"one events scan, saw $scans:\n$plan")
    assert(plan.contains("partial_"),
      s"cohort counts must combine map-side:\n$plan")
  }

  test("v_random_walk: steps are (node, rank) equi-joins on the ranked adjacency") {
    val plan = planString(q("v_random_walk"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"walk steps never scan the neighbor set unkeyed:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"the ranked adjacency must be computed once:\n$plan")
  }

  test("x_itemsets_pairs: basket self-join keyed on order, freq broadcast") {
    val plan = planString(q("x_itemsets_pairs"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair fan-out only within a basket:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"item frequencies must broadcast:\n$plan")
    assert(plan.contains("partial_"),
      s"support counts must combine map-side:\n$plan")
  }

  test("x_unicode_nfc: the native expression stays inside codegen, one scan") {
    val plan = planString(q("x_unicode_nfc"))
    assert(!plan.contains("Join") && !plan.contains("BatchEvalPython"),
      s"normalization is per-row native work:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"one documents scan, saw $scans:\n$plan")
    assert(plan.contains("normalizenfc") || plan.contains("NormalizeNFC") ||
      plan.contains("normalize_nfc"),
      s"the custom expression must appear in the plan:\n$plan")
  }

  test("c30_erasure_plan: file-level plan from one scan, no joins") {
    val plan = planString(q("c30_erasure_plan"))
    assert(!plan.contains("Join"), s"erasure planning never joins:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"one events scan, saw $scans:\n$plan")
    assert(plan.contains("partial_"),
      s"per-file counts must combine map-side:\n$plan")
  }

  test("x_streaks: islands from one window pass, argmax window-free") {
    val plan = planString(q("x_streaks"))
    assert(!plan.contains("Join"),
      s"gaps-and-islands must not self-join:\n$plan")
    val windows = plan.split("Window").length - 1
    assert(windows <= 2, s"one ranking window pass expected:\n$plan")
    assert(plan.contains("partial_"),
      s"run stats must combine map-side:\n$plan")
  }

  test("s_json_corrupt: JSON parse stays in one scan with no joins") {
    val plan = planString(q("s_json_corrupt"))
    assert(!plan.contains("Join") && !plan.contains("BatchEvalPython"),
      s"ingestion parsing is per-row native work:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 1, s"one documents scan, saw $scans:\n$plan")
  }

  test("x_consistent_hash: ring lookup is a broadcast argmin, no window") {
    val plan = planString(q("x_consistent_hash"))
    assert(!plan.contains("Window"),
      s"vnode argmin must be an aggregate, not a ranking window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"only the tiny vnode broadcasts fan out:\n$plan")
    assert(plan.contains("partial_min"),
      s"per-doc argmin must combine map-side:\n$plan")
  }

  test("v_ann_filtered: scored once for both strategies, queries broadcast") {
    val plan = planString(q("v_ann_filtered"))
    assert(plan.contains("ExistingRDD"),
      s"the scored table must be computed once for both strategies:\n$plan")
    val scans = plan.split("FileScan parquet").length - 1
    assert(scans == 0,
      s"pre and post filter reuse the checkpoint, saw $scans scans:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"no wide join in the filtered search:\n$plan")
  }

  test("q_sql_hint: the BROADCAST hint actually broadcasts") {
    val plan = planString(q("q_sql_hint"))
    assert(plan.contains("BroadcastHashJoin"),
      s"the hint must produce a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge when the hint is honored:\n$plan")
  }

  test("q16: complaint suppliers leave via a broadcast anti join") {
    val plan = planString(q("q16_supplier_cnt"))
    assert(plan.contains("LeftAnti"),
      s"NOT IN must fold to an anti join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"part filter and exclusion list broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"no sort-merge against the pair set:\n$plan")
  }
}
