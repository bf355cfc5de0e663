package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale

/** The two explicit 100 TB levers: bucketed joins plan with zero shuffle
  * exchanges; salted joins spread a hot key without changing results.
  */
class ScaleSpec extends SparkSpec {

  test("bucketed tables join with zero shuffle exchanges") {
    val sparkS = spark
    import sparkS.implicits._
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val scenes = spark.range(0, 1000)
        .select(($"id" % 50).as("tile_id"), $"id".as("scene_id"))
      val ledger = spark.range(0, 200)
        .select(($"id" % 50).as("tile_id"), $"id".as("entry_id"))
      Scale.writeBucketed(scenes, "b_scenes", "tile_id", 8)
      Scale.writeBucketed(ledger, "b_ledger", "tile_id", 8)
      val joined = spark.table("b_scenes").join(spark.table("b_ledger"), "tile_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 1000L * 200 / 50)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_scenes")
      spark.sql("DROP TABLE IF EXISTS b_ledger")
    }
  }

  test("salted join: same result as plain join, hot key spread over salts") {
    val sparkS = spark
    import sparkS.implicits._
    // 10k rows of one hot key + a tail
    val big = spark.range(0, 10000)
      .select(when($"id" < 9000, lit(7)).otherwise($"id" % 20).as("k"),
        $"id".as("v"))
    val small = spark.range(0, 20).select($"id".as("k"), ($"id" * 10).as("w"))
    val salted = Scale.saltedJoin(big, small, "k", salts = 8)
    val plain = big.join(small, "k")
    assert(salted.count() == plain.count())
    val a = salted.agg(sum($"v"), sum($"w")).collect().head
    val b = plain.agg(sum($"v"), sum($"w")).collect().head
    assert(a == b)
    // the hot key's rows really carry distinct salts (spread across tasks)
    val bigS = big.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(8)))
    val spread = bigS.filter($"k" === 7)
      .select(countDistinct($"__salt")).collect().head.getLong(0)
    assert(spread >= 4, s"hot key only hit $spread salts")
  }

  test("salted join rejects join types that would duplicate rows") {
    val sparkS = spark
    import sparkS.implicits._
    val df = Seq((1, 2)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Scale.saltedJoin(df, df, "k", 4, joinType = "full_outer")
    }
  }

  test("bucketed range join equals the theta join, incl. boundary cells") {
    val sparkS = spark
    import sparkS.implicits._
    // ranges deliberately hit cell boundaries: hi exactly on a cell edge
    // (100.0), spans >2 cells, empty range, negative lo
    val ranges = Seq((0, -25.0, 30.0), (1, 0.0, 100.0), (2, 95.0, 96.0),
      (3, 50.0, 50.0), (4, 10.0, 260.0)).toDF("rid", "lo", "hi")
    val points = spark.range(-30, 300).select($"id".cast("double").as("p"))
    val viaBucket = Scale.bucketedRangeJoin(points, "p", ranges, "lo", "hi", 50.0)
      .select($"rid", $"p").collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sorted.toSeq
    val viaTheta = points.join(ranges, $"p" >= $"lo" && $"p" < $"hi")
      .select($"rid", $"p").collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sorted.toSeq
    assert(viaBucket == viaTheta)
    assert(viaBucket.nonEmpty && !viaBucket.exists(_._1 == 3)) // empty range
    // a range spanning more cells than the cap fails fast and actionably
    val wide = Seq((9, 0.0, 1e9)).toDF("rid", "lo", "hi")
    val err = intercept[Exception] {
      Scale.bucketedRangeJoin(points, "p", wide, "lo", "hi", 1.0,
        maxCellsPerRange = 100).count()
    }
    assert(err.getMessage.contains("bucketedRangeJoin"), err.getMessage)
  }

  test("hash sampling rate endpoints: 1.0 keeps everything, 0.0 nothing") {
    val sparkS = spark
    import sparkS.implicits._
    val docs = spark.range(0, 500).select($"id".as("doc_id"),
      when($"id" % 2 === 0, "en").otherwise("de").as("lang"))
    def n(rates: Map[String, Double], default: Double): Long =
      graft.queries.Pipeline
        .stratifiedHashSample(docs, $"doc_id", $"lang", rates, default).count()
    // rate 1.0 must not fall into the 5-char-hex-vs-4-char-prefix trap
    assert(n(Map("en" -> 1.0), 1.0) == 500L)
    assert(n(Map.empty, 0.0) == 0L)
    assert(n(Map("en" -> 1.0), 0.0) == 250L)
    val mid = n(Map.empty, 0.5)
    assert(mid > 200 && mid < 300, s"~half expected, got $mid")
  }

  test("approx token quantiles stay inside the exact neighboring band") {
    val sparkS = spark
    import sparkS.implicits._
    // 10k docs per group with ~1000 distinct token counts: large enough
    // that the GK sketch's rank guarantee (error ≤ n/accuracy = 1 rank)
    // is meaningful, unlike the handful-sized sf0.001 groups where the
    // discrete sketch and interpolated exact quantile legitimately differ.
    val docs = spark.range(0, 20000).select(
      when($"id" % 2 === 0, "en").otherwise("de").as("lang"),
      lit("s").as("source"),
      concat(repeat(lit("w "), ($"id" % 997 + 10).cast("int")), lit("w")).as("text"))
    val exM = collectQs(graft.queries.Pipeline.tokenQuantiles(docs, exact = true))
    val apM = collectQs(graft.queries.Pipeline.tokenQuantiles(docs, exact = false))
    // exact band at p ± 0.01 brackets a sketch with ≤ 1-rank error
    val loM = widened(docs, -0.01)
    val hiM = widened(docs, +0.01)
    assert(apM.nonEmpty && apM.keySet == exM.keySet)
    apM.foreach { case (key, qs) =>
      qs.indices.foreach { i =>
        assert(qs(i) >= loM(key)(i) && qs(i) <= hiM(key)(i),
          s"$key p#$i: approx ${qs(i)} outside [${loM(key)(i)}, ${hiM(key)(i)}]")
      }
    }
    // the exact quantiles themselves sit inside their own band
    exM.foreach { case (key, qs) =>
      qs.indices.foreach(i => assert(qs(i) >= loM(key)(i) && qs(i) <= hiM(key)(i)))
    }
  }

  test("kmeansQuantized separates well-separated blobs and converges") {
    val sparkS = spark
    import sparkS.implicits._
    // two tight blobs in opposite orthants of a 64-dim space; seeds are
    // one member of each. Lloyd's must assign every vector to its blob
    // and a second iteration must not change any assignment.
    def blobVec(center: Double, jitter: Int): Array[Float] =
      Array.tabulate(64)(i => (center + ((i * 7 + jitter) % 5) * 0.01).toFloat)
    val rows = (0L until 40L).map { id =>
      val c = if (id % 2 == 0) 0.8 else -0.8
      (id, blobVec(c, (id % 7).toInt))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val a1 = graft.queries.Pipeline.kmeansQuantized(emb, Seq(0L, 1L), iters = 1)
      .select($"vec_id", $"cid").as[(Long, Long)].collect().toMap
    val a2 = graft.queries.Pipeline.kmeansQuantized(emb, Seq(0L, 1L), iters = 2)
      .select($"vec_id", $"cid").as[(Long, Long)].collect().toMap
    assert(a2.size == 40)
    for (id <- 0L until 40L) {
      val expected = if (id % 2 == 0) 0L else 1L
      assert(a2(id) == expected, s"vec $id -> cluster ${a2(id)}")
    }
    assert(a1 == a2, "second Lloyd iteration should be a fixpoint here")
  }

  test("silhouette: well-separated blobs score near 1, per cluster") {
    val sparkS = spark
    import sparkS.implicits._
    // same two-orthant blob corpus as the kmeans convergence test:
    // within-blob spread is tiny vs the between-blob distance, so the
    // simplified silhouette must sit far above 0.5 for both clusters
    def blobVec(center: Double, jitter: Int): Array[Float] =
      Array.tabulate(64)(i => (center + ((i * 7 + jitter) % 5) * 0.01).toFloat)
    val rows = (0L until 40L).map { id =>
      val c = if (id % 2 == 0) 0.8 else -0.8
      (id, blobVec(c, (id % 7).toInt))
    }
    val out = graft.queries.Pipeline.clusterSilhouette(
      rows.toDF("vec_id", "embedding"), Seq(0L, 1L), iters = 2).collect()
    assert(out.length == 2)
    for (r <- out) {
      assert(r.getLong(1) == 20L, s"cluster size: ${r.toSeq}")
      assert(r.getLong(2) > 900000L,
        s"blob silhouette must be near 1: ${r.toSeq}")
    }
  }

  test("soak: composite and MinHash-LSH shuffle/memory scale ~linearly at 10x") {
    // Plans are pinned elsewhere; this pins the CONSTANTS: run the t2/t3
    // composite shape and the d_minhash_lsh candidate pipeline on
    // synthetic models at n and 10n and require shuffle-write bytes and
    // summed task peak-execution-memory to grow ~linearly. A quadratic
    // pair explosion or per-group buffer blowup reads as 50-100x here.
    import graft.operators.Composite
    import graft.model.MaskDef
    val sparkS = spark
    import sparkS.implicits._

    def compositeAt(n: Long): org.apache.spark.sql.DataFrame = {
      val mask = MaskDef(clearData = Seq(0L), notClearData = Seq(2L, 4L),
        nodata = 255L)
      val obs = spark.range(n * 8).select(
        ($"id" % n).as("key"),
        ($"id" / n).cast("int").as("rn"),
        ($"id" % 5).cast("int").as("src"),
        ($"id" * 37 % 10000).cast("int").as("v"),
        ($"id" * 13 % 3 * 2).cast("int").as("qa")) // {0,2,4}: clear + cloudy
      val c = Composite.compositeAgg(mask)(
        (lit(100000) - $"rn").cast("double"), $"rn", $"src",
        array($"v"), array($"qa"), lit(-9999))
      obs.groupBy($"key").agg(c.as("c"))
        .select($"key", element_at($"c.value", 1),
          element_at($"c.median", 1), element_at($"c.average", 1))
    }

    // ~4 near-identical docs per text regardless of n: bucket sizes stay
    // constant, so candidate pairs grow linearly with the corpus
    def minhashAt(n: Long): org.apache.spark.sql.DataFrame =
      graft.queries.Pipeline.minhashCandidatePairsFor(spark.range(n).select(
        $"id".as("doc_id"),
        concat_ws(" ", lit("alpha beta gamma"), ($"id" % (n / 4)).cast("string"),
          lit("delta epsilon"), ($"id" % 13).cast("string"),
          lit("zeta eta theta iota")).as("text")))

    for ((name, run) <- Seq(
        ("composite", (n: Long) => compositeAt(n)),
        ("minhash-lsh", (n: Long) => minhashAt(n)))) {
      val n1 = if (name == "composite") 10000L else 2000L
      val (bytes1, mem1) = measure(run(n1))
      val (bytes10, mem10) = measure(run(n1 * 10))
      assert(bytes1 > 0, s"$name: no shuffle measured at n=$n1")
      val bytesRatio = bytes10.toDouble / bytes1
      val memRatio = mem10.toDouble / math.max(mem1, 1)
      info(f"$name: shuffle ${bytes1}B -> ${bytes10}B (${bytesRatio}%.1fx), " +
        f"peak-mem sum ${mem1}B -> ${mem10}B (${memRatio}%.1fx)")
      assert(bytesRatio < 25, s"$name shuffle grew superlinearly: $bytesRatio")
      assert(bytesRatio > 3, s"$name shuffle growth suspiciously flat: $bytesRatio")
      assert(memRatio < 25, s"$name execution memory grew superlinearly: $memRatio")
    }
  }

  test("soak: composite/mosaic at the reference block envelope " +
       "(512x512 arrays) — linear shuffle, flat per-task load") {
    // BASELINE.md's real workload envelope (reference forms.py:239 +
    // grid-bdc-md.json): 10560×10560-px tiles chunked into 512×512
    // blocks (21×21 = 441/tile). The earlier soaks used small synthetic
    // arrays; this one drives CompositeAgg and MosaicAgg over FULL-SIZE
    // 262144-element pixel arrays (int16 value range in the engine's
    // Int-array block model) and scales the 100 TB axis — the number of
    // (block, period) groups at CONSTANT scenes-per-period — by 10×.
    // The input repartitions BY THE GROUP KEY into a task count that
    // grows with the data (what a real cluster does), so the required
    // properties are: total shuffle ~linear, while each task's shuffle
    // READ volume and peak memory stay FLAT (per-group state is its own
    // ≤3-scene stack, independent of scale).
    import graft.operators.Composite
    import graft.model.MaskDef
    val sparkS = spark
    import sparkS.implicits._
    val px = 512 * 512
    val blocks = 21 // one tile row of a 10560-px tile
    val scenes = 3  // scenes per period — constant along the scale axis

    def compositeAt(periods: Int): org.apache.spark.sql.DataFrame = {
      val mask = MaskDef(clearData = Seq(0L), notClearData = Seq(2L, 4L),
        nodata = 255L)
      val obs = spark.range(blocks.toLong * periods * scenes).select(
        ($"id" % blocks).as("block"),
        expr(s"(id div $blocks) % $periods").as("period"),
        expr(s"id div ${blocks * periods}").cast("int").as("rn"),
        ($"id" % 4).cast("int").as("src"),
        array_repeat((pmod($"id" * 131, lit(8192)) + 1).cast("int"), px).as("val"),
        array_repeat((pmod($"id", lit(3)) * 2).cast("int"), px).as("qa"))
        // key-partitioned with data-proportional task count: the agg
        // then runs in place (no second exchange), groups/task constant
        .repartition(4 * periods, $"block", $"period")
      val c = Composite.compositeAgg(mask)(
        (lit(100000) - $"rn").cast("double"), $"rn", $"src",
        $"val", $"qa", lit(-9999))
      obs.groupBy($"block", $"period").agg(c.as("c"))
        .select($"block", $"period", element_at($"c.value", 1),
          element_at($"c.median", px), element_at($"c.average", 1))
    }

    def mosaicAt(nBlocks: Int, parts: Int): org.apache.spark.sql.DataFrame = {
      val obs = spark.range(nBlocks.toLong * 4).select(
        ($"id" % nBlocks).as("block"),
        expr(s"id div $nBlocks").cast("int").as("rn"),
        ($"id" % 3).cast("int").as("src"),
        array_repeat(when(pmod($"id", lit(7)) === 0, -9999)
          .otherwise(pmod($"id" * 131, lit(8192)) + 1).cast("int"), px).as("val"))
        .repartition(parts, $"block")
      val m = Composite.mosaicAgg(-9999, combined = true)(
        $"rn", $"src", $"val")
      obs.groupBy($"block").agg(m.as("m"))
        .select($"block", element_at($"m.value", 1),
          element_at($"m.datasource", px))
    }

    for ((name, r1, r10) <- Seq(
        ("composite-512", () => compositeAt(1), () => compositeAt(10)),
        ("mosaic-512", () => mosaicAt(blocks, 4),
          () => mosaicAt(blocks * 10, 40)))) {
      val (b1, peak1, read1) = measure3(r1())
      val (b10, peak10, read10) = measure3(r10())
      assert(b1 > 0, s"$name: no shuffle measured at base scale")
      val bytesRatio = b10.toDouble / b1
      val readRatio = read10.toDouble / math.max(read1, 1)
      val peakRatio = peak10.toDouble / math.max(peak1, 1)
      info(f"$name: shuffle ${b1}B -> ${b10}B (${bytesRatio}%.1fx), " +
        f"max task read ${read1}B -> ${read10}B (${readRatio}%.1fx), " +
        f"max task peak-mem ${peak1}B -> ${peak10}B (${peakRatio}%.1fx)")
      assert(bytesRatio < 25,
        s"$name shuffle grew superlinearly at 10x groups: $bytesRatio")
      assert(bytesRatio > 3,
        s"$name shuffle growth suspiciously flat: $bytesRatio")
      // the flat-at-scale pins: a task's slice must not grow with the
      // corpus when the task count scales with it
      assert(readRatio < 3,
        s"$name per-task shuffle read must stay flat at 10x: $readRatio")
      assert(peakRatio < 3,
        s"$name per-task peak memory must stay flat at 10x: $peakRatio")
    }
  }

  test("soak: FULL 10560x10560 tile through the CubeBuilder chain — " +
       "merge→composite→index→publish→COG, shuffle linear in blocks") {
    // BASELINE.md's whole-tile envelope end to end: 21×21 = 441 blocks
    // of 512² px × 2 dates (→ 2 periods) × 3 spectral bands + QA run
    // the production chain (CubeRun.mergeCompositeChain — the same
    // code path runTiles() executes), then index band, item publication and
    // a streamed whole-tile COG validate. The one shuffle is the
    // repartition by (tile, block); everything downstream runs in
    // place, so total shuffle must scale with blocks while per-task
    // read and peak memory stay flat (task count scales with blocks).
    import graft.cube.{CubeBuilder, CubeRun}
    import graft.model.{Band, Collection, MaskDef}
    val sparkS = spark
    import sparkS.implicits._
    val px = 512 * 512
    val d1 = java.sql.Date.valueOf("2020-01-05")
    val d2 = java.sql.Date.valueOf("2020-01-20")
    val coll = Collection(
      name = "soak", version = 1, grid = "G", compositeFunction = "LCF",
      temporalSchema = "Continuous", temporalUnit = "day", temporalStep = 16,
      bands = Seq(
        Band("B04", "red", "int16", -9999),
        Band("B05", "rededge", "int16", -9999),
        Band("B8A", "nir", "int16", -9999),
        Band("QA", "quality", "uint8", 255),
        Band("NDVI", "ndvi", "int16", -9999,
          expression = "10000.*((B8A-B04)/(B8A+B04))")),
      qualityBand = "QA")
    val mask = MaskDef(clearData = Seq(0L), notClearData = Seq(2L, 4L),
      nodata = 255L)
    val periods = Seq(("2020-01-01", "2020-01-16"), ("2020-01-17", "2020-02-01"))
      .toDF("ps", "pe")
      .select($"ps".cast("date").as("p_start"), $"pe".cast("date").as("p_end"))

    def tileBlocks(rows: Int, cols: Int): org.apache.spark.sql.DataFrame = {
      val nb = rows * cols
      // constant columns go through a non-foldable `when` so they stay
      // ATTRIBUTES after optimization, as they are when read from
      // parquet in production — constant-folded literals in the
      // repartition keys would fail the aggregates' subset-distribution
      // check and re-shuffle the chain (measured: 4-partition collapse)
      def k(c: org.apache.spark.sql.Column) =
        when($"id" >= 0, c).otherwise(lit(null))
      spark.range(nb.toLong * 2 * 4).select(
        k(lit("soak")).as("cube"), k(lit("t0")).as("tileId"),
        element_at(array(lit(d1), lit(d2)),
          (expr(s"(id div $nb) % 2") + 1).cast("int")).as("date"),
        element_at(array(lit("B04"), lit("B05"), lit("B8A"), lit("QA")),
          (expr(s"id div ${nb * 2}") + 1).cast("int")).as("band"),
        expr(s"(id % $nb) div $cols").cast("int").as("blockY"),
        ($"id" % cols).cast("int").as("blockX"),
        k(lit(512)).as("height"), k(lit(512)).as("width"),
        (($"id" % cols) * 5120.0).as("x0"),
        (lit(rows * 5120.0) - expr(s"(id % $nb) div $cols") * 5120.0).as("y0"),
        k(lit(10.0)).as("resX"), k(lit(10.0)).as("resY"),
        when(element_at(array(lit("B04"), lit("B05"), lit("B8A"), lit("QA")),
          (expr(s"id div ${nb * 2}") + 1).cast("int")) === "QA",
          array_repeat(lit(0), px))
          .otherwise(array_repeat(
            (expr(s"id div ${nb * 2}") * 1000 +
             expr(s"(id div $nb) % 2") * 100 + $"id" % nb % 97).cast("int"),
            px)).as("pixels"),
        lit(0).as("assetOrder"), lit(0).as("source"))
    }
    def chainAt(rows: Int, cols: Int, parts: Int) =
      CubeRun.mergeCompositeChain(
        tileBlocks(rows, cols)
          .repartition(parts, $"tileId", $"blockY", $"blockX"),
        coll, mask, periods)

    // broadcast off for the spectral↔quality join: a tile-date's QA
    // slice is 441 MB here (and unbounded at 100 TB) — the plan the
    // chain must hold is the CO-PARTITIONED merge join, not a broadcast
    // build that materializes the whole quality slice in one task (the
    // generated frame's guessed stats would otherwise pick broadcast;
    // parquet scans with real stats don't)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // subset-key co-partitioning for the join (what CubeRun.runTiles sets):
    // both join children are partitioned on (tileId, blockY, blockX) ⊂
    // join keys; without this the join re-shuffles on the full key
    val prevCoPart =
      spark.conf.getOption("spark.sql.requireAllClusterKeysForCoPartition")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
    val t0 = System.nanoTime()
    val (b1, peak1, read1) = measure3(chainAt(7, 7, 8))
    val tSmall = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val (b9, peak9, read9) = measure3(chainAt(21, 21, 72))
    val tFull = (System.nanoTime() - t1) / 1e9
    assert(b1 > 0, "no shuffle measured at the 49-block scale")
    val bytesRatio = b9.toDouble / b1
    info(f"full-tile chain: 49 blocks ${tSmall}%.1fs shuffle ${b1}B -> " +
      f"441 blocks ${tFull}%.1fs shuffle ${b9}B (${bytesRatio}%.1fx at 9x " +
      f"blocks); full-tile max task read ${read9}B (fair share " +
      f"${b9 / 72}B), max task peak-mem ${peak9}B " +
      f"[49-block: read ${read1}B peak ${peak1}B]")
    assert(bytesRatio < 22, s"shuffle grew superlinearly at 9x blocks: $bytesRatio")
    assert(bytesRatio > 3, s"shuffle growth suspiciously flat: $bytesRatio")
    // per-task pins are ABSOLUTE at full scale (cross-run ratios are
    // hostage to hash placement of 49 vs 441 keys and to compression
    // variance): no task may read a disproportionate slice of the
    // shuffle, and no task may ever hold anything near the 3.5 GB tile
    assert(read9 <= 6L * (b9 / 72),
      s"max task shuffle read $read9 exceeds 6x the fair share ${b9 / 72}")
    assert(peak9 < (1L << 30),
      s"a task peaked at $peak9 B — the chain must stream blocks, " +
        "never materialize the tile")

    // outputs of the full tile: composite → index band → items → COG
    // only value, clearob and totalob are read below: checkpointing the
    // other four 1 MiB arrays of every row would store ~19 GB instead of
    // ~8 GB in spark.local.dir
    val composited = chainAt(21, 21, 72)
      .drop("median", "average", "provenance", "datasource")
      .localCheckpoint()
    assert(composited.count() == 441L * 2 * 3, "2 periods × 3 bands × 441 blocks")
    // LCF with one clear scene per period ⇒ composite = that scene
    val spot = composited
      .filter($"band" === "B04" && $"blockY" === 3 && $"blockX" === 5)
      .select($"p_start".cast("string"), element_at($"value", 1),
        element_at($"value", px))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val bi35 = (3 * 21 + 5) % 97
    assert(spot == Set(("2020-01-01", bi35, bi35),
      ("2020-01-17", 100 + bi35, 100 + bi35)), s"got $spot")

    val index = CubeBuilder.indexBands(composited, coll)
    assert(index.count() == 441L * 2, "one NDVI block per (block, period)")
    // block (0,0) period 1: B04=0, B8A=2000 ⇒ NDVI = 10000 exactly
    val ndvi00 = index
      .filter($"blockY" === 0 && $"blockX" === 0 &&
        $"p_start" === java.sql.Date.valueOf("2020-01-01"))
      .select(element_at($"value", 1)).collect().head.getInt(0)
    assert(ndvi00 == 10000, s"NDVI(B04=0, B8A=2000) must be 10000, got $ndvi00")

    val items = CubeBuilder.publishItems(composited, coll)
      .collect().sortBy(_.getString(3))
    assert(items.length == 2, "one item per period")
    assert(items.forall(_.getSeq[String](5) == Seq("B04", "B05", "B8A")))
    assert(items.forall(r => math.abs(r.getDouble(10) - 100.0) < 1e-9),
      "all-clear QA must publish clear_pct = 100")

    // whole-tile COG: B04 of period 1 streams into ONE 10560² GeoTIFF,
    // re-scans, integrity-checks and decodes back to 441 exact blocks
    val cogDir = java.nio.file.Files.createTempDirectory("soak_cog").toString
    val t2 = System.nanoTime()
    graft.sources.RasterIO.writeGeoTiffs(
      composited.filter($"band" === "B04" &&
          $"p_start" === java.sql.Date.valueOf("2020-01-01"))
        .withColumn("pixels", $"value")
        .withColumn("dkey", lit("20200101")),
      cogDir, _ => "int16", periodCols = Seq("dkey"), overviews = false)
    val tCog = (System.nanoTime() - t2) / 1e9
    composited.unpersist()
    val scanned = graft.sources.RasterIO.scanDirectory(spark, cogDir,
      bandPattern = "_(B[0-9A-Z]+|QA)_")
    // structural integrity probe only (fullRead re-decodes the 446 MB
    // tile in one task); the decoded pixel sum below is the full
    // content validation. Probe over a MAPPED buffer — readAllBytes
    // would put the whole multi-hundred-MB COG on the driver heap, the
    // exact buffer class this suite pins as removed.
    val cogPaths = scanned.select($"path").as[String].collect()
    assert(cogPaths.length == 1, "exactly one COG scanned")
    val cogCh = java.nio.channels.FileChannel.open(
      graft.sources.RasterIO.scenePath(cogPaths.head),
      java.nio.file.StandardOpenOption.READ)
    val cogInfos =
      try graft.sources.GeoTiff.readInfos(graft.sources.GeoTiff.ordered(
        cogCh.map(java.nio.channels.FileChannel.MapMode.READ_ONLY,
          0, cogCh.size())))
      finally cogCh.close()
    // width pads up to the 512 block grid (10560 → 10752)
    assert(cogInfos.nonEmpty && cogInfos.head.width >= 10560 &&
      cogInfos.head.tileOffsets.nonEmpty, "COG structurally clean")
    val decoded = graft.sources.RasterIO.failOnDecodeError(
      graft.sources.RasterIO.decodeBlocksQuarantining(
        scanned.withColumn("tile", lit("t0")), "soak", 512))
    val (nBlocks, pxSum) = decoded.agg(count(lit(1)),
      sum(graft.functions.PixelExpressions.arraySumLong($"pixels")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    val wantSum = (0 until 441).map(bi => (bi % 97).toLong * px).sum
    info(f"COG: 10560² B04 written in ${tCog}%.1fs, decoded $nBlocks blocks")
    assert(nBlocks == 441L, s"decoded $nBlocks of 441 blocks")
    assert(pxSum == wantSum, s"decoded pixel sum $pxSum != $wantSum")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      prevCoPart match {
        case Some(v) =>
          spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", v)
        case None =>
          spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      }
    }
  }

  test("soak: MULTI-TILE chain — shuffle linear in TILES at fixed " +
       "per-tile size, per-task load flat (the 1000-executor axis)") {
    // The r12 soak scales the BLOCKS axis of one tile; the cluster
    // deployment scales the TILES axis — thousands of tiles in ONE
    // declarative chain (CubeRun.runTiles), executors each owning the
    // (tile, block) keys hashed to them. 4x the tiles at constant
    // per-tile size must cost ~4x the shuffle with per-task read flat
    // against fair share: no per-tile driver loop, no tile-count term
    // in any task's memory.
    import graft.cube.CubeRun
    import graft.model.{Band, Collection, MaskDef}
    val sparkS = spark
    import sparkS.implicits._
    val px = 512 * 512
    val rows = 5; val cols = 5; val nb = rows * cols
    val d1 = java.sql.Date.valueOf("2020-01-05")
    val d2 = java.sql.Date.valueOf("2020-01-20")
    val coll = Collection(
      name = "msoak", version = 1, grid = "G", compositeFunction = "LCF",
      temporalSchema = "Continuous", temporalUnit = "day", temporalStep = 16,
      bands = Seq(
        Band("B04", "red", "int16", -9999),
        Band("B05", "rededge", "int16", -9999),
        Band("B8A", "nir", "int16", -9999),
        Band("QA", "quality", "uint8", 255)),
      qualityBand = "QA")
    val mask = MaskDef(clearData = Seq(0L), notClearData = Seq(2L, 4L),
      nodata = 255L)
    val periods = Seq(("2020-01-01", "2020-01-16"), ("2020-01-17", "2020-02-01"))
      .toDF("ps", "pe")
      .select($"ps".cast("date").as("p_start"), $"pe".cast("date").as("p_end"))
    def blocksAt(nTiles: Int): org.apache.spark.sql.DataFrame = {
      // id decomposes as (band, date, block, tile); constants ride a
      // non-foldable `when` so they stay attributes (see tileBlocks)
      def k(c: org.apache.spark.sql.Column) =
        when($"id" >= 0, c).otherwise(lit(null))
      spark.range(nTiles.toLong * nb * 2 * 4).select(
        k(lit("msoak")).as("cube"),
        concat(lit("t"), ($"id" % nTiles).cast("string")).as("tileId"),
        element_at(array(lit(d1), lit(d2)),
          (expr(s"(id div ${nTiles * nb}) % 2") + 1).cast("int")).as("date"),
        element_at(array(lit("B04"), lit("B05"), lit("B8A"), lit("QA")),
          (expr(s"id div ${nTiles.toLong * nb * 2}") + 1).cast("int")).as("band"),
        expr(s"((id div $nTiles) % $nb) div $cols").cast("int").as("blockY"),
        expr(s"(id div $nTiles) % $cols").cast("int").as("blockX"),
        k(lit(512)).as("height"), k(lit(512)).as("width"),
        (expr(s"(id div $nTiles) % $cols") * 5120.0).as("x0"),
        (lit(rows * 5120.0) -
          expr(s"((id div $nTiles) % $nb) div $cols") * 5120.0).as("y0"),
        k(lit(10.0)).as("resX"), k(lit(10.0)).as("resY"),
        when(expr(s"id div ${nTiles.toLong * nb * 2}") === 3,
          array_repeat(lit(0), px))
          .otherwise(array_repeat(
            (expr(s"id div ${nTiles.toLong * nb * 2}") * 1000 +
             expr(s"(id div ${nTiles * nb}) % 2") * 100 +
             ($"id" % nTiles) * 7 + expr(s"(id div $nTiles) % $nb") % 97
            ).cast("int"), px)).as("pixels"),
        lit(0).as("assetOrder"), lit(0).as("source"))
    }
    def chainAt(nTiles: Int, parts: Int) =
      CubeRun.mergeCompositeChain(
        blocksAt(nTiles).repartition(parts, $"tileId", $"blockY", $"blockX"),
        coll, mask, periods)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val prevCoPart =
      spark.conf.getOption("spark.sql.requireAllClusterKeysForCoPartition")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      val t0 = System.nanoTime()
      val (b2, _, read2) = measure3(chainAt(2, 16))
      val tSmall = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (b8, peak8, read8) = measure3(chainAt(8, 64))
      val tBig = (System.nanoTime() - t1) / 1e9
      assert(b2 > 0, "no shuffle measured at the 2-tile scale")
      val ratio = b8.toDouble / b2
      info(f"multi-tile chain: 2 tiles ${tSmall}%.1fs shuffle ${b2}B " +
        f"(max task read ${read2}B) -> 8 tiles ${tBig}%.1fs shuffle " +
        f"${b8}B (${ratio}%.1fx at 4x tiles); max task read ${read8}B " +
        f"(fair share ${b8 / 64}B), peak-mem ${peak8}B")
      assert(ratio < 9, s"shuffle grew superlinearly at 4x tiles: $ratio")
      assert(ratio > 1.5, s"shuffle growth suspiciously flat: $ratio")
      assert(read8 <= 6L * (b8 / 64),
        s"max task read $read8 exceeds 6x fair share ${b8 / 64} — " +
          "a task is aggregating more than its hashed (tile, block) slice")
      assert(peak8 < (1L << 30),
        s"task peak $peak8 B — the chain must stream blocks across tiles")
      // correctness rides along: every (tile, period, band) block
      // composites, and a spot block equals its single clear scene
      val composited = chainAt(8, 64).localCheckpoint()
      assert(composited.count() == 8L * nb * 2 * 3,
        "8 tiles × 25 blocks × 2 periods × 3 spectral bands")
      val spot = composited
        .filter($"tileId" === "t3" && $"band" === "B05" &&
          $"blockY" === 2 && $"blockX" === 4 &&
          $"p_start" === java.sql.Date.valueOf("2020-01-17"))
        .select(element_at($"value", 1)).collect().head.getInt(0)
      assert(spot == 1000 + 100 + 3 * 7 + (2 * cols + 4) % 97,
        s"spot composite pixel wrong: $spot")
      composited.unpersist(): Unit
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      prevCoPart match {
        case Some(v) =>
          spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", v)
        case None =>
          spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      }
    }
  }

  test("soak: contQuantiles shuffle is value-domain-bound, not corpus-bound") {
    // the buffer-free exact-quantile path folds to a (group, value)
    // histogram FIRST — partial aggregation reduces each map task to at
    // most |value domain| rows, so 10x the corpus must NOT move 10x the
    // bytes through the shuffle (an in-memory percentile would)
    val sparkS = spark
    import sparkS.implicits._
    def at(n: Long): org.apache.spark.sql.DataFrame = {
      val df = spark.range(0L, n, 1L, 8).select(
        ($"id" % 7).cast("string").as("g"),
        pmod($"id" * 2654435761L, lit(1024)).cast("double").as("v"))
      graft.queries.Analytics.contQuantiles(df, "g", "v",
        Seq("p50" -> 0.5, "p90" -> 0.9))
    }
    val (b1, _, _) = measure3(at(100000L))
    val (b10, _, _) = measure3(at(1000000L))
    assert(b1 > 0, "no shuffle measured at base size")
    val ratio = b10.toDouble / b1
    info(f"contQuantiles shuffle at 10x rows: ${b1}B -> ${b10}B (${ratio}%.2fx)")
    assert(ratio < 2.0,
      s"histogram shuffle must stay value-domain-bound at 10x rows: $ratio")
  }

  test("soak: shardedRank shuffle scales ~linearly, serial step stays flat") {
    // the round's headline rewrite (x_quantile_norm / x_ks_test /
    // x_rfm_segments all route global ranks through shardedRank): at
    // 10x rows the shard-partitioned rank must shuffle ~linearly while
    // the single-partition serial step stays SHARD-count-sized — its
    // max task read must not grow with the corpus (the shard count is
    // value-range-bound, not row-bound)
    val sparkS = spark
    import sparkS.implicits._
    def rankAt(n: Long): org.apache.spark.sql.DataFrame = {
      val df = spark.range(n).select($"id",
        pmod($"id" * 2654435761L, lit(4096)).as("v")).repartition(8)
      graft.queries.Analytics
        .shardedRank(df, floor($"v" / 64), Seq($"v", $"id"), "rk")
        .select(sum($"rk").as("s"), max($"rk").as("m"))
    }
    val (b1, _, _) = measure3(rankAt(100000L))
    val (b10, _, _) = measure3(rankAt(1000000L))
    assert(b1 > 0, "no shuffle measured at base size")
    val ratio = b10.toDouble / b1
    info(f"shardedRank: shuffle ${b1}B -> ${b10}B (${ratio}%.1fx)")
    assert(ratio < 25, s"shardedRank shuffle grew superlinearly: $ratio")
    assert(ratio > 3, s"shardedRank shuffle growth suspiciously flat: $ratio")
    // correctness at volume: ranks are a permutation of 1..n
    val r = rankAt(1000000L).collect().head
    assert(r.getLong(0) == 1000000L * 1000001L / 2 && r.getLong(1) == 1000000L,
      s"rank must be a permutation of 1..n: ${r.toSeq}")
  }

  /** Shuffle-write bytes + summed task peak-execution-memory for one
    * materialization of `df` (noop sink), via a task-metrics listener.
    */
  private def measure(df: => org.apache.spark.sql.DataFrame): (Long, Long) = {
    val probe = new TaskMetricsProbe
    spark.sparkContext.addSparkListener(probe)
    try {
      df.write.format("noop").mode("overwrite").save()
      // the listener bus is async: wait until it has delivered every
      // task-end event of the write
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(probe)
    (probe.shuffleBytes.get, probe.peakMem.get)
  }

  /** n well-separated 64-dim blobs-of-k corpus: vector `id` belongs to blob
    * `id % k`; blob centers are pseudo-random per (blob, dim) on a 0.02
    * grid, jitter ≤ 0.008, so quantized (×1000) blobs sit far apart and
    * Lloyd's with seeds 0..k-1 (one member per blob) is exact after one
    * round — making the cluster assignment, and therefore the semantic
    * pair count, closed-form.
    */
  private def blobEmbeddings(n: Long, k: Int) = {
    val sparkS = spark
    import sparkS.implicits._
    // round-robin repartition discards Range's RangePartitioning-on-id:
    // without it every vec_id-keyed aggregation plans shuffle-FREE (ids
    // are clustered within range splits), which a parquet-backed corpus
    // never gets — the soak must measure the real shuffling shape
    spark.range(n).select($"id".as("vec_id"),
      expr(s"""transform(sequence(0, 63), i -> cast(
        (cast((id % $k) * 37 + i * 17 as bigint) % 100) / 50.0 - 1.0
        + pmod(id * 7 + i, 5) * 0.002 as float))""").as("embedding"))
      .repartition(8)
  }

  test("soak: kmeans and semantic-dedup shuffle scale ~linearly at 10x") {
    val sparkS = spark
    import sparkS.implicits._
    // the two halves of SemDeDup soak SEPARATELY because their linear
    // regimes differ: Lloyd's assignment is n·k work (linear in the
    // corpus at FIXED k), while the pair stage is Σ|cluster|² (linear
    // at fixed cluster SIZE, i.e. k scaling with the corpus). Soaking
    // them end-to-end with one knob would measure the n·k × k-growth
    // cross-term — quadratic by construction, not a plan defect.
    val km1 = measure(graft.queries.Pipeline.kmeansQuantized(
      blobEmbeddings(5000L, 4), Seq(0L, 1L, 2L, 3L), iters = 2))
    val km10 = measure(graft.queries.Pipeline.kmeansQuantized(
      blobEmbeddings(50000L, 4), Seq(0L, 1L, 2L, 3L), iters = 2))
    // pair stage: constant cluster size 100, clusters 20 -> 200; the
    // assignment is handed in directly (id % k — what kmeans converges
    // to on these blobs, pinned by the pair-space test below)
    def pairsAt(n: Long, k: Int) = {
      val emb = blobEmbeddings(n, k)
      graft.queries.Pipeline.semanticPairsForAssign(emb,
        emb.select($"vec_id", ($"vec_id" % k).as("cid")))
    }
    val sd1 = measure(pairsAt(2000L, 20))
    val sd10 = measure(pairsAt(20000L, 200))
    for ((name, (b1, m1), (b10, m10)) <- Seq(
        ("kmeans", km1, km10), ("semantic-dedup", sd1, sd10))) {
      assert(b1 > 0, s"$name: no shuffle measured at base size")
      val bytesRatio = b10.toDouble / b1
      val memRatio = m10.toDouble / math.max(m1, 1)
      info(f"$name: shuffle ${b1}B -> ${b10}B (${bytesRatio}%.1fx), " +
        f"peak-mem sum ${m1}B -> ${m10}B (${memRatio}%.1fx)")
      assert(bytesRatio < 25, s"$name shuffle grew superlinearly: $bytesRatio")
      assert(bytesRatio > 3, s"$name shuffle growth suspiciously flat: $bytesRatio")
      assert(memRatio < 25, s"$name execution memory grew superlinearly: $memRatio")
    }
  }

  test("semantic pair space is exactly sum of |cluster| choose 2") {
    val sparkS = spark
    import sparkS.implicits._
    // pins the Σ|cluster|² claim: every within-cluster pair is scored
    // exactly once, and nothing outside a cluster is ever paired
    val emb = blobEmbeddings(2000L, 20)
    val seeds = (0L until 20L).toSeq
    val got = graft.queries.Pipeline.semanticPairsScored(emb, seeds, iters = 2)
      .groupBy($"cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = graft.queries.Pipeline.kmeansQuantized(emb, seeds, iters = 2)
      .groupBy($"cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.values.sum == 2000L)
    val expected = sizes.collect { case (cid, c) if c >= 2 => cid -> c * (c - 1) / 2 }
    assert(got == expected,
      s"pair counts per cluster must equal |cluster| choose 2: got $got, expected $expected")
  }

  /** Synthetic documents frame (doc_id, text of 40–69 words, 20 sources);
    * round-robin repartitioned for the same reason as [[blobEmbeddings]].
    */
  private def syntheticDocs(n: Long, breakPartitioning: Boolean = true) = {
    val sparkS = spark
    import sparkS.implicits._
    val base = spark.range(n).select($"id".as("doc_id"),
      expr("""array_join(transform(sequence(1, cast(40 + id % 30 as int)),
        i -> concat('w', pmod(id * 31 + i, 1000))), ' ')""").as("text"),
      concat(lit("s"), pmod($"id", lit(20))).as("source"))
    // the chunker soak needs the raw narrow lineage (its claim is ZERO
    // shuffle, which the round-robin repartition itself would break);
    // keyed operators get the repartition to discard Range partitioning
    if (breakPartitioning) base.repartition(8) else base
  }

  test("soak: packer shuffle ~linear at 10x; chunker stays shuffle-free") {
    // packBins: the doc-level work is one hashpartitioning(shard)
    // exchange — bytes scale with the corpus; the serial shard cumsum is
    // |corpus|/64 rows and disappears in the totals
    val pk1 = measure(graft.queries.Pipeline.packBins(syntheticDocs(5000L), 512))
    val pk10 = measure(graft.queries.Pipeline.packBins(syntheticDocs(50000L), 512))
    assert(pk1._1 > 0, "packer: no shuffle measured at base size")
    val ratio = pk10._1.toDouble / pk1._1
    info(f"packer: shuffle ${pk1._1}B -> ${pk10._1}B ($ratio%.1fx)")
    assert(ratio < 25, s"packer shuffle grew superlinearly: $ratio")
    assert(ratio > 3, s"packer shuffle growth suspiciously flat: $ratio")
    // chunkWindows: a narrow map — ZERO shuffle at any corpus size is
    // the whole scale claim
    val ch1 = measure(
      graft.queries.Pipeline.chunkWindows(syntheticDocs(5000L, breakPartitioning = false), 32, 24))
    val ch10 = measure(
      graft.queries.Pipeline.chunkWindows(syntheticDocs(50000L, breakPartitioning = false), 32, 24))
    info(s"chunker: shuffle ${ch1._1}B -> ${ch10._1}B")
    assert(ch1._1 == 0 && ch10._1 == 0,
      s"chunking must not shuffle at any size: ${ch1._1} -> ${ch10._1}")
  }

  test("soak: BPE training shuffle is vocab-bound — near-flat at 10x corpus") {
    // syntheticDocs draws from a FIXED 1000-word vocabulary: the word
    // count map-side-combines to <=1000 rows per task before its
    // exchange, and every iterative stage (pair counts, argmax, re-merge)
    // is distinct-word-sized — so total shuffle bytes should barely move
    // when the corpus grows 10x. This is the whole reason BPE training
    // stays tractable at 100 TB: corpus size buys map work, not shuffle.
    // narrow lineage: BPE keys by WORD, so Range partitioning on doc_id
    // can't fake any of its exchanges away — and the round-robin
    // repartition would itself add a corpus-sized shuffle that no
    // parquet-backed corpus pays
    val b1 = measure(graft.queries.Pipeline.bpeLearn(
      syntheticDocs(5000L, breakPartitioning = false), rounds = 2))
    val b10 = measure(graft.queries.Pipeline.bpeLearn(
      syntheticDocs(50000L, breakPartitioning = false), rounds = 2))
    assert(b1._1 > 0, "bpe: no shuffle measured at base size")
    val ratio = b10._1.toDouble / b1._1
    info(f"bpe: shuffle ${b1._1}B -> ${b10._1}B ($ratio%.1fx)")
    assert(ratio < 3,
      s"BPE training shuffle must stay vocab-bound, grew ${ratio}x at 10x data")
  }

  test("soak: CMS sketch shuffle is cell-bound — near-flat at 10x corpus") {
    val sparkS = spark
    import sparkS.implicits._
    // the explode→partial-agg construction combines each task to ≤4096
    // (i, slot) cells before the exchange, so corpus growth buys map
    // work, not shuffle — the same property BPE training shows, and the
    // whole reason a sketch (not exact counts) is the 100 TB path
    def toksAt(n: Long) = syntheticDocs(n, breakPartitioning = false)
      .select(explode(split(trim($"text"), " +")).as("token"))
    val c1 = measure(graft.queries.Curation.cmsCells(toksAt(5000L)))
    val c10 = measure(graft.queries.Curation.cmsCells(toksAt(50000L)))
    assert(c1._1 > 0, "cms: no shuffle measured at base size")
    val ratio = c10._1.toDouble / c1._1
    info(f"cms: shuffle ${c1._1}B -> ${c10._1}B ($ratio%.1fx)")
    assert(ratio < 3,
      s"CMS shuffle must stay sketch-cell-bound, grew ${ratio}x at 10x data")
  }

  test("soak: pagerank shuffle ~linear at 10x nodes") {
    val sparkS = spark
    import sparkS.implicits._
    // the per-iteration work is |edges| = 3N join probes + a partial-agg
    // sum per dst — both linear in N at fixed iteration count, so total
    // shuffle bytes must scale ~linearly with the node count
    def docsAt(n: Long) =
      spark.range(n).select($"id".as("doc_id")).repartition(8)
    val p1 = measure(graft.queries.Curation.pagerank(docsAt(5000L), iters = 3))
    val p10 = measure(graft.queries.Curation.pagerank(docsAt(50000L), iters = 3))
    assert(p1._1 > 0, "pagerank: no shuffle measured at base size")
    val ratio = p10._1.toDouble / p1._1
    info(f"pagerank: shuffle ${p1._1}B -> ${p10._1}B ($ratio%.1fx)")
    assert(ratio < 25, s"pagerank shuffle grew superlinearly: $ratio")
    assert(ratio > 3, s"pagerank shuffle growth suspiciously flat: $ratio")
  }

  test("soak: triangle counting shuffle stays near-linear at 10x nodes") {
    val sparkS = spark
    import sparkS.implicits._
    // edges = 3N, and degree orientation bounds per-node wedge fan-out
    // by the oriented out-degree, so on the quadratic synthetic graph
    // the whole pipeline (degrees, orientation, wedges, closing) must
    // shuffle ~linearly in N — the "last reducer" never materializes
    def docsAt(n: Long) =
      spark.range(n).select($"id".as("doc_id")).repartition(8)
    def tris(n: Long) = graft.queries.Analytics.triangleCorners(
      graft.queries.Analytics.linkGraphEdges(docsAt(n)))
    val t1 = measure(tris(5000L))
    val t10 = measure(tris(50000L))
    assert(t1._1 > 0, "triangles: no shuffle measured at base size")
    val ratio = t10._1.toDouble / t1._1
    info(f"triangles: shuffle ${t1._1}B -> ${t10._1}B ($ratio%.1fx)")
    assert(ratio < 25, s"triangle shuffle grew superlinearly: $ratio")
  }

  test("soak: char-entropy shuffle ~linear at 10x corpus, flat memory") {
    val sparkS = spark
    import sparkS.implicits._
    // breakPartitioning=true: with the synthetic range lineage intact,
    // Catalyst proves RangePartitioning(id) clusters doc_id and plans
    // the WHOLE query exchange-free (a nice property — a corpus already
    // laid out by doc_id aggregates without any shuffle) — but the soak
    // wants the general case, so discard the alignment first
    def docsAt(n: Long) = syntheticDocs(n, breakPartitioning = true)
    val e1 = measure(graft.queries.Analytics.charEntropy(docsAt(5000L)))
    val e10 = measure(graft.queries.Analytics.charEntropy(docsAt(50000L)))
    assert(e1._1 > 0, "entropy: no shuffle measured at base size")
    val ratio = e10._1.toDouble / e1._1
    info(f"entropy: shuffle ${e1._1}B -> ${e10._1}B ($ratio%.1fx)")
    assert(ratio < 15, s"char-entropy shuffle grew superlinearly: $ratio")
    val memRatio = e10._2.toDouble / math.max(e1._2, 1L)
    assert(memRatio < 15,
      s"char-entropy peak memory grew superlinearly: $memRatio")
  }

  test("soak: attribution interval-join pair space scales ~linearly at 10x") {
    val sparkS = spark
    import sparkS.implicits._
    // fixed per-user event density (events span a fixed 30-day window
    // regardless of n, users scale with n): each purchase's 7-day
    // trailing window meets a CONSTANT expected touch count, so the
    // interval-join candidate rows — and the shuffle carrying them —
    // must grow linearly with the corpus, not quadratically
    def eventsAt(n: Long) = spark.range(n).select(
        ($"id" % (n / 100)).as("user_id"),
        (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime) +
          ($"id" * 2592000000L / n).cast("long")).as("ms"),
        $"id".as("event_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase"),
          lit("view"), lit("click")), ($"id" % 5 + 1).cast("int"))
          .as("event_type"),
        ($"id" % 100).cast("double").as("value"))
      .select($"user_id", expr("timestamp_millis(ms)").as("ts"),
        $"event_id", $"event_type", $"value")
      .repartition(8)
    val a1 = measure(graft.queries.Analytics.lastTouchAttribution(eventsAt(20000L)))
    val a10 = measure(graft.queries.Analytics.lastTouchAttribution(eventsAt(200000L)))
    assert(a1._1 > 0, "attribution: no shuffle measured at base size")
    val ratio = a10._1.toDouble / a1._1
    info(f"attribution: shuffle ${a1._1}B -> ${a10._1}B ($ratio%.1fx)")
    assert(ratio < 25, s"attribution pair space grew superlinearly: $ratio")
  }

  test("soak: sessionization shuffle scales ~linearly at 10x events") {
    val sparkS = spark
    import sparkS.implicits._
    // users scale with n (fixed per-user density): the per-user windows
    // and session aggregate all key on user_id, so shuffle bytes track
    // the event count linearly — no per-user blowup, no global sort
    def eventsAt(n: Long) = spark.range(n).select(
        ($"id" % (n / 100)).as("user_id"), $"id".as("event_id"),
        ($"id" * 3600000000L / (n / 100)).as("ts_us"),
        element_at(array(lit("view"), lit("purchase")),
          ($"id" % 2 + 1).cast("int")).as("event_type"))
      .repartition(8)
    val s1 = measure(graft.queries.Analytics.sessionize(eventsAt(20000L)))
    val s10 = measure(graft.queries.Analytics.sessionize(eventsAt(200000L)))
    assert(s1._1 > 0, "sessionize: no shuffle measured at base size")
    val ratio = s10._1.toDouble / s1._1
    info(f"sessionize: shuffle ${s1._1}B -> ${s10._1}B ($ratio%.1fx)")
    assert(ratio < 25, s"sessionize shuffle grew superlinearly: $ratio")
    assert(ratio > 3, s"sessionize shuffle growth suspiciously flat: $ratio")
  }

  test("soak: rolling-DAU fan-out shuffle scales ~linearly at 10x events") {
    val sparkS = spark
    import sparkS.implicits._
    // the 7x window fan-out is a constant factor and the distinct
    // (day, user) pairs are bounded by 7·n — shuffle must stay linear
    def dauAt(n: Long) = spark.range(n).select(
        expr(s"date_add(date '2024-01-01', cast(id % 60 as int))").as("day"),
        ($"id" % (n / 50)).as("user_id"))
      .repartition(8)
    val d1 = measure(graft.queries.Analytics.rollingDau(dauAt(20000L)))
    val d10 = measure(graft.queries.Analytics.rollingDau(dauAt(200000L)))
    assert(d1._1 > 0, "rollingDau: no shuffle measured at base size")
    val ratio = d10._1.toDouble / d1._1
    info(f"rollingDau: shuffle ${d1._1}B -> ${d10._1}B ($ratio%.1fx)")
    assert(ratio < 25, s"rolling-DAU shuffle grew superlinearly: $ratio")
  }

  test("soak: pareto local-skyline shuffle scales ~linearly at 10x points") {
    val sparkS = spark
    import sparkS.implicits._
    // the bucket window shuffles all n rows once; survivors are tiny
    // (O(log n) expected), so the exact global pass costs ~nothing
    def ptsAt(n: Long) = spark.range(n).select($"id",
        (pmod(hash($"id" * 7), lit(100000)) + 1).as("price_x100"),
        (pmod(hash($"id" * 13 + 1), lit(500)) + 1).as("p_size"))
      .repartition(8)
    val p1 = measure(graft.queries.Analytics.paretoFrontier(ptsAt(20000L)))
    val p10 = measure(graft.queries.Analytics.paretoFrontier(ptsAt(200000L)))
    assert(p1._1 > 0, "pareto: no shuffle measured at base size")
    val ratio = p10._1.toDouble / p1._1
    info(f"pareto: shuffle ${p1._1}B -> ${p10._1}B ($ratio%.1fx)")
    assert(ratio < 25, s"pareto shuffle grew superlinearly: $ratio")
  }

  test("soak: union-find contraction keeps component rounds FLAT at 10x " +
       "chain length (and shuffle ~linear)") {
    val sparkS = spark
    import sparkS.implicits._
    // a path graph is the adversarial diameter case: raw star alternation
    // pays O(log diameter) global rounds, so 10x the chain would ADD
    // rounds. The per-partition union-find contraction bounds residual
    // hops by the number of partition CROSSINGS — a property of the
    // layout, not the data size — whenever the input has locality (each
    // partition holds edges of adjacent vertices). That is the production
    // regime: the LSH pair lists explode per bucket, so a partition holds
    // whole near-dup neighborhoods. Pin it with contiguous range slices:
    // rounds must stay FLAT at 10x the chain and shuffle ~linear.
    def chainAt(n: Long) = spark.range(0L, n - 1, 1L, 8)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
    // the rounds run EAGERLY inside the call (checkpoint + fixpoint
    // probes), so the whole computation must happen under the probe
    var rounds1 = -1; var rounds10 = -1
    var df10: org.apache.spark.sql.DataFrame = null
    val (bytes1, _) = measure {
      val (df, r) = graft.operators.Components
        .connectedComponentsWithRounds(chainAt(3000L))
      rounds1 = r; df
    }
    val (bytes10, _) = measure {
      val (df, r) = graft.operators.Components
        .connectedComponentsWithRounds(chainAt(30000L))
      rounds10 = r; df10 = df; df
    }
    info(s"components(local chains): rounds $rounds1 -> $rounds10, " +
      f"shuffle ${bytes1}B -> ${bytes10}B (${bytes10.toDouble / bytes1}%.1fx)")
    assert(rounds10 <= rounds1,
      s"global rounds grew with chain length ($rounds1 -> $rounds10): " +
        "the contraction is not bounding hops by partition crossings")
    assert(rounds10 <= 3,
      s"8 contiguous slices must collapse in <=3 global rounds: $rounds10")
    assert(df10.filter(col("component") =!= 0L).isEmpty,
      "30k-chain must collapse to component 0")
    val ratio = bytes10.toDouble / math.max(bytes1, 1)
    assert(ratio < 25, s"component shuffle grew superlinearly: $ratio")

    // the adversarial regime — locality destroyed by round-robin — must
    // degrade gracefully to the raw O(log diameter) alternation bound,
    // never worse, and stay exact
    val scattered = spark.range(0L, 2999L, 1L, 8)
      .select($"id".as("src"), ($"id" + 1).as("dst")).repartition(8)
    val (dfS, roundsS) =
      graft.operators.Components.connectedComponentsWithRounds(scattered)
    info(s"components(scattered chain): rounds $roundsS")
    assert(roundsS <= 14, // ceil(log2(3000)) + small-star cleanup slack
      s"scattered chain exceeded the star-alternation bound: $roundsS")
    assert(dfS.filter(col("component") =!= 0L).isEmpty,
      "scattered chain must still collapse to component 0")
  }

  test("soak: basket pair mining shuffle ~linear at 10x baskets") {
    val sparkS = spark
    import sparkS.implicits._
    // FIXED basket size (8 items): the keyed self-join fans out a
    // constant 28 pairs per basket — total work linear in baskets
    def itemsAt(n: Long) = spark.range(n * 8).select(
        ($"id" / 8).cast("long").as("l_orderkey"),
        pmod(hash($"id" * 31), lit(2000)).as("l_partkey"))
      .distinct().repartition(8)
    val b1 = measure(graft.queries.Analytics.basketPairs(itemsAt(2000L), 2))
    val b10 = measure(graft.queries.Analytics.basketPairs(itemsAt(20000L), 2))
    assert(b1._1 > 0, "baskets: no shuffle measured at base size")
    val ratio = b10._1.toDouble / b1._1
    info(f"baskets: shuffle ${b1._1}B -> ${b10._1}B ($ratio%.1fx)")
    assert(ratio < 25, s"basket pair space grew superlinearly: $ratio")
  }

  test("soak: trained langid shuffle ~linear at 10x corpus (model vocab-bound)") {
    val sparkS = spark
    import sparkS.implicits._
    // the model side (bigram counts, totals, vocab) is bounded by the
    // character-bigram vocabulary and broadcasts; only the doc-side
    // explode and per-doc score aggregation scale with the corpus
    def docsAt(n: Long) = syntheticDocs(n).select($"doc_id",
      concat(lit("l"), pmod($"doc_id", lit(5))).as("lang"), $"text")
    val l1 = measure(graft.queries.Analytics.langidNgram(docsAt(3000L)))
    val l10 = measure(graft.queries.Analytics.langidNgram(docsAt(30000L)))
    assert(l1._1 > 0, "langid: no shuffle measured at base size")
    val ratio = l10._1.toDouble / l1._1
    info(f"langid: shuffle ${l1._1}B -> ${l10._1}B ($ratio%.1fx)")
    assert(ratio < 25, s"langid shuffle grew superlinearly: $ratio")
  }

  private final class TaskMetricsProbe
      extends org.apache.spark.scheduler.SparkListener {
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val peakMem = new java.util.concurrent.atomic.AtomicLong
    // per-TASK maxima — the "flat at scale" signals: a well-partitioned
    // job grows its task COUNT with the data while each task's read
    // volume and memory stay constant
    val maxTaskPeakMem = new java.util.concurrent.atomic.AtomicLong
    val maxTaskShuffleRead = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        peakMem.addAndGet(m.peakExecutionMemory)
        maxTaskPeakMem.accumulateAndGet(m.peakExecutionMemory, Math.max)
        maxTaskShuffleRead.accumulateAndGet(
          m.shuffleReadMetrics.totalBytesRead, Math.max)
      }
    }
  }

  /** Like [[measure]] but also returns the per-task maxima:
    * (total shuffle-write bytes, max task peak-exec memory,
    * max task shuffle-read bytes).
    */
  private def measure3(
      df: => org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val probe = new TaskMetricsProbe
    spark.sparkContext.addSparkListener(probe)
    try {
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(probe)
    (probe.shuffleBytes.get, probe.maxTaskPeakMem.get,
      probe.maxTaskShuffleRead.get)
  }

  private def collectQs(df: org.apache.spark.sql.DataFrame) = {
    val sparkS = spark
    import sparkS.implicits._
    df.select($"lang", $"source", $"qs").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getSeq[Double](2))).toMap
  }

  /** Exact quantiles at p+delta (clamped to [0,1]) per (lang, source). */
  private def widened(docs: org.apache.spark.sql.DataFrame, delta: Double) = {
    val sparkS = spark
    import sparkS.implicits._
    val ps = Seq(0.25, 0.5, 0.75, 0.9)
      .map(p => math.min(1.0, math.max(0.0, p + delta)))
    docs.filter(length(trim($"text")) > 0)
      .select($"lang", $"source",
        size(split(trim($"text"), " +")).cast("double").as("tokens"))
      .groupBy($"lang", $"source")
      .agg(percentile($"tokens", array(ps.map(lit): _*)).as("qs"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getSeq[Double](2))).toMap
  }

  test("heap-sizing model classifies every rung of the measured 10560² " +
       "soak ladder") {
    // The measured ladder (ProfileCube <tiles> <dates> 10560 1 at block
    // 256, local[32], buckets 32 — NOTES_r17/r18): completion is the
    // signal, peak-used saturates under G1. Composite groups are
    // 3528/tile at this shape; stack depth = dates.
    val GB = 1024L * 1024 * 1024
    def rec(tiles: Int, depth: Int): Long = Scale.recommendedHeapBytes(
      cores = 32, blockPx = 256, stackDepth = depth,
      compositeGroups = 3528L * tiles, buckets = 32)
    // conservative band: the rule may ask for at most 10% more than a
    // heap that measurably completed (the 4×4 rung completed at 10 GB,
    // the rule asks 10.1 GB)...
    val band = 1.10
    for ((tiles, depth, okGb) <- Seq((1, 2, 8), (1, 4, 8), (4, 2, 8),
        (4, 4, 10), (4, 4, 12), (4, 4, 24)))
      assert(rec(tiles, depth) <= (okGb * GB * band).toLong,
        s"rule demands ${rec(tiles, depth) / 1e9} GB for a " +
          s"$tiles×$depth run that completed at $okGb GB")
    // ...and must demand MORE than every heap that measurably OOM'd —
    // an operator following the rule never lands on a failing rung
    for ((tiles, depth, oomGb) <- Seq((4, 4, 8), (4, 2, 5)))
      assert(rec(tiles, depth) > oomGb * GB,
        s"rule under-sizes a $tiles×$depth run that OOM'd at $oomGb GB")
    // shape sanity: monotone in depth and data volume, and the fixed
    // terms are built from the session bounds CubeRun actually sets
    assert(rec(4, 4) > rec(4, 2) && rec(4, 2) > rec(1, 2))
    assert(Scale.perSlotFixedBytes(256, 2) ==
      Scale.BlockParquetRowGroupBytes +
        (Scale.BlockParquetCheckRowsMax + Scale.BlockReaderBatchRows) *
          Scale.blockBytes(256) +
        Scale.CompositeAggInFlightBuffers.toLong * 2 * 2 *
          Scale.blockBytes(256))
    // inversion round-trip: bucketing a 100 TB-class group count to a
    // fixed per-slot budget brings the forward rule back under that
    // budget (one-group granularity slop at most)
    val budget = 768L * 1024 * 1024
    for ((groups, depth) <- Seq((81_000_000L, 20), (14_112L, 4))) {
      val buckets = Scale.recommendedBuckets(256, depth, groups, budget)
      val heap = Scale.recommendedHeapBytes(32, 256, depth, groups, buckets)
      val perSlot = (heap - Scale.DriverBaseBytes) / math.min(32, buckets)
      assert(perSlot <= budget +
        (Scale.AggResidentFraction * 2 * depth * Scale.blockBytes(256)).toLong,
        s"inverted buckets=$buckets must fit the $budget B/slot budget, " +
          s"got $perSlot")
    }
    // an impossible budget names the fixed buffers instead of dividing
    // by ~zero
    intercept[IllegalArgumentException] {
      Scale.recommendedBuckets(512, 30, 1L, 64L * 1024 * 1024)
    }
    // exact-volume variant: identical to the fixed-depth rule when all
    // periods share one depth...
    val gpt = (3528L * 4 + 31) / 32
    assert(Scale.recommendedHeapBytesForVolume(32, 256, 4,
      Scale.perTaskAggBytes(256, 4, gpt) * 32, 32) ==
      Scale.recommendedHeapBytes(32, 256, 4, 3528L * 4, 32))
    // ...and classifies the measured mixed-depth 4×8 rung (Σ depth 32
    // across 8 (tile, period) pairs, spectral bands 2, 1764 blocks/tile;
    // completed HEALTHY at 20 GB — 290 s — and mildly degraded at 14 GB
    // — 306.8 s): the rule must clear the healthy rung within the band
    // and sit above the degraded one
    val totalAgg48 = 2L * 32 * 2 * 1764 * Scale.blockBytes(256)
    val rec48 = Scale.recommendedHeapBytesForVolume(32, 256, 5, totalAgg48, 32)
    assert(rec48 <= (20L * GB * band).toLong,
      s"volume rule demands $rec48 for a run that completed at 20 GB")
    assert(rec48 > 14L * GB,
      s"volume rule must sit above the degraded 14 GB rung, got $rec48")
  }
}
