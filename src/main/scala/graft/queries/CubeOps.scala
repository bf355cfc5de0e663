package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PixelOps
import graft.model.MaskDef
import graft.operators.Composite

/** SURVEY §2.2-§2.4 cube operators exercised through the engine's own
  * implementations (composite/mosaic aggregators, pixel ops, timeline) over
  * the synthetic tables, with independent DuckDB SQL oracles.
  *
  * The pixel model for the aggregator gates: each lineitem row is one
  * 1-sample observation of its order's "pixel": priority = inverse line
  * number (unique per group), QA class from `l_returnflag`
  * (N→0 clear, R→2, else 4), band nodata −9999 injected on high-tax
  * non-clear rows (so clear ⇒ valid and the oracle stays a closed-form
  * `coalesce(arg_min FILTER clear, arg_min FILTER valid)` — the quirk paths
  * where clear rows carry nodata are covered by unit tests instead).
  */
object CubeOps {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  private val mask = MaskDef(clearData = Seq(0L), notClearData = Seq(2L, 4L), nodata = 255L)
  private val Nodata = -9999

  /** Bucketed orders/customer copies for `m1e_bucketed_join`, written once
    * per (JVM, sfDir) and reused by every later invocation. Table names
    * carry a per-write unique suffix so two sessions sharing a warehouse
    * never collide on a fixed name, and the backing temp directory is
    * removed by a shutdown hook instead of leaking one copy per run.
    */
  private val bucketedTables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def bucketedPair(s: SparkSession, d: String): (String, String) =
    bucketedTables.computeIfAbsent(d, _ => {
      import graft.operators.Scale
      val tmp = graft.core.Fs.tempDirDeletedAtExit("graft-bucketed")
      val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val ordersTable = s"g_orders_b_$suffix"
      val custTable = s"g_cust_b_$suffix"
      Scale.writeBucketed(
        orders(s, d).select(col("o_custkey"), col("o_totalprice")),
        ordersTable, "o_custkey", 8, Some(s"$tmp/o"))
      Scale.writeBucketed(
        customer(s, d).select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        custTable, "o_custkey", 8, Some(s"$tmp/c"))
      (ordersTable, custTable)
    })

  /** The shared pixel-model projection of lineitem. `l_linenumber` is NOT
    * unique per order in the synthetic data, so the asset order `rn` is a
    * row_number over the unique triple (linenumber, partkey, suppkey) —
    * identical in Spark and the oracle, making arg-min/-max picks total.
    */
  private[queries] def pixelModel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"l_orderkey")
      .orderBy($"l_linenumber", $"l_partkey", $"l_suppkey")
    lineitem(s, d).select(
      $"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
      ($"l_suppkey" % 8).cast("int").as("src"),
      when($"l_returnflag" === "N", 0)
        .when($"l_returnflag" === "R", 2).otherwise(4).as("qa"),
      when($"l_returnflag" =!= "N" && $"l_tax" > 0.06, Nodata)
        .otherwise($"l_quantity".cast("int") * 100 + $"l_linenumber".cast("int"))
        .as("val"))
      .withColumn("rn", row_number().over(w))
      .drop("l_linenumber", "l_partkey", "l_suppkey")
  }

  private[queries] val pixelModelSql =
    """SELECT l_orderkey,
       CAST(row_number() OVER (PARTITION BY l_orderkey
         ORDER BY l_linenumber, l_partkey, l_suppkey) AS INT) AS rn,
       CAST(l_suppkey % 8 AS INT) AS src,
       CASE WHEN l_returnflag = 'N' THEN 0 WHEN l_returnflag = 'R' THEN 2 ELSE 4 END AS qa,
       CASE WHEN l_returnflag <> 'N' AND l_tax > 0.06 THEN -9999
            ELSE CAST(trunc(l_quantity) AS INT)*100 + CAST(l_linenumber AS INT) END AS val
       FROM lineitem"""

  private def compositeResult(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // TypedImperativeAggregate path: the observation buffer lives as a raw
    // JVM object in the hash map and serializes only at shuffle boundaries
    // (an Aggregator-via-udaf buffer re-encodes on every input row).
    val c = Composite.compositeAgg(mask)(
      (lit(100000) - $"rn").cast("double"),
      $"rn", $"src", array($"val"), array($"qa"), lit(Nodata))
    pixelModel(s, d).groupBy($"l_orderkey").agg(c.as("c"))
  }

  val queries: Map[String, Q] = Map(
    // M1 — asset↔tile bbox join as a broadcast range join over price tiles
    "m1_bbox_join" -> ((s, d) => {
      import s.implicits._
      val tiles = Seq.tabulate(12)(i => (i, i * 50000.0, i * 50000.0 + 60000.0))
        .toDF("tile", "lo", "hi")
      orders(s, d)
        .join(broadcast(tiles), $"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
        .groupBy($"tile")
        .agg(count(lit(1)).as("n"),
          floor(sum($"o_totalprice") * 100 + 0.5).cast("long").as("total_x100"))
        .orderBy($"tile")
    }),

    // M1 at scale — the same bbox join through Scale.bucketedRangeJoin:
    // ranges explode to coarse grid cells, points hash to one cell, and
    // the join is a plain HASH join on the cell id (+ exact filter) —
    // the shape that survives when the tile table outgrows a broadcast.
    // Same rows as m1_bbox_join; plan-gated against nested loops
    "m1b_bbox_bucket" -> ((s, d) => {
      import s.implicits._
      val tiles = Seq.tabulate(12)(i => (i, i * 50000.0, i * 50000.0 + 60000.0))
        .toDF("tile", "lo", "hi")
      graft.operators.Scale.bucketedRangeJoin(
          orders(s, d), "o_totalprice", tiles, "lo", "hi", cellSize = 50000.0)
        .groupBy($"tile")
        .agg(count(lit(1)).as("n"),
          floor(sum($"o_totalprice") * 100 + 0.5).cast("long").as("total_x100"))
        .orderBy($"tile")
    }),

    // M1 under a hot key — the same rows through Scale.saltedJoin: ranges
    // explode to grid cells (m1b shape) and the cell equi-join salts the
    // big side into 8 sub-keys with the cell table replicated, so one
    // mega-cell cannot pin a task. Output is salt-invariant: same rows
    // as m1_bbox_join, gated against the identical oracle.
    "m1c_salted" -> ((s, d) => {
      import s.implicits._
      val tiles = Seq.tabulate(12)(i => (i, i * 50000.0, i * 50000.0 + 60000.0))
        .toDF("tile", "lo", "hi")
      val cells = tiles.filter($"hi" > $"lo").withColumn("cell", explode(
        sequence(floor($"lo" / 50000.0).cast("long"),
          (ceil($"hi" / 50000.0) - 1).cast("long"))))
      val pts = orders(s, d)
        .withColumn("cell", floor($"o_totalprice" / 50000.0).cast("long"))
      graft.operators.Scale.saltedJoin(pts, cells, "cell", salts = 8)
        .filter($"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
        .groupBy($"tile")
        .agg(count(lit(1)).as("n"),
          floor(sum($"o_totalprice") * 100 + 0.5).cast("long").as("total_x100"))
        .orderBy($"tile")
    }),

    // Co-located join through Scale.writeBucketed: both sides persisted
    // bucketed+sorted on the join key, then joined with a SELF-PINNED
    // zero-exchange plan (the query raises if the join plans a shuffle) —
    // the lever that converts a 100 TB repeated shuffle into a one-time
    // write. The bucketed copies are written ONCE per (JVM, sfDir) into a
    // shutdown-cleaned temp dir under collision-free table names (two
    // sessions sharing a warehouse can't race on a fixed name), and every
    // later invocation — second bench sweep, repeated correctness passes —
    // reuses them, which is exactly the amortization story the lever
    // exists to demonstrate. Rows gated against the plain orders⋈customer
    // oracle.
    "m1e_bucketed_join" -> ((s, d) => {
      import s.implicits._
      val (ordersTable, custTable) = bucketedPair(s, d)
      val probe = s.table(ordersTable).join(s.table(custTable), "o_custkey")
      val exchanges = graft.operators.Scale.shuffleExchangeCount(probe)
      if (exchanges != 0)
        throw new IllegalStateException(
          s"bucketed join planned $exchanges shuffle exchange(s); expected 0")
      probe.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          floor(sum($"o_totalprice") * 100 + 0.5).cast("long").as("total_x100"))
        .orderBy($"c_mktsegment")
    }),

    // M2/M3 — mosaic overlay via the MosaicAggregator: combined mode fills
    // holes (first valid in asset order), single mode overwrites (last valid)
    "m2_mosaic_overlay" -> ((s, d) => {
      import s.implicits._
      val combined = Composite.mosaicAgg(Nodata, combined = true)(
        $"rn", $"src", array($"val"))
      val overlay = Composite.mosaicAgg(Nodata, combined = false)(
        $"rn", $"src", array($"val"))
      pixelModel(s, d)
        .groupBy($"l_orderkey")
        .agg(combined.as("cb"), overlay.as("ov"))
        .select($"l_orderkey",
          element_at($"cb.value", 1).as("first_val"),
          element_at($"cb.datasource", 1).as("first_src"),
          element_at($"ov.value", 1).as("last_val"))
        .orderBy($"l_orderkey")
    }),

    // T2/T7/T8/T5/T6 — LCF composite with companion bands
    "t2_lcf_composite" -> ((s, d) => {
      import s.implicits._
      compositeResult(s, d).select($"l_orderkey",
        element_at($"c.value", 1).as("lcf_value"),
        element_at($"c.provenance", 1).as("lcf_prov"),
        element_at($"c.datasource", 1).as("lcf_src"),
        element_at($"c.clearob", 1).as("clearob"),
        element_at($"c.totalob", 1).as("totalob"))
        .orderBy($"l_orderkey")
    }),

    // T2 + P6-bitwise — LCF composite under a Landsat-C2-style bit mask
    "t2b_lcf_bitwise" -> ((s, d) => {
      import s.implicits._
      val bitMask = MaskDef(clearData = Seq(6L), notClearData = Seq(1L, 3L),
        nodata = 255L, bits = true)
      val agg = Composite.compositeAgg(bitMask)(
        (lit(100000) - $"rn").cast("double"),
        $"rn", $"src", array($"valb"), array($"qab"), lit(Nodata))
      pixelModel(s, d)
        .withColumn("qab",
          when($"qa" === 0, 64).otherwise(0) +          // clear bit 6
          when($"val" % 3 === 0, 8).otherwise(0) +      // cloud bit 3
          when($"val" % 5 === 0, 2).otherwise(0))       // dilated bit 1
        .withColumn("valb", abs($"val"))                // keep all samples valid
        .groupBy($"l_orderkey")
        .agg(agg.as("c"))
        .select($"l_orderkey",
          element_at($"c.value", 1).as("lcf_value"),
          element_at($"c.provenance", 1).as("lcf_prov"),
          element_at($"c.clearob", 1).as("clearob"),
          element_at($"c.totalob", 1).as("totalob"))
        .orderBy($"l_orderkey")
    }),

    // T3/T4 — median / average composites
    "t3_med_avg_composite" -> ((s, d) => {
      import s.implicits._
      compositeResult(s, d).select($"l_orderkey",
        element_at($"c.median", 1).as("med_val"),
        element_at($"c.average", 1).as("avg_val"))
        .orderBy($"l_orderkey")
    }),

    // M5/T11 — efficacy & cloud-ratio statistics (conditional counts).
    // Uses a window-free QA projection (the row_number of pixelModel is
    // irrelevant to counting) and broadcasts nothing — a single shuffle.
    "m5_qa_stats" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .select($"l_orderkey",
          when($"l_returnflag" === "N", 0)
            .when($"l_returnflag" === "R", 2).otherwise(4).as("qa"))
        .join(orders(s, d).select($"o_orderkey", $"o_orderstatus"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus")
        .agg(
          sum(when($"qa" === 0, 1L).otherwise(0L)).as("clear"),
          sum(when($"qa".isin(2, 4), 1L).otherwise(0L)).as("notclear"),
          count(lit(1)).as("total"))
        .select($"o_orderstatus", $"clear", $"notclear", $"total",
          floor(lit(10000.0) * $"clear" / $"total" + 0.5).cast("long").as("efficacy_x100"),
          when($"clear" + $"notclear" === 0, 10000L)
            .otherwise(floor(lit(10000.0) * $"notclear" / ($"clear" + $"notclear") + 0.5)
              .cast("long")).as("cloud_x100"))
        .orderBy($"o_orderstatus")
    }),

    // T1 — scene priority ordering (window rank)
    "t1_priority_rank" -> ((s, d) => {
      import s.implicits._
      // top-2 per order via the q21-measured collect_list fold (orders
      // hold ≤7 lineitems, so the per-group array is constant-bounded):
      // sort_array over the full ordering struct replays the window's
      // (shipdate, linenumber, partkey, suppkey) total order exactly,
      // with map-side partial buffering instead of a corpus-wide
      // window sort
      lineitem(s, d)
        .groupBy($"l_orderkey")
        .agg(slice(sort_array(collect_list(struct(
          $"l_shipdate", $"l_linenumber", $"l_partkey", $"l_suppkey"))),
          1, 2).as("top"))
        .select($"l_orderkey", posexplode($"top").as(Seq("i", "e")))
        .select($"l_orderkey", $"e.l_linenumber".cast("int").as("ln"),
          ($"i" + 1).cast("int").as("rn"))
        .orderBy($"l_orderkey", $"rn")
    }),

    // T10 — histogram-matching primitive: per-group CDF via percent_rank
    "t10_cdf" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
      lineitem(s, d).filter($"l_orderkey" <= 2000)
        .select($"l_orderkey", $"l_linenumber".cast("int").as("ln"),
          $"l_returnflag", $"l_quantity".cast("int").as("q"),
          floor(percent_rank().over(w) * 10000 + 0.5).cast("long").as("pr_x10000"))
        .orderBy($"l_orderkey", $"ln", $"q", $"pr_x10000")
    }),

    // P2 — linear rescale with clamp (Landsat C2 parameters)
    "p2_rescale" -> ((s, d) => {
      import s.implicits._
      part(s, d)
        .select($"p_partkey", ($"p_retailprice" * 10).cast("int").as("px"))
        .select($"p_partkey",
          PixelOps.rescaleS($"px", lit(-1), 0.0000275, -0.2, 0.0001, "uint16")
            .cast("int").as("rescaled"))
        .orderBy($"p_partkey")
    }),

    // P4/P5 — QA bit and bit-range extraction
    "p4p5_bits" -> ((s, d) => {
      import s.implicits._
      orders(s, d).filter($"o_orderkey" <= 5000)
        .select($"o_orderkey",
          ($"o_orderkey".bitwiseAND(255)).cast("int").as("low8"),
          PixelOps.bitRangeS($"o_orderkey", 3, 7).cast("int").as("mid5"),
          PixelOps.qaBitS($"o_orderkey", 4).cast("int").as("bit4"))
        .orderBy($"o_orderkey")
    }),

    // P6 — value-list QA classification
    "p6_classify" -> ((s, d) => {
      import s.implicits._
      val m = MaskDef(clearData = Seq(0, 1), notClearData = Seq(2, 3, 4),
        saturatedData = Seq(9), nodata = 11)
      customer(s, d)
        .select($"c_custkey", ($"c_custkey" % 12).cast("int").as("qa"))
        .select($"c_custkey", $"qa", PixelOps.classifyS($"qa", m).cast("int").as("cls"))
        .orderBy($"c_custkey")
    }),

    // P8 — band-expression evaluation (NDVI-style) through the parser
    "p8_band_expr" -> ((s, d) => {
      import s.implicits._
      lineitem(s, d).filter($"l_orderkey" <= 3000)
        .select($"l_orderkey", $"l_linenumber".cast("int").as("ln"),
          $"l_extendedprice".as("B8A"), ($"l_quantity" * 1000).as("B04"))
        .select($"l_orderkey", $"ln",
          PixelOps.bandExprS(Map("B8A" -> col("B8A"), "B04" -> col("B04")),
            "10000.*((B8A-B04)/(B8A+B04))", "int16", Nodata).as("ndvi"))
        .orderBy($"l_orderkey", $"ln", $"ndvi")
    }),

    // P11 — item-ID templating
    "p11_item_format" -> ((s, d) => {
      import s.implicits._
      orders(s, d).filter($"o_orderkey" <= 2000)
        .select($"o_orderkey",
          PixelOps.itemId(concat(lit("cube-"), $"o_orderstatus"), lit(1),
            lpad(($"o_custkey" % 100).cast("string"), 6, "0"),
            $"o_orderdate").as("item_id"))
        .orderBy($"o_orderkey")
    }),

    // §2.7 — date stepping functions
    "f_dates" -> ((s, d) => {
      import s.implicits._
      orders(s, d).filter($"o_orderkey" <= 3000)
        .select($"o_orderkey",
          date_format(date_add($"o_orderdate", 3), "yyyy-MM-dd").as("plus3d"),
          date_format(add_months($"o_orderdate", 2), "yyyy-MM-dd").as("plus2m"),
          date_format(last_day($"o_orderdate"), "yyyy-MM-dd").as("eom"),
          datediff($"o_orderdate", lit("1995-01-01").cast("date")).cast("long").as("ddiff"),
          dayofyear($"o_orderdate").cast("long").as("doy"))
        .orderBy($"o_orderkey")
    }),

    // §2.7 — regex scene-id style parsing
    "f_regex" -> ((s, d) => {
      import s.implicits._
      customer(s, d)
        .select($"c_custkey",
          regexp_extract($"c_name", "Customer#([0-9]+)", 1).cast("long").as("num"),
          upper(substring($"c_mktsegment", 1, 3)).as("seg3"))
        .orderBy($"c_custkey")
    }),

    // C12 — cyclic 16-day timeline over 2020, generated by the engine
    "c12_timeline" -> ((s, d) => {
      import s.implicits._
      Timelines.cyclic16Day2020(s).orderBy($"p_start")
    }),

    // C14 — dispatch-range period filter over the same timeline
    "c14_period_filter" -> ((s, d) => {
      import s.implicits._
      Timelines.cyclic16Day2020(s)
        .filter($"p_start" >= "2020-03-01" && $"p_end" <= "2020-11-01")
        .orderBy($"p_start")
    }),

    // P7 — Landsat C2 confidence rules, parsed from reference-style rule
    // strings ("cloud >= MEDIUM", utils/image.py:434-511)
    "p7_confidence" -> ((s, d) => {
      import s.implicits._
      orders(s, d).filter($"o_orderkey" <= 4000)
        .select($"o_orderkey",
          PixelOps.bitRangeS($"o_orderkey", 8, 9).cast("int").as("conf_field"),
          when(PixelOps.confidenceS($"o_orderkey", "cloud >= MEDIUM"), 1)
            .otherwise(0).cast("int").as("cloud_ge_medium"),
          when(PixelOps.confidenceS($"o_orderkey", "cloud == HIGH"), 1)
            .otherwise(0).cast("int").as("cloud_high"))
        .orderBy($"o_orderkey")
    }),

    // P9 — cross-band nodata repair through the engine's repairQuality
    "p9_repair" -> ((s, d) => {
      import s.implicits._
      val base = lineitem(s, d).select(
        $"l_orderkey", $"l_linenumber".cast("int").as("ln"),
        $"l_partkey", $"l_suppkey",
        when($"l_partkey" % 11 === 0, 255)
          .when($"l_returnflag" === "N", 0).otherwise(2).as("qa"),
        when($"l_discount" > 0.08, -9999).otherwise(1).as("b1"),
        when($"l_quantity" < 3, -9999).otherwise(1).as("b2"))
      base.select($"l_orderkey", $"ln", $"l_partkey", $"l_suppkey", $"qa",
        Composite.repairQualityS($"qa", lit(255), lit(1),
          Seq(($"b1", lit(-9999)), ($"b2", lit(-9999)))).as("qa_repaired"))
        .orderBy($"l_orderkey", $"ln", $"l_partkey", $"l_suppkey")
        .drop("l_partkey", "l_suppkey")
    }),

    // S6 — Sentinel-2 processing-baseline offset
    "s6_baseline_offset" -> ((s, d) => {
      import s.implicits._
      part(s, d)
        .select($"p_partkey", $"p_retailprice".cast("int").as("px"),
          ($"p_size" % 5 + 1).cast("int").as("baseline"))
        .select($"p_partkey", $"baseline",
          PixelOps.baselineOffsetS($"px", $"baseline", lit(0)).cast("int")
            .as("offset_px"))
        .orderBy($"p_partkey")
    }),

    // C13 — grid tessellation through the engine's Grid.createTiles
    "g1_grid_tiles" -> ((s, d) => {
      import s.implicits._
      graft.core.Grid.createTiles("G", 150000.0, 100000.0, 0.0, 10000000.0,
        xl = 100000.0, xr = 1000000.0, yb = 8000000.0, yu = 9000000.0,
        srid = 100001)
        .map(t => (t.tileId, t.xmin, t.ymin, t.xmax, t.ymax))
        .toDF("tile_id", "xmin", "ymin", "xmax", "ymax")
        .orderBy($"tile_id")
    }),

    // C13b — proj4-string CRS front-end: Grid.fromProj4 parses the MODIS
    // sinusoidal sphere string and the forward math runs per-row on the
    // executors; the oracle recomputes the spherical sinusoidal formulas
    // with DuckDB trig (whole-meter rounding absorbs libm ULP skew)
    "g2_proj4_forward" -> ((s, d) => {
      import s.implicits._
      val proj = graft.core.Grid.fromProj4(
        "+proj=sinu +lon_0=-54 +a=6371007.181 +b=6371007.181 +units=m +no_defs")
      val fwd = udf((lon: Double, lat: Double) => {
        val (x, y) = proj.forward(lon, lat); Array(x, y)
      })
      nation(s, d).select($"n_nationkey".cast("int").as("key"),
          (lit(-74.0) + ($"n_nationkey" % 25).cast("double") * 1.8).as("lon"),
          (lit(-33.0) + ($"n_nationkey" * 7 % 37).cast("double")).as("lat"))
        .withColumn("xy", fwd($"lon", $"lat"))
        .select($"key",
          floor($"xy"(0) + 0.5).cast("long").as("x_m"),
          floor($"xy"(1) + 0.5).cast("long").as("y_m"))
        .orderBy($"key")
    }),

    // C13c — polar stereographic front-end (EPSG:3031-style Antarctic
    // CRS): Grid.fromProj4 parses the +lat_ts form and the Snyder 21-34
    // forward runs per-row on the executors; the oracle recomputes the
    // same published equations in DuckDB trig (whole-meter rounding
    // absorbs libm ULP skew, the g2 recipe)
    "g3_stere_forward" -> ((s, d) => {
      import s.implicits._
      val proj = graft.core.Grid.fromProj4(
        "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +k=1 +x_0=0 +y_0=0 " +
          "+datum=WGS84 +units=m +no_defs")
      val fwd = udf((lon: Double, lat: Double) => {
        val (x, y) = proj.forward(lon, lat); Array(x, y)
      })
      nation(s, d).select($"n_nationkey".cast("int").as("key"),
          (lit(-180.0) + ($"n_nationkey" % 25).cast("double") * 14.3).as("lon"),
          (lit(-85.0) + ($"n_nationkey" * 7 % 26).cast("double")).as("lat"))
        .withColumn("xy", fwd($"lon", $"lat"))
        .select($"key",
          floor($"xy"(0) + 0.5).cast("long").as("x_m"),
          floor($"xy"(1) + 0.5).cast("long").as("y_m"))
        .orderBy($"key")
    }),

    // C13d — Lambert azimuthal equal-area front-end (EPSG:3035 Europe):
    // same recipe over the Snyder 24-17..24-20 oblique ellipsoidal forward
    "g4_laea_forward" -> ((s, d) => {
      import s.implicits._
      val proj = graft.core.Grid.fromProj4(
        "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 " +
          "+ellps=GRS80 +units=m +no_defs")
      val fwd = udf((lon: Double, lat: Double) => {
        val (x, y) = proj.forward(lon, lat); Array(x, y)
      })
      nation(s, d).select($"n_nationkey".cast("int").as("key"),
          (lit(-25.0) + ($"n_nationkey" % 25).cast("double") * 2.8).as("lon"),
          (lit(28.0) + ($"n_nationkey" * 7 % 44).cast("double")).as("lat"))
        .withColumn("xy", fwd($"lon", $"lat"))
        .select($"key",
          floor($"xy"(0) + 0.5).cast("long").as("x_m"),
          floor($"xy"(1) + 0.5).cast("long").as("y_m"))
        .orderBy($"key")
    }),

    // C13f — oblique stereographic front-end (Snyder 21 over the
    // conformal latitude; the mid-latitude regional-CRS aspect): same
    // closed-form forward recipe as g3/g4
    "g6_stere_oblique" -> ((s, d) => {
      import s.implicits._
      val proj = graft.core.Grid.fromProj4(
        "+proj=stere +lat_0=52 +lon_0=5 +k=0.9999 +ellps=WGS84 +units=m +no_defs")
      val fwd = udf((lon: Double, lat: Double) => {
        val (x, y) = proj.forward(lon, lat); Array(x, y)
      })
      nation(s, d).select($"n_nationkey".cast("int").as("key"),
          (lit(-25.0) + ($"n_nationkey" % 25).cast("double") * 2.4).as("lon"),
          (lit(30.0) + ($"n_nationkey" * 7 % 45).cast("double")).as("lat"))
        .withColumn("xy", fwd($"lon", $"lat"))
        .select($"key",
          floor($"xy"(0) + 0.5).cast("long").as("x_m"),
          floor($"xy"(1) + 0.5).cast("long").as("y_m"))
        .orderBy($"key")
    }),

    // C13e — +towgs84 datum-shift leg (EPSG 9606 position vector +
    // Bowring geocentric->geodetic): both a 3-param ED50-style shift and
    // a full 7-param (rotations + scale) transform, datum -> WGS84
    // direction so the oracle's Helmert is the forward (linear) form
    "g5_datum_shift" -> ((s, d) => {
      import s.implicits._
      val ed50 = graft.core.Grid.fromProj4(
        "+proj=longlat +ellps=intl +towgs84=-87,-96,-120")
      val p7 = graft.core.Grid.fromProj4(
        "+proj=longlat +ellps=intl +towgs84=89.5,93.8,123.1,0.7,-0.3,0.156,-1.2")
      val inv3 = udf((lon: Double, lat: Double) => {
        val (lo, la) = ed50.inverse(lon, lat); Array(lo, la)
      })
      val inv7 = udf((lon: Double, lat: Double) => {
        val (lo, la) = p7.inverse(lon, lat); Array(lo, la)
      })
      nation(s, d).select($"n_nationkey".cast("int").as("key"),
          (lit(-9.0) + ($"n_nationkey" % 25).cast("double") * 0.8).as("lon"),
          (lit(36.0) + ($"n_nationkey" * 7 % 37).cast("double") * 0.5).as("lat"))
        .withColumn("w3", inv3($"lon", $"lat"))
        .withColumn("w7", inv7($"lon", $"lat"))
        .select($"key",
          floor($"w3"(0) * 1e7 + 0.5).cast("long").as("lon3_e7"),
          floor($"w3"(1) * 1e7 + 0.5).cast("long").as("lat3_e7"),
          floor($"w7"(0) * 1e7 + 0.5).cast("long").as("lon7_e7"),
          floor($"w7"(1) * 1e7 + 0.5).cast("long").as("lat7_e7"))
        .orderBy($"key")
    }),

    // S8 — availability probe over asset links (HEAD/readability check in
    // mapPartitions) feeding the per-date merge audit (validate_merges)
    "s8_availability" -> ((s, d) => {
      import s.implicits._
      import graft.operators.Availability
      val assets = nation(s, d).select(
        $"n_nationkey".cast("int").as("key"),
        concat(lit("B"), ($"n_nationkey" % 4 + 1).cast("int")).as("band"),
        format_string("1995-%02d", ($"n_nationkey" % 12 + 1).cast("int")).as("date"),
        when($"n_nationkey" % 3 === 0, lit(s"$d/nation.parquet"))
          .otherwise(concat(lit(s"$d/missing_"), $"n_nationkey".cast("int"),
            lit(".tif"))).as("link"))
      Availability.mergeAudit(Availability.probe(assets))
        .select($"date", $"total", $"ok_n", $"err_n",
          concat_ws(";", $"bands").as("bands"),
          concat_ws(";", $"errors").as("errs"))
        .orderBy($"date")
    }),

    // C11 — BandSRC provenance edges derived from band expressions by the
    // same parser that executes them
    "c11_band_src" -> ((s, d) => {
      import s.implicits._
      import graft.catalog.BandLineage
      import BandLineage.BandDef
      val catalog = Seq(
        BandDef(1, "B02"), BandDef(2, "B04"), BandDef(3, "B07"), BandDef(4, "B8A"),
        BandDef(9, "NDVI", Some("10000.*((B8A-B04)/(B8A+B04))")),
        BandDef(10, "EVI", Some("10000.*(2.5*(B8A-B04)/(B8A+6.*B04-7.5*B02+10000.))")),
        BandDef(11, "NBR", Some("10000.*((B8A-B07)/(B8A+B07))")))
      BandLineage.edges(s, catalog).orderBy($"band_id", $"band_src_id")
    }),

    // §2.8 — gap-based session windows over the events stream (batch shape
    // of StreamOps.sessionize; session_window is the same operator Spark
    // runs under Structured Streaming)
    "w_events_sessions" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          floor(sum($"value") * 100 + 0.5).cast("long").as("value_x100"))
        .select($"user_id",
          date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("sstart"),
          $"n", $"value_x100")
        .orderBy($"user_id", $"sstart")
    }),

    // §2.8 — stateful streaming dedup (batch shape of
    // StreamOps.dedupFirstSeen: first event per (user, type) key; the
    // flatMapGroupsWithState path is pinned against this shape in
    // StreamingSpec)
    "w_stream_dedup" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts", $"event_id")
      events(s, d)
        .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
        .select($"user_id", $"event_type", $"event_id",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("first_ts"),
          floor($"value" * 100 + 0.5).cast("long").as("value_x100"))
        .orderBy($"user_id", $"event_type")
    }),

    // §2.8 — stream-static enrichment (batch shape of
    // StreamOps.enrichStream: events left-join the broadcast customer
    // dimension; segment rolls up event traffic)
    "w_stream_enrich" -> ((s, d) => {
      import s.implicits._
      val dim = customer(s, d).select($"c_custkey", $"c_mktsegment")
      graft.streaming.StreamOps
        .enrichStream(events(s, d), dim, "user_id", "c_custkey")
        .groupBy(coalesce($"c_mktsegment", lit("none")).as("segment"),
          $"event_type")
        .agg(count(lit(1)).as("n"),
          floor(sum($"value") * 100 + 0.5).cast("long").as("value_x100"))
        .orderBy($"segment", $"event_type")
    }),

    // §2.8 — event-time-TTL dedup (batch replay of
    // dropDuplicatesWithinWatermark semantics; see
    // StreamOps.dedupEventTimeTtl — keep iff ts >= last kept + 12 h)
    "w_stream_dedup_ttl" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
        .as[graft.streaming.StreamOps.KeyedEvent]
      graft.streaming.StreamOps.dedupEventTimeTtl(ev, ttlMs = 43200000L)
        .toDF()
        .select($"user_id", $"event_type", $"event_id",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("kept_ts"),
          floor($"value" * 100 + 0.5).cast("long").as("value_x100"))
        .orderBy($"user_id", $"event_type", $"event_id")
    }),

    // §2.8 — sliding-window aggregation (batch shape of
    // StreamOps.slidingCounts: 1h windows sliding every 30min, so each
    // event lands in exactly two windows)
    "w_events_sliding" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy($"user_id", window($"ts", "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          floor(sum($"value") * 100 + 0.5).cast("long").as("value_x100"))
        .select($"user_id",
          date_format($"w.start", "yyyy-MM-dd HH:mm").as("wstart"),
          $"n", $"value_x100")
        .orderBy($"user_id", $"wstart")
    }),

    // §2.8 — stream-stream interval join through StreamOps.intervalJoin
    // (click → purchase within 30 minutes per user); batch runs the same
    // plan with the watermark eliminated
    "w_stream_join" -> ((s, d) => {
      import s.implicits._
      val e = events(s, d)
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts")
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      graft.streaming.StreamOps.intervalJoin(clicks, purchases, "30 MINUTES")
        .select(col("l.user_id").as("user_id"),
          (unix_micros(col("r.ts")) - unix_micros(col("l.ts"))).as("gap_us"),
          col("r.value").as("value"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"gap_us").as("gap_us_sum"),
          floor(sum($"value") * 100 + 0.5).cast("long").as("value_x100"))
        .orderBy($"user_id")
    }),

    // Rolling trailing-1h features at every event (range frame over
    // event-time micros): count / sum / max over [ts - 1h, ts] per user —
    // the per-event feature-engineering shape. One shuffle on user_id;
    // the range frame holds only the trailing hour in memory
    "w_rolling_1h" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"us")
        .rangeBetween(-3600000000L, 0L)
      events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("us"), $"value")
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h", floor(sum($"value").over(w) * 100 + 0.5).cast("long"))
        .withColumn("max_1h", floor(max($"value").over(w) * 100 + 0.5).cast("long"))
        .select($"user_id", $"event_id", $"us", $"n_1h", $"sum_1h", $"max_1h")
        .orderBy($"user_id", $"us", $"event_id")
    }),

    // As-of join (AsOf.asofJoin): each click annotated with the user's
    // latest purchase at or before it — union + tagged carry-forward
    // window, ONE shuffle on the key, no range-join row explosion. The
    // oracle is DuckDB's native ASOF LEFT JOIN: a genuinely independent
    // implementation of the same semantics
    "r_asof_join" -> ((s, d) => {
      import s.implicits._
      val e = events(s, d)
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts", $"event_id")
      // right rows must be unique per (key, ts): collapse value ties
      val purchases = e.filter($"event_type" === "purchase")
        .groupBy($"user_id", $"ts").agg(max($"value").as("pval"))
      graft.operators.AsOf.asofJoin(clicks, purchases, "user_id", "ts", Seq("pval"))
        .select($"user_id", $"event_id",
          unix_micros($"ts").as("cts_us"),
          unix_micros($"asof_ts").as("pts_us"),
          floor($"asof_pval" * 100 + 0.5).cast("long").as("pval_x100"))
        .orderBy($"user_id", $"cts_us", $"event_id")
    }),

    // §2.8 — LEFT OUTER interval join: clicks with no purchase inside the
    // gap survive null-padded (streaming: released once the watermark
    // passes click_ts + gap). Output is per-user join cardinality plus
    // the unmatched count
    "w_stream_join_left" -> ((s, d) => {
      import s.implicits._
      val e = events(s, d)
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts")
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      graft.streaming.StreamOps
        .intervalJoin(clicks, purchases, "30 MINUTES", "2 hours", "left_outer")
        .select(col("l.user_id").as("user_id"), col("r.ts").as("pts"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"pts".isNull, 1L).otherwise(0L)).as("n_unmatched"))
        .orderBy($"user_id")
    }),

    // §2.8 — FULL OUTER interval join: unmatched rows on BOTH sides
    // survive null-padded (streaming: each released once its side's
    // watermark passes). Per-user join cardinality plus both unmatched
    // counts
    "w_stream_join_full" -> ((s, d) => {
      import s.implicits._
      val e = events(s, d)
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts")
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      graft.streaming.StreamOps
        .intervalJoin(clicks, purchases, "30 MINUTES", "2 hours", "full_outer")
        .select(coalesce(col("l.user_id"), col("r.user_id")).as("user_id"),
          col("l.ts").as("cts"), col("r.ts").as("pts"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"pts".isNull, 1L).otherwise(0L)).as("n_no_purchase"),
          sum(when($"cts".isNull, 1L).otherwise(0L)).as("n_no_click"))
        .orderBy($"user_id")
    }),

    // §2.8 — tumbling-window aggregation over the events stream (batch shape
    // of the Structured-Streaming plan; see graft.streaming)
    "w_events_tumbling" -> ((s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy($"user_id", window($"ts", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          floor(sum($"value") * 100 + 0.5).cast("long").as("value_x100"))
        .select($"user_id",
          date_format($"w.start", "yyyy-MM-dd HH:mm").as("wstart"),
          $"n", $"value_x100")
        .orderBy($"user_id", $"wstart")
    }))

  private def tilesValues: String =
    Seq.tabulate(12)(i => s"(${i}, ${i * 50000.0}, ${i * 50000.0 + 60000.0})")
      .mkString(", ")

  val oracles: Map[String, String] = Map(
    "m1_bbox_join" ->
      s"""WITH tiles(tile, lo, hi) AS (VALUES $tilesValues)
         SELECT tile, count(*) AS n,
         CAST(floor(sum(o_totalprice)*100 + 0.5) AS BIGINT) AS total_x100
         FROM orders JOIN tiles ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY tile ORDER BY tile""",
    "m1b_bbox_bucket" ->
      s"""WITH tiles(tile, lo, hi) AS (VALUES $tilesValues)
         SELECT tile, count(*) AS n,
         CAST(floor(sum(o_totalprice)*100 + 0.5) AS BIGINT) AS total_x100
         FROM orders JOIN tiles ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY tile ORDER BY tile""",
    "m1c_salted" ->
      s"""WITH tiles(tile, lo, hi) AS (VALUES $tilesValues)
         SELECT tile, count(*) AS n,
         CAST(floor(sum(o_totalprice)*100 + 0.5) AS BIGINT) AS total_x100
         FROM orders JOIN tiles ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY tile ORDER BY tile""",
    "m1e_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n,
         CAST(floor(sum(o_totalprice)*100 + 0.5) AS BIGINT) AS total_x100
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "m2_mosaic_overlay" ->
      s"""WITH px AS ($pixelModelSql)
         SELECT l_orderkey,
         coalesce(arg_min(val, rn) FILTER (WHERE val <> -9999), -9999) AS first_val,
         coalesce(arg_min(src, rn) FILTER (WHERE val <> -9999), 255) AS first_src,
         coalesce(arg_max(val, rn) FILTER (WHERE val <> -9999), -9999) AS last_val
         FROM px GROUP BY l_orderkey ORDER BY l_orderkey""",
    "t2_lcf_composite" ->
      s"""WITH px AS ($pixelModelSql)
         SELECT l_orderkey,
         coalesce(arg_min(val, rn) FILTER (WHERE qa = 0),
                  arg_min(val, rn) FILTER (WHERE val <> -9999), -9999) AS lcf_value,
         coalesce(arg_min(rn, rn) FILTER (WHERE qa = 0),
                  arg_min(rn, rn) FILTER (WHERE val <> -9999), -1) AS lcf_prov,
         coalesce(arg_min(src, rn) FILTER (WHERE qa = 0),
                  arg_min(src, rn) FILTER (WHERE val <> -9999), 255) AS lcf_src,
         CAST(count(*) FILTER (WHERE qa = 0) AS INT) AS clearob,
         CAST(count(*) AS INT) AS totalob
         FROM px GROUP BY l_orderkey ORDER BY l_orderkey""",
    "t2b_lcf_bitwise" ->
      s"""WITH px AS ($pixelModelSql),
         pxb AS (SELECT l_orderkey, rn, src,
             (CASE WHEN qa = 0 THEN 64 ELSE 0 END)
               + (CASE WHEN val % 3 = 0 THEN 8 ELSE 0 END)
               + (CASE WHEN val % 5 = 0 THEN 2 ELSE 0 END) AS qab,
             abs(val) AS valb
           FROM px)
         SELECT l_orderkey,
         coalesce(arg_min(valb, rn) FILTER (WHERE (qab & 10) = 0 AND (qab & 64) <> 0),
                  arg_min(valb, rn) FILTER (WHERE valb <> -9999), -9999) AS lcf_value,
         coalesce(arg_min(rn, rn) FILTER (WHERE (qab & 10) = 0 AND (qab & 64) <> 0),
                  arg_min(rn, rn) FILTER (WHERE valb <> -9999), -1) AS lcf_prov,
         CAST(count(*) FILTER (WHERE (qab & 10) = 0 AND (qab & 64) <> 0) AS INT)
           AS clearob,
         CAST(count(*) AS INT) AS totalob
         FROM pxb GROUP BY l_orderkey ORDER BY l_orderkey""",
    "t3_med_avg_composite" ->
      s"""WITH px AS ($pixelModelSql)
         SELECT l_orderkey,
         CAST(coalesce(trunc(median(val) FILTER (WHERE qa = 0)), -9999) AS INT) AS med_val,
         CAST(coalesce(trunc(avg(val) FILTER (WHERE qa = 0)), -9999) AS INT) AS avg_val
         FROM px GROUP BY l_orderkey ORDER BY l_orderkey""",
    "m5_qa_stats" ->
      s"""WITH px AS ($pixelModelSql)
         SELECT o_orderstatus,
         count(*) FILTER (WHERE qa = 0) AS clear,
         count(*) FILTER (WHERE qa IN (2, 4)) AS notclear,
         count(*) AS total,
         CAST(floor(10000.0::DOUBLE * (count(*) FILTER (WHERE qa = 0)) / count(*) + 0.5) AS BIGINT)
           AS efficacy_x100,
         CASE WHEN count(*) FILTER (WHERE qa IN (0, 2, 4)) = 0 THEN 10000
              ELSE CAST(floor(10000.0::DOUBLE * (count(*) FILTER (WHERE qa IN (2, 4)))
                / ((count(*) FILTER (WHERE qa = 0)) + (count(*) FILTER (WHERE qa IN (2, 4)))) + 0.5)
                AS BIGINT) END AS cloud_x100
         FROM px JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "t1_priority_rank" ->
      """SELECT l_orderkey, ln, rn FROM (
           SELECT l_orderkey, CAST(l_linenumber AS INT) AS ln,
             CAST(row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_shipdate, l_linenumber, l_partkey, l_suppkey) AS INT) AS rn
           FROM lineitem)
         WHERE rn <= 2 ORDER BY l_orderkey, rn""",
    "t10_cdf" ->
      """SELECT l_orderkey, ln, l_returnflag, q, pr_x10000 FROM (
           SELECT l_orderkey, CAST(l_linenumber AS INT) AS ln, l_returnflag,
             CAST(trunc(l_quantity) AS INT) AS q,
             CAST(floor(percent_rank() OVER (PARTITION BY l_returnflag
               ORDER BY l_quantity) * 10000 + 0.5) AS BIGINT) AS pr_x10000
           FROM lineitem WHERE l_orderkey <= 2000)
         ORDER BY l_orderkey, ln, q, pr_x10000""",
    "p2_rescale" ->
      """SELECT p_partkey,
         CAST(trunc(least(greatest(
           least(greatest(px*0.0000275::DOUBLE - 0.2::DOUBLE, 0), 65535) / 0.0001::DOUBLE, 0), 65535)) AS INT)
           AS rescaled
         FROM (SELECT p_partkey, CAST(trunc(p_retailprice*10) AS INT) AS px FROM part)
         ORDER BY p_partkey""",
    "p4p5_bits" ->
      """SELECT o_orderkey,
         CAST(o_orderkey & 255 AS INT) AS low8,
         CAST((o_orderkey >> 3) & 31 AS INT) AS mid5,
         CAST(CASE WHEN (o_orderkey & 16) <> 0 THEN 1 ELSE 0 END AS INT) AS bit4
         FROM orders WHERE o_orderkey <= 5000 ORDER BY o_orderkey""",
    "p6_classify" ->
      """SELECT c_custkey, CAST(c_custkey % 12 AS INT) AS qa,
         CAST(CASE WHEN c_custkey % 12 = 11 THEN 0
                   WHEN c_custkey % 12 IN (0, 1) THEN 1
                   WHEN c_custkey % 12 IN (2, 3, 4) THEN 2
                   WHEN c_custkey % 12 = 9 THEN 3
                   ELSE 2 END AS INT) AS cls
         FROM customer ORDER BY c_custkey""",
    "p8_band_expr" ->
      """SELECT l_orderkey, CAST(l_linenumber AS INT) AS ln,
         CAST(trunc(least(greatest(
           10000.0*((l_extendedprice - l_quantity*1000)/(l_extendedprice + l_quantity*1000)),
           -32768), 32767)) AS INT) AS ndvi
         FROM lineitem WHERE l_orderkey <= 3000 ORDER BY l_orderkey, ln, ndvi""",
    "p11_item_format" ->
      """SELECT o_orderkey,
         upper('cube-' || o_orderstatus) || '_V001_' ||
           lpad(CAST(o_custkey % 100 AS VARCHAR), 6, '0') || '_' ||
           strftime(o_orderdate, '%Y%m%d') AS item_id
         FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""",
    "f_dates" ->
      """SELECT o_orderkey,
         strftime(o_orderdate + INTERVAL 3 DAY, '%Y-%m-%d') AS plus3d,
         strftime(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2m,
         strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
         date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS ddiff,
         dayofyear(o_orderdate) AS doy
         FROM orders WHERE o_orderkey <= 3000 ORDER BY o_orderkey""",
    "f_regex" ->
      """SELECT c_custkey,
         CAST(regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS BIGINT) AS num,
         upper(substr(c_mktsegment, 1, 3)) AS seg3
         FROM customer ORDER BY c_custkey""",
    "c12_timeline" ->
      """SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS p_start,
         strftime(least(CAST(d AS DATE) + 15, DATE '2020-12-31'), '%Y-%m-%d') AS p_end
         FROM (SELECT unnest(generate_series(DATE '2020-01-01', DATE '2020-12-31',
           INTERVAL 16 DAY)) AS d)
         ORDER BY p_start""",
    "c14_period_filter" ->
      """SELECT p_start, p_end FROM (
           SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS p_start,
             strftime(least(CAST(d AS DATE) + 15, DATE '2020-12-31'), '%Y-%m-%d') AS p_end
           FROM (SELECT unnest(generate_series(DATE '2020-01-01', DATE '2020-12-31',
             INTERVAL 16 DAY)) AS d))
         WHERE p_start >= '2020-03-01' AND p_end <= '2020-11-01'
         ORDER BY p_start""",
    "p7_confidence" ->
      """SELECT o_orderkey,
         CAST((o_orderkey >> 8) & 3 AS INT) AS conf_field,
         CAST(CASE WHEN ((o_orderkey >> 8) & 3) >= 2 THEN 1 ELSE 0 END AS INT)
           AS cloud_ge_medium,
         CAST(CASE WHEN ((o_orderkey >> 8) & 3) = 3 THEN 1 ELSE 0 END AS INT)
           AS cloud_high
         FROM orders WHERE o_orderkey <= 4000 ORDER BY o_orderkey""",
    "p9_repair" ->
      """SELECT l_orderkey, ln, qa,
         CASE WHEN qa = 255 THEN 255
              WHEN b1 = -9999 OR b2 = -9999 THEN 1
              ELSE qa END AS qa_repaired
         FROM (SELECT l_orderkey, CAST(l_linenumber AS INT) AS ln,
             l_partkey, l_suppkey,
             CASE WHEN l_partkey % 11 = 0 THEN 255
                  WHEN l_returnflag = 'N' THEN 0 ELSE 2 END AS qa,
             CASE WHEN l_discount > 0.08 THEN -9999 ELSE 1 END AS b1,
             CASE WHEN l_quantity < 3 THEN -9999 ELSE 1 END AS b2
           FROM lineitem)
         ORDER BY l_orderkey, ln, l_partkey, l_suppkey""",
    "s6_baseline_offset" ->
      """SELECT p_partkey, CAST(p_size % 5 + 1 AS INT) AS baseline,
         CAST(CASE WHEN p_size % 5 + 1 >= 4 AND px <> 0 THEN
                (CASE WHEN px - 1000 < 0 THEN 0 ELSE px - 1000 END)
              ELSE px END AS INT) AS offset_px
         FROM (SELECT p_partkey, p_size, CAST(trunc(p_retailprice) AS INT) AS px
           FROM part)
         ORDER BY p_partkey""",
    "g1_grid_tiles" ->
      """SELECT lpad(CAST(ih AS VARCHAR), 3, '0') || lpad(CAST(iv AS VARCHAR), 3, '0')
           AS tile_id,
         0.0::DOUBLE + ih * 150000.0::DOUBLE AS xmin,
         10000000.0::DOUBLE - iv * 100000.0::DOUBLE - 100000.0::DOUBLE AS ymin,
         0.0::DOUBLE + ih * 150000.0::DOUBLE + 150000.0::DOUBLE AS xmax,
         10000000.0::DOUBLE - iv * 100000.0::DOUBLE AS ymax
         FROM range(CAST(trunc((100000.0 - 0.0) / 150000.0) AS INT),
                    CAST(trunc((1000000.0 - 0.0) / 150000.0) AS INT) + 1) t(ih),
              range(CAST(trunc((10000000.0 - 9000000.0) / 100000.0) AS INT),
                    CAST(trunc((10000000.0 - 8000000.0) / 100000.0) AS INT) + 1) u(iv)
         ORDER BY tile_id""",
    "g2_proj4_forward" ->
      """SELECT key,
         CAST(floor(6371007.181::DOUBLE * radians(lon - (-54.0::DOUBLE))
           * cos(radians(lat)) + 0.5::DOUBLE) AS BIGINT) AS x_m,
         CAST(floor(6371007.181::DOUBLE * radians(lat) + 0.5::DOUBLE) AS BIGINT) AS y_m
         FROM (SELECT CAST(n_nationkey AS INT) AS key,
           -74.0::DOUBLE + CAST(n_nationkey % 25 AS INT) * 1.8::DOUBLE AS lon,
           (-33.0::DOUBLE + CAST(n_nationkey * 7 % 37 AS INT))::DOUBLE AS lat
           FROM nation)
         ORDER BY key""",
    "g3_stere_forward" ->
      """SELECT key,
         CAST(floor(rho * sin(radians(lon)) + 0.5::DOUBLE) AS BIGINT) AS x_m,
         CAST(floor(rho * cos(radians(lon)) + 0.5::DOUBLE) AS BIGINT) AS y_m
         FROM (
           SELECT key, lon,
             6378137.0::DOUBLE
               * (cos(radians(71.0::DOUBLE))
                  / sqrt(1.0::DOUBLE - 0.0066943799901413165::DOUBLE
                    * sin(radians(71.0::DOUBLE)) * sin(radians(71.0::DOUBLE))))
               * (tan(pi() / 4.0::DOUBLE - radians(-lat) / 2.0::DOUBLE)
                  / pow((1.0::DOUBLE - 0.08181919084262149::DOUBLE * sin(radians(-lat)))
                      / (1.0::DOUBLE + 0.08181919084262149::DOUBLE * sin(radians(-lat))),
                    0.08181919084262149::DOUBLE / 2.0::DOUBLE))
               / (tan(pi() / 4.0::DOUBLE - radians(71.0::DOUBLE) / 2.0::DOUBLE)
                  / pow((1.0::DOUBLE - 0.08181919084262149::DOUBLE * sin(radians(71.0::DOUBLE)))
                      / (1.0::DOUBLE + 0.08181919084262149::DOUBLE * sin(radians(71.0::DOUBLE))),
                    0.08181919084262149::DOUBLE / 2.0::DOUBLE)) AS rho
           FROM (SELECT CAST(n_nationkey AS INT) AS key,
             -180.0::DOUBLE + CAST(n_nationkey % 25 AS INT) * 14.3::DOUBLE AS lon,
             (-85.0::DOUBLE + CAST(n_nationkey * 7 % 26 AS INT))::DOUBLE AS lat
             FROM nation))
         ORDER BY key""",
    "g4_laea_forward" ->
      """WITH pts AS (
           SELECT CAST(n_nationkey AS INT) AS key,
             -25.0::DOUBLE + CAST(n_nationkey % 25 AS INT) * 2.8::DOUBLE AS lon,
             (28.0::DOUBLE + CAST(n_nationkey * 7 % 44 AS INT))::DOUBLE AS lat
           FROM nation),
         c1 AS (SELECT 6378137.0::DOUBLE AS a,
             0.006694380022900787::DOUBLE AS e2,
             0.08181919104281579::DOUBLE AS e,
             radians(52.0::DOUBLE) AS phi0, radians(10.0::DOUBLE) AS lam0),
         c2 AS (SELECT a, e2, e, phi0, lam0,
             (1 - e2) * (1.0::DOUBLE / (1 - e2)
               - (1.0::DOUBLE / (2 * e)) * ln((1 - e) / (1 + e))) AS qp,
             (1 - e2) * (sin(phi0) / (1 - e2 * sin(phi0) * sin(phi0))
               - (1.0::DOUBLE / (2 * e))
                 * ln((1 - e * sin(phi0)) / (1 + e * sin(phi0)))) AS q0,
             cos(phi0) / sqrt(1 - e2 * sin(phi0) * sin(phi0)) AS m1
           FROM c1),
         c3 AS (SELECT *, a * sqrt(qp / 2) AS rq, asin(q0 / qp) AS beta1 FROM c2),
         c4 AS (SELECT *, a * m1 / (rq * cos(beta1)) AS dd FROM c3),
         v AS (SELECT p.key, radians(p.lon) - lam0 AS dl,
             asin(((1 - e2) * (sin(radians(p.lat))
                 / (1 - e2 * sin(radians(p.lat)) * sin(radians(p.lat)))
               - (1.0::DOUBLE / (2 * e))
                 * ln((1 - e * sin(radians(p.lat)))
                     / (1 + e * sin(radians(p.lat)))))) / qp) AS beta,
             beta1, rq, dd
           FROM pts p CROSS JOIN c4),
         w AS (SELECT key, dl, beta, beta1, rq, dd,
             rq * sqrt(2.0::DOUBLE
               / (1 + sin(beta1) * sin(beta)
                  + cos(beta1) * cos(beta) * cos(dl))) AS b
           FROM v)
         SELECT key,
           CAST(floor(4321000.0::DOUBLE + b * dd * cos(beta) * sin(dl)
             + 0.5::DOUBLE) AS BIGINT) AS x_m,
           CAST(floor(3210000.0::DOUBLE + (b / dd)
             * (cos(beta1) * sin(beta) - sin(beta1) * cos(beta) * cos(dl))
             + 0.5::DOUBLE) AS BIGINT) AS y_m
         FROM w ORDER BY key""",
    "g6_stere_oblique" ->
      """WITH pts AS (
           SELECT CAST(n_nationkey AS INT) AS key,
             -25.0::DOUBLE + CAST(n_nationkey % 25 AS INT) * 2.4::DOUBLE AS lon,
             (30.0::DOUBLE + CAST(n_nationkey * 7 % 45 AS INT))::DOUBLE AS lat
           FROM nation),
         c1 AS (SELECT 6378137.0::DOUBLE AS a,
             (1.0::DOUBLE / 298.257223563::DOUBLE)
               * (2.0::DOUBLE - 1.0::DOUBLE / 298.257223563::DOUBLE) AS e2,
             radians(52.0::DOUBLE) AS phi1, radians(5.0::DOUBLE) AS lam0,
             0.9999::DOUBLE AS k0),
         c2 AS (SELECT *, sqrt(e2) AS e FROM c1),
         c3 AS (SELECT *,
             2 * atan(tan(pi() / 4 + phi1 / 2)
               * pow((1 - e * sin(phi1)) / (1 + e * sin(phi1)), e / 2))
               - pi() / 2 AS chi1,
             cos(phi1) / sqrt(1 - e2 * sin(phi1) * sin(phi1)) AS m1
           FROM c2),
         v AS (SELECT p.key, radians(p.lon) - lam0 AS dl,
             2 * atan(tan(pi() / 4 + radians(p.lat) / 2)
               * pow((1 - e * sin(radians(p.lat))) / (1 + e * sin(radians(p.lat))),
                 e / 2)) - pi() / 2 AS chi,
             chi1, m1, a, k0
           FROM pts p CROSS JOIN c3),
         w AS (SELECT key, dl, chi, chi1,
             2 * a * k0 * m1 / (cos(chi1) * (1 + sin(chi1) * sin(chi)
               + cos(chi1) * cos(chi) * cos(dl))) AS aa
           FROM v)
         SELECT key,
           CAST(floor(aa * cos(chi) * sin(dl) + 0.5::DOUBLE) AS BIGINT) AS x_m,
           CAST(floor(aa * (cos(chi1) * sin(chi) - sin(chi1) * cos(chi) * cos(dl))
             + 0.5::DOUBLE) AS BIGINT) AS y_m
         FROM w ORDER BY key""",
    "g5_datum_shift" ->
      """WITH pts AS (
           SELECT CAST(n_nationkey AS INT) AS key,
             -9.0::DOUBLE + CAST(n_nationkey % 25 AS INT) * 0.8::DOUBLE AS lon,
             36.0::DOUBLE + CAST(n_nationkey * 7 % 37 AS INT) * 0.5::DOUBLE AS lat
           FROM nation),
         ell AS (SELECT
             6378388.0::DOUBLE AS a1,
             (1.0::DOUBLE / 297.0::DOUBLE)
               * (2.0::DOUBLE - 1.0::DOUBLE / 297.0::DOUBLE) AS e21,
             6378137.0::DOUBLE AS a2,
             (1.0::DOUBLE / 298.257223563::DOUBLE)
               * (2.0::DOUBLE - 1.0::DOUBLE / 298.257223563::DOUBLE) AS e22,
             6378137.0::DOUBLE
               * (1.0::DOUBLE - 1.0::DOUBLE / 298.257223563::DOUBLE) AS b2,
             1.0::DOUBLE + (-1.2::DOUBLE) * 1e-6 AS m,
             radians(0.7::DOUBLE / 3600.0::DOUBLE) AS rx,
             radians(-0.3::DOUBLE / 3600.0::DOUBLE) AS ry,
             radians(0.156::DOUBLE / 3600.0::DOUBLE) AS rz),
         xyz AS (SELECT key,
             n1 * cos(phi) * cos(lam) AS x,
             n1 * cos(phi) * sin(lam) AS y,
             n1 * (1 - e21) * sin(phi) AS z,
             a2, e22, b2, m, rx, ry, rz
           FROM (SELECT p.key,
               a1 / sqrt(1 - e21 * sin(radians(p.lat)) * sin(radians(p.lat))) AS n1,
               radians(p.lat) AS phi, radians(p.lon) AS lam,
               e21, a2, e22, b2, m, rx, ry, rz
             FROM pts p CROSS JOIN ell)),
         sh AS (SELECT key, a2, e22, b2,
             x - 87.0::DOUBLE AS x3, y - 96.0::DOUBLE AS y3, z - 120.0::DOUBLE AS z3,
             89.5::DOUBLE + m * (x - rz * y + ry * z) AS x7,
             93.8::DOUBLE + m * (rz * x + y - rx * z) AS y7,
             123.1::DOUBLE + m * (-ry * x + rx * y + z) AS z7
           FROM xyz),
         bow AS (SELECT key, a2, e22, b2,
             (a2 * a2 - b2 * b2) / (b2 * b2) AS ep2,
             sqrt(x3 * x3 + y3 * y3) AS p3, atan2(z3 * a2, sqrt(x3 * x3 + y3 * y3) * b2) AS t3,
             sqrt(x7 * x7 + y7 * y7) AS p7, atan2(z7 * a2, sqrt(x7 * x7 + y7 * y7) * b2) AS t7,
             x3, y3, z3, x7, y7, z7
           FROM sh)
         SELECT key,
           CAST(floor(degrees(atan2(y3, x3)) * 10000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS lon3_e7,
           CAST(floor(degrees(atan2(z3 + ep2 * b2 * sin(t3) * sin(t3) * sin(t3),
               p3 - e22 * a2 * cos(t3) * cos(t3) * cos(t3)))
             * 10000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS lat3_e7,
           CAST(floor(degrees(atan2(y7, x7)) * 10000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS lon7_e7,
           CAST(floor(degrees(atan2(z7 + ep2 * b2 * sin(t7) * sin(t7) * sin(t7),
               p7 - e22 * a2 * cos(t7) * cos(t7) * cos(t7)))
             * 10000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS lat7_e7
         FROM bow ORDER BY key""",
    "s8_availability" ->
      """SELECT date, total, ok_n, err_n, bands, errs FROM (
           SELECT printf('1995-%02d', CAST(n_nationkey % 12 + 1 AS INT)) AS date,
             count(*) AS total,
             CAST(sum(CASE WHEN n_nationkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ok_n,
             CAST(sum(CASE WHEN n_nationkey % 3 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS err_n,
             string_agg(DISTINCT 'B' || CAST(n_nationkey % 4 + 1 AS INT), ';'
               ORDER BY 'B' || CAST(n_nationkey % 4 + 1 AS INT)) AS bands,
             coalesce(string_agg('File not found missing_' || CAST(n_nationkey AS INT) || '.tif', ';'
               ORDER BY 'File not found missing_' || CAST(n_nationkey AS INT) || '.tif')
               FILTER (WHERE n_nationkey % 3 <> 0), '') AS errs
           FROM nation GROUP BY 1)
         ORDER BY date""",
    "c11_band_src" ->
      """SELECT band_id, band_src_id, src_name FROM (VALUES
           (9, 4, 'B8A'), (9, 2, 'B04'),
           (10, 4, 'B8A'), (10, 2, 'B04'), (10, 1, 'B02'),
           (11, 4, 'B8A'), (11, 3, 'B07'))
           t(band_id, band_src_id, src_name)
         ORDER BY band_id, band_src_id""",
    "w_events_sessions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         m AS (SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
           FROM e),
         g AS (SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sstart,
           count(*) AS n, CAST(floor(sum(value)*100 + 0.5) AS BIGINT) AS value_x100
         FROM g GROUP BY user_id, sid ORDER BY user_id, sstart""",
    "w_stream_enrich" ->
      """SELECT coalesce(c.c_mktsegment, 'none') AS segment, e.event_type,
           count(*) AS n,
           CAST(floor(sum(e.value) * 100 + 0.5) AS BIGINT) AS value_x100
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "w_stream_dedup_ttl" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type, event_id,
             CAST(ts AS TIMESTAMP) AS ts, value,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
           FROM events),
         keep AS (
           SELECT user_id, event_type, event_id, ts, value, rn FROM e
           WHERE rn = 1
           UNION ALL
           SELECT n.user_id, n.event_type, n.event_id, n.ts, n.value, n.rn
           FROM keep k JOIN LATERAL (
             SELECT * FROM e
             WHERE e.user_id = k.user_id AND e.event_type = k.event_type
               AND e.rn > k.rn AND e.ts >= k.ts + INTERVAL 12 HOUR
             ORDER BY e.rn LIMIT 1) n ON true)
         SELECT user_id, event_type, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS kept_ts,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_x100
         FROM keep ORDER BY user_id, event_type, event_id""",
    "w_stream_dedup" ->
      """WITH r AS (SELECT user_id, event_type, event_id,
             CAST(ts AS TIMESTAMP) AS ts, value,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rk
           FROM events)
         SELECT user_id, event_type, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_x100
         FROM r WHERE rk = 1 ORDER BY user_id, event_type""",
    "w_events_sliding" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         w AS (SELECT user_id,
             time_bucket(INTERVAL 30 MINUTE, ts) - o * INTERVAL 30 MINUTE AS ws,
             value
           FROM e CROSS JOIN (VALUES (0), (1)) t(o))
         SELECT user_id, strftime(ws, '%Y-%m-%d %H:%M') AS wstart,
           count(*) AS n,
           CAST(floor(sum(value)*100 + 0.5) AS BIGINT) AS value_x100
         FROM w GROUP BY user_id, ws ORDER BY user_id, wstart""",
    "w_stream_join" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
             FROM events),
         c AS (SELECT user_id, ts FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase')
         SELECT c.user_id AS user_id, count(*) AS n_pairs,
           CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS gap_us_sum,
           CAST(floor(sum(p.value)*100 + 0.5) AS BIGINT) AS value_x100
         FROM c JOIN p ON c.user_id = p.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         GROUP BY c.user_id ORDER BY user_id""",
    "w_rolling_1h" ->
      """WITH e AS (SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events)
         SELECT user_id, event_id, us,
           count(*) OVER w AS n_1h,
           CAST(floor(sum(value) OVER w * 100 + 0.5) AS BIGINT) AS sum_1h,
           CAST(floor(max(value) OVER w * 100 + 0.5) AS BIGINT) AS max_1h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY us
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, us, event_id""",
    "r_asof_join" ->
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
             FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, max(value) AS pval
           FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
             FROM events WHERE event_type = 'purchase') GROUP BY 1, 2)
         SELECT c.user_id AS user_id, c.event_id AS event_id,
           epoch_us(c.ts) AS cts_us, epoch_us(p.ts) AS pts_us,
           CAST(floor(p.pval * 100 + 0.5) AS BIGINT) AS pval_x100
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts
         ORDER BY user_id, cts_us, event_id""",
    "w_stream_join_full" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
             FROM events),
         c AS (SELECT user_id, ts FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase')
         SELECT coalesce(c.user_id, p.user_id) AS user_id,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN p.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_no_purchase,
           CAST(sum(CASE WHEN c.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_no_click
         FROM c FULL JOIN p ON c.user_id = p.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         GROUP BY 1 ORDER BY user_id""",
    "w_stream_join_left" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
             FROM events),
         c AS (SELECT user_id, ts FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase')
         SELECT c.user_id AS user_id, count(*) AS n_rows,
           CAST(sum(CASE WHEN p.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched
         FROM c LEFT JOIN p ON c.user_id = p.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         GROUP BY c.user_id ORDER BY user_id""",
    "w_events_tumbling" ->
      """SELECT user_id,
         strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS wstart,
         count(*) AS n,
         CAST(floor(sum(value)*100 + 0.5) AS BIGINT) AS value_x100
         FROM events GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))
         ORDER BY user_id, wstart""")
}

/** Timeline DataFrame builders shared by the c12/c14 queries. */
object Timelines {
  import java.time.LocalDate
  def cyclic16Day2020(s: SparkSession): DataFrame = {
    import s.implicits._
    graft.core.Timeline
      .mount("Cyclic", LocalDate.of(2020, 1, 1), LocalDate.of(2020, 12, 31),
        "day", 16, cycleUnit = Some("year"), cycleStep = 1)
      .map(p => (p.start.toString, p.end.toString))
      .toDF("p_start", "p_end")
  }
}
