package graft

import org.apache.spark.sql.functions._
import graft.sources.stac.StacTable

class StacSpec extends SparkSpec {

  private def item(id: String, date: String, cloud: Double,
                   bbox: (Double, Double, Double, Double)): String =
    s"""{"id":"$id","collection":"S2_L2A","bbox":[${bbox._1},${bbox._2},${bbox._3},${bbox._4}],
        "properties":{"datetime":"${date}T13:22:29Z","eo:cloud_cover":$cloud,"platform":"sentinel-2a"},
        "assets":{"B04":{"href":"s3://x/$id/B04.tif","type":"image/tiff"},
                  "B8A":{"href":"s3://x/$id/B8A.tif","type":"image/tiff"},
                  "SCL":{"href":"s3://x/$id/SCL.tif","type":"image/tiff"}}}"""
      .replaceAll("\n\\s*", "")

  // ---- DSv2 source (graft.sources.stac.StacSource) ----

  private lazy val catalogDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("stac-cat").toFile
    dir.deleteOnExit()
    // two files: a FeatureCollection and a single item document
    val fc = s"""{"type":"FeatureCollection","features":[
      ${item("s1", "2020-01-05", 12.5, (0, 0, 10, 10))},
      ${item("s2", "2020-01-10", 55.0, (5, 5, 15, 15))},
      ${item("s4", "2020-03-15", 33.0, (0, 0, 10, 10))}]}"""
    java.nio.file.Files.write(new java.io.File(dir, "a.json").toPath,
      fc.getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, "b.json").toPath,
      item("s3", "2020-02-20", 5.0, (20, 20, 30, 30)).getBytes("UTF-8"))
    dir.getAbsolutePath
  }

  private def dsv2 = spark.read.format("stac").option("path", catalogDir)

  test("search applies bbox, datetime, cloud and band predicates") {
    def search(maxCloud: Double, bands: Seq[String]) = {
      val hits = dsv2.load()
        .filter(col("collection") === "S2_L2A")
        .filter(col("date") >= lit("2020-01-01").cast("date") &&
          col("date") <= lit("2020-01-31").cast("date"))
        .filter(col("cloudCover") <= maxCloud)
        .filter(col("xmin") < 12.0 && col("xmax") > 8.0 &&
          col("ymin") < 12.0 && col("ymax") > 8.0)
      if (bands.isEmpty) hits else hits.filter(col("band").isin(bands: _*))
    }
    val ids = search(60, Seq("B04", "B8A")).select("sceneId", "band").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    // s3 out of date range+bbox, s4 out of date range; SCL filtered; s1
    // and s2 bboxes intersect
    assert(ids.toSeq == Seq(("s1", "B04"), ("s1", "B8A"), ("s2", "B04"), ("s2", "B8A")))
    assert(search(20, Nil).select("sceneId").distinct().count() == 1)
  }

  test("DSv2: a corrupt catalog file fails the read and names the file") {
    val dir = java.nio.file.Files.createTempDirectory("stac-bad").toFile
    dir.deleteOnExit()
    java.nio.file.Files.write(new java.io.File(dir, "good.json").toPath,
      item("s1", "2020-01-05", 12.5, (0, 0, 10, 10)).getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, "broken.json").toPath,
      "{not valid json".getBytes("UTF-8"))
    val e = intercept[Exception](
      spark.read.format("stac").option("path", dir.getAbsolutePath).load()
        .collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(chain.exists(_.contains("broken.json")), chain.mkString("\n"))
  }

  test("DSv2: reads the catalog with the S1 schema, one row per band asset") {
    val df = dsv2.load()
    assert(df.schema.fieldNames.toSeq == Seq("sceneId", "collection", "platform",
      "date", "cloudCover", "xmin", "ymin", "xmax", "ymax", "band", "href"))
    assert(df.count() == 12) // 4 items x 3 assets
    val r = df.filter(col("sceneId") === "s1" && col("band") === "B04").head()
    assert(r.getAs[String]("href") == "s3://x/s1/B04.tif")
    assert(r.getAs[java.sql.Date]("date").toString == "2020-01-05")
  }

  test("DSv2: spatio-temporal predicates push into the STAC search request") {
    val df = dsv2.load()
      .filter(col("collection") === "S2_L2A")
      .filter(col("date") >= lit("2020-01-01").cast("date") &&
        col("date") <= lit("2020-01-31").cast("date"))
      .filter(col("xmin") < 12.0 && col("xmax") > 8.0 &&
        col("ymin") < 12.0 && col("ymax") > 8.0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("STACScan(collection=S2_L2A"), plan)
    assert(plan.contains("start=2020-01-01") && plan.contains("end=2020-01-31"), plan)
    assert(plan.contains("bbox=(8.0,8.0,12.0,12.0)"), plan)
    // and the pushed search returns exactly the matching asset rows
    assert(df.select("sceneId").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("s1", "s2"))
  }

  test("DSv2: cloudCover <= pushes into the search; strict < stays post-scan") {
    val df = dsv2.load().filter(col("cloudCover") <= 20.0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cloudCover<=20.0"), plan)
    assert(df.select("sceneId").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("s1", "s3"))
    // endpoint-level: the request itself filters
    val ep = new graft.sources.stac.FileStacEndpoint(catalogDir)
    val q = graft.sources.stac.StacSearch("", None, None, None,
      maxCloudCover = Some(20.0))
    assert(ep.search(q, None).features.map(_.sceneId).distinct.sorted ==
      Seq("s1", "s3"))
    // strict < is not absorbed (lte semantics would readmit == rows)
    val strict = dsv2.load().filter(col("cloudCover") < 12.5)
    val strictPlan = strict.queryExecution.executedPlan.toString
    assert(!strictPlan.contains("cloudCover<="), strictPlan)
    assert(strict.select("sceneId").distinct().collect().map(_.getString(0))
      .sorted.toSeq == Seq("s3"))
  }

  test("DSv2: reader pages through results at pageSize granularity") {
    // 12 asset rows, pageSize 5 → the reader must walk 3 pages
    val df = spark.read.format("stac")
      .option("path", catalogDir).option("pageSize", "5").load()
    assert(df.count() == 12)
    // endpoint-level paging check: page 2 starts where page 1 ended
    val ep = new graft.sources.stac.FileStacEndpoint(catalogDir)
    val q = graft.sources.stac.StacSearch("", None, None, None, limit = 5)
    val p1 = ep.search(q, None)
    assert(p1.features.size == 5 && p1.nextToken.contains("5"))
    val p2 = ep.search(q, p1.nextToken)
    assert(p2.features.size == 5 && p2.nextToken.contains("10"))
    val p3 = ep.search(q, p2.nextToken)
    assert(p3.features.size == 2 && p3.nextToken.isEmpty)
    assert((p1.features ++ p2.features ++ p3.features).map(r =>
      (r.sceneId, r.band)).distinct.size == 12)
  }

  test("DSv2: date range splits into per-month input partitions") {
    val df = dsv2.load()
      .filter(col("date") >= lit("2020-01-01").cast("date") &&
        col("date") <= lit("2020-03-31").cast("date"))
    assert(df.rdd.getNumPartitions == 3) // Jan, Feb, Mar chunks
    assert(df.count() == 12)
    // chunk boundaries must not drop or double-count rows
    assert(df.select("sceneId").distinct().count() == 4)
  }

  test("DSv2: band→date→dataset regrouping works downstream of the scan") {
    // the reference regroups scenes[band][date][dataset] (maestro.py:699-750);
    // relationally that's a groupBy over the asset rows
    val grouped = dsv2.load()
      .groupBy(col("band"), col("date"), col("collection").as("dataset"))
      .agg(collect_list(col("href")).as("links"), count(lit(1)).as("n"))
    assert(grouped.count() == 12) // 3 bands x 4 (date, dataset) combos
    assert(grouped.agg(sum(col("n"))).head().getLong(0) == 12L)
  }

  test("M6 empty periods anti-join routes to the empty-raster path") {
    import spark.implicits._
    val periods = Seq(("2020-01-01", "2020-01-16"), ("2020-01-17", "2020-02-01"),
      ("2020-02-02", "2020-02-17")).toDF("p_start", "p_end")
      .select(col("p_start").cast("date"), col("p_end").cast("date"))
    val empty = StacTable.emptyPeriods(periods, dsv2.load())
    assert(empty.collect().map(_.getDate(0).toString).toSeq == Seq("2020-01-17", "2020-02-02"))
  }
}
