package graft

import java.nio.file.{Files, Paths}

import graft.cube.Publish

/** C2 transactional publication: write-to-work, move-to-data commit
  * discipline (reference `publish_datacube`, `processing.py:1038-1155`).
  */
class PublishSpec extends SparkSpec {

  private def write(p: java.nio.file.Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }

  test("commitItem moves every staged file and cleans the work tree") {
    val work = Files.createTempDirectory("pub_work")
    val data = Files.createTempDirectory("pub_data")
    val item = Publish.itemWorkDir(work.toString, "c1", "t1", "2020-01-01")
    write(item.resolve("c1_t1_B04_2020-01-01.tif"), "b04")
    write(item.resolve("c1_t1_B8A_2020-01-01.tif"), "b8a")

    val moved = Publish.commitItem(work, data)
    assert(moved.size == 2)
    val dest = data.resolve("c1/t1/2020-01-01")
    assert(Files.isRegularFile(dest.resolve("c1_t1_B04_2020-01-01.tif")))
    assert(new String(Files.readAllBytes(
      dest.resolve("c1_t1_B8A_2020-01-01.tif")), "UTF-8") == "b8a")
    // work tree fully cleaned (reference cleanup(parent))
    assert(!Files.exists(item))
    assert(!Files.exists(work.resolve("c1")))
  }

  test("abandoned staged temps are swept, never committed as assets") {
    val work = Files.createTempDirectory("pub_work_t")
    val data = Files.createTempDirectory("pub_data_t")
    val item = Publish.itemWorkDir(work.toString, "c1", "t1", "2020-01-01")
    write(item.resolve("c1_t1_B04_2020-01-01.tif"), "finished")
    // a duplicate attempt killed mid-write: its in-progress temp sibling
    val temp = graft.core.Fs.stagedTempFor(
      item.resolve("c1_t1_B8A_2020-01-01.tif"))
    write(temp, "torn-half-written")
    assert(graft.core.Fs.isStagedTemp(temp))

    val moved = Publish.commitItem(work, data)
    assert(moved.size == 1, "only the finished asset commits")
    val dest = data.resolve("c1/t1/2020-01-01")
    assert(Files.isRegularFile(dest.resolve("c1_t1_B04_2020-01-01.tif")))
    val walk = Files.walk(data)
    val leaked =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.exists(graft.core.Fs.isStagedTemp)
      } finally walk.close()
    assert(!leaked, "no temp name may reach the data root")
    // the temp is swept so the emptied work tree can go
    assert(!Files.exists(temp))
    assert(!Files.exists(item))
  }

  test("re-publish replaces targets idempotently; missing work dir is a no-op") {
    val work = Files.createTempDirectory("pub_work2")
    val data = Files.createTempDirectory("pub_data2")
    write(work.resolve("a/x.tif"), "v1")
    Publish.commitItem(work, data)
    write(work.resolve("a/x.tif"), "v2")
    val moved = Publish.commitItem(work, data)
    assert(moved.size == 1)
    assert(new String(Files.readAllBytes(data.resolve("a/x.tif")), "UTF-8") == "v2")
    // nothing staged → nothing moved, nothing thrown
    assert(Publish.commitItem(Paths.get(work.toString, "absent"), data).isEmpty)
  }

  test("publishGeoTiffs stages S9 output then commits it into the data root") {
    import spark.implicits._
    val work = Files.createTempDirectory("pub_work3").toString
    val data = Files.createTempDirectory("pub_data3").toString
    val blocks = Seq(
      ("c1", "t1", "2020-01-01", "B04", 0, 0, 2, 2, 0.0, 20.0, 10.0, 10.0,
        -9999, Array(1, 2, 3, 4)),
      ("c1", "t1", "2020-01-01", "B8A", 0, 0, 2, 2, 0.0, 20.0, 10.0, 10.0,
        -9999, Array(5, 6, 7, 8)))
      .toDF("cube", "tileId", "p_start", "band", "blockY", "blockX", "height",
        "width", "x0", "y0", "resX", "resY", "nodata", "pixels")
    val moved = Publish.publishGeoTiffs(blocks, work, data, _ => "int16")
    assert(moved.size == 2)
    // work dir drained; data dir holds decodable GeoTIFFs
    assert(!Files.exists(Paths.get(work)) ||
      !Files.list(Paths.get(work)).iterator().hasNext)
    moved.foreach { p =>
      val bytes = Files.readAllBytes(p)
      assert(graft.sources.Archives.checkIntegrity(bytes), p.toString)
    }
    val b04 = moved.find(_.toString.contains("B04")).get
    val info = graft.sources.GeoTiff.readInfo(Files.readAllBytes(b04))
    val px = graft.sources.GeoTiff.readWindow(Files.readAllBytes(b04), info,
      0, 0, 2, 2)
    assert(px.toSeq == Seq(1, 2, 3, 4))
  }

  test("publishGeoTiffs commits one item directory at a time") {
    import spark.implicits._
    val work = Files.createTempDirectory("pub_work4").toString
    val data = Files.createTempDirectory("pub_data4").toString
    val blocks = (for {
      tile <- Seq("t1", "t2"); band <- Seq("B04", "B8A")
    } yield ("c1", tile, "2020-01-01", band, 0, 0, 2, 2, 0.0, 20.0, 10.0,
      10.0, -9999, Array(1, 2, 3, 4)))
      .toDF("cube", "tileId", "p_start", "band", "blockY", "blockX", "height",
        "width", "x0", "y0", "resX", "resY", "nodata", "pixels")
    val moved = Publish.publishGeoTiffs(blocks, work, data, _ => "int16")
    assert(moved.size == 4)
    // per-item directories: each (cube, tile, period) owns its own subtree
    for (tile <- Seq("t1", "t2"); band <- Seq("B04", "B8A"))
      assert(Files.isRegularFile(Paths.get(data, "c1", tile, "2020-01-01",
        s"c1_${tile}_${band}_2020-01-01.tif")))
    assert(!Files.exists(Paths.get(work)) ||
      !Files.list(Paths.get(work)).iterator().hasNext)
    // a later item's work dir re-stages and commits without touching the
    // first item (idempotent per-item re-publish)
    val again = Publish.publishGeoTiffs(blocks.filter($"tileId" === "t2"),
      work, data, _ => "int16")
    assert(again.size == 2 && again.forall(_.toString.contains("/t2/")))
  }
}
