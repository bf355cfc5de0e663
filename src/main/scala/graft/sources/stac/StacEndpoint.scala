package graft.sources.stac

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.jdk.CollectionConverters._

/** One parsed (item, band asset) row of the S1 schema — the reference's
  * band→date→dataset regrouping flattens each STAC feature into one scene
  * record per band asset (`cube_builder/maestro.py:699-750`).
  */
final case class StacAssetRow(
    sceneId: String, collection: String, platform: String,
    date: String, cloudCover: Double,
    xmin: Double, ymin: Double, xmax: Double, ymax: Double,
    band: String, href: String)

/** The server-side predicate set a STAC `/search` accepts — exactly what
  * the DSv2 scan pushes down (`maestro.py:630-639`: intersects + datetime
  * + limit=1000 + per-dataset collections + the `eo:cloud_cover` lte
  * query the reference sends when a cloud threshold is configured).
  */
final case class StacSearch(
    collection: String,
    bbox: Option[(Double, Double, Double, Double)],
    startDate: Option[String], endDate: Option[String],
    limit: Int = 1000,
    maxCloudCover: Option[Double] = None)

/** One page of search results plus the continuation token, mirroring STAC
  * API paging (`links[rel=next]` / legacy `page` tokens).
  */
final case class StacPage(features: Seq[StacAssetRow], nextToken: Option[String])

/** A STAC search endpoint: issues one page per call. Implementations:
  * [[HttpStacEndpoint]] (live server) and [[FileStacEndpoint]] (local JSON
  * catalog that emulates server-side filtering and paging — the testable
  * path in an egress-free environment).
  */
trait StacEndpoint extends Serializable {
  def search(request: StacSearch, token: Option[String]): StacPage
}

/** Shared STAC feature-JSON parsing (Jackson; one row per band asset). */
object StacJson {
  @transient private lazy val mapper = new ObjectMapper()

  def parse(json: String): JsonNode = mapper.readTree(json)

  /** Flatten one STAC feature document into asset rows. Features without
    * an id or of the wrong type yield nothing (reference skips non-Feature
    * entries, `maestro.py:685`).
    */
  def featureRows(f: JsonNode): Seq[StacAssetRow] = {
    if (f == null || !f.hasNonNull("id")) return Nil
    if (f.hasNonNull("type") && f.get("type").asText() != "Feature") return Nil
    val props = f.path("properties")
    val bbox = f.path("bbox")
    val assets = f.path("assets")
    if (!assets.isObject) return Nil
    val datetime = props.path("datetime").asText("")
    val date = if (datetime.length >= 10) datetime.substring(0, 10) else ""
    val row0 = StacAssetRow(
      sceneId = f.get("id").asText(),
      collection = f.path("collection").asText(""),
      platform = props.path("platform").asText(null),
      date = date,
      cloudCover = props.path("eo:cloud_cover").asDouble(0.0),
      xmin = bbox.path(0).asDouble(0), ymin = bbox.path(1).asDouble(0),
      xmax = bbox.path(2).asDouble(0), ymax = bbox.path(3).asDouble(0),
      band = null, href = null)
    assets.properties().asScala.toSeq.map { e =>
      row0.copy(band = e.getKey, href = e.getValue.path("href").asText(""))
    }
  }
}

/** Local-catalog endpoint: a directory (or single file) of STAC item JSON
  * documents — one FeatureCollection or one feature per file. Applies the
  * search predicates server-side and pages with an offset token, so the
  * DSv2 reader exercises the identical request/paging loop it would run
  * against a live server.
  */
final class FileStacEndpoint(path: String) extends StacEndpoint {

  private def listFiles(): Seq[java.io.File] = {
    val f = new java.io.File(path)
    val files =
      if (f.isDirectory) f.listFiles().toSeq.filter(_.getName.endsWith(".json"))
      else Seq(f)
    files.sortBy(_.getName)
  }

  // Parsed once per endpoint instance (per executor after serialization):
  // paging a K-page search must not re-list and re-parse the catalog K
  // times — O(catalog) total, not O(catalog × pages).
  @transient private lazy val cachedRows: Seq[StacAssetRow] =
    listFiles().flatMap { f =>
      // Jackson's message quotes only the offending text, not its source:
      // name the file so a corrupt document in a large catalog is findable
      val root =
        try StacJson.parse(
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        catch {
          case e: java.io.IOException =>
            throw new java.io.IOException(
              s"unreadable STAC catalog file ${f.getPath}: ${e.getMessage}", e)
        }
      val features =
        if (root.has("features")) root.get("features").elements().asScala.toSeq
        else Seq(root)
      features.flatMap(StacJson.featureRows)
    }

  private def matches(r: StacAssetRow, q: StacSearch): Boolean = {
    val okColl = q.collection == null || q.collection.isEmpty ||
      r.collection == q.collection
    val okDate = q.startDate.forall(r.date >= _) && q.endDate.forall(r.date <= _)
    val okBox = q.bbox.forall { case (x0, y0, x1, y1) =>
      r.xmin < x1 && r.xmax > x0 && r.ymin < y1 && r.ymax > y0
    }
    val okCloud = q.maxCloudCover.forall(r.cloudCover <= _)
    okColl && okDate && okBox && okCloud
  }

  override def search(request: StacSearch, token: Option[String]): StacPage = {
    val offset = token.map(_.toInt).getOrElse(0)
    val hits = cachedRows.filter(matches(_, request))
    val page = hits.slice(offset, offset + request.limit)
    val next =
      if (offset + request.limit < hits.size) Some((offset + request.limit).toString)
      else None
    StacPage(page, next)
  }
}

/** Live STAC API endpoint: POST `{uri}/search` with the canonical body
  * (`collections`, `bbox`, `datetime`, `limit`), following `links` with
  * `rel=next` for pagination (STAC API spec; reference drives the same
  * surface through pystac-client, `cube_builder/_adapter.py:88-118`).
  * Untested here (no network egress) but kept to the public STAC API
  * contract; the DSv2 layer is endpoint-agnostic.
  */
final class HttpStacEndpoint(uri: String, headers: Map[String, String] = Map.empty)
    extends StacEndpoint {

  @transient private lazy val mapper = new ObjectMapper()

  private def body(request: StacSearch, token: Option[String]): String = {
    val o: ObjectNode = mapper.createObjectNode()
    if (request.collection != null && request.collection.nonEmpty)
      o.putArray("collections").add(request.collection)
    request.bbox.foreach { case (x0, y0, x1, y1) =>
      val a = o.putArray("bbox")
      a.add(x0); a.add(y0); a.add(x1); a.add(y1)
    }
    (request.startDate, request.endDate) match {
      case (Some(s), Some(e)) => o.put("datetime", s"${s}T00:00:00Z/${e}T23:59:59Z")
      case (Some(s), None) => o.put("datetime", s"${s}T00:00:00Z/..")
      case (None, Some(e)) => o.put("datetime", s"../${e}T23:59:59Z")
      case _ =>
    }
    request.maxCloudCover.foreach { c =>
      // reference queries eo:cloud_cover lte (maestro.py:630-637)
      o.putObject("query").putObject("eo:cloud_cover").put("lte", c)
    }
    o.put("limit", request.limit)
    token.foreach(o.put("token", _))
    mapper.writeValueAsString(o)
  }

  private def post(url: String, payload: String): JsonNode = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(15000)
      conn.setReadTimeout(60000)
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      conn.getOutputStream.write(payload.getBytes("UTF-8"))
      if (conn.getResponseCode != 200)
        throw new java.io.IOException(
          s"STAC search failed: HTTP ${conn.getResponseCode} from $url")
      StacJson.parse(new String(conn.getInputStream.readAllBytes(), "UTF-8"))
    } finally conn.disconnect()
  }

  override def search(request: StacSearch, token: Option[String]): StacPage = {
    val resp = post(s"${uri.stripSuffix("/")}/search", body(request, token))
    val features = resp.path("features").elements().asScala.toSeq
      .flatMap(StacJson.featureRows)
    // STAC API paging: a links entry with rel=next carries either a body
    // token or a full href; we surface the token form (legacy servers) and
    // re-post — href-only servers also accept re-POST with the token body.
    val next = resp.path("links").elements().asScala
      .find(l => l.path("rel").asText() == "next")
      .map(l => l.path("body").path("token").asText(
        l.path("href").asText("")))
      .filter(_.nonEmpty)
    StacPage(features, next)
  }
}
