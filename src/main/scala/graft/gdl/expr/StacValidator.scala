package graft.gdl.expr

import com.fasterxml.jackson.databind.JsonNode

/** Structural STAC validator ≙ the reference's Draft-7 JSON-Schema
  * validation of Catalog / Collection / Item documents
  * (/root/reference/backend/check_stac_metadata/stac_validators.py:11-74,
  * schemas bundled as git submodules of stac-spec 1.0.0-rc.3 and the
  * GeoJSON schema). The offline build carries no JSON-Schema engine, so
  * the schemas' constraints are hand-compiled here — not just required
  * properties (FIXTURES.md §1) but the deeper Draft-7 rules the bundled
  * schemas enforce:
  *
  *  - `type` / `stac_version` consts (item.json, collection.json,
  *    catalog.json each pin `const` values; the reference pins
  *    `STAC_VERSION = "1.0.0-rc.3"` in tests/stac_objects.py:18)
  *  - item geometry ⊕ bbox pairing (item.json's `oneOf`: a non-null
  *    geometry REQUIRES a sibling bbox of 4 or 6 numbers; a null
  *    geometry FORBIDS bbox)
  *  - GeoJSON geometry type enum + `coordinates`/`geometries`
  *    (geojson-spec/Geometry.json)
  *  - link objects require `rel` as well as `href` (basics.json link)
  *  - RFC 3339 `date-time` format checking — the reference constructs
  *    its validators with `format_checker=FormatChecker()`, and
  *    tests/test_check_stac_metadata.py:395-400 pins that a malformed
  *    temporal-interval datetime is a ValidationError
  *  - collection extent shapes: spatial.bbox a non-empty array of
  *    4/6-number arrays; temporal.interval a non-empty array of
  *    [start, end] pairs, each element a date-time string or null
  *  - item `properties.datetime` nullable per datetime.json: when null,
  *    `start_datetime` AND `end_datetime` become required (both
  *    date-time strings)
  *
  * Error messages follow jsonschema's phrasing ("'x' is a required
  * property", "'x' is not of type 'y'", "'v' is not a 'date-time'",
  * "'v' is not one of [...]") so failure rows read like the
  * reference's.
  */
object StacValidator {

  val CatalogType = "Catalog"
  val CollectionType = "Collection"
  val ItemType = "Feature" // STAC items are GeoJSON Features

  /** The bundled schema generation: item/collection/catalog.json pin
    * stac_version with a Draft-7 `const`. */
  val StacVersion = "1.0.0-rc.3"

  private val GeometryTypes = Seq("Point", "MultiPoint", "LineString",
    "MultiLineString", "Polygon", "MultiPolygon", "GeometryCollection")

  /** None = valid; Some(message) = first validation error. */
  def validate(node: JsonNode, stacType: String): Option[String] = stacType match {
    case CatalogType => validateCatalogCore(node, CatalogType)
    case CollectionType =>
      validateCatalogCore(node, CollectionType)
        .orElse(requireString(node, "license"))
        .orElse(validateExtent(node))
    case ItemType => validateItem(node)
    case other => Some(s"'$other' is not a known STAC type")
  }

  def typeOf(node: JsonNode): Option[String] =
    Option(node.get("type")).filter(_.isTextual).map(_.asText)

  private def validateCatalogCore(n: JsonNode, expectedType: String): Option[String] =
    requireConst(n, "type", expectedType)
      .orElse(requireConst(n, "stac_version", StacVersion))
      .orElse(requireString(n, "id"))
      .orElse(requireString(n, "description"))
      .orElse(requireLinks(n))
      // assets are optional on Catalog/Collection, but when present the
      // crawler harvests them (utils.py:119-124 walks assets of every doc
      // type), so href/file:checksum must validate for ALL types — a
      // malformed catalog asset must surface as a JSON-schema failure
      // row, not a crawler crash
      .orElse(if (n.has("assets"))
        requireObject(n, "assets").orElse(validateAssets(n))
      else None)

  private def validateItem(n: JsonNode): Option[String] =
    requireConst(n, "type", ItemType)
      .orElse(requireConst(n, "stac_version", StacVersion))
      .orElse(requireString(n, "id"))
      .orElse(require(n, "geometry")) // nullable but must be present
      .orElse(validateGeometryBbox(n))
      .orElse(requireObject(n, "properties"))
      .orElse(validateItemDatetime(n.get("properties")))
      .orElse(requireObject(n, "assets"))
      .orElse(validateAssets(n))
      .orElse(requireLinks(n))

  /** item.json's oneOf: geometry null → bbox forbidden; geometry
    * object → bbox required (4 or 6 numbers) and the geometry itself
    * must be a valid GeoJSON geometry. */
  private def validateGeometryBbox(n: JsonNode): Option[String] = {
    val geom = n.get("geometry")
    if (geom.isNull) {
      if (n.has("bbox"))
        Some("'bbox' must not be present when 'geometry' is null")
      else None
    } else if (!geom.isObject) {
      Some("'geometry' is not of type 'object'")
    } else {
      validateGeometry(geom)
        .orElse(require(n, "bbox"))
        .orElse(validateBboxArray(n.get("bbox")))
    }
  }

  /** geojson-spec/Geometry.json: type ∈ enum; coordinates required for
    * concrete geometries, geometries for GeometryCollection. */
  private def validateGeometry(g: JsonNode): Option[String] =
    requireString(g, "type").orElse {
      val t = g.get("type").asText
      if (!GeometryTypes.contains(t))
        Some(s"'$t' is not one of ${GeometryTypes.mkString("['", "', '", "']")}")
      else if (t == "GeometryCollection")
        requireArray(g, "geometries").orElse {
          val gs = g.get("geometries")
          var i = 0
          while (i < gs.size()) {
            if (!gs.get(i).isObject)
              return Some("'geometries' items are not of type 'object'")
            val err = validateGeometry(gs.get(i))
            if (err.isDefined) return err
            i += 1
          }
          None
        }
      else requireArray(g, "coordinates")
    }

  /** A single bbox: an array of 4 (2D) or 6 (3D) numbers. */
  private def validateBboxArray(b: JsonNode): Option[String] =
    if (!b.isArray) Some("'bbox' is not of type 'array'")
    else if (b.size() != 4 && b.size() != 6)
      Some(s"'bbox' has ${b.size()} elements; 4 or 6 required")
    else {
      var i = 0
      while (i < b.size()) {
        if (!b.get(i).isNumber)
          return Some("'bbox' elements are not of type 'number'")
        i += 1
      }
      None
    }

  /** datetime.json: `datetime` required; when null, `start_datetime`
    * and `end_datetime` are required date-times. */
  private def validateItemDatetime(props: JsonNode): Option[String] =
    require(props, "datetime").orElse {
      val dt = props.get("datetime")
      if (dt.isNull)
        requireDateTime(props, "start_datetime")
          .orElse(requireDateTime(props, "end_datetime"))
      else if (!dt.isTextual) Some("'datetime' is not of type 'string'")
      else checkDateTime(dt.asText)
    }

  private def validateExtent(n: JsonNode): Option[String] =
    requireObject(n, "extent").orElse {
      val e = n.get("extent")
      requireObject(e, "spatial")
        .orElse(requireArray(e.get("spatial"), "bbox"))
        .orElse(validateSpatialBboxes(e.get("spatial").get("bbox")))
        .orElse(requireObject(e, "temporal"))
        .orElse(requireArray(e.get("temporal"), "interval"))
        .orElse(validateTemporalIntervals(e.get("temporal").get("interval")))
    }

  /** collection.json spatial extent: bbox is a NON-EMPTY array of
    * 4/6-number arrays. */
  private def validateSpatialBboxes(bboxes: JsonNode): Option[String] = {
    if (bboxes.size() == 0) return Some("'bbox' is too short (minItems 1)")
    var i = 0
    while (i < bboxes.size()) {
      val err = validateBboxArray(bboxes.get(i))
      if (err.isDefined) return err
      i += 1
    }
    None
  }

  /** collection.json temporal extent: interval is a NON-EMPTY array of
    * [start, end] pairs; each bound a date-time string or null
    * (format-checked — test_check_stac_metadata.py:395-400). */
  private def validateTemporalIntervals(intervals: JsonNode): Option[String] = {
    if (intervals.size() == 0) return Some("'interval' is too short (minItems 1)")
    var i = 0
    while (i < intervals.size()) {
      val pair = intervals.get(i)
      if (!pair.isArray) return Some("'interval' items are not of type 'array'")
      if (pair.size() != 2)
        return Some(s"'interval' item has ${pair.size()} elements; 2 required")
      var j = 0
      while (j < 2) {
        val bound = pair.get(j)
        if (!bound.isNull) {
          if (!bound.isTextual)
            return Some("'interval' bounds are not of type 'string' or null")
          val err = checkDateTime(bound.asText)
          if (err.isDefined) return err
        }
        j += 1
      }
      i += 1
    }
    None
  }

  private def validateAssets(n: JsonNode): Option[String] = {
    val assets = n.get("assets")
    val it = assets.properties().iterator()
    while (it.hasNext) {
      val entry = it.next()
      val a = entry.getValue
      if (!a.isObject) return Some(s"asset '${entry.getKey}' is not an object")
      if (!a.has("href")) return Some(s"'href' is a required property")
      if (!a.has("file:checksum")) return Some(s"'file:checksum' is a required property")
    }
    None
  }

  /** basics.json link object: href AND rel are required strings. */
  private def requireLinks(n: JsonNode): Option[String] =
    requireArray(n, "links").orElse {
      val links = n.get("links")
      var i = 0
      while (i < links.size()) {
        val l = links.get(i)
        if (!l.isObject) return Some("'links' items are not of type 'object'")
        val err = requireString(l, "href").orElse(requireString(l, "rel"))
        if (err.isDefined) return err
        i += 1
      }
      None
    }

  /** RFC 3339 date-time, as jsonschema's FormatChecker enforces it:
    * full date "T" full time with an offset ("Z" or ±hh:mm); a lone
    * local time or date is invalid. java.time's ISO_OFFSET_DATE_TIME
    * is that grammar (it additionally accepts lowercase t/z, which
    * RFC 3339 §5.6 itself permits). */
  private def checkDateTime(s: String): Option[String] =
    try { java.time.OffsetDateTime.parse(s); None }
    catch { case _: java.time.format.DateTimeParseException =>
      Some(s"'$s' is not a 'date-time'") }

  private def requireDateTime(n: JsonNode, f: String): Option[String] =
    requireString(n, f).orElse(checkDateTime(n.get(f).asText))

  /** Draft-7 `const` on a string property. */
  private def requireConst(n: JsonNode, f: String, expected: String): Option[String] =
    requireString(n, f).orElse(
      if (n.get(f).asText == expected) None
      else Some(s"'${n.get(f).asText}' is not one of ['$expected']"))

  private def require(n: JsonNode, f: String): Option[String] =
    if (n != null && n.has(f)) None else Some(s"'$f' is a required property")

  private def requireString(n: JsonNode, f: String): Option[String] =
    require(n, f).orElse(
      if (n.get(f).isTextual) None else Some(s"'$f' is not of type 'string'"))

  private def requireObject(n: JsonNode, f: String): Option[String] =
    require(n, f).orElse(
      if (n.get(f).isObject) None else Some(s"'$f' is not of type 'object'"))

  private def requireArray(n: JsonNode, f: String): Option[String] =
    require(n, f).orElse(
      if (n.get(f).isArray) None else Some(s"'$f' is not of type 'array'"))
}
