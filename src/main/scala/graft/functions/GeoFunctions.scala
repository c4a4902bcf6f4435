package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

import graft.expressions.GraftFunctions

/** Geometry transforms of the extract-load pipeline.
  *
  * GeoJSON `coordinates` nest 1–4 levels deep depending on the geometry
  * class (Point → MultiPolygon), so no single Spark SQL type models them;
  * we carry features as JSON strings and rewrite the tree with Jackson on
  * the executors. Semantics are an exact re-expression of the reference:
  *  - stripZ: `src/service/extract-load-service.ts:556-569`
  *  - stripZAndExtractElevation: `:577-604` (first Z found, depth-first)
  *  - countExistingElevationProperties: `:543-549`
  *  - processGeometryElevation: `:613-654` (zero-Z skipped; property name
  *    `ext:elevation`, then `ext:elevation_N` where N = count of existing
  *    `ext:elevation*` keys; errors swallowed → feature unchanged)
  *
  * Built-in higher-order functions (`transform`) cannot recurse to a
  * variable depth, hence the custom functions. They are pure
  * String→String, stateless, and codegen-adjacent (a single Scala UDF
  * call inside whole-stage codegen); the Jackson parse dominates cost.
  */
object GeoFunctions extends Serializable {

  // ObjectMapper is thread-safe after configuration; one per JVM/executor.
  @transient private lazy val mapper = new ObjectMapper()

  private def isNum(n: JsonNode): Boolean = n != null && n.isNumber

  /** A "coordinate position" is an array whose first two elements are
    * numbers — anything longer keeps only [x, y], exactly like the
    * reference (even `[1, 2, [3, 4]]` → `[1, 2]`).
    */
  private def isPosition(arr: ArrayNode): Boolean =
    arr.size >= 2 && isNum(arr.get(0)) && isNum(arr.get(1))

  /** Recursively rewrite `[x, y, z, …] → [x, y]` at any nesting depth.
    * Non-arrays pass through unchanged. Original number nodes are reused
    * so values round-trip exactly (no double re-formatting).
    */
  def stripZ(node: JsonNode): JsonNode = {
    if (node == null || !node.isArray) return node
    val arr = node.asInstanceOf[ArrayNode]
    if (isPosition(arr)) {
      val out = mapper.createArrayNode()
      out.add(arr.get(0)); out.add(arr.get(1)); out
    } else {
      val out = mapper.createArrayNode()
      var i = 0
      while (i < arr.size) { out.add(stripZ(arr.get(i))); i += 1 }
      out
    }
  }

  /** Single-pass strip + extraction of the FIRST Z found depth-first.
    * Returns the stripped tree and the original Z node (kept as a node to
    * preserve int-vs-decimal rendering when written back into properties).
    */
  def stripZExtractElevation(node: JsonNode): (JsonNode, Option[JsonNode]) = {
    if (node == null || !node.isArray) return (node, None)
    val arr = node.asInstanceOf[ArrayNode]
    if (isPosition(arr)) {
      val out = mapper.createArrayNode()
      out.add(arr.get(0)); out.add(arr.get(1))
      val elev =
        if (arr.size >= 3 && isNum(arr.get(2))) Some(arr.get(2)) else None
      (out, elev)
    } else {
      var found: Option[JsonNode] = None
      val out = mapper.createArrayNode()
      var i = 0
      while (i < arr.size) {
        val (s, e) = stripZExtractElevation(arr.get(i))
        if (found.isEmpty && e.isDefined) found = e
        out.add(s)
        i += 1
      }
      (out, found)
    }
  }

  /** Count property keys starting with `ext:elevation`. */
  def countExistingElevationProps(props: JsonNode): Int = {
    if (props == null || !props.isObject) return 0
    var c = 0
    val it = props.fieldNames()
    while (it.hasNext) if (it.next().startsWith("ext:elevation")) c += 1
    c
  }

  /** JS-truthiness of a JSON value — the reference's passthrough guard is
    * `!feature.geometry || !feature.geometry.coordinates`.
    */
  private def truthy(n: JsonNode): Boolean =
    n != null && !n.isNull && !n.isMissingNode &&
      !(n.isNumber && n.asDouble == 0.0) &&
      !(n.isTextual && n.asText.isEmpty) &&
      !(n.isBoolean && !n.asBoolean)

  /** Per-feature transform (P7). For nodes/points: strip Z and, if the
    * first-found elevation is non-null and non-zero, add it to properties
    * under `ext:elevation[_N]`. For all other layers: strip Z only.
    * Missing/falsy geometry or coordinates → passthrough; any processing
    * error → feature returned unchanged.
    */
  def processGeometry(featureJson: String, layer: String): String = {
    if (featureJson == null) return null
    try {
      val root = mapper.readTree(featureJson)
      if (!root.isObject) return featureJson // keep original bytes
      mapper.writeValueAsString(processGeometryNode(root, layer))
    } catch {
      case _: Exception => featureJson // reference swallows errors (:649-652)
    }
  }

  /** Tree-level core of P7 — lets the ZIP source fuse the transform into
    * its parse loop (the feature is already a JsonNode there; parsing the
    * serialized string again would double the dominant CPU cost at scale).
    * Mutates and returns `root` when applicable; returns `root` unchanged
    * for passthrough cases. A `null` return means "not an object" (caller
    * keeps its original representation).
    */
  def processGeometryNode(root: JsonNode, layer: String): JsonNode = {
    if (root == null || !root.isObject) return root
    try {
      val feature = root.asInstanceOf[ObjectNode]
      val geometry = feature.get("geometry")
      if (!truthy(geometry) || !geometry.isObject) return root
      val coordinates = geometry.get("coordinates")
      if (!truthy(coordinates)) return root

      val geomObj = geometry.asInstanceOf[ObjectNode]
      val isNodeOrPoint = layer == "nodes" || layer == "points"
      if (isNodeOrPoint) {
        // Compute the FULL rewrite before the first mutation: the
        // reference's error path keeps the original feature (:649-652),
        // so an exception must never leave a half-rewritten tree. The
        // sets below are plain pointer writes — they cannot throw.
        val (stripped, elevOpt) = stripZExtractElevation(coordinates)
        val elevToSet = elevOpt.filter(_.asDouble != 0.0)
        val propName = elevToSet.map { _ =>
          val existing = countExistingElevationProps(feature.get("properties"))
          if (existing == 0) "ext:elevation" else s"ext:elevation_$existing"
        }
        geomObj.set[JsonNode]("coordinates", stripped)
        elevToSet.foreach { elev =>
          val props = feature.get("properties") match {
            case o: ObjectNode => o
            case _ =>
              val o = mapper.createObjectNode()
              feature.set[JsonNode]("properties", o)
              o
          }
          props.set[JsonNode](propName.get, elev)
        }
      } else {
        val stripped = stripZ(coordinates) // before the mutation, same reason
        geomObj.set[JsonNode]("coordinates", stripped)
      }
      root
    } catch {
      case _: Exception => root // reference swallows errors (:649-652)
    }
  }

  /** Convenience for tests/queries: first Z as a Double (post-strip
    * elevation the reference would record), null if absent.
    */
  def firstElevation(coordsJson: String): java.lang.Double = {
    if (coordsJson == null) return null
    try {
      val (_, e) = stripZExtractElevation(mapper.readTree(coordsJson))
      e.map(n => java.lang.Double.valueOf(n.asDouble)).orNull
    } catch { case _: Exception => null }
  }

  private def stripZJson(coordsJson: String): String = {
    if (coordsJson == null) return null
    try mapper.writeValueAsString(stripZ(mapper.readTree(coordsJson)))
    catch { case _: Exception => coordsJson }
  }

  // ---- stats (A3) -------------------------------------------------------
  // The stats of a load fold over the feature trees the parse already
  // holds. Each definition reads a tree the way a JSON-path lookup reads
  // the feature text the load stores: a number Jackson cannot write as a
  // number (a double that overflowed to infinity) is stored as a string.

  /** `key` of an object node; null when `node` is no object or the value
    * is missing or JSON null.
    */
  private def member(node: JsonNode, key: String): JsonNode =
    if (node == null || !node.isObject) null
    else {
      val v = node.get(key)
      if (v == null || v.isNull) null else v
    }

  /** `geometry.type` of a feature: a string's own text, any other value
    * as compact JSON, null when the feature has no geometry or type.
    */
  def geometryType(feature: JsonNode): String = {
    val t = member(member(feature, "geometry"), "type")
    if (t == null) null
    else if (t.isTextual) t.asText
    else if (nonFinite(t)) t.asDouble.toString
    else mapper.writeValueAsString(t)
  }

  /** Anchor position of a feature, the basis of the stats bbox: follow
    * first elements from `geometry.coordinates` down to the first
    * non-array; `lon` is that element when it is a number, `lat` the
    * element after it when that is one too. A string `coordinates` is
    * read as the JSON text it holds. Anything else has no anchor.
    */
  def anchor(feature: JsonNode): (Option[Double], Option[Double]) = {
    val coords = member(member(feature, "geometry"), "coordinates")
    if (coords == null) (None, None)
    else if (coords.isTextual) anchorText(coords.asText)
    else {
      var a = coords
      while (a.isArray && a.size > 0 && a.get(0).isArray) a = a.get(0)
      if (!a.isArray || a.size == 0) (None, None)
      else {
        val lon = coordinate(a.get(0))
        (lon, if (lon.isDefined && a.size > 1) coordinate(a.get(1)) else None)
      }
    }
  }

  /** A double Jackson writes as a string ("Infinity"): one that
    * overflowed when it was parsed.
    */
  private def nonFinite(n: JsonNode): Boolean =
    (n.isDouble || n.isFloat) && !n.asDouble.isFinite

  /** A number as the stored text reads back: its value, which for a
    * huge integer is infinity; none for a non-finite double.
    */
  private def coordinate(n: JsonNode): Option[Double] =
    if (n.isNumber && !nonFinite(n)) Some(n.asDouble) else None

  private val lonText = java.util.regex.Pattern.compile("""^\[+\s*([-+0-9.eE]+)""")
  private val latText =
    java.util.regex.Pattern.compile("""^\[+\s*[-+0-9.eE]+\s*,\s*([-+0-9.eE]+)""")

  private def anchorText(coords: String): (Option[Double], Option[Double]) = {
    def num(p: java.util.regex.Pattern): Option[Double] = {
      val m = p.matcher(coords)
      if (!m.find()) None
      else try Some(java.lang.Double.parseDouble(m.group(1)))
      catch { case _: NumberFormatException => None }
    }
    (num(lonText), num(latText))
  }

  /** Feature count and anchor bbox of the features of one geometry type:
    * one stats row before its table and dataset are named. Min and max
    * ignore missing anchors, like SQL aggregates ignore nulls.
    */
  final case class GeometryStats(geometry_type: String, feature_count: Long,
      min_lon: Option[Double], max_lon: Option[Double],
      min_lat: Option[Double], max_lat: Option[Double]) {
    def merge(o: GeometryStats): GeometryStats = {
      import GeometryStats.pick
      GeometryStats(geometry_type, feature_count + o.feature_count,
        pick(min_lon, o.min_lon)(_ < _), pick(max_lon, o.max_lon)(_ > _),
        pick(min_lat, o.min_lat)(_ < _), pick(max_lat, o.max_lat)(_ > _))
    }
  }

  object GeometryStats {
    /** The stats of one feature. */
    def of(feature: JsonNode): GeometryStats = {
      val (lon, lat) = anchor(feature)
      GeometryStats(geometryType(feature), 1L, lon, lon, lat, lat)
    }

    /** The stats of one stored feature string; text that is no JSON has
      * neither type nor anchor.
      */
    def of(featureJson: String): GeometryStats =
      of(if (featureJson == null) null
        else try mapper.readTree(featureJson)
        catch { case _: java.io.IOException => null })

    /** Merge the stats that share a key, in first-seen key order. */
    def fold[K](parts: IterableOnce[(K, GeometryStats)]): Seq[(K, GeometryStats)] = {
      val byKey = scala.collection.mutable.LinkedHashMap[K, GeometryStats]()
      parts.iterator.foreach { case (k, s) =>
        byKey.updateWith(k)(o => Some(o.fold(s)(_.merge(s))))
      }
      byKey.toSeq
    }

    /** `b` when `a` is missing or `b` beats it, else `a`. */
    private def pick(a: Option[Double], b: Option[Double])(
        beats: (Double, Double) => Boolean): Option[Double] =
      if (a.isEmpty || (b.isDefined && beats(b.get, a.get))) b else a
  }

  // ---- Column API (the UDFs are rows of GraftFunctions' table) ---------

  val stripZUdf = udf((c: String) => stripZJson(c))
  val processGeometryUdf = udf((f: String, l: String) => processGeometry(f, l))
  val firstElevationUdf = udf((c: String) => firstElevation(c))

  def strip_z(c: Column): Column = GraftFunctions("strip_z", c)
  def process_geometry(feature: Column, layer: Column): Column =
    GraftFunctions("process_geometry", feature, layer)
  def first_elevation(coords: Column): Column = GraftFunctions("first_elevation", coords)
}
