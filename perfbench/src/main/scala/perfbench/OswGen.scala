package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** One row of the `stats` table as a correct load writes it. */
final case class StatsRow(layerTable: String, geometryType: String,
    count: Long, minLon: Double, maxLon: Double, minLat: Double, maxLat: Double)

/** Everything a correct load of one archive leaves in the warehouse.
  *
  * `rows`/`hashes` cover every `content_*` feature table: the row count and
  * the sum of [[OswGen.rowHash]] over the row text that
  * [[Checks.tableDigests]] rebuilds from the stored columns. `features`
  * keeps the stored feature JSON per table only when the archive was
  * generated with `keepFeatures` (the read-mix probe needs it).
  */
final case class LoadExpect(
    rows: Map[String, Long],
    hashes: Map[String, Long],
    stats: Seq[StatsRow],
    datasetInfo: Map[String, String], // dataset column -> header JSON
    extensionFiles: Seq[(Int, String, String)], // (id, name, file_meta)
    features: Map[String, Vector[String]])

/** A generated archive on the benchmark side: its bytes, the facts the
  * result records about it, and the expected outcome of loading it.
  * `expect` is None for bad input, which must fail with [[OswGen.NoGeoJson]].
  */
final case class Archive(name: String, bytes: Array[Byte],
    uncompressedBytes: Long, featuresPerLayer: Map[String, Int],
    expect: Option[LoadExpect]) {
  def features: Long = featuresPerLayer.values.map(_.toLong).sum
}

/** Seeded OSW archive generator with its own expected answers.
  *
  * Each layer entry is a FeatureCollection with header keys before and
  * after `features`. Coordinates are 3-D on most features and cover the
  * transform's cases: Z dropped everywhere; on nodes and points a non-zero
  * Z becomes `ext:elevation`, a zero Z adds nothing, and a feature that
  * already carries `ext:elevation` gets `ext:elevation_1`. Some
  * coordinates are written in scientific notation (lower-case `e`, which
  * the stored JSON renders as `E`), the stats bbox case. Geometries mix
  * Point, LineString, Polygon and MultiPolygon.
  *
  * The expected stored text is produced here by the same rules, so a load
  * is checked against answers the program under test never computed.
  */
object OswGen {

  val User = "perfbench-user"
  val NoGeoJson =
    "Error loading the data : No valid .geojson files found in dataset archive."
  val Loaded = "Data loaded successfully"

  /** (layer name, content table, dataset column) in routing order. */
  val layers: Seq[(String, String, String)] = Seq(
    ("nodes", "node", "node_info"),
    ("edges", "edge", "event_info"),
    ("points", "extension_point", "ext_point_info"),
    ("lines", "extension_line", "ext_line_info"),
    ("polygons", "extension_polygon", "ext_polygon_info"),
    ("zones", "zone", "zone_info"))
  val tables: Seq[String] = layers.map(_._2) :+ "extension"

  /** The hash the checks aggregate: `pmod(xxhash64(text), 2^31-1)`. */
  def rowHash(text: String): Long = {
    val b = text.getBytes(UTF_8)
    val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    java.lang.Math.floorMod(h, 2147483647L)
  }

  private def num(d: Double): String = java.lang.Double.toString(d)

  /** A valid archive with `perLayer` features in each named layer and one
    * extension entry per `(name, features)` in `extensions`.
    */
  def archive(seed: Long, name: String, perLayer: Seq[(String, Int)],
      extensions: Seq[(String, Int)], keepFeatures: Boolean = false): Archive = {
    val rnd = new SplittableRandom(seed)
    val lon0 = -123.0 + rnd.nextDouble() * 2
    val lat0 = 46.0 + rnd.nextDouble() * 2
    val zip = new ZipBuilder
    val rows = mutable.LinkedHashMap[String, Long]()
    val hashes = mutable.LinkedHashMap[String, Long]()
    val kept = mutable.LinkedHashMap[String, Vector[String]]()
    val stats = mutable.LinkedHashMap[(String, String), Array[Double]]()
    val info = mutable.LinkedHashMap[String, String]()
    val extFiles = mutable.ArrayBuffer[(Int, String, String)]()
    val perLayerOut = mutable.LinkedHashMap[String, Int]()

    // junk the entry filter must skip
    zip.add(s"__MACOSX/._$name.nodes.geojson", "not json")
    zip.add("readme.txt", "OSW dataset generated for the extract-load benchmark")

    def entry(path: String, layer: String, table: String, n: Int, extId: Int): String = {
      val (headBefore, headAfter, headerJson) = header(rnd, s"$name/$layer")
      val body = new java.lang.StringBuilder(n * 160 + 256)
      body.append("{\"type\":\"FeatureCollection\",").append(headBefore)
        .append(",\"features\":[")
      var h = 0L
      val keep = if (keepFeatures) Vector.newBuilder[String] else null
      var i = 0
      while (i < n) {
        val f = feature(rnd, layer, s"$name-$layer-$i", i, lon0, lat0)
        if (i > 0) body.append(',')
        body.append(f.input)
        val rowText =
          if (extId > 0) s"$User|$extId|${f.stored}" else s"$User|${f.stored}"
        h += rowHash(rowText)
        if (keep != null) keep += f.stored
        val acc = stats.getOrElseUpdate((table, f.geometryType),
          Array(0, Double.MaxValue, -Double.MaxValue, Double.MaxValue, -Double.MaxValue))
        acc(0) += 1
        acc(1) = math.min(acc(1), f.lon); acc(2) = math.max(acc(2), f.lon)
        acc(3) = math.min(acc(3), f.lat); acc(4) = math.max(acc(4), f.lat)
        i += 1
      }
      body.append("],").append(headAfter).append('}')
      if (n > 0) {
        rows(table) = rows.getOrElse(table, 0L) + n
        hashes(table) = hashes.getOrElse(table, 0L) + h
        if (keep != null) kept(table) = kept.getOrElse(table, Vector.empty) ++ keep.result()
      }
      perLayerOut(layer) = perLayerOut.getOrElse(layer, 0) + n
      zip.add(path, body.toString)
      headerJson
    }

    layers.foreach { case (layer, table, column) =>
      perLayer.find(_._1 == layer).foreach { case (_, n) =>
        info(column) = entry(s"$name.$layer.geojson", layer, table, n, 0)
      }
    }
    extensions.zipWithIndex.foreach { case ((ext, n), i) =>
      val meta = entry(s"ext/$ext.geojson", "extension", "extension", n, i + 1)
      extFiles += ((i + 1, ext, meta))
    }

    val statRows = stats.toSeq.map { case ((t, g), a) =>
      StatsRow(t, g, a(0).toLong, a(1), a(2), a(3), a(4))
    }.sortBy(r => (r.layerTable, r.geometryType))
    Archive(name, zip.bytes(), zip.rawBytes, perLayerOut.toMap,
      Some(LoadExpect(rows.toMap, hashes.toMap, statRows, info.toMap,
        extFiles.toSeq, kept.toMap)))
  }

  /** Bad input: a ZIP whose first local header is overwritten, so no entry
    * can be read; or a well-formed ZIP without any `.geojson` entry.
    */
  def badArchive(name: String, corrupt: Boolean): Archive = {
    val zip = new ZipBuilder
    zip.add("readme.txt", s"dataset $name")
    zip.add("__MACOSX/._nodes.geojson", "{}")
    val b = zip.bytes()
    if (corrupt) { b(0) = 'X'; b(1) = 'X' }
    Archive(name, b, zip.rawBytes, Map.empty, None)
  }

  /** Root header keys: strings and numbers are captured (before and after
    * `features`); booleans and objects are not.
    */
  private def header(rnd: SplittableRandom, source: String): (String, String, String) = {
    val version = 1 + rnd.nextInt(9)
    val scale = num((1 + rnd.nextInt(99)) / 4.0)
    val stamp = f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02dT00:00:00Z"
    val before = s""""dataSource":"$source","version":$version,"crs":{"type":"name"},"public":true"""
    val after = s""""dataTimestamp":"$stamp","scale":$scale"""
    (before, after,
      s"""{"dataSource":"$source","version":$version,"dataTimestamp":"$stamp","scale":$scale}""")
  }

  private final case class Feature(input: String, stored: String,
      geometryType: String, lon: Double, lat: Double)

  /** One feature as written into the archive and as a correct load stores
    * it (compact JSON, Z stripped, elevation recorded on nodes/points).
    */
  private def feature(rnd: SplittableRandom, layer: String, id: String, i: Int,
      lon0: Double, lat0: Double): Feature = {
    def coord(): (Double, Double) =
      if (i % 53 == 7) // near the prime meridian: rendered in scientific notation
        ((rnd.nextInt(9000) + 1) * 1e-8, lat0 + rnd.nextInt(1000000) / 1e7)
      else (lon0 + rnd.nextInt(1000000) / 1e6, lat0 + rnd.nextInt(1000000) / 1e7)
    def z(): Double = 1 + rnd.nextInt(40000) / 100.0
    // position text in the archive and as stored
    def pos(x: Double, y: Double, zv: Option[String]): (String, String) = {
      val xs = num(x); val ys = num(y)
      val in = if (xs.contains('E')) xs.toLowerCase else xs
      (s"[$in,$ys${zv.map("," + _).getOrElse("")}]", s"[$xs,$ys]")
    }
    val props = s""""_id":"$id","highway":"${highways(i % highways.length)}""""

    layer match {
      case "nodes" | "points" =>
        val (x, y) = coord()
        // 0: elevation recorded, 1: zero Z (nothing recorded), 2: existing
        // ext:elevation (recorded as _1), 3: 2-D, 4: integer Z
        val zv = z()
        val (zText, inProps, outProps) = i % 5 match {
          case 0 => (Some(num(zv)), props, s"""$props,"ext:elevation":${num(zv)}""")
          case 1 => (Some("0"), props, props)
          case 2 =>
            val p = s"""$props,"ext:elevation":5.5"""
            (Some(num(zv)), p, s"""$p,"ext:elevation_1":${num(zv)}""")
          case 3 => (None, props, props)
          case _ =>
            val iz = zv.toInt.toString
            (Some(iz), props, s"""$props,"ext:elevation":$iz""")
        }
        val (pin, pout) = pos(x, y, zText)
        Feature(
          s"""{"type":"Feature","geometry":{"type":"Point","coordinates":$pin},"properties":{$inProps}}""",
          s"""{"type":"Feature","geometry":{"type":"Point","coordinates":$pout},"properties":{$outProps}}""",
          "Point", x, y)

      case "edges" | "lines" | "extension" =>
        val n = 2 + rnd.nextInt(3)
        val pts = Seq.fill(n)(coord())
        val in = pts.map { case (x, y) => pos(x, y, Some(num(z())))._1 }
        val out = pts.map { case (x, y) => pos(x, y, None)._2 }
        val (gt, wrapIn, wrapOut) =
          if (layer == "extension" && i % 3 == 0)
            ("Point", in.head, out.head)
          else ("LineString", in.mkString("[", ",", "]"), out.mkString("[", ",", "]"))
        Feature(
          s"""{"type":"Feature","geometry":{"type":"$gt","coordinates":$wrapIn},"properties":{$props}}""",
          s"""{"type":"Feature","geometry":{"type":"$gt","coordinates":$wrapOut},"properties":{$props}}""",
          gt, pts.head._1, pts.head._2)

      case _ => // polygons, zones
        def ring(): (Seq[String], Seq[String], (Double, Double)) = {
          val (x, y) = coord()
          val d = 1e-4 * (1 + rnd.nextInt(9))
          val pts = Seq((x, y), (x + d, y), (x + d, y + d), (x, y + d), (x, y))
          val zv = num(z())
          (pts.map { case (a, b) => pos(a, b, Some(zv))._1 },
            pts.map { case (a, b) => pos(a, b, None)._2 }, (x, y))
        }
        def poly(): (String, String, (Double, Double)) = {
          val (ri, ro, first) = ring()
          (ri.mkString("[[", ",", "]]"), ro.mkString("[[", ",", "]]"), first)
        }
        val (gt, cin, cout, first) =
          if (i % 4 == 3) {
            val (a, b, f) = poly(); val (c, d, _) = poly()
            ("MultiPolygon", s"[$a,$c]", s"[$b,$d]", f)
          } else { val (a, b, f) = poly(); ("Polygon", a, b, f) }
        Feature(
          s"""{"type":"Feature","geometry":{"type":"$gt","coordinates":$cin},"properties":{$props}}""",
          s"""{"type":"Feature","geometry":{"type":"$gt","coordinates":$cout},"properties":{$props}}""",
          gt, first._1, first._2)
    }
  }

  private val highways = Array("footway", "crossing", "steps", "living_street", "service")

  private final class ZipBuilder {
    private val bos = new ByteArrayOutputStream()
    private val zos = new ZipOutputStream(bos)
    /** Uncompressed bytes of the `.geojson` entries a load reads. */
    var rawBytes = 0L
    def add(path: String, body: String): Unit = {
      val b = body.getBytes(UTF_8)
      zos.putNextEntry(new ZipEntry(path))
      zos.write(b)
      zos.closeEntry()
      if (path.endsWith(".geojson") && !path.startsWith("__MACOSX/")) rawBytes += b.length
    }
    def bytes(): Array[Byte] = { zos.close(); bos.toByteArray }
  }
}
