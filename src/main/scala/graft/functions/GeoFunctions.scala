package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders
import org.locationtech.jts.geom._
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}
import org.locationtech.jts.operation.union.UnaryUnionOp

/** Spatial predicate/constructor surface (operators J1/J2/J5, P4, F2/F4).
  *
  * The reference leans on shapely/PostGIS for five ST_ functions
  * (`gfw_pixetl/tiles/vector_src_tile.py:31-65`, `layers.py:239-258`,
  * `utils/geometry.py:41-48`). Here they are JTS-backed column functions over
  * WKB `binary` columns. These run on CONTROL-PLANE data only — file
  * catalogs and tile footprints, thousands of rows, always on the broadcast
  * side of a join — never per pixel, so plain Scala UDFs are the right
  * cost/complexity point (SURVEY §4; the deliberate deviation from §4's
  * Expression prescription, accepted in VERDICT r17 #8). THE CONTRACT:
  * no st_* column may appear in a plan that moves packed pixel arrays —
  * PlanContractSpec's block-relation sweep enforces it mechanically, so a
  * future call site that drags a UDF onto the block path fails CI rather
  * than shipping an interpreted per-pixel boundary. Geometry values are
  * WKB so they serialize compactly through shuffles and parquet.
  */
object GeoFunctions {

  private val gf = new GeometryFactory(new PrecisionModel(), 4326)

  // Thread-local readers: JTS readers are not thread-safe, executor tasks are threads.
  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(gf))
  private val wkbWriter = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter())
  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(gf))
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => new WKTWriter())

  def read(wkb: Array[Byte]): Geometry  = wkbReader.get.read(wkb)
  def write(g: Geometry): Array[Byte]   = wkbWriter.get.write(g)

  // The join-condition predicate (J5) evaluates tiles × feature rows, so
  // the same WKB bytes recur thousands of times per task. Per-thread LRUs
  // of parsed and PREPARED geometries (JTS indexed predicates) avoid both
  // the per-row WKB deserialization and the repeated topology walks.
  private final class BytesKey(val b: Array[Byte]) {
    override val hashCode: Int = java.util.Arrays.hashCode(b)
    override def equals(o: Any): Boolean = o match {
      case k: BytesKey => java.util.Arrays.equals(b, k.b)
      case _ => false
    }
  }
  private def lru[V](cap: Int) = new java.util.LinkedHashMap[BytesKey, V](cap, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[BytesKey, V]): Boolean = size() > cap
  }
  private val readCache = ThreadLocal.withInitial(() => lru[Geometry](512))
  private val prepCache = ThreadLocal.withInitial(
    () => lru[org.locationtech.jts.geom.prep.PreparedGeometry](256))

  private def cachedRead(wkb: Array[Byte]): Geometry = {
    val k = new BytesKey(wkb)
    var g = readCache.get.get(k)
    if (g == null) { g = read(wkb); readCache.get.put(k, g) }
    g
  }

  private def prepared(wkb: Array[Byte]): org.locationtech.jts.geom.prep.PreparedGeometry = {
    val k = new BytesKey(wkb)
    var p = prepCache.get.get(k)
    if (p == null) {
      p = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(read(wkb))
      prepCache.get.put(k, p)
    }
    p
  }
  def readWkt(wkt: String): Geometry    = wktReader.get.read(wkt)
  def writeWkt(g: Geometry): String     = wktWriter.get.write(g)

  def envelope(left: Double, bottom: Double, right: Double, top: Double): Geometry =
    gf.toGeometry(new Envelope(left, right, bottom, top))

  // ------------------------------------------------------------ columns
  /** ST_MakeEnvelope(left, bottom, right, top) → WKB polygon. */
  val st_makeEnvelope: (Column, Column, Column, Column) => Column = {
    val f = udf((l: Double, b: Double, r: Double, t: Double) => write(envelope(l, b, r, t)))
    (l, b, r, t) => f(l, b, r, t)
  }

  /** Interiors-intersect predicate `intersects ∧ ¬touches` — the tile/source
    * test of `tiles/raster_src_tile.py:155-161` (F2/J2). */
  def intersectsInterior(a: Geometry, b: Geometry): Boolean = a.intersects(b) && !a.touches(b)

  val st_intersects: (Column, Column) => Column = {
    val f = udf((a: Array[Byte], b: Array[Byte]) =>
      a != null && b != null && prepared(a).intersects(cachedRead(b)))
    (a, b) => f(a, b)
  }

  /** ST_Intersection (P4 clip), nulling out empty results. */
  val st_intersection: (Column, Column) => Column = {
    val f = udf((a: Array[Byte], b: Array[Byte]) => {
      if (a == null || b == null) null
      else {
        val g = read(a).intersection(read(b))
        if (g.isEmpty) null else write(g)
      }
    })
    (a, b) => f(a, b)
  }

  /** Polygonal intersection with the GeometryCollection cleanup of
    * `utils/utils.py:187-208`: a shared edge plus an overlap elsewhere
    * yields a collection with line artifacts — drop the non-polygonal
    * pieces and union the rest. Empty when the inputs don't overlap. */
  def intersectionPolygonal(a: Geometry, b: Geometry): Geometry = {
    val g = a.intersection(b)
    if (g.getGeometryType == "GeometryCollection") {
      val polys = (0 until g.getNumGeometries).map(g.getGeometryN)
        .filter(_.isInstanceOf[Polygonal])
      if (polys.isEmpty) gf.createPolygon() else GeomUnionAgg.unionAll(polys)
    } else g
  }

  /** ST_CollectionExtract(geom, 3): keep polygonal parts only
    * (`tiles/vector_src_tile.py:44-65`). */
  val st_collectionExtractPolygon: Column => Column = {
    val f = udf((a: Array[Byte]) => {
      val g = read(a)
      val polys = (0 until g.getNumGeometries).map(g.getGeometryN).filter(_.isInstanceOf[Polygonal])
      if (polys.isEmpty) null
      else write(gf.buildGeometry(java.util.Arrays.asList(polys: _*)).union())
    })
    a => f(a)
  }

  val st_area: Column => Column = {
    val f = udf((a: Array[Byte]) => if (a == null) 0.0 else read(a).getArea)
    a => f(a)
  }

  /** ST_Transform between the two grid CRSs (P5 applied to geometries):
    * per-coordinate closed-form reprojection via [[Reproject]]. */
  val st_transform: (Column, Column, Column) => Column = {
    val f = udf((a: Array[Byte], from: String, to: String) => {
      if (a == null) null
      else {
        val g = read(a).copy()
        g.apply(new CoordinateFilter {
          override def filter(c: Coordinate): Unit = {
            val (x, y) =
              if (Reproject.normalizedPair(from, to) == ("EPSG:4326", "EPSG:3857"))
                Reproject.toWebMercator(c.x, c.y)
              else Reproject.toWgs84(c.x, c.y)
            c.setX(x); c.setY(y)
          }
        })
        g.geometryChanged()
        write(g)
      }
    })
    (a, from, to) => f(a, from, to)
  }

  val st_geomFromWkt: Column => Column = {
    val f = udf((s: String) => write(readWkt(s)))
    s => f(s)
  }

  val st_asWkt: Column => Column = {
    val f = udf((a: Array[Byte]) => if (a == null) null else writeWkt(read(a)))
    a => f(a)
  }

  /** Footprint → GeoJSON geometry fragment for the manifest sinks (K3),
    * matching the FeatureCollection shape of `utils/geometry.py:14-38`. */
  val st_asGeoJson: Column => Column = {
    val f = udf((a: Array[Byte]) => if (a == null) null else toGeoJson(read(a)))
    a => f(a)
  }

  def toGeoJson(g: Geometry): String = {
    def ring(r: Seq[Coordinate]): String =
      r.map(c => s"[${c.x},${c.y}]").mkString("[", ",", "]")
    def poly(p: Polygon): String = {
      val rings = (Seq(p.getExteriorRing) ++
        (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
        .map(r => ring(r.getCoordinates.toSeq))
      rings.mkString("[", ",", "]")
    }
    g match {
      case p: Polygon => s"""{"type":"Polygon","coordinates":${poly(p)}}"""
      case mp: MultiPolygon =>
        val parts = (0 until mp.getNumGeometries)
          .map(i => poly(mp.getGeometryN(i).asInstanceOf[Polygon]))
        s"""{"type":"MultiPolygon","coordinates":${parts.mkString("[", ",", "]")}}"""
      case other => s"""{"type":"${other.getGeometryType}","coordinates":[]}"""
    }
  }

  /** Register the SQL surface. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("st_makeenvelope",
      (l: Double, b: Double, r: Double, t: Double) => write(envelope(l, b, r, t)))
    spark.udf.register("st_intersects",
      (a: Array[Byte], b: Array[Byte]) => read(a).intersects(read(b)))
    spark.udf.register("st_touches",
      (a: Array[Byte], b: Array[Byte]) => read(a).touches(read(b)))
    spark.udf.register("st_intersection", (a: Array[Byte], b: Array[Byte]) => {
      val g = read(a).intersection(read(b)); if (g.isEmpty) null else write(g)
    })
    spark.udf.register("st_area", (a: Array[Byte]) => read(a).getArea)
    spark.udf.register("st_aswkt", (a: Array[Byte]) => writeWkt(read(a)))
    spark.udf.register("st_geomfromwkt", (s: String) => write(readWkt(s)))
  }
}

/** Geometric union aggregate (operator A6) — the engine's one true custom
  * UDAF. Re-expression of shapely `unary_union` over tile footprints
  * (`gfw_pixetl/utils/geometry.py:41-48`, `layers.py:239-258`). Union is
  * commutative + associative, so Spark runs it partial-then-final with no
  * extra shuffle beyond the final single-group exchange; intermediate unions
  * keep the buffer geometry small (footprints coalesce into few polygons).
  */
class GeomUnionAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  import GeoFunctions._
  override def zero: Array[Byte] = null
  override def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] =
    if (in == null) buf
    else if (buf == null) in
    else write(read(buf).union(read(in)))
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = reduce(a, b)
  override def finish(buf: Array[Byte]): Array[Byte] = buf
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object GeomUnionAgg {
  /** `st_union_agg(geomWkb)` as a Column aggregate. */
  def column(c: Column): Column =
    org.apache.spark.sql.functions.udaf(new GeomUnionAgg()).apply(c)

  def unionAll(geoms: Seq[Geometry]): Geometry = UnaryUnionOp.union(
    java.util.Arrays.asList(geoms: _*))
}
