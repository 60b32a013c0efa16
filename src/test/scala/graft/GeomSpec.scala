package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom._

class GeomSpec extends AnyFunSuite {

  private def p(x: Double, y: Double) = Point(x, y)
  private def ring(pts: (Double, Double)*) = CoordSeq.of(pts: _*)
  private val unitSq = Polygon(Array(ring((0, 0), (1, 0), (1, 1), (0, 1), (0, 0))))

  // ---- WKB --------------------------------------------------------------

  test("WKB round-trips all seven geometry types") {
    val geoms: Seq[Geom] = Seq(
      p(1.5, -2.25),
      LineString(ring((0, 0), (1, 1), (2, 0))),
      unitSq,
      Polygon(Array(
        ring((0, 0), (4, 0), (4, 4), (0, 4), (0, 0)),
        ring((1, 1), (2, 1), (2, 2), (1, 2), (1, 1)))),
      MultiPoint(Array(p(1, 2), p(3, 4))),
      MultiLineString(Array(LineString(ring((0, 0), (1, 1))),
        LineString(ring((2, 2), (3, 3))))),
      MultiPolygon(Array(unitSq)),
      GeometryCollection(Array(p(9, 9), unitSq)))
    geoms.foreach { g =>
      assert(Wkb.read(Wkb.write(g)) == g, s"round trip failed for ${g.typeName}")
    }
  }

  test("WKB reads big-endian input") {
    // POINT(1 2) big-endian ISO
    val buf = java.nio.ByteBuffer.allocate(21)
    buf.put(0.toByte).putInt(1).putDouble(1.0).putDouble(2.0)
    assert(Wkb.read(buf.array()) == p(1, 2))
  }

  test("WKB skips Z/M ordinates and EWKB SRID") {
    // ISO 1001 = PointZ
    val z = java.nio.ByteBuffer.allocate(29).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    z.put(1.toByte).putInt(1001).putDouble(1).putDouble(2).putDouble(99)
    assert(Wkb.read(z.array()) == p(1, 2))
    // EWKB Z flag + SRID flag
    val e = java.nio.ByteBuffer.allocate(33).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    e.put(1.toByte).putInt(0x80000000 | 0x20000000 | 1).putInt(4326)
      .putDouble(3).putDouble(4).putDouble(5)
    assert(Wkb.read(e.array()) == p(3, 4))
  }

  test("WKB rejects malformed input") {
    assert(Wkb.readOpt(Array[Byte](9, 9, 9)).isEmpty)
    assert(Wkb.readOpt(Array.emptyByteArray).isEmpty)
    // huge claimed ring size must not OOM
    val b = java.nio.ByteBuffer.allocate(9).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(2).putInt(Int.MaxValue)
    assert(Wkb.readOpt(b.array()).isEmpty)
  }

  // ---- WKT --------------------------------------------------------------

  test("WKT round-trips and parses variants") {
    val cases = Seq(
      "POINT (30 10)",
      "LINESTRING (30 10, 10 30, 40 40)",
      "POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))",
      "POLYGON ((35 10, 45 45, 15 40, 10 20, 35 10), (20 30, 35 35, 30 20, 20 30))",
      "MULTIPOINT ((10 40), (40 30), (20 20), (30 10))",
      "MULTILINESTRING ((10 10, 20 20, 10 40), (40 40, 30 30, 40 20, 30 10))",
      "MULTIPOLYGON (((30 20, 45 40, 10 40, 30 20)), ((15 5, 40 10, 10 20, 5 10, 15 5)))",
      "GEOMETRYCOLLECTION (POINT (40 10), LINESTRING (10 10, 20 20, 10 40))")
    cases.foreach { w =>
      assert(Wkt.print(Wkt.parse(w)) == w, s"round trip failed: $w")
    }
    // bare multipoint, Z dropped, EMPTY
    assert(Wkt.parse("MULTIPOINT (10 40, 40 30)") ==
      MultiPoint(Array(p(10, 40), p(40, 30))))
    assert(Wkt.parse("POINT Z (1 2 3)") == p(1, 2))
    assert(Wkt.parse("POLYGON EMPTY").isEmpty)
    assert(Wkt.parseOpt("NOT A GEOM").isEmpty)
  }

  // ---- GeoJSON ----------------------------------------------------------

  test("GeoJSON round-trips and handles Feature/FeatureCollection") {
    val g = GeoJson.parse("""{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,1],[0,0]]]}""")
    assert(g == unitSq)
    assert(GeoJson.parse(GeoJson.print(g)) == g)
    val viaFeature = GeoJson.parse(
      """{"type":"Feature","properties":{"a":1},"geometry":{"type":"Point","coordinates":[5,6]}}""")
    assert(viaFeature == p(5, 6))
    // FeatureCollection: first feature's geometry (reference rule)
    val viaFc = GeoJson.parse(
      """{"type":"FeatureCollection","features":[
        {"type":"Feature","geometry":{"type":"Point","coordinates":[1,2]},"properties":{}},
        {"type":"Feature","geometry":{"type":"Point","coordinates":[3,4]},"properties":{}}]}""")
    assert(viaFc == p(1, 2))
  }

  // ---- predicates / measures --------------------------------------------

  test("intersects: point/line/polygon matrix") {
    assert(Ops.intersects(p(0.5, 0.5), unitSq))
    assert(Ops.intersects(p(0, 0), unitSq)) // boundary counts
    assert(!Ops.intersects(p(2, 2), unitSq))
    val diag = LineString(ring((-1, -1), (2, 2)))
    assert(Ops.intersects(diag, unitSq))
    assert(Ops.intersects(diag, p(0.5, 0.5)))
    assert(!Ops.intersects(LineString(ring((2, 0), (3, 1))), unitSq))
    val far = Polygon(Array(ring((5, 5), (6, 5), (6, 6), (5, 6), (5, 5))))
    assert(!Ops.intersects(unitSq, far))
    val overlap = Polygon(Array(ring((0.5, 0.5), (1.5, 0.5), (1.5, 1.5), (0.5, 1.5), (0.5, 0.5))))
    assert(Ops.intersects(unitSq, overlap))
    // containment without edge crossing
    val inner = Polygon(Array(ring((0.25, 0.25), (0.75, 0.25), (0.75, 0.75), (0.25, 0.75), (0.25, 0.25))))
    assert(Ops.intersects(unitSq, inner))
    assert(Ops.contains(unitSq, inner))
    assert(!Ops.contains(inner, unitSq))
    // touching at a corner counts
    val corner = Polygon(Array(ring((1, 1), (2, 1), (2, 2), (1, 2), (1, 1))))
    assert(Ops.intersects(unitSq, corner))
  }

  test("contains is closed-boundary: edge and corner points ARE contained") {
    // q17's oracle verifies its cell join with an inclusive coordinate
    // range filter and trusts range-filter = st_contains; that identity
    // needs closed-boundary semantics (a point ON a cell edge is
    // contained by both adjacent cells, same as >= / <= matching both
    // ranges). Pin it so a semantics change breaks here, not in a
    // silent oracle drift.
    assert(Ops.contains(unitSq, p(0.5, 0.0)))  // edge midpoint
    assert(Ops.contains(unitSq, p(0.0, 0.0)))  // corner
    assert(Ops.contains(unitSq, p(1.0, 0.5)))  // opposite edge
    assert(!Ops.contains(unitSq, p(1.0 + 1e-12, 0.5))) // just outside
  }

  test("polygon hole semantics") {
    val withHole = Polygon(Array(
      ring((0, 0), (4, 0), (4, 4), (0, 4), (0, 0)),
      ring((1, 1), (3, 1), (3, 3), (1, 3), (1, 1))))
    assert(Ops.pointInPolygon(0.5, 0.5, withHole))
    assert(!Ops.pointInPolygon(2, 2, withHole)) // inside the hole
    assert(Ops.pointInPolygon(1, 2, withHole)) // on hole boundary
  }

  test("distance") {
    assert(Ops.distance(p(0, 0), p(3, 4)) == 5.0)
    assert(Ops.distance(p(2, 0), unitSq) == 1.0)
    assert(Ops.distance(p(0.5, 0.5), unitSq) == 0.0)
    val seg = LineString(ring((0, 2), (2, 2)))
    assert(Ops.distance(seg, unitSq) == 1.0)
    assert(math.abs(Ops.distance(p(2, 2), unitSq) - math.sqrt(2)) < 1e-12)
  }

  test("centroid") {
    assert(Ops.centroid(unitSq) == p(0.5, 0.5))
    assert(Ops.centroid(p(3, 4)) == p(3, 4))
    assert(Ops.centroid(LineString(ring((0, 0), (2, 0)))) == p(1, 0))
    assert(Ops.centroid(MultiPoint(Array(p(0, 0), p(2, 2)))) == p(1, 1))
    // hole-aware: symmetric hole keeps centroid at center
    val withHole = Polygon(Array(
      ring((0, 0), (4, 0), (4, 4), (0, 4), (0, 0)),
      ring((1, 1), (1, 3), (3, 3), (3, 1), (1, 1)))) // opposite winding
    val c = Ops.centroid(withHole)
    assert(math.abs(c.x - 2) < 1e-12 && math.abs(c.y - 2) < 1e-12)
  }

  test("validity") {
    assert(Ops.isValid(unitSq))
    val open = Polygon(Array(ring((0, 0), (1, 0), (1, 1)))) // not closed, <4 pts
    assert(!Ops.isValid(open))
    val bowtie = Polygon(Array(ring((0, 0), (2, 2), (2, 0), (0, 2), (0, 0))))
    assert(!Ops.isValid(bowtie)) // self-intersecting
  }

  test("reducePrecision") {
    val g = Ops.reducePrecision(p(1.23456, -7.89123), 0.01)
    val pt = g.asInstanceOf[Point]
    assert(math.abs(pt.x - 1.23) < 1e-12 && math.abs(pt.y + 7.89) < 1e-12)
  }

  test("WKT: Z tag on one collection member does not leak into siblings") {
    val g = Wkt.parse("GEOMETRYCOLLECTION (POINT Z (1 2 3), POINT (4 5))")
      .asInstanceOf[GeometryCollection]
    assert(g.geoms.length == 2)
    assert(g.geoms(1).asInstanceOf[Point] == Point(4, 5))
  }

  test("WKT: trailing garbage is rejected, not silently truncated") {
    assert(Wkt.parseOpt("POINT (1 2)").isDefined)
    assert(Wkt.parseOpt("POINT (1 2) garbage").isEmpty)
    assert(Wkt.parseOpt("POINT (1 2) POINT (3 4)").isEmpty)
  }

  test("centroid subtracts holes regardless of their winding") {
    def sq(x0: Double, y0: Double, x1: Double, y1: Double, ccw: Boolean) =
      if (ccw) ring((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
      else ring((x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0))
    // shell [0,10]^2 with hole [6,8]x[4,6]: true centroid pulls LEFT of
    // (5,5) — x = (50*5 - 4*7)/(100-4) = 2.3125... wait, hole area 4 at
    // cx 7: (500 - 28)/96 = 4.9167
    val want = (500.0 - 4.0 * 7.0) / 96.0
    val opposite = Polygon(Array(sq(0, 0, 10, 10, ccw = true),
      sq(6, 4, 8, 6, ccw = false)))
    val sameWound = Polygon(Array(sq(0, 0, 10, 10, ccw = true),
      sq(6, 4, 8, 6, ccw = true)))
    val c1 = Ops.centroid(opposite)
    val c2 = Ops.centroid(sameWound)
    assert(math.abs(c1.x - want) < 1e-9 && math.abs(c1.y - 5.0) < 1e-9, c1)
    assert(math.abs(c2.x - c1.x) < 1e-12 && math.abs(c2.y - c1.y) < 1e-12,
      s"same-wound hole must subtract like an opposite-wound one: $c2 vs $c1")
  }

  test("GeoJSON: a Feature with null geometry maps to the empty geometry") {
    val fc = """{"type":"FeatureCollection","features":[
      {"type":"Feature","geometry":null,"properties":{}}]}"""
    val g = GeoJson.parse(fc)
    assert(g.isInstanceOf[GeometryCollection] &&
      g.asInstanceOf[GeometryCollection].geoms.isEmpty)
  }

  test("orientation: empty MultiPolygon member is not a CCW violation") {
    val mp = MultiPolygon(Array(
      Polygon(Array(ring((0, 0), (1, 0), (1, 1), (0, 1), (0, 0)))),
      Polygon(Array.empty)))
    assert(Orientation.exteriorsCcw(mp) == Some(true))
  }

  test("WKB: truncated/mistyped input throws IllegalArgumentException") {
    val full = Wkb.write(Point(1, 2))
    (1 until full.length).foreach { n =>
      intercept[IllegalArgumentException](
        Wkb.read(java.util.Arrays.copyOf(full, n)))
    }
    // MULTIPOINT whose child record is a LineString type code
    val bad = java.nio.ByteBuffer.allocate(1 + 4 + 4 + full.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bad.put(1.toByte).putInt(4).putInt(1) // multipoint, 1 member
    val ls = Wkb.write(LineString(ring((0, 0), (1, 1))))
    val buf = java.nio.ByteBuffer.allocate(9 + ls.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte).putInt(4).putInt(1).put(ls)
    intercept[IllegalArgumentException](Wkb.read(buf.array()))
  }

  test("CRS84 URN and spherical authalic projections transform cleanly") {
    // RFC 7946's legacy named CRS
    val (x, y) = Proj.transform(10.0, 20.0,
      "urn:ogc:def:crs:OGC:1.3:CRS84", "EPSG:3857")
    assert(math.abs(x - 1113194.9079327357) < 1e-3 && y > 2000000, s"($x,$y)")
    // sphere-based LAEA via PROJJSON (EASE-grid shape): e = 0 must not NaN
    val sphereLaea = """{
      "type": "ProjectedCRS", "name": "sphere laea",
      "base_crs": {"datum": {"ellipsoid":
        {"semi_major_axis": 6371228, "semi_minor_axis": 6371228}}},
      "conversion": {"method": {"name": "Lambert Azimuthal Equal Area"},
        "parameters": [
          {"name": "Latitude of natural origin", "value": 90},
          {"name": "Longitude of natural origin", "value": 0},
          {"name": "False easting", "value": 0},
          {"name": "False northing", "value": 0}]}}"""
    val p2 = Proj.projjsonProjection(sphereLaea)
    assert(p2.isDefined, "sphere LAEA must build")
    val (fx, fy) = p2.get.forward(45.0, 60.0)
    assert(!fx.isNaN && !fy.isNaN, s"forward NaN: ($fx,$fy)")
    val (lon, lat) = p2.get.inverse(fx, fy)
    assert(math.abs(lon - 45.0) < 1e-6 && math.abs(lat - 60.0) < 1e-6,
      s"round-trip ($lon,$lat)")
  }

  // ---- round-12 geom sweep regressions ---------------------------------

  test("Proj: the GeoParquet DEFAULT CRS (OGC:CRS84 PROJJSON id) dispatches") {
    val projjson = """{"type":"GeographicCRS","name":"WGS 84 (CRS84)",""" +
      """"id":{"authority":"OGC","code":"CRS84"}}"""
    assert(Proj.parseEpsg(projjson) == 4326)
    assert(Proj.parseEpsg(
      """{"type":"GeographicCRS","name":"NAD83",""" +
        """"id":{"authority":"OGC","code":"CRS83"}}""") == 4269)
  }

  test("contains: concave polygon rejects a line whose middle exits") {
    // U-shape: both endpoints inside the arms, the middle outside
    val u = Wkt.parse(
      "POLYGON((0 0,10 0,10 10,8 10,8 2,2 2,2 10,0 10,0 0))")
    val cross = Wkt.parse("LINESTRING(1 5, 9 5)")
    assert(!Ops.contains(u, cross))
    val insideArm = Wkt.parse("LINESTRING(0.5 5, 1.5 5)")
    assert(Ops.contains(u, insideArm))
  }

  test("contains: a line over a hole is not contained; covering the " +
      "hole entirely is not contained") {
    val donut = Wkt.parse(
      "POLYGON((0 0,10 0,10 10,0 10,0 0),(4 4,6 4,6 6,4 6,4 4))")
    assert(!Ops.contains(donut, Wkt.parse("LINESTRING(3 5, 7 5)")))
    assert(Ops.contains(donut, Wkt.parse("LINESTRING(1 1, 3 1)")))
    // b covers the hole: all b vertices in the shell, no edge cross
    assert(!Ops.contains(donut, Wkt.parse("POLYGON((3 3,7 3,7 7,3 7,3 3))")))
    // b EXACTLY fills the hole (every hole vertex ON b's boundary):
    // interiors are disjoint — must not be contained
    assert(!Ops.contains(donut, Wkt.parse("POLYGON((4 4,6 4,6 6,4 6,4 4))")))
    // b corner-shares the hole but covers it: still not contained
    assert(!Ops.contains(donut, Wkt.parse("POLYGON((4 4,8 4,8 8,4 8,4 4))")))
    // donut-in-donut: b's own hole covers a's hole -> genuinely contained
    assert(Ops.contains(donut, Wkt.parse(
      "POLYGON((3 3,7 3,7 7,3 7,3 3),(3.5 3.5,6.5 3.5,6.5 6.5,3.5 6.5,3.5 3.5))")))
  }

  test("contains: structurally non-empty b with zero coordinates is false") {
    val sq = Wkt.parse("POLYGON((0 0,4 0,4 4,0 4,0 0))")
    assert(!Ops.contains(sq, MultiPoint(Array(Point(Double.NaN, Double.NaN)))))
    assert(!Ops.contains(sq, GeometryCollection(
      Array(GeometryCollection(Array.empty)))))
  }

  test("isValid: collinear spike ring is self-intersecting") {
    // adjacent segments double back: (0 0)->(2 0)->(1 0)
    assert(!Ops.isValid(Wkt.parse("POLYGON((0 0,2 0,1 0,0 0))")))
    // straight-through collinear vertex stays valid (just redundant)
    assert(Ops.isValid(Wkt.parse("POLYGON((0 0,1 0,2 0,2 2,0 2,0 0))")))
    // straight-through collinear pass at the CLOSING vertex is valid too
    assert(Ops.isValid(Wkt.parse("POLYGON((0 0,3 0,3 3,0 3,-2 0,0 0))")))
  }

  test("deep GEOMETRYCOLLECTION nesting returns None through the TRY " +
      "surface instead of StackOverflowError") {
    // WKB: repeated little-endian collection(count=1) headers
    val depth = 100000
    val bb = java.nio.ByteBuffer.allocate(9 * depth + 21)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (1 to depth).foreach { _ => bb.put(1.toByte).putInt(7).putInt(1) }
    bb.put(1.toByte).putInt(1).putDouble(1.0).putDouble(2.0)
    assert(Wkb.readOpt(bb.array()).isEmpty)
    // WKT: same shape as text
    val wkt = "GEOMETRYCOLLECTION(" * depth + "POINT(1 2)" + ")" * depth
    assert(Wkt.parseOpt(wkt).isEmpty)
    // GeoJSON: nested geometries arrays
    val json = """{"type":"GeometryCollection","geometries":[""" * depth +
      """{"type":"Point","coordinates":[1,2]}""" + "]}" * depth
    assert(GeoJson.parseOpt(json).isEmpty)
    // sane nesting still parses everywhere
    assert(Wkt.parseOpt("GEOMETRYCOLLECTION(GEOMETRYCOLLECTION(" +
      "POINT(1 2)))").isDefined)
  }

  test("WKT printing: small/large non-integral doubles stay plain decimal") {
    assert(Wkt.print(Point(0.00001, 0)) == "POINT (0.00001 0)")
    assert(Wkt.print(Point(1.5e-7, 2.5)) == "POINT (0.00000015 2.5)")
    assert(!Wkt.print(Point(12345678.9, 0)).contains("E"))
    // non-finite ordinates print like Double.toString, never throw
    assert(Wkt.print(LineString(CoordSeq(Array(Double.NaN, 1.0),
      Array(5.0, Double.PositiveInfinity)))) ==
      "LINESTRING (NaN 5, 1 Infinity)")
  }

  test("Wkb.typeName reads the header only but agrees with the full parse") {
    val gs = Seq("POINT(1 2)", "LINESTRING(0 0,1 1)",
      "POLYGON((0 0,1 0,1 1,0 0))", "MULTIPOINT((1 2))",
      "GEOMETRYCOLLECTION(POINT(1 2))")
    gs.foreach { w =>
      val g = Wkt.parse(w)
      assert(Wkb.typeName(Wkb.write(g)) == g.typeName, w)
    }
    // a truncated body with a valid header still names the type
    val poly = Wkb.write(Wkt.parse("POLYGON((0 0,1 0,1 1,0 0))"))
    assert(Wkb.typeName(poly.take(9)) == "POLYGON")
  }
  // ---- Wkb.envelope: the Geom-free scan agrees with read(...).envelope ----

  /** Random WKB writer covering what [[Wkb.read]] accepts: all seven
    * types, either byte order per record, ISO Z/M/ZM codes and EWKB
    * Z/M flags, an EWKB SRID, empties (no rings, no members, NaN
    * points), NaN ordinates and nested collections.
    */
  private final class WkbGen(seed: Long) {
    private val r = new scala.util.Random(seed)
    private val out = new java.io.ByteArrayOutputStream()
    private var order = java.nio.ByteOrder.LITTLE_ENDIAN
    private def bytes(n: Int)(f: java.nio.ByteBuffer => Unit): Unit = {
      val b = java.nio.ByteBuffer.allocate(n).order(order); f(b); out.write(b.array())
    }
    private def int(v: Int): Unit = bytes(4)(_.putInt(v))
    private def dbl(v: Double): Unit = bytes(8)(_.putDouble(v))
    private def ord(): Double = r.nextInt(20) match {
      case 0 => Double.NaN
      case _ => (r.nextDouble() - 0.5) * math.pow(10, r.nextInt(7))
    }

    def geometry(): Array[Byte] = { out.reset(); record(r.nextInt(7) + 1, 0, top = true); out.toByteArray }

    private def record(t: Int, depth: Int, top: Boolean): Unit = {
      order = if (r.nextBoolean()) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN
      out.write(if (order == java.nio.ByteOrder.LITTLE_ENDIAN) 1 else 0)
      val (code, extra) = r.nextInt(6) match {
        case 0 => (t, 0)
        case 1 => (t + 1000, 1) // ISO Z
        case 2 => (t + 2000, 1) // ISO M
        case 3 => (t + 3000, 2) // ISO ZM
        case 4 => (t | 0x80000000, 1) // EWKB Z
        case _ => (t | 0x80000000 | 0x40000000, 2) // EWKB ZM
      }
      val srid = top && r.nextInt(3) == 0
      int(if (srid) code | 0x20000000 else code)
      if (srid) int(4326)
      def coord(x: Double, y: Double): Unit = { dbl(x); dbl(y); (0 until extra).foreach(_ => dbl(ord())) }
      def points(n: Int): Unit = { int(n); (0 until n).foreach(_ => coord(ord(), ord())) }
      def members(n: Int, mt: => Int): Unit = {
        int(n); (0 until n).foreach(_ => record(mt, depth + 1, top = false))
      }
      val n = if (r.nextInt(6) == 0) 0 else r.nextInt(4) + 1
      t match {
        case 1 => if (r.nextInt(6) == 0) coord(Double.NaN, Double.NaN) else coord(ord(), ord())
        case 2 => points(if (n == 0) 0 else n + 1)
        case 3 => int(n); (0 until n).foreach(_ => points(r.nextInt(5)))
        case 4 | 5 | 6 => members(n, t - 3)
        case 7 => members(if (depth >= 3) 0 else n, r.nextInt(7) + 1)
      }
    }
  }

  private def scanEnvelope(b: Array[Byte]): (Double, Double, Double, Double) = {
    val e = new Array[Double](4)
    Wkb.envelope(b, e)
    (e(0), e(1), e(2), e(3))
  }

  private def sameEnvelope(a: (Double, Double, Double, Double),
      b: (Double, Double, Double, Double)): Boolean =
    a.productIterator.zip(b.productIterator).forall { case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y
    }

  private def outcome(b: Array[Byte]): Either[String, (Double, Double, Double, Double)] =
    try Right(scanEnvelope(b)) catch { case e: IllegalArgumentException => Left(e.getClass.getName) }

  private def reference(b: Array[Byte]): Either[String, (Double, Double, Double, Double)] =
    try Right(Wkb.read(b).envelope) catch { case e: IllegalArgumentException => Left(e.getClass.getName) }

  test("Wkb.envelope equals Wkb.read(...).envelope over generated WKB") {
    val gen = new WkbGen(20261018L)
    var empties = 0
    (0 until 5000).foreach { i =>
      val b = gen.geometry()
      val want = Wkb.read(b).envelope
      val got = scanEnvelope(b)
      assert(sameEnvelope(got, want), s"case $i: scan $got != read $want")
      if (want._1.isNaN) empties += 1
    }
    assert(empties > 100, s"generator made only $empties empty envelopes")
    // the hand-built cases of the round-trip test
    Seq[Geom](p(1.5, -2.25), unitSq, GeometryCollection(Array(p(9, 9), unitSq)),
      Polygon(Array.empty), MultiPoint(Array(p(Double.NaN, Double.NaN), p(3, 4))))
      .foreach(g => assert(sameEnvelope(scanEnvelope(Wkb.write(g)), g.envelope), g.toString))
  }

  test("Wkb.envelope fails exactly where Wkb.read fails: truncation, " +
      "corruption, mistyped members, nesting") {
    val gen = new WkbGen(7L)
    val rnd = new scala.util.Random(11L)
    (0 until 400).foreach { i =>
      val b = gen.geometry()
      (0 until b.length).foreach { n =>
        val t = java.util.Arrays.copyOf(b, n)
        assert(outcome(t).isLeft, s"case $i: truncation to $n of ${b.length} bytes must throw")
        assert(reference(t).isLeft)
      }
      (0 until 20).foreach { _ =>
        val c = b.clone()
        c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
        (outcome(c), reference(c)) match {
          case (Right(x), Right(y)) => assert(sameEnvelope(x, y), s"case $i corrupted")
          case (x, y) => assert(x == y, s"case $i corrupted: scan $x, read $y")
        }
      }
    }
    // MULTIPOINT whose member is a LineString
    val ls = Wkb.write(LineString(ring((0, 0), (1, 1))))
    val mistyped = java.nio.ByteBuffer.allocate(9 + ls.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).put(1.toByte).putInt(4).putInt(1).put(ls).array()
    assert(reference(mistyped).isLeft && outcome(mistyped).isLeft)
    // GEOMETRYCOLLECTION nested one level past the bound, and at it
    def nested(levels: Int): Array[Byte] = {
      val leaf = Wkb.write(p(1, 2))
      (0 until levels).foldLeft(leaf) { (inner, _) =>
        java.nio.ByteBuffer.allocate(9 + inner.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .put(1.toByte).putInt(7).putInt(1).put(inner).array()
      }
    }
    assert(reference(nested(65)).isLeft && outcome(nested(65)).isLeft)
    assert(outcome(nested(64)) == Right((1.0, 2.0, 1.0, 2.0)))
  }
}
