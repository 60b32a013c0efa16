package graft.geom

import java.lang.invoke.MethodHandles
import java.nio.{ByteBuffer, ByteOrder}

/** WKB reader/writer.
  *
  * Accepts ISO WKB (type codes 1-7, +1000 Z, +2000 M, +3000 ZM) and
  * EWKB (0x80000000 Z flag, 0x40000000 M flag, 0x20000000 SRID flag),
  * both endiannesses; Z/M ordinates and SRID are parsed and dropped
  * (XY model — see Geom). Writes ISO WKB little-endian, XY only,
  * matching what the reference stores ("encoding":"WKB",
  * reference `core/common.py:1634-1636`).
  */
object Wkb {

  // ---- reading ----------------------------------------------------------

  /** Parse WKB; throws IllegalArgumentException on malformed input —
    * including truncated buffers (BufferUnderflow) and mistyped nested
    * members (ClassCast), which are wrapped so callers that follow the
    * documented contract don't miss raw NIO/cast errors.
    */
  def read(bytes: Array[Byte]): Geom = {
    val buf = ByteBuffer.wrap(bytes)
    try readGeom(buf)
    catch {
      case e: IllegalArgumentException => throw e
      case e @ (_: java.nio.BufferUnderflowException |
          _: ClassCastException | _: IndexOutOfBoundsException |
          _: NegativeArraySizeException) =>
        throw new IllegalArgumentException(
          s"malformed WKB (${bytes.length} bytes): ${e.getClass.getSimpleName}", e)
    }
  }

  /** Null-safe parse: None on malformed input (TRY_CAST semantics,
    * cf. reference `core/convert.py:374-463` --skip-invalid).
    */
  def readOpt(bytes: Array[Byte]): Option[Geom] =
    try Some(read(bytes)) catch { case _: Exception => None }

  /** Nesting bound for recursive GEOMETRYCOLLECTION parsing: real data
    * nests a handful of levels; a corrupt blob of repeated collection
    * headers would otherwise recurse to StackOverflowError, an Error
    * that escapes readOpt's Exception catch and kills the Spark task
    * instead of skipping the row. Shared by the WKT and GeoJSON
    * parsers (same recursive shape).
    */
  private[geom] val MaxNesting = 64

  private def readGeom(buf: ByteBuffer, depth: Int = 0): Geom = {
    require(depth <= MaxNesting, s"WKB nesting deeper than $MaxNesting")
    val order = buf.get() match {
      case 0 => ByteOrder.BIG_ENDIAN
      case 1 => ByteOrder.LITTLE_ENDIAN
      case b => throw new IllegalArgumentException(s"bad WKB byte order $b")
    }
    buf.order(order)
    val rawType = buf.getInt()
    // EWKB flags
    val ewkbZ = (rawType & 0x80000000) != 0
    val ewkbM = (rawType & 0x40000000) != 0
    val hasSrid = (rawType & 0x20000000) != 0
    val base0 = rawType & 0x0FFFFFFF
    // ISO: 1-7 XY, 1001-1007 Z, 2001-2007 M, 3001-3007 ZM
    val isoDims = base0 / 1000
    val geomType = base0 % 1000
    val hasZ = ewkbZ || isoDims == 1 || isoDims == 3
    val hasM = ewkbM || isoDims == 2 || isoDims == 3
    if (hasSrid) buf.getInt() // skip SRID
    val extra = (if (hasZ) 1 else 0) + (if (hasM) 1 else 0)

    def coord(): (Double, Double) = {
      val x = buf.getDouble(); val y = buf.getDouble()
      var i = 0
      while (i < extra) { buf.getDouble(); i += 1 }
      (x, y)
    }
    def ring(): CoordSeq = {
      val n = buf.getInt()
      require(n >= 0 && n <= buf.remaining(), s"bad ring size $n")
      val xs = new Array[Double](n); val ys = new Array[Double](n)
      var i = 0
      while (i < n) { val (x, y) = coord(); xs(i) = x; ys(i) = y; i += 1 }
      CoordSeq(xs, ys)
    }

    geomType match {
      case 1 =>
        val (x, y) = coord(); Point(x, y)
      case 2 => LineString(ring())
      case 3 =>
        val nRings = buf.getInt()
        require(nRings >= 0 && nRings <= buf.remaining(), s"bad nRings $nRings")
        Polygon(Array.fill(nRings)(ring()))
      case 4 =>
        val n = buf.getInt()
        require(n >= 0 && n <= buf.remaining(), s"bad multi size $n")
        MultiPoint(Array.fill(n)(readGeom(buf, depth + 1).asInstanceOf[Point]))
      case 5 =>
        val n = buf.getInt()
        require(n >= 0 && n <= buf.remaining(), s"bad multi size $n")
        MultiLineString(Array.fill(n)(readGeom(buf, depth + 1).asInstanceOf[LineString]))
      case 6 =>
        val n = buf.getInt()
        require(n >= 0 && n <= buf.remaining(), s"bad multi size $n")
        MultiPolygon(Array.fill(n)(readGeom(buf, depth + 1).asInstanceOf[Polygon]))
      case 7 =>
        val n = buf.getInt()
        require(n >= 0 && n <= buf.remaining(), s"bad collection size $n")
        GeometryCollection(Array.fill(n)(readGeom(buf, depth + 1)))
      case t => throw new IllegalArgumentException(s"bad WKB geometry type $t")
    }
  }

  // ---- envelope scan ----------------------------------------------------

  private val LeF64 = MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Double]], ByteOrder.LITTLE_ENDIAN)
  private val BeF64 = MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Double]], ByteOrder.BIG_ENDIAN)
  private val LeI32 = MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Int]], ByteOrder.LITTLE_ENDIAN)
  private val BeI32 = MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Int]], ByteOrder.BIG_ENDIAN)

  /** `read(bytes).envelope` without building the geometry: one pass
    * over the buffer that only compares ordinates, writing
    * (xmin, ymin, xmax, ymax) into `out(0..3)` — all NaN when the
    * geometry has no coordinates. Allocates nothing, so the per-row
    * envelope kernels (Hilbert keys, the sortHilbert sketch, the
    * envelope filter) cost a scan, not a `Geom` tree. Accepts exactly
    * what [[read]] accepts and throws IllegalArgumentException where it
    * throws: bad byte order or type code, negative or oversized counts,
    * a mistyped multi-geometry member, nesting past [[MaxNesting]], a
    * truncated buffer.
    */
  def envelope(bytes: Array[Byte], out: Array[Double]): Unit = {
    out(0) = Double.PositiveInfinity; out(1) = Double.PositiveInfinity
    out(2) = Double.NegativeInfinity; out(3) = Double.NegativeInfinity
    try scanEnvelope(bytes, 0, 0, 0, out)
    catch {
      case e: IndexOutOfBoundsException =>
        throw new IllegalArgumentException(
          s"malformed WKB (${bytes.length} bytes): ${e.getClass.getSimpleName}", e)
    }
    if (out(0) > out(2)) { // Geom.envelope's emptiness test
      out(0) = Double.NaN; out(1) = Double.NaN; out(2) = Double.NaN; out(3) = Double.NaN
    }
  }

  /** Scans the geometry at `pos` (its type must be `want`, or any type
    * when `want` is 0) into `out`; returns the position after it.
    */
  private def scanEnvelope(b: Array[Byte], pos: Int, depth: Int, want: Int,
      out: Array[Double]): Int = {
    require(depth <= MaxNesting, s"WKB nesting deeper than $MaxNesting")
    val le = b(pos) match {
      case 0 => false
      case 1 => true
      case o => throw new IllegalArgumentException(s"bad WKB byte order $o")
    }
    def i32(p: Int): Int =
      if (le) (LeI32.get(b, p): Int) else (BeI32.get(b, p): Int)
    def f64(p: Int): Double =
      if (le) (LeF64.get(b, p): Double) else (BeF64.get(b, p): Double)
    // header masking exactly as readGeom
    val rawType = i32(pos + 1)
    val base0 = rawType & 0x0FFFFFFF
    val isoDims = base0 / 1000
    val geomType = base0 % 1000
    val hasZ = (rawType & 0x80000000) != 0 || isoDims == 1 || isoDims == 3
    val hasM = (rawType & 0x40000000) != 0 || isoDims == 2 || isoDims == 3
    var p = pos + 5
    if ((rawType & 0x20000000) != 0) p += 4 // SRID
    if (geomType < 1 || geomType > 7)
      throw new IllegalArgumentException(s"bad WKB geometry type $geomType")
    if (want != 0 && geomType != want)
      throw new IllegalArgumentException(
        s"WKB member type $geomType inside a collection of type $want")
    val stride = 8 * (2 + (if (hasZ) 1 else 0) + (if (hasM) 1 else 0))
    def coords(from: Int, n: Int): Int = {
      if (n.toLong * stride > b.length - from)
        throw new IllegalArgumentException(
          s"malformed WKB (${b.length} bytes): truncated coordinates")
      var q = from
      val end = from + n * stride
      while (q < end) {
        val x = f64(q); val y = f64(q + 8)
        if (x < out(0)) out(0) = x; if (x > out(2)) out(2) = x
        if (y < out(1)) out(1) = y; if (y > out(3)) out(3) = y
        q += stride
      }
      end
    }
    def count(what: String): Int = {
      val n = i32(p); p += 4
      require(n >= 0 && n <= b.length - p, s"bad $what $n")
      n
    }
    geomType match {
      case 1 => coords(p, 1)
      case 2 => val n = count("ring size"); coords(p, n)
      case 3 =>
        var rings = count("nRings")
        while (rings > 0) { val n = count("ring size"); p = coords(p, n); rings -= 1 }
        p
      case t =>
        var n = count(if (t == 7) "collection size" else "multi size")
        val member = if (t == 7) 0 else t - 3
        while (n > 0) { p = scanEnvelope(b, p, depth + 1, member, out); n -= 1 }
        p
    }
  }

  // ---- writing ----------------------------------------------------------

  def write(g: Geom): Array[Byte] = {
    val buf = ByteBuffer.allocate(byteSize(g)).order(ByteOrder.LITTLE_ENDIAN)
    writeGeom(g, buf)
    buf.array()
  }

  private def byteSize(g: Geom): Int = g match {
    case _: Point => 1 + 4 + 16
    case LineString(cs) => 1 + 4 + 4 + 16 * cs.size
    case Polygon(rings) => 1 + 4 + 4 + rings.map(r => 4 + 16 * r.size).sum
    case MultiPoint(ps) => 1 + 4 + 4 + ps.length * 21
    case MultiLineString(ls) => 1 + 4 + 4 + ls.map(byteSize).sum
    case MultiPolygon(ps) => 1 + 4 + 4 + ps.map(byteSize).sum
    case GeometryCollection(gs) => 1 + 4 + 4 + gs.map(byteSize).sum
  }

  private def typeCode(g: Geom): Int = g match {
    case _: Point => 1
    case _: LineString => 2
    case _: Polygon => 3
    case _: MultiPoint => 4
    case _: MultiLineString => 5
    case _: MultiPolygon => 6
    case _: GeometryCollection => 7
  }

  private def writeGeom(g: Geom, buf: ByteBuffer): Unit = {
    buf.put(1.toByte).putInt(typeCode(g))
    g match {
      case Point(x, y) => buf.putDouble(x).putDouble(y)
      case LineString(cs) =>
        buf.putInt(cs.size); cs.foreach((x, y) => { buf.putDouble(x).putDouble(y); () })
      case Polygon(rings) =>
        buf.putInt(rings.length)
        rings.foreach { r =>
          buf.putInt(r.size); r.foreach((x, y) => { buf.putDouble(x).putDouble(y); () })
        }
      case MultiPoint(ps) => buf.putInt(ps.length); ps.foreach(writeGeom(_, buf))
      case MultiLineString(ls) => buf.putInt(ls.length); ls.foreach(writeGeom(_, buf))
      case MultiPolygon(ps) => buf.putInt(ps.length); ps.foreach(writeGeom(_, buf))
      case GeometryCollection(gs) => buf.putInt(gs.length); gs.foreach(writeGeom(_, buf))
    }
  }

  /** Geometry type name as the reference reports it ("POINT",
    * "POLYGON", ...), read from the 5-byte header only — decoding every coordinate
    * of a large polygon to answer "what type is it" made st_geometrytype
    * O(geometry size) per row. Same EWKB/ISO masking as readGeom; falls
    * back to the full parse (and its malformed-input contract) when the
    * header is short or carries an unknown code.
    */
  def typeName(bytes: Array[Byte]): String = {
    if (bytes != null && bytes.length >= 5) {
      val order = bytes(0) match {
        case 0 => ByteOrder.BIG_ENDIAN
        case 1 => ByteOrder.LITTLE_ENDIAN
        case _ => null
      }
      if (order != null) {
        val rawType = ByteBuffer.wrap(bytes, 1, 4).order(order).getInt()
        val geomType = (rawType & 0x0FFFFFFF) % 1000
        val name = geomType match {
          case 1 => "POINT"
          case 2 => "LINESTRING"
          case 3 => "POLYGON"
          case 4 => "MULTIPOINT"
          case 5 => "MULTILINESTRING"
          case 6 => "MULTIPOLYGON"
          case 7 => "GEOMETRYCOLLECTION"
          case _ => null
        }
        if (name != null) return name
      }
    }
    read(bytes).typeName
  }
}
