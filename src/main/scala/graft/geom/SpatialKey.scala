package graft.geom

/** Spatial linearization keys: Hilbert curve, Morton (Z-order), slippy-map
  * quadkey. These drive the engine's sort/partition operators
  * (reference: `core/hilbert_order.py`, `core/sort_quadkey.py`,
  * `core/add_quadkey_column.py`).
  */
object SpatialKey {

  /** Grid resolution per dimension for hilbert/morton discretization.
    * 16 bits/dim → 32-bit combined key (fits a Long exactly), the same
    * order of discretization DuckDB's two-arg ST_Hilbert uses over a
    * bounding box (reference `core/hilbert_order.py:103-113`).
    */
  val Bits = 16
  val MaxCell: Long = (1L << Bits) - 1

  @inline private def clampCell(v: Double, lo: Double, hi: Double): Long = {
    if (hi <= lo) return 0L
    val t = (v - lo) / (hi - lo)
    val c = (t * MaxCell).toLong
    if (c < 0) 0L else if (c > MaxCell) MaxCell else c
  }

  /** Centre of an envelope side: the midpoint, or the ordinate itself
    * when the side is degenerate (a point keeps its exact coordinate;
    * `(x + x) / 2` overflows to infinity near Double.MaxValue).
    */
  @inline def mid(lo: Double, hi: Double): Double =
    if (lo == hi) lo else (lo + hi) / 2

  /** Hilbert d-index of (x, y) on a 2^Bits grid discretized over
    * [xmin,xmax]×[ymin,ymax].
    */
  def hilbert(x: Double, y: Double,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double): Long = {
    val cx = clampCell(x, xmin, xmax)
    val cy = clampCell(y, ymin, ymax)
    hilbertXY2D(Bits, cx, cy)
  }

  /** Classic xy2d Hilbert transform over an order-n curve (n bits/dim). */
  def hilbertXY2D(order: Int, xIn: Long, yIn: Long): Long = {
    var rx = 0L; var ry = 0L
    var d = 0L
    var x = xIn; var y = yIn
    var s: Long = 1L << (order - 1)
    while (s > 0) {
      rx = if ((x & s) > 0) 1L else 0L
      ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Morton (Z-order) key: bit-interleave of grid cells (y high bits). */
  def morton(x: Double, y: Double,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double): Long = {
    val cx = clampCell(x, xmin, xmax)
    val cy = clampCell(y, ymin, ymax)
    interleave(cx) | (interleave(cy) << 1)
  }

  /** Spread the low 16 bits of v into even bit positions. */
  def interleave(v: Long): Long = {
    var x = v & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  // ---- slippy-map tiles / quadkey --------------------------------------

  /** WebMercator slippy tile for lon/lat at zoom (mercantile.tile
    * semantics — the reference's quadkey UDF wraps mercantile,
    * `core/add_quadkey_column.py:171-174`).
    */
  def tile(lon: Double, lat: Double, zoom: Int): (Long, Long) = {
    val n = 1L << zoom
    // clamp to WebMercator latitude bounds like mercantile does
    val latC = math.max(-85.051128779806604, math.min(85.051128779806604, lat))
    val lonC = math.max(-180.0, math.min(180.0, lon))
    var xt = ((lonC + 180.0) / 360.0 * n).toLong
    val latRad = math.toRadians(latC)
    var yt = ((1.0 - math.log(math.tan(latRad) + 1.0 / math.cos(latRad)) / math.Pi)
      / 2.0 * n).toLong
    if (xt < 0) xt = 0; if (xt >= n) xt = n - 1
    if (yt < 0) yt = 0; if (yt >= n) yt = n - 1
    (xt, yt)
  }

  /** Quadkey string of a tile: base-4 digits, one per zoom level
    * (Bing maps convention; string prefix = ancestor tile, so a plain
    * string sort is a Z-order sort — reference `core/sort_quadkey.py`).
    */
  def quadkeyOfTile(xt: Long, yt: Long, zoom: Int): String = {
    val sb = new java.lang.StringBuilder(zoom)
    var i = zoom
    while (i > 0) {
      val mask = 1L << (i - 1)
      var digit = 0
      if ((xt & mask) != 0) digit += 1
      if ((yt & mask) != 0) digit += 2
      sb.append(('0' + digit).toChar)
      i -= 1
    }
    sb.toString
  }

  def quadkey(lon: Double, lat: Double, zoom: Int): String = {
    val (xt, yt) = tile(lon, lat, zoom)
    quadkeyOfTile(xt, yt, zoom)
  }
}
