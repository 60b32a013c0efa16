package graftbench

import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of building-like polygons.
  *
  * Row `i` is a pure function of `(seed, i)`, so Spark tasks and the
  * driver produce the same features without shipping arrays: the driver
  * keeps only the envelopes and centres it needs to compute expected
  * answers. Features cluster around `Clusters` seeded centres (cluster
  * `k` is drawn with weight falling in `k`, so some areas are hot), have
  * 5–12 vertices on a star-shaped ring 10–60 m across, and carry ids that
  * are a seeded permutation of `0 until n`, so neither ids nor space
  * follow the row order.
  */
final class GeoGen(val seed: Long, val n: Int) extends Serializable {
  import GeoGen._

  private val centres: Array[Double] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Array.tabulate(Clusters * 3) { j =>
      j % 3 match {
        case 0 => -10.0 + 40.0 * r.nextDouble()
        case 1 => 35.0 + 25.0 * r.nextDouble()
        case _ => 0.05 + 0.45 * r.nextDouble()
      }
    }
  }

  require(n >= 2, s"need at least 2 rows, got $n")

  /** The id permutation `id = (a*i + b) mod n`, with `a` coprime to n. */
  private val (permA, permB): (Long, Long) = {
    val r = new SplittableRandom(seed * 31 + 7)
    var a = r.nextLong(n.toLong) | 1L
    while (gcd(a, n.toLong) != 1) a += 2
    (a, r.nextLong(n.toLong))
  }

  def id(i: Int): Long = (permA * i + permB) % n

  /** Inverse of [[id]]: the row index that carries `id`. */
  lazy val indexOfId: Array[Int] = {
    val inv = new Array[Int](n)
    var i = 0
    while (i < n) { inv(id(i).toInt) = i; i += 1 }
    inv
  }

  /** Closed ring as interleaved x,y, plus the row's centre. */
  def ring(i: Int): Array[Double] = {
    val r = new SplittableRandom(mix(seed, i))
    val u = r.nextDouble()
    val k = math.min(Clusters - 1, (Clusters * u * u).toInt)
    val sigma = centres(3 * k + 2)
    val cx = centres(3 * k) + sigma * r.nextGaussian()
    val cy = math.max(-80.0, math.min(80.0, centres(3 * k + 1) + sigma * r.nextGaussian()))
    val nv = 5 + r.nextInt(8)
    val rad = 5e-5 * (1.0 + 5.0 * r.nextDouble())
    val xy = new Array[Double](2 * (nv + 1) + 2)
    var j = 0
    while (j < nv) {
      val theta = 2 * math.Pi * (j + 0.8 * r.nextDouble()) / nv
      val rr = rad * (0.6 + 0.4 * r.nextDouble())
      xy(2 * j) = cx + rr * math.cos(theta)
      xy(2 * j + 1) = cy + rr * math.sin(theta)
      j += 1
    }
    xy(2 * nv) = xy(0); xy(2 * nv + 1) = xy(1)
    xy(2 * nv + 2) = cx; xy(2 * nv + 3) = cy
    xy
  }

  /** Attribute columns of row `i`, drawn from a stream separate from the ring. */
  def kind(i: Int): String = Kinds(new SplittableRandom(mix(~seed, i)).nextInt(Kinds.length))
  def height(i: Int): Double = 3 + 40 * new SplittableRandom(mix(seed + 1, i)).nextDouble()

  /** Overture-like attributes of row `i`: a GERS-style id (32 hex
    * digits), the source dataset, the source's record id (an OSM way
    * for OpenStreetMap, 32 hex digits otherwise), its update time and
    * confidence, and a floor count. With them the input takes about as
    * many bytes a row on disk as the reference's chain input (75 MB for
    * 400 K rows).
    */
  def attrs(i: Int): Seq[Any] = {
    val r = new SplittableRandom(mix(seed + 2, i))
    val d = dataset(r.nextDouble())
    Seq(hex32(r), Datasets(d),
      if (d == 0) s"w${100000000 + r.nextInt(900000000)}@${1 + r.nextInt(9)}" else hex32(r),
      java.time.Instant.ofEpochSecond(UpdatedFrom + r.nextLong(UpdatedSpan)).toString,
      0.5 + 0.5 * r.nextDouble(),
      1 + r.nextInt(6))
  }

  /** Raw value bytes of [[attrs]] of row `i`, without formatting them:
    * only the dataset and the record id vary in length.
    */
  def attrBytes(i: Int): Int = {
    val d = dataset(new SplittableRandom(mix(seed + 2, i)).nextDouble())
    32 + Datasets(d).length + (if (d == 0) 12 else 32) + 20 + 8 + 4
  }

  private def dataset(u: Double): Int = math.min(Datasets.length - 1, (Datasets.length * u * u).toInt)

  /** Two random longs as 32 lower-case hex digits. */
  private def hex32(r: SplittableRandom): String = {
    val c = new Array[Char](32)
    var j = 0
    while (j < 2) {
      var v = r.nextLong()
      var k = 15
      while (k >= 0) { c(16 * j + k) = Character.forDigit((v & 15).toInt, 16); v >>>= 4; k -= 1 }
      j += 1
    }
    new String(c)
  }

  def row(i: Int): Row = Row.fromSeq(Seq(id(i), kind(i), height(i)) ++ attrs(i) :+ wkb(ring(i)))

  /** The generated table, `parts` partitions, in row order `0 until n`. */
  def frame(spark: SparkSession, parts: Int): DataFrame = {
    val g = this
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      val lo = (g.n.toLong * p / parts).toInt
      val hi = (g.n.toLong * (p + 1) / parts).toInt
      (lo until hi).iterator.map(g.row)
    }
    spark.createDataFrame(rdd, Schema)
  }

  /** Envelopes (xmin, ymin, xmax, ymax), centres and raw value bytes of
    * every row, from the same functions the Spark frame uses.
    */
  lazy val arrays: Arrays = {
    val a = Arrays(new Array[Double](n), new Array[Double](n), new Array[Double](n),
      new Array[Double](n), new Array[Double](n), new Array[Double](n), 0L)
    var bytes = 0L
    var i = 0
    while (i < n) {
      val xy = ring(i)
      val pts = xy.length / 2 - 1
      var x0 = Double.PositiveInfinity; var y0 = x0
      var x1 = Double.NegativeInfinity; var y1 = x1
      var j = 0
      while (j < pts) {
        val x = xy(2 * j); val y = xy(2 * j + 1)
        if (x < x0) x0 = x; if (x > x1) x1 = x
        if (y < y0) y0 = y; if (y > y1) y1 = y
        j += 1
      }
      a.xmin(i) = x0; a.ymin(i) = y0; a.xmax(i) = x1; a.ymax(i) = y1
      a.cx(i) = xy(2 * pts); a.cy(i) = xy(2 * pts + 1)
      bytes += 8 + kind(i).length + 8 + attrBytes(i) + wkbLength(pts)
      i += 1
    }
    a.copy(userBytes = bytes)
  }

  /** Rows whose envelope intersects the closed window, by brute force. */
  def countIntersecting(x0: Double, y0: Double, x1: Double, y1: Double): Long = {
    val a = arrays
    var c = 0L
    var i = 0
    while (i < n) {
      if (a.xmax(i) >= x0 && a.xmin(i) <= x1 && a.ymax(i) >= y0 && a.ymin(i) <= y1) c += 1
      i += 1
    }
    c
  }

  /** Envelope of the whole table. */
  def extent: (Double, Double, Double, Double) = {
    val a = arrays
    (a.xmin.min, a.ymin.min, a.xmax.max, a.ymax.max)
  }
}

final case class Arrays(xmin: Array[Double], ymin: Array[Double], xmax: Array[Double],
    ymax: Array[Double], cx: Array[Double], cy: Array[Double], userBytes: Long)

object GeoGen {
  val Clusters = 48
  val Kinds: Array[String] = Array("house", "apartments", "garage", "shed", "retail",
    "industrial", "school", "church")
  val Datasets: Array[String] = Array("OpenStreetMap", "Microsoft ML Buildings",
    "Google Open Buildings", "Esri Community Maps")
  /** Update times are drawn from 2014-01-01 over ten years. */
  val UpdatedFrom = 1388534400L
  val UpdatedSpan: Long = 10L * 365 * 86400

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("height", DoubleType, nullable = false),
    StructField("gers_id", StringType, nullable = false),
    StructField("source_dataset", StringType, nullable = false),
    StructField("source_record_id", StringType, nullable = false),
    StructField("source_update_time", StringType, nullable = false),
    StructField("source_confidence", DoubleType, nullable = false),
    StructField("num_floors", IntegerType, nullable = false),
    StructField("geometry", BinaryType, nullable = false)))

  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  @annotation.tailrec
  def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  def wkbLength(ringPoints: Int): Int = 1 + 4 + 4 + 4 + 16 * ringPoints

  /** Little-endian WKB Polygon with one ring (closing point included). */
  def wkb(xy: Array[Double]): Array[Byte] = {
    val pts = xy.length / 2 - 1 // the trailing pair is the centre
    val buf = ByteBuffer.allocate(wkbLength(pts)).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte).putInt(3).putInt(1).putInt(pts)
    var j = 0
    while (j < 2 * pts) { buf.putDouble(xy(j)); j += 1 }
    buf.array()
  }
}
