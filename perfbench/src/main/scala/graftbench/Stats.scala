package graftbench

import java.util.SplittableRandom

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The reference's spatial-order ratio over rows in storage order:
    * mean distance between consecutive rows ÷ mean distance between
    * `pairs` random pairs of rows. Below 0.5 passes its gate.
    */
  def spatialOrderRatio(order: Array[Int], x: Array[Double], y: Array[Double],
      seed: Long, pairs: Int = 10000): Double = {
    def dist(a: Int, b: Int): Double = math.hypot(x(a) - x(b), y(a) - y(b))
    var consec = 0.0
    var i = 1
    while (i < order.length) { consec += dist(order(i - 1), order(i)); i += 1 }
    val r = new SplittableRandom(seed)
    var rnd = 0.0
    var k = 0
    while (k < pairs) {
      rnd += dist(order(r.nextInt(order.length)), order(r.nextInt(order.length)))
      k += 1
    }
    (consec / (order.length - 1)) / (rnd / pairs)
  }
}
