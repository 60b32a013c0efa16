package graft.table

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import graft.functions.geo
import graft.geom.{SpatialKey, Wkb}
import graft.util.CollectCapped

/** The global Hilbert sort behind [[GeoTable.sortHilbert]], planned from
  * one eager pass (`core/hilbert_order.py`'s two phases, with the bounds
  * aggregation and the sort's range sampling folded into that pass).
  *
  * The sketch pass reads the geometry column alone and scans each
  * envelope once ([[Wkb.envelope]]). Every partition returns its row
  * count, its envelope extent and a fixed-seed reservoir of envelope
  * centres. The driver derives the dataset bounds from the extents, keys
  * the sampled centres over them and picks weighted split keys exactly as
  * `RangePartitioner` does. The sort is then the plan
  * `key column → repartitionById(range bucket of the key) →
  * sortWithinPartitions(key)`: the split keys ride in it as literals, so
  * no sampling job re-runs the whole input chain at execution and a
  * retried map task routes its rows the same way.
  */
private[table] object HilbertSort {

  /** Column carrying the Hilbert key through the exchange; dropped after. */
  private val KeyCol = "__graft_hilbert_key"

  /** Oversampling of `RangePartitioner`: it draws 3x the points per
    * output partition that `spark.sql.execution.rangeExchange
    * .sampleSizePerPartition` asks for.
    */
  private val Oversample = 3.0
  private val Seed = 0x48696c62657274L

  /** One input partition's sketch: rows, non-null geometries, the extent
    * of the non-empty envelopes (+/-Inf when there are none) and a
    * uniform sample of the non-null geometries' envelope centres.
    */
  private[table] final case class Sketch(rows: Long, nonNull: Long,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double,
      cx: Array[Double], cy: Array[Double])

  /** `df` in Hilbert order of `geomCol`'s envelope centres; runs the
    * sketch job.
    */
  def sort(df: DataFrame, geomCol: String): DataFrame = {
    require(!df.columns.contains(KeyCol), s"column $KeyCol is reserved by sortHilbert")
    val n = partitionCount(df)
    val sketches = sketch(df, geomCol, n)
    val (x0, y0, x1, y1) = boundsOf(sketches)
    val splits = if (n <= 1) Array.emptyLongArray else {
      val keys = Array.newBuilder[Long]; val weights = Array.newBuilder[Double]
      sketches.foreach { s =>
        // null geometries sort first: one exact candidate below every key
        if (s.rows > s.nonNull) { keys += Long.MinValue; weights += (s.rows - s.nonNull).toDouble }
        val w = s.nonNull.toDouble / math.max(1, s.cx.length)
        s.cx.indices.foreach { i =>
          keys += SpatialKey.hilbert(s.cx(i), s.cy(i), x0, y0, x1, y1); weights += w
        }
      }
      determineBounds(keys.result(), weights.result(), n)
    }
    df.withColumn(KeyCol, geo.hilbert_index(col(geomCol), x0, y0, x1, y1))
      .repartitionById(splits.length + 1, geo.range_bucket(col(KeyCol), splits))
      .sortWithinPartitions(KeyCol)
      .drop(KeyCol)
  }

  /** Split keys for `partitions` ranges of weighted sample keys — the
    * rule of `RangePartitioner.determineBounds`: walk the keys in order
    * and close a range each time the running weight reaches the next
    * multiple of total / partitions, skipping duplicate keys (so heavy
    * ties give fewer, never empty, ranges).
    */
  private def determineBounds(keys: Array[Long], weights: Array[Double],
      partitions: Int): Array[Long] = {
    val order = keys.indices.sortBy(keys(_))
    val step = weights.sum / partitions
    val bounds = Array.newBuilder[Long]
    var cum = 0.0; var target = step; var made = 0
    var prev = 0L
    val it = order.iterator
    while (it.hasNext && made < partitions - 1) {
      val i = it.next()
      cum += weights(i)
      if (cum >= target && (made == 0 || keys(i) > prev)) {
        bounds += keys(i); prev = keys(i); target += step; made += 1
      }
    }
    bounds.result()
  }

  /** Dataset bounds from the sketches: the same values as the envelope
    * aggregation of [[GeoTable.bounds]], with its world envelope when no
    * row has a non-empty geometry.
    */
  private def boundsOf(sketches: Seq[Sketch]): (Double, Double, Double, Double) = {
    val x0 = sketches.map(_.xmin).minOption.getOrElse(Double.PositiveInfinity)
    if (x0 == Double.PositiveInfinity) GeoTable.WorldBounds
    else (x0, sketches.map(_.ymin).min, sketches.map(_.xmax).max, sketches.map(_.ymax).max)
  }

  /** The eager pass: one job over the geometry column, one [[Sketch]] per
    * input partition, sized so the whole sample matches what an `orderBy`
    * exchange's `RangePartitioner` draws for `partitions` partitions.
    */
  private def sketch(df: DataFrame, geomCol: String, partitions: Int): Array[Sketch] = {
    val rdd = df.select(col(geomCol)).queryExecution.toRdd
    // an empty local relation plans no partitions at all
    val inputs = math.max(1, rdd.getNumPartitions)
    val perPartition = df.sparkSession.sessionState.conf.rangeExchangeSampleSizePerPartition
    val total = math.min(perPartition.toDouble * partitions, 1e6)
    val k = math.ceil(Oversample * total / inputs).toInt
    val sketches = rdd.mapPartitionsWithIndex((i, rows) =>
      Iterator.single(sketchPartition(i, rows, k)))
    CollectCapped(df.sparkSession.createDataset(sketches)(Encoders.product[Sketch]),
      inputs, "sortHilbert sketches, one per input partition")
  }

  private def sketchPartition(index: Int, rows: Iterator[InternalRow], k: Int): Sketch = {
    val rnd = new java.util.SplittableRandom(Seed + index)
    val cx = new Array[Double](k); val cy = new Array[Double](k)
    val e = new Array[Double](4)
    var n = 0L; var nonNull = 0L
    var x0 = Double.PositiveInfinity; var y0 = Double.PositiveInfinity
    var x1 = Double.NegativeInfinity; var y1 = Double.NegativeInfinity
    while (rows.hasNext) {
      val r = rows.next()
      n += 1
      if (!r.isNullAt(0)) {
        Wkb.envelope(r.getBinary(0), e)
        // NaN (empty) envelopes fail every comparison and drop out
        if (e(0) < x0) x0 = e(0); if (e(1) < y0) y0 = e(1)
        if (e(2) > x1) x1 = e(2); if (e(3) > y1) y1 = e(3)
        val slot = if (nonNull < k) nonNull else rnd.nextLong(nonNull + 1)
        if (slot < k) {
          cx(slot.toInt) = SpatialKey.mid(e(0), e(2))
          cy(slot.toInt) = SpatialKey.mid(e(1), e(3))
        }
        nonNull += 1
      }
    }
    val m = math.min(nonNull, k.toLong).toInt
    Sketch(n, nonNull, x0, y0, x1, y1, cx.take(m), cy.take(m))
  }

  /** Output partitions: the count AQE's coalescing leaves of the
    * `spark.sql.shuffle.partitions` range exchange an `orderBy` plans,
    * decided up front — `repartitionById`'s exchange is not coalesced.
    * The target size is `max(minPartitionSize, min(advisory, est / n))`
    * with n = `coalescePartitions.minPartitionNum`, else the default
    * parallelism (parallelism first), and `est` the plan's size
    * estimate; without AQE coalescing it is the shuffle partitions.
    */
  private def partitionCount(df: DataFrame): Int = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val cap = conf.numShufflePartitions
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) cap
    else {
      def ceilDiv(a: BigInt, b: BigInt): BigInt = (a + b - 1) / b
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          spark.sparkContext.defaultParallelism
        else 1)
      val target = ceilDiv(est, minNum)
        .min(BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
        .max(BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)))
        .max(1)
      ceilDiv(est, target).max(1).min(cap).toInt
    }
  }
}
