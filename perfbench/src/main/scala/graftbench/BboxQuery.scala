package graftbench

import java.util.SplittableRandom
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.table.GeoTable

/** A bbox read-back: `GeoTable.read(path).filterBbox(window)` executed
  * over every column, with seeded windows whose expected row counts come
  * from the generator by brute force.
  */
object BboxQuery {
  final case class Target(path: String, rows: Long, rowGroups: Int)
  final case class Window(x0: Double, y0: Double, x1: Double, y1: Double, expected: Long)

  /** One bbox query: returns (read + plan seconds, execute seconds,
    * rows); a traced query also records what the scan read.
    */
  def query(r: Run, t: Target, w: Window, op: Int,
      traced: Boolean = false): (Double, Double, Long) = {
    val s = r.spans
    val t0 = System.nanoTime()
    val qe = s("table.read_plan", op) {
      val tab = s("table.read", op)(GeoTable.read(r.spark, t.path))
      val f = s("table.filter_bbox", op)(tab.filterBbox(w.x0, w.y0, w.x1, w.y1))
      val qe = f.df.queryExecution
      s("plans.executed_plan", op)(qe.executedPlan)
      qe
    }
    val t1 = System.nanoTime()
    // executes the planned query over every column, as a noop sink
    // would, and returns its row count for the check
    val n = s("table.exec", op)(qe.toRdd.count())
    val t2 = System.nanoTime()
    if (traced) r.listener.foreach { l =>
      l.recordPlanning(qe)
      val scans = scanNodes(qe.executedPlan)
      val scanned = scans.map(_.metrics("numOutputRows").value).sum
      r.sample("plans.rows_scanned_per_row_returned", scanned.toDouble / math.max(n, 1L))
      r.sample("plans.rowgroups_read_frac", scanned.toDouble / t.rows)
    }
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9, n)
  }

  private def scanNodes(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scanNodes)
  }

  def target(path: String): Target = {
    val files = Run.partFiles(path)
    val groups = files.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString), new Configuration()))
      try reader.getFooter.getBlocks.size -> reader.getRecordCount
      finally reader.close()
    }
    Target(path, groups.map(_._2).sum, groups.map(_._1).sum)
  }

  /** Query windows with their brute-force expected row counts. Centres
    * are seeded; the k-th window's share of rows is the same in every
    * run (a golden-ratio sequence over 0.01 %–10 % in log scale), so runs
    * with different seeds read the same mix of sizes.
    */
  final class Windows(gen: GeoGen, seed: Long) {
    private val r = new SplittableRandom(seed * 7919 + 17)
    private val dist = new Array[Double](gen.n)
    private var k = 0

    def next(): Window = {
      val a = gen.arrays
      val c = r.nextInt(gen.n)
      val (x, y) = (a.cx(c), a.cy(c))
      val frac = (0.5 + k * 0.6180339887498949) % 1.0
      k += 1
      val want = math.max(1, (math.pow(10, -4 + 3 * frac) * gen.n).toInt)
      var i = 0
      while (i < gen.n) {
        dist(i) = math.max(math.abs(a.cx(i) - x), math.abs(a.cy(i) - y))
        i += 1
      }
      java.util.Arrays.sort(dist)
      val half = dist(want - 1)
      Window(x - half, y - half, x + half, y + half,
        gen.countIntersecting(x - half, y - half, x + half, y + half))
    }
  }
}
