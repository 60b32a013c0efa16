package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.meta.SpatialPartitioning
import graft.table.GeoTable

/** Spatial partition pruning on read: a Hive dataset written by
  * partitionByQuadkey/H3/Kdtree carries a `graft:partitioning` footer;
  * filterBbox derives a partition-column conjunct from the query bbox so
  * the FileSourceScan gets PartitionFilters (directory elimination), not
  * just row-group pruning. Reference behavior matched:
  * `core/partition_by_quadkey.py:27-226` + the partitioned-layout
  * spatial-query guidance in `docs/concepts/best-practices.md`.
  */
class PartitionPruneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_prune").toString + "/d"

  /** CPU-time budget instrument (round-18, VERDICT r17 #1): the planning
    * budgets below used to be WALL-clock assertions, which tripped in the
    * driver's loaded verify window (r17: PartitionPruneSpec failed at
    * 9-min suite wall under loadavg ~4 with no code change anywhere near
    * this spec). h3Covering is single-threaded driver-side math, so
    * current-thread CPU time measures exactly the work the budget exists
    * to bound — a regression to 7^(res-p) child enumeration burns CPU by
    * orders of magnitude, while machine load only steals wall. The
    * cell-count / soundness / refusal assertions stay strict.
    */
  private val cpuBean = java.lang.management.ManagementFactory.getThreadMXBean
  private def cpuMs[T](body: => T): (T, Double) = {
    val t0 = cpuBean.getCurrentThreadCpuTime
    val r = body
    (r, (cpuBean.getCurrentThreadCpuTime - t0) / 1e6)
  }

  test("cpu-time budget instrument is live: measures compute, not wall") {
    assert(cpuBean.isCurrentThreadCpuTimeSupported,
      "ThreadMXBean CPU time unsupported — budget assertions would be vacuous")
    // disabled measurement reads -1 forever: the spin below would never end
    assert(cpuBean.isThreadCpuTimeEnabled,
      "ThreadMXBean CPU time disabled — the busy spin could not terminate")
    // negative pin: a deliberate ~100 ms busy spin MUST register as CPU,
    // so an artificially exponentialized covering (pure compute) cannot
    // hide from the budgets below the way it could from a quiet wall
    val (_, ms) = cpuMs {
      var x = 0L
      val until = cpuBean.getCurrentThreadCpuTime + 100L * 1000000L
      while (cpuBean.getCurrentThreadCpuTime < until) { x += 1 }
      x
    }
    assert(ms >= 80.0, f"busy spin of 100 ms CPU measured only $ms%.1f ms")
  }

  /** Points spread over the world from deterministic key coords. */
  private def pointTable(n: Int): GeoTable = {
    val df = spark.range(n).toDF("id")
      .withColumn("geometry", geo.st_point(
        col("id") * 37 % 360 - 180, col("id") * 83 % 170 - 85))
    GeoTable.fromDataFrame(df, "geometry")
  }

  /** Fat boxes (width/height up to ~6 deg) — anchors can sit far from
    * the envelope edge, exercising the recorded reach.
    */
  private def boxTable(n: Int): GeoTable = {
    val cx = col("id") * 37 % 340 - 170
    val cy = col("id") * 83 % 150 - 75
    val w = (col("id") % 7).cast("double") * 0.5 + 0.1
    val df = spark.range(n).toDF("id")
      .withColumn("geometry", geo.st_makeenvelope(
        cx - w, cy - w, cx + w, cy + w))
    GeoTable.fromDataFrame(df, "geometry")
  }

  private def filesRead(df: org.apache.spark.sql.DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  private def partitionFilterCount(df: org.apache.spark.sql.DataFrame): Int = {
    val s = df.queryExecution.executedPlan.toString
    "PartitionFilters: \\[[^\\]]".r.findAllIn(s).length
  }

  test("quadkey-partitioned dataset: filterBbox prunes directories " +
      "(PartitionFilters populated, fewer files read) with equal results") {
    val out = tmp()
    pointTable(4000).partitionByQuadkey(zoom = 6, prefixChars = 2, out,
      force = true)
    val t = GeoTable.read(spark, out)
    assert(t.partitioning.exists(_.scheme == "quadkey"),
      "read must restore the partitioning footer")
    val pruned = t.filterBbox(-10, -10, 10, 10).df
    assert(partitionFilterCount(pruned) > 0,
      s"expected PartitionFilters in scan:\n${pruned.queryExecution.executedPlan.toString.take(2500)}")
    val allFiles = filesRead(t.df)
    val prunedFiles = filesRead(pruned.select(input_file_name().as("f")))
    assert(prunedFiles < allFiles,
      s"pruning must read fewer files: $prunedFiles vs $allFiles")
    // result equivalence vs a metadata-free slow path on the same data
    val want = spark.read.parquet(out)
      .filter(geo.envelope_intersects(col("geometry"), -10, -10, 10, 10))
      .select("id").collect().map(_.getLong(0)).toSet
    val got = pruned.select("id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"row mismatch: missing=${want -- got} extra=${got -- want}")
  }

  test("quadkey pruning stays SOUND for fat geometries: the recorded " +
      "anchor reach expands the covering") {
    val out = tmp()
    boxTable(3000).partitionByQuadkey(zoom = 5, prefixChars = 2, out,
      force = true)
    val t = GeoTable.read(spark, out)
    val sp = t.partitioning.get
    assert(sp.maxHalfW > 1.0 && sp.maxHalfH > 1.0,
      s"fat boxes must record a real reach, got $sp")
    for ((x0, y0, x1, y1) <- Seq((-10.0, -10.0, 10.0, 10.0),
        (87.3, 12.7, 94.1, 19.9), (-180.0, -85.0, -140.0, -40.0))) {
      val got = t.filterBbox(x0, y0, x1, y1).df
        .select("id").collect().map(_.getLong(0)).toSet
      val want = spark.read.parquet(out)
        .filter(geo.envelope_intersects(col("geometry"), x0, y0, x1, y1))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == want,
        s"bbox ($x0,$y0,$x1,$y1): missing=${want -- got} extra=${got -- want}")
    }
  }

  test("h3-partitioned dataset: filterBbox prunes directories with " +
      "equal results; oversized boxes refuse (scan all) but stay correct") {
    val out = tmp()
    pointTable(3000).partitionByH3(resolution = 1, out, force = true)
    val t = GeoTable.read(spark, out)
    assert(t.partitioning.exists(_.scheme == "h3"))
    val pruned = t.filterBbox(10, 10, 22, 22).df
    assert(partitionFilterCount(pruned) > 0,
      s"expected PartitionFilters:\n${pruned.queryExecution.executedPlan.toString.take(2500)}")
    assert(filesRead(pruned.select(input_file_name().as("f"))) < filesRead(t.df))
    val want = spark.read.parquet(out)
      .filter(geo.envelope_intersects(col("geometry"), 10, 10, 22, 22))
      .select("id").collect().map(_.getLong(0)).toSet
    val got = pruned.select("id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // near-pole box (round-14: no longer a refusal — the lng pad is
    // capped at the full circle): rows must match with or without a
    // partition filter
    val polar = t.filterBbox(-170, 80, 170, 89).df
    val wantPolar = spark.read.parquet(out)
      .filter(geo.envelope_intersects(col("geometry"), -170, 80, 170, 89))
      .count()
    assert(polar.count() == wantPolar)
  }

  test("q187 exercises real pruning: the declared query's plan carries " +
      "a partition filter on the H3 layout (not a silent full scan)") {
    val df = SparkEntry.queries("q187_h3_partition_prune")(
      spark, "/root/testdata/sf0.001")
    assert(partitionFilterCount(df) > 0,
      df.queryExecution.executedPlan.toString.take(1500))
  }

  test("h3 covering soundness: every sampled point's cell is in the " +
      "covering of a small box around it (forward-transform property)") {
    val rnd = new scala.util.Random(20260815L)
    for (_ <- 1 to 100; res <- Seq(0, 1, 2)) {
      val lat = rnd.nextDouble() * 160 - 80
      val lng = rnd.nextDouble() * 360 - 180
      val cell = graft.geom.H3.latLngToCellString(lat, lng, res)
      val d = 0.01
      val cov = SpatialPartitioning.h3Covering(res,
        lng - d, lat - d, lng + d, lat + d)
      assert(cov.forall(_.contains(cell)),
        s"cell $cell of ($lat,$lng) res=$res missing from covering")
    }
  }

  test("h3 covering (round-14 hierarchical): forward-transform property " +
      "holds at high res, pole neighborhoods, and antimeridian edges; " +
      "planning time bounded") {
    val rnd = new scala.util.Random(20260816L)
    val cpu0 = cpuBean.getCurrentThreadCpuTime
    var hits = 0
    // random interior points of random boxes: every point's cell must be
    // in the covering whenever a covering is returned at all
    for (i <- 1 to 60) {
      val res = rnd.nextInt(10) // 0-9: spans direct AND hierarchical
      // full latitude range INCLUDING pole neighborhoods (the old code
      // refused past 84°), plus antimeridian-adjacent boxes
      val cy = rnd.nextDouble() * 178 - 89
      val cx = if (i % 5 == 0) (if (rnd.nextBoolean()) 179.0 else -179.0)
        else rnd.nextDouble() * 360 - 180
      val w = math.pow(10.0, -2.0 + rnd.nextDouble() * 2) // 0.01-1 deg
      val (x0, y0) = (math.max(-180, cx - w), math.max(-90, cy - w))
      val (x1, y1) = (math.min(180, cx + w), math.min(90, cy + w))
      SpatialPartitioning.h3Covering(res, x0, y0, x1, y1).foreach { cov =>
        hits += 1
        val keys = cov.toSet
        for (_ <- 1 to 25) {
          val px = x0 + rnd.nextDouble() * (x1 - x0)
          val py = y0 + rnd.nextDouble() * (y1 - y0)
          val cell = graft.geom.H3.latLngToCellString(py, px, res)
          assert(keys.contains(cell),
            s"res=$res box=($x0,$y0,$x1,$y1) point=($py,$px) cell=$cell " +
              s"missing from ${keys.size}-key covering")
        }
      }
    }
    assert(hits >= 40, s"covering refused too often ($hits/60)")
    // explicit pole-cap box — refused before round 14, now covered
    val polar = SpatialPartitioning.h3Covering(1, -180, 86, 180, 90)
    assert(polar.nonEmpty, "pole-cap covering should no longer refuse")
    polar.foreach { cov =>
      val keys = cov.toSet
      for (lng <- -180 to 180 by 7; lat <- Seq(86.5, 89.0, 89.9)) {
        val cell = graft.geom.H3.latLngToCellString(lat, lng.toDouble, 1)
        assert(keys.contains(cell), s"polar cell $cell ($lat,$lng) missing")
      }
    }
    // hierarchical regime: a high-latitude 8°x6° box at res 6, where the
    // degree-spaced sample grid is over budget (lng degrees shrink on
    // the ground, so samples-per-cell balloons by 1/cos(81°)) but the
    // true covering is well under MaxKeys. First PROVE the direct path
    // refuses, then require the covering and verify soundness.
    assert(SpatialPartitioning.sampleCells(6, 10.0, 78.0, 18.0, 84.0,
      0.0, SpatialPartitioning.MaxSamples).isEmpty,
      "expected the direct res-6 sampler to exceed budget here")
    val hier = SpatialPartitioning.h3Covering(6, 10.0, 78.0, 18.0, 84.0)
    assert(hier.nonEmpty, "hierarchical covering expected at res 6")
    hier.foreach { cov =>
      val keys = cov.toSet
      assert(keys.size <= SpatialPartitioning.MaxKeys)
      for (_ <- 1 to 300) {
        val px = 10.0 + rnd.nextDouble() * 8.0
        val py = 78.0 + rnd.nextDouble() * 6.0
        val cell = graft.geom.H3.latLngToCellString(py, px, 6)
        assert(keys.contains(cell), s"hier cell $cell ($py,$px) missing")
      }
    }
    val sec = (cpuBean.getCurrentThreadCpuTime - cpu0) / 1e9
    assert(sec < 30.0,
      f"covering planning burned $sec%.1f s CPU — not interactive")
  }

  test("h3 covering planning budget: res 13-15 random boxes stay within " +
      "a hard per-call time and cell-count bound; oversize boxes refuse " +
      "fast instead of enumerating the child tree") {
    // round-15 verdict item 5: cellChildren refinement is exponential in
    // res-delta IF the ancestor pick ever regresses — this pins the
    // planning cost itself, not just covering correctness. Budget: the
    // refinement loop is structurally bounded by headroom (4*MaxKeys)
    // cells per level * <=15 levels of ~us-scale cell math, so 2 s of
    // CPU per call is generous; a regression to 7^(res-p) enumeration
    // blows it by orders of magnitude. CPU time, not wall (r17 driver
    // flake), see the instrument note at the top of the spec.
    val rnd = new scala.util.Random(20260817L)
    for (i <- 1 to 30) {
      val res = 13 + rnd.nextInt(3)
      val cy = rnd.nextDouble() * 178 - 89
      val cx = if (i % 6 == 0) (if (rnd.nextBoolean()) 179.5 else -179.5)
        else rnd.nextDouble() * 360 - 180
      // 1e-5..1 deg half-widths: spans one-cell boxes (direct sampling),
      // the hierarchical regime, AND boxes far beyond MaxKeys cells
      // whose refusal path must also be fast
      val w = math.pow(10.0, -5.0 + rnd.nextDouble() * 5)
      val (x0, y0) = (math.max(-180, cx - w), math.max(-90, cy - w))
      val (x1, y1) = (math.min(180, cx + w), math.min(90, cy + w))
      val (cov, ms) =
        cpuMs(SpatialPartitioning.h3Covering(res, x0, y0, x1, y1))
      cov.foreach { c =>
        assert(c.size <= SpatialPartitioning.MaxKeys,
          s"res=$res box=($x0,$y0,$x1,$y1): ${c.size} keys > MaxKeys")
        assert(c.size == c.toSet.size, "duplicate keys in covering")
      }
      assert(ms < 2000,
        f"res=$res box=($x0%.5f,$y0%.5f,$x1%.5f,$y1%.5f) " +
          f"${if (cov.isDefined) "covering" else "refusal"} burned $ms%.0f ms CPU")
    }
    // adversarial oversize: a continent-scale box at res 15 would be
    // ~10^13 cells — the headroom bail must refuse in bounded work,
    // never descend the full child tree
    val (big, ms) =
      cpuMs(SpatialPartitioning.h3Covering(15, -50.0, -30.0, 50.0, 30.0))
    assert(big.isEmpty, "continent-scale res-15 covering must refuse")
    assert(ms < 2000, f"oversize refusal burned $ms%.0f ms CPU — not a bail")
    // pole-cap at max res: same bound through the polar seeding path
    val (_, ms2) =
      cpuMs(SpatialPartitioning.h3Covering(15, -180.0, 89.999, 180.0, 90.0))
    assert(ms2 < 2000, f"polar res-15 call burned $ms2%.0f ms CPU")
  }

  test("h3 cellChildren: digit-tree completeness — every cell is among " +
      "its truncation parent's children; pentagons have 6") {
    val rnd = new scala.util.Random(7L)
    var pentSeen = 0
    for (_ <- 1 to 300) {
      val res = 1 + rnd.nextInt(8)
      val lat = rnd.nextDouble() * 180 - 90
      val lng = rnd.nextDouble() * 360 - 180
      // NOTE: H3 children do NOT spatially nest (a point's res-(r+1)
      // cell can truncate to a different parent than its res-r cell) —
      // the covering handles that with the drift margin. What MUST hold
      // is digit-tree completeness: cellToParent is the inverse of
      // cellChildren enumeration, so every cell a query can produce is
      // reachable by refinement from its truncation ancestor.
      val cell = graft.geom.H3.latLngToCell(lat, lng, res)
      val parent = graft.geom.H3.cellToParent(cell, res - 1)
      val kids = graft.geom.H3.cellChildren(parent)
      assert(kids.contains(cell),
        s"cell ${java.lang.Long.toHexString(cell)} not among children of " +
          s"${java.lang.Long.toHexString(parent)}")
      assert(kids.distinct.length == kids.length)
      kids.foreach { k =>
        assert(graft.geom.H3.getResolution(k) == res)
        assert(graft.geom.H3.cellToParent(k, res - 1) == parent)
      }
      if (graft.geom.H3.isPentagonCell(parent)) {
        pentSeen += 1
        assert(kids.length == 6, "pentagon parent must have 6 children")
      } else assert(kids.length == 7)
    }
    // scan res-0 cells via forward transform over a lat/lng grid and
    // collect pentagon cells — there must be exactly 12
    val pentCells = (for {
      lat <- -85 to 85 by 2; lng <- -180 to 179 by 2
    } yield graft.geom.H3.latLngToCell(lat.toDouble, lng.toDouble, 0))
      .distinct.filter(graft.geom.H3.isPentagonCell)
    assert(pentCells.size == 12, s"expected 12 res-0 pentagons, got ${pentCells.size}")
    pentCells.foreach(p =>
      assert(graft.geom.H3.cellChildren(p).length == 6))
  }

  test("kdtree-partitioned dataset: filterBbox prunes leaf rectangles " +
      "with equal results") {
    val out = tmp()
    boxTable(3000).partitionByKdtree(iterations = 4, out)
    val t = GeoTable.read(spark, out)
    assert(t.partitioning.exists(sp =>
      sp.scheme == "kdtree" && sp.splits.isDefined))
    val pruned = t.filterBbox(-15, -15, 15, 15).df
    assert(partitionFilterCount(pruned) > 0,
      s"expected PartitionFilters:\n${pruned.queryExecution.executedPlan.toString.take(2500)}")
    assert(filesRead(pruned.select(input_file_name().as("f"))) < filesRead(t.df))
    val want = spark.read.parquet(out)
      .filter(geo.envelope_intersects(col("geometry"), -15, -15, 15, 15))
      .select("id").collect().map(_.getLong(0)).toSet
    val got = pruned.select("id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("pre-existing user key column: writer records NO partitioning " +
      "footer (anchor semantics unknown), read degrades to no pruning") {
    val out = tmp()
    val withKey = pointTable(500).addQuadkey(4)
    withKey.partitionByQuadkey(zoom = 4, prefixChars = 1, out, force = true)
    val t = GeoTable.read(spark, out)
    assert(t.partitioning.isEmpty,
      "user-supplied key column must not claim pruning metadata")
    // still correct, just unpruned
    val got = t.filterBbox(-10, -10, 10, 10).df.count()
    val want = spark.read.parquet(out)
      .filter(geo.envelope_intersects(col("geometry"), -10, -10, 10, 10))
      .count()
    assert(got == want)
  }

  test("partitioning JSON round-trips including the kd split tree") {
    import graft.ops.KdTree
    val tree = KdTree.Node(0.0,
      Some(KdTree.Node(-10.0, None, None)),
      Some(KdTree.Node(10.0, Some(KdTree.Node(5.0, None, None)), None)))
    val sp = SpatialPartitioning("kdtree", "kdtree_cell",
      splits = Some(tree), maxHalfW = 1.5, maxHalfH = 2.5)
    val back = SpatialPartitioning.fromJsonOpt(SpatialPartitioning.toJson(sp))
    assert(back.contains(sp))
    val qk = SpatialPartitioning("quadkey", "__qk", level = 3,
      maxHalfW = 0.25, maxHalfH = 0.25)
    assert(SpatialPartitioning.fromJsonOpt(SpatialPartitioning.toJson(qk))
      .contains(qk))
    assert(SpatialPartitioning.fromJsonOpt("{not json").isEmpty)
    assert(SpatialPartitioning.fromJsonOpt("""{"scheme":"bogus","column":"c"}""").isEmpty)
  }

  test("kd covering enumerates exactly the leaf rects hitting the box") {
    import graft.ops.KdTree
    // splits: x@0 then y@0 on both sides -> 4 quadrant leaves
    val tree = KdTree.Node(0.0,
      Some(KdTree.Node(0.0, None, None)),
      Some(KdTree.Node(0.0, None, None)))
    assert(SpatialPartitioning.kdCovering(tree, -5, -5, -1, -1) == Seq("00"))
    assert(SpatialPartitioning.kdCovering(tree, 1, 1, 5, 5) == Seq("11"))
    assert(SpatialPartitioning.kdCovering(tree, -5, -5, 5, 5).toSet ==
      Set("00", "01", "10", "11"))
    // boundary: x=0 belongs to the right side (v < split goes left)
    assert(SpatialPartitioning.kdCovering(tree, 0, 1, 5, 5).toSet ==
      Set("01", "11"))
  }
}
