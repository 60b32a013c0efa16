package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.meta.{Footer, GeoMeta}
import graft.table.GeoTable
import graft.checks.Checks

class GeoTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic scattered points with ids (lon/lat over the globe). */
  private def pointsTable(n: Int): GeoTable = {
    val df = spark.range(n).toDF("id")
      .withColumn("lon", (col("id") * 37 % 360 - 180 + (col("id") % 8) * 0.125))
      .withColumn("lat", (col("id") * 91 % 180 - 90 + (col("id") % 4) * 0.25))
      .withColumn("name", concat(lit("pt"), col("id")))
      .withColumn("geometry", geo.st_point(col("lon"), col("lat")))
      .drop("lon", "lat")
    GeoTable.fromDataFrame(df, "geometry")
  }

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/out"
  }

  test("firstPartFile: early-exit descent agrees with the full listing's " +
      "head on hive layouts; None on missing paths; file passthrough") {
    // nested hive layout (the partition writers' shape) with multiple
    // key directories, so the sorted descent has real branches to order
    val dir = tmpDir("firstpart")
    val df = spark.range(40).toDF("id")
      .withColumn("k", col("id") % 7)
      .withColumn("geometry", geo.st_point(col("id") * 1.0, col("id") * 1.0))
    df.write.partitionBy("k").parquet(dir)
    val all = Footer.partFiles(dir)
    assert(all.size >= 7)
    assert(Footer.firstPartFile(dir) == all.headOption,
      "sorted descent must pick the same file as the full listing's head")
    // a direct file path passes through
    assert(Footer.firstPartFile(all.head.toString).contains(all.head))
    // a missing local path is None, not an exception
    assert(Footer.firstPartFile(dir + "/nope").isEmpty)
    // _ / . prefixed files are skipped exactly like partFiles
    val marker = new java.io.File(dir, "_SUCCESS")
    assert(marker.exists() || marker.createNewFile())
    assert(Footer.firstPartFile(dir) == all.headOption)
  }

  test("writeGeoMetadata parallel pool: per-file failure propagates " +
      "loudly, never a silent partial footer pass") {
    val dir = tmpDir("parfooter")
    val t = pointsTable(60)
    t.write(s"$dir/d") // single part
    // add a second "part file" that is not parquet — the rewrite of that
    // file must fail the WHOLE call (Future.get propagation), not skip
    val junk = new java.io.File(s"$dir/d/part-junk.parquet")
    java.nio.file.Files.write(junk.toPath, Array.fill(64)(0x42.toByte))
    intercept[Exception] {
      Footer.writeGeoMetadata(s"$dir/d", t.meta.copy(primaryColumn = "geometry"))
    }
  }

  test("write + read round-trips GeoParquet footer metadata") {
    val out = tmpDir("meta")
    pointsTable(200).addBbox().write(out)
    // footer must carry `geo` with covering + per-file bbox
    val info = Footer.read(Footer.partFiles(out).head)
    val gm = info.geo.getOrElse(fail("no geo key written"))
    assert(gm.primaryColumn == "geometry")
    assert(gm.primary.get.coveringBbox.contains("bbox"))
    assert(gm.primary.get.bbox.isDefined)
    val (x0, y0, x1, y1) = gm.primary.get.bbox.get
    assert(x0 >= -180 && x1 <= 180 && y0 >= -90 && y1 <= 90 && x0 < x1 && y0 < y1)
    // read back: geometry column auto-detected from metadata
    val t = GeoTable.read(spark, out)
    assert(t.geometryColumn.contains("geometry"))
    assert(t.count() == 200)
    assert(t.meta.primary.get.coveringBbox.contains("bbox"))
  }

  test("bbox filter uses struct fast path and matches slow path") {
    val t = pointsTable(500)
    val withBbox = t.addBbox()
    val fast = withBbox.filterBbox(-60, -30, 60, 30).count()
    val slow = t.filterBbox(-60, -30, 60, 30).count() // no bbox col -> envelope path
    assert(fast == slow && fast > 0)
  }

  test("selectColumns keeps geometry implicitly, excludes explicitly") {
    val t = pointsTable(10).addBbox()
    val kept = t.selectColumns(include = Seq("id"))
    assert(kept.df.columns.toSet == Set("id", "geometry", "bbox"))
    val noGeom = t.selectColumns(include = Seq("id"), exclude = Seq("geometry", "bbox"))
    assert(noGeom.df.columns.toSet == Set("id"))
    assert(noGeom.geometryColumn.isEmpty)
    intercept[IllegalArgumentException](t.selectColumns(include = Seq("nope")))
  }

  test("sortHilbert improves spatial order below the 0.5 gate") {
    // shuffled points are spatially random; hilbert sort must fix that
    val t = pointsTable(2000)
    val before = t.checkSpatialOrder()
    val sorted = t.sortHilbert()
    val after = sorted.checkSpatialOrder()
    assert(after < 0.5, s"hilbert-sorted ratio $after should pass the <0.5 gate")
    assert(after < before, s"sort must improve ratio ($before -> $after)")
  }

  test("quadkey: CRS gate + sort") {
    val t = pointsTable(100)
    val q = t.addQuadkey(zoom = 5)
    val keys = q.df.select("quadkey").collect().map(_.getString(0))
    assert(keys.forall(k => k.length == 5 && k.forall(c => c >= '0' && c <= '3')))
    // projected CRS must refuse quadkey (reference gate)
    val projected = t.copy(meta = t.meta.copy(columns = Map("geometry" ->
      graft.meta.GeoColumnMeta(crs = Some(
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree("""{"id":{"authority":"EPSG","code":3857}}"""))))))
    intercept[IllegalArgumentException](projected.addQuadkey())
  }

  test("bbox filter CRS-mismatch warning fires in both directions") {
    val t = pointsTable(10)
    // geographic table + degree bbox: no mismatch
    assert(t.bboxCrsMismatch(-10, -10, 10, 10).isEmpty)
    // geographic table + projected-magnitude bbox: warn
    assert(t.bboxCrsMismatch(-1.1e6, -1e6, 1e6, 1e6)
      .exists(_.contains("outside lon/lat bounds")))
    val projected = t.copy(meta = t.meta.copy(columns = Map("geometry" ->
      graft.meta.GeoColumnMeta(crs = Some(
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree("""{"id":{"authority":"EPSG","code":3857}}"""))))))
    // projected table + degree bbox: warn
    assert(projected.bboxCrsMismatch(-10, -10, 10, 10)
      .exists(_.contains("looks like lon/lat degrees")))
    // projected table + projected bbox: no mismatch
    assert(projected.bboxCrsMismatch(-1.1e6, -1e6, 1e6, 1e6).isEmpty)
    // and the filter itself still selects correctly either way
    assert(t.filterBbox(-10, -10, 10, 10).count() > 0)
  }

  test("CRS-mismatch warning on the reference 5070 fixture carries data bounds") {
    // real projected data (EPSG:5070 Albers, reference fixture): a
    // degree-shaped bbox must diagnose the mismatch, and the warning
    // path must be able to report the actual data bounds like the
    // reference's _warn_if_crs_mismatch (core/extract.py:222-247)
    val t = GeoTable.readNativeGeo(spark,
      "/root/reference/tests/data/fields_pgo_5070_snappy.parquet")
    assert(!t.isGeographicCrs)
    assert(t.bboxCrsMismatch(-10, -10, 10, 10)
      .exists(_.contains("looks like lon/lat degrees")))
    val b = t.dataBounds
    assert(b.isDefined)
    // Albers CONUS coordinates are in meters — magnitudes far outside
    // degree range prove the bounds came from the projected data
    assert(math.abs(b.get._1) > 1000 || math.abs(b.get._3) > 1000)
    // no mismatch for a bbox in the data's own CRS
    assert(t.bboxCrsMismatch(b.get._1, b.get._2, b.get._3, b.get._4).isEmpty)
  }

  test("enrich join CRS-consistency gate fires on mismatched sides") {
    val t = pointsTable(10)
    def projected(g: GeoTable) = g.copy(meta = g.meta.copy(columns =
      Map("geometry" -> graft.meta.GeoColumnMeta(crs = Some(
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree("""{"id":{"authority":"EPSG","code":3857}}"""))))))
    // same family (both geographic): no warning
    assert(t.enrichCrsMismatch(pointsTable(5)).isEmpty)
    // geographic table vs projected boundaries: warn
    assert(t.enrichCrsMismatch(projected(pointsTable(5)))
      .exists(_.contains("geographic vs projected")))
    // projected vs geographic: warn (other direction)
    assert(projected(t).enrichCrsMismatch(pointsTable(5))
      .exists(_.contains("geographic vs projected")))
    // both projected, same CRS: no warning
    assert(projected(t).enrichCrsMismatch(projected(pointsTable(5))).isEmpty)
    // and the GeoTable-typed enrich entry still joins (warn, don't fail)
    val bounds = pointsTable(5)
    val enriched = t.enrichSpatial(bounds, Seq.empty)
    assert(enriched.df.count() >= t.df.count())
  }

  test("reproject round-trips through webmercator") {
    val t = pointsTable(50)
    val back = t.reproject("EPSG:4326", "EPSG:3857")
      .reproject("EPSG:3857", "EPSG:4326")
    val orig = t.df.select(geo.st_x(col("geometry"))).as[Double].collect()
    val rt = back.df.select(geo.st_x(col("geometry"))).as[Double].collect()
    orig.zip(rt).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("partitioned write: hive layout + guardrails") {
    val out = tmpDir("part")
    val t = pointsTable(2000)
    t.addQuadkey(zoom = 2).partitionByString("quadkey", None, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("__part=")))
    // read back through partition discovery
    val readBack = spark.read.parquet(out)
    assert(readBack.count() == 2000)
    // guardrail: partitioning 2000 rows by id would make 2000 partitions
    // of 1 row each -> must refuse
    intercept[IllegalArgumentException] {
      t.partitionByString("name", None, tmpDir("bad"))
    }
  }

  test("validate passes on our own output and flags corrupted metadata") {
    val out = tmpDir("validate")
    pointsTable(100).addBbox().write(out)
    val findings = Checks.validate(spark, out)
    assert(findings.isEmpty, s"unexpected findings: $findings")
    assert(Checks.checkBboxStructure(out) == "optimal")
    // corrupt the declared bbox -> validation must flag containment
    val p = Footer.partFiles(out).head
    val gm = Footer.read(p).geo.get
    val corrupted = gm.copy(columns = gm.columns.map { case (n, c) =>
      n -> c.copy(bbox = Some((0.0, 0.0, 1.0, 1.0)))
    })
    Footer.withKeyValueMetadata(p,
      Map(GeoMeta.FooterKey -> GeoMeta.toJson(corrupted)))
    val bad = Checks.validate(spark, out)
    assert(bad.exists(_.check == "bbox"), s"expected bbox finding, got $bad")
  }

  test("inspect + row count are footer-only") {
    val out = tmpDir("inspect")
    pointsTable(300).addBbox().write(out)
    val s = Checks.inspect(out)
    assert(s.rowCount == 300 && s.hasGeoMetadata && s.numRowGroups >= 1)
    assert(Footer.rowCount(out) == 300)
  }

  test("geojson features + csv ingestion") {
    val t = pointsTable(5)
    val features = t.toGeoJsonFeatures(precision = 6).as[String].collect()
    assert(features.length == 5)
    features.foreach { f =>
      assert(f.contains("\"type\":\"Feature\"") && f.contains("\"Point\""))
    }
    // csv with WKT + invalid row skipping
    val csv = java.nio.file.Files.createTempFile("pts", ".csv")
    java.nio.file.Files.writeString(csv,
      "id,wkt\n1,POINT (1 2)\n2,GARBAGE\n3,POINT (3 4)\n")
    val fromCsv = GeoTable.fromCsv(spark, csv.toString,
      wktColumn = Some("wkt"), skipInvalid = true)
    assert(fromCsv.count() == 2)
    // strict mode: the malformed row must error once the geometry column
    // is actually materialized (count() alone prunes it away — lazy plan)
    val strict = GeoTable.fromCsv(spark, csv.toString, wktColumn = Some("wkt"))
    intercept[Exception](strict.df.select("geometry").collect())
  }

  test("spatial enrich join + hierarchical admin partition") {
    val t = pointsTable(1000)
    // boundary table: 4 quadrant polygons with region/zone attributes
    val cells = Seq(
      ("west", "sw", "POLYGON ((-180 -90, 0 -90, 0 0, -180 0, -180 -90))"),
      ("west", "nw", "POLYGON ((-180 0, 0 0, 0 90, -180 90, -180 0))"),
      ("east", "se", "POLYGON ((0 -90, 180 -90, 180 0, 0 0, 0 -90))"),
      ("east", "ne", "POLYGON ((0 0, 180 0, 180 90, 0 90, 0 0))"))
    import spark.implicits._
    val boundaries = cells.toDF("region", "zone", "wkt")
      .withColumn("bgeom", geo.st_geomfromtext(col("wkt"))).drop("wkt")

    val enriched = t.enrichSpatial(boundaries, "bgeom", Seq("region", "zone"))
    assert(enriched.df.columns.contains("region"))
    // every point lands in at least one quadrant (boundaries cover globe)
    assert(enriched.df.filter(col("region").isNull).count() == 0)

    val out = tmpDir("admin")
    t.partitionByAdmin(boundaries, "bgeom", Seq("region", "zone"), out)
    val level1 = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(level1.toSet == Set("region=west", "region=east"))
    val level2 = new java.io.File(s"$out/region=west").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(level2.toSet.subsetOf(Set("zone=sw", "zone=nw")))
    // boundary-edge points may match two cells; count must be >= input
    assert(spark.read.parquet(out).count() >= 1000)

    // split by existing code column
    val out2 = tmpDir("split")
    enriched.splitByCountry("region", out2)
    assert(new java.io.File(out2).listFiles().map(_.getName)
      .count(_.startsWith("region=")) == 2)
  }

  test("file type detection") {
    val out = tmpDir("ftype")
    pointsTable(50).addBbox().write(out)
    val p = graft.meta.Footer.partFiles(out).head
    assert(graft.meta.Footer.detectFileType(p) == "geoparquet")
    val plain = tmpDir("plainpq")
    spark.range(10).toDF("id").write.parquet(plain)
    assert(graft.meta.Footer.detectFileType(
      graft.meta.Footer.partFiles(plain).head) == "plain")
  }

  test("csv and geojson sinks") {
    val t = pointsTable(20)
    val csvOut = tmpDir("csvsink")
    t.writeCsv(csvOut)
    val back = spark.read.option("header", "true").csv(csvOut)
    assert(back.count() == 20)
    assert(back.columns.contains("wkt"))
    assert(back.select("wkt").head().getString(0).startsWith("POINT ("))
    val gjOut = tmpDir("gjsink")
    t.writeGeoJsonSeq(gjOut, precision = 3)
    val lines = spark.read.text(gjOut)
    assert(lines.count() == 20)
    val fc = t.limit(3).toFeatureCollection()
    assert(fc.startsWith("""{"type":"FeatureCollection"""") && fc.endsWith("]}"))
  }

  test("writeFeatureCollection streams parts, byte-identical to driver path") {
    val t = pointsTable(50)
    val out = tmpDir("fcsink") + "/fc.json"
    t.writeFeatureCollection(out, precision = 6)
    val streamed = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(streamed == t.toFeatureCollection(precision = 6))
    // the ndjson staging directory is cleaned up
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(out + ".parts.tmp")))
  }

  test("single-file sinks round-trip through a FileSystem URI (upload path)") {
    // an explicit file:// URI takes uploadIfRemote's write-local-then-
    // FileSystem-copy branch — the same code path an s3a:// dest would
    // take with cloud jars on the classpath
    val t = pointsTable(12)
    val base = tmpDir("uriupload")
    t.writeGeoPackage(s"file://$base/out.gpkg")
    assert(GeoTable.fromGeoPackage(spark, s"$base/out.gpkg").df.count() == 12)
    t.writeShapefile(s"file://$base/out.shp")
    assert(graft.sources.Shapefile.read(s"$base/out.shp").geoms.size == 12)
    assert(java.nio.file.Files.exists( // sibling .dbf uploaded too
      java.nio.file.Paths.get(s"$base/out.dbf")))
    t.writeFlatGeobuf(s"file://$base/out.fgb")
    assert(graft.sources.FlatGeobuf.read(s"$base/out.fgb").geoms.size == 12)
  }

  test("custom FileSystem scheme: uploadIfRemote + distributed write " +
      "dispatch beyond file://") {
    // register the cloud-store test double under its own scheme — the
    // same wiring an s3a/gs/abfs connector jar provides for real stores
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFileSystem].getName)
    val base = tmpDir("graftfs")
    // single-file sink through uploadIfRemote's write-local-then-copy
    val t = pointsTable(12)
    t.writeGeoPackage(s"graftfs://$base/out.gpkg")
    assert(GeoTable.fromGeoPackage(spark, s"$base/out.gpkg").df.count() == 12)
    // distributed write: Spark's committer against the custom scheme
    t.df.write.mode("overwrite").parquet(s"graftfs://$base/pq")
    assert(spark.read.parquet(s"$base/pq").count() == 12)
    // and a GeoTable write (footer rewrite included) round-trips
    t.write(s"graftfs://$base/geo")
    val back = GeoTable.read(spark, s"graftfs://$base/geo")
    assert(back.df.count() == 12 && back.meta.primary.nonEmpty)
  }

  test("prefilled-index read planning fires through a NON-local scheme " +
      "(r16 #6) with schema parity and the foreign-file guard") {
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFileSystem].getName)
    val base = tmpDir("graftfs_fast")
    val df = spark.range(0, 40).toDF("id")
      .withColumn("cell", concat(lit("8a2a"), format_string("%x", col("id"))))
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
    df.write.partitionBy("cell").parquet(s"graftfs://$base/h3")
    val conf = spark.sessionState.newHadoopConf()
    // the listing resolves through the scheme's OWN FileSystem
    val st = graft.meta.Footer.partFileStatuses(s"graftfs://$base/h3", conf)
    assert(st.exists(_.nonEmpty), "FS-backed listing must fire")
    assert(st.get.forall(_.getPath.toUri.getScheme == "graftfs"))
    // end-to-end: fast read == stock read (schema, rows, pruning value)
    val fast = GeoTable.fastLocalParquetDf(spark, s"graftfs://$base/h3",
      mergeSchema = false)
    assert(fast.isDefined, "fast path must build the prefilled index")
    val stock = spark.read.parquet(s"graftfs://$base/h3")
    assert(fast.get.schema == stock.schema,
      s"${fast.get.schema.sql} != ${stock.schema.sql}")
    assert(fast.get.count() == 40 &&
      fast.get.filter(col("cell") === "8a2a1f").count() ==
        stock.filter(col("cell") === "8a2a1f").count())
    // foreign non-hidden file through the scheme: decline (stock keeps
    // those rows), same rule as the local walk
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/h3/cell=8a2a1f/000000_0"), "x")
    assert(graft.meta.Footer.partFileStatuses(
      s"graftfs://$base/h3", conf).isEmpty)
  }

  test("check/fix pipeline composes") {
    val outRaw = tmpDir("fixsrc")
    // write WITHOUT bbox and unsorted
    pointsTable(500).write(outRaw)
    val outFixed = tmpDir("fixdst")
    val applied = Checks.fix(spark, outRaw, outFixed)
    assert(applied.contains("add_bbox") && applied.contains("sort_hilbert"))
    val t = GeoTable.read(spark, outFixed)
    assert(t.checkSpatialOrder() < 0.5)
    assert(Checks.checkBboxStructure(outFixed) == "optimal")
  }

  test("reproject recomputes the bbox covering column in the new CRS") {
    val out = tmpDir("reproj_bbox")
    pointsTable(200).addBbox().write(out)
    val t = GeoTable.read(spark, out).reproject("EPSG:4326", "EPSG:3857")
    // the covering fast path must now carry METER values — a filter in
    // meters has to find the same rows the precise predicate finds
    val viaBbox = t.filterBbox(-7e6, -4e6, 7e6, 4e6).count()
    val precise = t.df.filter(
      geo.st_x(col("geometry")).between(-7e6, 7e6) &&
        geo.st_y(col("geometry")).between(-4e6, 4e6)).count()
    assert(viaBbox == precise && viaBbox > 0, s"$viaBbox vs $precise")
    // and the declared dataset bbox was invalidated (write recomputes)
    assert(t.meta.primary.get.bbox.isEmpty)
  }

  test("filterBbox falls back to the slow path when the covering column " +
      "was projected away") {
    val out = tmpDir("cov_dropped")
    pointsTable(100).addBbox().write(out)
    val t = GeoTable.read(spark, out).selectColumns(exclude = Seq("bbox"))
    val n = t.filterBbox(-60, -30, 60, 30).count() // must not throw
    val want = t.df.filter(geo.st_x(col("geometry")).between(-60, 60) &&
      geo.st_y(col("geometry")).between(-30, 30)).count()
    assert(n == want)
  }

  test("partitionByFlat: sanitized-name collisions keep BOTH partitions") {
    val out = tmpDir("flat_collide")
    val df = spark.range(40).toDF("id")
      .withColumn("k", when(col("id") % 2 === 0, "a b").otherwise("a_b"))
      .withColumn("geometry", geo.st_point(col("id").cast("double"), lit(0.0)))
    GeoTable.fromDataFrame(df, "geometry")
      .partitionByFlat(col("k"), out, force = true)
    val back = spark.read.parquet(out + "/*.parquet")
    assert(back.count() == 40, "a colliding partition silently vanished")
    val files = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.length >= 2, files.mkString(","))
  }

  test("sortQuadkey never drops a user's pre-existing quadkey column") {
    val t = pointsTable(50).addQuadkey(6)
    assert(t.sortQuadkey(6).df.columns.contains("quadkey"))
    // while a quadkey the method itself added is still dropped
    assert(!pointsTable(50).sortQuadkey(6).df.columns.contains("quadkey"))
  }

  test("empty tables: bounds/sortHilbert/checkSpatialOrder stay total") {
    val empty = pointsTable(100).filterWhere("id < 0")
    assert(empty.bounds() == (-180.0, -90.0, 180.0, 90.0))
    assert(empty.sortHilbert().count() == 0) // no NPE
    val one = pointsTable(1)
    assert(one.checkSpatialOrder().isNaN) // < 2 rows: no signal, no NPE
  }

  /** Spark jobs started while `body` runs, seen by a listener. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.sql.GraftListenerBridge.waitUntilListenerBusEmpty(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.GraftListenerBridge.waitUntilListenerBusEmpty(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** Runs `body` with SQL settings changed, then puts the old ones back. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Coalescing target small enough that a few-thousand-row table still
    * sorts into several partitions.
    */
  private val smallPartitions = "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k"

  test("one empty geometry neither poisons bounds() nor disables sortHilbert") {
    val empty = spark.range(1).toDF("id").withColumn("id", lit(2000L))
      .withColumn("name", lit("empty"))
      .withColumn("geometry", geo.geom_lit(graft.geom.Polygon(Array.empty)))
    val t = GeoTable.fromDataFrame(pointsTable(2000).df.unionByName(empty), "geometry")
    val (x0, y0, x1, y1) = t.bounds()
    assert(Seq(x0, y0, x1, y1).forall(v => !v.isNaN && !v.isInfinite),
      s"bounds ${(x0, y0, x1, y1)} must skip the empty envelope")
    assert(x0 < x1 && y0 < y1)
    // the empty row has no centre to measure order by; the 2000 points do
    val ratio = t.sortHilbert().filterWhere("id < 2000").checkSpatialOrder()
    assert(ratio < 0.5, s"hilbert-sorted ratio $ratio should pass the <0.5 gate")
  }

  test("sortHilbert: one sketch job, no range-sampling exchange in the written plan") {
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, ShufflePartitionIdPassThrough}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    object Walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    withConf(smallPartitions) {
      val t = pointsTable(3000)
      val (sorted, sortJobs) = jobsDuring(t.sortHilbert())
      assert(sortJobs == 1, s"sortHilbert() launched $sortJobs jobs, want the one sketch pass")
      spark.listenerManager.register(ql)
      val (_, writeJobs) = try jobsDuring(sorted.write(tmpDir("hilbert_plan")))
        finally spark.listenerManager.unregister(ql)
      // five before (bounds aggregation 2, RangePartitioner sampling, shuffle
      // map, write); now the sketch, the shuffle map and the write
      assert(sortJobs + writeJobs == 3, s"sortHilbert().write() ran ${sortJobs + writeJobs} jobs")
      val parts = plans.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan])
        .toSeq.flatMap(p => Walk.collect(p) { case e: ShuffleExchangeLike => e.outputPartitioning })
      assert(parts.nonEmpty, "the written plan must have the sort's exchange")
      assert(!parts.exists(_.isInstanceOf[RangePartitioning]), s"range exchange in $parts")
      assert(parts.exists(_.isInstanceOf[ShufflePartitionIdPassThrough]), parts.toString)
    }
  }

  test("sortHilbert output: keys non-decreasing across part files, ids exactly the input's") {
    val n = 5000
    val t = pointsTable(n)
    val (x0, y0, x1, y1) = t.bounds()
    val out = tmpDir("hilbert_order")
    withConf(smallPartitions)(t.sortHilbert().write(out))
    val files = Footer.partFiles(out)
    assert(files.size > 1, "several part files, so the order across files is tested")
    val rows = files.flatMap { f =>
      spark.read.parquet(f.toString)
        .select(col("id"), geo.hilbert_index(col("geometry"), x0, y0, x1, y1))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val keys = rows.map(_._2)
    assert(keys.zip(keys.drop(1)).forall { case (a, b) => a <= b },
      "Hilbert keys must not decrease across the part files in order")
    assert(rows.map(_._1).sorted == (0L until n.toLong))
  }

  test("sortHilbert: all rows at one point give one non-empty partition") {
    // computed from the id, so the optimizer cannot fold the key to a constant
    val df = spark.range(3000).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") * 0 + 12.5, col("id") * 0 - 3.0))
    val sorted = withConf(smallPartitions)(
      GeoTable.fromDataFrame(df, "geometry").sortHilbert())
    val sizes = sorted.df.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sizes.sum == 3000)
    assert(sizes.count(_ > 0) == 1, s"partition sizes ${sizes.mkString(",")}")
  }

  test("sortHilbert on an all-NULL geometry column stays total") {
    val df = pointsTable(300).df.withColumn("geometry", lit(null).cast("binary"))
    val t = GeoTable.fromDataFrame(df, "geometry")
    assert(t.bounds() == (-180.0, -90.0, 180.0, 90.0))
    val out = tmpDir("hilbert_nulls")
    withConf(smallPartitions)(t.sortHilbert().write(out))
    assert(spark.read.parquet(out).count() == 300)
  }

  test("sortHilbert on an empty local table (no input partitions) stays total") {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), pointsTable(1).df.schema)
    assert(GeoTable.fromDataFrame(empty, "geometry").sortHilbert().count() == 0)
  }

  test("sortHilbert writes no more part files than the coalesced orderBy did") {
    def files(t: GeoTable, shufflePartitions: Int): Int =
      withConf("spark.sql.shuffle.partitions" -> shufflePartitions.toString,
          "spark.sql.adaptive.enabled" -> "true") {
        val out = tmpDir("hilbert_files")
        t.sortHilbert().write(out)
        Footer.partFiles(out).size
      }
    // a tiny table under the CLI's defaults (32 shuffle partitions, AQE on)
    assert(files(pointsTable(200), 32) == 1)
    // a multi-MB table at shuffle partitions = cores
    val cores = spark.sparkContext.defaultParallelism
    val big = pointsTable(150000)
    assert(files(big.copy(df = big.df.withColumn("pad", md5(col("name")))), cores) == cores)
  }

  test("bboxFromStats reads FLOAT covering statistics") {
    val out = tmpDir("float_bbox")
    spark.range(100).toDF("id")
      .withColumn("bbox", struct(
        (col("id") % 10).cast("float").as("xmin"),
        (col("id") % 5).cast("float").as("ymin"),
        (col("id") % 10 + 1).cast("float").as("xmax"),
        (col("id") % 5 + 1).cast("float").as("ymax")))
      .write.parquet(out)
    val bb = Footer.bboxFromStats(out, "bbox")
    assert(bb.contains((0.0, 0.0, 10.0, 5.0)), bb.toString)
  }

  // ---- round-12 table sweep regressions ---------------------------------

  test("reproject on a footer-less table records the new CRS (quadkey " +
      "gate must reject meter coordinates)") {
    val df = spark.range(1, 50).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), col("id").cast("double")))
    // footer-less: GeoMeta() with an empty columns map
    val t = GeoTable(df, graft.meta.GeoMeta(), Some("geometry"))
    val projected = t.reproject("EPSG:4326", "EPSG:3857")
    assert(!projected.isGeographicCrs,
      "projected table must not classify as geographic")
    val e = intercept[IllegalArgumentException](projected.addQuadkey())
    assert(e.getMessage.contains("geographic"))
  }

  test("addBbox on a footer-less table records the covering in metadata") {
    val df = spark.range(1, 20).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
    val t = GeoTable(df, graft.meta.GeoMeta(), Some("geometry")).addBbox()
    assert(t.meta.primary.flatMap(_.coveringBbox).contains("bbox"))
    // and it survives a write/read round trip
    val out = java.nio.file.Files.createTempDirectory("graft_cov").toString + "/d"
    t.write(out)
    val back = GeoTable.read(spark, out)
    assert(back.meta.primary.flatMap(_.coveringBbox).contains("bbox"))
  }

  test("writing after the covering column was excluded drops the stale " +
      "covering from the footer") {
    val df = spark.range(1, 20).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
    val t = GeoTable.fromDataFrame(df, "geometry").addBbox()
    val out = java.nio.file.Files.createTempDirectory("graft_nocov").toString + "/d"
    t.selectColumns(exclude = Seq("bbox")).write(out)
    val back = GeoTable.read(spark, out)
    assert(back.meta.primary.flatMap(_.coveringBbox).isEmpty,
      "footer must not advertise a covering for a column absent from the schema")
  }

  test("filterBbox ignores a payload column that is merely NAMED bounds") {
    val df = spark.range(1, 20).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
      .withColumn("bounds", concat(lit("row-"), col("id"))) // a string!
    val t = GeoTable(df, graft.meta.GeoMeta(), Some("geometry"))
    // must take the slow path, not throw on bounds.xmax extraction
    assert(t.filterBbox(0, 0, 5, 2).df.count() == 5)
  }

  test("stats() on a table with only geometry+struct columns stays total") {
    val df = spark.range(1, 9).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
    val t = GeoTable.fromDataFrame(df, "geometry").addBbox()
      .selectColumns(exclude = Seq("id"))
    val r = t.stats().collect()
    assert(r.length == 1 && r.head.getLong(0) == 8L)
  }

  test("certainlyStringPartitionSpec: fires only where stock inference " +
      "would answer string; schema parity with spark.read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_psfast").toString
    val df = spark.range(0, 60).toDF("id")
      .withColumn("cell", concat(lit("8a2a"), format_string("%x", col("id"))))
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
    df.write.partitionBy("cell").parquet(s"$dir/h3")
    // lettered hex values: fast path fires AND matches the stock reader
    val fast = GeoTable.fastLocalParquetDf(spark, s"$dir/h3", false).get
    val stock = spark.read.parquet(s"$dir/h3")
    assert(fast.schema == stock.schema,
      s"fast ${fast.schema.sql} != stock ${stock.schema.sql}")
    assert(fast.count() == 60 &&
      fast.filter(col("cell") === "8a2a1f").count() ==
        stock.filter(col("cell") === "8a2a1f").count())
    // all-digit values (quadkey shape): provably-string does NOT hold,
    // the spec must decline so stock int inference runs
    val dfq = spark.range(0, 20).toDF("id")
      .withColumn("qk", (col("id") % 4).cast("string"))
    dfq.write.partitionBy("qk").parquet(s"$dir/qk")
    val st = graft.meta.Footer.partFileStatuses(s"$dir/qk").get
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/qk")
    val q = root.getFileSystem(conf).makeQualified(root)
    val qualified = st.map(s => new org.apache.hadoop.fs.FileStatus(
      s.getLen, false, 1, s.getBlockSize, s.getModificationTime,
      root.getFileSystem(conf).makeQualified(s.getPath))).toArray
    assert(GeoTable.certainlyStringPartitionSpec(q, qualified).isEmpty)
    // and the full fast read still agrees with stock (int-typed qk)
    val fastQ = GeoTable.fastLocalParquetDf(spark, s"$dir/qk", false).get
    assert(fastQ.schema == spark.read.parquet(s"$dir/qk").schema)
    // escaped KEY name (ADVICE r16): stock parsePartitions unescapes
    // 'a%20b' to column 'a b'; the fast spec must decline rather than
    // produce a differently-named partition column
    val escDir = java.nio.file.Files.createTempDirectory("graft_esckey")
    val sub = escDir.resolve("a%20b=xy")
    java.nio.file.Files.createDirectories(sub)
    val one = spark.range(0, 3).toDF("id")
    one.write.mode("overwrite").parquet(sub.toString)
    // drop the nested _SUCCESS so the layout is a clean hive dir
    java.nio.file.Files.deleteIfExists(sub.resolve("_SUCCESS"))
    val escSt = graft.meta.Footer.partFileStatuses(escDir.toString).get
    val escRoot = new org.apache.hadoop.fs.Path(escDir.toString)
    val escQ = escRoot.getFileSystem(conf).makeQualified(escRoot)
    val escStatuses = escSt.map(s => new org.apache.hadoop.fs.FileStatus(
      s.getLen, false, 1, s.getBlockSize, s.getModificationTime,
      escRoot.getFileSystem(conf).makeQualified(s.getPath))).toArray
    assert(GeoTable.certainlyStringPartitionSpec(escQ, escStatuses).isEmpty,
      "escaped key names must defer to stock inference")
    // and end-to-end the fast read still matches stock ('a b' column)
    val fastE = GeoTable.fastLocalParquetDf(spark, escDir.toString, false).get
    assert(fastE.schema == spark.read.parquet(escDir.toString).schema)
  }

  test("partFileStatuses declines trees holding non-hidden non-parquet " +
      "data files (ADVICE r16: stock reads them; a partial listing " +
      "would drop rows) but prunes hidden subtrees") {
    import graft.meta.Footer
    val dir = java.nio.file.Files.createTempDirectory("graft_foreign")
    val sub = dir.resolve("k=a")
    java.nio.file.Files.createDirectories(sub)
    spark.range(0, 5).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(sub.toString)
    java.nio.file.Files.deleteIfExists(sub.resolve("_SUCCESS"))
    assert(Footer.partFileStatuses(dir.toString).exists(_.nonEmpty))
    // hidden staging subtree with junk inside: still fast-path eligible
    val hid = dir.resolve("_temporary/x")
    java.nio.file.Files.createDirectories(hid)
    java.nio.file.Files.writeString(hid.resolve("junk.txt"), "x")
    assert(Footer.partFileStatuses(dir.toString).exists(_.nonEmpty),
      "hidden subtrees must not count as foreign")
    // a parquet DATA file without the .parquet suffix (Hive writes
    // these): the fast path must decline so the stock reader, which
    // includes every non-hidden file, keeps those rows
    val bare = sub.resolve("000000_0")
    val src = {
      val s = java.nio.file.Files.list(sub)
      try {
        val it = s.iterator()
        var found: java.nio.file.Path = null
        while (it.hasNext && found == null) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet")) found = p
        }
        found
      } finally s.close()
    }
    java.nio.file.Files.copy(src, bare)
    assert(Footer.partFileStatuses(dir.toString).isEmpty,
      "a non-hidden non-.parquet data file must force the stock reader")
    // and GeoTable.read sees ALL rows via the stock fallback
    assert(GeoTable.read(spark, dir.toString).df.count() == 10)
    // `_`-prefixed PARTITION dirs (graft's own spatial writers:
    // `__h3=84…`) are NOT hidden under Spark's rule (contains '=') —
    // the walk must descend them or every __h3 layout silently loses
    // the fast path (caught live by the DirScale slow-FS row)
    val hdir = java.nio.file.Files.createTempDirectory("graft_h3hive")
    val hsub = hdir.resolve("__h3=84019adffffffff")
    java.nio.file.Files.createDirectories(hsub)
    spark.range(0, 7).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(hsub.toString)
    java.nio.file.Files.deleteIfExists(hsub.resolve("_SUCCESS"))
    val hst = Footer.partFileStatuses(hdir.toString)
    assert(hst.exists(_.nonEmpty),
      "__h3= partition dirs must be walked, not pruned as hidden")
    val fastH = GeoTable.fastLocalParquetDf(spark, hdir.toString, false)
    assert(fastH.isDefined &&
      fastH.get.schema == spark.read.parquet(hdir.toString).schema &&
      fastH.get.count() == 7)
    // foreign file at the ROOT level (not in a subdir) declines too
    val dir2 = java.nio.file.Files.createTempDirectory("graft_foreign2")
    spark.range(0, 4).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(dir2.resolve("d").toString)
    val d2 = dir2.resolve("d")
    java.nio.file.Files.deleteIfExists(d2.resolve("_SUCCESS"))
    java.nio.file.Files.writeString(d2.resolve("README"), "not parquet")
    assert(Footer.partFileStatuses(d2.toString).isEmpty)
  }

  test("read degrades deterministically on a partially-footered dataset " +
      "(ADVICE r15: failed writeGeoMetadata pass)") {
    import graft.meta.{Footer, GeoMeta}
    import org.apache.hadoop.conf.Configuration
    // plain parquet write (no graft footers), then footers applied to
    // all parts EXCEPT the lexically-first — the state a partial
    // writeGeoMetadata failure leaves behind. The O(depth) first pick
    // then sees an un-footered file; read must scan on and still find
    // the geo metadata instead of silently degrading to heuristics.
    val df = spark.range(1, 41).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(2.0)))
      .repartitionByRange(3, col("id"))
    val out = java.nio.file.Files.createTempDirectory("graft_partial")
      .toString + "/d"
    df.write.parquet(out)
    val conf = new Configuration()
    val parts = Footer.partFiles(out, conf)
    assume(parts.length >= 2, "fixture needs multiple parts")
    val geo = GeoMeta(primaryColumn = "geometry",
      columns = Map("geometry" -> graft.meta.GeoColumnMeta()))
    parts.tail.foreach { p =>
      Footer.withKeyValueMetadata(p,
        Map(GeoMeta.FooterKey -> GeoMeta.toJson(geo)), conf)
    }
    assert(Footer.read(parts.head, conf).geo.isEmpty,
      "fixture must leave the first part un-footered")
    val t = GeoTable.read(spark, out)
    assert(t.meta.primaryColumn == "geometry")
    assert(t.geometryColumn.contains("geometry"))
    assert(t.df.count() == 40)
  }

  test("addBboxMetadata preserves each part's own per-file bbox") {
    import graft.meta.{Footer, GeoMeta}
    import org.apache.hadoop.conf.Configuration
    val df = spark.range(1, 41).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
      .repartitionByRange(2, col("id"))
    val out = java.nio.file.Files.createTempDirectory("graft_pf").toString + "/d"
    GeoTable.fromDataFrame(df, "geometry").addBbox().write(out)
    val conf = new Configuration()
    val parts = Footer.partFiles(out, conf)
    assume(parts.length >= 2, "fixture needs multiple parts")
    val before = parts.map(p => p.toString ->
      Footer.read(p, conf).geo.get.primary.get.bbox).toMap
    assert(before.values.toSet.size > 1, "per-file bboxes must differ")
    // strip the covering declaration from every part (keep its own bbox)
    parts.foreach { p =>
      val g = Footer.read(p, conf).geo.get
      val pc = g.primary.get.copy(coveringBbox = None)
      Footer.withKeyValueMetadata(p, Map(GeoMeta.FooterKey -> GeoMeta.toJson(
        g.copy(columns = g.columns.updated(g.primaryColumn, pc)))), conf)
    }
    GeoTable.addBboxMetadata(out)
    parts.foreach { p =>
      val g = Footer.read(p, conf).geo.get
      assert(g.primary.flatMap(_.coveringBbox).contains("bbox"))
      assert(g.primary.get.bbox == before(p.toString),
        s"per-file bbox of $p must survive the metadata-only rewrite")
    }
  }
}
