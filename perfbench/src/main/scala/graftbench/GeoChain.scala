package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.geom.{SpatialKey, Wkb}
import graft.meta.Footer
import graft.table.GeoTable

/** geo_chain: the reference's chain with the write included, then bbox
  * read-backs of what it wrote. Each op is
  * `GeoTable.read → addBbox → addQuadkey(13) → sortHilbert → write` over
  * an unsorted 400 K-polygon GeoParquet input, with the writer's defaults
  * (ZSTD, footer `geo` rewrite), followed by `Reads` bbox queries over
  * the output. Window sizes are spread evenly in log scale over
  * 0.01 %–10 % of the rows and centred on features, so dense areas are
  * queried more often. Closed loop, one op in flight.
  */
object GeoChain {
  val Rows = 400000
  val Zoom = 13
  val Reads = 4
  val SetupReps = 3

  def run(r: Run): Unit = {
    val in = s"${r.work}/chain_in"
    val out = s"${r.work}/chain_out"
    val gen = r.setup(SetupReps) {
      val g = new GeoGen(r.seed, Rows)
      GeoTable.fromDataFrame(g.frame(r.spark, r.cpus), "geometry").write(in)
      g.arrays
      g
    }
    r.out.put("user_bytes", gen.arrays.userBytes)
    r.out.put("input_bytes", Run.bytesOf(Run.partFiles(in)))
    r.out.put("input_rows", Rows)
    val windows = new BboxQuery.Windows(gen, r.seed)
    r.warmup {
      chain(r, in, out, 0)
      if (r.traced) prefixes(r, in, 0)
      val t = BboxQuery.target(out)
      (0 until Reads).foreach(_ => BboxQuery.query(r, t, windows.next(), 0))
    }
    if (r.traced) Micro.geom(r, gen)

    // the first op after the warm-up still runs slower while the JIT
    // settles; three ops let the median step over it. A traced run
    // alternates traced and plain ops.
    r.loop(min = 3) { k =>
      val traced = r.traced && k % 2 == 0
      val id = r.newOp()
      r.tracing(traced)
      if (traced) prefixes(r, in, id)
      r.listener.filter(_ => traced).foreach(_.enter(id))
      val cpu0 = r.cpuNow()
      val chainS = r.spans("op", id) {
        time(r.spans("chain.p4_write", id)(chain(r, in, out, id)))
      }
      val cpu1 = r.cpuNow()
      val err = check(r, gen, out)
      val t = BboxQuery.target(out)
      r.out.put("output_row_groups", t.rowGroups)
      val ws = Vector.fill(Reads)(windows.next())
      val cpu2 = r.cpuNow()
      val reads = ws.map { w =>
        if (traced) footerRead(r, out, id)
        val (planS, execS, n) = r.spans("op", id)(BboxQuery.query(r, t, w, id, traced))
        if (traced) {
          r.sample("table.read_plan_ms", planS * 1e3)
          r.sample("table.exec_ms", execS * 1e3)
        }
        (planS + execS, Option.when(n != w.expected)(s"read returned $n rows, expected ${w.expected}"))
      }
      val cpu = cpu1 - cpu0 + r.cpuNow() - cpu2
      val errors = err.toSeq ++ reads.flatMap(_._2)
      r.op(id, chainS + reads.map(_._1).sum, cpu, errors.isEmpty, traced,
        chainS +: reads.map(_._1), errors.mkString("; "))
      if (traced) footerWrite(r, out, id)
      r.sample("table.stored_bytes_per_user_byte",
        Run.bytesOf(Run.partFiles(out)).toDouble / gen.arrays.userBytes)
    }
    r.tracing(false)
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def chain(r: Run, in: String, out: String, op: Int): Unit = {
    val s = r.spans
    val t = s("table.read", op)(GeoTable.read(r.spark, in))
    val b = s("table.add_bbox", op)(t.addBbox())
    val q = s("functions.add_quadkey", op)(b.addQuadkey(Zoom))
    val h = s("table.sort_hilbert", op)(q.sortHilbert())
    s("table.write", op)(h.write(out))
  }

  /** The chain's stages timed as prefixes: read, + bbox/quadkey, + sort,
    * each forced through a noop sink. With the full chain (span
    * `chain.p4_write`) the differences between successive prefixes are
    * the stages' self times. The prefixes are not part of the op.
    */
  private def prefixes(r: Run, in: String, op: Int): Unit = {
    val s = r.spans
    r.listener.foreach(_.enter(-op))
    s("chain.p1_read", op) {
      r.noop(s("table.read", op)(GeoTable.read(r.spark, in)).df)
    }
    s("chain.p2_keys", op) {
      val t = s("table.read", op)(GeoTable.read(r.spark, in))
      val b = s("table.add_bbox", op)(t.addBbox())
      r.noop(s("functions.add_quadkey", op)(b.addQuadkey(Zoom)).df)
    }
    s("chain.p3_sort", op) {
      val t = s("table.read", op)(GeoTable.read(r.spark, in))
      val b = s("table.add_bbox", op)(t.addBbox())
      val q = s("functions.add_quadkey", op)(b.addQuadkey(Zoom))
      r.noop(s("table.sort_hilbert", op)(q.sortHilbert()).df)
    }
  }

  /** `Footer.firstPartFile` plus `Footer.read`: the footer access a read plans with. */
  private def footerRead(r: Run, out: String, op: Int): Unit = {
    val t0 = System.nanoTime()
    r.spans("meta.footer_read", op)(Footer.firstPartFile(out).map(p => Footer.read(p)))
    r.sample("meta.footer_read_ms", (System.nanoTime() - t0) / 1e6)
  }

  /** `Footer.writeGeoMetadata` on a copy of the chain output. */
  private def footerWrite(r: Run, out: String, op: Int): Unit = {
    val copy = Paths.get(s"${r.work}/chain_out_copy")
    if (Files.exists(copy)) deleteTree(copy)
    Files.createDirectories(copy)
    val parts = Run.partFiles(out)
    parts.foreach(p => Files.copy(p, copy.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING))
    val geo = Footer.read(new org.apache.hadoop.fs.Path(parts.head.toString)).geo
      .getOrElse(throw new IllegalStateException("chain output has no geo footer"))
    val t0 = System.nanoTime()
    r.spans("meta.footer_write", op)(Footer.writeGeoMetadata(copy.toString, geo, Some("bbox")))
    r.sample("meta.footer_write_ms", (System.nanoTime() - t0) / 1e6)
  }

  def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator.asScala.toVector.reverse.foreach(Files.delete)
    finally s.close()
  }

  /** Output checks: ids exactly the input's, a valid `geo` footer whose
    * bbox is the generator's extent, and Hilbert order good enough to
    * pass the reference's spatial-order gate (ratio < 0.5).
    */
  def check(r: Run, gen: GeoGen, out: String): Option[String] = {
    val parts = Run.partFiles(out)
    if (parts.isEmpty) return Some("no part files")
    val footers = parts.map(p => GeoFooter.read(p))
    footers.collectFirst { case Left(e) => e }.orElse {
      val fs = footers.collect { case Right(f) => f }
      val bad = fs.flatMap(_.problems)
      val (x0, y0, x1, y1) = gen.extent
      val bbox = (fs.map(_.bbox(0)).min, fs.map(_.bbox(1)).min,
        fs.map(_.bbox(2)).max, fs.map(_.bbox(3)).max)
      if (bad.nonEmpty) Some(bad.distinct.mkString("; "))
      else if (bbox != ((x0, y0, x1, y1))) Some(s"footer bbox $bbox != generated extent ${(x0, y0, x1, y1)}")
      else {
        val ids = parts.flatMap { p =>
          r.spark.read.parquet(p.toString).select("id").collect().map(_.getLong(0))
        }.toArray
        val sorted = ids.sorted
        if (sorted.length != gen.n || sorted.indices.exists(i => sorted(i) != i))
          Some(s"output ids are not the input ids (${ids.length} rows)")
        else {
          val ratio = Stats.spatialOrderRatio(ids.map(i => gen.indexOfId(i.toInt)),
            gen.arrays.cx, gen.arrays.cy, r.seed)
          r.sample("table.spatial_order_ratio", ratio)
          if (ratio < 0.5) None else Some(f"spatial order ratio $ratio%.3f >= 0.5")
        }
      }
    }
  }
}

/** The `geo` key of one Parquet footer, read with parquet-hadoop and
  * Jackson directly so the check does not go through the engine's own
  * metadata module.
  */
final case class GeoFooter(bbox: Vector[Double], problems: Seq[String])

object GeoFooter {
  private val mapper = new ObjectMapper()

  def keyValue(p: Path): Map[String, String] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString), new Configuration()))
    try reader.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap
    finally reader.close()
  }

  def read(p: Path): Either[String, GeoFooter] =
    keyValue(p).get("geo").toRight(s"${p.getFileName}: no geo key").map { json =>
      val g = mapper.readTree(json)
      val col = g.path("columns").path("geometry")
      val types = col.path("geometry_types").elements().asScala.map(_.asText).toSet
      val covering = col.path("covering").path("bbox")
      val problems = Seq(
        Option.when(g.path("version").asText != "1.1.0")(s"version ${g.path("version")}"),
        Option.when(g.path("primary_column").asText != "geometry")("primary column"),
        Option.when(col.path("encoding").asText != "WKB")("encoding"),
        Option.when(!types.subsetOf(Set("Polygon")))(s"geometry types $types"),
        Option.when(covering.path("xmin").toString != """["bbox","xmin"]""")("bbox covering"),
        Option.when(col.path("bbox").size != 4)("no bbox")).flatten
      GeoFooter(col.path("bbox").elements().asScala.map(_.asDouble).toVector.padTo(4, Double.NaN),
        problems)
    }
}

/** Per-item costs of the `geom` kernels over the generated geometries,
  * with no Spark involved.
  */
object Micro {
  val Items = 100000
  val Reps = 5

  def geom(r: Run, gen: GeoGen): Unit = {
    val n = math.min(Items, gen.n)
    val wkbs = Array.tabulate(n)(i => GeoGen.wkb(gen.ring(i)))
    val (x0, y0, x1, y1) = gen.extent
    val cx = gen.arrays.cx; val cy = gen.arrays.cy
    var sink = 0L
    def perItemNs(body: Int => Unit): Double =
      Stats.median((1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { body(i); i += 1 }
        (System.nanoTime() - t0).toDouble / n
      })
    r.sample("geom.wkb_read_ns", perItemNs(i => sink += Wkb.read(wkbs(i)).hashCode))
    r.sample("geom.hilbert_ns", perItemNs(i => sink += SpatialKey.hilbert(cx(i), cy(i), x0, y0, x1, y1)))
    r.sample("geom.quadkey_ns", perItemNs(i => sink += SpatialKey.quadkey(cx(i), cy(i), GeoChain.Zoom).length))
    r.out.put("micro_sink", sink)
  }
}
