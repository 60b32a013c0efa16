package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark process: runs one workload and writes its raw record
  * (set-up times, one entry per timed op, samples, spans and listener
  * counters) as JSON. `perfbench/run.py` turns the record into metrics.
  *
  * {{{
  * graftbench.Main --workload geo_chain --seed 1 --seconds 15 --trace 0 \
  *   --cpus 4 --work <scratch dir> --data <sf0.01 dir> --out <record.json>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, "arguments come in --name value pairs")
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    selfCheck()
    Run.watchGc()
    val cpus = opt("cpus").toInt
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // graft.Bench's setting: the default 100-entry cache is smaller than
      // the generated classes of the mix, so every pass would recompile
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, work, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", cpus)
    run.out.put("workload", opt("workload"))
    run.out.put("session_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    try {
      opt("workload") match {
        case "geo_chain" => GeoChain.run(run)
        case "operator_mix" => OperatorMix.run(run, opt("data"))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      run.finish(Paths.get(opt("out")))
    } finally spark.stop()
  }

  /** The stored-bytes ratio's denominator on a known input: the raw value
    * bytes the generator counts must equal the bytes of the values it
    * makes.
    */
  def selfCheck(): Unit = {
    val g = new GeoGen(1, 16)
    val made = (0 until g.n).map { i =>
      g.row(i).toSeq.map {
        case _: Long | _: Double => 8
        case _: Int => 4
        case s: String => s.getBytes("UTF-8").length
        case b: Array[Byte] => b.length
      }.sum
    }.sum
    require(g.arrays.userBytes == made,
      s"self-check failed: generator counts ${g.arrays.userBytes} value bytes, made $made")
  }
}

/** State of one benchmark process: settings, the raw record, the span
  * recorder and, in a traced run, the Spark listener.
  */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val traced: Boolean, val cpus: Int) {
  private val mapper = new ObjectMapper()
  val out: ObjectNode = mapper.createObjectNode()
  val spans = new Spans(traced)
  val listener: Option[SparkTrace] =
    if (traced) Some(new SparkTrace(spark)) else None
  private val ops = out.putArray("ops")
  private val setupReps = out.putArray("setup_reps_s")
  private val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
  private var lastOp = 0

  def newOp(): Int = { lastOp += 1; lastOp }

  /** CPU seconds this process has used, on all its threads. */
  def cpuNow(): Double = Run.os.getProcessCpuTime / 1e9

  /** Records one timed op: its wall time and process CPU time, whether
    * its output passed the checks, and the wall times of its items (the
    * chain and read-backs, or the queries of a pass).
    */
  def op(id: Int, seconds: Double, cpu: Double, ok: Boolean, traced: Boolean,
      items: Seq[Double] = Nil, note: String = ""): Unit = {
    val o = ops.addObject().put("op", id).put("seconds", seconds).put("cpu_s", cpu)
      .put("ok", ok).put("traced", traced).put("note", note)
    val it = o.putArray("items")
    items.foreach(it.add)
  }

  def sample(name: String, v: Double): Unit =
    samples(name) = samples.getOrElse(name, Vector.empty) :+ v

  /** Runs `body` `reps` times, recording each duration; returns the last result. */
  def setup[T](reps: Int)(body: => T): T =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val v = body
      setupReps.add((System.nanoTime() - t0) / 1e9)
      v
    }.last

  /** Runs the warm-up before the timed ops. The memory metric covers the
    * warm-up and the timed ops, from a collected heap: set-up leaves
    * garbage behind, and in `operator_mix` it runs queries concurrently.
    */
  def warmup(body: => Unit): Unit = {
    System.gc()
    Run.peakLiveHeapMb = 0.0
    Run.gcs = 0
    val t0 = System.nanoTime()
    body
    out.put("warmup_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Calls `body(k)` for k = 0, 1, ... until the measuring time is spent,
    * at least `min` times.
    */
  def loop(min: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    while (k < min || (System.nanoTime() - t0) / 1e9 < seconds) { body(k); k += 1 }
    out.put("measured_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Switches the listener on for a traced op and off for a plain one,
    * so a traced run can also measure what tracing costs.
    */
  def tracing(on: Boolean): Unit = listener.foreach { l =>
    if (on && !installed) { l.install(); installed = true }
    if (!on && installed) { l.uninstall(); installed = false }
  }
  private var installed = false

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def finish(path: Path): Unit = {
    listener.foreach { l =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      l.write(out)
    }
    spans.write(out)
    val s = out.putObject("samples")
    samples.foreach { case (k, vs) => val a = s.putArray(k); vs.foreach(a.add) }
    out.put("peak_rss_mb", Run.peakRssMb())
    out.put("peak_live_heap_mb", Run.peakLiveHeapMb)
    out.put("gcs", Run.gcs)
    Files.writeString(path, mapper.writeValueAsString(out))
  }
}

object Run {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  @volatile var peakLiveHeapMb = 0.0
  @volatile var gcs = 0

  /** Tracks the largest heap occupancy a collection leaves behind: the
    * high-water mark of what the process holds on to, which a fixed,
    * pre-touched heap hides from its resident memory.
    */
  def watchGc(): Unit = {
    val names = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { gc =>
      gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
        (n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if names(k) => u.getUsed }.sum / 1048576.0
            if (live > peakLiveHeapMb) peakLiveHeapMb = live
            gcs += 1
          }
        }, null, null)
    }
  }

  /** High-water mark of this process's resident memory (Linux VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  /** Parquet part files under `dir` (recursively), sorted by path. */
  def partFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.startsWith("part-") && n.endsWith(".parquet")
    }.toVector.sortBy(_.toString)
    finally s.close()
  }

  def bytesOf(files: Seq[Path]): Long = files.map(Files.size).sum
}
