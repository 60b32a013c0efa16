package graftbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is a call from the benchmark into one
  * module; nesting on the calling thread gives its parent. Spans carry
  * the op id they belong to and are written out when the run ends.
  * Times are epoch milliseconds derived from `nanoTime`, so they line up
  * with the Spark listener's stage times.
  */
final class Spans(val enabled: Boolean) {
  import Spans.Span
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0

  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def apply[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = nowMs()
      try body
      finally {
        stack.pop()
        done += Span(id, parent, op, name, t0, nowMs())
      }
    }

  def write(into: ObjectNode): Unit = {
    val arr = into.putArray("spans")
    done.sortBy(_.id).foreach { s =>
      arr.addObject().put("id", s.id).put("parent", s.parent).put("op", s.op)
        .put("name", s.name).put("start_ms", s.start).put("end_ms", s.end)
    }
  }
}

object Spans {
  private final case class Span(id: Int, parent: Int, op: Int, name: String,
      start: Double, end: Double)
}

/** Spark's public listener APIs, registered only in a traced run. Every
  * job, stage and task is attributed to the benchmark op (and query) that
  * was current on the driver thread through two local properties; query
  * planning phases are attributed by their start time.
  */
final class SparkTrace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import SparkTrace._

  final class Counters {
    var jobs = 0; var stages = 0; var tasks = 0
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var fetchWaitMs = 0L; var spill = 0L
    var ccJobs = 0
    var maxSkew = 1.0
  }
  private val counters = mutable.Map[Int, Counters]()
  private val stageOwner = mutable.Map[Int, (Int, String)]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stageSpans = mutable.ArrayBuffer[(Int, String, Long, Long)]()
  private val planning = mutable.ArrayBuffer[(Long, Double)]()

  private def of(op: Int): Counters = counters.getOrElseUpdate(op, new Counters)
  private def opOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(OpKey))).map(_.toInt).getOrElse(-1)
  private def queryOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(QueryKey))).getOrElse("")

  /** Marks the driver thread's next jobs as belonging to `op`/`query`. */
  def enter(op: Int, query: String = ""): Unit = {
    spark.sparkContext.setLocalProperty(OpKey, op.toString)
    spark.sparkContext.setLocalProperty(QueryKey, query)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.sparkContext.setLocalProperty(OpKey, null)
    spark.sparkContext.setLocalProperty(QueryKey, null)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    val c = of(op)
    c.jobs += 1
    if (CcQueries.contains(queryOf(e.properties))) c.ccJobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOwner(e.stageInfo.stageId) = (opOf(e.properties), queryOf(e.properties))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val (op, query) = stageOwner.getOrElse(info.stageId, (-1, ""))
    val c = of(op)
    c.stages += 1
    for (s <- info.submissionTime; f <- info.completionTime)
      stageSpans += ((op, query, s, f))
    stageTaskMs.remove(info.stageId).filter(_.size >= 2).foreach { ms =>
      val sorted = ms.sorted
      val median = sorted(sorted.size / 2).max(1L)
      c.maxSkew = math.max(c.maxSkew, sorted.last.toDouble / median)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (op, _) = stageOwner.getOrElse(e.stageId, (-1, ""))
    val c = of(op)
    c.tasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)

  /** Planning phases (analysis, optimization, physical planning) of `qe`. */
  def recordPlanning(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      planning += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
  }

  def write(into: ObjectNode): Unit = synchronized {
    val ops = into.putObject("op_counters")
    counters.foreach { case (op, c) =>
      ops.putObject(op.toString)
        .put("spark.jobs", c.jobs).put("spark.stages", c.stages)
        .put("spark.tasks", c.tasks)
        .put("spark.executor_cpu_s", c.cpuNs / 1e9)
        .put("spark.executor_run_s", c.runMs / 1e3)
        .put("spark.gc_s", c.gcMs / 1e3)
        .put("spark.shuffle_write_mb", c.shuffleWrite / 1048576.0)
        .put("spark.shuffle_fetch_wait_ms", c.fetchWaitMs.toDouble)
        .put("spark.spill_mb", c.spill / 1048576.0)
        .put("spark.task_skew", c.maxSkew)
        .put("ops.cc_jobs", c.ccJobs)
    }
    val st = into.putArray("stage_spans")
    stageSpans.foreach { case (op, q, s, f) =>
      st.addObject().put("op", op).put("query", q).put("start_ms", s).put("end_ms", f)
    }
    val pl = into.putArray("planning")
    planning.foreach { case (s, d) => pl.addObject().put("start_ms", s).put("ms", d) }
  }
}

object SparkTrace {
  val OpKey = "graftbench.op"
  val QueryKey = "graftbench.query"
  /** The mix queries whose plans run connected components. */
  val CcQueries: Set[String] = Set("q39_dedup_clusters", "q55_pipeline", "q80_bpe_pack",
    "q176_phash_clusters", "q183_video_dedup")
}
