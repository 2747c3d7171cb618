package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds from one monotonic anchor, comparable with the
  * epoch milliseconds Spark stamps on job events. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** One call into a layer (or one whole operation, `name == "op"`).
  * Spans of one operation share `op`; `parent` is the id of the span
  * that caused it (-1 for the operation itself). */
final case class Span(op: Int, id: Int, parent: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
  def layer: String =
    if (name == "op") "driver"
    else if (name.startsWith("spark.plan.")) "spark.plan"
    else if (name.startsWith("spark.exec.")) "spark.exec"
    else name.takeWhile(_ != '.')
}

/** What the traced run recorded for one operation. */
final case class OpTrace(op: Int, kind: String, counts: Map[String, Double],
    selfUs: Map[String, Long])

object Intervals {
  /** Length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def unionLen(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Graft scan metrics read from an executed plan. The
  * final adaptive plan hides its query stages from a plain `foreach`, so
  * the walk goes through Spark's adaptive-plan helper. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  val GraftMetricNames: Seq[(String, String)] = Seq(
    "graftFilesPrunedStatic" -> "sources.files_pruned_static",
    "graftFilesPrunedRuntime" -> "sources.files_pruned_runtime",
    "graftDvRowsFiltered" -> "sources.dv_rows_filtered")

  /** The sums of the graft metrics the plan's nodes carry; a metric no
    * node carries is left out. */
  def graftMetrics(plan: SparkPlan): Map[String, Double] = {
    val nodes = collect(plan) { case p => p }
    GraftMetricNames.flatMap { case (m, out) =>
      val vs = nodes.flatMap(_.metrics.get(m))
      if (vs.isEmpty) None else Some(out -> vs.map(_.value.toDouble).sum)
    }.toMap
  }
}

/** Records spans and counts at the layer boundaries the benchmark can
  * see from outside the program: its own calls into `graft.storage` and
  * `graft.operators`, the Catalyst phases of every executed query
  * (`QueryPlanningTracker`), and the jobs and tasks Spark ran for the
  * operation (a `SparkListener`, tagged by job group). Everything stays
  * in memory until the run ends. An operation that is not traced
  * registers no listener and records nothing. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[OpTrace]()

  private var op = -1
  private var kind = ""
  private var active = false
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  private val opSpans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Map[Int, (String, Int, Long)]()
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)

  private final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = startMs
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inBytes = 0L
    var inRecords = 0L
    var shuffleBytes = 0L
    var outBytes = 0L
  }

  // listener callbacks run on the bus thread
  private val lock = new Object
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private val qes = mutable.ArrayBuffer[QueryExecution]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val j = new Job(e.jobId, group, e.time)
      jobs += j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inBytes += m.inputMetrics.bytesRead
          j.inRecords += m.inputMetrics.recordsRead
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized { qes += qe }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lock.synchronized { qes += qe }
  }

  def tracing: Boolean = active

  /** Drop everything recorded, once it has been reported. */
  def clear(): Unit = {
    spans.clear(); ops.clear(); opSpans.clear(); open.clear(); counts.clear()
    lock.synchronized { jobs.clear(); stageJob.clear(); qes.clear() }
  }

  def beginOp(id: Int, opKind: String, traced: Boolean): Unit = {
    op = id
    kind = opKind
    active = traced
    if (active) {
      opSpans.clear(); open.clear(); counts.clear(); stack.clear()
      lock.synchronized { jobs.clear(); stageJob.clear(); qes.clear() }
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      sc.setJobGroup(s"op-$id", opKind)
      openSpan("op")
    }
  }

  private def openSpan(name: String): Int = {
    val id = nextId
    nextId += 1
    open(id) = (name, stack.headOption.getOrElse(-1), Clock.nowUs)
    stack.push(id)
    id
  }

  private def closeSpan(id: Int): Unit = {
    val (name, parent, start) = open.remove(id).get
    stack.pop()
    opSpans += Span(op, id, parent, name, start, Clock.nowUs)
  }

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = openSpan(name)
      try body finally closeSpan(id)
    }

  /** Add `v` to the current operation's count `name`. */
  def count(name: String, v: Double): Unit = if (active) counts(name) += v

  /** Close the operation: drain the listener bus, turn the operation's
    * jobs and query plans into child spans and counts, and compute each
    * layer's self time. */
  def endOp(): Unit = if (active) {
    closeSpan(stack.last)
    Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    sc.clearJobGroup()
    active = false
    val own = opSpans.toSeq
    val root = own.find(_.name == "op").get
    def parentOf(tUs: Long): Int =
      own.filter(s => s.startUs <= tUs && tUs <= s.endUs).sortBy(_.durUs)
        .headOption.map(_.id).getOrElse(root.id)
    val derived = mutable.ArrayBuffer[Span]()
    def add(name: String, s: Long, e: Long): Unit = {
      derived += Span(op, nextId, parentOf(s), name, s, math.max(s, e))
      nextId += 1
    }
    val (opJobs, opQes) = lock.synchronized {
      (jobs.filter(j => j.group == null || j.group == s"op-$op").toSeq, qes.toSeq)
    }
    opJobs.foreach { j =>
      add("spark.exec.job", j.startMs * 1000L, j.endMs * 1000L)
      counts("spark.exec.jobs") += 1
      counts("spark.exec.tasks") += j.tasks
      counts("spark.exec.task_cpu_ms") += j.cpuNs / 1e6
      counts("spark.exec.gc_ms") += j.gcMs
      counts("spark.exec.shuffle_bytes") += j.shuffleBytes
      counts("sources.bytes_read") += j.inBytes
      counts("sources.rows_read") += j.inRecords
      counts("storage.bytes_written") += j.outBytes
    }
    opQes.foreach { qe =>
      Seq("analysis", "optimization", "planning").foreach { ph =>
        qe.tracker.phases.get(ph).foreach { p =>
          add(s"spark.plan.$ph", p.startTimeMs * 1000L, p.endTimeMs * 1000L)
          counts(s"spark.plan.${ph}_ms") += p.durationMs
        }
      }
      scala.util.Try(PlanWalk.graftMetrics(qe.executedPlan)).toOption.foreach(
        _.foreach { case (k, v) => counts(k) += v })
    }
    val all = own ++ derived
    val children = all.groupBy(_.parent)
    val selfUs = mutable.Map[String, Long]().withDefaultValue(0L)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      selfUs(s.layer) += s.durUs - Intervals.unionLen(kids, s.startUs, s.endUs)
    }
    val jobIv = opJobs.map(j => (j.startMs * 1000L, j.endMs * 1000L))
    val planUs = derived.filter(_.layer == "spark.plan").map(_.durUs).sum
    counts("spark.exec.driver_gap_ms") += math.max(0L,
      root.durUs - planUs - Intervals.unionLen(jobIv, root.startUs, root.endUs)) / 1000.0
    own.filter(_.name == "storage.write").foreach { s =>
      val inside = Intervals.unionLen(jobIv, s.startUs, s.endUs)
      counts("storage.write_driver_ms") += (s.durUs - inside) / 1000.0
    }
    own.filter(_.name == "operators.build").foreach { b =>
      counts("operators.eager_jobs") += opJobs.count(j => j.startMs * 1000L >= b.startUs &&
        j.startMs * 1000L <= b.endUs)
    }
    spans ++= all
    ops += OpTrace(op, kind, counts.toMap, selfUs.toMap)
  }
}
