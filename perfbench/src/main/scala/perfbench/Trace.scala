package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, monotone within the run (nanoTime
  * anchored once to currentTimeMillis), so harness spans and the
  * millisecond timestamps of Spark listener events share one time line. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  def us(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** One interval at a layer boundary. `op` is the id of the benchmark op
  * the span belongs to (all spans of one op share it); `parent` is the
  * enclosing span (0 for an op's root span). Times are epoch µs. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Per-job counters summed from the job's task-end events. */
final class JobRec(val jobId: Int, val op: Option[Long], val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var inBytes = 0L
  var inRows = 0L
  var shRead = 0L
  var shWrite = 0L
}

/** A finished QueryExecution: its Catalyst phases as (phase, start ms, end ms). */
final case class PlanRec(phases: Seq[(String, Long, Long)]) {
  def startMs: Long = if (phases.isEmpty) Long.MaxValue else phases.map(_._2).min
  def ms(phase: String): Double =
    phases.filter(_._1 == phase).map(p => (p._3 - p._2).toDouble).sum
}

/** The traced run's recorder. Harness spans are recorded synchronously
  * around calls into the engine's public API; Spark jobs, task counters
  * and Catalyst phases come from public listeners, attributed to the op
  * whose id the benchmark set as a local property (or, failing that, whose
  * interval holds the event). Everything stays in memory until the run
  * ends. */
final class Tracer(spark: SparkSession) {
  val OpProperty = "perfbench.op"
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Long]()
  private var curOp = 0L

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  @volatile private var markerPlanned = false

  private val jobListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val op = Option(js.properties).flatMap(p => Option(p.getProperty(OpProperty))).map(_.toLong)
      jobs.put(js.jobId, new JobRec(js.jobId, op, js.time))
      js.stageIds.foreach(s => stageJob.put(s, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      Option(stageJob.get(te.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
        r.synchronized {
          r.tasks += 1
          if (m != null) {
            r.cpuNs += m.executorCpuTime
            r.inBytes += m.inputMetrics.bytesRead
            r.inRows += m.inputMetrics.recordsRead
            r.shRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
            r.shWrite += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (n, s) => (n, s.startTimeMs, s.endTimeMs) }
      if (ph.exists(_._1 == "planning") && qe.logical.toString.contains("perfbench_marker"))
        markerPlanned = true
      else plans.add(PlanRec(ph))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    watch(spark)
  }

  /** Plan listeners are per session: a child session needs its own. */
  def watch(session: SparkSession): Unit =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
      .register(planListener)

  /** Waits until the listener bus has delivered every event posted so far:
    * runs a marker query and waits for its own plan callback and job end,
    * which queue behind all earlier events. */
  def drain(): Unit = {
    markerPlanned = false
    spark.sparkContext.setLocalProperty(OpProperty, "-1")
    spark.range(1).selectExpr("'perfbench_marker' AS m").collect()
    spark.sparkContext.setLocalProperty(OpProperty, null)
    val deadline = System.currentTimeMillis() + 10000
    def markerJobDone = jobs.values.asScala.exists(j => j.op.contains(-1L) && j.endMs >= 0)
    while ((!markerPlanned || !markerJobDone) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    jobs.values.removeIf(_.op.contains(-1L))
  }

  /** Opens an op's root span; jobs submitted until [[endOp]] carry its id. */
  def beginOp(name: String): Long = {
    val id = ids.incrementAndGet()
    curOp = id
    stack.push(id)
    spark.sparkContext.setLocalProperty(OpProperty, id.toString)
    spans += Span(id, 0, id, "op", name, Clock.us(), -1)
    id
  }

  def endOp(id: Long, startUs: Long, endUs: Long): Unit = {
    spark.sparkContext.setLocalProperty(OpProperty, null)
    stack.clear()
    curOp = 0
    val i = spans.lastIndexWhere(_.id == id)
    spans(i) = spans(i).copy(startUs = startUs, endUs = endUs)
  }

  /** Times `body` as a child span of the innermost open span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val s = Clock.us()
    stack.push(id)
    try body
    finally {
      stack.pop()
      spans += Span(id, parent, curOp, layer, name, s, Clock.us())
    }
  }

  /** Records an interval measured elsewhere (a stream epoch) under `op`. */
  def addSpan(op: Long, layer: String, name: String, startUs: Long, endUs: Long): Unit =
    spans += Span(ids.incrementAndGet(), op, op, layer, name, startUs, endUs)

  /** Harness spans plus one span per job and Catalyst phase, each hung
    * under the innermost harness span of its op that contains its start. */
  def allSpans(ops: Seq[OpRecord]): Seq[Span] = {
    val hs = spans.toSeq
    val byOp = hs.groupBy(_.op)
    def parentOf(op: Long, tUs: Long): Long =
      byOp.getOrElse(op, Seq()).filter(s => s.startUs <= tUs && tUs <= s.endUs)
        .sortBy(-_.startUs).headOption.map(_.id).getOrElse(op)
    val jobSpans = jobs.values.asScala.toSeq.flatMap { j =>
      opOfJob(j, ops).map { op =>
        val s = j.startMs * 1000
        Span(ids.incrementAndGet(), parentOf(op, s), op, "jobs", s"job ${j.jobId}", s,
          math.max(s, j.endMs * 1000))
      }
    }
    val phaseSpans = plans.asScala.toSeq.flatMap { p =>
      opAt(p.startMs * 1000, ops).toSeq.flatMap { op =>
        p.phases.map { case (n, s, e) =>
          Span(ids.incrementAndGet(), parentOf(op, s * 1000), op, "catalyst", n, s * 1000, e * 1000)
        }
      }
    }
    hs ++ jobSpans ++ phaseSpans
  }

  def opOfJob(j: JobRec, ops: Seq[OpRecord]): Option[Long] =
    j.op.filter(_ > 0).orElse(opAt(j.startMs * 1000, ops))

  /** The op whose interval holds `tUs`, with 1 ms of slack for the
    * millisecond resolution of listener timestamps. */
  def opAt(tUs: Long, ops: Seq[OpRecord]): Option[Long] =
    ops.find(o => o.startUs - 1000 <= tUs && tUs <= o.endUs + 1000).map(_.id)
}

object Intervals {
  /** Total length of the union of `iv`, clipped to [lo, hi]. */
  def unionLen(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    c.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = unionLen(kids.getOrElse(s.id, Seq()).filter(_.id != s.id)
        .map(c => (c.startUs, c.endUs)), s.startUs, s.endUs)
      s.id -> math.max(0L, s.durUs - cover)
    }.toMap
  }
}
