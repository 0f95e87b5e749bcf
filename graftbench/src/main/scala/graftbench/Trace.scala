package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A timed interval around a call into one graft or Spark layer. */
final case class Span(name: String, op: Long, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one op. */
final class OpCounters {
  var qe = 0; var jobs = 0; var stages = 0; var tasks = 0
  var analysisMs = 0.0; var optimizeMs = 0.0; var planMs = 0.0
  var cpuNs = 0L; var runMs = 0L; var waitMs = 0L
  var shuffleB = 0L; var spillB = 0L; var inputB = 0L; var inputRecords = 0L
  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Spans and Spark listener counters. Disabled, `span` only runs its body
  * and nothing is registered with Spark, so untraced runs pay nothing. */
final class Tracer(val enabled: Boolean) {
  val OpKey = "graftbench.op"
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val counters: mutable.HashMap[Long, OpCounters] = mutable.HashMap.empty
  @volatile var curOp: Long = -1L
  private var stack: List[Int] = Nil
  private val jobAt = mutable.HashMap.empty[Int, (Long, Int)]
  private val stageOp = mutable.HashMap.empty[Int, Long]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]

  private def c(op: Long): OpCounters = counters.getOrElseUpdate(op, new OpCounters)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = idx :: stack
      val s = System.nanoTime(); val sm = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans(idx) = Span(name, curOp, parent, s, System.nanoTime(), sm, System.currentTimeMillis())
      }
    }

  /** Registers the listeners on a session (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
          .map(_.toLong).getOrElse(-1L)
        e.stageIds.foreach(s => stageOp(s) = op)
        val cc = c(op); cc.jobs += 1
        jobAt(e.jobId) = (op, cc.jobSpans.size)
        cc.jobSpans += ((e.time, Long.MaxValue))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobAt.remove(e.jobId).foreach { case (op, i) =>
          val js = c(op).jobSpans
          js(i) = (js(i)._1, e.time)
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
        val id = e.stageInfo.stageId
        stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        c(stageOp.getOrElse(id, -1L)).stages += 1
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        val cc = c(stageOp.getOrElse(e.stageId, -1L))
        cc.tasks += 1
        cc.waitMs += math.max(0L, e.taskInfo.launchTime - stageSubmitMs.getOrElse(e.stageId, e.taskInfo.launchTime))
        val m = e.taskMetrics
        if (m != null) {
          cc.cpuNs += m.executorCpuTime; cc.runMs += m.executorRunTime
          cc.shuffleB += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          cc.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          cc.inputB += m.inputMetrics.bytesRead; cc.inputRecords += m.inputMetrics.recordsRead
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
        val cc = c(curOp)
        val ph = qe.tracker.phases
        cc.qe += 1
        cc.analysisMs += ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
        cc.optimizeMs += ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
        cc.planMs += ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
    })
  }

  /** Delivers every pending listener event before the next op starts. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.GraftbenchBus.drain(spark.sparkContext)

  /** Part of [startMs, endMs] not covered by any of the op's jobs. */
  def driverMs(op: Long, startMs: Long, endMs: Long): Double = synchronized {
    val js = counters.get(op).map(_.jobSpans.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(a, startMs), math.min(if (b == Long.MaxValue) endMs else b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    js.foreach { case (a, b) =>
      if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += math.max(0L, curB - curA)
    (endMs - startMs - covered).toDouble
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfMs: Map[String, Seq[Double]] = {
    val child = new Array[Double](spans.size)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.ms)
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) =>
      n -> is.map(i => spans(i).ms - child(i))
    }
  }

  def spansJson: String = spans.map { s =>
    s"""{"name":"${s.name}","op":${s.op},"parent":${s.parent},"start_ms":${s.startMs},""" +
      s""""dur_ms":${"%.3f".format(s.ms)}}"""
  }.mkString("[\n", ",\n", "\n]")
}
