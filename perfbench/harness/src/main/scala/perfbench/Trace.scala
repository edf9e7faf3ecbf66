package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. `parent` is the index of the
  * enclosing span in the same run, or -1. */
final case class Span(name: String, op: String, start: Long, var end: Long, parent: Int)

/** In-memory span recorder. Spans are kept until the run ends and are
  * written out once; nothing is flushed while timing. */
final class Spans(val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[A](name: String, op: String)(body: => A): A = {
    val ix = spans.size
    spans += Span(name, op, System.nanoTime(), 0L, open.headOption.getOrElse(-1))
    open = ix :: open
    try body finally {
      spans(ix).end = System.nanoTime()
      open = open.tail
    }
  }

  /** Seconds spent in spans called `name`, from the `from`-th span on. */
  def total(name: String, from: Int): Double =
    spans.iterator.drop(from).filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
}

/** Per-operation counters gathered from the scheduler's events.
  * Jobs are attributed by job group (the operation name) and by the
  * `perfbench.phase` local property (construct or exec), which
  * threads spawned during construction inherit. */
final class OpCounters {
  var jobs = Map("construct" -> 0L, "exec" -> 0L)
  var stages, tasks, taskFailed, stageRetried = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords = 0L
  var dupStages = 0L
  val signatures = mutable.HashSet.empty[String]
  var analysisMs, optimizationMs, planningMs = 0L
}

final class Collector(detailed: Boolean) extends SparkListener with QueryExecutionListener {
  private val byOp = mutable.HashMap.empty[String, OpCounters]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]
  /** Operation the harness thread is running; events drained before it
    * changes, so Catalyst phases reported asynchronously land on it. */
  @volatile var current: String = ""
  def counters(op: String): OpCounters = synchronized(byOp.getOrElseUpdate(op, new OpCounters))

  def ops: Map[String, OpCounters] = synchronized(byOp.toMap)

  def reset(): Unit = synchronized { byOp.clear(); stageOp.clear(); stageSubmitted.clear() }

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) synchronized {
    val op = groupOf(e.properties)
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.phase")))
      .getOrElse("exec")
    val c = counters(op)
    c.jobs = c.jobs.updated(phase, c.jobs.getOrElse(phase, 0L) + 1)
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (detailed) synchronized {
    val si = e.stageInfo
    stageSubmitted((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (detailed) synchronized {
      val c = counters(stageOp.getOrElse(e.stageId, current))
      c.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) c.taskFailed += 1
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { t =>
        c.waitMs += math.max(0L, e.taskInfo.launchTime - t)
      }
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (detailed) synchronized {
    val si = e.stageInfo
    val c = counters(stageOp.getOrElse(si.stageId, current))
    c.stages += 1
    if (si.attemptNumber() > 0) c.stageRetried += 1
    // A file-scan stage that repeats an earlier one of the same
    // operation with identical work (tasks, records in and out, RDD
    // chain) is the signature of a subtree executed twice. Stages over
    // checkpointed or shuffled data are left out: the rounds of an
    // iterative operator legitimately repeat those.
    val m = si.taskMetrics
    if (m != null && si.rddInfos.exists(_.name == "FileScanRDD")) {
      val sig = Seq(si.numTasks, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.recordsWritten, m.outputMetrics.recordsWritten,
        si.rddInfos.map(_.name).sorted.mkString(",")).mkString("|")
      if (!c.signatures.add(sig)) c.dupStages += 1
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (detailed) synchronized {
      val c = counters(current)
      qe.tracker.phases.foreach { case (phase, s) =>
        val ms = s.durationMs
        phase match {
          case "analysis" => c.analysisMs += ms
          case "optimization" => c.optimizationMs += ms
          case "planning" => c.planningMs += ms
          case _ =>
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Analysis done eagerly when a DataFrame was built, which no action
    * reports. */
  def addAnalysis(op: String, qe: QueryExecution): Unit = if (detailed) synchronized {
    counters(op).analysisMs += qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
  }
}

/** Counts scheduler errors reporting that a task's accumulator
  * updates arrived for an accumulator that no longer exists. Each one
  * means executor counters for that task are incomplete. */
final class LostAccumulators(current: () => String) extends AbstractAppender(
    "perfbench-lost-accumulators", null, null, true, Array.empty) {
  val count = new AtomicLong
  private val byOp = mutable.HashMap.empty[String, Long]

  def of(op: String): Long = synchronized(byOp.getOrElse(op, 0L))

  def reset(): Unit = synchronized { byOp.clear(); count.set(0L) }

  override def append(e: LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
    val thrown = Iterator.iterate(e.getThrown)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" ")
    if ((msg + " " + thrown).contains("non-existent accumulator")) {
      count.incrementAndGet()
      synchronized { byOp(current()) = byOp.getOrElse(current(), 0L) + 1 }
    }
  }
}

object Trace {
  def install(spark: SparkSession, detailed: Boolean): (Collector, LostAccumulators) = {
    val c = new Collector(detailed)
    spark.sparkContext.addSparkListener(c)
    if (detailed) spark.listenerManager.register(c)
    val lost = new LostAccumulators(() => c.current)
    lost.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(lost, Level.WARN, null)
    ctx.updateLoggers()
    (c, lost)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
}
