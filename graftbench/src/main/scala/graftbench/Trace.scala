package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of the closed loop. `kind` groups ops for the
  * per-kind latencies (query, tick, append, delete, load, serve,
  * compact), `label` names what it ran, and `traced` says whether it
  * ran in a traced block.
  */
final case class Op(id: Int, kind: String, label: String, startNs: Long,
    endNs: Long, ok: Boolean, traced: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A span around one call into a layer, made from the benchmark's own
  * code. `parent` is the enclosing span's index (-1 for a top-level
  * call inside an op); `op` is the op id it belongs to.
  */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int)

/** Spans kept in memory and written out when the run ends. Recording
  * is on only inside traced blocks; elsewhere `span` just runs the
  * body.
  */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  var enabled = false
  var currentOp: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), -1L, stack.headOption.getOrElse(-1),
        currentOp)
      stack = idx :: stack
      try body
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time of each span: its duration minus what its direct
    * children cover (children never overlap: calls are sequential).
    */
  def selfTimes: IndexedSeq[Double] = {
    val child = Array.fill(spans.length)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.indices.map(i => (spans(i).endNs - spans(i).startNs - child(i)) / 1e9)
  }
}

/** Per-job, per-stage and per-task facts from the listener bus, with
  * wall-clock timestamps so they can be attributed to ops afterwards.
  */
final case class Job(start: Long, var end: Long)
final case class Task(finish: Long, runMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long)

final class ExecListener extends SparkListener {
  val jobs = scala.collection.concurrent.TrieMap[Int, Job]()
  val stageEnds = ArrayBuffer[Long]()
  val tasks = ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs(e.jobId) = Job(e.time, -1L)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Catalyst phase times of every query execution that ran an action:
  * `QueryPlanningTracker` phases (analysis, optimization, planning).
  */
final case class Phases(analysis: Long, optimization: Long, planning: Long)

final class PlanListener extends QueryExecutionListener {
  val seen = ArrayBuffer[Phases]()
  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    synchronized {
      seen += Phases(ms("analysis"), ms("optimization"), ms("planning"))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Micro-batch progress of every streaming query. */
final case class Progress(durations: Map[String, Long], stateRows: Long,
    stateCommitMs: Long, stateBytes: Long)

final class StreamListener extends StreamingQueryListener {
  val seen = ArrayBuffer[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    val ops = p.stateOperators.toSeq
    synchronized {
      seen += Progress(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
        ops.map(_.memoryUsedBytes).sum)
    }
  }
}

/** The three listeners, registered only for traced blocks. Before they
  * come off, the listener bus is drained so no event of the block is
  * lost.
  */
final class Listeners(spark: SparkSession) {
  val exec = new ExecListener
  val plans = new PlanListener
  val streams = new StreamListener
  def on(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }
  def off(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }
}
