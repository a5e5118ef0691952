package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side counters of one op, summed over the jobs it launched. */
final class OpCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  /** (start, end) wall-clock ms of every job, in start order. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes every Spark job, stage and task to the op that was running
  * when the job started. One client thread runs ops in a closed loop, so
  * the running op owns every job launched meanwhile, including those a
  * streaming query starts on its own thread.
  */
final class JobProbe extends SparkListener {
  @volatile var currentOp: Int = -1
  private val byOp = mutable.HashMap.empty[Int, OpCounters]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val jobOp = mutable.HashMap.empty[Int, (Int, Int)] // job -> (op, interval index)
  /** (job id, op, job group, start ms, end ms) for the span dump. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Int, String, Long, Long)]
  @volatile var recordSpans = false

  def counters(op: Int): OpCounters = synchronized(byOp.getOrElseUpdate(op, new OpCounters))
  def forget(op: Int): Unit = synchronized(byOp.remove(op))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = currentOp
    val c = byOp.getOrElseUpdate(op, new OpCounters)
    c.jobs += 1
    c.stages += e.stageInfos.size
    e.stageIds.foreach(s => stageOp(s) = op)
    jobOp(e.jobId) = (op, c.jobIntervals.size)
    c.jobIntervals += ((e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, i) =>
      val c = byOp.getOrElseUpdate(op, new OpCounters)
      if (i < c.jobIntervals.size) {
        val start = c.jobIntervals(i)._1
        c.jobIntervals(i) = (start, e.time)
        if (recordSpans) jobSpans += ((e.jobId, op, s"op-$op", start, e.time))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageId, currentOp)
    val c = byOp.getOrElseUpdate(op, new OpCounters)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
    }
  }
}

/** Micro-batch progress of the streaming queries an op runs. */
final class StreamProbe extends StreamingQueryListener {
  @volatile var currentOp: Int = -1
  /** op -> (batches, trigger ms, addBatch ms) */
  private val byOp = mutable.HashMap.empty[Int, (Int, Long, Long)]

  def get(op: Int): (Int, Long, Long) = synchronized(byOp.getOrElse(op, (0, 0L, 0L)))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      val (n, t, a) = byOp.getOrElse(currentOp, (0, 0L, 0L))
      byOp(currentOp) = (n + 1, t + ms("triggerExecution"), a + ms("addBatch"))
    }
  }
}

/** In-memory span log of a traced run: (id, parent, op, name, start ns,
  * end ns). Written out once, at the end of the run.
  */
final class Spans(val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[(Int, Int, Int, String, Long, Long)]
  private var nextId = 0
  private var stack: List[Int] = Nil
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        buf += ((id, parent, op, name, t0, System.nanoTime()))
      }
    }

  def all: Seq[(Int, Int, Int, String, Long, Long)] = buf.toSeq
}
