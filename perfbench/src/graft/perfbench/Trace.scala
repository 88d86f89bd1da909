package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the epoch-millisecond times Spark puts in its events. */
object Clock {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

/** One traced interval. `parent` is -1 for an op's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, end: Double, attrs: Seq[(String, Double)])

/** Spans kept in memory for the whole run and written out once at the
  * end. */
final class SpanStore {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, op: Int, name: String, start: Double, end: Double,
      attrs: Seq[(String, Double)] = Nil): Int = synchronized {
    buf += Span(buf.size, parent, op, name, start, end, attrs)
    buf.size - 1
  }

  def all: Seq[Span] = synchronized(buf.toSeq)

  /** Per span name: summed duration minus the part covered by children
    * (overlapping children are counted once), in milliseconds. */
  def selfTimes: Seq[(String, Double)] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var lo = 0.0
      var hi = -1.0
      iv.foreach { case (a, b) =>
        if (hi < 0 || a > hi) {
          if (hi >= 0) covered += hi - lo
          lo = a; hi = b
        } else hi = math.max(hi, b)
      }
      if (hi >= 0) covered += hi - lo
      s.name -> (s.end - s.start - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
  }

  /** Self time per span name in seconds per pass, for the result's info. */
  def selfInfo(passes: Int): Seq[(String, String)] =
    selfTimes.map { case (n, ms) => s"self_s.$n" -> f"${ms / 1e3 / passes}%.4f" }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ms":${s.start},"end_ms":${s.end}"""
      s.attrs.foreach { case (k, v) => sb ++= s""","$k":$v""" }
      sb ++= "}\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Counters for one op, filled by the listeners while the op runs. */
final class OpCounters {
  var jobs, stages, tasks, actions, batches = 0L
  var taskRunMs, taskCpuNs, taskDeserMs, gcMs = 0L
  var inputBytes, shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var spillDisk, spillMem, peakExecMem = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var addBatchMs, queryPlanningMs, walCommitMs, commitOffsetsMs = 0L
  var stateCommitMs, stateRows, stateMemBytes = 0L
  val batchMs = mutable.ArrayBuffer.empty[Double]
  val firstBatchMs = mutable.ArrayBuffer.empty[Double]
  // (jobId, start, end), (stageId, jobId, start, end, tasks) and
  // (start, end, batchId) for streaming batches; times in epoch ms
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  val stageSpans = mutable.ArrayBuffer.empty[(Int, Int, Double, Double, Int)]
  val batchSpans = mutable.ArrayBuffer.empty[(Double, Double, Long)]
}

/** Spark, SQL and streaming listeners that charge every event to the op
  * running when it is delivered. Ops run one at a time and the bus is
  * drained before and after each, so that charge is exact; events
  * between ops (hygiene, the environment probe) go to a throwaway set. */
final class Probes extends SparkListener {
  @volatile var current: OpCounters = new OpCounters
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Double]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time.toDouble)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    current.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = Option(jobStart.remove(e.jobId)).map(_.doubleValue)
      .getOrElse(e.time.toDouble)
    current.jobSpans += ((e.jobId, t0, e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    current.stages += 1
    val job = Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1)
    for (a <- i.submissionTime; b <- i.completionTime)
      current.stageSpans += ((i.stageId, job, a.toDouble, b.toDouble,
        i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = current
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.taskDeserMs += m.executorDeserializeTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillDisk += m.diskBytesSpilled
      c.spillMem += m.memoryBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val c = current
      c.actions += 1
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution,
        ex: Exception): Unit = phases(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(
        e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val c = current
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      c.batches += 1
      c.batchMs += p.batchDuration.toDouble
      if (p.batchId == 0) c.firstBatchMs += p.batchDuration.toDouble
      c.addBatchMs += d.getOrElse("addBatch", 0L)
      c.queryPlanningMs += d.getOrElse("queryPlanning", 0L)
      c.walCommitMs += d.getOrElse("walCommit", 0L)
      c.commitOffsetsMs += d.getOrElse("commitOffsets", 0L)
      p.stateOperators.foreach { s =>
        c.stateCommitMs += s.commitTimeMs
        c.stateRows += s.numRowsTotal
        c.stateMemBytes += s.memoryUsedBytes
      }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      c.batchSpans += ((t0, t0 + p.batchDuration, p.batchId))
    }
  }
}
