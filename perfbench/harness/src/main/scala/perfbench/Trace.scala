package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `parent` is the enclosing span's id
  * (0 for the run root); every span of a run shares the run id. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      family: String, startMs: Long, startNs: Long) {
  var durNs: Long = -1L
  def endMs: Long = startMs + math.max(0L, durNs) / 1000000L
  def secs: Double = durNs / 1e9
}

/** In-memory span recorder. The harness is a closed loop on one
  * thread, so the open spans form a stack. */
final class Spans(val runId: String) {
  val all = ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  def apply[T](layer: String, name: String, family: String = "")(body: => T): T = {
    val s = Span(all.size + 1, open.headOption.fold(0)(_.id), layer, name,
      family, System.currentTimeMillis(), System.nanoTime())
    all += s
    open = s :: open
    try body
    finally { s.durNs = System.nanoTime() - s.startNs; open = open.tail }
  }

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id).toSeq
  def selfSecs(s: Span): Double = s.secs - children(s).map(_.secs).sum

  /** Innermost span whose window holds `ms` — how a job is attributed
    * to the call that launched it, whatever thread launched it. */
  def at(ms: Long): Option[Span] =
    all.filter(s => s.startMs <= ms && ms <= s.endMs && s.durNs >= 0)
      .sortBy(s => (-s.startMs, -s.id)).headOption
}

/** Job, stage and task counters from a SparkListener (traced runs only). */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val stageIds: Seq[Int],
                  val mat: Boolean, val site: String) { @volatile var endMs: Long = -1L }
  final class Stage(val id: Int) {
    var shuffleMap = false
    var completed = false
    val taskMs = ArrayBuffer[Long]()
    var busyMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L; var outBytes = 0L
  }
  val jobs = ArrayBuffer[Job]()
  val stages = scala.collection.mutable.LinkedHashMap[Int, Stage]()
  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))

  // call site (long form) of each SQL execution, by execution id
  private val sqlSites = scala.collection.mutable.Map[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlSites(x.executionId) = x.details }
    case _ => ()
  }

  /** Mat builds run on the `graft-mat` pool, so the call site of a
    * build's job (or of the SQL execution that launched it) has a
    * `graft.Mat$` frame; traced JVMs keep deep call sites
    * (spark.callstack.depth) so the frame is not cut off. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlSites.get(id.toLong))
    val details = (sql.toSeq ++ e.stageInfos.map(_.details)).mkString("\n")
    jobs += new Job(e.jobId, e.time, e.stageInfos.map(_.stageId),
      details.contains("graft.Mat$"),
      details.linesIterator.find(_.contains("graft.")).getOrElse("").trim)
    e.stageInfos.foreach(si => stage(si.stageId).shuffleMap = org.apache.spark.perfbench.Bus.isShuffleMap(si))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.completed = e.stageInfo.failureReason.isEmpty
    s.shuffleMap = org.apache.spark.perfbench.Bus.isShuffleMap(e.stageInfo)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.busyMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Micro-batch progress of every streaming query; on in every run,
  * because it is how micro-batch latency is measured. */
final class BatchListener extends StreamingQueryListener {
  final case class Batch(rows: Long, triggerMs: Long, addBatchMs: Long,
                         walMs: Long, stateCommitMs: Long)
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
    pending.add(Batch(p.numInputRows, d("triggerExecution"), d("addBatch"),
      d("walCommit") + d("commitOffsets"), p.stateOperators.map(_.commitTimeMs).sum))
  }

  /** Everything delivered since the last call (drain the bus first). */
  def take(): Seq[Batch] = {
    val out = ArrayBuffer[Batch]()
    var b = pending.poll()
    while (b != null) { out += b; b = pending.poll() }
    out.toSeq
  }
}
