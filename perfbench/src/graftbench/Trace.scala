package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters of one span: everything the jobs a call spawned did. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskCpuNs, shuffleWrite, shuffleWriteRecords, shuffleRead = 0L
  var spill, inputBytes, inputRecords, outputBytes, outputRecords = 0L
  var skewMax = 0.0
  var batches = 0L
  var commitMs = 0L
  var stateRows = 0L
  val batchMs = ArrayBuffer[Long]()

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskCpuNs += o.taskCpuNs
    shuffleWrite += o.shuffleWrite; shuffleWriteRecords += o.shuffleWriteRecords
    shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    skewMax = math.max(skewMax, o.skewMax)
    batches += o.batches; commitMs += o.commitMs; stateRows += o.stateRows
    batchMs ++= o.batchMs
  }
}

/** The traced run's collector. Each timed call runs under a job group
  * named after its span id; this listener charges every job, stage and
  * task of that group to the span, so per-call counters are measured
  * where the work happens. Streaming queries set their own job group
  * (their run id), so a query started inside a span is mapped back to
  * it when it starts. Spans live in memory until the run ends.
  */
final class Tracer extends SparkListener {
  private val spans = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val runSpan = new ConcurrentHashMap[String, String]()
  private val taskTimes = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val lastState = new ConcurrentHashMap[String, java.lang.Long]()
  /** Span of the call currently starting a streaming query. Streaming
    * keys run only in the sequential workloads, so one slot suffices. */
  @volatile var current: String = null

  private def acc(span: String): Counters =
    spans.computeIfAbsent(span, _ => new Counters)

  def counters(span: String): Counters = Option(spans.get(span)).getOrElse(new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val span = Option(group).map(g => runSpan.getOrDefault(g, g)).getOrElse("unattributed")
    val c = acc(span)
    c.synchronized { c.jobs += 1 }
    e.stageIds.foreach(id => stageSpan.put(id, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span == null) return
    val c = acc(span)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
    taskTimes.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]())
      .synchronized { taskTimes.get(e.stageId) += e.taskInfo.duration }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val span = stageSpan.get(id)
    val times = Option(taskTimes.remove(id)).map(_.sorted).getOrElse(ArrayBuffer())
    if (span == null) return
    val c = acc(span)
    c.synchronized {
      c.stages += 1
      if (times.size >= 2 && times(times.size / 2) > 0)
        c.skewMax = math.max(c.skewMax, times.last.toDouble / times(times.size / 2))
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Option(current).foreach(s => runSpan.put(e.runId.toString, s))

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val span = runSpan.get(p.runId.toString)
      if (span == null) return
      val c = acc(span)
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val state = p.stateOperators.map(_.numRowsTotal).sum
      c.synchronized {
        c.batches += 1
        c.batchMs += ms("triggerExecution")
        c.commitMs += ms("walCommit") + ms("commitOffsets")
        val prev = Option(lastState.put(p.runId.toString, state)).map(_.longValue).getOrElse(0L)
        c.stateRows += state - prev
      }
    }

    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
