package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `op` groups the spans of one operation;
  * `parent` is the enclosing span's id, or -1 for the operation itself.
  * Times are wall-clock milliseconds, the clock Spark stamps its
  * listener events with, so jobs can be placed inside spans. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, end: Long)

/** Task metrics summed per stage. */
final class StageAcc {
  var tasks = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRecords = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var spill = 0L
  /** A stage that feeds an exchange, as opposed to one that returns or
    * writes the result. */
  def isMap: Boolean = shuffleRecords > 0
}

final class JobRec(val id: Int, val start: Long, val stages: Seq[Int]) {
  var end: Long = -1L
}

/** Spans recorded by the benchmark around each call into graft, plus a
  * `SparkListener` and a `StreamingQueryListener` that record every
  * job, stage and micro-batch while tracing is on. Everything stays in
  * memory until the run ends. Only one client thread issues
  * operations, so a job belongs to the innermost span whose interval
  * holds its submission time. */
final class Tracer(spark: SparkSession) extends SparkListener {
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageAcc]()
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  private var nextId = 0
  private var parent = -1
  private var currentOp = -1

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val acc = stages.getOrElseUpdate(e.stageId, new StageAcc)
    acc.tasks += 1
    if (m != null) {
      acc.runMs += m.executorRunTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      acc.inputBytes += m.inputMetrics.bytesRead
      acc.inputRecords += m.inputMetrics.recordsRead
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Time `body` as a span. With no enclosing span it opens a new
    * operation. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val savedParent = parent
    if (savedParent < 0) currentOp = id
    val op = currentOp
    parent = id
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      parent = savedParent
      synchronized { spans += Span(id, name, savedParent, op, t0, t1) }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streamListener)
  }

  /** Stop recording once every event already posted has been seen. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }
}
