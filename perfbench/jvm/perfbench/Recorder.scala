package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.storage.{BasicStorage, StorageOutputObserver}

/** Span and counter recorder for the traced run.
  *
  * A span is one call into a library layer, named `<layer>.<what>`. It
  * records its parent (the innermost open span of the same thread), its
  * wall-clock interval, and the local file-system bytes its own thread
  * wrote while it was open. The span id rides on the calling thread's Spark local
  * properties, so [[JobListener]] can charge every job to the innermost
  * span that submitted it. Spans stay in memory until the run writes its
  * record; self time and job-free time are computed from the intervals
  * afterwards (see `stats.py`).
  *
  * Disabled, [[span]] is a plain call: the untraced run pays one volatile
  * read per call and records nothing. */
object Recorder {
  final case class Span(id: Long, parent: Long, name: String,
                        startUs: Long, endUs: Long, fsBytes: Long)

  val SpanKey = "perfbench.span"

  @volatile private var sc: SparkContext = _
  @volatile var enabled = false
  private val nextId = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  // epoch anchor, so span times compare with the listener's job times
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L

  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  def start(context: SparkContext): Unit = {
    sc = context
    spans.synchronized(spans.clear())
    enabled = true
  }

  def stop(): Seq[Span] = {
    enabled = false
    spans.synchronized(spans.toList)
  }

  private def fileStats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file")

  /** Bytes written through Hadoop's local file system by every thread of
    * this JVM: driver-side log and sidecar writes and executor task
    * output alike (local mode runs both in one process). */
  def fsBytesWritten(): Long = fileStats.map(_.getBytesWritten).sum

  /** The same, by the calling thread only. A span charges the driver
    * thread's own writes this way and executor writes through its jobs'
    * task metrics, so a stream thread writing concurrently is not
    * charged to the main thread's span. */
  def threadBytesWritten(): Long =
    fileStats.map(_.getThreadStatistics.getBytesWritten).sum

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(SpanKey)
      stack.set(id :: outer)
      sc.setLocalProperty(SpanKey, id.toString)
      val fs0 = threadBytesWritten()
      val t0 = nowUs()
      try body
      finally {
        val t1 = nowUs()
        val fs1 = threadBytesWritten()
        sc.setLocalProperty(SpanKey, prevProp)
        stack.set(outer)
        spans.synchronized(spans += Span(id, parent, name, t0, t1, fs1 - fs0))
      }
    }
}

/** Per-job totals, charged to the span id the job was submitted under
  * (0 = outside every span). */
final case class JobRec(jobId: Int, span: Long, startMs: Long, var endMs: Long,
                        var execMs: Long = 0L, var outBytes: Long = 0L,
                        var shuffleBytes: Long = 0L, var spillBytes: Long = 0L)

class JobListener extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      .flatMap(_.toLongOption).getOrElse(0L)
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.execMs += m.executorRunTime
      j.outBytes += m.outputMetrics.bytesWritten
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.map(_.copy()).toList)
}

/** Timing decorator of the storage façade. `MatView`, `Delete` and
  * `Optimize` take the concrete [[BasicStorage]], so the decorator is a
  * subclass that wraps each inherited call; the calls the library makes
  * back into its storage (a merge's read of its own target, a refresh's
  * state write) nest as child spans. */
class TimedStorage(spark: SparkSession) extends BasicStorage(spark) {
  override def read(path: String, format: String,
                    options: Map[String, String]): DataFrame =
    Recorder.span("storage.read")(super.read(path, format, options))

  override def write(df: DataFrame, path: String, format: String,
                     mode: String, partitionFields: Seq[String],
                     options: Map[String, String]): Unit =
    Recorder.span("storage.write")(
      super.write(df, path, format, mode, partitionFields, options))

  override def merge(df: DataFrame, path: String, mergeCondition: String,
                     partitionFields: Seq[String], mergeSchemas: Boolean,
                     updateCondition: Option[String],
                     insertCondition: Option[String],
                     errorOnMultiMatch: Boolean,
                     deleteCondition: Option[String],
                     captureChanges: Boolean): Unit =
    Recorder.span("storage.merge")(
      super.merge(df, path, mergeCondition, partitionFields, mergeSchemas,
        updateCondition, insertCondition, errorOnMultiMatch,
        deleteCondition, captureChanges))
}

/** Timing decorator of an output observer (the lineage logger). */
class TimedObserver(inner: StorageOutputObserver, name: String)
    extends StorageOutputObserver {
  override def update(df: DataFrame, outputPath: String): Unit =
    Recorder.span(name)(inner.update(df, outputPath))
}
