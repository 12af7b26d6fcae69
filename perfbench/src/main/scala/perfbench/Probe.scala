package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The largest heap use left after any collection, summed over the heap
  * pools, from the JVM's GC notifications. */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max)
      ()
    }

  def reset(): Unit = peak.set(0L)
  def peakBytes: Long = peak.get
  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}

/** One interval of the trace: a layer name and epoch-millisecond bounds. */
final case class Span(layer: String, start: Double, end: Double)

/** Everything the traced run reads from Spark's listener interfaces:
  * cumulative executor task counters, the job and stage intervals, and the
  * Catalyst phase intervals of every query execution. Counters are read
  * as before/after deltas around an op; spans are taken and cleared at the
  * end of each op, after the listener bus is drained. */
final class Probe extends SparkListener with QueryExecutionListener {
  val taskMs, gcMs, nTasks, nJobs, shuffleWriteB, spillB, inputB = new AtomicLong
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]

  def counters: Array[Long] =
    Array(taskMs, gcMs, nTasks, nJobs, shuffleWriteB, spillB, inputB).map(_.get)

  def takeSpans(): Seq[Span] = {
    val b = Seq.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { b += s; s = spans.poll() }
    b.result()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      nTasks.incrementAndGet()
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillB.addAndGet(m.diskBytesSpilled)
      inputB.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    nJobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => spans.add(Span("job", s.toDouble, e.time.toDouble)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      spans.add(Span("stage", s.toDouble, c.toDouble))
  }

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (_, p) =>
      spans.add(Span("catalyst", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}
