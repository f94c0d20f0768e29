package graft.bench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative Spark task/job counters. Registered in every run (the adds
  * are a few atomics per task); only traced runs drain the listener bus
  * between spans, which is what attributes counts to a span exactly. */
final class Counters extends SparkListener {
  private val c = mutable.LinkedHashMap(Seq(
    "jobs", "stages", "tasks", "task_ms", "task_cpu_ns", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "input_rows", "job_busy_ns")
    .map(_ -> new AtomicLong): _*)
  private var active = 0
  private var busySince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("jobs").incrementAndGet()
    if (active == 0) busySince = System.nanoTime()
    active += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) c("job_busy_ns").addAndGet(System.nanoTime() - busySince)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_ms").addAndGet(m.executorRunTime)
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").addAndGet(
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      c("input_rows").addAndGet(m.inputMetrics.recordsRead)
    }
  }
  def snapshot: Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap
}

/** Per-trigger streaming counts from StreamingQueryListener progress events. */
final class StreamCounters extends StreamingQueryListener {
  val batches = new AtomicLong
  val planMs = new AtomicLong
  val stateRows = mutable.Map.empty[java.util.UUID, (Long, Long)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.incrementAndGet()
    planMs.addAndGet(Option(p.durationMs.get("queryPlanning")).fold(0L)(_.longValue))
    val ops = p.stateOperators
    stateRows.synchronized {
      stateRows(p.id) = (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    }
  }
  /** (state rows, state bytes) summed over the latest progress of each query. */
  def state: (Long, Long) = stateRows.synchronized {
    (stateRows.values.map(_._1).sum, stateRows.values.map(_._2).sum)
  }
  def reset(): Unit = stateRows.synchronized(stateRows.clear())
}

object Jvm {
  def compileMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakHeapAfterGc = new AtomicLong

  /** Track the heap left in use after every collection from now on. */
  def watchHeap(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          peakHeapAfterGc.accumulateAndGet(used, math.max)
        }
      }, null, null)
    case _ => ()
  }

  /** The program's peak memory in bytes: the most heap any collection
    * left in use (live data, plus old garbage not yet collected) and the
    * peak of every non-heap pool (metaspace, compiled code). Unlike the
    * resident set it does not grow with the heap the JVM reserves. */
  def peakMemBytes: Long = peakHeapAfterGc.get + ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum

  /** Peak resident set (VmHWM) of this JVM in kB. */
  def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}

final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
    counts: Map[String, Long])

/** Spans and per-layer sums for one pass. In an untraced run `span` only
  * runs its body; in a traced run it drains the listener bus at both ends
  * and records (name, start, end, parent id, counter deltas). Spans and
  * the per-pass layer maps are written once, at the end of the run. */
final class Tracer(spark: () => SparkSession) {
  /** Whether spans are being recorded (traced passes of a traced run). */
  var on = false

  val counters = new Counters
  val streams = new StreamCounters
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0
  /** Layer metrics of the pass in progress. */
  val layer: mutable.Map[String, Double] = mutable.LinkedHashMap.empty.withDefaultValue(0.0)

  /** Register the listeners with a (new) session. */
  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(counters)
    s.streams.addListener(streams)
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark().sparkContext)

  private def now: Double = (System.nanoTime() - t0) / 1e9

  /** Run `f` as span `name`; in a traced run add its wall time to layer
    * metric `<name>_s` and its job count to `<name>_jobs`. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      drain()
      val before = counters.snapshot
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val start = now
      try f
      finally {
        val end = now
        stack = stack.tail
        drain()
        val after = counters.snapshot
        val delta = after.map { case (k, v) => k -> (v - before(k)) }.filter(_._2 != 0)
        spans += Span(id, parent, name, start, end, delta)
        layer(name + "_s") += end - start
        layer(name + "_jobs") += delta.getOrElse("jobs", 0L).toDouble
      }
    }

  def add(metric: String, v: Double): Unit = if (on) layer(metric) += v

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start" -> s.start,
    "end" -> s.end, "counts" -> s.counts))
}
