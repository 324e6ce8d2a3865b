package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A recorded interval. `parent` is -1 for a root; `run` names the
  * closed-loop operation the span belongs to. */
final case class Span(id: Int, parent: Int, run: Int, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double])

/**
 * In-memory span recorder. With `enabled` false every call runs its body
 * and records nothing, so untimed and timed phases share one code path.
 * Spans opened on a thread nest under that thread's open span. A span
 * opened with `charge` also sets its name as the Spark local property
 * [[Tracer.SpanKey]], so the [[TaskAttribution]] listener can charge it
 * the jobs its body submits. Only leaf spans charge: local properties are
 * inherited by threads started inside the body (a streaming query's
 * thread), which must not inherit an enclosing span's name.
 */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0
  @volatile var run = 0

  def span[T](name: String, attrs: Map[String, Double] = Map.empty,
      charge: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.get.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      open.set(id :: open.get)
      if (charge) sc.setLocalProperty(Tracer.SpanKey, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        if (charge) sc.setLocalProperty(Tracer.SpanKey, prevProp)
        open.set(open.get.tail)
        synchronized { spans += Span(id, parent, run, name, t0, t1, attrs) }
      }
    }

  /** Record an interval measured elsewhere (e.g. a microbatch reported by
    * the streaming listener) under `parent`, by default the current
    * thread's open span. Returns the new span's id. */
  def record(name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Double] = Map.empty, parent: Option[Int] = None): Int =
    if (!enabled) -1
    else synchronized {
      nextId += 1
      spans += Span(nextId, parent.getOrElse(open.get.headOption.getOrElse(-1)),
        run, name, startNs, endNs, attrs)
      nextId
    }

  /** Move the root spans matching `pred` under `parent`. */
  def adopt(parent: Int, pred: Span => Boolean): Unit = synchronized {
    for (i <- spans.indices if spans(i).parent == -1 && pred(spans(i)))
      spans(i) = spans(i).copy(parent = parent)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def toJson(base: Long): String = all.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"run":${s.run},"name":"${s.name}",""" +
      s""""start_s":${Json.num((s.startNs - base) / 1e9)},""" +
      s""""end_s":${Json.num((s.endNs - base) / 1e9)},"attrs":{$attrs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Self time per span name, summed over its spans: a span's duration
    * minus its children's durations (children of one span run one after
    * another, so their durations do not overlap). */
  def selfTimes(ss: Seq[Span]): Map[String, Double] = {
    val childNs = ss.groupBy(_.parent).map { case (p, k) => p -> k.map(s => s.endNs - s.startNs).sum }
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  /** Spark sets this on the thread of every streaming query. */
  val QueryIdKey = "sql.streaming.queryId"
}

/** Spark counters of one attribution target (a span name). */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  var maxSkew = 0.0
}

/**
 * Charges every finished task to the span whose name the submitting thread
 * carried in [[Tracer.SpanKey]]. Jobs of a streaming query that run outside
 * any span are charged to `streaming.wrapper` (the foreachBatch body around
 * the sink call). Task skew per stage is max/median task run time.
 */
final class TaskAttribution extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageRuns = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  val bySpan = new ConcurrentHashMap[String, SparkCounters]()

  private def counters(n: String) = bySpan.computeIfAbsent(n, _ => new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val name = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .orElse(p.flatMap(x => Option(x.getProperty(Tracer.QueryIdKey)))
        .map(_ => "streaming.wrapper"))
      .getOrElse("other")
    e.stageIds.foreach(s => stageSpan.put(s, name))
    counters(name).synchronized { counters(name).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val name = Option(stageSpan.get(e.stageId)).getOrElse("other")
    val c = counters(name)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.tasksFailed += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
    if (m != null) {
      val runs = stageRuns.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      runs.synchronized { runs += m.executorRunTime }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val runs = Option(stageRuns.remove(id)).map(r => r.synchronized(r.sorted.toVector))
      .getOrElse(Vector.empty)
    if (runs.size >= 2) {
      val med = runs(runs.size / 2).toDouble
      val skew = if (med > 0) runs.last / med else 1.0
      val c = counters(Option(stageSpan.get(id)).getOrElse("other"))
      c.synchronized { c.maxSkew = math.max(c.maxSkew, skew) }
    }
  }

  def snapshot: Map[String, SparkCounters] = bySpan.asScala.toMap
}

/** Progress of each finished microbatch, kept per query id. The end-to-end
  * batch time is `triggerExecution`; the other phases feed the trace. */
final case class Batch(batchId: Long, startMs: Long, durations: Map[String, Long], rows: Long)

final class BatchListener extends StreamingQueryListener {
  import StreamingQueryListener._
  private val byQuery = new ConcurrentHashMap[String, mutable.ArrayBuffer[Batch]]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val b = Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows)
      val buf = byQuery.computeIfAbsent(p.runId.toString, _ => mutable.ArrayBuffer.empty[Batch])
      buf.synchronized { buf += b }
    }
  }

  def batches(runId: String): Seq[Batch] =
    Option(byQuery.remove(runId)).map(b => b.synchronized(b.toList)).getOrElse(Nil)
}

/**
 * The highest heap occupancy left after a garbage collection since the
 * watch was made: the peak of the data the program holds on the heap.
 * Unlike the heap's resident size, which the JVM's flags fix, it grows when
 * work moves into memory.
 */
final class HeapWatch extends NotificationListener {
  private val memory = ManagementFactory.getMemoryMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  @volatile private var peak = memory.getHeapMemoryUsage.getUsed
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def peakMb: Double = peak / 1048576.0
  def committedMb: Double = memory.getHeapMemoryUsage.getCommitted / 1048576.0
  def close(): Unit = emitters.foreach(e => scala.util.Try(e.removeNotificationListener(this)))
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
