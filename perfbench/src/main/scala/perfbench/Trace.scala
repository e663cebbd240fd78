package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** One timed call into a layer of the program. `layer` groups spans for
  * the per-layer totals; `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    run: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the listener and the filesystem statistics saw while one span
  * was the innermost open span. */
final class Counters {
  var jobs, stages, tasks, singleTaskStages = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var recordsRead, bytesRead = 0L
  var fsReadOps, fsWriteOps, fsBytesWritten = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    singleTaskStages += o.singleTaskStages
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill
    recordsRead += o.recordsRead; bytesRead += o.bytesRead
    fsReadOps += o.fsReadOps; fsWriteOps += o.fsWriteOps
    fsBytesWritten += o.fsBytesWritten
  }
}

/** Sums stage task metrics per span. A job belongs to the span whose
  * job group was set on the driver thread when the job started; each
  * of its stages inherits that span. Jobs started outside any span
  * land on span 0. */
final class LayerListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  def counters(id: Int): Counters =
    bySpan.computeIfAbsent(id, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val id = group.filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.drop(Tracer.GroupPrefix.length).toInt).getOrElse(0)
    counters(id).jobs += 1
    e.stageIds.foreach(s => stageSpan.put(s, id))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val c = counters(stageSpan.getOrDefault(si.stageId, 0))
    c.stages += 1
    c.tasks += si.numTasks
    if (si.numTasks == 1) c.singleTaskStages += 1
    val m = si.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesRead += m.inputMetrics.bytesRead
    }
  }
}

/** Local filesystem operations and bytes written so far, over every
  * Hadoop filesystem instance in the JVM (driver and local-mode executor
  * threads): operation counts from [[CountingLocalFileSystem]], bytes
  * from Hadoop's `FileSystem` statistics. */
object FsStats {
  final case class Snap(readOps: Long, writeOps: Long, bytesWritten: Long)

  def snap(): Snap = {
    val written = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
      .flatMap(s => Option(s.getLong("bytesWritten")).map(_.longValue)).sum
    Snap(CountingLocalFileSystem.readOps.get, CountingLocalFileSystem.writeOps.get, written)
  }
}

object Tracer {
  val GroupPrefix = "perfbench:"
}

/** Records a span around each call the benchmark makes into a layer.
  * Off, `span` is just the call. On, it sets a job group naming the
  * span (so the listener can attribute jobs), diffs the filesystem
  * statistics, and keeps the span in memory until [[spans]] is read at
  * the end of the run. Driver-thread only. */
final class Tracer(sc: SparkContext, runId: String) {
  private var on = false
  private val done = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 1
  val listener = new LayerListener

  /** Turns tracing on or off between operations (never inside a span). */
  def enable(flag: Boolean): Unit = if (flag != on) {
    require(open.isEmpty, "tracing toggled inside a span")
    if (flag) sc.addSparkListener(listener)
    else { org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(listener) }
    on = flag
  }

  def span[A](name: String, layer: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setJobGroup(Tracer.GroupPrefix + id, name)
      val fs0 = FsStats.snap()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        val fs1 = FsStats.snap()
        val c = listener.counters(id)
        c.fsReadOps += fs1.readOps - fs0.readOps
        c.fsWriteOps += fs1.writeOps - fs0.writeOps
        c.fsBytesWritten += fs1.bytesWritten - fs0.bytesWritten
        open = open.tail
        done += Span(id, parent, name, layer, runId, t0, t1)
        open.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p, "")
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Closed spans, after the listener bus has caught up. */
  def spans: Seq[Span] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    done.toSeq
  }

  /** What was seen while span `id` was open, its children's share
    * included; span 0 holds jobs started outside any span. */
  def counters(id: Int): Counters = listener.counters(id)
}

/** Per-layer aggregation over a finished trace. */
final class TraceReport(spans: Seq[Span], tracer: Tracer) {
  private val childrenOf: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  /** Duration minus the time its direct children cover (children of a
    * span never overlap: the driver thread makes one call at a time). */
  def selfSeconds(s: Span): Double =
    s.seconds - childrenOf.getOrElse(s.id, Nil).map(_.seconds).sum

  def selfByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfSeconds).sum }

  /** Own counters of a span: its job metrics plus its filesystem diff
    * minus the filesystem diffs its children already hold. */
  def own(s: Span): Counters = {
    val c = new Counters
    c.add(tracer.counters(s.id))
    childrenOf.getOrElse(s.id, Nil).foreach { ch =>
      val k = tracer.counters(ch.id)
      c.fsReadOps -= k.fsReadOps; c.fsWriteOps -= k.fsWriteOps
      c.fsBytesWritten -= k.fsBytesWritten
    }
    c
  }

  def countersOf(pred: Span => Boolean): Counters = {
    val c = new Counters
    spans.filter(pred).foreach(s => c.add(own(s)))
    c
  }

  /** Counters of a span and everything beneath it. */
  def subtree(s: Span): Counters = {
    val c = own(s)
    childrenOf.getOrElse(s.id, Nil).foreach(ch => c.add(subtree(ch)))
    c
  }

  /** Everything the spans saw. Span 0 is left out: every traced call
    * runs inside a span, so it only holds stragglers — stages of earlier,
    * untraced work that complete while tracing is on. */
  def all: Counters = countersOf(_ => true)
}
