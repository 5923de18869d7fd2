package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

import scala.collection.mutable

/** The traced run's per-layer ledger, kept in the benchmark's own files.
  *
  * Spans: `layer(name) { call }` records (name, start, end, parent)
  * around a call into one public entry point of the program. Spans nest
  * (a layer called inside another becomes its child), so each span's
  * SELF time is its duration minus its children's; the self times of
  * every span under one root add up to that root's wall exactly.
  *
  * Task metrics: while a span is open, the thread-local Spark property
  * [[LayerKey]] names it, so every job that call launches carries the
  * name in its job properties (a local property, not the job group:
  * `TableIO.writeResumable` sets and clears its own job group, which
  * would erase ours). The listener charges each task to the layer whose
  * job first submitted the task's stage.
  */
final class Ledger extends SparkListener {
  import Ledger._

  private var sc: SparkContext = _

  private val stageLayer =
    new java.util.concurrent.ConcurrentHashMap[Integer, String]()
  private val acc = mutable.Map.empty[String, TaskTotals]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  /** Listen on `ctx`; stage ids restart with every SparkContext. */
  def attach(ctx: SparkContext): Unit = {
    sc = ctx
    stageLayer.clear()
    sc.addSparkListener(this)
  }

  def detach(): Unit = if (sc != null) {
    drain()
    sc.removeSparkListener(this)
    sc = null
  }

  private def totals(layer: String): TaskTotals =
    acc.getOrElseUpdate(layer, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey)))
      .foreach { l =>
        e.stageIds.foreach(s => stageLayer.putIfAbsent(s, l))
        acc.synchronized(totals(l).jobs += 1)
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageLayer.get(e.stageId)).foreach { l =>
      val m = e.taskMetrics
      if (m != null) acc.synchronized {
        val t = totals(l)
        t.taskNs += m.executorRunTime * 1000000L
        t.cpuNs += m.executorCpuTime
        t.gcNs += m.jvmGCTime * 1000000L
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Run `f` as span `name`, child of the innermost open span. */
  def layer[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val prevTag = sc.getLocalProperty(LayerKey)
    open = id :: open
    sc.setLocalProperty(LayerKey, name)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      spans += Span(id, name, parent, t0, t1)
      sc.setLocalProperty(LayerKey, prevTag)
      open = open.tail
    }
  }

  /** Wait until the listener has seen every event posted so far: task
    * ends reach listeners asynchronously, after the action returned.
    * `listenerBus` is Spark-internal but public in bytecode.
    */
  def drain(): Unit = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  def allSpans: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** Self seconds per span name, summed over every span of that name. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(_.durNs).sum).toMap
    spans.groupBy(_.name).view.mapValues(ss =>
      ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9).toMap
  }

  def wallSeconds(name: String): Double =
    spans.filter(_.name == name).map(_.durNs).sum / 1e9

  def task(layer: String): TaskTotals = {
    if (sc != null) drain()
    acc.synchronized(totals(layer).copy)
  }
}

object Ledger {
  val LayerKey = "perfbench.layer"

  final case class Span(id: Int, name: String, parent: Int,
                        startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  final class TaskTotals {
    var taskNs, cpuNs, gcNs, shuffleRead, shuffleWrite, spill, jobs = 0L
    def copy: TaskTotals = {
      val c = new TaskTotals
      c.taskNs = taskNs; c.cpuNs = cpuNs; c.gcNs = gcNs
      c.shuffleRead = shuffleRead; c.shuffleWrite = shuffleWrite
      c.spill = spill; c.jobs = jobs
      c
    }
  }
}
