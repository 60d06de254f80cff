package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a call from the benchmark into one engine layer.
  * Spans of one request (an api lookup, an ingest batch, a corpus
  * query) share `request`; `parent` is the enclosing span's id, -1 at
  * the top. */
final case class Span(id: Int, name: String, parent: Int, request: Long,
    startNs: Long, endNs: Long, gcMs: Long)

/** Spark work attributed to one span. */
final class SpanWork {
  var jobs = 0
  var tasks = 0
  var taskCpuNs = 0L
  var inputRecords = 0L
  var shuffleBytes = 0L
  /** (submission, completion) wall-clock millis of each finished stage. */
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** run time of every task of each stage, ms */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Attributes Spark jobs, stages and tasks to spans through the job
  * group each span sets on the calling thread (engine code that fans
  * out to worker threads copies the caller's group, so their jobs land
  * on the same span). */
final class SpanListener extends SparkListener {
  private val prefix = "perfbench-span-"
  private val stageSpan = mutable.Map.empty[Int, Int]
  val work = mutable.Map.empty[Int, SpanWork]
  @volatile var sentinelSeen = false

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith(prefix) => g.stripPrefix(prefix).toInt }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group == SpanListener.sentinel) sentinelSeen = true
    spanOf(e.properties).foreach { id =>
      work.getOrElseUpdate(id, new SpanWork).jobs += 1
      e.stageInfos.foreach(si => stageSpan.getOrElseUpdate(si.stageId, id))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (id <- stageSpan.get(si.stageId); s <- si.submissionTime; c <- si.completionTime)
      work.getOrElseUpdate(id, new SpanWork).stageIntervals += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = work.getOrElseUpdate(id, new SpanWork)
      w.tasks += 1
      w.taskCpuNs += m.executorCpuTime
      w.inputRecords += m.inputMetrics.recordsRead
      w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      w.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def spanGroup(id: Int): String = prefix + id
}

object SpanListener {
  val sentinel = "perfbench-sentinel"
}

/** Per-span numbers as reported: the eight fields of the layer record
  * plus self time. */
final case class SpanRecord(span: Span, wallMs: Double, selfMs: Double,
    driverGapMs: Double, jobs: Int, tasks: Int, taskCpuMs: Double,
    inputRecords: Long, shuffleBytes: Long, straggler: Double)

/** In-memory span recorder. Disabled, `span` is a plain call: no job
  * group, no listener, no bookkeeping. Single caller thread. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val listener = new SpanListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  if (enabled) sc.addSparkListener(listener)

  def span[A](name: String, request: Long)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(listener.spanGroup(id), name, interruptOnCancel = false)
      val gc0 = Jvm.gcMillis
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, request, t0, t1, Jvm.gcMillis - gc0)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(listener.spanGroup(p), "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Forget the spans recorded so far (the warm-up's). */
  def clear(): Unit = spans.clear()

  /** Wait until the listener bus has delivered every event of the
    * spans recorded so far: a sentinel job posted after them must be
    * seen first. */
  private def drain(): Unit = {
    listener.sentinelSeen = false
    sc.setJobGroup(SpanListener.sentinel, "drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!listener.sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
    // the sentinel's own task/stage events trail its job start
    Thread.sleep(200)
  }

  /** Union length of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Every span with its attributed Spark work. With `inclusive`, a
    * span's work includes that of every span nested under it. */
  def records(inclusive: Boolean): Seq[SpanRecord] = {
    if (!enabled) return Nil
    drain()
    // span clocks are nanoTime; stage clocks are wall millis — anchor
    // the conversion once
    val anchorNs = System.nanoTime()
    val anchorMs = System.currentTimeMillis()
    def toMs(ns: Long): Long = anchorMs - (anchorNs - ns) / 1000000L
    val children = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] =
      id +: children.getOrElse(id, Nil).toSeq.flatMap(c => subtree(c.id))
    listener.synchronized {
      spans.toSeq.map { sp =>
        val ws = (if (inclusive) subtree(sp.id) else Seq(sp.id))
          .flatMap(listener.work.get)
        val wallMs = (sp.endNs - sp.startNs) / 1e6
        val kids = children.getOrElse(sp.id, Nil).map(c => (c.startNs / 1000L, c.endNs / 1000L))
        val selfMs = wallMs - covered(kids.toSeq, sp.startNs / 1000L, sp.endNs / 1000L) / 1e3
        val stageMs = covered(ws.flatMap(_.stageIntervals), toMs(sp.startNs), toMs(sp.endNs))
        val longest = ws.flatMap(_.stageTaskMs.toSeq).sortBy { case (_, ts) => -ts.sum }.headOption
        val straggler = longest.map { case (_, ts) =>
          val med = Stats.median(ts.map(_.toDouble).toSeq)
          if (med <= 0) 1.0 else ts.max / med
        }.getOrElse(1.0)
        SpanRecord(sp, wallMs, selfMs, math.max(0.0, wallMs - stageMs), ws.map(_.jobs).sum,
          ws.map(_.tasks).sum, ws.map(_.taskCpuNs).sum / 1e6, ws.map(_.inputRecords).sum,
          ws.map(_.shuffleBytes).sum, straggler)
      }
    }
  }
}
