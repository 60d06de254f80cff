package graft.perfbench

import scala.collection.mutable

/** Attempted/failed counts and latencies per operation type, plus the
  * answer checks of one run. A failed operation's latency is +Infinity,
  * so it counts as exceeding every latency limit. */
final class Ledger {
  val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val attempted = mutable.LinkedHashMap.empty[String, Long]
  val failed = mutable.LinkedHashMap.empty[String, Long]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** engine.cache_live read after every operation */
  var maxCacheLive = 0
  private var setupDoneMs = -1L

  /** Mark the end of set-up: the first timed operation starts now. */
  def setupDone(): Unit = if (setupDoneMs < 0) setupDoneMs = System.currentTimeMillis()

  /** Process start (JVM start) to the first timed operation, seconds. */
  def setupS: Double = {
    val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (setupDoneMs - start) / 1000.0
  }

  /** Time one operation of type `kind`; its failure is recorded, not
    * thrown. Returns the result when it succeeded. */
  def time[A](kind: String)(body: => A): Option[A] = {
    setupDone()
    attempted(kind) = attempted.getOrElse(kind, 0L) + 1
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        failed(kind) = failed.getOrElse(kind, 0L) + 1
        None
    }
    val ms = if (r.isDefined) Jvm.millisSince(t0) else Double.PositiveInfinity
    latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    maxCacheLive = math.max(maxCacheLive, graft.engine.CacheRegistry.liveCount)
    r
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $d")
    checks += ((name, ok, d))
  }

  def samples(kinds: String*): Seq[Double] =
    kinds.flatMap(k => latMs.getOrElse(k, Nil))

  def totalAttempted: Long = attempted.values.sum
  def totalFailed: Long = failed.values.sum
  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)
}

/** What a workload hands back to [[Main]]: its ledger, the metrics
  * every workload reports, the workload's own figures, the span names
  * that count as one user-visible operation, how many rows those
  * operations returned, and the rows some layers produced — the bases
  * of the rows-examined-per-row ratios. */
final case class Outcome(ledger: Ledger, opP50Ms: Double, passS: Double,
    retainedHeapMb: Double, detail: Seq[Metric], opSpans: Set[String],
    resultRows: Long, spanRows: Map[String, Long] = Map.empty,
    provenance: Seq[(String, String)] = Nil)
