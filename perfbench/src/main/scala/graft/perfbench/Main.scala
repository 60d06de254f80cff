package graft.perfbench

import java.nio.file.{Files, Paths}

/** Benchmark harness entry point, driven by perfbench/run.py:
  *
  *   --mode prepare  build the set-up state under --templates
  *   --mode run      run one --workload for --seconds with --seed and
  *                   --trace 0|1, writing the result JSON to --out
  *
  * Every workload calls the engine's public (or package-visible) entry
  * points only; spans are recorded here, around each call into a layer,
  * never inside the engine.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val s = Session.start(o.work)
    try o.mode match {
      case "prepare" => Prepare.run(s, o)
      case "run" =>
        Progress("session up")
        val tracer = new Tracer(s.sparkContext, o.trace)
        val outcome = o.workload match {
          case "ingest_cycle" => IngestCycle.run(s, o, tracer)
          case "corpus_batch" => CorpusBatch.run(s, o, tracer)
          case w => sys.error(s"unknown workload '$w'")
        }
        Files.writeString(Paths.get(o.out), render(o, outcome, tracer))
      case m => sys.error(s"unknown mode '$m'")
    } finally s.stop()
  }

  private def layerFields(rs: Seq[SpanRecord]): Seq[(String, Double)] = {
    def med(f: SpanRecord => Double) = Stats.median(rs.map(f))
    Seq(
      "wall_ms" -> med(_.wallMs),
      "self_ms" -> med(_.selfMs),
      "driver_gap_ms" -> med(_.driverGapMs),
      "jobs" -> med(_.jobs.toDouble),
      "tasks" -> med(_.tasks.toDouble),
      "task_cpu_ms" -> med(_.taskCpuMs),
      "input_records" -> med(_.inputRecords.toDouble),
      "shuffle_bytes" -> med(_.shuffleBytes.toDouble),
      "straggler" -> med(_.straggler),
      "gc_ms" -> med(_.span.gcMs.toDouble),
      "count" -> rs.size.toDouble,
      "self_ms_total" -> rs.map(_.selfMs).sum)
  }

  def render(o: Opts, out: Outcome, tracer: Tracer): String = {
    val l = out.ledger
    l.check("engine.cache_live_zero_after_every_op", l.maxCacheLive == 0,
      s"CacheRegistry.liveCount reached ${l.maxCacheLive}")
    val endToEnd = Seq(
      Metric("setup_s", l.setupS, "s"),
      Metric("op_p50_ms", out.opP50Ms, "ms"),
      Metric("pass_s", out.passS, "s"),
      Metric("retained_heap_mb", out.retainedHeapMb, "MB"))
    // per layer: own work per span name; per operation: the work of
    // each user-visible operation including every span under it
    val own = tracer.records(inclusive = false)
    val ops = tracer.records(inclusive = true).filter(r => out.opSpans(r.span.name))
    val layers = own.groupBy(_.span.name).toSeq.sortBy(_._1).map { case (name, rs) =>
      val ratio = out.spanRows.get(name).map(n =>
        "records_per_result" -> rs.map(_.inputRecords).sum.toDouble / math.max(1L, n))
      name -> Json.obj((layerFields(rs) ++ ratio).map { case (k, v) => k -> Json.num(v) })
    }
    val gcMs = out.detail.find(_.name == "jvm.gc_ms").map(_.value).getOrElse(0.0)
    val perLayer =
      if (!tracer.enabled) Nil
      else layerFields(ops).filterNot(f => Set("count", "self_ms_total", "self_ms", "gc_ms")(f._1))
        .map { case (k, v) => Metric(s"op.$k", v, unitOf(k)) } ++ Seq(
        Metric("op.records_per_result",
          ops.map(_.inputRecords).sum.toDouble / math.max(1L, out.resultRows), "ratio"),
        Metric("engine.cache_live", l.maxCacheLive, "count"),
        Metric("jvm.gc_ms", gcMs, "ms"),
        Metric("traced.op_p50_ms", out.opP50Ms, "ms"),
        Metric("traced.pass_s", out.passS, "s"))
    val opsJson = l.attempted.keys.toSeq.map { k =>
      k -> Json.obj(Seq("attempted" -> l.attempted(k).toString,
        "failed" -> l.failed.getOrElse(k, 0L).toString))
    }
    val provenance = Seq(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "seconds" -> Json.num(o.seconds),
      "trace" -> o.trace.toString,
      "nproc" -> Session.cpus.toString,
      "loop" -> Json.str("closed"),
      "clients" -> "1",
      "calibration_cpu_s" -> Json.num(graft.Bench.cpuProbe())) ++
      out.provenance.map { case (k, v) => k -> Json.str(v) }
    Json.obj(Seq(
      "correct" -> l.correct.toString,
      "attempted" -> l.totalAttempted.toString,
      "failed" -> l.totalFailed.toString,
      "end_to_end" -> Json.metrics(endToEnd),
      "per_layer" -> Json.metrics(perLayer),
      "detail" -> Json.metrics(out.detail),
      "layers" -> Json.obj(layers),
      "spans" -> Json.arr(own.map { r =>
        val sp = r.span
        Json.obj(Seq("id" -> sp.id.toString, "name" -> Json.str(sp.name),
          "parent" -> sp.parent.toString, "request" -> sp.request.toString,
          "start_ms" -> Json.num((sp.startNs - own.head.span.startNs) / 1e6),
          "wall_ms" -> Json.num(r.wallMs), "self_ms" -> Json.num(r.selfMs),
          "driver_gap_ms" -> Json.num(r.driverGapMs), "jobs" -> r.jobs.toString,
          "tasks" -> r.tasks.toString, "task_cpu_ms" -> Json.num(r.taskCpuMs),
          "input_records" -> r.inputRecords.toString, "shuffle_bytes" -> r.shuffleBytes.toString,
          "straggler" -> Json.num(r.straggler), "gc_ms" -> sp.gcMs.toString))
      }),
      "ops" -> Json.obj(opsJson),
      "checks" -> Json.arr(l.checks.toSeq.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d))) }),
      "provenance" -> Json.obj(provenance)))
  }

  private def unitOf(field: String): String = field match {
    case f if f.endsWith("_ms") => "ms"
    case "shuffle_bytes" => "B"
    case "straggler" => "ratio"
    case _ => "count"
  }
}
