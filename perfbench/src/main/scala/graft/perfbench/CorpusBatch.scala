package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.engine.CacheRegistry

/** `corpus_batch`: the LLM-curation and as-of query surface run as
  * batch jobs through the `noop` sink, one query at a time from one
  * caller (a closed loop). Before the clock starts, every query runs
  * once over the small check corpus, writing its answer for the DuckDB
  * oracle check (the oracles are quadratic; at full size they would not
  * finish within a run) — that pass is also the warm-up. The seed fixes
  * the query order of each pass. */
object CorpusBatch {
  val queries: Seq[String] = Seq(
    "q55_merge_scale", "q67_curation", "q102_semantic_dedup", "q114_sparse_topk",
    "q62_dedup_clusters", "q126_asof_join_native")

  def run(s: SparkSession, o: Opts, tracer: Tracer): Outcome = {
    val ledger = new Ledger
    val d = o.data
    val rng = new scala.util.Random(o.seed)
    val all = graft.SparkEntry.queries
    val answers = s"${o.work}/answers"
    new java.io.File(answers).mkdirs()

    // answers for the oracle check (run.py compares them with DuckDB)
    rng.shuffle(queries).foreach { q =>
      graft.Verify.runOne(s, o.checkData, answers, q, all(q))
      ledger.check(s"corpus_batch.$q.cache_released", CacheRegistry.liveCount == 0,
        s"${CacheRegistry.liveCount} retained frames after $q")
      s.catalog.clearCache()
    }
    Progress("check pass done")
    // rows returned, counted in traced runs only (records per result)
    val rows = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

    val gc0 = Jvm.gcMillis
    ledger.setupDone()
    tracer.clear()
    var passNo = 0L
    val passes = Loop.passes(o.seconds) {
      passNo += 1
      val p0 = System.nanoTime()
      rng.shuffle(queries).foreach { q =>
        ledger.time(q) {
          tracer.span(s"query.$q", passNo) {
            CacheRegistry.withRetained {
              val df = all(q)(s, d)
              if (!tracer.enabled) df.write.format("noop").mode("overwrite").save()
              else {
                val obs = org.apache.spark.sql.Observation()
                df.observe(obs, org.apache.spark.sql.functions.count(
                  org.apache.spark.sql.functions.lit(1)).as("n"))
                  .write.format("noop").mode("overwrite").save()
                rows(s"query.$q") += obs.get("n").asInstanceOf[Long]
              }
            }
          }
        }
        s.catalog.clearCache()
      }
      (System.nanoTime() - p0) / 1e9
    }
    val gcMs = Jvm.gcMillis - gc0
    Progress(s"${passes.size} timed pass(es) done")
    val heapMb = Jvm.retainedHeapMb(s)
    val perQuery = queries.map(q => Metric(s"query.$q.p50_ms", Stats.median(ledger.samples(q)), "ms"))
    val detail = Seq(
      Metric("corpus_wall_s", Stats.median(passes), "s"),
      Metric("passes", passes.size, "count"),
      Metric("jvm.gc_ms", gcMs, "ms")) ++ perQuery
    Outcome(ledger, Stats.median(ledger.samples(queries: _*)), Stats.median(passes),
      heapMb, detail, queries.map(q => s"query.$q").toSet,
      resultRows = rows.values.sum, spanRows = rows.toMap)
  }
}
