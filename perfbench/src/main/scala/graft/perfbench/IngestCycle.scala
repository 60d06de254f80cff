package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Api
import graft.engine.{CacheRegistry, Merge}
import graft.queries.MergeScaleQ
import graft.storage.{DurableStores, Storage}

/** `ingest_cycle`: the archive's write path with its reads. Each pass
  * starts from its own copy of the set-up state (the archive up to the
  * merge cutoff plus the merge family's durable stores) and feeds the
  * post-cutoff snapshots back in seeded batches near the reference's
  * 1,000-snapshot flush size. Per batch: one `Api.ingestSubmissions`, one
  * `MergeScaleQ.acceptMergeBatch` under a fresh monotone batch id and
  * one `effectiveMerged` probe of the touched entities (together: the
  * batch latency), then read-after-write lookups — `Api.submissionJsonOr404`
  * of a touched entity and `Api.hashSearch` of a hash the batch wrote.
  * Each pass also looks up one absent entity (the 404 path). The pass
  * ends with `Storage.compact` on the four snapshot tables and
  * `compactMergeStore` (the fold). One caller, closed loop. The seed
  * fixes the batch partitioning, the entities and hashes read back and
  * the absent key. */
object IngestCycle {
  /** The reference's flush size (ingestion_job.py:42). */
  private val flushSize = 1000

  /** Seeded split of `n` rows into batches near the flush size: the
    * batch count is fixed by `n`, the cut points move with the seed. */
  def partition(n: Int, flush: Int, rng: scala.util.Random): Seq[Range] = {
    val k = math.max(1, math.round(n.toDouble / flush).toInt)
    val cuts = (1 until k).map { i =>
      val jitter = ((rng.nextDouble() - 0.5) * 0.3 * n / k).toInt
      math.min(n - 1, math.max(1, i * n / k + jitter))
    }.distinct.sorted
    (0 +: cuts).zip(cuts :+ n).map { case (a, b) => a until b }
  }

  private final case class Pass(wallS: Double, foldS: Double, bytesPerSnapshot: Double,
      files: Seq[Int])

  // absent children arrive as null arrays (a snapshot with no lineitem)
  private def children(r: Row, field: String): Seq[Row] =
    Option(r.getSeq[Row](r.fieldIndex(field))).getOrElse(Nil)

  private def hashesOf(rs: Seq[Row]): Seq[Array[Byte]] =
    rs.flatMap(children(_, "files")).flatMap(children(_, "hashes"))
      .map(_.getAs[Array[Byte]]("hash_value"))

  /** The append counts `Api.ingestSubmissions` must acknowledge. */
  private def expectedAcks(rs: Seq[Row]): Map[String, Long] = {
    val files = rs.flatMap(children(_, "files"))
    Map(
      "submission_snapshots" -> rs.size.toLong,
      "submission_snapshot_keywords" -> rs.map(children(_, "keywords").size.toLong).sum,
      "submission_snapshot_files" -> files.size.toLong,
      "submission_snapshot_file_hashes" -> files.map(children(_, "hashes").size.toLong).sum)
  }

  private def snapshotCount(json: String): Option[Long] =
    "\"snapshot_count\":(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong)

  def run(s: SparkSession, o: Opts, tracer: Tracer): Outcome = {
    val ledger = new Ledger
    val d = o.data
    val batchInput = s.read.parquet(s"${o.templates}/ingest/batches")
    val schema = batchInput.schema
    val rng = new scala.util.Random(o.seed)
    val rows = rng.shuffle(batchInput.collect().toSeq.sortBy(_.getAs[Long]("submission_snapshot_id")))
    val batches = partition(rows.size, flushSize, rng).map(r => rows.slice(r.start, r.end))
    val templateCounts = s.read.parquet(s"${o.templates}/ingest-counts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val templateTotal = templateCounts.values.sum
    val absent = s"absent-${rng.nextInt(1000000)}"

    def frame(rs: Seq[Row]): DataFrame = s.createDataFrame(rs.asJava, schema)

    var passNo = 0
    var request = 0L
    var lastReads = Map.empty[String, String]

    /** One batch loop plus fold over a fresh copy of the set-up state
      * (a warm-up pass, untimed, skips the absent lookup and the fold). */
    def pass(input: Seq[Seq[Row]], timed: Boolean): Pass = {
      passNo += 1
      val dir = s"${o.work}/pass$passNo"
      Dirs.copy(s"${o.templates}/ingest", dir)
      s.conf.set("spark.graft.store.root", s"$dir/stores")
      val storage = new Storage(s, s"$dir/archive")
      val api = new Api(storage)
      // open the stores before the clock starts: a deployment has them open
      MergeScaleQ.effectiveMerged(s, d).limit(1).collect()
      if (passNo > 1) Dirs.delete(s"${o.work}/pass${passNo - 1}")
      // the caller scopes what the engine retains (CacheRegistry's contract)
      def op[A](kind: String)(body: => A): Option[A] =
        if (timed) ledger.time(kind)(CacheRegistry.withRetained(body))
        else Some(CacheRegistry.withRetained(body))

      val tag = s"ingest_cycle.pass$passNo"
      var committed = DurableStores.committedBatches(s, d, "merge_log")
      ledger.check(s"$tag.starts_clean", committed.isEmpty, s"store copy holds batches $committed")
      val counts = mutable.Map.empty[String, Long]
      def countOf(e: String) = counts.getOrElse(e, templateCounts.getOrElse(e, 0L))
      val ids = mutable.ArrayBuffer.empty[String]
      val files = mutable.ArrayBuffer.empty[Int]
      var checkNs = 0L
      def checking(body: => Unit): Unit = {
        val c0 = System.nanoTime()
        try body finally checkNs += System.nanoTime() - c0
      }
      val t0 = System.nanoTime()
      if (timed) {
        request += 1
        op("view_miss") {
          tracer.span("api.view", request)(Api.submissionJsonOr404(api, "w", absent))
        }.foreach(json => checking(ledger.check(s"$tag.miss_is_404",
          json == Api.errorEnvelope(404, s"Submission w/$absent not found"), json)))
      }
      input.zipWithIndex.foreach { case (rs, i) =>
        request += 1
        val id = f"b$i%04d"
        val touched = rs.map(_.getAs[String]("site_submission_id")).distinct
        val df = frame(rs)
        val done = op("batch") {
          tracer.span("ingest.batch", request) {
            val acks = tracer.span("api.ingest", request)(api.ingestSubmissions(df))
            tracer.span("store.accept", request)(MergeScaleQ.acceptMergeBatch(s, d, id, df))
            val probed = tracer.span("store.probe", request) {
              MergeScaleQ.effectiveMerged(s, d)
                .filter(col("site_submission_id").isin(touched: _*)).collect()
            }
            (acks, probed)
          }
        }
        checking {
          rs.foreach { r =>
            val e = r.getAs[String]("site_submission_id")
            counts(e) = countOf(e) + 1
          }
          done.foreach { case (acks, probed) =>
            ledger.check(s"$tag.$id.acks", acks == expectedAcks(rs),
              s"acks $acks, generated ${expectedAcks(rs)}")
            ledger.check(s"$tag.$id.probe_rows", probed.length == touched.size,
              s"probe returned ${probed.length} rows for ${touched.size} touched entities")
          }
          // the accept really wrote: one new commit marker per accept, so
          // a replay no-op can never be timed as an accept
          val now = DurableStores.committedBatches(s, d, "merge_log")
          ledger.check(s"$tag.$id.accept_committed", !committed(id) && now == committed + id,
            s"committed batches went from ${committed.toSeq.sorted} to ${now.toSeq.sorted}")
          committed = now
          ids += id
          files += Prepare.snapshotTables.map(t => Dirs.parquetFiles(storage.path(t))).sum
        }
        val entity = touched(rng.nextInt(touched.size))
        request += 1
        op("view") {
          tracer.span("api.view", request)(Api.submissionJsonOr404(api, "w", entity))
        }.foreach(json => checking {
          ledger.check(s"$tag.$id.read_after_write", snapshotCount(json).contains(countOf(entity)),
            s"view of $entity after $id: $json, want snapshot_count ${countOf(entity)}")
          if (i == input.size - 1) lastReads += entity -> json
        })
        val hashes = hashesOf(rs)
        if (hashes.nonEmpty) {
          val h = hashes(rng.nextInt(hashes.size))
          request += 1
          op("hash_search") {
            tracer.span("api.hash_search", request)(api.hashSearch(1L, h).collect().toSeq)
          }.foreach(found => checking(ledger.check(s"$tag.$id.hash_search",
            found.nonEmpty && found.forall(r => r.getAs[Array[Byte]]("hash_value").sameElements(h)),
            s"hash search returned ${found.size} rows, not all of the searched hash")))
        }
      }
      // the warm-up stops here: the fold reuses the merge the accepts ran
      if (!timed) return Pass(0, 0, 0, Nil)
      val f0 = System.nanoTime()
      request += 1
      op("fold") {
        tracer.span("storage.compact", request) {
          Prepare.snapshotTables.foreach(t => storage.compact(t))
        }
        tracer.span("store.fold", request)(MergeScaleQ.compactMergeStore(s, d))
      }
      val t1 = System.nanoTime()
      val folded = DurableStores.foldedBatches(s, d, "merge_log")
      ledger.check(s"$tag.fold_covers_accepts", ids.forall(folded.contains),
        s"folded ledger ${folded.toSeq.sorted} misses ${ids.filterNot(folded.contains)}")
      val held = storage.read("submission_snapshots").count()
      val want = templateTotal + input.map(_.size.toLong).sum
      ledger.check(s"$tag.archive_holds_all", held == want, s"archive holds $held snapshots, want $want")
      val bytes = Dirs.bytes(s"$dir/archive") + Dirs.bytes(s"$dir/stores")
      Pass((t1 - t0 - checkNs) / 1e9, (t1 - f0) / 1e9, bytes.toDouble / held, files.toSeq)
    }

    Progress("inputs ready")
    // warm-up on a throwaway copy: one small batch and its reads
    pass(Seq(rng.shuffle(rows).take(100)), timed = false)
    lastReads = Map.empty
    Progress("warm-up done")

    val gc0 = Jvm.gcMillis
    ledger.setupDone()
    tracer.clear()
    val passes = Loop.passes(o.seconds)(pass(batches, timed = true))
    val gcMs = Jvm.gcMillis - gc0
    Progress(s"${passes.size} timed pass(es) done")
    val heapMb = Jvm.retainedHeapMb(s)

    // answers of the final state, outside the timed region: the last
    // batch's read equals the full merge over the whole archive, and the
    // folded merged view equals a full merge over every snapshot (q55's
    // equivalence)
    val archive = new Storage(s, s"${o.work}/pass$passNo/archive")
    val nested = Merge.nestedSubmissionSnapshots(
      archive.read("submission_snapshots"), archive.read("submission_snapshot_keywords"),
      archive.read("submission_snapshot_files"), archive.read("submission_snapshot_file_hashes"),
      archive.read("archive_contributors"))
    val full = Api.submissionWebJson(Merge.mergeSubmissions(nested)
        .filter(col("site_submission_id").isin(lastReads.keys.toSeq: _*)))
      .select(get_json_object(col("web_json"), "$.site_submission_id"), col("web_json"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    ledger.check("ingest_cycle.reads_equal_full_merge",
      lastReads.nonEmpty && lastReads.forall { case (k, v) => full.get(k).contains(v) },
      s"read ${lastReads.take(1)} vs full merge ${full.take(1)}")
    // order-free multiset fingerprint: row count and the sum of row hashes
    def fingerprint(df: DataFrame) = df
      .select(xxhash64(to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*)))
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val effective = fingerprint(MergeScaleQ.effectiveMerged(s, d))
    val merged = fingerprint(Merge.mergeSubmissions(MergeScaleQ.bucketedNested(s, d)))
    ledger.check("ingest_cycle.folded_equals_full_merge", effective == merged,
      s"folded view (rows, hash sum) $effective, full merge $merged")

    Progress("answers checked")
    val batchLat = ledger.samples("batch")
    val snapshotsFed = passes.size * rows.size.toLong
    val detail = Seq(
      Metric("ingest_snapshots_per_s", snapshotsFed / passes.map(_.wallS).sum, "1/s"),
      Metric("batch_p50_s", Stats.median(batchLat) / 1000.0, "s"),
      Metric("read_after_write_p50_ms", Stats.median(ledger.samples("view")), "ms"),
      Metric("hash_search_p50_ms", Stats.median(ledger.samples("hash_search")), "ms"),
      Metric("view_miss_p50_ms", Stats.median(ledger.samples("view_miss")), "ms"),
      Metric("fold_s", Stats.median(passes.map(_.foldS)), "s"),
      Metric("bytes_per_snapshot", passes.last.bytesPerSnapshot, "B"),
      Metric("storage.files", Stats.median(passes.flatMap(_.files).map(_.toDouble)), "count"),
      Metric("batches_per_pass", batches.size, "count"),
      Metric("passes", passes.size, "count"),
      Metric("jvm.gc_ms", gcMs, "ms"))
    Outcome(ledger, Stats.median(batchLat), Stats.median(passes.map(_.wallS)), heapMb,
      detail, Set("ingest.batch"), resultRows = snapshotsFed,
      spanRows = Map("store.accept" -> snapshotsFed,
        "api.view" -> ledger.samples("view", "view_miss").size.toLong),
      provenance = Seq("post_cutoff_snapshots" -> rows.size.toString,
        "batch_sizes" -> batches.map(_.size).mkString("/")))
  }
}
