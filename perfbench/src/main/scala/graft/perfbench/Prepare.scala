package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.Api
import graft.queries.MergeScaleQ
import graft.storage.Storage

/** One-time state every run starts from, built once per checkout next
  * from the committed corpus (runs copy or read it, never change it):
  *
  *  - `ingest/archive`: the corpus up to the merge cutoff written
  *    through [[Api.ingestSubmissions]] — orders become submission
  *    snapshots (entity = customer), lineitems their keywords, files and
  *    hashes — then compacted, as a deployment would after a bulk load.
  *  - `ingest/stores`: the merge family's durable stores (bucketed
  *    nested history, pre-cutoff merged base, empty accept deltas).
  *  - `ingest/batches`: the post-cutoff nested snapshots, the input the
  *    ingest workload feeds back in batches.
  *  - `ingest-counts`: snapshots per entity in `ingest/archive`.
  *  - `oracle_sql.json`: the DuckDB oracles of the corpus queries.
  */
object Prepare {
  val snapshotTables = Seq("submission_snapshots", "submission_snapshot_keywords",
    "submission_snapshot_files", "submission_snapshot_file_hashes")

  def run(s: SparkSession, o: Opts): Unit = {
    val d = o.data
    val cutoff = lit(MergeScaleQ.incrementalCutoff).cast("timestamp")
    val nested = MergeScaleQ.nestedAtScale(s, d)
    val archive = new Storage(s, s"${o.templates}/ingest/archive")
    new Api(archive).ingestSubmissions(nested.filter(col("scan_datetime") <= cutoff))
    snapshotTables.foreach(t => archive.compact(t))
    archive.read("submission_snapshots").groupBy("site_submission_id").count()
      .write.parquet(s"${o.templates}/ingest-counts")
    nested.filter(col("scan_datetime") > cutoff)
      .write.parquet(s"${o.templates}/ingest/batches")
    s.conf.set("spark.graft.store.root", s"${o.templates}/ingest/stores")
    MergeScaleQ.mergedBaseStore(s, d, MergeScaleQ.incrementalCutoff)
    MergeScaleQ.mergeAcceptStore(s, d)
    // the corpus queries' DuckDB oracles, for the expected answers
    graft.Verify.writeOracleJson(o.templates, graft.SparkEntry.oracleSql.filter {
      case (k, _) => CorpusBatch.queries.contains(k) })
  }
}
