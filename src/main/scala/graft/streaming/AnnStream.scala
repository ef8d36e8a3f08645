package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** STREAMING ANN query serving — the reference's serving-layer shape
  * (requests in, ranked answers out) applied to the similarity-search
  * family: a stream of (query_id, embedding) request vectors is answered
  * per micro-batch by [[Similarity.quantizedTopKForQueries]] against a
  * [[Similarity.persistAnnServe]]-ed corpus snapshot, and the ranked
  * results land in epoch-partitioned parquet.
  *
  * Scale shape: the corpus side of every batch is the persisted band
  * triples + int8 codes (parquet scans — never the float embeddings);
  * the only broadcast is the batch's queries × bands probe set; per-batch
  * cost is candidate-bounded exactly like the registry serve path. No
  * state accumulates across batches — the snapshot is read-only, so this
  * stream scales horizontally by queries/second alone.
  * Effectively-once per [[EpochService]].
  */
object AnnStream {

  /** Start the query-serving stream over `queries` (a streaming frame
    * with `query_id`/`embedding`), answering from the snapshot at
    * `snapshotDir`. Results land under `outDir/topk/epoch=<N>`.
    */
  def start(queries: DataFrame, snapshotDir: String, outDir: String,
            k: Int = 10,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val snap = Similarity.loadAnnServe(queries.sparkSession, snapshotDir)
    EpochService.start(queries, outDir, checkpointDir)(
      runBatch(_, snap, outDir, _, k))
  }

  /** One micro-batch (factored out so batch specs can drive it directly).
    * Request ids are an EXTERNAL namespace here, so the kernel's
    * in-corpus self-exclusion is off — a request whose id happens to
    * collide with a corpus vec_id must still receive that vector.
    */
  def runBatch(batch: DataFrame, snap: Similarity.AnnServeTables,
               outDir: String, epoch: Long, k: Int = 10): Unit =
    EpochService.write(
      Similarity.quantizedTopKForQueries(batch, snap, k, excludeSelf = false),
      outDir, "topk", epoch)
}
