package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** STREAMING keyword-search serving — the [[AnnStream]] shape on the
  * text-retrieval side: a stream of (query_id, terms) requests is
  * answered per micro-batch by [[TextAnalysis.keywordSearchForQueries]]
  * against a [[TextAnalysis.persistSearchIndex]]-ed corpus snapshot, and
  * the ranked results land in `epoch=<N>` parquet (effectively-once per
  * [[EpochService]]).
  *
  * Scale shape: per batch, the broadcast is the batch's exploded
  * (query_id, term) pairs; corpus-side work is one postings equi-join —
  * the index is read-only, no state accumulates, so the stream scales by
  * requests/second alone.
  */
object SearchStream {

  /** Start the search-serving stream over `queries` (a streaming frame
    * with `query_id`/`terms`), answering from the index at `indexDir`.
    * Results land under `outDir/hits/epoch=<N>`.
    */
  def start(queries: DataFrame, indexDir: String, outDir: String,
            k: Int = 10,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val index = TextAnalysis.loadSearchIndex(queries.sparkSession, indexDir)
    EpochService.start(queries, outDir, checkpointDir)(
      runBatch(_, index, outDir, _, k))
  }

  /** One micro-batch (factored out so batch specs can drive it directly). */
  def runBatch(batch: DataFrame, index: TextAnalysis.SearchIndex,
               outDir: String, epoch: Long, k: Int = 10): Unit =
    EpochService.write(TextAnalysis.keywordSearchForQueries(index, batch, k),
      outDir, "hits", epoch)
}
