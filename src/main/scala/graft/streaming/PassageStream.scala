package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Passage

/** STREAMING passage-retrieval serving — the [[SearchStream]] shape on
  * the RAG side: a stream of (query_id, query_text) requests is answered
  * per micro-batch by [[Passage.passageTopKForQueries]] against a
  * [[Passage.persistPassage]]-ed corpus snapshot (tower-embed the request
  * as one chunk, probe the frozen band planes, diversity-capped top-k),
  * results landing in `epoch=<N>` parquet (effectively-once per
  * [[EpochService]]).
  *
  * Scale shape: per batch the broadcast is the batch's query vectors and
  * band probes; corpus-side work is one band-triple equi-join plus the
  * bounded candidate set's vector fetches — the index is read-only, no
  * state accumulates, so the stream scales by requests/second alone.
  * The snapshot is captured once at start (the single-maintainer
  * contract every serving stream shares): a rebuilt passage family is
  * picked up by restarting the stream against the new directory.
  */
object PassageStream {

  /** Start the passage-serving stream over `queries` (a streaming frame
    * with `query_id`/`query_text`), answering from the passage family at
    * `passageDir`. Results land under `outDir/passages/epoch=<N>`.
    */
  def start(queries: DataFrame, passageDir: String, outDir: String,
            k: Int = 10, maxPerDoc: Int = 2,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val t = Passage.loadPassage(queries.sparkSession, passageDir)
    EpochService.start(queries, outDir, checkpointDir)(
      runBatch(_, t, outDir, _, k, maxPerDoc))
  }

  /** One micro-batch (factored out so batch specs can drive it directly). */
  def runBatch(batch: DataFrame, t: Passage.PassageTables, outDir: String,
               epoch: Long, k: Int = 10, maxPerDoc: Int = 2): Unit =
    EpochService.write(
      Passage.passageTopKForQueries(t.vectors, t.bands, batch, k, maxPerDoc),
      outDir, "passages", epoch)
}
