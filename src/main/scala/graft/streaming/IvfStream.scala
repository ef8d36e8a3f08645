package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** STREAMING IVF inverted-list growth — the last asymmetry of the
  * stream-grown index story (round-12 verdict next-round 2): a streamed
  * vector was already ADC-searchable through [[EncodeStream]]'s grown PQ
  * view and dedup-matchable through [[EmbedDedup]]'s grown signature
  * index, but IVF routing only saw it at the next snapshot rebuild. Each
  * micro-batch of (vec_id, embedding[, label]) rows is routed into the
  * EXISTING cell geometry ([[Similarity.ivfAssignDelta]] — frozen
  * centroids, the [[EncodeStream]] commensurability argument: cell ids
  * are only meaningful against one centroid generation, and queries
  * probe the same frozen geometry the stored lists were routed with),
  * and the depth-`probeDepth` assignment rows land in epoch-partitioned
  * overwrite parquet. The serving view is base lists ∪ epoch deltas,
  * merged on read — [[IndexStream]]'s discipline on the vector-index
  * side — so [[Similarity.ivfTopKServe]] finds a streamed vector the
  * epoch after it arrives.
  *
  * Effectively-once per [[EpochService]]. No strictly-earlier-epoch
  * read filter is needed here: unlike the dedup streams, a batch's
  * routing reads ONLY the frozen centroids — never the lists or its own
  * prior output — so a replay cannot self-match anything.
  *
  * Scale shape: per batch, work is the [[Similarity.ivfAssign]] corpus
  * pass at delta size — cprobe·√F scored centroids per row against the
  * packed broadcast, one id-merge aggregation — and the delta is written
  * partitioned by `cell_rank`, so the grown view keeps the base lists'
  * directory-level probe-depth pruning on BOTH union branches. No state
  * accumulates; the stream scales by vectors/second alone.
  */
object IvfStream {

  /** Start the list-growth stream over `vecs` (a streaming frame with
    * `vec_id`/`embedding`, optionally `label`), routing against the
    * [[Similarity.persistIndex]]-ed index at `indexDir` (captured ONCE —
    * the [[CrawlDedup]] restart contract: after a compaction or snapshot
    * rebuild, restart the stream against the new dir). Deltas land under
    * `outDir/lists_delta/epoch=<N>/cell_rank=<K>`.
    */
  def start(vecs: DataFrame, indexDir: String, outDir: String,
            probeDepth: Int = 4,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val (index, _) = Similarity.loadIndex(vecs.sparkSession, indexDir)
    EpochService.start(vecs, outDir, checkpointDir)(
      runBatch(_, index, outDir, _, probeDepth))
  }

  /** One micro-batch (factored out so batch specs can drive it directly):
    * route the delta through the frozen geometry, write its assignment
    * rows under `epoch=<N>`, partitioned by `cell_rank` like the base
    * lists so serving prunes to the probe depth it needs.
    */
  def runBatch(batch: DataFrame, index: Similarity.IvfIndex, outDir: String,
               epoch: Long, probeDepth: Int = 4): Unit =
    Similarity.ivfAssignDelta(batch, index, probeDepth = probeDepth)
      .write.mode("overwrite").partitionBy("cell_rank")
      .parquet(EpochService.epochDir(outDir, "lists_delta", epoch))

  /** The GROWN inverted lists: base ∪ epoch deltas (merge-on-read).
    * Assignment rows are self-contained under one frozen centroid
    * generation, so the union IS the grown index — feed it straight to
    * [[Similarity.ivfTopKServe]] / [[Similarity.ivfNearDupServe]].
    */
  def grownLists(spark: SparkSession, base: DataFrame,
                 outDir: String): DataFrame =
    EpochService.withDeltas(spark, base, s"$outDir/lists_delta")

  /** COMPACTION — fold the base index + epoch list deltas into a NEW
    * committed index dir: the frozen `coarse`/`fine` tables carry over
    * unchanged (growth never retrains), the lists fold to one
    * cell_rank-partitioned snapshot, and the deltas clear. The `pairs`
    * table is NOT regenerated here — the verified near-dup family is a
    * snapshot-rebuild artifact ([[Similarity.persistIndex]]);
    * [[Similarity.ivfNearDupServe]] over the grown lists is the
    * any-time path. Guard, commit and delete are
    * [[EpochService.compact]]'s; stop the stream first and restart it
    * against `newBaseDir` ([[CrawlDedup.compact]]'s stale-base argument).
    */
  def compact(spark: SparkSession, baseIndexDir: String, outDir: String,
              newBaseDir: String, stamp: String = "compact",
              checkpointDir: Option[String] = None): Unit =
    EpochService.compact(spark, "IvfStream.compact", outDir, checkpointDir,
        Seq("lists_delta"), newBaseDir, stamp) { epochs =>
      Seq("coarse", "fine").foreach(t => spark.read.parquet(s"$baseIndexDir/$t")
        .write.mode("overwrite").parquet(s"$newBaseDir/$t"))
      EpochService.withDeltas(spark, spark.read.parquet(s"$baseIndexDir/lists"),
          s"$outDir/lists_delta", epochs)
        .write.mode("overwrite").partitionBy("cell_rank")
        .parquet(s"$newBaseDir/lists")
    }
}
