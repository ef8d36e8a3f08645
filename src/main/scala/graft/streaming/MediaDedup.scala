package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Multimodal

/** STREAMING media-ingest dedup — the [[CrawlDedup]] discipline on the
  * image side: a stream of (media_id, kind, payload) rows is perceptually
  * hashed per micro-batch ([[graft.operators.Multimodal.mediaPhash]], the
  * codegen'd fixed-grid dHash), matched against the corpus HASH table
  * ([[graft.operators.Multimodal.phashDedupDelta]] — never against
  * payloads), and split into `clean/` (novel media) and `pairs/`
  * (near-dup audit rows); clean rows' OWN hashes are appended to the
  * index so later batches dedup against earlier ones. Effectively-once
  * per [[EpochService]], with the strictly-earlier-epoch index filter
  * that keeps a replayed batch from matching itself.
  *
  * Scale shape: per batch, corpus-side cost ∝ index HASH rows (one long
  * per media — 4 orders of magnitude narrower than payloads) and
  * delta-side cost ∝ batch payload bytes (one codegen'd hashing pass);
  * nothing accumulates driver state. This is what makes image dedup at
  * ingest tractable: the corpus is touched only through its fingerprints.
  */
object MediaDedup {

  /** Start the media-dedup stream over `media` (a streaming frame with
    * `media_id`/`kind`/`payload`), deduping against the
    * [[Multimodal.persistMediaPhash]]-style hash table at `basePhashDir`.
    * Outputs under `outDir`: `clean/`, `pairs/`, `index_delta/`.
    */
  def start(media: DataFrame, basePhashDir: String, outDir: String,
            maxHamming: Int = 5,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val base = media.sparkSession.read.parquet(basePhashDir)
    EpochService.start(media, outDir, checkpointDir)(
      runBatch(_, base, outDir, _, maxHamming))
  }

  /** One micro-batch (factored out so batch specs can drive it directly). */
  def runBatch(batch: DataFrame, basePhash: DataFrame, outDir: String,
               epoch: Long, maxHamming: Int = 5): Unit =
    EpochService.barriers { keep =>
      val spark = batch.sparkSession
      val grown = EpochService.withDeltas(spark,
        basePhash.select("media_id", "phash"), s"$outDir/index_delta", _ < epoch)
      // barrier: the batch feeds hashing AND the anti-join — materialize once
      val delta = keep(batch)
      val deltaPh = keep(Multimodal.mediaPhash(delta))
      val pairs = keep(Multimodal.phashDedupDelta(grown, deltaPh, maxHamming))
      EpochService.write(pairs, outDir, "pairs", epoch)
      val dupIds = pairs.select(col("delta_id").as("media_id")).distinct()
      val clean = EpochService.write(
        delta.join(dupIds, Seq("media_id"), "left_anti"), outDir, "clean", epoch)
      // surviving media enter the corpus BY FINGERPRINT: hash rows from the
      // READ-BACK clean table (staging discipline), payloads never stored
      EpochService.write(
        Multimodal.mediaPhash(spark.read.parquet(clean)).select("media_id", "phash"),
        outDir, "index_delta", epoch)
    }
}
