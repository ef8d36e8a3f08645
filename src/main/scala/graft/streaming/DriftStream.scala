package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Corpus

/** STREAMING distribution-drift monitor — [[graft.operators.Corpus
  * .driftCard]] turned into a data-quality GATE on the live crawl: a
  * release-time drift card catches a composition shift only after a whole
  * snapshot inherited it; the production failure mode (a source going
  * dark, a crawler bug flooding one language, a length-profile collapse
  * after an extractor change) is visible per MICRO-BATCH, and catching it
  * there is the difference between quarantining an hour of crawl and
  * re-auditing a release.
  *
  * Shape: the REFERENCE share card ([[Corpus.shareCard]] — dimension-sized
  * (dim, k, p) rows over language/source/length-bucket shares) is built
  * once from the frozen reference corpus and persisted; [[start]] captures
  * it ONCE (the [[CrawlDedup]] frozen-artifact contract — after a
  * reference refresh, restart the stream). Each micro-batch pays its own
  * three map-side-combined share aggregations plus one dimension-sized
  * join — per-batch cost ∝ batch rows, reference cost zero. Epoch rows
  * (dim, total_variation, n_keys, drifted) land under
  * `outDir/drift/epoch=N`, effectively-once per [[EpochService]].
  *
  * The TV-vs-threshold flag is per DIMENSION: a batch can be
  * language-stable yet source-drifted, and the consumer (an alerting
  * topology member, a quarantine gate) reads exactly which axis moved.
  * Micro-batches are small relative to a reference CORPUS, so per-batch TV
  * runs structurally higher than release-to-release TV — `threshold` is
  * a batch-scale knob (default 0.5: "most of this batch's mass sits where
  * the reference has little"), not the release-gate value.
  *
  * Empty micro-batches write no row: an empty batch has no distribution,
  * and the TV against it would read 1.0·0.5 per dimension — an alert
  * about nothing.
  */
object DriftStream {

  /** Start the drift monitor over `docs` (a streaming frame with
    * `doc_id`/`text`/`lang`/`source`), gating against the persisted
    * reference share card at `refSharesDir`.
    */
  def start(docs: DataFrame, refSharesDir: String, outDir: String,
            threshold: Double = 0.5, lenBucketChars: Int = 100,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val ref = docs.sparkSession.read.parquet(refSharesDir)
    EpochService.start(docs, outDir, checkpointDir)(
      runBatch(_, ref, outDir, _, threshold, lenBucketChars))
  }

  /** One micro-batch (factored out so batch specs can drive it
    * directly): the batch's share card diffs against the frozen
    * reference and the per-dimension TV rows land as the epoch's output.
    */
  def runBatch(batch: DataFrame, refShares: DataFrame, outDir: String,
               epoch: Long, threshold: Double = 0.5,
               lenBucketChars: Int = 100): Unit = {
    if (!batch.isEmpty)
      EpochService.write(
        Corpus.driftBetween(refShares, Corpus.shareCard(batch, lenBucketChars))
          .withColumn("drifted", col("total_variation") > lit(threshold)),
        outDir, "drift", epoch)
  }

  /** The accumulated drift log (all epochs) — what a dashboard or an
    * alert consumer scans. Empty frame when no epoch has fired.
    */
  def driftLog(spark: SparkSession, outDir: String): DataFrame =
    EpochService.read(spark, s"$outDir/drift").getOrElse(
      spark.range(0).select(lit("").as("dim"),
        lit(0.0).as("total_variation"), lit(0L).as("n_keys"),
        lit(false).as("drifted"), lit(0L).as("epoch")))
}
