package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** STREAMING LM-fluency gating — the CCNet deployment composition: a
  * stream of (doc_id, text) candidate documents is scored per micro-batch
  * by [[TextAnalysis.lmFluencyFrom]] against a FROZEN
  * [[TextAnalysis.persistLmModel]]-ed reference model, and split at a
  * fluency threshold into `clean/` (kept) and `rejected/` (audit rows
  * with their scores) — both `epoch=<N>` parquet, effectively-once per
  * [[EpochService]].
  *
  * The model is deliberately NOT retrained per batch: scoring must be
  * commensurable across the stream's lifetime (the [[AnnStream]]
  * quantization-grid argument applied to LM counts — a per-batch MLE
  * would score each batch against a different distribution, and a
  * degenerate batch would score itself fluent). Documents with no
  * model-known transitions (pure OOV) score 0.0 and reject.
  *
  * Scale shape: per batch, model-side cost is two vocab-bounded count
  * scans and batch-side cost ∝ batch tokens; the model is read-only, no
  * state accumulates, so the stream scales by documents/second alone.
  */
object FluencyStream {

  /** Start the fluency-gating stream over `docs` (a streaming frame with
    * `doc_id`/`text`), scoring against the model at `modelDir`. Kept docs
    * land under `outDir/clean/epoch=<N>`, dropped ones with scores under
    * `outDir/rejected/epoch=<N>`.
    */
  def start(docs: DataFrame, modelDir: String, outDir: String,
            threshold: Double = 0.05,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val model = TextAnalysis.loadLmModel(docs.sparkSession, modelDir)
    EpochService.start(docs, outDir, checkpointDir)(
      runBatch(_, model, outDir, _, threshold))
  }

  /** One micro-batch (factored out so batch specs can drive it directly):
    * score, gate, write both sides under `epoch=<N>`. A document too
    * short to have bigrams has no score — it rejects (with null score),
    * matching the batch operator's drop-out semantics while keeping the
    * stream lossless: every input row lands in exactly one output.
    */
  def runBatch(batch: DataFrame, model: TextAnalysis.LmModel, outDir: String,
               epoch: Long, threshold: Double = 0.05): Unit =
    EpochService.barriers { keep =>
      // barrier: the batch feeds scoring AND the audit join, so a real
      // source (kafka) is not re-read per consumer
      val delta = keep(batch)
      val scored = keep(delta.join( // scoring runs once, not per output side
        TextAnalysis.lmFluencyFrom(model, delta).select("doc_id", "fluency"),
        Seq("doc_id"), "left"))
      EpochService.write(scored.filter(col("fluency") >= threshold),
        outDir, "clean", epoch)
      EpochService.write(
        scored.filter(col("fluency").isNull || col("fluency") < threshold),
        outDir, "rejected", epoch)
    }
}
