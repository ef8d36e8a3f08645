package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Corpus

/** STREAMING DSIR selection — the data-selection deployment composition:
  * a stream of (doc_id, text) candidate documents is scored per
  * micro-batch by [[Corpus.dsirWeightsFrom]] against a FROZEN
  * [[Corpus.persistDsirModel]]-ed importance model and split at a weight
  * threshold into `selected/` (target-like, kept for the training mix)
  * and `rejected/` (audit rows with their weights) — both `epoch=<N>`
  * parquet, effectively-once per [[EpochService]].
  *
  * The importance model is deliberately NOT re-estimated per batch:
  * weights must be commensurable across the stream's lifetime (the
  * [[FluencyStream]] frozen-model argument — a per-batch raw
  * distribution would score each batch against a different denominator,
  * and a batch of junk would normalize itself plausible). This mirrors
  * the published method, which fits the importance estimator once and
  * then scores the full pool. Documents whose buckets the model never
  * saw score the Laplace floor; threshold 1.0 means "more likely under
  * the target distribution than the raw one".
  *
  * THE GATE MUST SIT ABOVE THE MODEL'S OOV FLOOR: a fully-OOV document
  * scores exactly [[Corpus.dsirOovFloor]] = (T_r+B)/(T_t+B) per
  * occurrence, which EXCEEDS 1.0 whenever the raw pool outweighs the
  * target (the typical deployment) — a naive 1.0 gate would route junk
  * in an unseen vocabulary to `selected/`. The default threshold is
  * therefore DERIVED from the loaded model (`nextUp(floor)`: the
  * tightest gate that still rejects every fully-OOV document); callers
  * passing an explicit threshold own the floor check.
  *
  * Scale shape: per batch, model-side cost is two ≤buckets-row count
  * scans (broadcast) and batch-side cost ∝ batch tokens; the model is
  * read-only, no state accumulates, so the stream scales by
  * documents/second alone.
  */
object DsirStream {

  /** Start the selection stream over `docs` (a streaming frame with
    * `doc_id`/`text`), scoring against the model at `modelDir`. Kept
    * docs land under `outDir/selected/epoch=<N>`, dropped ones with
    * weights under `outDir/rejected/epoch=<N>`.
    *
    * `threshold = Double.NaN` (the default) derives the gate from the
    * model: `nextUp(dsirOovFloor)` — see the class doc's OOV-floor
    * contract. An explicit finite threshold is used verbatim.
    */
  def start(docs: DataFrame, modelDir: String, outDir: String,
            threshold: Double = Double.NaN,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val model = Corpus.loadDsirModel(docs.sparkSession, modelDir)
    val gate =
      if (threshold.isNaN) math.nextUp(Corpus.dsirOovFloor(model))
      else threshold
    EpochService.start(docs, outDir, checkpointDir)(
      runBatch(_, model, outDir, _, gate))
  }

  /** One micro-batch (factored out so batch specs can drive it directly):
    * score, gate, write both sides under `epoch=<N>`. A document too
    * short to have bigrams has no weight — it rejects (with null weight),
    * matching the batch operator's drop-out semantics while keeping the
    * stream lossless: every input row lands in exactly one output.
    *
    * The default threshold is the SAME model-derived
    * `nextUp(dsirOovFloor)` gate [[start]] uses — a fixed 1.0 default
    * here would hand direct batch callers exactly the below-the-OOV-floor
    * junk-to-selected failure the class doc warns about whenever the raw
    * pool outweighs the target. Explicit finite thresholds are used
    * verbatim (callers own the floor check).
    */
  def runBatch(batch: DataFrame, model: Corpus.DsirModel, outDir: String,
               epoch: Long, threshold: Double = Double.NaN): Unit = {
    val gate =
      if (threshold.isNaN) math.nextUp(Corpus.dsirOovFloor(model))
      else threshold
    EpochService.barriers { keep =>
      // barrier: the batch feeds scoring AND the audit join, so a real
      // source (kafka) is not re-read per consumer
      val delta = keep(batch)
      val scored = keep(delta.join( // scoring runs once, not per output side
        Corpus.dsirWeightsFrom(model, delta).select("doc_id", "dsir_weight"),
        Seq("doc_id"), "left"))
      EpochService.write(scored.filter(col("dsir_weight") >= gate),
        outDir, "selected", epoch)
      EpochService.write(
        scored.filter(col("dsir_weight").isNull || col("dsir_weight") < gate),
        outDir, "rejected", epoch)
    }
  }
}
