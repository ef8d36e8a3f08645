package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** STREAMING tokenizer serving — the frozen-artifact deployment shape of
  * the tokenizer chain (the [[FluencyStream]] argument applied to
  * encoding): a stream of (doc_id, text) documents is segmented per
  * micro-batch by [[TextAnalysis.unigramEncode]] against a FROZEN pruned
  * vocabulary (the persisted `unigram_vocab` artifact the registry
  * trains once per corpus snapshot), and the per-occurrence encodings
  * land in `epoch=<N>` parquet (effectively-once per [[EpochService]]).
  *
  * The vocabulary is deliberately NOT retrained per batch: encodings
  * must be commensurable across the stream's lifetime — a per-batch
  * vocabulary would tokenize the same word differently from epoch to
  * epoch, and every downstream consumer (packing, budget mixing, model
  * input) depends on a stable piece inventory. Unseen words — and
  * characters outside the vocabulary — encode via the greedy fold's
  * character fallback, so the stream never drops a row.
  *
  * Scale shape: per batch, the kept pieces are a 1-row array broadcast,
  * the greedy fold runs once per word TYPE in the batch, and occurrences
  * join the type-level encoding back — batch-side cost ∝ batch tokens,
  * the artifact is read-only, no state accumulates, so the stream scales
  * by documents/second alone.
  */
object TokenizeStream {

  /** Start the tokenizer stream over `docs` (a streaming frame with
    * `doc_id`/`text`), encoding against the pruned vocabulary at
    * `vocabDir` (the `unigram_vocab` table of the persisted tokenizer
    * family). Encodings land under `outDir/encoded/epoch=<N>`.
    */
  def start(docs: DataFrame, vocabDir: String, outDir: String,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val vocab = docs.sparkSession.read.parquet(vocabDir)
    EpochService.start(docs, outDir, checkpointDir)(runBatch(_, vocab, outDir, _))
  }

  /** One micro-batch (factored out so batch specs can drive it directly). */
  def runBatch(batch: DataFrame, vocab: DataFrame, outDir: String,
               epoch: Long): Unit =
    EpochService.write(TextAnalysis.unigramEncode(batch, vocab),
      outDir, "encoded", epoch)
}
