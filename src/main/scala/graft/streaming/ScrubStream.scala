package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Pii

/** STREAMING PII scrubbing — the ingest deployment of
  * [[graft.operators.Pii.scrubPii]], and the last curation stage to gain
  * a topology member (crawl dedup, fluency gate, DSIR gate, media
  * ingest/search, tokenizer service, embedding gate all have theirs):
  * documents are masked per micro-batch BEFORE anything downstream can
  * persist raw identifiers — scrubbing at rest is too late once a
  * contact string has landed in a store — with the per-document audit
  * counts kept beside the masked text.
  *
  * Output split, mirroring the sibling gates' selected/rejected shape:
  * documents that carried NO pii land under `clean/` untouched;
  * documents that were masked land under `scrubbed/` with their
  * per-family counts — the audit trail a privacy review reads. Both
  * `epoch=<N>` parquet (effectively-once per [[EpochService]]). Every
  * input row lands in exactly one output.
  *
  * The stage is STATELESS by design (a pure row-local projection): no
  * model, no index, no growth — which is exactly why it scales as a
  * pass-through map at any ingest rate. The masking chain's fixed order
  * and idempotence ([[Pii]] class doc) mean a replayed or re-scrubbed
  * document is a fixpoint, never double-masked.
  */
object ScrubStream {

  /** Start the scrub stream over `docs` (a streaming frame with
    * `doc_id`/`text` and optionally `lang`/`source`).
    */
  def start(docs: DataFrame, outDir: String,
            checkpointDir: Option[String] = None): StreamingQuery =
    EpochService.start(docs, outDir, checkpointDir)(runBatch(_, outDir, _))

  /** One micro-batch (factored out so batch specs can drive it
    * directly): scrub, split on n_pii, write both sides under
    * `epoch=<N>`. The scrubbed frame is a barrier so a real source is
    * not re-read per output side.
    */
  def runBatch(batch: DataFrame, outDir: String, epoch: Long): Unit = {
    val withMeta = Seq("lang", "source").foldLeft(batch) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(""))
    }
    EpochService.barriers { keep =>
      val scrubbed = keep(Pii.scrubPii(withMeta))
      EpochService.write(scrubbed.filter(col("n_pii") === 0L), outDir, "clean", epoch)
      EpochService.write(scrubbed.filter(col("n_pii") > 0L), outDir, "scrubbed", epoch)
    }
  }
}
