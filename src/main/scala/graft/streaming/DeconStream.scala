package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** STREAMING decontamination gate — the ingest deployment of the
  * broadcast-bloom pre-filter ([[graft.operators.Dedup.bloomCandidates]]):
  * benchmark material must be caught BEFORE a crawl document lands in the
  * training store, and the bloom probe is the one decontamination
  * mechanism that fits an ingest path — stateless, constant memory (the
  * packed bitmap, frozen at stream start), pure row-local projection, no
  * growth. Each micro-batch probes in-row; only the candidate sliver
  * (exact hits + the tiny fingerprint-collision tail) pays the exact
  * gram-join verify against the benchmark set, exactly the batch
  * composition's plan ([[Dedup.bloomContamination]]) run per epoch.
  *
  * Output split (the [[ScrubStream]] selected/rejected discipline):
  * verified-contaminated documents land under `contaminated/` with their
  * exact collision counts (the quarantine a decon review reads);
  * everything else — non-candidates and candidates the exact verify
  * cleared — lands under `clean/` unchanged. Every input row lands in
  * exactly one output; both `epoch=<N>` parquet (effectively-once per
  * [[EpochService]]).
  *
  * The bitmap and the benchmark gram set are FROZEN at stream start (the
  * [[CrawlDedup]] captured-base contract): a benchmark-suite update means
  * stop, rebuild, restart — the bitmap is a pure function of the
  * benchmark, nothing accumulates.
  */
object DeconStream {

  /** Start the decon gate over `docs` (a streaming frame with
    * `doc_id`/`text`), screening against the STATIC `benchmark` frame.
    */
  def start(docs: DataFrame, benchmark: DataFrame, outDir: String, n: Int = 5,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val bitmap = Dedup.bloomBitmap(benchmark, n).localCheckpoint()
    EpochService.start(docs, outDir, checkpointDir)(
      runBatch(_, bitmap, benchmark, outDir, _, n))
  }

  /** One micro-batch (factored out so batch specs can drive it
    * directly): row-local bloom probe → exact verify on the candidates
    * only → quarantine/clean split under `epoch=<N>`.
    */
  def runBatch(batch: DataFrame, bitmap: DataFrame, benchmark: DataFrame,
               outDir: String, epoch: Long, n: Int = 5): Unit =
    EpochService.barriers { keep =>
      val delta = keep(batch)
      val contaminated = keep(Dedup.contamination(
        Dedup.bloomCandidates(delta, bitmap, n).drop("n_bloom_hits"),
        benchmark, n))
      EpochService.write(contaminated, outDir, "contaminated", epoch)
      EpochService.write(
        delta.join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti"),
        outDir, "clean", epoch)
    }
}
