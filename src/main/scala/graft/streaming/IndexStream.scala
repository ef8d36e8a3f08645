package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** STREAMING search-index growth — the missing half of the retrieval
  * deployment ([[SearchStream]] serves queries from a frozen snapshot;
  * this keeps the snapshot growing): each micro-batch of (doc_id, text)
  * documents — in the topology, the crawl AFTER the dedup/scrub gates —
  * is indexed into an epoch delta (postings, lexicon, 1-row count), and
  * the serving view is the base snapshot ∪ all deltas, merged on read
  * ([[TextAnalysis.grownSearchIndex]]): postings union directly
  * (disjoint doc sets), lexicon df sums across the vocab-sized lexicon
  * tables, n_total sums the metas. The corpus becomes searchable as it
  * lands without ever re-indexing what was already indexed — the
  * [[CrawlDedup]] grow-with-the-stream contract on the retrieval side.
  *
  * Effectively-once per [[EpochService]]: a replayed micro-batch
  * overwrites its own partial delta, so the merge-on-read view never
  * double-counts a document.
  *
  * Scale shape: per batch, work ∝ batch tokens (one map-side-combined
  * aggregate); nothing reads the base index at write time, and the
  * read-time lexicon merge touches only vocab-sized frames. A compactor
  * (fold deltas into the base and re-commit) is the same once-per-day
  * batch job as any snapshot rebuild — [[TextAnalysis
  * .persistSearchIndex]] over the grown corpus IS that compactor.
  */
object IndexStream {

  /** Start the indexer over `docs` (a streaming frame with
    * `doc_id`/`text`). Deltas land under `outDir/postings_delta/epoch=N`
    * (+ lexicon_delta, meta_delta).
    */
  def start(docs: DataFrame, outDir: String,
            checkpointDir: Option[String] = None): StreamingQuery =
    EpochService.start(docs, outDir, checkpointDir)(runBatch(_, outDir, _))

  /** One micro-batch (factored out so batch specs can drive it directly). */
  def runBatch(batch: DataFrame, outDir: String, epoch: Long): Unit =
    TextAnalysis.writeSearchIndexDelta(batch,
      EpochService.epochDir(outDir, "postings_delta", epoch),
      EpochService.epochDir(outDir, "lexicon_delta", epoch),
      EpochService.epochDir(outDir, "meta_delta", epoch))

  /** The grown serving view over a base snapshot + this stream's deltas. */
  def servingIndex(spark: SparkSession, baseDir: String,
                   outDir: String): TextAnalysis.SearchIndex =
    TextAnalysis.grownSearchIndex(spark, baseDir,
      s"$outDir/postings_delta", s"$outDir/lexicon_delta",
      s"$outDir/meta_delta")

  /** COMPACTION — the maintenance job the merge-on-read view assumes
    * (the [[graft.sources.KeyedUpsertSink.compact]] discipline on the
    * index side): fold the accumulated epoch deltas into a NEW base
    * snapshot at `newBaseDir` (written from the READ-BACK grown view of
    * the epochs committed in all three delta dirs — postings union, one
    * vocab-sized lexicon re-aggregate, summed count; staging discipline,
    * never a corpus re-index), then clear those epochs. Read
    * amplification drops back to one snapshot; the stream keeps
    * appending fresh epochs afterwards.
    *
    * Crash safety ([[EpochService.compact]]): a crash between the commit
    * and the deletes leaves both the new base and the deltas, and
    * serving from new-base ∪ leftover deltas double-counts, so the
    * caller must re-run compact before serving.
    */
  def compact(spark: SparkSession, baseDir: String, outDir: String,
              newBaseDir: String, stamp: String = "compact",
              checkpointDir: Option[String] = None): Unit =
    EpochService.compact(spark, "IndexStream.compact", outDir, checkpointDir,
        Seq("postings_delta", "lexicon_delta", "meta_delta"), newBaseDir,
        stamp) { epochs =>
      val grown = TextAnalysis.grownSearchIndexOf(spark, baseDir,
        s"$outDir/postings_delta", s"$outDir/lexicon_delta",
        s"$outDir/meta_delta", epochs)
      grown.postings.write.mode("overwrite").parquet(s"$newBaseDir/postings")
      grown.lexicon.write.mode("overwrite").parquet(s"$newBaseDir/lexicon")
      spark.range(1).select(lit(grown.nTotal).as("n_total"))
        .write.mode("overwrite").parquet(s"$newBaseDir/meta")
    }
}
