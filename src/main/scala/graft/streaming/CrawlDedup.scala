package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** STREAMING continuous-crawl dedup — the production composition of the
  * batch incremental operator ([[graft.operators.Dedup.dedupDelta]]) with
  * Structured Streaming: a crawl stream of (doc_id, text) documents is
  * deduped per micro-batch against the corpus signature index, clean
  * (sufficiently novel) docs and duplicate-pair audit rows land in
  * epoch-partitioned parquet, and the clean docs' OWN signature rows are
  * appended to the index so later batches dedup against earlier ones —
  * the corpus grows with the stream without ever re-reading corpus text.
  *
  * Scale shape: per batch, corpus-side cost ∝ |index| (signature rows,
  * not documents) and delta-side cost ∝ |batch| — the same contract as
  * the batch operator; nothing here accumulates driver state. The index
  * union is a parquet scan of the base plus the appended epoch dirs.
  *
  * Effectively-once per [[EpochService]]; the index union reads
  * strictly-earlier epochs only, so a replayed batch that already
  * appended its own index delta never exact-matches its own documents.
  *
  * Policy: a delta doc matching the corpus (or an earlier batch) at
  * jaccard ≥ threshold — exact or near — is DROPPED from `clean` and
  * recorded in `pairs`. Two non-exact near-dups arriving in the SAME
  * batch both survive (scope is delta-vs-corpus, matching the batch
  * operator); compose [[Dedup.minhashPairs]] over a batch for
  * within-batch near-dedup if the crawl needs it. Within-batch EXACT
  * copies do collapse: the appended index keeps one rep per content
  * hash, and the exact branch of the NEXT batch's join catches re-sends.
  */
object CrawlDedup {

  /** Start the crawl-dedup stream over `docs` (a streaming DataFrame with
    * `doc_id`/`text`), deduping against the [[Dedup.buildDedupIndex]]
    * table at `baseIndexDir`. Outputs under `outDir`: `clean/`, `pairs/`,
    * `index_delta/` (all epoch-partitioned) + the stream checkpoint
    * (defaults under `outDir`; [[Pipeline.startCrawlDedup]] passes its
    * own per-query dir to honor the topology's shared checkpoint root —
    * T4).
    */
  def start(docs: DataFrame, baseIndexDir: String, outDir: String,
            threshold: Double = 0.8,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val base = docs.sparkSession.read.parquet(baseIndexDir)
    EpochService.start(docs, outDir, checkpointDir)(
      runBatch(_, base, outDir, _, threshold))
  }

  /** One micro-batch (factored out so batch specs can drive it directly):
    * dedup `batch` against base index + strictly-earlier index deltas,
    * then write clean docs, dup pairs, and the clean docs' index
    * rows under `epoch=<N>` dirs.
    */
  def runBatch(batch: DataFrame, baseIndex: DataFrame, outDir: String,
               epoch: Long, threshold: Double = 0.8): Unit =
    // barriers: the micro-batch feeds the pair join AND the anti-join, and
    // the pairs feed the audit write AND the anti-join; dedupDelta's own
    // delta-sets frame is one too, released only after every consumer of
    // `pairs` has run
    EpochService.barriers { keep =>
      val spark = batch.sparkSession
      val grown = EpochService.withDeltas(spark, baseIndex,
        s"$outDir/index_delta", _ < epoch)
      val delta = keep(batch)
      val pairs = keep(Dedup.dedupDelta(grown, delta, threshold,
        deltaBarrier = keep))
      EpochService.write(pairs, outDir, "pairs", epoch)
      val dupIds = pairs.select(col("delta_id").as("doc_id")).distinct()
      val clean = EpochService.write(
        delta.join(dupIds, Seq("doc_id"), "left_anti"), outDir, "clean", epoch)
      // the surviving docs enter the corpus: build their signature rows from
      // the READ-BACK clean table (staging discipline — nothing re-sketches
      // an upstream stage) so later batches dedup against this one
      EpochService.write(Dedup.buildDedupIndex(spark.read.parquet(clean)),
        outDir, "index_delta", epoch)
    }

  /** COMPACTION — fold the base signature index plus the appended epoch
    * deltas into a NEW committed base at `newBaseDir` through
    * [[EpochService.compact]] (guard, fold, commit, delete the folded
    * epochs): the index-with-deltas union the hot path pays per batch
    * drops back to one snapshot scan. Signature rows are self-contained
    * (no cross-delta aggregation), so the fold is a pure union rewrite —
    * never a corpus re-sketch.
    *
    * [[start]] captures the base index from `baseIndexDir` ONCE, so a
    * still-running stream would see only the stale base after the deltas
    * go — duplicates of every pre-compaction epoch would pass as clean.
    * The contract is STOP the stream, compact, RESTART with
    * `baseIndexDir = newBaseDir` (the checkpoint survives, so the
    * restarted stream resumes from its committed offset); compact()
    * refuses while the session still runs the query (pass
    * `checkpointDir` if [[start]] was given one).
    */
  def compact(spark: SparkSession, baseIndexDir: String, outDir: String,
              newBaseDir: String, stamp: String = "compact",
              checkpointDir: Option[String] = None): Unit =
    EpochService.compact(spark, "CrawlDedup.compact", outDir, checkpointDir,
        Seq("index_delta"), newBaseDir, stamp) { epochs =>
      EpochService.withDeltas(spark, spark.read.parquet(baseIndexDir),
          s"$outDir/index_delta", epochs)
        .write.mode("overwrite").parquet(s"$newBaseDir/index")
    }
}
