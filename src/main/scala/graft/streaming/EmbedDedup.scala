package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** STREAMING embedding-ingest near-dup gate — the vector-side twin of
  * [[CrawlDedup]] (completing the ingest symmetry: text crawl, media
  * ingest, embeddings): a stream of (vec_id, embedding) rows is deduped
  * per micro-batch against the corpus vector signature index
  * ([[Similarity.buildAnnIndex]]) via the banded
  * [[Similarity.annDedupDelta]] kernel, sufficiently-novel vectors and
  * duplicate-pair audit rows land in epoch-partitioned parquet, and the
  * clean vectors' OWN index rows are appended so later batches dedup
  * against earlier ones — the corpus grows with the stream.
  *
  * Scale shape: per batch, corpus-side cost ∝ |index| (one narrow bucket
  * projection from the stored vectors + candidate fetches), delta-side ∝
  * |batch| (whose band triples broadcast); candidate state is bounded by
  * DISTINCT vectors (both sides rep-collapsed in the kernel). No driver
  * state accumulates.
  *
  * Effectively-once per [[EpochService]]: the strictly-earlier-epoch
  * index filter keeps a replay from self-matching.
  *
  * Policy ([[CrawlDedup]]'s, verbatim on vectors): a delta vector within
  * `threshold` cosine of the corpus (or an earlier batch) — exact or
  * near — drops from `clean/` and is recorded in `pairs/`. Two non-exact
  * near-dups in the SAME batch both survive (scope is delta-vs-corpus);
  * within-batch EXACT copies collapse via the appended index's one rep
  * per distinct vector. Zero-norm vectors are cosine-undefined: never
  * paired, always passed through (the [[Similarity.lshNearDupPairs]]
  * eligibility rule).
  */
object EmbedDedup {

  /** Start the ingest-dedup stream over `vecs` (a streaming frame with
    * `vec_id`/`embedding`), deduping against the
    * [[Similarity.buildAnnIndex]] table at `baseIndexDir`. Outputs under
    * `outDir`: `clean/`, `pairs/`, `index_delta/` (epoch-partitioned).
    */
  def start(vecs: DataFrame, baseIndexDir: String, outDir: String,
            threshold: Double = 0.4, dim: Int = 64,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val base = vecs.sparkSession.read.parquet(baseIndexDir)
    EpochService.start(vecs, outDir, checkpointDir)(
      runBatch(_, base, outDir, _, threshold, dim))
  }

  /** One micro-batch (factored out so batch specs can drive it directly):
    * dedup `batch` against base index + strictly-earlier index deltas,
    * write clean vectors, dup pairs, and the clean vectors' index rows
    * under `epoch=<N>` dirs.
    */
  def runBatch(batch: DataFrame, baseIndex: DataFrame, outDir: String,
               epoch: Long, threshold: Double = 0.4, dim: Int = 64): Unit =
    EpochService.barriers { keep =>
      val spark = batch.sparkSession
      val grown = EpochService.withDeltas(spark, baseIndex,
        s"$outDir/index_delta", _ < epoch)
      // barrier: the batch feeds the pair join AND the anti-join
      val delta = keep(batch)
      val pairs = keep(Similarity.annDedupDelta(grown, delta, threshold, dim = dim))
      EpochService.write(pairs, outDir, "pairs", epoch)
      val dupIds = pairs.select(col("delta_id").as("vec_id")).distinct()
      val clean = EpochService.write(
        delta.join(dupIds, Seq("vec_id"), "left_anti"), outDir, "clean", epoch)
      // surviving vectors enter the corpus: index rows from the
      // READ-BACK clean table (staging discipline)
      EpochService.write(Similarity.buildAnnIndex(spark.read.parquet(clean)),
        outDir, "index_delta", epoch)
    }

  /** COMPACTION — [[CrawlDedup.compact]]'s contract verbatim on the
    * vector side: fold base + epoch deltas into a new committed base,
    * clear the deltas; pure union rewrite (signature rows are
    * self-contained), commit-before-delete. NOT safe while the stream is
    * running — [[start]] captures the base index ONCE, so the contract
    * is stop → compact → restart with `baseIndexDir = newBaseDir`
    * ([[CrawlDedup.compact]]'s stale-base argument verbatim); a
    * mid-stream snapshot rebuild is likewise invisible until restart.
    */
  def compact(spark: SparkSession, baseIndexDir: String, outDir: String,
              newBaseDir: String, stamp: String = "compact",
              checkpointDir: Option[String] = None): Unit =
    EpochService.compact(spark, "EmbedDedup.compact", outDir, checkpointDir,
        Seq("index_delta"), newBaseDir, stamp) { epochs =>
      EpochService.withDeltas(spark, spark.read.parquet(baseIndexDir),
          s"$outDir/index_delta", epochs)
        .write.mode("overwrite").parquet(s"$newBaseDir/index")
    }
}
