package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** STREAMING PQ-encode serving — the vector-side [[TokenizeStream]]: a
  * stream of (vec_id, embedding) rows is product-quantized per
  * micro-batch against the FROZEN per-subspace codebooks (the persisted
  * `graft_pq` artifact the registry trains once per corpus snapshot), and
  * the 8-code rows land in `epoch=<N>` parquet (effectively-once per
  * [[EpochService]]).
  *
  * The codebooks are deliberately NOT retrained per batch: PQ codes must
  * be commensurable across the stream's lifetime — per-batch codebooks
  * would place the same vector in different cells from epoch to epoch,
  * and every ADC consumer (the compressed scan, IVFPQ) compares stored
  * codes against query LUTs built from ONE codebook generation. A
  * codebook refresh is a batch re-encode of the corpus
  * ([[Similarity.persistPq]]), not a streaming concern.
  *
  * Zero-norm vectors are unanswerable under cosine and encode to no row
  * (the family rule) — the stream never emits garbage codes for them.
  *
  * Scale shape: per batch, the packed codebook is a constants-bounded
  * 1-row broadcast (m·k·dsub doubles) and encode is a projection over
  * the batch scan — zero shuffle of the batch, no state accumulates, so
  * the stream scales by vectors/second alone.
  */
object EncodeStream {

  /** Start the encode stream over `vecs` (a streaming frame with
    * `vec_id`/`embedding`), coding against the codebooks at
    * `codebookDir` (the `codebooks` table of the persisted PQ family).
    * Codes land under `outDir/codes/epoch=<N>`.
    */
  def start(vecs: DataFrame, codebookDir: String, outDir: String,
            m: Int = 8, dim: Int = 64,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val codebooks = vecs.sparkSession.read.parquet(codebookDir)
    EpochService.start(vecs, outDir, checkpointDir)(
      runBatch(_, codebooks, outDir, _, m, dim))
  }

  /** One micro-batch (factored out so batch specs can drive it directly):
    * the codes AND the batch's float vectors land per epoch — codes make
    * the new vectors ADC-searchable immediately, the stored floats let
    * the exact-rerank stage fetch them (streamed vectors are not in the
    * corpus embeddings table until the next snapshot re-encode).
    */
  def runBatch(batch: DataFrame, codebooks: DataFrame, outDir: String,
               epoch: Long, m: Int = 8, dim: Int = 64): Unit =
    EpochService.barriers { keep =>
      val b = keep(batch)
      EpochService.write(Similarity.pqEncode(b, codebooks, m, dim),
        outDir, "codes", epoch)
      EpochService.write(b.select("vec_id", "embedding"), outDir, "vectors", epoch)
    }

  /** The GROWN serving view — base table ∪ epoch deltas ([[IndexStream]]'s
    * discipline on the PQ side): `part` is `codes` (feeds the ADC scan)
    * or `vectors` (feeds the exact-rerank float fetch alongside the
    * corpus embeddings). Codes from the frozen codebooks are
    * commensurable across epochs by construction, so the union IS the
    * index — no re-ranking, no merge logic.
    */
  def withEpochs(spark: SparkSession, base: DataFrame,
                 outDir: String, part: String): DataFrame =
    EpochService.withDeltas(spark, base, s"$outDir/$part")

  /** COMPACTION — the [[CrawlDedup]]/[[IndexStream]] contract on the PQ
    * side: fold the base codes + epoch code deltas into a new committed
    * base (and the streamed floats likewise, so rerank keeps its fetch
    * source), then clear the deltas ([[EpochService.compact]]). Pure
    * union rewrite — codes are self-contained rows under one frozen
    * codebook generation. Stop the stream first and restart it against
    * `newBaseDir` — a stream started before compaction captured the OLD
    * base once, and after the deltas are cleared its grown view no
    * longer sees the pre-compaction epochs (see [[CrawlDedup.compact]]).
    *
    * `baseVectorsDir` mirrors `baseCodesDir` on the float side: the
    * FIRST compaction of a fresh corpus has no streamed-float base (the
    * corpus floats live in the embeddings table), but every LATER
    * compaction must carry the previously folded floats forward —
    * without it, a second compaction (baseCodesDir = previous
    * newBase/codes) would keep the codes but DROP the earlier streamed
    * floats, and the rerank stage's inner join on its float source
    * would silently lose those shortlist candidates. `newBaseDir/
    * vectors` is ALWAYS written (empty frame when there is nothing to
    * fold) so readers can rely on both dirs existing.
    */
  def compact(spark: SparkSession, baseCodesDir: String,
              outDir: String, newBaseDir: String,
              stamp: String = "compact",
              baseVectorsDir: Option[String] = None,
              checkpointDir: Option[String] = None): Unit =
    EpochService.compact(spark, "EncodeStream.compact", outDir, checkpointDir,
        Seq("codes", "vectors"), newBaseDir, stamp) { epochs =>
      EpochService.withDeltas(spark, spark.read.parquet(baseCodesDir),
          s"$outDir/codes", epochs)
        .write.mode("overwrite").parquet(s"$newBaseDir/codes")
      val baseVecs = baseVectorsDir.map(d => spark.read.parquet(d)).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType))))))
      EpochService.withDeltas(spark, baseVecs, s"$outDir/vectors", epochs)
        .write.mode("overwrite").parquet(s"$newBaseDir/vectors")
    }
}
