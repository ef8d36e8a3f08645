package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Passage

/** STREAMING passage-index growth — the stream-grown-index discipline
  * applied to the RAG family: [[PassageStream]] serves queries from a
  * FROZEN passage snapshot, and without this service a crawled document's
  * passages only became retrievable at the next snapshot rebuild. Each
  * micro-batch of (doc_id, text) rows is chunked, tower-embedded and
  * sign-LSH-banded with the SAME closed-form geometry the base index was
  * built with ([[Passage.chunkVectors]]/[[Passage.chunkBands]] — the
  * planes are a pure function of (nbits, dims), so delta and base rows
  * are commensurable by construction, the [[EncodeStream]] argument with
  * nothing to freeze), and the chunk vectors + band triples land in
  * epoch-partitioned overwrite parquet. The serving view is base ∪ epoch
  * deltas, merged on read — a streamed document's passages answer
  * [[Passage.passageTopKForQueries]] the epoch after it arrives.
  *
  * Write order is vectors FIRST, bands LAST: candidates come from the
  * band side and fetch vectors by inner join, so an epoch whose crash
  * window left vectors without bands is invisible (no candidates), and
  * bands-without-vectors cannot exist — the band write is the epoch's
  * commit marker (the grownSearchIndex torn-epoch lesson, enforced by
  * ordering instead of a read-side guard because two tables joined by
  * inner semantics need no third).
  *
  * Effectively-once per [[EpochService]]; a batch reads nothing but
  * itself — chunk/embed/band are narrow
  * projections — so a replay cannot self-match anything. Streamed
  * doc_ids share the corpus id space and must not collide with base ids
  * (the [[IndexStream]] contract: the crawl allocates fresh ids).
  *
  * Scale shape: per batch, work ∝ batch tokens/stride (the bounded chunk
  * explode) plus nbits codegen'd plane dots per chunk — no shuffle, no
  * state; the stream scales by documents/second alone.
  */
object ChunkStream {

  /** Start the passage-growth stream over `docs` (a streaming frame with
    * `doc_id`/`text`). Deltas land under `outDir/vectors_delta/epoch=<N>`
    * and `outDir/bands_delta/epoch=<N>`.
    */
  def start(docs: DataFrame, outDir: String,
            maxTokens: Int = 32, overlap: Int = 8, dims: Int = 16,
            nbits: Int = 16, bandBits: Int = 4,
            checkpointDir: Option[String] = None): StreamingQuery =
    EpochService.start(docs, outDir, checkpointDir)(
      runBatch(_, outDir, _, maxTokens, overlap, dims, nbits, bandBits))

  /** One micro-batch (factored out so batch specs can drive it directly):
    * chunk + embed the batch, write its vector delta, then derive and
    * write its band delta from the READ-BACK vectors (staging discipline
    * AND the commit-marker ordering above).
    */
  def runBatch(batch: DataFrame, outDir: String, epoch: Long,
               maxTokens: Int = 32, overlap: Int = 8, dims: Int = 16,
               nbits: Int = 16, bandBits: Int = 4): Unit = {
    val vectors = EpochService.write(
      Passage.chunkVectors(batch, maxTokens, overlap, dims),
      outDir, "vectors_delta", epoch)
    EpochService.write(
      Passage.chunkBands(batch.sparkSession.read.parquet(vectors),
        nbits, bandBits, dims),
      outDir, "bands_delta", epoch)
  }

  /** The GROWN passage tables: base ∪ epoch deltas (merge-on-read), fed
    * straight to [[Passage.passageTopKForQueries]]. The `topk` member is
    * the BASE's default answer unchanged (likewise `liTopk`) — the
    * default-parameter artifacts are snapshot-rebuild outputs
    * ([[compact]] re-derives them); arbitrary queries over the grown
    * view are the any-time path.
    */
  def grownTables(spark: SparkSession, base: Passage.PassageTables,
                  outDir: String): Passage.PassageTables =
    grown(spark, base, outDir, _ => true)

  private def grown(spark: SparkSession, base: Passage.PassageTables,
                    outDir: String, keep: Long => Boolean): Passage.PassageTables =
    base.copy(
      vectors = EpochService.withDeltas(spark, base.vectors,
        s"$outDir/vectors_delta", keep),
      bands = EpochService.withDeltas(spark, base.bands,
        s"$outDir/bands_delta", keep))

  /** COMPACTION — fold the base family + epoch deltas into a NEW
    * committed family dir: vectors and bands union-fold, and the
    * default-parameter `topk` answer is RE-DERIVED from the folded
    * tables, as is the MaxSim default (both must reflect the grown
    * corpus — the derived members). Guard, commit and delete are
    * [[EpochService.compact]]'s; stop the stream first and restart it
    * against `newBaseDir` ([[CrawlDedup.compact]]'s stale-base argument).
    */
  def compact(spark: SparkSession, baseDir: String, outDir: String,
              newBaseDir: String, stamp: String = "compact",
              numQueries: Int = 5, k: Int = 10, maxPerDoc: Int = 2,
              checkpointDir: Option[String] = None): Unit =
    EpochService.compact(spark, "ChunkStream.compact", outDir, checkpointDir,
        Seq("vectors_delta", "bands_delta"), newBaseDir, stamp) { epochs =>
      val folded = grown(spark, Passage.loadPassage(spark, baseDir), outDir, epochs)
      folded.vectors.write.mode("overwrite").parquet(s"$newBaseDir/vectors")
      folded.bands.write.mode("overwrite").parquet(s"$newBaseDir/bands")
      // read-back staging (loadPassage would demand the not-yet-written topk)
      Passage.passageTopKServeFrom(
          spark.read.parquet(s"$newBaseDir/vectors"),
          spark.read.parquet(s"$newBaseDir/bands"),
          numQueries, k, maxPerDoc)
        .write.mode("overwrite").parquet(s"$newBaseDir/topk")
      Passage.lateInteractionTopK(
          spark.read.parquet(s"$newBaseDir/vectors"),
          spark.read.parquet(s"$newBaseDir/bands"), numQueries, k)
        .write.mode("overwrite").parquet(s"$newBaseDir/li_topk")
      Passage.distillPairs(
          spark.read.parquet(s"$newBaseDir/vectors"),
          spark.read.parquet(s"$newBaseDir/topk"))
        .write.mode("overwrite").parquet(s"$newBaseDir/distill")
    }
}
