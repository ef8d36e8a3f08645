package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING takedown ingestion — the deployment shape of
  * [[graft.operators.Takedown]]: erasure requests do not arrive in
  * batches, they trickle in (a legal queue, an opt-out form, a DMCA
  * feed), and each one must take effect at the NEXT serving call, not at
  * the next index rebuild. Requests land as epoch-partitioned tombstone
  * deltas; serving reads the GROWN tombstone view (base ∪ deltas,
  * merge-on-read) into [[graft.operators.Takedown.suppress]] /
  * `topKWithTakedown`, so suppression latency is one micro-batch.
  *
  * Tombstones are pure SETS, which makes this the simplest member of the
  * grown-view family: no replay fence is needed (a crashed-and-replayed
  * epoch overwrites its own delta, and a duplicate doc_id across epochs
  * is idempotent under the distinct-on-read view), no cross-delta
  * aggregation exists, and the per-epoch dedup is request-scaled.
  *
  * Compaction folds base + deltas into a new committed base. The
  * ordering contract matters MORE here than for the index siblings: a
  * reader still pointed at the old base after the deltas are cleared
  * would UN-SUPPRESS every folded erasure — a compliance violation, not
  * a performance bug. So: commit `newBaseDir`, move every reader, and
  * only then clear the delta dir ([[compact]] itself commits before
  * deleting; the reader migration between those steps is the deployment
  * contract, as in [[CrawlDedup.compact]]'s stop-compact-restart).
  */
object TakedownStream {

  /** Start the takedown stream over `requests` (a streaming frame with
    * `doc_id` and `reason`). Outputs epoch-partitioned tombstone deltas
    * under `outDir/tombstones_delta/`.
    */
  def start(requests: DataFrame, outDir: String,
            checkpointDir: Option[String] = None): StreamingQuery =
    EpochService.start(requests, outDir, checkpointDir)(runBatch(_, outDir, _))

  /** One micro-batch (factored out so batch specs can drive it
    * directly): dedup the batch's requests per doc_id (min reason —
    * deterministic under re-ordered duplicates) and write the epoch's
    * tombstone delta.
    */
  def runBatch(batch: DataFrame, outDir: String, epoch: Long): Unit =
    EpochService.write(byDoc(batch), outDir, "tombstones_delta", epoch)

  /** The GROWN tombstone view: committed base (absent is fine — a fresh
    * deployment starts with no erasures) ∪ all epoch deltas, one row per
    * doc_id. Feed it to [[graft.operators.Takedown.suppress]] or
    * `topKWithTakedown` — every serving call sees every request ingested
    * up to the last completed epoch.
    */
  def grownTombstones(spark: SparkSession, baseDir: String,
                      outDir: String): DataFrame =
    fold(spark, baseDir, outDir, _ => true)

  /** COMPACTION — fold base + deltas into a NEW committed tombstone base
    * and clear the folded deltas through [[EpochService.compact]]. See
    * the class doc for the reader-migration ordering (erasures must never
    * reappear). Losing a tombstone UN-SUPPRESSES an erasure, a compliance
    * violation, so the skeleton's two defenses matter most here: the
    * stop-first contract is enforced, and the fold is EPOCH-SCOPED — an
    * epoch delta written between the listing and the delete survives for
    * the next compaction instead of being swallowed.
    */
  def compact(spark: SparkSession, baseDir: String, outDir: String,
              newBaseDir: String, stamp: String = "compact",
              checkpointDir: Option[String] = None): Unit =
    EpochService.compact(spark, "TakedownStream.compact", outDir, checkpointDir,
        Seq("tombstones_delta"), newBaseDir, stamp) { epochs =>
      fold(spark, baseDir, outDir, epochs)
        .write.mode("overwrite").parquet(s"$newBaseDir/tombstones")
    }

  /** One (doc_id, min reason) row per doc_id. */
  private def byDoc(df: DataFrame): DataFrame =
    df.groupBy("doc_id").agg(min(col("reason")).as("reason"))

  /** Committed base (absent is fine) ∪ the `keep` epochs' deltas, by doc. */
  private def fold(spark: SparkSession, baseDir: String, outDir: String,
                   keep: Long => Boolean): DataFrame = {
    val bp = new Path(s"$baseDir/tombstones")
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base =
      if (fs.exists(bp) && fs.listStatus(bp).nonEmpty)
        spark.read.parquet(bp.toString).select(col("doc_id"), col("reason"))
      else spark.range(0).select(col("id").as("doc_id"), lit("").as("reason"))
    byDoc(EpochService.withDeltas(spark, base, s"$outDir/tombstones_delta", keep))
  }
}
