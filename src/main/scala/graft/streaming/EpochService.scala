package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.SnapshotStore

/** The epoch protocol every curation/serving service in this package
  * shares, written once: start wiring, `epoch=N` output, strictly-earlier
  * delta reads, and the guarded compaction.
  *
  * Effectively-once contract. A service's micro-batch `N` writes each of
  * its outputs to `<outDir>/<name>/epoch=N` with mode=overwrite, so a
  * replayed micro-batch (the post-crash re-run of the last uncommitted
  * epoch) OVERWRITES its own partial output instead of duplicating it —
  * the reference consumer's keyed-upsert idempotence, applied at directory
  * granularity. A batch that reads its own store's growth (an appended
  * signature index, assigned keys) reads only epochs STRICTLY EARLIER than
  * its own ([[withDeltas]] with `_ < epoch`), so a replay never finds its
  * own half-written rows and reproduces the original output. Readers see
  * `epoch` as a partition column.
  *
  * Grown stores (base ∪ epoch deltas, merged on read) fold into a new
  * committed base through [[compact]], which owns the one safe order:
  * refuse while the service's stream runs ([[StreamGuard.requireStopped]]
  * on its checkpoint), list the epochs once, fold exactly those, commit,
  * then delete exactly those — an epoch written after the listing
  * survives for the next compaction.
  */
object EpochService {

  /** The checkpoint a service uses: the caller's, else `outDir/_checkpoint`. */
  private def checkpoint(outDir: String, checkpointDir: Option[String]): String =
    checkpointDir.getOrElse(s"$outDir/_checkpoint")

  /** Start `input` as an append-mode stream that hands every micro-batch
    * and its epoch id to `runBatch`.
    */
  def start(input: DataFrame, outDir: String, checkpointDir: Option[String])(
      runBatch: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint(outDir, checkpointDir))
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        runBatch(batch.toDF(), epoch)
      }
      .start()

  /** Where output `name` of epoch `epoch` lives. */
  def epochDir(outDir: String, name: String, epoch: Long): String =
    s"$outDir/$name/epoch=$epoch"

  /** Overwrite epoch `epoch`'s output `name` with `df`; returns its dir. */
  def write(df: DataFrame, outDir: String, name: String, epoch: Long): String = {
    val dir = epochDir(outDir, name, epoch)
    df.write.mode("overwrite").parquet(dir)
    dir
  }

  /** Run one micro-batch with its barrier frames: every frame passed to
    * the given `keep` is `persist()`ed, and all are released when `body`
    * returns or throws. Never `localCheckpoint` a per-batch frame — its
    * blocks are reclaimed only when the driver GCs the RDD, so a
    * long-running stream would keep growing executor storage.
    */
  def barriers[A](body: (DataFrame => DataFrame) => A): A = {
    val held = new scala.collection.mutable.ArrayBuffer[DataFrame]
    try body { df => val p = df.persist(); held += p; p }
    finally held.reverseIterator.foreach(_.unpersist())
  }

  /** A barrier that also cuts the Catalyst plan, for an iterative operator
    * whose rounds would otherwise nest every earlier round's plan: `df`
    * persisted by `keep`, so the batch releases it with its other
    * barriers, and re-rooted as a plan leaf over its rows.
    */
  def cut(keep: DataFrame => DataFrame)(df: DataFrame): DataFrame = {
    val kept = keep(df)
    kept.sparkSession.createDataFrame(kept.rdd, kept.schema)
  }

  /** The epochs present under `dir` (its `epoch=N` subdirectories),
    * ascending; empty when `dir` is absent.
    */
  def epochs(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case s if s.startsWith("epoch=") => s.stripPrefix("epoch=").toLong }
      .sorted
  }

  /** The rows of `dir`'s epochs that satisfy `keep`, read from exactly
    * those epoch dirs (with their `epoch` column); None when none does.
    */
  def read(spark: SparkSession, dir: String,
           keep: Long => Boolean = _ => true): Option[DataFrame] = {
    val kept = epochs(spark, dir).filter(keep)
    if (kept.isEmpty) None
    else Some(spark.read.option("basePath", dir)
      .parquet(kept.map(e => s"$dir/epoch=$e"): _*))
  }

  /** `base` ∪ the rows of `dir`'s epochs that satisfy `keep` (a batch
    * passes `_ < epoch`: strictly earlier epochs only, see the contract
    * above), the `epoch` column dropped.
    */
  def withDeltas(spark: SparkSession, base: DataFrame, dir: String,
                 keep: Long => Boolean = _ => true): DataFrame =
    read(spark, dir, keep).fold(base)(d => base.unionByName(d.drop("epoch")))

  /** Fold a grown store into a new committed base at `newBaseDir`.
    *
    * `deltaDirs` (relative to `outDir`) are the store's delta dirs; an
    * epoch is folded only once it is present in all of them (a service
    * writes every delta dir per epoch, so an epoch missing from one is
    * torn and its replay will complete it). `fold` receives those epochs
    * and writes the new base from exactly them (read them with
    * [[withDeltas]]). Then: `_graft_ok` commit, `afterCommit`, and the
    * folded epoch dirs are deleted — a delta dir goes too only when that
    * leaves it empty. A crash before the deletes leaves both the new base
    * and the deltas; re-running the compaction restores the invariant.
    *
    * Refuses while this session runs the stream checkpointed at
    * `checkpointDir` (default `outDir/_checkpoint`): streams capture their
    * base once at start, so the contract is stop → compact → restart
    * against `newBaseDir`.
    */
  def compact(spark: SparkSession, what: String, outDir: String,
              checkpointDir: Option[String], deltaDirs: Seq[String],
              newBaseDir: String, stamp: String,
              afterCommit: => Unit = ())(fold: Set[Long] => Unit): Unit = {
    StreamGuard.requireStopped(spark, checkpoint(outDir, checkpointDir), what)
    val dirs = deltaDirs.map(d => new Path(s"$outDir/$d"))
    val folded = dirs.map(d => epochs(spark, d.toString).toSet)
      .reduceOption(_ intersect _).getOrElse(Set.empty)
    fold(folded)
    SnapshotStore.commit(spark, newBaseDir, stamp)
    afterCommit
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    dirs.foreach { d =>
      folded.foreach(e => fs.delete(new Path(d, s"epoch=$e"), true))
      if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, true)
    }
  }
}
