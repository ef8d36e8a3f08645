package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed last-writer-wins parquet store: the `foreachBatch` replacement
  * for the reference's DynamoDB `ForeachWriter` sink
  * (consumer/.../SparkDynamoDBConsumer.java:202-283), whose `putItem` is
  * an upsert by key (T7, SURVEY.md §2.9). Each micro-batch appends one
  * segment, O(batch) whatever the store's size; reads merge by key with
  * the latest commit winning. The commit protocol — sequence claims,
  * marker-last commits, replay fences, compaction — is [[LwwLog]]'s; this
  * front-end adds the columnar format:
  *
  *  - segment `seg/<seq>__<writer>__<epoch>` (parquet), committed under the
  *    marker of the same name; compacted segments are
  *    `compact-<maxSeq>[-n]`, and legacy round-3/4 stores named both by the
  *    bare epoch;
  *  - every row stamped with its sequence and its segment name:
  *    [[winners]] keeps per key the row of the highest (sequence, segment
  *    name), the name breaking ties deterministically should a filesystem
  *    without atomic create let two commits share a sequence (pinned by
  *    LogStoreSpec "CAS violation under a non-atomic create");
  *  - a `_keys` manifest fixing the key columns;
  *  - fence key = writer id, by default the owning query's durable
  *    `queryId` (stable across restarts of one checkpoint, fresh for a
  *    recreated one). An epoch at or below the writer's high-water mark
  *    over its live markers and `_txn` fence is a replay and is skipped;
  *    another writer, or a recreated checkpoint restarting at epoch 0, is
  *    never fenced by it.
  */
object KeyedUpsertSink {

  /** Per-row sequence stamp (internal; stripped by [[read]]). */
  private val SeqCol = "__graft_epoch"
  /** Per-row source-segment name (internal): deterministic LWW tie-break. */
  private val SrcCol = "__graft_src"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logOf(spark: SparkSession, store: String): LwwLog =
    new LwwLog(fsOf(spark, new Path(store)), store, "seg", identity, (_, name) => name, LwwLog.keyEpoch)

  /** This writer's committed high-water epoch. */
  private def writerFence(log: LwwLog, writer: String): Option[Long] = {
    val live = log.markers().flatMap(log.fenceOf).collect { case (`writer`, e) => e }
    (live ++ log.txnEpoch(writer)).maxOption
  }

  /** `_keys` manifest codec: one key column name per line, with `%`, `,`
    * and newline percent-escaped so any column name round-trips (the
    * round-3 comma-joined form broke for names containing a comma).
    */
  private def encodeKeys(keyCols: Seq[String]): String =
    keyCols.map(_.replace("%", "%25").replace("\n", "%0A").replace(",", "%2C")).mkString("\n")

  private def decodeKeys(s: String): Seq[String] =
    s.split("\n", -1).toSeq
      .map(_.replace("%2C", ",").replace("%0A", "\n").replace("%25", "%"))

  /** First write creates the manifest via temp-file + rename — the same
    * commit protocol the segments use — so a crash mid-write can never
    * leave a truncated manifest that bricks the store (a stray temp file
    * is invisible to readers and harmless). Later writes verify the key
    * set: a silent key mismatch would dedup batches by one key set and
    * merge reads by another, so fail at the write site instead.
    */
  private def writeKeysManifest(spark: SparkSession, store: String, keyCols: Seq[String]): Unit = {
    val p = new Path(s"$store/_keys")
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) {
      val tmp = new Path(s"$store/.keys-tmp-${UUID.randomUUID}")
      val out = fs.create(tmp, true)
      out.write(encodeKeys(keyCols).getBytes(UTF_8))
      out.close()
      if (!fs.rename(tmp, p)) { // lost a creation race: verify, don't clobber
        fs.delete(tmp, false)
        val existing = readKeysManifest(spark, store)
        require(existing == keyCols,
          s"store $store is keyed by ${existing.mkString(",")}, not ${keyCols.mkString(",")}")
      }
    } else {
      val existing = readKeysManifest(spark, store)
      require(existing == keyCols,
        s"store $store is keyed by ${existing.mkString(",")}, not ${keyCols.mkString(",")}")
    }
  }

  private def readKeysManifest(spark: SparkSession, store: String): Seq[String] = {
    val p = new Path(s"$store/_keys")
    val fs = fsOf(spark, p)
    require(fs.exists(p), s"not a keyed store (no _keys manifest): $store")
    val in = fs.open(p)
    val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    in.readFully(bytes); in.close()
    decodeKeys(new String(bytes, UTF_8))
  }

  /** The calling streaming query's durable id (stable across restarts of
    * one checkpoint; fresh when a checkpoint is recreated), or `default`
    * for plain batch callers. `foreachBatch` runs on the stream-execution
    * thread, where Spark publishes the id as a thread-local property.
    */
  private def currentWriter(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY))
      .getOrElse(LwwLog.DefaultWriter)

  /** Append `batch` as `writerId`'s segment for `epochId` (last-writer-wins
    * on `keyCols`; rows within one batch are deduped on the key first).
    * Cost is O(batch) regardless of store size. Re-delivery of an epoch
    * this writer already committed (checkpoint replay) is skipped; other
    * writers' counters can never fence it.
    */
  def upsert(spark: SparkSession, storePath: String, keyCols: Seq[String],
             batch: DataFrame, epochId: Long, writerId: String): Unit = {
    val writer = LwwLog.sanitize(writerId)
    val log = logOf(spark, storePath)
    if (writerFence(log, writer).exists(epochId <= _))
      return // this writer already committed this epoch (or folded it): replay, skip
    writeKeysManifest(spark, storePath, keyCols)
    val seq = log.claim()
    val name = s"${seq}__${writer}__$epochId"
    batch.dropDuplicates(keyCols)
      .withColumn(SeqCol, lit(seq))
      .withColumn(SrcCol, lit(name))
      .write.mode("overwrite").parquet(log.tmpPath(name).toString)
    log.commit(name)
  }

  /** Streaming-default overload: writer identity is the owning query's
    * durable queryId (see [[currentWriter]]).
    */
  def upsert(spark: SparkSession, storePath: String, keyCols: Seq[String],
             batch: DataFrame, epochId: Long): Unit =
    upsert(spark, storePath, keyCols, batch, epochId, currentWriter(spark))

  /** Epoch-less convenience (tests/ad-hoc batch use): allocates the next
    * epoch after the calling writer's fence. Streaming callers pass the
    * `foreachBatch` epochId to the overload above instead.
    */
  def upsert(spark: SparkSession, storePath: String, keyCols: Seq[String],
             batch: DataFrame): Unit = {
    val writer = LwwLog.sanitize(currentWriter(spark))
    val next = writerFence(logOf(spark, storePath), writer).map(_ + 1).getOrElse(0L)
    upsert(spark, storePath, keyCols, batch, next, writer)
  }

  /** Per-key winners of the union of the segments `segs` (markers with
    * their modification times): the row of the highest (sequence,
    * source-segment) stamp, keeping its stamps. One shuffle on the key —
    * shared by [[read]] and [[compact]] so LWW tie-breaking can never
    * diverge between them.
    *
    * The schema and the `_keys` manifest are resolved once per committed
    * marker set ([[SnapshotStore.parquet]]): a new commit or a compaction
    * changes the set, so a widened schema shows on the next read, and an
    * unchanged store is read without an inference job or a manifest read.
    * The inference reads with `mergeSchema`: legacy bare-epoch segments
    * (round 3/4) were written before the [[SrcCol]] stamp existed, so a
    * mixed store's inferred schema would depend on which parquet footer
    * Spark sampled. Schema merging resolves the column whenever ANY
    * segment has it; legacy rows surface it as null, coalesced to "" so
    * every stamped segment outranks them at equal sequence (two legacy
    * segments never share one). An all-legacy store has no [[SrcCol]]: it
    * is injected as "".
    */
  private def winners(spark: SparkSession, log: LwwLog, segs: Seq[(String, Long)]): DataFrame = {
    val (raw, keyCols) = SnapshotStore.parquet(spark, log.store, segs.sorted.mkString(","),
      segs.map(s => log.dataPath(s._1).toString), mergeSchema = true)(_ => readKeysManifest(spark, log.store))
    val df =
      if (!raw.columns.contains(SrcCol)) raw.withColumn(SrcCol, lit(""))
      else raw.withColumn(SrcCol, coalesce(col(SrcCol), lit("")))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(SeqCol).desc, col(SrcCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Last-writer-wins view: per key, the row of the highest committed
    * sequence (ONE shuffle on the key). Duplicate identical rows from an
    * interrupted compaction collapse here too.
    */
  def read(spark: SparkSession, storePath: String): DataFrame = {
    val log = logOf(spark, storePath)
    val segs = log.markerTimes()
    require(segs.nonEmpty, s"no committed segments at $storePath")
    winners(spark, log, segs).drop(SeqCol, SrcCol)
  }

  /** Fold every committed segment into one segment of per-key winners
    * ([[LwwLog]] compaction). Run out-of-band (a maintenance job), never on
    * the hot write path.
    */
  def compact(spark: SparkSession, storePath: String): Unit = {
    val log = logOf(spark, storePath)
    log.compact { (segs, tmp) =>
      val live = segs.toSet
      winners(spark, log, log.markerTimes().filter(m => live(m._1)))
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** Number of committed segments (compaction/test observability). */
  def segmentCount(spark: SparkSession, storePath: String): Int =
    logOf(spark, storePath).markers().size

  /** Rows in the committed segment `writerId` wrote for `epochId` — lets
    * tests assert per-batch write volume scales with the batch, not the
    * store.
    */
  def segmentRows(spark: SparkSession, storePath: String, epochId: Long,
                  writerId: String = LwwLog.DefaultWriter): Long = {
    val writer = LwwLog.sanitize(writerId)
    val log = logOf(spark, storePath)
    val name = log.markers().find(log.fenceOf(_).contains((writer, epochId)))
      .getOrElse(sys.error(s"no committed segment for writer=$writer epoch=$epochId at $storePath"))
    spark.read.parquet(log.dataPath(name).toString).count()
  }

  def exists(spark: SparkSession, storePath: String): Boolean =
    logOf(spark, storePath).markers().nonEmpty
}
