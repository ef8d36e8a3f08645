package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Keyed last-writer-wins parquet store: the `foreachBatch` replacement
  * for the reference's DynamoDB `ForeachWriter` sink
  * (consumer/.../SparkDynamoDBConsumer.java:202-283), whose `putItem` is
  * an upsert by key (T7, SURVEY.md §2.9). Each micro-batch appends one
  * segment, O(batch) whatever the store's size, and a micro-batch that
  * produced no rows commits nothing once the store holds a segment; reads
  * merge by key with the latest commit winning. The commit protocol —
  * sequence claims, marker-last commits, replay fences, compaction — is
  * [[LwwLog]]'s; this front-end adds the columnar format:
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

  /** This writer's committed high-water epoch over the `live` markers. */
  private def writerFence(log: LwwLog, live: Seq[String], writer: String): Option[Long] =
    (live.flatMap(log.fenceOf).collect { case (`writer`, e) => e } ++ log.txnEpoch(writer)).maxOption

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
    val created = !fs.exists(p) && {
      val tmp = new Path(s"$store/.keys-tmp-${UUID.randomUUID}")
      val out = fs.create(tmp, true)
      out.write(encodeKeys(keyCols).getBytes(UTF_8))
      out.close()
      // lost a creation race: verify the winner's manifest, don't clobber it
      fs.rename(tmp, p) || { fs.delete(tmp, false); false }
    }
    if (!created) {
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

  /** The parquet files of the data directory `dir`, sorted by name. */
  private def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)

  /** The footers of parquet `files`, read on the driver: no Spark job. */
  private def footers(spark: SparkSession, files: Seq[FileStatus]): Seq[Footer] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map(st =>
      new Footer(st.getPath, ParquetFileReader.readFooter(HadoopInputFile.fromStatus(st, conf), NO_FILTER)))
  }

  /** Append `batch` as `writerId`'s segment for `epochId` (last-writer-wins
    * on `keyCols`; rows within one batch are deduped on the key first).
    * Cost is O(batch) regardless of store size. Re-delivery of an epoch
    * this writer already committed (checkpoint replay) is skipped; other
    * writers' counters can never fence it.
    *
    * A write that produced no rows — the no-data micro-batch an update-mode
    * aggregation runs to advance its watermark — commits nothing once the
    * store holds a segment: its temp dir is removed and its sequence claim
    * stays burned, so the store's marker set, and with it the read stamp,
    * is unchanged. Emptiness is read from the written files' parquet
    * footers on the driver, never by a counting job. A replay of that epoch
    * writes nothing again. A store's first write commits even when empty:
    * its segment carries the schema, so a store that has only seen empty
    * batches reads as an empty frame.
    */
  def upsert(spark: SparkSession, storePath: String, keyCols: Seq[String],
             batch: DataFrame, epochId: Long, writerId: String): Unit = {
    val writer = LwwLog.sanitize(writerId)
    val log = logOf(spark, storePath)
    val live = log.markers()
    if (writerFence(log, live, writer).exists(epochId <= _))
      return // this writer already committed this epoch (or folded it): replay, skip
    writeKeysManifest(spark, storePath, keyCols)
    val seq = log.claim()
    val name = s"${seq}__${writer}__$epochId"
    val tmp = log.tmpPath(name)
    batch.dropDuplicates(keyCols)
      .withColumn(SeqCol, lit(seq))
      .withColumn(SrcCol, lit(name))
      .write.mode("overwrite").parquet(tmp.toString)
    val written = footers(spark, parquetFiles(log.fs, tmp))
    if (live.isEmpty || written.exists(_.getParquetMetadata.getBlocks.asScala.exists(_.getRowCount > 0)))
      log.commit(name)
    else log.fs.delete(tmp, true)
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
    val log = logOf(spark, storePath)
    val next = writerFence(log, log.markers(), writer).map(_ + 1).getOrElse(0L)
    upsert(spark, storePath, keyCols, batch, next, writer)
  }

  /** The committed segments `segs` as one frame with their stamps, and
    * the store's key columns and data bytes. The schema comes from the
    * segments' parquet footers, read on the driver: when they agree (up to
    * nullability, which a file read drops anyway) it is read with that
    * schema and runs no job. Segments of differing schemas are read with
    * `mergeSchema`, Spark's own inference job: after a widening commit the
    * new column shows, and a legacy bare-epoch segment (round 3/4),
    * written before the [[SrcCol]] stamp existed, surfaces it as null,
    * coalesced to "" so every stamped segment outranks it at equal
    * sequence (two legacy segments never share one). An all-legacy store
    * has no [[SrcCol]]: it is injected as "".
    */
  private def stamped(spark: SparkSession, log: LwwLog, segs: Seq[String]): (DataFrame, Seq[String], Long) = {
    val dirs = segs.map(log.dataPath)
    val files = dirs.flatMap(parquetFiles(log.fs, _))
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val paths = dirs.map(_.toString)
    val raw = footers(spark, files).map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .distinctBy(_.catalogString) match {
        case Seq(schema) => spark.read.schema(schema).parquet(paths: _*)
        case _ => spark.read.option("mergeSchema", "true").parquet(paths: _*) // mixed segments: Spark's merge (a job)
      }
    val df =
      if (!raw.columns.contains(SrcCol)) raw.withColumn(SrcCol, lit(""))
      else raw.withColumn(SrcCol, coalesce(col(SrcCol), lit("")))
    (df, readKeysManifest(spark, log.store), files.map(_.getLen).sum)
  }

  /** Per-key winners of `df`: the row of the highest (sequence,
    * source-segment) stamp, keeping its stamps. Shared by [[read]] and
    * [[compact]] so LWW tie-breaking can never diverge between them.
    */
  private def winners(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(SeqCol).desc, col(SrcCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A store's materialized view, and the view it replaced. A frame
    * planned over the replaced view may still run (a request planned just
    * before a commit): while that view is cached such a frame reads it,
    * where a released one would rebuild and persist it outside the memo.
    * So a view is released when the next one replaces it.
    */
  private final case class View(df: DataFrame, prev: Option[DataFrame]) {
    def release(): Unit = (df +: prev.toSeq).foreach(_.unpersist(blocking = false))
  }

  private val views = new SnapshotStore.Memo[View]

  /** Whether a store of `bytes` is read as one partition: when the planner
    * would broadcast a frame that size (`threshold`, the session's
    * `spark.sql.autoBroadcastJoinThreshold`), it fits one task.
    */
  private def fitsOneTask(threshold: String, bytes: Long): Boolean =
    !threshold.trim.startsWith("-") && bytes <= JavaUtils.byteStringAsBytes(threshold.trim)

  /** Last-writer-wins view: per key, the row of the highest committed
    * sequence. Duplicate identical rows from an interrupted compaction
    * collapse here too.
    *
    * The view is materialized once per stamp — the committed marker set
    * with each marker's modification time, the session's parquet confs
    * ([[SnapshotStore.parquetStamp]]) and its broadcast threshold — and
    * held per (session, store): a commit, a compaction or a store
    * recreated at the same path changes the stamp. On a new stamp the
    * winners plan is built (schema from the footers, no job) and persisted
    * lazily; the first action over it materializes it. The view it
    * replaces is kept until the next stamp, and the one before that is
    * released without blocking. A store the planner would broadcast whole
    * is coalesced to one partition first, so the view's single partition
    * satisfies every aggregate and sort an endpoint adds: no exchange, one
    * job with one task. A larger store stays partitioned by the key. Every
    * call returns a fresh projection over the held view (new output ids,
    * so two reads of one store self-join), at the cost of one `commits/`
    * listing: no file index, no schema lookup, no job. A frame obtained
    * before a commit keeps its own snapshot; once its view is released it
    * is recomputed from its segments. A store whose directory is gone
    * releases its views on the read that finds it so.
    */
  def read(spark: SparkSession, storePath: String): DataFrame = {
    val log = logOf(spark, storePath)
    val segs = log.markerTimes()
    if (segs.isEmpty) views.remove(spark, log.store).foreach(_.release())
    require(segs.nonEmpty, s"no committed segments at $storePath")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val stamp = SnapshotStore.parquetStamp(spark, segs.sorted.mkString(",")) + "|" + threshold
    val view = views.get(spark, log.store, stamp) { held =>
      val (df, keyCols, bytes) = stamped(spark, log, segs.map(_._1))
      val next = winners(if (fitsOneTask(threshold, bytes)) df.coalesce(1) else df, keyCols)
        .drop(SeqCol, SrcCol)
      held.flatMap(_.prev).foreach(_.unpersist(blocking = false))
      val replaced = held.map(_.df)
      // a view with an equal plan (a store recreated at the same path with
      // the same segment names) would share the held view's cache entry and
      // serve its rows: release it before persisting the new one
      val same = replaced.exists(_.queryExecution.analyzed.sameResult(next.queryExecution.analyzed))
      if (same) replaced.foreach(_.unpersist(blocking = false))
      View(next.persist(StorageLevel.MEMORY_AND_DISK), if (same) None else replaced)
    }.df
    view.select(view.columns.map(c => view.col(s"`${c.replace("`", "``")}`").as(c)).toIndexedSeq: _*)
  }

  /** Fold every committed segment into one segment of per-key winners
    * ([[LwwLog]] compaction). Run out-of-band (a maintenance job), never on
    * the hot write path.
    */
  def compact(spark: SparkSession, storePath: String): Unit = {
    val log = logOf(spark, storePath)
    log.compact { (segs, tmp) =>
      val (df, keyCols, _) = stamped(spark, log, segs)
      winners(df, keyCols).write.mode("overwrite").parquet(tmp.toString)
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
