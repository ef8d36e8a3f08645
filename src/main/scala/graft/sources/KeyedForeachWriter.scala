package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row-level keyed sink implementing the reference's only custom extension
  * point: the DynamoDB `ForeachWriter` (consumer
  * `SparkDynamoDBConsumer.java:202-283`) with its full lifecycle contract —
  *
  *  - `open(partitionId, epochId)` acquires the per-partition "connection"
  *    (here: a write buffer + the store handle; the reference builds its
  *    DynamoDB client per partition) and returns **false to skip the
  *    partition** when this (writer, partition) already committed the
  *    epoch — under a live marker for exactly that epoch, or at or below
  *    its `_txn` fence: the replay-idempotence half of effectively-once
  *    (T7);
  *  - `process(row)` stages one keyed record; any exception propagates —
  *    Spark fails the task and retries it, re-invoking `open` for the same
  *    epoch (the reference's rethrow-to-retry, consumer :258-271) (T8);
  *  - `close(error)` commits on success and leaves NOTHING on failure, so
  *    a half-written attempt is invisible to readers and to the retry.
  *
  * The commit protocol is [[LwwLog]]'s. Format: partition log
  * `data/<writer>-<epoch>-<part>.log` committed under
  * `commits/<seq>__<writer>-<epoch>-<part>` (round-5 markers lack the
  * `<seq>__` prefix, pre-round-5 ones also the writer); compacted logs
  * `compact-<maxSeq>[-n].log` commit under `<maxSeq>__compact-<maxSeq>[-n]`.
  * The fence key is `<writer>__<part>`; the writer is the owning query's
  * durable queryId, read on the executor from the task's local properties
  * (`default` for driver-side/ad-hoc use). Rows carry the producer wire
  * shape `(key: String, value: String)`
  * ([[graft.streaming.EventStreamSource.toKafkaRecords]]);
  * [[KeyedForeachWriter.read]] resolves last-writer-wins per key —
  * DynamoDB putItem semantics over an append-only log.
  */
class KeyedForeachWriter(storeDir: String) extends ForeachWriter[Row] {

  @transient private var buf: scala.collection.mutable.ArrayBuffer[String] = _
  private var part: Long = -1L
  private var epoch: Long = -1L
  private var seq: Long = 0L
  private var writer: String = _

  private def log =
    KeyedForeachWriter.logOf(new Path(storeDir).getFileSystem(new Configuration()), storeDir)
  private def core = s"$writer-$epoch-$part"

  override def open(partitionId: Long, epochId: Long): Boolean = {
    part = partitionId; epoch = epochId; seq = 0L
    writer = LwwLog.sanitize(Option(TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty(StreamExecution.QUERY_ID_KEY)))
      .getOrElse(LwwLog.DefaultWriter))
    val l = log
    l.init()
    val key = s"${writer}__$part"
    if (l.markers().flatMap(l.fenceOf).contains((key, epoch)) ||
        l.txnEpoch(key).exists(epoch <= _)) {
      false // epoch already durable for this (writer, partition): replay, skip
    } else {
      buf = new scala.collection.mutable.ArrayBuffer[String]
      true
    }
  }

  override def process(row: Row): Unit = {
    // staged as (seq, key, value); close() prefixes the commit-time fields.
    // A thrown exception here fails the task — Spark retries the partition
    // and close(error) below guarantees the aborted attempt left no trace.
    buf += Seq(seq.toString, row.getAs[String]("key"), row.getAs[String]("value"))
      .mkString(KeyedForeachWriter.Sep)
    seq += 1L
  }

  override def close(errorOrNull: Throwable): Unit = {
    if (errorOrNull != null || buf == null) { buf = null; return }
    val l = log
    val cseq = l.claim()
    val marker = s"${cseq}__$core"
    val prefix = Seq(cseq.toString, writer, epoch.toString, part.toString)
      .mkString(KeyedForeachWriter.Sep) + KeyedForeachWriter.Sep
    val out = l.fs.create(l.tmpPath(marker), true)
    out.write(buf.map(prefix + _).mkString("\n").getBytes(UTF_8))
    out.close()
    l.commit(marker)
    buf = null
  }
}

object KeyedForeachWriter {

  /** Field separator (0x01 — cannot appear in the JSON wire values). */
  val Sep: String = "\u0001"

  /** (`<writer>__<part>`, epoch) of a `<writer>-<epoch>-<part>` tag, parsed
    * from the end (writer ids may contain dashes); a pre-round-5
    * `<epoch>-<part>` tag has no writer: `default`.
    */
  private def tagFence(tag: String): Option[(String, Long)] = {
    val a = tag.split("-")
    val (w, ep) =
      if (a.length >= 3) (a.dropRight(2).mkString("-"), a.takeRight(2)) else (LwwLog.DefaultWriter, a)
    ep match {
      case Array(e, p) => for (e <- e.toLongOption; p <- p.toLongOption) yield (s"${w}__$p", e)
      case _ => None
    }
  }

  private def logOf(fs: FileSystem, storeDir: String): LwwLog = new LwwLog(fs, storeDir, "data",
    m => s"${LwwLog.tag(m)}.log", (maxSeq, name) => s"${maxSeq}__$name", tagFence)

  private def logOf(spark: SparkSession, storeDir: String): LwwLog =
    logOf(new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration), storeDir)

  /** Last-writer-wins view of the append-only store: per key, the row with
    * the highest (commitSeq, epoch, writer, partition, seq) — the
    * reader-side equivalent of DynamoDB putItem upserts. The store-assigned
    * commitSeq makes the order WALL-CLOCK-faithful across writers (a
    * recreated checkpoint's epoch-0 rows beat the old writer's high
    * epochs); the remainder is exact within a writer and deterministic
    * everywhere (concurrent partitions that allocated one sequence break
    * ties on (epoch, writer, partition, seq)).
    *
    * Reads are MARKER-DRIVEN: only data files named by a commit marker are
    * visible, so a crash between the data rename and the marker creation
    * leaves nothing a reader can observe (previously every `.log` under
    * `data/` was globbed, leaking that window).
    *
    * Record layouts (arity-branched; round-6 ADVICE-2 — the round-5 reader
    * misparsed old logs instead of handling them):
    *  - 7 fields: commitSeq, writer, epoch, part, seq, key, value
    *  - 5 fields (round 5): writer, epoch, seq, key, value → commitSeq -1
    *  - 4 fields (pre-round-5): epoch, seq, key, value → writer `default`
    */
  def read(spark: SparkSession, storeDir: String): DataFrame = {
    val l = logOf(spark, storeDir)
    winners(spark, l, l.markers()).select("key", "value")
  }

  /** Per-key winners WITH their full (cseq, writer, epoch, part, seq)
    * stamps — shared by [[read]] and [[compact]] so LWW tie-breaking can
    * never diverge between them (the [[KeyedUpsertSink]] arrangement).
    */
  private def winners(spark: SparkSession, l: LwwLog, markers: Seq[String]): DataFrame = {
    val files = markers.map(l.dataPath(_).toString).distinct
    require(files.nonEmpty, s"no committed logs at ${l.store}")
    val parts = split(col("line"), Sep)
    val arity = size(parts)
    // Every layout ever written has arity exactly 7, 5, or 4 — any other
    // count is a corrupt/truncated line, REJECTED below rather than
    // misparsed as the 4-field legacy layout (a 6- or 8-field fragment
    // routed through the legacy branch would fabricate stamps/keys and
    // could win LWW for a garbage key — round-7 ADVICE).
    val field = (i7: Int, i5: Int, i4: Int, dflt: Column) =>
      when(arity === 7, parts.getItem(i7))
        .when(arity === 5, if (i5 >= 0) parts.getItem(i5) else dflt)
        .when(arity === 4, if (i4 >= 0) parts.getItem(i4) else dflt)
    val w = Window.partitionBy("key")
      .orderBy(col("cseq").desc, col("epoch").desc, col("writer").desc,
        col("part").desc, col("seq").desc)
    spark.read.textFile(files: _*).toDF("line")
      .filter(length(col("line")) > 0)
      .filter(arity.isin(7, 5, 4))
      .select(
        field(0, -1, -1, lit("-1")).cast("long").as("cseq"),
        field(1, 0, -1, lit("default")).as("writer"),
        field(2, 1, 0, lit(null)).cast("long").as("epoch"),
        field(3, -1, -1, lit("-1")).cast("long").as("part"),
        field(4, 2, 1, lit(null)).cast("long").as("seq"),
        field(5, 3, 2, lit(null)).as("key"),
        field(6, 4, 3, lit(null)).as("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Fold every committed partition log into ONE compacted log of per-key
    * winners ([[LwwLog]] compaction), bounding read amplification as
    * [[KeyedUpsertSink.compact]] does for the columnar store. Run
    * out-of-band.
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val l = logOf(spark, storeDir)
    l.compact { (markers, tmp) =>
      // corrupt-arity rows parse to null fields and cannot re-encode; they
      // never won a read either (null keys group apart), so drop them here
      winners(spark, l, markers)
        .filter(col("key").isNotNull && col("value").isNotNull &&
          col("epoch").isNotNull && col("seq").isNotNull)
        .select(concat_ws(Sep, col("cseq"), col("writer"), col("epoch"),
          col("part"), col("seq"), col("key"), col("value")).as("value"))
        .write.mode("overwrite").text(tmp.toString)
    }
  }

  /** Committed log count (compaction/test observability). */
  def logCount(spark: SparkSession, storeDir: String): Int =
    logOf(spark, storeDir).markers().size
}
