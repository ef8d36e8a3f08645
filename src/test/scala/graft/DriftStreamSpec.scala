package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Corpus
import graft.streaming.DriftStream

/** Streaming distribution-drift monitor: per-micro-batch share cards
  * diffed against a frozen reference, per-dimension TV gate, epoch
  * output idempotent under replay.
  */
class DriftStreamSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, lang: String, source: String) =
    (id, Seq.fill(10)("w").mkString(" "), lang, source)

  test("matched batch passes, skewed batch trips exactly the moved dimensions; " +
    "stream equals the batch kernel; replay idempotent; empty batch writes nothing") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("drift").toString
    // frozen reference: half en/src0, half fr/src1, all the same length
    val ref = (0L until 10L).map(i =>
      doc(i, if (i % 2 == 0) "en" else "fr", if (i % 2 == 0) "src0" else "src1"))
      .toDF("doc_id", "text", "lang", "source")
    Corpus.shareCard(ref).write.parquet(s"$base/ref")
    val refShares = spark.read.parquet(s"$base/ref")
    val outDir = s"$base/out"
    val skew = Seq(doc(200L, "de", "src9"), doc(201L, "de", "src9"))
    val input = MemoryStream[(Long, String, String, String)]
    val q = DriftStream.start(
      input.toDF().toDF("doc_id", "text", "lang", "source"),
      s"$base/ref", outDir, threshold = 0.5)
    try {
      // batch 0: the reference's own composition — nothing drifts
      input.addData(doc(100L, "en", "src0"), doc(101L, "fr", "src1"))
      q.processAllAvailable()
      // batch 1: all-German from an unseen source — lang and source trip,
      // the (unchanged) length profile does not
      input.addData(skew: _*)
      q.processAllAvailable()
    } finally q.stop()
    def log() = DriftStream.driftLog(spark, outDir)
      .select("epoch", "dim", "total_variation", "drifted").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getString(1),
        r.getDouble(2), r.getBoolean(3))).toSet
    val l0 = log()
    val e0 = l0.filter(_._1 == 0L)
    assert(e0.size == 3 && e0.forall(!_._4),
      s"matched batch must not drift on any dimension: $e0")
    assert(e0.forall(_._3 == 0.0), s"matched shares give TV 0 exactly: $e0")
    val e1 = l0.filter(_._1 == 1L)
    // lang: ref {en .5, fr .5} vs batch {de 1} → 0.5·(.5+.5+1) = 1.0
    assert(e1.contains((1L, "lang", 1.0, true)) &&
      e1.contains((1L, "source", 1.0, true)),
      s"the moved dimensions must trip at exact TV 1.0: $e1")
    assert(e1.exists(r => r._2 == "len_bucket" && r._3 == 0.0 && !r._4),
      s"the unmoved length profile must not trip: $e1")
    // the stream's epoch row IS the batch kernel's answer
    val kernel = Corpus.driftBetween(refShares,
        Corpus.shareCard(skew.toDF("doc_id", "text", "lang", "source")))
      .withColumn("drifted", col("total_variation") > 0.5)
      .select(lit(1L).as("epoch"), col("dim"), col("total_variation"),
        col("drifted")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    assert(e1 == kernel, s"stream epoch must equal the batch kernel: $e1 vs $kernel")
    // crash-replay: re-running epoch 1 overwrites its own output
    DriftStream.runBatch(skew.toDF("doc_id", "text", "lang", "source"),
      refShares, outDir, epoch = 1)
    assert(log() == l0, "replayed epoch must be idempotent")
    // an empty batch has no distribution — no row, no false alert
    DriftStream.runBatch(ref.limit(0), refShares, outDir, epoch = 7)
    assert(!log().exists(_._1 == 7L), "empty batch must write nothing")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val base = Files.createTempDirectory("driftlaw").toString
    Corpus.shareCard((0L until 10L).map(i =>
        doc(i, if (i % 2 == 0) "en" else "fr", "src0"))
      .toDF("doc_id", "text", "lang", "source")).write.parquet(s"$base/ref")
    val refShares = spark.read.parquet(s"$base/ref")
    EpochReplayLaw.check(spark, s"$base/out", Seq("drift"),
      Seq(doc(100L, "en", "src0"), doc(101L, "fr", "src0"))
        .toDF("doc_id", "text", "lang", "source"),
      Seq(doc(200L, "de", "src9")).toDF("doc_id", "text", "lang", "source"))(
      DriftStream.runBatch(_, refShares, s"$base/out", _))
  }
}
