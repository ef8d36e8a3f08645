package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Dedup
import graft.streaming.DeconStream

/** Streaming decontamination gate: quarantine semantics, batch kernel
  * parity, replay idempotence.
  */
class DeconStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private val bench =
    Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")

  test("batch kernel: carrier quarantined with its exact collision count, " +
    "clean and short docs pass, every row lands exactly once") {
    val bitmap = Dedup.bloomBitmap(bench)
    val out = tmp("decon-batch")
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),   // two bench 5-grams
      (2L, "all fresh never seen tokens here"),          // clean
      (3L, "tiny")                                        // < n tokens
    ).toDF("doc_id", "text")
    DeconStream.runBatch(batch, bitmap, bench, out, epoch = 0)
    val contaminated = spark.read.parquet(s"$out/contaminated")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(contaminated == Map(1L -> 2L),
      s"the carrier must quarantine with q_contamination's exact count: $contaminated")
    val clean = spark.read.parquet(s"$out/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L))
    // epoch kernel ≡ the batch composition on the same frame
    val direct = Dedup.bloomContamination(batch, bench).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(contaminated == direct)
  }

  test("stream end to end: per-epoch split, replayed epoch overwrites itself") {
    val out = tmp("decon-stream")
    val in = MemoryStream[(Long, String)]
    val q = DeconStream.start(in.toDF().toDF("doc_id", "text"), bench, out)
    try {
      in.addData((1L, "x alpha beta gamma delta epsilon y"), (2L, "clean words"))
      q.processAllAvailable()
      in.addData((3L, "more clean material arrives later"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$out/contaminated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    assert(spark.read.parquet(s"$out/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // replay: re-running epoch 0's kernel reproduces, never duplicates
    val bitmap = Dedup.bloomBitmap(bench)
    DeconStream.runBatch(
      Seq((1L, "x alpha beta gamma delta epsilon y"), (2L, "clean words"))
        .toDF("doc_id", "text"), bitmap, bench, out, epoch = 0)
    assert(spark.read.parquet(s"$out/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val out = tmp("decon-law")
    val bitmap = Dedup.bloomBitmap(bench)
    EpochReplayLaw.check(spark, out, Seq("contaminated", "clean"),
      Seq((1L, "x alpha beta gamma delta epsilon y"), (2L, "clean words"))
        .toDF("doc_id", "text"),
      Seq((3L, "alpha beta gamma delta epsilon zeta"), (4L, "more clean material"))
        .toDF("doc_id", "text"))(
      DeconStream.runBatch(_, bitmap, bench, out, _))
  }
}
