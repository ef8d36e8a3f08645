package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Passage
import graft.streaming.PassageStream

/** Streaming passage-retrieval serving: per-micro-batch diversity-capped
  * top-k against a persisted passage family, epoch-partitioned
  * idempotent output; epoch ≡ batch kernel.
  */
class PassageStreamSpec extends SparkSpec {
  import spark.implicits._

  private def passageDir(): (String, Passage.PassageTables) = {
    val base = Files.createTempDirectory("passagestream").toString
    Passage.persistPassage(
      spark.read.parquet(s"$sf/documents.parquet"), s"$base/passage", stamp = "s")
    (base, Passage.loadPassage(spark, s"$base/passage"))
  }

  test("streamed passage queries answer from the family and equal the batch kernel per epoch") {
    implicit val sqlCtx = spark.sqlContext
    val (base, t) = passageDir()
    val input = MemoryStream[(Long, String)]
    val q = PassageStream.start(input.toDF().toDF("query_id", "query_text"),
      s"$base/passage", s"$base/out")
    val b0 = Seq((100L, "event stream processing"), (101L, "vector similarity"))
    val b1 = Seq((200L, "data quality filter"))
    try {
      input.addData(b0: _*)
      q.processAllAvailable()
      input.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double, Long)] =
      df.select("query_id", "doc_id", "chunk_id", "cosine", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4))).toSet
    val out = spark.read.parquet(s"$base/out/passages")
    assert(key(out.filter(col("epoch") === 0).drop("epoch")) ==
      key(Passage.passageTopKForQueries(t.vectors, t.bands,
        b0.toDF("query_id", "query_text"))),
      "epoch 0 must equal the batch kernel's answer")
    assert(key(out.filter(col("epoch") === 1).drop("epoch")) ==
      key(Passage.passageTopKForQueries(t.vectors, t.bands,
        b1.toDF("query_id", "query_text"))),
      "epoch 1 must equal the batch kernel's answer")
    // crash-replay idempotence: re-running an epoch overwrites its output
    val before = key(out)
    PassageStream.runBatch(b1.toDF("query_id", "query_text"), t,
      s"$base/out", epoch = 1L)
    assert(key(spark.read.parquet(s"$base/out/passages")) == before,
      "replayed epoch must be idempotent")
  }

  test("the diversity cap holds on streamed answers") {
    implicit val sqlCtx = spark.sqlContext
    val (base, t) = passageDir()
    val input = MemoryStream[(Long, String)]
    val q = PassageStream.start(input.toDF().toDF("query_id", "query_text"),
      s"$base/passage", s"$base/out2")
    try {
      input.addData((1L, "alpha beta gamma"))
      q.processAllAvailable()
    } finally q.stop()
    val perDoc = spark.read.parquet(s"$base/out2/passages")
      .groupBy("query_id", "doc_id").count().filter(col("count") > 2)
    assert(perDoc.count() == 0)
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val (base, t) = passageDir()
    EpochReplayLaw.check(spark, s"$base/out", Seq("passages"),
      Seq((100L, "event stream processing")).toDF("query_id", "query_text"),
      Seq((200L, "data quality filter"), (201L, "vector similarity"))
        .toDF("query_id", "query_text"))(
      PassageStream.runBatch(_, t, s"$base/out", _))
  }
}
