package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Passage
import graft.streaming.ChunkStream

/** Streaming passage-index growth: epoch deltas ≡ the batch chunk/embed/
  * band kernels, a streamed document's passages retrievable through the
  * grown view, crash-replay idempotence, and compaction identity with a
  * re-derived default answer.
  */
class ChunkStreamSpec extends SparkSpec {
  import spark.implicits._

  private def text(tag: String, n: Int = 40): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  private def baseFamily(): (String, Passage.PassageTables) = {
    val base = Files.createTempDirectory("chunkstream").toString
    Passage.persistPassage(
      Seq((1L, text("alpha")), (2L, text("beta"))).toDF("doc_id", "text"),
      s"$base/passage", stamp = "spec")
    (base, Passage.loadPassage(spark, s"$base/passage"))
  }

  test("epoch deltas equal the batch kernels; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val (base, _) = baseFamily()
    val input = MemoryStream[(Long, String)]
    val q = ChunkStream.start(input.toDF().toDF("doc_id", "text"), s"$base/out")
    val b0 = Seq((100L, text("gamma")), (101L, text("delta", 10)))
    try {
      input.addData(b0: _*)
      q.processAllAvailable()
    } finally q.stop()
    val gotV = spark.read.parquet(s"$base/out/vectors_delta/epoch=0")
    val expV = Passage.chunkVectors(b0.toDF("doc_id", "text"))
    assert(gotV.exceptAll(expV).isEmpty && expV.exceptAll(gotV).isEmpty)
    val gotB = spark.read.parquet(s"$base/out/bands_delta/epoch=0")
    val expB = Passage.chunkBands(expV)
    assert(gotB.exceptAll(expB).isEmpty && expB.exceptAll(gotB).isEmpty)
    // crash replay: re-running the epoch overwrites its own output
    ChunkStream.runBatch(b0.toDF("doc_id", "text"), s"$base/out", epoch = 0L)
    val replayV = spark.read.parquet(s"$base/out/vectors_delta/epoch=0")
    assert(replayV.exceptAll(expV).isEmpty && expV.exceptAll(replayV).isEmpty)
  }

  test("a streamed document's passages answer queries through the grown view") {
    implicit val sqlCtx = spark.sqlContext
    val (base, bt) = baseFamily()
    val input = MemoryStream[(Long, String)]
    val q = ChunkStream.start(input.toDF().toDF("doc_id", "text"), s"$base/out")
    try {
      input.addData((200L, text("fresh")))
      q.processAllAvailable()
    } finally q.stop()
    val grown = ChunkStream.grownTables(spark, bt, s"$base/out")
    val reqText = (1 to 32).map(i => s"fresh$i").mkString(" ") // chunk 0 of doc 200
    val top = Passage.passageTopKForQueries(grown.vectors, grown.bands,
        Seq((9L, reqText)).toDF("query_id", "query_text"))
      .filter(col("rank") === 1).collect()(0)
    assert(top.getLong(1) == 200L && top.getLong(2) == 0L,
      s"streamed chunk must serve at rank 1: $top")
    // the frozen base alone must NOT know the streamed doc
    val baseTop = Passage.passageTopKForQueries(bt.vectors, bt.bands,
        Seq((9L, reqText)).toDF("query_id", "query_text"))
      .filter(col("doc_id") === 200L)
    assert(baseTop.count() == 0)
  }

  test("compaction folds deltas into a new base, re-derives topk, and clears deltas") {
    implicit val sqlCtx = spark.sqlContext
    val (base, bt) = baseFamily()
    val input = MemoryStream[(Long, String)]
    val q = ChunkStream.start(input.toDF().toDF("doc_id", "text"), s"$base/out")
    try {
      input.addData((300L, text("epsilon")))
      q.processAllAvailable()
      // round-13 verdict 2: compact() must REFUSE while this stream runs
      intercept[IllegalStateException] {
        ChunkStream.compact(spark, s"$base/passage", s"$base/out",
          s"$base/passage_g")
      }
    } finally q.stop()
    val grown = ChunkStream.grownTables(spark, bt, s"$base/out")
    // MATERIALIZE before compacting: the grown frame reads the delta
    // files compaction deletes (the IvfStreamSpec lazy-frame lesson)
    val beforeServe = Passage.passageTopKForQueries(grown.vectors, grown.bands,
        Seq((9L, (1 to 32).map(i => s"epsilon$i").mkString(" ")))
          .toDF("query_id", "query_text"))
      .collect().map(_.toSeq).toSet
    ChunkStream.compact(spark, s"$base/passage", s"$base/out", s"$base/passage2",
      stamp = "c1")
    assert(graft.sources.SnapshotStore.ready(spark, s"$base/passage2", "c1"))
    val nb = Passage.loadPassage(spark, s"$base/passage2")
    // serving from the compacted base is identical to the grown view
    val afterServe = Passage.passageTopKForQueries(nb.vectors, nb.bands,
        Seq((9L, (1 to 32).map(i => s"epsilon$i").mkString(" ")))
          .toDF("query_id", "query_text"))
      .collect().map(_.toSeq).toSet
    assert(afterServe == beforeServe)
    // the default answers reflect the folded corpus exactly
    val expTopk = Passage.passageTopKServeFrom(nb.vectors, nb.bands)
    assert(nb.topk.exceptAll(expTopk).isEmpty && expTopk.exceptAll(nb.topk).isEmpty)
    val expLi = Passage.lateInteractionTopK(nb.vectors, nb.bands)
    assert(nb.liTopk.exceptAll(expLi).isEmpty && expLi.exceptAll(nb.liTopk).isEmpty)
    // deltas cleared: the grown view over the NEW base is the base itself
    val regrown = ChunkStream.grownTables(spark, nb, s"$base/out")
    assert(regrown.vectors.exceptAll(nb.vectors).isEmpty &&
      nb.vectors.exceptAll(regrown.vectors).isEmpty)
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val outDir = Files.createTempDirectory("chunklaw").toString + "/out"
    EpochReplayLaw.check(spark, outDir, Seq("vectors_delta", "bands_delta"),
      Seq((100L, text("gamma"))).toDF("doc_id", "text"),
      Seq((101L, text("delta", 10)), (102L, text("eps"))).toDF("doc_id", "text"))(
      ChunkStream.runBatch(_, outDir, _))
  }
}
