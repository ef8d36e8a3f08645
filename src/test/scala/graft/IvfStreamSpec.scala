package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.IvfStream

/** Streaming IVF inverted-list growth (round-12 verdict next-round 2):
  * streamed vectors route into the frozen cell geometry per micro-batch,
  * the grown lists serve them immediately, replay is idempotent, and
  * compaction folds into a new committed index dir serving identically.
  */
class IvfStreamSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private def vec(hot: Int, mag: Float): Array[Float] =
    Array.tabulate(dim)(j => if (j == hot) mag else 1f)

  test("streamed near-twins become IVF-searchable; epochs equal the batch kernel; zero-norm drops; replay idempotent; compaction identical") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("ivfstream").toString
    val corpus = (0L until 10L)
      .map(i => (i, vec(i.toInt * 6, 10f), (i % 4).toInt))
      .toDF("vec_id", "embedding", "label")
    corpus.write.parquet(s"$base/embeddings.parquet")
    Similarity.persistIndex(spark.read.parquet(s"$base/embeddings.parquet"),
      s"$base/index", stamp = "spec", probeDepth = 4, pairNprobe = 4)
    val (idx, lists) = Similarity.loadIndex(spark, s"$base/index")
    val outDir = s"$base/stream"
    val input = MemoryStream[(Long, Array[Float])]
    val q = IvfStream.start(input.toDF().toDF("vec_id", "embedding"),
      s"$base/index", outDir)
    try {
      input.addData((50L, vec(0, 9f))) // near-twin of corpus vec 0
      q.processAllAvailable()
      // batch 1: a twin of vec 1 plus a zero-norm vector (must drop)
      input.addData((60L, vec(6, 9f)), (61L, Array.fill(dim)(0f)))
      q.processAllAvailable()
      // round-13 verdict 2: compact() must REFUSE while this stream runs
      // (the post-stop compact below proves the stopped path succeeds)
      intercept[IllegalStateException] {
        IvfStream.compact(spark, s"$base/index", outDir, s"$base/index2")
      }
    } finally q.stop()

    def keyed(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("vec_id", "centroid_id", "cell_rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue()))
        .toSet
    // every epoch equals the batch kernel run directly
    val b0 = Seq((50L, vec(0, 9f))).toDF("vec_id", "embedding")
    val b1 = Seq((60L, vec(6, 9f)), (61L, Array.fill(dim)(0f)))
      .toDF("vec_id", "embedding")
    assert(keyed(spark.read.parquet(s"$outDir/lists_delta/epoch=0")) ==
      keyed(Similarity.ivfAssignDelta(b0, idx, probeDepth = 4)),
      "epoch 0 must equal the batch kernel's routing")
    assert(keyed(spark.read.parquet(s"$outDir/lists_delta/epoch=1")) ==
      keyed(Similarity.ivfAssignDelta(b1, idx, probeDepth = 4)),
      "epoch 1 must equal the batch kernel's routing")
    val grown = IvfStream.grownLists(spark, lists, outDir)
    val grownIds = grown.select("vec_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(grownIds == (0L until 10L).toSet + 50L + 60L,
      s"grown lists must carry corpus + streamed clean vectors: $grownIds")
    assert(!grownIds.contains(61L), "zero-norm vectors must never route")

    // the streamed near-twin is found by the standard serving kernel over
    // the grown lists — the vector is searchable the epoch after arrival.
    // (queries derive from the BASE lists, which no later mutation
    // touches — a frame lazily derived from the grown view would hold
    // pre-compaction delta files in its resolved scan)
    val queries = lists
      .filter(col("cell_rank") === 1 && col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"))
    def served(ls: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      Similarity.ivfTopKServe(idx, ls, queries, k = 3, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val grownServe = served(grown)
    assert(grownServe.exists { case (q0, v, _) => q0 == 0L && v == 50L },
      s"the streamed near-twin must rank for its corpus twin: $grownServe")
    // materialize the grown view's rows BEFORE replay/compaction mutate
    // the delta files underneath the lazy frame
    val grownKeys = keyed(grown)

    // replay: re-running an epoch overwrites its own output
    IvfStream.runBatch(b1, idx, outDir, epoch = 1L, probeDepth = 4)
    assert(keyed(IvfStream.grownLists(spark, lists, outDir)) == grownKeys,
      "replayed epoch must be idempotent")

    // compaction: a new committed index dir serves identically, deltas
    // cleared, frozen centroids carried over unchanged
    IvfStream.compact(spark, s"$base/index", outDir, s"$base/index2")
    val (idx2, lists2) = Similarity.loadIndex(spark, s"$base/index2")
    assert(keyed(lists2) == grownKeys,
      "compacted lists must equal the grown view")
    assert(served(lists2) == grownServe,
      "post-compaction serving must equal the grown view")
    assert(idx2.fine.collect().map(_.getLong(1)).toSet ==
      idx.fine.collect().map(_.getLong(1)).toSet,
      "compaction must not retrain the frozen geometry")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$outDir/lists_delta")), "deltas must clear")
    // the stream keeps appending fresh epochs against the new base
    IvfStream.runBatch(Seq((70L, vec(12, 9f))).toDF("vec_id", "embedding"),
      idx2, outDir, epoch = 2L, probeDepth = 4)
    val resumed = IvfStream.grownLists(spark, lists2, outDir)
    assert(resumed.select("vec_id").distinct().count() == grownIds.size + 1,
      "post-compaction epochs must keep accumulating")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val base = Files.createTempDirectory("ivflaw").toString
    (0L until 10L).map(i => (i, vec(i.toInt * 6, 10f), (i % 4).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$base/embeddings.parquet")
    Similarity.persistIndex(spark.read.parquet(s"$base/embeddings.parquet"),
      s"$base/index", stamp = "spec", probeDepth = 4, pairNprobe = 4)
    val (idx, _) = Similarity.loadIndex(spark, s"$base/index")
    EpochReplayLaw.check(spark, s"$base/stream", Seq("lists_delta"),
      Seq((50L, vec(0, 9f))).toDF("vec_id", "embedding"),
      Seq((51L, vec(6, 9f)), (52L, vec(12, 9f))).toDF("vec_id", "embedding"))(
      IvfStream.runBatch(_, idx, s"$base/stream", _))
  }
}
