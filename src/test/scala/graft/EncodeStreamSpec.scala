package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.EncodeStream

/** Streaming PQ-encode serving: per-micro-batch coding against FROZEN
  * persisted codebooks, epoch-idempotent output — the vector-side
  * tokenizer service, completing the frozen-artifact symmetry
  * (text encode ✓, fluency ✓, DSIR ✓, ANN ✓, PQ ✓).
  */
class EncodeStreamSpec extends SparkSpec {
  import spark.implicits._

  private val m = 2
  private val dim = 8

  test("streamed vector batches code against the frozen codebooks and equal the batch kernel per epoch") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("pqstream").toString
    // train once on a reference corpus, freeze the codebooks
    val train = Seq(
      (1L, Array.tabulate(dim)(i => if (i == 0) 10f else 1f)),
      (2L, Array.tabulate(dim)(i => if (i == 2) 10f else 1f)),
      (3L, Array.tabulate(dim)(i => if (i == 4) 10f else 1f)))
      .toDF("vec_id", "embedding")
    Similarity.trainPqCodebooks(train, m = m, k = 2, trainIters = 1, dim = dim)
      .write.parquet(s"$base/cb")
    val cb = spark.read.parquet(s"$base/cb")
    val outDir = s"$base/out"
    val input = MemoryStream[(Long, Array[Float])]
    val q = EncodeStream.start(input.toDF().toDF("vec_id", "embedding"),
      s"$base/cb", outDir, m = m, dim = dim)
    try {
      input.addData(
        (10L, Array.tabulate(dim)(i => if (i == 0) 9f else 1f)),
        (11L, Array.tabulate(dim)(i => if (i == 2) 9f else 1f)))
      q.processAllAvailable()
      // batch 1: an UNSEEN direction still codes (nearest cells — the
      // codebook is frozen, never retrained) and a zero-norm vector
      // encodes to NO row, never garbage codes
      input.addData(
        (20L, Array.tabulate(dim)(i => if (i == 6) 9f else 1f)),
        (21L, Array.fill(dim)(0f)))
      q.processAllAvailable()
      // round-13 verdict 2: compact() must REFUSE while this stream runs
      intercept[IllegalStateException] {
        EncodeStream.compact(spark, s"$base/codes0", outDir, s"$base/nb_g")
      }
    } finally q.stop()
    val out = spark.read.parquet(s"$outDir/codes")
    def key(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select("vec_id", "codes").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b0 = Seq(
      (10L, Array.tabulate(dim)(i => if (i == 0) 9f else 1f)),
      (11L, Array.tabulate(dim)(i => if (i == 2) 9f else 1f)))
      .toDF("vec_id", "embedding")
    val b1 = Seq(
      (20L, Array.tabulate(dim)(i => if (i == 6) 9f else 1f)),
      (21L, Array.fill(dim)(0f)))
      .toDF("vec_id", "embedding")
    assert(key(out.filter(col("epoch") === 0).drop("epoch")) ==
      key(Similarity.pqEncode(b0, cb, m, dim)),
      "epoch 0 must equal the batch kernel's codes")
    assert(key(out.filter(col("epoch") === 1).drop("epoch")) ==
      key(Similarity.pqEncode(b1, cb, m, dim)),
      "epoch 1 must equal the batch kernel's codes")
    val all = key(out)
    assert(all.keySet == Set(10L, 11L, 20L),
      s"zero-norm vectors must yield no row: ${all.keySet}")
    assert(all.values.forall(_.length == m), "m codes per vector")
    // commensurability: the corpus twin directions land in the same cells
    // as their training twins would
    val trainCodes = key(Similarity.pqEncode(train, cb, m, dim))
    assert(all(10L) == trainCodes(1L) && all(11L) == trainCodes(2L),
      s"frozen codebooks must place near-twins in the training vectors' cells")
    // crash-replay: re-running an epoch overwrites its own output
    EncodeStream.runBatch(b1, cb, outDir, epoch = 1L, m, dim)
    assert(key(spark.read.parquet(s"$outDir/codes")) == all,
      "replayed epoch must be idempotent")
    // compact() succeeds once the stream is stopped, checkpoint present
    // (last: it clears the outDir epoch deltas the asserts above read)
    Similarity.pqEncode(train, cb, m, dim).write.parquet(s"$base/codes0")
    EncodeStream.compact(spark, s"$base/codes0", outDir, s"$base/nb_g")
    assert(graft.sources.SnapshotStore.ready(spark, s"$base/nb_g", "compact"))
  }

  test("grown view makes streamed vectors ADC-searchable; compaction folds into a new base identically") {
    val base = Files.createTempDirectory("pqgrow").toString
    // frozen codebooks + a committed base corpus (vectors 1..3 encoded)
    val corpus = Seq(
      (1L, Array.tabulate(dim)(i => if (i == 0) 10f else 1f)),
      (2L, Array.tabulate(dim)(i => if (i == 2) 10f else 1f)),
      (3L, Array.tabulate(dim)(i => if (i == 4) 10f else 1f)))
      .toDF("vec_id", "embedding")
    Similarity.trainPqCodebooks(corpus, m = m, k = 2, trainIters = 1, dim = dim)
      .write.parquet(s"$base/cb")
    val cb = spark.read.parquet(s"$base/cb")
    Similarity.pqEncode(corpus, cb, m, dim).write.parquet(s"$base/codes")
    val outDir = s"$base/stream"
    // a streamed vector arrives: a near-twin of corpus vector 2
    val b0 = Seq((50L, Array.tabulate(dim)(i => if (i == 2) 9f else 1f)))
      .toDF("vec_id", "embedding")
    EncodeStream.runBatch(b0, cb, outDir, epoch = 0L, m, dim)
    def serve(codes: org.apache.spark.sql.DataFrame,
              floats: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopKRerankServeFrom(floats, cb, codes,
          numQueries = 3, k = 2, shortlist = 4, m = m, dim = dim)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val grownCodes = EncodeStream.withEpochs(spark,
      spark.read.parquet(s"$base/codes"), outDir, "codes")
    val grownFloats = corpus.unionByName(EncodeStream.withEpochs(spark,
      corpus.limit(0), outDir, "vectors"))
    val grown = serve(grownCodes, grownFloats)
    assert(grown.exists { case (q, v, _) => q == 2L && v == 50L },
      s"the streamed near-twin must be searchable in the grown view: $grown")
    // compaction: fold → a NEW committed base serving identically
    EncodeStream.compact(spark, s"$base/codes", outDir, s"$base/newbase")
    val compacted = serve(
      spark.read.parquet(s"$base/newbase/codes"),
      corpus.unionByName(spark.read.parquet(s"$base/newbase/vectors")))
    assert(compacted == grown,
      "post-compaction serving must equal the grown view")
    // deltas cleared; the grown view over the new base is the base itself
    assert(EncodeStream.withEpochs(spark,
        spark.read.parquet(s"$base/newbase/codes"), outDir, "codes")
      .count() == spark.read.parquet(s"$base/newbase/codes").count(),
      "compaction must clear the epoch deltas")
    // SECOND compaction (baseCodesDir = the previous fold) must carry the
    // earlier streamed FLOATS forward via baseVectorsDir — without it the
    // rerank join would silently drop vector 50 from every shortlist
    val b1 = Seq((60L, Array.tabulate(dim)(i => if (i == 0) 9f else 1f)))
      .toDF("vec_id", "embedding")
    EncodeStream.runBatch(b1, cb, outDir, epoch = 5L, m, dim)
    EncodeStream.compact(spark, s"$base/newbase/codes", outDir,
      s"$base/newbase2", baseVectorsDir = Some(s"$base/newbase/vectors"))
    val floats2 = spark.read.parquet(s"$base/newbase2/vectors")
    assert(floats2.select("vec_id").collect().map(_.getLong(0)).toSet
        == Set(50L, 60L),
      "second compaction must keep BOTH compaction generations' floats")
    val served2 = serve(spark.read.parquet(s"$base/newbase2/codes"),
      corpus.unionByName(floats2))
    assert(served2.exists { case (q, v, _) => q == 2L && v == 50L },
      s"pre-compaction streamed vector must survive a second fold: $served2")
    // a compaction with NO streamed-float base and NO vector epochs still
    // writes the vectors dir (empty) — readers rely on both dirs existing
    EncodeStream.compact(spark, s"$base/newbase2/codes",
      s"$base/empty_stream", s"$base/newbase3")
    val emptyVecs = spark.read.parquet(s"$base/newbase3/vectors")
    assert(emptyVecs.count() == 0 &&
      emptyVecs.columns.toSeq == Seq("vec_id", "embedding"),
      "vectors dir must always be written, empty frame when nothing folds")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val base = Files.createTempDirectory("pqlaw").toString
    def v(hot: Int, mag: Float) = Array.tabulate(dim)(i => if (i == hot) mag else 1f)
    Similarity.trainPqCodebooks(
        Seq((1L, v(0, 10f)), (2L, v(2, 10f)), (3L, v(4, 10f))).toDF("vec_id", "embedding"),
        m = m, k = 2, trainIters = 1, dim = dim)
      .write.parquet(s"$base/cb")
    val cb = spark.read.parquet(s"$base/cb")
    EpochReplayLaw.check(spark, s"$base/out", Seq("codes", "vectors"),
      Seq((50L, v(0, 9f)), (51L, v(2, 9f))).toDF("vec_id", "embedding"),
      Seq((60L, v(4, 9f))).toDF("vec_id", "embedding"))(
      EncodeStream.runBatch(_, cb, s"$base/out", _, m, dim))
  }
}
