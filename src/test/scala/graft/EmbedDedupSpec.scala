package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.EmbedDedup

/** Streaming embedding-ingest near-dedup: per-micro-batch
  * [[Similarity.annDedupDelta]] against a persisted vector signature
  * index that GROWS with the stream, epoch-partitioned idempotent output
  * — the [[CrawlDedupSpec]] contract on the vector side (round-11
  * verdict next-round 3).
  */
class EmbedDedupSpec extends SparkSpec {
  import spark.implicits._

  private val D = 8

  /** A deterministic unit-ish vector pointing mostly along `axis`. */
  private def vec(axis: Int, jitter: Float = 0f): Array[Float] =
    Array.tabulate(D)(i => (if (i == axis) 10f else 0f) +
      (if (i == (axis + 1) % D) jitter else 0f))

  test("ingest batches dedup against the persisted index AND earlier batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("embed").toString
    val corpus = Seq((1L, vec(0)), (2L, vec(2))).toDF("vec_id", "embedding")
    Similarity.buildAnnIndex(corpus).write.parquet(s"$base/index")
    val outDir = s"$base/out"
    val input = MemoryStream[(Long, Array[Float])]
    val q = EmbedDedup.start(input.toDF().toDF("vec_id", "embedding"),
      s"$base/index", outDir, threshold = 0.9, dim = D)
    try {
      // batch 0: exact copy of corpus vec 1, near-dup of corpus vec 2
      // (small orthogonal jitter → cosine ≈ 0.995 ≥ 0.9), one novel
      // direction (orthogonal → cosine 0)
      input.addData((10L, vec(0)), (11L, vec(2, jitter = 1f)), (12L, vec(4)))
      q.processAllAvailable()
      // batch 1: exact copy of batch 0's novel vector (CROSS-BATCH — only
      // the appended index delta can catch it) + a genuinely novel one
      input.addData((20L, vec(4)), (21L, vec(6)))
      q.processAllAvailable()
      val clean = spark.read.parquet(s"$outDir/clean")
        .select("vec_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet
      assert(clean == Set((12L, 0L), (21L, 1L)),
        s"only the two novel vectors survive, in their own epochs: $clean")
      val pairs = spark.read.parquet(s"$outDir/pairs").collect()
        .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("delta_id"),
          r.getAs[Double]("cosine"), r.getAs[Number]("epoch").longValue()))
      assert(pairs.exists(p => p._1 == 1L && p._2 == 10L && p._3 == 1.0 && p._4 == 0L),
        s"exact corpus dup must pair at cosine 1.0 in epoch 0: ${pairs.mkString(", ")}")
      assert(pairs.exists(p => p._1 == 2L && p._2 == 11L && p._3 >= 0.9 && p._3 < 1.0 && p._4 == 0L),
        s"near corpus dup must pair in epoch 0: ${pairs.mkString(", ")}")
      assert(pairs.exists(p => p._1 == 12L && p._2 == 20L && p._3 == 1.0 && p._4 == 1L),
        s"cross-batch dup must pair against the APPENDED index in epoch 1: ${pairs.mkString(", ")}")
      assert(pairs.length == 3, s"exactly three dup pairs expected: ${pairs.mkString(", ")}")
      // round-13 verdict 2: compact() must REFUSE while this stream runs
      intercept[IllegalStateException] {
        EmbedDedup.compact(spark, s"$base/index", outDir, s"$base/index_g")
      }
    } finally q.stop()
    // …and succeed once the stream is stopped, same checkpoint present
    EmbedDedup.compact(spark, s"$base/index", outDir, s"$base/index_g")
    assert(graft.sources.SnapshotStore.ready(spark, s"$base/index_g", "compact"))
  }

  test("stream epoch equals the batch kernel run directly on the same rows") {
    val base = Files.createTempDirectory("embedparity").toString
    val corpus = Seq((1L, vec(0)), (2L, vec(2))).toDF("vec_id", "embedding")
    Similarity.buildAnnIndex(corpus).write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    val b0 = Seq((10L, vec(0)), (11L, vec(2, jitter = 1f)), (12L, vec(4)))
      .toDF("vec_id", "embedding")
    EmbedDedup.runBatch(b0, baseIndex, s"$base/out", epoch = 0L,
      threshold = 0.9, dim = D)
    val streamed = spark.read.parquet(s"$base/out/pairs")
      .select("corpus_id", "delta_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Similarity.annDedupDelta(baseIndex, b0, 0.9, dim = D)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == direct, s"epoch ≡ batch kernel: $streamed vs $direct")
  }

  test("a replayed epoch reproduces its output instead of self-matching (crash recovery)") {
    val base = Files.createTempDirectory("embedreplay").toString
    val corpus = Seq((1L, vec(0))).toDF("vec_id", "embedding")
    Similarity.buildAnnIndex(corpus).write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    val outDir = s"$base/out"
    val b0 = Seq((10L, vec(4))).toDF("vec_id", "embedding")
    val b1 = Seq((20L, vec(4)), (21L, vec(6))).toDF("vec_id", "embedding")
    EmbedDedup.runBatch(b0, baseIndex, outDir, epoch = 0L, dim = D)
    EmbedDedup.runBatch(b1, baseIndex, outDir, epoch = 1L, dim = D)
    def state(): (Set[(Long, Long)], Set[(Long, Long, Long)]) = (
      spark.read.parquet(s"$outDir/clean").select("vec_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet,
      spark.read.parquet(s"$outDir/pairs").select("corpus_id", "delta_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("epoch").longValue())).toSet)
    val before = state()
    assert(before._1 == Set((10L, 0L), (21L, 1L)) && before._2 == Set((10L, 20L, 1L)),
      s"precondition: cross-batch dup caught, novels kept: $before")
    // crash-replay epoch 1: its own index delta already exists on disk —
    // the strictly-earlier-epoch filter must keep the batch from
    // self-matching (which would empty the clean set)
    EmbedDedup.runBatch(b1, baseIndex, outDir, epoch = 1L, dim = D)
    assert(state() == before, s"replay must be idempotent: ${state()} vs $before")
  }

  test("candidates are bounded by distinct vectors; zero-norm rows pass through unpaired") {
    val base = Files.createTempDirectory("embedbound").toString
    // a 10×-duplicated corpus vector: rep-collapse must keep the
    // candidate pairs at rep level until the final expansion
    val corpus = ((0 until 10).map(i => (100L + i, vec(0))) :+ ((1L, vec(2))))
      .toDF("vec_id", "embedding")
    Similarity.buildAnnIndex(corpus).write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    val delta = Seq((10L, vec(0, jitter = 1f)), (11L, Array.fill(D)(0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.annDedupDelta(baseIndex, delta, 0.9, dim = D)
    // expansion emits all 10 member pairs (inherent OUTPUT size)...
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0 until 10).map(i => (100L + i, 10L)).toSet,
      s"every member of the dup group pairs with the near delta vector: $got")
    // ...but the zero-norm delta row pairs with nothing (cosine-undefined)
    assert(!got.exists(_._2 == 11L), "zero vector must never pair")
    // and it passes through clean in the stream path
    EmbedDedup.runBatch(delta, baseIndex, s"$base/out", epoch = 0L,
      threshold = 0.9, dim = D)
    val clean = spark.read.parquet(s"$base/out/clean")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(11L), s"only the zero vector survives: $clean")
  }

  test("index compaction folds deltas into a new base: later batches still catch old dups") {
    val base = Files.createTempDirectory("embedcompact").toString
    val corpus = Seq((1L, vec(0))).toDF("vec_id", "embedding")
    Similarity.buildAnnIndex(corpus).write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    val outDir = s"$base/out"
    EmbedDedup.runBatch(Seq((10L, vec(4))).toDF("vec_id", "embedding"),
      baseIndex, outDir, epoch = 0L, dim = D)
    EmbedDedup.compact(spark, s"$base/index", outDir, s"$base/index2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$outDir/index_delta")), "deltas must be cleared")
    val newBase = spark.read.parquet(s"$base/index2/index")
    EmbedDedup.runBatch(
      Seq((20L, vec(0)), (21L, vec(4)), (22L, vec(6)))
        .toDF("vec_id", "embedding"), newBase, outDir, epoch = 1L, dim = D)
    val clean = spark.read.parquet(s"$outDir/clean")
      .filter(col("epoch") === 1).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(22L),
      s"dups of the corpus AND of pre-compaction epochs must drop: $clean")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val base = Files.createTempDirectory("embedlaw").toString
    Similarity.buildAnnIndex(Seq((1L, vec(0))).toDF("vec_id", "embedding"))
      .write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    EpochReplayLaw.check(spark, s"$base/out", Seq("pairs", "clean", "index_delta"),
      Seq((10L, vec(4)), (11L, vec(0))).toDF("vec_id", "embedding"),
      Seq((20L, vec(4)), (21L, vec(6))).toDF("vec_id", "embedding"))(
      EmbedDedup.runBatch(_, baseIndex, s"$base/out", _, threshold = 0.9, dim = D))
  }
}
