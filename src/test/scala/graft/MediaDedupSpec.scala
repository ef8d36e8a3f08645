package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.streaming.MediaDedup

/** Streaming media-ingest dedup: per-micro-batch perceptual-hash matching
  * against a hash index that GROWS with the stream, epoch-idempotent
  * output — the CrawlDedup discipline on the image side.
  */
class MediaDedupSpec extends SparkSpec {
  import spark.implicits._

  private def text(tag: String): String = (1 to 40).map(i => s"$tag$i").mkString(" ")
  private def mediaDf(rows: Seq[(Long, String)]) =
    rows.toDF("media_id", "text")
      .select(col("media_id"), lit("image").as("kind"),
        col("text").cast("binary").as("payload"))

  test("media batches dedup by fingerprint against the index AND earlier batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("mediadedup").toString
    Multimodal.mediaPhash(mediaDf(Seq((1L, text("alpha")), (2L, text("beta")))))
      .write.parquet(s"$base/index")
    val outDir = s"$base/out"
    val input = MemoryStream[(Long, String)]
    val streamMedia = input.toDF().toDF("media_id", "text")
      .select(col("media_id"), lit("image").as("kind"),
        col("text").cast("binary").as("payload"))
    val q = MediaDedup.start(streamMedia, s"$base/index", outDir)
    try {
      // batch 0: exact copy of corpus media 1; a tail-edited re-encode of
      // corpus media 2 (edit beyond the hash window -> hamming 0); one novel
      val nearBeta = (text("beta").split(" ").dropRight(2) :+ "zz" :+ "qq").mkString(" ")
      input.addData((10L, text("alpha")), (11L, nearBeta), (12L, text("qwerty")))
      q.processAllAvailable()
      // batch 1: exact dup of batch 0's novel (cross-batch — only the
      // appended hash delta can catch it) + one genuinely novel
      input.addData((20L, text("qwerty")), (21L, text("zxcvbn")))
      q.processAllAvailable()
      val clean = spark.read.parquet(s"$outDir/clean")
        .select("media_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet
      assert(clean == Set((12L, 0L), (21L, 1L)),
        s"only the two novel media survive, in their own epochs: $clean")
      val pairs = spark.read.parquet(s"$outDir/pairs").collect()
        .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("delta_id"),
          r.getAs[Long]("hamming"), r.getAs[Number]("epoch").longValue()))
      assert(pairs.exists(p => p._1 == 1L && p._2 == 10L && p._3 == 0L && p._4 == 0L),
        s"exact corpus dup must pair in epoch 0: ${pairs.mkString(", ")}")
      assert(pairs.exists(p => p._1 == 2L && p._2 == 11L && p._3 <= 5L && p._4 == 0L),
        s"re-encoded corpus dup must pair in epoch 0: ${pairs.mkString(", ")}")
      assert(pairs.exists(p => p._1 == 12L && p._2 == 20L && p._3 == 0L && p._4 == 1L),
        s"cross-batch dup must pair against the APPENDED index in epoch 1: ${pairs.mkString(", ")}")
    } finally q.stop()
  }

  test("a replayed epoch reproduces its output instead of self-matching (crash recovery)") {
    val base = Files.createTempDirectory("mediareplay").toString
    Multimodal.mediaPhash(mediaDf(Seq((1L, text("alpha")))))
      .write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    val outDir = s"$base/out"
    val b0 = mediaDf(Seq((10L, text("qwerty"))))
    val b1 = mediaDf(Seq((20L, text("qwerty")), (21L, text("zxcvbn"))))
    MediaDedup.runBatch(b0, baseIndex, outDir, epoch = 0L)
    MediaDedup.runBatch(b1, baseIndex, outDir, epoch = 1L)
    def state(): (Set[(Long, Long)], Set[(Long, Long, Long)]) = (
      spark.read.parquet(s"$outDir/clean").select("media_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet,
      spark.read.parquet(s"$outDir/pairs").select("corpus_id", "delta_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("epoch").longValue())).toSet)
    val before = state()
    assert(before._1 == Set((10L, 0L), (21L, 1L)) && before._2 == Set((10L, 20L, 1L)),
      s"precondition: cross-batch dup caught, novels kept: $before")
    // crash-replay epoch 1: its own hash delta already exists on disk —
    // the strictly-earlier-epoch filter must keep the batch from matching
    // ITS OWN fingerprints
    MediaDedup.runBatch(b1, baseIndex, outDir, epoch = 1L)
    assert(state() == before, s"replay must be idempotent: ${state()} vs $before")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val base = Files.createTempDirectory("medialaw").toString
    Multimodal.mediaPhash(mediaDf(Seq((1L, text("alpha")))))
      .write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    EpochReplayLaw.check(spark, s"$base/out", Seq("pairs", "clean", "index_delta"),
      mediaDf(Seq((10L, text("qwerty")), (11L, text("alpha")))),
      mediaDf(Seq((20L, text("qwerty")), (21L, text("zxcvbn")))))(
      MediaDedup.runBatch(_, baseIndex, s"$base/out", _))
  }
}
