package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.streaming.MediaSearchStream

/** Streaming reverse-media-search serving: per-micro-batch phash lookup
  * against a persisted corpus hash table, epoch-partitioned idempotent
  * output — the AnnStream/SearchStream request-service shape on the media
  * side (r10 next-round 5).
  */
class MediaSearchStreamSpec extends SparkSpec {
  import spark.implicits._

  private def text(tag: String): String = (1 to 40).map(i => s"$tag$i").mkString(" ")
  private def mediaDf(rows: Seq[(Long, String)]) =
    rows.toDF("media_id", "text")
      .select(col("media_id"), lit("image").as("kind"),
        col("text").cast("binary").as("payload"))

  test("streamed probe batches answer from the hash table and equal the batch kernel per epoch") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("mediasearch").toString
    Multimodal.mediaPhash(mediaDf(Seq(
        (1L, text("alpha")), (2L, text("beta")), (3L, text("gamma")))))
      .write.parquet(s"$base/phash")
    val corpusPh = spark.read.parquet(s"$base/phash")
    val outDir = s"$base/out"
    val input = MemoryStream[(Long, String)]
    val probes = input.toDF().toDF("query_id", "text")
      .select(col("query_id"), lit("image").as("kind"),
        col("text").cast("binary").as("payload"))
    val q = MediaSearchStream.start(probes, s"$base/phash", outDir)
    // tail re-encode of beta: edit past the sampling window -> hamming 0
    val nearBeta = (text("beta").split(" ").dropRight(2) :+ "zz" :+ "qq").mkString(" ")
    try {
      input.addData((100L, text("alpha")), (101L, nearBeta))
      q.processAllAvailable()
      input.addData((102L, text("nomatch")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$outDir/matches")
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("query_id", "media_id", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // per-epoch equality with the batch kernel over the same requests
    def probeDf(rows: Seq[(Long, String)]) =
      rows.toDF("query_id", "text")
        .select(col("query_id"), lit("image").as("kind"),
          col("text").cast("binary").as("payload"))
    val b0 = probeDf(Seq((100L, text("alpha")), (101L, nearBeta)))
    assert(key(out.filter(col("epoch") === 0).drop("epoch")) ==
      key(Multimodal.phashLookup(corpusPh, b0, excludeSelf = false)),
      "epoch 0 must equal the batch kernel's answer")
    // the matches themselves: exact corpus copy and the re-encode both
    // resolve to their corpus rows; the novel probe matches nothing
    val hits = key(out)
    assert(hits.contains((100L, 1L, 0L)), s"exact copy must match corpus 1: $hits")
    assert(hits.exists(h => h._1 == 101L && h._2 == 2L && h._3 <= 5L),
      s"re-encode must match corpus 2 within the hamming budget: $hits")
    assert(!hits.exists(_._1 == 102L), s"novel probe must match nothing: $hits")
    // crash-replay: re-running an epoch overwrites its own output
    MediaSearchStream.runBatch(b0, corpusPh, outDir, epoch = 0L)
    assert(key(spark.read.parquet(s"$outDir/matches")) == hits,
      "replayed epoch must be idempotent")
  }

  test("external request ids colliding with corpus ids still receive their match") {
    // the r10 ADVICE-2 id-space fix exercised through the streaming
    // kernel: request id 2 carries an exact copy of corpus media 2 —
    // under excludeSelf the row would vanish; the external-namespace
    // serving path must return it
    val base = Files.createTempDirectory("mediaids").toString
    Multimodal.mediaPhash(mediaDf(Seq((1L, text("alpha")), (2L, text("beta")))))
      .write.parquet(s"$base/phash")
    val corpusPh = spark.read.parquet(s"$base/phash")
    val probe = Seq((2L, text("beta"))).toDF("query_id", "text")
      .select(col("query_id"), lit("image").as("kind"),
        col("text").cast("binary").as("payload"))
    val served = Multimodal.phashLookup(corpusPh, probe, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(served.contains((2L, 2L, 0L)),
      s"colliding external id must still be served its corpus match: ${served.toSeq}")
    // and the in-corpus form (default) keeps self-exclusion
    val self = Multimodal.phashLookup(corpusPh, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!self.contains((2L, 2L)), "in-corpus probes must not self-match")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val base = Files.createTempDirectory("mediasearchlaw").toString
    Multimodal.mediaPhash(mediaDf(Seq((1L, text("alpha")), (2L, text("beta")))))
      .write.parquet(s"$base/phash")
    val corpusPh = spark.read.parquet(s"$base/phash")
    def probes(rows: Seq[(Long, String)]) = mediaDf(rows)
      .withColumnRenamed("media_id", "query_id")
    EpochReplayLaw.check(spark, s"$base/out", Seq("matches"),
      probes(Seq((100L, text("alpha")))),
      probes(Seq((200L, text("beta")), (201L, text("zeta")))))(
      MediaSearchStream.runBatch(_, corpusPh, s"$base/out", _))
  }
}
