package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.AnnStream

/** Streaming ANN query serving: per-micro-batch quantized top-k against a
  * persisted annserve snapshot, epoch-partitioned idempotent output.
  */
class AnnStreamSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf)

  test("streamed query batches answer from the snapshot and equal the batch kernel per epoch") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("annstream").toString
    Similarity.persistAnnServe(emb, s"$base/snap", stamp = "s")
    val snap = Similarity.loadAnnServe(spark, s"$base/snap")
    // external request ids (not in the corpus) carrying corpus vectors,
    // split over two micro-batches
    val reqs = emb.filter(col("vec_id") < 4).collect()
      .map(r => (r.getLong(0) + 5000L, r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val input = MemoryStream[(Long, Array[Float])]
    val q = AnnStream.start(input.toDF().toDF("query_id", "embedding"),
      s"$base/snap", s"$base/out")
    try {
      input.addData(reqs(0), reqs(1))
      q.processAllAvailable()
      input.addData(reqs(2), reqs(3))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$base/out/topk")
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] =
      df.select("query_id", "vec_id", "qdot", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    // per-epoch equality with the batch kernel over the same requests
    val b0 = Seq(reqs(0), reqs(1)).toDF("query_id", "embedding")
    val b1 = Seq(reqs(2), reqs(3)).toDF("query_id", "embedding")
    assert(key(out.filter(col("epoch") === 0).drop("epoch")) ==
      key(Similarity.quantizedTopKForQueries(b0, snap, excludeSelf = false)),
      "epoch 0 must equal the batch kernel's answer")
    assert(key(out.filter(col("epoch") === 1).drop("epoch")) ==
      key(Similarity.quantizedTopKForQueries(b1, snap, excludeSelf = false)),
      "epoch 1 must equal the batch kernel's answer")
    // every request got answers, ranked 1..k, no self-matches possible
    // (request ids are disjoint from corpus ids)
    val byQ = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == reqs.map(_._1).toSet, "every request answered")
    byQ.values.foreach { rows =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.length), "contiguous ranks from 1")
    }
    // crash-replay: re-running an epoch overwrites its own output
    // instead of duplicating it
    val before = key(out)
    AnnStream.runBatch(b1, snap, s"$base/out", epoch = 1L)
    assert(key(spark.read.parquet(s"$base/out/topk")) == before,
      "replayed epoch must be idempotent")
  }

  test("request-id namespace: colliding external ids still receive the corpus vector; zero vectors drop") {
    val base = Files.createTempDirectory("annids").toString
    Similarity.persistAnnServe(emb, s"$base/snap", stamp = "s")
    val snap = Similarity.loadAnnServe(spark, s"$base/snap")
    val v0 = emb.filter(col("vec_id") === 0L).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toArray
    // request id 0 carries corpus vector 0: under the external-namespace
    // contract (excludeSelf = false, the AnnStream path) corpus vec 0 —
    // the exact-match neighbor — must rank first, not vanish
    val colliding = Seq((0L, v0)).toDF("query_id", "embedding")
    val served = Similarity.quantizedTopKForQueries(colliding, snap, excludeSelf = false)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(served.head.getLong(1) == 0L,
      "the colliding-id corpus vector must be served, and first")
    // a zero request vector is unanswerable under cosine: dropped, and
    // the rest of the batch is unaffected
    val withZero = Seq((50L, Array.fill(v0.length)(0f)), (51L, v0))
      .toDF("query_id", "embedding")
    val zr = Similarity.quantizedTopKForQueries(withZero, snap, excludeSelf = false)
      .collect().groupBy(_.getLong(0))
    assert(!zr.contains(50L), "zero-norm request must be dropped, not served garbage")
    assert(zr(51L).nonEmpty, "the healthy request in the same batch still answers")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val base = Files.createTempDirectory("annlaw").toString
    Similarity.persistAnnServe(emb, s"$base/snap", stamp = "s")
    val snap = Similarity.loadAnnServe(spark, s"$base/snap")
    val reqs = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 5000L).as("query_id"), col("embedding"))
    EpochReplayLaw.check(spark, s"$base/out", Seq("topk"),
      reqs.filter(col("query_id") === 5000L), reqs.filter(col("query_id") > 5000L))(
      AnnStream.runBatch(_, snap, s"$base/out", _))
  }
}
