package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.streaming.TokenizeStream

/** Streaming tokenizer serving: per-micro-batch greedy encoding against a
  * FROZEN persisted vocabulary, epoch-idempotent output — the frozen-model
  * deployment shape of the tokenizer chain.
  */
class TokenizeStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed doc batches encode against the frozen vocabulary and equal the batch kernel per epoch") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("tokstream").toString
    // train once on a reference corpus, freeze the pruned vocab
    val train = Seq((1L, "ab ab ab cd cd")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(train, 2).collect()
      .map(x => (x.getString(1), x.getString(2))).toSeq
    TextAnalysis.unigramVocab(train, merges, keep = 2)
      .write.parquet(s"$base/vocab")
    val vocab = spark.read.parquet(s"$base/vocab")
    val outDir = s"$base/out"
    val input = MemoryStream[(Long, String)]
    val q = TokenizeStream.start(input.toDF().toDF("doc_id", "text"),
      s"$base/vocab", outDir)
    try {
      input.addData((10L, "ab cd"), (11L, "abcd"))
      q.processAllAvailable()
      // batch 1: unseen words and out-of-vocab chars — the char fallback
      // must encode them, same artifact, no retraining
      input.addData((20L, "xyz ab"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$outDir/encoded")
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, String, String)] =
      df.select("doc_id", "pos", "word", "encoded").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
    val b0 = Seq((10L, "ab cd"), (11L, "abcd")).toDF("doc_id", "text")
    val b1 = Seq((20L, "xyz ab")).toDF("doc_id", "text")
    assert(key(out.filter(col("epoch") === 0).drop("epoch")) ==
      key(TextAnalysis.unigramEncode(b0, vocab)),
      "epoch 0 must equal the batch kernel's encoding")
    assert(key(out.filter(col("epoch") === 1).drop("epoch")) ==
      key(TextAnalysis.unigramEncode(b1, vocab)),
      "epoch 1 must equal the batch kernel's encoding")
    // frozen-artifact semantics: the trained pieces encode; OOV falls back
    val hits = key(out)
    assert(hits.contains((10L, 0, "ab", "ab")) && hits.contains((10L, 1, "cd", "cd")),
      s"trained pieces must encode as themselves: $hits")
    assert(hits.contains((11L, 0, "abcd", "ab cd")),
      s"an unseen concatenation must split into trained pieces: $hits")
    assert(hits.contains((20L, 0, "xyz", "x y z")),
      s"out-of-vocab words must char-fall-back, never drop: $hits")
    // crash-replay: re-running an epoch overwrites its own output
    TokenizeStream.runBatch(b1, vocab, outDir, epoch = 1L)
    assert(key(spark.read.parquet(s"$outDir/encoded")) == hits,
      "replayed epoch must be idempotent")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val base = Files.createTempDirectory("toklaw").toString
    val train = Seq((1L, "ab ab ab cd cd")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(train, 2).collect()
      .map(x => (x.getString(1), x.getString(2))).toSeq
    TextAnalysis.unigramVocab(train, merges, keep = 2).write.parquet(s"$base/vocab")
    val vocab = spark.read.parquet(s"$base/vocab")
    EpochReplayLaw.check(spark, s"$base/out", Seq("encoded"),
      Seq((10L, "ab cd"), (11L, "abcd")).toDF("doc_id", "text"),
      Seq((20L, "xyz ab")).toDF("doc_id", "text"))(
      TokenizeStream.runBatch(_, vocab, s"$base/out", _))
  }
}
