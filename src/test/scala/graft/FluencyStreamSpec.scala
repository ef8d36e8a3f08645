package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.streaming.FluencyStream

/** Streaming LM-fluency gating: per-micro-batch scoring against a FROZEN
  * persisted model, epoch-partitioned idempotent output, and parity with
  * the batch kernel ([[TextAnalysis.lmFluencyFrom]]).
  */
class FluencyStreamSpec extends SparkSpec {
  import spark.implicits._

  // Reference corpus: "a b" dominates a's history, "a c" is the rare
  // transition (the LlmOpsSpec fixture, persisted as a model here).
  private val refCorpus = Seq(
    (1L, "a b a b a b"), (2L, "a c")).toDF("doc_id", "text")

  private def freshModelDir(): String = {
    val dir = Files.createTempDirectory("lmmodel").toString
    TextAnalysis.persistLmModel(refCorpus, dir, stamp = "spec")
    dir
  }

  test("persisted model reproduces in-plan training; pure-OOV text scores 0.0") {
    val dir = freshModelDir()
    val model = TextAnalysis.loadLmModel(spark, dir)
    // parity on the training corpus: bit-identical to self-trained lmFluency
    val direct = TextAnalysis.lmFluency(refCorpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val served = TextAnalysis.lmFluencyFrom(model, refCorpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(direct == served, s"model-served scores must equal training-run scores: $served vs $direct")
    // a frame the model never saw: unseen transitions score exactly 0.0
    val oov = TextAnalysis.lmFluencyFrom(model,
      Seq((9L, "zz qq zz qq")).toDF("doc_id", "text")).collect().head
    assert(oov.getDouble(2) == 0.0, s"pure-OOV text must score 0: $oov")
    // a half-known doc: "a b" known (3/4), "b zz" and "zz a" unknown -> mean over 3
    val half = TextAnalysis.lmFluencyFrom(model,
      Seq((8L, "a b zz a")).toDF("doc_id", "text")).collect().head
    assert(half.getLong(1) == 3L && math.abs(half.getDouble(2) - 0.75 / 3) < 1e-12,
      s"known transitions score, unknown contribute 0: $half")
  }

  test("stream epochs equal the batch kernel; every input row lands exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val modelDir = freshModelDir()
    val outDir = Files.createTempDirectory("fluencyout").toString + "/out"
    val input = MemoryStream[(Long, String)]
    val q = FluencyStream.start(input.toDF().toDF("doc_id", "text"), modelDir, outDir,
      threshold = 0.5)
    try {
      // epoch 0: one fluent doc (score 0.85), one rare-transition doc (0.25)
      input.addData((10L, "a b a b a b"), (11L, "a c"))
      q.processAllAvailable()
      // epoch 1: a pure-OOV doc (0.0) and a single-token doc (no bigrams -> null)
      input.addData((20L, "zz qq"), (21L, "x"))
      q.processAllAvailable()
      val clean = spark.read.parquet(s"$outDir/clean")
        .select("doc_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet
      assert(clean == Set((10L, 0L)), s"only the fluent doc passes the gate: $clean")
      val rejected = spark.read.parquet(s"$outDir/rejected")
        .select("doc_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet
      assert(rejected == Set((11L, 0L), (20L, 1L), (21L, 1L)),
        s"low-score, OOV, and bigramless docs all reject, in their epochs: $rejected")
      // the bigramless doc carries a null score (no fabricated number)
      val x21 = spark.read.parquet(s"$outDir/rejected")
        .filter(col("doc_id") === 21L).collect().head
      assert(x21.isNullAt(x21.fieldIndex("fluency")), "no-bigram doc must carry null score")
    } finally q.stop()
  }

  test("a replayed epoch overwrites its own output (crash recovery)") {
    val modelDir = freshModelDir()
    val model = TextAnalysis.loadLmModel(spark, modelDir)
    val outDir = Files.createTempDirectory("fluencyreplay").toString + "/out"
    val b0 = Seq((10L, "a b a b a b"), (11L, "a c")).toDF("doc_id", "text")
    FluencyStream.runBatch(b0, model, outDir, epoch = 0L, threshold = 0.5)
    def state(): (Set[Long], Set[Long]) = (
      spark.read.parquet(s"$outDir/clean").select("doc_id").collect().map(_.getLong(0)).toSet,
      spark.read.parquet(s"$outDir/rejected").select("doc_id").collect().map(_.getLong(0)).toSet)
    val before = state()
    assert(before == ((Set(10L), Set(11L))), s"precondition: $before")
    FluencyStream.runBatch(b0, model, outDir, epoch = 0L, threshold = 0.5)
    assert(state() == before, s"replay must be idempotent: ${state()} vs $before")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val model = TextAnalysis.loadLmModel(spark, freshModelDir())
    val outDir = Files.createTempDirectory("fluencylaw").toString + "/out"
    EpochReplayLaw.check(spark, outDir, Seq("clean", "rejected"),
      Seq((10L, "a b a b a b"), (11L, "a c")).toDF("doc_id", "text"),
      Seq((20L, "a b a c"), (21L, "z")).toDF("doc_id", "text"))(
      FluencyStream.runBatch(_, model, outDir, _, threshold = 0.5))
  }
}
