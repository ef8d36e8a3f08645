package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Corpus
import graft.streaming.DsirStream

/** Streaming DSIR selection: per-micro-batch scoring against a FROZEN
  * persisted importance model, epoch-partitioned idempotent output, and
  * parity with the batch kernel ([[Corpus.dsirWeightsFrom]]).
  */
class DsirStreamSpec extends SparkSpec {
  import spark.implicits._

  // Target domain speaks in "a b" bigrams; the raw pool mostly reverses
  // them (the CorpusSpec fixture, persisted as a model here).
  private val target = Seq(
    (100L, "a b a b a b"), (101L, "a b c")).toDF("doc_id", "text")
  private val rawPool = Seq(
    (200L, "b a b a"), (201L, "b c b a"), (202L, "x y x y")).toDF("doc_id", "text")

  private def freshModelDir(): String = {
    val dir = Files.createTempDirectory("dsirmodel").toString
    Corpus.persistDsirModel(rawPool, target, dir, stamp = "spec")
    dir
  }

  test("stream epochs equal the batch kernel; every input row lands exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val modelDir = freshModelDir()
    val outDir = Files.createTempDirectory("dsirout").toString + "/out"
    val input = MemoryStream[(Long, String)]
    val q = DsirStream.start(input.toDF().toDF("doc_id", "text"), modelDir, outDir,
      threshold = 1.5)
    try {
      // epoch 0: a target-like doc and a raw-like doc
      input.addData((10L, "a b a b"), (11L, "b a b a"))
      q.processAllAvailable()
      // epoch 1: a fully-OOV doc (its smoothed ratio is ~(T_r+B)/(T_t+B)
      // ~= 1.0005 — above 1.0 because the raw pool is bigger than the
      // target, hence the 1.5 gate) and a single-token doc (no bigrams
      // -> null weight)
      input.addData((20L, "zz qq zz"), (21L, "x"))
      q.processAllAvailable()
      val selected = spark.read.parquet(s"$outDir/selected")
        .select("doc_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet
      assert(selected == Set((10L, 0L)), s"only the target-like doc passes: $selected")
      val rejected = spark.read.parquet(s"$outDir/rejected")
        .select("doc_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet
      assert(rejected == Set((11L, 0L), (20L, 1L), (21L, 1L)),
        s"raw-like, OOV, and bigramless docs all reject, in their epochs: $rejected")
      // the bigramless doc carries a null weight (no fabricated number)
      val x21 = spark.read.parquet(s"$outDir/rejected")
        .filter(col("doc_id") === 21L).collect().head
      assert(x21.isNullAt(x21.fieldIndex("dsir_weight")),
        "no-bigram doc must carry null weight")
      // epoch outputs equal the batch kernel run directly on the same rows
      val model = Corpus.loadDsirModel(spark, modelDir)
      val direct = Corpus.dsirWeightsFrom(model,
        Seq((10L, "a b a b"), (11L, "b a b a")).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
      val streamed = spark.read.parquet(s"$outDir/selected")
        .unionByName(spark.read.parquet(s"$outDir/rejected"))
        .filter(col("epoch") === 0)
        .collect().map(r => (r.getLong(0),
          r.getDouble(r.fieldIndex("dsir_weight")))).toMap
      assert(streamed == direct, s"stream epoch must equal batch kernel: $streamed vs $direct")
    } finally q.stop()
  }

  test("default gate derives above the OOV floor: unseen-vocabulary junk rejects") {
    implicit val sqlCtx = spark.sqlContext
    val modelDir = freshModelDir()
    val model = Corpus.loadDsirModel(spark, modelDir)
    val floor = Corpus.dsirOovFloor(model)
    // the fixture's raw pool outweighs its target, so the floor sits
    // ABOVE 1.0 — exactly the trap the derived default must dodge (a
    // 1.0 gate would select the fully-OOV doc below)
    assert(floor > 1.0, s"fixture must exercise the OOV trap: floor = $floor")
    val outDir = Files.createTempDirectory("dsiroov").toString + "/out"
    val input = MemoryStream[(Long, String)]
    val q = DsirStream.start(input.toDF().toDF("doc_id", "text"), modelDir, outDir)
    try {
      input.addData((30L, "zz qq zz qq"), (31L, "a b a b"))
      q.processAllAvailable()
      val selected = spark.read.parquet(s"$outDir/selected")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val rejected = spark.read.parquet(s"$outDir/rejected")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(rejected.contains(30L),
        s"fully-OOV doc must reject at the derived default gate: $rejected")
      assert(selected == Set(31L),
        s"the target-like doc still passes: $selected")
    } finally q.stop()
  }

  test("a replayed epoch overwrites its own output (crash recovery)") {
    val modelDir = freshModelDir()
    val model = Corpus.loadDsirModel(spark, modelDir)
    val outDir = Files.createTempDirectory("dsirreplay").toString + "/out"
    val b0 = Seq((10L, "a b a b"), (11L, "b a b a")).toDF("doc_id", "text")
    DsirStream.runBatch(b0, model, outDir, epoch = 0L, threshold = 1.5)
    def state(): (Set[Long], Set[Long]) = (
      spark.read.parquet(s"$outDir/selected").select("doc_id").collect().map(_.getLong(0)).toSet,
      spark.read.parquet(s"$outDir/rejected").select("doc_id").collect().map(_.getLong(0)).toSet)
    val before = state()
    assert(before == ((Set(10L), Set(11L))), s"precondition: $before")
    DsirStream.runBatch(b0, model, outDir, epoch = 0L, threshold = 1.5)
    assert(state() == before, s"replay must be idempotent: ${state()} vs $before")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val model = Corpus.loadDsirModel(spark, freshModelDir())
    val outDir = Files.createTempDirectory("dsirlaw").toString + "/out"
    EpochReplayLaw.check(spark, outDir, Seq("selected", "rejected"),
      Seq((10L, "a b a b"), (11L, "b a b a")).toDF("doc_id", "text"),
      Seq((20L, "a b c"), (21L, "x y")).toDF("doc_id", "text"))(
      DsirStream.runBatch(_, model, outDir, _, threshold = 1.5))
  }
}
