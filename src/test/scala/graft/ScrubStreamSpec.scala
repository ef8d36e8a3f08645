package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Pii
import graft.streaming.ScrubStream

/** Streaming PII scrubbing: per-micro-batch masking with the clean /
  * scrubbed audit split, epoch-partitioned idempotent output, parity
  * with the batch operator.
  */
class ScrubStreamSpec extends SparkSpec {
  import spark.implicits._

  test("stream epochs equal the batch operator; every input row lands exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("scrub").toString + "/out"
    val input = MemoryStream[(Long, String)]
    val q = ScrubStream.start(input.toDF().toDF("doc_id", "text"), outDir)
    try {
      input.addData(
        (10L, "mail me at a@b.org today"),
        (11L, "nothing sensitive here"))
      q.processAllAvailable()
      input.addData((20L, "host 10.1.2.3 and ssn 900-12-3456"))
      q.processAllAvailable()
      val clean = spark.read.parquet(s"$outDir/clean")
        .select("doc_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet
      assert(clean == Set((11L, 0L)), s"only the pii-free doc stays clean: $clean")
      val scrubbed = spark.read.parquet(s"$outDir/scrubbed").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
          r.getAs[Long]("n_pii"), r.getAs[Number]("epoch").longValue())).toSet
      assert(scrubbed == Set(
        (10L, "mail me at <EMAIL> today", 1L, 0L),
        (20L, "host <IP> and ssn <ID>", 2L, 1L)),
        s"masked docs carry their audit counts, in their epochs: $scrubbed")
      // stream output equals the batch operator on the same rows
      val direct = Pii.scrubPii(
        Seq((10L, "mail me at a@b.org today", "", ""),
          (11L, "nothing sensitive here", "", ""))
          .toDF("doc_id", "text", "lang", "source"))
        .select("doc_id", "clean_text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      val streamed = spark.read.parquet(s"$outDir/clean")
        .unionByName(spark.read.parquet(s"$outDir/scrubbed"))
        .filter(col("epoch") === 0).select("doc_id", "clean_text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(streamed == direct, s"stream epoch must equal batch operator: $streamed vs $direct")
    } finally q.stop()
  }

  test("a replayed epoch overwrites its own output (crash recovery); re-scrubbing is a fixpoint") {
    val outDir = Files.createTempDirectory("scrubreplay").toString + "/out"
    val b0 = Seq((10L, "call 202-555-0100 now", "en", "src0"),
      (11L, "plain", "en", "src0")).toDF("doc_id", "text", "lang", "source")
    ScrubStream.runBatch(b0, outDir, epoch = 0L)
    def state(): Set[(Long, String)] =
      spark.read.parquet(s"$outDir/scrubbed")
        .unionByName(spark.read.parquet(s"$outDir/clean"))
        .select("doc_id", "clean_text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val before = state()
    assert(before == Set((10L, "call <PHONE> now"), (11L, "plain")),
      s"precondition: $before")
    ScrubStream.runBatch(b0, outDir, epoch = 0L)
    assert(state() == before, s"replay must be idempotent: ${state()} vs $before")
    // feeding already-scrubbed text back through is a fixpoint — the
    // double-masking hazard the digit-free placeholders exist to prevent
    val again = Seq((20L, "call <PHONE> now", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
    val r = Pii.scrubPii(again).select("clean_text", "n_pii").head()
    assert(r.getString(0) == "call <PHONE> now",
      "re-scrub must not alter masked text")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val outDir = Files.createTempDirectory("scrublaw").toString + "/out"
    EpochReplayLaw.check(spark, outDir, Seq("clean", "scrubbed"),
      Seq((10L, "call 202-555-0100 now", "en", "src0"), (11L, "plain", "en", "src0"))
        .toDF("doc_id", "text", "lang", "source"),
      Seq((20L, "write to a.b@example.com", "en", "src0"), (21L, "quiet", "en", "src0"))
        .toDF("doc_id", "text", "lang", "source"))(
      ScrubStream.runBatch(_, outDir, _))
  }
}
