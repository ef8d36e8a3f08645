package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, TextAnalysis}
import graft.sources.SnapshotStore
import graft.streaming.{CrawlDedup, DeconStream, EpochService, FluencyStream, MediaDedup, SplitStream}

/** The shared epoch skeleton: compaction folds and deletes exactly the
  * epochs it listed, and per-batch barrier frames are released by the
  * batch that made them.
  */
class EpochServiceSpec extends SparkSpec {
  import spark.implicits._

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("an epoch written during a compaction's fold, after the listing, " +
    "survives the compaction and is folded by the next one") {
    val root = Files.createTempDirectory("epochcompact").toString
    val out = s"$root/out"
    def epoch(e: Long, rows: Long*): Unit =
      EpochService.write(rows.toDF("id"), out, "delta", e)
    epoch(0L, 1L, 2L)
    epoch(1L, 3L)
    var folded = Set.empty[Long]
    EpochService.compact(spark, "spec", out, None, Seq("delta"),
        s"$root/base1", "c") { epochs =>
      folded = epochs
      epoch(2L, 4L) // a late epoch lands while the fold runs
      EpochService.withDeltas(spark, Seq.empty[Long].toDF("id"),
          s"$out/delta", epochs)
        .write.parquet(s"$root/base1/t")
    }
    assert(folded == Set(0L, 1L), s"the fold sees the listed epochs: $folded")
    assert(ids(spark.read.parquet(s"$root/base1/t")) == Set(1L, 2L, 3L))
    assert(SnapshotStore.ready(spark, s"$root/base1", "c"))
    assert(EpochService.epochs(spark, s"$out/delta") == Seq(2L),
      "only the folded epochs are deleted; the late one survives")
    EpochService.compact(spark, "spec", out, None, Seq("delta"),
        s"$root/base2", "c") { epochs =>
      EpochService.withDeltas(spark, spark.read.parquet(s"$root/base1/t"),
          s"$out/delta", epochs)
        .write.parquet(s"$root/base2/t")
    }
    assert(ids(spark.read.parquet(s"$root/base2/t")) == Set(1L, 2L, 3L, 4L),
      "the next compaction folds the late epoch")
    assert(!new java.io.File(s"$out/delta").exists(),
      "an emptied delta dir is removed")
  }

  test("a multi-dir store folds only epochs present in every delta dir; " +
    "a torn epoch is neither folded nor deleted") {
    val root = Files.createTempDirectory("epochtorn").toString
    val out = s"$root/out"
    Seq("a", "b").foreach(d => EpochService.write(Seq(1L).toDF("id"), out, d, 0L))
    EpochService.write(Seq(2L).toDF("id"), out, "a", 1L) // crash before "b"
    var folded = Set.empty[Long]
    EpochService.compact(spark, "spec", out, None, Seq("a", "b"),
        s"$root/base", "c") { epochs =>
      folded = epochs
      spark.range(0).write.parquet(s"$root/base/t")
    }
    assert(folded == Set(0L))
    assert(EpochService.epochs(spark, s"$out/a") == Seq(1L))
    assert(!new java.io.File(s"$out/b").exists())
  }

  /** Drive five epochs through `run` and return the RDDs still persisted
    * that were not before (a released barrier leaves none).
    */
  private def leakedOverFiveEpochs(run: Long => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (0L until 5L).foreach(run)
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  private def text(tag: String): String = (1 to 40).map(i => s"$tag$i").mkString(" ")

  test("CrawlDedup.runBatch releases its per-batch frames") {
    val base = Files.createTempDirectory("crawlbarrier").toString
    Dedup.buildDedupIndex(Seq((1L, text("alpha"))).toDF("doc_id", "text"))
      .write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    val leaked = leakedOverFiveEpochs(e => CrawlDedup.runBatch(
      Seq((10L * e, text("alpha")), (10L * e + 1, text(s"novel$e")))
        .toDF("doc_id", "text"), baseIndex, s"$base/out", e))
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("DeconStream.runBatch releases its per-batch frames") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val bitmap = Dedup.bloomBitmap(bench).localCheckpoint()
    val out = Files.createTempDirectory("deconbarrier").toString
    val leaked = leakedOverFiveEpochs(e => DeconStream.runBatch(
      Seq((e, "x alpha beta gamma delta epsilon y"), (e + 100, "clean words"))
        .toDF("doc_id", "text"), bitmap, bench, out, e))
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("FluencyStream.runBatch releases its per-batch frames") {
    val modelDir = Files.createTempDirectory("fluencybarrier").toString
    TextAnalysis.persistLmModel(
      Seq((1L, "a b a b a b"), (2L, "a c")).toDF("doc_id", "text"), modelDir, stamp = "spec")
    val model = TextAnalysis.loadLmModel(spark, modelDir)
    val leaked = leakedOverFiveEpochs(e => FluencyStream.runBatch(
      Seq((e, "a b a b"), (e + 100, "a c")).toDF("doc_id", "text"),
      model, s"$modelDir/out", e))
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("SplitStream.runBatch releases its per-batch frames, the intra-batch clustering's cuts too") {
    val base = Files.createTempDirectory("splitbarrier").toString
    val corpus = Seq((1L, "en", text("gamma"))).toDF("doc_id", "lang", "text")
    Dedup.buildDedupIndex(corpus).write.parquet(s"$base/index")
    Seq((1L, 1L)).toDF("doc_id", "cluster_id").write.parquet(s"$base/clusters")
    val baseIndex = spark.read.parquet(s"$base/index")
    val clusters = spark.read.parquet(s"$base/clusters")
    def near(tag: String): String = (text(tag).split(" ").dropRight(2) :+ "zz" :+ "qq").mkString(" ")
    // each epoch holds one intra-batch near-dup pair, novel to the corpus
    val leaked = leakedOverFiveEpochs(e => SplitStream.runBatch(
      Seq((10L * e + 100, "en", text(s"pair$e")), (10L * e + 101, "en", near(s"pair$e")))
        .toDF("doc_id", "lang", "text"), baseIndex, clusters, s"$base/out", e))
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
    val keys = spark.read.parquet(s"$base/out/assigned").select("doc_id", "split_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 5L).forall(e => keys(10L * e + 101) == 10L * e + 100),
      s"each pair shares its minimum member's key: $keys")
  }

  test("MediaDedup.runBatch releases its per-batch frames") {
    def media(rows: (Long, String)*): DataFrame = rows.toDF("media_id", "text")
      .select(col("media_id"), lit("image").as("kind"), col("text").cast("binary").as("payload"))
    val base = Files.createTempDirectory("mediabarrier").toString
    Multimodal.mediaPhash(media((1L, text("alpha")))).write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    val leaked = leakedOverFiveEpochs(e => MediaDedup.runBatch(
      media((10L * e, text("alpha")), (10L * e + 1, text(s"novel$e"))),
      baseIndex, s"$base/out", e))
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }
}
