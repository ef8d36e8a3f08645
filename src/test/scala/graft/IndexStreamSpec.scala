package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.streaming.IndexStream

/** Streaming search-index growth: per-epoch postings/lexicon/count
  * deltas, merge-on-read serving view, equivalence with a batch rebuild
  * over the same corpus, idempotent replay.
  */
class IndexStreamSpec extends SparkSpec {
  import spark.implicits._

  private def postingsOf(ix: TextAnalysis.SearchIndex): Set[(String, Long, Long)] =
    ix.postings.collect().map(r => (r.getAs[String]("tok"),
      r.getAs[Long]("doc_id"), r.getAs[Long]("tf"))).toSet
  private def lexiconOf(ix: TextAnalysis.SearchIndex): Map[String, Long] =
    ix.lexicon.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("grown view equals a batch rebuild over base + streamed epochs; search parity holds") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("ixgrow").toString
    val corpus = Seq((1L, "spark hash join"), (2L, "vector scan")).toDF("doc_id", "text")
    TextAnalysis.persistSearchIndex(corpus, s"$base/index", stamp = "spec")
    val outDir = s"$base/out"
    val input = MemoryStream[(Long, String)]
    val q = IndexStream.start(input.toDF().toDF("doc_id", "text"), outDir)
    try {
      input.addData((10L, "hash table hash probe"), (11L, "stream window"))
      q.processAllAvailable()
      input.addData((20L, "join order join plan join"))
      q.processAllAvailable()
      // round-13 verdict 2: compact() must REFUSE while this stream runs
      intercept[IllegalStateException] {
        IndexStream.compact(spark, s"$base/index", outDir, s"$base/index_g")
      }
    } finally q.stop()
    val grown = IndexStream.servingIndex(spark, s"$base/index", outDir)
    // equivalence with the batch compactor over the same corpus
    val full = corpus.unionByName(Seq(
      (10L, "hash table hash probe"), (11L, "stream window"),
      (20L, "join order join plan join")).toDF("doc_id", "text"))
    val rebuiltDir = s"$base/rebuilt"
    TextAnalysis.persistSearchIndex(full, rebuiltDir, stamp = "spec")
    val rebuilt = TextAnalysis.loadSearchIndex(spark, rebuiltDir)
    assert(postingsOf(grown) == postingsOf(rebuilt),
      "grown postings must equal the batch rebuild")
    assert(lexiconOf(grown) == lexiconOf(rebuilt),
      s"merged lexicon df must equal the rebuild: ${lexiconOf(grown)} vs ${lexiconOf(rebuilt)}")
    assert(grown.nTotal == rebuilt.nTotal && grown.nTotal == 5L,
      s"n_total must sum base + deltas: ${grown.nTotal}")
    // a query served from the grown view equals serving from the rebuild
    def hits(ix: TextAnalysis.SearchIndex): Seq[(Long, Double)] =
      TextAnalysis.keywordSearchFrom(ix, Seq("hash", "join"), k = 5)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(hits(grown) == hits(rebuilt),
      "search over the grown view must equal search over the rebuild")
    // ...and the streamed docs actually rank: doc 20 leads on 'join'
    assert(hits(grown).head._1 == 20L,
      s"the triple-join streamed doc must rank first: ${hits(grown)}")
    // compact() succeeds once the stream is stopped, checkpoint present
    IndexStream.compact(spark, s"$base/index", outDir, s"$base/index_g")
    assert(graft.sources.SnapshotStore.ready(spark, s"$base/index_g", "compact"))
  }

  test("a replayed epoch overwrites its delta; the view never double-counts") {
    val base = Files.createTempDirectory("ixreplay").toString
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    TextAnalysis.persistSearchIndex(corpus, s"$base/index", stamp = "spec")
    val outDir = s"$base/out"
    val b0 = Seq((10L, "alpha gamma")).toDF("doc_id", "text")
    IndexStream.runBatch(b0, outDir, epoch = 0L)
    def view() = IndexStream.servingIndex(spark, s"$base/index", outDir)
    val before = (postingsOf(view()), lexiconOf(view()), view().nTotal)
    assert(before._2("alpha") == 2L && before._3 == 2L, s"precondition: $before")
    IndexStream.runBatch(b0, outDir, epoch = 0L)
    val after = (postingsOf(view()), lexiconOf(view()), view().nTotal)
    assert(after == before, s"replay must be idempotent: $after vs $before")
  }

  test("a torn epoch (crash before the meta write) is invisible, not an error; its replay commits it") {
    val base = Files.createTempDirectory("ixtorn").toString
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    TextAnalysis.persistSearchIndex(corpus, s"$base/index", stamp = "spec")
    val outDir = s"$base/out"
    val b0 = Seq((10L, "alpha gamma")).toDF("doc_id", "text")
    IndexStream.runBatch(b0, outDir, epoch = 0L)
    def view() = IndexStream.servingIndex(spark, s"$base/index", outDir)
    val committed = (postingsOf(view()), lexiconOf(view()), view().nTotal)
    // simulate the crash window: epoch 1's postings + lexicon land but the
    // meta write (last in writeSearchIndexDelta's order) never happens
    val b1 = Seq((11L, "beta delta")).toDF("doc_id", "text")
    b1.select(col("doc_id"), lit("beta").as("tok"), lit(1L).as("tf"))
      .write.parquet(s"$outDir/postings_delta/epoch=1")
    Seq(("beta", 1L)).toDF("tok", "df")
      .write.parquet(s"$outDir/lexicon_delta/epoch=1")
    val torn = (postingsOf(view()), lexiconOf(view()), view().nTotal)
    assert(torn == committed,
      s"a torn epoch must be invisible to serving: $torn vs $committed")
    // the stream replays epoch 1, overwriting all three artifacts — now visible
    IndexStream.runBatch(b1, outDir, epoch = 1L)
    val replayed = view()
    assert(replayed.nTotal == committed._3 + 1 &&
      lexiconOf(replayed)("beta") == 2L && lexiconOf(replayed)("delta") == 1L,
      s"the replayed epoch must commit: ${lexiconOf(replayed)}, n=${replayed.nTotal}")
  }

  test("compaction folds deltas into a new base: view identical, deltas gone, stream resumes") {
    val base = Files.createTempDirectory("ixcompact").toString
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    TextAnalysis.persistSearchIndex(corpus, s"$base/index", stamp = "spec")
    val outDir = s"$base/out"
    IndexStream.runBatch(Seq((10L, "alpha gamma")).toDF("doc_id", "text"),
      outDir, epoch = 0L)
    IndexStream.runBatch(Seq((11L, "beta delta")).toDF("doc_id", "text"),
      outDir, epoch = 1L)
    val beforeView = IndexStream.servingIndex(spark, s"$base/index", outDir)
    val before = (postingsOf(beforeView), lexiconOf(beforeView), beforeView.nTotal)
    IndexStream.compact(spark, s"$base/index", outDir, s"$base/index2")
    // deltas cleared; the compacted base alone reproduces the view
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$outDir/postings_delta")), "deltas must be cleared")
    val afterView = IndexStream.servingIndex(spark, s"$base/index2", outDir)
    assert((postingsOf(afterView), lexiconOf(afterView), afterView.nTotal) == before,
      "the compacted base must serve the identical view")
    // the stream keeps appending against the new base
    IndexStream.runBatch(Seq((20L, "epsilon")).toDF("doc_id", "text"),
      outDir, epoch = 2L)
    val resumed = IndexStream.servingIndex(spark, s"$base/index2", outDir)
    assert(resumed.nTotal == before._3 + 1 &&
      lexiconOf(resumed).contains("epsilon"),
      "post-compaction epochs must keep accumulating")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val outDir = Files.createTempDirectory("ixlaw").toString + "/out"
    EpochReplayLaw.check(spark, outDir,
      Seq("postings_delta", "lexicon_delta", "meta_delta"),
      Seq((10L, "alpha gamma")).toDF("doc_id", "text"),
      Seq((20L, "beta gamma gamma"), (21L, "delta")).toDF("doc_id", "text"))(
      IndexStream.runBatch(_, outDir, _))
  }
}
