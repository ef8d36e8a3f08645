package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.streaming.SearchStream

/** Streaming keyword-search serving: per-micro-batch BM25-flavored top-k
  * against a persisted inverted index, epoch-partitioned idempotent
  * output; endpoint parity with the single-query serve path.
  */
class SearchStreamSpec extends SparkSpec {
  import spark.implicits._

  private def indexDir(): (String, TextAnalysis.SearchIndex) = {
    val base = Files.createTempDirectory("searchstream").toString
    TextAnalysis.persistSearchIndex(
      spark.read.parquet(s"$sf/documents.parquet"), s"$base/index", stamp = "s")
    (base, TextAnalysis.loadSearchIndex(spark, s"$base/index"))
  }

  test("multi-query endpoint ranks per query and matches the single-query serve path") {
    val (_, index) = indexDir()
    val single = TextAnalysis.keywordSearchFrom(index, Seq("hash", "join"), k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val multi = TextAnalysis.keywordSearchForQueries(index,
        Seq((7L, Seq("hash", "join"))).toDF("query_id", "terms"), k = 5)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(multi == single,
      "a one-request frame must reproduce the single-query serve ranking")
    // two requests rank independently: each gets its own contiguous ranks
    val two = TextAnalysis.keywordSearchForQueries(index,
      Seq((1L, Seq("hash")), (2L, Seq("join"))).toDF("query_id", "terms"), k = 5)
      .collect().groupBy(_.getAs[Long]("query_id"))
    assert(two.keySet == Set(1L, 2L))
    two.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rows.length))
    }
    // a request repeating a term scores as if the term appeared once —
    // the single-query path's implicit isin dedup, made explicit here
    val dup = TextAnalysis.keywordSearchForQueries(index,
        Seq((9L, Seq("hash", "hash", "join"))).toDF("query_id", "terms"), k = 5)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(dup == multi, "duplicate request terms must not change scoring")
  }

  test("termsHint past the pushdown cap is ignored: no In filter, identical results") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val (_, index) = indexDir()
    val reqs = Seq((7L, Seq("hash", "join"))).toDF("query_id", "terms")
    def key(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Int)] =
      df.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSeq
    def hasIn(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.find(e =>
          e.isInstanceOf[In] || e.isInstanceOf[InSet]).isDefined => f
      }.nonEmpty
    val bare = TextAnalysis.keywordSearchForQueries(index, reqs, k = 5)
    val hinted = TextAnalysis.keywordSearchForQueries(index, reqs, k = 5,
      termsHint = Some(Seq("hash", "join")))
    val capped = TextAnalysis.keywordSearchForQueries(index, reqs, k = 5,
      termsHint = Some(Seq("hash", "join")), maxPushdownTerms = 1)
    assert(hasIn(hinted), "an in-cap hint prunes the scans with In(tok, ...)")
    assert(!hasIn(capped), "an over-cap hint must be ignored, not embedded")
    assert(key(hinted) == key(bare) && key(capped) == key(bare),
      "results are hint- and cap-independent by construction")
  }

  test("streamed search batches answer from the index and equal the batch kernel per epoch") {
    implicit val sqlCtx = spark.sqlContext
    val (base, index) = indexDir()
    val input = MemoryStream[(Long, Seq[String])]
    val q = SearchStream.start(input.toDF().toDF("query_id", "terms"),
      s"$base/index", s"$base/out")
    val b0 = Seq((100L, Seq("hash", "join")), (101L, Seq("vector")))
    val b1 = Seq((200L, Seq("query", "stream")))
    try {
      input.addData(b0: _*)
      q.processAllAvailable()
      input.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.select("query_id", "doc_id", "score", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val out = spark.read.parquet(s"$base/out/hits")
    assert(key(out.filter(col("epoch") === 0).drop("epoch")) ==
      key(TextAnalysis.keywordSearchForQueries(index, b0.toDF("query_id", "terms"))),
      "epoch 0 must equal the batch kernel's answer")
    assert(key(out.filter(col("epoch") === 1).drop("epoch")) ==
      key(TextAnalysis.keywordSearchForQueries(index, b1.toDF("query_id", "terms"))),
      "epoch 1 must equal the batch kernel's answer")
    // crash-replay idempotence: re-running an epoch overwrites its output
    val before = key(out)
    SearchStream.runBatch(b1.toDF("query_id", "terms"), index, s"$base/out", epoch = 1L)
    assert(key(spark.read.parquet(s"$base/out/hits")) == before,
      "replayed epoch must be idempotent")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val (base, index) = indexDir()
    EpochReplayLaw.check(spark, s"$base/out", Seq("hits"),
      Seq((100L, Seq("hash", "join"))).toDF("query_id", "terms"),
      Seq((200L, Seq("query", "stream")), (201L, Seq("vector"))).toDF("query_id", "terms"))(
      SearchStream.runBatch(_, index, s"$base/out", _))
  }
}
