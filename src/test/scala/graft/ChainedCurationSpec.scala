package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, TextAnalysis}
import graft.streaming.{IndexStream, Pipeline}

/** The CHAINED curation topology: raw crawl → scrub → dedup → index,
  * each stage consuming its predecessor's store through a file-source
  * stream — the end-to-end composition a deployment runs. Proves the
  * property the chain exists for: raw identifiers never reach the
  * dedup index or the search postings, duplicates never reach the
  * index, and the survivors are searchable.
  */
class ChainedCurationSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def drain(qs: Seq[StreamingQuery], rounds: Int = 3): Unit =
    // file-source hand-offs: each stage's output only becomes the next
    // stage's input after the next listing, so drive the chain in order,
    // repeatedly, until a full pass moves nothing
    (1 to rounds).foreach(_ => qs.foreach(_.processAllAvailable()))

  test("raw crawl with PII and duplicates ends as a clean searchable index") {
    implicit val sqlCtx = spark.sqlContext
    def text(tag: String): String = (1 to 40).map(i => s"$tag$i").mkString(" ")
    val base = tmp("chainbase")
    // the corpus the dedup gate protects
    val corpus = Seq((1L, text("alpha"))).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus).write.parquet(s"$base/dedupindex")
    val p = new Pipeline(spark, tmp("chainstore"), tmp("chainckpt"))
    val input = MemoryStream[(Long, String)]
    val qs = p.startChainedCuration(
      input.toDF().toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("crawl")),
      s"$base/dedupindex")
    try {
      input.addData(
        (10L, text("alpha")),                                // corpus dup → dropped
        (11L, "unique words with contact a@b.org inside"),   // pii → masked, kept
        (12L, text("novel")))                                // clean novel → kept
      drain(qs)
      // a second wave: a dup of the first wave's novel doc must be
      // caught by the GROWN dedup index
      input.addData((20L, text("novel")), (21L, "another fresh document"))
      drain(qs)
      // 1. the dup never got indexed; the pii doc is indexed MASKED
      val grown = IndexStream.servingIndex(spark,
        indexedBaseFor(p), p.indexStorePath)
      val postings = grown.postings.select("tok", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val indexedDocs = postings.map(_._2)
      assert(indexedDocs == Set(11L, 12L, 21L),
        s"only the three clean/masked survivors reach the index: $indexedDocs")
      // 2. the raw identifier token exists NOWHERE downstream
      val allToks = postings.map(_._1)
      assert(!allToks.exists(_.contains("@")),
        s"no raw email token may reach the postings: ${allToks.filter(_.contains("@"))}")
      assert(allToks.contains("<EMAIL>"),
        "the masked placeholder is what got indexed")
      // ...including the dedup signature side (it only ever saw masked text)
      val dedupCleanTexts = spark.read.parquet(s"${p.crawlStorePath}/clean")
        .select("text").collect().map(_.getString(0))
      assert(!dedupCleanTexts.exists(_.contains("@")),
        "no raw email may reach the dedup store")
      // 3. the survivors are searchable through the grown view
      val hits = TextAnalysis.keywordSearchFrom(grown, Seq("unique", "fresh"), k = 5)
        .collect().map(_.getLong(0)).toSet
      assert(hits == Set(11L, 21L), s"the streamed survivors must be searchable: $hits")
      // 4. the cross-wave dup was recorded as a pair, not silently lost
      val pairs = spark.read.parquet(s"${p.crawlStorePath}/pairs")
        .select("corpus_id", "delta_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((12L, 20L)),
        s"the second-wave dup must pair against the first wave's survivor: $pairs")
    } finally qs.foreach(_.stop())
  }

  test("chained split assignment (r16 verdict 2): a doc dropped by dedup " +
    "consumes no split, and chained ≡ standalone assignments on every doc " +
    "both paths assign") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SplitStream
    def text(tag: String): String = (1 to 40).map(i => s"$tag$i").mkString(" ")
    def near(tag: String): String =
      (text(tag).split(" ").dropRight(2) :+ "zz" :+ "qq").mkString(" ")
    val base = tmp("chainsplitbase")
    // corpus with near-dup cluster {1, 2} and singleton 3 — the same
    // frozen artifact pair the standalone assigner and q_safe_split read
    val corpus = Seq((1L, text("alpha")), (2L, near("alpha")),
      (3L, text("gamma"))).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus).write.parquet(s"$base/index")
    Dedup.clustersFromPairs(
        Dedup.minhashPairs(corpus).select("doc_id1", "doc_id2"))
      .write.parquet(s"$base/clusters")
    val p = new Pipeline(spark, tmp("chainsplitstore"), tmp("chainsplitckpt"))
    val input = MemoryStream[(Long, String)]
    val wave1 = Seq((30L, near("alpha")), (31L, text("delta")), (32L, text("eps")))
    val wave2 = Seq((40L, near("delta")))
    val qs = p.startChainedCuration(
      input.toDF().toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("crawl")),
      s"$base/index", splitClustersDir = Some(s"$base/clusters"))
    try {
      assert(qs.length == 4, "scrub → dedup → index → split assignment")
      // wave 1: a dup of corpus cluster {1,2} (dedup drops it) + two novel
      // docs; wave 2: a near-dup of wave 1's survivor 31 — the GROWN dedup
      // index drops it before it can reach the assigner
      input.addData(wave1: _*); drain(qs)
      input.addData(wave2: _*); drain(qs)
      val chained = spark.read.parquet(s"${p.chainSplitStorePath}/assigned")
        .select("doc_id", "split_key", "split").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(chained.keySet == Set(31L, 32L),
        s"dropped docs (30: corpus dup, 40: cross-wave dup) must consume NO split: $chained")
      // standalone assigner over the SAME raw waves
      val baseIndex = spark.read.parquet(s"$base/index")
      val clusters = spark.read.parquet(s"$base/clusters")
      val saOut = tmp("chainsplitsa")
      SplitStream.runBatch(wave1.toDF("doc_id", "text"), baseIndex, clusters,
        saOut, epoch = 0L)
      SplitStream.runBatch(wave2.toDF("doc_id", "text"), baseIndex, clusters,
        saOut, epoch = 1L)
      val standalone = spark.read.parquet(s"$saOut/assigned")
        .select("doc_id", "split_key", "split").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      // parity: every doc both paths assign gets the identical assignment
      chained.foreach { case (id, v) =>
        assert(standalone(id) == v,
          s"chained and standalone must agree on doc $id: $v vs ${standalone(id)}")
      }
      // and the chain's drops LOSE nothing: standalone would have handed
      // each dropped doc its surviving near-dup's key anyway
      assert(standalone(30L)._1 == 1L,
        s"the corpus dup's standalone key is its cluster's: $standalone")
      assert(standalone(40L) == standalone(31L),
        s"the cross-wave dup's standalone assignment equals its survivor's: $standalone")
      // a kept doc's signature enters EACH growth store exactly once —
      // the single hand-off listing drives both, so neither double-feeds
      def sigCounts(dir: String): Map[Long, Long] = spark.read.parquet(dir)
        .groupBy("doc_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val splitSigs = sigCounts(s"${p.chainSplitStorePath}/index_delta")
      val dedupSigs = sigCounts(s"${p.crawlStorePath}/index_delta")
      assert(splitSigs == Map(31L -> 1L, 32L -> 1L),
        s"each survivor's signature enters the assigner's store ONCE: $splitSigs")
      assert(dedupSigs.view.filterKeys(Set(31L, 32L)).toMap ==
        Map(31L -> 1L, 32L -> 1L),
        s"…and the dedup growth store once: $dedupSigs")
    } finally qs.foreach(_.stop())
  }

  test("replaying a scrub epoch (new part files under the same epoch=N) " +
    "leaves the served document count unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{EpochService, ScrubStream}
    def text(tag: String): String = (1 to 40).map(i => s"$tag$i").mkString(" ")
    val base = tmp("chainreplaybase")
    Dedup.buildDedupIndex(Seq((1L, text("alpha"))).toDF("doc_id", "text"))
      .write.parquet(s"$base/dedupindex")
    val p = new Pipeline(spark, tmp("chainreplaystore"), tmp("chainreplayckpt"))
    val input = MemoryStream[(Long, String)]
    def withMeta(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("lang", lit("en")).withColumn("source", lit("crawl"))
    val qs = p.startChainedCuration(withMeta(input.toDF().toDF("doc_id", "text")),
      s"$base/dedupindex")
    val wave = Seq((10L, text("alpha")),
      (11L, "unique words with contact a@b.org inside"), (12L, text("novel")))
    try {
      input.addData(wave: _*)
      drain(qs)
      val ixBase = indexedBaseFor(p)
      def served(): Long =
        IndexStream.servingIndex(spark, ixBase, p.indexStorePath).nTotal
      val before = served()
      assert(before == 2L, s"precondition: the two survivors are served: $before")
      def parts(): Set[String] = Seq("clean", "scrubbed").flatMap(o =>
          new java.io.File(s"${p.scrubStorePath}/$o/epoch=0").list().toSeq)
        .filter(_.startsWith("part-")).toSet
      val partsBefore = parts()
      def dedupEpochs() = EpochService.epochs(spark, s"${p.crawlStorePath}/clean")
      val dedupBefore = dedupEpochs()
      // the scrub stage crashed after its writes and replays epoch 0
      ScrubStream.runBatch(withMeta(wave.toDF("doc_id", "text")),
        p.scrubStorePath, epoch = 0L)
      assert(parts().intersect(partsBefore).isEmpty,
        s"the replay rewrites epoch 0 under new part-file names: ${parts()}")
      drain(qs)
      assert(dedupEpochs().size > dedupBefore.size,
        s"the dedup stage ingests the replayed files as new epochs: ${dedupEpochs()}")
      assert(served() == before,
        s"the dedup gate absorbs a scrub replay: served ${served()} vs $before")
    } finally qs.foreach(_.stop())
  }

  /** An empty base search index (the chain starts indexing from zero). */
  private def indexedBaseFor(p: Pipeline): String = {
    val dir = tmp("chainemptyix")
    TextAnalysis.persistSearchIndex(
      spark.emptyDataset[(Long, String)].toDF("doc_id", "text"), dir, stamp = "spec")
    dir
  }
}
