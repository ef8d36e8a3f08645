package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup}
import graft.streaming.SplitStream

/** Streaming leakage-safe split assignment (r15 verdict 4): ingest-time
  * train/val/test assignment that inherits the near-dup cluster's split
  * key from the frozen artifacts, grows its own match universe across
  * batches, and replays idempotently.
  */
class SplitStreamSpec extends SparkSpec {
  import spark.implicits._

  private def text(tag: String): String = (1 to 40).map(i => s"$tag$i").mkString(" ")
  private def near(tag: String): String =
    (text(tag).split(" ").dropRight(2) :+ "zz" :+ "qq").mkString(" ")
  // word-3-gram geometry over 40 unique tokens (38 shingles): replacing
  // k edge tokens perturbs k shingles, so replLast/replFirst(·, 3) are
  // each j = 35/41 ≈ 0.854 near the original while j ≈ 0.727 < 0.8 from
  // EACH OTHER — the transitive-closure fixture
  private def replLast(tag: String, k: Int): String =
    (text(tag).split(" ").dropRight(k) ++ (1 to k).map(i => s"end$i")).mkString(" ")
  private def replFirst(tag: String, k: Int): String =
    ((1 to k).map(i => s"beg$i") ++ text(tag).split(" ").drop(k)).mkString(" ")

  /** corpus with one genuine near-dup cluster {1, 2} and a singleton 3,
    * its signature index, and its converged cluster assignment — the
    * exact artifact pair `q_safe_split` reads.
    */
  private def fixture(): (String, org.apache.spark.sql.DataFrame) = {
    val base = Files.createTempDirectory("splitstream").toString
    val corpus = Seq(
      (1L, "en", text("alpha")), (2L, "en", near("alpha")),
      (3L, "en", text("gamma"))).toDF("doc_id", "lang", "text")
    Dedup.buildDedupIndex(corpus).write.parquet(s"$base/index")
    Dedup.clustersFromPairs(
        Dedup.minhashPairs(corpus).select("doc_id1", "doc_id2"))
      .write.parquet(s"$base/clusters")
    (base, corpus)
  }

  test("epoch ≡ batch parity: replaying the corpus through the stream " +
    "reproduces leakageSafeSplit's assignment exactly") {
    val (base, corpus) = fixture()
    val baseIndex = spark.read.parquet(s"$base/index")
    val clusters = spark.read.parquet(s"$base/clusters")
    SplitStream.runBatch(corpus, baseIndex, clusters, s"$base/out", epoch = 0L)
    val got = spark.read.parquet(s"$base/out/assigned")
      .select("doc_id", "split_key", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val want = Corpus.leakageSafeSplit(corpus, clusters)
      .select("doc_id", "split_key", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got == want, s"stream assignment must equal the batch split: $got vs $want")
    // non-vacuity: the fixture really exercises the cluster path
    assert(want(2L)._1 == 1L && want(3L)._1 == 3L)
  }

  test("a new near-dup of an existing cluster inherits the cluster's key; " +
    "novel documents key by their own id; co-location holds across batches") {
    implicit val sqlCtx = spark.sqlContext
    val (base, _) = fixture()
    val input = MemoryStream[(Long, String)]
    val q = SplitStream.start(input.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/clusters", s"$base/out")
    try {
      // batch 0: a fresh paraphrase of cluster {1,2} + a novel doc
      input.addData((30L, near("alpha")), (31L, text("delta")))
      q.processAllAvailable()
      // batch 1: a near-dup of batch 0's NOVEL doc — only the appended
      // signature/key deltas can co-locate it
      input.addData((40L, near("delta")))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/out/assigned")
        .select("doc_id", "split_key", "split").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(got(30L)._1 == 1L, s"cluster paraphrase must inherit key 1: $got")
      assert(got(31L)._1 == 31L, s"novel doc keys by its own id: $got")
      assert(got(40L)._1 == 31L,
        s"cross-batch near-dup must inherit the FIRST arrival's key: $got")
      // the invariant the operator exists for: near-dups share a side
      assert(got(40L)._2 == got(31L)._2 && got(30L)._2 ==
        Seq((1L, 1L)).toDF("doc_id", "split_key")
          .withColumn("split", Corpus.splitOfKey(col("split_key")))
          .collect().head.getString(2),
        s"co-location + shared hash site: $got")
    } finally q.stop()
  }

  test("near-dups arriving in the SAME micro-batch co-locate, transitively (r16 ADVICE)") {
    val (base, _) = fixture()
    val baseIndex = spark.read.parquet(s"$base/index")
    val clusters = spark.read.parquet(s"$base/clusters")
    // non-vacuity: the two satellites must NOT pair directly — only the
    // transitive closure through the hub can co-locate them
    assert(Dedup.minhashPairs(Seq((61L, replLast("mu", 3)),
        (62L, replFirst("mu", 3))).toDF("doc_id", "text")).isEmpty,
      "fixture satellites must not be near each other")
    // ONE batch: hub + two satellites (near the hub, not each other) +
    // an unrelated novel doc — pre-fix, each satellite fell through to
    // its own id and could hash to the opposite split from the hub
    val b = Seq((60L, text("mu")), (61L, replLast("mu", 3)),
      (62L, replFirst("mu", 3)), (63L, text("nu"))).toDF("doc_id", "text")
    SplitStream.runBatch(b, baseIndex, clusters, s"$base/out", epoch = 0L)
    val got = spark.read.parquet(s"$base/out/assigned")
      .select("doc_id", "split_key", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got(60L)._1 == 60L && got(61L)._1 == 60L && got(62L)._1 == 60L,
      s"same-batch near-dups must take the component-minimum key: $got")
    assert(got(60L)._2 == got(61L)._2 && got(61L)._2 == got(62L)._2,
      s"the invariant the arm exists for — one split side per component: $got")
    assert(got(63L)._1 == 63L, s"the unrelated doc keys by its own id: $got")
  }

  test("an intra-batch near-dup of a corpus-matched arrival inherits the " +
    "corpus cluster key through the batch component (r16 ADVICE)") {
    val (base, _) = fixture()
    val baseIndex = spark.read.parquet(s"$base/index")
    val clusters = spark.read.parquet(s"$base/clusters")
    // A near-dups corpus cluster {1,2} (j ≈ 0.854 to both members); B
    // near-dups A (j ≈ 0.854) but NOT the corpus (j ≈ 0.727 < 0.8 to
    // both members — A and B differ from the corpus at OPPOSITE ends) —
    // only the intra-batch arm + A's inheritance can hand B the cluster key
    val aText = replLast("alpha", 3)
    val bText = ((1 to 3).map(i => s"beg$i") ++ aText.split(" ").drop(3))
      .mkString(" ")
    assert(Dedup.dedupDelta(baseIndex,
        Seq((71L, bText)).toDF("doc_id", "text")).isEmpty,
      "fixture B must not match the corpus directly")
    SplitStream.runBatch(Seq((70L, aText), (71L, bText)).toDF("doc_id", "text"),
      baseIndex, clusters, s"$base/out", epoch = 0L)
    val got = spark.read.parquet(s"$base/out/assigned")
      .select("doc_id", "split_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(70L -> 1L, 71L -> 1L),
      s"the component minimum is the RESOLVED (corpus-inherited) key: $got")
  }

  test("a replayed epoch reproduces its assignment instead of matching " +
    "its own appended deltas (crash recovery; intra-batch arm included)") {
    val (base, _) = fixture()
    val baseIndex = spark.read.parquet(s"$base/index")
    val clusters = spark.read.parquet(s"$base/clusters")
    val b0 = Seq((30L, text("delta"))).toDF("doc_id", "text")
    val b1 = Seq((40L, near("delta")), (41L, text("omega")),
      (42L, replLast("omega", 3))).toDF("doc_id", "text")
    SplitStream.runBatch(b0, baseIndex, clusters, s"$base/out", epoch = 0L)
    SplitStream.runBatch(b1, baseIndex, clusters, s"$base/out", epoch = 1L)
    def state(): Map[(Long, Long), (Long, String)] =
      spark.read.parquet(s"$base/out/assigned")
        .select("doc_id", "split_key", "split", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue()) ->
          (r.getLong(1), r.getString(2))).toMap
    val before = state()
    assert(before((40L, 1L))._1 == 30L, s"epoch-1 doc inherits epoch 0's key: $before")
    assert(before((42L, 1L))._1 == 41L,
      s"the intra-batch pair inside the replayed epoch co-locates: $before")
    // crash-replay of the last epoch: its own epoch-1 index/key deltas
    // exist on disk, but the strictly-earlier union must hide them
    SplitStream.runBatch(b1, baseIndex, clusters, s"$base/out", epoch = 1L)
    assert(state() == before, "replay must be idempotent")
  }

  test("compact folds the deltas into new bases; assignments on the folded " +
    "bases are unchanged, and compact refuses under a live stream") {
    implicit val sqlCtx = spark.sqlContext
    val (base, _) = fixture()
    // a live stream holds the checkpoint: compact must refuse
    val input = MemoryStream[(Long, String)]
    val q = SplitStream.start(input.toDF().toDF("doc_id", "text"),
      s"$base/index", s"$base/clusters", s"$base/out")
    try {
      input.addData((30L, text("delta")))
      q.processAllAvailable()
      intercept[IllegalStateException] {
        SplitStream.compact(spark, s"$base/index", s"$base/clusters",
          s"$base/out", s"$base/folded")
      }
    } finally q.stop()
    SplitStream.compact(spark, s"$base/index", s"$base/clusters",
      s"$base/out", s"$base/folded")
    assert(graft.sources.SnapshotStore.ready(spark, s"$base/folded", "compact"))
    // the stream doc's key is now a first-class cluster row, and its
    // signature is in the folded index: a near-dup arriving against the
    // FOLDED bases (empty deltas, fresh outDir) inherits the same key
    val fIndex = spark.read.parquet(s"$base/folded/index")
    val fClusters = spark.read.parquet(s"$base/folded/clusters")
    SplitStream.runBatch(Seq((50L, near("delta"))).toDF("doc_id", "text"),
      fIndex, fClusters, s"$base/out2", epoch = 0L)
    val got = spark.read.parquet(s"$base/out2/assigned")
      .select("doc_id", "split_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(50L -> 30L),
      s"the folded bases must carry the stream doc's key forward: $got")
  }

  test("compact restores the per-batch read to ONE base scan + zero epoch " +
    "deltas; epochCounts surfaces the when-to-compact signal (r16 verdict 3)") {
    val (base, _) = fixture()
    val baseIndex = spark.read.parquet(s"$base/index")
    val clusters = spark.read.parquet(s"$base/clusters")
    val out = s"$base/out"
    SplitStream.runBatch(Seq((30L, text("delta"))).toDF("doc_id", "text"),
      baseIndex, clusters, out, epoch = 0L)
    SplitStream.runBatch(Seq((31L, text("omega"))).toDF("doc_id", "text"),
      baseIndex, clusters, out, epoch = 1L)
    assert(SplitStream.epochCounts(spark, out) == ((2, 2)),
      "two appended epochs per delta store before compaction")
    // pre-compact: the EXACT frames a batch reads list every epoch dir —
    // the O(epochs) read amplification compact exists to collapse
    def epochDirs(files: Array[String]): Set[String] =
      files.flatMap(_.split("/").find(_.startsWith("epoch="))).toSet
    val preIndex = SplitStream.unionDeltas(spark, baseIndex,
      s"$out/index_delta", beforeEpoch = Long.MaxValue)
    val preKeys = SplitStream.keyDeltas(spark, s"$out/key_delta",
      beforeEpoch = Long.MaxValue)
    assert(epochDirs(preIndex.inputFiles) == Set("epoch=0", "epoch=1"),
      s"pre-compact match universe lists both epochs: ${preIndex.inputFiles.toSeq}")
    assert(epochDirs(preKeys.inputFiles) == Set("epoch=0", "epoch=1"))
    SplitStream.compact(spark, s"$base/index", s"$base/clusters", out,
      s"$base/folded")
    // post-compact: one base scan each, ZERO epoch= paths anywhere
    assert(SplitStream.epochCounts(spark, out) == ((0, 0)),
      "compact must clear both delta stores")
    val postIndex = SplitStream.unionDeltas(spark,
      spark.read.parquet(s"$base/folded/index"), s"$out/index_delta",
      beforeEpoch = Long.MaxValue)
    assert(postIndex.inputFiles.nonEmpty &&
      postIndex.inputFiles.forall(f =>
        f.contains("folded/index") && !f.contains("epoch=")),
      s"post-compact the match universe is exactly the folded base scan: " +
        s"${postIndex.inputFiles.toSeq}")
    val postKeys = SplitStream.keyDeltas(spark, s"$out/key_delta",
      beforeEpoch = Long.MaxValue)
    assert(postKeys.inputFiles.isEmpty,
      s"post-compact the key-delta read touches no files: ${postKeys.inputFiles.toSeq}")
  }

  test("a post-compact restart against the stale bases fails fast; the " +
    "folded bases are accepted (r16 ADVICE)") {
    implicit val sqlCtx = spark.sqlContext
    val (base, _) = fixture()
    val baseIndex = spark.read.parquet(s"$base/index")
    val clusters = spark.read.parquet(s"$base/clusters")
    val out = s"$base/out"
    SplitStream.runBatch(Seq((30L, text("delta"))).toDF("doc_id", "text"),
      baseIndex, clusters, out, epoch = 0L)
    SplitStream.compact(spark, s"$base/index", s"$base/clusters", out,
      s"$base/folded")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // stale pre-compact bases: every stream-assigned signature and key
    // would silently vanish from the match universe — must throw, loudly
    val ex = intercept[IllegalStateException] {
      SplitStream.start(docs, s"$base/index", s"$base/clusters", out)
    }
    assert(ex.getMessage.contains("folded") || ex.getMessage.contains("compacted"),
      s"the failure must say WHY: ${ex.getMessage}")
    // the recorded folded bases are accepted, and carry the key forward
    val q = SplitStream.start(docs, s"$base/folded/index",
      s"$base/folded/clusters", out)
    try {
      input.addData((50L, near("delta")))
      q.processAllAvailable()
    } finally q.stop()
    // (the spec's fresh checkpoint renumbers from epoch 0, overwriting
    // the fixture's old assigned dir — a real restart reuses its
    // checkpoint and keeps counting; what's asserted is the MATCH)
    val got = spark.read.parquet(s"$out/assigned")
      .select("doc_id", "split_key").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(50L -> 30L),
      s"restart on the folded bases continues the assignment history: $got")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val (base, _) = fixture()
    val baseIndex = spark.read.parquet(s"$base/index")
    val clusters = spark.read.parquet(s"$base/clusters")
    EpochReplayLaw.check(spark, s"$base/out", Seq("assigned", "index_delta", "key_delta"),
      Seq((30L, text("delta")), (31L, near("alpha"))).toDF("doc_id", "text"),
      Seq((40L, near("delta")), (41L, text("omega"))).toDF("doc_id", "text"))(
      SplitStream.runBatch(_, baseIndex, clusters, s"$base/out", _))
  }
}
