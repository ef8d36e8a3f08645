package graft

import org.apache.spark.sql.functions._
import graft.operators.{Takedown, TextAnalysis}

/** Takedown propagation: suppression, rank closing, backfill, audit. */
class TakedownSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf).cache()
  private lazy val tombs = Takedown.tombstones(docs).cache()
  private lazy val index: TextAnalysis.SearchIndex = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tdx").toString
    TextAnalysis.persistSearchIndex(docs, dir)
    TextAnalysis.loadSearchIndex(spark, dir)
  }

  test("planted top-k: holes close contiguously, relative order kept, " +
    "cut to serveK, untouched queries unchanged") {
    // query 0: ranks 2 and 4 tombstoned (doc_ids 6, 19 ≡ 6 mod 13) —
    // survivors at original ranks 1,3,5,6,7 must re-rank 1..5 in original
    // order, so original ranks 6 and 7 (docs 104, 105) backfill into the
    // served five; query 1 has no tombstoned docs and comes through
    // identically.
    val topk = Seq(
      (0L, 101L, 0L, 0.9, 1L), (0L, 6L, 0L, 0.8, 2L), (0L, 102L, 0L, 0.7, 3L),
      (0L, 19L, 0L, 0.6, 4L), (0L, 103L, 0L, 0.5, 5L), (0L, 104L, 0L, 0.4, 6L),
      (0L, 105L, 0L, 0.3, 7L),
      (1L, 211L, 0L, 0.9, 1L), (1L, 202L, 0L, 0.8, 2L))
      .toDF("query_id", "doc_id", "chunk_id", "cosine", "rank")
    val got = Takedown.topKWithTakedown(topk, tombs, serveK = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(got.filter(_._1 == 0L).toSeq ==
      Seq((0L, 101L, 1L), (0L, 102L, 2L), (0L, 103L, 3L), (0L, 104L, 4L),
        (0L, 105L, 5L)))
    assert(got.filter(_._1 == 1L).toSeq == Seq((1L, 211L, 1L), (1L, 202L, 2L)))
  }

  test("search backfill: full budget served, order preserved, a deeper " +
    "candidate fills the erased slot (non-vacuous at the test SF)") {
    val deep = TextAnalysis.keywordSearchFrom(index,
      Seq("hash", "join", "vector"), k = 20)
    val deepRows = deep.collect().map(_.getLong(0)).toSeq
    val tombSet = tombs.select("doc_id").collect().map(_.getLong(0)).toSet
    val served = Takedown.servedWithTakedown(deep, tombs,
      Seq(col("score").desc, col("doc_id")), serveK = 10)
      .collect().map(_.getLong(0)).toSeq
    // exact semantics: first 10 survivors of the deep list, in order
    assert(served == deepRows.filterNot(tombSet).take(10))
    // non-vacuity: the fixture residue intersects the PRE-takedown top-10
    // (measured property of the %13=6 choice at sf0.001), so the served
    // list genuinely differs and its last slot is a backfilled candidate
    assert(deepRows.take(10).exists(tombSet),
      "fixture must intersect the unsuppressed top-10 at the test SF")
    assert(served != deepRows.take(10) && served.size == 10)
    assert(!deepRows.take(10).contains(served.last),
      "the last served slot must come from the deeper recall")
  }

  test("audit: zero leaked ids on every surface, suppression accounting " +
    "non-vacuous, and the audit TRIPS when suppression is skipped") {
    val r = SparkEntry.queries("q_takedown_audit")(spark, sf).collect().head
    assert(r.getAs[Long]("n_leaked_search") == 0L &&
      r.getAs[Long]("n_leaked_topk") == 0L)
    assert(r.getAs[Long]("n_suppressed_search") >= 1L &&
      r.getAs[Long]("n_suppressed_topk") >= 1L,
      "the fixture must suppress something at every SF")
    // the tripwire: feeding the audit an UN-suppressed surface reports
    // the leak instead of vacuously passing
    val deep = TextAnalysis.keywordSearchFrom(index,
      Seq("hash", "join", "vector"), k = 20)
    val leaked = Takedown.takedownAudit(tombs,
        Seq("search" -> deep.select("doc_id")))
      .collect().head.getAs[Long]("n_leaked_search")
    assert(leaked >= 1L, "an unsuppressed surface must report its leak")
  }

  test("audit one-scan counts ≡ the serving gate (r14 verdict 3): the " +
    "in-place close-up matches topKWithTakedown, pair accounting matches " +
    "pairsWithTakedown, on planted and real surfaces") {
    // planted frame: same fixture as the rank-closing test — tombstoned
    // rows inside the cut, backfill engaged
    val topk = Seq(
      (0L, 101L, 0L, 0.9, 1L), (0L, 6L, 0L, 0.8, 2L), (0L, 102L, 0L, 0.7, 3L),
      (0L, 19L, 0L, 0.6, 4L), (0L, 103L, 0L, 0.5, 5L), (0L, 104L, 0L, 0.4, 6L),
      (0L, 105L, 0L, 0.3, 7L),
      (1L, 211L, 0L, 0.9, 1L), (1L, 202L, 0L, 0.8, 2L))
      .toDF("query_id", "doc_id", "chunk_id", "cosine", "rank")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(Takedown.topKAuditServed(topk, tombs, serveK = 5)) ==
      rows(Takedown.topKWithTakedown(topk, tombs, serveK = 5)),
      "the audit's in-place gate must equal the serving gate on the planted frame")
    val counts = Takedown.topKAuditCounts(topk, tombs, serveK = 5, "t")
      .collect().head
    assert(counts.getAs[Long]("n_leaked_t") == 0L)
    assert(counts.getAs[Long]("n_suppressed_t") == 2L)
    // real ranked surface: the registry's passage top-k
    val real = SparkEntry.queries("q_passage_topk")(spark, sf)
    assert(rows(Takedown.topKAuditServed(real, tombs, serveK = 5)) ==
      rows(Takedown.topKWithTakedown(real, tombs, serveK = 5)),
      "parity must hold on the real passage surface")
    val realCounts = Takedown.topKAuditCounts(real, tombs, serveK = 5, "r")
      .collect().head
    assert(realCounts.getAs[Long]("n_suppressed_r") ==
      real.join(tombs.select("doc_id"), Seq("doc_id"), "left_semi").count())
    // pair surface: suppressed count ≡ pre-gate minus served, leak ≡ the
    // exploded-endpoint semi count over the served pairs (both 0 here)
    val pairs = Seq((6L, 2L, 1L), (2L, 3L, 2L), (4L, 19L, 0L), (5L, 9L, 3L))
      .toDF("id1", "id2", "hamming")
    val pc = Takedown.pairsAuditCounts(pairs, tombs, "p").collect().head
    assert(pc.getAs[Long]("n_suppressed_p") ==
      pairs.count() - Takedown.pairsWithTakedown(pairs, tombs).count())
    assert(pc.getAs[Long]("n_suppressed_p") == 2L)
    assert(pc.getAs[Long]("n_leaked_p") == 0L)
  }

  test("takedown stream: grown view = base ∪ deltas distinct, absent base " +
    "fine, replay idempotent, compaction folds commit-before-delete") {
    import graft.streaming.TakedownStream
    val root = java.nio.file.Files.createTempDirectory("graft-tds").toString
    val baseDir = s"$root/base"
    val outDir = s"$root/out"
    // absent base + no deltas: the grown view is empty, not an error
    assert(TakedownStream.grownTombstones(spark, baseDir, outDir).count() == 0)
    // base with one erasure; two epochs, one repeating the base's doc
    // with a DIFFERENT reason and one new — distinct-on-read keeps one
    // row per doc with the min reason
    Seq((5L, "dmca")).toDF("doc_id", "reason")
      .write.parquet(s"$baseDir/tombstones")
    TakedownStream.runBatch(
      Seq((5L, "erasure"), (7L, "optout"), (7L, "dmca")).toDF("doc_id", "reason"),
      outDir, epoch = 0)
    TakedownStream.runBatch(Seq((9L, "erasure")).toDF("doc_id", "reason"),
      outDir, epoch = 1)
    val grown = TakedownStream.grownTombstones(spark, baseDir, outDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(grown == Map(5L -> "dmca", 7L -> "dmca", 9L -> "erasure"))
    // replay: re-running epoch 1 overwrites its own delta — same view
    TakedownStream.runBatch(Seq((9L, "erasure")).toDF("doc_id", "reason"),
      outDir, epoch = 1)
    assert(TakedownStream.grownTombstones(spark, baseDir, outDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == grown)
    // compaction: new base serves identically, deltas cleared
    val newBase = s"$root/base2"
    TakedownStream.compact(spark, baseDir, outDir, newBase)
    assert(graft.sources.SnapshotStore.ready(spark, newBase, "compact"))
    assert(TakedownStream.grownTombstones(spark, newBase, outDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == grown)
    assert(!new java.io.File(s"$outDir/tombstones_delta").exists())
  }

  test("takedown compact refuses under a live stream and never swallows an " +
    "unfolded epoch (round-13 ADVICE 2 / verdict 2)") {
    import graft.streaming.TakedownStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-tdg").toString
    val baseDir = s"$root/base"
    val outDir = s"$root/out"
    val input = MemoryStream[(Long, String)]
    val q = TakedownStream.start(input.toDF().toDF("doc_id", "reason"), outDir)
    try {
      input.addData((5L, "erasure"))
      q.processAllAvailable()
      // a live stream must make compact() REFUSE — a fold-and-clear here
      // could silently drop a delta epoch, UN-SUPPRESSING an erasure
      intercept[IllegalStateException] {
        TakedownStream.compact(spark, baseDir, outDir, s"$root/base2")
      }
    } finally q.stop()
    // stopped: compact folds the ingested epoch into the new base
    TakedownStream.compact(spark, baseDir, outDir, s"$root/base2")
    assert(TakedownStream.grownTombstones(spark, s"$root/base2", outDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(5L -> "erasure"))
    // the fold is epoch-scoped: an epoch landing AFTER one compaction is
    // untouched by it and survives into the NEXT fold — across the two
    // generations no erasure is ever lost
    TakedownStream.runBatch(Seq((9L, "optout")).toDF("doc_id", "reason"),
      outDir, epoch = 7)
    assert(TakedownStream.grownTombstones(spark, s"$root/base2", outDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(5L -> "erasure", 9L -> "optout"),
      "a post-compaction epoch must stay served from the delta dir")
    TakedownStream.compact(spark, s"$root/base2", outDir, s"$root/base3")
    assert(TakedownStream.grownTombstones(spark, s"$root/base3", outDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(5L -> "erasure", 9L -> "optout"),
      "the second fold must carry BOTH generations' erasures")
    assert(!new java.io.File(s"$outDir/tombstones_delta").exists())
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    import graft.streaming.TakedownStream
    val outDir = java.nio.file.Files.createTempDirectory("graft-tdlaw").toString + "/out"
    EpochReplayLaw.check(spark, outDir, Seq("tombstones_delta"),
      Seq((5L, "erasure"), (7L, "optout"), (7L, "dmca")).toDF("doc_id", "reason"),
      Seq((9L, "erasure")).toDF("doc_id", "reason"))(
      TakedownStream.runBatch(_, outDir, _))
  }
}
