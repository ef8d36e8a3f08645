package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.CrawlDedup

/** Streaming continuous-crawl dedup: per-micro-batch [[Dedup.dedupDelta]]
  * against a persisted signature index that GROWS with the stream, with
  * epoch-partitioned idempotent output.
  */
class CrawlDedupSpec extends SparkSpec {
  import spark.implicits._

  private def text(tag: String): String = (1 to 40).map(i => s"$tag$i").mkString(" ")

  test("dedupDelta deltaBarrier hook: invoked exactly once, semantics-neutral, releasable") {
    // r18 (r17 ADVICE): streaming runBatch passes a persist-capturing
    // barrier for dedupDelta's internal delta-rep-sets frame so its
    // storage is released per batch instead of waiting on driver GC.
    // This pins the hook's contract: one invocation per call, identical
    // rows under any semantics-neutral barrier, unpersist leaves nothing.
    val corpus = Seq((1L, text("alpha")), (2L, text("beta"))).toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(corpus)
    val nearBeta = (text("beta").split(" ").dropRight(2) :+ "zz" :+ "qq").mkString(" ")
    val delta = Seq((10L, text("alpha")), (11L, nearBeta), (12L, text("novelA")))
      .toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val defaults = key(Dedup.dedupDelta(index, delta))
    var calls = 0
    val captured = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]
    val viaPersist = try {
      key(Dedup.dedupDelta(index, delta,
        deltaBarrier = df => { calls += 1; val p = df.persist(); captured += p; p }))
    } finally captured.foreach(_.unpersist(false))
    assert(calls == 1, s"the delta rep sets materialize once per call, saw $calls")
    assert(viaPersist == defaults,
      s"persist barrier must be semantics-neutral: $viaPersist vs $defaults")
    assert(defaults.map(p => (p._1, p._2)).toSet == Set((1L, 10L), (2L, 11L)),
      s"fixture sanity (exact + near pair): $defaults")
  }

  test("crawl batches dedup against the persisted index AND earlier batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("crawl").toString
    val corpus = Seq((1L, text("alpha")), (2L, text("beta"))).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus).write.parquet(s"$base/index")
    val outDir = s"$base/out"
    val input = MemoryStream[(Long, String)]
    val q = CrawlDedup.start(input.toDF().toDF("doc_id", "text"), s"$base/index", outDir)
    try {
      // batch 0: exact dup of corpus doc 1, near-dup of corpus doc 2
      // (last two tokens replaced), one novel doc
      val nearBeta = (text("beta").split(" ").dropRight(2) :+ "zz" :+ "qq").mkString(" ")
      input.addData((10L, text("alpha")), (11L, nearBeta), (12L, text("novelA")))
      q.processAllAvailable()
      // batch 1: exact dup of batch 0's novel doc (CROSS-BATCH — only the
      // appended index delta can catch it) + one genuinely novel doc
      input.addData((20L, text("novelA")), (21L, text("novelC")))
      q.processAllAvailable()
      val clean = spark.read.parquet(s"$outDir/clean")
        .select("doc_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet
      assert(clean == Set((12L, 0L), (21L, 1L)),
        s"only the two novel docs survive, in their own epochs: $clean")
      val pairs = spark.read.parquet(s"$outDir/pairs").collect()
        .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("delta_id"),
          r.getAs[Double]("jaccard"), r.getAs[Number]("epoch").longValue()))
      assert(pairs.exists(p => p._1 == 1L && p._2 == 10L && p._3 == 1.0 && p._4 == 0L),
        s"exact corpus dup must pair in epoch 0: ${pairs.mkString(", ")}")
      assert(pairs.exists(p => p._1 == 2L && p._2 == 11L && p._3 >= 0.8 && p._3 < 1.0 && p._4 == 0L),
        s"near corpus dup must pair in epoch 0: ${pairs.mkString(", ")}")
      assert(pairs.exists(p => p._1 == 12L && p._2 == 20L && p._3 == 1.0 && p._4 == 1L),
        s"cross-batch dup must pair against the APPENDED index in epoch 1: ${pairs.mkString(", ")}")
      assert(pairs.length == 3, s"exactly three dup pairs expected: ${pairs.mkString(", ")}")
      // round-13 verdict 2: compact() must REFUSE while this stream runs
      // (a fold-and-clear under a live stream would let every folded
      // epoch's duplicates pass as clean until restart)
      intercept[IllegalStateException] {
        CrawlDedup.compact(spark, s"$base/index", outDir, s"$base/index_g")
      }
    } finally q.stop()
    // …and succeed once the stream is stopped, same checkpoint present
    CrawlDedup.compact(spark, s"$base/index", outDir, s"$base/index_g")
    assert(graft.sources.SnapshotStore.ready(spark, s"$base/index_g", "compact"))
  }

  test("a replayed epoch reproduces its output instead of self-matching (crash recovery)") {
    val base = Files.createTempDirectory("crawlreplay").toString
    val corpus = Seq((1L, text("alpha"))).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus).write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    val outDir = s"$base/out"
    val b0 = Seq((10L, text("novelA"))).toDF("doc_id", "text")
    val b1 = Seq((20L, text("novelA")), (21L, text("novelB"))).toDF("doc_id", "text")
    CrawlDedup.runBatch(b0, baseIndex, outDir, epoch = 0L)
    CrawlDedup.runBatch(b1, baseIndex, outDir, epoch = 1L)
    def state(): (Set[(Long, Long)], Set[(Long, Long, Long)]) = (
      spark.read.parquet(s"$outDir/clean").select("doc_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("epoch").longValue())).toSet,
      spark.read.parquet(s"$outDir/pairs").select("corpus_id", "delta_id", "epoch").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("epoch").longValue())).toSet)
    val before = state()
    assert(before._1 == Set((10L, 0L), (21L, 1L)) && before._2 == Set((10L, 20L, 1L)),
      s"precondition: cross-batch dup caught, novels kept: $before")
    // crash-replay epoch 1: its own index delta already exists on disk —
    // the strictly-earlier-epoch filter must keep the batch from finding
    // ITS OWN rows in the corpus (which would empty the clean set)
    CrawlDedup.runBatch(b1, baseIndex, outDir, epoch = 1L)
    assert(state() == before, s"replay must be idempotent: ${state()} vs $before")
  }

  test("index compaction folds deltas into a new base: later batches still catch old dups") {
    val base = Files.createTempDirectory("crawlcompact").toString
    val corpus = Seq((1L, text("alpha"))).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus).write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    val outDir = s"$base/out"
    CrawlDedup.runBatch(Seq((10L, text("novelA"))).toDF("doc_id", "text"),
      baseIndex, outDir, epoch = 0L)
    CrawlDedup.compact(spark, s"$base/index", outDir, s"$base/index2")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$outDir/index_delta")), "deltas must be cleared")
    // the compacted base carries BOTH the corpus and the streamed epoch:
    // dups of either still drop in the next batch
    val newBase = spark.read.parquet(s"$base/index2/index")
    CrawlDedup.runBatch(
      Seq((20L, text("alpha")), (21L, text("novelA")), (22L, text("fresh")))
        .toDF("doc_id", "text"), newBase, outDir, epoch = 1L)
    val clean = spark.read.parquet(s"$outDir/clean")
      .filter(col("epoch") === 1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(22L),
      s"dups of the corpus AND of pre-compaction epochs must drop: $clean")
  }

  test("epoch replay law: a replayed epoch, and one that lost an output, reproduce every output") {
    val base = Files.createTempDirectory("crawllaw").toString
    Dedup.buildDedupIndex(Seq((1L, text("alpha"))).toDF("doc_id", "text"))
      .write.parquet(s"$base/index")
    val baseIndex = spark.read.parquet(s"$base/index")
    EpochReplayLaw.check(spark, s"$base/out", Seq("pairs", "clean", "index_delta"),
      Seq((10L, text("novelA")), (11L, text("alpha"))).toDF("doc_id", "text"),
      Seq((20L, text("novelA")), (21L, text("novelB"))).toDF("doc_id", "text"))(
      CrawlDedup.runBatch(_, baseIndex, s"$base/out", _))
  }
}
