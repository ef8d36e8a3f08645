package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Corpus, Dedup}

/** STREAMING leakage-safe split assignment (r15 verdict 4) — the ingest
  * counterpart of [[Corpus.leakageSafeSplit]]: a stream of
  * (doc_id, text) documents is assigned `train`/`val`/`test` AT INGEST,
  * and a new document that near-dups an existing near-dup cluster
  * INHERITS that cluster's split key — so a freshly-crawled paraphrase
  * of a test document can never land in train, which is the entire
  * point of the cluster-keyed split. Without this member, the batch
  * split is leakage-safe but every post-split arrival re-opens the
  * hole.
  *
  * Frozen artifacts (the [[DsirStream]] discipline): the corpus
  * signature index ([[Dedup.buildDedupIndex]] parquet — the SAME table
  * [[CrawlDedup]] dedups against) and the persisted cluster assignment
  * (`doc_id`, `cluster_id` — [[Dedup.clustersFromPairs]] over the
  * verified pairs, the table `q_safe_split` reads). Both are captured
  * once at stream start; the split hash itself is
  * [[Corpus.splitOfKey]] — the ONE site [[Corpus.dataSplit]] and
  * [[Corpus.leakageSafeSplit]] share, so the stream can never disagree
  * with the batch split on where a key lands.
  *
  * Matching runs at THREE granularities, so co-location holds no
  * matter how a near-dup pair straddles the ingest timeline:
  *
  *  1. vs the corpus — [[Dedup.dedupDelta]] (exact content-hash +
  *     LSH-banded near) against base index ∪ earlier epochs' appended
  *     signature deltas (the [[CrawlDedup]] growth discipline);
  *  2. ACROSS batches — the first arrival of a new pair keys by its
  *     own id, its signature and assigned key are appended, and the
  *     second inherits through the match;
  *  3. WITHIN a batch (r16 ADVICE — previously a silent gap): two
  *     near-duplicates arriving in the SAME micro-batch have no
  *     appended delta to meet through, so the batch is additionally
  *     matched against ITSELF ([[Dedup.selfEdgesFromIndex]] over the
  *     batch's own signature index — built once, self-matched through
  *     its STORED sketches with zero re-shingling, then reused as the
  *     epoch's `index_delta` write; star edges for exact groups, so a
  *     batch of k copies costs k−1 edges, never k²/2), the resulting
  *     intra-batch edges are closed transitively
  *     ([[Dedup.clustersFromPairs]] — a chain a~b~c inside one batch is
  *     one component), and every member of a
  *     component takes the component-minimum RESOLVED key (each
  *     member's corpus-inherited key where it has one, else its own
  *     id). Without this arm the exact leakage this member exists to
  *     prevent re-opened at micro-batch granularity.
  *
  * A matched corpus document's key resolves
  * `cluster_id → stream-assigned key → own id` (base clusters, then
  * key deltas, then identity — exactly [[Corpus.leakageSafeSplit]]'s
  * coalesce extended by the stream's own history); a document matching
  * several corpus docs takes the MINIMUM resolved key
  * (deterministic; when the matches span two existing clusters a batch
  * recompute would merge them, but an ingest assigner must never MOVE
  * already-assigned documents, so it co-locates with one — the frozen-
  * artifact stability-over-recompute tradeoff, same as
  * [[Corpus.evalHoldout]] vs a re-split). The intra-batch component
  * minimum is the same policy one level up: when a batch component
  * bridges two already-keyed clusters, its members co-locate with the
  * minimum — deterministic, and identical to what
  * [[Corpus.leakageSafeSplit]]'s min-label clustering would pick for
  * the keys it can see.
  *
  * Effectively-once per [[EpochService]]: the index/key unions read
  * strictly-earlier epochs only, so a replayed micro-batch reproduces
  * its original assignment instead of matching its own half-written
  * rows (spec'd). The intra-batch arm preserves this: it reads only the
  * batch itself plus the strictly-earlier-derived inherited keys, so a
  * replay recomputes the identical components and minima.
  *
  * Scale shape: per batch, corpus-side cost ∝ |index| signature rows
  * (never corpus text), delta-side ∝ |batch|; the intra-batch arm is
  * |batch| vs |batch| through the SAME banded-LSH path (never
  * all-pairs), and its transitive closure iterates over the batch's
  * near-dup pair graph only — empty for the typical batch, and
  * skipped entirely then (one cheap emptiness probe on the persisted
  * pair frame). The cluster table and key deltas join by equi-key.
  * Nothing accumulates driver state; the appended deltas are the same
  * compact-when-quiet maintenance surface as [[CrawlDedup.compact]],
  * with [[epochCounts]] surfacing the current delta-dir count (the
  * when-to-compact signal) and the pre/post listing shape pinned by a
  * files-read spec (r16 verdict 3).
  */
object SplitStream {

  /** Start the split-assignment stream over `docs` (a streaming frame
    * with `doc_id`/`text`), matching against the signature index at
    * `baseIndexDir` and inheriting keys from the cluster assignment at
    * `clustersDir`. Outputs under `outDir`: `assigned/` (doc_id,
    * split_key, split), `index_delta/`, `key_delta/` — all
    * epoch-partitioned.
    *
    * Fails fast (r16 ADVICE) if a [[compact]] of this `outDir` has
    * recorded folded bases and the caller passes anything else: a
    * restart against the STALE pre-compact bases would silently lose
    * every stream-assigned signature and key (future near-dups of
    * stream-assigned docs would key by their own ids and diverge from
    * prior assignments — a quiet split-consistency break). The
    * `_compacted` marker in `outDir` names the required dirs; deleting
    * the marker is the explicit operator override.
    */
  def start(docs: DataFrame, baseIndexDir: String, clustersDir: String,
            outDir: String, trainPct: Int = 90, valPct: Int = 5,
            threshold: Double = 0.8,
            checkpointDir: Option[String] = None): StreamingQuery = {
    val spark = docs.sparkSession
    requireCurrentBases(spark, baseIndexDir, clustersDir, outDir)
    val base = spark.read.parquet(baseIndexDir)
    val clusters = spark.read.parquet(clustersDir)
    EpochService.start(docs, outDir, checkpointDir)(
      runBatch(_, base, clusters, outDir, _, trainPct, valPct, threshold))
  }

  /** One micro-batch (factored out so batch specs can drive it
    * directly): match (corpus, cross-batch, and intra-batch), resolve
    * keys, assign, write the assignment and the batch's own
    * signature/key deltas under `epoch=<N>` dirs.
    */
  def runBatch(batch: DataFrame, baseIndex: DataFrame, clusters: DataFrame,
               outDir: String, epoch: Long, trainPct: Int = 90,
               valPct: Int = 5, threshold: Double = 0.8): Unit =
    // barriers (released once the epoch's three writes are down): the
    // batch feeds the match AND the assignment join, so a real source is
    // not re-read per consumer; dedupDelta's delta-rep-sets frame too
    EpochService.barriers { keep =>
      val spark = batch.sparkSession
      val grown = unionDeltas(spark, baseIndex, s"$outDir/index_delta", epoch)
      val streamKeys = keyDeltas(spark, s"$outDir/key_delta", epoch)
      val delta = keep(batch)
      // the batch's own signature index — built ONCE: feeds the
      // intra-batch match here and the epoch's index_delta write below
      val batchIdx = keep(Dedup.buildDedupIndex(delta))
      // corpus key resolution: base cluster id, else the key this stream
      // assigned the matched doc earlier, else the matched doc's own id
      val inherited = keep(Dedup.dedupDelta(grown, delta, threshold,
          deltaBarrier = keep)
        .select(col("corpus_id"), col("delta_id"))
        .join(clusters.select(col("doc_id").as("corpus_id"),
          col("cluster_id")), Seq("corpus_id"), "left")
        .join(streamKeys.select(col("doc_id").as("corpus_id"),
          col("split_key").as("stream_key")), Seq("corpus_id"), "left")
        .select(col("delta_id").as("doc_id"),
          coalesce(col("cluster_id"), col("stream_key"), col("corpus_id"))
            .as("k"))
        .groupBy("doc_id").agg(min("k").as("inherited_key")))
      // intra-batch arm (r16 ADVICE): the batch matched against its own
      // signature index via the stored sketches (no second text pass), the
      // CONNECTIVITY edges closed transitively, each component keyed by
      // the minimum RESOLVED member key
      val intraPairs = keep(Dedup.selfEdgesFromIndex(batchIdx, threshold))
      val intraKeys =
        if (intraPairs.isEmpty) emptyKeys(spark, "intra_key")
        else keep(Dedup.clustersFromPairs(intraPairs, barrier = EpochService.cut(keep))
          .join(inherited, Seq("doc_id"), "left")
          .select(col("cluster_id"), col("doc_id"),
            coalesce(col("inherited_key"), col("doc_id")).as("k"))
          .withColumn("intra_key",
            min(col("k")).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster_id"))))
          .select(col("doc_id"), col("intra_key")))
      val carried = delta.columns.filter(_ != "text").map(col).toIndexedSeq
      val assigned = keep(delta // feeds the assignment write AND the key delta
        .join(inherited, Seq("doc_id"), "left")
        .join(intraKeys, Seq("doc_id"), "left")
        .select(carried :+
          coalesce(col("intra_key"), col("inherited_key"), col("doc_id"))
            .as("split_key"): _*)
        .withColumn("split",
          Corpus.splitOfKey(col("split_key"), trainPct, valPct)))
      EpochService.write(assigned, outDir, "assigned", epoch)
      // the batch enters the match universe. Signatures need text, which
      // the assignment output deliberately drops — the sketch was built
      // above from the persisted batch (not a read-back), the one member
      // where staging source and store schema differ
      EpochService.write(batchIdx, outDir, "index_delta", epoch)
      EpochService.write(assigned.select("doc_id", "split_key"),
        outDir, "key_delta", epoch)
    }

  /** COMPACTION — fold the base signature index plus the stream's
    * appended signature deltas into a new committed base index, and the
    * cluster assignment plus the appended key deltas into a new
    * committed cluster table (a stream-assigned doc's `split_key` IS its
    * cluster representative: `leakageSafeSplit`'s coalesce makes
    * `cluster_id = split_key` rows exactly equivalent to the key-delta
    * lookup they replace) — so the per-batch delta unions drop back to
    * one snapshot scan each. Same contract as [[CrawlDedup.compact]]:
    * NOT safe while the stream runs ([[start]] captures both bases once
    * — enforced via [[StreamGuard.requireStopped]]); commit lands before
    * any delta is removed, so a crash between the steps leaves both and
    * re-running compact restores the invariant. Restart with
    * `baseIndexDir = <newBaseDir>/index`,
    * `clustersDir = <newBaseDir>/clusters` — ENFORCED, not prose
    * (r16 ADVICE): a `_compacted` marker naming the folded dirs is
    * written into `outDir` (after the commit, before any delete, so a
    * crash mid-compact still leaves the guard in place) and [[start]]
    * refuses a restart against anything else; assignments are unchanged
    * by construction (spec'd).
    */
  def compact(spark: SparkSession, baseIndexDir: String, clustersDir: String,
              outDir: String, newBaseDir: String, stamp: String = "compact",
              checkpointDir: Option[String] = None): Unit =
    EpochService.compact(spark, "SplitStream.compact", outDir, checkpointDir,
        Seq("index_delta", "key_delta"), newBaseDir, stamp,
        afterCommit = writeMarker(spark, outDir,
          s"index=$newBaseDir/index\nclusters=$newBaseDir/clusters\n")) { epochs =>
      EpochService.withDeltas(spark, spark.read.parquet(baseIndexDir),
          s"$outDir/index_delta", epochs)
        .write.mode("overwrite").parquet(s"$newBaseDir/index")
      // distinct: a corpus doc replayed through the stream carries its
      // batch-equal key in BOTH sources (the parity contract), so the
      // union can only duplicate equal rows — collapse them once here
      EpochService.read(spark, s"$outDir/key_delta", epochs).toSeq
        .map(_.select(col("doc_id"), col("split_key").as("cluster_id")))
        .foldLeft(spark.read.parquet(clustersDir))(_ unionByName _)
        .distinct()
        .write.mode("overwrite").parquet(s"$newBaseDir/clusters")
    }

  /** Current appended delta-dir counts (`index_delta`, `key_delta`) —
    * the when-to-compact signal (r16 verdict 3): each epoch dir listed
    * here is re-listed by EVERY subsequent micro-batch until [[compact]]
    * folds them (pre-compact read amplification is O(epochs); the
    * files-read spec pins post-compact back to one base scan + zero
    * deltas).
    */
  def epochCounts(spark: SparkSession, outDir: String): (Int, Int) =
    (EpochService.epochs(spark, s"$outDir/index_delta").size,
      EpochService.epochs(spark, s"$outDir/key_delta").size)

  /** Fail unless `outDir`'s `_compacted` marker (absent = pass) names
    * exactly the dirs the caller is about to match against (r16 ADVICE
    * — see [[start]]).
    */
  private def requireCurrentBases(spark: SparkSession, baseIndexDir: String,
                                  clustersDir: String, outDir: String): Unit = {
    val marker = new Path(s"$outDir/_compacted")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val recorded =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.contains("=")).map(_.split("=", 2))
          .map(a => a(0) -> a(1)).toMap
        finally in.close()
      def norm(p: String) = new Path(p).toString
      val okIndex = recorded.get("index").forall(p => norm(p) == norm(baseIndexDir))
      val okClusters = recorded.get("clusters").forall(p => norm(p) == norm(clustersDir))
      if (!okIndex || !okClusters)
        throw new IllegalStateException(
          s"SplitStream.start: $outDir was compacted — its appended deltas were " +
            s"folded into index=${recorded.getOrElse("index", "?")} " +
            s"clusters=${recorded.getOrElse("clusters", "?")}; restarting against " +
            s"($baseIndexDir, $clustersDir) would silently lose every " +
            "stream-assigned signature and key. Pass the folded dirs " +
            "(or delete the _compacted marker to override explicitly).")
    }
  }

  private def writeMarker(spark: SparkSession, outDir: String,
                          contents: String): Unit = {
    val marker = new Path(s"$outDir/_compacted")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    try out.write(contents.getBytes("UTF-8")) finally out.close()
  }

  /** Base signature index ∪ strictly-earlier epoch deltas (the replay-safe
    * union — a replayed epoch must not match its own previously-appended
    * rows). `private[graft]` so the files-read spec can assert the
    * pre/post-compact listing shape on the EXACT frame a batch reads
    * (r16 verdict 3).
    */
  private[graft] def unionDeltas(spark: SparkSession, base: DataFrame,
                                 deltaDir: String, beforeEpoch: Long): DataFrame =
    EpochService.withDeltas(spark, base, deltaDir, _ < beforeEpoch)

  /** Stream-assigned (doc_id, split_key) rows of strictly-earlier
    * epochs; empty on the first batch. `private[graft]`: see
    * [[unionDeltas]].
    */
  private[graft] def keyDeltas(spark: SparkSession, deltaDir: String,
                               beforeEpoch: Long): DataFrame =
    EpochService.read(spark, deltaDir, _ < beforeEpoch)
      .map(_.select("doc_id", "split_key"))
      .getOrElse(emptyKeys(spark, "split_key"))

  private def emptyKeys(spark: SparkSession, keyCol: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(keyCol,
          org.apache.spark.sql.types.LongType))))
}
