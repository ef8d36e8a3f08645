package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.KeyedUpsertSink

/** Physical-plan shape assertions — the scale-critical plan properties the
  * build brief calls out: top-k compiles to TakeOrderedAndProject (not a
  * global sort), filters push into the parquet scan, small dims broadcast.
  */
class PlanShapeSpec extends SparkSpec {

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("orderBy+limit compiles to TakeOrderedAndProject (O1/O5)") {
    val norm = CityEvents.normalize(Tables.events(spark, sf))
    val p = physical(Serving.eventsByCity(norm, "NYC", 20))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("GlobalLimit")) // no global-sort-then-limit shape
  }

  test("direct-column predicates push into the parquet scan (S6/F2)") {
    val r = Relational.customersWithBigOrders(
      Tables.customer(spark, sf), Tables.orders(spark, sf), 100000.0)
    val scans = r.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scans.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)"),
      s"expected totalprice pushdown in:\n$scans")
  }

  test("column pruning reaches the scan: unused props column is not read (P8)") {
    // other suites cache the normalized frame; a cached InMemoryRelation
    // carries the full schema and would mask scan-level pruning
    spark.catalog.clearCache()
    val norm = CityEvents.normalize(Tables.events(spark, sf))
    val counts = StreamAggregates.globalCounts(norm)
    val scans = counts.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!scans.contains("props"), "props should be pruned from ReadSchema")
  }

  test("cosine all-pairs is a shuffled equi-join on bucket keys, not a nested-loop broadcast") {
    val p = physical(Similarity.cosineNearDupPairs(Tables.embeddings(spark, sf), 0.4))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "exact all-pairs must distribute via block buckets, not a driver broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("every registered query plans cleanly; nested-loop joins only where a tiny broadcast is intended") {
    // registry-wide scale guard: an UNLISTED BroadcastNestedLoopJoin or any
    // CartesianProduct is a 100 TB regression (round 1 shipped one in
    // q_cosine_pairs); also catches queries that fail analysis before the
    // driver gate does. The allowlist names the deliberate tiny-broadcast
    // patterns: pinned-now 1-row scalar crossJoins, and small query-set /
    // centroid-set scoring where the nested loop IS the work.
    val bnljIntended = Set(
      "q_alerts_recent", "q_alerts_city_recent", "q_alerts_seattle_12h", // 1-row max(ts) scalar
      "q_raw_events_live",                                               // 1-row retention cutoff
      "q_funnel",                                                        // two 1-row counts
      "q_hot_shingles",                                                  // 1-row k-th-df cut scalar
      "q_cosine_topk",                                                   // 5-row broadcast query set
      "q_filtered_topk",                     // 5-row broadcast query set (filtered corpus)
      // (q_ann_ivf_topk now serves the persisted ivf-v6 topk scan; its
      // CONSTRUCTION's centroid-set scoring runs inside persistIndex)
      "q_ivf_topk_recall_bound",             // 5-row exact probe set
      "q_approx_topk_bound",                 // 1-row sketch-regime scalar
      "q_user_quartiles",                                                // 1-row splits + offsets rows
      "q_keyword_search",                                               // 1-row corpus-size scalar
      "q_quantize_embeddings",                                          // 1-row max|x| scalar
      "q_quantized_topk",                    // 1-row max|x| scalar + 5-row probe set
      "q_collocations",                      // 1-row corpus-token-total scalar
      "q_unigram_vocab",                     // 1-row (T, |V|) totals scalar
      "q_unigram_encode",                    // 1-row kept-piece array scalar
      "q_temperature_sample",                // 1-row Σsqrt(n_l)/N totals scalar
      "q_source_divergence",                 // 1-row corpus-token-total scalar
      "q_phrase_search",                     // 1-row phrase + gram-count scalars
      "q_hybrid_search",                     // 1-row query-vector broadcast
      "q_media_recall_bound",                // bounded id<1000 brute-force audit slice
      "q_pq_topk",                           // 1-row packed codebook + 5-row LUT set
      "q_pq_query_serve",                    // same, arbitrary-request form
      "q_pq_recall_bound",                   // same + 5-row exact probe set
      "q_ivfpq_topk",                        // centroid-set scoring + packed codebook
      "q_ivfpq_recall_bound",                // same + 5-row exact probe set
      "q_passage_recall_bound",              // 5-row exact chunk probe set
      "q_passage_mrr",                       // same 5-row exact probe set (mrr ground truth)
      "q_passage_ndcg",                      // same 5-row exact probe set (ndcg ground truth)
      "q_bloom_bound",                       // three 1-row count scalars
      "q_takedown_audit",                    // 1-row count scalars, every served family
      "q_safe_split_audit",                  // three 1-row count scalars
      "q_jl_distortion")                     // constant 32-vector sample self-join
      // (q_crossmodal_topk/q_crossmodal_recall/q_takedown_crossmodal now
      // serve graft_crossmodal scans; their CONSTRUCTION's 5-row / 32-row
      // broadcasts run inside persistCrossModal, kernel-audited below)
      // (q_snapshot_diff/q_drift_card/q_source_overlap serve persisted
      // graft_release scans; driftCard's 1-row share-total crossJoins and
      // the overlap matrix's catalog-sized share-table zero-fill BNLJ run
      // inside releaseTables)
      // (q_bloom_candidates/q_bloom_contamination serve persisted scans;
      // their CONSTRUCTION's 1-row bitmap BNLJ runs inside bloomTables,
      // spec'd in LlmOpsSpec's no-shuffle probe row)
    spark.catalog.clearCache()
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      val bad = (if (bnljIntended(name)) Seq("CartesianProduct")
                 else Seq("BroadcastNestedLoopJoin", "CartesianProduct")).filter(p.contains)
      if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(",")}")
    }
    assert(offenders.isEmpty, s"nested-loop/cartesian plans: $offenders")
  }

  test("no registered query contains a partition-less Window (single-reducer total sort)") {
    // a Window with an empty partitionSpec funnels the whole input through
    // ONE reducer — the 100 TB anti-pattern round 2's q_user_quartiles
    // carried; exact ranking must be two-phase (range-bucketed) instead.
    // (final presentation-only orderBy/limit shapes are Sort/TakeOrdered,
    // not Window, so they don't trip this.)
    // Known blind spots (localCheckpoint LogicalRDD leaves hide their
    // upstream subtree from plan inspection, and building the query
    // executes those stages under AQE):
    //  - q_dup_clusters' label-propagation rounds — joins/aggregates by
    //    construction (clustersFromPairs has no Window); its minhash
    //    front-end is audited via q_minhash_pairs;
    //  - q_dedup_incremental's index build — sha2 + groupBy + shingle
    //    projections by construction (buildDedupIndex has no Window);
    //    its delta-side join pipeline remains fully visible.
    import org.apache.spark.sql.execution.window.WindowExec
    spark.catalog.clearCache()
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val globals = fn(spark, sf).queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (globals.isEmpty) None else Some(name)
    }
    assert(offenders.isEmpty, s"partition-less Window in: $offenders")
  }

  test("cross-modal recall card: constant-budget sample via TakeOrderedAndProject, no Window") {
    // round-13 verdict 1: the eval sample must be a fixed budget (hash-
    // order limit → per-partition top-N + constant merge, never a global
    // sort) and the pair's rank an aggregate — a corpus-wide per-query
    // row_number re-sorts corpus×sample rows for a 1-row card.
    // (The registry row now serves the graft_crossmodal snapshot; the
    // CONSTRUCTION kernel below is what persistCrossModal runs.)
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = Tables.documents(spark, sf)
    val df = graft.operators.Multimodal.crossModalRecall(
      graft.operators.Multimodal.textEmbedStub(docs),
      graft.operators.Multimodal.embedStub(
        graft.operators.Multimodal.mediaFromDocuments(docs)))
    val p = physical(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"hash-order limit sample must compile to TakeOrderedAndProject:\n$p")
    assert(df.queryExecution.sparkPlan.collect { case w: WindowExec => w }.isEmpty,
      "the recall card must rank via aggregate, not Window")
  }

  test("serving-layer queries read the persisted aggregations store with city partition pruning") {
    // the reference's own architecture: every API endpoint queries the
    // stored city-aggregations table (SURVEY.md §2.11), never the raw
    // event stream — and the store is partitioned by the reference's
    // DynamoDB partition key (city), so city-equality serving prunes to
    // one partition directory instead of scanning six
    val plan = SparkEntry.queries("q_summary_city")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_agg") && !plan.contains("events.parquet"),
      s"serving must read the aggregations store, not raw events:\n$plan")
    assert(plan.contains("PartitionFilters: [isnotnull(city") &&
        "PartitionFilters: \\[isnotnull\\(city[^\\]]*= LA\\)".r.findFirstIn(plan).isDefined,
      s"city equality must prune store partitions:\n$plan")
    // the stored table equals the live centerpiece aggregate (both are
    // also independently hash-proven against the same oracle)
    val live = SparkEntry.queries("q_windowed_agg")(spark, sf)
    val stored = SparkEntry.queries("q_aggregations_recent")(spark, sf)
    assert(stored.count() > 0 && live.count() > 0)
  }

  test("store-backed endpoint frames run one Spark job each, with no exchange, on a view hit") {
    val norm = CityEvents.normalize(Tables.events(spark, sf))
    val root = java.nio.file.Files.createTempDirectory("planshape-store").toString
    val stores = Seq(
      ("raw", StreamAggregates.rawEvents(norm), Seq("rec_id", "ts_str")),
      ("agg", StreamAggregates.windowedAggregate(norm), Seq("partition_key")),
      ("alerts", StreamAggregates.alerts(norm).drop("ts"), Seq("city", "ts_str")))
    // two segments each, so the read resolves last-writer-wins
    for ((name, form, keys) <- stores; (half, epoch) <- Seq(0L, 1L).zipWithIndex)
      KeyedUpsertSink.upsert(spark, s"$root/$name", keys,
        form.filter(abs(xxhash64(keys.map(col): _*)) % 2 === half), epoch.toLong, "w")
    def read(name: String) = KeyedUpsertSink.read(spark, s"$root/$name")
    stores.foreach { case (name, _, _) => read(name).count() } // materialize: the frames below hit
    val frames = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "health" -> (() => Serving.health(read("raw"))),
      "summary" -> (() => Serving.summary(read("agg"), "NYC")),
      "cities" -> (() => Serving.cities(read("agg"))),
      "aggregationsFor" -> (() => Serving.aggregationsFor(read("agg"), "NYC", "click", 10)),
      "statsTotal" -> (() => Serving.statsTotal(read("agg"))),
      "alertSeverityCounts" -> (() => Serving.alertSeverityCounts(read("alerts"), spark)))
    object aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val jobs = new JobCount(spark)
    try frames.foreach { case (name, frame) =>
      val df = frame()
      val (got, n) = jobs.of(df.collect())
      assert(got.nonEmpty, s"$name answered nothing")
      assert(n == 1, s"$name ran $n Spark jobs")
      val exchanges = aqe.collect(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(exchanges.isEmpty, s"$name plans an exchange:\n${df.queryExecution.executedPlan}")
    } finally jobs.close()
  }

  /** The shuffle exchanges of `df`'s executed plan, adaptive stages included. */
  private def shuffles(df: org.apache.spark.sql.DataFrame) = {
    object aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    aqe.collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
  }

  /** Rows of (key, v) as a frame of exactly `parts` partitions with no exchange. */
  private def batchOf(parts: Int, rows: (String, Int)*) = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, parts).toDF("key", "v")
  }

  test("upserting a one-partition batch runs one job with no exchange: the dedup is in place") {
    val store = java.nio.file.Files.createTempDirectory("planshape-inplace").toString + "/s"
    val batch = batchOf(1, ("k", 1), ("k", 2), ("j", 3))
    val deduped = KeyedUpsertSink.dedup(batch, Seq("key"))
    assert(shuffles(deduped).isEmpty, s"the dedup plans an exchange:\n${deduped.queryExecution.executedPlan}")
    val jobs = new JobCount(spark)
    try {
      val (_, n) = jobs.of(KeyedUpsertSink.upsert(spark, store, Seq("key"), batch, 0L, "w"))
      assert(n == 1, s"the upsert ran $n Spark jobs")
    } finally jobs.close()
    assert(KeyedUpsertSink.segmentRows(spark, store, 0L, "w") == 2)
    assert(KeyedUpsertSink.read(spark, store).select("key").collect().map(_.getString(0)).sorted.toSeq == Seq("j", "k"))
  }

  test("a batch with one key in two partitions keeps its exchange and commits one row for that key") {
    val store = java.nio.file.Files.createTempDirectory("planshape-shuffled").toString + "/s"
    val batch = batchOf(2, ("k", 1), ("k", 2))
    assert(batch.rdd.getNumPartitions == 2)
    assert(shuffles(KeyedUpsertSink.dedup(batch, Seq("key"))).nonEmpty)
    KeyedUpsertSink.upsert(spark, store, Seq("key"), batch, 0L, "w")
    assert(KeyedUpsertSink.segmentRows(spark, store, 0L, "w") == 1)
    assert(KeyedUpsertSink.read(spark, store).count() == 1)
  }

  test("dataset-card composition joins narrow frames without scan explosion (r10 next-round 7)") {
    // both quality gates are row-local predicates, so the base scan
    // carries fingerprint + both flags in ONE projection; only the OOV
    // report joins on doc_id. That leaves exactly three scans (base,
    // coverage tokens, vocabulary) — a regression that re-derives a
    // component per output column would multiply this
    val df = SparkEntry.queries("q_dataset_card")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    assert("FileScan".r.findAllIn(plan).length == 3,
      s"composition must hold at three component scans:\n$plan")
    // no component drags the full document row through its join: text
    // never survives past a projection into a join build side
    assert(!plan.contains("ReadSchema: struct<doc_id:bigint,lang"),
      "components must prune to the columns they derive from")
  }

  test("local supplier volume: every dimension broadcasts, at most one shuffle join") {
    // the 6-way TPC-H Q5 shape: region/nation/customer/supplier are all
    // broadcast builds; orders⨝lineitem is the single fact-fact join
    // allowed to shuffle (AQE may demote even that to broadcast at gate
    // scale — hence ≤, not ==)
    val df = SparkEntry.queries("q_local_supplier_volume")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"all four dimension joins must broadcast:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).size
      + "ShuffledHashJoin".r.findAllIn(p).size <= 1,
      s"only the fact-fact join may shuffle:\n$p")
  }

  test("windowed aggregation is two-phase (map-side partial aggregation)") {
    val agg = StreamAggregates.windowedAggregate(
      CityEvents.normalize(Tables.events(spark, sf)))
    val p = physical(agg)
    // partial + final pairs around one exchange
    assert("(ObjectHashAggregate|HashAggregate)".r.findAllIn(p).size >= 2)
    assert(p.contains("Exchange"))
  }

  test("jaccard df-cap is an aggregate, not a Window over the shingle stream") {
    // round-6 VERDICT-4: count-over-Window partitioned by the shingle hash
    // buffered and sorted an entire hot-shingle partition on one task just
    // to discard it; the cap must be a streaming aggregate + semi-join.
    import org.apache.spark.sql.execution.window.WindowExec
    val pairs = Dedup.jaccardPairs(Tables.documents(spark, sf), 0.8)
    val shingleWindows = pairs.queryExecution.sparkPlan.collect {
      case w: WindowExec
        if w.partitionSpec.exists(_.references.exists(_.name == "h")) => w
    }
    assert(shingleWindows.isEmpty,
      s"df-cap regressed to a Window over the shingle hash: $shingleWindows")
    // the per-document n_sh window is bounded by document length and stays
    assert(physical(pairs).contains("Window"))
    // the repartition barriers do their second job: the shingle exchange is
    // REUSED by the df-cap aggregate, the semi-join and both self-join
    // branches instead of re-running the sketch pipeline per consumer
    pairs.collect() // AQE finalizes reuse decisions at execution
    val executed = pairs.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(executed).size >= 2,
      "jaccard pipeline must reuse its exchanges across consumers")
  }

  test("vocabulary top-k is a TakeOrderedAndProject over a partial-combined aggregate") {
    val p = physical(TextAnalysis.vocabulary(Tables.documents(spark, sf), k = 20))
    assert(p.contains("TakeOrderedAndProject"),
      "the vocab cut must not global-sort the vocabulary")
    // the corpus-token explode must partial-aggregate before the shuffle
    assert("HashAggregate.*partial".r.findFirstIn(p).isDefined ||
      p.contains("partial_count"), s"expected map-side combine in:\n$p")
  }

  test("quantized top-k broadcasts only the probe set; the corpus scan never shuffles pre-rank") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val q = Similarity.quantizedTopK(Tables.embeddings(spark, sf))
    val plan = q.queryExecution.sparkPlan
    // probe set (vec_id < numQueries) broadcasts; inequality key => BNLJ is
    // the expected join shape, but the BROADCAST side must be the probes
    val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    val bhj  = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bnlj.nonEmpty || bhj.nonEmpty, s"expected a broadcast join in:\n$plan")
    val p = plan.toString
    assert(!p.contains("CartesianProduct"), "corpus must never cartesian itself")
  }

  test("stop-list strip is a broadcast anti-join; the shingle exchange reuse survives it") {
    // the mined list is topK rows of 64-bit hashes — stripping must never
    // shuffle the shingle stream a second time: a broadcast LeftAnti on h,
    // with the repartition(h) exchange still shared by the df-cap
    // aggregate, the semi-join and both self-join branches downstream
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = Tables.documents(spark, sf)
    val stop = Dedup.stopListHashes(Dedup.hotShingles(docs, topK = 5))
    val pairs = Dedup.jaccardPairs(docs, 0.8, stopHashesOpt = Some(stop))
    pairs.collect()
    // collect on the pre-adaptive plan: AQE wraps stages so executedPlan
    // nodes are not reachable via TreeNode.collect (string checks are)
    val anti = pairs.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec
        if j.joinType.sql == "LEFT ANTI" &&
          j.leftKeys.exists(_.references.exists(_.name == "h")) => j
    }
    assert(anti.nonEmpty, "the strip must plan as a broadcast anti-join on h")
    val executed = pairs.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(executed).size >= 2,
      "stripped jaccard pipeline must still reuse its exchanges")
  }
}
