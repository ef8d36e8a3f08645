package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{CityEvents, StreamAggregates}
import graft.sources.{KeyedForeachWriter, KeyedUpsertSink}

/** The reference's streaming topology: FOUR concurrent Structured Streaming
  * queries over one parsed event stream
  * (consumer/.../SparkDynamoDBConsumer.java:98-196), re-expressed with
  * `foreachBatch` + [[KeyedUpsertSink]] replacing the hand-rolled DynamoDB
  * `ForeachWriter`:
  *
  *   1. raw-event passthrough — append mode, upsert by (rec_id, ts_str)
  *      (reference :100-115, T3/T7)
  *   2. windowed aggregation — 10-minute watermark, update mode, upsert by
  *      partition_key (reference :119-154, T1/T3)
  *   3. high-severity alerts — append mode, upsert by (city, ts_str)
  *      (reference :160-177)
  *   4. monitoring counts — complete mode to an in-memory/console sink
  *      (reference :182-190)
  *
  * Each query gets its own checkpoint dir under a shared root (T4:
  * reference :37-38,55) and the runner blocks in `awaitAnyTermination`
  * (T5: reference :196).
  *
  * Watermarking: the reference watermarks PROCESSING time (its events are
  * stamped on arrival — late data cannot exist, SURVEY.md T1). The rebuild
  * defaults to true event-time watermarks on `ts`; `processingTimeMode`
  * reproduces the reference's behavior for fidelity.
  *
  * State partitions: a member whose state is keyed by the event domain —
  * the windowed aggregations (window × city × type, evicted by the
  * watermark) and the monitoring counts (city × type × severity) — holds
  * a few hundred state rows at most, so it starts with
  * `spark.sql.shuffle.partitions=1`, set on the session for the duration
  * of its own `start()` only. Its state then commits once per micro-batch
  * instead of once per partition, its map-side partial aggregation still
  * runs at the source's parallelism, and its micro-batch reaches the sink
  * as one partition, which [[KeyedUpsertSink.upsert]] dedups in place.
  * This pays where a micro-batch is small and its cost is fixed per-task
  * and per-commit overhead, as in the serving benchmark's 300-event
  * writer batches. The row count is bounded, but not the work: the
  * collect_list aggregation's state bytes and final merge grow with the
  * events per group per window, and all of it now runs in one task
  * against one store. Under high ingest that task is the member's
  * bottleneck; that regime is unmeasured (ROADMAP D2 step 4), and
  * [[startWindowedAggCounts]] is the member whose state stays bounded.
  * The query keeps the value it started with. A restarted checkpoint
  * keeps the partition count recorded in its offset log, so a checkpoint
  * first started at 4 restarts at 4. Members whose state is keyed by
  * traffic (sessions, dedup, joins) run at the session's value.
  *
  * Every member starts under one JVM-wide lock, so two pipelines starting
  * members on one session never see or restore each other's temporary
  * value. The lock does not cover code outside this class: a batch query
  * planned, or a conf set, on another thread of the session while a
  * one-partition member starts sees or clobbers the temporary value. As
  * with `stateStoreProvider`, this assumes one topology per session,
  * started from one thread.
  *
  * Progress record: with the session conf `graft.telemetry.dir` set, the
  * pipeline's members are tracked by one [[ProgressLog]] listener, which
  * appends one JSON line per progress report of each member it starts,
  * no-data batches included, to `progress.jsonl` there. The listener is
  * registered on the session while at least one tracked member runs and
  * removes itself when the last one terminates. Unset, nothing is
  * registered.
  */
class Pipeline(
    spark: SparkSession,
    storeRoot: String,
    checkpointRoot: String,
    watermarkDelay: String = "10 minutes",
    processingTimeMode: Boolean = false,
    compactEvery: Int = 0,
    stateStoreProvider: Option[String] = None,
    stateStoreConf: Map[String, String] = Map.empty) {

  // State-store backend for every stateful member this pipeline starts
  // (windowed/session aggregation state, dropDuplicates sets,
  // [gf]MapGroupsWithState streak/throttle state, stream-stream join
  // buffers). Default = Spark's on-heap HDFSBackedStateStore; pass
  // [[Pipeline.RocksDbStateStore]] to spill state off-heap to local
  // RocksDB instances — at 100 TB the open-window/session/dedup state of
  // a long-running topology exceeds executor heaps, and RocksDB bounds
  // memory while checkpointing changelogs the same way (round-13 verdict
  // next-round 4; behavioral deltas in StreamingSpec's RocksDB test).
  // The providerClass is a SESSION conf captured by each query at
  // start() — a deployment runs one topology per session, so setting it
  // here scopes it to exactly this pipeline's members.
  stateStoreProvider.foreach(p =>
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", p))
  // Provider tuning (r18, r17 verdict 8) — same session-conf scoping as
  // the providerClass above; [[Pipeline.RocksDbTunedConf]] is the
  // documented preset (bounded memory budget + changelog checkpointing),
  // behavior-neutral by construction (StateFootprintSpec replays the
  // same epochs under default and tuned stores and pins identical
  // outputs + footprints).
  stateStoreConf.foreach { case (k, v) => spark.conf.set(k, v) }

  // The per-member, per-batch progress record (ProgressLog): one listener
  // for this pipeline's members when `graft.telemetry.dir` is set.
  private val progressLog: Option[ProgressLog] =
    spark.conf.getOption(ProgressLog.DirKey).map(new ProgressLog(_, spark.streams))

  def rawStorePath: String      = s"$storeRoot/raw_events"
  def rawDedupStorePath: String = s"$storeRoot/raw_events_dedup"
  def aggStorePath: String       = s"$storeRoot/aggregations"
  def aggCountsStorePath: String = s"$storeRoot/aggregations_counts"
  def alertsStorePath: String   = s"$storeRoot/alerts"

  /** Normalize + (optionally) re-stamp event time with processing time,
    * mirroring the reference's `current_timestamp()` column (P4).
    */
  private def normalized(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = if (processingTimeMode) events.withColumn("ts", current_timestamp()) else events
    CityEvents.normalize(base)
  }

  /** Keyed upsert per micro-batch (O(batch)), plus scheduled compaction
    * every `compactEvery` epochs when enabled: merge-on-read amplification
    * stays bounded at ~`compactEvery` segments without the store rewrite
    * ever landing on the hot per-batch path more than 1/compactEvery of
    * the time. In production compaction would run out-of-band (a
    * maintenance job); the in-line schedule keeps the single-process
    * topology self-contained and the replay path exercised.
    */
  private def upsertBatch(path: String, keys: Seq[String])(df: DataFrame, epochId: Long): Unit = {
    KeyedUpsertSink.upsert(df.sparkSession, path, keys, df, epochId)
    if (compactEvery > 0 && epochId > 0 && epochId % compactEvery == 0)
      KeyedUpsertSink.compact(df.sparkSession, path)
  }

  /** Starts member `name` under [[Pipeline.startLock]]: `start` is handed
    * its checkpoint dir, `checkpointRoot/name`, and the query it returns
    * is tracked by the progress record. With `oneStatePartition` the
    * member starts under `spark.sql.shuffle.partitions=1` (see the class
    * doc); the session's value is restored once `start` returns.
    */
  private def member(name: String, oneStatePartition: Boolean = false)
                    (start: String => StreamingQuery): StreamingQuery = {
    val key = "spark.sql.shuffle.partitions"
    val q = Pipeline.startLock.synchronized {
      val held = spark.conf.getOption(key)
      if (oneStatePartition) spark.conf.set(key, "1")
      try start(s"$checkpointRoot/$name")
      finally if (oneStatePartition) held.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    progressLog.foreach(_.track(q, name))
    q
  }

  /** A keyed-store member: `df` in `mode`, checkpointed at
    * `checkpointRoot/name`, each micro-batch upserted into `path` by `keys`.
    */
  private def upsertMember(df: DataFrame, mode: String, name: String,
                           path: String, keys: Seq[String],
                           oneStatePartition: Boolean = false): StreamingQuery =
    member(name, oneStatePartition)(checkpoint => df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(upsertBatch(path, keys) _)
      .start())

  /** An append-mode member landing in the in-memory table `queryName`,
    * checkpointed at `checkpointRoot/name`.
    */
  private def memoryMember[T](ds: Dataset[T], queryName: String,
                              name: String): StreamingQuery =
    member(name)(checkpoint => ds.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start())

  /** Query 1: raw events, append mode, keyed upsert (reference :100-115).
    * Carries an `observe()` metrics contract — the streaming analog of the
    * producer's running send metrics (A7, KafkaProducerService.java:100-145):
    * per-batch count/min/max/avg of `value`, surfaced through
    * `StreamingQueryProgress.observedMetrics("producer_metrics")` /
    * a `StreamingQueryListener` with zero extra passes over the data.
    */
  def startRawEvents(events: DataFrame): StreamingQuery = {
    import org.apache.spark.sql.functions._
    upsertMember(StreamAggregates.rawEvents(normalized(events))
      .observe("producer_metrics",
        count(lit(1)).as("event_count"),
        min(col("severity")).as("severity_min"),
        approx_count_distinct(col("city")).as("cities_seen")),
      "append", "raw-events", rawStorePath, Seq("rec_id", "ts_str"))
  }

  /** Query 1 variant with IN-STREAM id-collision dedup (the streaming half
    * of the reference's last-writer-wins semantics, SURVEY.md §1.2): the
    * reference's `rec_id` collides for same-city/same-type events in the
    * same second, and its DynamoDB putItem silently resolved that at rest.
    * `dropDuplicatesWithinWatermark` resolves it IN the stream — colliding
    * ids arriving within the watermark delay of each other emit exactly
    * once, so they never reach a non-idempotent sink — while keeping
    * dedup state bounded: a key's state is evicted once the watermark
    * passes its event time plus the delay (unbounded-state dedup is the
    * alternative, and it does not survive an unbounded stream). Eviction
    * cannot re-emit here: a colliding rec_id shares the original's event
    * second, so any post-eviction duplicate is older than the watermark
    * and the late-row filter drops it first — at-most-once emission per
    * rec_id (asserted by spec).
    */
  def startRawEventsDeduped(events: DataFrame): StreamingQuery =
    upsertMember(StreamAggregates.rawEvents(
        normalized(events).withWatermark("ts", watermarkDelay)
          .dropDuplicatesWithinWatermark("rec_id")),
      "append", "raw-events-dedup", rawDedupStorePath, Seq("rec_id"))

  /** Query 2: watermarked 5-minute windowed aggregation, update mode,
    * upsert by partition_key (reference :119-154).
    */
  def startWindowedAgg(events: DataFrame): StreamingQuery =
    upsertMember(StreamAggregates.windowedAggregate(
        normalized(events).withWatermark("ts", watermarkDelay)),
      "update", "aggregations", aggStorePath, Seq("partition_key"), oneStatePartition = true)

  /** Query 2 at scale: the same watermarked windowed aggregation with the
    * per-severity COUNT MAP ([[StreamAggregates.windowedAggregateCounts]])
    * instead of collect_list — in streaming this is more than a row-width
    * nicety: the STATE STORE entry per open window group is 4 counters
    * instead of one array element per event, so state size is bounded by
    * open groups alone, not traffic. The shape an unbounded deployment
    * runs; the collect_list query stays for reference fidelity.
    */
  def startWindowedAggCounts(events: DataFrame): StreamingQuery =
    upsertMember(StreamAggregates.windowedAggregateCounts(
        normalized(events).withWatermark("ts", watermarkDelay)),
      "update", "aggregations-counts", aggCountsStorePath, Seq("partition_key"),
      oneStatePartition = true)

  /** Query 3: high-severity alerts, append mode (reference :160-177). */
  def startAlerts(events: DataFrame): StreamingQuery =
    upsertMember(StreamAggregates.alerts(normalized(events))
        .drop("ts"), // store the wire-format string, as the reference's sink did
      "append", "alerts", alertsStorePath, Seq("city", "ts_str"))

  /** Query 3 variant with ROW-LEVEL sink fidelity (T8): the wire records
    * stream through [[KeyedForeachWriter]] — the open/process/close
    * lifecycle of the reference's DynamoDB `ForeachWriter` (consumer
    * :202-283), with per-(writer, partition, epoch) commit markers giving the same
    * effectively-once guarantee the foreachBatch path gets from its keyed
    * merge. Use when a row-oriented store (DynamoDB, HBase, Redis) is the
    * target; foreachBatch + [[KeyedUpsertSink]] remains the columnar path.
    */
  def startAlertsForeach(events: DataFrame): StreamingQuery =
    member("alerts-foreach")(checkpoint => EventStreamSource.toKafkaRecords(
        StreamAggregates.alerts(normalized(events)).drop("ts"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreach(new KeyedForeachWriter(s"$storeRoot/alerts_rows"))
      .start())

  /** Throttled (suppression-windowed) alert stream — [[Stateful.alertThrottle]]
    * as a topology member: the alert stream deduped to at most one page
    * per (city, severity) per gap, landing in the named in-memory sink
    * (the assertable stand-in for a pager webhook; the batch twin is
    * oracle-checked as `q_alert_throttle`).
    */
  def startThrottledAlerts(events: DataFrame, gapMinutes: Int = 1440,
                           queryName: String = "throttled_alerts"): StreamingQuery =
    memoryMember(Stateful.alertThrottle(
        StreamAggregates.alerts(normalized(events)), gapMinutes),
      queryName, "throttled-alerts")

  /** k-anonymity release gate as a topology member
    * ([[Stateful.kAnonymityGate]]): events quarantine in keyed state
    * until at least k share their (city, event_type, day)
    * quasi-identifier tuple, then the class releases — the privacy gate
    * between the raw stream and any externally-visible telemetry export.
    * Bounded state by default: the day-horizon quarantine TTL is on
    * unless explicitly opted out (see [[Stateful.kAnonymityGate]]).
    */
  def startKAnonGate(events: DataFrame, k: Int = 5,
                     quarantineTtl: Option[String] = Some("1 day"),
                     queryName: String = "kanon_release"): StreamingQuery =
    memoryMember(Stateful.kAnonymityGate(normalized(events), k, quarantineTtl),
      queryName, "kanon-release")

  /** Stream-STREAM interval join (SURVEY.md §2.4 extension): each alert
    * joined to the events of the same city in the 5 minutes before it —
    * the burst-context query, as the canonical watermarked stream-stream
    * join. Both sides carry watermarks and the join condition bounds the
    * event time range, so state for closed windows is evicted (the
    * requirement for unbounded stream-stream joins to run at all).
    */
  def startAlertContext(events: DataFrame, queryName: String = "alert_context"): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val evts = normalized(events).withWatermark("ts", watermarkDelay)
      .select(col("ts").as("e_ts"), col("city").as("e_city"),
        col("rec_id").as("e_rec_id"), col("event_type").as("e_type"))
    val alerts = StreamAggregates.alerts(normalized(events))
      .withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("alert_id"), col("city"), col("ts"),
        col("severity"))
    memoryMember(alerts.join(evts,
        col("city") === col("e_city") &&
          col("e_ts") >= col("ts") - expr("INTERVAL 5 MINUTES") &&
          col("e_ts") <= col("ts"))
      .select("alert_id", "city", "severity", "e_rec_id", "e_type"),
      queryName, "alert-context")
  }

  /** Stream-static enrichment join (SURVEY.md §2.4 extension): the live
    * event stream joined against a broadcast customer dimension — the
    * canonical dimension-enrichment shape (no stream-side shuffle; the dim
    * is broadcast to every micro-batch).
    */
  def startEnriched(events: DataFrame, customer: DataFrame): StreamingQuery = {
    import org.apache.spark.sql.functions._
    upsertMember(normalized(events)
      .join(broadcast(customer), col("user_id") === customer("c_custkey"))
      .select("rec_id", "ts_str", "city", "event_type", "severity", "c_name", "c_mktsegment"),
      "append", "enriched", s"$storeRoot/enriched", Seq("rec_id", "ts_str"))
  }

  /** Session-window streaming variant (T2): per-user 30-minute-gap
    * sessions in append mode — a session is emitted exactly once, when the
    * watermark passes its close (the state-clean-up contract streaming
    * sessionization needs; the batch form is oracle-checked as
    * `q_session_window`).
    */
  def startUserSessions(events: DataFrame, queryName: String = "sessions"): StreamingQuery =
    memoryMember(StreamAggregates.userSessions(
        normalized(events).withWatermark("ts", watermarkDelay)),
      queryName, "sessions")

  /** Query 4: global monitoring counts, complete mode. `console = true`
    * is the reference's actual sink byte-for-byte (format console,
    * truncate off — SparkDynamoDBConsumer.java:182-190); the default
    * named in-memory sink is its testable stand-in (console output is
    * uncapturable in-process, memory rows are assertable — same plan,
    * same output mode, only the terminal sink differs).
    */
  def startMonitoring(events: DataFrame, queryName: String = "monitoring",
                      console: Boolean = false): StreamingQuery = {
    val counts = StreamAggregates.globalCounts(normalized(events))
    member("console", oneStatePartition = true) { checkpoint =>
      val base = counts.writeStream
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
      (if (console) base.format("console").option("truncate", value = false)
       else base.format("memory").queryName(queryName))
        .start()
    }
  }

  def crawlStorePath: String = s"$storeRoot/crawl"

  /** Continuous-crawl dedup as a first-class topology member (round-9
    * verdict next-round 5): the [[CrawlDedup]] stream over a `doc_id`/
    * `text` crawl source, writing `clean/`, `pairs/` and `index_delta/`
    * under the shared store root and checkpointing under the shared
    * checkpoint root like every sibling query. Runs concurrently with the
    * event queries — a second stream over a DIFFERENT source, the
    * multi-source topology shape a real ingest deployment has.
    */
  def startCrawlDedup(docs: DataFrame, baseIndexDir: String,
                      threshold: Double = 0.8): StreamingQuery =
    member("crawl-dedup")(checkpoint =>
      CrawlDedup.start(docs, baseIndexDir, crawlStorePath, threshold,
        checkpointDir = Some(checkpoint)))

  /** Start all four queries (T5) and return them; callers block with
    * `spark.streams.awaitAnyTermination()` exactly as the reference does.
    */
  def startAll(events: DataFrame): Seq[StreamingQuery] =
    Seq(startRawEvents(events), startWindowedAgg(events),
      startAlerts(events), startMonitoring(events))

  /** The event topology plus the crawl-dedup stream — five concurrent
    * queries over two sources, all sharing the store and checkpoint roots.
    */
  def startAllWithCrawl(events: DataFrame, docs: DataFrame,
                        baseIndexDir: String): Seq[StreamingQuery] =
    startAll(events) :+ startCrawlDedup(docs, baseIndexDir)

  def fluencyStorePath: String = s"$storeRoot/fluency"

  /** LM-fluency gating as a topology member: the [[FluencyStream]] scorer
    * over the crawl source against a frozen persisted model, writing
    * `clean/` and `rejected/` under the shared store root with its own
    * checkpoint dir like every sibling.
    */
  def startFluencyGate(docs: DataFrame, modelDir: String,
                       threshold: Double = 0.05): StreamingQuery =
    member("fluency-gate")(checkpoint =>
      FluencyStream.start(docs, modelDir, fluencyStorePath, threshold,
        checkpointDir = Some(checkpoint)))

  /** The full curation topology: the four event queries, plus dedup AND
    * fluency gating both tapping the same crawl source — six concurrent
    * queries over two sources, the shape of a real ingest deployment
    * (every crawl doc is simultaneously deduped against the corpus and
    * quality-scored against the reference model).
    */
  def startAllWithCuration(events: DataFrame, docs: DataFrame,
                           baseIndexDir: String, modelDir: String,
                           threshold: Double = 0.05): Seq[StreamingQuery] =
    startAllWithCrawl(events, docs, baseIndexDir) :+
      startFluencyGate(docs, modelDir, threshold)

  def splitStorePath: String = s"$storeRoot/split"

  /** Leakage-safe split assignment as a topology member (r15 verdict 4):
    * the [[SplitStream]] assigner over the crawl source against the
    * frozen signature index + cluster assignment, writing `assigned/`
    * (+ its own signature/key growth deltas) under the shared store
    * root with its own checkpoint dir like every sibling — a new
    * document joining an existing near-dup cluster inherits the
    * cluster's split at INGEST, completing the [[Corpus
    * .leakageSafeSplit]] story for post-split arrivals.
    */
  def startSplitAssign(docs: DataFrame, baseIndexDir: String,
                       clustersDir: String, trainPct: Int = 90,
                       valPct: Int = 5): StreamingQuery =
    member("split-assign")(checkpoint =>
      SplitStream.start(docs, baseIndexDir, clustersDir, splitStorePath,
        trainPct, valPct,
        checkpointDir = Some(checkpoint)))

  def indexStorePath: String = s"$storeRoot/index"

  def chainSplitStorePath: String = s"$storeRoot/chainsplit"

  /** CHAINED split assignment (r16 verdict 2): the [[SplitStream]]
    * assigner wired DOWNSTREAM of [[CrawlDedup]] — it consumes the dedup
    * survivors' store (`crawl/clean`, a file-source stream over the
    * epoch-partitioned hand-off, tracked-file log = each survivor listed
    * exactly once) instead of tapping the raw crawl like
    * [[startSplitAssign]]. The deployment consequences, which are the
    * point:
    *
    *  - a document DROPPED by dedup never consumes a split — it never
    *    reaches the assigner at all (and loses nothing: had it been
    *    assigned, co-location would have handed it its surviving
    *    near-dup's key anyway — parity spec'd);
    *  - a KEPT document's signature enters each store exactly once —
    *    once into the dedup index growth (CrawlDedup's `index_delta`)
    *    and once into the assigner's own match-universe growth
    *    (SplitStream's `index_delta`), driven by the single hand-off
    *    listing rather than two taps on one source racing each other.
    *
    * Assignments agree with the standalone assigner on every document
    * both paths assign (same frozen artifacts, same
    * [[graft.operators.Corpus.splitOfKey]] hash site — spec'd in
    * ChainedCurationSpec).
    */
  def startChainedSplitAssign(baseIndexDir: String, clustersDir: String,
                              trainPct: Int = 90, valPct: Int = 5,
                              threshold: Double = 0.8): StreamingQuery = {
    val hfs = new org.apache.hadoop.fs.Path(storeRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$crawlStorePath/clean"))
    member("chain-split")(checkpoint => SplitStream.start(
      spark.readStream.schema(cleanHandoffSchema)
        .parquet(s"$crawlStorePath/clean")
        .select("doc_id", "text"),
      baseIndexDir, clustersDir, chainSplitStorePath, trainPct, valPct,
      threshold, checkpointDir = Some(checkpoint)))
  }

  /** The dedup survivors' hand-off schema ([[CrawlDedup]] `clean/` —
    * file sources need the schema declared).
    */
  private val cleanHandoffSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("epoch",
      org.apache.spark.sql.types.LongType)))

  /** CHAINED curation — the stages wired the way a deployment actually
    * composes them, each consuming its PREDECESSOR'S store instead of
    * all tapping the raw source: raw crawl → [[ScrubStream]] (masks PII
    * at ingest) → [[CrawlDedup]] (drops dups of the corpus and of
    * earlier batches) → [[IndexStream]] (indexes the survivors). The
    * inter-stage hand-off is Structured Streaming's FILE SOURCE over the
    * predecessor's epoch-partitioned parquet store (tracked-file log =
    * each stage reads every handed-off file exactly once).
    *
    * Replay semantics, stated precisely: a replay UPSTREAM of the dedup
    * gate (scrub crash) re-emits rows the file source lists as new
    * files, and the dedup stage ABSORBS them — the re-fed rows are
    * exact duplicates of content already in its appended signature
    * index, so they drop and never reach the indexer. A replay of the
    * dedup stage itself re-hands its clean epoch to the indexer (new
    * part files), which the merge-on-read view would double-count until
    * the daily compactor ([[graft.operators.TextAnalysis
    * .persistSearchIndex]] over the grown corpus) rebuilds — the
    * standard at-least-once-plus-compaction contract for chained
    * non-transactional stores. Returns the queries in chain order
    * (drive upstream first in tests); with `splitClustersDir` set, a
    * fourth stage — [[startChainedSplitAssign]], leakage-safe split
    * assignment over the dedup survivors (r16 verdict 2) — joins the
    * chain as a second consumer of the `clean/` hand-off.
    *
    * The raw email/phone shapes never reach the dedup index OR the
    * search postings — masking happens at the first hop, which is the
    * entire point of scrubbing at ingest (spec'd: no raw identifier
    * token exists anywhere downstream).
    */
  def startChainedCuration(rawDocs: DataFrame,
                           dedupBaseIndexDir: String,
                           threshold: Double = 0.8,
                           splitClustersDir: Option[String] = None): Seq[StreamingQuery] = {
    // the hand-off dirs must exist before the file sources first list
    val hfs = new org.apache.hadoop.fs.Path(storeRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(s"$scrubStorePath/clean", s"$scrubStorePath/scrubbed",
        s"$crawlStorePath/clean")
      .foreach(p => hfs.mkdirs(new org.apache.hadoop.fs.Path(p)))
    val scrubQ = startScrub(rawDocs)
    // stage 2 source: both scrub outputs (one schema — clean/ is just
    // the n_pii = 0 split), masked text renamed back to `text`
    val scrubSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("clean_text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_pii",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("epoch",
        org.apache.spark.sql.types.LongType)))
    def scrubOut(sub: String): DataFrame = spark.readStream
      .schema(scrubSchema)
      .parquet(s"$scrubStorePath/$sub")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("clean_text").as("text"))
    val dedupQ = member("chain-dedup")(checkpoint => CrawlDedup.start(
      scrubOut("clean").unionByName(scrubOut("scrubbed")),
      dedupBaseIndexDir, crawlStorePath, threshold,
      checkpointDir = Some(checkpoint)))
    // stage 3 source: the dedup survivors
    val ixQ = member("chain-indexer")(checkpoint => IndexStream.start(
      spark.readStream.schema(cleanHandoffSchema).parquet(s"$crawlStorePath/clean")
        .select("doc_id", "text"),
      indexStorePath,
      checkpointDir = Some(checkpoint)))
    // optional stage 4 (r16 verdict 2): split assignment over the SAME
    // survivors' hand-off — a deduped doc never consumes a split
    val splitQ = splitClustersDir.map(clusters =>
      startChainedSplitAssign(dedupBaseIndexDir, clusters))
    Seq(scrubQ, dedupQ, ixQ) ++ splitQ
  }

  /** Search-index growth as a topology member: the [[IndexStream]]
    * indexer over the crawl source, epoch deltas under the shared store
    * root with their own checkpoint dir like every sibling — the corpus
    * becomes searchable as it lands ([[SearchStream]] then serves
    * queries against base ∪ deltas via [[IndexStream.servingIndex]]).
    */
  def startIndexer(docs: DataFrame): StreamingQuery =
    member("indexer")(checkpoint =>
      IndexStream.start(docs, indexStorePath,
        checkpointDir = Some(checkpoint)))

  def scrubStorePath: String = s"$storeRoot/scrub"

  /** PII scrubbing as a topology member: the [[ScrubStream]] masker over
    * the crawl source, clean/scrubbed outputs under the shared store
    * root with its own checkpoint dir like every sibling — identifiers
    * are masked at INGEST, before any downstream store can persist them.
    */
  def startScrub(docs: DataFrame): StreamingQuery =
    member("scrub")(checkpoint =>
      ScrubStream.start(docs, scrubStorePath,
        checkpointDir = Some(checkpoint)))

  def embedStorePath: String = s"$storeRoot/embed"

  /** Embedding-ingest near-dup gate as a topology member: the
    * [[EmbedDedup]] stream over a (vec_id, embedding) source against the
    * persisted vector signature index, outputs under the shared store
    * root with its own checkpoint dir like every sibling — the
    * vector-side ingest gate completing the crawl/media/embedding
    * symmetry.
    */
  def startEmbedDedup(vecs: DataFrame, baseIndexDir: String,
                      threshold: Double = 0.4, dim: Int = 64): StreamingQuery =
    member("embed-dedup")(checkpoint =>
      EmbedDedup.start(vecs, baseIndexDir, embedStorePath, threshold, dim,
        checkpointDir = Some(checkpoint)))

  def mediaStorePath: String = s"$storeRoot/media"

  /** Media-ingest dedup as a topology member: the [[MediaDedup]] stream
    * over a (media_id, kind, payload) source, fingerprint-matched against
    * the persisted corpus hash table, outputs under the shared store root
    * with its own checkpoint dir like every sibling — the third ingest
    * stream beside crawl dedup and the fluency gate.
    */
  def startMediaDedup(media: DataFrame, basePhashDir: String,
                      maxHamming: Int = 5): StreamingQuery =
    member("media-dedup")(checkpoint =>
      MediaDedup.start(media, basePhashDir, mediaStorePath, maxHamming,
        checkpointDir = Some(checkpoint)))

  def tokenizeStorePath: String = s"$storeRoot/tokenize"

  /** Frozen-tokenizer encoding as a topology member: the
    * [[TokenizeStream]] service over the crawl source against the
    * persisted pruned vocabulary, writing per-epoch encodings under the
    * shared store root with its own checkpoint dir like every sibling —
    * the tokenizer chain's serving twin beside the fluency gate's.
    */
  def startTokenize(docs: DataFrame, vocabDir: String): StreamingQuery =
    member("tokenize")(checkpoint =>
      TokenizeStream.start(docs, vocabDir, tokenizeStorePath,
        checkpointDir = Some(checkpoint)))

  def pqStorePath: String = s"$storeRoot/pq"

  /** Streaming PQ-encode serving as a topology member — the vector-side
    * tokenizer service ([[EncodeStream]]): incoming embeddings coded
    * against the frozen per-subspace codebooks, epoch-idempotent output
    * under the shared store root like every sibling.
    */
  def startPqEncode(vecs: DataFrame, codebookDir: String,
                    m: Int = 8, dim: Int = 64): StreamingQuery =
    member("pq")(checkpoint =>
      EncodeStream.start(vecs, codebookDir, pqStorePath, m, dim,
        checkpointDir = Some(checkpoint)))

  def ivfStorePath: String = s"$storeRoot/ivf"

  /** IVF inverted-list growth as a topology member ([[IvfStream]]): the
    * embedding source routed into the frozen cell geometry per
    * micro-batch, epoch deltas under the shared store root with their
    * own checkpoint dir like every sibling — the last asymmetry of the
    * stream-grown index story closed: a streamed vector is
    * dedup-matchable ([[startEmbedDedup]]), ADC-searchable
    * ([[startPqEncode]]) AND IVF-routable the epoch after it arrives.
    */
  def startIvfGrow(vecs: DataFrame, indexDir: String,
                   probeDepth: Int = 4): StreamingQuery =
    member("ivf-grow")(checkpoint =>
      IvfStream.start(vecs, indexDir, ivfStorePath, probeDepth,
        checkpointDir = Some(checkpoint)))

  def mediaSearchStorePath: String = s"$storeRoot/media-search"

  /** Reverse-media-search serving as a topology member (round-10 verdict
    * next-round 5): the [[MediaSearchStream]] request service over a
    * (query_id, kind, payload) probe source against the same persisted
    * corpus hash table the ingest stream dedups with, outputs under the
    * shared store root with its own checkpoint dir like every sibling —
    * the serving twin of [[startMediaDedup]]'s ingest twin.
    */
  def startMediaSearch(queries: DataFrame, phashDir: String,
                       maxHamming: Int = 5): StreamingQuery =
    member("media-search")(checkpoint =>
      MediaSearchStream.start(queries, phashDir, mediaSearchStorePath, maxHamming,
        checkpointDir = Some(checkpoint)))

  def passageStorePath: String = s"$storeRoot/passage-search"

  /** Passage-retrieval serving as a topology member ([[PassageStream]]):
    * a (query_id, query_text) request source answered from the persisted
    * passage family — the RAG serving twin beside the keyword-search and
    * media-search request services, outputs under the shared store root
    * with its own checkpoint dir like every sibling.
    */
  def startPassageSearch(queries: DataFrame, passageDir: String,
                         k: Int = 10): StreamingQuery =
    member("passage-search")(checkpoint =>
      PassageStream.start(queries, passageDir, passageStorePath, k,
        checkpointDir = Some(checkpoint)))

  def chunkStorePath: String = s"$storeRoot/chunk-ingest"

  /** Passage-index growth as a topology member ([[ChunkStream]]): the
    * crawl source chunked + tower-embedded + banded into epoch deltas
    * under the shared store root — the ingest twin of
    * [[startPassageSearch]]'s serving twin, completing the grown-index
    * symmetry on the RAG side (a streamed document's passages are
    * retrievable the epoch after it arrives).
    */
  def startChunkIngest(docs: DataFrame): StreamingQuery =
    member("chunk-ingest")(checkpoint =>
      ChunkStream.start(docs, chunkStorePath,
        checkpointDir = Some(checkpoint)))

  def deconStorePath: String = s"$storeRoot/decon-gate"

  /** Ingest-time decontamination as a topology member ([[DeconStream]]):
    * the crawl source screened in-row against the frozen benchmark bloom,
    * exact-verified candidates quarantined, the rest passing clean.
    */
  def startDeconGate(docs: DataFrame, benchmark: DataFrame): StreamingQuery =
    member("decon-gate")(checkpoint =>
      DeconStream.start(docs, benchmark, deconStorePath,
        checkpointDir = Some(checkpoint)))

  def takedownStorePath: String = s"$storeRoot/takedown"

  /** Takedown ingestion as a topology member ([[TakedownStream]]):
    * erasure requests land as tombstone deltas under the shared store
    * root; every serving member suppresses against the grown view
    * ([[TakedownStream.grownTombstones]] ∘
    * [[graft.operators.Takedown.suppress]]) — suppression latency is one
    * micro-batch, no rebuild on the serving path.
    */
  def startTakedown(requests: DataFrame): StreamingQuery =
    member("takedown")(checkpoint =>
      TakedownStream.start(requests, takedownStorePath,
        checkpointDir = Some(checkpoint)))

  def driftStorePath: String = s"$storeRoot/drift"

  /** Distribution-drift monitoring as a topology member
    * ([[DriftStream]]): each crawl micro-batch's language/source/length
    * shares diff against a frozen reference card and the per-dimension
    * TV rows land under the shared store root — the data-quality gate
    * that catches a source going dark or a crawler flooding one language
    * within one micro-batch instead of at release audit.
    */
  def startDriftMonitor(docs: DataFrame, refSharesDir: String,
                        threshold: Double = 0.5): StreamingQuery =
    member("drift")(checkpoint =>
      DriftStream.start(docs, refSharesDir, driftStorePath, threshold,
        checkpointDir = Some(checkpoint)))

  def awaitAnyTermination(): Unit = spark.streams.awaitAnyTermination()
}

/** One stateful operator's state-store footprint inside one topology
  * member — see [[Pipeline.stateFootprint]].
  */
case class StateFootprint(member: String, op_index: Int,
                          n_state_rows: Long, state_bytes: Long)

object Pipeline {
  /** Held while a member starts, so that one member's temporary
    * `spark.sql.shuffle.partitions` is never read, or restored, by
    * another pipeline's start on the same session.
    */
  private val startLock = new Object

  /** Spark's RocksDB state store provider (in the stock Spark 4
    * distribution; rocksdbjni ships in its jars) — pass as
    * `stateStoreProvider` to spill stateful-member state off-heap.
    */
  val RocksDbStateStore: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** RocksDB provider TUNING preset (r18, r17 verdict 8) — pass as
    * `stateStoreConf` alongside [[RocksDbStateStore]]:
    *
    *  - `boundedMemoryUsage` + `maxMemoryUsageMB`: one shared block-cache
    *    / memtable budget across ALL RocksDB instances on the executor,
    *    instead of each stateful operator's store growing its own native
    *    allocation unboundedly — on the 21-member topology the stores
    *    multiply per member × partition, and an uncapped native footprint
    *    is the classic slow OOM of long-running streaming executors (the
    *    memoryUsedBytes the footprint record reports is exactly what this
    *    caps). 512 MB is a local-mode default; a deployment sizes it to
    *    (executor overhead budget) − (shuffle/netty headroom).
    *  - `changelogCheckpointing.enabled`: per-commit checkpoints upload
    *    the batch's CHANGELOG instead of snapshotting the whole store —
    *    commit latency stops scaling with accumulated state size and
    *    scales with the batch's writes (snapshots still happen, async and
    *    periodic). Behavior-neutral: replay/recovery semantics unchanged,
    *    pinned by the StateFootprintSpec epoch replay.
    */
  val RocksDbTunedConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> "512",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** STATE-STORE FOOTPRINT record (r16 verdict 7) — per named member,
    * one row per stateful operator in its last progress: total state
    * rows + state bytes. The first question a 100×-scale operator asks
    * of a topology this wide is "whose state grows?", and the honest
    * answer is per-member and empirical: bounded-by-keys members
    * (streak/throttle/gate custom state — O(1) per key), horizon-bounded
    * members (watermarked window aggs — open windows only, the watermark
    * evicts closed ones), and the explicitly UNBOUNDED-BY-DESIGN
    * complete-mode A2 counts (one row per distinct group, never evicted
    * — the reference's own semantics; label it in `member` so the record
    * reads honestly). StateFootprintSpec asserts each class's growth law
    * over a replayed multi-epoch run; a deployment surfaces this same
    * record from its monitoring loop.
    *
    * Stateless members report no rows (no state operators in progress);
    * a member that has not yet completed a batch reports nothing —
    * callers drive the topology before reading.
    */
  def stateFootprint(members: Seq[(String, StreamingQuery)]): Seq[StateFootprint] =
    members.flatMap { case (name, q) =>
      Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq.zipWithIndex)
        .map { case (so, i) =>
          StateFootprint(name, i, so.numRowsTotal, so.memoryUsedBytes)
        }
    }
}
