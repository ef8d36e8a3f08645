package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table (north-star extension surface, SURVEY.md §7.2 M4):
  * token counting, quality scoring, language identification, and document
  * fingerprinting.
  *
  * Everything is built from codegen'd/native Catalyst expressions (split,
  * higher-order array functions, regexp) — no UDFs — so the operators stay
  * inside WholeStageCodegen and scale as pure narrow projections: at 100 TB
  * these run at scan speed with zero shuffle.
  */
object TextAnalysis {

  /** Tiny per-language stopword sets for the n-gram/stopword language-ID
    * heuristic. Order defines the argmax tie-break (first wins).
    */
  val LangSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "zh" -> Seq("的", "是", "在", "有", "了"))

  val EnStopwords: Seq[String] =
    Seq("the", "a", "is", "of", "and", "to", "in", "it", "on", "for")

  /** Domain-register lexicons over the synthetic corpus's vocabulary —
    * the non-vacuous lexicon family for [[codeSwitch]] on THIS corpus
    * (whose 31-word vocabulary contains no non-English stopword, so the
    * natural-language [[LangSets]] can only ever vote en/und there). A
    * register switch is the same analysis as a language switch: which
    * bounded lexicon dominates each window. Order defines the argmax
    * tie-break, the [[LangSets]] convention.
    */
  val RegisterSets: Seq[(String, Seq[String])] = Seq(
    "sql" -> Seq("join", "query", "table", "scan", "filter", "hash"),
    "stream" -> Seq("stream", "window", "batch", "merge", "key"),
    "perf" -> Seq("fast", "slow", "big", "small"),
    "data" -> Seq("data", "row", "column", "vector", "value"))

  private def tokens(text: Column): Column = split(text, " ")

  /** Whitespace + BPE-ish regex token counts, text length, average token
    * length — the basic size statistics of a quality filter.
    */
  def tokenStats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents.select(
      col("doc_id"),
      col("n_chars"),
      length(col("text")).as("text_len"),
      size(toks).as("n_tokens"),
      size(expr("regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\\\s]', 0)")).as("n_bpe_tokens"),
      ((length(col("text")) - size(toks) + 1).cast("double") / size(toks)).as("avg_token_len"))
  }

  /** Quality scoring: stopword ratio, unique-token ratio, punctuation ratio
    * and a composite [0,1] score — the length/punct/stopword heuristics of a
    * training-data quality filter, as pure array expressions.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val toks   = tokens(col("text"))
    val n      = size(toks).cast("double")
    val stopHits = size(filter(toks, t => t.isin(EnStopwords: _*)))
    val uniq     = size(array_distinct(toks))
    val punct    = size(expr("regexp_extract_all(text, '[^a-z0-9 ]', 0)"))
    val stopRatio = stopHits / n
    val uniqRatio = uniq / n
    val punctRatio = punct / length(col("text")).cast("double")
    // No rounding anywhere: IEEE double ops on identical inputs are
    // bit-identical across engines, while round() half-boundary semantics
    // are not. The oracle mirrors the exact expression tree.
    documents.select(
      col("doc_id"),
      stopRatio.as("stopword_ratio"),
      uniqRatio.as("unique_ratio"),
      punctRatio.as("punct_ratio"),
      // composite: reward moderate stopword rate + lexical diversity, punish punctuation noise
      (least(stopRatio * lit(5.0), lit(1.0)) * lit(0.3)
        + uniqRatio * lit(0.5)
        + (lit(1.0) - least(punctRatio * lit(10.0), lit(1.0))) * lit(0.2)).as("quality"))
  }

  /** Stopword-set language identification: score each language by stopword
    * hits, argmax with first-language tie-break. A real pipeline would use
    * character n-gram profiles; the plumbing (per-language scoring + argmax,
    * all inside one projection) is identical.
    */
  def languageId(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scores = array(LangSets.map { case (_, ws) =>
      size(filter(toks, t => t.isin(ws: _*)))
    }: _*)
    val langs = array(LangSets.map(l => lit(l._1)): _*)
    documents.select(
      col("doc_id"),
      col("lang").as("declared_lang"),
      element_at(langs, array_position(scores, array_max(scores)).cast("int")).as("predicted_lang"))
  }

  /** Segment-level language mixture (code-switching detection): the token
    * stream splits into fixed `segLen`-token windows, each window gets its
    * own [[languageId]]-style stopword argmax — or `und` when none of its
    * tokens hits any language's set — and the per-document card reports
    * how many segments were detectable, how many distinct languages they
    * vote for, the majority language, and how often adjacent detected
    * segments switch. Doc-level language ID silently labels a mixed
    * document with its majority language; segment-level LID (the
    * CCNet/FineWeb practice) is what lets a curation pass route
    * `mixed = 1` documents to a splitter instead of poisoning a
    * single-language bucket. Ties break to the first language in
    * [[LangSets]] order, the [[languageId]] convention.
    *
    * Scale shape: one pure narrow projection — nested higher-order array
    * expressions (sequence / slice / filter / transform), zero shuffle,
    * zero state — so at 100 TB this runs at scan speed, embarrassingly
    * parallel, like every row-local card in this module. Per-row work is
    * O(tokens × |langs|); nothing is corpus-scaled.
    *
    * `sets` is the lexicon family — [[LangSets]] by default (real
    * corpora), [[RegisterSets]] for the synthetic corpus whose vocabulary
    * carries no non-English stopword.
    */
  def codeSwitch(documents: DataFrame, segLen: Int = 16,
                 sets: Seq[(String, Seq[String])] = LangSets): DataFrame = {
    val toks = tokens(col("text"))
    // split('', ' ') = [''] so size >= 1 and nseg >= 1 always — sequence()
    // never sees an empty/descending range
    val nseg = ceil(size(toks).cast("double") / lit(segLen.toDouble)).cast("int")
    val langsLit = array(sets.map(l => lit(l._1)): _*)
    def predict(seg: Column): Column = {
      val scores = array(sets.map { case (_, ws) =>
        size(filter(seg, t => t.isin(ws: _*)))
      }: _*)
      when(array_max(scores) === 0, lit("und"))
        .otherwise(element_at(langsLit,
          array_position(scores, array_max(scores)).cast("int")))
    }
    val segLangs = transform(sequence(lit(1), nseg), i =>
      predict(slice(toks, (i - lit(1)) * lit(segLen) + lit(1), lit(segLen))))
    val det = filter(segLangs, s => s =!= lit("und"))
    val counts = transform(langsLit, l => size(filter(det, x => x === l)))
    val majority = when(size(det) === 0, lit("und"))
      .otherwise(element_at(langsLit,
        array_position(counts, array_max(counts)).cast("int")))
    // guard: Spark's sequence(2, n) DESCENDS for n < 2 — never let it
    val switches = when(size(det) >= 2,
      size(filter(sequence(lit(2), size(det)), i =>
        element_at(det, i) =!= element_at(det, i - lit(1)))))
      .otherwise(lit(0))
    documents.select(
      col("doc_id"),
      col("lang").as("declared_lang"),
      nseg.cast("long").as("n_segments"),
      size(det).cast("long").as("n_detected"),
      size(array_distinct(det)).cast("long").as("n_langs"),
      majority.as("majority_lang"),
      switches.cast("long").as("n_switches"),
      (size(array_distinct(det)) >= 2).cast("int").as("mixed"))
  }

  /** Text normalization for dedup/fingerprint robustness: digit runs
    * collapse to a `<num>` placeholder and whitespace runs to one space —
    * so documents differing only in ids/counters/timestamps dedup
    * together. Pure codegen'd regexp projection, zero shuffle.
    */
  def normalizeText(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      regexp_replace(regexp_replace(col("text"), "[0-9]+", "<num>"), " +", " ")
        .as("norm_text"))

  /** Repetition ratio (Gopher/C4-style quality signal): the fraction of
    * n-gram OCCURRENCES that are repeats of an earlier n-gram in the same
    * document — `1 - distinct/total`. High values flag boilerplate loops
    * and degenerate generations. Pure narrow projection; documents with
    * fewer than n tokens (no n-grams) are excluded on both sides.
    */
  def repetition(documents: DataFrame, n: Int = 3): DataFrame = {
    val grams = Dedup.shinglesRaw(col("text"), n)
    documents
      .select(col("doc_id"), size(grams).as("ngrams_total"),
        size(array_distinct(grams)).as("ngrams_distinct"))
      .filter(col("ngrams_total") > 0)
      .select(col("doc_id"), col("ngrams_total").cast("long").as("ngrams_total"),
        col("ngrams_distinct").cast("long").as("ngrams_distinct"),
        (lit(1.0) - col("ngrams_distinct").cast("double") / col("ngrams_total"))
          .as("repetition"))
  }

  /** Composite C4-style keep/drop filter: minimum length, punctuation cap,
    * lexical-diversity floor — emitted as per-rule flags plus the composite
    * `keep`, so a pipeline can audit WHY a document dropped (filtering
    * silently is how corpora rot).
    */
  /** Row-local C4 keep predicate over the `text` column — the exact
    * conjunction [[qualityFilter]] emits, exposed so
    * [[filterAgreement]]'s cross-tab can derive both gates in ONE scan
    * (round 11: the doc_id-join form paid ~1 s of shuffle at sf0.1 for
    * flags that are pure projections).
    */
  private[graft] def c4KeepCol(minTokens: Int = 20, maxPunct: Double = 0.1,
                                   minUnique: Double = 0.3): Column = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val uniqRatio = size(array_distinct(toks)).cast("double") / n.cast("double")
    val punctRatio = size(expr("regexp_extract_all(text, '[^a-z0-9 ]', 0)"))
      .cast("double") / length(col("text")).cast("double")
    n >= minTokens && punctRatio < maxPunct && uniqRatio > minUnique
  }

  def qualityFilter(documents: DataFrame, minTokens: Int = 20,
                    maxPunct: Double = 0.1, minUnique: Double = 0.3): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val uniqRatio = size(array_distinct(toks)).cast("double") / n.cast("double")
    val punctRatio = size(expr("regexp_extract_all(text, '[^a-z0-9 ]', 0)"))
      .cast("double") / length(col("text")).cast("double")
    documents.select(
      col("doc_id"),
      n.cast("long").as("n_tokens"),
      uniqRatio.as("unique_ratio"),
      punctRatio.as("punct_ratio"),
      (n >= minTokens).as("len_ok"),
      (punctRatio < maxPunct).as("punct_ok"),
      (uniqRatio > minUnique).as("unique_ok"),
      c4KeepCol(minTokens, maxPunct, minUnique).as("keep"))
  }

  /** Polynomial rolling-hash fingerprint over the character stream:
    * acc = (acc*31 + codepoint) mod 1e9+7. One pass, bounded intermediate
    * (< 2^35, exact in Long for Spark and BIGINT for the DuckDB oracle).
    * Used as the document content fingerprint and as the token hash for
    * [[Dedup]] sketches. Since round 7 this is the codegen'd
    * [[graft.functions.Fingerprint]] expression — one pass over the UTF-8
    * bytes; the HOF formulation it replaces evaluated interpreted per
    * character (the last such host after round 6 purged the sketch
    * front-ends). Bit-identical, property-spec'd.
    */
  def fingerprintCol(text: Column): Column =
    graft.functions.Sketches.fingerprint(text)

  /** The pre-round-7 HOF formulation — retained ONLY as the independent
    * reference implementation for the codegen parity property spec.
    */
  private[graft] def fingerprintColHof(text: Column): Column = {
    val chars = filter(split(text, ""), c => c =!= "")
    val codes = transform(chars, c => ascii(c).cast("long"))
    aggregate(codes, lit(0L), (acc, c) => (acc * 31 + c) % 1000000007L)
  }

  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), fingerprintCol(col("text")).as("fingerprint"))

  /** DuckDB oracle fragments mirroring the Scala derivations. */
  /** Zero-filled quality-score distribution — the dataset-card histogram a
    * curation pipeline keeps per corpus snapshot. Bucket b holds docs with
    * quality in [b/buckets, (b+1)/buckets); an exact 1.0 folds into the
    * last bucket. EMPTY buckets are emitted as zero rows — a distribution
    * audit that silently drops empty ranges reads as coverage it doesn't
    * have — via a range frame (buckets rows, broadcast-sized) left-joined
    * to the counts. One aggregation pass over the corpus; no rounding
    * (floor/least on the bit-exact quality double, mirrored by the
    * oracle).
    */
  def qualityHistogram(documents: DataFrame, buckets: Int = 20): DataFrame = {
    val counts = qualityScore(documents)
      .select(least(floor(col("quality") * buckets), lit(buckets - 1))
        .cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    documents.sparkSession.range(buckets)
      .select(col("id").cast("int").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("bucket")
  }

  /** BM25-flavored keyword relevance search — the targeted-filtering
    * primitive of corpus curation ("pull the top-k docs about X"). Per
    * matched (doc, term): weight = tf · (N − df + 0.5) / (df + 0.5) — the
    * BM25 idf core with the log DROPPED so the arithmetic stays rational
    * (long→double conversions, one multiply, one divide — bit-identical
    * across engines; `log()` libm rounding is not). Per-doc scores fold
    * in SORTED-term order via `aggregate()` over a sorted struct array,
    * pinning double-addition order on both engines (the
    * [[graft.operators.Similarity]] list-fold cosine precedent).
    *
    * Scale shape: the token explode filters to the query terms in the
    * same projection (rows out ∝ matches, not corpus tokens), per-term
    * document frequencies reduce to ≤ |terms| rows joined broadcast, the
    * corpus size is a 1-row broadcast, and top-k is a
    * TakeOrderedAndProject — no global sort.
    */
  def keywordSearch(documents: DataFrame, terms: Seq[String],
                    k: Int = 10): DataFrame = {
    val total = documents.agg(count(lit(1)).as("n_total"))
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val termDf = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(termDf), "tok")
      .crossJoin(broadcast(total))
      .withColumn("w",
        col("tf") * (col("n_total") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .groupBy("doc_id")
      .agg(
        aggregate(array_sort(collect_list(struct(col("tok"), col("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("score"),
        count(lit(1)).as("n_terms_matched"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Persist the full-text INVERTED INDEX behind [[keywordSearchFrom]] —
    * the 100 TB search-serving shape: [[keywordSearch]] explodes every
    * corpus token per query (scan-bound, fine as the index-free baseline),
    * but a serving deployment builds postings ONCE per corpus snapshot and
    * answers each query from the index alone. Three tables under the same
    * content-stamped commit protocol as the dedup/ANN families:
    *
    *  - `postings` — (tok, doc_id, tf): the inverted index; one map-side-
    *    combined hash aggregate over the token stream
    *  - `lexicon`  — (tok, df): per-token document frequency, built from
    *    the READ-BACK postings (staging discipline)
    *  - `meta`     — 1 row (n_total): the corpus size the idf needs
    *
    * At cluster scale postings would be bucketed by `tok` so a query's
    * semi-join prunes to the terms' buckets; single-file local parquet
    * still gets row-group pruning from the pushed `In` filter.
    */
  def persistSearchIndex(documents: DataFrame, dir: String, stamp: String = ""): Unit = {
    val spark = documents.sparkSession
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").parquet(s"$dir/postings")
    spark.read.parquet(s"$dir/postings")
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/lexicon")
    documents.agg(count(lit(1)).as("n_total"))
      .write.mode("overwrite").parquet(s"$dir/meta")
    graft.sources.SnapshotStore.commit(spark, dir, stamp)
  }

  /** A [[persistSearchIndex]]-ed snapshot: postings, lexicon, and the
    * corpus size (driver-side 1-row head at load time, not per query).
    */
  case class SearchIndex(postings: DataFrame, lexicon: DataFrame, nTotal: Long)

  /** Load a [[persistSearchIndex]]-ed snapshot. */
  def loadSearchIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String): SearchIndex =
    SearchIndex(
      postings = spark.read.parquet(s"$dir/postings"),
      lexicon = spark.read.parquet(s"$dir/lexicon"),
      nTotal = spark.read.parquet(s"$dir/meta").head().getLong(0))

  /** One delta's index artifacts — the unit of STREAMING index growth
    * ([[graft.streaming.IndexStream]]): the same three derivations as
    * [[persistSearchIndex]] (postings, read-back lexicon, count) written
    * under `dir` WITHOUT a commit marker — the stream's epoch-overwrite
    * protocol owns idempotence at directory granularity.
    */
  def writeSearchIndexDelta(docs: DataFrame, postingsDir: String,
                            lexiconDir: String, metaDir: String): Unit = {
    val spark = docs.sparkSession
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").parquet(postingsDir)
    spark.read.parquet(postingsDir)
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(lexiconDir)
    // meta is written LAST on purpose: [[grownSearchIndex]] treats the
    // epoch's meta dir as its commit marker, so a crash between the three
    // writes leaves a partial epoch that serving never sees (the replayed
    // micro-batch overwrites all three).
    docs.agg(count(lit(1)).as("n_total"))
      .write.mode("overwrite").parquet(metaDir)
  }

  /** The GROWN index view: base snapshot ∪ every appended epoch delta —
    * merge-on-read, the [[graft.streaming.CrawlDedup]] union shape on the
    * retrieval side. Postings union directly (disjoint doc sets); lexicon
    * df is ADDITIVE across disjoint deltas, so the merged lexicon is one
    * ≤vocab-sized re-aggregate of the (small) lexicon tables — never a
    * postings rescan; n_total sums the 1-row metas. CONTRACT: delta doc
    * ids are disjoint from the base and each other (an append-only crawl
    * with unique ids — the dedup gate upstream guarantees it); replaying
    * an epoch overwrites its own delta so the view never double-counts.
    *
    * Partial-epoch safety: [[writeSearchIndexDelta]] writes postings →
    * lexicon → meta, so a crash mid-epoch can leave the earlier
    * artifacts without the later ones. Only epochs present in ALL THREE
    * delta dirs are served (meta, written last, is the epoch's commit
    * marker) — a torn epoch is invisible rather than a thrown
    * missing-path error or an under-counted df/n_total, and becomes
    * visible when its replay overwrites all three. Only the committed
    * epoch dirs are read; the listing is a driver-side dir stat.
    */
  def grownSearchIndex(spark: org.apache.spark.sql.SparkSession,
                       baseDir: String, postingsDeltaDir: String,
                       lexiconDeltaDir: String,
                       metaDeltaDir: String): SearchIndex = {
    val committed = Seq(postingsDeltaDir, lexiconDeltaDir, metaDeltaDir)
      .map(d => graft.streaming.EpochService.epochs(spark, d).toSet)
      .reduce(_ intersect _)
    grownSearchIndexOf(spark, baseDir, postingsDeltaDir, lexiconDeltaDir,
      metaDeltaDir, committed)
  }

  /** [[grownSearchIndex]] over exactly the delta epochs `epochs` — the
    * compaction fold, which must read the epochs it lists and no other.
    */
  private[graft] def grownSearchIndexOf(spark: org.apache.spark.sql.SparkSession,
                                        baseDir: String, postingsDeltaDir: String,
                                        lexiconDeltaDir: String, metaDeltaDir: String,
                                        epochs: Set[Long]): SearchIndex = {
    import graft.streaming.EpochService.{read, withDeltas}
    val base = loadSearchIndex(spark, baseDir)
    if (epochs.isEmpty) base
    else SearchIndex(
      postings = withDeltas(spark, base.postings, postingsDeltaDir, epochs),
      lexicon = withDeltas(spark, base.lexicon, lexiconDeltaDir, epochs)
        .groupBy("tok").agg(sum("df").as("df")),
      nTotal = base.nTotal + read(spark, metaDeltaDir, epochs)
        .fold(0L)(_.agg(sum("n_total")).head().getLong(0)))
  }

  /** [[keywordSearch]] served from a persisted index — identical scoring
    * (same rational idf, same sorted-term fold), but the corpus-token
    * explode is replaced by an `In`-pruned postings scan and the df
    * aggregate by a lexicon lookup: per-query work ∝ matching postings,
    * not corpus tokens. Parity with the index-free operator is spec'd.
    */
  def keywordSearchFrom(index: SearchIndex, terms: Seq[String],
                        k: Int = 10): DataFrame = {
    val tf = index.postings.filter(col("tok").isin(terms: _*))
    val termDf = index.lexicon.filter(col("tok").isin(terms: _*))
    tf.join(broadcast(termDf), "tok")
      .withColumn("w",
        col("tf") * (lit(index.nTotal) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .groupBy("doc_id")
      .agg(
        aggregate(array_sort(collect_list(struct(col("tok"), col("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("score"),
        count(lit(1)).as("n_terms_matched"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** [[keywordSearchFrom]] for an ARBITRARY request frame — the
    * serving-endpoint form, and the batch kernel of the streaming search
    * service ([[graft.streaming.SearchStream]]): `queries` is any
    * (query_id, terms: array<string>) frame. Per request the scoring is
    * exactly [[keywordSearch]]'s (rational idf against the snapshot's
    * lexicon + corpus size, sorted-term fold, `score DESC, doc_id` rank),
    * so a one-row request frame reproduces [[keywordSearchFrom]] minus
    * the global limit — ranking is per query here (row_number ≤ k), since
    * one request must not starve another's result budget.
    *
    * Scale shape: requests explode to (query_id, tok) pairs — the only
    * broadcast; postings are hit by one equi-join on `tok` (bucket-pruned
    * at cluster scale); per-query ranking windows are bounded by matched
    * postings, never the corpus.
    *
    * `termsHint` (r16 verdict 4): the broadcast-join form above cannot
    * push a row-group filter into the postings SCAN — the request terms
    * live in a frame, so every posting is read and non-matching toks die
    * at the join. When the caller statically knows a SUPERSET of the
    * request terms (a registered endpoint with literal requests, a
    * bounded admission vocabulary), passing it turns both the postings
    * and lexicon scans into `In`-pruned reads (`PushedFilters:
    * In(tok, …)` — dictionary/row-group skipping at the parquet level),
    * making per-call I/O ∝ matching postings instead of |index|.
    * Semantics are unchanged by construction (the equi-join already
    * drops every tok outside the hint; the hint must cover the request
    * terms — a term outside the hint would silently score 0 matches, so
    * callers pass exactly the union of their request terms).
    *
    * MEASURED (r16 verdict 4, BASELINE.md r17): at sf0.1/local[32] the
    * hint is a TIE — per-call medians 0.82 s unpruned vs 0.80 s pruned
    * across 5 interleaved iterations at matched canary (~0.2 s, a ~2×
    * loaded host). At this scale the postings table is small enough
    * that the scan is not the bottleneck; the per-call floor is the
    * serving CONSTRUCTION (snapshot reads + two broadcast joins + the
    * per-query rank window), not I/O. The hint ships anyway because it
    * is free and is the right scan shape for the regime the engine
    * targets — at 100 TB-class postings the unpruned form reads the
    * whole index per request batch, the pruned form reads the matching
    * row groups.
    *
    * CAPPED (r18, r17 verdict 4): a hint is a literal `In(tok, …)` list
    * embedded in the plan — a caller passing a huge admission vocabulary
    * would bloat analysis/planning and the pushed predicate itself
    * instead of pruning anything (an In over most of the lexicon skips
    * no row group). Past `maxPushdownTerms` the hint is IGNORED and the
    * scans stay unpruned — semantics are hint-independent by
    * construction (the equi-join already drops every tok outside the
    * request set), so the cap is a pure planner guard.
    */
  def keywordSearchForQueries(index: SearchIndex, queries: DataFrame,
                              k: Int = 10,
                              termsHint: Option[Seq[String]] = None,
                              maxPushdownTerms: Int = 1 << 12): DataFrame = {
    val hint = termsHint.filter(_.size <= maxPushdownTerms)
    val postings = hint.fold(index.postings)(h =>
      index.postings.filter(col("tok").isin(h: _*)))
    val lexicon = hint.fold(index.lexicon)(h =>
      index.lexicon.filter(col("tok").isin(h: _*)))
    // explode_distinct: a request repeating a term must not double its
    // weight — [[keywordSearch]]'s isin filter dedups implicitly, and the
    // endpoint must score identically for the same term SET
    val qt = queries
      .select(col("query_id"), explode(array_distinct(col("terms"))).as("tok"))
    val tf = postings.join(broadcast(qt), Seq("tok"))
    val scored = tf
      .join(broadcast(lexicon.join(qt.select("tok").distinct(), Seq("tok"))), Seq("tok"))
      .withColumn("w",
        col("tf") * (lit(index.nTotal) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .groupBy("query_id", "doc_id")
      .agg(
        aggregate(array_sort(collect_list(struct(col("tok"), col("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("score"),
        count(lit(1)).as("n_terms_matched"))
    val rw = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Vocabulary builder — the corpus-wide token frequency table that seeds
    * tokenizer training (BPE/unigram induction starts from exactly this:
    * term frequency + document frequency per surface token). Top-k rows by
    * `tf DESC, token ASC` (a TOTAL order — tokens are distinct after the
    * groupBy — so the cut is deterministic), each carrying its rank.
    *
    * Scale shape: one hash aggregate with map-side combine (corpus tokens
    * reduce to vocab size before the shuffle), then the top-k cut is a
    * TakeOrderedAndProject — no global sort of the vocabulary and no
    * Window anywhere (rank is implied by the output's total order; a rank
    * column would cost a partition-less Window, the registry's banned
    * single-reducer shape).
    */
  def vocabulary(documents: DataFrame, k: Int = 50): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(k)

  /** Greedy left-to-right non-overlapping pair merge — BPE's
    * re-segmentation step as a STRING fold over the symbol array: the
    * accumulator is the space-delimited segmentation built so far, and a
    * symbol `s == b` arriving while the accumulator ends with ` a` is
    * appended WITHOUT the separator (fusing ` a` into ` ab`); everything
    * else appends with one. Space-delimited tokens make the endswith
    * test exact (` a` matches only a whole last symbol `a`), and a
    * just-merged symbol can never re-merge in-round (`ab` ≠ `a` — so
    * "aaaa" under (a,a) becomes [aa, aa], the textbook greedy
    * semantics). A string fold rather than a struct-accumulator fold
    * because the oracle must mirror it operation-for-operation and
    * DuckDB 1.0's `list_reduce` silently drops struct accumulator state
    * (probed directly; plain VARCHAR accumulators fold left-to-right
    * correctly on both engines).
    */
  /** Filter-agreement audit — the calibration cross-tab between the two
    * rule gates ([[qualityFilter]]'s C4 rules × [[gopherFilter]]'s Gopher
    * rules): how many documents each keep/drop combination holds. The
    * off-diagonal cells are the interesting ones — documents one filter
    * keeps and the other drops are exactly where a curation pipeline's
    * thresholds need human eyes. Both gates are row-local predicates of
    * the SAME text column, so the cross-tab is one scan + a 4-group
    * map-side-combined aggregate — zero shuffle before the 4 rows
    * (round 11: the earlier doc_id-join form paid ~1 s of shuffle at
    * sf0.1 for flags the scan already had side by side). Combinations
    * with zero documents are absent (both engines agree).
    */
  def filterAgreement(documents: DataFrame): DataFrame =
    documents.select(
        c4KeepCol().as("c4_keep"),
        gopherKeepCol().as("gopher_keep"))
      .groupBy("c4_keep", "gopher_keep")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("c4_keep", "gopher_keep")

  /** COHEN'S KAPPA between two keep/drop gates — the agreement STATISTIC
    * over [[filterAgreement]]'s cross-tab (two gates can agree 85% of
    * the time purely by chance when both keep most documents; kappa is
    * the curation-analysis number that corrects for that). Input is any
    * (c4_keep, gopher_keep) boolean frame — the registry feeds the
    * joined persisted flag families. Every term is a ratio of exact
    * counts and the kappa expression tree is mirrored verbatim in the
    * oracle (no libm), so the statistic hash-checks bit-for-bit; the
    * degenerate pe = 1 case (both gates constant) reports 1.0 by
    * convention on both engines. One aggregation, one row.
    */
  def filterKappa(flags: DataFrame): DataFrame = {
    val agg = flags.agg(
      count(lit(1)).as("n_docs"),
      sum((col("c4_keep") && col("gopher_keep")).cast("long")).as("n_both_keep"),
      sum((!col("c4_keep") && !col("gopher_keep")).cast("long")).as("n_both_drop"),
      sum((col("c4_keep") && !col("gopher_keep")).cast("long")).as("n_c4_only"),
      sum((!col("c4_keep") && col("gopher_keep")).cast("long")).as("n_gopher_only"))
    val po = (col("n_both_keep") + col("n_both_drop")).cast("double") /
      col("n_docs").cast("double")
    val pc = (col("n_both_keep") + col("n_c4_only")).cast("double") /
      col("n_docs").cast("double")
    val pg = (col("n_both_keep") + col("n_gopher_only")).cast("double") /
      col("n_docs").cast("double")
    val pe = pc * pg + (lit(1.0) - pc) * (lit(1.0) - pg)
    agg.select(col("n_docs"), col("n_both_keep"), col("n_both_drop"),
      col("n_c4_only"), col("n_gopher_only"),
      po.as("observed_agreement"), pe.as("chance_agreement"),
      when(pe === 1.0, lit(1.0))
        .otherwise((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** Vocabulary-coverage / OOV-rate report — the tokenizer-health metric a
    * training-data pipeline tracks per corpus snapshot: for each document,
    * the fraction of token OCCURRENCES outside the top-`k` vocabulary
    * ([[vocabulary]]'s deterministic `tf DESC, token ASC` cut, so the
    * in/out boundary is total-ordered on both engines). A rising OOV rate
    * is the early warning that the tokenizer no longer fits the data mix.
    *
    * Scale shape: the vocabulary reduces to k rows and broadcasts; the
    * token stream joins it in one pass and re-aggregates per document
    * map-side — no corpus-sized shuffle beyond the doc_id aggregate.
    */
  def vocabCoverage(documents: DataFrame, k: Int = 20): DataFrame = {
    val vocab = vocabulary(documents, k)
      .select(col("token"), lit(1).as("in_vocab"))
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_rate"))
  }

  /** The approx-top-k (frequent-items sketch) bound promoted into the
    * oracle-checked surface — the [[graft.operators.Relational]]
    * `approxDistinctBound`/`approxPercentileBound` pattern applied to the
    * THIRD sketch a 100 TB pipeline trusts daily: `approx_top_k` is the
    * one-pass bounded-memory heavy-hitters path when the full
    * [[vocabulary]] aggregate is too large to materialize (the sketch
    * tracks `maxItems` candidates regardless of vocabulary size).
    *
    * Emits the EXACT top-k tokens (`tf DESC, tok ASC` — [[vocabulary]]'s
    * deterministic total order, which DuckDB mirrors) with the sketch's
    * estimate mapped onto the bound grid: `rel_err_bucket` =
    * ⌊|est − tf| / (relErr·tf)⌋ (0 ⇔ inside) and `within_bound` (1/0 —
    * 0 also when the sketch MISSED a true heavy hitter entirely). DuckDB
    * cannot reproduce the estimator, so the oracle asserts the contract
    * as literals: any heavy hitter whose estimate drifts past the bound
    * (or drops out of the sketch) hash-mismatches its row and the
    * correctness artifact witnesses the violation. `estK` requests the
    * sketch's list far past k so boundary count-ties cannot eject a true
    * top-k member from the comparison frame.
    *
    * The assertion is GATED to the sketch's provably-exact regime
    * (round-10 ADVICE-3): `in_regime` = (distinct tokens ≤ maxItems),
    * itself exactly oracle-computable and hash-checked. Inside the
    * regime the sketch tracks every token and the bound is a hard
    * contract; outside it Spark's `approx_top_k` publishes no formal
    * error guarantee, so `within_bound`/`rel_err_bucket` degrade to
    * vacuous literals instead of flipping the artifact red with no code
    * defect. `gateToRegime = false` keeps the hard assertion outside the
    * regime — the ScalaTest eviction-quality probe uses it.
    *
    * Scale shape: the sketch side is one partial-aggregated pass with
    * O(maxItems) state per partition; the exact side (the witness) is
    * [[vocabulary]]'s map-side-combined aggregate + TakeOrderedAndProject,
    * affordable at audit scale; the comparison join is ≤ estK rows,
    * broadcast.
    */
  def approxTopTokensBound(documents: DataFrame, k: Int = 10, estK: Int = 64,
                           maxItems: Int = 10000,
                           relErr: Double = 0.05,
                           gateToRegime: Boolean = true): DataFrame = {
    val toks = documents.select(explode(tokens(col("text"))).as("tok"))
    val est = toks
      .agg(expr(s"approx_top_k(tok, $estK, $maxItems)").as("est"))
      .select(explode(col("est")).as("e"))
      .select(col("e.item").as("tok"), col("e.count").as("est_count"))
    val grouped = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
    val exact = grouped.orderBy(col("tf").desc, col("tok")).limit(k)
    // the estimator regime gate (round-10 ADVICE-3): Spark's approx_top_k
    // carries no formal error guarantee once distinct tokens exceed
    // maxItems per partition merge, so a bigger/more diverse corpus could
    // flip the hash-checked literal with no code defect. `in_regime`
    // (vocabulary ≤ maxItems ⇒ the sketch tracks every token and is
    // EXACT) is itself oracle-computable and hash-checked; the bound
    // assertion applies only inside the regime — outside it the contract
    // is vacuous-by-construction, not silently red. One-row broadcast,
    // still fully lazy.
    // derived from the SAME grouped frame as the exact side, so the
    // regime check reuses that exchange instead of re-tokenizing and
    // re-shuffling the corpus a third time (round-11 review finding)
    val regime = grouped.agg(
      (count(lit(1)) <= maxItems).cast("int").as("in_regime"))
    val vacuous = if (gateToRegime) col("in_regime") === 0 else lit(false)
    exact.join(broadcast(est), Seq("tok"), "left")
      .crossJoin(broadcast(regime))
      .select(col("tok"), col("tf"), col("in_regime"),
        when(vacuous, lit(0L)).otherwise(
          floor(abs(coalesce(col("est_count"), lit(0L)) - col("tf")).cast("double")
            / (lit(relErr) * col("tf"))).cast("long")).as("rel_err_bucket"),
        (vacuous ||
          (col("est_count").isNotNull &&
            abs(col("est_count") - col("tf")).cast("double") < lit(relErr) * col("tf")))
          .cast("int").as("within_bound"))
      .orderBy(col("tf").desc, col("tok"))
  }

  private def mergeFold(seg: Column, a: Column, b: Column): Column = {
    val folded = aggregate(seg, lit(""),
      (acc, s) =>
        when(endswith(acc, concat(lit(" "), a)) && s === b, concat(acc, s))
          .otherwise(concat(acc, lit(" "), s)))
    filter(split(folded, " "), s => s =!= "")
  }

  /** BPE merge induction — the iterative heart of byte-pair-encoding
    * tokenizer training, completing the induction chain [[vocabulary]]
    * (seed counts) → [[collocations]] (phrase signals) → merges (the
    * actual tokenizer artifact). Words are weighted by corpus frequency
    * (one row per word TYPE — the standard formulation), segmented to
    * characters, and `numMerges` rounds each (1) sum adjacent-pair
    * frequencies, (2) pick the argmax under the TOTAL order
    * `pair_count DESC, l ASC, r ASC` (deterministic at ties — the
    * classic "low/lower/newest" fixture is spec'd), (3) re-segment by
    * [[mergeFold]]. Output: one row per merge
    * (merge_rank, lhs, rhs, merged, pair_count).
    *
    * Fully IN-PLAN: the argmax is a `limit(1)` frame cross-joined back
    * broadcast — no `.collect()`, no driver loop over data; the only
    * driver actions are the per-round `localCheckpoint`s that truncate
    * the fold lineage (the [[Dedup.duplicateClusters]] fixpoint
    * precedent — without them round k's plan would nest k folds deep and
    * re-run every earlier round per consumer). Scale shape: all heavy
    * work is vocab-sized (word TYPES, not corpus tokens — the token
    * stream reduces in the first map-side-combined aggregate), each
    * round is one hash aggregate + a TakeOrderedAndProject argmax + a
    * narrow fold projection.
    *
    * Rounds after pair exhaustion (tiny corpora) emit nothing — the
    * output then has fewer than `numMerges` rows rather than fabricated
    * merges.
    */
  def bpeMerges(documents: DataFrame, numMerges: Int = 5): DataFrame = {
    val words = documents
      .select(explode(tokens(col("text"))).as("w"))
      // empty word types (double/leading/trailing spaces in a document)
      // would give a zero-length seg whose slice(…, size-1) length is -1
      // — a runtime crash, and the DuckDB mirror filters them too
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
    var seg = words
      .select(col("freq"), filter(split(col("w"), ""), s => s =!= "").as("seg"))
      .localCheckpoint()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to numMerges) {
      val pc = seg
        .select(col("freq"), explode(expr(
          "transform(slice(seg, 1, size(seg)-1), (x, j) -> struct(x AS l, seg[j+1] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("pair_count"))
      val best = pc
        .orderBy(col("pair_count").desc, col("l"), col("r")).limit(1)
        .select(lit(i.toLong).as("merge_rank"), col("l"), col("r"), col("pair_count"))
        .localCheckpoint()
      rounds += best
      seg = seg
        .crossJoin(broadcast(best.select(col("l").as("_ml"), col("r").as("_mr"))))
        .select(col("freq"), mergeFold(col("seg"), col("_ml"), col("_mr")).as("seg"))
        .localCheckpoint()
    }
    rounds.reduce(_ unionByName _)
      .select(col("merge_rank"), col("l").as("lhs"), col("r").as("rhs"),
        concat(col("l"), col("r")).as("merged"), col("pair_count"))
      .orderBy("merge_rank")
  }

  /** BPE ENCODING — applying a trained merge table ([[bpeMerges]]) to
    * re-tokenize the corpus, the encode step every downstream tokenizer
    * consumer runs. `merges` is the rank-ordered (lhs, rhs) artifact —
    * a handful of rows read from the persisted merge table, passed as
    * literals exactly like a query's terms. Each word TYPE is segmented
    * to characters and folded through the merges in rank order
    * ([[mergeFold]] per merge — identical greedy semantics to
    * training's re-segmentation, so encoding the training corpus
    * reproduces training's final segmentation); occurrences then join
    * the vocab-sized encoding back, so the per-word fold work is paid
    * once per TYPE, not per token.
    *
    * Output: (doc_id, pos, word, encoded) — `encoded` the space-joined
    * piece sequence, one row per word occurrence, totally ordered.
    */
  def bpeEncode(documents: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val occ = documents.select(col("doc_id"),
      posexplode(filter(tokens(col("text")), w => w =!= "")).as(Seq("pos", "w")))
    val encoded = merges.foldLeft(
        occ.select("w").distinct()
          .withColumn("seg", filter(split(col("w"), ""), s => s =!= ""))) {
        case (df, (a, b)) =>
          df.withColumn("seg", mergeFold(col("seg"), lit(a), lit(b)))
      }
      .select(col("w"), array_join(col("seg"), " ").as("encoded"))
    occ.join(encoded, Seq("w"))
      .select(col("doc_id"), col("pos"), col("w").as("word"), col("encoded"))
      .orderBy("doc_id", "pos")
  }

  /** UNIGRAM-LM VOCABULARY PRUNING — the second canonical tokenizer
    * induction beside [[bpeMerges]] (the SentencePiece shape, Kudo 2018):
    * seed a piece vocabulary from a BPE segmentation of the corpus (the
    * standard "seed from BPE" initialization), estimate unigram piece
    * probabilities from the segment counts (the hard-EM E-step over the
    * seed segmentation), and PRUNE to the pieces whose likelihood
    * contribution most exceeds their always-available character fallback
    * — the SentencePiece pruning signal, scored per occurrence so the
    * arithmetic stays exact (see below).
    *
    * Per piece x with Laplace-smoothed probability p(x) = (c_x+1)/(T+|V|)
    * (c = summed segment counts over word TYPES weighted by frequency,
    * T = total piece occurrences, V = the seed vocabulary), the score is
    * the per-occurrence likelihood RATIO of keeping x vs re-segmenting
    * it into characters:
    *   gain(x) = p(x) / Π_i p(char_i(x))
    *           = (c_x+1) · (T+|V|)^(m−1) / Π_i (c_i+1)     (m = |x|)
    * — numerator and denominator are EXACT integers (DECIMAL(38,0) /
    * HUGEINT, position-order folds), and the one double division is
    * bit-identical cross-engine (the [[collocations]] log-free
    * precedent: a log-likelihood score would hit libm rounding). The
    * full SentencePiece criterion weights the loss by c_x; ranking by
    * the per-occurrence ratio with `piece_count DESC, piece ASC`
    * tie-breaks keeps the cut total AND hash-checkable.
    *
    * Output: one row per seed piece — (piece, piece_len, piece_count,
    * gain, kept) — the whole pruning decision as an auditable artifact.
    * Single characters are always kept (the alphabet is the fallback and
    * must stay encodable); multi-char pieces keep the top `keep` by
    * (gain DESC, piece_count DESC, piece ASC).
    *
    * Scale shape: segmentation folds run once per word TYPE; all piece
    * tables are vocab-sized; the (T, |V|) totals are a 1-row broadcast;
    * the keep-cut is TakeOrderedAndProject + a marker semi-join (no
    * partition-less Window); nothing rescans the corpus after the one
    * word-type aggregate.
    *
    * EXACT-INTEGER BOUND (the [[collocations]] family's contract): the
    * gain numerator (c_x+1)·(T+|V|)^(m−1) folds in DECIMAL(38,0), so it
    * must stay under 10^38 — at T ≈ 1e7 that caps piece length m ≈ 6;
    * past it non-ANSI Spark would yield NULL gain and silently diverge
    * from the DuckDB HUGEINT oracle's keep-cut. The plan GUARDS the
    * bound: any piece whose numerator would overflow raises an error at
    * execution instead of mis-ranking (the guard's double log10 check is
    * conservative by a margin, and only ever trips an error — it never
    * feeds an output value, so libm rounding cannot affect results).
    */
  def unigramVocab(documents: DataFrame, merges: Seq[(String, String)],
                   keep: Int = 3): DataFrame = {
    val dec = "decimal(38,0)"
    val words = documents
      .select(explode(filter(tokens(col("text")), w => w =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val seg = merges.foldLeft(
        words.withColumn("seg", filter(split(col("w"), ""), s => s =!= ""))) {
        case (df, (a, b)) =>
          df.withColumn("seg", mergeFold(col("seg"), lit(a), lit(b)))
      }
    val pieceCounts = seg
      .select(explode(col("seg")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("piece_count"))
    val totals = pieceCounts.agg(
      sum("piece_count").as("t_occ"), count(lit(1)).as("n_vocab"))
    val charCounts = pieceCounts.filter(length(col("piece")) === 1)
      .select(col("piece").as("ch"), col("piece_count").as("ch_count"))
    // Π (c_i + 1) over the piece's characters, in POSITION order (a char
    // swallowed by merges everywhere may have no standalone count → 0)
    val den = pieceCounts
      .select(col("piece"),
        posexplode(filter(split(col("piece"), ""), s => s =!= ""))
          .as(Seq("pos", "c")))
      .join(charCounts, col("c") === col("ch"), "left")
      .select(col("piece"), col("pos"),
        coalesce(col("ch_count"), lit(0L)).as("c_cnt"))
      .groupBy("piece")
      .agg(sort_array(collect_list(struct(col("pos"), col("c_cnt")))).as("arr"))
      .select(col("piece"),
        aggregate(col("arr"), lit(1).cast(dec),
          (acc, x) => acc * (x("c_cnt") + lit(1)).cast(dec)).as("den_exact"))
    val scored = pieceCounts.join(den, "piece").crossJoin(broadcast(totals))
      // DECIMAL(38,0) overflow guard (see Scaladoc): trip an error rather
      // than let a NULL gain silently mis-rank; 37.8 leaves margin for
      // the log10 rounding so the trip is conservative, never late
      .filter(when(
        length(col("piece")) > 1 &&
          log10((col("piece_count") + 1).cast("double")) +
            (length(col("piece")) - 1).cast("double") *
              log10((col("t_occ") + col("n_vocab")).cast("double")) > 37.8,
        raise_error(concat(lit("unigramVocab: gain numerator for piece '"),
          col("piece"),
          lit("' would overflow DECIMAL(38,0); shrink max piece length " +
            "or pre-prune the seed vocabulary"))).cast("boolean"))
        .otherwise(lit(true)))
      .select(col("piece"), length(col("piece")).as("piece_len"),
        col("piece_count"),
        when(length(col("piece")) === 1, lit(1.0)).otherwise(
          aggregate(sequence(lit(2), length(col("piece"))),
              (col("piece_count") + lit(1)).cast(dec),
              (acc, _) => acc * (col("t_occ") + col("n_vocab")).cast(dec))
            .cast("double") / col("den_exact").cast("double")).as("gain"))
    val topk = scored.filter(col("piece_len") > 1)
      .orderBy(col("gain").desc, col("piece_count").desc, col("piece"))
      .limit(keep)
      .select(col("piece").as("kp"))
    scored
      .join(broadcast(topk), col("piece") === col("kp"), "left")
      .select(col("piece"), col("piece_len"), col("piece_count"), col("gain"),
        (col("piece_len") === 1 || col("kp").isNotNull).cast("int").as("kept"))
      .orderBy("piece")
  }

  /** UNIGRAM-VOCAB ENCODING — applying a pruned [[unigramVocab]] artifact
    * to segment the corpus: per word TYPE, greedy longest-prefix-match
    * over the KEPT multi-char pieces with the single-character fallback
    * (the WordPiece-style deterministic decode of a pruned vocabulary —
    * the log-free stand-in for unigram Viterbi, whose likelihood argmax
    * would reintroduce the float-transcendental arithmetic the whole
    * tokenizer chain avoids). A character outside the vocabulary passes
    * through as its own singleton piece, so any word — including unseen
    * ones — encodes without retraining (the [[bpeEncode]] contract).
    *
    * The artifact is consumed IN-PLAN: the kept pieces fold into a 1-row
    * (length-desc-ordered) array broadcast — no driver read of the vocab
    * table, and two distinct same-length pieces can never prefix-match
    * the same position (they would be equal), so the longest-first order
    * is a total tie-free match rule on both engines. Per-word work is a
    * bounded fold (word length steps, each a filter over the tiny piece
    * array); occurrences join the type-level encoding back exactly like
    * [[bpeEncode]].
    */
  def unigramEncode(documents: DataFrame, vocab: DataFrame): DataFrame = {
    val kp = vocab.filter(col("kept") === 1 && col("piece_len") > 1)
      .agg(sort_array(collect_list(
        struct((-col("piece_len")).as("nl"), col("piece")))).as("ps"))
    val occ = documents.select(col("doc_id"),
      posexplode(filter(tokens(col("text")), w => w =!= "")).as(Seq("pos", "w")))
    val encoded = occ.select("w").distinct().crossJoin(broadcast(kp))
      .select(col("w"),
        aggregate(sequence(lit(1), length(col("w"))),
          struct(lit(1).as("p"), typedLit(Seq.empty[String]).as("seg")),
          (acc, _) => {
            val matched = filter(col("ps"),
              x => col("w").substr(acc("p"), -x("nl")) === x("piece"))
            val piece = when(size(matched) > 0, element_at(matched, 1)("piece"))
              .otherwise(col("w").substr(acc("p"), lit(1)))
            when(acc("p") > length(col("w")), acc)
              .otherwise(struct((acc("p") + length(piece)).as("p"),
                concat(acc("seg"), array(piece)).as("seg")))
          },
          acc => array_join(acc("seg"), " ")).as("encoded"))
    occ.join(encoded, Seq("w"))
      .select(col("doc_id"), col("pos"), col("w").as("word"), col("encoded"))
      .orderBy("doc_id", "pos")
  }

  /** PMI-style bigram collocation mining — the phrase-induction step that
    * follows [[vocabulary]] in tokenizer/phrase-table construction: find
    * adjacent token pairs that co-occur far more than their unigram
    * frequencies predict. Scored by the PMI CORE `tf_xy·N / (tf_x·tf_y)`
    * with the log DROPPED (log is monotone, so ranking is identical, and
    * the arithmetic stays one multiply + one divide on exact long-derived
    * doubles — bit-identical across engines; libm `log` rounding is not —
    * the [[keywordSearch]] idf precedent). `tf_xy DESC, bigram ASC`
    * breaks score ties so the top-k cut is total.
    *
    * Scale shape: bigram and unigram counting are map-side-combined hash
    * aggregates (corpus token stream reduces to vocab-sized tables before
    * any shuffle); the two unigram joins are vocab×vocab-sized equi-joins
    * on the token key (NOT broadcast — at 100 TB the unigram table is
    * millions of rows; AQE may still elect broadcast when runtime stats
    * permit); the corpus token total is a 1-row broadcast; the final cut
    * is a TakeOrderedAndProject — no global sort, no Window.
    */
  def collocations(documents: DataFrame, minCount: Int = 5, k: Int = 50): DataFrame = {
    val uni = documents.select(explode(tokens(col("text"))).as("token"))
    val uc = uni.groupBy("token").agg(count(lit(1)).as("tf"))
    val total = uni.agg(count(lit(1)).as("n_uni"))
    val bc = documents
      .select(explode(Dedup.shinglesRaw(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("tf_xy"))
      .filter(col("tf_xy") >= minCount)
    // both unigram joins reference the IDENTICAL aggregate subtree (the
    // rename happens in the join output, not inside the exchange), so the
    // second broadcast canonicalizes to a ReusedExchange of the first
    // instead of re-counting the corpus
    bc
      .withColumn("t1", split(col("bigram"), " ")(0))
      .withColumn("t2", split(col("bigram"), " ")(1))
      .join(uc.as("x"), col("t1") === col("x.token"))
      .join(uc.as("y"), col("t2") === col("y.token"))
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("tf_xy"), col("x.tf").as("tf_x"), col("y.tf").as("tf_y"),
        ((col("tf_xy").cast("double") * col("n_uni").cast("double"))
          / (col("x.tf").cast("double") * col("y.tf").cast("double"))).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("tf_xy").desc, col("bigram"))
      .limit(k)
  }

  /** Gopher-style rule filter — the OTHER canonical quality gate beside
    * [[qualityFilter]]'s C4 rules (Rae et al. 2021 §A1.1): token-count
    * bounds, mean-token-length bounds, a duplicate-bigram ceiling, and a
    * minimum stopword presence. Emitted as per-rule flags plus the
    * composite `keep` (the qualityFilter audit discipline: a silently
    * filtering corpus rots).
    *
    * The mean token length derives from the whitespace identity
    * `chars = Σ len(tok) + (n − 1)` — `(len(text) − n + 1) / n` — so it
    * needs no second pass over the tokens; the duplicate-bigram fraction
    * is [[repetition]]'s `1 − distinct/total` signal inlined at n = 2.
    * Pure narrow projection (array/regexp expressions only): runs at scan
    * speed with zero shuffle at any corpus size, and every ratio stays in
    * the exact-double regime the oracle mirrors bit-for-bit.
    */
  /** Row-local Gopher keep predicate — [[c4KeepCol]]'s twin for the
    * [[gopherFilter]] rule gate, shared with [[filterAgreement]].
    */
  private[graft] def gopherKeepCol(minTokens: Int = 50, maxTokens: Int = 100000,
                                       minMeanTokLen: Double = 3.0,
                                       maxMeanTokLen: Double = 10.0,
                                       maxDupBigram: Double = 0.2,
                                       minStopHits: Int = 2): Column = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val meanLen = (length(col("text")) - n + 1).cast("double") / n.cast("double")
    val grams = Dedup.shinglesRaw(col("text"), 2)
    val dupFrac = when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
      .otherwise(lit(0.0))
    val stopHits = size(filter(toks, t => t.isin(EnStopwords: _*)))
    n >= minTokens && n <= maxTokens &&
      meanLen >= minMeanTokLen && meanLen <= maxMeanTokLen &&
      dupFrac <= maxDupBigram && stopHits >= minStopHits
  }

  def gopherFilter(documents: DataFrame, minTokens: Int = 50,
                   maxTokens: Int = 100000, minMeanTokLen: Double = 3.0,
                   maxMeanTokLen: Double = 10.0, maxDupBigram: Double = 0.2,
                   minStopHits: Int = 2): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val meanLen = (length(col("text")) - n + 1).cast("double") / n.cast("double")
    val grams = Dedup.shinglesRaw(col("text"), 2)
    val dupFrac = when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
      .otherwise(lit(0.0))
    val stopHits = size(filter(toks, t => t.isin(EnStopwords: _*)))
    documents.select(
      col("doc_id"),
      n.cast("long").as("n_tokens"),
      meanLen.as("mean_token_len"),
      dupFrac.as("dup_bigram_frac"),
      stopHits.cast("long").as("stop_hits"),
      (n >= minTokens && n <= maxTokens).as("len_ok"),
      (meanLen >= minMeanTokLen && meanLen <= maxMeanTokLen).as("tok_len_ok"),
      (dupFrac <= maxDupBigram).as("rep_ok"),
      (stopHits >= minStopHits).as("stop_ok"),
      gopherKeepCol(minTokens, maxTokens, minMeanTokLen, maxMeanTokLen,
        maxDupBigram, minStopHits).as("keep"))
  }

  /** Bigram-LM fluency score — the CCNet/KenLM perplexity-filter signal
    * re-expressed so it hash-checks across engines: the corpus's own
    * bigram MLE scores each document by the MEAN conditional probability
    * of its bigram stream, `mean over positions i of
    * P(w[i+1] | w[i]) = c(w[i], w[i+1]) / Σ_y c(w[i], y)`. Natural text
    * (frequent transitions) scores high; shuffled/degenerate text scores
    * low — the same ranking use as log-perplexity, with the `log` (libm,
    * not cross-engine bit-stable) DROPPED for rational arithmetic and the
    * geometric mean replaced by the arithmetic mean (a monotone-equivalent
    * quality signal, not a calibrated perplexity — documented, like the
    * BM25 idf and PMI ratio precedents).
    *
    * Determinism: every ratio is an exact-integer-derived double division;
    * the per-document sum folds in POSITION order via `aggregate()` over a
    * sorted struct array (the [[keywordSearch]] sorted-fold precedent), so
    * double addition order is pinned on both engines.
    *
    * Scale shape: the bigram-occurrence stream reduces map-side to a
    * vocab²-bounded count table before its shuffle; the history table is a
    * vocab-bounded re-aggregation of those counts (NOT a second corpus
    * pass); scoring is two equi-joins on token keys (AQE may broadcast
    * when runtime stats permit) and one per-document hash aggregate.
    * Documents with fewer than 2 tokens have no bigrams and drop out, as
    * in [[repetition]].
    */
  def lmFluency(documents: DataFrame): DataFrame = {
    val pairs = bigramStream(documents)
    val bi = pairs.groupBy("l", "r").agg(count(lit(1)).as("c_xy"))
    scoreBigrams(pairs, bi, bi.groupBy("l").agg(sum(col("c_xy")).as("c_x")))
  }

  /** The (doc_id, pos, l, r) bigram-occurrence stream of [[lmFluency]] —
    * one narrow projection + bounded posexplode, shared by training and
    * scoring so both sides see byte-identical transitions.
    */
  private def bigramStream(documents: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    documents
      .select(col("doc_id"),
        posexplode(zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t)),
          (a, b) => struct(a.as("l"), b.as("r")))))
      .select(col("doc_id"), col("pos"), col("col.l").as("l"), col("col.r").as("r"))
  }

  /** Shared scoring kernel: per-occurrence conditional ratios against the
    * given count tables, folded per document in position order. LEFT
    * joins so a transition the model has never seen (possible only when
    * scoring a frame the model was NOT trained on) scores probability
    * 0.0 — the natural OOV penalty of an MLE model; when the counts are
    * self-trained the joins never miss and this reduces to [[lmFluency]]'s
    * inner semantics exactly (parity spec'd).
    */
  private def scoreBigrams(pairs: DataFrame, bi: DataFrame,
                           hist: DataFrame): DataFrame =
    pairs
      .join(bi, Seq("l", "r"), "left")
      .join(hist, Seq("l"), "left")
      .withColumn("ratio",
        when(col("c_xy").isNotNull && col("c_x").isNotNull,
          col("c_xy").cast("double") / col("c_x").cast("double"))
          .otherwise(lit(0.0)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("ratio")))),
          lit(0.0), (acc, x) => acc + x.getField("ratio")).as("ratio_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("ratio_sum") / col("n_bigrams").cast("double")).as("fluency"))

  /** Persist the trained bigram LM behind [[lmFluencyFrom]] — the CCNet
    * deployment shape: the model (a KenLM in the original; corpus-MLE
    * bigram counts here) is trained ONCE on a reference corpus snapshot,
    * then applied to any amount of incoming data — a crawl stream, a
    * candidate corpus — without touching the training corpus again. Two
    * tables under the standard content-stamped commit protocol:
    *
    *  - `bigrams` — (l, r, c_xy): the transition counts; one map-side-
    *    combined hash aggregate over the bigram stream
    *  - `hist`    — (l, c_x): per-history totals, derived from the
    *    READ-BACK bigrams (staging discipline), so the conditionals
    *    normalize exactly over what was stored
    */
  def persistLmModel(documents: DataFrame, dir: String, stamp: String = ""): Unit = {
    val spark = documents.sparkSession
    bigramStream(documents)
      .groupBy("l", "r").agg(count(lit(1)).as("c_xy"))
      .write.mode("overwrite").parquet(s"$dir/bigrams")
    spark.read.parquet(s"$dir/bigrams")
      .groupBy("l").agg(sum(col("c_xy")).as("c_x"))
      .write.mode("overwrite").parquet(s"$dir/hist")
    // v2: the training corpus's own fluency scores are snapshot-
    // determined (the dsir-v2 / pair-table amortization argument), so
    // score it ONCE here from the READ-BACK count tables and let
    // consumers like the CCNet bucket cut serve from parquet. New data
    // still scores through [[lmFluencyFrom]]/the stream.
    scoreBigrams(bigramStream(documents),
        spark.read.parquet(s"$dir/bigrams"), spark.read.parquet(s"$dir/hist"))
      .write.mode("overwrite").parquet(s"$dir/scores")
    graft.sources.SnapshotStore.commit(spark, dir, stamp)
  }

  /** A [[persistLmModel]]-ed snapshot's scorer: transition counts +
    * history totals. The training corpus's pre-scored fluencies are a
    * SEPARATE artifact ([[loadLmScores]]) — scoring consumers (the
    * stream, [[lmFluencyFrom]]) need only the counts, and a counts-only
    * model dir stays loadable for them.
    */
  case class LmModel(bigrams: DataFrame, hist: DataFrame)

  /** Load a [[persistLmModel]]-ed snapshot's count tables. */
  def loadLmModel(spark: org.apache.spark.sql.SparkSession, dir: String): LmModel =
    LmModel(
      bigrams = spark.read.parquet(s"$dir/bigrams"),
      hist = spark.read.parquet(s"$dir/hist"))

  /** Load a v2 snapshot's pre-scored training-corpus fluency table. */
  def loadLmScores(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/scores")

  /** [[lmFluency]] scoring against a FROZEN persisted model — the batch
    * kernel of the streaming scorer ([[graft.streaming.FluencyStream]])
    * and the serving path of `q_lm_fluency_serve`: per call the training
    * aggregation is replaced by two parquet scans of vocab-bounded count
    * tables; only the frame being scored pays its bigram explode. Scoring
    * the training corpus itself reproduces [[lmFluency]] bit-for-bit
    * (every transition hits); an unseen transition scores 0.0.
    */
  def lmFluencyFrom(model: LmModel, documents: DataFrame): DataFrame =
    scoreBigrams(bigramStream(documents), model.bigrams, model.hist)

  /** CCNet-style per-language quality terciles — the step after the
    * perplexity filter scores: each language's documents split into
    * head / middle / tail thirds by LM fluency (CCNet buckets Common
    * Crawl per language by KenLM perplexity against a Wikipedia model;
    * here the frozen [[persistLmModel]] snapshot plays the reference
    * model and [[lmFluencyFrom]]'s rational mean-conditional plays the
    * monotone perplexity stand-in — higher fluency = head). Downstream
    * mixing recipes then sample head-heavy.
    *
    * Determinism: `ntile(3)` over (fluency DESC, doc_id ASC) — the
    * score doubles are cross-engine bit-identical (q_lm_fluency's
    * hash-green precedent) and the doc_id tie-break makes the order
    * total, so both engines cut the terciles at the same rows.
    *
    * Scale shape: the window partitions BY LANGUAGE — each language
    * sorts independently and in parallel (no partition-less Window),
    * and the sorted payload is (doc_id, fluency), never text. At
    * 100 TB CCNet itself replaces the exact cut with percentile
    * thresholds from a sample; this exact form is the correctness
    * baseline and the threshold swap changes only the two cut
    * constants, not the plumbing. Documents with fewer than 2 tokens
    * have no bigrams, no score, and no bucket, as in [[lmFluency]].
    *
    * `scored` is any (doc_id, fluency) frame — the registry passes the
    * model snapshot's PRE-SCORED training-corpus table (lm-v2), so the
    * cut is two narrow scans + the lang-partitioned window; a fresh
    * frame buckets via `ccnetBuckets(lmFluencyFrom(model, df), df)`.
    */
  def ccnetBuckets(scored: DataFrame, documents: DataFrame): DataFrame = {
    val withLang = scored.select(col("doc_id"), col("fluency"))
      .join(documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val tercile = ntile(3).over(
      Window.partitionBy("lang").orderBy(col("fluency").desc, col("doc_id")))
    withLang
      .withColumn("tercile", tercile)
      .select(col("doc_id"), col("lang"), col("fluency"),
        when(col("tercile") === 1, lit("head"))
          .when(col("tercile") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  object Sql {
    private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ",", ")")
    /** The polynomial rolling hash over an arbitrary string expression —
      * the DuckDB mirror of [[TextAnalysis.fingerprintCol]].
      */
    def fingerprintOf(e: String): String =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(string_split($e, ''), c -> CAST(ord(c) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 1000000007)"
    val fingerprint: String = fingerprintOf("text")
    val langScores: String = LangSets.map { case (_, ws) =>
      s"len(list_filter(string_split(text, ' '), t -> t IN ${inList(ws)}))"
    }.mkString("[", ", ", "]")
    val langNames: String = LangSets.map(l => s"'${l._1}'").mkString("[", ", ", "]")
    /** Per-lexicon hit scores of an arbitrary token-list expression —
      * the [[langScores]] family over a segment and an arbitrary lexicon
      * family.
      */
    def langScoresOf(seg: String,
                     sets: Seq[(String, Seq[String])] = LangSets): String =
      sets.map { case (_, ws) =>
        s"len(list_filter($seg, t -> t IN ${inList(ws)}))"
      }.mkString("[", ", ", "]")
    /** The lexicon-name list literal for a set family. */
    def namesOf(sets: Seq[(String, Seq[String])]): String =
      sets.map(l => s"'${l._1}'").mkString("[", ", ", "]")
    /** Argmax lexicon of one token-list segment with the `und` floor —
      * the DuckDB mirror of [[TextAnalysis.codeSwitch]]'s per-segment
      * predict. The one-element list_transform binds the score list once
      * (DuckDB lambdas have no let).
      */
    def segPredict(seg: String,
                   sets: Seq[(String, Seq[String])] = LangSets): String =
      s"list_transform([${langScoresOf(seg, sets)}], s -> " +
        s"CASE WHEN list_max(s) = 0 THEN 'und' " +
        s"ELSE ${namesOf(sets)}[CAST(list_position(s, list_max(s)) AS INT)] END)[1]"
    val stopHits: String =
      s"len(list_filter(string_split(text, ' '), t -> t IN ${inList(EnStopwords)}))"
  }
}
