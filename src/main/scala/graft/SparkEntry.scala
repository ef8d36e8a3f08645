package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.SnapshotStore

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers here: a named
  * `(SparkSession, sfDir) => DataFrame` in [[queries]], and (when
  * SQL-expressible) an equivalent DuckDB SQL string in [[oracleSql]] that the
  * driver runs over the same parquet tables for a hash compare.
  *
  * Determinism rules (FIXTURES.md §5): no wall-clock; `sort_array` /
  * `list_sort` on collected lists; output timestamps formatted as strings
  * (identical patterns both engines); double aggregates summed as
  * DECIMAL(18,2) then cast back to double (order-independent and
  * engine-identical); every oracle-compared result carries a deterministic
  * total ORDER BY mirrored on both sides.
  */
object SparkEntry {

  private def norm(spark: SparkSession, dir: String): DataFrame =
    CityEvents.normalize(Tables.events(spark, dir))

  private def agg(spark: SparkSession, dir: String): DataFrame =
    StreamAggregates.windowedAggregate(norm(spark, dir))

  /** Driver-facing variant of [[agg]]: the `severities` list is flattened to
    * a comma-joined string because the driver's pandas compare cannot hash
    * array-typed cells (round-1 lesson: every array column in the output
    * surface crashed the gate with `unhashable numpy.ndarray`). The operator
    * itself keeps the list (reference fidelity); only the registry output is
    * stringified, identically on the DuckDB side.
    */
  private def aggFlat(spark: SparkSession, dir: String): DataFrame =
    agg(spark, dir).withColumn("severities", array_join(col("severities"), ","))

  private def alertsOf(spark: SparkSession, dir: String): DataFrame =
    StreamAggregates.alerts(norm(spark, dir))

  /** PERSISTED dedup sketch family — members, shingle inverted index,
    * mined stop-list, verified near-dup pairs — shared by
    * `q_minhash_pairs`/`q_neardedup_corpus`/`q_dup_clusters`/
    * `q_jaccard_pairs`/`q_stoplist_pairs`/`q_hot_shingles`/
    * `q_simhash_pairs`/`q_containment_pairs` and both pipeline
    * compositions (round-7 VERDICT-1:
    * the family lived in per-JVM `localCheckpoint` memos, so every fresh
    * bench/Verify process re-paid exact dedup + shingling + MinHash
    * inside its first timed consumer — the same critique the IVF index
    * graduated from in round 7). First use on a given documents table
    * builds and commits the five tables under the warehouse dir
    * ([[Dedup.persistSketchTables]]); every later use — including later
    * processes — serves from plain parquet scans. Staleness: the
    * `_graft_ok` marker is stamped with the corpus'
    * [[graft.sources.SnapshotStore.fingerprint]] (path + file count +
    * length + mtime), so a regenerated corpus — same length included —
    * rebuilds instead of reusing stale tables (round-8 ADVICE-2). The
    * per-call staleness check and the stopped-session sweep are the
    * [[graft.sources.SnapshotStore]] family contract.
    */
  private val dedupFamily = SnapshotStore.family("graft_dedup",
      // the "dedup-v6:" prefix versions the family's LAYOUT (v2 added the
      // simhash sketch, v3 its default-threshold verified pairs, v4 the
      // directed containment pairs, v5 the jaccard + stop-list-stripped
      // pairs, v6 the converged cluster assignment + keep-best drop set): a
      // marker committed by an older build fails the stamp compare and
      // rebuilds in place, instead of half-loading a directory that
      // predates a table
      "dedup-v6", "documents.parquet") { (s, d, dir, stamp) =>
    Dedup.persistSketchTables(Tables.documents(s, d), dir, stamp = stamp)
  } { (s, dir) => Dedup.loadSketchTables(s, dir) }
  private def dedupTables(s: SparkSession, d: String): Dedup.SketchTables = dedupFamily.get(s, d)

  /** PERSISTED incremental-dedup signature index — the [[Dedup
    * .buildDedupIndex]] table over the registry's 80% "existing corpus"
    * split — completing the snapshot-store migration (round-8 verdict
    * next-round 3: this and the simhash sketch were the last two family
    * members still constructed per process, ~1.5 s each). Built once per
    * corpus snapshot, committed under `graft_incdex`, then every
    * `q_dedup_incremental` call — any process — reads one parquet table
    * and sketches ONLY the 20% delta, exactly the daily-crawl shape the
    * operator doc promises. Same per-call staleness contract as
    * every family. The 80/20 split is registry demo policy, which is
    * why the split lives here and not in the operator library.
    */
  private val incIndexFamily = SnapshotStore.family(
      "graft_incdex", "incdex-v1", "documents.parquet") { (s, d, dir, _) =>
    Dedup.buildDedupIndex(
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)) < 4))
      .write.mode("overwrite").parquet(s"$dir/index")
  } { (s, dir) => s.read.parquet(s"$dir/index") }
  private def incrementalIndex(s: SparkSession, d: String): DataFrame = incIndexFamily.get(s, d)

  private def nearDupPairs(s: SparkSession, d: String): DataFrame =
    dedupTables(s, d).pairs
  private def dupMembers(s: SparkSession, d: String): DataFrame =
    dedupTables(s, d).members
  private def shingleIndexFrame(s: SparkSession, d: String): DataFrame =
    dedupTables(s, d).index
  private def hotShinglesFrame(s: SparkSession, d: String): DataFrame =
    dedupTables(s, d).stoplist

  /** Family build-geometry versions. The IVFPQ stamp composes BOTH
    * upstream versions: its persisted answer is a pure function of the
    * IVF and PQ family contents, so a bump to either must read every
    * committed ivfpq marker as stale — without this, an ivf-v5 rebuild
    * would leave a v4-derived ivfpq answer serving as fresh.
    */
  private val IvfStampVersion = "ivf-v7"
  private val PqStampVersion = "pq-v3"

  /** PERSISTED IVF index (coarse + fine centroids + depth-3 inverted
    * lists) shared by `q_ann_ivf_topk` and `q_ivf_neardup_pairs` — the
    * index a real deployment trains ONCE as a batch job and serves every
    * ANN consumer from parquet thereafter (round-6 VERDICT-1 follow-up:
    * the in-memory memo still re-paid training in every fresh JVM, so the
    * bench timed index construction, not probing). First use on a given
    * embeddings table trains and commits the tables under the warehouse
    * dir ([[Similarity.persistIndex]]); every later use — including later
    * bench/Verify processes — loads three parquet scans and pays zero
    * training. Staleness: the `_graft_ok` marker carries the embeddings
    * table's content fingerprint (path + file count + length + mtime —
    * [[graft.sources.SnapshotStore]]); a regenerated table of even
    * identical length no longer reuses stale centroids, and two dataset
    * roots sharing a leaf name no longer collide (round-8 ADVICE-2
    * replaced the earlier name+byte-length scheme, which also collapsed
    * to the leaf name alone for directory-shaped tables). (The operators
    * keep their lazy zero-planning-jobs default when called without an
    * index — spec'd.)
    */
  private val ivfFamily = SnapshotStore.family("graft_ivf",
      // The stamp versions the snapshot LAYOUT AND BUILD GEOMETRY (v2 added
      // the verified default-threshold near-dup pairs — round-10 verdict
      // next-round 1; v3 deepened the multi-probe lists to depth 4, lifting
      // measured pair recall vs the persisted LSH exact pairs from 0.87 to
      // 0.98 at sf0.1 — the `q_ivf_recall_bound` witness asserts ≥ 0.95;
      // v4 partitions the lists by cell_rank so serving prunes to the
      // probe depth it needs at the directory level):
      // a marker committed by an older build fails the stamp compare and
      // rebuilds in place instead of half-loading a pairs-less directory.
      // v5: fine seeding gains the min-id guard (a sub-cellSize corpus no
      // longer trains an empty index) — a geometry change, so committed v4
      // indexes must rebuild.
      // v6: adds the default-parameter top-k answer (topk/) — round-13
      // verdict next-round 5, the pq-v3/ivfpq precedent.
      // v7 (r15): list depth 4 → 5. The decorrelated plane family made the
      // LSH reference pair set STRONGER (sf0.1: 484 verified pairs vs ~440;
      // banded recall of true pairs 0.46 → 0.53), and the plane-independent
      // depth-4 IVF pair path covered 0.9401 of it — under the
      // q_ivf_recall_bound 0.95 contract. One more probed rank restores
      // the margin (measured on the v7 build: 480/484 = 0.9917 at
      // sf0.1); the contract stays 0.95
      // rather than being weakened to fit.
      IvfStampVersion, "embeddings.parquet") { (s, d, dir, stamp) =>
    Similarity.persistIndex(Tables.embeddings(s, d), dir, stamp = stamp,
      probeDepth = 5, pairNprobe = 5)
  } { (s, dir) =>
    val (idx, lists) = Similarity.loadIndex(s, dir)
    (idx, lists, Similarity.loadIndexPairs(s, dir), Similarity.loadIndexTopK(s, dir))
  }
  private def ivfTables(s: SparkSession, d: String): (Similarity.IvfIndex, DataFrame, DataFrame, DataFrame) =
    ivfFamily.get(s, d)

  /** PERSISTED ANN serving snapshot — the int8 code table, LSH band
    * triples and default-threshold verified near-dup pairs behind
    * `q_quantized_topk_serve`/`q_lsh_neardup_pairs` ([[Similarity
    * .persistAnnServe]]): built once per embeddings snapshot, then every
    * serving call — any process — is parquet scans + the probe join,
    * never a re-quantization, re-bucketing or re-verify pass. Same
    * per-call staleness contract as every family.
    */
  private val annServeFamily = SnapshotStore.family("graft_annserve",
      // v4: the meta row stores the RAW grid maximum (v3 stored scale*127,
      // which does not round-trip m in IEEE double — a 1-ulp grid skew).
      // v5: adds the semantic duplicate-cluster assignment (min-label
      // components over the read-back verified pairs — SemDeDup's grouping).
      // v6: adds the contrastive training triples (the negative-mining band
      // pass over the pair members — previously the heaviest per-call query).
      "annserve-v7", "embeddings.parquet") { (s, d, dir, stamp) =>
    Similarity.persistAnnServe(Tables.embeddings(s, d), dir, stamp = stamp)
  } { (s, dir) => Similarity.loadAnnServe(s, dir) }
  private def annServeTables(s: SparkSession, d: String): Similarity.AnnServeTables =
    annServeFamily.get(s, d)

  /** PERSISTED exact verified cosine pairs (graft_exactpairs): the
    * blocked all-pairs [[Similarity.cosineNearDupPairs]] pass at the
    * default 0.4 threshold is snapshot-determined and PAIR-LOCAL (a
    * pair's cosine doesn't depend on the frame carrying it, so
    * restriction commutes — the decon-family identity), yet r16 profiling
    * found it re-ran per call in THREE registry queries (q_cosine_pairs
    * 0.85 s, q_semantic_dedup's dropset ~1.0 s, q_pipeline_full_clean's
    * semantic stage ~1.0 s at sf0.1). It now builds ONCE per embeddings
    * snapshot and all three serve from the table — q_cosine_pairs as a
    * scan, the other two as restrictions/anti-joins — while every oracle
    * still re-walks the full exact computation in DuckDB, hash-proving
    * the persisted table current (the lexical `pairs` precedent).
    * [[Similarity.cosineNearDupPairs]] remains the any-threshold /
    * any-frame path.
    */
  private val exactPairsFamily = SnapshotStore.family(
      "graft_exactpairs", "exactpairs-v1", "embeddings.parquet") { (s, d, dir, _) =>
    Similarity.cosineNearDupPairs(Tables.embeddings(s, d), 0.4)
      .write.mode("overwrite").parquet(s"$dir/pairs")
  } { (s, dir) => s.read.parquet(s"$dir/pairs") }
  private def exactPairsTable(s: SparkSession, d: String): DataFrame = exactPairsFamily.get(s, d)

  /** PERSISTED document-analysis cards (graft_cards): three cards that
    * are each a pure function of the documents snapshot yet re-ran per
    * call at a consistent ~0.9 s apiece (r16 profiling) — the PMI
    * collocation top-k, the per-source preference pairs, and the
    * per-source token-distribution divergence. One family builds all
    * three once per snapshot (their stamps could only ever move
    * together); each query serves one scan, and every oracle re-walks
    * its full computation. The operators remain the any-frame paths.
    */
  private val cardsFamily = SnapshotStore.family(
      "graft_cards", "cards-v1", "documents.parquet") { (s, d, dir, _) =>
    val docs = Tables.documents(s, d)
    TextAnalysis.collocations(docs, minCount = 5, k = 50)
      .write.mode("overwrite").parquet(s"$dir/collocations")
    Corpus.preferencePairs(docs)
      .write.mode("overwrite").parquet(s"$dir/preference_pairs")
    Corpus.sourceDivergence(docs)
      .write.mode("overwrite").parquet(s"$dir/source_divergence")
  } { (s, dir) =>
    (s.read.parquet(s"$dir/collocations"), s.read.parquet(s"$dir/preference_pairs"),
      s.read.parquet(s"$dir/source_divergence"))
  }
  private def cardsTables(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) =
    cardsFamily.get(s, d)

  /** PERSISTED curation-funnel card (graft_funnel): every stage flag was
    * already snapshot-served (round-11 verdict item 1 — quality keep
    * flags, decon collisions, pii counts, both pair tables), but the
    * funnel's flag materialization + four pair-table restrictions still
    * re-ran per call at a consistent 1.3–1.5 s (r16 profiling). The
    * 6-row card is a pure function of the (documents, embeddings)
    * snapshot pair, so it builds once under a COMPOSITE stamp carrying
    * both fingerprints and serves as one tiny scan; the oracle re-walks
    * the whole composition, hash-proving the card current.
    */
  private val funnelFamily = SnapshotStore.family("graft_funnel", "funnel-v1",
      "documents.parquet", "embeddings.parquet") { (s, d, dir, _) =>
    buildFunnelCard(s, d).write.mode("overwrite").parquet(s"$dir/card")
  } { (s, dir) => s.read.parquet(s"$dir/card") }
  private def funnelTable(s: SparkSession, d: String): DataFrame = funnelFamily.get(s, d)

  /** The funnel construction (build-time only — see [[funnelTable]]):
    * flags frame materialized once, dedup drops off the persisted pair
    * tables restricted to the surviving flags, one aggregate stacked
    * into the 6 stage rows.
    */
  private def buildFunnelCard(s: SparkSession, d: String): DataFrame = {
    val contaminated = deconCollisions(s, d)
      .select(col("doc_id"), lit(1L).as("contaminated"))
    // the flags frame is referenced by every downstream stage (pair
    // restrictions + the final aggregate) — materialize it ONCE via
    // lazy localCheckpoint into a narrow (doc_id, k1, k2) frame
    // (~17 bytes/doc, distributed; the clustersFromPairs precedent)
    // so each reference re-reads the checkpoint, not the plan.
    val f1 = qualityFlags(s, d)
      .filter(pmod(col("doc_id"), lit(11)) =!= 0)
      .select(col("doc_id"), col("keep").cast("long").as("k1"))
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("k1"),
        (col("k1") === 1L && col("contaminated").isNull).cast("long").as("k2"))
      // the zero-attrition scrub stage's audit mark: PII-affected
      // among the decon survivors, off the persisted pii counts
      .join(piiCounts(s, d), Seq("doc_id"), "left")
      .select(col("doc_id"), col("k1"), col("k2"),
        (col("k2") === 1L && col("n_pii") > 0L).cast("long").as("kp"))
      .localCheckpoint(eager = false)
    // dedup drops come from the PERSISTED pair tables restricted to
    // the surviving flags
    val lexDrop = nearDupPairs(s, d)
      .join(f1.filter(col("k2") === 1L).select(col("doc_id").as("doc_id1")),
        Seq("doc_id1"), "left_semi")
      .join(f1.filter(col("k2") === 1L).select(col("doc_id").as("doc_id2")),
        Seq("doc_id2"), "left_semi")
      .select(col("doc_id2").as("doc_id")).distinct()
      .withColumn("lexdrop", lit(1L))
    val f2 = f1.join(lexDrop, Seq("doc_id"), "left")
      .select(col("doc_id"), col("k1"), col("k2"), col("kp"),
        (col("k2") === 1L && col("lexdrop").isNull).cast("long").as("k3"))
    val semDrop = annServeTables(s, d).pairs
      .join(f2.filter(col("k3") === 1L).select(col("doc_id").as("vec_id1")),
        Seq("vec_id1"), "left_semi")
      .join(f2.filter(col("k3") === 1L).select(col("doc_id").as("vec_id2")),
        Seq("vec_id2"), "left_semi")
      .select(col("vec_id2").as("doc_id")).distinct()
      .withColumn("semdrop", lit(1L))
    f2.join(semDrop, Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n0"),
        sum(col("k1")).as("n1"),
        sum(col("k2")).as("n2"),
        sum(col("kp")).as("np"),
        sum(col("k3")).as("n3"),
        sum((col("k3") === 1L && col("semdrop").isNull).cast("long")).as("n4"))
      .select(expr("stack(6, 0, 'corpus', n0, 1, 'quality', n1, " +
        "2, 'decontaminated', n2, 3, 'pii_scrub', np, " +
        "4, 'lexical_dedup', n3, " +
        "5, 'semantic_dedup', n4) AS (stage_id, stage, n_docs)"))
  }

  /** PERSISTED plane-migration + banding-geometry cards (graft_planes):
    * [[Similarity.planeMigrationCard]] and
    * [[Similarity.bandGeometryCard]] are pure functions of the
    * embeddings snapshot (all plane families and band splits are
    * closed-form; the exact ground truth is deterministic), and each
    * exact-truth arm costs a q_cosine_pairs-sized blocked all-pairs pass
    * (~0.9 s at sf0.1) — so both cards build ONCE per snapshot and
    * `q_plane_migration`/`q_band_geometry` serve 2-row scans. Their
    * build-time 1-row truth/rep-count crossJoins never reach a registry
    * plan (the q_snapshot_diff precedent).
    */
  private val planesFamily = SnapshotStore.family("graft_planes",
      // v2: + max_band_bucket (the band-balance column); v3: + the
      // banding-geometry card (a second table in the family — the stamp
      // bump makes a fresh container build it; both cards' values under
      // the old tables are unchanged)
      "planes-v3", "embeddings.parquet") { (s, d, dir, _) =>
    Similarity.planeMigrationCard(Tables.embeddings(s, d))
      .write.mode("overwrite").parquet(s"$dir/card")
    Similarity.bandGeometryCard(Tables.embeddings(s, d))
      .write.mode("overwrite").parquet(s"$dir/geometry")
  } { (s, dir) => (s.read.parquet(s"$dir/card"), s.read.parquet(s"$dir/geometry")) }
  private def planesTable(s: SparkSession, d: String): DataFrame = planesFamily.get(s, d)._1
  private def geometryTable(s: SparkSession, d: String): DataFrame = planesFamily.get(s, d)._2

  /** PERSISTED product-quantization family — per-subspace codebooks,
    * the PQ-encoded corpus, and the default-parameter rerank answer
    * ([[Similarity.persistPq]]): training is once-per-snapshot batch
    * like the IVF index; `q_pq_topk` serves the stored `topk` table as
    * one scan, and the compressed-scan/arbitrary-request paths read the
    * stored codebooks+codes. Same per-call staleness contract as every
    * family.
    */
  private val pqFamily = SnapshotStore.family("graft_pq",
      // v2: k=64 codebooks + 3 Lloyd rounds (v1's k=16 shortlists recalled
      // poorly on the near-random synthetic corpus); v3: adds the
      // default-parameter ADC-shortlist + exact-rerank answer (topk/) —
      // round-12 verdict next-round 1, the annserve-v7 precedent
      PqStampVersion, "embeddings.parquet") { (s, d, dir, stamp) =>
    Similarity.persistPq(Tables.embeddings(s, d), dir, stamp)
  } { (s, dir) =>
    (s.read.parquet(s"$dir/codebooks"), s.read.parquet(s"$dir/codes"),
      s.read.parquet(s"$dir/topk"))
  }
  private def pqTables(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) =
    pqFamily.get(s, d)

  /** PERSISTED IVF-PQ default answer ([[Similarity.persistIvfPqTopK]]):
    * the FAISS-style composition of the two persisted indexes was the
    * registry's heaviest per-call serving query (probe routing + LUT +
    * two rerank joins, rebuilt every call) — it now runs once per
    * embeddings snapshot and `q_ivfpq_topk` serves one scan. The build
    * composes the ALREADY-persisted IVF + PQ families (both keyed to the
    * same source fingerprint, so the three stamps go stale together);
    * [[Similarity.ivfPqTopKServe]] stays the any-parameter path.
    */
  private val ivfPqFamily = SnapshotStore.family("graft_ivfpq",
      s"ivfpq-v1+$IvfStampVersion+$PqStampVersion", "embeddings.parquet") { (s, d, dir, stamp) =>
    val (idx, lists, _, _) = ivfTables(s, d)
    val (cb, codes, _) = pqTables(s, d)
    Similarity.persistIvfPqTopK(idx, lists, cb, codes, dir, stamp)
  } { (s, dir) => s.read.parquet(s"$dir/topk") }
  private def ivfPqTopK(s: SparkSession, d: String): DataFrame = ivfPqFamily.get(s, d)

  /** PERSISTED passage-retrieval family — chunk vectors, the sign-LSH
    * band-triple index and the default-parameter diversity-capped top-k
    * ([[graft.operators.Passage.persistPassage]]): the RAG composition
    * (chunk → embed → index → retrieve) builds once per documents
    * snapshot; `q_passage_topk` serves the stored answer as one scan and
    * [[graft.operators.Passage.passageTopKServeFrom]] stays the
    * any-parameter path over the persisted vectors + bands. Same per-call
    * staleness contract as every family.
    */
  private val passageFamily = SnapshotStore.family("graft_passage",
      // v2: vectors carry per-chunk n_tokens (context packing reads them);
      // v3: adds the default-parameter MaxSim answer (li_topk); v4: adds
      // the distillation slate (distill); committed older directories fail
      // the stamp compare and rebuild in place
      "passage-v5", "documents.parquet") { (s, d, dir, stamp) =>
    graft.operators.Passage.persistPassage(Tables.documents(s, d), dir, stamp)
  } { (s, dir) => graft.operators.Passage.loadPassage(s, dir) }
  private def passageTables(s: SparkSession, d: String): graft.operators.Passage.PassageTables =
    passageFamily.get(s, d)

  /** PERSISTED MLT-RRF default answer ([[graft.operators.Hybrid
    * .persistRrf]]): the fusion composes TWO persisted families (the
    * inverted index over documents, the band triples over embeddings),
    * so its stamp combines BOTH source fingerprints plus both upstream
    * family versions — either source regenerating, or either upstream
    * layout bumping, rebuilds the fused answer. `q_rrf_fusion` serves
    * one scan; [[graft.operators.Hybrid.mltHybridRrf]] stays the
    * any-parameter path.
    */
  private val rrfFamily = SnapshotStore.family("graft_rrf", "rrf-v2+search-v1+annserve-v7",
      "documents.parquet", "embeddings.parquet") { (s, d, dir, stamp) =>
    Hybrid.persistRrf(Tables.documents(s, d), searchIndex(s, d),
      Tables.embeddings(s, d), annServeTables(s, d).bands, dir, stamp)
  } { (s, dir) => s.read.parquet(s"$dir/topk") }
  private def rrfTopK(s: SparkSession, d: String): DataFrame = rrfFamily.get(s, d)

  /** PERSISTED bitext-pair table — [[Similarity.bitextMine]] run once per
    * (documents, embeddings) snapshot pair off the annserve band triples
    * ([[Similarity.persistBitext]]): mining is a batch job by nature (the
    * pair table IS training data), and the per-call form was the
    * registry's heaviest query at birth (2.4 s at sf0.1 — corpus
    * re-banding + two candidate-stream windows per call). Serving is one
    * scan; `bitextMineFrom` stays the any-parameter path.
    */
  private val bitextFamily = SnapshotStore.family("graft_bitext", "bitext-v2+annserve-v7",
      "embeddings.parquet", "documents.parquet") { (s, d, dir, stamp) =>
    Similarity.persistBitext(Tables.embeddings(s, d),
      annServeTables(s, d).bands, Tables.documents(s, d), dir, stamp)
  } { (s, dir) => s.read.parquet(s"$dir/pairs") }
  private def bitextPairs(s: SparkSession, d: String): DataFrame = bitextFamily.get(s, d)

  /** PERSISTED cross-modal default top-k (graft_crossmodal) — the last
    * served family that still re-derived both towers and the ranking per
    * call ([[Multimodal.persistCrossModal]]); serving, the takedown
    * twin, and the audit's suppression accounting all read ONE scan.
    */
  private val crossModalFamily = SnapshotStore.family(
      "graft_crossmodal", "crossmodal-v2", "documents.parquet") { (s, d, dir, stamp) =>
    Multimodal.persistCrossModal(Tables.documents(s, d), dir, stamp)
  } { (s, dir) => (s.read.parquet(s"$dir/topk"), s.read.parquet(s"$dir/recall")) }
  private def crossModalTables(s: SparkSession, d: String): (DataFrame, DataFrame) =
    crossModalFamily.get(s, d)
  private def crossModalServe(s: SparkSession, d: String): DataFrame = crossModalTables(s, d)._1

  /** PERSISTED full-text search index — postings + lexicon + corpus size
    * behind `q_keyword_search` ([[TextAnalysis.persistSearchIndex]]):
    * built once per documents snapshot; every query is an In-pruned
    * postings scan + lexicon lookup, never a corpus-token explode. Same
    * per-call staleness contract as the other families.
    */
  private val searchFamily = SnapshotStore.family(
      "graft_search", "search-v1", "documents.parquet") { (s, d, dir, stamp) =>
    TextAnalysis.persistSearchIndex(Tables.documents(s, d), dir, stamp = stamp)
  } { (s, dir) => TextAnalysis.loadSearchIndex(s, dir) }
  private def searchIndex(s: SparkSession, d: String): TextAnalysis.SearchIndex =
    searchFamily.get(s, d)

  /** PERSISTED bigram-LM model — fluency scoring's training aggregation
    * ([[TextAnalysis.persistLmModel]]) runs once per documents snapshot;
    * `q_lm_fluency_serve` and the streaming scorer
    * ([[graft.streaming.FluencyStream]]) read the committed count tables.
    */
  private val lmFamily = SnapshotStore.family(
      "graft_lm", "lm-v2", "documents.parquet") { (s, d, dir, stamp) =>
    TextAnalysis.persistLmModel(Tables.documents(s, d), dir, stamp = stamp)
  } { (s, dir) => (TextAnalysis.loadLmModel(s, dir), TextAnalysis.loadLmScores(s, dir)) }
  private def lmModel(s: SparkSession, d: String): TextAnalysis.LmModel = lmFamily.get(s, d)._1
  private def lmScores(s: SparkSession, d: String): DataFrame = lmFamily.get(s, d)._2

  /** PERSISTED DSIR importance model — the hashed-bigram count tables
    * ([[Corpus.persistDsirModel]]: src0 = trusted target domain, the
    * rest = raw pool) trained once per documents snapshot; both DSIR
    * queries score against the frozen tables.
    */
  private val dsirFamily = SnapshotStore.family(
      "graft_dsir", "dsir-v2", "documents.parquet") { (s, d, dir, stamp) =>
    val docs = Tables.documents(s, d)
    Corpus.persistDsirModel(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), dir, stamp = stamp)
  } { (s, dir) => Corpus.loadDsirWeights(s, dir) }
  private def dsirWeights(s: SparkSession, d: String): DataFrame = dsirFamily.get(s, d)

  /** PERSISTED fuzzy-decontamination pairs — the cross-split near-dup
    * pairs (training corpus vs benchmark split at jaccard ≥ 0.5,
    * [[Dedup.dedupDelta]] with the benchmark indexed) are snapshot-
    * determined, so the corpus-side sketching runs once per documents
    * snapshot and `q_fuzzy_contamination` serves as one scan — the
    * amortization every sibling pair family already applies.
    */
  private val fuzzyDeconFamily = SnapshotStore.family(
      "graft_fuzzydecon", "fuzzydecon-v1", "documents.parquet") { (s, d, dir, _) =>
    val docs = Tables.documents(s, d)
    Dedup.dedupDelta(
      Dedup.buildDedupIndex(docs.filter(pmod(col("doc_id"), lit(11)) === 0)),
      docs.filter(pmod(col("doc_id"), lit(11)) =!= 0),
      threshold = 0.5, bands = 64)
      .select(col("delta_id").as("doc_id"),
        col("corpus_id").as("bench_id"), col("jaccard"))
      .write.mode("overwrite").parquet(s"$dir/pairs")
  } { (s, dir) => s.read.parquet(s"$dir/pairs") }
  private def fuzzyDeconPairs(s: SparkSession, d: String): DataFrame = fuzzyDeconFamily.get(s, d)

  /** PERSISTED exact-contamination collision table — the per-document
    * benchmark 5-gram collision counts ([[Dedup.contamination]] over the
    * registry's canonical %11 corpus/benchmark split) are snapshot-
    * determined, so the corpus-wide gram explode runs ONCE per documents
    * snapshot and every consumer — `q_contamination`, the
    * `q_decontaminated` anti-join, the curation funnel's stage flag, and
    * both clean-pipeline compositions — serves as one parquet scan (the
    * `q_fuzzy_contamination` precedent applied to the exact drop set;
    * round-11 verdict item 1). Contamination is a per-document property
    * of (doc grams × benchmark grams), independent of which frame
    * carries the doc, so restricting the corpus-wide table to any
    * subset equals recomputing on the subset — the identity the
    * pipeline consumers rely on. [[Dedup.contamination]] remains the
    * any-benchmark-frame path for new data, like every sibling family.
    */
  private val deconFamily = SnapshotStore.family(
      "graft_decon", "decon-v1", "documents.parquet") { (s, d, dir, _) =>
    val docs = Tables.documents(s, d)
    Dedup.contamination(
        docs.filter(pmod(col("doc_id"), lit(11)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(11)) === 0), n = 5)
      .write.mode("overwrite").parquet(s"$dir/collisions")
  } { (s, dir) => s.read.parquet(s"$dir/collisions") }
  private def deconCollisions(s: SparkSession, d: String): DataFrame = deconFamily.get(s, d)

  /** PERSISTED broadcast-bloom decontamination family (graft_bloom):
    * the packed bitmap (one row), the bloom candidate table, and the
    * bloom-path contamination answer are all snapshot-determined, so the
    * benchmark gram explode, the corpus probe, and the candidate-only
    * exact verify run ONCE per documents snapshot — every q_bloom_*
    * serve is then a scan (bitmap: staging discipline — candidates are
    * probed against the READ-BACK parquet row, exactly the shape a
    * cluster deployment broadcasts). [[Dedup.bloomCandidates]] /
    * [[Dedup.bloomContamination]] remain the any-benchmark paths.
    */
  private val bloomFamily = SnapshotStore.family("graft_bloom",
      // v2: the candidate-sliver exact verify moved into the probe's hash
      // space (Dedup.bloomVerify — r14 verdict 4); v3: the verify key
      // gained the gram STRING next to the fingerprint after a real ~2^30
      // polynomial collision at sf0.001 flagged a doc with zero shared
      // grams — counts are string-exact, superset guarantee structural
      "bloom-v3", "documents.parquet") { (s, d, dir, _) =>
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
    Dedup.bloomBitmap(bench)
      .write.mode("overwrite").parquet(s"$dir/bitmap")
    Dedup.bloomCandidates(corpus, s.read.parquet(s"$dir/bitmap"))
      .select("doc_id", "n_bloom_hits")
      .write.mode("overwrite").parquet(s"$dir/candidates")
    Dedup.bloomVerify(
        corpus.join(s.read.parquet(s"$dir/candidates").select("doc_id"),
          Seq("doc_id"), "left_semi"),
        bench, n = 5)
      .write.mode("overwrite").parquet(s"$dir/contamination")
  } { (s, dir) =>
    (s.read.parquet(s"$dir/candidates"), s.read.parquet(s"$dir/contamination"))
  }
  private def bloomTables(s: SparkSession, d: String): (DataFrame, DataFrame) =
    bloomFamily.get(s, d)

  /** PERSISTED release-comparison family (graft_release): the v2 release
    * fixture (scrubbed PII-injected view minus the %19 removal slice plus
    * the re-keyed %23 added slice) and both cards over it — the
    * per-(source, status) snapshot diff and the total-variation drift
    * card — are snapshot-determined, so the inject+scrub regex pass and
    * both full-outer comparisons run ONCE per documents snapshot and
    * each card serves as one tiny scan. [[Corpus.snapshotDiff]] /
    * [[Corpus.driftCard]] remain the any-pair paths.
    * release-v2 adds the cross-source overlap matrix (the third release
    * card — [[Corpus.sourceOverlap]] is likewise a pure function of the
    * snapshot, and its gram self-join was the heaviest per-call cost in
    * the card family at 0.9 s); release-v3 adds the df-CAPPED overlap
    * matrix (the fourth card — the 100 TB boilerplate-safe variant, r14
    * verdict 2, at the cap measured binding at every SF); committed
    * older directories rebuild in place.
    */
  private val releaseFamily = SnapshotStore.family(
      "graft_release", "release-v3", "documents.parquet") { (s, d, dir, _) =>
    val docs = Tables.documents(s, d)
    val v2 = Pii.scrubPii(Pii.withInjectedPii(docs))
      .select(col("doc_id"), col("lang"), col("source"),
        col("clean_text").as("text"))
      .filter(pmod(col("doc_id"), lit(19)) =!= 3)
      .unionByName(docs.filter(pmod(col("doc_id"), lit(23)) === 1)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          col("lang"), col("source"), col("text")))
    // staging discipline: both cards read the MATERIALIZED v2, so
    // the regex chain runs once, not once per card
    v2.write.mode("overwrite").parquet(s"$dir/v2")
    val v2Read = s.read.parquet(s"$dir/v2")
    Corpus.snapshotDiff(docs, v2Read)
      .write.mode("overwrite").parquet(s"$dir/diff")
    Corpus.driftCard(docs, v2Read)
      .write.mode("overwrite").parquet(s"$dir/drift")
    Corpus.sourceOverlap(docs)
      .write.mode("overwrite").parquet(s"$dir/overlap")
    Corpus.sourceOverlap(docs, dfCap = Some(SourceOverlapDfCap))
      .write.mode("overwrite").parquet(s"$dir/overlap_capped")
  } { (s, dir) =>
    (s.read.parquet(s"$dir/diff"), s.read.parquet(s"$dir/drift"),
      s.read.parquet(s"$dir/overlap"), s.read.parquet(s"$dir/overlap_capped"))
  }
  private def releaseTables(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, DataFrame) =
    releaseFamily.get(s, d)

  /** The registry's overlap-matrix source-df cap — referenced by the
    * persisted build and the generated oracle so the two can never
    * disagree. 2 = "exclusively-shared grams": binding at every SF
    * (measured max source-df 3/3/4 at sf0.001/0.01/0.1), the
    * catalog-relative choice a production corpus would set to a small
    * fraction of |catalog|.
    */
  private val SourceOverlapDfCap = 2

  /** PERSISTED C4 quality flags — [[TextAnalysis.qualityFilter]]'s
    * per-document audit row (n_tokens, ratios, per-rule flags, composite
    * keep) is row-local and snapshot-determined, so the corpus regex pass
    * runs ONCE per documents snapshot; `q_quality_filter`, all three
    * clean-pipeline compositions' quality stage, and the curation
    * funnel's k1 flag serve as one narrow parquet scan. Row-locality
    * means restriction commutes (a doc's flags don't depend on the frame
    * carrying it), the same identity the decon family leans on.
    * [[TextAnalysis.qualityFilter]] remains the any-threshold path.
    */
  private val qualityFamily = SnapshotStore.family("graft_quality",
      // v2: adds the Gopher per-rule flags as a second family table — both
      // canonical gates are row-local and snapshot-determined, so the
      // agreement cross-tab joins two narrow scans instead of re-running
      // both rule passes per call.
      // v3: adds the per-doc PII audit counts (doc_id, n_pii over the
      // injected view — round-12 verdict next-round 5): the scrub is
      // row-local and snapshot-determined like the gates, and persisting the
      // counts lets the curation funnel report its scrub stage from a narrow
      // scan without ever touching documents.parquet. The stamp string also
      // versions the SHAPE SET — a pattern-family addition changes n_pii, so
      // it must read committed older tables as stale.
      "quality-v3-pii6", "documents.parquet") { (s, d, dir, _) =>
    TextAnalysis.qualityFilter(Tables.documents(s, d))
      .write.mode("overwrite").parquet(s"$dir/flags")
    TextAnalysis.gopherFilter(Tables.documents(s, d))
      .write.mode("overwrite").parquet(s"$dir/gflags")
    Pii.scrubPii(Pii.withInjectedPii(Tables.documents(s, d)))
      .select(col("doc_id"), col("n_pii"))
      .write.mode("overwrite").parquet(s"$dir/pii")
  } { (s, dir) =>
    (s.read.parquet(s"$dir/flags"), s.read.parquet(s"$dir/gflags"), s.read.parquet(s"$dir/pii"))
  }
  private def qualityFlags(s: SparkSession, d: String): DataFrame = qualityFamily.get(s, d)._1
  private def gopherFlags(s: SparkSession, d: String): DataFrame = qualityFamily.get(s, d)._2
  private def piiCounts(s: SparkSession, d: String): DataFrame = qualityFamily.get(s, d)._3

  /** PERSISTED media-fingerprint family — perceptual hashes + verified
    * near-dup pairs ([[Multimodal.persistMediaPhash]]) built once per
    * documents snapshot; both media-dedup queries serve as one scan.
    */
  private val mediaPhashFamily = SnapshotStore.family(
      "graft_media", "mediaphash-v1", "documents.parquet") { (s, d, dir, stamp) =>
    Multimodal.persistMediaPhash(
      Multimodal.mediaFromDocuments(Tables.documents(s, d)), dir, stamp = stamp)
  } { (s, dir) => Multimodal.loadMediaPhash(s, dir) }
  private def mediaPhashTables(s: SparkSession, d: String): Multimodal.MediaPhashTables =
    mediaPhashFamily.get(s, d)

  /** Family serving-answer oracle SQL, shared VERBATIM by the family's
    * own registry query and the takedown surfaces (round-13 verdict 7:
    * every served family runs through the tombstone gate, and the audit
    * re-derives each family's pre-suppression answer by nesting these as
    * subqueries — DuckDB supports WITH inside a subquery/CTE, so one
    * derivation feeds every consumer and the texts can never drift).
    */
  private lazy val RrfFusionSql: String =
    s"""WITH nt AS (SELECT count(*) AS n_total FROM documents),
      |f AS (SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |lexi AS (SELECT tok, count(*) AS df FROM f GROUP BY tok),
      |qtf AS (SELECT doc_id AS query_id, tok, count(*) AS qtf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE doc_id < 5)
      |  GROUP BY 1, 2),
      |qsel AS (SELECT query_id, tok FROM (
      |  SELECT q.query_id, q.tok, row_number() OVER (PARTITION BY q.query_id
      |    ORDER BY q.qtf * (n_total - lexi.df + 0.5) / (lexi.df + 0.5) DESC,
      |      q.tok) AS trank
      |  FROM qtf q JOIN lexi USING (tok) CROSS JOIN nt) WHERE trank <= 8),
      |ls AS (SELECT query_id, doc_id,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(list_sort(list(struct_pack(tok := tok, w := w))),
      |      x -> x.w)), (a, b) -> a + b) AS score
      |  FROM (SELECT qs.query_id, f.doc_id, f.tok,
      |      f.tf * (n_total - lexi.df + 0.5) / (lexi.df + 0.5) AS w
      |    FROM f JOIN qsel qs USING (tok) JOIN lexi USING (tok) CROSS JOIN nt
      |    WHERE f.doc_id <> qs.query_id)
      |  GROUP BY query_id, doc_id),
      |lexr AS (SELECT query_id, doc_id, lex_rank FROM (
      |  SELECT query_id, doc_id, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank FROM ls)
      |  WHERE lex_rank <= 20),
      |dv AS (${Similarity.Sql.prepared}),
      |bk AS (SELECT vec_id, ${Similarity.Sql.lshBucket("v")} AS bucket FROM dv),
      |cb AS (SELECT band, (bucket >> (band * 4)) & 15 AS bb, vec_id
      |  FROM bk CROSS JOIN (SELECT unnest(range(0, 4)) AS band) u),
      |qb AS (SELECT vec_id AS query_id, band, bb FROM cb WHERE vec_id < 5),
      |p0 AS (SELECT DISTINCT qb.query_id, c2.vec_id
      |  FROM cb c2 JOIN qb ON c2.band = qb.band AND c2.bb = qb.bb
      |  WHERE c2.vec_id <> qb.query_id),
      |vsc AS (SELECT p0.query_id, p0.vec_id,
      |  ${Similarity.Sql.cosine("qd.v", "cd.v")} AS cosine
      |  FROM p0 JOIN dv qd ON p0.query_id = qd.vec_id
      |          JOIN dv cd ON p0.vec_id = cd.vec_id),
      |vecr AS (SELECT query_id, doc_id, vec_rank FROM (
      |  SELECT query_id, vec_id AS doc_id, CAST(row_number() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT)
      |    AS vec_rank FROM vsc) WHERE vec_rank <= 20),
      |fu AS (SELECT COALESCE(l.query_id, v.query_id) AS query_id,
      |  COALESCE(l.doc_id, v.doc_id) AS doc_id,
      |  COALESCE(l.lex_rank, 0) AS lex_rank,
      |  COALESCE(v.vec_rank, 0) AS vec_rank
      |  FROM lexr l FULL JOIN vecr v
      |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
      |sc2 AS (SELECT query_id, doc_id, lex_rank, vec_rank,
      |  (CASE WHEN lex_rank > 0
      |    THEN CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + lex_rank)
      |    ELSE CAST(0.0 AS DOUBLE) END)
      |  + (CASE WHEN vec_rank > 0
      |    THEN CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + vec_rank)
      |    ELSE CAST(0.0 AS DOUBLE) END) AS rrf_score FROM fu)
      |SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank FROM sc2)
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private lazy val LateInteractionSql: String =
    s"""WITH $PassageIndexCtes,
      |qc AS (SELECT doc_id AS query_id, pid AS qpid, v FROM pv
      |  WHERE doc_id < 5 AND ${Similarity.Sql.dot("v", "v")} > 0),
      |qp AS (SELECT qc.query_id, qc.qpid, c.band, c.bb FROM c
      |  JOIN qc ON c.pid = qc.qpid),
      |p0 AS (SELECT DISTINCT qp.query_id, qp.qpid, c2.pid FROM c c2
      |  JOIN qp ON c2.band = qp.band AND c2.bb = qp.bb
      |  WHERE c2.doc_id <> qp.query_id),
      |pr AS (SELECT p0.query_id, p0.qpid, cv.doc_id,
      |  ${Similarity.Sql.cosine("qd.v", "cv.v")} AS cosine
      |  FROM p0 JOIN pv cv USING (pid)
      |       JOIN qc qd ON qd.query_id = p0.query_id AND qd.qpid = p0.qpid
      |  WHERE ${Similarity.Sql.dot("cv.v", "cv.v")} > 0),
      |mx AS (SELECT query_id, qpid, doc_id, max(cosine) AS maxsim
      |  FROM pr GROUP BY query_id, qpid, doc_id),
      |ds AS (SELECT query_id, doc_id,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(list_sort(list(struct_pack(qpid := qpid, maxsim := maxsim))),
      |      x -> x.maxsim)), (a, b) -> a + b) AS score,
      |  count(*) AS n_qchunks_matched
      |  FROM mx GROUP BY query_id, doc_id)
      |SELECT query_id, doc_id, score, n_qchunks_matched, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM ds)
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private lazy val CrossModalTopKSql: String =
    s"""WITH $MediaTowerCtes,
      |q AS (SELECT media_id AS query_id, t AS qv FROM tv
      |  WHERE media_id < 5 AND ${Similarity.Sql.dot("t", "t")} > 0),
      |sc AS (SELECT q.query_id, mv.media_id,
      |  ${Similarity.Sql.cosine("qv", "m")} AS cosine
      |  FROM mv CROSS JOIN q WHERE ${Similarity.Sql.dot("m", "m")} > 0),
      |rk AS (SELECT query_id, media_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, media_id) AS BIGINT) AS rank FROM sc)
      |SELECT query_id, media_id, cosine, rank FROM rk
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private lazy val MediaNearDupSql: String =
    s"""WITH ${phashCtes("documents")}
      |SELECT a.media_id AS id1, b.media_id AS id2,
      |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
      |FROM h a JOIN h b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= 5
      |ORDER BY id1, id2""".stripMargin

  /** PERSISTED windowed-aggregate store — the REFERENCE'S OWN
    * architecture applied to the batch registry: the consumer writes the
    * 5-minute aggregations to a keyed store ONCE and every API endpoint
    * reads the stored table (SURVEY.md §2.11 — `GET /summary`, `/cities`,
    * `/aggregations`, `/stats` all query DynamoDB `city-aggregations`,
    * never the raw event stream). Until round 11 each serving-layer query
    * re-ran the full normalize + window aggregate per call; now the agg
    * table commits once per events snapshot, PARTITIONED BY CITY (the
    * reference's DynamoDB partition key — city-equality serving prunes to
    * one partition directory), and the serving/dashboard consumers
    * are scans. v2 extends the family to the reference's full
    * three-table surface: `city-events` (normalized rows — the raw store
    * whose 30-day TTL bounds growth in the reference) and `city-alerts`
    * beside the aggregations, each city-partitioned, feeding the
    * events/alerts serving queries and the keyed-state operators' batch
    * formulations the way the deployed system feeds them (from the
    * stores, not the stream). `q_windowed_agg` itself stays a LIVE computation — it is
    * the centerpiece operator benchmark, and its green hash against the
    * same oracle doubles as the proof the persisted table equals the
    * in-plan aggregate. Same per-call staleness contract as every family.
    */
  private val servingStoreFamily = SnapshotStore.family("graft_agg",
      // "agg-v2:" versions the store LAYOUT (v2 added the city-events and
      // city-alerts tables beside the aggregations — the reference's full
      // three-table DynamoDB surface)
      "agg-v2", "events.parquet") { (s, d, dir, _) =>
    // ServingStore.writePartitioned = the DynamoDB hash-key analog
    // (SURVEY.md §1.4): one well-sized file per city directory
    graft.sources.ServingStore.writePartitioned(
      agg(s, d), s"$dir/agg", Seq("city"))
    // the city-events table (normalized rows, the reference's raw
    // store with its 30-day TTL bounding growth) and the
    // city-alerts table, both city-partitioned like their
    // DynamoDB partition key
    graft.sources.ServingStore.writePartitioned(
      norm(s, d), s"$dir/events", Seq("city"))
    graft.sources.ServingStore.writePartitioned(
      alertsOf(s, d), s"$dir/alerts", Seq("city"))
  } { (s, dir) =>
    (s.read.parquet(s"$dir/agg"), s.read.parquet(s"$dir/events"),
      s.read.parquet(s"$dir/alerts"))
  }
  private def aggTable(s: SparkSession, d: String): DataFrame = servingStoreFamily.get(s, d)._1
  private def eventsTable(s: SparkSession, d: String): DataFrame = servingStoreFamily.get(s, d)._2
  private def alertsTable(s: SparkSession, d: String): DataFrame = servingStoreFamily.get(s, d)._3
  /** [[aggFlat]] over the persisted store — the serving-side shape. */
  private def aggFlatTable(s: SparkSession, d: String): DataFrame =
    aggTable(s, d).withColumn("severities", array_join(col("severities"), ","))

  /** PERSISTED tokenizer family — training is the definition of a
    * once-per-corpus-snapshot batch job: the default-k BPE merge table
    * AND the unigram-LM pruned vocabulary (v2 — the first round-11 bench
    * showed `q_unigram_vocab` re-running the word-type aggregate + merge
    * folds + piece scoring per call at ~5 s while its training sibling
    * served from parquet) are committed together; `q_bpe_merges` and
    * `q_unigram_vocab` each serve one scan. [[TextAnalysis.bpeMerges]] /
    * [[TextAnalysis.unigramVocab]] remain the any-parameter paths, and
    * the vocab is built from the READ-BACK merge table (staging
    * discipline: serving-path inputs, not a parallel recompute).
    */
  private case class BpeTables(merges: DataFrame, unigramVocab: DataFrame,
                               bpeEncoded: DataFrame, unigramEncoded: DataFrame)
  private val bpeFamily = SnapshotStore.family("graft_bpe",
      // v3: the training corpus' own encodes are snapshot-determined (the
      // lm-v2/dsir-v2 pre-scoring argument), so both segmentations commit
      // beside the tables they apply — q_bpe_encode/q_unigram_encode serve
      // as scans; the encode operators remain the any-input paths (the
      // TokenizeStream service encodes NEW text through them).
      "bpe-v3", "documents.parquet") { (s, d, dir, _) =>
    TextAnalysis.bpeMerges(Tables.documents(s, d), DefaultBpeMerges)
      .write.mode("overwrite").parquet(s"$dir/merges")
    // staging discipline: every downstream artifact derives from
    // the READ-BACK table it will serve beside
    val merges = s.read.parquet(s"$dir/merges").orderBy("merge_rank")
      .select("lhs", "rhs").take(DefaultBpeMerges)
      .map(r => (r.getString(0), r.getString(1))).toSeq
    TextAnalysis.unigramVocab(Tables.documents(s, d), merges,
        DefaultUnigramKeep)
      .write.mode("overwrite").parquet(s"$dir/unigram_vocab")
    TextAnalysis.bpeEncode(Tables.documents(s, d), merges)
      .write.mode("overwrite").parquet(s"$dir/bpe_encoded")
    TextAnalysis.unigramEncode(Tables.documents(s, d),
        s.read.parquet(s"$dir/unigram_vocab"))
      .write.mode("overwrite").parquet(s"$dir/unigram_encoded")
  } { (s, dir) =>
    BpeTables(
      s.read.parquet(s"$dir/merges"),
      s.read.parquet(s"$dir/unigram_vocab"),
      s.read.parquet(s"$dir/bpe_encoded"),
      s.read.parquet(s"$dir/unigram_encoded"))
  }
  private def bpeTables(s: SparkSession, d: String): BpeTables = bpeFamily.get(s, d)
  private def bpeMergesTable(s: SparkSession, d: String): DataFrame =
    bpeTables(s, d).merges

  /** The clean pipelines' shared Spark prefix: quality keep over the %11
    * corpus → benchmark decontamination → lexical near-dedup greedy drop
    * over the shared pairs frame restricted to decontaminated endpoints.
    * Returns the lexical survivors with every document column.
    * Contamination is a per-doc property (see deconCollisions), so
    * anti-joining the quality survivors against the persisted
    * corpus-wide collision table equals decontaminating them.
    * BARRIER (r17): decon feeds both drop semi-joins AND the final
    * anti-join; without it each reference re-expands the whole
    * quality→decon subtree (the r17 plan audit read the documents and
    * flag scans three times over). The checkpointed frame is the narrow
    * per-doc survivor projection. DEPLOYMENT CAVEAT (r17 verdict 9):
    * localCheckpoint is not fault-tolerant — an executor loss on a real
    * cluster fails the query instead of recomputing; swap for
    * persist(DISK_ONLY) where lineage safety outweighs the extra job.
    * This caveat covers every funnel barrier (the callers' `lex` too).
    */
  private def lexicalSurvivors(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.documents(s, d).filter(pmod(col("doc_id"), lit(11)) =!= 0)
    val q = corpus.join(
      qualityFlags(s, d).filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val decon = q.join(deconCollisions(s, d).select("doc_id"),
      Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false)
    val drop = nearDupPairs(s, d)
      .join(decon.select(col("doc_id").as("doc_id1")), Seq("doc_id1"), "left_semi")
      .join(decon.select(col("doc_id").as("doc_id2")), Seq("doc_id2"), "left_semi")
      .select(col("doc_id2").as("doc_id")).distinct()
    decon.join(drop, Seq("doc_id"), "left_anti")
  }

  /** The full clean pipelines' semantic stage over the lexical survivors
    * `lex`: every semantic pair (vec_id1, vec_id2) with both endpoints in
    * `lex` drops its higher id; returns (doc_id, lang, source) by doc_id.
    */
  private def semanticSurvivors(lex: DataFrame, pairs: DataFrame): DataFrame = {
    val sem = pairs
      .join(lex.select(col("doc_id").as("vec_id1")), Seq("vec_id1"), "left_semi")
      .join(lex.select(col("doc_id").as("vec_id2")), Seq("vec_id2"), "left_semi")
      .select(col("vec_id2").as("doc_id")).distinct()
    lex.join(sem, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source").orderBy("doc_id")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's centerpiece A1 windowed aggregation (SURVEY.md §7.1).
    */
  def entry(spark: SparkSession): DataFrame =
    StreamAggregates.windowedAggregate(norm(spark, "/root/testdata/sf0.001"))

  // ---------------------------------------------------------------- oracles

  /** Shared DuckDB CTE bodies mirroring the Spark operators. */
  private val NORM   = CityEvents.Sql.normalized

  /** Sign-LSH buckets `b` of the prepared vectors `d` and their 4-bit
    * band keys `c` (band, bb, vec_id).
    */
  private val VecBandCtes = s"""b AS (SELECT vec_id, ${Similarity.Sql.lshBucket("v")} AS bucket FROM d),
    |c AS (SELECT band, (bucket >> (band * 4)) & 15 AS bb, vec_id
    |  FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS band) u)""".stripMargin

  /** The banded candidates `p0` (query_id, vec_id) of the query vectors
    * selected by predicate `queries` over vec_id: every other vector
    * sharing a band key, over [[VecBandCtes]] of the prepared vectors `d`.
    */
  private def vecBandProbeCtes(queries: String): String =
    s"""d AS (${Similarity.Sql.prepared}),
      |$VecBandCtes,
      |q AS (SELECT vec_id AS query_id, band, bb FROM c WHERE $queries),
      |p0 AS (SELECT DISTINCT q.query_id, c2.vec_id
      |  FROM c c2 JOIN q ON c2.band = q.band AND c2.bb = q.bb
      |  WHERE c2.vec_id <> q.query_id)""".stripMargin

  /** Every vector pair's exact cosine, `p` (vec_id1 < vec_id2, cosine),
    * over the prepared vectors `d`.
    */
  private val CosinePairsCtes = s"""d AS (${Similarity.Sql.prepared}),
    |p AS (SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2,
    |  ${Similarity.Sql.cosine("a.v", "b.v")} AS cosine
    |  FROM d a JOIN d b ON a.vec_id < b.vec_id)""".stripMargin

  /** The duplicate-collapsed vectors: `g` (embedding, rep), each distinct
    * embedding's min vec_id, and `d`, the reps' prepared vectors.
    */
  private val RepVecCtes: String =
    s"""g AS (SELECT embedding, min(vec_id) AS rep FROM embeddings GROUP BY embedding),
      |d AS (SELECT * FROM (${Similarity.Sql.prepared}) dp
      |  WHERE vec_id IN (SELECT rep FROM g))""".stripMargin

  /** The banding cards' body after their band CTEs: for each (family,
    * band CTE (band, bb, vec_id)) arm over [[RepVecCtes]]' `d`, the
    * banded candidate pairs, the exact-verified finds at cosine 0.4, the
    * hottest band bucket, and recall and candidate rate against the
    * shared exact truth; one row per family.
    */
  private def bandArmsCardSql(arms: Seq[(String, String)]): String = {
    def union(sel: ((String, String)) => String) = arms.map(sel).mkString("\n  UNION ALL ")
    val pairs = arms.map { case (_, c) =>
      s"""p$c AS (SELECT DISTINCT a.vec_id AS vec_id1, c2.vec_id AS vec_id2
        |  FROM $c a JOIN $c c2 ON a.band = c2.band AND a.bb = c2.bb
        |    AND a.vec_id < c2.vec_id)""".stripMargin
    }
    s"""${pairs.mkString(",\n")},
      |cand AS (${union { case (f, c) => s"SELECT '$f' AS family, vec_id1, vec_id2 FROM p$c" }}),
      |ver AS (SELECT family, ${Similarity.Sql.cosine("a.v", "b2.v")} AS cosine
      |  FROM cand JOIN d a ON cand.vec_id1 = a.vec_id
      |            JOIN d b2 ON cand.vec_id2 = b2.vec_id),
      |fam AS (SELECT family, count(*) AS n_candidates,
      |  count(CASE WHEN cosine >= 0.4 THEN 1 END) AS n_found
      |  FROM ver GROUP BY family),
      |bal AS (SELECT family, max(n) AS max_band_bucket FROM (
      |    ${union { case (f, c) => s"SELECT '$f' AS family, count(*) AS n FROM $c GROUP BY band, bb" }})
      |  GROUP BY family),
      |tr AS (SELECT count(CASE WHEN cosine >= 0.4 THEN 1 END) AS n_truth
      |  FROM (SELECT ${Similarity.Sql.cosine("a.v", "b2.v")} AS cosine
      |    FROM d a JOIN d b2 ON a.vec_id < b2.vec_id)),
      |nr AS (SELECT count(*) AS n_reps FROM d)
      |SELECT fam.family, n_candidates, n_found, n_truth,
      |  CAST(n_found AS DOUBLE) / n_truth AS recall,
      |  CAST(n_candidates AS DOUBLE) / (n_reps * (n_reps - 1) / 2)
      |    AS candidate_rate,
      |  max_band_bucket
      |FROM fam JOIN bal ON fam.family = bal.family
      |CROSS JOIN tr CROSS JOIN nr ORDER BY fam.family""".stripMargin
  }

  /** The sign-LSH verified near-dup pair pipeline (buckets → bands →
    * candidates → exact verify → dup-group expansion) as a WITH-body
    * ending in `allp` (vec_id1, vec_id2, cosine), every verified pair,
    * shared by the `q_lsh_neardup_pairs` oracle and its consumers: the
    * threshold card, the `q_ivf_recall_bound` witness's exact-pair count,
    * the contrastive triples, the semantic clusters
    * ([[LshComponentCtes]]) and the scale-shape clean pipelines'
    * semantic stage ([[SemLshDedupCtes]]).
    */
  private val lshPairsSqlCtes: String =
    s"""$RepVecCtes,
       |m AS (SELECT g.rep, e.vec_id FROM embeddings e JOIN g ON e.embedding = g.embedding),
       |$VecBandCtes,
       |p0 AS (SELECT DISTINCT a.vec_id AS vec_id1, c2.vec_id AS vec_id2
       |  FROM c a JOIN c c2 ON a.band = c2.band AND a.bb = c2.bb
       |    AND a.vec_id < c2.vec_id),
       |p AS (SELECT p0.vec_id1, p0.vec_id2,
       |  ${Similarity.Sql.cosine("a.v", "b2.v")} AS cosine
       |  FROM p0 JOIN d a ON p0.vec_id1 = a.vec_id
       |          JOIN d b2 ON p0.vec_id2 = b2.vec_id),
       |rp AS (SELECT * FROM p WHERE cosine >= 0.4),
       |elig AS (SELECT m.rep, m.vec_id FROM m JOIN d ON m.rep = d.vec_id
       |  WHERE sqrt(${Similarity.Sql.dot("d.v", "d.v")}) > 0),
       |intra AS (SELECT a.vec_id AS vec_id1, b2.vec_id AS vec_id2,
       |  CAST(1.0 AS DOUBLE) AS cosine
       |  FROM elig a JOIN elig b2 ON a.rep = b2.rep AND a.vec_id < b2.vec_id),
       |xg AS (SELECT least(m1.vec_id, m2.vec_id) AS vec_id1,
       |  greatest(m1.vec_id, m2.vec_id) AS vec_id2, rp.cosine
       |  FROM rp JOIN m m1 ON rp.vec_id1 = m1.rep
       |          JOIN m m2 ON rp.vec_id2 = m2.rep),
       |allp AS (SELECT * FROM intra UNION ALL SELECT * FROM xg)""".stripMargin

  /** Exact min-label connected components `cl` (vec_id, cluster_id) over
    * [[lshPairsSqlCtes]]' pairs by recursive-CTE reachability, so the
    * enclosing WITH must be RECURSIVE.
    */
  private val LshComponentCtes: String =
    s"""$lshPairsSqlCtes,
      |edges AS (SELECT vec_id1 AS src, vec_id2 AS dst FROM allp
      |  UNION SELECT vec_id2, vec_id1 FROM allp),
      |reach(vec_id, lbl) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.vec_id),
      |cl AS (SELECT vec_id, min(lbl) AS cluster_id FROM reach GROUP BY vec_id)""".stripMargin

  /** Exact-text rep-collapse and the representatives' 3-shingle postings:
    * `reps`, `members` (rep, doc_id), `rdocs`, `sets` (doc_id, sh) and
    * `ex0` (doc_id, shingle) — the head of the lexical pair oracles.
    */
  private val RepShingleCtes: String =
    s"""reps AS (SELECT text, min(doc_id) AS rep FROM documents GROUP BY text),
      |members AS (SELECT r.rep, d.doc_id FROM documents d JOIN reps r ON d.text = r.text),
      |rdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN reps r ON d.doc_id = r.rep),
      |sets AS (${Dedup.Sql.shingleSets("rdocs")}),
      |nonempty AS (SELECT * FROM sets WHERE len(sh) > 0),
      |ex0 AS (SELECT doc_id, unnest(sh) AS shingle FROM nonempty)""".stripMargin

  /** The df-capped postings `kept` (shingles carried by ≤ 50 docs) of
    * postings CTE `ex`, with per-doc set sizes `sz` and the pairwise
    * shared-shingle counts `inter` (doc_id1 < doc_id2).
    */
  private def cappedInterCtes(ex: String): String =
    s"""kept AS (SELECT * FROM $ex WHERE shingle IN
      |  (SELECT shingle FROM $ex GROUP BY shingle HAVING count(*) <= 50)),
      |sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS n_common
      |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Verify (jaccard ≥ 0.5 over `inter`/`sz`) and dup-group expansion:
    * `intra` (exact-duplicate members at 1.0) and `xg` (verified rep
    * pairs expanded to every member pair), both (doc_id1, doc_id2, jaccard).
    */
  private val JaccardExpandCtes: String =
    """rp AS (SELECT doc_id1, doc_id2,
      |  CAST(n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - n_common) AS jaccard
      |  FROM inter
      |  JOIN sz s1 ON doc_id1 = s1.doc_id
      |  JOIN sz s2 ON doc_id2 = s2.doc_id
      |  WHERE CAST(n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - n_common) >= 0.5),
      |elig AS (SELECT * FROM members WHERE rep IN (SELECT doc_id FROM sz)),
      |intra AS (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
      |  CAST(1.0 AS DOUBLE) AS jaccard
      |  FROM elig a JOIN elig b ON a.rep = b.rep AND a.doc_id < b.doc_id),
      |xg AS (SELECT least(m1.doc_id, m2.doc_id) AS doc_id1,
      |  greatest(m1.doc_id, m2.doc_id) AS doc_id2, rp.jaccard
      |  FROM rp JOIN members m1 ON rp.doc_id1 = m1.rep
      |           JOIN members m2 ON rp.doc_id2 = m2.rep)""".stripMargin

  /** The lexical verified Jaccard pair pipeline (rep-collapse → df-capped
    * shingle index → intersection → verify → dup-group expansion) as a
    * WITH-body, shared by the `q_jaccard_pairs` oracle and the lexical
    * threshold-sensitivity card so the two can never drift (the
    * [[lshPairsSqlCtes]] precedent).
    */
  private val jaccardPairsSqlCtes: String =
    s"$RepShingleCtes,\n${cappedInterCtes("ex0")},\n$JaccardExpandCtes"
  private val AGG =
    """SELECT city || '#' || event_type || '#' || strftime(ws, '%Y-%m-%dT%H:%M:%S') AS partition_key,
      |  strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  strftime(ws + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS window_end,
      |  city, event_type, count(*) AS event_count,
      |  array_to_string(list_sort(list(severity)), ',') AS severities,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_updated
      |FROM (SELECT *, time_bucket(INTERVAL '5 minutes', ts) AS ws FROM norm)
      |GROUP BY ws, city, event_type""".stripMargin
  private val WITH_NORM        = s"WITH norm AS ($NORM)"
  private val WITH_NORM_AGG    = s"WITH norm AS ($NORM), agg AS ($AGG)"
  private val WITH_NORM_ALERTS =
    s"WITH norm AS ($NORM), alerts AS (SELECT * FROM norm WHERE severity IN ('high','critical'))"

  /** The gaps-and-islands oracle of both severity-streak forms (one-phase
    * and segmented): every high/critical event that closes a run of
    * exactly 2 consecutive ones per city.
    */
  private val SeverityStreaksSql = s"""$WITH_NORM,
    |f AS (SELECT city, ts,
    |  CASE WHEN severity IN ('high','critical') THEN 1 ELSE 0 END AS hi FROM norm),
    |r AS (SELECT city, ts, hi,
    |  row_number() OVER (PARTITION BY city ORDER BY ts, hi) AS rn,
    |  sum(hi) OVER (PARTITION BY city ORDER BY ts, hi
    |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hseq
    |  FROM f),
    |p AS (SELECT city, ts,
    |  row_number() OVER (PARTITION BY city, rn - hseq ORDER BY rn) AS streak
    |  FROM r WHERE hi = 1)
    |SELECT city, CAST(streak AS INT) AS streak,
    |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts
    |FROM p WHERE streak = 2
    |ORDER BY city, last_ts""".stripMargin

  /** The 16-d text tower over a fingerprint column `f` (the Passage /
    * in-context-packing embedding), one site for every oracle that
    * re-derives it.
    */
  private val TextTower = """list_transform(range(0, 16), dd ->
    |    CAST((f * (2*dd + 3) + dd * 65599) % 2000001 AS DOUBLE)
    |      / 1000000.0 - 1.0)""".stripMargin

  /** The media stub towers over each document's fingerprint `fp`: text
    * tower `tv` (media_id, t) and media tower `mv` (media_id, m).
    */
  private val MediaTowerCtes = s"""fp AS (SELECT doc_id AS media_id,
    |  ${TextAnalysis.Sql.fingerprint} AS f FROM documents),
    |tv AS (SELECT media_id, $TextTower AS t FROM fp),
    |mv AS (SELECT media_id, list_transform(range(0, 16), d ->
    |  CAST((f * (2*d + 1) + d * 40503) % 2000001 AS DOUBLE)
    |    / 1000000.0 - 1.0) AS m FROM fp)""".stripMargin

  /** The perceptual hash `h` (media_id, kind, phash) of every document of
    * `docs` as a media payload: code points sampled on the fixed 49-point
    * grid, dHash gradient signs packed into 48 bits; empty texts hash to 0.
    */
  private def phashCtes(docs: String): String =
    s"""codes AS (SELECT doc_id AS media_id,
      |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |  list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS cs
      |  FROM $docs),
      |hh AS (SELECT media_id, kind, len(cs) AS n, cs FROM codes),
      |sm AS (SELECT media_id, kind, list_transform(generate_series(0, 48),
      |  j -> cs[CAST(least(j * 2, n - 1) AS INT) + 1]) AS smp FROM hh WHERE n > 0),
      |h AS (SELECT media_id, kind,
      |  CAST(list_sum(list_transform(generate_series(0, 47),
      |    i -> CASE WHEN smp[CAST(i AS INT) + 1] > smp[CAST(i AS INT) + 2]
      |         THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
      |         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
      |  FROM sm
      |  UNION ALL SELECT media_id, kind, CAST(0 AS BIGINT) FROM hh WHERE n = 0)""".stripMargin

  /** The passage index every passage oracle re-derives: chunking (24-token
    * stride, 32-token window) → per-chunk towers `pv` (doc_id, chunk_id,
    * n_tokens, pid, v) → 16-plane buckets `b` → 4-bit band keys `c`.
    */
  private val PassageIndexCtes = s"""dch AS (SELECT doc_id, string_split(text, ' ') AS t,
    |  CAST(floor((greatest(len(string_split(text, ' ')) - 8, 1) + 23)
    |    / CAST(24 AS DOUBLE)) AS INT) AS n_chunks FROM documents),
    |ch AS (SELECT doc_id, unnest(generate_series(0, n_chunks - 1)) AS chunk_id, t
    |  FROM dch),
    |cht AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
    |  array_to_string(t[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text,
    |  CAST(least(len(t) - chunk_id * 24, 32) AS BIGINT) AS n_tokens
    |  FROM ch),
    |fp AS (SELECT doc_id, chunk_id, n_tokens,
    |  ${TextAnalysis.Sql.fingerprintOf("chunk_text")} AS f FROM cht),
    |pv AS (SELECT doc_id, chunk_id, n_tokens,
    |  doc_id * 1048576 + chunk_id AS pid,
    |  $TextTower AS v FROM fp),
    |b AS (SELECT pid, doc_id, ${Similarity.Sql.lshBucket("v", 16, 16)} AS bucket
    |  FROM pv),
    |c AS (SELECT band, (bucket >> (band * 4)) & 15 AS bb, pid, doc_id
    |  FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS band) u)""".stripMargin

  /** The diversity-capped passage ranking over banded candidates `p0`
    * (query_id, pid) scored against the query vectors of CTE `qs`:
    * `sc` cosines, `dv` per-doc ordinal, `rk` (≤ 2 chunks per doc,
    * ranked by cosine, doc_id, chunk_id).
    */
  private def passageRankCtes(qs: String): String =
    s"""sc AS (SELECT p0.query_id, cv.doc_id, cv.chunk_id, cv.n_tokens, cv.pid,
      |  ${Similarity.Sql.cosine("qd.v", "cv.v")} AS cosine
      |  FROM p0 JOIN pv cv USING (pid)
      |       JOIN $qs qd ON qd.query_id = p0.query_id
      |  WHERE ${Similarity.Sql.dot("cv.v", "cv.v")} > 0),
      |dv AS (SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
      |  ORDER BY cosine DESC, pid) AS rn_doc FROM sc),
      |rk AS (SELECT query_id, doc_id, chunk_id, n_tokens, cosine,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, doc_id, chunk_id) AS BIGINT) AS rank
      |  FROM dv WHERE rn_doc <= 2)""".stripMargin

  /** The served passage top-k (the persisted `topk` before its rank ≤ 10
    * cut): each of docs 0–4 queries with its first chunk's vector `qv`,
    * band-collides against other documents' chunks, and ranks through
    * [[passageRankCtes]]. Follows [[PassageIndexCtes]].
    */
  private val PassageTopKCtes = s"""qv AS (SELECT doc_id AS query_id, pid, v FROM pv
    |  WHERE doc_id < 5 AND chunk_id = 0 AND ${Similarity.Sql.dot("v", "v")} > 0),
    |q AS (SELECT qv.query_id, c.band, c.bb FROM c JOIN qv USING (pid)),
    |p0 AS (SELECT DISTINCT q.query_id, c2.pid FROM c c2
    |  JOIN q ON c2.band = q.band AND c2.bb = q.bb
    |  WHERE c2.doc_id <> q.query_id),
    |${passageRankCtes("qv")}""".stripMargin

  /** Shared CTE chain of the passage retrieval-quality oracles
    * (q_passage_recall_bound / q_passage_mrr / q_passage_ndcg): the
    * banded SERVED ranking (`rkb`, ranks ≤ 10) and the exact brute-force
    * ranking (`dve` with its per-doc diversity ordinal, `rke` ranks
    * ≤ 10) — one site, so the metric cards can never disagree on what
    * "served" or "exact" means.
    */
  private val PassageEvalCtes = s"""$PassageIndexCtes,
    |$PassageTopKCtes,
    |rkb AS (SELECT query_id, doc_id, chunk_id, rank FROM rk WHERE rank <= 10),
    |sce AS (SELECT qv.query_id, cv.doc_id, cv.chunk_id, cv.pid,
    |  ${Similarity.Sql.cosine("qv.v", "cv.v")} AS cosine
    |  FROM pv cv CROSS JOIN qv
    |  WHERE cv.doc_id <> qv.query_id
    |    AND ${Similarity.Sql.dot("cv.v", "cv.v")} > 0),
    |dve AS (SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
    |  ORDER BY cosine DESC, pid) AS rn_doc FROM sce),
    |rke AS (SELECT query_id, doc_id, chunk_id, rank FROM (
    |  SELECT query_id, doc_id, chunk_id, row_number() OVER (
    |    PARTITION BY query_id ORDER BY cosine DESC, doc_id, chunk_id) AS rank
    |  FROM dve WHERE rn_doc <= 2) WHERE rank <= 10)""".stripMargin

  /** Exact near-dup pair chain (0.8 jaccard over 3-shingle sets) shared
    * by the split-hygiene oracles — the q_split_leakage derivation
    * hoisted to one site. Ends with `prs` (doc_id1, doc_id2, jaccard).
    */
  private val NearDupPairsCtes = s"""sets AS (${Dedup.Sql.shingleSets("documents")}),
    |nonempty AS (SELECT * FROM sets WHERE len(sh) > 0),
    |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM nonempty),
    |inter AS (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS n_common
    |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    |  GROUP BY 1, 2),
    |sz AS (SELECT doc_id, len(sh) AS n_sh FROM nonempty),
    |prs AS (SELECT doc_id1, doc_id2,
    |  CAST(n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - n_common) AS jaccard
    |  FROM inter JOIN sz s1 ON doc_id1 = s1.doc_id
    |              JOIN sz s2 ON doc_id2 = s2.doc_id
    |  WHERE CAST(n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - n_common) >= 0.8)""".stripMargin

  /** Min-label connected components over `prs` → `cl` (doc_id,
    * cluster_id) — the q_dup_clusters reachability, for oracles that
    * consume the persisted cluster assignment downstream.
    */
  private val DupClusterCtes = s"""edges AS (SELECT doc_id1 AS src, doc_id2 AS dst FROM prs
    |  UNION SELECT doc_id2, doc_id1 FROM prs),
    |reach(doc_id, lbl) AS (
    |  SELECT DISTINCT src, src FROM edges
    |  UNION
    |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id),
    |cl AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id)""".stripMargin

  /** The six PII families' placeholder counts over `clean_text`, in
    * `n_pii`'s summation order: as named columns, and as their sum.
    */
  private val PiiMarkCounts = Seq("n_emails" -> Pii.EmailMark, "n_phones" -> Pii.PhoneMark,
    "n_ips" -> Pii.IpMark, "n_ids" -> Pii.IdMark, "n_intl_phones" -> Pii.E164Mark,
    "n_ibans" -> Pii.IbanMark).map { case (n, m) => n -> Pii.Sql.markCount("clean_text", m) }
  private val PiiCountCols = PiiMarkCounts.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")
  private val PiiMarkSum = PiiMarkCounts.map(_._2).mkString("\n  + ")

  /** The deterministic split CASE over any id expression — dataSplit's
    * double-mod hash as SQL, one site for every split oracle.
    */
  private def splitBucketSql(e: String): String =
    s"(((((($e % 1000003) * 2246822519) % 999999937) % 1000003) * 3266489917) % 999999893) % 100"
  private def splitCaseSql(e: String): String =
    s"CASE WHEN ${splitBucketSql(e)} < 90 THEN 'train' WHEN ${splitBucketSql(e)} < 95 THEN 'val' ELSE 'test' END"

  /** `sp` (doc_id, split): every document's deterministic split. */
  private val SplitCte = s"sp AS (SELECT doc_id, ${splitCaseSql("doc_id")} AS split FROM documents)"

  /** The corpus-MLE bigram LM fluency chain: bigram occurrences `bo2`
    * (doc_id, pos, l, r), per-doc `p2` (doc_id, n_bigrams, ratio_sum —
    * the conditionals folded in position order) and `fl` (doc_id,
    * n_bigrams, fluency). Its names stay clear of [[dsirOracleCtes]]',
    * which the training manifest splices beside it.
    */
  private val LmFluencyCtes = """w2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    |bo2 AS (SELECT doc_id, i - 1 AS pos, t[i] AS l, t[i+1] AS r
    |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM w2)),
    |bc2 AS (SELECT l, r, count(*) AS c_xy FROM bo2 GROUP BY l, r),
    |hc2 AS (SELECT l, sum(c_xy) AS c_x FROM bc2 GROUP BY l),
    |sc2 AS (SELECT doc_id, pos,
    |  CAST(c_xy AS DOUBLE) / CAST(c_x AS DOUBLE) AS ratio
    |  FROM bo2 JOIN bc2 USING (l, r) JOIN hc2 USING (l)),
    |p2 AS (SELECT doc_id, count(*) AS n_bigrams,
    |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    |    list_transform(list_sort(list(struct_pack(pos := pos, ratio := ratio))),
    |      x -> x.ratio)), (a, b) -> a + b) AS ratio_sum
    |  FROM sc2 GROUP BY doc_id),
    |fl AS (SELECT doc_id, n_bigrams,
    |  ratio_sum / CAST(n_bigrams AS DOUBLE) AS fluency FROM p2)""".stripMargin

  /** [[LmFluencyCtes]] → `cc` (doc_id, lang, fluency, bucket): the CCNet
    * per-language fluency terciles head/middle/tail.
    */
  private val CcnetCtes = s"""$LmFluencyCtes,
    |cc AS (SELECT fl.doc_id, dd.lang, fl.fluency,
    |  CASE ntile(3) OVER (PARTITION BY dd.lang ORDER BY fl.fluency DESC, fl.doc_id)
    |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    |  FROM fl JOIN documents dd USING (doc_id))""".stripMargin

  /** The exact-token-budget cut: `c3` (each doc's tokens before it in its
    * (lang, shard) stratum, portable-hash order) and the docs inside the
    * per-shard budget, `tm` (doc_id).
    */
  private val TokenBudgetCtes = """t3 AS (SELECT doc_id, lang, doc_id % 8 AS shard,
    |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    |  (doc_id % 1000003) * 2654435761 AS h FROM documents),
    |c3 AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard
    |  ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    |  AS BIGINT) AS cum_before FROM t3),
    |tm AS (SELECT doc_id FROM c3
    |  WHERE cum_before < CASE lang WHEN 'en' THEN 600 WHEN 'zh' THEN 300
    |    WHEN 'de' THEN 300 WHEN 'fr' THEN 300 WHEN 'es' THEN 300 ELSE 0 END)""".stripMargin

  /** The shipped mix's keep rule: `keeps` (doc_id, lang, fluency, bucket),
    * the non-tail CCNet docs inside the token budget.
    */
  private val MixKeepCtes = s"""$CcnetCtes,
    |$TokenBudgetCtes,
    |keeps AS (SELECT cc.doc_id, cc.lang, cc.fluency, cc.bucket FROM cc
    |  WHERE cc.bucket <> 'tail' AND cc.doc_id IN (SELECT doc_id FROM tm))""".stripMargin

  /** Per-document coverage `pd` (doc_id, n_tokens, n_oov) by the corpus's
    * top-20 vocabulary `v` (tf DESC, token), over the token rows `t`.
    */
  private val VocabCoverageCtes =
    """t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |v AS (SELECT token FROM (SELECT token, count(*) AS tf FROM t
      |  GROUP BY token ORDER BY tf DESC, token LIMIT 20)),
      |pd AS (SELECT doc_id, count(*) AS n_tokens,
      |  count(CASE WHEN token NOT IN (SELECT token FROM v) THEN 1 END) AS n_oov
      |  FROM t GROUP BY doc_id)""".stripMargin

  /** The top `k` rows per query of CTE `scored` (query_id, vec_id, ...)
    * by `score` descending, ties by vec_id, as (query_id, vec_id,
    * `cols`, rank).
    */
  private def vecTopKSql(cols: String, score: String, k: Int): String =
    s"""SELECT query_id, vec_id, $cols, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY $score DESC, vec_id) AS rank FROM scored)
      |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** The integer-dot top 10 over the quantized codes of the queries that
    * `queries` selects, among their banded candidates ([[vecBandProbeCtes]]).
    */
  private def quantizedProbeTopKSql(queries: String): String =
    s"""WITH ${vecBandProbeCtes(queries)},
      |qz AS (${Similarity.Sql.quantized}),
      |scored AS (SELECT p0.query_id, p0.vec_id,
      |  ${Similarity.Sql.intDot("qd.codes", "cd.codes")} AS qdot
      |  FROM p0 JOIN qz qd ON p0.query_id = qd.vec_id
      |          JOIN qz cd ON p0.vec_id = cd.vec_id)
      |${vecTopKSql("qdot", "qdot", 10)}""".stripMargin

  /** The composite quality score of every document (the
    * `TextAnalysis.qualityScore` mirror): `q` (doc_id, source,
    * stopword_ratio, unique_ratio, punct_ratio, quality).
    */
  private val QualityScoreCte =
    s"""q AS (SELECT *, least(stopword_ratio * 5.0, 1.0) * 0.3 + unique_ratio * 0.5
      |    + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2 AS quality FROM (
      |  SELECT doc_id, source,
      |    ${TextAnalysis.Sql.stopHits} / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
      |    len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS unique_ratio,
      |    len(regexp_extract_all(text, '[^a-z0-9 ]')) / CAST(length(text) AS DOUBLE) AS punct_ratio
      |  FROM documents))""".stripMargin

  /** The document frequency `c` (shingle, df) of every 3-shingle of the
    * exact-text-collapsed corpus `d` (doc_id, text), shared by the hot
    * shingle oracle and the phrase lookup that probes its top shingle.
    */
  private val ShingleDfCtes =
    s"""d AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
      |sp AS (SELECT doc_id, unnest(sh) AS shingle FROM (${Dedup.Sql.shingleSets("d")})),
      |c AS (SELECT shingle, count(*) AS df FROM sp GROUP BY shingle)""".stripMargin

  /** The registry's 5-gram list over a pre-split token array `t` — shared
    * by the decontamination oracles so the gram definition can never
    * drift between the exact and bloom paths.
    */
  private val GRAM5 = "list_transform(generate_series(1, len(t) - 4), " +
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])"

  /** `g` (source, g): the distinct hashed 5-grams of each source — the
    * head of both source-overlap matrices.
    */
  private val SourceGramCte = s"""g AS (SELECT DISTINCT source,
    |  ${TextAnalysis.Sql.fingerprintOf("gram")} AS g
    |  FROM (SELECT source, unnest($GRAM5) AS gram
    |    FROM (SELECT source, string_split(text, ' ') AS t FROM documents)))""".stripMargin

  /** The registry's keyword query ('hash', 'join', 'vector') scored over
    * every document: `p` (doc_id, score, n_terms_matched), each matched
    * term's smoothed idf-weighted tf summed in sorted-term order.
    */
  private val KeywordScoreCtes = """f AS (
    |  SELECT doc_id, tok, count(*) AS tf
    |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    |  WHERE tok IN ('hash', 'join', 'vector') GROUP BY doc_id, tok),
    |d AS (SELECT tok, count(*) AS df FROM f GROUP BY tok),
    |t AS (SELECT count(*) AS n_total FROM documents),
    |sw AS (SELECT doc_id, tok, tf * (n_total - df + 0.5) / (df + 0.5) AS w
    |  FROM f JOIN d USING (tok) CROSS JOIN t),
    |p AS (SELECT doc_id,
    |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    |    list_transform(list_sort(list(struct_pack(tok := tok, w := w))),
    |      x -> x.w)), (a, b) -> a + b) AS score,
    |  count(*) AS n_terms_matched
    |  FROM sw GROUP BY doc_id)""".stripMargin

  /** The span-excision tail over `toks` (doc_id, t) and the covered
    * token positions `cov` (doc_id, cpos): each document's surviving
    * tokens re-joined in order, with the dropped count and the dropped
    * share as column `fracCol`.
    */
  private def spanExciseSql(fracCol: String): String =
    s"""cv AS (SELECT doc_id, count(*) AS nc FROM cov GROUP BY doc_id),
      |tok AS (SELECT doc_id, unnest(t) AS tok,
      |  unnest(generate_series(1, len(t))) AS pos FROM toks),
      |kept AS (SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.pos) AS clean_text
      |  FROM tok tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.pos = cov.cpos
      |  WHERE cov.cpos IS NULL GROUP BY tk.doc_id)
      |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(cv.nc, 0) AS BIGINT) AS n_dropped,
      |  CAST(coalesce(cv.nc, 0) AS DOUBLE) / len(d.t) AS $fracCol,
      |  coalesce(k.clean_text, '') AS clean_text
      |FROM toks d LEFT JOIN cv USING (doc_id) LEFT JOIN kept k USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Exact cosine scoring of queries 0–4 against every other vector:
    * `d` (prepared vectors), `q` (query_id, qv) and `scored` (query_id,
    * vec_id, cosine) — the brute-force top-k baseline.
    */
  private val ExactTopKCtes = s"""d AS (${Similarity.Sql.prepared}),
    |q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < 5),
    |scored AS (
    |  SELECT query_id, vec_id, ${Similarity.Sql.cosine("qv", "v")} AS cosine
    |  FROM d CROSS JOIN q WHERE vec_id <> query_id)""".stripMargin

  /** Oracle of the top-k recall witnesses: per query, the exact top-10's
    * size beside the `bound` literal.
    */
  private def topKRecallBoundSql(bound: String): String =
    s"""WITH $ExactTopKCtes,
      |ex AS (SELECT query_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM scored) WHERE rank <= 10)
      |SELECT query_id, count(*) AS n_exact,
      |  CAST($bound AS DOUBLE) AS recall_bound,
      |  CAST(1 AS INT) AS within_bound
      |FROM ex GROUP BY query_id ORDER BY query_id""".stripMargin

  /** The %11 benchmark/corpus split (`bench`, `corp`) and the benchmark's
    * distinct 5-grams `bg` — the head of every decontamination oracle.
    */
  private val BenchGramCtes = s"""bench AS (SELECT * FROM documents WHERE doc_id % 11 = 0),
    |corp AS (SELECT * FROM documents WHERE doc_id % 11 <> 0),
    |bg AS (SELECT DISTINCT unnest($GRAM5) AS g
    |  FROM (SELECT string_split(text, ' ') AS t FROM bench))""".stripMargin

  /** `cg`: the distinct 5-grams of each document of CTE `src`. */
  private def docGramCte(src: String): String =
    s"""cg AS (SELECT doc_id, unnest(list_distinct($GRAM5)) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $src))""".stripMargin

  /** The C4 quality rules as one predicate over `text` — the persisted
    * quality flags' `keep`.
    */
  private val C4KeepSql = """len(string_split(text, ' ')) >= 20
    |  AND CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
    |    / length(text) < 0.1
    |  AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
    |    / len(string_split(text, ' ')) > 0.3""".stripMargin

  /** The share of a document's bigrams that repeat an earlier one
    * (0.0 for a one-token text) — the Gopher repetition signal.
    */
  private val DupBigramFracSql = """CASE WHEN len(string_split(text, ' ')) > 1 THEN
    |    1.0 - CAST(len(list_distinct(list_transform(
    |      generate_series(1, len(string_split(text, ' ')) - 1),
    |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])))
    |      AS DOUBLE) / (len(string_split(text, ' ')) - 1)
    |    ELSE 0.0 END""".stripMargin

  /** The Gopher rules as one predicate over `text` — the persisted
    * Gopher flags' `keep`.
    */
  private val GopherKeepSql = s"""len(string_split(text, ' ')) >= 50 AND len(string_split(text, ' ')) <= 100000
    |  AND (length(text) - len(string_split(text, ' ')) + 1)
    |    / CAST(len(string_split(text, ' ')) AS DOUBLE) BETWEEN 3.0 AND 10.0
    |  AND ($DupBigramFracSql) <= 0.2
    |  AND ${TextAnalysis.Sql.stopHits} >= 2""".stripMargin

  /** The clean pipelines' quality → decontamination prefix over the %11
    * corpus: C4 survivors `q`, then `dcn`, those sharing no 5-gram with
    * the benchmark.
    */
  private val DeconCtes = s"""$BenchGramCtes,
    |q AS (SELECT * FROM corp WHERE $C4KeepSql),
    |${docGramCte("q")},
    |dcn AS (SELECT * FROM q WHERE doc_id NOT IN (SELECT doc_id FROM cg JOIN bg USING (g)))""".stripMargin

  /** [[DeconCtes]] → lexical near-dedup: the greedy drop `dropset`
    * (each 0.8-jaccard pair between two decontaminated docs drops its
    * higher id) and the survivors `lex` (doc_id).
    */
  private val LexDedupCtes = s"""$DeconCtes,
    |$NearDupPairsCtes,
    |dropset AS (SELECT DISTINCT doc_id2 FROM prs
    |  WHERE doc_id1 IN (SELECT doc_id FROM dcn)
    |    AND doc_id2 IN (SELECT doc_id FROM dcn)),
    |lex AS (SELECT doc_id FROM dcn
    |  WHERE doc_id NOT IN (SELECT doc_id2 FROM dropset))""".stripMargin

  /** [[LexDedupCtes]] → the scale-shape semantic stage: the sign-LSH
    * verified pairs ([[lshPairsSqlCtes]]) between two lexical survivors
    * drop their higher id (`semdrop`).
    */
  private val SemLshDedupCtes = s"""$LexDedupCtes,
    |$lshPairsSqlCtes,
    |semdrop AS (SELECT DISTINCT vec_id2 FROM allp
    |  WHERE vec_id1 IN (SELECT doc_id FROM lex)
    |    AND vec_id2 IN (SELECT doc_id FROM lex))""".stripMargin

  /** The exact-contamination oracle (q_contamination's SQL) — also the
    * oracle of q_bloom_contamination verbatim: the bloom pre-filter
    * admits false positives but never false negatives, so exact-verify
    * restricted to candidates IS the exact answer.
    */
  private val EXACT_CONTAM_SQL = s"""WITH $BenchGramCtes,
    |${docGramCte("corp")}
    |SELECT doc_id, count(*) AS n_collisions
    |FROM cg JOIN bg USING (g)
    |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the bloom probe — the shared CTE prefix of the
    * q_bloom_* oracles: %11 splits, benchmark gram fingerprints, the
    * 63-bit-packed word table (geometry interpolated from
    * [[Dedup.BloomBits]]/[[Dedup.BloomHashes]] so the two engines can
    * never disagree on a constant), and the per-(doc, gram)
    * all-bits-set probe. Ends with the `cand` CTE (bloom-flagged docs +
    * hit counts); `cg`/`bg` remain visible for the witness's exact side.
    */
  private val BLOOM_CTES = {
    val m = Dedup.BloomBits
    val probe = s"((fp % $m) + s * (1 + fp % ${m - 1})) % $m AS p"
    val seeds = s"generate_series(0, ${Dedup.BloomHashes - 1}) AS t(s)"
    s"""WITH $BenchGramCtes,
    |bfp AS (SELECT DISTINCT ${TextAnalysis.Sql.fingerprintOf("g")} AS fp FROM bg),
    |words AS (SELECT p // 63 AS word,
    |    bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
    |  FROM (SELECT $probe FROM bfp, $seeds) GROUP BY 1),
    |${docGramCte("corp")},
    |cfp AS (SELECT doc_id, g, ${TextAnalysis.Sql.fingerprintOf("g")} AS fp FROM cg),
    |chk AS (SELECT doc_id, g,
    |    bool_and((COALESCE(bits, CAST(0 AS BIGINT)) &
    |      (CAST(1 AS BIGINT) << CAST(p % 63 AS INT))) <> 0) AS hit
    |  FROM (SELECT doc_id, g, $probe FROM cfp, $seeds) cp
    |  LEFT JOIN words ON cp.p // 63 = words.word
    |  GROUP BY doc_id, g),
    |cand AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
    |  FROM chk WHERE hit GROUP BY doc_id)""".stripMargin
  }

  /** The registry's BPE merge count. Referenced by the persisted-table
    * build, the registry's artifact read, and BOTH generated oracles —
    * one site, so the four can never silently disagree.
    */
  private val DefaultBpeMerges = 5
  private val DefaultUnigramKeep = 3

  /** The shared training chain of both BPE oracles: words, char seg0,
    * and k rounds of pair-count → argmax → string-fold re-segmentation,
    * each stage carrying `w` so the final `seg<k>` doubles as every word
    * type's ENCODING (the encode oracle reads it directly instead of
    * re-folding a parallel chain). The fold stage LEFT JOINs its argmax
    * ON true: an exhausted corpus leaves `best<i>` empty, the NULL pair
    * makes every fold step take the ELSE branch, and the seg chain
    * passes through unchanged — matching the Spark side, which simply
    * has fewer merges to apply. Generated programmatically so the
    * oracles' round count always matches the registry call.
    */
  private def bpeStagesSql(k: Int): String = {
    val stages = (1 to k).map { i =>
      s"pc$i AS (SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS pair_count " +
        s"FROM (SELECT freq, unnest(list_transform(seg[1:len(seg)-1], " +
        s"(x, j) -> struct_pack(l := x, r := seg[j+1]))) AS p FROM seg${i - 1}) " +
        "GROUP BY 1, 2), " +
        s"best$i AS (SELECT l, r, pair_count FROM pc$i " +
        "ORDER BY pair_count DESC, l, r LIMIT 1), " +
        s"fold$i AS (SELECT w, freq, list_reduce(list_prepend('', seg), " +
        "(a, x) -> CASE WHEN ends_with(a, ' ' || b.l) AND x = b.r " +
        "THEN a || x ELSE a || ' ' || x END) AS f " +
        s"FROM seg${i - 1} LEFT JOIN best$i b ON true), " +
        s"seg$i AS (SELECT w, freq, list_filter(string_split(f, ' '), s -> s <> '') AS seg FROM fold$i)"
    }
    "words AS (SELECT tok AS w, count(*) AS freq " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
      "WHERE tok <> '' GROUP BY 1), " +
      "seg0 AS (SELECT w, freq, list_filter(string_split(w, ''), s -> s <> '') AS seg FROM words), " +
      stages.mkString(", ")
  }

  /** Unrolled k-stage DuckDB mirror of [[TextAnalysis.bpeMerges]]. */
  private def bpeOracleSql(k: Int): String = {
    val unions = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, " +
        s"l || r AS merged, pair_count FROM best$i")
      .mkString(" UNION ALL ")
    "WITH " + bpeStagesSql(k) + " " + unions + " ORDER BY merge_rank"
  }

  /** Unigram-vocab oracle — the mirror of [[TextAnalysis.unigramVocab]]:
    * piece counts from the unrolled chain's final `seg<k>`, the exact
    * HUGEINT numerator/denominator folds (position order, matching the
    * Spark DECIMAL(38,0) folds bit-for-bit after the one double
    * division), and the same (gain, count, piece) keep-cut.
    */
  private def unigramStagesSql(k: Int, keep: Int): String =
    bpeStagesSql(k) + ", " +
      s"pcs AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS piece_count " +
      s"FROM (SELECT unnest(seg) AS piece, freq FROM seg$k) GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(piece_count) AS BIGINT) AS t_occ, " +
      "count(*) AS n_vocab FROM pcs), " +
      "cc AS (SELECT piece AS ch, piece_count AS ch_count FROM pcs WHERE len(piece) = 1), " +
      "ex AS (SELECT piece, unnest(list_transform(string_split(piece, ''), " +
      "(c, j) -> struct_pack(c := c, j := j))) AS u FROM pcs), " +
      "pch AS (SELECT ex.piece, u.j AS pos, coalesce(cc.ch_count, CAST(0 AS BIGINT)) AS c_cnt " +
      "FROM ex LEFT JOIN cc ON u.c = cc.ch), " +
      "den AS (SELECT piece, list_reduce(list_prepend(CAST(1 AS HUGEINT), " +
      "list_transform(list(c_cnt + 1 ORDER BY pos), x -> CAST(x AS HUGEINT))), " +
      "(a, x) -> a * x) AS den_exact FROM pch GROUP BY piece), " +
      "num AS (SELECT pcs.piece, list_reduce(list_prepend(CAST(piece_count + 1 AS HUGEINT), " +
      "list_transform(range(2, len(piece) + 1), x -> CAST(t_occ + n_vocab AS HUGEINT))), " +
      "(a, x) -> a * x) AS num_exact FROM pcs, tot), " +
      "sc AS (SELECT pcs.piece, CAST(len(pcs.piece) AS INT) AS piece_len, pcs.piece_count, " +
      "CASE WHEN len(pcs.piece) = 1 THEN CAST(1.0 AS DOUBLE) " +
      "ELSE CAST(num_exact AS DOUBLE) / CAST(den_exact AS DOUBLE) END AS gain " +
      "FROM pcs JOIN num USING (piece) JOIN den USING (piece)), " +
      s"kp AS (SELECT piece FROM sc WHERE piece_len > 1 " +
      s"ORDER BY gain DESC, piece_count DESC, piece LIMIT $keep)"

  private def unigramVocabOracleSql(k: Int, keep: Int): String =
    "WITH " + unigramStagesSql(k, keep) + " " +
      "SELECT piece, piece_len, piece_count, gain, " +
      "CAST(piece_len = 1 OR piece IN (SELECT piece FROM kp) AS INT) AS kept " +
      "FROM sc ORDER BY piece"

  /** Encode oracle — the mirror of [[TextAnalysis.unigramEncode]]: the
    * kept pieces fold into one length-desc list and each word type runs
    * the identical greedy longest-prefix fold, bounded by word length
    * via the dummy-element list_reduce init trick from the BPE stages.
    * The fold state is a single `<pos>|<segments>` VARCHAR, parsed at
    * the FIRST pipe each step — DuckDB's list_reduce miscompiles STRUCT
    * and nested-LIST accumulators (the vectorization-bug family the
    * round-10 alert-throttle oracle hit; reproduced here: the scalar
    * fields fold correctly while the list field collapses), but scalar
    * VARCHAR accumulation is exactly what the proven BPE fold uses.
    */
  private def unigramEncodeOracleSql(k: Int, keep: Int): String = {
    // the greedy step's chosen piece (longest kept prefix, else the char
    // at the cursor); `ap` is the cursor parse spelled inline
    val ap = "CAST(substr(a, 1, strpos(a, '|') - 1) AS BIGINT)"
    val pc = s"coalesce(list_filter(ps, q -> substr(w, $ap, len(q)) = q)[1], " +
      s"substr(w, $ap, 1))"
    "WITH " + unigramStagesSql(k, keep) + ", " +
      "kpl AS (SELECT coalesce(list(piece ORDER BY len(piece) DESC, piece), " +
      "CAST([] AS VARCHAR[])) AS ps FROM kp), " +
      "enc AS (SELECT w, list_reduce(list_prepend('1|', " +
      "list_transform(range(1, len(w) + 1), i -> '')), " +
      s"(a, x) -> CASE WHEN $ap > len(w) THEN a ELSE " +
      s"CAST($ap + len($pc) AS VARCHAR) || '|' || " +
      s"substr(a, strpos(a, '|') + 1) || ' ' || $pc END) AS st " +
      "FROM (SELECT DISTINCT w FROM words), kpl), " +
      OccCte + " " +
      "SELECT o.doc_id, o.pos, o.w AS word, " +
      "substr(st, strpos(st, '|') + 2) AS encoded " +
      "FROM occ o JOIN enc ON o.w = enc.w ORDER BY doc_id, pos"
  }

  /** `occ` (doc_id, pos, w): every non-empty token occurrence, 0-based,
    * the rows the tokenizer encode oracles join their encodings back to.
    */
  private val OccCte =
    "occ AS (SELECT doc_id, CAST(p.i - 1 AS INTEGER) AS pos, p.w AS w " +
      "FROM (SELECT doc_id, unnest(list_transform(" +
      "list_filter(string_split(text, ' '), t -> t <> ''), " +
      "(w, i) -> struct_pack(w := w, i := i))) AS p FROM documents))"

  /** Encode oracle — the mirror of [[TextAnalysis.bpeEncode]]: the
    * training chain's final `seg<k>` IS every word type's encoding
    * (merge equality with the persisted artifact is separately
    * hash-proven by q_bpe_merges), so this just joins occurrences back.
    */
  private def bpeEncodeOracleSql(k: Int): String =
    "WITH " + bpeStagesSql(k) + ", " +
      OccCte + " " +
      s"SELECT o.doc_id, o.pos, o.w AS word, array_to_string(ws.seg, ' ') AS encoded " +
      s"FROM occ o JOIN seg$k ws ON o.w = ws.w ORDER BY doc_id, pos"

  // ---------------------------------------------------------------- registry

  /** One side `x` of the DSIR model (documents whose source matches
    * `pred`): its positioned bigrams `xb`, hashed to 4096 buckets `xbh`
    * (doc_id, pos, b), per-bucket counts `cx` (b, c_x) and total `tx`.
    */
  private def dsirBigramCtes(x: String, pred: String): String =
    s"""${x}b AS (SELECT doc_id, i - 1 AS pos, t[i] || ' ' || t[i+1] AS g
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |              WHERE source $pred))),
      |${x}bh AS (SELECT doc_id, pos, ${TextAnalysis.Sql.fingerprintOf("g")} % 4096 AS b FROM ${x}b),
      |c$x AS (SELECT b, count(*) AS c_$x FROM ${x}bh GROUP BY b),
      |t$x AS (SELECT count(*) AS t_$x FROM ${x}bh)""".stripMargin

  /** Shared DuckDB CTE chain of the two DSIR oracles — one definition so
    * the smoothing / hashing mirror cannot silently diverge between the
    * weights and selection queries (both re-derive the frozen model's
    * counts, which is what hash-proves the persisted tables).
    */
  private val dsirOracleCtes: String =
    s"""WITH ${dsirBigramCtes("t", "= 'src0'")},
      |${dsirBigramCtes("r", "<> 'src0'")},
      |sc AS (SELECT doc_id, pos,
      |  CAST(CAST(COALESCE(c_t, 0) + 1 AS HUGEINT) * (t_r + 4096) AS DOUBLE)
      |    / CAST(CAST(c_r + 1 AS HUGEINT) * (t_t + 4096) AS DOUBLE) AS ratio
      |  FROM rbh LEFT JOIN ct USING (b) JOIN cr USING (b)
      |  CROSS JOIN tt CROSS JOIN tr),
      |p AS (SELECT doc_id, count(*) AS n_grams,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(list_sort(list(struct_pack(pos := pos, ratio := ratio))),
      |      x -> x.ratio)), (a, b) -> a + b) AS ratio_sum
      |  FROM sc GROUP BY doc_id)""".stripMargin

  /** (name, spark query, optional DuckDB oracle). Single source of truth. */
  private lazy val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- consumer streaming queries, batch form (SURVEY.md §2.1-2.5, 2.9)
    ("q_windowed_agg",
      (s, d) => aggFlat(s, d).orderBy("partition_key"),
      Some(s"""$WITH_NORM_AGG SELECT * FROM agg ORDER BY partition_key""")),

    // A1's 100 TB shape: per-severity count map (one column per severity —
    // constant-width rows, O(4) agg state, fully map-side combinable)
    // instead of collect_list of every event's severity
    ("q_windowed_agg_counts",
      (s, d) => StreamAggregates.windowedAggregateCounts(norm(s, d)).orderBy("partition_key"),
      Some(s"""$WITH_NORM
        |SELECT city || '#' || event_type || '#' || strftime(ws, '%Y-%m-%dT%H:%M:%S') AS partition_key,
        |  strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  strftime(ws + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS window_end,
        |  city, event_type, count(*) AS event_count,
        |  count(*) FILTER (WHERE severity = 'low') AS n_low,
        |  count(*) FILTER (WHERE severity = 'medium') AS n_medium,
        |  count(*) FILTER (WHERE severity = 'high') AS n_high,
        |  count(*) FILTER (WHERE severity = 'critical') AS n_critical,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_updated
        |FROM (SELECT *, time_bucket(INTERVAL '5 minutes', ts) AS ws FROM norm)
        |GROUP BY ws, city, event_type ORDER BY partition_key""".stripMargin)),

    ("q_raw_events",
      (s, d) => StreamAggregates.rawEvents(norm(s, d)).orderBy("rec_id", "severity"),
      Some(s"""$WITH_NORM
        |SELECT rec_id, ts_str, city, event_type, severity, description
        |FROM norm ORDER BY rec_id, severity""".stripMargin)),

    // last-writer-wins dedup of colliding rec_ids (same city+type+second,
    // SURVEY.md §1.2): max event_id wins, mirroring putItem arrival order
    ("q_raw_events_dedup",
      (s, d) => StreamAggregates.rawEventsDeduped(norm(s, d)).orderBy("rec_id"),
      Some(s"""$WITH_NORM,
        |r AS (SELECT *, row_number() OVER (PARTITION BY rec_id ORDER BY event_id DESC) AS rn
        |  FROM norm)
        |SELECT rec_id, ts_str, city, event_type, severity, description
        |FROM r WHERE rn = 1 ORDER BY rec_id""".stripMargin)),

    // S4 TTL/retention: raw events carry ttl = ts + 15 days; the read-time
    // retention filter (pinned now = max ts) drops expired rows — the
    // reference's DynamoDB TTL expiry as a scan predicate.
    ("q_raw_events_live",
      (s, d) => Retention.retainedAtMaxTs(Retention.withTtl(norm(s, d), "15 days"))
        .select(col("rec_id"), col("ts_str"), col("city"), col("event_type"),
          col("severity"), col("description"),
          date_format(col("ttl"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ttl_str"))
        .orderBy("rec_id", "severity"),
      Some(s"""$WITH_NORM
        |SELECT rec_id, ts_str, city, event_type, severity, description,
        |  strftime(ts + INTERVAL '15 days', '%Y-%m-%d %H:%M:%S.%f') AS ttl_str
        |FROM norm
        |WHERE ts + INTERVAL '15 days' > (SELECT max(ts) FROM norm)
        |ORDER BY rec_id, severity""".stripMargin)),

    ("q_alerts",
      (s, d) => alertsOf(s, d)
        .select("event_id", "city", "ts_str", "event_type", "severity", "description", "rec_id")
        .orderBy("event_id"),
      Some(s"""$WITH_NORM_ALERTS
        |SELECT event_id, city, ts_str, event_type, severity, description, rec_id
        |FROM alerts ORDER BY event_id""".stripMargin)),

    ("q_global_counts",
      (s, d) => StreamAggregates.globalCounts(norm(s, d))
        .orderBy("city", "event_type", "severity"),
      Some(s"""$WITH_NORM
        |SELECT city, event_type, severity, count(*) AS event_count
        |FROM norm GROUP BY city, event_type, severity
        |ORDER BY city, event_type, severity""".stripMargin)),

    // ---- serving layer: the 7 REST endpoints (SURVEY.md §2.11)
    ("q_health",
      (s, d) => Serving.health(eventsTable(s, d)),
      Some(s"""$WITH_NORM SELECT 'healthy' AS status, count(*) AS events_seen FROM norm""")),

    ("q_events_by_city",
      (s, d) => Serving.eventsByCity(eventsTable(s, d), "NYC", 20),
      Some(s"""$WITH_NORM
        |SELECT event_id, rec_id, ts_str, city, event_type, severity, description
        |FROM norm WHERE city = 'NYC'
        |ORDER BY ts DESC, event_id DESC LIMIT 20""".stripMargin)),

    ("q_summary_city",
      (s, d) => Serving.summary(aggTable(s, d), "LA").orderBy("event_type"),
      Some(s"""$WITH_NORM_AGG
        |SELECT event_type, CAST(sum(event_count) AS BIGINT) AS total_events
        |FROM agg WHERE city = 'LA' GROUP BY event_type ORDER BY event_type""".stripMargin)),

    ("q_cities",
      (s, d) => Serving.cities(aggTable(s, d)),
      Some(s"""$WITH_NORM_AGG
        |SELECT city, CAST(sum(event_count) AS BIGINT) AS total_events
        |FROM agg GROUP BY city ORDER BY total_events DESC, city""".stripMargin)),

    ("q_alerts_recent",
      (s, d) => Serving.alertsRecent(alertsTable(s, d), None, 24),
      Some(s"""$WITH_NORM_ALERTS
        |SELECT event_id, city, ts_str, event_type, severity, description, rec_id
        |FROM alerts
        |WHERE ts >= (SELECT max(ts) FROM alerts) - INTERVAL '24 hours'
        |ORDER BY ts DESC, event_id DESC LIMIT 50""".stripMargin)),

    // 96h window: wide enough to return rows at the sf0.01 gate (a 0-row
    // pass verifies nothing)
    ("q_alerts_city_recent",
      (s, d) => Serving.alertsRecent(alertsTable(s, d), Some("Chicago"), 96),
      Some(s"""$WITH_NORM_ALERTS
        |SELECT event_id, city, ts_str, event_type, severity, description, rec_id
        |FROM alerts
        |WHERE city = 'Chicago'
        |  AND ts >= (SELECT max(ts) FROM alerts) - INTERVAL '96 hours'
        |ORDER BY ts DESC, event_id DESC LIMIT 50""".stripMargin)),

    ("q_aggregations_recent",
      (s, d) => Serving.aggregationsFor(aggFlatTable(s, d), "NYC", "error", 10),
      Some(s"""$WITH_NORM_AGG
        |SELECT * FROM agg WHERE city = 'NYC' AND event_type = 'error'
        |ORDER BY window_start DESC LIMIT 10""".stripMargin)),

    // ---- serving parameter matrix (reference test-api.sh:23-58 probes each
    // endpoint at several (city, eventType, hours, limit) combos; one extra
    // fixture per endpoint family keeps the parameterization honest)
    ("q_events_by_city_sf",
      (s, d) => Serving.eventsByCity(eventsTable(s, d), "SF", 3),
      Some(s"""$WITH_NORM
        |SELECT event_id, rec_id, ts_str, city, event_type, severity, description
        |FROM norm WHERE city = 'SF'
        |ORDER BY ts DESC, event_id DESC LIMIT 3""".stripMargin)),

    ("q_summary_city_boston",
      (s, d) => Serving.summary(aggTable(s, d), "Boston").orderBy("event_type"),
      Some(s"""$WITH_NORM_AGG
        |SELECT event_type, CAST(sum(event_count) AS BIGINT) AS total_events
        |FROM agg WHERE city = 'Boston' GROUP BY event_type ORDER BY event_type""".stripMargin)),

    ("q_alerts_seattle_12h",
      (s, d) => Serving.alertsRecent(alertsTable(s, d), Some("Seattle"), 12),
      Some(s"""$WITH_NORM_ALERTS
        |SELECT event_id, city, ts_str, event_type, severity, description, rec_id
        |FROM alerts
        |WHERE city = 'Seattle'
        |  AND ts >= (SELECT max(ts) FROM alerts) - INTERVAL '12 hours'
        |ORDER BY ts DESC, event_id DESC LIMIT 50""".stripMargin)),

    ("q_aggregations_sf_view",
      (s, d) => Serving.aggregationsFor(aggFlatTable(s, d), "SF", "view", 3),
      Some(s"""$WITH_NORM_AGG
        |SELECT * FROM agg WHERE city = 'SF' AND event_type = 'view'
        |ORDER BY window_start DESC LIMIT 3""".stripMargin)),

    ("q_aggregations_chicago_purchase",
      (s, d) => Serving.aggregationsFor(aggFlatTable(s, d), "Chicago", "purchase", 5),
      Some(s"""$WITH_NORM_AGG
        |SELECT * FROM agg WHERE city = 'Chicago' AND event_type = 'purchase'
        |ORDER BY window_start DESC LIMIT 5""".stripMargin)),

    ("q_stats_total",
      (s, d) => Serving.statsTotal(aggTable(s, d)),
      Some(s"""$WITH_NORM_AGG SELECT CAST(sum(event_count) AS BIGINT) AS total_events FROM agg""")),

    ("q_alert_severity_counts",
      (s, d) => Serving.alertSeverityCounts(alertsTable(s, d), s).orderBy("severity"),
      Some(s"""$WITH_NORM_ALERTS
        |SELECT s.severity, coalesce(c.alert_count, 0) AS alert_count
        |FROM (VALUES ('high'), ('critical')) s(severity)
        |LEFT JOIN (SELECT severity, count(*) AS alert_count FROM alerts GROUP BY severity) c
        |  USING (severity)
        |ORDER BY severity""".stripMargin)),

    ("q_funnel",
      (s, d) => Serving.conversionFunnel(Tables.events(s, d)),
      Some("""WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT DISTINCT e.user_id FROM events e
        |  JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts)
        |SELECT (SELECT count(*) FROM s) AS signed_up,
        |       (SELECT count(*) FROM c) AS converted""".stripMargin)),

    // ordered 3-step funnel: first-signup < first-view < first-purchase
    // per user — conditional-min FILTER aggregation, one pass, no joins
    ("q_funnel_ordered",
      (s, d) => Serving.orderedFunnel(Tables.events(s, d)),
      Some("""WITH f AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT count(t_signup) AS signed_up,
        |  count(CASE WHEN t_signup < t_view THEN 1 END) AS then_viewed,
        |  count(CASE WHEN t_signup < t_view AND t_view < t_purchase THEN 1 END)
        |    AS then_purchased
        |FROM f""".stripMargin)),

    // day × hour PIVOT heatmap: static explicit hour list (h0..h23) so
    // the schema is data-independent; empty cells zero-filled
    ("q_day_hour_heatmap",
      (s, d) => Serving.dayHourHeatmap(Tables.events(s, d)),
      Some(s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  ${(0 to 23).map(h =>
             s"CAST(count(CASE WHEN hour(ts) = $h THEN 1 END) AS BIGINT) AS h$h")
             .mkString(", ")}
        |FROM events GROUP BY day ORDER BY day""".stripMargin)),

    // rolling 7-day active users (WAU): contribute-then-count — the
    // (user, day) grid distinct-reduces, each row explodes into its <= 7
    // window-end days, one distinct-count per day finishes; no per-day
    // rescan, no windowed distinct. Trailing windows drain past the last
    // data day by design (the window emptying is part of the curve).
    ("q_rolling_active",
      (s, d) => Serving.rollingActive(Tables.events(s, d)),
      Some("""WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        |  FROM events),
        |w AS (SELECT user_id, unnest(generate_series(day,
        |  day + INTERVAL '6 days', INTERVAL '1 day')) AS window_end FROM ud)
        |SELECT strftime(window_end, '%Y-%m-%d') AS window_end,
        |  count(DISTINCT user_id) AS active_users
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin)),

    ("q_daily_active",
      (s, d) => Serving.dailyActive(Tables.events(s, d)),
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  count(DISTINCT user_id) AS active_users, count(*) AS event_count
        |FROM events GROUP BY day ORDER BY day""".stripMargin)),

    // cohort retention: users cohort by first-event week; each
    // (cohort_week, weeks_since) cell counts users still active. Both
    // weeks Monday-truncated, so the day difference is a multiple of 7
    // and the division is integer-exact on both engines.
    ("q_retention_cohorts",
      (s, d) => Serving.retentionCohorts(Tables.events(s, d)),
      Some("""WITH weekly AS (SELECT DISTINCT user_id,
        |  date_trunc('week', ts) AS event_week FROM events),
        |cohorts AS (SELECT user_id, min(event_week) AS cohort_week
        |  FROM weekly GROUP BY user_id)
        |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
        |  CAST(date_diff('day', cohort_week, event_week) / 7 AS BIGINT) AS weeks_since,
        |  count(DISTINCT w.user_id) AS active_users
        |FROM weekly w JOIN cohorts USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- window variants (SURVEY.md T2 extensions)
    ("q_sliding_window",
      (s, d) => StreamAggregates.slidingCounts(norm(s, d))
        .orderBy("window_start", "event_type"),
      Some(s"""$WITH_NORM,
        |b AS (SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) AS b5 FROM norm),
        |w AS (SELECT event_type, unnest([b5, b5 - INTERVAL '5 minutes']) AS ws FROM b)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  strftime(ws + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS window_end,
        |  event_type, count(*) AS event_count
        |FROM w GROUP BY ws, event_type
        |ORDER BY window_start, event_type""".stripMargin)),

    ("q_session_window",
      (s, d) => StreamAggregates.userSessions(norm(s, d))
        .orderBy("user_id", "session_start"),
      Some(s"""$WITH_NORM,
        |o AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM norm WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |  count(*) AS event_count
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // batch analog of the custom-state streak operator (round-7 verdict
    // next-round 3: the flatMapGroupsWithState op was the only custom
    // stateful surface with no oracle-green counterpart). Gaps-and-islands
    // windows; DuckDB mirrors the rn/running-count island id with the same
    // explicit ROWS frame and (ts, hi) tie order. Batch-vs-stream parity on
    // one fixture is spec'd in StatefulSpec. Registered at minStreak = 2,
    // NOT the operator default 3: the shipped testdata's longest
    // consecutive-high run is 2 at every scale factor, so a threshold of 3
    // made this a 0≡0 oracle row that could not tell the real operator from
    // `WHERE false` (round-8 VERDICT-1 — the same vacuity rule as the
    // non-vacuous q_anti_join_events twin). At 2 the row is non-vacuous at
    // every SF (1 row sf0.01, 7 rows sf0.1).
    // Rolling alert suppression (paging throttle): per (city, severity)
    // an alert emits only if >= 24h passed since the last EMITTED alert —
    // prefix-dependent (no window function expresses it), folded in-row
    // per key. The oracle replays the emission chain as a RECURSIVE CTE
    // (each step: the argmin-(ts, id) alert at least the gap after the
    // previous emission) — NOT as a list_reduce fold: DuckDB 1.0's
    // list_reduce cross-contaminates accumulators across rows in a
    // vectorized batch (two cities came back with identical emission
    // lists; correct when filtered to one key — probed directly, the
    // second such landmine after the struct-accumulator loss the BPE
    // oracle dodged). Even this sequential operator hash-checks end to
    // end.
    ("q_alert_throttle",
      (s, d) => graft.streaming.Stateful.alertThrottleBatch(alertsTable(s, d))
        .select(col("city"), col("severity"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("event_id")),
      Some(s"""WITH RECURSIVE norm AS ($NORM),
        |alerts AS (SELECT * FROM norm WHERE severity IN ('high','critical')),
        |ordered AS (SELECT city, severity, ts, event_id,
        |  row_number() OVER (PARTITION BY city, severity ORDER BY ts, event_id) AS rn
        |  FROM alerts),
        |em AS (
        |  SELECT city, severity, ts, event_id FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT city, severity, nxt.ts AS ts, nxt.id AS event_id FROM (
        |    SELECT em.city, em.severity,
        |      (SELECT min(struct_pack(ts := o.ts, id := o.event_id)) FROM ordered o
        |        WHERE o.city = em.city AND o.severity = em.severity
        |          AND o.ts >= em.ts + INTERVAL '24 hours') AS nxt
        |    FROM em) t WHERE nxt IS NOT NULL
        |)
        |SELECT city, severity, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, event_id
        |FROM em ORDER BY city, severity, ts, event_id""".stripMargin)),

    ("q_severity_streaks",
      (s, d) => graft.streaming.Stateful.severityStreaksBatch(norm(s, d), minStreak = 2)
        .select(col("city"), col("streak"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
        .orderBy("city", "last_ts"),
      Some(SeverityStreaksSql)),

    // the SCALE-SAFE two-phase segmented stitch (parallelism ∝ city ×
    // time-segment, not the 6-city ceiling — round-8 verdict 4), re-oracled
    // against the SAME DuckDB gaps-and-islands query: equivalence to the
    // one-phase form is spec'd (StatefulSpec), this row makes it
    // driver-visible. 30-minute segments ⇒ real boundary-crossing runs at
    // every shipped SF.
    ("q_severity_streaks_seg",
      (s, d) => graft.streaming.Stateful.severityStreaksBatchSegmented(
        norm(s, d), minStreak = 2, segment = "30 minutes")
        .select(col("city"), col("streak"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
        .orderBy("city", "last_ts"),
      Some(SeverityStreaksSql)),

    // ---- relational extension surface (SURVEY.md §2.4/§2.7, §7.2 M4)
    ("q_pricing_summary",
      (s, d) => Relational.pricingSummary(Tables.lineitem(s, d)),
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1.00 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    ("q_events_enriched",
      (s, d) => Relational.eventsEnriched(Tables.events(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d)),
      Some("""SELECT r_name AS region_name, n_name AS nation_name,
        |  count(*) AS event_count,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY region_name, nation_name""".stripMargin)),

    ("q_top_customers",
      (s, d) => Relational.topCustomers(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d)),
      Some("""SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin)),

    // TPC-H Q5-shaped: the 6-way join-ordering showcase — revenue per
    // nation of one region where supplier and customer nations coincide;
    // dims all broadcast, orders⨝lineitem the only shuffle
    ("q_local_supplier_volume",
      (s, d) => Relational.localSupplierVolume(Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.region(s, d)),
      Some("""SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),

    ("q_semi_join",
      (s, d) => Relational.customersWithBigOrders(Tables.customer(s, d),
        Tables.orders(s, d), 100000.0),
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin)),

    ("q_anti_join",
      (s, d) => Relational.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d)),
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin)),

    // non-vacuous anti-join twin of q_anti_join (which is legitimately
    // empty at test scale: every customer has orders): customers who never
    // produced a purchase event
    ("q_anti_join_events",
      (s, d) => Relational.customersWithoutOrders(Tables.customer(s, d),
        Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id").as("o_custkey"))),
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT user_id FROM events WHERE event_type = 'purchase')
        |ORDER BY c_custkey""".stripMargin)),

    ("q_topk_per_group",
      (s, d) => Relational.topTypesPerCity(norm(s, d)),
      Some(s"""$WITH_NORM,
        |counts AS (SELECT city, event_type, count(*) AS event_count
        |  FROM norm GROUP BY city, event_type)
        |SELECT * FROM (
        |  SELECT city, event_type, event_count,
        |    row_number() OVER (PARTITION BY city ORDER BY event_count DESC, event_type) AS rank
        |  FROM counts)
        |WHERE rank <= 2 ORDER BY city, rank""".stripMargin)),

    ("q_rollup",
      (s, d) => Relational.cityTypeRollup(norm(s, d)),
      Some(s"""$WITH_NORM
        |SELECT coalesce(city, 'ALL') AS city, coalesce(event_type, 'ALL') AS event_type,
        |  count(*) AS event_count
        |FROM norm GROUP BY ROLLUP(city, event_type)
        |ORDER BY city, event_type""".stripMargin)),

    // as-of join composed from union+window; DuckDB's native ASOF JOIN is
    // the oracle (orders pre-deduped per (user, date) on both sides so ties
    // resolve identically)
    ("q_asof_join",
      (s, d) => Relational.asOfJoinOrders(Tables.events(s, d), Tables.orders(s, d)),
      Some("""WITH dedup AS (
        |  SELECT o.* FROM (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |    FROM orders GROUP BY o_custkey, o_orderdate) k
        |  JOIN orders o USING (o_custkey, o_orderdate, o_orderkey))
        |SELECT e.event_id, e.user_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
        |  o.o_orderkey, o.o_totalprice
        |FROM events e
        |ASOF LEFT JOIN dedup o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY event_id""".stripMargin)),

    // bucketed range join (equi-join on (user, time bucket) + residual
    // range predicate — never a nested-loop); oracle is the plain range join
    ("q_range_join",
      (s, d) => Relational.eventsNearAnchors(Tables.events(s, d)),
      Some("""SELECT a.event_id, count(*) AS n_nearby,
        |  max(e.event_id) AS last_event
        |FROM events a JOIN events e
        |  ON a.user_id = e.user_id
        | AND e.event_id <> a.event_id
        | AND e.ts >= a.ts - INTERVAL '1 hour'
        | AND e.ts < a.ts + INTERVAL '1 hour'
        |WHERE a.value >= 250
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin)),

    ("q_user_quartiles",
      (s, d) => Relational.userActivityQuartiles(Tables.events(s, d)),
      Some("""WITH c AS (SELECT user_id, count(*) AS event_count
        |  FROM events GROUP BY user_id)
        |SELECT user_id, event_count,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank
        |FROM c WINDOW w AS (ORDER BY event_count DESC, user_id)
        |ORDER BY user_id""".stripMargin)),

    ("q_cube",
      (s, d) => Relational.cityTypeCube(norm(s, d)),
      Some(s"""$WITH_NORM
        |SELECT coalesce(city, 'ALL') AS city, coalesce(event_type, 'ALL') AS event_type,
        |  count(*) AS event_count
        |FROM norm GROUP BY CUBE(city, event_type)
        |ORDER BY city, event_type""".stripMargin)),

    // explicit grouping sets — the (city),(event_type),() subtotal family
    // without the full cube, via the Spark 4 Dataset.groupingSets API (no
    // temp-view session mutation inside the registry)
    ("q_grouping_sets",
      (s, d) => norm(s, d)
        .groupingSets(Seq(Seq(col("city")), Seq(col("event_type")), Seq.empty),
          col("city"), col("event_type"))
        .agg(count(lit(1)).as("event_count"))
        .select(
          coalesce(col("city"), lit("ALL")).as("city"),
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          col("event_count"))
        .orderBy("city", "event_type"),
      Some(s"""$WITH_NORM
        |SELECT coalesce(city, 'ALL') AS city,
        |  coalesce(event_type, 'ALL') AS event_type,
        |  count(*) AS event_count
        |FROM norm
        |GROUP BY GROUPING SETS ((city), (event_type), ())
        |ORDER BY city, event_type""".stripMargin)),

    ("q_city_trends",
      (s, d) => Relational.cityWindowTrends(aggTable(s, d)),
      Some(s"""$WITH_NORM_AGG,
        |cw AS (SELECT city, window_start, CAST(sum(event_count) AS BIGINT) AS event_count
        |  FROM agg GROUP BY city, window_start)
        |SELECT city, window_start, event_count,
        |  event_count - lag(event_count) OVER w AS delta,
        |  avg(event_count) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS moving_avg
        |FROM cw WINDOW w AS (PARTITION BY city ORDER BY window_start)
        |ORDER BY city, window_start""".stripMargin)),

    // anomalous-window detection: the z-test multiplied through by N² so
    // the flagged set is decided entirely in integer arithmetic —
    // (x·N − Σ)² > z²·(N·Σx² − Σ²) — bit-exact on both engines (products
    // in DECIMAL(38,0) / HUGEINT; no float mean/variance/sqrt anywhere)
    ("q_anomalous_windows",
      (s, d) => Relational.anomalousWindows(aggTable(s, d), z = 3),
      Some(s"""$WITH_NORM_AGG,
        |cw AS (SELECT city, window_start, CAST(sum(event_count) AS BIGINT) AS event_count
        |  FROM agg GROUP BY city, window_start),
        |st AS (SELECT city, count(*) AS n_windows,
        |  CAST(sum(event_count) AS BIGINT) AS sum_count,
        |  CAST(sum(event_count * event_count) AS BIGINT) AS sumsq_count
        |  FROM cw GROUP BY city)
        |SELECT city, window_start, event_count, n_windows, sum_count, sumsq_count
        |FROM cw JOIN st USING (city)
        |WHERE n_windows > 1 AND
        |  (CAST(event_count AS HUGEINT) * n_windows - sum_count)
        |    * (CAST(event_count AS HUGEINT) * n_windows - sum_count)
        |  > 9 * (CAST(n_windows AS HUGEINT) * sumsq_count
        |    - CAST(sum_count AS HUGEINT) * sum_count)
        |ORDER BY city, window_start""".stripMargin)),

    // salted two-phase aggregation: results are EXACTLY the plain groupBy —
    // the oracle is the direct SQL; the salt only reshapes the shuffle.
    ("q_salted_counts",
      (s, d) => Skew.saltedCount(norm(s, d), Seq("city", "event_type", "severity"),
        spread = col("event_id")).orderBy("city", "event_type", "severity"),
      Some(s"""$WITH_NORM
        |SELECT city, event_type, severity, count(*) AS event_count
        |FROM norm GROUP BY city, event_type, severity
        |ORDER BY city, event_type, severity""".stripMargin)),

    // salted fact-side join ≡ the plain equi-join (salt only reshapes the
    // shuffle); aggregated per segment for a compact deterministic output
    ("q_salted_join",
      (s, d) => Skew.saltedJoin(
          Tables.events(s, d).withColumnRenamed("user_id", "c_custkey"),
          Tables.customer(s, d), "c_custkey", col("event_id"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("event_count"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS event_count,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    ("q_distinct_users",
      (s, d) => Relational.distinctUsers(Tables.events(s, d)),
      Some("""SELECT event_type, count(DISTINCT user_id) AS distinct_users,
        |  count(*) AS event_count
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // exact interpolated percentiles (both engines: linear interpolation at
    // rank (n-1)*q over the sorted values). Emitted as three scalar double
    // columns — array-typed outputs crash the driver's pandas compare.
    ("q_percentiles",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.9D))").as("q"))
        .select(col("l_returnflag"),
          element_at(col("q"), 1).as("p25"),
          element_at(col("q"), 2).as("p50"),
          element_at(col("q"), 3).as("p90"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.50) AS p50,
        |  quantile_cont(l_quantity, 0.90) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // HLL estimates are engine-specific — rows-only check (no oracle); the
    // dump now carries (exact, approx, rel_err) so the realized error is
    // inspectable in the artifact (round-7 verdict next-round 4)...
    ("q_approx_distinct",
      (s, d) => Relational.approxDistinctReport(Tables.events(s, d)),
      None),

    // ...and the BOUND is oracle-checked here: DuckDB asserts exact count +
    // rel_err_bucket 0 + within_bound 1 per event type, so an estimate
    // drifting past 5% hash-mismatches its row in CORRECTNESS itself.
    ("q_approx_distinct_bound",
      (s, d) => Relational.approxDistinctBound(Tables.events(s, d)),
      Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  CAST(0 AS BIGINT) AS rel_err_bucket, CAST(1 AS INT) AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // the GK-sketch twin of q_approx_distinct_bound: the approx-percentile
    // rank contract (|rank − p·N| ≤ N/accuracy) asserted through exact
    // order-statistic brackets both engines compute bit-identically; the
    // literal within_bound = 1 means a drifting estimate hash-mismatches
    // the artifact. Rank arithmetic is interpolated from ONE Scala
    // constant so both engines floor/ceil the same doubles.
    ("q_approx_percentile_bound",
      (s, d) => Relational.approxPercentileBound(Tables.lineitem(s, d), accuracy = 1000),
      Some(s"""WITH h AS (SELECT l_returnflag, l_quantity, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT l_returnflag, l_quantity,
        |  sum(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum FROM h),
        |n AS (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1),
        |j AS (SELECT cum.*, n.n FROM cum JOIN n USING (l_returnflag))
        |SELECT l_returnflag, n,
        |  min(CASE WHEN cum >= greatest(1, CAST(floor(${0.5 - 0.001} * n) AS BIGINT))
        |    THEN l_quantity END) AS p50_lo,
        |  min(CASE WHEN cum >= least(n, CAST(ceil(${0.5 + 0.001} * n) AS BIGINT))
        |    THEN l_quantity END) AS p50_hi,
        |  min(CASE WHEN cum >= greatest(1, CAST(floor(${0.9 - 0.001} * n) AS BIGINT))
        |    THEN l_quantity END) AS p90_lo,
        |  min(CASE WHEN cum >= least(n, CAST(ceil(${0.9 + 0.001} * n) AS BIGINT))
        |    THEN l_quantity END) AS p90_hi,
        |  CAST(1 AS INT) AS within_bound
        |FROM j GROUP BY 1, 2 ORDER BY l_returnflag""".stripMargin)),

    ("q_intersect_users",
      (s, d) => Relational.usersIntersect(Tables.events(s, d), "purchase", "error"),
      Some("""SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin)),

    ("q_except_users",
      (s, d) => Relational.usersExcept(Tables.events(s, d), "purchase", "view"),
      Some("""SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |ORDER BY user_id""".stripMargin)),

    // set ops at (user, day) granularity, where this corpus is non-trivial
    // (user-level sets saturate: every user does every event type)
    ("q_except_user_days",
      (s, d) => Relational.userDaysExcept(Tables.events(s, d), "purchase", "view"),
      Some("""SELECT user_id,
        |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        |FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d')
        |FROM events WHERE event_type = 'view'
        |ORDER BY user_id, day""".stripMargin)),

    ("q_union_users",
      (s, d) => Relational.usersUnion(Tables.events(s, d), "signup", "click"),
      Some("""SELECT DISTINCT user_id FROM events
        |WHERE event_type IN ('signup', 'click') ORDER BY user_id""".stripMargin)),

    // ---- LLM-data pipeline: text analysis over `documents` (north star)
    ("q_token_stats",
      (s, d) => TextAnalysis.tokenStats(Tables.documents(s, d))
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .withColumn("n_bpe_tokens", col("n_bpe_tokens").cast("long"))
        .withColumn("text_len", col("text_len").cast("long"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars, length(text) AS text_len,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
        |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    ("q_quality_score",
      (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d)).orderBy("doc_id"),
      Some(s"""WITH $QualityScoreCte
        |SELECT doc_id, stopword_ratio, unique_ratio, punct_ratio, quality
        |FROM q ORDER BY doc_id""".stripMargin)),

    ("q_lang_id",
      (s, d) => TextAnalysis.languageId(Tables.documents(s, d)).orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang AS declared_lang,
        |  ${TextAnalysis.Sql.langNames}[CAST(list_position(${TextAnalysis.Sql.langScores},
        |    list_max(${TextAnalysis.Sql.langScores})) AS INT)] AS predicted_lang
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // language-ID CONFUSION MATRIX: declared vs predicted counts — the
    // QA report behind any language-ID deployment (which declared labels
    // the heuristic disagrees with, and toward what); one projection +
    // one 2-key hash aggregate over the languageId frame
    ("q_lang_confusion",
      (s, d) => TextAnalysis.languageId(Tables.documents(s, d))
        .groupBy("declared_lang", "predicted_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("declared_lang", "predicted_lang"),
      Some(s"""WITH p AS (SELECT lang AS declared_lang,
        |  ${TextAnalysis.Sql.langNames}[CAST(list_position(${TextAnalysis.Sql.langScores},
        |    list_max(${TextAnalysis.Sql.langScores})) AS INT)] AS predicted_lang
        |FROM documents)
        |SELECT declared_lang, predicted_lang, count(*) AS n_docs FROM p
        |GROUP BY declared_lang, predicted_lang
        |ORDER BY declared_lang, predicted_lang""".stripMargin)),

    ("q_fingerprint",
      (s, d) => TextAnalysis.fingerprints(Tables.documents(s, d)).orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${TextAnalysis.Sql.fingerprint} AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),

    ("q_repetition",
      (s, d) => TextAnalysis.repetition(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""WITH g AS (SELECT doc_id,
        |  list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS ngrams_total,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS ngrams_distinct,
        |  1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS repetition
        |FROM g WHERE len(grams) > 0 ORDER BY doc_id""".stripMargin)),

    // Served from the persisted graft_quality flags (the corpus regex
    // pass runs once per snapshot); qualityFilter remains the
    // any-threshold path.
    ("q_quality_filter",
      (s, d) => qualityFlags(s, d).orderBy("doc_id"),
      Some("""WITH q AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS unique_ratio,
        |  CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
        |    / length(text) AS punct_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens, unique_ratio, punct_ratio,
        |  n_tokens >= 20 AS len_ok,
        |  punct_ratio < 0.1 AS punct_ok,
        |  unique_ratio > 0.3 AS unique_ok,
        |  n_tokens >= 20 AND punct_ratio < 0.1 AND unique_ratio > 0.3 AS keep
        |FROM q ORDER BY doc_id""".stripMargin)),

    // Gopher-style rule gate (token-count bounds, mean-token-length
    // bounds, duplicate-bigram ceiling, stopword-presence floor) — the
    // other canonical quality filter beside q_quality_filter's C4 rules;
    // per-rule flags emitted so a drop is auditable
    // Served from the persisted graft_quality gflags table (v2);
    // gopherFilter remains the any-threshold path.
    ("q_gopher_filter",
      (s, d) => gopherFlags(s, d).orderBy("doc_id"),
      Some(s"""WITH q AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  (length(text) - len(string_split(text, ' ')) + 1)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len,
        |  $DupBigramFracSql AS dup_bigram_frac,
        |  CAST(${TextAnalysis.Sql.stopHits} AS BIGINT) AS stop_hits
        |  FROM documents)
        |SELECT doc_id, n_tokens, mean_token_len, dup_bigram_frac, stop_hits,
        |  n_tokens >= 50 AND n_tokens <= 100000 AS len_ok,
        |  mean_token_len >= 3.0 AND mean_token_len <= 10.0 AS tok_len_ok,
        |  dup_bigram_frac <= 0.2 AS rep_ok,
        |  stop_hits >= 2 AS stop_ok,
        |  n_tokens >= 50 AND n_tokens <= 100000
        |    AND mean_token_len >= 3.0 AND mean_token_len <= 10.0
        |    AND dup_bigram_frac <= 0.2 AND stop_hits >= 2 AS keep
        |FROM q ORDER BY doc_id""".stripMargin)),

    // Bigram-LM fluency (the CCNet perplexity-filter signal): corpus-MLE
    // conditional probabilities, arithmetic mean per doc — log dropped
    // for rational cross-engine arithmetic, per-doc sum folded in
    // POSITION order on both sides so double addition is pinned
    ("q_lm_fluency",
      (s, d) => TextAnalysis.lmFluency(Tables.documents(s, d)).orderBy("doc_id"),
      Some(s"""WITH $LmFluencyCtes
        |SELECT doc_id, n_bigrams, fluency FROM fl ORDER BY doc_id""".stripMargin)),

    // The fluency SERVING twin: scoring against the persisted frozen
    // model (graft_lm family) instead of retraining per call. On the
    // training corpus the conditionals are identical, so the oracle is
    // q_lm_fluency's verbatim — a hash-check that the persisted model
    // reproduces the in-plan training exactly.
    ("q_lm_fluency_serve",
      (s, d) => TextAnalysis.lmFluencyFrom(lmModel(s, d), Tables.documents(s, d))
        .orderBy("doc_id"),
      Some(s"""WITH $LmFluencyCtes
        |SELECT doc_id, n_bigrams, fluency FROM fl ORDER BY doc_id""".stripMargin)),

    // CCNet-style per-language fluency terciles: frozen-model scores cut
    // into head/middle/tail thirds per lang (ntile over a lang-partitioned
    // window; fluency doubles are cross-engine bit-identical and doc_id
    // breaks ties, so both engines cut at the same rows)
    ("q_ccnet_buckets",
      (s, d) => TextAnalysis.ccnetBuckets(lmScores(s, d), Tables.documents(s, d))
        .orderBy("doc_id"),
      Some(s"""WITH $CcnetCtes
        |SELECT doc_id, lang, fluency, bucket FROM cc ORDER BY doc_id""".stripMargin)),

    // HOLDOUT model-fit card: the CCNet fluency-bucket composition per
    // SPLIT — if the hash holdout were distributionally off, its
    // head/middle/tail shares would skew against train's. Integer
    // counts + one division per row (no cross-row float sums — the
    // reason this card reports composition, not mean fluency); serves
    // from the pre-scored lm-v2 table + the scan-side split.
    ("q_holdout_fit",
      (s, d) => {
        val b = TextAnalysis.ccnetBuckets(lmScores(s, d), Tables.documents(s, d))
          .select(col("doc_id"), col("bucket"))
          .join(Corpus.dataSplit(Tables.documents(s, d))
            .select("doc_id", "split"), Seq("doc_id"))
          .groupBy("split", "bucket").agg(count(lit(1)).as("n_docs"))
        // split totals as a window over the |splits|·|buckets| aggregate
        // instead of a groupBy + self-join (r17): the join form re-ran
        // the whole bucket/split subtree (ntile scoring over the corpus)
        // once per branch — 2 passes and a SortMergeJoin for a 9-row
        // stitch. Same exact integer sum, one pass.
        b.withColumn("split_docs", sum("n_docs").over(
            org.apache.spark.sql.expressions.Window.partitionBy("split")))
          .select(col("split"), col("bucket"), col("n_docs"),
            (col("n_docs").cast("double") / col("split_docs")).as("share"))
          .orderBy("split", "bucket")
      },
      Some(s"""WITH $CcnetCtes,
        |$SplitCte,
        |a AS (SELECT split, bucket, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM cc JOIN sp USING (doc_id) GROUP BY 1, 2),
        |tt AS (SELECT split, sum(n_docs) AS split_docs FROM a GROUP BY split)
        |SELECT split, bucket, n_docs,
        |  CAST(n_docs AS DOUBLE) / split_docs AS share
        |FROM a JOIN tt USING (split) ORDER BY split, bucket""".stripMargin)),

    // QUALITY-CALIBRATION card — the cross-check between the LEARNED
    // quality signal (the CCNet fluency terciles) and the two RULE gates:
    // per fluency bucket, how many documents each gate keeps. If head's
    // keep rates match tail's, the LM score adds no signal over the
    // rules; where they diverge steeply is where a curator moves the
    // perplexity threshold. Composes three persisted families (lm-v2
    // scores, quality-v2 C4 + Gopher flags) — narrow doc_id joins, two
    // integer sums, one division per rate; no cross-row float
    // aggregation, so the card hash-checks like its parts.
    ("q_quality_calibration",
      (s, d) => {
        val b = TextAnalysis.ccnetBuckets(lmScores(s, d), Tables.documents(s, d))
          .select(col("doc_id"), col("bucket"))
        val flags = qualityFlags(s, d).select(col("doc_id"), col("keep").as("c4"))
          .join(gopherFlags(s, d).select(col("doc_id"), col("keep").as("gopher")),
            Seq("doc_id"))
        b.join(flags, Seq("doc_id"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("c4").cast("long")).as("n_c4_keep"),
            sum(col("gopher").cast("long")).as("n_gopher_keep"))
          .select(col("bucket"), col("n_docs"), col("n_c4_keep"),
            col("n_gopher_keep"),
            (col("n_c4_keep").cast("double") / col("n_docs")).as("c4_keep_rate"),
            (col("n_gopher_keep").cast("double") / col("n_docs")).as("gopher_keep_rate"))
          .orderBy("bucket")
      },
      Some(s"""WITH $CcnetCtes,
        |c4 AS (SELECT doc_id, $C4KeepSql AS keep FROM documents),
        |gp AS (SELECT doc_id, $GopherKeepSql AS keep FROM documents),
        |a AS (SELECT cc.bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN c4.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_c4_keep,
        |  CAST(sum(CASE WHEN gp.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_keep
        |  FROM cc JOIN c4 USING (doc_id) JOIN gp USING (doc_id)
        |  GROUP BY cc.bucket)
        |SELECT bucket, n_docs, n_c4_keep, n_gopher_keep,
        |  CAST(n_c4_keep AS DOUBLE) / n_docs AS c4_keep_rate,
        |  CAST(n_gopher_keep AS DOUBLE) / n_docs AS gopher_keep_rate
        |FROM a ORDER BY bucket""".stripMargin)),

    // zero-filled dataset-card histogram over the composite quality score;
    // empty buckets are EMITTED (a distribution audit that silently drops
    // empty ranges reads as coverage it doesn't have)
    ("q_quality_histogram",
      (s, d) => TextAnalysis.qualityHistogram(Tables.documents(s, d)),
      Some(s"""WITH $QualityScoreCte,
        |b AS (SELECT CAST(least(floor(quality * 20), 19) AS INT) AS bucket FROM q),
        |c AS (SELECT bucket, count(*) AS n_docs FROM b GROUP BY bucket)
        |SELECT g.bucket, COALESCE(c.n_docs, CAST(0 AS BIGINT)) AS n_docs
        |FROM (SELECT CAST(unnest(generate_series(0, 19)) AS INT) AS bucket) g
        |LEFT JOIN c USING (bucket)
        |ORDER BY bucket""".stripMargin)),

    // BM25-flavored keyword relevance (log dropped → rational arithmetic,
    // bit-exact on both engines); per-doc score folds in sorted-term order
    // on BOTH sides so double addition order is pinned
    // Served from the persisted inverted index (graft_search family):
    // per query an In-pruned postings scan + lexicon lookup, never a
    // corpus-token explode; [[TextAnalysis.keywordSearch]] remains the
    // index-free baseline (parity spec'd).
    ("q_keyword_search",
      (s, d) => TextAnalysis.keywordSearchFrom(searchIndex(s, d),
        Seq("hash", "join", "vector"), k = 10),
      Some(s"""WITH $KeywordScoreCtes
        |SELECT doc_id, score, n_terms_matched FROM p
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // HYBRID search: BM25 recall from the persisted inverted index
    // (top-20 lexical candidates) reranked by exact cosine against a
    // query embedding (vec_id 0 as the in-corpus probe) — the standard
    // two-stage retrieval composition (cheap lexical recall bounds the
    // candidate set; the vector stage scores 20 rows, never the corpus).
    // Candidates without an embedding row or with a zero vector drop
    // (documented: rerank what CAN be reranked).
    ("q_hybrid_search",
      (s, d) => {
        import graft.functions.VectorFunctions.{cosine, l2norm, toDoubleVec}
        val lex = TextAnalysis.keywordSearchFrom(searchIndex(s, d),
          Seq("hash", "join", "vector"), k = 20)
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id").as("doc_id"), toDoubleVec(col("embedding")).as("v"))
          .filter(l2norm(col("v")) > 0)
        // zero-norm probe guard (mirrored in the oracle's qv CTE): a
        // degenerate query vector would produce NaN cosines with
        // engine-divergent NaN ordering — guarded, it yields an empty
        // result on both engines instead
        val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
          .select(toDoubleVec(col("embedding")).as("qv"))
          .filter(l2norm(col("qv")) > 0)
        lex.join(emb, Seq("doc_id"))
          .crossJoin(broadcast(qv))
          .select(col("doc_id"), col("score"),
            cosine(col("v"), col("qv")).as("cosine"))
          .orderBy(col("cosine").desc, col("doc_id")).limit(10)
      },
      Some(s"""WITH $KeywordScoreCtes,
        |lex AS (SELECT doc_id, score FROM p ORDER BY score DESC, doc_id LIMIT 20),
        |ev AS (SELECT vec_id, v FROM (${Similarity.Sql.prepared}) dp
        |  WHERE sqrt(${Similarity.Sql.dot("v", "v")}) > 0),
        |qv AS (SELECT v AS q FROM (${Similarity.Sql.prepared}) dq
        |  WHERE vec_id = 0 AND sqrt(${Similarity.Sql.dot("v", "v")}) > 0),
        |r AS (SELECT lex.doc_id, lex.score,
        |  ${Similarity.Sql.cosine("ev.v", "q")} AS cosine
        |  FROM lex JOIN ev ON lex.doc_id = ev.vec_id CROSS JOIN qv)
        |SELECT doc_id, score, cosine FROM r
        |ORDER BY cosine DESC, doc_id LIMIT 10""".stripMargin)),

    // TAKEDOWN PROPAGATION (deletion compliance — GDPR erasure, DMCA,
    // opt-out): the tombstone fixture (doc_id % 13 = 6, coprime to the
    // %11 split and the PII residues, measured to intersect BOTH served
    // surfaces at every SF) suppresses served answers IMMEDIATELY via a
    // broadcast anti-join — no index rebuild on the serving path. The
    // search form recalls 20 deep and serves 10 AFTER suppression
    // (backfill: an erased result's slot is refilled from deeper recall,
    // not left short), relative order preserved, TakeOrderedAndProject
    // shape (operators.Takedown scaladoc for the re-rank/backfill
    // rationale).
    ("q_takedown_search",
      (s, d) => Takedown.servedWithTakedown(
        TextAnalysis.keywordSearchFrom(searchIndex(s, d),
          Seq("hash", "join", "vector"), k = 20),
        Takedown.tombstones(Tables.documents(s, d)),
        Seq(col("score").desc, col("doc_id")), serveK = 10),
      Some(s"""WITH $KeywordScoreCtes,
        |deep AS (SELECT doc_id, score, n_terms_matched FROM p
        |  ORDER BY score DESC, doc_id LIMIT 20)
        |SELECT doc_id, score, n_terms_matched FROM deep
        |WHERE doc_id % 13 <> 6
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // the per-query ranked form over the persisted passage top-k:
    // suppress, close ranks up (a hole at rank 3 leaks that something
    // was erased there), cut to 5 of the 10 recalled — per-query windows
    // over <= 10 rows.
    ("q_takedown_topk",
      (s, d) => Takedown.topKWithTakedown(passageTables(s, d).topk,
        Takedown.tombstones(Tables.documents(s, d)), serveK = 5),
      Some(s"""WITH $PassageIndexCtes,
        |$PassageTopKCtes,
        |tk AS (SELECT * FROM rk WHERE rank <= 10),
        |sup AS (SELECT query_id, doc_id, chunk_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rank) AS BIGINT)
        |    AS rank_t
        |  FROM tk WHERE doc_id % 13 <> 6)
        |SELECT query_id, doc_id, chunk_id, cosine, rank_t AS rank FROM sup
        |WHERE rank_t <= 5 ORDER BY query_id, rank""".stripMargin)),

    // CROSS-MODAL serving behind the SAME tombstone gate (round-13
    // verdict 7: every served family suppresses — media derive from
    // documents, so one takedown set gates every modality): the
    // text-to-media top-10 recalls, tombstoned media drop, ranks close
    // up, serve 5. The oracle nests the family's shared serving SQL and
    // re-ranks the suppressed survivors.
    ("q_takedown_crossmodal",
      (s, d) => Takedown.topKWithTakedown(
        crossModalServe(s, d),
        Takedown.tombstones(Tables.documents(s, d)),
        serveK = 5, idCol = "media_id"),
      Some(s"""WITH cm AS ($CrossModalTopKSql),
        |sup AS (SELECT query_id, media_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rank) AS BIGINT)
        |    AS rank_t
        |  FROM cm WHERE media_id % 13 <> 6)
        |SELECT query_id, media_id, cosine, rank_t AS rank FROM sup
        |WHERE rank_t <= 5 ORDER BY query_id, rank""".stripMargin)),

    // media near-dup pairs behind the gate: a pair leaks a tombstoned
    // image's existence and similarity structure from EITHER side, so
    // suppression drops both endpoints (two broadcast anti-joins — set
    // semantics, no ranks to close).
    ("q_takedown_media",
      (s, d) => Takedown.pairsWithTakedown(
          mediaPhashTables(s, d).nearDupPairs,
          Takedown.tombstones(Tables.documents(s, d)))
        .orderBy("id1", "id2"),
      Some(s"""WITH mp AS ($MediaNearDupSql)
        |SELECT id1, id2, hamming FROM mp
        |WHERE id1 % 13 <> 6 AND id2 % 13 <> 6 ORDER BY id1, id2""".stripMargin)),

    // the compliance witness: zero tombstoned ids in each served surface
    // (would trip if anyone edits a serving path to skip suppression),
    // next to the suppression accounting — non-vacuous at every SF by
    // the fixture's measured residue choice (>= 1 suppressed per
    // surface).
    ("q_takedown_audit",
      (s, d) => {
        // EVERY served family runs through the gate (round-13 verdict 7):
        // lexical search, passage top-k, RRF fusion, late-interaction
        // MaxSim, cross-modal retrieval (media_id ≡ doc_id — media derive
        // from documents) and the media near-dup pairs (both endpoints).
        // Leak counts audit the SUPPRESSED serving paths (must be 0, and
        // trip if any path skips suppression); the n_suppressed_* columns
        // prove each surface's gate non-vacuous at every SF (measured
        // ≥ 3 per surface).
        val docs = Tables.documents(s, d)
        val tombs = Takedown.tombstones(docs)
        val t = broadcast(tombs.select("doc_id"))
        // r14 verdict 3: each ranked/pair surface is now ONE flagged
        // scan producing BOTH conditional counts (Takedown
        // .topKAuditCounts / pairsAuditCounts — gate≡audit parity
        // spec'd), halving the per-surface snapshot scans. The search
        // surface keeps the real-gate pass + suppressed-count pair: its
        // gate is a global TakeOrderedAndProject and the one-scan form
        // would need the partition-less Window the plan guard bans. (A
        // localCheckpoint of the k-bounded frames was the round-14
        // experiment: MEASURED SLOWER, +4 s/cold run at sf0.1.)
        val deep = TextAnalysis.keywordSearchFrom(searchIndex(s, d),
          Seq("hash", "join", "vector"), k = 20)
        val cm = crossModalServe(s, d)
        Takedown.takedownAudit(tombs, Seq(
            "search" -> Takedown.servedWithTakedown(deep, tombs,
              Seq(col("score").desc, col("doc_id")), serveK = 10)
              .select("doc_id")))
          .crossJoin(deep.join(t, Seq("doc_id"), "left_semi")
            .agg(count(lit(1)).as("n_suppressed_search")))
          .crossJoin(Takedown.topKAuditCounts(passageTables(s, d).topk,
            tombs, serveK = 5, "topk"))
          .crossJoin(Takedown.topKAuditCounts(rrfTopK(s, d),
            tombs, serveK = 5, "rrf"))
          .crossJoin(Takedown.topKAuditCounts(passageTables(s, d).liTopk,
            tombs, serveK = 5, "li"))
          .crossJoin(Takedown.topKAuditCounts(cm,
            tombs, serveK = 5, "crossmodal", idCol = "media_id"))
          .crossJoin(Takedown.pairsAuditCounts(
            mediaPhashTables(s, d).nearDupPairs, tombs, "media"))
      },
      Some(s"""WITH $KeywordScoreCtes,
        |deep AS (SELECT doc_id, score FROM p ORDER BY score DESC, doc_id LIMIT 20),
        |served_search AS (SELECT doc_id FROM deep WHERE doc_id % 13 <> 6
        |  ORDER BY score DESC, doc_id LIMIT 10),
        |$PassageIndexCtes,
        |$PassageTopKCtes,
        |tk AS (SELECT * FROM rk WHERE rank <= 10),
        |sup AS (SELECT query_id, doc_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rank) AS BIGINT)
        |    AS rank_t
        |  FROM tk WHERE doc_id % 13 <> 6),
        |served_topk AS (SELECT doc_id FROM sup WHERE rank_t <= 5)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 13 = 6)
        |    AS n_tombstones,
        |  (SELECT CAST(count(*) AS BIGINT) FROM served_search WHERE doc_id % 13 = 6)
        |    AS n_leaked_search,
        |  (SELECT CAST(count(*) AS BIGINT) FROM served_topk WHERE doc_id % 13 = 6)
        |    AS n_leaked_topk,
        |  (SELECT CAST(count(*) AS BIGINT) FROM deep WHERE doc_id % 13 = 6)
        |    AS n_suppressed_search,
        |  (SELECT CAST(count(*) AS BIGINT) FROM tk WHERE doc_id % 13 = 6)
        |    AS n_suppressed_topk,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT doc_id, row_number() OVER (PARTITION BY query_id
        |       ORDER BY rank) AS rank_t
        |     FROM ($RrfFusionSql) rrf0 WHERE doc_id % 13 <> 6) rrfs
        |   WHERE rank_t <= 5 AND doc_id % 13 = 6) AS n_leaked_rrf,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ($RrfFusionSql) rrf1
        |   WHERE doc_id % 13 = 6) AS n_suppressed_rrf,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT doc_id, row_number() OVER (PARTITION BY query_id
        |       ORDER BY rank) AS rank_t
        |     FROM ($LateInteractionSql) li0 WHERE doc_id % 13 <> 6) lis
        |   WHERE rank_t <= 5 AND doc_id % 13 = 6) AS n_leaked_li,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ($LateInteractionSql) li1
        |   WHERE doc_id % 13 = 6) AS n_suppressed_li,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT media_id, row_number() OVER (PARTITION BY query_id
        |       ORDER BY rank) AS rank_t
        |     FROM ($CrossModalTopKSql) cm0 WHERE media_id % 13 <> 6) cms
        |   WHERE rank_t <= 5 AND media_id % 13 = 6) AS n_leaked_crossmodal,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ($CrossModalTopKSql) cm1
        |   WHERE media_id % 13 = 6) AS n_suppressed_crossmodal,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT unnest([id1, id2]) AS e FROM ($MediaNearDupSql) mp0
        |     WHERE id1 % 13 <> 6 AND id2 % 13 <> 6) mps
        |   WHERE e % 13 = 6) AS n_leaked_media,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ($MediaNearDupSql) mp1
        |   WHERE id1 % 13 = 6 OR id2 % 13 = 6) AS n_suppressed_media""".stripMargin)),

    // RRF-FUSED hybrid retrieval (the PARALLEL hybrid — q_hybrid_search
    // above is the cascade): per query document, its top-8 salient terms
    // rank a lexical more-like-this top-20 from the persisted inverted
    // index while its embedding ranks a cosine top-20 from the persisted
    // band triples; the two rank lists fuse by reciprocal rank
    // (1/(60+rank), absent side contributes exactly 0.0, lex-then-vec
    // addition order) and the fused top-10 serves. Rank sentinel 0 =
    // "absent from that list" — no nulls in the hashed surface. The
    // oracle re-derives term selection, both rankers, and the fusion.
    // Served from the persisted graft_rrf family (one scan; the fused
    // construction runs once per snapshot pair) — the oracle re-walks
    // the whole composition, hash-proving the persisted table current.
    ("q_rrf_fusion",
      (s, d) => rrfTopK(s, d).orderBy("query_id", "rank"),
      Some(RrfFusionSql)),

    // The search QUERY-SERVING endpoint: a (query_id, terms) request
    // frame answered from the persisted inverted index — per-query
    // ranking (one request must not starve another's budget), same
    // rational idf + sorted fold as q_keyword_search. The batch kernel
    // of the streaming search service (streaming.SearchStream).
    ("q_search_queries",
      (s, d) => {
        val reqs = Seq(
          (1L, Seq("hash", "join")),
          (2L, Seq("vector", "stream")),
          (3L, Seq("query")))
        import s.implicits._
        // termsHint = the literal union of the request terms (r16
        // verdict 4): turns the postings/lexicon scans into In-pruned
        // reads — the endpoint serves all requests from ONE pruned pass
        TextAnalysis.keywordSearchForQueries(searchIndex(s, d),
            reqs.toDF("query_id", "terms"), k = 5,
            termsHint = Some(reqs.flatMap(_._2).distinct))
          .withColumn("rank", col("rank").cast("long"))
      },
      Some("""WITH reqs AS (
        |  SELECT * FROM (VALUES (1, ['hash', 'join']), (2, ['vector', 'stream']),
        |    (3, ['query'])) AS v(query_id, terms)),
        |qt AS (SELECT DISTINCT query_id, tok FROM
        |  (SELECT query_id, unnest(terms) AS tok FROM reqs)),
        |f AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |lex AS (SELECT tok, count(*) AS df FROM f GROUP BY tok),
        |t AS (SELECT count(*) AS n_total FROM documents),
        |s AS (SELECT qt.query_id, f.doc_id, f.tok,
        |    f.tf * (n_total - lex.df + 0.5) / (lex.df + 0.5) AS w
        |  FROM f JOIN qt USING (tok) JOIN lex USING (tok) CROSS JOIN t),
        |p AS (SELECT query_id, doc_id,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(list_sort(list(struct_pack(tok := tok, w := w))),
        |      x -> x.w)), (a, b) -> a + b) AS score,
        |  count(*) AS n_terms_matched
        |  FROM s GROUP BY query_id, doc_id)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
        |  n_terms_matched, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rank FROM p)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // BPE merge induction (tokenizer training's iterative heart): k
    // in-plan rounds of pair-count -> deterministic argmax -> greedy
    // fold re-segmentation, no driver loop over data. The oracle unrolls
    // the identical k stages in SQL, so even this iterative operator
    // hash-checks end to end.
    // Served from the persisted merge table (tokenizer training runs
    // once per corpus snapshot); the operator remains the any-k path.
    ("q_bpe_merges",
      (s, d) => bpeMergesTable(s, d).orderBy("merge_rank"),
      Some(bpeOracleSql(DefaultBpeMerges))),

    // BPE ENCODE: the persisted merge table applied to the corpus — the
    // tokenizer's encode step. bpe-v3 pre-encodes the training corpus
    // into the snapshot (r11 verdict item 5), so serving is one scan;
    // the oracle re-derives the merges (hash-proven equal by
    // q_bpe_merges) and applies the identical string folds, so the
    // persisted segmentation stays hash-checked end to end.
    // TextAnalysis.bpeEncode remains the any-text path (TokenizeStream).
    ("q_bpe_encode",
      (s, d) => bpeTables(s, d).bpeEncoded.orderBy("doc_id", "pos"),
      Some(bpeEncodeOracleSql(DefaultBpeMerges))),

    // UNIGRAM-LM vocabulary pruning (the SentencePiece induction, seeded
    // from the persisted BPE segmentation — round-10 verdict next-round
    // 6): smoothed unigram piece probabilities from the segment counts,
    // each multi-char piece scored by its per-occurrence likelihood gain
    // over the character fallback as an exact integer ratio (one double
    // division — no logs, no libm), top-`keep` kept. The oracle re-walks
    // the identical unrolled BPE stages, integer folds, and cut, so the
    // whole pruning decision hash-checks end to end.
    // Served from the persisted tokenizer family (bpe-v3 — both
    // inductions train once per corpus snapshot); the operator remains
    // the any-parameter path.
    ("q_unigram_vocab",
      (s, d) => bpeTables(s, d).unigramVocab.orderBy("piece"),
      Some(unigramVocabOracleSql(DefaultBpeMerges, DefaultUnigramKeep))),

    // UNIGRAM ENCODE: the pruned vocabulary applied to the corpus —
    // bpe-v3 pre-encodes the training corpus into the snapshot (greedy
    // longest-prefix is tie-free by construction, so the persisted
    // segmentation hash-checks like q_bpe_encode); unigramEncode
    // remains the any-text path for new documents.
    ("q_unigram_encode",
      (s, d) => bpeTables(s, d).unigramEncoded.orderBy("doc_id", "pos"),
      Some(unigramEncodeOracleSql(DefaultBpeMerges, DefaultUnigramKeep))),

    // TOKENIZER FERTILITY card — the standard tokenizer-eval numbers
    // (pieces per word, chars per piece) per language, the dataset-card
    // view that shows which languages a vocabulary over- or
    // under-segments. One aggregate over the PERSISTED bpe-v3 encoded
    // corpus joined to the narrow (doc_id, lang) projection; integer
    // sums fold exactly, each ratio is a single IEEE division so both
    // engines agree bit-for-bit.
    ("q_tokenizer_fertility",
      (s, d) => bpeTables(s, d).bpeEncoded
        .select(col("doc_id"),
          size(split(col("encoded"), " ")).cast("long").as("n_p"),
          length(col("word")).cast("long").as("n_c"))
        .join(Tables.documents(s, d).select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum("n_p").as("n_pieces"),
          sum("n_c").as("n_chars"),
          (sum("n_p").cast("double") / count(lit(1))).as("fertility"),
          (sum("n_c").cast("double") / sum("n_p")).as("chars_per_piece"))
        .orderBy("lang"),
      Some("WITH " + bpeStagesSql(DefaultBpeMerges) + ", " +
        "occ AS (SELECT doc_id, p.w AS w " +
        "FROM (SELECT doc_id, unnest(list_transform(" +
        "list_filter(string_split(text, ' '), t -> t <> ''), " +
        "(w, i) -> struct_pack(w := w, i := i))) AS p FROM documents)), " +
        s"enc AS (SELECT o.doc_id, len(ws.seg) AS n_p, len(o.w) AS n_c " +
        s"FROM occ o JOIN seg$DefaultBpeMerges ws ON o.w = ws.w) " +
        "SELECT d.lang, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(n_p) AS BIGINT) AS n_pieces, " +
        "CAST(sum(n_c) AS BIGINT) AS n_chars, " +
        "CAST(sum(n_p) AS DOUBLE) / count(*) AS fertility, " +
        "CAST(sum(n_c) AS DOUBLE) / sum(n_p) AS chars_per_piece " +
        "FROM enc JOIN documents d USING (doc_id) " +
        "GROUP BY d.lang ORDER BY d.lang")),

    // Vocabulary builder: corpus token-frequency table (the seed of
    // BPE/unigram tokenizer induction). tf DESC, token ASC is a total
    // order, so the top-k cut and ranks are deterministic.
    ("q_vocab_topk",
      (s, d) => TextAnalysis.vocabulary(Tables.documents(s, d), k = 50),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |v AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |  FROM t GROUP BY token)
        |SELECT token, tf, df FROM v ORDER BY tf DESC, token LIMIT 50""".stripMargin)),

    // filter-agreement calibration cross-tab: C4 keep × Gopher keep —
    // the off-diagonal cells are where curation thresholds need eyes.
    // Joins the two PERSISTED flag tables (quality-v2) on doc_id instead
    // of re-running both rule passes; filterAgreement remains the
    // any-frame path.
    ("q_filter_agreement",
      (s, d) => qualityFlags(s, d).select(col("doc_id"), col("keep").as("c4_keep"))
        .join(gopherFlags(s, d).select(col("doc_id"), col("keep").as("gopher_keep")),
          Seq("doc_id"))
        .groupBy("c4_keep", "gopher_keep")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("c4_keep", "gopher_keep"),
      Some(s"""WITH c4 AS (SELECT doc_id, $C4KeepSql AS c4_keep FROM documents),
        |gf AS (SELECT doc_id, $GopherKeepSql AS gopher_keep FROM documents)
        |SELECT c4.c4_keep, gf.gopher_keep, count(*) AS n_docs
        |FROM c4 JOIN gf USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // COHEN'S KAPPA over the same cross-tab: the chance-corrected
    // agreement statistic (two mostly-keep gates agree often by chance;
    // kappa is the number a curation analysis actually quotes). Pure
    // count ratios with the expression tree mirrored verbatim — the
    // statistic hash-checks bit-for-bit. Serves from the two persisted
    // flag families (one pass over two narrow tables).
    ("q_filter_kappa",
      (s, d) => TextAnalysis.filterKappa(
        qualityFlags(s, d).select(col("doc_id"), col("keep").as("c4_keep"))
          .join(gopherFlags(s, d)
            .select(col("doc_id"), col("keep").as("gopher_keep")),
            Seq("doc_id"))),
      Some(s"""WITH c4 AS (SELECT doc_id, $C4KeepSql AS c4_keep FROM documents),
        |gf AS (SELECT doc_id, $GopherKeepSql AS gopher_keep FROM documents),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN c4_keep AND gopher_keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_both_keep,
        |  CAST(sum(CASE WHEN NOT c4_keep AND NOT gopher_keep THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_both_drop,
        |  CAST(sum(CASE WHEN c4_keep AND NOT gopher_keep THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_c4_only,
        |  CAST(sum(CASE WHEN NOT c4_keep AND gopher_keep THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_gopher_only
        |  FROM c4 JOIN gf USING (doc_id)),
        |k AS (SELECT *,
        |  (n_both_keep + n_both_drop) / CAST(n_docs AS DOUBLE) AS po,
        |  (n_both_keep + n_c4_only) / CAST(n_docs AS DOUBLE) AS pc,
        |  (n_both_keep + n_gopher_only) / CAST(n_docs AS DOUBLE) AS pg
        |  FROM a)
        |SELECT n_docs, n_both_keep, n_both_drop, n_c4_only, n_gopher_only,
        |  po AS observed_agreement,
        |  pc * pg + (1.0 - pc) * (1.0 - pg) AS chance_agreement,
        |  CASE WHEN pc * pg + (1.0 - pc) * (1.0 - pg) = 1.0 THEN 1.0
        |    ELSE (po - (pc * pg + (1.0 - pc) * (1.0 - pg)))
        |         / (1.0 - (pc * pg + (1.0 - pc) * (1.0 - pg))) END AS kappa
        |FROM k""".stripMargin)),

    // vocabulary-coverage / OOV-rate report: the tokenizer-health metric;
    // the in/out boundary is vocabulary's total-ordered top-k cut
    ("q_vocab_coverage",
      (s, d) => TextAnalysis.vocabCoverage(Tables.documents(s, d)).orderBy("doc_id"),
      Some(s"""WITH $VocabCoverageCtes
        |SELECT doc_id, n_tokens, n_oov, CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
        |FROM pd ORDER BY doc_id""".stripMargin)),

    // approx_top_k (frequent-items sketch) heavy hitters with the bound
    // promoted into the oracle-checked surface — the approx_distinct /
    // approx_percentile witness pattern applied to the third daily-use
    // sketch: the oracle asserts exact top-k tokens + literal
    // rel_err_bucket 0 + within_bound 1, so an estimate drifting past the
    // bound (or a heavy hitter dropped by the sketch) hash-mismatches
    // its row in CORRECTNESS itself
    ("q_approx_topk_bound",
      (s, d) => TextAnalysis.approxTopTokensBound(Tables.documents(s, d)),
      Some("""WITH tf AS (SELECT tok, count(*) AS tf FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok)
        |SELECT tok, tf,
        |  CAST((SELECT count(*) <= 10000 FROM tf) AS INT) AS in_regime,
        |  CAST(0 AS BIGINT) AS rel_err_bucket,
        |  CAST(1 AS INT) AS within_bound
        |FROM tf ORDER BY tf DESC, tok LIMIT 10""".stripMargin)),

    // PMI-style bigram collocation mining (phrase induction over the
    // vocabulary): score = tf_xy*N/(tf_x*tf_y) — the PMI core with log
    // dropped (monotone, so ranking is identical and the arithmetic stays
    // one multiply + one divide on long-derived doubles, bit-identical
    // across engines — the keywordSearch idf precedent)
    // Served from the persisted graft_cards family (r16); the oracle
    // re-walks the full PMI computation.
    ("q_collocations",
      (s, d) => cardsTables(s, d)._1
        .orderBy(col("pmi_ratio").desc, col("tf_xy").desc, col("bigram")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS token FROM toks),
        |uc AS (SELECT token, count(*) AS tf FROM uni GROUP BY token),
        |n AS (SELECT count(*) AS n_uni FROM uni),
        |bo AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |  i -> t[i] || ' ' || t[i+1])) AS bigram FROM toks),
        |bc AS (SELECT bigram, count(*) AS tf_xy FROM bo GROUP BY bigram
        |  HAVING count(*) >= 5),
        |sc AS (SELECT bigram, tf_xy, string_split(bigram, ' ')[1] AS t1,
        |  string_split(bigram, ' ')[2] AS t2 FROM bc)
        |SELECT bigram, tf_xy, x.tf AS tf_x, y.tf AS tf_y,
        |  (CAST(tf_xy AS DOUBLE) * CAST(n_uni AS DOUBLE))
        |    / (CAST(x.tf AS DOUBLE) * CAST(y.tf AS DOUBLE)) AS pmi_ratio
        |FROM sc JOIN uc x ON sc.t1 = x.token JOIN uc y ON sc.t2 = y.token
        |CROSS JOIN n
        |ORDER BY pmi_ratio DESC, tf_xy DESC, bigram LIMIT 50""".stripMargin)),

    // deterministic stratified sample: explicit modular hash (NOT an engine
    // hash function) so any engine reproduces the selection bit-for-bit
    ("q_stratified_sample",
      (s, d) => Corpus.stratifiedSample(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source,
        |  ((doc_id % 1000003) * 2654435761) % 100 AS bucket
        |FROM documents
        |WHERE ((doc_id % 1000003) * 2654435761) % 100 <
        |  CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 20 WHEN 'de' THEN 20
        |            WHEN 'fr' THEN 20 WHEN 'es' THEN 20 ELSE 0 END
        |ORDER BY doc_id""".stripMargin)),

    // deterministic TRAIN/VAL/TEST split: pure function of doc_id (stable
    // under corpus growth, reproducible by any engine); two multiply-mod
    // rounds over large primes — the intermediate wraps break the
    // affine-mod-100 reduction a single multiplier has, so id-periodic
    // corpus structure can't align with split residues (Corpus.dataSplit
    // scaladoc) — and both multipliers differ from the sampling hash's
    // 2654435761
    ("q_data_split",
      (s, d) => Corpus.dataSplit(Tables.documents(s, d)).orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, source,
        |  ${splitBucketSql("doc_id")} AS bucket,
        |  ${splitCaseSql("doc_id")} AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // LEAKAGE-SAFE split — the FIX for what q_split_leakage measures:
    // the split key is the near-dup CLUSTER representative (persisted
    // dup-cluster assignment; unclustered docs key by their own id), so
    // every member of a near-dup cluster lands on the SAME side and
    // cross-split leakage is zero STRUCTURALLY, not by eviction
    // (q_eval_holdout remains the retrofit for an already-shipped
    // split). One doc-bounded cluster join + the same row-local split
    // hash; the oracle re-walks pairs → components → keyed hash.
    ("q_safe_split",
      (s, d) => Corpus.leakageSafeSplit(Tables.documents(s, d),
        dedupTables(s, d).clusters).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $NearDupPairsCtes,
        |$DupClusterCtes
        |SELECT d.doc_id AS doc_id, d.lang,
        |  COALESCE(cl.cluster_id, d.doc_id) AS split_key,
        |  ${splitCaseSql("COALESCE(cl.cluster_id, d.doc_id)")} AS split
        |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
        |ORDER BY 1""".stripMargin)),

    // the one-row witness: the doc_id split MEASURABLY leaks
    // (n_cross_docid_split, non-vacuous at every SF), the cluster-keyed
    // split leaks ZERO (both endpoints of a verified pair share a
    // component, hence a split key), with the pair and cluster-keyed-doc
    // counts proving neither side vacuous.
    ("q_safe_split_audit",
      (s, d) => Corpus.safeSplitAudit(Tables.documents(s, d),
        dedupTables(s, d).clusters, nearDupPairs(s, d)),
      Some(s"""WITH RECURSIVE $NearDupPairsCtes,
        |$DupClusterCtes,
        |sp_plain AS (SELECT doc_id, ${splitCaseSql("doc_id")} AS split
        |  FROM documents),
        |sp_safe AS (SELECT d.doc_id,
        |  ${splitCaseSql("COALESCE(cl.cluster_id, d.doc_id)")} AS split
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |jp AS (SELECT p1.split AS s1, p2.split AS s2 FROM prs
        |  JOIN sp_plain p1 ON prs.doc_id1 = p1.doc_id
        |  JOIN sp_plain p2 ON prs.doc_id2 = p2.doc_id),
        |js AS (SELECT p1.split AS s1, p2.split AS s2 FROM prs
        |  JOIN sp_safe p1 ON prs.doc_id1 = p1.doc_id
        |  JOIN sp_safe p2 ON prs.doc_id2 = p2.doc_id)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM jp) AS n_near_dup_pairs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM jp WHERE s1 <> s2)
        |    AS n_cross_docid_split,
        |  (SELECT CAST(count(*) AS BIGINT) FROM js WHERE s1 <> s2)
        |    AS n_cross_safe_split,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cl
        |   WHERE cl.cluster_id <> cl.doc_id) AS n_cluster_keyed_docs""".stripMargin)),

    // split-leakage audit: persisted near-dup pairs straddling the split
    // boundary (an eval doc with a train near-dup = contaminated eval —
    // the within-corpus twin of benchmark decontamination); two narrow
    // joins of the bounded pair table, nothing rescans text. Oracle
    // re-derives the exact pairs (≡ LSH output, see q_minhash_pairs) and
    // the split buckets.
    ("q_split_leakage",
      (s, d) => Corpus.splitLeakage(Tables.documents(s, d), nearDupPairs(s, d))
        .orderBy("doc_id1", "doc_id2"),
      Some(s"""WITH $NearDupPairsCtes,
        |$SplitCte
        |SELECT doc_id1, s1.split AS split1, doc_id2, s2.split AS split2, jaccard
        |FROM prs JOIN sp s1 ON doc_id1 = s1.doc_id
        |         JOIN sp s2 ON doc_id2 = s2.doc_id
        |WHERE s1.split <> s2.split ORDER BY doc_id1, doc_id2""".stripMargin)),

    // the shipped EVAL HOLDOUT: val/test docs minus any with a train
    // near-dup (splitLeakage's eviction applied — the eval side is the
    // contaminated one; train is never shrunk by holdout hygiene).
    // val↔test cross-pairs are kept. One anti-join against the
    // train-linked ids from the persisted pair table.
    ("q_eval_holdout",
      (s, d) => Corpus.evalHoldout(Tables.documents(s, d), nearDupPairs(s, d))
        .orderBy("doc_id"),
      Some(s"""WITH $NearDupPairsCtes,
        |$SplitCte,
        |bad AS (SELECT doc_id2 AS doc_id FROM prs
        |          JOIN sp s1 ON doc_id1 = s1.doc_id WHERE s1.split = 'train'
        |        UNION
        |        SELECT doc_id1 AS doc_id FROM prs
        |          JOIN sp s2 ON doc_id2 = s2.doc_id WHERE s2.split = 'train')
        |SELECT d.doc_id, d.lang, d.source, sp.split
        |FROM documents d JOIN sp USING (doc_id)
        |WHERE sp.split <> 'train'
        |  AND d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin)),

    // SPLIT BALANCE card: per (split, lang) — doc/token counts and each
    // split's share of its language. The sanity check that the hash
    // split didn't skew a stratum (it can't systematically, but the
    // card is what a curator reads to confirm that).
    ("q_split_card",
      (s, d) => {
        val sp = Corpus.dataSplit(Tables.documents(s, d))
          .select(col("doc_id"), col("lang"), col("split"))
        val toks = Tables.documents(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n"))
        val agg = sp.join(toks, Seq("doc_id"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
        // lang totals as a window over the |splits|·|langs| aggregate
        // instead of a groupBy + self-join (r17, the q_holdout_fit fix):
        // the join form re-ran the doc-scan + split + token-count
        // subtree once per branch for a ≤15-row stitch.
        agg.withColumn("lang_docs", sum("n_docs").over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")))
          .select(col("split"), col("lang"), col("n_docs"), col("n_tokens"),
            (col("n_docs").cast("double") / col("lang_docs")).as("doc_share"))
          .orderBy("split", "lang")
      },
      Some(s"""WITH sp AS (SELECT doc_id, lang, ${splitCaseSql("doc_id")} AS split,
        |  len(string_split(text, ' ')) AS n FROM documents),
        |a AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens FROM sp GROUP BY 1, 2),
        |t AS (SELECT lang, sum(n_docs) AS lang_docs FROM a GROUP BY lang)
        |SELECT split, lang, n_docs, n_tokens,
        |  CAST(n_docs AS DOUBLE) / lang_docs AS doc_share
        |FROM a JOIN t USING (lang) ORDER BY split, lang""".stripMargin)),

    // OOV drift ACROSS the split: the corpus-trained vocabulary's OOV
    // rate per split. A holdout whose OOV rate diverges from train's
    // means the eval set is distributionally off — the tokenizer-health
    // twin of the split-balance card.
    ("q_oov_by_split",
      (s, d) => TextAnalysis.vocabCoverage(Tables.documents(s, d))
        .join(Corpus.dataSplit(Tables.documents(s, d))
          .select("doc_id", "split"), Seq("doc_id"))
        .groupBy("split")
        .agg(sum("n_tokens").as("n_tokens"), sum("n_oov").as("n_oov"),
          (sum("n_oov").cast("double") / sum("n_tokens")).as("oov_rate"))
        .orderBy("split"),
      Some(s"""WITH $VocabCoverageCtes,
        |$SplitCte
        |SELECT split, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_oov) AS BIGINT) AS n_oov,
        |  CAST(sum(n_oov) AS DOUBLE) / sum(n_tokens) AS oov_rate
        |FROM pd JOIN sp USING (doc_id) GROUP BY split ORDER BY split""".stripMargin)),

    // temperature-based (α=0.5) multilingual sampling: keep-rates derived
    // from the corpus's own language counts (sqrt is IEEE-correctly-
    // rounded → cross-engine bit-exact, unlike pow; the Σ sqrt(n_l) fold
    // is pinned to sorted-language order), quantized to integer
    // thresholds against the portable modular hash — the kept set is
    // integer-exact on both engines
    ("q_temperature_sample",
      (s, d) => Corpus.temperatureSample(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
        |s AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(list_sort(list(struct_pack(lang := lang,
        |      sq := sqrt(CAST(n_l AS DOUBLE))))), x -> x.sq)),
        |    (a, b) -> a + b) AS s_total,
        |  sum(n_l) AS n_total FROM c),
        |r AS (SELECT lang, n_l,
        |  CAST(floor(least(1.0, 0.5 * CAST(n_total AS DOUBLE)
        |    / (s_total * sqrt(CAST(n_l AS DOUBLE)))) * 1048576.0) AS BIGINT)
        |    AS threshold
        |  FROM c CROSS JOIN s)
        |SELECT d.doc_id, d.lang,
        |  ((d.doc_id % 1000003) * 2654435761) % 1048576 AS bucket,
        |  r.n_l, r.threshold
        |FROM documents d JOIN r USING (lang)
        |WHERE ((d.doc_id % 1000003) * 2654435761) % 1048576 < r.threshold
        |ORDER BY d.doc_id""".stripMargin)),

    // packing strata are (lang, shard = doc_id mod 8): per-shard budget
    // accounting bounds every reducer at corpus/(|langs|·shards) rows
    ("q_pack_sequences",
      (s, d) => Corpus.packSequences(Tables.documents(s, d)).orderBy("lang", "shard", "doc_id"),
      Some("""SELECT doc_id, lang, doc_id % 8 AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(floor(coalesce(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
        |    OVER (PARTITION BY lang, doc_id % 8 ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 512) AS BIGINT) AS pack_id
        |FROM documents ORDER BY lang, shard, doc_id""".stripMargin)),

    // IN-CONTEXT packing (Shi et al. 2023): packSequences' greedy prefix
    // with (lsh-bucket, doc_id) replacing doc_id order — related
    // documents become contiguous and share context windows; the bucket
    // (closed-form planes over the closed-form tower) makes the ordering
    // fully oracle-able. Row-local tower+bucket on top of packing's own
    // stratum window.
    ("q_incontext_packing",
      (s, d) => Corpus.inContextPack(Tables.documents(s, d))
        .orderBy("lang", "shard", "bucket", "doc_id"),
      Some(s"""WITH fp AS (SELECT doc_id, lang, doc_id % 8 AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  ${TextAnalysis.Sql.fingerprintOf("text")} AS f FROM documents),
        |pv AS (SELECT doc_id, lang, shard, n_tokens, $TextTower AS v FROM fp),
        |b AS (SELECT doc_id, lang, shard, n_tokens,
        |  ${Similarity.Sql.lshBucket("v", 16, 16)} AS bucket FROM pv)
        |SELECT doc_id, lang, shard, n_tokens, bucket,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard
        |    ORDER BY bucket, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 512) AS BIGINT) AS pack_id
        |FROM b ORDER BY lang, shard, bucket, doc_id""".stripMargin)),

    // exact-token-budget mixing: the mixture stated in tokens (training-
    // recipe units) rather than stratifiedSample's keep-probabilities;
    // greedy cut in portable-hash order per (lang, shard) stratum, budget
    // share = budget/8 per shard (en 4800 -> 600/shard, others 2400 ->
    // 300/shard, matching Corpus.DefaultTokenBudgets)
    ("q_token_budget_mix",
      (s, d) => Corpus.tokenBudgetMix(Tables.documents(s, d)).orderBy("doc_id"),
      Some(s"""WITH $TokenBudgetCtes
        |SELECT doc_id, lang, shard, n_tokens, cum_before FROM c3
        |WHERE doc_id IN (SELECT doc_id FROM tm)
ORDER BY doc_id""".stripMargin)),

    // DSIR hashed-bigram importance weights: src0 plays the trusted
    // target domain, every other source is the raw pool being scored
    // (the Xie-et-al data-selection shape; mean probability ratio with
    // the log dropped — see Corpus.dsirWeights). Served from the
    // PERSISTED importance model's pre-scored weights table (dsir-v2:
    // the training pool's weights are snapshot-determined) — the oracle
    // re-derives the whole estimation + scoring, so the hash check
    // proves the persisted table equals a fresh end-to-end run. New
    // data scores through dsirWeightsFrom / DsirStream.
    ("q_dsir_weights",
      (s, d) => dsirWeights(s, d).orderBy("doc_id"),
      Some(dsirOracleCtes + """
        |SELECT doc_id, n_grams, ratio_sum / CAST(n_grams AS DOUBLE) AS dsir_weight
        |FROM p ORDER BY doc_id""".stripMargin)),

    // the selection step: top-50 raw docs by DSIR weight (the published
    // method Gumbel-resamples proportionally; the deterministic argmax
    // cut is its hash-checkable variant — weight DESC, doc_id tie-break,
    // TakeOrderedAndProject)
    ("q_dsir_select",
      (s, d) => dsirWeights(s, d)
        .orderBy(col("dsir_weight").desc, col("doc_id")).limit(50),
      Some(dsirOracleCtes + """
        |SELECT doc_id, n_grams, ratio_sum / CAST(n_grams AS DOUBLE) AS dsir_weight
        |FROM p ORDER BY dsir_weight DESC, doc_id
        |LIMIT 50""".stripMargin)),

    // TRAINING-MIX MANIFEST (r11 verdict next-round 4): the final
    // per-document keep/sample-probability artifact a curator ships —
    // the persisted selection families COMPOSED into one row per doc
    // (the q_dataset_card precedent): CCNet fluency tercile (graft_lm
    // scores), DSIR importance weight (graft_dsir pre-scored table),
    // and the exact-token-budget cut. Decision rule, documented not
    // hidden: keep = inside the token budget AND not in the fluency
    // tail; sample_prob = 1 for target-domain (src0) keeps, else the
    // DSIR weight clipped to [0,1] (proportional-sampling shape made
    // deterministic). bucket 'none' / weight 0.0 mark docs too short to
    // score (no bigrams) or outside the scored pool — explicit values,
    // not nulls, so both engines hash identically. The oracle re-derives
    // all three selections end to end, so the manifest stays a
    // hash-checked proof the composition equals its parts.
    ("q_training_manifest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ccnet = TextAnalysis.ccnetBuckets(lmScores(s, d), docs)
          .select(col("doc_id"), col("bucket"))
        val dsir = dsirWeights(s, d).select(col("doc_id"), col("dsir_weight"))
        val budget = Corpus.tokenBudgetMix(docs)
          .select(col("doc_id"), lit(1L).as("in_budget"))
        val keep = col("in_budget") === 1L && col("bucket") =!= "tail"
        docs.select(col("doc_id"), col("lang"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .join(ccnet, Seq("doc_id"), "left")
          .join(dsir, Seq("doc_id"), "left")
          .join(budget, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
            coalesce(col("bucket"), lit("none")).as("bucket"),
            coalesce(col("dsir_weight"), lit(0.0)).as("dsir_weight"),
            coalesce(col("in_budget"), lit(0L)).as("in_budget"))
          .withColumn("keep", keep)
          .withColumn("sample_prob",
            when(!col("keep"), lit(0.0))
              .when(col("source") === "src0", lit(1.0))
              .otherwise(least(lit(1.0), col("dsir_weight"))))
          .orderBy("doc_id")
      },
      Some(dsirOracleCtes + s""",
        |$CcnetCtes,
        |dw AS (SELECT doc_id, ratio_sum / CAST(n_grams AS DOUBLE) AS dsir_weight FROM p),
        |$TokenBudgetCtes,
        |base AS (SELECT doc_id, lang, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |mf AS (SELECT base.doc_id, base.lang, base.source, base.n_tokens,
        |  COALESCE(cc.bucket, 'none') AS bucket,
        |  COALESCE(dw.dsir_weight, 0.0) AS dsir_weight,
        |  CAST(CASE WHEN tm.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_budget,
        |  (tm.doc_id IS NOT NULL AND COALESCE(cc.bucket, 'tail') <> 'tail') AS keep
        |  FROM base LEFT JOIN cc ON base.doc_id = cc.doc_id
        |            LEFT JOIN dw ON base.doc_id = dw.doc_id
        |            LEFT JOIN tm ON base.doc_id = tm.doc_id)
        |SELECT doc_id, lang, source, n_tokens, bucket, dsir_weight, in_budget,
        |  keep, CASE WHEN NOT keep THEN 0.0
        |    WHEN source = 'src0' THEN 1.0
        |    ELSE least(1.0, dsir_weight) END AS sample_prob
        |FROM mf ORDER BY doc_id""".stripMargin)),

    // MANIFEST CARD — the dataset card of the SHIPPED MIX (q_dataset_card
    // reports the raw corpus; this reports what selection kept): per
    // source — doc counts, kept counts, kept tokens, keep rate, and the
    // kept fluency-bucket composition. Every metric integer-derived (the
    // one division is exact-long ÷ exact-long), so no double-sum order
    // to pin.
    ("q_manifest_card",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keeps = TextAnalysis.ccnetBuckets(lmScores(s, d), docs)
          .filter(col("bucket") =!= "tail").select("doc_id", "bucket")
          .join(Corpus.tokenBudgetMix(docs).select("doc_id"),
            Seq("doc_id"), "left_semi")
        docs.select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .join(keeps, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("bucket").isNotNull.cast("long")).as("n_kept"),
            sum(when(col("bucket").isNotNull, col("n_tokens"))
              .otherwise(lit(0L))).as("kept_tokens"),
            sum((col("bucket") === "head").cast("long")).as("n_head"),
            sum((col("bucket") === "middle").cast("long")).as("n_middle"))
          .withColumn("keep_rate",
            col("n_kept").cast("double") / col("n_docs").cast("double"))
          .orderBy("source")
      },
      Some(s"""WITH $MixKeepCtes,
        |base AS (SELECT d.doc_id, d.source,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, k.bucket
        |  FROM documents d LEFT JOIN keeps k ON d.doc_id = k.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN bucket IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN bucket IS NOT NULL THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
        |  CAST(sum(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
        |  CAST(sum(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
        |  CAST(sum(CASE WHEN bucket IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS keep_rate
        |FROM base GROUP BY source ORDER BY source""".stripMargin)),

    // MIX PACKING — the physical artifact of the shipped mix: the kept
    // documents (same keep rule) laid into fixed token windows via the
    // packSequences strata (restriction commutes with the per-(lang,
    // shard) window because the window orders by doc_id within the
    // restricted frame on both engines).
    ("q_mix_packing",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keeps = TextAnalysis.ccnetBuckets(lmScores(s, d), docs)
          .filter(col("bucket") =!= "tail").select("doc_id")
          .join(Corpus.tokenBudgetMix(docs).select("doc_id"),
            Seq("doc_id"), "left_semi")
        // semi-join the NARROW pack projection, not the raw documents
        // (r17, guide §2.3): the keep filter is doc_id-level, so it
        // commutes with the row-local token-count projection — the
        // stratum exchange then moves four scalars per kept doc where it
        // previously moved the text payload through a doc_id shuffle.
        Corpus.packFromCounts(
            Corpus.packTokenCounts(docs).join(keeps, Seq("doc_id"), "left_semi"))
          .orderBy("lang", "shard", "doc_id")
      },
      Some(s"""WITH $MixKeepCtes,
        |kd AS (SELECT d.doc_id, d.lang, d.doc_id % 8 AS shard,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM keeps))
        |SELECT doc_id, lang, shard, n_tokens,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 512) AS BIGINT) AS pack_id
        |FROM kd ORDER BY lang, shard, doc_id""".stripMargin)),

    // CURRICULUM STAGING — the training-ORDER step after selection: the
    // manifest's kept documents (CCNet head/middle ∩ token-budget cut)
    // split into four per-language quality tiers, cleanest first (the
    // published clean-to-noisy curriculum recipes). Per-language ntile
    // keeps the window partitioned (no global sort); fluency doubles are
    // bit-identical cross-engine and doc_id breaks ties, so both engines
    // cut stages at the same rows.
    ("q_curriculum",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Corpus.curriculumStages(
          TextAnalysis.ccnetBuckets(lmScores(s, d), docs),
          Corpus.tokenBudgetMix(docs))
      },
      Some(s"""WITH $MixKeepCtes
        |SELECT doc_id, lang, fluency,
        |  CAST(ntile(4) OVER (PARTITION BY lang
        |    ORDER BY fluency DESC, doc_id) AS INT) AS stage
        |FROM keeps ORDER BY doc_id""".stripMargin)),

    // ---- LLM-data pipeline: deduplication (north star)
    ("q_dedup_exact",
      (s, d) => Dedup.exactDuplicates(Tables.documents(s, d)),
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)),

    // Mirrors the Spark pipeline exactly: exact-dedup representatives,
    // df-cap (> 50 distinct texts) over reps, rep-level pairs, then
    // duplicate-group re-expansion (intra-group jaccard 1.0).
    // Hot-shingle (boilerplate) mining — the discovery side of the df-cap:
    // top-k shingles by document frequency over distinct texts. Heavy
    // counting runs on 64-bit hashes; strings materialize only for the
    // boundary-tie superset of the top k.
    ("q_hot_shingles",
      (s, d) => hotShinglesFrame(s, d).orderBy(col("df").desc, col("shingle")),
      Some(s"""WITH $ShingleDfCtes
        |SELECT shingle, df FROM c WHERE df >= 2
        |ORDER BY df DESC, shingle LIMIT 20""".stripMargin)),

    // EXACT-PHRASE document lookup (attribution / memorization audit):
    // the corpus's hottest shingle probed through the persisted inverted
    // index — k-hash semi-join candidates, members expansion, boundary-
    // guarded contains verify on candidates ONLY (never a corpus scan);
    // the in-plan top-1 derivation keeps the probe non-vacuous at every SF
    ("q_phrase_search",
      (s, d) => {
        val t = dedupTables(s, d)
        val phrase = t.stoplist.orderBy(col("df").desc, col("shingle")).limit(1)
          .select(col("shingle").as("phrase"))
        Dedup.phraseSearch(Tables.documents(s, d), phrase, t.members, t.index)
      },
      Some(s"""WITH $ShingleDfCtes,
        |top AS (SELECT shingle AS phrase FROM c WHERE df >= 2
        |  ORDER BY df DESC, shingle LIMIT 1)
        |SELECT doc_id, phrase FROM documents CROSS JOIN top
        |WHERE contains(' ' || text || ' ', ' ' || phrase || ' ')
        |ORDER BY doc_id""".stripMargin)),

    // Served from the family's persisted default-threshold table (v5 —
    // the containment/simhash precedent applied to the last per-call
    // intersection pipelines); [[Dedup.jaccardPairs]] over the persisted
    // index remains the any-threshold path.
    ("q_jaccard_pairs",
      (s, d) => dedupTables(s, d).jaccardPairs.orderBy("doc_id1", "doc_id2"),
      Some(s"""WITH $jaccardPairsSqlCtes
        |SELECT * FROM intra UNION ALL SELECT * FROM xg
        |ORDER BY doc_id1, doc_id2""".stripMargin)),

    // LEXICAL threshold-sensitivity card (r15 verdict 6): the same
    // row-local curve as q_dedup_sensitivity, over the persisted
    // verified JACCARD pairs — pair count and greedy higher-id drop
    // count at each candidate resemblance threshold, so curators read
    // the lexical and semantic dedup knobs side by side (the 1.0 floor
    // is the exact-duplicate intra pairs, exactly as cosine 1.0 is on
    // the semantic card). Thresholds >= the mining threshold (0.5) are
    // exact over the verified frame; one conditional aggregate over the
    // snapshot scan, no join.
    ("q_dedup_sensitivity_lexical",
      (s, d) => Similarity.dedupThresholdSensitivity(
        dedupTables(s, d).jaccardPairs, Seq(0.5, 0.6, 0.7, 0.8, 0.9, 1.0),
        scoreCol = "jaccard", dropCol = "doc_id2"),
      Some(s"""WITH $jaccardPairsSqlCtes,
        |allp AS (SELECT * FROM intra UNION ALL SELECT * FROM xg),
        |tx AS (SELECT allp.jaccard, allp.doc_id2, t.threshold FROM allp
        |  CROSS JOIN (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9, 1.0])
        |    AS threshold) t)
        |SELECT threshold,
        |  CAST(sum(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pairs,
        |  CAST(count(DISTINCT CASE WHEN jaccard >= threshold THEN doc_id2 END)
        |    AS BIGINT) AS n_dropped
        |FROM tx GROUP BY threshold ORDER BY threshold""".stripMargin)),

    // DIRECTED containment (Broder) pairs — |S(a)∩S(b)|/|S(a)| over the
    // same persisted index + df-cap as q_jaccard_pairs; catches
    // subset/quote duplication resemblance-Jaccard misses. Intra-group
    // members contain each other (both directions at 1.0). Served from
    // the family's persisted default-threshold table (dedup-v4; round-9
    // verdict next-round 1 — the df-cap + intersection self-join now runs
    // once per corpus snapshot, not once per call; the shingle index
    // remains the path for other-threshold probes via
    // [[Dedup.containmentPairs]]).
    ("q_containment_pairs",
      (s, d) => dedupTables(s, d).containmentPairs
        .orderBy("contained_id", "container_id"),
      Some(s"""WITH $RepShingleCtes,
        |${cappedInterCtes("ex0")},
        |rp AS (
        |  SELECT doc_id1 AS contained_id, doc_id2 AS container_id,
        |    CAST(n_common AS DOUBLE) / s1.n_sh AS containment
        |  FROM inter JOIN sz s1 ON doc_id1 = s1.doc_id
        |  UNION ALL
        |  SELECT doc_id2 AS contained_id, doc_id1 AS container_id,
        |    CAST(n_common AS DOUBLE) / s2.n_sh AS containment
        |  FROM inter JOIN sz s2 ON doc_id2 = s2.doc_id),
        |rpf AS (SELECT * FROM rp WHERE containment >= 0.8),
        |elig AS (SELECT * FROM members WHERE rep IN (SELECT doc_id FROM sz)),
        |intra AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
        |  CAST(1.0 AS DOUBLE) AS containment
        |  FROM elig a JOIN elig b ON a.rep = b.rep AND a.doc_id <> b.doc_id),
        |xg AS (SELECT m1.doc_id AS contained_id, m2.doc_id AS container_id,
        |  rpf.containment
        |  FROM rpf JOIN elig m1 ON rpf.contained_id = m1.rep
        |           JOIN elig m2 ON rpf.container_id = m2.rep)
        |SELECT * FROM intra UNION ALL SELECT * FROM xg
        |ORDER BY contained_id, container_id""".stripMargin)),

    // mine → strip → pair (round-6 verdict 4): the stop-list COMPOSITION of
    // q_hot_shingles and q_jaccard_pairs. The mined boilerplate list — the
    // same memoized frame q_hot_shingles reports — is stripped from the
    // shingle universe BEFORE the df count, so documents related only
    // through template chrome no longer pair and jaccard is scored over
    // post-strip sets; the df-cap still guards whatever the miner missed.
    ("q_stoplist_pairs",
      (s, d) => dedupTables(s, d).stoplistPairs.orderBy("doc_id1", "doc_id2"),
      Some(s"""WITH $RepShingleCtes,
        |hot AS (SELECT shingle FROM
        |  (SELECT shingle, count(*) AS df FROM ex0 GROUP BY shingle)
        |  WHERE df >= 2 ORDER BY df DESC, shingle LIMIT 20),
        |exs AS (SELECT * FROM ex0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |${cappedInterCtes("exs")},
        |$JaccardExpandCtes
        |SELECT * FROM intra UNION ALL SELECT * FROM xg
        |ORDER BY doc_id1, doc_id2""".stripMargin)),

    // MinHash-LSH candidates verified with exact Jaccard: output equals the
    // exact j≥0.8 pairs (miss probability ≈ 5e-8 at 32 bands × 4 rows), so
    // the exact-pairs SQL is a valid oracle.
    ("q_minhash_pairs",
      (s, d) => nearDupPairs(s, d).orderBy("doc_id1", "doc_id2"),
      Some(s"""WITH $NearDupPairsCtes
        |SELECT doc_id1, doc_id2, jaccard FROM prs
        |ORDER BY doc_id1, doc_id2""".stripMargin)),

    // greedy near-dedup: drop the higher id of every minhash pair; oracle
    // recomputes the drop set from the exact pairs (≡ LSH output, see
    // q_minhash_pairs)
    ("q_neardedup_corpus",
      (s, d) => Dedup.nearDedupFromPairs(Tables.documents(s, d), nearDupPairs(s, d))
        .select("doc_id", "lang", "source").orderBy("doc_id"),
      Some(s"""WITH $NearDupPairsCtes,
        |dropset AS (SELECT DISTINCT doc_id2 FROM prs)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id2 FROM dropset)
        |ORDER BY doc_id""".stripMargin)),

    // connected-component min-labels over the near-dup pairs graph; the
    // oracle walks the same (exact ≡ LSH) pairs with a recursive CTE.
    // Propagation runs to a FIXPOINT (r5, ADVICE item 3 — spec'd by the
    // long-chain fixture in LlmOpsSpec), so it matches the exact oracle at
    // any component diameter / SF, not just diameter ≤ 2^rounds. Served
    // from the family's persisted cluster table (dedup-v6 — round-10
    // verdict next-round 2: the fixpoint is threshold-determined snapshot
    // state; [[Dedup.clustersFromPairs]] stays the any-pairs path).
    ("q_dup_clusters",
      (s, d) => dedupTables(s, d).clusters.orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $NearDupPairsCtes,
        |$DupClusterCtes
        |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin)),

    // duplicate-cluster SIZE histogram: the dataset-card view of the
    // near-dup graph (2-copy pairs vs boilerplate mega-clusters), two
    // hash aggregates over the persisted cluster assignment — never
    // touches documents
    ("q_cluster_sizes",
      (s, d) => Dedup.clusterSizeHistogram(dedupTables(s, d).clusters),
      Some(s"""WITH RECURSIVE $NearDupPairsCtes,
        |$DupClusterCtes,
        |cs AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY cluster_id)
        |SELECT cluster_size, count(*) AS n_clusters FROM cs
        |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)),

    // KEEP-BEST near-dedup policy: per duplicate CLUSTER keep the longest
    // doc (smallest id on ties) — the curation policy that never discards
    // the best copy, vs q_neardedup_corpus' greedy lowest-id keep. Serves
    // as ONE anti-join against the family's persisted drop set (dedup-v6 —
    // the per-cluster argmax is threshold-determined snapshot state); the
    // oracle re-walks the cluster CTE and ranks with QUALIFY.
    ("q_dedup_keep_best",
      (s, d) => Tables.documents(s, d)
        .join(dedupTables(s, d).keepBestDrop, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source").orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $NearDupPairsCtes,
        |$DupClusterCtes,
        |dropset AS (SELECT cl.doc_id FROM cl JOIN documents d USING (doc_id)
        |  QUALIFY row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY d.n_chars DESC, cl.doc_id) > 1)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropset)
        |ORDER BY doc_id""".stripMargin)),

    // token-budget chunking with overlap (maxTokens 32, overlap 8, stride
    // 24): the training-prep step between cleaning and packing; chunk
    // strings reproduced byte-for-byte by the oracle
    ("q_chunk_documents",
      (s, d) => Corpus.chunkDocuments(Tables.documents(s, d))
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
        |  CAST(floor((greatest(len(string_split(text, ' ')) - 8, 1) + 23)
        |    / CAST(24 AS DOUBLE)) AS INT) AS n_chunks
        |  FROM documents),
        |c AS (SELECT doc_id, unnest(generate_series(0, n_chunks - 1)) AS chunk_id, t
        |  FROM d)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  array_to_string(t[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text,
        |  CAST(least(len(t) - chunk_id * 24, 32) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // CHUNK-LEVEL PASSAGE RETRIEVAL (the RAG data shape): chunk -> embed
    // (closed-form text tower over chunk_text) -> sign-LSH band index ->
    // per-query passage top-k with the max-2-passages-per-document
    // DIVERSITY CAP (the rn_doc <= 2 clause below). Query q (doc_id < 5)
    // retrieves with its FIRST chunk's vector from OTHER documents only.
    // Served from the persisted graft_passage family (one scan; the
    // chunk/embed/band/rank construction runs once per corpus snapshot);
    // the oracle re-walks the ENTIRE composition — chunk strings, tower
    // floats, plane dots, band buckets, exact cosines, both rank windows —
    // so the persisted artifact hash-checks end to end at all SFs.
    ("q_passage_topk",
      (s, d) => passageTables(s, d).topk.orderBy("query_id", "rank"),
      Some(s"""WITH $PassageIndexCtes,
        |$PassageTopKCtes
        |SELECT query_id, doc_id, chunk_id, cosine, rank FROM rk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // LATE-INTERACTION (ColBERT MaxSim) document ranking over the chunk
    // vectors: a query doc is its BAG of chunk vectors; a candidate doc
    // scores the sum over query chunks of the max chunk-pair cosine —
    // fine-grained interaction a pooled vector can't express. Candidate
    // pairs come from the persisted band index (non-colliding pairs
    // contribute 0 — the production ANN-candidate lower bound); max is
    // order-insensitive and the per-doc sum folds in sorted query-chunk
    // order, so the MaxSim double hash-checks.
    ("q_late_interaction_topk",
      (s, d) => passageTables(s, d).liTopk.orderBy("query_id", "rank"),
      Some(LateInteractionSql)),

    // RETRIEVAL-DISTILLATION pairs (the ColBERTv2 training-data shape):
    // for every (query, doc) the student passage top-k surfaced, the
    // teacher's FULL MaxSim score (all chunk pairs — not band-limited: a
    // distillation target must score the whole interaction or the
    // student re-learns the index's blind spots) plus both ranks; the
    // disagreement rows are the training signal. Teacher cost is
    // slate-bounded (queries × ≤ k docs), never corpus-bounded. Served
    // from the persisted family (passage-v4); the oracle re-walks the
    // student retrieval AND the teacher fold end to end.
    ("q_distill_pairs",
      (s, d) => passageTables(s, d).distill.orderBy("query_id", "teacher_rank"),
      Some(s"""WITH $PassageIndexCtes,
        |$PassageTopKCtes,
        |cand AS (SELECT query_id, doc_id, max(cosine) AS student_score,
        |  min(rank) AS best_rank FROM rk WHERE rank <= 10 GROUP BY query_id, doc_id),
        |qc AS (SELECT doc_id AS query_id, pid AS qpid, v FROM pv
        |  WHERE doc_id IN (SELECT DISTINCT query_id FROM cand)
        |    AND ${Similarity.Sql.dot("v", "v")} > 0),
        |pr AS (SELECT cand.query_id, cand.doc_id, qc.qpid,
        |  ${Similarity.Sql.cosine("qc.v", "cv.v")} AS cosine
        |  FROM cand JOIN pv cv ON cv.doc_id = cand.doc_id
        |       JOIN qc ON qc.query_id = cand.query_id
        |  WHERE ${Similarity.Sql.dot("cv.v", "cv.v")} > 0),
        |mx AS (SELECT query_id, doc_id, qpid, max(cosine) AS maxsim
        |  FROM pr GROUP BY query_id, doc_id, qpid),
        |ts AS (SELECT query_id, doc_id,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(list_sort(list(struct_pack(qpid := qpid, maxsim := maxsim))),
        |      x -> x.maxsim)), (a, b) -> a + b) AS teacher_score
        |  FROM mx GROUP BY query_id, doc_id)
        |SELECT cand.query_id, cand.doc_id, cand.student_score,
        |  CAST(row_number() OVER (PARTITION BY cand.query_id
        |    ORDER BY cand.best_rank) AS BIGINT) AS student_rank,
        |  ts.teacher_score,
        |  CAST(row_number() OVER (PARTITION BY cand.query_id
        |    ORDER BY ts.teacher_score DESC, cand.doc_id) AS BIGINT) AS teacher_rank
        |FROM cand JOIN ts USING (query_id, doc_id)
        |ORDER BY query_id, teacher_rank""".stripMargin)),

    // CONTEXT PACKING — the artifact a RAG pipeline assembles from the
    // top-k: per query, passages admitted in RANK order while the running
    // token total stays within the 128-token budget (greedy prefix —
    // rank order is relevance order, so the prefix is the best context
    // the budget buys; n_tokens >= 1 makes the running sum strictly
    // monotone, so the cum <= budget filter IS the prefix). Serves from
    // the persisted family's topk + per-chunk token counts; the oracle
    // re-walks retrieval AND the running sum.
    ("q_context_pack",
      (s, d) => {
        val t = passageTables(s, d)
        Passage.contextPack(t.topk, t.vectors)
      },
      Some(s"""WITH $PassageIndexCtes,
        |$PassageTopKCtes,
        |tk AS (SELECT query_id, rank, doc_id, chunk_id, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY query_id ORDER BY rank
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM rk WHERE rank <= 10)
        |SELECT query_id, rank, doc_id, chunk_id, n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM tk WHERE cum_tokens <= 128 ORDER BY query_id, rank""".stripMargin)),

    // Passage-banding recall witness — the measured-recall row of the
    // band-indexed path vs the exact diversity-capped baseline, AGGREGATE
    // across the query set (per-query recall on the near-random stub
    // corpus is high-variance). Bounds the rows ACTUALLY SERVED (the
    // persisted topk). Both sides are closed-form, so unlike the IVF/PQ
    // witnesses the real n_found/recall columns are themselves
    // hash-checked — measured 0.98/0.72/1.0 at the three SFs, bound 0.6.
    ("q_passage_recall_bound",
      (s, d) => {
        val t = passageTables(s, d)
        Passage.recallBound(t.topk, Passage.passageBruteTopK(t.vectors))
      },
      Some(s"""WITH $PassageEvalCtes,
        |mk AS (SELECT count(*) AS n_exact,
        |  COALESCE(sum(CASE WHEN rkb.query_id IS NOT NULL THEN 1 ELSE 0 END),
        |    CAST(0 AS BIGINT)) AS n_found
        |  FROM rke LEFT JOIN rkb USING (query_id, doc_id, chunk_id))
        |SELECT CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(n_found AS BIGINT) AS n_found,
        |  CASE WHEN n_exact = 0 THEN CAST(1.0 AS DOUBLE)
        |    ELSE CAST(n_found AS DOUBLE) / n_exact END AS recall,
        |  CAST(0.6 AS DOUBLE) AS recall_bound,
        |  CAST(CAST(n_found AS DOUBLE) >= n_exact * CAST(0.6 AS DOUBLE) AS INT)
        |    AS within_bound
        |FROM mk""".stripMargin)),

    // MRR card over the served passage list: the rank-POSITION-sensitive
    // retrieval metric (where does the served list PLACE the exact
    // brute-force top-1 chunk), complementing the set-overlap recall
    // witness; both sides closed-form, whole card hash-checked. Two
    // k-bounded lists join on the id triple — constant work.
    ("q_passage_mrr",
      (s, d) => {
        val t = passageTables(s, d)
        Passage.mrrCard(t.topk, Passage.passageBruteTopK(t.vectors))
      },
      Some(s"""WITH $PassageEvalCtes,
        |rke1 AS (SELECT query_id, doc_id, chunk_id FROM rke WHERE rank = 1),
        |h AS (SELECT CASE WHEN rkb.rank IS NULL THEN CAST(0.0 AS DOUBLE)
        |    ELSE 1.0 / CAST(rkb.rank AS DOUBLE) END AS rr
        |  FROM rke1 LEFT JOIN rkb USING (query_id, doc_id, chunk_id))
        |SELECT count(*) AS n_queries,
        |  CAST(sum(CASE WHEN rr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_found_top1,
        |  CASE WHEN count(*) = 0 THEN CAST(1.0 AS DOUBLE)
        |    ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(rr))),
        |      (a, b) -> a + b) / CAST(count(*) AS DOUBLE) END AS mrr
        |FROM h""".stripMargin)),

    // nDCG@10 card over the served passage list: the rank-WEIGHTED
    // retrieval metric (the whole served list graded against the exact
    // ranking, positions discounted by 1/log2(rank+1)), complementing
    // MRR's top-1 position and the recall witness's set overlap. The
    // log2 discounts are computed ONCE in Scala and embedded as
    // LITERALS in both the plan and this SQL (shortest-round-trip
    // doubles — no engine evaluates a transcendental at query time), so
    // the card hash-checks end to end. Same constant k-bounded shape.
    ("q_passage_ndcg",
      (s, d) => {
        val t = passageTables(s, d)
        Passage.ndcgCard(t.topk, Passage.passageBruteTopK(t.vectors))
      },
      Some {
        val discSql = Passage.ndcgDiscounts(10).map(_.toString)
          .mkString("[", ", ", "]")
        s"""WITH $PassageEvalCtes,
        |idcg AS (SELECT query_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_sort(list(CAST(11 - rank AS DOUBLE) * ($discSql)[rank]))),
        |  (a, b) -> a + b) AS idcg FROM rke GROUP BY query_id),
        |g AS (SELECT rkb.query_id,
        |    COALESCE(CAST(11 - rke.rank AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * ($discSql)[rkb.rank] AS g
        |  FROM rkb LEFT JOIN rke USING (query_id, doc_id, chunk_id)),
        |dcg AS (SELECT query_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_sort(list(g))), (a, b) -> a + b) AS dcg
        |  FROM g GROUP BY query_id)
        |SELECT idcg.query_id AS query_id,
        |  COALESCE(dcg.dcg, CAST(0.0 AS DOUBLE)) AS dcg,
        |  idcg.idcg AS idcg,
        |  COALESCE(dcg.dcg, CAST(0.0 AS DOUBLE)) / idcg.idcg AS ndcg
        |FROM idcg LEFT JOIN dcg ON idcg.query_id = dcg.query_id
        |ORDER BY 1""".stripMargin
      }),

    // The passage QUERY-SERVING endpoint: arbitrary (query_id, query_text)
    // requests tower-embedded as one chunk, bucketed with the index's
    // frozen planes, answered from the persisted passage family with the
    // same diversity-capped ranking as q_passage_topk. External id
    // namespace — no own-document exclusion (an external query has no own
    // document); in-corpus parity is spec-pinned. The oracle re-derives
    // the corpus index AND the request towers, so the endpoint
    // hash-checks end to end.
    ("q_passage_query_serve",
      (s, d) => {
        import s.implicits._
        val reqs = Seq(
          (1L, "event stream processing"),
          (2L, "vector similarity search"),
          (3L, "data quality filter")).toDF("query_id", "query_text")
        val t = passageTables(s, d)
        Passage.passageTopKForQueries(t.vectors, t.bands, reqs)
      },
      Some(s"""WITH $PassageIndexCtes,
        |reqs AS (SELECT * FROM (VALUES
        |  (1, 'event stream processing'),
        |  (2, 'vector similarity search'),
        |  (3, 'data quality filter')) AS vr(query_id, query_text)),
        |qf AS (SELECT CAST(query_id AS BIGINT) AS query_id,
        |  ${TextAnalysis.Sql.fingerprintOf("query_text")} AS f FROM reqs),
        |qe AS (SELECT query_id, $TextTower AS v FROM qf),
        |qg AS (SELECT query_id, v FROM qe WHERE ${Similarity.Sql.dot("v", "v")} > 0),
        |qbk AS (SELECT query_id, ${Similarity.Sql.lshBucket("v", 16, 16)} AS bucket
        |  FROM qg),
        |qc AS (SELECT query_id, band, (bucket >> (band * 4)) & 15 AS bb
        |  FROM qbk CROSS JOIN (SELECT unnest(range(0, 4)) AS band) uq),
        |p0 AS (SELECT DISTINCT qc.query_id, c2.pid FROM c c2
        |  JOIN qc ON c2.band = qc.band AND c2.bb = qc.bb),
        |${passageRankCtes("qg")}
        |SELECT query_id, doc_id, chunk_id, cosine, rank FROM rk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // incremental dedup: the 20% "new crawl" (doc_id mod 5 = 4) against the
    // 80% corpus, corpus side driven entirely by the signature index.
    // ORACLE VALIDITY rests on the same LSH-recall assumption as
    // q_minhash_pairs: the near branch only sees pairs colliding in the
    // 128-hash/32-band join, while this SQL computes exact all-pairs
    // j ≥ 0.8 — sound because the band S-curve misses a true j ≥ 0.8 pair
    // with P = (1-j⁴)³² ≤ 5e-8 (SketchSpec "LSH S-curve margin" pins the
    // (threshold, bands, rows) parameters to that bound, so parameter
    // drift cannot silently cross the recall cliff).
    ("q_dedup_incremental",
      (s, d) => {
        val delta = Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)) === 4)
        // corpus side served ENTIRELY from the persisted signature index
        // ([[incrementalIndex]], snapshot-store-committed): only the delta
        // is read and sketched per call — the production daily-crawl shape
        Dedup.dedupDelta(incrementalIndex(s, d), delta)
      },
      Some(s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 < 4),
        |delta AS (SELECT * FROM documents WHERE doc_id % 5 = 4),
        |exact AS (SELECT c.doc_id AS corpus_id, d.doc_id AS delta_id,
        |  CAST(1.0 AS DOUBLE) AS jaccard
        |  FROM corpus c JOIN delta d ON c.text = d.text),
        |csets AS (${Dedup.Sql.shingleSets("corpus")}),
        |dsets AS (${Dedup.Sql.shingleSets("delta")}),
        |cex AS (SELECT doc_id, unnest(sh) AS shingle FROM csets WHERE len(sh) > 0),
        |dex AS (SELECT doc_id, unnest(sh) AS shingle FROM dsets WHERE len(sh) > 0),
        |inter AS (SELECT c.doc_id AS corpus_id, d.doc_id AS delta_id, count(*) AS n_common
        |  FROM cex c JOIN dex d ON c.shingle = d.shingle GROUP BY 1, 2),
        |near AS (SELECT corpus_id, delta_id,
        |  CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) AS jaccard
        |  FROM inter
        |  JOIN (SELECT doc_id, len(sh) AS n FROM csets) s1 ON corpus_id = s1.doc_id
        |  JOIN (SELECT doc_id, len(sh) AS n FROM dsets) s2 ON delta_id = s2.doc_id
        |  JOIN corpus c ON corpus_id = c.doc_id
        |  JOIN delta dd ON delta_id = dd.doc_id
        |  WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.8
        |    AND c.text <> dd.text)
        |SELECT * FROM exact UNION ALL SELECT * FROM near
        |ORDER BY corpus_id, delta_id""".stripMargin)),

    // FUZZY (near-duplicate) decontamination: the paraphrase-grade
    // upgrade of q_contamination — training docs whose shingle-set
    // jaccard vs ANY benchmark doc reaches 0.5, found by the
    // incremental-dedup machinery with the benchmark as the indexed
    // side (exact-gram decontamination misses lightly-edited benchmark
    // copies; modern curation runs both). Banding at the lower
    // threshold uses 64 bands × 2 rows (miss ≈ (1-0.5²)⁶⁴ ≈ 1e-8 at
    // j = 0.5 — the 0.8-threshold geometry would miss 13% there);
    // candidates exact-verify as always, so the oracle is the exact
    // cross-split jaccard join. Non-vacuous at all 3 SFs (7/3/36 pairs).
    ("q_fuzzy_contamination",
      (s, d) => fuzzyDeconPairs(s, d).orderBy("doc_id", "bench_id"),
      Some(s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 11 <> 0),
        |bench AS (SELECT * FROM documents WHERE doc_id % 11 = 0),
        |exact AS (SELECT c.doc_id AS doc_id, b.doc_id AS bench_id,
        |  CAST(1.0 AS DOUBLE) AS jaccard
        |  FROM corpus c JOIN bench b ON c.text = b.text),
        |csets AS (${Dedup.Sql.shingleSets("corpus")}),
        |bsets AS (${Dedup.Sql.shingleSets("bench")}),
        |cex AS (SELECT doc_id, unnest(sh) AS shingle FROM csets WHERE len(sh) > 0),
        |bex AS (SELECT doc_id, unnest(sh) AS shingle FROM bsets WHERE len(sh) > 0),
        |inter AS (SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS n_common
        |  FROM cex c JOIN bex b ON c.shingle = b.shingle GROUP BY 1, 2),
        |near AS (SELECT inter.doc_id, inter.bench_id,
        |  CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) AS jaccard
        |  FROM inter
        |  JOIN (SELECT doc_id, len(sh) AS n FROM csets) s1 ON inter.doc_id = s1.doc_id
        |  JOIN (SELECT doc_id, len(sh) AS n FROM bsets) s2 ON inter.bench_id = s2.doc_id
        |  JOIN corpus c ON inter.doc_id = c.doc_id
        |  JOIN bench b ON inter.bench_id = b.doc_id
        |  WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.5
        |    AND c.text <> b.text)
        |SELECT * FROM exact UNION ALL SELECT * FROM near
        |ORDER BY doc_id, bench_id""".stripMargin)),

    // train/test decontamination: 5-gram collisions of the corpus
    // (doc_id mod 11 <> 0) against the benchmark split (mod 11 = 0).
    // Served from the persisted graft_decon collision table (the gram
    // explode runs once per snapshot); Dedup.contamination remains the
    // any-benchmark path.
    ("q_contamination",
      (s, d) => deconCollisions(s, d).orderBy("doc_id"),
      Some(EXACT_CONTAM_SQL)),

    // BROADCAST-BLOOM DECONTAMINATION — the zero-shuffle pre-filter (the
    // contamination plan that actually survives 100 TB): the benchmark's
    // distinct 5-gram fingerprints set k=6 double-hashed bits in a
    // 2^20-bit bitmap packed into ONE broadcast row (Dedup.bloomBitmap —
    // the PQ packed-codebook idiom applied to set membership); the
    // corpus probe is then a pure projection — grams, polynomial
    // fingerprints, positions, and bit tests all evaluate INSIDE the row
    // — so the corpus is scanned once and NEVER exchanged (even
    // q_contamination's exact join map-side-aggregates and shuffles the
    // corpus gram stream). Blooms have no false negatives, so the
    // candidate set is a hash-checked SUPERSET of the exact flags
    // (q_bloom_bound witnesses n_missed = 0); the full oracle re-derives
    // every bit of the bitmap and probe in DuckDB.
    // Served from the persisted graft_bloom family (bitmap build, probe
    // and candidate-verify run once per snapshot — bloomTables); the
    // oracle re-derives the whole construction.
    ("q_bloom_candidates",
      (s, d) => bloomTables(s, d)._1.orderBy("doc_id"),
      Some(s"""$BLOOM_CTES
        |SELECT doc_id, n_bloom_hits FROM cand ORDER BY doc_id""".stripMargin)),

    // the composed production plan: exact-verify ONLY the bloom
    // candidates. Output ≡ q_contamination — the identity is structural
    // (no false negatives ⇒ restricting the exact gram join to
    // candidates loses nothing), so the oracle is EXACT_CONTAM_SQL
    // verbatim — while the corpus-wide stage drops from a gram join to
    // the row-local probe: only the candidate sliver pays the explode.
    ("q_bloom_contamination",
      (s, d) => bloomTables(s, d)._2.orderBy("doc_id"),
      Some(EXACT_CONTAM_SQL)),

    // witness row: candidates ⊇ exact flags — n_missed MUST be 0 (the
    // no-false-negative guarantee, hash-checked against the persisted
    // exact table), plus the pre-filter's precision (measured 0.87–1.0
    // across SFs; the surplus is polynomial-fingerprint birthday
    // collisions, see Dedup.BloomBits scaladoc — bound at ≥ 0.8).
    ("q_bloom_bound",
      (s, d) => {
        val cand = bloomTables(s, d)._1.select("doc_id")
        val exact = deconCollisions(s, d).select("doc_id")
        val prec = col("n_exact").cast("double") / col("n_candidates")
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
          .crossJoin(exact.join(cand, Seq("doc_id"), "left_anti")
            .agg(count(lit(1)).as("n_missed")))
          .select(col("n_candidates"), col("n_exact"), col("n_missed"),
            prec.as("candidate_precision"),
            (col("n_missed") === 0 && prec >= 0.8).cast("int").as("within_bound"))
      },
      Some(s"""$BLOOM_CTES,
        |ex AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)),
        |n AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ex
        |     WHERE doc_id NOT IN (SELECT doc_id FROM cand)) AS n_missed)
        |SELECT n_candidates, n_exact, n_missed,
        |  n_exact / CAST(n_candidates AS DOUBLE) AS candidate_precision,
        |  CAST((n_missed = 0 AND n_exact / CAST(n_candidates AS DOUBLE) >= 0.8) AS INT)
        |    AS within_bound
        |FROM n""".stripMargin)),

    // the drop-side: corpus anti-join against the persisted collision
    // table (exactly Dedup.decontaminate's shape with the contamination
    // frame pre-computed)
    ("q_decontaminated",
      (s, d) => Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(11)) =!= 0)
        .join(deconCollisions(s, d).select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source").orderBy("doc_id"),
      Some(s"""WITH $BenchGramCtes,
        |${docGramCte("corp")}
        |SELECT doc_id, lang, source FROM corp
        |WHERE doc_id NOT IN (SELECT doc_id FROM cg JOIN bg USING (g))
        |ORDER BY doc_id""".stripMargin)),

    // PII REDACTION (r11 verdict next-round 2): the canonical curation
    // stage the surface lacked — email/IPv4/phone/id-number shapes masked
    // by a fixed idempotent regexp_replace chain with digit-free
    // placeholders (operators.Pii; row-local projection, no shuffle, no
    // UDF). The synthetic corpus carries no contact shapes, so the
    // registry scrubs the DETERMINISTIC injected view
    // (Pii.withInjectedPii — the mediaFromDocuments fixture precedent,
    // all values in reserved example ranges); the oracle mirrors
    // injection + chain literally, 'g' pinning DuckDB's replace to
    // Spark's replace-all (the regexp_extract_all dialect-pin precedent).
    ("q_scrub_pii",
      (s, d) => Pii.scrubPii(Pii.withInjectedPii(Tables.documents(s, d)))
        .orderBy("doc_id"),
      Some(s"""WITH inj AS (SELECT doc_id, lang, source, ${Pii.Sql.inject} AS text
        |  FROM documents),
        |scr AS (SELECT doc_id, lang, source, ${Pii.Sql.scrub("text")} AS clean_text
        |  FROM inj),
        |cnt AS (SELECT doc_id, lang, source, clean_text,
        |  $PiiCountCols
        |  FROM scr)
        |SELECT doc_id, lang, source, clean_text, n_emails, n_phones, n_ips,
        |  n_ids, n_intl_phones, n_ibans,
        |  n_emails + n_phones + n_ips + n_ids + n_intl_phones + n_ibans AS n_pii
        |FROM cnt ORDER BY doc_id""".stripMargin)),

    // per-source PII-rate dataset-card row (the dup-rate-by-source
    // precedent): affected-document rate + per-family totals, one
    // map-side-combining aggregate to |sources| rows
    ("q_pii_rate",
      (s, d) => Pii.piiRate(
        Pii.scrubPii(Pii.withInjectedPii(Tables.documents(s, d)))),
      Some(s"""WITH inj AS (SELECT doc_id, source, ${Pii.Sql.inject} AS text
        |  FROM documents),
        |scr AS (SELECT doc_id, source, ${Pii.Sql.scrub("text")} AS clean_text
        |  FROM inj),
        |cnt AS (SELECT doc_id, source,
        |  $PiiCountCols
        |  FROM scr)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n_emails + n_phones + n_ips + n_ids
        |      + n_intl_phones + n_ibans > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
        |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
        |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
        |  CAST(sum(n_ips) AS BIGINT) AS n_ips,
        |  CAST(sum(n_ids) AS BIGINT) AS n_ids,
        |  CAST(sum(n_intl_phones) AS BIGINT) AS n_intl_phones,
        |  CAST(sum(n_ibans) AS BIGINT) AS n_ibans,
        |  CAST(sum(CASE WHEN n_emails + n_phones + n_ips + n_ids
        |      + n_intl_phones + n_ibans > 0
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS pii_rate
        |FROM cnt GROUP BY source ORDER BY source""".stripMargin)),

    // the scrub WIRED INTO the clean-pipeline composition (quality →
    // decontaminate → scrub, each stage snapshot-served): the survivors'
    // masked text + audit counts — the hand-off a curation run ships to
    // tokenization. Injection commutes with restriction (row-local), so
    // scrubbing the injected view of the survivor set equals restricting
    // the scrubbed corpus — the decon-family identity again.
    ("q_pipeline_scrubbed",
      (s, d) => {
        val survivors = qualityFlags(s, d)
          .filter(col("keep") && pmod(col("doc_id"), lit(11)) =!= 0)
          .select("doc_id")
          .join(deconCollisions(s, d).select("doc_id"), Seq("doc_id"), "left_anti")
        Pii.scrubPii(Pii.withInjectedPii(Tables.documents(s, d)))
          .join(survivors, Seq("doc_id"), "left_semi")
          .select("doc_id", "source", "n_pii", "clean_text")
          .orderBy("doc_id")
      },
      Some(s"""WITH $DeconCtes,
        |inj AS (SELECT doc_id, source, ${Pii.Sql.inject} AS text
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM dcn)),
        |scr AS (SELECT doc_id, source, ${Pii.Sql.scrub("text")} AS clean_text
        |  FROM inj)
        |SELECT doc_id, source,
        |  $PiiMarkSum AS n_pii,
        |  clean_text
        |FROM scr ORDER BY doc_id""".stripMargin)),

    // EXACT SUBSTRING (span-level) dedup: every token position covered by
    // a cross-document 8-gram is excised and the document rewritten —
    // document-level ops above keep or drop whole texts, this one removes
    // the shared passages themselves (exact duplicates come back empty).
    // The oracle mirrors the whole pipeline on gram STRINGS (the Spark
    // side joins on 64-bit gram hashes — the jaccardPairs collision-risk
    // class) and reassembles clean_text with an ordered string_agg.
    ("q_strip_dup_spans",
      (s, d) => Dedup.stripDupSpans(Tables.documents(s, d), k = 8),
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g0 AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS pos FROM toks),
        |grams AS (SELECT doc_id, pos,
        |  list_aggregate(t[pos:pos+7], 'string_agg', ' ') AS g FROM g0),
        |hot AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS cpos
        |  FROM grams WHERE g IN (SELECT g FROM hot)),
        |${spanExciseSql("dup_frac")}""".stripMargin)),

    // SNAPSHOT DIFF — the dataset-versioning card between two corpus
    // releases: per (source, status) counts + net char delta, content
    // compared by fingerprint (the full-outer join moves one long per
    // side, never bodies). The v2 fixture is deterministic and exercises
    // every status: the scrubbed PII-injected view (modified docs at the
    // injection residues) minus a removal slice (%19 = 3) plus an added
    // slice (re-keyed %23 = 1 copies).
    // Served from the persisted graft_release family (the inject+scrub
    // pass and both full-outer comparisons run once per snapshot —
    // releaseTables); the oracle re-derives the whole construction.
    ("q_snapshot_diff",
      (s, d) => releaseTables(s, d)._1.orderBy("source", "status"),
      Some(s"""WITH inj AS (SELECT doc_id, source, ${Pii.Sql.inject} AS text
        |  FROM documents),
        |scr AS (SELECT doc_id, source, ${Pii.Sql.scrub("text")} AS text FROM inj),
        |newd AS (SELECT doc_id, source, text FROM scr WHERE doc_id % 19 <> 3
        |  UNION ALL SELECT doc_id + 10000000, source, text FROM documents
        |  WHERE doc_id % 23 = 1),
        |o AS (SELECT doc_id, source AS source_old,
        |  ${TextAnalysis.Sql.fingerprintOf("text")} AS fp_old,
        |  CAST(length(text) AS BIGINT) AS len_old FROM documents),
        |n AS (SELECT doc_id, source AS source_new,
        |  ${TextAnalysis.Sql.fingerprintOf("text")} AS fp_new,
        |  CAST(length(text) AS BIGINT) AS len_new FROM newd),
        |j AS (SELECT COALESCE(n.source_new, o.source_old) AS source,
        |  CASE WHEN o.fp_old IS NULL THEN 'added'
        |       WHEN n.fp_new IS NULL THEN 'removed'
        |       WHEN o.fp_old <> n.fp_new THEN 'modified'
        |       ELSE 'unchanged' END AS status,
        |  COALESCE(n.len_new, 0) - COALESCE(o.len_old, 0) AS delta
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(delta) AS BIGINT) AS char_delta
        |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin)),

    // DISTRIBUTION-DRIFT card over the same release pair: snapshotDiff
    // counts documents, this reports what the corpus is MADE of —
    // total-variation distance (libm-free: pure count ratios, both
    // engines bit-agree) of the lang / source / length-bucket share
    // distributions, diffs folded in sorted key order.
    // Served from the same persisted graft_release family.
    ("q_drift_card",
      (s, d) => releaseTables(s, d)._2.orderBy("dim"),
      Some(s"""WITH inj AS (SELECT doc_id, lang, source, ${Pii.Sql.inject} AS text
        |  FROM documents),
        |scr AS (SELECT doc_id, lang, source, ${Pii.Sql.scrub("text")} AS text
        |  FROM inj),
        |newd AS (SELECT doc_id, lang, source, text FROM scr WHERE doc_id % 19 <> 3
        |  UNION ALL SELECT doc_id + 10000000, lang, source, text FROM documents
        |  WHERE doc_id % 23 = 1),
        |so AS (SELECT 'lang' AS dim, lang AS k,
        |    count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS p
        |  FROM documents GROUP BY lang
        |  UNION ALL SELECT 'source', source,
        |    count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE)
        |  FROM documents GROUP BY source
        |  UNION ALL SELECT 'len_bucket', CAST(length(text) // 100 AS VARCHAR),
        |    count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE)
        |  FROM documents GROUP BY 2),
        |sn AS (SELECT 'lang' AS dim, lang AS k,
        |    count(*) / CAST((SELECT count(*) FROM newd) AS DOUBLE) AS p
        |  FROM newd GROUP BY lang
        |  UNION ALL SELECT 'source', source,
        |    count(*) / CAST((SELECT count(*) FROM newd) AS DOUBLE)
        |  FROM newd GROUP BY source
        |  UNION ALL SELECT 'len_bucket', CAST(length(text) // 100 AS VARCHAR),
        |    count(*) / CAST((SELECT count(*) FROM newd) AS DOUBLE)
        |  FROM newd GROUP BY 2),
        |j AS (SELECT COALESCE(so.dim, sn.dim) AS dim, COALESCE(so.k, sn.k) AS k,
        |  abs(COALESCE(so.p, 0.0) - COALESCE(sn.p, 0.0)) AS dd
        |  FROM so FULL OUTER JOIN sn ON so.dim = sn.dim AND so.k = sn.k)
        |SELECT dim,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(list_sort(list(struct_pack(k := k, dd := dd))),
        |      x -> x.dd)), (a, b) -> a + b) * 0.5 AS total_variation,
        |  CAST(count(*) AS BIGINT) AS n_keys
        |FROM j GROUP BY dim ORDER BY dim""".stripMargin)),

    // SPAN-LEVEL decontamination over the same %11 split as
    // q_contamination: the benchmark-overlapping 5-gram positions are
    // excised and the document kept, instead of dropped whole
    ("q_decontaminate_spans",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.decontaminateSpans(
          docs.filter(pmod(col("doc_id"), lit(11)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(11)) === 0), n = 5)
      },
      Some(s"""WITH $BenchGramCtes,
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corp),
        |cg AS (SELECT doc_id, pos, list_aggregate(t[pos:pos+4], 'string_agg', ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS pos FROM toks)),
        |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 4)) AS cpos
        |  FROM cg WHERE g IN (SELECT g FROM bg)),
        |${spanExciseSql("contaminated_frac")}""".stripMargin)),

    // WITHIN-doc repetition stripping (k=2): later occurrences of a bigram
    // already seen in the same document are excised, first survives — the
    // repair-side of q_repetition's measurement. The Spark side is a pure
    // projection (array_position over the in-row gram array); the oracle
    // states the identical semantics relationally (pos > min pos per
    // (doc, gram))
    ("q_strip_self_repetition",
      (s, d) => Dedup.stripSelfRepetition(Tables.documents(s, d), k = 2),
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (SELECT doc_id, pos, list_aggregate(t[pos:pos+1], 'string_agg', ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS pos FROM toks)),
        |m AS (SELECT doc_id, g, min(pos) AS mp FROM grams GROUP BY 1, 2),
        |cov AS (SELECT DISTINCT gr.doc_id,
        |  unnest(generate_series(gr.pos, gr.pos + 1)) AS cpos
        |  FROM grams gr JOIN m ON gr.doc_id = m.doc_id AND gr.g = m.g
        |  WHERE gr.pos > m.mp),
        |${spanExciseSql("rep_frac")}""".stripMargin)),

    // END-TO-END training-data pipeline: quality filter → benchmark
    // decontamination → near-dedup greedy drop, composed from the SHARED
    // pairs/members tables. Near-dup pairs are pairwise content
    // properties, so restricting the precomputed all-docs pairs frame to
    // surviving endpoints IS the pairs-over-survivors set — the
    // filter-then-join composition a real pipeline runs against its
    // materialized pairs table instead of re-sketching per stage. Each
    // stage is oracle-checked alone above; this row checks the composition.
    ("q_pipeline_clean",
      (s, d) => lexicalSurvivors(s, d)
        .select("doc_id", "lang", "source").orderBy("doc_id"),
      Some(s"""WITH $LexDedupCtes
        |SELECT doc_id, lang, source FROM dcn
        |WHERE doc_id IN (SELECT doc_id FROM lex)
        |ORDER BY doc_id""".stripMargin)),

    // The FULL clean pipeline a training-data run actually ships: quality
    // -> decontaminate -> lexical near-dedup -> SEMANTIC near-dedup over
    // the survivors' embeddings (vec_id == doc_id in the testdata). The
    // semantic stage here is the exact block-bucketed all-pairs baseline
    // so the whole composition stays oracle-checkable; at 100 TB it swaps
    // for ivfNearDupPairs with identical downstream plumbing (documented
    // on cosineNearDupPairs). Lexical pairs ride the shared memoized
    // frame; the embeddings side scans only the survivors (semi-join
    // pushed to the scan).
    ("q_pipeline_full_clean",
      (s, d) => {
        // lex is read three times downstream: barriered like decon
        val lex = lexicalSurvivors(s, d).localCheckpoint(eager = false)
        // exact semantic stage served from the persisted graft_exactpairs
        // table restricted to both-endpoint lexical survivors (r16):
        // a pair's cosine is pair-local, so pairs(lexEmb) ≡
        // pairs(allEmb) ∩ {both endpoints ∈ lex} — the same restriction
        // identity the decon stage leans on. The oracle still re-walks
        // the exact all-pairs pass over the survivor frame.
        semanticSurvivors(lex, exactPairsTable(s, d))
      },
      Some(s"""WITH $LexDedupCtes,
        |ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id IN (SELECT doc_id FROM lex)),
        |sp AS (SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2,
        |  ${Similarity.Sql.cosine("a.v", "b.v")} AS cosine
        |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id),
        |sdrop AS (SELECT DISTINCT vec_id2 FROM sp WHERE cosine >= 0.4)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM lex)
        |  AND d.doc_id NOT IN (SELECT vec_id2 FROM sdrop)
        |ORDER BY d.doc_id""".stripMargin)),

    // The full clean pipeline in its SCALE shape: identical quality ->
    // decontaminate -> lexical near-dedup stages, but the semantic stage
    // reads the annserve snapshot's PERSISTED sign-LSH verified pairs
    // (restricted to survivors) instead of exact all-pairs cosine —
    // restriction commutes with LSH banding (a pair's bands depend only
    // on its own vectors), so the composition stays fully hash-checkable
    // while every expensive stage serves from a snapshot table. This is
    // the composition a 100 TB deployment actually runs; the exact-cosine
    // q_pipeline_full_clean stays as its validation baseline.
    ("q_pipeline_scale_clean",
      (s, d) => {
        val lex = lexicalSurvivors(s, d).localCheckpoint(eager = false)
        semanticSurvivors(lex, annServeTables(s, d).pairs)
      },
      Some(s"""WITH $SemLshDedupCtes
        |SELECT d2.doc_id, d2.lang, d2.source FROM documents d2
        |WHERE d2.doc_id IN (SELECT doc_id FROM lex)
        |  AND d2.doc_id NOT IN (SELECT vec_id2 FROM semdrop)
        |ORDER BY d2.doc_id""".stripMargin)),

    // CURATION FUNNEL: per-stage survivor counts of the scale-shape clean
    // pipeline (corpus -> quality -> decontaminate -> pii scrub ->
    // lexical dedup -> semantic dedup) — the one-glance report a
    // curation run publishes ("which stage ate the corpus"). Stage
    // membership is NESTED (each stage filters its predecessor), so the
    // counts come from ONE aggregate over a doc_id-flags frame (stage
    // sets left-joined as 1-bit marks) and unpivot via stack; the stage
    // frames themselves are the pipeline's own (expensive sides all
    // snapshot-served). The scrub stage (r12 verdict next-round 5) is
    // ZERO-ATTRITION — masking drops no documents — so its row reports
    // the number of PII-AFFECTED documents among the stage's input
    // survivors (the audit count a scrub publishes), from the persisted
    // quality-family pii table; survivor counts pass through unchanged.
    // Served from the persisted graft_funnel card (r16 — the funnel's
    // 6-row output is a pure function of the documents+embeddings
    // snapshot pair, yet its flag materialization + four pair-table
    // restrictions re-ran per call at a consistent 1.3–1.5 s; the
    // composite stamp carries BOTH source fingerprints). The oracle
    // re-walks the whole composition.
    ("q_curation_funnel",
      (s, d) => funnelTable(s, d).orderBy("stage_id"),
      Some(s"""WITH $SemLshDedupCtes,
        |fin AS (SELECT doc_id FROM lex
        |  WHERE doc_id NOT IN (SELECT vec_id2 FROM semdrop)),
        |pinj AS (SELECT doc_id, ${Pii.Sql.inject} AS text FROM documents
        |  WHERE doc_id IN (SELECT doc_id FROM dcn)),
        |pscr AS (SELECT doc_id, ${Pii.Sql.scrub("text")} AS clean_text FROM pinj),
        |ppii AS (SELECT doc_id FROM pscr WHERE
        |  $PiiMarkSum > 0)
        |SELECT CAST(stage_id AS INT) AS stage_id, stage, n_docs FROM (VALUES
        |  (0, 'corpus', (SELECT count(*) FROM corp)),
        |  (1, 'quality', (SELECT count(*) FROM q)),
        |  (2, 'decontaminated', (SELECT count(*) FROM dcn)),
        |  (3, 'pii_scrub', (SELECT count(*) FROM ppii)),
        |  (4, 'lexical_dedup', (SELECT count(*) FROM lex)),
        |  (5, 'semantic_dedup', (SELECT count(*) FROM fin))
        |) AS v(stage_id, stage, n_docs) ORDER BY stage_id""".stripMargin)),

    // per-source duplication report: content identity via the codegen'd
    // 64-bit fingerprint so the distinct shuffles hashes, not documents;
    // the oracle mirrors the identical fingerprint
    ("q_dup_rate_by_source",
      (s, d) => Corpus.dupRateBySource(Tables.documents(s, d)),
      Some(s"""SELECT source, count(*) AS n_docs,
        |  count(DISTINCT ${TextAnalysis.Sql.fingerprint}) AS n_distinct,
        |  1.0 - CAST(count(DISTINCT ${TextAnalysis.Sql.fingerprint}) AS DOUBLE)
        |    / count(*) AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // CROSS-SOURCE n-gram overlap matrix: the duplication audit ACROSS
    // sources (syndication/mirrors put the same passages into different
    // sources; independent mixing weights then double-count them). The
    // PRIMARY registered form is the df-CAPPED matrix (r15 verdict 2):
    // grams carried by more than SourceOverlapDfCap sources are excluded
    // from the overlap universe entirely — uncapped, a corpus-ubiquitous
    // gram (site chrome, syndicated license boilerplate) costs
    // |catalog|²/2 pair rows PER GRAM, real money at 100 TB, so the
    // boilerplate-safe form is what a production corpus runs first. Every
    // quantity (shared, totals, jaccard) is computed self-consistently
    // over the capped universe (fully oracle'd, not a sketch); the
    // uncapped matrix survives below as the labeled validation baseline
    // q_source_overlap_uncapped (the semantic_dedup precedent). Grams
    // collapse to polynomial fingerprints before the distinct (longs
    // shuffle, never gram strings; the oracle mirrors the fingerprint so
    // even its collision class hash-checks), the pair stream is generated
    // row-locally from each gram's sorted source array (no self-join
    // anywhere in the family since r15), and the matrix zero-fills from
    // catalog-sized broadcast share tables. Served from the persisted
    // graft_release family (built once per snapshot); Corpus.sourceOverlap
    // stays the any-corpus path.
    ("q_source_overlap",
      (s, d) => releaseTables(s, d)._4.orderBy("source_a", "source_b"),
      Some(s"""WITH $SourceGramCte,
        |cat AS (SELECT DISTINCT source FROM g),
        |df AS (SELECT g, count(*) AS sdf FROM g GROUP BY g),
        |kept AS (SELECT g.source, g.g FROM g JOIN df USING (g)
        |  WHERE sdf <= $SourceOverlapDfCap),
        |sz AS (SELECT source, count(*) AS n_grams FROM kept GROUP BY source),
        |ov AS (SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_shared
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT ca.source AS source_a, cb.source AS source_b,
        |  COALESCE(ov.n_shared, CAST(0 AS BIGINT)) AS n_shared,
        |  COALESCE(sa.n_grams, CAST(0 AS BIGINT)) AS n_grams_a,
        |  COALESCE(sb.n_grams, CAST(0 AS BIGINT)) AS n_grams_b,
        |  CASE WHEN COALESCE(sa.n_grams, 0) + COALESCE(sb.n_grams, 0)
        |      - COALESCE(ov.n_shared, 0) > 0
        |    THEN COALESCE(ov.n_shared, 0) / CAST(COALESCE(sa.n_grams, 0)
        |      + COALESCE(sb.n_grams, 0) - COALESCE(ov.n_shared, 0) AS DOUBLE)
        |    ELSE 0.0 END AS jaccard
        |FROM cat ca JOIN cat cb ON ca.source < cb.source
        |LEFT JOIN ov ON ov.source_a = ca.source AND ov.source_b = cb.source
        |LEFT JOIN sz sa ON sa.source = ca.source
        |LEFT JOIN sz sb ON sb.source = cb.source
        |ORDER BY source_a, source_b""".stripMargin)),

    // the UNCAPPED overlap matrix — the labeled exact validation
    // baseline for q_source_overlap (every gram counts regardless of
    // source-df; at the registry SFs the cap excludes only the
    // max-source-df 3/3/4 tail, so the two matrices are comparable
    // side by side). NOT the 100 TB path: a catalog-saturating
    // boilerplate gram costs |catalog|²/2 pair rows here — the capped
    // primary above is what a production corpus runs.
    ("q_source_overlap_uncapped",
      (s, d) => releaseTables(s, d)._3.orderBy("source_a", "source_b"),
      Some(s"""WITH $SourceGramCte,
        |sz AS (SELECT source, count(*) AS n_grams FROM g GROUP BY source),
        |ov AS (SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_shared
        |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa.source AS source_a, sb.source AS source_b,
        |  COALESCE(ov.n_shared, 0) AS n_shared,
        |  sa.n_grams AS n_grams_a, sb.n_grams AS n_grams_b,
        |  COALESCE(ov.n_shared, 0) / CAST(sa.n_grams + sb.n_grams
        |    - COALESCE(ov.n_shared, 0) AS DOUBLE) AS jaccard
        |FROM sz sa JOIN sz sb ON sa.source < sb.source
        |LEFT JOIN ov ON ov.source_a = sa.source AND ov.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin)),

    // per-document NOVELTY card (the memorization-risk axis): distinct
    // 5-gram count, grams shared with >= 1 other document, novelty
    // ratio. Grams collapse to polynomial fingerprints (longs shuffle),
    // then two gram-keyed aggregates + one equi-join — inverted-index
    // shape, NO self-join, so a hot gram costs one df row.
    ("q_novelty_score",
      (s, d) => Dedup.noveltyScore(Tables.documents(s, d)),
      Some(s"""WITH cg AS (SELECT doc_id, unnest(list_distinct($GRAM5)) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |cf AS (SELECT doc_id, ${TextAnalysis.Sql.fingerprintOf("gram")} AS g
        |  FROM cg),
        |df AS (SELECT g, count(*) AS df FROM cf GROUP BY g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  1.0 - sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE) AS novelty
        |FROM cf JOIN df USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // PREFERENCE-PAIR assembly (DPO/RLHF reward-modeling data): per
    // source, the k=2 highest-quality docs pair positionally with the 2
    // lowest — the synthetic preference set that bootstraps a quality
    // reward model from the gate's extremes. Within-source pairing keeps
    // the contrast about quality, not domain; per-source rank windows
    // (bounded), k-row positional join, degenerate same-doc pairs drop.
    // Served from the persisted graft_cards family (r16).
    ("q_preference_pairs",
      (s, d) => cardsTables(s, d)._2.orderBy("source", "pair_rank"),
      Some(s"""WITH $QualityScoreCte,
        |t AS (SELECT source, doc_id AS chosen_id, quality AS chosen_quality,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id) AS BIGINT) AS pair_rank FROM q),
        |b AS (SELECT source, doc_id AS rejected_id, quality AS rejected_quality,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY quality ASC, doc_id) AS BIGINT) AS pair_rank FROM q)
        |SELECT t.source, t.pair_rank, chosen_id, rejected_id,
        |  chosen_quality, rejected_quality,
        |  chosen_quality - rejected_quality AS quality_gap
        |FROM t JOIN b ON t.source = b.source AND t.pair_rank = b.pair_rank
        |WHERE t.pair_rank <= 2 AND chosen_id <> rejected_id
        |ORDER BY t.source, t.pair_rank""".stripMargin)),

    // k-ANONYMITY equivalence classes over the customer table's
    // quasi-identifiers (nation, segment, balance band) + within-class
    // sensitive diversity — re-identification governance, the structured
    // complement of the PII text scrub. One map-side-combining aggregate
    // keyed by the QI tuple; the shuffle carries |classes| rows (bounded
    // by the QI domain product), never corpus-scaled.
    ("q_k_anonymity",
      (s, d) => Pii.kAnonymity(Tables.customer(s, d)),
      Some("""SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
        |  count(*) AS class_size,
        |  CAST(CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END AS INT) AS meets_k,
        |  count(DISTINCT c_acctbal) AS n_distinct_sensitive
        |FROM customer GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // the one-row k-anonymity RELEASE-GATE card: the dataset's actual
    // k (min class size) and l (min sensitive diversity), plus the
    // suppression ledger a k=5 release would pay; second tiny aggregate
    // over the bounded class table
    ("q_k_anonymity_card",
      (s, d) => Pii.kAnonymityCard(Tables.customer(s, d)),
      Some("""WITH k AS (SELECT count(*) AS class_size,
        |    count(DISTINCT c_acctbal) AS nds
        |  FROM customer
        |  GROUP BY c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000.0) AS BIGINT))
        |SELECT CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  count(*) AS n_classes, min(class_size) AS k_min, min(nds) AS l_min,
        |  CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_classes_below_k,
        |  CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
        |    AS n_rows_below_k,
        |  CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(class_size) AS DOUBLE) AS suppressed_frac
        |FROM k""".stripMargin)),

    // segment-level lexicon mixture (CODE-SWITCHING card): 16-token
    // windows each take an argmax lexicon vote ('und' floor), per doc:
    // detectable segments, distinct lexicons, majority vote, adjacent
    // switches, mixed flag. Registered over the domain-REGISTER family
    // (the corpus vocabulary carries no non-English stopword, so the
    // natural-language default would be vacuously en/und here; the
    // operator defaults to LangSets for real corpora). Pure narrow
    // projection — nested higher-order array expressions, zero shuffle,
    // scan speed at 100 TB.
    ("q_code_switch",
      (s, d) => TextAnalysis.codeSwitch(Tables.documents(s, d),
        sets = TextAnalysis.RegisterSets).orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |sl AS (SELECT doc_id, lang,
        |  list_transform(generate_series(1, CAST(ceil(len(t) / 16.0) AS BIGINT)),
        |    i -> ${TextAnalysis.Sql.segPredict("list_slice(t, (i-1)*16+1, i*16)",
                 TextAnalysis.RegisterSets)}) AS seg_langs
        |  FROM t),
        |d AS (SELECT doc_id, lang, seg_langs,
        |  list_filter(seg_langs, x -> x <> 'und') AS det FROM sl)
        |SELECT doc_id, lang AS declared_lang,
        |  CAST(len(seg_langs) AS BIGINT) AS n_segments,
        |  CAST(len(det) AS BIGINT) AS n_detected,
        |  CAST(len(list_distinct(det)) AS BIGINT) AS n_langs,
        |  CASE WHEN len(det) = 0 THEN 'und' ELSE
        |    list_transform([list_transform(${TextAnalysis.Sql.namesOf(TextAnalysis.RegisterSets)},
        |        l -> len(list_filter(det, x -> x = l)))],
        |      c -> ${TextAnalysis.Sql.namesOf(TextAnalysis.RegisterSets)}[CAST(list_position(c, list_max(c)) AS INT)])[1]
        |  END AS majority_lang,
        |  CASE WHEN len(det) >= 2 THEN CAST(len(list_filter(
        |      generate_series(2, len(det)), i -> det[i] <> det[i-1])) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS n_switches,
        |  CAST(CASE WHEN len(list_distinct(det)) >= 2 THEN 1 ELSE 0 END AS INT) AS mixed
        |FROM d ORDER BY doc_id""".stripMargin)),

    // JL random-projection compression card (64 -> 16 dims): per-vector
    // original vs projected squared norm — the coordinate-count
    // compression path distinct from PQ/int8's bit-depth path. Narrow
    // projection, 16 codegen'd dots/row, zero shuffle/training/broadcast.
    ("q_jl_project",
      (s, d) => Similarity.jlProject(Tables.embeddings(s, d)),
      Some(s"""WITH d AS (${Similarity.Sql.prepared}),
        |z AS (SELECT vec_id, v, ${Similarity.Sql.jlCoord("v")} AS z FROM d
        |  WHERE ${Similarity.Sql.dot("v", "v")} > 0.0)
        |SELECT vec_id, ${Similarity.Sql.dot("v", "v")} AS orig_sq_norm,
        |  ${Similarity.Sql.dot("z", "z")} AS proj_sq_norm,
        |  ${Similarity.Sql.dot("z", "z")} / ${Similarity.Sql.dot("v", "v")} AS norm_ratio
        |FROM z ORDER BY vec_id""".stripMargin)),

    // measured JL distance-distortion witness over a CONSTANT 32-vector
    // eval budget (496 pairs — fixed, never a corpus fraction): min/avg/
    // max of the projected-vs-original squared-distance ratio plus the
    // count inside the +/-0.5 band; sorted-fold average, broadcast
    // sample self-join, sample^2-bounded work
    ("q_jl_distortion",
      (s, d) => Similarity.jlDistortion(Tables.embeddings(s, d)),
      Some(s"""WITH d AS (${Similarity.Sql.prepared}),
        |q AS (SELECT vec_id, v, ${Similarity.Sql.jlCoord("v")} AS z FROM d
        |  WHERE vec_id < 32),
        |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  list_transform(list_zip(a.v, b.v), p -> p[1] - p[2]) AS dv,
        |  list_transform(list_zip(a.z, b.z), p -> p[1] - p[2]) AS dz
        |  FROM q a JOIN q b ON a.vec_id < b.vec_id),
        |r AS (SELECT ${Similarity.Sql.dot("dz", "dz")} / ${Similarity.Sql.dot("dv", "dv")} AS ratio
        |  FROM p WHERE ${Similarity.Sql.dot("dv", "dv")} > 0.0)
        |SELECT count(*) AS n_pairs, min(ratio) AS min_ratio,
        |  max(ratio) AS max_ratio,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(ratio))),
        |    (a, b) -> a + b) / CAST(count(*) AS DOUBLE) AS avg_ratio,
        |  CAST(sum(CASE WHEN abs(ratio - 1.0) <= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_within
        |FROM r""".stripMargin)),

    // BATCH k-anonymity release over the event stream (the streaming
    // gate's batch twin): release an event row only when >= 5 events
    // share its (city, event_type, day) quasi-identifier tuple;
    // class_seen = (ts, event_id) rank within the class. One QI-keyed
    // exchange feeds both the class total and the rank window; partitions
    // are class-sized (day-bounded), never corpus-wide. Non-vacuous both
    // ways at the gate SF (sf0.01: ~6.2k released / ~3.8k suppressed).
    ("q_k_anon_release",
      (s, d) => Pii.kAnonymityRelease(norm(s, d)),
      Some(s"""$WITH_NORM,
        |n2 AS (SELECT city, event_type, strftime(ts, '%Y-%m-%d') AS day,
        |  ts, ts_str, event_id FROM norm),
        |c AS (SELECT city, event_type, day, count(*) AS total
        |  FROM n2 GROUP BY 1, 2, 3)
        |SELECT n2.city, n2.event_type, n2.day, n2.ts_str, n2.event_id,
        |  CAST(row_number() OVER (PARTITION BY n2.city, n2.event_type, n2.day
        |    ORDER BY n2.ts, n2.event_id) AS BIGINT) AS class_seen
        |FROM n2 JOIN c ON n2.city = c.city AND n2.event_type = c.event_type
        |  AND n2.day = c.day
        |WHERE c.total >= 5
        |ORDER BY n2.city, n2.event_type, n2.day, class_seen""".stripMargin)),

    // per-source token-distribution DIVERGENCE: total-variation distance
    // between each source's hashed-token distribution and the corpus's
    // (the mixture-drift metric a curation run watches); ≤4096-row count
    // tables, bucket-order folds, the missing corpus mass folded in as
    // one closed-form ratio
    // Served from the persisted graft_cards family (r16).
    ("q_source_divergence",
      (s, d) => cardsTables(s, d)._3.orderBy("source"),
      Some(s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |th AS (SELECT source, ${TextAnalysis.Sql.fingerprintOf("tok")} % 4096 AS b FROM toks),
        |ps AS (SELECT source, b, count(*) AS c_s FROM th GROUP BY source, b),
        |ts AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS t_s FROM ps GROUP BY source),
        |cb AS (SELECT b, CAST(sum(c_s) AS BIGINT) AS c FROM ps GROUP BY b),
        |ct AS (SELECT sum(c) AS t FROM cb),
        |terms AS (SELECT ps.source, ps.b, c,
        |  abs(CAST(c_s AS DOUBLE) / CAST(t_s AS DOUBLE)
        |    - CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) AS term
        |  FROM ps JOIN cb USING (b) JOIN ts USING (source) CROSS JOIN ct),
        |p AS (SELECT source,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(list_sort(list(struct_pack(b := b, term := term))),
        |      x -> x.term)), (a, b2) -> a + b2) AS present_sum,
        |  CAST((SELECT t FROM ct) - sum(c) AS DOUBLE)
        |    / CAST((SELECT t FROM ct) AS DOUBLE) AS absent_mass
        |  FROM terms GROUP BY source)
        |SELECT source, t_s AS n_tokens,
        |  (present_sum + absent_mass) / 2.0 AS tv_divergence
        |FROM p JOIN ts USING (source) ORDER BY source""".stripMargin)),

    // DATASET-CARD composition (round-10 verdict next-round 7): the one
    // per-source report a curator ships — dup rate, token totals, both
    // quality gates' keep counts, OOV rate — pure composition of the
    // existing audit frames (each already hash-green standalone), joined
    // on doc_id and re-aggregated per source. The oracle re-walks every
    // component's own mirror inside one query.
    ("q_dataset_card",
      (s, d) => Corpus.datasetCard(Tables.documents(s, d)),
      Some(s"""WITH $VocabCoverageCtes,
        |flags AS (SELECT doc_id,
        |  CASE WHEN $C4KeepSql THEN 1 ELSE 0 END AS c4_keep,
        |  CASE WHEN $GopherKeepSql THEN 1 ELSE 0 END AS gopher_keep
        |  FROM documents)
        |SELECT d.source, count(*) AS n_docs,
        |  count(DISTINCT ${TextAnalysis.Sql.fingerprint}) AS n_distinct,
        |  1.0 - CAST(count(DISTINCT ${TextAnalysis.Sql.fingerprint}) AS DOUBLE)
        |    / count(*) AS dup_rate,
        |  CAST(sum(pd.n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(pd.n_tokens) AS DOUBLE) / count(*) AS avg_doc_tokens,
        |  CAST(sum(flags.c4_keep) AS BIGINT) AS n_c4_keep,
        |  CAST(sum(flags.gopher_keep) AS BIGINT) AS n_gopher_keep,
        |  CAST(sum(pd.n_oov) AS DOUBLE) / sum(pd.n_tokens) AS oov_rate
        |FROM documents d JOIN pd USING (doc_id) JOIN flags USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // dataset-card composition report per language
    ("q_corpus_stats",
      (s, d) => Corpus.corpusStats(Tables.documents(s, d)),
      Some("""SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_doc_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    ("q_normalize_text",
      (s, d) => TextAnalysis.normalizeText(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'), ' +', ' ', 'g')
        |    AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // SimHash with pigeonhole block join is EXACT for hamming ≤ 2; the
    // oracle recomputes the identical integer-only simhash in SQL.
    ("q_simhash_pairs",
      (s, d) => dedupTables(s, d).simhashPairs.orderBy("doc_id1", "doc_id2"),
      Some(s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |th AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(string_split(tok, ''), c -> CAST(ord(c) AS BIGINT))),
        |  (a, b) -> (a * 31 + b) % 1000000007) AS h FROM toks),
        |bits AS (SELECT doc_id, j,
        |  CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |       THEN 1 ELSE 0 END AS bit
        |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS j)
        |  GROUP BY doc_id, j),
        |sh AS (SELECT doc_id, CAST(sum(bit << j) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        |ORDER BY doc_id1, doc_id2""".stripMargin)),

    // ---- LLM-data pipeline: similarity search over `embeddings` (north star)

    // EMBEDDING QA card: per-dimension range / zero / sign-balance stats
    // — how a dead or collapsed dimension surfaces before index builds.
    // Order-insensitive aggregates only (min/max/counts): per-dim
    // cross-row float SUMS have engine-dependent accumulation order and
    // are deliberately excluded from the hash-checked surface.
    ("q_embedding_stats",
      (s, d) => Similarity.embeddingStats(Tables.embeddings(s, d)),
      Some("""SELECT CAST(p.i - 1 AS BIGINT) AS dim,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN CAST(p.v AS DOUBLE) = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(sum(CASE WHEN CAST(p.v AS DOUBLE) > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN CAST(p.v AS DOUBLE) < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |  min(CAST(p.v AS DOUBLE)) AS min_val,
        |  max(CAST(p.v AS DOUBLE)) AS max_val
        |FROM (SELECT unnest(list_transform(embedding,
        |    (v, i) -> struct_pack(v := v, i := i))) AS p FROM embeddings)
        |GROUP BY 1 ORDER BY dim""".stripMargin)),

    // EMBEDDING SIGN-PROFILE DRIFT per source — the semantic-drift
    // monitor beside the lexical q_source_divergence: per source, the
    // mean/max per-dimension |positive-share − corpus positive-share|
    // and the dimension that moved most. Sign profile is what sign-LSH
    // buckets on, so this is the early warning for band-balance and ANN
    // recall shifts. Count-based throughout (the q_embedding_stats rule
    // — no cross-row float sums); shares are single double divisions;
    // the mean folds the per-dim |Δ| terms in dim order.
    ("q_embedding_drift",
      (s, d) => Similarity.embeddingDrift(Tables.embeddings(s, d),
        Tables.documents(s, d)),
      Some("""WITH e AS (SELECT vec_id, CAST(p.i - 1 AS BIGINT) AS dim,
        |    CAST(p.v AS DOUBLE) AS v
        |  FROM (SELECT vec_id, unnest(list_transform(embedding,
        |    (v, i) -> struct_pack(v := v, i := i))) AS p FROM embeddings)),
        |c AS (SELECT d2.source, e.dim, count(*) AS n,
        |    sum(CASE WHEN e.v > 0.0 THEN 1 ELSE 0 END) AS np
        |  FROM e JOIN documents d2 ON e.vec_id = d2.doc_id GROUP BY 1, 2),
        |corp AS (SELECT dim, sum(n) AS cn, sum(np) AS cnp FROM c GROUP BY dim),
        |dd AS (SELECT source, c.dim, n,
        |    abs(CAST(np AS DOUBLE) / n - CAST(cnp AS DOUBLE) / cn) AS diff
        |  FROM c JOIN corp ON c.dim = corp.dim),
        |ps AS (SELECT source, max(n) AS n_vectors, count(*) AS n_dims,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(list_sort(list(struct_pack(dim := dim,
        |        diff := diff))), x -> x.diff)), (a, b) -> a + b) AS total_drift,
        |    max(diff) AS max_sign_drift
        |  FROM dd GROUP BY source),
        |am AS (SELECT dd.source, min(dd.dim) AS drift_dim
        |  FROM dd JOIN ps ON dd.source = ps.source
        |    AND dd.diff = ps.max_sign_drift
        |  GROUP BY dd.source)
        |SELECT ps.source, CAST(n_vectors AS BIGINT) AS n_vectors,
        |  total_drift / n_dims AS mean_sign_drift, max_sign_drift,
        |  CAST(drift_dim AS BIGINT) AS drift_dim
        |FROM ps JOIN am ON ps.source = am.source
        |ORDER BY ps.source""".stripMargin)),

    // FILTERED vector search — top-k under a metadata predicate (the
    // "vector search WHERE label IN (...)" production shape): the
    // predicate restricts the corpus BEFORE distance work and pushes
    // into the scan; post-filtering a plain top-k would under-return
    // whenever the filter is selective (the filtered-ANN trap).
    ("q_filtered_topk",
      (s, d) => Similarity.filteredTopK(Tables.embeddings(s, d),
          col("label").isin(1, 3))
        .withColumn("rank", col("rank").cast("long")),
      Some(s"""WITH d AS (${Similarity.Sql.prepared}),
        |c AS (SELECT * FROM d WHERE label IN (1, 3)),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < 5),
        |scored AS (
        |  SELECT query_id, c.vec_id, c.label,
        |    ${Similarity.Sql.cosine("qv", "c.v")} AS cosine
        |  FROM c CROSS JOIN q WHERE c.vec_id <> query_id)
        |${vecTopKSql("label, cosine", "cosine", 10)}""".stripMargin)),

    ("q_cosine_topk",
      (s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d))
        .withColumn("rank", col("rank").cast("long")),
      Some(s"""WITH $ExactTopKCtes
        |${vecTopKSql("cosine", "cosine", 10)}""".stripMargin)),

    // Served from the persisted graft_exactpairs table (r16); the oracle
    // re-walks the exact all-pairs computation.
    ("q_cosine_pairs",
      (s, d) => exactPairsTable(s, d).orderBy("vec_id1", "vec_id2"),
      Some(s"""WITH $CosinePairsCtes
        |SELECT * FROM p WHERE cosine >= 0.4 ORDER BY vec_id1, vec_id2""".stripMargin)),

    // Sign-LSH (random-hyperplane) bucket per vector — the LSH-bucketed
    // ANN front-end. Hyperplanes are CLOSED-FORM deterministic
    // (Similarity.lshPlaneWeights), so unlike the Lloyd-trained IVF the
    // whole sketch is reproducible in SQL and hash-checks bit-for-bit.
    ("q_lsh_buckets",
      (s, d) => Similarity.lshBuckets(Tables.embeddings(s, d)).orderBy("vec_id"),
      Some(s"""WITH d AS (${Similarity.Sql.prepared})
        |SELECT vec_id, label, ${Similarity.Sql.lshBucket("v")} AS bucket
        |FROM d ORDER BY vec_id""".stripMargin)),

    // LSH-banded near-dup pairs, exactly verified — the first ANN-shaped
    // near-dup path with a FULL oracle: band candidates from the sign
    // bucket (4 bands x 4 bits), distinct across bands, exact cosine
    // verify at 0.4. The oracle mirrors the ALGORITHM (buckets -> bands
    // -> verify), so recall vs the exhaustive q_cosine_pairs is a spec
    // concern (SimilaritySpec), not a compare artifact.
    // Served from the annserve snapshot's persisted default-threshold
    // pairs (v2 — the lexical minhash `pairs` precedent on the embedding
    // side); [[Similarity.lshNearDupPairs]] remains the any-threshold path.
    ("q_lsh_neardup_pairs",
      (s, d) => annServeTables(s, d).pairs.orderBy("vec_id1", "vec_id2"),
      Some(s"""WITH $lshPairsSqlCtes
        |SELECT * FROM allp ORDER BY vec_id1, vec_id2""".stripMargin)),

    // THRESHOLD-SENSITIVITY card over the persisted verified pairs: the
    // pair count and the greedy drop count at each candidate dedup
    // threshold — the curve a curator reads before committing a
    // threshold (where does the drop count fall off; what survives at
    // 0.9 is the exact-duplicate floor, cosine 1.0 intra pairs).
    // Thresholds >= the mining threshold (0.4) are exact over the
    // verified frame; the axis rides a row-local explode of a literal
    // array over the snapshot scan — one conditional aggregate, no join.
    ("q_dedup_sensitivity",
      (s, d) => Similarity.dedupThresholdSensitivity(
        annServeTables(s, d).pairs, Seq(0.4, 0.5, 0.6, 0.7, 0.8, 0.9)),
      Some(s"""WITH $lshPairsSqlCtes,
        |tx AS (SELECT allp.cosine, allp.vec_id2, t.threshold FROM allp
        |  CROSS JOIN (SELECT unnest([0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
        |    AS threshold) t)
        |SELECT threshold,
        |  CAST(sum(CASE WHEN cosine >= threshold THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pairs,
        |  CAST(count(DISTINCT CASE WHEN cosine >= threshold THEN vec_id2 END)
        |    AS BIGINT) AS n_dropped
        |FROM tx GROUP BY threshold ORDER BY threshold""".stripMargin)),

    // PLANE-FAMILY MIGRATION card (r15 verdict 8): the r15 sign-LSH
    // plane fix (linear sawtooth family → quadratic-residue family)
    // re-stamped every plane-derived snapshot; this card puts the
    // migration's EVIDENCE in the hash-checked surface — per family,
    // banded candidate count, exact-verified find count, shared exact
    // truth, recall and candidate rate, all over the duplicate-collapsed
    // rep set. Non-vacuous: the quadratic row's recall is HIGHER at a
    // LOWER candidate rate (the r15 measurement, now pinned per
    // snapshot). Served from the persisted graft_planes card (the exact
    // truth costs a q_cosine_pairs-sized blocked pass, built once); the
    // oracle re-walks BOTH closed-form families end-to-end.
    ("q_plane_migration",
      (s, d) => planesTable(s, d).orderBy("family"),
      Some(s"""WITH $RepVecCtes,
        |$VecBandCtes,
        |bl AS (SELECT vec_id, ${Similarity.Sql.lshBucketLinearV1("v")} AS bucket FROM d),
        |cl AS (SELECT band, (bucket >> (band * 4)) & 15 AS bb, vec_id
        |  FROM bl CROSS JOIN (SELECT unnest(range(0, 4)) AS band) u),
        |${bandArmsCardSql(Seq("linear-v1" -> "cl", "quadratic-v2" -> "c"))}""".stripMargin)),

    // BANDING-GEOMETRY sensitivity card — the second production
    // MigrationCard instance (r16 verdict 5, exercised): the same
    // quadratic bucket split two ways (4 bands × 4 bits vs 2 bands ×
    // 8 bits), each arm's recall / candidate rate / hot-bucket exposure
    // against the SAME exact cosine truth — the dial a deployment reads
    // before re-keying a 100 TB candidate join. Finer bands are a
    // structural candidate SUPERSET (an 8-bit collision implies both
    // 4-bit collisions), so recall and rate are monotone in band count;
    // the card pins where each geometry sits on that curve for THIS
    // corpus. Served from the persisted graft_planes family; the oracle
    // re-walks the bucketing, both band splits, the verification, and
    // the shared truth end-to-end.
    ("q_band_geometry",
      (s, d) => geometryTable(s, d).orderBy("family"),
      Some(s"""WITH $RepVecCtes,
        |$VecBandCtes,
        |c8 AS (SELECT band, (bucket >> (band * 8)) & 255 AS bb, vec_id
        |  FROM b CROSS JOIN (SELECT unnest(range(0, 2)) AS band) u),
        |${bandArmsCardSql(Seq("4bit-4band" -> "c", "8bit-2band" -> "c8"))}""".stripMargin)),

    // SEMANTIC duplicate clusters (SemDeDup's grouping step — the
    // embedding-side twin of q_dup_clusters): exact min-label connected
    // components over the persisted verified cosine pairs, served from
    // the annserve snapshot as one scan. The oracle re-walks the
    // whole chain (LSH pairs mirror + recursive-CTE reachability), so
    // the persisted assignment stays hash-proven equal to exact
    // components over exact pairs.
    ("q_semantic_clusters",
      (s, d) => annServeTables(s, d).clusters.orderBy("vec_id"),
      Some(s"""WITH RECURSIVE $LshComponentCtes
        |SELECT vec_id, cluster_id FROM cl ORDER BY vec_id""".stripMargin)),

    // SEMANTIC keep-one (SemDeDup's pruning step): cluster_id IS the
    // component's min vec_id, so the deterministic keep-the-
    // representative rule reads straight off the persisted assignment
    // (drop ⇔ vec_id ≠ cluster_id) — documents anti-join the drop set,
    // one snapshot scan + one documents scan.
    ("q_semantic_keep_best",
      (s, d) => Tables.documents(s, d)
        .join(annServeTables(s, d).clusters
          .filter(col("vec_id") =!= col("cluster_id"))
          .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source").orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $LshComponentCtes
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT vec_id FROM cl WHERE vec_id <> cluster_id)
        |ORDER BY doc_id""".stripMargin)),

    // RECALL-CONTRACT witness (round-10 verdict next-round 3): of the
    // persisted LSH exact pairs (fully oracle-mirrored above), the
    // fraction the trained-centroid IVF family also found, folded into a
    // literal within_bound — the approx_distinct/percentile witness
    // precedent. DuckDB recomputes n_exact_pairs and asserts the
    // literals, so IVF centroid/recall drift below 0.95 flips the flag
    // and hash-mismatches the artifact. Measured: recall 1.0 at
    // sf0.001/0.01, 0.979 at sf0.1 under the v3 depth-4 build. Both
    // inputs are persisted pair tables — the witness is one id-pair
    // semi-join, no embeddings/lists/buckets touched.
    ("q_ivf_recall_bound",
      (s, d) => Similarity.ivfRecallBound(
        ivfTables(s, d)._3, annServeTables(s, d).pairs, 0.95),
      Some(s"""WITH $lshPairsSqlCtes
        |SELECT count(*) AS n_exact_pairs,
        |  CAST(0.95 AS DOUBLE) AS recall_bound,
        |  CAST(1 AS INT) AS within_bound
        |FROM allp""".stripMargin)),

    // LSH-served cosine top-k — the serving twin of q_ann_ivf_topk on the
    // closed-form sketch: probe -> band candidates -> exact verify ->
    // per-query rank, ALL mirrored in SQL (hash-checked; the IVF top-k
    // can only be rows-checked because its centroids are trained).
    ("q_lsh_topk",
      // exact-cosine top-k with candidates from the PERSISTED annserve
      // band table (same discipline as q_hard_negatives below)
      (s, d) => Similarity.lshTopKServeFrom(Tables.embeddings(s, d),
          annServeTables(s, d).bands)
        .withColumn("rank", col("rank").cast("long")),
      Some(s"""WITH ${vecBandProbeCtes("vec_id < 5")},
        |scored AS (SELECT p0.query_id, p0.vec_id,
        |  ${Similarity.Sql.cosine("qd.v", "cd.v")} AS cosine
        |  FROM p0 JOIN d qd ON p0.query_id = qd.vec_id
        |          JOIN d cd ON p0.vec_id = cd.vec_id)
        |${vecTopKSql("cosine", "cosine", 10)}""".stripMargin)),

    // BITEXT MINING (LASER/CCMatrix): margin-based MUTUAL top-1
    // alignment of every non-English document to an English one in
    // embedding space — the operator that builds MT training pairs from
    // comparable corpora. Candidates from the sign-LSH band index (never
    // languages-cross-corpus), both argmax directions are per-document
    // rank windows over bounded candidate lists, margin = exact cosine
    // difference to the second-best candidate (no division — bit-stable).
    // Served from the PERSISTED graft_bitext family (one scan; mining
    // runs once per snapshot pair off the annserve band triples —
    // Similarity.persistBitext, mining is a batch job by nature); the
    // oracle re-derives banding, candidates, both argmaxes and the
    // margin end to end, hash-proving the persisted table current.
    ("q_bitext_pairs",
      (s, d) => bitextPairs(s, d).orderBy("src_id"),
      Some(s"""WITH d AS (${Similarity.Sql.prepared}),
        |dl AS (SELECT d.vec_id, doc.lang, v FROM d
        |  JOIN documents doc ON d.vec_id = doc.doc_id
        |  WHERE sqrt(${Similarity.Sql.dot("v", "v")}) > 0),
        |bk AS (SELECT vec_id, lang, ${Similarity.Sql.lshBucket("v")} AS bucket
        |  FROM dl),
        |cb AS (SELECT band, (bucket >> (band * 4)) & 15 AS bb, vec_id, lang
        |  FROM bk CROSS JOIN (SELECT unnest(range(0, 4)) AS band) u),
        |p0 AS (SELECT DISTINCT e.vec_id AS en_id, o.vec_id AS src_id, o.lang
        |  FROM cb e JOIN cb o ON e.band = o.band AND e.bb = o.bb
        |  WHERE e.lang = 'en' AND o.lang <> 'en'),
        |sc AS (SELECT p0.src_id, p0.lang, p0.en_id,
        |  ${Similarity.Sql.cosine("ev.v", "ov.v")} AS cosine
        |  FROM p0 JOIN dl ev ON p0.en_id = ev.vec_id
        |          JOIN dl ov ON p0.src_id = ov.vec_id),
        |fwd AS (SELECT *, row_number() OVER (PARTITION BY src_id
        |  ORDER BY cosine DESC, en_id) AS rn FROM sc),
        |rev AS (SELECT *, row_number() OVER (PARTITION BY en_id
        |  ORDER BY cosine DESC, src_id) AS rn FROM sc),
        |f1 AS (SELECT src_id, lang, en_id, cosine FROM fwd WHERE rn = 1),
        |f2 AS (SELECT src_id AS s2, cosine AS second_cosine FROM fwd WHERE rn = 2),
        |r1 AS (SELECT src_id AS rs, en_id AS re FROM rev WHERE rn = 1)
        |SELECT f1.src_id, f1.lang, f1.en_id, f1.cosine,
        |  f1.cosine - COALESCE(f2.second_cosine, CAST(0.0 AS DOUBLE)) AS margin
        |FROM f1 JOIN r1 ON f1.src_id = r1.rs AND f1.en_id = r1.re
        |LEFT JOIN f2 ON f1.src_id = f2.s2
        |ORDER BY f1.src_id""".stripMargin)),

    // HARD-NEGATIVE MINING for contrastive training: per anchor, the
    // top-5 band-sharing candidates strictly BELOW the near-dup
    // threshold — the just-below-threshold confusables that move a
    // contrastive loss (band-sharing is the point: random non-candidates
    // are easy negatives). One more rank over the lshTopK scored stage;
    // NaN (zero-norm) cosines fail the strict < and never serve.
    // Candidates band-join the PERSISTED annserve triple table (the
    // quantizedTopKServeFrom discipline) — embeddings are read only to
    // exact-score the bounded candidate set, never re-sign-hashed.
    ("q_hard_negatives",
      (s, d) => Similarity.hardNegativesServeFrom(Tables.embeddings(s, d),
          annServeTables(s, d).bands)
        .withColumn("rank", col("rank").cast("long")),
      Some(s"""WITH ${vecBandProbeCtes("vec_id < 5")},
        |scored AS (SELECT p0.query_id, p0.vec_id,
        |  ${Similarity.Sql.cosine("qd.v", "cd.v")} AS cosine
        |  FROM p0 JOIN d qd ON p0.query_id = qd.vec_id
        |          JOIN d cd ON p0.vec_id = cd.vec_id
        |  WHERE ${Similarity.Sql.cosine("qd.v", "cd.v")} < 0.4)
        |${vecTopKSql("cosine", "cosine", 5)}""".stripMargin)),

    // CONTRASTIVE TRAINING TRIPLES — the finished (anchor, positive,
    // hard-negative) artifact an embedding model trains on: every
    // verified near-dup pair is an (anchor, positive) in both directions,
    // each anchor carrying its top-3 sub-threshold confusables (anchors
    // without a single sub-threshold candidate contribute no triples —
    // a triple REQUIRES a negative). Served from the annserve-v7
    // snapshot's persisted triples table (the negative-mining band pass
    // runs once per corpus snapshot); the oracle re-walks the whole
    // pairs + band geometry + exact-cosine construction, so the
    // persisted artifact hash-checks end to end.
    ("q_contrastive_triples",
      (s, d) => annServeTables(s, d).triples
        .orderBy("anchor_id", "positive_id", "neg_rank"),
      Some(s"""WITH $lshPairsSqlCtes,
        |anch AS (SELECT vec_id1 AS anchor_id, vec_id2 AS positive_id,
        |    cosine AS pos_cosine FROM allp
        |  UNION ALL SELECT vec_id2, vec_id1, cosine FROM allp),
        |dall AS (${Similarity.Sql.prepared}),
        |bf AS (SELECT vec_id, ${Similarity.Sql.lshBucket("v")} AS bucket FROM dall),
        |cf AS (SELECT band, (bucket >> (band * 4)) & 15 AS bb, vec_id
        |  FROM bf CROSS JOIN (SELECT unnest(range(0, 4)) AS band) uf),
        |qn AS (SELECT DISTINCT cf.vec_id AS anchor_id, cf.band, cf.bb FROM cf
        |  WHERE cf.vec_id IN (SELECT anchor_id FROM anch)),
        |pn AS (SELECT DISTINCT qn.anchor_id, c2.vec_id FROM cf c2
        |  JOIN qn ON c2.band = qn.band AND c2.bb = qn.bb
        |  WHERE c2.vec_id <> qn.anchor_id),
        |sn AS (SELECT pn.anchor_id, pn.vec_id,
        |  ${Similarity.Sql.cosine("qd.v", "cd.v")} AS neg_cosine
        |  FROM pn JOIN dall qd ON pn.anchor_id = qd.vec_id
        |          JOIN dall cd ON pn.vec_id = cd.vec_id
        |  WHERE ${Similarity.Sql.cosine("qd.v", "cd.v")} < 0.4),
        |rn AS (SELECT anchor_id, vec_id AS negative_id, neg_cosine,
        |  CAST(row_number() OVER (PARTITION BY anchor_id
        |    ORDER BY neg_cosine DESC, vec_id) AS BIGINT) AS neg_rank FROM sn)
        |SELECT anch.anchor_id, anch.positive_id, anch.pos_cosine,
        |  rn.negative_id, rn.neg_cosine, rn.neg_rank
        |FROM anch JOIN rn USING (anchor_id) WHERE neg_rank <= 3
        |ORDER BY anchor_id, positive_id, neg_rank""".stripMargin)),

    // embedding-cosine near-dedup (semantic dedup): greedy drop of the
    // higher vec_id of every cosine-pair — completes the dedup family
    // (exact / Jaccard / MinHash / SimHash / embedding-cosine). Output
    // omits the raw embedding array (driver compare cannot hash arrays).
    // Served from the persisted graft_exactpairs dropset (r16 — the
    // exact algorithm is unchanged and the oracle still re-walks the
    // full all-pairs pass; Similarity.cosineNearDedup remains the
    // any-frame/any-threshold path).
    ("q_semantic_dedup",
      (s, d) => Tables.embeddings(s, d)
        .join(exactPairsTable(s, d).select(col("vec_id2").as("vec_id"))
          .distinct(), Seq("vec_id"), "left_anti")
        .select("vec_id", "label").orderBy("vec_id"),
      Some(s"""WITH $CosinePairsCtes,
        |dropset AS (SELECT DISTINCT vec_id2 FROM p WHERE cosine >= 0.4)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id2 FROM dropset)
        |ORDER BY vec_id""".stripMargin)),

    // Per-tensor symmetric int8 quantization (4x memory at 100 TB):
    // integer-deterministic, so the code table hash-checks fully.
    ("q_quantize_embeddings",
      (s, d) => Similarity.quantizeEmbeddings(Tables.embeddings(s, d))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("dim", "code")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("code").cast("long").as("code"))
        .orderBy("vec_id", "dim"),
      Some(s"""WITH qz AS (${Similarity.Sql.quantized}),
        |c AS (SELECT vec_id, codes, unnest(range(1, len(codes) + 1)) AS i FROM qz)
        |SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, codes[i] AS code
        |FROM c ORDER BY vec_id, dim""".stripMargin)),

    // Quantized top-k: integer dot ranking — the ONLY ANN-shaped query the
    // oracle can hash-check end to end (integer sums are order-free; the
    // IVF twins are rows-only by necessity). Recall vs the exact operator
    // is spec'd in SimilaritySpec.
    ("q_quantized_topk",
      (s, d) => Similarity.quantizedTopK(Tables.embeddings(s, d))
        .withColumn("rank", col("rank").cast("long")),
      Some(s"""WITH qz AS (${Similarity.Sql.quantized}),
        |p AS (SELECT vec_id AS query_id, codes AS qcodes FROM qz WHERE vec_id < 5),
        |scored AS (SELECT query_id, vec_id,
        |  ${Similarity.Sql.intDot("qcodes", "codes")} AS qdot
        |  FROM qz CROSS JOIN p WHERE vec_id <> query_id)
        |${vecTopKSql("qdot", "qdot", 10)}""".stripMargin)),

    // Quantized SERVING composition (round-9 verdict next-round 4): int8
    // codes ranked inside sign-LSH band candidates — 4x memory AND
    // candidate pruning in one pipeline, the genuine 100 TB serving shape
    // behind the full-scan q_quantized_topk baseline. Closed-form planes +
    // one global scale + integer dots keep the WHOLE pipeline hash-
    // checkable; recall@10 vs brute force is spec'd in SimilaritySpec.
    ("q_quantized_topk_serve",
      (s, d) => {
        val snap = annServeTables(s, d)
        Similarity.quantizedTopKServeFrom(snap.codes, snap.bands)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some(quantizedProbeTopKSql("vec_id < 5"))),

    // The ANN QUERY-SERVING endpoint: an arbitrary (query_id, embedding)
    // frame — here corpus ids 5..9 standing in for external requests —
    // bucketed with the snapshot's closed-form planes, quantized on the
    // snapshot's grid (the persisted meta row), ranked by integer dots
    // against the persisted codes. The batch kernel of the streaming
    // query service (streaming.AnnStream); everything stays integer /
    // closed-form, so the full request path hash-checks.
    ("q_ann_query_serve",
      (s, d) => {
        val snap = annServeTables(s, d)
        val qs = Tables.embeddings(s, d)
          .filter(col("vec_id") >= 5 && col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding"))
        Similarity.quantizedTopKForQueries(qs, snap)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some(quantizedProbeTopKSql("vec_id >= 5 AND vec_id < 10"))),

    // IVF probing is approximate — recall vs brute force asserted in
    // ScalaTest. Served from the PERSISTED ivf-v6 default answer (one
    // scan; the sort re-applies the contract order parquet doesn't keep)
    // — round-13 verdict next-round 5: this was the heaviest
    // non-composition serving query, re-running probe routing + the rank
    // window per call; the probe now runs once per embeddings snapshot
    // inside Similarity.persistIndex, and ivfTopKServe stays the
    // any-parameter / arbitrary-query path (persisted ≡ per-call serve
    // spec'd in SimilaritySpec).
    // nprobe = 16 is from a measured sweep at sf0.1 (6 → 0.60 recall@10
    // vs exact, 10 → 0.78, 14 → 0.98, 16/20 → 1.00): query-side probing
    // is the cheap recall knob — candidates per query = nprobe·cellSize,
    // trivial against the probe's rank window — and 16 holds 10/10 per
    // query at every SF, asserted by the q_ivf_topk_recall_bound witness.
    ("q_ann_ivf_topk",
      (s, d) => ivfTables(s, d)._4.orderBy("query_id", "rank"),
      None),

    // PRODUCT-QUANTIZATION top-k — the compressed linear scan (8 codes
    // per vector vs 64 floats): per query an m×k exact-sub-distance LUT
    // builds against the packed codebooks, the corpus ranks by
    // Σ LUT[sub][code] touching only the persisted code rows, never the
    // float embeddings. Trained (xxhash64-seeded) codebooks can't be
    // SQL-mirrored → rows-only; the recall contract is the hash-checked
    // witness below (the IVF discipline).
    // Serving is the production ADC-shortlist + EXACT-rerank path: the
    // compressed scan keeps 200 candidates per query, only those rows'
    // float vectors are fetched, and the emitted cosines are exact —
    // the remaining approximation (shortlist membership) is what the
    // witness below bounds.
    // Served from the PERSISTED pq-v3 default answer (one scan; the
    // sort re-applies the contract order parquet doesn't keep) —
    // Similarity.pqTopKRerankServeFrom / pqTopKForQueries remain the
    // any-parameter / arbitrary-request paths.
    ("q_pq_topk",
      (s, d) => {
        val (_, _, topk) = pqTables(s, d)
        topk.orderBy("query_id", "rank")
      },
      None),

    // PQ recall witness (the q_ivf_topk_recall_bound precedent): the PQ
    // answer's per-query overlap with the fully-oracled exact top-k,
    // folded into a within_bound literal — drift past the bound
    // hash-mismatches this row in CORRECTNESS itself.
    // The PQ QUERY-SERVING endpoint: an arbitrary (query_id, embedding)
    // frame — corpus ids 5..9 standing in for external requests — LUT'd
    // against the frozen codebooks, ADC-ranked over the persisted
    // codes, exact-reranked. Rows-only like its index (trained
    // codebooks); in-corpus parity with the registry path is spec'd.
    ("q_pq_query_serve",
      (s, d) => {
        val (cb, codes, _) = pqTables(s, d)
        val qs = Tables.embeddings(s, d)
          .filter(col("vec_id") >= 5 && col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding"))
        Similarity.pqTopKForQueries(qs, cb, codes, Tables.embeddings(s, d))
          .withColumn("rank", col("rank").cast("long"))
      },
      None),

    ("q_pq_recall_bound",
      (s, d) => {
        // the witness bounds the rows ACTUALLY SERVED — the persisted
        // topk table, not a recompute that could silently diverge from it
        val (_, _, topk) = pqTables(s, d)
        Similarity.topKRecallBound(topk,
          Similarity.bruteForceTopK(Tables.embeddings(s, d)), 0.7)
      },
      Some(topKRecallBoundSql("0.7"))),

    // IVF-PQ top-k — FAISS's IVFPQ composed from the TWO persisted
    // indexes: IVF cells prune the corpus, the PQ LUT ranks cell members
    // from 8-code rows, exact cosine reranks the shortlist from the
    // vectors the inverted lists already carry — the serve touches ONLY
    // persisted index tables. Rows-only (both trainings are
    // hash-seeded); the witness below carries the recall contract.
    // Served from the PERSISTED ivfpq-v1 default answer (one scan) —
    // the composition runs once per embeddings snapshot
    // (Similarity.persistIvfPqTopK); ivfPqTopKServe stays the
    // any-parameter path.
    ("q_ivfpq_topk",
      (s, d) => ivfPqTopK(s, d).orderBy("query_id", "rank"),
      None),

    ("q_ivfpq_recall_bound",
      (s, d) =>
        // bounds the served table itself (see q_pq_recall_bound)
        Similarity.topKRecallBound(ivfPqTopK(s, d),
          Similarity.bruteForceTopK(Tables.embeddings(s, d)), 0.7),
      Some(topKRecallBoundSql("0.7"))),

    // RECALL-CONTRACT witness for the top-k family (the q_ivf_recall_bound
    // precedent): per query, the overlap of the IVF answer with the
    // fully-oracled exact top-k, folded into a within_bound literal at
    // 0.8 (measured 1.0 at every SF under nprobe 16 — see above). With
    // this, EVERY rows-only query's approximation contract lives in the
    // hash-checked surface.
    ("q_ivf_topk_recall_bound",
      (s, d) =>
        // the witness bounds the rows ACTUALLY SERVED — the persisted
        // topk table (see q_pq_recall_bound)
        Similarity.topKRecallBound(ivfTables(s, d)._4,
          Similarity.bruteForceTopK(Tables.embeddings(s, d)), 0.8),
      Some(topKRecallBoundSql("0.8"))),

    // IVF-cell near-dup pairs: the scale path behind q_cosine_pairs /
    // q_semantic_dedup. Cell-geometry recall has no closed-form bound, so
    // rows-only here; precision (exact-verified cosines) and recall vs the
    // exact operator are asserted in SimilaritySpec. Served from the index
    // snapshot's persisted default-threshold pairs (ivf-v2 — round-10
    // verdict next-round 1: this was the last pair family re-running
    // candidates + exact verify per call); [[Similarity.ivfNearDupServe]]
    // over the lists remains the any-threshold path.
    ("q_ivf_neardup_pairs",
      (s, d) => ivfTables(s, d)._3.orderBy("vec_id1", "vec_id2"),
      None),

    // ---- LLM-data pipeline: multimodal binary-column plumbing (north star).
    // Decode is a deterministic stub (no codecs in-container); the payload is
    // ASCII text bytes, so the oracle recomputes features from char codes.
    // Kinds rotate by doc_id mod 3 and each takes its own kernel: image =
    // high-nibble hist over all bytes, audio = low-nibble hist over all
    // bytes, video = high-nibble hist over one sampled byte per frame.
    ("q_media_features",
      (s, d) => Multimodal.features(Multimodal.mediaFromDocuments(Tables.documents(s, d)))
        .withColumn("hist16",
          array_join(transform(col("hist16"), _.cast("string")), ","))
        .orderBy("media_id"),
      Some("""WITH codes AS (SELECT doc_id,
        |  list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS cs,
        |  CAST(floor(n_chars / 10) AS INT) AS nf,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind
        |  FROM documents),
        |sel AS (SELECT doc_id, kind, cs,
        |  CASE WHEN kind = 'video'
        |       THEN list_transform(generate_series(0, nf - 1), f -> cs[f * 10 + 1])
        |       ELSE cs END AS samp
        |  FROM codes)
        |SELECT doc_id AS media_id, kind, CAST(len(cs) AS BIGINT) AS n_bytes,
        |  CASE WHEN len(samp) = 0 THEN 0.0
        |       ELSE CAST(list_sum(samp) AS DOUBLE) / len(samp) END AS mean_byte,
        |  array_to_string(list_transform(generate_series(0, 15),
        |    b -> CAST(len(list_filter(samp, c ->
        |      (CASE WHEN kind = 'audio' THEN c & 15 ELSE c >> 4 END) = b)) AS BIGINT)), ',')
        |    AS hist16
        |FROM sel ORDER BY media_id""".stripMargin)),

    // stub resize: deterministic byte subsample to a 16x16 target; the
    // payload is the UTF-8 text bytes so the oracle recomputes the
    // checksum from character codes
    ("q_media_resize",
      (s, d) => Multimodal.resizeStub(
        Multimodal.mediaFromDocuments(Tables.documents(s, d)), 16, 16)
        .orderBy("media_id"),
      Some("""WITH p AS (SELECT doc_id, text, length(text) AS len FROM documents)
        |SELECT doc_id AS media_id, 16 AS width, 16 AS height,
        |  CAST(least(256, len) AS BIGINT) AS n_bytes,
        |  CAST(coalesce(list_sum(list_transform(
        |    generate_series(0, CAST(least(256, len) AS INT) - 1),
        |    i -> ord(text[CAST(i * (len // least(256, len)) AS INT) + 1]))), 0) AS BIGINT)
        |    AS byte_sum
        |FROM p ORDER BY media_id""".stripMargin)),

    ("q_frame_sample",
      (s, d) => Multimodal.sampleFrames(Multimodal.mediaFromDocuments(Tables.documents(s, d)), 5)
        .orderBy("media_id", "frame_idx"),
      Some("""SELECT doc_id AS media_id,
        |  unnest(generate_series(0, CAST(floor(n_chars / 10) AS INT) - 1, 5)) AS frame_idx
        |FROM documents WHERE CAST(floor(n_chars / 10) AS INT) > 0
        |ORDER BY media_id, frame_idx""".stripMargin)),

    // fingerprint-seeded embedding stub, oracle-checked (round-6 verdict
    // 5 — previously a rows-only xxhash64 scheme DuckDB could not
    // reproduce). Exploded to (media_id, dim, val): the driver's pandas
    // sort cannot handle array cells, and exploding keeps `val` a DOUBLE
    // compared bit-exactly instead of a formatted string (double→string
    // rendering differs across engines; double ARITHMETIC does not).
    ("q_media_embed",
      (s, d) => Multimodal.embedStub(Multimodal.mediaFromDocuments(Tables.documents(s, d)))
        .select(col("media_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .orderBy("media_id", "dim"),
      Some(s"""WITH fp AS (SELECT doc_id AS media_id,
        |  ${TextAnalysis.Sql.fingerprint} AS f FROM documents)
        |SELECT media_id, CAST(d AS INT) AS dim,
        |  CAST((f * (2 * d + 1) + d * 40503) % 2000001 AS DOUBLE) / 1000000.0 - 1.0 AS val
        |FROM fp, generate_series(0, 15) AS t(d)
        |ORDER BY media_id, dim""".stripMargin)),

    // CLIP-SCORE filtering (DataComp's core multimodal curation op):
    // per document, the cosine between its TEXT-tower and MEDIA-tower
    // embeddings, gated at 0 — caption-image mismatches drop. Towers
    // are the deterministic closed-form stubs (a real deployment swaps
    // the kernels); the join + cosine + gate plumbing is the real
    // operator and the whole gate oracle-checks end to end. Zero-norm
    // pairs yield no row on both engines (the hybrid-search guard).
    ("q_clip_filter",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Multimodal.clipScores(
            Multimodal.textEmbedStub(docs),
            Multimodal.embedStub(Multimodal.mediaFromDocuments(docs)))
          .orderBy("media_id")
      },
      Some(s"""WITH $MediaTowerCtes,
        |sc AS (SELECT media_id, ${Similarity.Sql.cosine("t", "m")} AS clip_score
        |  FROM tv JOIN mv USING (media_id)
        |  WHERE ${Similarity.Sql.dot("t", "t")} > 0
        |    AND ${Similarity.Sql.dot("m", "m")} > 0)
        |SELECT media_id, clip_score, clip_score >= 0.0 AS keep
        |FROM sc ORDER BY media_id""".stripMargin)),

    // CROSS-MODAL retrieval (text query ranks the media corpus): the
    // text tower's query vectors against the media tower's corpus — one
    // bounded query broadcast, one media scan, per-query rank windows.
    // The paired media (same id) is the retrieval target, deliberately
    // not excluded.
    // Served from the persisted graft_crossmodal snapshot (the family
    // discipline — the oracle re-derives both towers and the ranking, so
    // the hash keeps proving the persisted table current);
    // Multimodal.crossModalTopK stays the any-parameter path.
    ("q_crossmodal_topk",
      (s, d) => crossModalServe(s, d).orderBy("query_id", "rank"),
      Some(CrossModalTopKSql)),

    // the retrieval EVAL CARD (CLIP/DataComp recall@1/@k): a CONSTANT
    // 32-query sample (hash-least eligible ids — a fixed eval budget at
    // EVERY corpus size; round-13 verdict 1 replaced the %101 corpus-
    // fraction sample) ranks the media corpus; the card reports where
    // each query's PAIRED media landed. The pair's rank is an AGGREGATE
    // (1 + count of strictly-ahead rows under the (cosine DESC, id)
    // order), never a corpus-wide per-query row_number — one media scan
    // map-side-combining into 32 partial counts. With stub towers the
    // value is near chance by construction (Multimodal.crossModalRecall
    // scaladoc) — the derivation is the operator, and it hash-checks
    // end to end.
    // Served from the graft_crossmodal snapshot's recall table (v2) —
    // the card is a pure function of the corpus at the default eval
    // budget; the oracle re-derives it so the hash proves it current.
    // Multimodal.crossModalRecall stays the any-parameter path.
    ("q_crossmodal_recall",
      (s, d) => crossModalTables(s, d)._2,
      Some(s"""WITH $MediaTowerCtes,
        |q AS (SELECT media_id AS query_id, t AS qv FROM tv
        |  WHERE ${Similarity.Sql.dot("t", "t")} > 0
        |  ORDER BY ((media_id % 1000003) * 2654435761 + (media_id % 101))
        |    % 1000000007, media_id
        |  LIMIT 32),
        |mm AS (SELECT media_id, m FROM mv
        |  WHERE ${Similarity.Sql.dot("m", "m")} > 0),
        |pr AS (SELECT query_id, qv,
        |  ${Similarity.Sql.cosine("qv", "m")} AS paired_cosine
        |  FROM q JOIN mm ON query_id = media_id),
        |sc AS (SELECT pr.query_id, pr.paired_cosine, mm.media_id,
        |  ${Similarity.Sql.cosine("qv", "m")} AS cosine
        |  FROM mm CROSS JOIN pr),
        |rk AS (SELECT query_id, CAST(1 + sum(CASE WHEN cosine > paired_cosine
        |    OR (cosine = paired_cosine AND media_id < query_id)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS rank
        |  FROM sc GROUP BY query_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(CASE WHEN rank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_1,
        |  CAST(sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_k,
        |  sum(CASE WHEN rank = 1 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE) AS recall_at_1,
        |  sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE) AS recall_at_k
        |FROM rk""".stripMargin)),

    // perceptual (locality-sensitive) hash per media payload — the codegen'd
    // PerceptualHash expression: dHash gradient sign on a fixed-stride
    // sample grid (all-integer, code-point decode — the Fingerprint
    // round-8 lesson), so DuckDB mirrors it bit-for-bit. Served from the
    // persisted graft_media family (one scan); the oracle recomputes from
    // text, hash-proving the persisted table equals direct computation.
    ("q_media_phash",
      (s, d) => mediaPhashTables(s, d).phash.orderBy("media_id"),
      Some(s"""WITH ${phashCtes("documents")}
        |SELECT media_id, kind, phash FROM h ORDER BY media_id""".stripMargin)),

    // media near-dup via Hamming-banded perceptual hashes, served from
    // the family's persisted verified pairs (one scan; the banded build
    // runs once per corpus snapshot off the read-back hash table). The
    // oracle is the BRUTE-FORCE all-pairs filter: with maxHamming 5 < 6
    // bands the pigeonhole guarantee says every qualifying pair shares a
    // band, so the hash check proves the banded candidates complete AND
    // the persisted table current.
    ("q_media_neardup",
      (s, d) => mediaPhashTables(s, d).nearDupPairs.orderBy("id1", "id2"),
      Some(MediaNearDupSql)),

    // reverse-media-search endpoint: an arbitrary request frame hashed
    // and banded against the persisted corpus hash table (fingerprints
    // only — the MediaDedup serving shape); in-corpus probes return their
    // neighbors, self excluded. Brute-force oracle (pigeonhole-complete).
    ("q_media_lookup",
      (s, d) => {
        val probes = Multimodal.mediaFromDocuments(
          Tables.documents(s, d).filter(col("doc_id") < 30))
          .withColumnRenamed("media_id", "query_id")
        Multimodal.phashLookup(mediaPhashTables(s, d).phash, probes)
      },
      Some(s"""WITH ${phashCtes("documents")}
        |SELECT q.media_id AS query_id, c.media_id AS media_id,
        |  CAST(bit_count(xor(q.phash, c.phash)) AS BIGINT) AS hamming
        |FROM h q JOIN h c ON q.media_id < 30 AND c.media_id <> q.media_id
        |WHERE bit_count(xor(q.phash, c.phash)) <= 5
        |ORDER BY query_id, c.media_id""".stripMargin)),

    // the phash family's measured-recall witness (pigeonhole banding is
    // exact, so recall is literally 1.0): an independent brute-force
    // Hamming pass over the media_id < 1000 slice marked against the
    // persisted pairs — a banding edit that loses any pair flips
    // within_bound and hash-mismatches here (the q_ivf_recall_bound
    // discipline; the BNLJ is the audit slice, allowlisted)
    ("q_media_recall_bound",
      (s, d) => {
        val t = mediaPhashTables(s, d)
        Multimodal.phashRecallBound(t.nearDupPairs, t.phash)
      },
      Some(s"""WITH ${phashCtes("documents WHERE doc_id < 1000")},
        |e AS (SELECT a.media_id AS id1, b.media_id AS id2
        |  FROM h a JOIN h b ON a.media_id < b.media_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 5)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
        |  CAST(1.0 AS DOUBLE) AS recall_bound,
        |  CAST(1 AS INT) AS within_bound
        |FROM e""".stripMargin)),

    ("q_producer_metrics",
      (s, d) => Serving.producerMetrics(norm(s, d)),
      Some(s"""$WITH_NORM
        |SELECT count(*) AS event_count,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  min(value) AS value_min, max(value) AS value_max,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS value_avg,
        |  count(*) / ((epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6) AS events_per_sec
        |FROM norm""".stripMargin))
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, f, _) => n -> f }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
