package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: times the headline queries (the shuffle/join-bearing
 * operators, not the temp-file fixtures) on SPARK_GRAFT_SF_DIR.
 *
 * Honesty contract: a failing query is reported in `errors` with its
 * exception, never as a timing; `queries` contains only successful runs.
 * A warm-up pass (session + codegen + parquet footer caches) runs first
 * so timings are attributable to the query, not JVM startup.
 */
object Bench {

  /** Shuffle/aggregation/join-bearing queries worth timing, in run order. */
  private val Headline: Seq[String] = Seq(
    "q_v2f_transform_te",   // full typed-conversion chain, 600k rows at sf0.1
    "q_v2f_merge_variants", // unionByName + dropDuplicates shuffle
    "q_dedup_exact",        // hash-groupBy dedup
    "q_minhash_signature",  // shingle + 16-hash MinHash expressions
    "q_neardup_pairs",      // LSH banded buckets + in-bucket Jaccard verify
    "q_neardup_dedup",      // full near-dup chain + anti-join corpus prune
    "q_simhash",            // nested-lambda bit voting
    "q_embed_neardup",      // hyperplane bucket join + cosine verify
    "q_ann_topk",           // broadcast cross join + top-k window
    "q_ann_ivf_recall",     // IVF assign + probe join + brute-force truth + recall join (r7; replaces q_ann_ivf — same IVF path plus the recall check)
    "q_lang_id",
    "q_text_quality",
    "q_token_count",
    "q_fingerprint",
    "q_multimodal_meta",
    "q_events_window",      // timestamp window aggregation
    "q_sessionize",         // two window passes + agg over one shuffle
    "q_parse_double_arrays",// kernel micro-benchmark (fused native parse)
    "q_salted_agg",         // two-phase salted aggregation (added r4)
    "q_dedup_stream",       // batch surface of streaming dedup (added r4)
    "q_salted_join",        // salted (key,salt) join, right side exploded (r5)
    "q_bucketed_join",      // bucketed write + catalog read + exchange-free join (r5)
    "q_ann_ivf_exact",      // IVF at nProbe=nCentroids — the full-probe cost path (r5)
    "q_simhash_pairs",      // simhash banding + bucket-capped Hamming verify (r5)
    "q_multimodal_decode",  // mapPartitions decode stage — real imageio path since r6 (r7)
    "q_multimodal_resize",  // mapPartitions resize + re-encode stage (r7)
    "q_neardup_cluster",    // near-dup chain + iterative connected components (r7)
    "q_token_bins",         // GLOBAL token-budget binning — r12: range shuffle + per-partition prefix + broadcast offsets, no SinglePartition (was a global window, r7)
    "q_line_dedup",         // line explode + corpus-wide count + regroup rebuild (r7)
    "q_contamination",      // gram explode + broadcast eval join + per-doc regroup (r7)
    "q_contamination_bloom",// same chain behind the bloom gram prefilter (r7)
    "q_gopher",             // 7-signal rule filter, one codegen'd projection (r7)
    "q_topk_by",            // WindowGroupLimit rank window — local top-k pre-shuffle (r7)
    "q_top_fraction",       // rank + count in one Window node over one shuffle (r7)
    "q_line_dedup_doc",     // within-doc positional-HOF line rule, pure projection (r7)
    "q_top_words",          // word explode + partial counts + TakeOrderedAndProject (r7)
    "q_chunk_tokens",       // token-window chunk generate over a projection (r8)
    "q_embed_quantize",     // int8 quantization projection, per-element lambda (r8)
    "q_semdedup_pairs",     // degenerate single-cluster all-pairs cosine — worst-case in-bucket pair throughput, 520-vector fixture (r8)
    "q_unigram_nll",        // word explode + broadcast model join + per-doc regroup (r8)
    "q_pack_sequences",     // token-bin window + id-ordered concat per bin (r8)
    "q_curation_e2e",       // the COMPOSED curation pipeline via run(): persisted scrub intermediate, scrub→line rules→dedups→decontaminate→quality→cap→split (r8)
    "q_bm25",               // corpus explode + broadcast term semi join + postings window + per-(query,doc) regroup (r8)
    "q_unigram_kl",         // two persisted word-count aggs + vocab-sized KL projection, localized result (r8)
    "q_char_entropy",       // native code-point entropy pass over a bounded prefix, pure projection (r8)
    "q_dsir_weights",       // DSIR: model fit (two localized dense count tables) + gram explode + broadcast model join + per-doc regroup (r8)
    "q_strip_html",         // 4 regexp passes + 6 entity replaces in the scan projection (r8)
    "q_quantile_bucket",    // broadcast percentile boundaries + boundary-count projection (r8)
    "q_url_canonical",      // URL canonicalization regex/substring projection (r8)
    "q_decontam_spans",     // positional gram explode + broadcast eval semi join + matched-docs rebuild (r8)
    "q_eval_overlap",       // corpus gram stream vs broadcast eval grams, eval-sized output (r8)
    "q_incr_exact",         // batch anti-join against the corpus fingerprint index (r9)
    "q_incr_neardup",       // batch-vs-index banded LSH + signature-agreement verify, index never shuffled (r9)
    "q_incr_embed",         // batch-vs-index hyperplane buckets + cosine verify (r9)
    "q_incr_simhash",       // batch-vs-index pigeonhole bands + Hamming verify (r9)
    "q_dup_spans",          // corpus-self duplicate-span removal: gram-keyed occurrence shuffle + span rebuild (r9)
    "q_incr_neardup_stream", // stateless stream-shape matcher vs the statically-capped flat index (r9)
    "q_quality_score",      // classifier scoring: gram explode + broadcast weight spine + per-doc regroup (r10)
    "q_quality_score_inline", // same math, zero-shuffle row-local projection — the plan-shape comparison rides the board (r10)
    "q_tar_shard_write",    // tar-shard sink alone, both codecs — the WRITE half of the r10 roundtrip cell, split for variance attribution (r12)
    "q_tar_shard_read",     // readTar over a pre-written two-codec shard fixture — the READ half (r12)
    "q_bigram_nll",         // interpolated bigram LM: predecessor-carrying explode + 3 broadcast model joins + per-doc regroup (r10)
    "q_bpe_tokens",         // loadable BPE: regex pre-tokenize + cached per-word merge loop, pure projection (r11)
    "q_epoch_shuffle",      // deterministic epoch shuffle: one hash shuffle on the shard key + per-shard rank window (r11)
    "q_asof_join",          // as-of join via union + running-last window: one shuffle, zero join nodes (r11)
    "q_asof_join_bcast",    // streaming as-of arm: per-key history array + broadcast equi-join + row-local fold (r11)
    "q_asof_join_skew",     // skew-safe as-of arm: hot keys salt-chunked across window sub-partitions, cold keys to the plain window (r12)
    "q_warc_records",       // WARC record extraction: executor-side parse of plain + per-record-gzip crawl files (r12)
    "q_events_sliding",     // sliding windows: native window replication, overlapping 10m/5m (r11)
    "q_range_join",         // range join via interval binning + equi-join, no nested loop (r11)
    "q_overlap_join",       // interval-overlap join: binned both sides + first-shared-bin dedup (r11)
    "q_global_index",       // dense global index: range shuffle + zipWithIndex, no single-partition sort (r11)
    "q_pagerank",           // domain PageRank: per-round one join + one agg over a persisted weighted edge list (r11)
    "q_pq_topk",            // PQ ADC search: broadcast distance tables + m positional lookups per corpus row (r11)
    "q_pq_recall",          // trained PQ two-stage pipeline vs exact L2 (train+encode+ADC+rerank+compare) (r11)
    "q_corpus_diff",        // snapshot diff: (id, digest) projections + one full-outer join, delta-sized output (r11)
    "q_scd2",               // SCD2 build: one key shuffle + lead window (r11)
    "q_temp_rebalance",     // temperature mixing: two metadata jobs + one scan filter (r11)
    "q_quality_checks",     // data-quality rules: one aggregation pass, metadata-sized report (r11)
    "q_funnel",             // ordered funnel: one user-keyed min-agg pass per step (r11)
    "q_hll_distinct",       // mergeable HLL distinct sketches + estimate-vs-exact verdict (r11)
    "q_retention",          // cohort retention: user shuffle + (cohort, offset) agg (r11)
    "q_cms_counts",         // CMS frequency sketches + union agg + group-localized point queries (r11)
    "q_kll_quantiles",      // KLL quantile sketches + rank-band verdict join (r12)
    "q_join_streams",       // stream-stream interval join, batch surface (r12)
    "q_doc_extract",        // document-extraction seam: sniff + builtin extractors over mixed formats (r12)
    "q_warc_roundtrip",     // WARC sink + readWarc roundtrip over the documents table — per-record-gzip WET shards (r12)
    "q_theta_setops",       // theta set-algebra sketches: two drop sketches -> union/intersect/diff cardinalities (r12)
    "q_bpe_train",          // BPE merge learning: word-count shuffle + driver merge loop on the planted corpus (r12)
    "q_phrase_match",       // Aho-Corasick multi-phrase blocklist: broadcast automaton, one O(text) pass (r12)
    "q_corpus_profile",     // one-scan profiler: per-column exact + HLL/KLL sketch metrics in a single agg (r12)
    "q_embed_project",      // JL random projection: native mat-vec per row, zero shuffle (r12)
    "q_setsim_pairs",       // exact set-similarity join: token-df agg + rare-first prefix equi-join + array_intersect verify (r12)
    "q_editdist_pairs",     // exact edit-distance join: deletion-neighborhood explode + variant equi-join + bounded levenshtein verify (r12)
    "q_zorder",             // z-order values: one metadata agg + pure shift/mask projection, zero shuffle (r12)
    "q_skip_index",         // skipping index: clustered write + one-scan min/max+bloom build + pruned point reads (r12)
    "q_resample",           // per-user resampling: one (key,bucket) agg + sequence-explode grid + ffill window (r12)
    "q_feature_hash",       // hashing-trick TF: word explode + one map-side-combined (id,bucket) agg, native md5 (r12)
    "q_rolling",            // trailing-window aggregates: one key shuffle + RANGE-frame window pass (r12)
    "q_cdc_apply",          // CDC merge: union + per-key last-writer-wins window, no join node (r12)
    "q_k_anonymity",        // quasi-identifier classes: one map-side-combined agg (r12)
    "q_blocking_pairs",     // sorted-neighborhood blocking: global index + offset explode + rank equi-join (r12)
    "q_label_prop",         // label propagation: 4 synchronous rounds (localized arm at this scale) (r12)
    "q_pmi",                // PMI co-occurrence: row-local pair transform + two map-side-combined counts + broadcast vocab joins (r12)
    "q_weighted_sample",    // Efraimidis-Spirakis A-Res: hash-key projection + TakeOrderedAndProject (r12)
    "q_extract_links",      // out-link extraction + RFC3986-lite resolution: scan-stage regex explode, zero shuffle (r12)
    "q_assoc_rules",        // association rules: per-txn set collect + row-local pairs + broadcast item joins (r12)
    "q_transitions",        // event-transition matrix: one key shuffle + lead window + pair counts (r12)
    "q_rendezvous",         // HRW sharding: row-local scoreboard sort, zero shuffle (r12)
    "q_snapshot_drift",     // snapshot drift: schema diff (no job) + one agg pass per side (r12)
    "q_cdc_stream",         // streaming materialized table: 3 foreachBatch folds + versioned snapshot reads (r12)
    "q_robust_outliers",    // median/MAD outliers: two exact percentile aggs + broadcast stats joins (r12)
    "q_decayed_score",      // recency decay: one key shuffle, rank window + sum on the same partitioning (r12)
    "q_bloom_semi_join",    // bloom-prefiltered semi join: scan-stage might_contain before the exchange (r12)
    "q_setsim_incr",        // cross-corpus exact set-sim join: persisted prefix index semi-joined vs broadcast batch tokens (r13, benched r14)
    "q_editdist_incr",      // cross-corpus edit-distance join: persisted variant index vs broadcast batch neighborhood (r13, benched r14)
    "q_forget_neardup",     // index forget, heaviest arm: anti-join removal ids off the minhash signature index + rebuild-parity check (r13, benched r14)
    "q_zorder_rank",        // rank-scaled z-order: one quantile agg + native sorted-bucket interleave projection (r13, benched r14)
    "q_skip_append",        // incremental skip-index append over a partitioned layout + pruned point reads (r13, benched r14)
    "q_image_neardup",      // image dHash + generalized Hamming banding near-dup (r13, benched r14)
    "q_sent_chunks",        // UAX#29 sentence-preserving chunking: one native segmentation+packing pass (r13, benched r14)
    "q_uax29",              // UAX#29 word segmentation: native BreakIterator scan projection (r13, benched r14)
    "q_corr_matrix",        // one-pass correlation/covariance matrix: single agg, pair-sized explode (r13, benched r14)
    "q_bm25_incr",          // persisted BM25 index: sidecar-layout build + broadcast-term probe, match-bounded scoring (r14)
    "q_forget_setsim",      // forget over the setsim prefix index + cross-corpus probe through the stale-order index (r14)
    "q_forget_editsim",     // forget over the edit-variant index + in-gate rebuild-parity + cross-corpus probe (r14)
    "q_video_neardup",      // video clip near-dup: frame sample + per-frame dHash fold + Hamming banding (r14)
    "q_audio_neardup",      // audio clip near-dup: energy-contour fingerprint + Hamming banding (r14)
    "q_bm25_part",          // partition-pruned BM25 layout: 32-bucket sidecar write + bucket-pruned probe (r14)
    "q_dedup_keepbest",     // exact dedup, best-score keeper: one fingerprint rank window (r14)
    "q_neardup_keepbest",   // near-dup cluster argmax keeper: pairs + CC + score join + anti join (r14)
    "q_winnow_pairs",       // winnowing overlap: native rolling-hash scan + capped hash-groupBy pair counts (r14)
    "q_fix_mojibake",       // mojibake repair: invert + strict re-decode scan projection (r14)
    "q_skip_prune",         // skip-index prune: partitioned fixture + deleted-partition diff + pruned reads (r14)
    "q_containment_incr",   // cross-corpus containment join: batch-prefix probe vs full-postings index (r14)
    "q_winnow_incr",        // cross-corpus winnow overlap: parquet index + broadcast batch hash probe (r14)
    "q_forget_bm25",        // bm25 index forget: sidecar build + tombstone forget + denormalized row read-out (r15)
    "q_forget_winnow",      // winnow index forget: one anti-join rewrite (r15)
    "q_forget_containment", // containment full-postings forget: one anti-join rewrite (r15)
    "q_image_neardup_incr", // cross-corpus image near-dup: persisted dHash table + banded batch probe (r15)
    "q_image_dedup_stream", // streaming media dedup loop: 2 foreachBatch folds over a grown dHash table (r15)
    "q_video_neardup_incr", // cross-corpus video near-dup: persisted folded signatures probed (r15)
    "q_audio_neardup_incr", // cross-corpus audio near-dup: persisted energy contours probed (r15)
    "q_split_leakfree",     // cluster-keyed splits: near-dup pairs + CC + pair-bounded join + split hash (r15)
    "q_budget_select",      // token-budget selection: range shuffle + per-partition offsets + pushed cum filter (r15)
    "q_budget_select_group",// per-group budgets: one group-partitioned running-sum window (r15)
    "q_budget_select_ranged",// same budgets, range-partitioned grouped totals — parallel WITHIN groups (r15)
    "q_curation_budget",    // capstone with the token-budget stage: full composed pipeline + budget prefix (r15)
    "q_forget_dhash",       // media-hash forget + post-forget probe: anti-join + banded batch probe (r15)
    "q_c4_clean",           // C4 line cleaning: one fused native byte pass + pushed page filter (r15)
    "q_orc_roundtrip",      // ORC sink + source roundtrip over the documents table (r15)
    // q_curation_c4 stays unbenched: constant-fixture parity gate, the
    // q_curation_uax29/q_curation_keepbest convention
    "q_curriculum",         // curriculum order: quantile stages + epoch hash + global-index range shuffle (r15)
    "q_bm25_append",        // bm25 index grow: sidecar build + generation append + denormalized row read-out (r16)
    "q_bm25_append_forget", // append-then-forget roundtrip: sidecar build + append + forget + row read-out (r16)
    "q_c4_clean_cjk",       // parameterized-terminator C4 pass, both arms over re-terminated pages (r16)
    "q_forget_ivf",         // IVF assignment-table forget + exact-degenerate probe of every bucket (r16)
    "q_forget_pq",          // PQ codes forget + planted-codebook ADC probe (r16)
    "q_delivery_e2e",       // composed delivery: budget -> curriculum -> shards -> tar write + readback (r16)
    "q_forget_dhash_banded",// banded media-hash artifact forget: one anti-join over band rows (r16)
    "q_bm25_append_part",   // partitioned-layout grow: sidecar build + generation append + bucket-pruned probe (r16)
    "q_image_banded_append",// banded artifact grow: sidecar-verified append + Dir probe (r16)
    "q_exact_append",       // counted-fingerprint index grow: broadcast count merge (r16; r17 split the full-outer into broadcast legs)
    // q_image/video/audio_neardup_incr keep their r15 cells - same names,
    // now probing the pre-banded artifact (build moved into the cell)
    "q_bm25_sidecar",        // stats-sidecar layout: build (postings gens + registry + df + meta) + sidecar-joined probe (r17)
    "q_bm25_sidecar_append", // SUBLINEAR grow: drop-sized generation + registry guard + touched-bucket df rewrite + meta flip (r17; registry r18)
    "q_bm25_sidecar_forget", // tombstone + registry-sourced deltas, zero posting bytes rewritten (r17; registry r18)
    "q_bm25_sidecar_compact",// amortized maintenance: rewrite-minus-tombstones to a fresh layout (r17)
    "q_bm25_sidecar_topk",   // WindowGroupLimit top-k over sidecar scores — layout parity with the inline arm (r18)
    "q_bm25_sidecar_merge",  // smallest-first generation merge: 3 live gens -> 2, biggest gen byte-untouched, df untouched (r18)
    "q_rrf_fusion",          // reciprocal-rank fusion of bm25TopK + dense cosine top-k — query-bounded union + agg + WindowGroupLimit (r18)
    "q_soft_dedup",          // soft dedup: near-dup chain + CC + 1/cluster-size weights joined back, corpus never shuffled (r18)
    "q_line_dedup_group",    // per-group (domain) duplicate-line removal: one shared (group, line-hash) exchange + left join + regroup (r18)
    "q_cluster_update",      // incremental cluster maintenance: prior star edges + drop pairs -> CC, == full re-pair rebuild (r18)
    "q_series_vectors",      // fixed-grid behavior profiles: ONE hash agg with nBuckets conditional sums, no collect/pivot (r18)
    "q_series_zscore",       // z-score normalized profiles: same one-shuffle plan + row-local stats projections (r19)
    "q_dtw_pruned_exact",    // two-stage LB_Keogh DTW search vs brute force: both arms + in-gate equality diff (r19)
    "q_curation_soft",       // capstone soft-dedup arm: no near drops, cluster weights + forced leak-safe splits (r19)
    "q_curation_soft_stream",// streaming soft arm: 3 batches, pair-vs-index fold into the label artifact + current-mass emission (r19)
    "q_rrf_fusion_weighted", // weighted fusion: persisted sidecar lexical leg + exact-degenerate IVF dense leg (r19)
    "q_rrf_fusion_pq",       // THREE-arm fusion: sidecar bm25 x IVF x PQ ADC->exact-rerank (r20)
    "q_dtw_zscore",          // composed shape search: zscore profiles -> persisted envelope artifact -> pruned-against vs brute (r20)
    "q_curation_soft_incr",  // batch soft x prior signature index: pairing fold, hard-mode contrast in-gate (r20)
    "q_lang_id_model",       // loaded .vec model scoring: word join + vector-mean agg + label fold (r20)
    "q_forget_soft",         // soft-label deletion propagation: fold-and-swap rewrite + end-state re-read (r20)
    // q_dtw_topk / q_dtw_topk_pruned / q_dtw_index / q_forget_dtw stay
    // unbenched: constant-fixture parity gates (the q_curation_c4
    // convention); the kernel, the two-stage plan, and the persisted
    // artifact are benched via q_dtw_pruned_exact / q_dtw_zscore
    "q_setsim_append",       // prefix-index grow + join-surface probe (r17)
    "q_winnow_append",       // winnow-index grow through parquet + overlap probe (r17)
    "q_banded_recap",        // banded artifact re-cap: dedupe + two-pass cap over band rows (r17)
    "q_ivf_drift",           // drift report: one assignment-stats pass vs the persisted reference (r17)
    "q_pq_drift",            // PQ codebook drift: one encoded-corpus stats pass vs the persisted reference (r18)
    "q_video_dedup_stream",  // video streaming dedup: two micro-batches over the banded artifact (r17)
    "q_audio_dedup_stream",  // audio streaming dedup twin (r17)
    "q_curation_image_stream" // curation sink media arm: full pipeline x2 batches + artifact grow (r17)
  )

  /** JSON string escape: backslash, quote and ALL control chars (<0x20)
    * — a tab or CR in a query name or oracle SQL would otherwise make a
    * reader's json.load fail. Shared with [[Verify]]'s oracle_sql.json. */
  private[graft] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The bench line's "sf" field: the scale factor parsed from the data
    * directory's basename as a JSON NUMBER (sf0.1 → 0.1, sf1 → 1), or the
    * quoted directory when the basename is not `sf<decimal>` — a
    * multi-dot, dot-only or leading-zero capture (`sf0.1.2`, `sf.`,
    * `sf01`) would otherwise emit an invalid JSON number. */
  private[graft] def sfJson(dir: String): String =
    "sf((0|[1-9]\\d*)(\\.\\d+)?)$".r
      .findFirstMatchIn(new java.io.File(dir).getName)
      .map(_.group(1))
      .getOrElse(jsonStr(dir))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val qs = SparkEntry.queries
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b runs a subset (iteration aid; the
    // driver's full-board runs leave it unset)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val headline = Headline.filter(qs.contains)
      .filter(n => only.forall(_.contains(n)))

    // Evaluate via the no-op sink, NOT count(): count() lets Catalyst prune
    // every projection, so a pure map-side query would "run" in the time it
    // takes to read parquet row counts. The noop writer materializes every
    // output row, which is what a real pipeline pays.
    def run(name: String): Unit =
      qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Warm-up: absorb session/codegen/scan-cache startup on a cheap query
    // so the first timed query isn't charged for it.
    try run("q_rename")
    catch { case _: Throwable => () }
    GraftSession.sweepPersistedState(spark)

    // Each query runs 1 + SteadyRuns times: the first (cold) timing
    // includes the one-time plan compile (Catalyst + codegen — at local
    // scale factors this DOMINATES the data path); `steady` is the MEDIAN
    // of the reruns — the per-execution cost that actually scales with
    // data volume, with the median absorbing the shared-machine transients
    // that made single-run steady numbers swing ±30% between rounds.
    //
    // ISOLATION: every timed run starts from zero persisted state — after
    // each run the session is swept (cached frames + persisted RDDs,
    // including checkpoint-backed operator results whose blocks nothing
    // else can free). Without the sweep, blocks accumulate across the
    // 51-query board and BlockManager pressure bleeds between queries
    // (round 8 measured q_neardup_cluster 3.3× worse on the full board
    // than in isolation, steady WORSE than cold). The per-query leak
    // counts observed after the cold run are reported in the JSON so a
    // new operator that starts leaking is visible, not silent.
    // Sub-second queries are fixed-overhead-bound: a 30 ms scheduler or
    // GC transient is ±15% of a 0.2 s steady, so cheap queries take 5
    // reruns (≈20 s extra across the board) and expensive ones — whose
    // timings are data-path-dominated and stable — keep 3.
    val SteadyRuns = 3
    val CheapSteadyRuns = 5
    val CheapColdSec = 2.0
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val steady = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val leaks = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    headline.foreach { name =>
      val t0 = System.nanoTime()
      try {
        run(name)
        timings(name) = (System.nanoTime() - t0) / 1e9
        val leaked = GraftSession.sweepPersistedState(spark)
        if (leaked > 0) leaks(name) = leaked
        val n = if (timings(name) < CheapColdSec) CheapSteadyRuns else SteadyRuns
        val reruns = (1 to n).map { _ =>
          val t1 = System.nanoTime()
          run(name)
          val dt = (System.nanoTime() - t1) / 1e9
          GraftSession.sweepPersistedState(spark)
          dt
        }.sorted
        steady(name) = reruns(reruns.size / 2)
      } catch {
        case e: Throwable =>
          // honesty contract: a query appearing in `queries` ran clean on
          // EVERY pass — a rerun failure voids the cold timing too
          timings.remove(name)
          steady.remove(name)
          errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          try GraftSession.sweepPersistedState(spark)
          catch { case _: Throwable => () }
      }
      // between queries (outside any timed region): give ContextCleaner a
      // GC edge so dead broadcasts/accumulators from the previous query
      // are actually released instead of aging into the next one's run
      System.gc()
    }

    // Locale.ROOT: default-locale %.3f would emit comma decimals
    // (invalid JSON) on e.g. de_DE JVMs
    def num(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def mapJson(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => s"${jsonStr(k)}:${num(v)}" }
        .mkString("{", ",", "}")
    val eJson = errors.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")
    val lJson = leaks.map { case (k, v) => s"${jsonStr(k)}:$v" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    // "sf" as a NUMBER (r22 measurement fix): every driver-side
    // BENCH_r*.json records sf numerically (0.1), while this line carried
    // the data DIRECTORY as a string — any consumer that validates/
    // converts the field numerically fails on it. The path moves to
    // "sf_dir" so nothing is lost. Queries, timings and methodology are
    // unchanged.
    val json =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":${mapJson(timings)},"steady":${mapJson(steady)},"steady_total":${num(steady.values.sum)},"steady_runs":$SteadyRuns,"steady_runs_cheap":$CheapSteadyRuns,"cheap_cold_sec":${num(CheapColdSec)},"steady_stat":"median","isolation":"swept","leaked_rdds":$lJson,"errors":$eJson,"n_errors":${errors.size},"sf":${sfJson(sfDir)},"sf_dir":${jsonStr(sfDir)}}"""
    // tail-capture safety (the r17 driver capture kept only 70 of 173
    // cells): persist the full line to a file FIRST, stop Spark so its
    // shutdown logging cannot land after us, and print the JSON as the
    // process's very last stdout line
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")), json)
    catch { case _: Throwable => () }
    spark.stop()
    println(json)
    Console.out.flush()
    if (errors.nonEmpty) sys.exit(1)
  }
}
