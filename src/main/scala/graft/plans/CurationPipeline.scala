package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Contamination, Dedup, Sampling, TextAnalysis}

/**
 * The end-to-end corpus curation flow — the LLM-data analogue of the
 * V2F [[ExtractionPipeline]]: one call running the standard pretraining
 * cleanup in the canonical order, each stage an individually
 * oracle-gated operator of this engine.
 *
 *   0. optional HTML→text extraction (`stripHtml = true`), then optional
 *      Unicode normalization (`unicodeNorm = Some("NFC")`) so
 *      composed/decomposed forms collapse for every hash-keyed stage
 *   1. PII scrub (emails / IPv4s / phone runs masked)
 *   2. WITHIN-doc repeated-line removal (scraper loops), then optional
 *      corpus-wide duplicate-PARAGRAPH removal (`paraMinCount` — the
 *      RefinedWeb block rule, coarse before fine), then corpus-wide
 *      duplicate-LINE removal (C4 rule)
 *   2b. optional incremental prune against a PRIOR corpus's persisted
 *       indexes — all four of row 79's arms compose: exact
 *       (`priorFingerprints`), MinHash signature agreement
 *       (`priorSignatures`), SimHash Hamming (`priorSimhashes`), and
 *       embedding cosine (`priorEmbeddings`) — the corpus-growth entry
 *       point. Build the text-keyed artifacts with [[exactIndex]] /
 *       [[signatureIndex]] / [[simhashIndex]] so the index's scrub
 *       config provably matches this run's
 *   3. exact dedup (normalized-hash, lowest-id keeper)
 *   4. MinHash-LSH near-dup removal
 *   5. decontamination against an eval set (optional; bloom-prefiltered
 *      on request)
 *   6. quality floor (composite score ≥ minQuality), optionally with the
 *      Gopher rule verdict as an additional hard gate, and optionally a
 *      MODEL-based gate (`qualityModel`: a fitted
 *      [[graft.operators.QualityClassifier]] weight spine — survivors
 *      must score ≥ its threshold; zero-gram docs fail it)
 *   6b. optional per-group document cap (`perGroupCap = Some(groupCol, k)`:
 *       at most k survivors per group, lowest-id keeper — the
 *       anti-crawler-loop / per-domain budget rule)
 *   6c. optional mixture rebalance (`targetMix = Some(strataCol, weights)`:
 *       integer-weight target proportions over the survivors; note the
 *       per-stratum counts run EAGERLY when the plan is built)
 *   7. train/val/test split assignment (deterministic hash)
 *
 * Group-keyed stages (6b/6c) look their group column up from the
 * ORIGINAL corpus by id — a two-column, column-pruned side — because the
 * text-rewriting stages deliberately carry only (id, text).
 *
 * Order rationale: scrubbing FIRST makes boilerplate lines (which often
 * differ only in an embedded email/phone) collapse for the line rule;
 * the within-doc rule precedes the corpus-wide one so a doc-internal
 * loop can't inflate a line past minLineCount by itself; line removal
 * BEFORE document dedup lets near-identical pages become exact
 * duplicates; decontamination runs on the deduplicated survivors (fewer
 * docs to score); the quality gates see final text; splits are assigned
 * last so every surviving row gets one.
 *
 * Scale shape is inherited stage by stage — every stage is one of this
 * engine's audited operators; nothing here adds a shuffle of its own.
 * [[curate]] returns the lazy plan; [[run]] executes an action with every
 * frame the action consumes more than once (the scrubbed corpus, the
 * exact-dedup survivors, and the others [[stages]] lists) persisted for
 * exactly the action's lifetime.
 */
object CurationPipeline {

  /** Id-column types the keyed-index arms accept: integrals cast
    * losslessly; STRING is allowed because numeric strings ("123") key
    * correctly — [[integralIdCast]] makes the cast fail-loud on any
    * non-numeric value instead of silently NULLing the index keys. */
  private val IntegralIdTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.StringType)

  /** Cast an id column to long, fail-loud on LOSSY values even with
    * ANSI off (ANSI on already throws): a silently-NULLed id would
    * exempt rows from the keyed fingerprint/signature indexes and the
    * replay anti-joins — a retried micro-batch would self-match its own
    * prior append and deliver near-empty — and a silently-TRUNCATED
    * one is worse (non-ANSI string→long truncates: '1.5' and '1.9'
    * both key as doc 1, colliding payloads onto the wrong document),
    * so the guard also requires the cast to round-trip numerically:
    * the long value must equal the original under a decimal(38,18)
    * compare (20 integer digits — the full long range). '01' and
    * ' 1 ' still key as 1; '1.5', '1e300', 'abc' all raise.
    *
    * The round-trip guard only exists for STRING ids: a sub-long
    * integral (`dt`) casts losslessly by construction, so those
    * columns take the plain cast — two decimal casts plus a compare
    * per row on the streaming anti-join and media-id hot paths could
    * never detect anything there. */
  private def integralIdCast(
    c: org.apache.spark.sql.Column,
    dt: org.apache.spark.sql.types.DataType,
    where: String
  ): org.apache.spark.sql.Column = {
    if (dt != org.apache.spark.sql.types.StringType) return c.cast("long")
    val asLong = c.cast("long")
    val exactIn = c.cast("decimal(38,18)")
    val lossy = asLong.isNull || exactIn.isNull ||
      exactIn =!= asLong.cast("decimal(38,18)")
    when(c.isNotNull && lossy,
      raise_error(concat(
        lit(s"$where: id value '"), c.cast("string"),
        lit("' does not cast losslessly to long and cannot key the " +
          "integral-id indexes"))))
      .otherwise(asLong)
  }

  /** The embedding-prior pair for [[Config.priorEmbeddings]]:
    * `batchEmbeddings` is THIS drop's (id, vector) table, `index` the
    * prior corpus's persisted one — both keyed by the corpus id column
    * (`idCol`, default the pipeline's post-scrub "doc_id"), vectors in
    * `vecCol`. Embeddings are text-independent, so no scrub-config
    * caveat applies to this arm. */
  final case class EmbeddingPrior(
    batchEmbeddings: DataFrame,
    index: DataFrame,
    vecCol: String = "embedding",
    idCol: String = "doc_id")

  /** The image near-dup stage for [[Config.imageDedup]] — the
    * multimodal arm of the dedup chain: `payloads` is the corpus's
    * media side-table keyed by the SAME ids as the text rows
    * (`idCol`, matched against the pipeline's post-scrub "doc_id"),
    * raw encoded bytes in `payloadCol` (`idCol` must be integral or
    * numeric-string — fail-loud, no silent cast). Only TEXT SURVIVORS'
    * payloads pair;
    * dHashes within `maxHamming` bits close into transitive clusters
    * ([[graft.operators.Multimodal.imageNearDups]] — 64-bit perceptual
    * hash + the generalized Hamming banding, never all-pairs) and
    * [[Config.keeper]] picks each cluster's survivor (lowest id, or
    * the composite-quality argmax under [[KeepBest]]); undecodable /
    * absent payloads never match and are never dropped by this
    * stage. */
  final case class ImageDedup(
    payloads: DataFrame,
    payloadCol: String = "payload",
    idCol: String = "doc_id",
    maxHamming: Int = 3,
    bands: Int = 4)

  /** The VIDEO arm of the media dedup chain ([[Config.videoDedup]]) —
    * [[ImageDedup]]'s contract over [[graft.operators.Multimodal
    * .videoDHash]] folded signatures; `n` (the sampled frame count) is
    * part of the signature identity, so one `n` per pipeline/artifact. */
  final case class VideoDedup(
    payloads: DataFrame,
    payloadCol: String = "payload",
    idCol: String = "doc_id",
    n: Int = 4,
    maxHamming: Int = 3,
    bands: Int = 4)

  /** The AUDIO arm ([[Config.audioDedup]]) — [[ImageDedup]]'s contract
    * over [[graft.operators.Multimodal.audioFingerprint]] energy
    * contours. */
  final case class AudioDedup(
    payloads: DataFrame,
    payloadCol: String = "payload",
    idCol: String = "doc_id",
    maxHamming: Int = 3,
    bands: Int = 4)

  /** The model-quality gate for [[Config.qualityModel]]: a fitted
    * [[graft.operators.QualityClassifier]] dense weight spine + bias
    * (e.g. `QualityClassifier.fit(...)` unpacked, or weights read back
    * from parquet) and the keep threshold. */
  final case class ModelGate(
    weights: DataFrame,
    bias: Double,
    minScore: Double = 0.5)

  /** [[Config.keeper]] values: `KeepFirst` keeps each duplicate
    * group's LOWEST id (deterministic, cheapest — the default);
    * `KeepBest` keeps the group's highest COMPOSITE-QUALITY member
    * ([[graft.operators.TextAnalysis.appendQuality]] score, id
    * tiebreak) — exact groups by fingerprint rank, near-dup groups by
    * TRANSITIVE-cluster argmax ([[graft.operators.Dedup
    * .dropNearDuplicatesKeepBest]]), so the pipeline stops throwing
    * away the clean copy of a duplicate pair just because it arrived
    * later. The score is a pure projection computed inline for the
    * dedup stages; the quality FLOOR stage recomputes it on the final
    * text (duplicate compute, zero extra shuffle — final text differs
    * from dedup-time text anyway for any doc the line rules touch). */
  val KeepFirst = "first"
  val KeepBest = "best"

  final case class Config(
    /** Strip HTML markup FIRST ([[graft.operators.Web.stripHtml]]) —
      * the crawl-shaped corpus entry point: script/style/comment blocks
      * and tags removed, entities decoded one level, BEFORE Unicode
      * normalization and every text stage. Off by default: pre-extracted
      * corpora pay nothing and the composed e2e oracle is markup-free. */
    stripHtml: Boolean = false,
    /** Fail-fast data-quality gate on the RAW input corpus
      * ([[graft.operators.Checks.enforce]]): when non-empty, the rules
      * run as ONE aggregation pass before any pipeline stage and an
      * `IllegalStateException` naming every failed rule aborts the run
      * — malformed drops are rejected before a 100 TB pipeline spends
      * its scans on them. Empty (default) costs nothing. */
    inputExpectations: Seq[graft.operators.Checks.Rule] = Seq.empty,
    /** Repair mojibake BEFORE Unicode normalization and every
      * hash-keyed stage ([[graft.operators.TextAnalysis.fixMojibake]]
      * — UTF-8 mis-decoded as cp1252 inverted and strictly
      * re-decoded; clean text is a guaranteed no-op): without it,
      * "cafÃ©" and "café" fingerprint apart and dedup forks on crawl
      * encoding accidents. Off by default (pure projection when on). */
    fixMojibake: Boolean = false,
    /** Unicode-normalize text next (e.g. Some("NFC")) so composed and
      * decomposed forms of the same content collapse for every
      * hash-keyed stage downstream — line rules, exact dedup, shingle
      * hashing, contamination grams. Off by default: ASCII-only corpora
      * pay nothing and the composed e2e oracle stays form-agnostic. */
    unicodeNorm: Option[String] = None,
    /** C4-style boilerplate cleaning AFTER normalization and BEFORE
      * the PII scrub and every line/hash-keyed stage
      * ([[graft.operators.TextAnalysis.c4Clean]]): nav/banner lines
      * dropped, brace / lorem-ipsum pages removed — without it,
      * boilerplate dominates shingles and line-dedup tables, and two
      * copies of one article wrapped in different site chrome never
      * dedup exactly. Off by default (pre-cleaned corpora pay nothing
      * and the composed e2e oracle is single-line prose). NOTE: this
      * stage DROPS documents (pages below `c4MinLines` surviving
      * lines, flagged pages) and REWRITES text. */
    c4Clean: Boolean = false,
    c4MinWordsPerLine: Int = 3,
    c4MinLines: Int = 5,
    /** Terminal-punctuation set for the C4 line rule. None (default)
      * = the paper's ASCII `.!?"` — ENGLISH-ONLY BY DESIGN: on CJK
      * prose it deletes every line (。！？ are different codepoints),
      * so composing `c4Clean` with `tokenizer = Uax29Tokenizer` (the
      * multilingual word notion) without an explicit choice here
      * FAILS LOUD rather than silently emptying the corpus — the same
      * CJK double-fault the tokenizer knob itself exists to prevent.
      * [[graft.functions.C4LinesExpr.CjkTerminators]] is the
      * documented multilingual arm; any codepoint string works. */
    c4Terminators: Option[String] = None,
    evalSet: Option[DataFrame] = None,
    /** Prior corpus's [[graft.operators.Dedup.exactFingerprintIndex]] —
      * when set, batch docs already in the indexed corpus are anti-joined
      * away after scrubbing and BEFORE within-batch dedup (the
      * corpus-growth shape: per-drop cost, no prior-corpus re-scan).
      * The index MUST be built over text that went through the SAME
      * scrub stages, or fingerprints silently won't line up — build it
      * with [[exactIndex]], which runs this Config's scrub first. */
    priorFingerprints: Option[DataFrame] = None,
    /** Prior corpus's [[graft.operators.Dedup.minHashSignatures]] index —
      * when set, batch docs near-duplicating the indexed corpus
      * (signature agreement ≥ nearDupThreshold) are pruned right after
      * the exact prune. Same same-scrub caveat — build with
      * [[signatureIndex]]. Under [[softDedup]] this index PAIRS instead
      * of pruning: the cross-corpus twins fold into the soft cluster
      * table and weight the batch docs ([[graft.operators.Dedup
      * .softDedupWeightsWithClustersAgainst]]) — the batch twin of the
      * streaming sink's label fold. */
    priorSignatures: Option[DataFrame] = None,
    /** Prior corpus's [[graft.operators.Dedup.simHashes]] index — when
      * set, batch docs whose SimHash lands within `simhashMaxHamming`
      * of any indexed doc are pruned after the signature prune (row
      * 79's SimHash arm, composed). Same same-scrub caveat — build with
      * [[simhashIndex]]. */
    priorSimhashes: Option[DataFrame] = None,
    simhashMaxHamming: Int = 3,
    /** SimHash pigeonhole bands (NOT the MinHash `bands`): guarantees
      * recall only while maxHamming < bands. */
    simhashBands: Int = 4,
    /** Embedding arm of the incremental prune: this DROP's embedding
      * table plus the prior corpus's persisted one ([[EmbeddingPrior]]).
      * Embeddings are keyed by the same ids as the corpus rows; batch
      * docs whose vector cosine-matches the index ≥ embedThreshold are
      * pruned after the SimHash prune. */
    priorEmbeddings: Option[EmbeddingPrior] = None,
    embedPlanes: Int = 16,
    embedThreshold: Double = 0.9,
    /** Prior corpus's BANDED image artifact ([[graft.operators
      * .Multimodal.bandedMediaIndex]] over the kept docs' dHashes) —
      * when set, batch docs whose image perceptually matches the
      * indexed corpus are pruned after the embedding prune (the media
      * arm of corpus growth; [[streamingSink]] wires it automatically
      * when [[Config.imageDedup]] is set). Requires `imageDedup` for
      * the payload plumbing; `maxHamming`/`bands` come from it and
      * MUST match the artifact's build values. */
    priorBandedImages: Option[DataFrame] = None,
    /** Prior corpus's banded VIDEO artifact (over [[graft.operators
      * .Multimodal.videoDHash]] at [[VideoDedup.n]]) — requires
      * `videoDedup`; pruned right after the image prior. */
    priorBandedVideos: Option[DataFrame] = None,
    /** Prior corpus's banded AUDIO artifact — requires `audioDedup`. */
    priorBandedAudio: Option[DataFrame] = None,
    minLineCount: Int = 3,
    dropRepeatedLinesInDoc: Boolean = true,
    /** Corpus-wide duplicate-PARAGRAPH removal
      * ([[graft.operators.Dedup.dropDuplicateParagraphs]]) between the
      * within-doc and corpus line rules (coarse block before fine line)
      * — Some(minCount) enables it. Off by default: the composed e2e
      * oracle stays paragraph-agnostic, and single-paragraph corpora
      * pay nothing. NOTE the normalization side effect: blank-run
      * separators collapse to one blank line even in untouched docs. */
    paraMinCount: Option[Int] = None,
    shingleK: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4,
    nearDupThreshold: Double = 0.8,
    contaminationK: Int = 13,
    maxContamination: Double = 0.5,
    bloomPrefilter: Boolean = false,
    minQuality: Double = 0.0,
    gopherFilter: Boolean = false,
    /** Model-based quality gate: survivors must score ≥ `minScore`
      * under the fitted [[graft.operators.QualityClassifier]] spine
      * (fit offline — over SAME-scrubbed text, the prior-index caveat —
      * or supply domain weights). Documents with zero grams have no
      * profile and FAIL the gate (absent from the score relation).
      * Scale shape: one scan of the surviving candidates joining the
      * broadcast spine, one score row per doc into a semi join — the
      * [[graft.operators.Contamination.decontaminate]] shape. */
    qualityModel: Option[ModelGate] = None,
    /** Word notion for every hash-keyed dedup/shingle/Gopher stage:
      * [[TextAnalysis.WhitespaceTokenizer]] (default — oracle-portable,
      * right for Latin-script corpora) or [[TextAnalysis.Uax29Tokenizer]]
      * for multilingual corpora, where whitespace keying is actively
      * WRONG twice over: `normalizeText` maps CJK to empty (exact dedup
      * collapses every CJK doc into one fingerprint) and unspaced text
      * shingles as one whole-line token (near-dup recall dies). Threads
      * to exact dedup + fingerprints, MinHash shingling (within-batch,
      * against-index, and the [[signatureIndex]]/[[exactIndex]]
      * builders — the same-scrub caveat extends to same-tokenizer), and
      * the Gopher word signals, and the SimHash prior arm +
      * [[simhashIndex]] builder. The contamination grams stay
      * whitespace-keyed (eval sets are Latin-script benchmarks). */
    tokenizer: String = TextAnalysis.WhitespaceTokenizer,
    /** Duplicate-group keeper policy: [[KeepFirst]] (lowest id,
      * default) or [[KeepBest]] (highest composite quality — see the
      * constants' scaladoc). */
    keeper: String = KeepFirst,
    /** SOFT near-dup handling (the SoftDeDup idea, He et al. 2024,
      * arXiv:2407.06654): instead of DROPPING near-duplicates, every
      * doc survives the near-dup stage carrying
      * `soft_weight = 1 / |its transitive near-dup cluster|`
      * ([[graft.operators.Dedup.softDedupWeights]] — singletons weigh
      * 1.0), so each cluster contributes one document's worth of mass
      * while keeping the intra-cluster diversity hard dedup throws
      * away. The weight is assigned AT THE DEDUP STAGE (the paper's
      * convention) and not re-normalized when later gates drop cluster
      * members. Downstream coupling: [[Config.tokenBudget]] counts a
      * doc's tokens × soft_weight (expected sampling mass — a
      * 10-copy cluster no longer eats 10× its budget share), and when
      * `splitLeakThreshold` is unset the split stage is forced
      * leakage-safe KEYED ON THE DEDUP-TIME CLUSTERS (one cluster
      * structure decides both mass and split; no second pair
      * computation), because retained near-dup twins in different
      * splits ARE leakage by construction. Exact dedup
      * still drops (identical copies carry no diversity); the media
      * arms stay hard. The final frame carries `soft_weight`; feed it
      * to [[graft.operators.Sampling.weightedSample]]/rebalance
      * downstream. Cross-corpus composition: [[priorSignatures]] PAIRS
      * into the cluster table (twins weighted, never pruned — r20),
      * [[priorSimhashes]]/[[priorEmbeddings]] fail loud (no pairing
      * arm), [[priorFingerprints]] still prunes (exact semantics). In
      * [[streamingSink]], cross-batch twins PAIR (never prune) against
      * the signature index and the verified pairs fold into a persisted
      * generational label artifact — see the sink's contract note for
      * the as-of-emission weight semantics. Off by default. */
    softDedup: Boolean = false,
    /** Optional multimodal dedup stage ([[ImageDedup]]): runs right
      * after text near-dup, dropping docs whose IMAGE near-duplicates a
      * kept doc's — re-encoded/rescaled copies that byte-exact and
      * text dedup both miss. */
    imageDedup: Option[ImageDedup] = None,
    /** Optional VIDEO near-dup stage ([[VideoDedup]]) — runs after the
      * image stage over the folded frame signatures; same
      * survivor-scoped pairing, keeper policy, and observed counter
      * (`after_video_dedup`) as the image arm. */
    videoDedup: Option[VideoDedup] = None,
    /** Optional AUDIO near-dup stage ([[AudioDedup]]) — after the video
      * stage, over energy contours (`after_audio_dedup`). */
    audioDedup: Option[AudioDedup] = None,
    perGroupCap: Option[(String, Int)] = None,
    targetMix: Option[(String, Seq[(String, Long)])] = None,
    splits: Seq[(String, Double)] = Seq(("train", 0.98), ("val", 0.01), ("test", 0.01)),
    splitSeed: String = "graft",
    /** Token budget over the final survivors ([[graft.operators
      * .Sampling.selectByBudget]]): keep the best-quality prefix —
      * (quality DESC, doc_id) order, `tokenizer` token counts — whose
      * total fits; the "train on the best N tokens" contract as a
      * pipeline knob. Runs after the caps, before mixing/splitting.
      * None (default): everything that passed the gates ships. */
    tokenBudget: Option[Long] = None,
    /** Leakage-safe split keying ([[graft.operators.Sampling
      * .leakageSafeSplits]]): when set, the split stage re-pairs the
      * SURVIVORS at this (typically LOWER than `nearDupThreshold`)
      * jaccard bar and every near-dup cluster hashes on one key — a
      * val doc whose paraphrase-level twin sits in train is a leaked
      * answer even after dedup removed the ≥ 0.8 copies. None
      * (default): plain per-doc hashing, zero extra work. */
    splitLeakThreshold: Option[Double] = None
  )

  /**
   * The curated-corpus PLAN as (doc_id, textCol, quality, split) —
   * lazy, no persistence. Several intermediates (the scrubbed corpus,
   * the exact-dedup survivors, …) feed more than one downstream leg, so
   * evaluating this plan more than once (or once, through its internal
   * self-joins) recomputes the text-rewriting and dedup stages; use
   * [[run]] to execute with those intermediates persisted for exactly
   * the duration of your action (the ExtractionPipeline lifecycle
   * pattern, plans/V2F.scala).
   */
  def curate(
    corpus: DataFrame,
    textCol: String,
    idCol: String,
    cfg: Config = Config()
  ): DataFrame =
    stages(scrub(corpus, textCol, idCol, cfg), textCol, cfg, corpus, idCol)

  // ------------------------------------------- prior-index builders
  //
  // The prior* config fields silently depend on the index having been
  // built over text that went through the IDENTICAL scrub stages
  // (stripHtml / unicodeNorm / PII / line rules) — a config drift
  // between index build and batch run yields quiet under-dedup, not an
  // error. These builders close that hole: they run [[scrub]] with the
  // SAME Config the batch run will use, then derive the artifact, so
  // "same scrub" is guaranteed by construction. Write the result to
  // parquet alongside a record of the Config used.

  /** [[graft.operators.Dedup.exactFingerprintIndex]] over SAME-scrubbed
    * text — the artifact [[Config.priorFingerprints]] expects. */
  def exactIndex(
    corpus: DataFrame, textCol: String, idCol: String, cfg: Config = Config()
  ): DataFrame =
    Dedup.exactFingerprintIndex(scrub(corpus, textCol, idCol, cfg), textCol,
      cfg.tokenizer)

  /** [[graft.operators.Dedup.minHashSignatures]] over SAME-scrubbed
    * text (cfg's shingleK/numHashes, so banding lines up too) — the
    * artifact [[Config.priorSignatures]] expects. */
  def signatureIndex(
    corpus: DataFrame, textCol: String, idCol: String, cfg: Config = Config()
  ): DataFrame =
    Dedup.minHashSignatures(scrub(corpus, textCol, idCol, cfg), textCol,
      "doc_id", cfg.shingleK, cfg.numHashes, cfg.tokenizer)

  /** [[graft.operators.Dedup.simHashes]] over SAME-scrubbed text — the
    * artifact [[Config.priorSimhashes]] expects. */
  def simhashIndex(
    corpus: DataFrame, textCol: String, idCol: String, cfg: Config = Config()
  ): DataFrame =
    Dedup.simHashes(scrub(corpus, textCol, idCol, cfg), textCol, "doc_id",
      cfg.tokenizer)

  /** Stages 1-2: PII scrub, within-doc line rule, corpus-wide line rule. */
  private def scrub(
    corpus: DataFrame, textCol: String, idCol: String, cfg: Config
  ): DataFrame = {
    val detagged =
      if (cfg.stripHtml) graft.operators.Web.stripHtml(col(textCol)) else col(textCol)
    val repaired =
      if (cfg.fixMojibake) TextAnalysis.fixMojibake(detagged) else detagged
    val normed = cfg.unicodeNorm.fold(repaired)(f =>
      TextAnalysis.normalizeUnicode(repaired, f))
    // C4 boilerplate cleaning drops rows (below-minLines / flagged
    // pages), so it breaks out of the column-expression chain here;
    // off by default the extra projection collapses away
    val preScrub = {
      val n = corpus.select(col(idCol), normed.as(textCol))
      if (cfg.c4Clean) {
        // the CJK double-fault guard (see Config.c4Terminators): the
        // multilingual tokenizer + the English-only terminal set would
        // silently delete every CJK line before any token is cut
        require(
          cfg.tokenizer != TextAnalysis.Uax29Tokenizer ||
            cfg.c4Terminators.nonEmpty,
          "c4Clean with tokenizer=Uax29Tokenizer needs an explicit " +
            "c4Terminators choice: the default ASCII .!?\" set deletes " +
            "every CJK line (terminal marks like 。！？ are " +
            "different codepoints) - pass " +
            "Some(C4LinesExpr.CjkTerminators), or Some(C4LinesExpr" +
            ".AsciiTerminators) to insist on the English-only rule")
        TextAnalysis.c4Clean(n, textCol, cfg.c4MinWordsPerLine,
          cfg.c4MinLines,
          cfg.c4Terminators.getOrElse(
            graft.functions.C4LinesExpr.AsciiTerminators))
      } else n
    }
    val masked = preScrub
      .select(col(idCol), TextAnalysis.scrubPii(col(textCol)).as(textCol))
    val inDoc =
      if (cfg.dropRepeatedLinesInDoc)
        Dedup.dropRepeatedLinesWithinDoc(masked, textCol)
      else masked
    // scrub stages keyed by idCol until here; the corpus-wide rules
    // return (doc_id, text) — paragraph rule (coarse) before line rule
    val paraed = cfg.paraMinCount.fold(inDoc)(mc =>
      Dedup.dropDuplicateParagraphs(inDoc, textCol, idCol, mc)
        .withColumnRenamed("doc_id", idCol))
    Dedup.dropDuplicateLines(paraed, textCol, idCol = idCol, minCount = cfg.minLineCount)
  }

  /**
   * Runs the flow and your `action` (write, collect, count …) under one
   * rule: a frame the action consumes more than once is pinned
   * (persisted) — the scrubbed corpus, the exact-dedup survivors, the
   * near-dup survivors when decontamination reads them, and the
   * per-configuration frames [[stages]] lists — so each stage is
   * evaluated once per action. Every pin is released when the action
   * returns OR throws, so nothing stays pinned after run.
   */
  def run[T](
    corpus: DataFrame,
    textCol: String,
    idCol: String,
    cfg: Config = Config()
  )(action: DataFrame => T): T =
    execute(corpus, textCol, idCol, cfg, (_, df) => df)(action)

  /**
   * [[run]] with per-stage row ACCOUNTING at zero extra cost: each
   * stage boundary carries an `observe` (CollectMetrics) counter that
   * rides the one action — no additional scan, no extra shuffle, no
   * recompute (the [[graft.GraftSession]] bucketCapDrops doctrine: a
   * 100 TB pipeline must report what each stage dropped, and it must
   * not pay a second pass to find out). Returns (action result,
   * stage → surviving row count) with stages in execution order:
   * `scrubbed` (equal to the input count UNLESS c4Clean is on — the
   * C4 page rules are the one scrub-chain stage that DROPS documents;
   * every other scrub stage rewrites text but never drops
   * a document, so this equals the input count), `after_incremental_
   * prune` (when any prior index is configured), `after_exact_dedup`,
   * `after_near_dedup`, `after_decontamination` (when an eval set is
   * configured), `after_quality` (composite floor + optional Gopher +
   * optional model gate), and `final` (post cap/mix/split).
   *
   * Counter placement is persist-aware: observations sit UNDER the
   * pinned intermediates, so a multiply-consumed stage (scrub, exact
   * dedup, the model-gate base, the mix input) counts once, at
   * materialization — not once per consumer.
   *
   * The counters see exactly what the action CONSUMES: a full action
   * (write, count, collect) yields full stage counts, while a
   * short-circuiting one (`limit(1).collect()`) stops evaluating early
   * and under-counts — use a full action when the accounting matters.
   */
  def runObserved[T](
    corpus: DataFrame,
    textCol: String,
    idCol: String,
    cfg: Config = Config()
  )(action: DataFrame => T): (T, Map[String, Long]) = {
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.Observation]
    val hook: (String, DataFrame) => DataFrame = (name, df) => {
      val o = new org.apache.spark.sql.Observation(s"graft_curation_$name")
      seen(name) = o
      df.observe(o, count(lit(1)).as("rows"))
    }
    val result = execute(corpus, textCol, idCol, cfg, hook)(action)
    // VectorMap, not toMap: an immutable default Map is a HashMap past 4
    // entries and would lose the execution order the scaladoc promises
    (result, seen.iterator
      .map { case (n, o) => n -> o.get("rows").asInstanceOf[Long] }
      .to(scala.collection.immutable.VectorMap))
  }

  /**
   * STREAMING curation as a `foreachBatch` sink — the corpus-growth
   * pipeline running continuously: each micro-batch goes through the
   * full batch flow (scrub → dedups → quality gates → split; every
   * stage already audited), with CROSS-batch exact/near dedup supplied
   * by persisted indexes under `indexDir` that this sink GROWS from
   * each batch's survivors. Inside `foreachBatch` the stream-illegal
   * stages (groupBy dedup, window caps) are plain batch operators over
   * one bounded micro-batch — this is the standard Structured Streaming
   * recipe for pipelines whose state (here: the fingerprint/signature
   * indexes) outgrows the state store. The stateless stages (scrub
   * projections, the zero-shuffle [[graft.operators
   * .QualityClassifier.scoreInline]] model gate, the stream-static
   * incremental prunes) would also run directly on the stream frame;
   * they ride along here so ONE code path serves both modes.
   *
   * Wire it as:
   * {{{
   * stream.writeStream.foreachBatch(
   *   CurationPipeline.streamingSink(textCol, idCol, cfg, indexDir) {
   *     (curated, batchId) => curated.write.mode("append").parquet(out)
   *   }).start()
   * }}}
   *
   * Equivalence to one batch run over the union of all batches (spec-
   * pinned on a MemoryStream): exact — identical, given ids ascend
   * across batches (the keeper is the earliest-arriving = lowest id,
   * both modes). Near-dup — identical for pairwise clusters away from
   * the threshold; two documented divergences at the margins: (a) a
   * transitive chain SPANNING three or more batches can retain more
   * than batch mode, because only survivors are indexed (batch mode
   * compares against dropped docs too); (b) the against-index arm
   * verifies SIGNATURE agreement (the index stores numHashes longs per
   * doc, not shingle sets) while the within-batch arm verifies true
   * n-gram Jaccard — a pair whose Jaccard and signature estimates
   * straddle the threshold resolves differently by mode. Also note the
   * corpus-wide LINE rule counts per micro-batch here, globally in
   * batch mode — set minLineCount for the batch cadence you run. Alternatives (index every doc)
   * over-drop instead; survivors-only is the convention that never
   * loses a document the batch pipeline would have kept... it keeps
   * MORE.
   *
   * MEDIA arm (r17): when [[Config.imageDedup]] is set, the payloads
   * ride THE BATCH ROWS (`imageDedup.payloadCol` on the streaming
   * frame — a static side table cannot be batch-scoped; a NULL payload
   * is the streaming spelling of "no payload row"), cross-batch image
   * copies prune against the banded artifact this sink grows under
   * `indexDir/dhash` (sidecar-verified every batch, survivors'
   * decodable dHashes appended), and within-batch copies drop in the
   * pipeline's own imageDedup stage.
   *
   * RETRY contract (r17): exactly replay-idempotent. Every prior index
   * is anti-joined on the batch's own id set before pruning — under
   * the globally-unique-id contract such rows can only be a prior
   * attempt's append (a checkpoint commit that failed after the index
   * writes), so a replay sees the first attempt's index state verbatim
   * and recomputes the SAME survivors (pre-r17, a retried batch
   * self-matched its own appended fingerprints and delivered
   * near-empty). Fingerprints persist KEYED
   * ([[graft.operators.Dedup.exactFingerprintIndexKeyed]]) to make
   * that anti-join expressible; the sink fails loud on a pre-keyed
   * artifact. The replay's re-appends duplicate index rows — harmless,
   * the prunes are anti joins. `sink` idempotence remains the caller's
   * contract as with any foreachBatch.
   *
   * The survivor frame handed to `sink` (and feeding the grows) is a
   * LOCAL CHECKPOINT, not a persist: the grow legs append to paths the
   * frame's lineage READS, and a parquet write recaches cached plans
   * over its path — a merely-persisted frame would be recomputed
   * against its own freshly-grown index, self-match, and empty every
   * later grow leg (pre-r17 the signature index silently stopped
   * growing after the first batch).
   *
   * Scale shape: per batch, index reads are parquet scans feeding the
   * already-audited stream-static prune joins (index never shuffled);
   * index growth appends only survivor fingerprints/signatures/band
   * rows (metadata-per-doc, not text or payloads). `nearDup = false`
   * skips the signature index entirely (exact-only growth).
   */
  def streamingSink(
    textCol: String,
    idCol: String,
    cfg: Config,
    indexDir: String,
    nearDup: Boolean = true
  )(sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    // STREAMING soft dedup (r19; label layout delta-sized r20):
    // cross-batch near-dups must not be pruned hard (that would
    // contradict the soft contract — within-batch twins weighted,
    // cross-batch twins dropped), so in soft mode the signature index
    // stops being a PRUNE surface and becomes the PAIRING surface:
    // each batch's verified pairs (within-batch exact jaccard ∪
    // batch-vs-index signature agreement — the row-79 estimator, its
    // documented difference) fold into a persisted GENERATIONAL label
    // artifact via [[graft.operators.Dedup.updateClusterLabelsDelta]].
    // Per batch the sink writes ONLY the labels that changed — this
    // batch's docs plus prior docs a cluster merge re-labeled — to
    // indexDir/labels/g<batchId> (latest-version-wins read), and
    // maintains cluster sizes as SIGNED COUNT DELTAS under
    // labels/sizes-g<batchId> (+1 per arriving member, −1 per
    // departure — the Forget.appendFingerprints arithmetic), so
    // per-batch bytes written scale with the BATCH, not the corpus,
    // and no corpus-sized SHUFFLE runs per micro-batch: the prior-label
    // read is pruned to the docs the fold can touch
    // ([[resolvePriorForDelta]] — duplicate minority + pair ids; only
    // the generations' columnar scan remains, bounded by compaction),
    // where the r19 layout rewrote the full corpus-ID-sized table AND
    // re-aggregated it every batch. A retried batch reads generations
    // STRICTLY below
    // its id — the pre-attempt state — and overwrites its own two
    // generation directories, so replay stays idempotent by
    // construction; [[compactSoftLabels]] is the periodic maintenance
    // arm that folds the generation list down. Emitted rows carry
    // soft_weight = 1/|cluster| AS OF EMISSION — a doc's cluster can
    // grow when later batches add twins, and the label artifact (not
    // the emitted rows) is the authoritative source for CURRENT
    // weights; re-derive final weights from [[currentSoftWeights]]
    // after the last batch when exact end-state mass matters. Split
    // labels are likewise leakage-safe only within a batch: a
    // cross-batch twin pair can straddle splits (the artifact's
    // cluster key is what a leakage-safe re-split would hash on).
    require(!cfg.softDedup || nearDup,
      "streamingSink: Config.softDedup needs nearDup=true - the " +
        "signature index is the cross-batch pairing surface")
    val fpPath = s"$indexDir/fingerprints"
    val sigPath = s"$indexDir/signatures"
    val labelsDir = s"$indexDir/labels"
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      // the same integral-id guard mediaStage applies on the batch arm:
      // every replay/prune structure below keys on cast(idCol as long)
      // (antiBatch, the keyed fingerprint index, mediaPriorFor), and a
      // silent cast of a non-numeric id would NULL every key — quietly
      // disabling replay idempotence, the exact failure the per-batch-id
      // anti-join exists to prevent
      val idType = batch.schema(idCol).dataType
      require(IntegralIdTypes.contains(idType),
        s"streamingSink: idCol '$idCol' must be an integral (or " +
          s"numeric-string) column, got ${idType.catalogString}: a silent " +
          "cast would NULL the keyed index ids and the replay anti-joins, " +
          "so a retried micro-batch would self-match its own prior append " +
          "and deliver near-empty")
      def readIf(p: String): Option[DataFrame] = {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) Some(spark.read.parquet(p)) else None
      }
      // MEDIA parity (row 169): when a media-dedup arm is configured,
      // its payloads ride THE BATCH ROWS (payloadCol on the streaming
      // frame — a static side table cannot be batch-scoped), the prior
      // banded artifact under indexDir/{dhash,vhash,afp} prunes
      // cross-batch copies, and survivors' band rows grow it.
      def payloadsFor(what: String, payloadCol: String, mIdCol: String): DataFrame = {
        require(batch.columns.contains(payloadCol),
          s"streamingSink: ${what}Dedup is configured but the batch frame " +
            s"carries no '$payloadCol' column - in the streaming arm " +
            "payloads ride the batch rows")
        // a NULL payload is the streaming spelling of "no payload row"
        // (the batch arm's side table simply lacks the doc) — such docs
        // never match and are never dropped by the media stages
        batch.select(
          integralIdCast(col(idCol), idType, "streamingSink").as(mIdCol),
          col(payloadCol).as(payloadCol))
          .filter(col(payloadCol).isNotNull)
      }
      // the anti-join on this batch's ids makes replays after a failed
      // checkpoint commit see exactly the first attempt's index state
      def mediaPriorFor(what: String, sub: String, bands: Int): Option[DataFrame] =
        Dedup.bandedStreamPrior(spark, s"$indexDir/$sub", bands,
          batch.select(integralIdCast(col(idCol), idType, "streamingSink")
            .as("__bid")).distinct(), s"streamingSink (${what}Dedup)")
      // REPLAY idempotence (the mediaDedupStreamSink contract, applied
      // to every index this sink grows): drop prior-index rows keyed by
      // THIS batch's ids before pruning against them — under the
      // globally-unique-id contract such rows can only be a prior
      // attempt's append (a checkpoint commit that failed after the
      // index writes), and pruning against them would self-match the
      // whole retried batch and deliver it near-empty.
      def antiBatch(df: DataFrame): DataFrame = df.join(
        broadcast(batch.select(
          integralIdCast(col(idCol), idType, "streamingSink")
            .as("__bid")).distinct()),
        col("doc_id") === col("__bid"), "left_anti").drop("__bid")
      val cfgWithPriors = cfg.copy(
        priorFingerprints = readIf(fpPath).map { fp =>
          require(fp.columns.contains("doc_id"),
            s"streamingSink: $fpPath carries no doc_id column - a " +
              "pre-keyed-era fingerprint artifact cannot be replay-safe " +
              "(a retried micro-batch would self-match its own prior " +
              "append); rebuild the directory from the keyed builder " +
              "(Dedup.exactFingerprintIndexKeyed)")
          antiBatch(fp).select("fingerprint")
        },
        priorSignatures =
          if (cfg.softDedup) None // soft: pair cross-batch, never prune
          else if (nearDup) readIf(sigPath).map(antiBatch)
          else cfg.priorSignatures,
        imageDedup = cfg.imageDedup.map(im =>
          im.copy(payloads = payloadsFor("image", im.payloadCol, im.idCol))),
        videoDedup = cfg.videoDedup.map(v =>
          v.copy(payloads = payloadsFor("video", v.payloadCol, v.idCol))),
        audioDedup = cfg.audioDedup.map(a =>
          a.copy(payloads = payloadsFor("audio", a.payloadCol, a.idCol))),
        priorBandedImages = cfg.imageDedup.flatMap(im =>
          mediaPriorFor("image", "dhash", im.bands)),
        priorBandedVideos = cfg.videoDedup.flatMap(v =>
          mediaPriorFor("video", "vhash", v.bands)),
        priorBandedAudio = cfg.audioDedup.flatMap(a =>
          mediaPriorFor("audio", "afp", a.bands)))
      // soft mode: capture the pipeline's dedup-time cluster table so
      // the label fold below reuses it (the pipeline already paid the
      // LSH pair pass — re-pairing the batch would run it twice)
      var softComp: Option[DataFrame] = None
      execute(batch, textCol, idCol, cfgWithPriors, (_, df) => df,
        c => softComp = Some(c)) { curated =>
        // LOCAL CHECKPOINT, not persist: every grow leg below APPENDS to
        // a path this frame's lineage READS (the prior indexes), and a
        // parquet write recaches-by-path — a merely-persisted frame gets
        // RECOMPUTED against its own freshly-grown index, prunes the
        // whole batch as "already indexed", and silently empties every
        // later leg (pre-r17 the signature index stopped growing from
        // the second batch on; the spec's third-batch near-dup arm pins
        // the fix). Checkpointed blocks have no lineage to re-derive.
        val pinned = curated.localCheckpoint()
        try {
          // soft mode: fold this batch's pair surface into the label
          // artifact and emit CURRENT cluster-mass weights (see the
          // contract note at the top of this method). The fold runs
          // BEFORE the index growth below, so the cross pairs read the
          // PRE-batch signature index (antiBatch additionally shields a
          // replayed batch from its own prior append).
          val delivered =
            if (!cfg.softDedup) pinned
            else {
              // within-batch pair surface = the pipeline's dedup-time
              // cluster structure as STAR edges (doc → its cluster min
              // id; same reachability as the verified pair set — the
              // updateClusterLabels argument). Bridges THROUGH a doc a
              // later gate dropped persist, matching the weight
              // semantics the batch arm already uses; dropped docs get
              // no label row (the fold's allIds is prior ∪ emitted).
              val within = softComp
                .getOrElse(throw new IllegalStateException(
                  "streamingSink: soft mode ran without capturing the " +
                    "pipeline's cluster table - stages() soft arm changed?"))
                .filter(col("doc_id") =!= col("cluster_id"))
                .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
              val cross = readIf(sigPath).map(antiBatch).map { sigs =>
                Dedup.nearDuplicatesAgainstIndex(
                    pinned.select(col("doc_id"), col(textCol)), sigs,
                    textCol, "doc_id",
                    k = cfg.shingleK, numHashes = cfg.numHashes,
                    bands = cfg.bands, threshold = cfg.nearDupThreshold,
                    tokenizer = cfg.tokenizer)
                  .select(col("batch_id").as("id_a"),
                    col("index_id").as("id_b"))
              }
              // the pair surface feeds FIVE plan legs (the pruned prior
              // read's wanted set twice, the CC edge list, and the
              // changed-row legs) — checkpoint it (batch-pair-sized) so
              // the cross LSH pass against the signature index runs
              // ONCE per batch, not once per consuming leg
              val pairs = cross.fold(within)(within.unionByName(_))
                .localCheckpoint()
              val delta = try {
                val prior = resolvePriorForDelta(
                  spark, labelsDir, batchId, pairs)
                // CHANGED labels only — (batch docs + re-labeled prior
                // members)-sized, never the corpus
                val changed = Dedup.updateClusterLabelsDelta(
                  prior, pinned.select("doc_id"), pairs)
                // an unconverged distributed CC would silently produce
                // wrong weights downstream — fail loud at the consumer,
                // BEFORE anything materializes (nothing to leak on
                // throw; the CC ran eagerly inside the delta fold)
                Dedup.requireConvergedComponents(spark,
                  "streamingSink soft label fold")
                // checkpointed because the delta feeds both generation
                // writes and its lineage reads the generations those
                // writes grow
                changed.localCheckpoint()
              } finally org.apache.spark.sql.GraftSqlBridge
                .unpersistLocalCheckpoint(pairs)
              try {
                // both generation writes read the CHECKPOINTED delta and
                // target disjoint dirs — overlapped (guide §2.6)
                graft.GraftSession.runConcurrently(Seq(
                  () => delta.select(col("doc_id"), col("cluster_id"),
                      lit(batchId).as("version"))
                    .write.mode("overwrite").parquet(s"$labelsDir/g$batchId"),
                  // signed size deltas: +1 per arriving cluster member,
                  // -1 per departure (a merge moves members out of the
                  // absorbed cluster) — summing generations per cluster
                  // IS the current size, no corpus-wide count ever runs
                  () => delta.groupBy("cluster_id").agg(count(lit(1)).as("n_delta"))
                    .unionByName(
                      delta.filter(col("old_cluster_id").isNotNull)
                        .select(col("old_cluster_id").as("cluster_id"))
                        .groupBy("cluster_id")
                        .agg((-count(lit(1))).as("n_delta")))
                    .groupBy("cluster_id").agg(sum("n_delta").as("n_delta"))
                    .write.mode("overwrite")
                    .parquet(s"$labelsDir/sizes-g$batchId")))
              } finally org.apache.spark.sql.GraftSqlBridge
                .unpersistLocalCheckpoint(delta)
              // CURRENT batch weights off the just-written generations:
              // every batch doc has a delta row, and the size read is
              // pruned to this batch's clusters before anything moves
              val bl = spark.read
                .schema("doc_id BIGINT, cluster_id BIGINT, version BIGINT")
                .parquet(s"$labelsDir/g$batchId")
                .join(broadcast(pinned.select("doc_id")), Seq("doc_id"),
                  "left_semi")
                .select("doc_id", "cluster_id")
              val sizes = readSizeDeltas(spark, labelsDir, batchId + 1)
                .join(broadcast(bl.select("cluster_id").distinct()),
                  Seq("cluster_id"), "left_semi")
                .groupBy("cluster_id").agg(sum("n_delta").as("__csz"))
              val batchW = bl.join(sizes, Seq("cluster_id"))
                .select(col("doc_id"),
                  (lit(1.0) / col("__csz").cast("double")).as("__sw"))
              pinned.drop("soft_weight")
                .join(broadcast(batchW), Seq("doc_id"), "left")
                .withColumn("soft_weight", coalesce(col("__sw"), lit(1.0)))
                .drop("__sw")
            }
          sink(delivered, batchId)
          // grow the indexes from THIS batch's survivors. The curated
          // text is already scrubbed, so the index derives directly —
          // same artifact exactIndex/signatureIndex build via scrub.
          // Every grow leg reads the CHECKPOINTED survivor frame and
          // appends to its own path — independent actions, overlapped
          // (guide §2.6) so per-batch fixed costs stack once, not per leg
          val growLegs = scala.collection.mutable.Buffer[() => Unit](
            () => Dedup.exactFingerprintIndexKeyed(
                pinned, textCol, "doc_id", cfg.tokenizer)
              .write.mode("append").parquet(fpPath))
          if (nearDup) growLegs += (
            () => Dedup.minHashSignatures(pinned, textCol, "doc_id",
                cfg.shingleK, cfg.numHashes, cfg.tokenizer)
              .write.mode("append").parquet(sigPath))
          def growMedia(
              what: String, sub: String, bands: Int,
              payloadCol: String, mIdCol: String,
              hashOf: org.apache.spark.sql.Dataset[
                graft.operators.Multimodal.MediaRecord] => DataFrame): Unit = {
            val survivors = payloadsFor(what, payloadCol, mIdCol)
              .select(col(mIdCol).cast("long").as("doc_id"),
                col(payloadCol).as("payload"))
              .join(pinned.select("doc_id"), Seq("doc_id"), "left_semi")
              .as[graft.operators.Multimodal.MediaRecord]
            val h = hashOf(survivors).toDF("doc_id", "__mh")
              .filter(col("__mh").isNotNull)
            graft.operators.Multimodal.bandedMediaIndexWrite(
              h, "doc_id", "__mh", s"$indexDir/$sub", bands,
              metricPrefix = s"banded_$sub", mode = "append")
          }
          cfg.imageDedup.foreach(im => growLegs += (() =>
            growMedia("image", "dhash", im.bands, im.payloadCol, im.idCol,
              graft.operators.Multimodal.imageDHash(_))))
          cfg.videoDedup.foreach(v => growLegs += (() =>
            growMedia("video", "vhash", v.bands, v.payloadCol, v.idCol,
              graft.operators.Multimodal.videoDHash(
                _, v.n, graft.operators.Multimodal.SniffFrames))))
          cfg.audioDedup.foreach(a => growLegs += (() =>
            growMedia("audio", "afp", a.bands, a.payloadCol, a.idCol,
              graft.operators.Multimodal.audioFingerprint(_))))
          graft.GraftSession.runConcurrently(growLegs.toSeq)
        } finally org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(pinned)
      }
    }
  }

  /** CURRENT soft-dedup state from the streaming label artifact under
    * `indexDir/labels` (every generation, latest-version-wins):
    * `(doc_id, cluster_id, soft_weight)` for every doc the sink ever
    * emitted. This is the authoritative END-STATE mass: emissions carry
    * weights AS OF EMISSION, and a doc's cluster grows when later
    * batches add twins — so a batch-0 doc emitted at weight 1.0 whose
    * twin arrived in batch 7 reads 0.5 here. Cluster sizes come from
    * the signed COUNT-DELTA generations (the counted-merge read — a
    * spec arm pins it equal to re-counting the resolved labels), so
    * the reader exercises the same arithmetic the per-batch fold
    * maintains. Feed `soft_weight` to the mass-aware stages
    * (weightedSample / rebalance / token budgets) and `cluster_id` to
    * [[graft.operators.Sampling.leakageSafeSplitsWithClusters]] when
    * re-splitting the delivered corpus. Fails loud when no label
    * artifact exists (a non-soft sink, or no batch has run). */
  def currentSoftWeights(
    spark: org.apache.spark.sql.SparkSession,
    indexDir: String
  ): DataFrame = {
    val labelsDir = s"$indexDir/labels"
    require(softLabelGens(spark, labelsDir, Long.MaxValue).nonEmpty,
      s"currentSoftWeights: no label artifact under $labelsDir - " +
        "run a softDedup streamingSink batch first")
    val labels = resolveSoftLabels(spark, labelsDir, Long.MaxValue)
    val sizes = readSizeDeltas(spark, labelsDir, Long.MaxValue)
      .groupBy("cluster_id").agg(sum("n_delta").as("__csz"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        (lit(1.0) / col("__csz").cast("double")).as("soft_weight"))
  }

  /** Label generation ids under `labelsDir` STRICTLY below
    * `upToExclusive` (ascending). Fails loud on an r19-era full-rewrite
    * layout (`v<batch>` directories) — its per-version tables are full
    * corpus snapshots, not deltas, and reading them latest-wins would
    * be correct but rebuilding is the honest migration (the layout was
    * replaced precisely because those snapshots are corpus-sized). */
  private def softLabelGens(
    spark: org.apache.spark.sql.SparkSession,
    labelsDir: String,
    upToExclusive: Long
  ): Seq[Long] = {
    val hp = new org.apache.hadoop.fs.Path(labelsDir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fail-loud on the interrupted-publish signature: a crash between
    // publishSoftLabels' two renames leaves `<labels>.compact` (and/or
    // `<labels>.old`) beside a MISSING live dir — returning "no
    // generations" there would make the next batch silently rebuild a
    // fresh artifact (wrong soft weights for every cross-batch twin)
    // and orphan the compacted history; the v-layout and
    // missing-sidecar cases already throw, and so must this one
    def requireNoInterruptedPublish(): Unit =
      Seq(s"$labelsDir.compact" -> "rename `<labels>.compact` to `labels`",
        s"$labelsDir.old" -> "rename `<labels>.old` back to `labels`")
        .foreach { case (p, fix) =>
          if (fs.exists(new org.apache.hadoop.fs.Path(p)))
            throw new IllegalStateException(
              s"$labelsDir is missing (or holds no generations) but $p " +
                "exists - a publishSoftLabels swap was interrupted " +
                "between its two renames; recover by hand (" + fix +
                ") instead of letting readers treat the corpus as " +
                "having no prior labels")
        }
    if (!fs.exists(hp)) { requireNoInterruptedPublish(); Seq.empty }
    else {
      val names = fs.listStatus(hp).toSeq.map(_.getPath.getName)
      require(!names.exists(_.matches("v\\d+")),
        s"$labelsDir holds a full-rewrite-era (v<batch>) soft-label " +
          "layout - the generational reader cannot consume it; re-run " +
          "the soft stream from its source to rebuild the artifact")
      val gens = names.filter(_.matches("g\\d+")).map(_.drop(1).toLong)
        .filter(_ < upToExclusive).sorted
      if (gens.isEmpty && !names.exists(_.matches("g\\d+")))
        requireNoInterruptedPublish()
      gens
    }
  }

  /** Resolve the generational label artifact below `upToExclusive`
    * (under replay: the pre-attempt state) to (doc_id, cluster_id),
    * latest-version-wins per doc; empty frame when no generation
    * exists. One multi-path scan + one doc-keyed aggregation. */
  private def resolveSoftLabels(
    spark: org.apache.spark.sql.SparkSession,
    labelsDir: String,
    upToExclusive: Long
  ): DataFrame = {
    val gens = softLabelGens(spark, labelsDir, upToExclusive)
    if (gens.isEmpty)
      spark.range(0).select(col("id").as("doc_id"), col("id").as("cluster_id"))
    else
      spark.read.schema("doc_id BIGINT, cluster_id BIGINT, version BIGINT")
        .parquet(gens.map(g => s"$labelsDir/g$g"): _*)
        .groupBy("doc_id")
        .agg(max_by(col("cluster_id"), col("version")).as("cluster_id"))
  }

  /** The PRUNED prior-label view the per-batch delta fold consumes —
    * the r20 scale piece on the READ side: the fold consults prior
    * labels only for docs that can appear in the component table
    * (star-edge endpoints: non-singleton-labeled docs and the
    * cluster-min docs their labels reference, plus both endpoints of
    * the batch's pairs), so the latest-wins AGGREGATION is bounded by
    * the duplicate minority + the batch's pair ids — never the corpus.
    * The generations' columnar scan itself remains (embarrassingly
    * parallel IO, bounded by [[compactSoftLabels]]); what never happens
    * per batch is a corpus-sized shuffle. Feeding this pruned view to
    * [[graft.operators.Dedup.updateClusterLabelsDelta]] yields the
    * IDENTICAL delta as the full table: an excluded doc is
    * singleton-labeled, referenced by no other doc's label, and
    * untouched by the new pairs — it contributes no star edge, is
    * unreachable through the pair graph, and so can never produce a
    * changed row (spec-pinned through the cluster-min relabel case). */
  private def resolvePriorForDelta(
    spark: org.apache.spark.sql.SparkSession,
    labelsDir: String,
    batchId: Long,
    pairs: DataFrame
  ): DataFrame = {
    val gens = softLabelGens(spark, labelsDir, batchId)
    if (gens.isEmpty)
      spark.range(0).select(col("id").as("doc_id"), col("id").as("cluster_id"))
    else {
      val scan = spark.read
        .schema("doc_id BIGINT, cluster_id BIGINT, version BIGINT")
        .parquet(gens.map(g => s"$labelsDir/g$g"): _*)
      val nonSingleton = scan.filter(col("doc_id") =!= col("cluster_id"))
      val wanted = nonSingleton.select(col("doc_id"))
        .unionByName(nonSingleton.select(col("cluster_id").as("doc_id")))
        .unionByName(pairs.select(col("id_a").as("doc_id")))
        .unionByName(pairs.select(col("id_b").as("doc_id")))
        .distinct()
      scan.join(wanted, Seq("doc_id"), "left_semi")
        .groupBy("doc_id")
        .agg(max_by(col("cluster_id"), col("version")).as("cluster_id"))
    }
  }

  /** The raw signed size-delta rows below `upToExclusive` — callers sum
    * per cluster (pruned first when only some clusters matter). */
  private def readSizeDeltas(
    spark: org.apache.spark.sql.SparkSession,
    labelsDir: String,
    upToExclusive: Long
  ): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(labelsDir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens =
      if (!fs.exists(hp)) Seq.empty[Long]
      else fs.listStatus(hp).toSeq.map(_.getPath.getName)
        .filter(_.matches("sizes-g\\d+")).map(_.stripPrefix("sizes-g").toLong)
        .filter(_ < upToExclusive).sorted
    if (gens.isEmpty)
      spark.range(0).select(col("id").as("cluster_id"), col("id").as("n_delta"))
    else
      spark.read.schema("cluster_id BIGINT, n_delta BIGINT")
        .parquet(gens.map(g => s"$labelsDir/sizes-g$g"): _*)
  }

  /** Periodic maintenance for the generational soft-label artifact: fold
    * every generation EXCEPT THE NEWEST into one (stamped at the folded
    * set's max id, so generation ids never exceed batch ids), with size
    * deltas net-summed (zero-sum absorbed clusters dropped). The newest
    * generation is deliberately LEFT IN PLACE: the streaming contract
    * lets the last batch replay after a failed checkpoint commit, and a
    * replay resolves generations STRICTLY BELOW its id then OVERWRITES
    * its own — folding history into that id would hand the replay an
    * empty prior and let it destroy the compacted artifact. Run it
    * BETWEEN batches from the maintenance side — the swap is two
    * directory renames and is not crash-atomic; if a crash leaves
    * `labels.compact` beside a missing `labels`, complete the rename by
    * hand (a leftover staging dir from an earlier crash is cleared
    * before writing — publishing it would double-count sizes).
    * [[currentSoftWeights]] before and after compaction are
    * value-identical (gate-pinned). */
  def compactSoftLabels(
    spark: org.apache.spark.sql.SparkSession,
    indexDir: String
  ): Unit = {
    val labelsDir = s"$indexDir/labels"
    val gens = softLabelGens(spark, labelsDir, Long.MaxValue)
    require(gens.nonEmpty,
      s"compactSoftLabels: no label artifact under $labelsDir")
    val newest = gens.max
    val fold = gens.filter(_ < newest)
    if (fold.size <= 1) return // nothing to merge below the replay window
    val target = fold.max
    publishSoftLabels(spark, labelsDir,
      resolveSoftLabels(spark, labelsDir, upToExclusive = newest),
      readSizeDeltas(spark, labelsDir, upToExclusive = newest)
        .groupBy("cluster_id").agg(sum("n_delta").as("n_delta"))
        .filter(col("n_delta") =!= 0L),
      target, carryNewest = Some(newest))
  }

  /**
   * Index-deletion propagation for the soft-label artifact (the row-139
   * family-parity arm): removed docs' label rows vanish and their
   * cluster mass is subtracted, VALUE-EQUAL to rebuilding the artifact
   * from the reduced corpus's pair history — the anti-join IS the
   * rebuild (per-doc rows, the q_forget_ivf contract). Like the bm25
   * sidecar family this is the amortized REWRITE arm: the whole
   * generation list folds into one (removals cannot be expressed as a
   * latest-wins delta — there is no "absent" row to win). Cluster KEYS
   * are left as-is, so a cluster whose min doc was removed keeps its
   * id as a GHOST KEY: stable for split hashing and for later
   * [[updateClusterLabelsDelta]] folds (star edges still connect the
   * survivors through it), and never counted as mass (sizes count
   * member rows). Run it BETWEEN batches with no replay pending — it
   * folds the newest generation too, so a subsequent replay of that
   * batch would resurrect its rows; re-run the forget after such a
   * replay (same precondition family as [[compactSoftLabels]], one
   * step stricter).
   *
   * This arm covers the LABEL artifact; a full takedown composes it
   * with [[graft.operators.Forget.removeIds]] over the sink's
   * fingerprint/signature (and media band) indexes so the removed
   * content stops influencing future prunes and pairings too — the
   * row-139 per-index composition.
   */
  def forgetSoftLabels(
    spark: org.apache.spark.sql.SparkSession,
    indexDir: String,
    removed: DataFrame,
    idCol: String
  ): Unit = {
    val labelsDir = s"$indexDir/labels"
    val gens = softLabelGens(spark, labelsDir, Long.MaxValue)
    require(gens.nonEmpty,
      s"forgetSoftLabels: no label artifact under $labelsDir")
    val target = gens.max
    // the streamingSink id guard, at the one entry point where a silent
    // cast has COMPLIANCE consequences: a NULLed id would forget
    // nothing, a truncated one the WRONG document — both reported as
    // success
    val idType = removed.schema(idCol).dataType
    require(IntegralIdTypes.contains(idType),
      s"forgetSoftLabels: idCol '$idCol' must be an integral (or " +
        s"numeric-string) column, got ${idType.catalogString}: a silent " +
        "cast would make the takedown a no-op (or delete the wrong doc)")
    val ids = removed
      .select(integralIdCast(col(idCol), idType, "forgetSoftLabels")
        .as("doc_id"))
      .distinct()
    // the corpus-sized latest-wins resolution feeds BOTH staging writes
    // (kept labels + removed mass) — LOCAL CHECKPOINT, not persist: the
    // publish below renames the directory this frame's lineage reads,
    // and a persisted frame whose blocks evicted mid-publish would
    // recompute against the renamed-away path
    val resolved = resolveSoftLabels(spark, labelsDir, Long.MaxValue)
      .localCheckpoint()
    try {
      val kept = resolved.join(broadcast(ids), Seq("doc_id"), "left_anti")
      // removed members leave their clusters: −1 mass each, folded into
      // the net sums (removal-set-bounded — the appendFingerprints
      // arithmetic in reverse)
      val removedMass = resolved.join(broadcast(ids), Seq("doc_id"), "left_semi")
        .groupBy("cluster_id").agg((-count(lit(1))).as("n_delta"))
      val sizes = readSizeDeltas(spark, labelsDir, Long.MaxValue)
        .unionByName(removedMass)
        .groupBy("cluster_id").agg(sum("n_delta").as("n_delta"))
        .filter(col("n_delta") =!= 0L)
      publishSoftLabels(spark, labelsDir, kept, sizes, target,
        carryNewest = None)
    } finally org.apache.spark.sql.GraftSqlBridge
      .unpersistLocalCheckpoint(resolved)
  }

  /** Shared staging-write + swap for the soft-label maintenance arms:
    * write `labels` (re-stamped at `target`) and `sizes` into a fresh
    * staging layout, optionally CARRY the newest (replay-window)
    * generation over by copy, then swap directories. A crashed earlier
    * staging dir is cleared first (publishing it would double-count
    * sizes); the swap is two renames and is not crash-atomic — if a
    * crash leaves `<labels>.compact` beside a missing live dir,
    * complete the rename by hand. */
  private def publishSoftLabels(
    spark: org.apache.spark.sql.SparkSession,
    labelsDir: String,
    labels: DataFrame,
    sizes: DataFrame,
    target: Long,
    carryNewest: Option[Long]
  ): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(labelsDir)
    val fs = live.getFileSystem(conf)
    val staging = s"$labelsDir.compact"
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    if (fs.exists(stagingPath)) fs.delete(stagingPath, true)
    // disjoint staging targets, no data dependency — overlapped (§2.6)
    graft.GraftSession.runConcurrently(Seq(
      () => labels
        .select(col("doc_id"), col("cluster_id"), lit(target).as("version"))
        .write.mode("overwrite").parquet(s"$staging/g$target"),
      () => sizes.write.mode("overwrite").parquet(s"$staging/sizes-g$target")))
    // carry the newest (replay-window) generation over verbatim — a
    // COPY, not a move: a crash between a move and the swap would leave
    // the live layout silently missing its newest labels (batch-sized
    // bytes, so the copy is cheap by the same argument as the delta)
    carryNewest.foreach { newest =>
      def carry(name: String): Unit = {
        val src = new org.apache.hadoop.fs.Path(s"$labelsDir/$name")
        if (fs.exists(src))
          require(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
              new org.apache.hadoop.fs.Path(s"$staging/$name"),
              false, conf),
            s"publishSoftLabels: could not carry $name into the staging layout")
      }
      carry(s"g$newest")
      carry(s"sizes-g$newest")
    }
    val old = new org.apache.hadoop.fs.Path(s"$labelsDir.old")
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(live, old),
      s"publishSoftLabels: could not stage out $labelsDir")
    require(fs.rename(stagingPath, live),
      s"publishSoftLabels: could not publish $staging - the prior " +
        s"layout is intact at $labelsDir.old; rename it back")
    fs.delete(old, true)
  }

  private def execute[T](
    corpus: DataFrame,
    textCol: String,
    idCol: String,
    cfg: Config,
    observe: (String, DataFrame) => DataFrame,
    // soft mode hands the dedup-time cluster table (pinned for the
    // action's lifetime) to interested callers — the streaming sink's
    // label fold reuses it instead of paying a second LSH pair pass
    onSoftClusters: DataFrame => Unit = _ => ()
  )(action: DataFrame => T): T = {
    // fail-fast expectations on the RAW input, before any stage spends a
    // pass on it (one extra aggregation scan — only when configured)
    if (cfg.inputExpectations.nonEmpty)
      graft.operators.Checks.enforce(corpus, cfg.inputExpectations)
    val scrubbed = observe("scrubbed", scrub(corpus, textCol, idCol, cfg)).persist()
    val pinned = scala.collection.mutable.Buffer[DataFrame](scrubbed)
    val pin: DataFrame => DataFrame = df => { pinned += df.persist(); df }
    try action(stages(scrubbed, textCol, cfg, corpus, idCol, pin, observe,
      onSoftClusters))
    finally pinned.foreach(_.unpersist())
  }

  /** Stages 3-7 over the scrubbed corpus (named doc_id by stage 2);
    * `corpus`/`idCol` are the ORIGINAL input, used only to look group
    * columns back up for the cap/mix stages. `pin` is [[run]]'s
    * persistence hook, and the rule is: a frame consumed more than once
    * in the action is pinned. That covers `exact` (always: the near-dup
    * arms read it several times), `near` when decontamination reads it,
    * the soft cluster table, each media stage's input, the model-gate
    * base, the mix input and the leak-safe split input. Under AQE a
    * second reference to an unpinned frame recomputes it, and an
    * exchange above a pinned one is not reused across references, so
    * pinning is the only way such a frame runs once. [[curate]] passes
    * identity and accepts the recompute, as its laziness note says. */
  private def stages(
    scrubbed: DataFrame, textCol: String, cfg: Config,
    corpus: DataFrame, idCol: String,
    pin: DataFrame => DataFrame = identity,
    observe: (String, DataFrame) => DataFrame = (_, df) => df,
    onSoftClusters: DataFrame => Unit = _ => ()
  ): DataFrame = {
    def groupLookup(gcols: Seq[String]): DataFrame =
      corpus.select((col(idCol).as("doc_id") +: gcols.map(col)).toIndexedSeq: _*)
    // 2b: incremental prune against a prior corpus's persisted indexes
    // (optional) — runs BEFORE within-batch dedup so the already-seen
    // majority of a re-crawl never reaches the shingle/signature stages
    val fresh0 = cfg.priorFingerprints.fold(scrubbed)(idx =>
      Dedup.dropExactDuplicatesAgainst(scrubbed, idx, textCol, cfg.tokenizer))
    // softDedup pairs near-twins instead of pruning them, and that
    // promise extends across corpora: the signature prior becomes a
    // PAIRING surface (folded into the soft cluster table at the near
    // stage below — the batch twin of the streaming sink's label fold),
    // while the SimHash/embedding priors have no pairing arm — fail
    // loud rather than silently hard-dropping cross-corpus twins the
    // flag promises to weight (the streamingSink require convention).
    // priorFingerprints stays a prune: exact dedup drops in soft mode
    // too (identical copies carry no diversity), and the media priors
    // stay hard like the within-batch media stages.
    require(!cfg.softDedup ||
        (cfg.priorSimhashes.isEmpty && cfg.priorEmbeddings.isEmpty),
      "softDedup with priorSimhashes/priorEmbeddings would hard-drop " +
        "cross-corpus near-twins the soft contract promises to weight - " +
        "use priorSignatures (paired into the soft cluster table), or run " +
        "those prunes as a separate non-soft pass")
    val fresh1 =
      if (cfg.softDedup) fresh0 // signature prior pairs at the near stage
      else cfg.priorSignatures.fold(fresh0)(idx =>
        Dedup.dropNearDuplicatesAgainst(fresh0, idx, textCol, "doc_id",
          k = cfg.shingleK, numHashes = cfg.numHashes, bands = cfg.bands,
          threshold = cfg.nearDupThreshold, tokenizer = cfg.tokenizer))
    val fresh2 = cfg.priorSimhashes.fold(fresh1)(idx =>
      Dedup.dropSimHashDuplicatesAgainst(fresh1, idx, textCol, "doc_id",
        maxHamming = cfg.simhashMaxHamming, bands = cfg.simhashBands,
        tokenizer = cfg.tokenizer))
    // the embedding arm prunes by MATCHED IDS (embeddings live in their
    // own table, not on the text rows); candidate-bounded matched set,
    // corpus anti join — the dropNearDuplicatesAgainst shape
    val fresh3 = cfg.priorEmbeddings.fold(fresh2) { ep =>
      val matched = Dedup.embeddingNearDupAgainstIndex(
        ep.batchEmbeddings, ep.index, ep.vecCol, ep.idCol,
        planes = cfg.embedPlanes, threshold = cfg.embedThreshold)
        .select(col("batch_id").as("doc_id")).distinct()
      fresh2.join(matched, Seq("doc_id"), "left_anti")
    }
    // the MEDIA arms of the incremental prune: batch docs whose
    // image/video/audio perceptually matches the prior corpus's banded
    // artifact drop here (the media stages below handle within-batch
    // pairs) — same position, same documented transitive-chain margin
    // as the text priors. Payload plumbing comes from the matching
    // media-dedup config; a prior without it has no hashes to probe.
    import corpus.sparkSession.implicits._
    def mediaPrior(
        input: DataFrame, prior: Option[DataFrame], what: String,
        plumbing: Option[(DataFrame, String, String)],
        probe: (org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord],
          DataFrame) => DataFrame): DataFrame =
      prior.fold(input) { bidx =>
        val (payloads, payloadCol, mIdCol) = plumbing.getOrElse(
          throw new IllegalArgumentException(
            s"Config.priorBanded${what.capitalize}s requires the matching " +
              s"${what}Dedup config - the prior artifact is probed with its " +
              "payload table/column"))
        val media = payloads
          .select(
            integralIdCast(col(mIdCol), payloads.schema(mIdCol).dataType,
              s"${what}Dedup").as("doc_id"),
            col(payloadCol).as("payload"))
          .join(input.select("doc_id"), Seq("doc_id"), "left_semi")
          .as[graft.operators.Multimodal.MediaRecord]
        val matched = probe(media, bidx)
          .select(col("batch_id").as("doc_id")).distinct()
        input.join(matched, Seq("doc_id"), "left_anti")
      }
    val fresh4 = mediaPrior(fresh3, cfg.priorBandedImages, "image",
      cfg.imageDedup.map(im => (im.payloads, im.payloadCol, im.idCol)),
      (m, idx) => graft.operators.Multimodal.imageNearDupsAgainstBanded(
        m, idx, cfg.imageDedup.get.maxHamming, cfg.imageDedup.get.bands))
    val fresh5 = mediaPrior(fresh4, cfg.priorBandedVideos, "video",
      cfg.videoDedup.map(v => (v.payloads, v.payloadCol, v.idCol)),
      (m, idx) => graft.operators.Multimodal.videoNearDupsAgainstBanded(
        m, idx, cfg.videoDedup.get.n,
        graft.operators.Multimodal.SniffFrames,
        cfg.videoDedup.get.maxHamming, cfg.videoDedup.get.bands))
    val fresh6 = mediaPrior(fresh5, cfg.priorBandedAudio, "audio",
      cfg.audioDedup.map(a => (a.payloads, a.payloadCol, a.idCol)),
      (m, idx) => graft.operators.Multimodal.audioNearDupsAgainstBanded(
        m, idx, cfg.audioDedup.get.maxHamming, cfg.audioDedup.get.bands))
    val anyPrior = cfg.priorFingerprints.nonEmpty || cfg.priorSignatures.nonEmpty ||
      cfg.priorSimhashes.nonEmpty || cfg.priorEmbeddings.nonEmpty ||
      cfg.priorBandedImages.nonEmpty || cfg.priorBandedVideos.nonEmpty ||
      cfg.priorBandedAudio.nonEmpty
    val fresh =
      if (anyPrior) observe("after_incremental_prune", fresh6) else fresh6
    // 3-4: exact then near dedup, keeper policy per cfg.keeper
    require(cfg.keeper == KeepFirst || cfg.keeper == KeepBest,
      s"unknown keeper '${cfg.keeper}' (expected $KeepFirst or $KeepBest)")
    val best = cfg.keeper == KeepBest
    def withKeepScore(df: DataFrame): DataFrame =
      TextAnalysis.appendQuality(df, textCol, "__keep_sc")
    // every near-dup arm consumes `exact` several times (signature and
    // verify legs, the keeper's anti-join), so it is pinned: a reference
    // to a persisted frame becomes its own TableCacheQueryStage under
    // AQE, and an exchange above it (this stage's window over the pinned
    // scrub) is then never reused across references — unpinned, the
    // exact-dedup shuffle runs once per consumer. The counter sits under
    // the pin, so it still counts once
    val exact = pin(observe("after_exact_dedup",
      if (best)
        Dedup.dropExactDuplicatesKeepBest(withKeepScore(fresh), textCol, "doc_id",
          "__keep_sc", cfg.tokenizer).drop("__keep_sc")
      else Dedup.dropExactDuplicates(fresh, textCol, "doc_id", cfg.tokenizer)))
    // soft arm: nobody drops — every doc carries its cluster mass
    // instead (keeper policy is moot; exact dedup above still dropped,
    // identical copies carry no diversity). The cluster MEMBER table
    // rides along (pair-bounded; pinned — the split stage below keys
    // on it, and the pair computation must not run twice; the weighted
    // frame shares the pinned plan by canonical-plan cache lookup).
    val softArm: Option[(DataFrame, DataFrame)] =
      if (!cfg.softDedup) None
      else Some(cfg.priorSignatures match {
        // prior-corpus twins PAIR into the cluster table (weighted,
        // never pruned — the guard at stage 2b routed them here); the
        // cluster mass counts the prior members, so a batch doc with
        // one indexed twin weighs 1/2, the streaming end-state value
        case Some(idx) => Dedup.softDedupWeightsWithClustersAgainst(
          exact, idx, textCol, "doc_id",
          k = cfg.shingleK, numHashes = cfg.numHashes, bands = cfg.bands,
          threshold = cfg.nearDupThreshold, tokenizer = cfg.tokenizer)
        case None => Dedup.softDedupWeightsWithClusters(
          exact, textCol, "doc_id",
          k = cfg.shingleK, numHashes = cfg.numHashes, bands = cfg.bands,
          threshold = cfg.nearDupThreshold, tokenizer = cfg.tokenizer)
      })
    val softClusters: Option[DataFrame] =
      softArm.map { case (_, comp) => pin(comp) }
    softClusters.foreach(onSoftClusters)
    val nearText = observe("after_near_dedup",
      if (cfg.softDedup)
        softArm.get._1
      else if (best)
        Dedup.dropNearDuplicatesKeepBest(withKeepScore(exact), textCol, "doc_id",
            "__keep_sc", k = cfg.shingleK, numHashes = cfg.numHashes,
            bands = cfg.bands, threshold = cfg.nearDupThreshold,
            tokenizer = cfg.tokenizer)
          .drop("__keep_sc")
      else Dedup.dropNearDuplicates(exact, textCol, "doc_id",
        k = cfg.shingleK, numHashes = cfg.numHashes, bands = cfg.bands,
        threshold = cfg.nearDupThreshold, tokenizer = cfg.tokenizer))
    // 4b: image near-dup (optional) — pairs form among TEXT SURVIVORS
    // only: a payload whose doc was already dropped (line rules, a
    // prior-corpus prune, a KeepBest text keeper choosing the HIGHER
    // id) must not delete the surviving copy of its content, so the
    // payloads are semi-joined against nearText's ids BEFORE pairing
    // (pairing first and anti-joining id_b would let the pair
    // (dropped low id, kept high id) silently lose every kept copy).
    // Pairs close into transitive clusters and the configured keeper
    // picks the survivor — lowest id, or the composite-quality argmax
    // under KeepBest, matching the text dedup stages.
    // 4b-4d: perceptual media near-dup (optional, one arm per modality)
    // — pairs form among TEXT SURVIVORS only (a payload whose doc was
    // already dropped must not delete the surviving copy of its
    // content), pairs close into transitive clusters, and the
    // configured keeper picks each cluster's survivor. The three arms
    // share this machinery; only the hash family differs.
    def mediaStage(
        input: DataFrame, what: String,
        payloads: DataFrame, payloadCol: String, mIdCol: String,
        pairsOf: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]
          => DataFrame): DataFrame = {
      // the stage references its input up to three times (survivor
      // semi-join, KeepBest scores, final anti-join) — pin it so the
      // chain underneath runs once (the model-gate precedent below)
      val nt = pin(input)
      val idType = payloads.schema(mIdCol).dataType
      require(IntegralIdTypes.contains(idType),
        s"${what}Dedup.idCol '$mIdCol' must be an integral (or " +
          s"numeric-string) column, got ${idType.catalogString}: a silent " +
          s"cast would NULL non-numeric ids and exempt those payloads " +
          s"from $what dedup")
      val media = payloads
        .select(integralIdCast(col(mIdCol), idType, s"${what}Dedup").as("doc_id"),
          col(payloadCol).as("payload"))
        .join(nt.select("doc_id"), Seq("doc_id"), "left_semi")
        .as[graft.operators.Multimodal.MediaRecord]
      // pair-bounded member table (never the corpus); unpaired docs
      // are absent from it and always survive
      val members = Dedup.connectedComponents(pairsOf(media))
      val ranked =
        if (best) {
          val scores = TextAnalysis
            .appendQuality(nt.select(col("doc_id"), col(textCol)),
              textCol, "__keep_sc")
            .select(col("doc_id"), col("__keep_sc"))
          members.join(scores, Seq("doc_id"))
            .withColumn("__rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("cluster_id"))
                .orderBy(col("__keep_sc").desc, col("doc_id"))))
        } else
          members.withColumn("__rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("cluster_id")).orderBy(col("doc_id"))))
      val losers = ranked.filter(col("__rn") > 1).select("doc_id")
      observe(s"after_${what}_dedup",
        nt.join(broadcast(losers), Seq("doc_id"), "left_anti"))
    }
    val nearI = cfg.imageDedup.fold(nearText)(im =>
      mediaStage(nearText, "image", im.payloads, im.payloadCol, im.idCol,
        m => graft.operators.Multimodal.imageNearDups(m, im.maxHamming, im.bands)))
    val nearV = cfg.videoDedup.fold(nearI)(v =>
      mediaStage(nearI, "video", v.payloads, v.payloadCol, v.idCol,
        m => graft.operators.Multimodal.videoNearDups(
          m, v.n, graft.operators.Multimodal.SniffFrames, v.maxHamming, v.bands)))
    val near = cfg.audioDedup.fold(nearV)(a =>
      mediaStage(nearV, "audio", a.payloads, a.payloadCol, a.idCol,
        m => graft.operators.Multimodal.audioNearDups(m, a.maxHamming, a.bands)))
    // 5: decontamination (optional) — it consumes `near` twice (gram
    // scores and the dirty-id anti-join), so `near` is pinned and the
    // near-dup chain (LSH band, pair and verify shuffles) runs once
    val clean = cfg.evalSet.fold(near)(ev =>
      observe("after_decontamination",
        Contamination.decontaminate(pin(near), ev, textCol, "doc_id",
          k = cfg.contaminationK, maxContamination = cfg.maxContamination,
          bloomPrefilter = cfg.bloomPrefilter)))
    // 6: quality gates — composite floor, plus the Gopher rule verdict
    // as a hard gate when requested (paper-default thresholds)
    val ruled =
      if (!cfg.gopherFilter) clean
      else TextAnalysis.gopherFilter(clean, textCol, tokenizer = cfg.tokenizer)
    // quality is a pure per-row projection (appendQuality keeps every
    // input column), so it is computed INLINE on `ruled` — an earlier
    // spelling projected (doc_id, quality) via withQuality and joined
    // back to `ruled`, which made both join sides re-evaluate the whole
    // exact+near dedup chain (the pipeline's most expensive stages)
    val scored = TextAnalysis.appendQuality(ruled, textCol)
      .filter(col("quality") >= cfg.minQuality)
    // 6 (model gate, optional): the score is an aggregation over the
    // gram explode (not a row-local projection), so it necessarily
    // joins back — both sides reference `scored`, hence the pin (run()
    // persists it; curate() accepts the documented recompute)
    val modelGated = observe("after_quality",
      cfg.qualityModel.fold(scored) { qm =>
        val base = pin(scored)
        // classifier-sized spines take the zero-shuffle row-local scorer
        // (the score itself then adds no exchange — only the semi join
        // moves ids); oversized spines fall back to the broadcast join
        val spineRows = qm.weights.count()
        val scoreFn: (DataFrame => DataFrame) =
          if (spineRows <= (1 << 16))
            df => graft.operators.QualityClassifier
              .scoreInline(df, qm.weights, textCol, "doc_id", qm.bias)
          else
            df => graft.operators.QualityClassifier
              .score(df, qm.weights, textCol, "doc_id", qm.bias)
        val keep = scoreFn(base.select(col("doc_id"), col(textCol)))
          .filter(col("quality_score") >= qm.minScore)
          .select("doc_id")
        base.join(keep, Seq("doc_id"), "left_semi")
      })
    // 6b/6c share ONE group lookup join (the final select sheds the
    // group columns, so nothing needs dropping in between)
    val groupCols =
      (cfg.perGroupCap.map(_._1).toSeq ++ cfg.targetMix.map(_._1).toSeq).distinct
    val withGroups =
      if (groupCols.isEmpty) modelGated
      else modelGated.join(groupLookup(groupCols), "doc_id")
    // 6b: per-group cap over the final survivors (lowest-id keeper, so
    // the cap is deterministic and rerun-stable like the dedup keepers)
    val capped = cfg.perGroupCap.fold(withGroups) { case (gcol, k) =>
      Sampling.topKBy(withGroups, gcol, orderCol = "doc_id", k = k,
          idCol = "doc_id", desc = false, rankCol = "__rk")
        .drop("__rk")
    }
    // 6b2: token budget (optional) — the best-quality prefix that fits
    // ([[graft.operators.Sampling.selectByBudget]]: range shuffle +
    // exact long cumsum, never a single-partition window); ordered by
    // (quality DESC, doc_id), weighted by the cfg.tokenizer token
    // count, boundary doc dropped whole
    val budgeted = cfg.tokenBudget.fold(capped) { bud =>
      val cnt = cfg.tokenizer match {
        case TextAnalysis.Uax29Tokenizer =>
          TextAnalysis.uax29TokenCount(col(textCol))
        case _ => TextAnalysis.wsTokenCount(col(textCol))
      }
      // soft arm: a doc charges its EXPECTED sampling mass — tokens ×
      // soft_weight, rounded up so duplicates are never free — else a
      // 10-copy cluster eats 10× its budget share, defeating the
      // down-weighting. The exact-long cumsum contract is kept.
      val w =
        if (cfg.softDedup) ceil(cnt * col("soft_weight")).cast("long")
        else cnt
      observe("after_budget",
        Sampling.selectByBudget(
            capped.withColumn("__tb_w", w), "__tb_w", bud,
            orderBy = Seq(col("quality").desc, col("doc_id").asc))
          .drop("__tb_w"))
    }
    // 6c: mixture rebalance (eager per-stratum counts, by design). The
    // seed is SALTED: rebalance and splitAssign partitioning the same
    // hash bucket would make every cut stratum's survivors cluster in
    // the low-bucket split ('train'), starving val/test
    val mixed = cfg.targetMix.fold(budgeted) { case (gcol, weights) =>
      Sampling.rebalance(pin(budgeted), "doc_id", gcol, weights,
        seed = cfg.splitSeed + ":mix")
    }
    // 7: split labels — optionally cluster-keyed at a LOWER near-dup
    // threshold than the dedup stage (survivors are pair-free at
    // cfg.nearDupThreshold by construction, but pairs BELOW it —
    // paraphrase-level copies — can still put a val doc's near-twin
    // in train; splitLeakThreshold re-pairs the survivors at that
    // looser bar and hashes whole clusters together, the row-156
    // contract; pair-bounded extra work, the corpus never reshuffles)
    // softDedup forces the leak-safe arm when no explicit threshold is
    // set: the near-dup twins it deliberately RETAINS would otherwise
    // hash into different splits — a val doc with its twin in train is
    // a leaked answer, the exact failure splitLeakThreshold exists for.
    // The forced arm keys on the DEDUP-TIME clusters already computed
    // for the weights (one cluster structure decides both mass and
    // split; no second pair computation) — stable even when a cluster's
    // min id was dropped by a later gate. An EXPLICIT
    // splitLeakThreshold (typically lower) still re-pairs the
    // survivors at that bar.
    val split = (cfg.splitLeakThreshold, softClusters) match {
      case (Some(t), _) =>
        // both the pair computation and the corpus side of the member
        // join consume `mixed` — pin it (the rebalance-input precedent
        // one stage up) so the upstream chain runs once
        val m = pin(mixed)
        val pairs = Dedup.nearDuplicates(m, textCol, "doc_id",
          k = cfg.shingleK, numHashes = cfg.numHashes, bands = cfg.bands,
          threshold = t, tokenizer = cfg.tokenizer)
        Sampling.leakageSafeSplits(m, pairs, "doc_id", cfg.splits,
          cfg.splitSeed)
      case (None, Some(comp)) =>
        Sampling.leakageSafeSplitsWithClusters(mixed, comp, "doc_id",
          cfg.splits, cfg.splitSeed)
      case (None, None) =>
        Sampling.splitAssign(mixed, "doc_id", cfg.splits, cfg.splitSeed)
    }
    val outCols =
      Seq(col("doc_id"), col(textCol), col("quality"), col("split")) ++
        (if (cfg.softDedup) Seq(col("soft_weight")) else Seq.empty)
    observe("final", split.select(outCols: _*))
  }
}
