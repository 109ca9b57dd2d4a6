package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/**
 * Deletion propagation ("forget") for the persisted index family — the
 * governance surface a 100 TB corpus needs: a takedown or GDPR erasure
 * must leave every derived artifact as if the documents had never been
 * indexed, WITHOUT rebuilding indexes from a corpus rescan. Every
 * rewrite here is one anti-join (or one counted decrement) against the
 * removal set — removal-set-sized work, not corpus-sized — and the
 * result is VALUE-EQUAL to an index rebuilt from the reduced corpus
 * (gated per artifact: q_forget_exact/_neardup/_simhash/_embed/
 * _stream_index).
 *
 * Artifacts and their id columns:
 *  - [[Dedup.minHashSignatures]] index → `doc_id`
 *  - [[Dedup.simHashes]] index → `doc_id`
 *  - embedding tables (the [[Dedup.embeddingNearDupAgainstIndex]] /
 *    ANN index side) → the caller's id column
 *  - [[Dedup.nearDupStreamIndex]] → `index_id` (one doc = several band
 *    rows; the anti-join removes them all). Caveat: a bucket dropped by
 *    the build-time cap stays dropped — forgetting docs from an
 *    over-cap bucket cannot re-admit it (that genuinely needs the
 *    corpus); the forgotten index is thus conservative-equal to the
 *    rebuild — identical whenever no bucket was capped, never
 *    emitting a row the rebuild would not.
 *  - [[Dedup.winnowIndex]] → `doc_id` (fingerprints are per-doc
 *    independent and the (k, w) constants are corpus-free, so the
 *    anti-join IS the rebuild)
 *  - [[SetSim.setContainmentIndex]] → `id` (full postings with only
 *    per-doc fields riding — n, pos, set — so anti-join ≡ rebuild;
 *    contrast [[SetSim.setSimShingleIndex]], whose kept rows keep the
 *    FULL-corpus rarity order: exactness-safe per the q_forget_setsim
 *    argument, pinned through the join surface)
 *  - the BM25 index ([[Retrieval.bm25SidecarWrite]]) scores with
 *    corpus aggregates (df/N/avgdl), so a bare anti-join would leave
 *    stale statistics — [[Retrieval.bm25SidecarForget]] is the
 *    dedicated arm (tombstones + exact removal-set-sized decrements of
 *    the df/N/sum_dl sidecars, no posting rewrite)
 *  - [[Dedup.exactFingerprintIndex]] carries no ids by design (it is a
 *    fingerprint SET), so forgetting needs the COUNTED form
 *    ([[Dedup.exactFingerprintIndexCounted]]): a fingerprint shared by
 *    kept documents must survive the removal of one of them —
 *    [[forgetFingerprints]] decrements per-fingerprint counts and
 *    drops the zeros.
 *
 * Versioning: indexes live in files, and a forget must be atomic for
 * concurrent readers — [[rewriteVersioned]] wraps any rewrite in the
 * [[Cdc.materializedSink]] convention (`v<N>/` parquet + a `_CURRENT`
 * pointer, prior versions kept for a reader grace window). The pointer
 * is read and flipped through [[IndexStore]] (temp-write +
 * overwrite-rename), so a probe running mid-forget reads a complete old
 * version, never a half-deleted directory or a missing pointer.
 */
object Forget {

  /**
   * The generic forget rewrite: index rows whose `idCol` appears in
   * `removed.removedIdCol` anti-joined away. One broadcast-able
   * anti-join — the index streams, is never shuffled, and the rewrite
   * cost is O(index scan + removal set); rows with a NULL id are KEPT
   * (anti-join semantics — a NULL id matches nothing, same as the
   * NOT EXISTS oracle spelling). For a removal set too large to
   * broadcast see [[graft.GraftSession]]'s corpus-sized escape.
   */
  def removeIds(
    index: DataFrame,
    idCol: String,
    removed: DataFrame,
    removedIdCol: String
  ): DataFrame = {
    Cols.requireAbsent(index, "__forget_id")
    val rm = removed.select(col(removedIdCol).as("__forget_id")).distinct()
    index.join(broadcast(rm), col(idCol) === col("__forget_id"), "left_anti")
  }

  /**
   * Forget documents from a COUNTED exact-fingerprint index
   * ([[Dedup.exactFingerprintIndexCounted]]): subtract each removed
   * document's fingerprint count, drop fingerprints that reach zero.
   * Exactly rebuild-equal: a fingerprint three kept documents share
   * survives the removal of two of them with `n_docs` = 1.
   *
   * Removing a document the index never held (its fingerprint is
   * absent, or its count would go negative) fails LOUDLY — silently
   * ignoring it would desynchronize the index from the corpus and a
   * later legitimate forget would under-delete (the [[Checks]]
   * fail-closed doctrine).
   */
  def forgetFingerprints(
    countedIndex: DataFrame,
    removed: DataFrame,
    textCol: String,
    tokenizer: String = graft.operators.TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    Cols.requireAbsent(countedIndex, "__rm_n")
    // a NULL-text removed row has no fingerprint — nothing to forget
    // (mirrors dropExactDuplicatesAgainst, where NULL text matches
    // nothing). `tokenizer` MUST match the index build's (the
    // same-scrub/same-tokenizer caveat): a uax29-built index forgotten
    // under whitespace keys computes different fingerprints and the
    // over-removal guard below raises
    val rm = removed
      .select(md5(Hashing.normalizedTextFor(col(textCol), tokenizer))
        .as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
      .groupBy("fingerprint").agg(count(lit(1)).as("__rm_n"))
    val hinted = broadcast(rm)
    // NOT a full-outer merge: BroadcastHashJoin has no full-outer build
    // side, so the hint would be silently ignored and the WHOLE index
    // shuffled. Split instead (zero index shuffles): subtract via a
    // broadcast LEFT join (one index scan, with the over-removal guard
    // riding), and catch removals of fingerprints the index never held
    // via a second fingerprint-only index scan (semi join against the
    // broadcast removal set — match-bounded output — anti-joined back,
    // any survivor raising the same loud error).
    val merged = countedIndex
      .join(hinted, Seq("fingerprint"), "left")
      .select(col("fingerprint"),
        when(col("n_docs") < coalesce(col("__rm_n"), lit(0L)),
          raise_error(concat(
            lit("forgetFingerprints: fingerprint "), col("fingerprint"),
            lit(" removes more documents than the index holds ("),
            col("n_docs").cast("string"), lit(" indexed, "),
            col("__rm_n").cast("string"), lit(" removed)"))))
          .otherwise(col("n_docs") - coalesce(col("__rm_n"), lit(0L)))
          .as("n_docs"))
    val matched = countedIndex.select("fingerprint")
      .join(hinted.select("fingerprint"), Seq("fingerprint"), "left_semi")
    // the absent-fingerprint guard rides a ONE-ROW AGGREGATE leg, not a
    // per-row projection over the anti join: the n_docs > 0 cardinality
    // filter below would push THROUGH a bare anti join (left-side-only
    // predicate) and evaluate the raise on exactly the rows the join
    // was about to remove — every legitimate forget would explode. An
    // aggregate is a reorder barrier; the leg always emits one row,
    // n_docs 0 (filtered away) unless some removed fingerprint never
    // existed in the index
    val missing = rm
      .join(broadcast(matched), Seq("fingerprint"), "left_anti")
      .agg(count(lit(1)).as("__miss"), min(col("fingerprint")).as("__ex"))
      .select(
        lit(null).cast("string").as("fingerprint"),
        when(col("__miss") > 0,
          raise_error(concat(
            lit("forgetFingerprints: fingerprint "), col("__ex"),
            lit(" removes more documents than the index holds (0 indexed)"))))
          .otherwise(lit(0L))
          .as("n_docs"))
    merged.unionByName(missing)
      .filter(col("n_docs") > 0)
  }

  /**
   * Grow a COUNTED exact-fingerprint index
   * ([[Dedup.exactFingerprintIndexCounted]]) by a corpus drop —
   * [[forgetFingerprints]]' arithmetic in reverse, and the exact-dedup
   * family's append arm: each added document's fingerprint count
   * merges in (a fingerprint the index never held starts at its drop
   * count), VALUE-EQUAL to rebuilding the counted index from the
   * union corpus. Unlike [[graft.operators.Retrieval.bm25SidecarAppend]]
   * there is no id space here — the index is count-keyed, so
   * re-adding an already-indexed document is legitimate (its count
   * grows; dedup semantics are the CONSUMER's job via
   * [[graft.operators.Dedup.dropExactDuplicatesAgainst]] before the
   * append). NULL-text rows have no fingerprint and add nothing.
   *
   * Two column-pruned index SCANS and zero index shuffles: the count
   * merge is a broadcast LEFT join (one scan), and the
   * fingerprints-new-to-the-index leg semi-joins a fingerprint-only
   * projection against the broadcast drop aggregate (match-bounded)
   * rather than full-outer-joining — BroadcastHashJoin has no
   * full-outer build side, so that spelling would silently shuffle the
   * whole index. The append-then-forget roundtrip lands back on the
   * original index exactly (ForgetSpec pins it).
   */
  def appendFingerprints(
    countedIndex: DataFrame,
    added: DataFrame,
    textCol: String,
    tokenizer: String = graft.operators.TextAnalysis.WhitespaceTokenizer
  ): DataFrame = {
    Cols.requireAbsent(countedIndex, "__add_n")
    val add = added
      .select(md5(Hashing.normalizedTextFor(col(textCol), tokenizer))
        .as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
      .groupBy("fingerprint").agg(count(lit(1)).as("__add_n"))
    val hinted = broadcast(add)
    // see forgetFingerprints: full-outer cannot broadcast, so the merge
    // splits into a broadcast LEFT join for indexed fingerprints plus a
    // match-bounded anti leg for fingerprints new to the index
    val merged = countedIndex
      .join(hinted, Seq("fingerprint"), "left")
      .select(col("fingerprint"),
        (col("n_docs") + coalesce(col("__add_n"), lit(0L))).as("n_docs"))
    val matched = countedIndex.select("fingerprint")
      .join(hinted.select("fingerprint"), Seq("fingerprint"), "left_semi")
    val newOnly = add
      .join(broadcast(matched), Seq("fingerprint"), "left_anti")
      .select(col("fingerprint"), col("__add_n").as("n_docs"))
    merged.unionByName(newOnly)
  }

  /** Publish the FIRST version of an index artifact under `dir`
    * (`v1/` + `_CURRENT`) — the entry point of the versioned-forget
    * lifecycle. */
  def initVersioned(index: DataFrame, dir: String, keepVersions: Int = 2): Long = {
    require(Cdc.currentVersion(index.sparkSession, dir).isEmpty,
      s"initVersioned: $dir already has a ${Cdc.CurrentFile} pointer — use rewriteVersioned")
    Cdc.publishVersion(index, dir, 1L, keepVersions)
    1L
  }

  /** The live index version (follows `_CURRENT`). */
  def readCurrent(spark: SparkSession, dir: String): DataFrame = {
    val v = Cdc.requireVersion(spark, dir)
    spark.read.parquet(s"$dir/v$v")
  }

  /**
   * Atomic versioned rewrite: read the current version, apply
   * `rewrite` (typically [[removeIds]] or [[forgetFingerprints]]
   * curried with the removal set), write `v<N+1>/`, flip `_CURRENT` by
   * atomic rename, retire versions beyond `keepVersions`. Readers
   * mid-rewrite keep the complete old version; a crash before the flip
   * leaves `_CURRENT` untouched (the orphan `v<N+1>` is overwritten by
   * the retry). Returns the new version number.
   */
  def rewriteVersioned(
    spark: SparkSession,
    dir: String,
    keepVersions: Int = 2
  )(rewrite: DataFrame => DataFrame): Long = {
    val cur = Cdc.requireVersion(spark, dir, " — publish with initVersioned first")
    val next = cur + 1
    Cdc.publishVersion(rewrite(spark.read.parquet(s"$dir/v$cur")), dir, next, keepVersions)
    next
  }
}
