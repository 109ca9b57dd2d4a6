package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Forget}

/**
 * Correctness gates for deletion propagation over the persisted index
 * family (SURVEY.md §2 row 139, [[graft.operators.Forget]]).
 *
 * Oracle strategy: every gate outputs the POST-FORGET index and the
 * DuckDB oracle REBUILDS the same index from the REDUCED corpus — the
 * definitional spelling of "as if the documents had never been
 * indexed". A forget that leaves a stale row, drops a shared
 * fingerprint too early, or misses one band row of a multi-row doc
 * hash-mismatches.
 *
 * Fixture: indexed corpus = even-id documents under 400; removal set =
 * ids divisible by 6 (a strict subset). The exact arm additionally
 * plants re-keyed duplicate texts so fingerprint REFCOUNTS are
 * exercised: removing one copy of a shared fingerprint must keep it.
 */
object ForgetGates {

  private def prior(s: SparkSession, dir: String): DataFrame =
    LlmGates.docs(s, dir).select("doc_id", "text")
      .filter(col("doc_id") < 400 && col("doc_id") % 2 === 0)

  private def removed(s: SparkSession, dir: String): DataFrame =
    prior(s, dir).filter(col("doc_id") % 6 === 0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // row 139a — counted-fingerprint forget: decrement + drop zeros;
    // planted duplicate copies (+100000) must KEEP their fingerprint
    // (n_docs 2 → 1) when only the original is removed
    "q_forget_exact" -> { (s, dir) =>
      val p = prior(s, dir).unionByName(
        prior(s, dir).filter(col("doc_id") % 20 === 0)
          .withColumn("doc_id", col("doc_id") + 100000))
      Forget.forgetFingerprints(
        Dedup.exactFingerprintIndexCounted(p, "text"),
        removed(s, dir), "text")
    },
    // §2 row 160 (exact-dedup arm) — counted-fingerprint index APPEND:
    // the even-id counted index grown by the odd half (shared
    // fingerprints merge counts, new ones start at their drop count)
    // ≡ the counted index the oracle rebuilds from the union corpus
    "q_exact_append" -> { (s, dir) =>
      val all = LlmGates.docs(s, dir).select("doc_id", "text")
        .filter(col("doc_id") < 400)
      Forget.appendFingerprints(
        Dedup.exactFingerprintIndexCounted(
          all.filter(col("doc_id") % 2 === 0), "text"),
        all.filter(col("doc_id") % 2 === 1), "text")
    },
    // row 139b — MinHash signature index forget ≡ signatures of the
    // reduced corpus (the oracle re-derives the full MinHash chain)
    "q_forget_neardup" -> { (s, dir) =>
      Forget.removeIds(
          Dedup.minHashSignatures(prior(s, dir), "text", "doc_id"),
          "doc_id", removed(s, dir), "doc_id")
        .withColumn("signature", to_json(col("signature")))
    },
    // row 139c — SimHash index forget ≡ simhashes of the reduced corpus
    "q_forget_simhash" -> { (s, dir) =>
      Forget.removeIds(
        Dedup.simHashes(prior(s, dir), "text", "doc_id"),
        "doc_id", removed(s, dir), "doc_id")
    },
    // row 139d — embedding-table forget: the ANN/near-dup index side
    // minus removed ids, value-checked through the rounded L2 norm
    "q_forget_embed" -> { (s, dir) =>
      val e = LlmGates.embs(s, dir).select("vec_id", "embedding")
        .filter(col("vec_id") < 400)
      Forget.removeIds(e, "vec_id",
          e.filter(col("vec_id") % 6 === 0), "vec_id")
        .select(col("vec_id"),
          round(sqrt(aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 4)
            .as("l2"))
    },
    // row 139e — the full VERSIONED lifecycle on the stream index:
    // initVersioned(v1) → rewriteVersioned(removeIds)(v2) →
    // readCurrent ≡ the stream index rebuilt from the reduced corpus
    // (no fixture bucket is capped, so conservative-equal is equal)
    "q_forget_stream_index" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-forget-gate").toString
      Forget.initVersioned(
        Dedup.nearDupStreamIndex(
          Dedup.minHashSignatures(prior(s, dir), "text", "doc_id")),
        out)
      Forget.rewriteVersioned(s, out)(idx =>
        Forget.removeIds(idx, "index_id", removed(s, dir), "doc_id"))
      Forget.readCurrent(s, out)
        .withColumn("index_signature", to_json(col("index_signature")))
    },
    // §2 row 153 (bm25 arm) — forget over the persisted BM25 index:
    // the index carries CORPUS aggregates (df/N/avgdl), so a bare
    // anti-join would leave stale statistics shifting every surviving
    // score; the sidecar forget's tombstones + exact decrements are
    // read out through bm25SidecarRows and pinned ROW-FOR-ROW against
    // the index the oracle rebuilds from the reduced corpus — every tf,
    // dl, decremented df, and the exact recomputed N/avgdl/sum_dl
    "q_forget_bm25" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-forget-bm25").toString
      graft.operators.Retrieval.bm25SidecarWrite(prior(s, dir), "text", "doc_id", out)
      graft.operators.Retrieval.bm25SidecarForget(s, out, removed(s, dir), "doc_id")
      CorpusGates.bm25IndexRows(graft.operators.Retrieval.bm25SidecarRows(s, out))
    }
  )

  /** Reduced-corpus CTE shared by the rebuild oracles. */
  private val ReducedCte =
    """reduced AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id < 400 AND doc_id % 2 = 0 AND doc_id % 6 <> 0)""".stripMargin

  private def sigCteOverReduced: String =
    LlmGates.docSigCte("reduced")
      .replaceFirst("^WITH ", s"WITH $ReducedCte,\n")

  val oracleSql: Map[String, String] = Map(
    "q_exact_append" ->
      s"""SELECT md5(${LlmGates.NormSql}) AS fingerprint,
         |       count(*) AS n_docs
         |FROM documents WHERE doc_id < 400 GROUP BY 1""".stripMargin,
    "q_forget_exact" ->
      s"""WITH prior AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id < 400 AND doc_id % 2 = 0
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents
         |  WHERE doc_id < 400 AND doc_id % 20 = 0),
         |red AS (
         |  SELECT * FROM prior WHERE NOT (doc_id < 400 AND doc_id % 6 = 0))
         |SELECT md5(${LlmGates.NormSql}) AS fingerprint,
         |       count(*) AS n_docs
         |FROM red GROUP BY 1""".stripMargin,
    "q_forget_neardup" ->
      s"""$sigCteOverReduced
         |SELECT doc_id, to_json(sig) AS signature FROM sig""".stripMargin,
    "q_forget_simhash" ->
      s"""WITH $ReducedCte,
         |d AS (
         |  SELECT doc_id, ${LlmGates.NormSql} AS norm,
         |         ${LlmGates.wordsSql()} AS w FROM reduced),
         |wh AS (
         |  SELECT doc_id, list_transform(w, x -> ${LlmGates.h60("x")}) AS h FROM d)
         |SELECT doc_id,
         |       list_sum(list_transform(range(0, 60), b ->
         |         CASE WHEN list_sum(list_transform(h,
         |                     v -> CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |              THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
         |FROM wh""".stripMargin,
    "q_forget_embed" ->
      """SELECT vec_id,
        |       round(sqrt(list_sum(list_transform(embedding,
        |                    x -> x::DOUBLE * x::DOUBLE))), 4) AS l2
        |FROM embeddings
        |WHERE vec_id < 400 AND vec_id % 6 <> 0""".stripMargin,
    "q_forget_stream_index" ->
      s"""$sigCteOverReduced,
         |bands AS (
         |  SELECT doc_id, rt.b AS band,
         |         array_to_string(list_transform(sig[rt.b*4+1:rt.b*4+4],
         |                                        v -> v::VARCHAR), ',') AS band_key,
         |         to_json(sig) AS index_signature
         |  FROM sig, range(0, 4) rt(b)),
         |ok AS (
         |  SELECT band, band_key FROM bands
         |  GROUP BY band, band_key HAVING count(*) <= 1024)
         |SELECT band, band_key, doc_id AS index_id, index_signature
         |FROM bands JOIN ok USING (band, band_key)""".stripMargin,
    "q_forget_bm25" ->
      s"""WITH $ReducedCte,
         |d AS (SELECT doc_id, ${LlmGates.wordsSql()} AS w FROM reduced),
         |dt AS (SELECT doc_id, len(w) AS dl, w FROM d),
         |post AS (SELECT doc_id, dl, unnest(w) AS word FROM dt),
         |tft AS (SELECT word, doc_id, dl, count(*) AS tf
         |        FROM post GROUP BY 1, 2, 3),
         |dft AS (SELECT word, count(*) AS df FROM tft GROUP BY 1),
         |stats AS (SELECT count(*) AS n_docs,
         |                 round(coalesce(avg(dl), 0.0), 6) AS avgdl,
         |                 coalesce(sum(dl), 0)::BIGINT AS sum_dl FROM dt)
         |SELECT word, doc_id, tf, dl, df, n_docs, avgdl, sum_dl
         |FROM tft JOIN dft USING (word) CROSS JOIN stats
         |UNION ALL
         |SELECT NULL AS word, doc_id, 0::BIGINT AS tf, dl, 0::BIGINT AS df,
         |       n_docs, avgdl, sum_dl
         |FROM dt CROSS JOIN stats WHERE dl = 0""".stripMargin
  )
}
