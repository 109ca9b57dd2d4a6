package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{CoOccur, Contamination, Dedup, Dsir, FeatureHash, PhraseMatch, Profile, QualityClassifier, Retrieval, Sampling, Similarity, TextAnalysis, Web}

/**
 * Correctness gates for corpus-level retrieval and distribution
 * analytics (SURVEY.md §2.4 rows 69-71): BM25 targeted selection,
 * unigram KL drift, and character-entropy quality scoring.
 *
 * Oracle strategy: every probability is exact rational arithmetic in
 * doubles (single division, identical operands both engines →
 * bit-identical, rounded at 9 for serialization safety only); every
 * ln-bearing sum rounds at 4-6 to absorb cross-engine libm ulp drift
 * and partial-aggregation order (the q_unigram_nll precedent).
 */
object CorpusGates {

  private def docs(s: SparkSession, dir: String): DataFrame =
    LlmGates.docs(s, dir)

  /** Committed parquet data files of a layout directory (RECURSIVE —
    * generations are hive-partitioned by bucket) as relative-path ->
    * length — the write-accounting witness of the sidecar grow/forget
    * gates (immutable prior generations). */
  private def parquetFiles(dir: String): Map[String, Long] = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    if (!root.exists()) Map.empty
    else walk(root)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => root.toPath.relativize(f.toPath).toString -> f.length()).toMap
  }

  /** Keyword queries over the synthetic corpus vocabulary; query 3
    * carries an out-of-corpus term (zzzmissing) to pin that absent
    * terms contribute nothing rather than poisoning the join. */
  private def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "fast hash join"),
      (2L, "window agg stream"),
      (3L, "customer query zzzmissing"))
      .toDF("query_id", "qtext")
  }

  /** The lifecycle gates' row view of a denormalized index: dl as
    * BIGINT (DuckDB's len()) and the one float, avgdl, rounded for the
    * cross-engine compare. Shared with ForgetGates.q_forget_bm25. */
  private[gates] def bm25IndexRows(rows: DataFrame): DataFrame =
    rows.select(col("word"), col("doc_id"), col("tf"),
      col("dl").cast("long").as("dl"), col("df"), col("n_docs"),
      round(col("avgdl"), 6).as("avgdl"), col("sum_dl"))

  /** The layout generations (`postings-g<id>`, `registry-g<id>`) that
    * the file scans of `plan` read: for each scan root path, the nearest
    * `<name>-g<id>` directory at or above it. A `sparkPlan` holds its
    * scalar subqueries still unplanned, so their scans are not seen.
    * Read off the scan nodes, not the plan string: Spark prints a file
    * location cut at `spark.sql.maxMetadataStringLength` characters, so
    * a long temp dir hides the generation's name. */
  private[graft] def generationsScanned(
    plan: org.apache.spark.sql.execution.SparkPlan
  ): Seq[String] = {
    val roots = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.rootPaths
    }.flatten
    roots.flatMap(p => Iterator.iterate(p)(_.getParent).takeWhile(_ != null)
      .map(_.getName).find(_.matches("[a-z]+-g[0-9]+")))
  }

  /** q_bm25_sidecar_append with its layout under `out`. */
  private[graft] def sidecarAppend(s: SparkSession, dir: String, out: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    val drop = d.filter(col("doc_id") % 2 === 1)
    Retrieval.bm25SidecarWrite(
      d.filter(col("doc_id") % 2 === 0), "text", "doc_id", out)
    // r18 — the collision guard reads the doc-registry sidecar, never
    // a posting generation: pinned on the guarded posting frame's
    // physical plan (every layout file scan in it is a registry path)
    val guard = Retrieval
      .sidecarAppendPostings(s, out, drop, "text", "doc_id")
      .queryExecution.sparkPlan
    val scanned = generationsScanned(guard)
    require(scanned.exists(_.startsWith("registry-g")),
      s"q_bm25_sidecar_append: guard does not read the registry:\n$guard")
    require(!scanned.exists(_.startsWith("postings-g")),
      s"q_bm25_sidecar_append: guard scans posting rows:\n$guard")
    val before = parquetFiles(s"$out/postings-g1")
    val regBefore = parquetFiles(s"$out/registry-g1")
    val dfBefore = parquetFiles(s"$out/df-v1")
    Retrieval.bm25SidecarAppend(s, out, drop, "text", "doc_id")
    val after = parquetFiles(s"$out/postings-g1")
    require(before == after && before.nonEmpty,
      s"q_bm25_sidecar_append: prior posting generation was rewritten " +
        s"by the grow (before=$before after=$after)")
    require(parquetFiles(s"$out/registry-g1") == regBefore && regBefore.nonEmpty,
      "q_bm25_sidecar_append: prior registry generation was rewritten")
    require(parquetFiles(s"$out/postings-g2").nonEmpty,
      "q_bm25_sidecar_append: grow produced no new posting generation")
    require(parquetFiles(s"$out/registry-g2").nonEmpty,
      "q_bm25_sidecar_append: grow produced no new registry generation")
    // r18 — touched-bucket df rewrite: every df-v2 bucket NOT holding
    // drop vocabulary carries df-v1's files byte-for-byte (name +
    // length). At gate scale the drop usually touches every bucket
    // (drop vocab >> 32 buckets — the complement can be empty);
    // RetrievalSpec pins the same accounting on a controlled
    // one-bucket drop where the complement is 7/8 of the layout.
    val touched = drop
      .select(explode(graft.functions.Hashing.normalizedWords(col("text")))
        .as("word"))
      .select(pmod(graft.functions.Hashing.md5Long60(col("word")), lit(32L))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val dfAfter = parquetFiles(s"$out/df-v2")
    val untouched = dfBefore.keySet.filter { rel =>
      val bucket = rel.takeWhile(_ != '/')
      bucket.startsWith("bucket=") &&
        !touched.contains(bucket.stripPrefix("bucket=").toInt)
    }
    untouched.foreach { rel =>
      require(dfAfter.get(rel).contains(dfBefore(rel)),
        s"q_bm25_sidecar_append: untouched df bucket file $rel not " +
          s"carried byte-identically (v1=${dfBefore(rel)} v2=${dfAfter.get(rel)})")
    }
    Retrieval.bm25ScoresFromSidecar(s, out, bm25Queries(s), "query_id", "qtext")
      .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 row 69 — BM25 scoring (the value surface; ranking is a
    // row_number window over these scores, oracle-gated via q_topk_by's
    // WindowGroupLimit pattern and spec-pinned in RetrievalSpec)
    "q_bm25" -> { (s, dir) =>
      Retrieval.bm25Scores(
          docs(s, dir).select("doc_id", "text"), "text", "doc_id",
          bm25Queries(s), "query_id", "qtext")
        .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
    },
    // §2 row 145 — persisted BM25 retrieval index: the stats-sidecar
    // layout is built ONCE from the corpus, round-tripped through
    // parquet (the artifact a real deployment persists), and probed
    // with broadcast query terms — gated under the SAME oracle as
    // q_bm25, so index-probe scores are pinned value-equal to the
    // inline recompute
    "q_bm25_incr" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-bm25idx-gate").toString
      Retrieval.bm25SidecarWrite(
        docs(s, dir).select("doc_id", "text"), "text", "doc_id", out)
      Retrieval.bm25ScoresFromSidecar(s, out, bm25Queries(s), "query_id", "qtext")
        .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
    },
    // §2 row 160 — BM25 index APPEND: the sidecar layout built from
    // HALF the corpus (even ids), then GROWN by the odd half — its live
    // rows read out denormalized (bm25SidecarRows) and pinned
    // ROW-FOR-ROW (every tf, dl, merged df, and the N/avgdl/sum_dl)
    // against the index the oracle rebuilds from the FULL corpus: the
    // definitional "as if built from corpus ∪ drop" contract
    "q_bm25_append" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-bm25app-gate").toString
      val d = docs(s, dir).select("doc_id", "text")
      Retrieval.bm25SidecarWrite(
        d.filter(col("doc_id") % 2 === 0), "text", "doc_id", out)
      Retrieval.bm25SidecarAppend(
        s, out, d.filter(col("doc_id") % 2 === 1), "text", "doc_id")
      bm25IndexRows(Retrieval.bm25SidecarRows(s, out))
    },
    // §2 row 160 — append-then-forget ROUNDTRIP: growing the even-id
    // layout by the odd half and then forgetting exactly those ids must
    // land back on the even-only index, statistic for statistic — the
    // lifecycle-symmetry proof that the sidecar grow and forget run the
    // same arithmetic in opposite directions
    "q_bm25_append_forget" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-bm25rt-gate").toString
      val d = docs(s, dir).select("doc_id", "text")
      val drop = d.filter(col("doc_id") % 2 === 1)
      Retrieval.bm25SidecarWrite(
        d.filter(col("doc_id") % 2 === 0), "text", "doc_id", out)
      Retrieval.bm25SidecarAppend(s, out, drop, "text", "doc_id")
      Retrieval.bm25SidecarForget(s, out, drop.select("doc_id"), "doc_id")
      bm25IndexRows(Retrieval.bm25SidecarRows(s, out))
    },
    // §2 row 160 (layout arm) — grow, then probe through partition
    // pruning: the even-id layout grown by the odd half, probed under
    // the SAME oracle as q_bm25 — lifecycle + pruning together cannot
    // change a score
    "q_bm25_append_part" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-bm25apd-gate").toString
      val d = docs(s, dir).select("doc_id", "text")
      Retrieval.bm25SidecarWrite(
        d.filter(col("doc_id") % 2 === 0), "text", "doc_id", out, buckets = 32)
      Retrieval.bm25SidecarAppend(
        s, out, d.filter(col("doc_id") % 2 === 1), "text", "doc_id")
      Retrieval.bm25ScoresFromSidecar(s, out, bm25Queries(s), "query_id", "qtext")
        .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
    },
    // §2 row 148 — partition-pruned BM25 layout: the sidecar layout is
    // Hive-partitioned by word-hash bucket with its self-describing
    // modulus in the metadata row, probed through bucket partition
    // pruning — same oracle again, so layout cannot change a score
    "q_bm25_part" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-bm25part-gate").toString
      Retrieval.bm25SidecarWrite(
        docs(s, dir).select("doc_id", "text"), "text", "doc_id", out, buckets = 32)
      Retrieval.bm25ScoresFromSidecar(s, out, bm25Queries(s), "query_id", "qtext")
        .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
    },
    // §2 row 164 — STATS-SIDECAR BM25 layout: immutable posting rows,
    // df/N/sum_dl in sidecars, probed under the SAME oracle as q_bm25
    "q_bm25_sidecar" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-bm25sc-gate").toString
      Retrieval.bm25SidecarWrite(
        docs(s, dir).select("doc_id", "text"), "text", "doc_id", out)
      Retrieval.bm25ScoresFromSidecar(s, out, bm25Queries(s), "query_id", "qtext")
        .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
    },
    // §2 row 164 — SUBLINEAR grow: the layout built from the even half,
    // grown by the odd half, probed ≡ the full-corpus oracle — and the
    // gate ASSERTS the write accounting: every pre-existing posting
    // file is byte-identical after the grow (name AND length), new
    // bytes land only in the new generation + sidecars. That accounting
    // is the layout's reason to exist (an index denormalizing the
    // corpus stats onto its rows rewrites every row per grow).
    "q_bm25_sidecar_append" -> { (s, dir) =>
      sidecarAppend(s, dir, java.nio.file.Files
        .createTempDirectory("graft-bm25scapp-gate").toString)
    },
    // §2 row 164 (r18) — sidecar top-k: the WindowGroupLimit ranking
    // over sidecar scores, layout parity with the inline bm25TopK —
    // rank pinned against DuckDB's ROW_NUMBER over the same score
    // arithmetic (doc_id tiebreak both sides)
    "q_bm25_sidecar_topk" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-bm25sctk-gate").toString
      Retrieval.bm25SidecarWrite(
        docs(s, dir).select("doc_id", "text"), "text", "doc_id", out)
      Retrieval.bm25TopKFromSidecar(s, out, bm25Queries(s),
          "query_id", "qtext", k = 5)
        .select(col("query_id"), col("doc_id"),
          round(col("score"), 4).as("score"),
          col("rank").cast("long").as("rank")) // DuckDB row_number is BIGINT
    },
    // §2 row 164 — forget via sidecar deltas: odd ids tombstoned,
    // df/N/sum_dl decremented exactly, posting bytes NEVER rewritten
    // (asserted), probe ≡ the oracle over the reduced corpus
    "q_bm25_sidecar_forget" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-bm25scfg-gate").toString
      val d = docs(s, dir).select("doc_id", "text")
      Retrieval.bm25SidecarWrite(d, "text", "doc_id", out)
      val before = parquetFiles(s"$out/postings-g1")
      Retrieval.bm25SidecarForget(
        s, out, d.filter(col("doc_id") % 2 === 1).select("doc_id"), "doc_id")
      require(parquetFiles(s"$out/postings-g1") == before,
        "q_bm25_sidecar_forget: forget rewrote posting bytes")
      Retrieval.bm25ScoresFromSidecar(s, out, bm25Queries(s), "query_id", "qtext")
        .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
    },
    // §2 row 164 (r18) — GENERATION MERGE: the layout built from half
    // the corpus and grown by two quarter drops (3 live generations),
    // then merged down to 2 — the biggest generation must survive
    // BYTE-IDENTICAL (smallest-first merge economics), the generation
    // count must drop, df files must be untouched (a merge changes no
    // statistic), and the probe stays pinned to the full-corpus oracle
    "q_bm25_sidecar_merge" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-bm25scmg-gate").toString
      val d = docs(s, dir).select("doc_id", "text")
      Retrieval.bm25SidecarWrite(
        d.filter(col("doc_id") % 2 === 0), "text", "doc_id", out)
      (1 to 2).foreach { r =>
        Retrieval.bm25SidecarAppend(
          s, out, d.filter(col("doc_id") % 4 === (2 * r - 1)), "text", "doc_id")
      }
      val dfDir = new java.io.File(out).listFiles()
        .map(_.getName).filter(_.startsWith("df-v")).sorted.last
      val dfBefore = parquetFiles(s"$out/$dfDir")
      val genSizes = (1 to 3).map(g =>
        g -> parquetFiles(s"$out/postings-g$g").values.sum)
      val biggest = genSizes.maxBy(_._2)._1
      val bigBefore = parquetFiles(s"$out/postings-g$biggest")
      Retrieval.bm25SidecarMergeGenerations(s, out, maxGenerations = 2)
      require(parquetFiles(s"$out/postings-g$biggest") == bigBefore,
        "q_bm25_sidecar_merge: the biggest generation was rewritten " +
          "(smallest-first merge violated)")
      require(parquetFiles(s"$out/postings-g4").nonEmpty,
        "q_bm25_sidecar_merge: no merged generation written")
      require(parquetFiles(s"$out/$dfDir") == dfBefore,
        "q_bm25_sidecar_merge: merge touched the df sidecar")
      Retrieval.bm25ScoresFromSidecar(s, out, bm25Queries(s), "query_id", "qtext")
        .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
    },
    // §2 row 164 — compaction: after the forget above, the amortized
    // rewrite purges tombstones into one fresh generation; the probe
    // stays pinned to the same reduced-corpus oracle
    "q_bm25_sidecar_compact" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-bm25scc-gate").toString
      val d = docs(s, dir).select("doc_id", "text")
      Retrieval.bm25SidecarWrite(d, "text", "doc_id", out)
      Retrieval.bm25SidecarForget(
        s, out, d.filter(col("doc_id") % 2 === 1).select("doc_id"), "doc_id")
      Retrieval.bm25SidecarCompact(s, out, out + "-compact")
      require(!new java.io.File(s"$out-compact/removed-v1").exists(),
        "q_bm25_sidecar_compact: compacted layout still carries tombstones")
      Retrieval.bm25ScoresFromSidecar(
          s, out + "-compact", bm25Queries(s), "query_id", "qtext")
        .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
    },
    // §2 row 172 (r18) — HYBRID retrieval fusion: bm25TopK's lexical
    // ranking over documents fused with a brute-force dense cosine
    // ranking over embeddings (query vectors = vec_id 1..3, matching
    // the bm25 query ids) via reciprocal-rank fusion at k0=60 — the
    // fused score is exact rational arithmetic over integer ranks, so
    // DuckDB re-derives scores AND ranks bit-for-bit
    "q_rrf_fusion" -> { (s, dir) =>
      val bm = Retrieval.bm25TopK(
          docs(s, dir).select("doc_id", "text"), "text", "doc_id",
          bm25Queries(s), "query_id", "qtext", k = 10)
        .select("query_id", "doc_id", "rank")
      val e = LlmGates.embs(s, dir).select("vec_id", "embedding")
      val ann = Similarity.bruteForceTopK(
          e, e.filter(col("vec_id").between(1, 3)), "embedding", "vec_id", k = 10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("score").desc, col("neighbor_id"))))
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(bm, ann), k0 = 60, topK = 5)
        .select(col("query_id"), col("doc_id"),
          round(col("rrf_score"), 9).as("rrf_score"),
          col("rank").cast("long").as("rank")) // DuckDB row_number is BIGINT
    },
    // §2 row 172b (r19) — WEIGHTED fusion composed the way a
    // deployment actually runs: the lexical leg reads the persisted
    // SIDECAR layout (bm25TopKFromSidecar — layout parity lets the
    // oracle keep the inline bm25 CTEs) and the dense leg is IVF in
    // its exact-degenerate mode (nProbe = nCentroids, the
    // q_ann_ivf_exact contract — the full IVF machinery must
    // reproduce brute-force cosine, so the oracle needs no k-means),
    // fused at weights 2.0 (lexical) / 1.0 (dense): each contribution
    // stays one double division, scores still bit-exact
    "q_rrf_fusion_weighted" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-rrfw-gate").toString
      val d = docs(s, dir).select("doc_id", "text")
      Retrieval.bm25SidecarWrite(d, "text", "doc_id", out)
      val bm = Retrieval.bm25TopKFromSidecar(
          s, out, bm25Queries(s), "query_id", "qtext", k = 10)
        .select("query_id", "doc_id", "rank")
      val e = LlmGates.embs(s, dir).select("vec_id", "embedding")
      val ann = Similarity.ivfTopK(
          e, e.filter(col("vec_id").between(1, 3)), "embedding", "vec_id",
          k = 10, nCentroids = 16, nProbe = 16)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("score").desc, col("neighbor_id"))))
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(bm, ann), k0 = 60, topK = 5,
          weights = Some(Seq(2.0, 1.0)))
        .select(col("query_id"), col("doc_id"),
          round(col("rrf_score"), 9).as("rrf_score"),
          col("rank").cast("long").as("rank"))
    },
    // §2 row 172c (r20) — THREE-arm weighted fusion with the PQ leg a
    // 100 TB deployment would actually fuse: sidecar BM25 (lexical) ×
    // exact-degenerate IVF (dense cosine) × PQ ADC→exact-rerank
    // (Pq.adcRerankTopK over the PLANTED codebook — ADC candidates and
    // the L2 re-rank are both fixed-order double arithmetic, so DuckDB
    // re-derives the dense ranks bit-for-bit; kCandidates=30 > k keeps
    // the ADC screen load-bearing), fused at 2.0/1.0/1.0.
    "q_rrf_fusion_pq" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-rrfpq-gate").toString
      val d = docs(s, dir).select("doc_id", "text")
      Retrieval.bm25SidecarWrite(d, "text", "doc_id", out)
      val bm = Retrieval.bm25TopKFromSidecar(
          s, out, bm25Queries(s), "query_id", "qtext", k = 10)
        .select("query_id", "doc_id", "rank")
      val e = LlmGates.embs(s, dir).select("vec_id", "embedding")
      val q = e.filter(col("vec_id").between(1, 3))
      val rankW = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
      val ann = Similarity.ivfTopK(
          e, q, "embedding", "vec_id", k = 10, nCentroids = 16, nProbe = 16)
        .withColumn("rank", row_number().over(
          rankW.orderBy(col("score").desc, col("neighbor_id"))))
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      val cb = VectorGates.plantedPqCodebook(s)
      val pq = graft.operators.Pq.adcRerankTopK(
          e, graft.operators.Pq.encode(e, "embedding", cb), q,
          "embedding", "vec_id", cb, k = 10, kCandidates = 30)
        .withColumn("rank", row_number().over(
          rankW.orderBy(col("dist").asc, col("neighbor_id"))))
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(bm, ann, pq), k0 = 60, topK = 5,
          weights = Some(Seq(2.0, 1.0, 1.0)))
        .select(col("query_id"), col("doc_id"),
          round(col("rrf_score"), 9).as("rrf_score"),
          col("rank").cast("long").as("rank"))
    },
    // §2.4 row 70 — unigram KL drift: corpus A = documents; corpus B =
    // a biased subsample (every 3rd doc) + planted spam flood — the
    // drifted-batch shape the monitor exists to catch
    "q_unigram_kl" -> { (s, dir) =>
      import s.implicits._
      val a = docs(s, dir).select("doc_id", "text")
      val spam = Seq(
        (910001L, "buy cheap pills buy cheap pills buy cheap pills"),
        (910002L, "buy cheap pills now now now"))
        .toDF("doc_id", "text")
      val b = a.filter(col("doc_id") % 3 === 0).unionByName(spam)
      TextAnalysis.unigramDivergence(a, b, "text", vocabSize = 50)
        .select(col("word"),
          round(col("p_a"), 9).as("p_a"),
          round(col("p_b"), 9).as("p_b"),
          round(col("kl_term"), 6).as("kl_term"))
    },
    // §2 row 151 — mojibake repair: corpus text passes through
    // UNTOUCHED (the no-op guarantee — the oracle re-selects raw text
    // for those rows) while planted single- and DOUBLE-encoded
    // mojibake rows repair to hand-derived literals and genuine
    // accented text aborts the inversion (unicode escapes: the
    // fixtures contain the C1 control U+009D a sloppy decoder emits)
    "q_fix_mojibake" -> { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (930001L, "caf\u00C3\u00A9"),
        (930002L, "it\u00E2\u20AC\u2122s a \u00E2\u20AC\u0153test\u00E2\u20AC\u009D \u00E2\u20AC\u201D na\u00C3\u00AFve"),
        (930003L, "it\u00C3\u00A2\u00E2\u201A\u00AC\u00E2\u201E\u00A2s a \u00C3\u00A2\u00E2\u201A\u00AC\u00C5\u201Ctest\u00C3\u00A2\u00E2\u201A\u00AC\u00C2\u009D \u00C3\u00A2\u00E2\u201A\u00AC\u00E2\u20AC\u009D na\u00C3\u0192\u00C2\u00AFve"),
        (930004L, "caf\u00E9 cr\u00E8me stays as written"),
        (930005L, "plain ascii is untouched"),
        (930006L, ""))
        .toDF("doc_id", "text")
      docs(s, dir).filter(col("doc_id") < 200).select("doc_id", "text")
        .unionByName(planted)
        .select(col("doc_id"),
          TextAnalysis.fixMojibake(col("text")).as("fixed"))
    },
    // §2.4 row 71 — character entropy: planted single-char flood (0
    // bits), alternating pair (1 bit), empty and NULL (no distribution)
    "q_char_entropy" -> { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (920001L, Option("aaaaaaaaaaaaaaaa")),
        (920002L, Option("abababababababab")),
        (920003L, Option("")),
        (920004L, Option.empty[String]))
        .toDF("doc_id", "text")
      TextAnalysis.withCharEntropy(
          docs(s, dir).select("doc_id", "text").unionByName(planted),
          "text")
        .select(col("doc_id"), round(col("char_entropy"), 6).as("char_entropy"))
    },
    // §2.4 row 72 — DSIR: target = every 7th doc (a "trusted slice" of
    // the same corpus), raw = the full corpus; 256 hash buckets so the
    // oracle re-derives the whole dense model
    "q_dsir_model" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      Dsir.logRatioModel(d.filter(col("doc_id") % 7 === 0), d, "text", nBuckets = 256)
        .select(col("bucket"), round(col("log_ratio"), 6).as("log_ratio"))
    },
    "q_dsir_weights" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val model = Dsir.logRatioModel(d.filter(col("doc_id") % 7 === 0), d, "text", nBuckets = 256)
      Dsir.importanceWeights(d, model, "text", "doc_id")
        .select(col("doc_id"), round(col("weight"), 4).as("weight"))
    },
    // §2.4 row 83 — fastText-style linear quality scoring under a
    // LITERAL weight spine (the deployment shape: the model is fitted
    // offline — QualityClassifierSpec drives fit() — and scoring is the
    // 100 TB operation): w(b) = ((b % 7) − 3)/10, bias 0.1, 256 buckets
    // over the shared DSIR gram space, score = sigmoid(bias + mean w)
    "q_quality_score" -> { (s, dir) =>
      val weights = s.range(256).select(col("id").as("bucket"),
        (((col("id") % 7) - 3) / lit(10.0)).as("weight"))
      QualityClassifier.score(
          docs(s, dir).select("doc_id", "text"), weights, "text", "doc_id",
          bias = 0.1)
        .select(col("doc_id"), round(col("quality_score"), 6).as("quality_score"))
    },
    // §2.4 row 83b — the same scoring as a ZERO-SHUFFLE row-local
    // projection (spine embedded as a plan literal): must value-match
    // the joined spelling's oracle exactly
    "q_quality_score_inline" -> { (s, dir) =>
      val weights = s.range(256).select(col("id").as("bucket"),
        (((col("id") % 7) - 3) / lit(10.0)).as("weight"))
      QualityClassifier.scoreInline(
          docs(s, dir).select("doc_id", "text"), weights, "text", "doc_id",
          bias = 0.1)
        .select(col("doc_id"), round(col("quality_score"), 6).as("quality_score"))
    },
    // §2.4 row 83c — the FITTED binary arm, oracle-gated end to end: a
    // planted-separation fixture (disjoint good/bad vocabularies) is
    // fitted live and self-scored; the oracle re-derives the decision
    // boundary from the plant formula. Prediction parity (not raw
    // float weights) makes the gate robust to gradient-sum ordering
    // while still failing on any fit/score regression that moves a
    // decision
    "q_quality_fit" -> { (s, _) =>
      import s.implicits._
      val good = (0 until 20).map(i => (950000L + i,
        s"alpha$i excellent wonderful brilliant superb insightful", 1.0))
      val bad = (0 until 20).map(i => (951000L + i,
        s"beta$i terrible awful garbage dreadful spammy", 0.0))
      val train = (good ++ bad).toDF("doc_id", "text", "label")
      val model = QualityClassifier.fit(train, "text", "label", "doc_id",
        nBuckets = 64, iters = 30)
      QualityClassifier.scoreInline(
          train.select("doc_id", "text"), model.weights, "text", "doc_id",
          bias = model.bias)
        .select(col("doc_id"),
          (col("quality_score") > 0.5).cast("int").as("predicted"))
    },
    // §2.4 row 83d — the fitted MULTI-class arm (softmax regression +
    // row-local argmax scoring), same planted-separation strategy with
    // three disjoint vocabularies
    "q_quality_fit_multi" -> { (s, _) =>
      import s.implicits._
      val en = (0 until 15).map(i => (960000L + i,
        s"gamma$i the quick brown fox jumps", "en"))
      val fr = (0 until 15).map(i => (961000L + i,
        s"delta$i le chat noir dort bien", "fr"))
      val de = (0 until 15).map(i => (962000L + i,
        s"eps$i der hund lauft schnell heute", "de"))
      val train = (en ++ fr ++ de).toDF("doc_id", "text", "label")
      val model = QualityClassifier.fitMulti(train, "text", "label", "doc_id",
        nBuckets = 64, iters = 40)
      QualityClassifier.scoreMultiInline(
          train.select("doc_id", "text"), model, "text", "doc_id")
        .select("doc_id", "label_pred")
    },
    // §2 row 118 — signed feature hashing (hashing-trick TF): every
    // nonzero (doc, bucket) weight re-derived by the oracle from the
    // same portable md5 bucket/sign formulas (the q_embed_project
    // precedent — no vocabulary to agree on, which is the point)
    "q_feature_hash" -> { (s, dir) =>
      FeatureHash.hashedTf(docs(s, dir), "text", "doc_id", dim = 64)
    },
    // §2 row 135 — accent folding: NFD + strip \p{M} + NFC must agree
    // with DuckDB's strip_accents on decomposable accents AND on the
    // non-transliteration contract (ß/Ø/æ pass through unchanged)
    "q_fold_accents" -> { (s, _) =>
      import s.implicits._
      val rows = Seq(
        (1L, "café crème brûlée"),
        (2L, "Müller straße"),
        (3L, "naïve façade piñata"),
        (4L, "Ångström Ørsted æon"),
        (5L, "plain ascii stays"),
        (6L, null.asInstanceOf[String]))
      rows.toDF("id", "text")
        .select(col("id"), TextAnalysis.foldAccents(col("text")).as("folded"))
    },
    // §2 row 138 — UAX#29 word segmentation: planted multilingual
    // fixtures with HAND-PINNED boundaries as a constant-table oracle
    // (the q_multimodal precedent — the JDK segmenter has no DuckDB
    // analogue, so the oracle pins the exact expected segmentation:
    // Chinese/Japanese per ideograph, Katakana/Hangul/Thai runs, Latin
    // keeping internal apostrophes and decimal points, punctuation
    // segments dropped)
    "q_uax29" -> { (s, _) =>
      import s.implicits._
      val rows = Seq(
        (1L, "Hello, world! It's 3.5 miles."),
        (2L, "我爱大规模数据处理引擎"),
        (3L, "日本語のテキストです"),
        (4L, "スパークとカタカナ"),
        (5L, "한국어 텍스트 처리"),
        (6L, "สวัสดีครับ ยินดีต้อนรับ"),
        (7L, "naïve café résumé"),
        (8L, "C++ is fun; x2=4"),
        (9L, "我爱Spark和DataFrame"),
        (10L, ""))
      rows.toDF("id", "text")
        .select(col("id"),
          TextAnalysis.uax29TokenCount(col("text")).as("n_tokens"),
          concat_ws("|", TextAnalysis.uax29Words(col("text"))).as("words"))
    },
    // §2 row 143 — UAX#29 sentence segmentation: hand-pinned boundary
    // fixtures (validated against UAX#29's default rules: terminator +
    // lowercase does NOT break, "Dr." DOES — no abbreviation list in
    // the default rules — CJK 。 breaks, trailing whitespace attaches,
    // an unterminated tail is its own sentence); segments must
    // partition the text losslessly, so the oracle pins EXACT strings
    // including attached whitespace
    "q_uax29_sentences" -> { (s, _) =>
      import s.implicits._
      val rows = Seq(
        (1L, "First sentence. Second one! Third? 第一。第二。"),
        (2L, "Dr. Smith arrived. He sat down."),
        (3L, "No terminal punctuation here"),
        (4L, "Trailing spaces.   "),
        (5L, "A. b stays joined. C starts new."),
        (6L, "Line one.\nLine two."),
        (7L, ""))
      rows.toDF("id", "text")
        .select(col("id"),
          posexplode(TextAnalysis.uax29Sentences(col("text"))))
        .toDF("id", "sent_idx", "sentence")
    },
    // §2 row 143 — sentence-preserving chunking (greedy pack, ws
    // tokens, maxTokens = 5): hand-derived chunks — exact budget fits,
    // an oversized sentence alone in its own chunk, and chunks that
    // concatenate back to the document byte-for-byte
    "q_sent_chunks" -> { (s, _) =>
      import s.implicits._
      val rows = Seq(
        (1L, "One two three. Four five. Six seven eight nine. Ten."),
        (2L, "This single sentence has way more than five tokens total. Tiny one."),
        (3L, "One two. Three four. Five six."),
        (4L, ""),
        (5L, null.asInstanceOf[String]))
      graft.operators.Chunking.chunkBySentences(
        rows.toDF("id", "text"), "text", "id", maxTokens = 5)
    },
    // §2 row 130 — snapshot drift report: a formula-derived "refresh"
    // (rows dropped, text nulled, n_chars retyped, source removed,
    // quality added) vs the original; the oracle re-derives schema rows
    // as constants and every metric from the same formulas
    "q_snapshot_drift" -> { (s, dir) =>
      val old = docs(s, dir).select("doc_id", "text", "lang", "source", "n_chars")
      val neu = old.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 10 === 0, lit(null).cast("string"))
            .otherwise(col("text")))
        .withColumn("n_chars", col("n_chars").cast("double"))
        .withColumn("quality", lit(1.0))
        .drop("source")
      Profile.drift(old, neu)
        .select(col("kind"), col("column"), col("old_type"), col("new_type"),
          round(col("old_val"), 6).as("old_val"),
          round(col("new_val"), 6).as("new_val"),
          round(col("delta"), 6).as("delta"))
    },
    // §2 row 126 — out-link extraction + RFC 3986-lite resolution over a
    // formula-planted HTML fixture (the q_phrase_match strategy: the
    // oracle re-derives every resolved URL and anchor from the plant
    // formulas — absolute, root-relative, sibling-relative, ../-up, and
    // skipped fragment/mailto links all exercised per row)
    "q_extract_links" -> { (s, _) =>
      import s.implicits._
      val rows = (0L until 120L).map { i =>
        val base = s"http://site${i % 7}.com/dir${i % 3}/sub/page.html"
        val html =
          s"""<p><a href="http://abs$i.example/p">Abs $i</a></p>""" +
            s"""<a href="/r/$i">Root</a>""" +
            s"""<a href="s$i.html">Sib <b>$i</b></a>""" +
            s"""<a href="../u$i.html">Up</a>""" +
            s"""<a href="#frag">skip</a><a href="mailto:a@b.c">skip</a>"""
        (i, html, base)
      }
      Web.extractLinks(rows.toDF("doc_id", "html", "url"), "html", "url")
        .select("doc_id", "link_url", "anchor_text")
    },
    // §2 row 124 — PMI co-occurrence (window 3): counts exact, the
    // ln-bearing score rounded at 4 (the q_unigram_nll precedent)
    "q_pmi" -> { (s, dir) =>
      CoOccur.pmi(docs(s, dir), "text", window = 3)
        .withColumn("pmi", round(col("pmi"), 4))
    },
    // §2 row 125 — Efraimidis–Spirakis weighted sample (k=50 by
    // n_chars): the oracle re-derives every A-Res key from the same
    // portable hash and takes the same top-k
    "q_weighted_sample" -> { (s, dir) =>
      Sampling.weightedSample(docs(s, dir), "n_chars", "doc_id", k = 50)
        .select(col("doc_id"), round(col("es_key"), 6).as("es_key"))
    },
    // §2.4 row 110 — Aho–Corasick phrase blocklist: planted needles at
    // formula positions, one automaton pass matches all patterns incl.
    // the case-insensitive arm; the oracle re-derives every row's match
    // set (original pattern forms, pattern-list order) from the plant
    "q_phrase_match" -> { (s, _) =>
      import s.implicits._
      val docs = (0 until 100).map { i =>
        (i.toLong,
          s"row $i contains Token" +
            (if (i % 3 == 0) " needle one" else "") +
            (if (i % 5 == 0) " bad phrase" else ""))
      }.toDF("doc_id", "text")
      PhraseMatch.withMatches(docs, "text",
          Seq("needle one", "bad phrase", "TOKEN", "absent marker"))
        .select(col("doc_id"),
          array_join(col("matched_phrases"), ",").as("matched"))
    },
    // §2.4 row 111 — one-scan corpus profiler: exact metrics compared
    // value-for-value, sketch-backed metrics (HLL distincts, KLL
    // quantiles) as band verdicts computed in-plan against exact
    // aggregates (the q_hll_distinct precedent)
    // §2 row 144 — one-pass correlation/covariance matrix over the
    // lineitem numerics (6 pairs from one agg; a planted NULL row and
    // a planted uncastable-free frame exercise pairwise-complete
    // counting); corr is scale-free → round 6, covar carries the
    // columns' raw magnitude → round 4 (error headroom ~1e5 over the
    // engines' co-moment summation differences)
    "q_corr_matrix" -> { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(
          col("l_quantity").cast("double").as("qty"),
          when(col("l_orderkey") % 1000 === 0, lit(null).cast("double"))
            .otherwise(col("l_extendedprice").cast("double")).as("price"),
          col("l_discount").cast("double").as("disc"),
          col("l_tax").cast("double").as("tax"))
      // "+ 0" collapses IEEE −0.0 to +0.0 on both engines (a covar a
      // hair below zero rounds to −0.0 in one engine and 0.0 in the
      // other; −0.0 + 0.0 = +0.0 by IEEE 754)
      Profile.correlations(li, Seq("qty", "price", "disc", "tax"))
        .select(col("col_a"), col("col_b"), col("n_pairs"),
          (round(col("covar"), 4) + lit(0)).as("covar"),
          (round(col("corr"), 6) + lit(0)).as("corr"))
    },
    "q_corpus_profile" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars", "text")
      val p = Profile.profile(docs).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      val exact = docs.agg(
        count(lit(1)).as("n"),
        countDistinct(col("doc_id")).cast("double").as("d_id"),
        countDistinct(col("lang")).cast("double").as("d_lang"),
        countDistinct(col("n_chars")).cast("double").as("d_nc"),
        countDistinct(col("text")).cast("double").as("d_text"),
        (sum((col("doc_id") <= p(("doc_id", "p50")).get).cast("long")).cast("double") /
          count(lit(1))).as("r_id"),
        (sum((col("n_chars") <= p(("n_chars", "p50")).get).cast("long")).cast("double") /
          count(lit(1))).as("r_nc")).collect().head
      def distOk(c: String, ex: Double): Double =
        if (math.abs(p((c, "distinct_est")).get - ex) / ex <= 0.05) 1.0 else 0.0
      val rows = Seq("doc_id", "lang", "n_chars", "text").flatMap { c =>
        Seq(
          (c, "n_rows", p((c, "n_rows"))),
          (c, "n_null", p((c, "n_null"))),
          (c, "null_rate", p((c, "null_rate")).map(v => math.rint(v * 1e6) / 1e6)))
      } ++ Seq(
        ("doc_id", "distinct_ok", Some(distOk("doc_id", exact.getDouble(1)))),
        ("lang", "distinct_ok", Some(distOk("lang", exact.getDouble(2)))),
        ("n_chars", "distinct_ok", Some(distOk("n_chars", exact.getDouble(3)))),
        ("text", "distinct_ok", Some(distOk("text", exact.getDouble(4))))
      ) ++ Seq("doc_id", "n_chars").flatMap { c =>
        Seq(
          (c, "min", p((c, "min"))),
          (c, "max", p((c, "max"))),
          (c, "mean", p((c, "mean")).map(v => math.rint(v * 1e4) / 1e4)))
      } ++ Seq(
        ("doc_id", "p50_rank_ok",
          Some(if (math.abs(exact.getDouble(5) - 0.5) <= 0.1) 1.0 else 0.0)),
        ("n_chars", "p50_rank_ok",
          Some(if (math.abs(exact.getDouble(6) - 0.5) <= 0.1) 1.0 else 0.0)))
      import s.implicits._
      rows.map { case (c, m, v) => (c, m, v) }.toDF("column", "metric", "value")
    },
    // the full selection key surface: weight, hash-Gumbel noise, and the
    // resampling key at τ=2 — the top-n cut over `key` is the already-
    // gated TakeOrdered pattern (DsirSpec pins the plan + determinism)
    "q_dsir_keys" -> { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val model = Dsir.logRatioModel(d.filter(col("doc_id") % 7 === 0), d, "text", nBuckets = 256)
      Dsir.gumbelKeys(
          Dsir.importanceWeights(d, model, "text", "doc_id"),
          tau = 2.0, seed = "dsir")
        .select(col("doc_id"), round(col("weight"), 4).as("weight"),
          round(col("gumbel"), 6).as("gumbel"), round(col("key"), 4).as("key"))
    },
    // §2.4 row 73 — HTML → text: script/style/comment blocks dropped
    // wholesale, tags stripped, entities decoded one level (the
    // double-escape plant pins the decode ORDER); markup-free corpus
    // docs pass through byte-identical
    "q_strip_html" -> { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (930001L, Option("<html><head><SCRIPT type=\"x\">var a=1;</SCRIPT>" +
          "<style>.x{color:red}</style></head><!-- note --><body>" +
          "<p>Hi &amp;lt; &lt;b&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b</p></body></html>")),
        (930002L, Option("no markup here")),
        (930003L, Option("<div class=\"a\"><span>nested <b>bold</b></span> tail</div>")),
        (930004L, Option("loose &amp; entity &gt; here")),
        (930005L, Option.empty[String]),
        (930006L, Option("1<2 but 5>3 and <em>real</em> tag")))
        .toDF("doc_id", "text")
      docs(s, dir).select("doc_id", "text").unionByName(planted)
        .select(col("doc_id"), md5(Web.stripHtml(col("text"))).as("text_md5"))
    },
    // §2.4 row 76 — span-level decontamination: every 10th doc gets the
    // eval sentence spliced on; the span (and ONLY the span) must come
    // back out, short docs pass through, NULL text stays NULL
    "q_decontam_spans" -> { (s, dir) =>
      import s.implicits._
      val evalSet = Seq((1L, "the secret benchmark answer sequence"))
        .toDF("doc_id", "text")
      val planted = Seq(
        (950001L, Option("short doc")),
        (950002L, Option.empty[String]))
        .toDF("doc_id", "text")
      val corpus = docs(s, dir).select(
          col("doc_id"),
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" the secret benchmark answer sequence")))
            .otherwise(col("text")).as("text"))
        .unionByName(planted)
      Contamination.decontaminateSpans(corpus, evalSet, "text", "doc_id", k = 5)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_tokens_removed"))
    },
    // §2.4 row 80 — corpus-self duplicate-span removal (ExactSubstr):
    // every 10th doc gets the same fabricated sentence appended — the
    // lowest-id occurrence keeps it, every other loses exactly it; a
    // planted within-doc repeat loses its second half; short docs and
    // NULL pass through byte-verbatim
    "q_dup_spans" -> { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (970001L, Option("aa1 bb2 cc3 dd4 ee5 ff6 gg7 aa1 bb2 cc3 dd4 ee5 ff6 gg7")),
        (970002L, Option("short doc")),
        (970003L, Option.empty[String]))
        .toDF("doc_id", "text")
      val corpus = docs(s, dir).select(
          col("doc_id"),
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8")))
            .otherwise(col("text")).as("text"))
        .unionByName(planted)
      Dedup.dropDuplicateSpans(corpus, "text", "doc_id", k = 6)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_tokens_removed"))
    },
    // §2.4 row 77 — eval-side leakage report: slice items are fully
    // contained (leakage 1), a gibberish plant scores 0, and a
    // corpus-prefix + gibberish-suffix plant lands strictly between
    "q_eval_overlap" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select("doc_id", "text")
      val partial = d.filter(col("doc_id") === 0)
        .select(lit(960002L).as("doc_id"),
          concat(col("text"), lit(" zzq1 zzq2 zzq3 zzq4 zzq5")).as("text"))
      val evalSet = d.filter(col("doc_id") % 100 === 7)
        .unionByName(Seq((960001L, "zz1 zz2 zz3 zz4")).toDF("doc_id", "text"))
        .unionByName(partial)
      Contamination.evalOverlapReport(d, evalSet, "text", "doc_id", k = 3)
        .withColumn("leakage", round(col("leakage"), 6))
    },
    // §2.4 row 75 — URL canonicalization: fragments, tracking params
    // (leading/mid/trailing/only), mixed-case scheme+host, default and
    // non-default ports, schemeless and NULL inputs all pinned
    "q_url_canonical" -> { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (940001L, Option("HTTP://Example.COM:80/Path/Sub?b=2&utm_source=x&a=1#frag")),
        (940002L, Option("https://example.com:443/a?utm_a=1&utm_b=2")),
        (940003L, Option("https://example.com:8443/a?gclid=z&real=1")),
        (940004L, Option("example.com/NoScheme?fbclid=1&keep=2")),
        (940005L, Option("http://user@Example.com:80/x")),
        (940006L, Option("http://example.com/plain")),
        (940007L, Option.empty[String]),
        (940008L, Option("http://EXAMPLE.com?to=Bob@Mail.com")),  // '@' in query is NOT userinfo
        (940009L, Option("http://x.com/a&utm_b=2/more")),         // '&' in path untouched
        (940010L, Option("https://x.com/a?UTM_Source=n&b=1")))    // param names case-insensitive
        .toDF("doc_id", "url")
      val base = docs(s, dir).select(col("doc_id"),
        concat(lit("https://Site"), col("doc_id") % 17,
          lit(".example.org/d/"), col("doc_id"),
          lit("?utm_campaign=c"), col("doc_id"), lit("&id="), col("doc_id"),
          lit("#s")).as("url"))
      Web.withCanonicalUrl(base.unionByName(planted), "url")
        .select("doc_id", "canonical_url")
    },
    // §2.4 row 74 — quantile-threshold bucketing (exact boundaries ≡
    // quantile_cont; the n=500/5000 corpus makes every interpolation
    // fraction dyadic, so boundary doubles are bit-identical)
    "q_quantile_bucket" -> { (s, dir) =>
      val withTok = docs(s, dir).select(
        col("doc_id"), TextAnalysis.wsTokenCount(col("text")).as("tok"))
      Sampling.withQuantileBucket(withTok, "tok", nBuckets = 4)
        .select("doc_id", "tok", "q_bucket")
    },
    // §2 row 155 — C4-style line cleaning over synthesized crawl pages:
    // each doc becomes a multi-line page of prose chunks (terminal '.')
    // interleaved with boilerplate (a punctuation-free nav line, a
    // javascript notice), every 7th page poisoned with a '{' line
    // (page-level drop), every 11th page cut to 2 prose lines (below
    // minLines). The oracle re-derives every line verdict and rebuild
    "q_c4_clean" -> { (s, dir) =>
      val pageBody = (nChunks: Int) => concat_ws("\n",
        (lit("Cookie Settings and Navigation Menu") +:
          (0 until nChunks).flatMap(i => Seq(
            concat(substring(col("text"), 1 + 40 * i, 40), lit(".")),
            if (i == 0) lit("Please enable javascript to view this page.")
            else lit("Share | Print | Top")
          ))).toIndexedSeq: _*)
      val pages = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, pageBody(2))
            .when(col("doc_id") % 7 === 0,
              concat(pageBody(5), lit("\nfunction() { return 0; }")))
            .otherwise(pageBody(5)).as("text"))
      TextAnalysis.c4Clean(pages, "text").select("doc_id", "text")
    },
    // §2 row 162 — MULTILINGUAL C4 terminal set, the q_curation_uax29
    // contrast pattern: corpus pages re-terminated with 。/！ plus
    // planted CJK fixtures run through BOTH arms — under
    // CjkTerminators the CJK prose survives and boilerplate/flagged/
    // short pages die; under the paper's ASCII set (the default the
    // pipeline fail-louds about) every CJK line dies and the pages
    // vanish. The oracle re-derives both arms line by line
    "q_c4_clean_cjk" -> { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (950001L, "これは散文です。\n二番目の文です！\n三番目ですか？\nメニュー ナビゲーション"),
        (950002L, "コードを含む{ページ。\n散文です。\n三つ目の文。"),
        (950003L, "一行だけです。\nメニュー"),
        (950004L, "Mixed ascii line.\n日本語の文…\n「引用」\nその通り。"))
        .toDF("doc_id", "text")
      val pages = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), concat_ws("\n",
          lit("ナビゲーション メニュー"),
          concat(substring(col("text"), 1, 40), lit("。")),
          concat(substring(col("text"), 41, 40), lit("！")),
          lit("Please enable javascript to view this page。")).as("text"))
        .unionByName(planted)
      val cjk = TextAnalysis.c4Clean(pages, "text",
          minWordsPerLine = 1, minLines = 2,
          terminators = graft.functions.C4LinesExpr.CjkTerminators)
        .select(col("doc_id"), lit("cjk").as("arm"), col("text"))
      val ascii = TextAnalysis.c4Clean(pages, "text",
          minWordsPerLine = 1, minLines = 2)
        .select(col("doc_id"), lit("ascii").as("arm"), col("text"))
      cjk.unionByName(ascii)
    },
    // §2 row 157 — token-budget selection: the maximal (n_chars DESC,
    // doc_id ASC)-prefix whose ws-token sum fits 20000 tokens, exact
    // long cumsum — the oracle is the definitional running-sum window
    "q_budget_select" -> { (s, dir) =>
      val t = docs(s, dir).select(col("doc_id"), col("n_chars"),
        TextAnalysis.wsTokenCount(col("text")).as("toks"))
      Sampling.selectByBudget(t, "toks", budget = 20000L,
          orderBy = Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("toks").cast("long").as("toks"))
    },
    // §2 row 157b — per-group budgets: an independent 5000-token cap
    // per language (n_chars DESC, doc_id ASC order within each) — the
    // oracle is the partitioned running-sum window verbatim
    "q_budget_select_group" -> { (s, dir) =>
      val t = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"),
        TextAnalysis.wsTokenCount(col("text")).as("toks"))
      Sampling.selectByBudgetPerGroup(t, "toks", budget = 5000L,
          groupCol = "lang",
          orderBy = Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("lang"), col("toks").cast("long").as("toks"))
    },
    // §2 row 157b (ranged arm) — the SAME per-group budgets through
    // the range-partitioned grouped running total (parallel WITHIN
    // groups — the few-giant-groups spelling); same oracle as
    // q_budget_select_group, so the two arms are pinned value-equal
    "q_budget_select_ranged" -> { (s, dir) =>
      val t = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"),
        TextAnalysis.wsTokenCount(col("text")).as("toks"))
      Sampling.selectByBudgetPerGroup(t, "toks", budget = 5000L,
          groupCol = "lang",
          orderBy = Seq(col("n_chars").desc, col("doc_id").asc),
          ranged = true)
        .select(col("doc_id"), col("lang"), col("toks").cast("long").as("toks"))
    },
    // §2 row 158 — ORC source/sink (Spark-native columnar alternative
    // to parquet; readers exist in every warehouse engine): the corpus
    // round-trips through ORC files value- and type-identically — the
    // oracle reads the SOURCE parquet, so any ORC write/read
    // infidelity (types, nulls, row loss) hash-mismatches
    "q_orc_roundtrip" -> { (s, dir) =>
      val out = java.nio.file.Files
        .createTempDirectory("graft-orc-gate").toString
      docs(s, dir).select("doc_id", "text", "lang", "n_chars")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
    }
  )

  /** q_quality_score oracle — shared verbatim by the joined (score)
    * and row-local (scoreInline) gates: same math, same literals. */
  private lazy val QualityScoreSql: String = {
      val gram = s"""list_concat(w, CASE WHEN len(w) >= 2
                    |    THEN list_transform(range(len(w) - 1), j -> w[j+1] || ' ' || w[j+2])
                    |    ELSE CAST([] AS VARCHAR[]) END)""".stripMargin
      s"""WITH d AS (SELECT doc_id, ${LlmGates.wordsSql()} AS w FROM documents),
         |g AS (
         |  SELECT doc_id, (${LlmGates.h60("gram")} % 256) AS bucket
         |  FROM (SELECT doc_id, unnest($gram) AS gram FROM d)),
         |sc AS (
         |  SELECT doc_id,
         |         1.0 / (1.0 + exp(-(0.1 + avg(((bucket % 7) - 3) / 10.0)))) AS q
         |  FROM g GROUP BY doc_id)
         |SELECT doc_id, round(q, 6) AS quality_score FROM sc""".stripMargin
  }

  /** Shared verbatim by q_bm25 (inline), q_bm25_incr (persisted index
    * probe) and the sidecar-layout gates: same corpus (optionally
    * filtered — the sidecar forget gates probe a REDUCED corpus), same
    * queries, same math — the gate family IS the
    * layout-cannot-change-a-score contract. */
  private def bm25CtePrefix(where: String): String = {
      val qnorm = "trim(regexp_replace(lower(qtext), '[^a-z0-9]+', ' ', 'g'))"
      s"""WITH q(query_id, qtext) AS (VALUES
         |  (1::BIGINT, 'fast hash join'),
         |  (2::BIGINT, 'window agg stream'),
         |  (3::BIGINT, 'customer query zzzmissing')),
         |src AS (SELECT doc_id, text FROM documents $where),
         |d AS (SELECT doc_id, ${LlmGates.wordsSql()} AS w FROM src),
         |docs AS (SELECT doc_id, w, len(w)::BIGINT AS dl FROM d),
         |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docs),
         |qt AS (SELECT DISTINCT query_id, word FROM (
         |  SELECT query_id, unnest(${LlmGates.wordsSql(qnorm)}) AS word FROM q)),
         |post AS (
         |  SELECT word, doc_id, dl, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, dl, unnest(w) AS word FROM docs)
         |  WHERE word IN (SELECT word FROM qt)
         |  GROUP BY word, doc_id, dl),
         |dfreq AS (SELECT word, count(*)::BIGINT AS df FROM post GROUP BY word),
         |contrib AS (
         |  SELECT p.word, p.doc_id,
         |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
         |           ((tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + (0.75 * dl) / avgdl))) AS c
         |  FROM post p JOIN dfreq USING (word), stats)""".stripMargin
  }

  private def bm25Sql(where: String = ""): String =
      s"""${bm25CtePrefix(where)}
         |SELECT qt.query_id, c.doc_id, round(sum(c.c), 4) AS score
         |FROM contrib c JOIN qt USING (word)
         |GROUP BY qt.query_id, c.doc_id""".stripMargin

  /** Top-k oracle: the [[bm25Sql]] score arithmetic ranked by DuckDB's
    * own ROW_NUMBER (score desc, doc_id tiebreak — the engine-side
    * ranking uses the same unrounded sum and the same tiebreak, so
    * identical text yields identical within-engine scores and a
    * deterministic order on both sides). */
  private def bm25TopKSql(k: Int): String =
      s"""${bm25CtePrefix("")},
         |s AS (
         |  SELECT qt.query_id, c.doc_id, sum(c.c) AS sc
         |  FROM contrib c JOIN qt USING (word)
         |  GROUP BY qt.query_id, c.doc_id),
         |r AS (
         |  SELECT query_id, doc_id, sc,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY sc DESC, doc_id) AS rank
         |  FROM s)
         |SELECT query_id, doc_id, round(sc, 4) AS score, rank
         |FROM r WHERE rank <= $k""".stripMargin

  private lazy val Bm25Sql: String = bm25Sql()

  /** Full denormalized BM25 index rebuild over a filtered corpus —
    * the definitional oracle for the grow/forget lifecycle gates read
    * through [[graft.operators.Retrieval.bm25SidecarRows]] (the
    * ForgetGates.q_forget_bm25 shape, corpus filter parameterized).
    * Token-free docs ride as NULL-word sentinel rows, matching the
    * layout's registry contract. */
  private def bm25IndexRebuildSql(where: String): String =
    s"""WITH src AS (SELECT doc_id, text FROM documents $where),
       |d AS (SELECT doc_id, ${LlmGates.wordsSql()} AS w FROM src),
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

  def oracleSql: Map[String, String] = Map(
    "q_bm25" -> Bm25Sql,
    "q_bm25_incr" -> Bm25Sql,
    "q_bm25_part" -> Bm25Sql,
    "q_bm25_append" -> bm25IndexRebuildSql(""),
    "q_bm25_append_part" -> Bm25Sql,
    "q_bm25_append_forget" -> bm25IndexRebuildSql("WHERE doc_id % 2 = 0"),
    "q_bm25_sidecar" -> Bm25Sql,
    "q_bm25_sidecar_append" -> Bm25Sql,
    "q_bm25_sidecar_topk" -> bm25TopKSql(5),
    "q_bm25_sidecar_merge" -> Bm25Sql,
    // lexical top-10 (the bm25 CTEs) + dense cosine top-10 (the
    // q_ann_topk arithmetic) fused by 1/(60+rank); sums have at most 2
    // terms (one per list), so the fused doubles are bit-exact
    "q_rrf_fusion" ->
      s"""${bm25CtePrefix("")},
         |s AS (
         |  SELECT qt.query_id, c.doc_id, sum(c.c) AS sc
         |  FROM contrib c JOIN qt USING (word)
         |  GROUP BY qt.query_id, c.doc_id),
         |bm AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY sc DESC, doc_id) AS rank
         |    FROM s) WHERE rank <= 10),
         |ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, v AS qvec FROM ev
         |       WHERE vec_id BETWEEN 1 AND 3),
         |anns AS (
         |  SELECT query_id, ev.vec_id AS doc_id,
         |         list_dot_product(qvec, v) /
         |           (sqrt(list_dot_product(qvec, qvec)) *
         |            sqrt(list_dot_product(v, v))) AS score
         |  FROM qv, ev),
         |ann AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY score DESC, doc_id) AS rank
         |    FROM anns WHERE score IS NOT NULL) WHERE rank <= 10),
         |u AS (
         |  SELECT query_id, doc_id, 1.0::DOUBLE / (60 + rank) AS c FROM bm
         |  UNION ALL
         |  SELECT query_id, doc_id, 1.0::DOUBLE / (60 + rank) AS c FROM ann),
         |f AS (SELECT query_id, doc_id, sum(c) AS fs FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id, round(fs, 9) AS rrf_score, rank FROM (
         |  SELECT query_id, doc_id, fs,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY fs DESC, doc_id) AS rank
         |  FROM f) WHERE rank <= 5""".stripMargin,
    // the weighted arm: same legs (sidecar bm25 ≡ inline bm25 — layout
    // parity; exact-degenerate IVF ≡ brute-force cosine) with
    // 2.0/(60+rank) lexical and 1.0/(60+rank) dense contributions
    "q_rrf_fusion_weighted" ->
      s"""${bm25CtePrefix("")},
         |s AS (
         |  SELECT qt.query_id, c.doc_id, sum(c.c) AS sc
         |  FROM contrib c JOIN qt USING (word)
         |  GROUP BY qt.query_id, c.doc_id),
         |bm AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY sc DESC, doc_id) AS rank
         |    FROM s) WHERE rank <= 10),
         |ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, v AS qvec FROM ev
         |       WHERE vec_id BETWEEN 1 AND 3),
         |anns AS (
         |  SELECT query_id, ev.vec_id AS doc_id,
         |         list_dot_product(qvec, v) /
         |           (sqrt(list_dot_product(qvec, qvec)) *
         |            sqrt(list_dot_product(v, v))) AS score
         |  FROM qv, ev),
         |ann AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY score DESC, doc_id) AS rank
         |    FROM anns WHERE score IS NOT NULL) WHERE rank <= 10),
         |u AS (
         |  SELECT query_id, doc_id, 2.0::DOUBLE / (60 + rank) AS c FROM bm
         |  UNION ALL
         |  SELECT query_id, doc_id, 1.0::DOUBLE / (60 + rank) AS c FROM ann),
         |f AS (SELECT query_id, doc_id, sum(c) AS fs FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id, round(fs, 9) AS rrf_score, rank FROM (
         |  SELECT query_id, doc_id, fs,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY fs DESC, doc_id) AS rank
         |  FROM f) WHERE rank <= 5""".stripMargin,
    // the three-arm fusion: bm25 CTEs + cosine CTEs as in
    // q_rrf_fusion_weighted, plus the PQ leg — planted-codebook encode
    // (VectorGates.pqEncodeCtes: cb/dists/enc), per-query ADC tables,
    // candidate cut at 30, exact L2 re-rank (fixed index-order sums on
    // both engines) — fused at 2.0/1.0/1.0 per (60 + rank)
    "q_rrf_fusion_pq" ->
      s"""${bm25CtePrefix("")},
         |s AS (
         |  SELECT qt.query_id, c.doc_id, sum(c.c) AS sc
         |  FROM contrib c JOIN qt USING (word)
         |  GROUP BY qt.query_id, c.doc_id),
         |bm AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY sc DESC, doc_id) AS rank
         |    FROM s) WHERE rank <= 10),
         |ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, v AS qvec FROM ev
         |       WHERE vec_id BETWEEN 1 AND 3),
         |anns AS (
         |  SELECT query_id, ev.vec_id AS doc_id,
         |         list_dot_product(qvec, v) /
         |           (sqrt(list_dot_product(qvec, qvec)) *
         |            sqrt(list_dot_product(v, v))) AS score
         |  FROM qv, ev),
         |ann AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY score DESC, doc_id) AS rank
         |    FROM anns WHERE score IS NOT NULL) WHERE rank <= 10),
         |${VectorGates.pqEncodeCtes.replaceFirst("^WITH ", "")},
         |pqq AS (SELECT vec_id AS query_id, embedding AS pqv FROM embeddings
         |        WHERE vec_id BETWEEN 1 AND 3),
         |pqt AS MATERIALIZED (
         |  SELECT query_id, code,
         |         list_sum(list_transform(range(1, 33),
         |           i -> (pqv[i]::DOUBLE - a) * (pqv[i]::DOUBLE - a))) AS dlo,
         |         list_sum(list_transform(range(33, 65),
         |           i -> (pqv[i]::DOUBLE - a) * (pqv[i]::DOUBLE - a))) AS dhi
         |  FROM pqq CROSS JOIN cb),
         |pqs AS (
         |  SELECT t0.query_id, enc.vec_id AS neighbor_id,
         |         t0.dlo + t1.dhi AS adc_dist
         |  FROM enc
         |  JOIN pqt t0 ON t0.code = enc.c0
         |  JOIN pqt t1 ON t1.query_id = t0.query_id AND t1.code = enc.c1),
         |pqcand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY adc_dist ASC, neighbor_id) AS rn
         |    FROM pqs) WHERE rn <= 30),
         |pql2 AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         list_sum(list_transform(range(1, 65),
         |           i -> (q.pqv[i]::DOUBLE - e.embedding[i]::DOUBLE) *
         |                (q.pqv[i]::DOUBLE - e.embedding[i]::DOUBLE))) AS dist
         |  FROM pqcand c
         |  JOIN pqq q USING (query_id)
         |  JOIN embeddings e ON e.vec_id = c.neighbor_id),
         |pq AS (
         |  SELECT query_id, neighbor_id AS doc_id, rank FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY dist ASC, neighbor_id) AS rank
         |    FROM pql2) WHERE rank <= 10),
         |u AS (
         |  SELECT query_id, doc_id, 2.0::DOUBLE / (60 + rank) AS c FROM bm
         |  UNION ALL
         |  SELECT query_id, doc_id, 1.0::DOUBLE / (60 + rank) AS c FROM ann
         |  UNION ALL
         |  SELECT query_id, doc_id, 1.0::DOUBLE / (60 + rank) AS c FROM pq),
         |f AS (SELECT query_id, doc_id, sum(c) AS fs FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id, round(fs, 9) AS rrf_score, rank FROM (
         |  SELECT query_id, doc_id, fs,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY fs DESC, doc_id) AS rank
         |  FROM f) WHERE rank <= 5""".stripMargin,
    "q_bm25_sidecar_forget" -> bm25Sql("WHERE doc_id % 2 = 0"),
    "q_bm25_sidecar_compact" -> bm25Sql("WHERE doc_id % 2 = 0"),
    "q_fix_mojibake" -> {
      val orig2 = "'it' || chr(8217) || 's a ' || chr(8220) || 'test' || " +
        "chr(8221) || ' ' || chr(8212) || ' na' || chr(239) || 've'"
      s"""SELECT doc_id, text AS fixed FROM documents WHERE doc_id < 200
         |UNION ALL
         |SELECT 930001, 'caf' || chr(233)
         |UNION ALL SELECT 930002, $orig2
         |UNION ALL SELECT 930003, $orig2
         |UNION ALL SELECT 930004, 'caf' || chr(233) || ' cr' || chr(232) ||
         |  'me stays as written'
         |UNION ALL SELECT 930005, 'plain ascii is untouched'
         |UNION ALL SELECT 930006, ''""".stripMargin
    },
    "q_fold_accents" ->
      """SELECT id, strip_accents(text) AS folded FROM (VALUES
        |  (1::BIGINT, 'café crème brûlée'),
        |  (2::BIGINT, 'Müller straße'),
        |  (3::BIGINT, 'naïve façade piñata'),
        |  (4::BIGINT, 'Ångström Ørsted æon'),
        |  (5::BIGINT, 'plain ascii stays'),
        |  (6::BIGINT, NULL)) t(id, text)""".stripMargin,
    "q_uax29" ->
      """SELECT * FROM (VALUES
        |  (1::BIGINT, 5, 'Hello|world|It''s|3.5|miles'),
        |  (2::BIGINT, 11, '我|爱|大|规|模|数|据|处|理|引|擎'),
        |  (3::BIGINT, 7, '日|本|語|の|テキスト|で|す'),
        |  (4::BIGINT, 3, 'スパーク|と|カタカナ'),
        |  (5::BIGINT, 3, '한국어|텍스트|처리'),
        |  (6::BIGINT, 2, 'สวัสดีครับ|ยินดีต้อนรับ'),
        |  (7::BIGINT, 3, 'naïve|café|résumé'),
        |  (8::BIGINT, 5, 'C|is|fun|x2|4'),
        |  (9::BIGINT, 5, '我|爱|Spark|和|DataFrame'),
        |  (10::BIGINT, 0, '')) t(id, n_tokens, words)""".stripMargin,
    // exact segments incl. attached trailing whitespace (lossless
    // partition); newline via chr(10)
    "q_uax29_sentences" ->
      """SELECT * FROM (VALUES
        |  (1::BIGINT, 0, 'First sentence. '),
        |  (1::BIGINT, 1, 'Second one! '),
        |  (1::BIGINT, 2, 'Third? '),
        |  (1::BIGINT, 3, '第一。'),
        |  (1::BIGINT, 4, '第二。'),
        |  (2::BIGINT, 0, 'Dr. '),
        |  (2::BIGINT, 1, 'Smith arrived. '),
        |  (2::BIGINT, 2, 'He sat down.'),
        |  (3::BIGINT, 0, 'No terminal punctuation here'),
        |  (4::BIGINT, 0, 'Trailing spaces.   '),
        |  (5::BIGINT, 0, 'A. b stays joined. '),
        |  (5::BIGINT, 1, 'C starts new.'),
        |  (6::BIGINT, 0, 'Line one.' || chr(10)),
        |  (6::BIGINT, 1, 'Line two.')) t(id, sent_idx, sentence)""".stripMargin,
    // greedy pack at maxTokens = 5 over ws token counts, derived by
    // hand: doc 1 sentences carry 3/2/4/1 tokens -> chunks (3+2) and
    // (4+1); doc 2's first sentence is 10 tokens -> its own oversized
    // chunk; doc 3 carries 2/2/2 -> (2+2) and (2)
    "q_sent_chunks" ->
      """SELECT * FROM (VALUES
        |  (1::BIGINT, 0, 2, 5::BIGINT, 'One two three. Four five. '),
        |  (1::BIGINT, 1, 2, 5::BIGINT, 'Six seven eight nine. Ten.'),
        |  (2::BIGINT, 0, 1, 10::BIGINT,
        |   'This single sentence has way more than five tokens total. '),
        |  (2::BIGINT, 1, 1, 2::BIGINT, 'Tiny one.'),
        |  (3::BIGINT, 0, 2, 4::BIGINT, 'One two. Three four. '),
        |  (3::BIGINT, 1, 1, 2::BIGINT, 'Five six.')
        |) t(doc_id, chunk_idx, n_sentences, n_tokens, chunk)""".stripMargin,
    "q_snapshot_drift" ->
      """WITH newd AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN NULL ELSE text END AS text,
        |         lang, n_chars::DOUBLE AS n_chars
        |  FROM documents WHERE doc_id % 13 <> 0),
        |o AS (
        |  SELECT count(*) AS n, count(doc_id) AS nn_doc, count(lang) AS nn_lang,
        |         count(n_chars) AS nn_nc, count(text) AS nn_text,
        |         avg(doc_id) AS m_doc, avg(n_chars) AS m_nc
        |  FROM documents),
        |w AS (
        |  SELECT count(*) AS n, count(doc_id) AS nn_doc, count(lang) AS nn_lang,
        |         count(n_chars) AS nn_nc, count(text) AS nn_text,
        |         avg(doc_id) AS m_doc, avg(n_chars) AS m_nc
        |  FROM newd)
        |SELECT 'column_added' AS kind, 'quality' AS "column",
        |       NULL AS old_type, 'double' AS new_type,
        |       NULL::DOUBLE AS old_val, NULL::DOUBLE AS new_val, NULL::DOUBLE AS delta
        |UNION ALL SELECT 'column_removed', 'source', 'string', NULL, NULL, NULL, NULL
        |UNION ALL SELECT 'type_changed', 'n_chars', 'bigint', 'double', NULL, NULL, NULL
        |UNION ALL SELECT 'row_count', '*', NULL, NULL, o.n::DOUBLE, w.n::DOUBLE,
        |          w.n::DOUBLE - o.n::DOUBLE FROM o, w
        |UNION ALL SELECT 'null_rate', 'doc_id', NULL, NULL,
        |          round((o.n - o.nn_doc)::DOUBLE / o.n, 6),
        |          round((w.n - w.nn_doc)::DOUBLE / w.n, 6),
        |          round((w.n - w.nn_doc)::DOUBLE / w.n
        |                - (o.n - o.nn_doc)::DOUBLE / o.n, 6) FROM o, w
        |UNION ALL SELECT 'null_rate', 'lang', NULL, NULL,
        |          round((o.n - o.nn_lang)::DOUBLE / o.n, 6),
        |          round((w.n - w.nn_lang)::DOUBLE / w.n, 6),
        |          round((w.n - w.nn_lang)::DOUBLE / w.n
        |                - (o.n - o.nn_lang)::DOUBLE / o.n, 6) FROM o, w
        |UNION ALL SELECT 'null_rate', 'n_chars', NULL, NULL,
        |          round((o.n - o.nn_nc)::DOUBLE / o.n, 6),
        |          round((w.n - w.nn_nc)::DOUBLE / w.n, 6),
        |          round((w.n - w.nn_nc)::DOUBLE / w.n
        |                - (o.n - o.nn_nc)::DOUBLE / o.n, 6) FROM o, w
        |UNION ALL SELECT 'null_rate', 'text', NULL, NULL,
        |          round((o.n - o.nn_text)::DOUBLE / o.n, 6),
        |          round((w.n - w.nn_text)::DOUBLE / w.n, 6),
        |          round((w.n - w.nn_text)::DOUBLE / w.n
        |                - (o.n - o.nn_text)::DOUBLE / o.n, 6) FROM o, w
        |UNION ALL SELECT 'mean', 'doc_id', NULL, NULL,
        |          round(o.m_doc, 6), round(w.m_doc, 6),
        |          round(w.m_doc - o.m_doc, 6) FROM o, w
        |UNION ALL SELECT 'mean', 'lang', NULL, NULL, NULL, NULL, NULL
        |UNION ALL SELECT 'mean', 'n_chars', NULL, NULL,
        |          round(o.m_nc, 6), round(w.m_nc, 6),
        |          round(w.m_nc - o.m_nc, 6) FROM o, w
        |UNION ALL SELECT 'mean', 'text', NULL, NULL, NULL, NULL, NULL""".stripMargin,
    "q_extract_links" ->
      """WITH r AS (SELECT i FROM range(0, 120) t(i)),
        |e AS (
        |  SELECT i AS doc_id, 'http://abs' || i || '.example/p' AS link_url,
        |         'Abs ' || i AS anchor_text FROM r
        |  UNION ALL
        |  SELECT i, 'http://site' || (i % 7) || '.com/r/' || i, 'Root' FROM r
        |  UNION ALL
        |  SELECT i, 'http://site' || (i % 7) || '.com/dir' || (i % 3)
        |           || '/sub/s' || i || '.html', 'Sib ' || i FROM r
        |  UNION ALL
        |  SELECT i, 'http://site' || (i % 7) || '.com/dir' || (i % 3)
        |           || '/u' || i || '.html', 'Up' FROM r)
        |SELECT doc_id, link_url, anchor_text FROM e""".stripMargin,
    "q_pmi" ->
      s"""WITH w AS (
         |  SELECT doc_id, string_split(${LlmGates.NormSql}, ' ') AS ws
         |  FROM documents WHERE ${LlmGates.NormSql} <> ''),
         |p AS (
         |  SELECT doc_id, u.i AS i, u.tok AS tok FROM (
         |    SELECT doc_id,
         |           unnest(list_transform(range(1, len(ws) + 1),
         |                  i -> {'i': i, 'tok': ws[i]})) AS u
         |    FROM w) t),
         |pr AS (
         |  SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2
         |  FROM p a JOIN p b
         |    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 3),
         |pc AS (SELECT w1, w2, count(*) AS n_pair FROM pr GROUP BY 1, 2),
         |uni AS (SELECT tok AS w, count(*) AS n_w FROM p GROUP BY 1),
         |tot AS (SELECT (SELECT sum(n_pair) FROM pc)::DOUBLE AS pp,
         |               (SELECT sum(n_w) FROM uni)::DOUBLE AS tt)
         |SELECT w1, w2, n_pair,
         |       round(ln((n_pair::DOUBLE / pp) /
         |                ((u1.n_w::DOUBLE / tt) * (u2.n_w::DOUBLE / tt))), 4) AS pmi
         |FROM pc
         |JOIN uni u1 ON u1.w = pc.w1
         |JOIN uni u2 ON u2.w = pc.w2, tot""".stripMargin,
    "q_weighted_sample" ->
      """WITH kk AS (
        |  SELECT doc_id,
        |         ln((('0x' || substr(md5('es:' || doc_id), 1, 15))::BIGINT + 1)
        |            / 1152921504606846976.0) / n_chars::DOUBLE AS es_key
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
        |SELECT doc_id, round(es_key, 6) AS es_key
        |FROM kk ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin,
    "q_feature_hash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(${LlmGates.NormSql}, ' ')) AS tok
         |  FROM documents),
         |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
         |h AS (
         |  SELECT doc_id,
         |         ${LlmGates.h60("tok")} % 64 AS j,
         |         CASE WHEN ${LlmGates.h60("'sign:' || tok")} % 2 = 0
         |              THEN 1 ELSE -1 END AS s
         |  FROM t)
         |SELECT doc_id, j, CAST(sum(s) AS BIGINT) AS w
         |FROM h GROUP BY 1, 2 HAVING sum(s) <> 0""".stripMargin,
    "q_unigram_kl" ->
      s"""WITH a_docs AS (SELECT doc_id, text FROM documents),
         |b_docs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (910001::BIGINT, 'buy cheap pills buy cheap pills buy cheap pills'),
         |    (910002::BIGINT, 'buy cheap pills now now now')
         |  ) v(doc_id, text)),
         |ca AS (SELECT word, count(*)::BIGINT AS n FROM (
         |  SELECT unnest(${LlmGates.wordsSql()}) AS word FROM a_docs) GROUP BY word),
         |cb AS (SELECT word, count(*)::BIGINT AS n FROM (
         |  SELECT unnest(${LlmGates.wordsSql()}) AS word FROM b_docs) GROUP BY word),
         |va AS (SELECT word FROM ca ORDER BY n DESC, word ASC LIMIT 50),
         |vb AS (SELECT word FROM cb ORDER BY n DESC, word ASC LIMIT 50),
         |vocab AS (SELECT word FROM va UNION SELECT word FROM vb),
         |joined AS (
         |  SELECT v.word,
         |         coalesce(ca.n, 0)::BIGINT AS n_a,
         |         coalesce(cb.n, 0)::BIGINT AS n_b
         |  FROM vocab v LEFT JOIN ca USING (word) LEFT JOIN cb USING (word)),
         |stats AS (
         |  SELECT coalesce(sum(n_a), 0)::BIGINT AS va_mass,
         |         coalesce(sum(n_b), 0)::BIGINT AS vb_mass,
         |         count(*)::BIGINT AS v,
         |         (SELECT coalesce(sum(n), 0)::BIGINT FROM ca) AS t_a,
         |         (SELECT coalesce(sum(n), 0)::BIGINT FROM cb) AS t_b
         |  FROM joined),
         |symbols AS (
         |  SELECT word, n_a, n_b FROM joined
         |  UNION ALL
         |  SELECT '<oov>' AS word, (t_a - va_mass) AS n_a, (t_b - vb_mass) AS n_b
         |  FROM stats),
         |p AS (
         |  SELECT word,
         |         (n_a + 1.0) / (t_a + 1.0 * (v + 1)) AS p_a,
         |         (n_b + 1.0) / (t_b + 1.0 * (v + 1)) AS p_b
         |  FROM symbols, stats)
         |SELECT word, round(p_a, 9) AS p_a, round(p_b, 9) AS p_b,
         |       round(p_a * ln(p_a / p_b), 6) AS kl_term
         |FROM p""".stripMargin,
    "q_char_entropy" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (920001::BIGINT, 'aaaaaaaaaaaaaaaa'),
        |    (920002::BIGINT, 'abababababababab'),
        |    (920003::BIGINT, ''),
        |    (920004::BIGINT, NULL::VARCHAR)
        |  ) v(doc_id, text)),
        |c AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(substring(text, 1, 2000), ''),
        |                     x -> x <> '') AS ch
        |  FROM all_docs),
        |e AS (
        |  SELECT doc_id, len(ch)::DOUBLE AS n, unnest(ch) AS x
        |  FROM c WHERE len(ch) > 0),
        |g AS (
        |  SELECT doc_id, n, x, count(*)::DOUBLE AS cnt
        |  FROM e GROUP BY doc_id, n, x),
        |ent AS (
        |  SELECT doc_id, sum(-(cnt / n) * ln(cnt / n) / ln(2)) AS ent
        |  FROM g GROUP BY doc_id)
        |SELECT a.doc_id, round(ent.ent, 6) AS char_entropy
        |FROM all_docs a LEFT JOIN ent USING (doc_id)""".stripMargin,
    "q_dsir_model" -> (DsirModelCte +
      "\nSELECT bucket, round(log_ratio, 6) AS log_ratio FROM model"),
    // same gram CTE as DSIR (shared feature space); weight per gram
    // occurrence is the literal formula, score the mean through sigmoid
    "q_corr_matrix" ->
      """WITH li AS (
        |  SELECT l_quantity::DOUBLE AS qty,
        |         CASE WHEN l_orderkey % 1000 = 0 THEN NULL
        |              ELSE l_extendedprice::DOUBLE END AS price,
        |         l_discount::DOUBLE AS disc,
        |         l_tax::DOUBLE AS tax
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'qty' AS col_a, 'price' AS col_b,
        |         count(CASE WHEN qty IS NOT NULL AND price IS NOT NULL THEN 1 END) AS n_pairs,
        |         round(covar_samp(qty, price), 4) + 0 AS covar,
        |         round(corr(qty, price), 6) + 0 AS corr FROM li
        |  UNION ALL
        |  SELECT 'qty', 'disc',
        |         count(CASE WHEN qty IS NOT NULL AND disc IS NOT NULL THEN 1 END),
        |         round(covar_samp(qty, disc), 4) + 0, round(corr(qty, disc), 6) + 0 FROM li
        |  UNION ALL
        |  SELECT 'qty', 'tax',
        |         count(CASE WHEN qty IS NOT NULL AND tax IS NOT NULL THEN 1 END),
        |         round(covar_samp(qty, tax), 4) + 0, round(corr(qty, tax), 6) + 0 FROM li
        |  UNION ALL
        |  SELECT 'price', 'disc',
        |         count(CASE WHEN price IS NOT NULL AND disc IS NOT NULL THEN 1 END),
        |         round(covar_samp(price, disc), 4) + 0, round(corr(price, disc), 6) + 0 FROM li
        |  UNION ALL
        |  SELECT 'price', 'tax',
        |         count(CASE WHEN price IS NOT NULL AND tax IS NOT NULL THEN 1 END),
        |         round(covar_samp(price, tax), 4) + 0, round(corr(price, tax), 6) + 0 FROM li
        |  UNION ALL
        |  SELECT 'disc', 'tax',
        |         count(CASE WHEN disc IS NOT NULL AND tax IS NOT NULL THEN 1 END),
        |         round(covar_samp(disc, tax), 4) + 0, round(corr(disc, tax), 6) + 0 FROM li
        |) t""".stripMargin,
    "q_corpus_profile" ->
      """WITH s AS (
        |  SELECT count(*) AS n,
        |         count(doc_id) AS nn_id, count(lang) AS nn_lang,
        |         count(n_chars) AS nn_nc, count(text) AS nn_text,
        |         CAST(min(doc_id) AS DOUBLE) AS min_id,
        |         CAST(max(doc_id) AS DOUBLE) AS max_id,
        |         round(avg(doc_id), 4) AS mean_id,
        |         CAST(min(n_chars) AS DOUBLE) AS min_nc,
        |         CAST(max(n_chars) AS DOUBLE) AS max_nc,
        |         round(avg(n_chars), 4) AS mean_nc
        |  FROM documents)
        |SELECT 'doc_id' AS "column", 'n_rows' AS metric, CAST(n AS DOUBLE) AS value FROM s
        |UNION ALL SELECT 'doc_id', 'n_null', CAST(n - nn_id AS DOUBLE) FROM s
        |UNION ALL SELECT 'doc_id', 'null_rate', round((n - nn_id) * 1.0 / n, 6) FROM s
        |UNION ALL SELECT 'lang', 'n_rows', CAST(n AS DOUBLE) FROM s
        |UNION ALL SELECT 'lang', 'n_null', CAST(n - nn_lang AS DOUBLE) FROM s
        |UNION ALL SELECT 'lang', 'null_rate', round((n - nn_lang) * 1.0 / n, 6) FROM s
        |UNION ALL SELECT 'n_chars', 'n_rows', CAST(n AS DOUBLE) FROM s
        |UNION ALL SELECT 'n_chars', 'n_null', CAST(n - nn_nc AS DOUBLE) FROM s
        |UNION ALL SELECT 'n_chars', 'null_rate', round((n - nn_nc) * 1.0 / n, 6) FROM s
        |UNION ALL SELECT 'text', 'n_rows', CAST(n AS DOUBLE) FROM s
        |UNION ALL SELECT 'text', 'n_null', CAST(n - nn_text AS DOUBLE) FROM s
        |UNION ALL SELECT 'text', 'null_rate', round((n - nn_text) * 1.0 / n, 6) FROM s
        |UNION ALL SELECT 'doc_id', 'distinct_ok', 1.0
        |UNION ALL SELECT 'lang', 'distinct_ok', 1.0
        |UNION ALL SELECT 'n_chars', 'distinct_ok', 1.0
        |UNION ALL SELECT 'text', 'distinct_ok', 1.0
        |UNION ALL SELECT 'doc_id', 'min', min_id FROM s
        |UNION ALL SELECT 'doc_id', 'max', max_id FROM s
        |UNION ALL SELECT 'doc_id', 'mean', mean_id FROM s
        |UNION ALL SELECT 'n_chars', 'min', min_nc FROM s
        |UNION ALL SELECT 'n_chars', 'max', max_nc FROM s
        |UNION ALL SELECT 'n_chars', 'mean', mean_nc FROM s
        |UNION ALL SELECT 'doc_id', 'p50_rank_ok', 1.0
        |UNION ALL SELECT 'n_chars', 'p50_rank_ok', 1.0""".stripMargin,
    "q_phrase_match" ->
      """SELECT CAST(i AS BIGINT) AS doc_id,
        |       ltrim(
        |         CASE WHEN i % 3 = 0 THEN ',needle one' ELSE '' END ||
        |         CASE WHEN i % 5 = 0 THEN ',bad phrase' ELSE '' END ||
        |         ',TOKEN', ',') AS matched
        |FROM range(0, 100) t(i)""".stripMargin,
    "q_quality_fit" ->
      """SELECT CAST(950000 + i AS BIGINT) AS doc_id, 1 AS predicted
        |FROM range(0, 20) t(i)
        |UNION ALL
        |SELECT CAST(951000 + i AS BIGINT), 0
        |FROM range(0, 20) t(i)""".stripMargin,
    "q_quality_fit_multi" ->
      """SELECT CAST(960000 + i AS BIGINT) AS doc_id, 'en' AS label_pred
        |FROM range(0, 15) t(i)
        |UNION ALL
        |SELECT CAST(961000 + i AS BIGINT), 'fr' FROM range(0, 15) t(i)
        |UNION ALL
        |SELECT CAST(962000 + i AS BIGINT), 'de' FROM range(0, 15) t(i)""".stripMargin,
    "q_quality_score" -> QualityScoreSql,
    // identical math through the zero-shuffle row-local projection
    "q_quality_score_inline" -> QualityScoreSql,
    "q_dsir_weights" -> (DsirModelCte + ",\n" + DsirWeightsSql +
      "\nSELECT doc_id, round(weight, 4) AS weight FROM wts"),
    "q_dsir_keys" -> (DsirModelCte + ",\n" + DsirWeightsSql + ",\n" +
      """keys AS (
        |  SELECT doc_id, weight,
        |         -ln(-ln((((('0x' || substr(md5('dsir:' || doc_id::VARCHAR), 1, 15))::BIGINT
        |                    % 1073741824) + 0.5) / 1073741824.0))) AS gumbel
        |  FROM wts)
        |SELECT doc_id, round(weight, 4) AS weight, round(gumbel, 6) AS gumbel,
        |       round(weight / 2.0 + gumbel, 4) AS key
        |FROM keys""".stripMargin),
    "q_strip_html" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (930001::BIGINT, '<html><head><SCRIPT type="x">var a=1;</SCRIPT><style>.x{color:red}</style></head><!-- note --><body><p>Hi &amp;lt; &lt;b&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b</p></body></html>'),
        |    (930002::BIGINT, 'no markup here'),
        |    (930003::BIGINT, '<div class="a"><span>nested <b>bold</b></span> tail</div>'),
        |    (930004::BIGINT, 'loose &amp; entity &gt; here'),
        |    (930005::BIGINT, NULL::VARCHAR),
        |    (930006::BIGINT, '1<2 but 5>3 and <em>real</em> tag')
        |  ) v(doc_id, text))
        |SELECT doc_id,
        |       md5(replace(replace(replace(replace(replace(replace(
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(
        |               regexp_replace(text, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |           '(?s)<!--.*?-->', ' ', 'g'),
        |         '<[/!]?[a-zA-Z][^>]*>', ' ', 'g'),
        |         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |         '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&')) AS text_md5
        |FROM all_docs""".stripMargin,
    "q_dup_spans" -> {
      val h60 = LlmGates.h60("array_to_string(nt[i+1:i+6], ' ')")
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 0
         |              THEN text || ' zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8'
         |              ELSE text END AS text
         |  FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (970001::BIGINT, 'aa1 bb2 cc3 dd4 ee5 ff6 gg7 aa1 bb2 cc3 dd4 ee5 ff6 gg7'),
         |    (970002::BIGINT, 'short doc'),
         |    (970003::BIGINT, NULL::VARCHAR)
         |  ) v(doc_id, text)),
         |tok AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
         |  FROM corpus),
         |nrm AS (
         |  SELECT doc_id, text, w,
         |         list_transform(w, t -> regexp_replace(lower(t), '[^a-z0-9]', '', 'g')) AS nt
         |  FROM tok),
         |grams AS (
         |  SELECT doc_id, text, w,
         |         CASE WHEN len(nt) >= 6
         |              THEN list_transform(range(len(nt) - 5), i -> $h60)
         |              ELSE CAST([] AS BIGINT[]) END AS gs
         |  FROM nrm),
         |occ AS (
         |  SELECT doc_id, unnest(gs) AS gg, generate_subscripts(gs, 1) AS i FROM grams),
         |r AS (
         |  SELECT doc_id, i - 1 AS pos,
         |         row_number() OVER (PARTITION BY gg ORDER BY doc_id, i) AS rn,
         |         count(*) OVER (PARTITION BY gg) AS n
         |  FROM occ),
         |st AS (
         |  SELECT doc_id, list(pos) AS starts FROM r
         |  WHERE n BETWEEN 2 AND 1024 AND rn > 1
         |  GROUP BY doc_id),
         |kept AS (
         |  SELECT g.doc_id, g.text, g.w, st.starts,
         |         CASE WHEN st.starts IS NULL THEN NULL
         |              ELSE list_filter(g.w, (x, i) ->
         |                len(list_filter(st.starts,
         |                  p -> (i - 1) >= p AND (i - 1) < p + 6)) = 0) END AS kw
         |  FROM grams g LEFT JOIN st USING (doc_id))
         |SELECT doc_id,
         |       md5(CASE WHEN starts IS NULL THEN text
         |                ELSE coalesce(array_to_string(kw, ' '), '') END) AS text_md5,
         |       (CASE WHEN starts IS NULL THEN 0
         |             ELSE len(w) - len(kw) END)::INT AS n_tokens_removed
         |FROM kept""".stripMargin
         // the coalesce matters: a FULLY-cut document has kw = [] and
         // DuckDB's array_to_string([]) is NULL where Spark's concat_ws
         // is '' — without it every fully-duplicated doc hash-mismatches
    },
    "q_decontam_spans" -> {
      val h60 = LlmGates.h60("array_to_string(nt[i+1:i+5], ' ')")
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 0
         |              THEN text || ' the secret benchmark answer sequence'
         |              ELSE text END AS text
         |  FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (950001::BIGINT, 'short doc'),
         |    (950002::BIGINT, NULL::VARCHAR)
         |  ) v(doc_id, text)),
         |tok AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
         |  FROM corpus),
         |nrm AS (
         |  SELECT doc_id, text, w,
         |         list_transform(w, t -> regexp_replace(lower(t), '[^a-z0-9]', '', 'g')) AS nt
         |  FROM tok),
         |grams AS (
         |  SELECT doc_id, text, w,
         |         CASE WHEN len(nt) >= 5
         |              THEN list_transform(range(len(nt) - 4), i -> $h60)
         |              ELSE CAST([] AS BIGINT[]) END AS gs
         |  FROM nrm),
         |ev AS (
         |  SELECT list_transform(
         |           list_filter(string_split_regex('the secret benchmark answer sequence', '\\s+'),
         |                       x -> x <> ''),
         |           t -> regexp_replace(lower(t), '[^a-z0-9]', '', 'g')) AS nt),
         |eg AS (
         |  SELECT DISTINCT unnest(
         |    CASE WHEN len(nt) >= 5
         |         THEN list_transform(range(len(nt) - 4), i -> $h60)
         |         ELSE CAST([] AS BIGINT[]) END) AS g
         |  FROM ev),
         |st AS (
         |  SELECT doc_id, list(i - 1) AS starts
         |  FROM (SELECT doc_id, unnest(gs) AS gg, generate_subscripts(gs, 1) AS i FROM grams)
         |  WHERE gg IN (SELECT g FROM eg)
         |  GROUP BY doc_id),
         |kept AS (
         |  SELECT g.doc_id, g.text, g.w, st.starts,
         |         CASE WHEN st.starts IS NULL THEN NULL
         |              ELSE list_filter(g.w, (x, i) ->
         |                len(list_filter(st.starts,
         |                  p -> (i - 1) >= p AND (i - 1) < p + 5)) = 0) END AS kw
         |  FROM grams g LEFT JOIN st USING (doc_id))
         |SELECT doc_id,
         |       md5(CASE WHEN starts IS NULL THEN text
         |                ELSE coalesce(array_to_string(kw, ' '), '') END) AS text_md5,
         |       (CASE WHEN starts IS NULL THEN 0
         |             ELSE len(w) - len(kw) END)::INT AS n_tokens_removed
         |FROM kept""".stripMargin
         // coalesce: DuckDB array_to_string([]) is NULL, Spark concat_ws
         // is '' — a 100%-contaminated doc would hash-mismatch without it
    },
    "q_eval_overlap" -> {
      val norm = LlmGates.NormSql
      val words = LlmGates.wordsSql()
      val sh = LlmGates.ShinglesSql
      val h = LlmGates.h60("x")
      s"""WITH edocs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 100 = 7
         |  UNION ALL
         |  SELECT 960001::BIGINT AS doc_id, 'zz1 zz2 zz3 zz4' AS text
         |  UNION ALL
         |  SELECT 960002::BIGINT AS doc_id,
         |         text || ' zzq1 zzq2 zzq3 zzq4 zzq5' AS text
         |  FROM documents WHERE doc_id = 0),
         |ed AS (SELECT doc_id, $norm AS norm, $words AS w FROM edocs),
         |esh AS (SELECT doc_id, $sh AS s FROM ed),
         |eset AS (
         |  SELECT doc_id AS eval_id,
         |         list_distinct(list_transform(s, x -> $h)) AS g FROM esh),
         |eg AS (SELECT eval_id, unnest(g) AS g FROM eset),
         |cd AS (SELECT doc_id, $norm AS norm, $words AS w FROM documents),
         |csh AS (SELECT doc_id, $sh AS s FROM cd),
         |cset AS (SELECT DISTINCT unnest(list_transform(s, x -> $h)) AS g FROM csh),
         |hit AS (SELECT g, 1::BIGINT AS f FROM cset)
         |SELECT eval_id,
         |       count(*)::BIGINT AS n_grams,
         |       coalesce(sum(f), 0)::BIGINT AS n_found,
         |       round(coalesce(sum(f), 0)::DOUBLE / count(*)::DOUBLE, 6) AS leakage
         |FROM eg LEFT JOIN hit USING (g)
         |GROUP BY eval_id""".stripMargin
    },
    "q_url_canonical" ->
      """WITH all_urls AS (
        |  SELECT doc_id,
        |         'https://Site' || (doc_id % 17) || '.example.org/d/' || doc_id ||
        |         '?utm_campaign=c' || doc_id || '&id=' || doc_id || '#s' AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (940001::BIGINT, 'HTTP://Example.COM:80/Path/Sub?b=2&utm_source=x&a=1#frag'),
        |    (940002::BIGINT, 'https://example.com:443/a?utm_a=1&utm_b=2'),
        |    (940003::BIGINT, 'https://example.com:8443/a?gclid=z&real=1'),
        |    (940004::BIGINT, 'example.com/NoScheme?fbclid=1&keep=2'),
        |    (940005::BIGINT, 'http://user@Example.com:80/x'),
        |    (940006::BIGINT, 'http://example.com/plain'),
        |    (940007::BIGINT, NULL::VARCHAR),
        |    (940008::BIGINT, 'http://EXAMPLE.com?to=Bob@Mail.com'),
        |    (940009::BIGINT, 'http://x.com/a&utm_b=2/more'),
        |    (940010::BIGINT, 'https://x.com/a?UTM_Source=n&b=1')
        |  ) v(doc_id, url)),
        |nofrag AS (
        |  SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS u FROM all_urls),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(u, '\?.*', '', 'g') ||
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_extract(u, '\?.*'),
        |            '([?&])(?i:utm_[^&=]*|gclid|fbclid|msclkid|mc_eid)=[^&]*', '\1', 'g'),
        |          '&&+', '&', 'g'),
        |        '\?&', '?', 'g'),
        |      '[?&]+$', '', 'g') AS clean
        |  FROM nofrag),
        |p AS (
        |  SELECT doc_id, clean,
        |         regexp_extract(clean, '^([a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?)', 1) AS pre
        |  FROM c),
        |h AS (
        |  SELECT doc_id, clean, pre,
        |         regexp_extract(substring(clean, length(pre) + 1), '^([^/?#]*)', 1) AS hp
        |  FROM p)
        |SELECT doc_id,
        |       lower(pre) ||
        |       CASE WHEN lower(pre) LIKE 'http://%' AND lower(hp) LIKE '%:80'
        |              THEN regexp_replace(lower(hp), ':80$', '')
        |            WHEN lower(pre) LIKE 'https://%' AND lower(hp) LIKE '%:443'
        |              THEN regexp_replace(lower(hp), ':443$', '')
        |            ELSE lower(hp) END ||
        |       substring(clean, length(pre) + length(hp) + 1) AS canonical_url
        |FROM h""".stripMargin,
    "q_quantile_bucket" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CASE WHEN trim(text) = '' THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
        |  FROM documents),
        |b AS (SELECT quantile_cont(tok, [0.25, 0.5, 0.75]) AS bs FROM t)
        |SELECT doc_id, tok,
        |       CASE WHEN tok IS NULL THEN NULL
        |            ELSE len(list_filter(bs, x -> tok > x)) END::INT AS q_bucket
        |FROM t, b""".stripMargin,
    // every page, line verdict, and rebuild re-derived: a line is kept
    // iff it ends (after trailing-blank strip) in . ! ? or ", has >= 3
    // space/tab-separated words, and lacks 'javascript'; a page is kept
    // iff >= 5 lines survive and no '{' / 'lorem ipsum' anywhere
    "q_c4_clean" ->
      """WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |bodies AS (
        |  SELECT doc_id,
        |    'Cookie Settings and Navigation Menu' || chr(10) ||
        |    substr(text, 1, 40) || '.' || chr(10) ||
        |    'Please enable javascript to view this page.' || chr(10) ||
        |    substr(text, 41, 40) || '.' || chr(10) || 'Share | Print | Top'
        |      AS body2,
        |    'Cookie Settings and Navigation Menu' || chr(10) ||
        |    substr(text, 1, 40) || '.' || chr(10) ||
        |    'Please enable javascript to view this page.' || chr(10) ||
        |    substr(text, 41, 40) || '.' || chr(10) || 'Share | Print | Top' || chr(10) ||
        |    substr(text, 81, 40) || '.' || chr(10) || 'Share | Print | Top' || chr(10) ||
        |    substr(text, 121, 40) || '.' || chr(10) || 'Share | Print | Top' || chr(10) ||
        |    substr(text, 161, 40) || '.' || chr(10) || 'Share | Print | Top'
        |      AS body5
        |  FROM src),
        |pages AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN body2
        |         WHEN doc_id % 7 = 0
        |           THEN body5 || chr(10) || 'function() { return 0; }'
        |         ELSE body5 END AS page
        |  FROM bodies),
        |cleaned AS (
        |  SELECT doc_id,
        |    list_filter(string_split(page, chr(10)), l ->
        |      right(rtrim(l, ' ' || chr(9) || chr(13)), 1) IN ('.', '!', '?', '"')
        |      AND len(list_filter(string_split(replace(l, chr(9), ' '), ' '),
        |                          w -> w <> '')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept,
        |    (contains(page, '{') OR contains(lower(page), 'lorem ipsum')) AS flagged
        |  FROM pages)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS text
        |FROM cleaned WHERE len(kept) >= 5 AND NOT flagged""".stripMargin,
    // both arms re-derived line by line; the only difference between
    // them is the terminal-codepoint IN-list
    "q_c4_clean_cjk" -> {
      def arm(name: String, terms: String): String =
        s"""SELECT doc_id, '$name' AS arm,
           |       array_to_string(list_filter(string_split(page, chr(10)), l ->
           |         right(rtrim(l, ' ' || chr(9) || chr(13)), 1) IN ($terms)
           |         AND len(list_filter(string_split(replace(l, chr(9), ' '), ' '),
           |                             w -> w <> '')) >= 1
           |         AND NOT contains(lower(l), 'javascript')), chr(10)) AS text,
           |       len(list_filter(string_split(page, chr(10)), l ->
           |         right(rtrim(l, ' ' || chr(9) || chr(13)), 1) IN ($terms)
           |         AND len(list_filter(string_split(replace(l, chr(9), ' '), ' '),
           |                             w -> w <> '')) >= 1
           |         AND NOT contains(lower(l), 'javascript'))) AS n_kept,
           |       (contains(page, '{') OR contains(lower(page), 'lorem ipsum'))
           |         AS flagged
           |FROM pages""".stripMargin
      val cjkTerms =
        "'.', '!', '?', '\"', '。', '！', '？', '…', '」', '』', '．'"
      val asciiTerms = "'.', '!', '?', '\"'"
      s"""WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         |pages AS (
         |  SELECT doc_id,
         |    'ナビゲーション メニュー' || chr(10) ||
         |    substr(text, 1, 40) || '。' || chr(10) ||
         |    substr(text, 41, 40) || '！' || chr(10) ||
         |    'Please enable javascript to view this page。' AS page
         |  FROM src
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (950001::BIGINT, 'これは散文です。' || chr(10) || '二番目の文です！' ||
         |       chr(10) || '三番目ですか？' || chr(10) || 'メニュー ナビゲーション'),
         |    (950002::BIGINT, 'コードを含む{ページ。' || chr(10) || '散文です。' ||
         |       chr(10) || '三つ目の文。'),
         |    (950003::BIGINT, '一行だけです。' || chr(10) || 'メニュー'),
         |    (950004::BIGINT, 'Mixed ascii line.' || chr(10) || '日本語の文…' ||
         |       chr(10) || '「引用」' || chr(10) || 'その通り。')
         |  ) v(doc_id, page)),
         |armed AS (
         |  ${arm("cjk", cjkTerms)}
         |  UNION ALL
         |  ${arm("ascii", asciiTerms)})
         |SELECT doc_id, arm, text FROM armed
         |WHERE n_kept >= 2 AND NOT flagged""".stripMargin
    },
    // the definitional running-sum window the operator exists to avoid
    // planning (Exchange-SinglePartition); inclusive cumsum <= budget
    "q_budget_select" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         CASE WHEN trim(text) = '' THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |         sum(toks) OVER (ORDER BY n_chars DESC, doc_id ASC
        |                         ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, toks::BIGINT AS toks FROM c WHERE cum <= 20000""".stripMargin,
    // the oracle reads the SOURCE parquet: any ORC infidelity mismatches
    "q_orc_roundtrip" ->
      "SELECT doc_id, text, lang, n_chars FROM documents",
    "q_budget_select_group" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |         CASE WHEN trim(text) = '' THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, toks,
        |         sum(toks) OVER (PARTITION BY lang
        |                         ORDER BY n_chars DESC, doc_id ASC
        |                         ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, lang, toks::BIGINT AS toks FROM c WHERE cum <= 5000""".stripMargin,
    "q_budget_select_ranged" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |         CASE WHEN trim(text) = '' THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, toks,
        |         sum(toks) OVER (PARTITION BY lang
        |                         ORDER BY n_chars DESC, doc_id ASC
        |                         ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, lang, toks::BIGINT AS toks FROM c WHERE cum <= 5000""".stripMargin
  )

  /** Shared DSIR oracle prefix: grams → 256-bucket dense counts for the
    * target slice (doc_id % 7 = 0) and the full corpus → add-1
    * log-likelihood-ratio model (mirrors Dsir.logRatioModel). */
  private val DsirModelCte: String = {
    val gram = s"""list_concat(w, CASE WHEN len(w) >= 2
                  |    THEN list_transform(range(len(w) - 1), j -> w[j+1] || ' ' || w[j+2])
                  |    ELSE CAST([] AS VARCHAR[]) END)""".stripMargin
    s"""WITH d AS (SELECT doc_id, ${LlmGates.wordsSql()} AS w FROM documents),
       |g AS (
       |  SELECT doc_id, (${LlmGates.h60("gram")} % 256) AS bucket
       |  FROM (SELECT doc_id, unnest($gram) AS gram FROM d)),
       |spine AS (SELECT range::BIGINT AS bucket FROM range(256)),
       |tc AS (SELECT bucket, count(*)::BIGINT AS n_t FROM g
       |       WHERE doc_id % 7 = 0 GROUP BY bucket),
       |rc AS (SELECT bucket, count(*)::BIGINT AS n_r FROM g GROUP BY bucket),
       |dense AS (
       |  SELECT s.bucket,
       |         coalesce(tc.n_t, 0)::BIGINT AS n_t,
       |         coalesce(rc.n_r, 0)::BIGINT AS n_r
       |  FROM spine s LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)),
       |tot AS (SELECT coalesce(sum(n_t), 0)::BIGINT AS t_t,
       |               coalesce(sum(n_r), 0)::BIGINT AS t_r FROM dense),
       |model AS (
       |  SELECT bucket,
       |         (ln((n_t + 1.0) / (t_t + 1.0 * 256)) -
       |          ln((n_r + 1.0) / (t_r + 1.0 * 256))) AS log_ratio
       |  FROM dense, tot)""".stripMargin
  }

  /** Per-doc weight over the gram stream (mirrors Dsir.importanceWeights). */
  private val DsirWeightsSql: String =
    """wts AS (
      |  SELECT doc_id, sum(log_ratio) AS weight
      |  FROM g JOIN model USING (bucket) GROUP BY doc_id)""".stripMargin
}
