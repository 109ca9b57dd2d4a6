package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval

class RetrievalSpec extends SparkSpec {

  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark shuffle join spark spark"),
    (2L, "spark join"),
    (3L, "window aggregate stream window"),
    (4L, "completely unrelated text here"),
    (5L, "")
  ).toDF("doc_id", "text")

  private def queries = Seq(
    (10L, "spark join"),
    (20L, "window"),
    (30L, "zzznothere")
  ).toDF("query_id", "qtext")

  test("bm25Scores: only matching docs appear; tf and missing terms behave") {
    val scores = Retrieval
      .bm25Scores(corpus, "text", "doc_id", queries, "query_id", "qtext")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // query 10 matches docs 1 and 2 only; query 20 matches doc 3 only;
    // query 30 (no corpus term) matches nothing
    assert(scores.keySet == Set((10L, 1L), (10L, 2L), (20L, 3L)))
    // at default b=0.75 length normalization favors the shorter doc 2
    // (dl 2 vs 5) over doc 1's higher tf
    assert(scores((10L, 2L)) > scores((10L, 1L)))
    assert(scores.values.forall(_ > 0.0))
    // with length normalization off (b=0) raw tf dominates: doc 1 wins
    val raw = Retrieval
      .bm25Scores(corpus, "text", "doc_id", queries, "query_id", "qtext", b = 0.0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(raw((10L, 1L)) > raw((10L, 2L)))
  }

  test("bm25Scores matches a hand-computed single-term score") {
    val c = Seq((1L, "apple banana"), (2L, "apple apple"), (3L, "cherry")).toDF("doc_id", "text")
    val q = Seq((1L, "cherry")).toDF("query_id", "qtext")
    val got = Retrieval.bm25Scores(c, "text", "doc_id", q, "query_id", "qtext")
      .collect()
    assert(got.length == 1)
    val n = 3.0; val df = 1.0; val tf = 1.0; val dl = 1.0; val avgdl = 5.0 / 3.0
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    val expect = idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    assert(math.abs(got(0).getDouble(2) - expect) < 1e-12)
  }

  test("bm25TopK: rank bounded by k, deterministic tiebreak, WindowGroupLimit plan") {
    val top = Retrieval.bm25TopK(
      corpus, "text", "doc_id", queries, "query_id", "qtext", k = 1)
    val rows = top.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(rows.forall(_._3 == 1))
    assert(rows.map(_._1).toSet == Set(10L, 20L))
    // doc 2 wins query 10 (length normalization at default b)
    assert(rows.contains((10L, 2L, 1)))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("one corpus explode; df reuses the postings exchange; no per-word window") {
    val q = Retrieval.bm25Scores(corpus, "text", "doc_id", queries, "query_id", "qtext")
    q.collect() // materialize AQE's final plan
    // AQE's toString echoes the pre-adaptive plan under "== Initial Plan =="
    // — count only the executed section
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // corpus-side generates explode the bound word array `w#...`;
    // query-side generates explode a CASE over qtext — distinguishable
    val corpusExplodes = "Generate explode\\(w#".r.findAllIn(plan).size
    assert(corpusExplodes == 1, s"corpus exploded $corpusExplodes times:\n${plan.take(4000)}")
    // the df branch re-reads the postings shuffle (ReuseExchange over the
    // (word, doc_id, dl) hashpartitioning) instead of recomputing it —
    // this is what the count(when(tf > 0, 1)) pruning guard protects; if
    // Catalyst ever specializes that branch again, the explode count
    // above goes to 2 and THIS names the mechanism
    assert("ReusedExchange.*hashpartitioning\\(word#\\d+, doc_id#".r
      .findAllIn(plan).nonEmpty, s"postings exchange not reused:\n${plan.take(4000)}")
    // and df is no longer a per-word count window (the skewed shape this
    // replaced: a stopword-like term dragged all its postings to one task)
    assert(!plan.contains("Window"), plan.take(4000))
  }

  test("argument validation fails loudly") {
    intercept[IllegalArgumentException] {
      Retrieval.bm25Scores(corpus, "text", "doc_id", queries, "query_id", "qtext", b = 1.5)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(corpus, "text", "doc_id", queries, "query_id", "qtext", k = 0)
    }
    val dir = sidecarOf(corpus)
    intercept[IllegalArgumentException] {
      Retrieval.bm25ScoresFromSidecar(spark, dir, queries, "query_id", "qtext", k1 = -1.0)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopKFromSidecar(spark, dir, queries, "query_id", "qtext", k = 0)
    }
  }

  /** A fresh stats-sidecar layout over `c` — the one persisted BM25
    * index, and the rebuild every lifecycle result is compared to. */
  private def sidecarOf(c: org.apache.spark.sql.DataFrame, buckets: Int = 32): String = {
    val out = tmpDir("graft-bm25sc")
    Retrieval.bm25SidecarWrite(c, "text", "doc_id", out, buckets)
    out
  }

  /** The layout's live rows, denormalized — canonical view with avgdl
    * rounded (the one float; everything else is exact integer
    * arithmetic on both paths). */
  private def rowsOf(path: String): Set[(Option[String], Long, Long, Long, Long, Long, Double, Long)] =
    Retrieval.bm25SidecarRows(spark, path)
      .select(col("word"), col("doc_id"), col("tf"), col("dl").cast("long"),
        col("df"), col("n_docs"), round(col("avgdl"), 9).as("avgdl"), col("sum_dl"))
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6), r.getLong(7)))
      .toSet

  // The tests below keep the names they had when they covered the flat
  // parquet index and the bucket-dir index; both layouts are gone and
  // each body now pins the same behaviour on the stats-sidecar layout.

  test("index probe is value-identical to the inline scores through parquet") {
    // name predates the sidecar layout: the persisted probe is now bm25ScoresFromSidecar
    val dir = sidecarOf(corpus)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // default params and a probe-time override both match EXACTLY —
    // identical longs through identical arithmetic, and k1/b live only
    // at probe time
    assert(probeSidecar(dir) == inlineScores(corpus))
    val inlineB0 = m(Retrieval.bm25Scores(
      corpus, "text", "doc_id", queries, "query_id", "qtext", b = 0.0))
    val probeB0 = m(Retrieval.bm25ScoresFromSidecar(
      spark, dir, queries, "query_id", "qtext", b = 0.0))
    assert(probeB0 == inlineB0)
    // the out-of-corpus query term (query 30) still matches nothing
    assert(!probeSidecar(dir).keySet.exists(_._1 == 30L))
  }

  test("bm25TopKAgainst ranks like bm25TopK") {
    // bm25TopKAgainst is gone: the persisted top-k is bm25TopKFromSidecar
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(
      rows(Retrieval.bm25TopKFromSidecar(
        spark, sidecarOf(corpus), queries, "query_id", "qtext", k = 1)) ==
      rows(Retrieval.bm25TopK(
        corpus, "text", "doc_id", queries, "query_id", "qtext", k = 1)))
  }

  test("bm25Forget equals a rebuild from the reduced corpus, exactly") {
    // bm25Forget is gone: bm25SidecarForget's rows must equal a fresh write
    def forgotten(c: org.apache.spark.sql.DataFrame, ids: Long*): String = {
      val dir = sidecarOf(c)
      Retrieval.bm25SidecarForget(spark, dir, ids.toDF("rid"), "rid")
      dir
    }
    // NULL-text docs count as zero-length: they get a sentinel row too,
    // so forgetting them decrements N exactly like the rebuild
    val withNull = corpus.select(col("doc_id"), col("text").cast("string").as("text"))
      .unionByName(Seq((6L, Option.empty[String])).toDF("doc_id", "text"))
    assert(rowsOf(forgotten(withNull, 6L))
      == rowsOf(sidecarOf(withNull.filter(col("doc_id") =!= 6L))))
    // remove doc 1 (changes df(spark), df(shuffle), df(join), N, avgdl)
    val kept = forgotten(corpus, 1L)
    assert(rowsOf(kept) == rowsOf(sidecarOf(corpus.filter(col("doc_id") =!= 1L))))
    // removing the TOKEN-FREE doc 5 still decrements N/avgdl (the
    // sentinel row is the registry entry that makes this possible)
    assert(rowsOf(forgotten(corpus, 5L))
      == rowsOf(sidecarOf(corpus.filter(col("doc_id") =!= 5L))))
    // ids absent from the index are no-ops
    assert(rowsOf(forgotten(corpus, 99L)) == rowsOf(sidecarOf(corpus)))
    // removing everything leaves an empty index
    assert(rowsOf(forgotten(corpus, 1L, 2L, 3L, 4L, 5L)).isEmpty)
    // and the forgotten layout still probes value-equal to inline
    // scoring over the reduced corpus
    assert(probeSidecar(kept) == inlineScores(corpus.filter(col("doc_id") =!= 1L)))
  }

  test("index stores exact postings stats; probe broadcasts terms, no sort-merge") {
    // the flat index is gone: bm25SidecarRows reads the same statistics out
    val dir = sidecarOf(corpus)
    val idx = Retrieval.bm25SidecarRows(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getInt(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toMap
    // doc 1 = "spark shuffle join spark spark": tf(spark)=3, dl=5;
    // df(spark)=2 (docs 1,2); N=5 incl. the empty doc; avgdl=15/5
    assert(idx(("spark", 1L)) == ((3L, 5, 2L, 5L, 3.0)))
    assert(idx(("join", 2L)) == ((1L, 2, 2L, 5L, 3.0)))
    // the token-free doc is a NULL-word sentinel with df 0
    assert(idx((null, 5L)) == ((0L, 0, 0L, 5L, 3.0)))
    val q = Retrieval.bm25ScoresFromSidecar(spark, dir, queries, "query_id", "qtext")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("bm25ScoresFromDir: value-identical to the flat probe; pruning in the plan") {
    // bucket-dir probe is gone: the sidecar probe carries the bucket pruning
    val dir = sidecarOf(corpus, buckets = 16)
    val part = Retrieval.bm25ScoresFromSidecar(spark, dir, queries, "query_id", "qtext")
    assert(probeSidecar(dir) == inlineScores(corpus))
    // the bucket filter must reach the scan as a PARTITION filter (no
    // data filter, no full-index scan)
    part.collect()
    val plan = part.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      plan.take(3000))
    // topK parity through the same layout
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows(Retrieval.bm25TopKFromSidecar(spark, dir, queries, "query_id", "qtext", k = 1))
      == rows(Retrieval.bm25TopK(corpus, "text", "doc_id", queries, "query_id", "qtext", k = 1)))
  }

  test("bm25ScoresFromDir: all-unseen queries read nothing; sidecar is required") {
    // bucket-dir probe is gone: same contract on the sidecar probe and its meta file
    val dir = sidecarOf(corpus, buckets = 8)
    val missing = Seq((9L, "zzznothere qqqnope")).toDF("query_id", "qtext")
    assert(Retrieval.bm25ScoresFromSidecar(spark, dir, missing, "query_id", "qtext")
      .count() == 0L)
    // a query frame with no terms selects no bucket at all: the layout
    // scans plan away entirely, no posting or df file opens
    val blank = Retrieval.bm25ScoresFromSidecar(spark, dir,
      Seq((9L, "")).toDF("query_id", "qtext"), "query_id", "qtext")
    assert(blank.count() == 0L)
    val scans = blank.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.isEmpty, blank.queryExecution.executedPlan.toString.take(3000))
    // a directory without the metadata file fails loudly instead of
    // guessing a modulus (a wrong guess would silently lose words)
    val e = intercept[IllegalArgumentException] {
      Retrieval.bm25ScoresFromSidecar(spark, tmpDir("graft-bm25bare"),
        queries, "query_id", "qtext")
    }
    assert(e.getMessage.contains("bm25SidecarWrite"), e.getMessage)
    // an EMPTY or corrupt metadata file fails with a clear message too
    for (junk <- Seq("", "not-a-number", "1,2,3")) {
      val broken = java.nio.file.Files.createTempDirectory("graft-bm25junk")
      java.nio.file.Files.write(broken.resolve("_bm25_sidecar"), junk.getBytes("UTF-8"))
      val e2 = intercept[IllegalArgumentException] {
        Retrieval.bm25ScoresFromSidecar(spark, broken.toString, queries, "query_id", "qtext")
      }
      assert(e2.getMessage.contains("malformed"), e2.getMessage)
    }
  }

  test("bm25ScoresFromDir: oversized query frames fail loud before the collect") {
    // bucket-dir probe is gone: the sidecar probe enforces the same query-term cap
    val dir = sidecarOf(corpus, buckets = 8)
    val e = intercept[IllegalArgumentException] {
      Retrieval.bm25ScoresFromSidecar(spark, dir, queries, "query_id", "qtext",
        maxQueryTerms = 2)
    }
    assert(e.getMessage.contains("metadata-sized"), e.getMessage)
    // at or under the cap the probe runs unchanged
    assert(Retrieval.bm25ScoresFromSidecar(spark, dir, queries, "query_id", "qtext",
      maxQueryTerms = 4).count() > 0)
  }

  // ------------------------------------------------------ append (row 160)

  /** The even-id half grown by the odd-id half. */
  private def grownLayout(): String = {
    val dir = sidecarOf(corpus.filter($"doc_id" % 2 === 0))
    Retrieval.bm25SidecarAppend(spark, dir, corpus.filter($"doc_id" % 2 === 1),
      "text", "doc_id")
    dir
  }

  test("bm25Append ≡ bm25Index over the union corpus, through parquet") {
    // bm25Append/bm25Index are gone: bm25SidecarAppend's rows must equal a fresh write
    val grown = grownLayout()
    assert(rowsOf(grown) == rowsOf(sidecarOf(corpus)))
    // probe equality rides row equality, but pin it end to end anyway:
    // scoring the grown layout == scoring the full corpus inline
    assert(probeSidecar(grown) == inlineScores(corpus))
    // the unhinted arm for giant drops (the corpus-sized escape) is
    // value-identical
    val unhinted = withConf("spark.sql.optimizer.disableHints" -> "true") {
      grownLayout()
    }
    assert(rowsOf(unhinted) == rowsOf(grown))
  }

  test("bm25Append: empty index = fresh build; empty drop = no-op; sentinels ride") {
    // bm25Append is gone: same three edge cases through bm25SidecarAppend
    val empty = sidecarOf(corpus.filter($"doc_id" < 0))
    Retrieval.bm25SidecarAppend(spark, empty, corpus, "text", "doc_id")
    assert(rowsOf(empty) == rowsOf(sidecarOf(corpus)))
    val full = sidecarOf(corpus)
    val before = rowsOf(full)
    Retrieval.bm25SidecarAppend(spark, full, corpus.filter($"doc_id" < 0), "text", "doc_id")
    assert(rowsOf(full) == before)
    // doc 5 has empty text: appending the odd half carries its
    // NULL-word sentinel, and N/avgdl count it
    assert(Retrieval.bm25SidecarRows(spark, grownLayout())
      .filter(col("word").isNull && col("doc_id") === 5L).count() == 1L)
  }

  test("bm25Append fails loud when a drop id is already indexed") {
    // bm25Append is gone: the sidecar grow's registry guard carries the collision check
    val dir = sidecarOf(corpus)
    val collide = corpus.filter($"doc_id" === 2L)
    val e = intercept[Exception] {
      Retrieval.bm25SidecarAppend(spark, dir, collide, "text", "doc_id")
    }
    assert(e.getMessage != null && e.getMessage.contains("already registered"),
      String.valueOf(e.getMessage))
    // the guard is a FILTER, so it survives column pruning: a bare
    // count() of the guarded posting frame (which reads NO columns)
    // must still raise — a guard woven into an output column would be
    // silently elided here
    val e2 = intercept[Exception] {
      Retrieval.sidecarAppendPostings(spark, dir, collide, "text", "doc_id").count()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("already registered"),
      String.valueOf(e2.getMessage))
    // the failed grow committed nothing, and a disjoint append still
    // passes the guard untouched
    assert(rowsOf(dir) == rowsOf(sidecarOf(corpus)))
    assert(Retrieval.bm25SidecarRows(spark, grownLayout()).count() > 0)
  }

  test("bm25ScoresFromDir: maxQueryTerms bounds reject Int.MaxValue (overflow guard)") {
    // bucket-dir probe is gone: the sidecar probe shares the cap+1 overflow guard
    val dir = sidecarOf(corpus, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      Retrieval.bm25ScoresFromSidecar(spark, dir, queries, "query_id", "qtext",
        maxQueryTerms = Int.MaxValue)
    }
    assert(e.getMessage.contains("maxQueryTerms"), e.getMessage)
  }

  test("bm25Append plan shape: 3 index passes (rewrite, pruned df lookup, 1-row peek)") {
    // bm25Append's index rewrite is gone: the sidecar grow's plan reads
    // the doc registry and never a posting generation
    val dir = sidecarOf(corpus.filter($"doc_id" % 2 === 0))
    val plan = Retrieval.sidecarAppendPostings(spark, dir,
      corpus.filter($"doc_id" % 2 === 1), "text", "doc_id").queryExecution.optimizedPlan
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val layoutDirs = plan.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location.rootPaths.map(_.getName)
        case _ => Nil
      }
      case _ => Nil
    }
    assert(layoutDirs.nonEmpty && layoutDirs.forall(_.startsWith("registry-g")),
      s"append guard must read registry generations only: $layoutDirs\n$plan")
  }

  test("bm25AppendDir grows the partitioned layout under the source modulus") {
    // bm25AppendDir is gone: a non-default sidecar modulus survives grow and merge
    val dir = sidecarOf(corpus.filter($"doc_id" % 2 === 0), buckets = 8)
    Retrieval.bm25SidecarAppend(spark, dir, corpus.filter($"doc_id" % 2 === 1),
      "text", "doc_id")
    def modulus = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_bm25_sidecar")).trim.split(",").last
    def bucketDirs(g: String) = new java.io.File(dir, g).listFiles()
      .map(_.getName).filter(n => n.startsWith("bucket=") && !n.contains("DEFAULT"))
      .map(_.stripPrefix("bucket=").toInt).toSet
    assert(modulus == "8", modulus)
    assert(bucketDirs("postings-g2").nonEmpty && bucketDirs("postings-g2").forall(_ < 8))
    assert(probeSidecar(dir) == inlineScores(corpus))
    Retrieval.bm25SidecarMergeGenerations(spark, dir, maxGenerations = 1)
    assert(modulus == "8", modulus)
    assert(bucketDirs("postings-g3").nonEmpty && bucketDirs("postings-g3").forall(_ < 8))
    assert(probeSidecar(dir) == inlineScores(corpus))
    assert(rowsOf(dir) == rowsOf(sidecarOf(corpus, buckets = 8)))
  }

  test("bm25Append then bm25Forget lands back on the original index") {
    // both APIs are gone: sidecar append then forget must read out the original rows
    val drop = corpus.filter($"doc_id" % 2 === 1)
    val dir = grownLayout()
    Retrieval.bm25SidecarForget(spark, dir, drop.select("doc_id"), "doc_id")
    assert(rowsOf(dir) == rowsOf(sidecarOf(corpus.filter($"doc_id" % 2 === 0))))
  }

  // ------------------------------------------------ stats-sidecar layout

  private def probeSidecar(path: String): Map[(Long, Long), Double] =
    Retrieval.bm25ScoresFromSidecar(spark, path, queries, "query_id", "qtext")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def inlineScores(c: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    Retrieval.bm25Scores(c, "text", "doc_id", queries, "query_id", "qtext")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("sidecar layout: build + probe ≡ inline; grow appends, never rewrites") {
    val out = tmpDir("sc-build")
    Retrieval.bm25SidecarWrite(
      corpus.filter(col("doc_id") <= 3), "text", "doc_id", out)
    assert(probeSidecar(out) == inlineScores(corpus.filter(col("doc_id") <= 3)))
    // grow by the rest: probe ≡ inline over the union; generation 1
    // files untouched byte-for-byte (recursive — generations are
    // hive-partitioned by word-hash bucket)
    def g1files = {
      val root = new java.io.File(s"$out/postings-g1")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => root.toPath.relativize(f.toPath).toString -> f.length()).toMap
    }
    val before = g1files
    Retrieval.bm25SidecarAppend(
      spark, out, corpus.filter(col("doc_id") > 3), "text", "doc_id")
    assert(g1files == before && before.nonEmpty)
    assert(probeSidecar(out) == inlineScores(corpus))
    // token-free doc 5 registered via sentinel: visible in n_docs through
    // scores (avgdl/N differ from a 4-doc corpus) — already pinned by the
    // equality above; check the registry directly too
    val posts = spark.read.parquet(s"$out/postings-g1")
      .unionByName(spark.read.parquet(s"$out/postings-g2"))
    assert(posts.select("doc_id").distinct().count() == 5)
    assert(posts.filter(col("word").isNull).select("doc_id")
      .as[Long].collect().toSet == Set(5L))
    // probes PARTITION-PRUNE both the posting generations and the df
    // sidecar to the query words' buckets
    val probe = Retrieval.bm25ScoresFromSidecar(
      spark, out, queries, "query_id", "qtext")
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    val scans = "PartitionFilters: \\[[^\\]]*bucket".r.findAllIn(plan).size
    assert(scans >= 2, s"expected bucket partition pruning on postings AND df:\n" +
      plan.split('\n').filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("sidecar forget: tombstones + exact deltas, no posting rewrite; compact purges") {
    val out = tmpDir("sc-forget")
    Retrieval.bm25SidecarWrite(corpus, "text", "doc_id", out)
    Retrieval.bm25SidecarForget(spark, out, Seq(1L, 5L).toDF("id"), "id")
    val reduced = corpus.filter(!col("doc_id").isin(1L, 5L))
    assert(probeSidecar(out) == inlineScores(reduced))
    // forgetting an id the index never held is a no-op (bm25Forget parity)
    Retrieval.bm25SidecarForget(spark, out, Seq(99L).toDF("id"), "id")
    assert(probeSidecar(out) == inlineScores(reduced))
    // double-forget fails loud
    val e = intercept[Exception] {
      Retrieval.bm25SidecarForget(spark, out, Seq(1L).toDF("id"), "id")
    }
    assert(e.getMessage.contains("already tombstoned"), e.getMessage)
    // compaction: fresh single generation, no tombstones, same scores
    Retrieval.bm25SidecarCompact(spark, out, out + "-c")
    assert(probeSidecar(out + "-c") == inlineScores(reduced))
    assert(!new java.io.File(s"$out-c/removed-v1").exists())
    assert(!new java.io.File(s"$out-c/postings-g2").exists())
    // compact-in-place (aliased spelling) is refused
    val e2 = intercept[IllegalArgumentException] {
      Retrieval.bm25SidecarCompact(spark, out, out + "/")
    }
    assert(e2.getMessage.contains("resolves to the source path"), e2.getMessage)
  }

  test("sidecar append: registered and tombstoned ids fail loud; meta is the gate") {
    val out = tmpDir("sc-guard")
    Retrieval.bm25SidecarWrite(corpus, "text", "doc_id", out)
    // indexed id
    val e1 = intercept[Exception] {
      Retrieval.bm25SidecarAppend(spark, out,
        Seq((1L, "anything")).toDF("doc_id", "text"), "text", "doc_id")
    }
    assert(e1.getMessage.contains("already registered"), e1.getMessage)
    // tombstoned id: stale postings would come back to life
    Retrieval.bm25SidecarForget(spark, out, Seq(2L).toDF("id"), "id")
    val e2 = intercept[Exception] {
      Retrieval.bm25SidecarAppend(spark, out,
        Seq((2L, "resurrected")).toDF("doc_id", "text"), "text", "doc_id")
    }
    assert(e2.getMessage.contains("already registered"), e2.getMessage)
    // a failed append commits nothing: probe still matches the reduced corpus
    assert(probeSidecar(out) == inlineScores(corpus.filter(col("doc_id") =!= 2)))
    // probing a directory without the metadata file fails loud
    val e3 = intercept[IllegalArgumentException] {
      Retrieval.bm25ScoresFromSidecar(spark, tmpDir("sc-empty"),
        queries, "query_id", "qtext")
    }
    assert(e3.getMessage.contains("_bm25_sidecar"), e3.getMessage)
  }

  private def filesUnder(dir: String): Map[String, Long] = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    if (!root.exists()) Map.empty
    else walk(root).filter(_.getName.endsWith(".parquet"))
      .map(f => root.toPath.relativize(f.toPath).toString -> f.length()).toMap
  }

  test("sidecar grow recomputes only touched df buckets; untouched byte-copied; " +
    "grace-window GC keeps one superseded version") {
    val out = tmpDir("sc-touch")
    // 8 buckets, a one-word drop: the controlled complement the driver
    // gate can't stage (at corpus scale a drop touches every bucket)
    Retrieval.bm25SidecarWrite(corpus, "text", "doc_id", out, buckets = 8)
    val before = filesUnder(s"$out/df-v1")
    val drop = Seq((50L, "zzznewword zzznewword")).toDF("doc_id", "text")
    Retrieval.bm25SidecarAppend(spark, out, drop, "text", "doc_id")
    val h = graft.functions.Md5Long60Expr.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("zzznewword"))
    val touched = s"bucket=${(((h % 8) + 8) % 8).toInt}"
    val after = filesUnder(s"$out/df-v2")
    val untouched = before.keySet.filterNot(_.startsWith(touched))
    assert(untouched.nonEmpty, s"fixture vocabulary all in $touched?")
    untouched.foreach { rel =>
      assert(after.get(rel).contains(before(rel)),
        s"untouched $rel not carried byte-identically")
    }
    assert(after.keySet.exists(_.startsWith(touched)))
    assert(probeSidecar(out) == inlineScores(corpus.unionByName(drop)))
    // one-mutation-late GC: df-v1 survives the flip that superseded it
    // (a racing reader finishes against it), dies on the NEXT mutation
    assert(new java.io.File(s"$out/df-v1").exists())
    Retrieval.bm25SidecarAppend(spark, out,
      Seq((60L, "zzzother")).toDF("doc_id", "text"), "text", "doc_id")
    assert(!new java.io.File(s"$out/df-v1").exists())
    assert(new java.io.File(s"$out/df-v2").exists())
    assert(new java.io.File(s"$out/df-v3").exists())
  }

  test("bm25TopKFromSidecar == bm25TopK over the live corpus") {
    val out = tmpDir("sc-topk")
    Retrieval.bm25SidecarWrite(corpus, "text", "doc_id", out)
    def ranked(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("doc_id"), round(col("score"), 9), col("rank"))
      .collect().map(_.toSeq).toSet
    val got = ranked(Retrieval.bm25TopKFromSidecar(
      spark, out, queries, "query_id", "qtext", k = 2))
    val want = ranked(Retrieval.bm25TopK(
      corpus, "text", "doc_id", queries, "query_id", "qtext", k = 2))
    assert(got == want && got.nonEmpty)
  }

  test("a layout without registry sidecars fails loud on lifecycle ops") {
    val out = tmpDir("sc-noreg")
    Retrieval.bm25SidecarWrite(corpus, "text", "doc_id", out)
    // simulate a pre-registry artifact
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"$out/registry-g1"))
    val e = intercept[Exception] {
      Retrieval.bm25SidecarAppend(spark, out,
        Seq((50L, "anything")).toDF("doc_id", "text"), "text", "doc_id")
    }
    assert(e.getMessage.contains("predates the doc-registry"), e.getMessage)
    val e2 = intercept[Exception] {
      Retrieval.bm25SidecarForget(spark, out, Seq(1L).toDF("id"), "id")
    }
    assert(e2.getMessage.contains("predates the doc-registry"), e2.getMessage)
    // probes don't need the registry: still value-identical
    assert(probeSidecar(out) == inlineScores(corpus))
  }

  test("sidecar generation merge: probes unchanged, tombstone mask and " +
    "re-append guard survive, grace-window GC, legacy meta parses") {
    val out = tmpDir("sc-merge")
    Retrieval.bm25SidecarWrite(
      corpus.filter(col("doc_id") <= 2), "text", "doc_id", out)
    Retrieval.bm25SidecarAppend(spark, out,
      corpus.filter(col("doc_id") === 3), "text", "doc_id")
    Retrieval.bm25SidecarAppend(spark, out,
      corpus.filter(col("doc_id") > 3), "text", "doc_id")
    // forget BEFORE the merge: the tombstone must keep masking rows
    // that the merge moves into a fresh generation
    Retrieval.bm25SidecarForget(spark, out, Seq(3L).toDF("id"), "id")
    val reduced = corpus.filter(col("doc_id") =!= 3)
    assert(probeSidecar(out) == inlineScores(reduced))
    Retrieval.bm25SidecarMergeGenerations(spark, out, maxGenerations = 2)
    assert(probeSidecar(out) == inlineScores(reduced))
    // merged source dirs survive the flip (grace window for racing
    // readers); a SECOND merge (no-op at the count) GCs them
    val d = new java.io.File(out)
    def genDirs = d.listFiles().map(_.getName)
      .filter(_.startsWith("postings-g")).toSet
    assert(genDirs.size > 2, genDirs.toString) // orphans still on disk
    Retrieval.bm25SidecarMergeGenerations(spark, out, maxGenerations = 2)
    assert(genDirs.size == 2, genDirs.toString)
    // the re-append guard still sees the tombstoned id through the
    // MERGED registry
    val e = intercept[Exception] {
      Retrieval.bm25SidecarAppend(spark, out,
        Seq((3L, "resurrected")).toDF("doc_id", "text"), "text", "doc_id")
    }
    assert(e.getMessage.contains("already registered"), e.getMessage)
    // legacy numeric generation field (pre-merge writer) still parses:
    // rewrite the meta of a dense-1..N layout by hand
    val out2 = tmpDir("sc-legacy")
    Retrieval.bm25SidecarWrite(corpus, "text", "doc_id", out2)
    Retrieval.bm25SidecarAppend(spark, out2,
      Seq((50L, "spark spark window")).toDF("doc_id", "text"), "text", "doc_id")
    val metaPath = java.nio.file.Paths.get(out2, "_bm25_sidecar")
    val parts = java.nio.file.Files.readString(metaPath).trim.split(",")
    assert(parts(2) == "g1.2", parts.mkString(","))
    parts(2) = "2" // the legacy dense spelling of the same layout
    java.nio.file.Files.writeString(metaPath, parts.mkString(","))
    // the hand-edit invalidates Hadoop's local CRC sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(out2, "._bm25_sidecar.crc"))
    assert(probeSidecar(out2) == inlineScores(corpus.unionByName(
      Seq((50L, "spark spark window")).toDF("doc_id", "text"))))
  }

  test("sidecar meta flip survives a checksummed-era layout (stale .crc " +
    "dropped, none accumulate)") {
    val out = tmpDir("sc-crc")
    Retrieval.bm25SidecarWrite(corpus, "text", "doc_id", out)
    // simulate a pre-overwrite-rename writer: rewrite the meta through
    // the CHECKSUM fs so a `._bm25_sidecar.crc` sidecar exists — the
    // raw overwrite-rename would strand it describing the OLD bytes
    val hconf = spark.sparkContext.hadoopConfiguration
    val metaP = new org.apache.hadoop.fs.Path(out, "_bm25_sidecar")
    val fs = metaP.getFileSystem(hconf)
    val bytes = {
      val in = fs.open(metaP)
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close()
    }
    val os = fs.create(metaP, true)
    try os.write(bytes) finally os.close()
    assert(new java.io.File(out, "._bm25_sidecar.crc").exists())
    // an r18 mutation must flip the meta AND drop the stale crc — a
    // surviving one would fail every later checksummed read
    Retrieval.bm25SidecarAppend(spark, out,
      Seq((50L, "spark spark appended")).toDF("doc_id", "text"),
      "text", "doc_id")
    assert(!new java.io.File(out, "._bm25_sidecar.crc").exists())
    assert(probeSidecar(out) == inlineScores(corpus.unionByName(
      Seq((50L, "spark spark appended")).toDF("doc_id", "text"))))
    // and mutations don't leak tmp crc orphans
    val strays = new java.io.File(out).listFiles()
      .map(_.getName).filter(n => n.startsWith("._bm25_sidecar.tmp"))
    assert(strays.isEmpty, strays.mkString(","))
  }

  test("rrfFuse: hand-computed fusion, deterministic tiebreak, topK bound, " +
    "contract guard") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 13L, 2)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), k0 = 60, topK = 3)
      .select("doc_id", "rrf_score", "rank").as[(Long, Double, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // doc 11 rides both lists: 1/62 + 1/61 — fused top; doc 12 (1/63)
    // falls off at topK = 3
    assert(got.keySet == Set(11L, 10L, 13L))
    assert(got(11L)._1 == 1.0 / 62 + 1.0 / 61) // exact doubles
    assert(got(11L)._2 == 1 && got(10L)._2 == 2 && got(13L)._2 == 3)
    // symmetric rank patterns produce EXACT score ties -> doc_id breaks
    val t1 = Seq((1L, 6L, 1), (1L, 5L, 2)).toDF("query_id", "doc_id", "rank")
    val t2 = Seq((1L, 5L, 1), (1L, 6L, 2)).toDF("query_id", "doc_id", "rank")
    val tied = Retrieval.rrfFuse(Seq(t1, t2), topK = 2)
      .orderBy("rank").select("doc_id").as[Long].collect()
    assert(tied.toSeq == Seq(5L, 6L))
    // a list without the (query_id, doc_id, rank) contract fails loud
    val e = intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq(a.drop("rank")))
    }
    assert(e.getMessage.contains("rank"), e.getMessage)
  }

  test("bm25AppendDir: aliased outPath spellings are refused (trailing slash)") {
    // bm25AppendDir is gone: bm25SidecarCompact is the write-fresh rewrite that refuses aliases
    val out = sidecarOf(corpus, buckets = 4)
    val e = intercept[IllegalArgumentException] {
      Retrieval.bm25SidecarCompact(spark, out, out + "/")
    }
    assert(e.getMessage.contains("resolves to the source path"), e.getMessage)
  }

  test("word_tf: row-local TF ≡ explode+groupBy; sidecar build plans no word shuffle") {
    import graft.functions.WordTfExpr
    // semantics: duplicates counted, first-occurrence order, empty array
    // → empty result, NULL array → NULL (explode then emits nothing)
    val rows = Seq(
      (1L, Seq("b", "a", "b", "c", "b")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])
    ).toDF("doc_id", "w")
      .select(col("doc_id"), WordTfExpr(col("w")).as("wt"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[org.apache.spark.sql.Row](1)))
      .toMap
    assert(rows(1L).get.map(s => (s.getString(0), s.getLong(1))) ==
      Seq(("b", 3L), ("a", 1L), ("c", 1L)))
    assert(rows(2L).get.isEmpty)
    assert(rows(3L).isEmpty)
    // parity with the groupBy spelling over the corpus word table
    val docs = graft.operators.Dedup.wordTable(corpus, "text", "doc_id")
    val local = docs
      .select(col("doc_id"), explode(WordTfExpr(col("w"))).as("wt"))
      .select(col("wt.word"), col("doc_id"), col("wt.tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val grouped = docs
      .select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy("word", "doc_id").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(local == grouped && local.nonEmpty)
    // the posting build is a pure projection: the sidecar write's plan
    // must carry NO word-keyed exchange — only the rebalance-by-bucket
    // layout exchange (the point of the row-local fold; the inline
    // bm25Scores/bm25Index builders deliberately keep their groupBy)
    val out = tmpDir("wtf-plan")
    val plans = scala.collection.mutable.Buffer[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans += qe.executedPlan.toString
      override def onFailure(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Retrieval.bm25SidecarWrite(corpus, "text", "doc_id", out)
      org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark, 10000)
    } finally spark.listenerManager.unregister(l)
    val postingsWrite = plans.find(_.contains("postings-g1"))
    assert(postingsWrite.nonEmpty, plans.mkString("\n---\n").take(2000))
    assert(!"hashpartitioning\\(word".r.findAllIn(postingsWrite.get).hasNext,
      s"posting build still shuffles by word:\n${postingsWrite.get.take(3000)}")
  }
}
