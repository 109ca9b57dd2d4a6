package graft

import org.apache.spark.sql.functions._
import graft.operators.SetSim

class SetSimSpec extends SparkSpec {
  import spark.implicits._

  private def jaccard[T](a: Set[T], b: Set[T]): Double =
    a.intersect(b).size.toDouble / a.union(b).size.toDouble

  test("prefix-filtered join equals brute force on randomized token sets") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"t$i")
    // skewed token popularity: low-index tokens are common, high rare —
    // exercises the rare-first prefix ordering
    def randSet(): Set[String] =
      (1 to (3 + rnd.nextInt(10))).map { _ =>
        vocab(math.min(rnd.nextInt(40), rnd.nextInt(40)))
      }.toSet
    val rows = (0L until 120L).map(i => (i, randSet().toSeq))
    val df = rows.toDF("id", "toks")
    for (t <- Seq(0.3, 0.5, 0.7, 0.9, 1.0)) {
      val got = SetSim.setSimilarityJoin(df, "toks", "id", t)
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b) -> j }.toMap
      val want = (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib
        j = jaccard(sa.toSet, sb.toSet)
        if j >= t
      } yield (ia, ib) -> j).toMap
      assert(got.keySet === want.keySet, s"threshold $t")
      got.foreach { case (k, j) =>
        assert(math.abs(j - want(k)) < 1e-12, s"pair $k at $t") }
    }
  }

  test("duplicate tokens inside an array collapse to set semantics") {
    val df = Seq(
      (1L, Seq("a", "a", "b")),
      (2L, Seq("b", "a")),
      (3L, Seq("c"))).toDF("id", "toks")
    val out = SetSim.setSimilarityJoin(df, "toks", "id", 0.99)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 2L, 1.0)))
  }

  test("length filter and threshold=1 exactness") {
    val df = Seq(
      (1L, Seq("x", "y", "z")),
      (2L, Seq("x", "y", "z")),
      (3L, Seq("x", "y", "z", "w")),
      (4L, Seq("q"))).toDF("id", "toks")
    val exact = SetSim.setSimilarityJoin(df, "toks", "id", 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact === Set((1L, 2L)))
    val loose = SetSim.setSimilarityJoin(df, "toks", "id", 0.75)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(loose === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("null and empty sets drop out; no self pairs") {
    val df = Seq(
      (1L, Seq("a", "b")),
      (2L, null.asInstanceOf[Seq[String]]),
      (3L, Seq.empty[String]),
      (4L, Seq("a", "b"))).toDF("id", "toks")
    val out = SetSim.setSimilarityJoin(df, "toks", "id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 4L)))
  }

  test("text arm matches shingle-set brute force and keeps Dedup's shingling") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now"),
      (4L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val out = SetSim.setSimilarityPairs(docs, "text", "id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    // shingle sets of 1,4 identical; 1,2 share 5 of 7+7 distinct 3-shingles
    assert(out((1L, 4L)) === 1.0)
    val s1 = Set("the quick brown", "quick brown fox", "brown fox jumps",
      "fox jumps over", "jumps over the", "over the lazy", "the lazy dog")
    val s2 = s1 - "the lazy dog" + "the lazy cat"
    assert(math.abs(out((1L, 2L)) - jaccard(s1, s2)) < 1e-12)
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)))
  }

  test("against-index join equals brute force across two randomized corpora") {
    val rnd = new scala.util.Random(21)
    val vocab = (0 until 40).map(i => s"t$i")
    def randSet(): Set[String] =
      (1 to (3 + rnd.nextInt(10))).map { _ =>
        vocab(math.min(rnd.nextInt(40), rnd.nextInt(40)))
      }.toSet
    val prior = (0L until 90L).map(i => (i, randSet().toSeq))
    val batch = (1000L until 1060L).map(i => (i, randSet().toSeq)) ++
      prior.take(12).map { case (i, s) => (2000L + i, s) } // planted members
    val priorDf = prior.toDF("id", "toks")
    val batchDf = batch.toDF("id", "toks")
    for (t <- Seq(0.4, 0.6, 0.9); disableHints <- Seq(false, true)) {
      val idx = SetSim.setSimPrefixIndex(priorDf, "toks", "id", t)
      val got = withConf("spark.sql.optimizer.disableHints" -> disableHints.toString) {
        SetSim.setSimilarityJoinAgainst(batchDf, idx, "toks", "id", t)
          .as[(Long, Long, Double)].collect()
      }.map { case (b, i, j) => (b, i) -> j }.toMap
      val want = (for {
        (ib, sb) <- batch; (ip, sp) <- prior
        j = jaccard(sb.toSet, sp.toSet)
        if j >= t
      } yield (ib, ip) -> j).toMap
      assert(got.keySet === want.keySet, s"threshold $t disableHints $disableHints")
      got.foreach { case (k, j) =>
        assert(math.abs(j - want(k)) < 1e-12, s"pair $k at $t") }
    }
  }

  test("against-index probe below the build threshold fails loudly") {
    val df = Seq((1L, Seq("a", "b", "c"))).toDF("id", "toks")
    val idx = SetSim.setSimPrefixIndex(df, "toks", "id", 0.8)
    val ex = intercept[Exception] {
      SetSim.setSimilarityJoinAgainst(df, idx, "toks", "id", 0.5).collect()
    }
    assert(ex.getMessage != null)
    // at or above the build threshold: fine (index prefixes are a superset)
    assert(SetSim.setSimilarityJoinAgainst(df, idx, "toks", "id", 0.9)
      .count() === 1L)
  }

  test("prefix-token bucket cap drops loudly, never silently") {
    GraftSession.registerBucketCapListener(spark)
    GraftSession.clearBucketCapDrops(spark)
    // 30 identical sets: every prefix token bucket holds all 30 ids
    val df = (0L until 30L).map(i => (i, Seq("a", "b", "c"))).toDF("id", "toks")
    val out = SetSim.setSimilarityJoin(df, "toks", "id", 0.9,
      maxTokenBucket = Some(10))
    assert(out.count() === 0L) // all buckets oversized -> dropped
    val drops = GraftSession.bucketCapDrops(spark)
      .filter(_.metric.startsWith("graft.setsim.bucket_cap#"))
    assert(drops.nonEmpty && drops.exists(_.droppedBuckets > 0), drops.toString)
    GraftSession.clearBucketCapDrops(spark)
    // uncapped finds all 435 pairs
    assert(SetSim.setSimilarityJoin(df, "toks", "id", 0.9,
      maxTokenBucket = None).count() === 435L)
  }

  // --------------------------------------------- r14: containment arm

  test("containment join equals brute force; excerpts found where jaccard misses") {
    val rnd = new scala.util.Random(33)
    val vocab = (0 until 60).map(i => s"t$i")
    def randSet(n: Int): Seq[String] =
      (1 to n).map(_ => vocab(rnd.nextInt(60))).distinct
    val prior = (0L until 80L).map(i => (i, randSet(12 + rnd.nextInt(20))))
    // batch: random sets + planted EXCERPTS (random 40-60% subsets of
    // prior sets -> containment 1.0 vs their source, low jaccard)
    val excerpts = prior.take(15).map { case (i, ts) =>
      (3000L + i, rnd.shuffle(ts).take(math.max(2, ts.size * 2 / 5)))
    }
    val batch = (1000L until 1040L).map(i => (i, randSet(5 + rnd.nextInt(8)))) ++ excerpts
    val idx = SetSim.setContainmentIndex(prior.toDF("id", "toks"), "toks", "id")
    for (t <- Seq(0.5, 0.8); disableHints <- Seq(false, true)) {
      val got = withConf("spark.sql.optimizer.disableHints" -> disableHints.toString) {
        SetSim.setContainmentJoinAgainst(batch.toDF("id", "toks"), idx, "toks", "id", t)
          .as[(Long, Long, Double)].collect()
      }.map { case (b, i, c) => (b, i) -> c }.toMap
      val want = (for {
        (ib, sb) <- batch; (ip, sp) <- prior
        c = sb.toSet.intersect(sp.toSet).size.toDouble / sb.toSet.size
        if c >= t
      } yield (ib, ip) -> c).toMap
      assert(got.keySet === want.keySet, s"t=$t disableHints=$disableHints")
      got.foreach { case (k, c) =>
        assert(math.abs(c - want(k)) < 1e-12, s"pair $k at $t") }
    }
    // every planted excerpt pairs with its source at containment 1.0 —
    // while the symmetric jaccard join at 0.8 misses ALL of them
    val cont = SetSim.setContainmentJoinAgainst(
        excerpts.toDF("id", "toks"), idx, "toks", "id", 0.99)
      .as[(Long, Long, Double)].collect()
    assert(excerpts.forall { case (eid, _) =>
      cont.exists(p => p._1 == eid && p._2 == eid - 3000L && p._3 == 1.0) })
    val jacc = SetSim.setSimilarityJoinAgainst(
      excerpts.toDF("id", "toks"),
      SetSim.setSimPrefixIndex(prior.toDF("id", "toks"), "toks", "id", 0.8),
      "toks", "id", 0.8)
    assert(!jacc.as[(Long, Long, Double)].collect()
      .exists(p => p._2 == p._1 - 3000L && p._1 >= 3000L))
  }

  test("containment probe rejects a Jaccard prefix index loudly") {
    val df = Seq((1L, Seq("a", "b", "c", "d"))).toDF("id", "toks")
    val prefixIdx = SetSim.setSimPrefixIndex(df, "toks", "id", 0.8)
    val ex = intercept[Exception] {
      SetSim.setContainmentJoinAgainst(df, prefixIdx, "toks", "id", 0.5).collect()
    }
    assert(String.valueOf(ex.getMessage).contains("setContainmentIndex") ||
      ex.getCause != null)
    // the containment index serves any threshold
    val idx = SetSim.setContainmentIndex(df, "toks", "id")
    assert(SetSim.setContainmentJoinAgainst(df, idx, "toks", "id", 0.3)
      .count() === 1L)
  }

  test("index append: containment union == rebuild; guards fail loud") {
    val a = Seq((1L, Seq("x", "y", "z")), (2L, Seq("p", "q", "r"))).toDF("id", "toks")
    val b = Seq((3L, Seq("x", "y", "w"))).toDF("id", "toks")
    val grown = SetSim.setContainmentIndexAppend(
      SetSim.setContainmentIndex(a, "toks", "id"), b, "toks", "id")
    val rebuilt = SetSim.setContainmentIndex(a.unionByName(b), "toks", "id")
    assert(grown.collect().map(_.toSeq).toSet == rebuilt.collect().map(_.toSeq).toSet)
    // collision: re-adding id 2 fails loud at evaluation
    val e = intercept[Exception] {
      SetSim.setContainmentIndexAppend(
        SetSim.setContainmentIndex(a, "toks", "id"),
        Seq((2L, Seq("new"))).toDF("id", "toks"), "toks", "id").count()
    }
    assert(e.getMessage.contains("already indexed"), e.getMessage)
    // threshold mismatch: growing a t=0.5 prefix index with a t=0.8 drop
    val e2 = intercept[Exception] {
      SetSim.setSimIndexAppend(
        SetSim.setSimPrefixIndex(a, "toks", "id", threshold = 0.5),
        b, "toks", "id", threshold = 0.8).count()
    }
    assert(e2.getMessage.contains("one threshold per artifact"), e2.getMessage)
    // setsim append at the matching threshold: probe over the grown
    // index ≡ probe over the rebuild (join-surface equality)
    val probe = Seq((10L, Seq("x", "y", "z", "k"))).toDF("id", "toks")
    def pairs(idx: org.apache.spark.sql.DataFrame) =
      SetSim.setSimilarityJoinAgainst(probe, idx, "toks", "id", 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(
      pairs(SetSim.setSimIndexAppend(
        SetSim.setSimPrefixIndex(a, "toks", "id", 0.5), b, "toks", "id", 0.5)) ==
      pairs(SetSim.setSimPrefixIndex(a.unionByName(b), "toks", "id", 0.5)))
  }
}
