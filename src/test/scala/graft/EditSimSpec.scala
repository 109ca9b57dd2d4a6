package graft

import org.apache.spark.sql.functions._
import graft.operators.EditSim

class EditSimSpec extends SparkSpec {
  import spark.implicits._

  /** Reference unit-cost Levenshtein. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("deletion-neighborhood join equals brute force at maxDist 1 and 2") {
    val rnd = new scala.util.Random(13)
    val alphabet = "abcd"
    val rows = (0L until 150L).map { i =>
      (i, (1 to (3 + rnd.nextInt(8))).map(_ => alphabet(rnd.nextInt(4))).mkString)
    }
    val df = rows.toDF("id", "s")
    for (d <- Seq(1, 2)) {
      val got = EditSim.editDistancePairs(df, "s", "id", maxDist = d)
        .as[(Long, Long, Int)].collect()
        .map { case (a, b, e) => (a, b) -> e }.toMap
      val want = (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib
        e = lev(sa, sb)
        if e <= d
      } yield (ia, ib) -> e).toMap
      assert(got === want, s"maxDist $d")
    }
  }

  test("substitution, insertion, deletion, and exact pairs all surface") {
    val df = Seq(
      (1L, "spark"), (2L, "spork"),   // substitution, ed 1
      (3L, "sparks"),                 // insertion vs 1, ed 1
      (4L, "spak"),                   // deletion vs 1, ed 1
      (5L, "spark"),                  // exact, ed 0
      (6L, "flink")).toDF("id", "s")
    val out = EditSim.editDistancePairs(df, "s", "id", maxDist = 1)
      .as[(Long, Long, Int)].collect().map { case (a, b, e) => (a, b) -> e }.toMap
    assert(out((1L, 2L)) === 1 && out((1L, 3L)) === 1 &&
      out((1L, 4L)) === 1 && out((1L, 5L)) === 0)
    assert(!out.keySet.exists { case (a, b) => a == 6L || b == 6L })
    // spork vs sparks is ed 2: absent at maxDist 1, present at 2
    assert(!out.contains((2L, 3L)))
    val out2 = EditSim.editDistancePairs(df, "s", "id", maxDist = 2)
      .as[(Long, Long, Int)].collect().map { case (a, b, e) => (a, b) -> e }.toMap
    assert(out2((2L, 3L)) === 2)
  }

  test("null keys drop out; empty strings pair with each other and 1-char keys") {
    val df = Seq((1L, ""), (2L, ""), (3L, "a"), (4L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val out = EditSim.editDistancePairs(df, "s", "id", maxDist = 1)
      .as[(Long, Long, Int)].collect().map { case (a, b, e) => (a, b) -> e }.toMap
    assert(out === Map((1L, 2L) -> 0, (1L, 3L) -> 1, (2L, 3L) -> 1))
  }

  test("against-index join equals brute force across two randomized corpora") {
    val rnd = new scala.util.Random(29)
    val alphabet = "abcd"
    def randKey(): String =
      (1 to (3 + rnd.nextInt(8))).map(_ => alphabet(rnd.nextInt(4))).mkString
    val prior = (0L until 100L).map(i => (i, randKey()))
    val batch = (1000L until 1060L).map(i => (i, randKey())) ++
      prior.take(10).map { case (i, s) => (2000L + i, s) }
    val priorDf = prior.toDF("id", "s")
    val batchDf = batch.toDF("id", "s")
    for (d <- Seq(1, 2); disableHints <- Seq(false, true)) {
      val idx = EditSim.editVariantIndex(priorDf, "s", "id", maxDist = d)
      val got = withConf("spark.sql.optimizer.disableHints" -> disableHints.toString) {
        EditSim.editDistancePairsAgainst(batchDf, idx, "s", "id", maxDist = d)
          .as[(Long, Long, Int)].collect()
      }.map { case (b, i, e) => (b, i) -> e }.toMap
      val want = (for {
        (ib, sb) <- batch; (ip, sp) <- prior
        e = lev(sb, sp)
        if e <= d
      } yield (ib, ip) -> e).toMap
      assert(got === want, s"maxDist $d disableHints $disableHints")
    }
  }

  test("against-index probe deeper than the build depth fails loudly") {
    val df = Seq((1L, "spark")).toDF("id", "s")
    val idx = EditSim.editVariantIndex(df, "s", "id", maxDist = 1)
    val ex = intercept[Exception] {
      EditSim.editDistancePairsAgainst(df, idx, "s", "id", maxDist = 2).collect()
    }
    assert(ex.getMessage != null)
    // shallower probe against a deeper index: complete (superset variants)
    val idx2 = EditSim.editVariantIndex(df, "s", "id", maxDist = 2)
    assert(EditSim.editDistancePairsAgainst(
      Seq((9L, "spork")).toDF("id", "s"), idx2, "s", "id", maxDist = 1)
      .as[(Long, Long, Int)].collect().toSeq === Seq((9L, 1L, 1)))
  }

  test("variant bucket cap drops loudly, never silently") {
    GraftSession.registerBucketCapListener(spark)
    GraftSession.clearBucketCapDrops(spark)
    val df = (0L until 30L).map(i => (i, "same")).toDF("id", "s")
    val out = EditSim.editDistancePairs(df, "s", "id", maxDist = 1,
      maxVariantBucket = Some(10))
    assert(out.count() === 0L)
    val drops = GraftSession.bucketCapDrops(spark)
      .filter(_.metric.startsWith("graft.editsim.bucket_cap#"))
    assert(drops.nonEmpty && drops.exists(_.droppedBuckets > 0), drops.toString)
    GraftSession.clearBucketCapDrops(spark)
    assert(EditSim.editDistancePairs(df, "s", "id", maxDist = 1,
      maxVariantBucket = None).count() === 435L)
  }

  test("editVariantIndexAppend: union == rebuild; depth and id guards fail loud") {
    val a = Seq((1L, "alpha"), (2L, "bravo")).toDF("id", "s")
    val b = Seq((3L, "alphq")).toDF("id", "s")
    val grown = EditSim.editVariantIndexAppend(
      EditSim.editVariantIndex(a, "s", "id", maxDist = 1), b, "s", "id", maxDist = 1)
    val rebuilt = EditSim.editVariantIndex(a.unionByName(b), "s", "id", maxDist = 1)
    assert(grown.collect().map(_.toSeq).toSet == rebuilt.collect().map(_.toSeq).toSet)
    val e = intercept[Exception] {
      EditSim.editVariantIndexAppend(
        EditSim.editVariantIndex(a, "s", "id", maxDist = 1),
        b, "s", "id", maxDist = 2).count()
    }
    assert(e.getMessage.contains("one depth per artifact"), e.getMessage)
    val e2 = intercept[Exception] {
      EditSim.editVariantIndexAppend(
        EditSim.editVariantIndex(a, "s", "id", maxDist = 1),
        Seq((2L, "charlie")).toDF("id", "s"), "s", "id", maxDist = 1).count()
    }
    assert(e2.getMessage.contains("already indexed"), e2.getMessage)
  }
}
