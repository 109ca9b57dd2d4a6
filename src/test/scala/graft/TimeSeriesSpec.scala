package graft

import org.apache.spark.sql.functions._
import graft.functions.{DtwDistExpr, DtwEnvelopeExpr, LbKeoghEnvExpr, LbKeoghExpr}
import graft.operators.Similarity
import graft.streaming.Events

/** The time-series similarity family (SURVEY §2 row 176): fixed-grid
  * series vectors, the banded-DTW kernel, and the top-k search. */
class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def dist(a: Seq[Double], b: Seq[Double], band: Int): Option[Double] = {
    val r = Seq((a, b)).toDF("a", "b")
      .select(DtwDistExpr(col("a"), col("b"), band)).collect().head
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("DTW properties: identity, symmetry, band widening never hurts, " +
    "band=0 == Manhattan on aligned series") {
    val rnd = new scala.util.Random(29)
    val cases = Seq.fill(40)(
      (Seq.fill(6 + rnd.nextInt(6))(rnd.nextInt(10).toDouble),
        Seq.fill(6 + rnd.nextInt(6))(rnd.nextInt(10).toDouble)))
    for ((a, b) <- cases) {
      // identity
      assert(dist(a, a, 0).contains(0.0))
      val wide = math.max(a.length, b.length)
      // symmetry at a feasible band
      assert(dist(a, b, wide) == dist(b, a, wide))
      // widening the band can only find cheaper (or equal) paths
      val d2 = dist(a, b, math.abs(a.length - b.length) + 1)
      val dW = dist(a, b, wide)
      assert(d2.isDefined && dW.isDefined && dW.get <= d2.get + 1e-12,
        s"band widening hurt: $d2 -> $dW")
      // band=0 over equal lengths degenerates to Manhattan distance
      if (a.length == b.length) {
        val manhattan = a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
        assert(math.abs(dist(a, b, 0).get - manhattan) < 1e-9)
      }
    }
    // warping absorbs a pure shift that an aligned metric punishes
    val pulse = Seq(0.0, 0, 5, 5, 0, 0, 0, 0)
    val shifted = Seq(0.0, 5, 5, 0, 0, 0, 0, 0)
    assert(dist(pulse, shifted, 2).contains(0.0))
    assert(dist(pulse, shifted, 0).get > 0.0)
  }

  test("DTW null rules: infeasible band gap, empty side, null element") {
    assert(dist(Seq(1.0, 2, 3, 4, 5), Seq(1.0), 2).isEmpty) // |5-1| > 2
    assert(dist(Seq.empty[Double], Seq(1.0), 8).isEmpty)
    val withNull = Seq((Seq[java.lang.Double](1.0, null), Seq(1.0, 2.0)))
      .toDF("a", "b")
      .select(DtwDistExpr(col("a").cast("array<double>"), col("b"), 2))
      .collect().head
    assert(withNull.isNullAt(0))
    // SQL registration surface
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT dtw_dist(array(0.0d, 5.0d), array(5.0d, 0.0d), 1)")
      .collect().head.getDouble(0)
    assert(viaSql == 10.0)
  }

  test("seriesVectors: dense zero-filled grid, out-of-grid rows dropped, " +
    "one aggregation") {
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z
    val day = 86400000000L
    val ev = Seq(
      (1L, t0 + 1L, 2.0), (1L, t0 + day + 1L, 3.0), (1L, t0 + day + 2L, 4.0),
      (2L, t0 + 2 * day, 5.0),
      (2L, t0 - 1L, 99.0),          // before the grid: dropped
      (2L, t0 + 3 * day, 99.0))     // past nBuckets=3: dropped
      .toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"))
    val out = Events.seriesVectors(ev, t0, day, nBuckets = 3)
      .as[(Long, Seq[Double])].collect().toMap
    assert(out(1L) == Seq(2.0, 7.0, 0.0))
    assert(out(2L) == Seq(0.0, 0.0, 5.0))
    // exactly one aggregate in the plan — no collect/pivot/regroup
    val plan = Events.seriesVectors(ev, t0, day, nBuckets = 3)
      .queryExecution.optimizedPlan
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size == 1, plan.toString)
  }

  private def lb(a: Seq[Double], b: Seq[Double], band: Int): Option[Double] = {
    val r = Seq((a, b)).toDF("a", "b")
      .select(LbKeoghExpr(col("a"), col("b"), band)).collect().head
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("LB_Keogh: a true lower bound, symmetric, band-0 == Manhattan == DTW, " +
    "null-parity with dtw_dist") {
    val rnd = new scala.util.Random(31)
    val cases = Seq.fill(60)(
      (Seq.fill(5 + rnd.nextInt(8))(rnd.nextInt(12).toDouble),
        Seq.fill(5 + rnd.nextInt(8))(rnd.nextInt(12).toDouble)))
    for ((a, b) <- cases; band <- Seq(math.abs(a.length - b.length), 2, 5, 20)
         if band >= math.abs(a.length - b.length)) {
      val l = lb(a, b, band)
      val d = dist(a, b, band)
      assert(l.isDefined == d.isDefined)
      assert(l.get <= d.get + 1e-9, s"lb ${l.get} > dtw ${d.get} ($a vs $b @ $band)")
      // the max-of-both-sides form is symmetric
      assert(lb(a, b, band) == lb(b, a, band))
      if (band == 0 && a.length == b.length) {
        val manhattan = a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
        assert(math.abs(l.get - manhattan) < 1e-9)
        assert(math.abs(d.get - manhattan) < 1e-9)
      }
    }
    // null-parity: infeasible gap / empty / null element — exactly dtw's rules
    assert(lb(Seq(1.0, 2, 3, 4, 5), Seq(1.0), 2).isEmpty)
    assert(lb(Seq.empty[Double], Seq(1.0), 8).isEmpty)
    // SQL registration surface — the fused kernel and the
    // persisted-artifact halves (envelopes + one-sided bound)
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT lb_keogh(array(0.0d, 5.0d), array(5.0d, 0.0d), 0)")
      .collect().head.getDouble(0)
    assert(viaSql == 10.0)
    val envSql = spark.sql(
      """SELECT greatest(
        |  lb_keogh_env(array(5.0d, 0.0d),
        |    dtw_env_upper(array(0.0d, 5.0d), 0),
        |    dtw_env_lower(array(0.0d, 5.0d), 0), 0),
        |  lb_keogh_env(array(0.0d, 5.0d),
        |    dtw_env_upper(array(5.0d, 0.0d), 0),
        |    dtw_env_lower(array(5.0d, 0.0d), 0), 0))""".stripMargin)
      .collect().head.getDouble(0)
    assert(envSql == viaSql, s"env SQL form $envSql != fused $viaSql")
  }

  test("dtw_dist survives a degenerate Int.MaxValue band (the unbanded spelling)") {
    // i + band used to overflow Int, skip the inner loop, and return
    // Infinity; the Long-arithmetic fix makes it equal the widest band
    val a = Seq(0.0, 1, 5, 5, 1, 0)
    val b = Seq(1.0, 5, 5, 1, 0, 0)
    assert(dist(a, b, Int.MaxValue) == dist(a, b, a.length max b.length))
  }

  test("two dtw_dist calls in one projection stay correct (codegen freshName)") {
    val df = Seq((Seq(0.0, 1, 2), Seq(1.0, 1, 2), Seq(5.0, 5, 5)))
      .toDF("a", "b", "c")
      .select(
        DtwDistExpr(col("a"), col("b"), 1).as("d1"),
        DtwDistExpr(col("a"), col("c"), 1).as("d2"),
        LbKeoghExpr(col("a"), col("b"), 1).as("l1"),
        LbKeoghExpr(col("a"), col("c"), 1).as("l2"))
    val r = df.collect().head
    assert(r.getDouble(0) == 1.0) // |0-1| then aligned
    assert(r.getDouble(2) <= r.getDouble(0))
    assert(r.getDouble(3) <= r.getDouble(1))
  }

  test("dtwTopKPruned ≡ dtwTopK on random corpora, at any pruneN >= k") {
    val rnd = new scala.util.Random(37)
    val corpus = (1L to 60L).map(i =>
      (i, Seq.fill(8 + rnd.nextInt(3))(rnd.nextInt(10).toDouble)))
      .toDF("id", "v")
    val qs = (1L to 4L).map(i =>
      (100L + i, Seq.fill(9)(rnd.nextInt(10).toDouble))).toDF("id", "v")
    val brute = Similarity.dtwTopK(corpus, qs, "v", "id", k = 5, band = 3)
      .select("query_id", "neighbor_id", "dtw_dist", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    for (pruneN <- Seq(5, 8, 30)) {
      val pruned = Similarity
        .dtwTopKPruned(corpus, qs, "v", "id", k = 5, band = 3, pruneN = pruneN)
        .select("query_id", "neighbor_id", "dtw_dist", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(pruned == brute, s"pruneN=$pruneN diverged from brute force")
    }
  }

  test("dtwTopKPruned plan: the DTW kernel only runs behind a prune guard " +
    "(fused and persisted-envelope arms)") {
    val corpus = (1L to 20L).map(i => (i, Seq.fill(6)(i.toDouble)))
      .toDF("id", "v")
    val qs = Seq((1L, Seq.fill(6)(1.0))).toDF("id", "v")
    def assertGuarded(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.optimizedPlan
      val dtwNodes = plan.collect {
        case p if p.expressions.exists(_.exists(_.isInstanceOf[DtwDistExpr])) => p
      }
      assert(dtwNodes.nonEmpty, "no DTW projection found in the plan")
      dtwNodes.foreach { p =>
        val guarded = p.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.references.exists(a =>
              a.name == "__lbr" || a.name == "__tau" || a.name == "lb") => f
        }.nonEmpty
        assert(guarded,
          s"DTW computed over unpruned pairs — no lb/__lbr/__tau filter below:\n$p")
      }
    }
    assertGuarded(Similarity
      .dtwTopKPruned(corpus, qs, "v", "id", k = 3, band = 2, pruneN = 5))
    assertGuarded(Similarity.dtwTopKPrunedOver(
      Similarity.dtwEnvelopeIndex(corpus, "v", "id", band = 2),
      qs, "v", "id", band = 2, k = 3, pruneN = 5))
  }

  test("seriesVectors norm arms: zscore and unit are row-local shape maps") {
    val t0 = 1704067200000000L
    val day = 86400000000L
    val ev = Seq(
      (1L, t0 + 1L, 2.0), (1L, t0 + day + 1L, 6.0), (1L, t0 + 2 * day, 4.0),
      (2L, t0 + 1L, 5.0), (2L, t0 + day, 5.0), (2L, t0 + 2 * day, 5.0))
      .toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"))
    val z = Events.seriesVectors(ev, t0, day, nBuckets = 3,
        norm = Some(Events.ZScoreNorm))
      .as[(Long, Seq[Double])].collect().toMap
    // user 1: values (2,6,4), mean 4, population std sqrt(8/3)
    val sd = math.sqrt(8.0 / 3.0)
    assert(z(1L).zip(Seq(-2 / sd, 2 / sd, 0.0))
      .forall { case (g, e) => math.abs(g - e) < 1e-12 })
    // user 2: constant profile, σ = 0 → zero vector (not NaN)
    assert(z(2L) == Seq(0.0, 0.0, 0.0))
    val u = Events.seriesVectors(ev, t0, day, nBuckets = 3,
        norm = Some(Events.UnitNorm))
      .as[(Long, Seq[Double])].collect().toMap
    val n1 = math.sqrt(2.0 * 2 + 6 * 6 + 4 * 4)
    assert(u(1L).zip(Seq(2 / n1, 6 / n1, 4 / n1))
      .forall { case (g, e) => math.abs(g - e) < 1e-12 })
    // unknown arm fails loud
    intercept[IllegalArgumentException] {
      Events.seriesVectors(ev, t0, day, nBuckets = 3, norm = Some("minmax"))
    }
    // the norm arm is a post-aggregation projection: still exactly ONE
    // aggregate in the plan (the seriesVectors one-shuffle contract)
    val plan = Events.seriesVectors(ev, t0, day, nBuckets = 3,
        norm = Some(Events.ZScoreNorm))
      .queryExecution.optimizedPlan
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size == 1, plan.toString)
  }

  test("persisted-envelope LB parity: the two one-sided LbKeoghEnvExpr " +
    "forms max to the fused LbKeoghExpr bit for bit, null rules included") {
    val rnd = new scala.util.Random(41)
    val cases = Seq.fill(50)(
      (Seq.fill(5 + rnd.nextInt(8))(rnd.nextInt(12).toDouble),
        Seq.fill(5 + rnd.nextInt(8))(rnd.nextInt(12).toDouble))) ++
      Seq((Seq(1.0, 2, 3, 4, 5), Seq(1.0)), // infeasible at small bands
        (Seq.empty[Double], Seq(1.0, 2)))   // empty side
    for (band <- Seq(0, 2, 5)) {
      val rows = cases.toDF("a", "b")
        .select(
          LbKeoghExpr(col("a"), col("b"), band).as("fused"),
          DtwEnvelopeExpr(col("a"), band, upper = true).as("a_up"),
          DtwEnvelopeExpr(col("a"), band, upper = false).as("a_lo"),
          DtwEnvelopeExpr(col("b"), band, upper = true).as("b_up"),
          DtwEnvelopeExpr(col("b"), band, upper = false).as("b_lo"),
          col("a"), col("b"))
        .select(col("fused"),
          LbKeoghEnvExpr(col("b"), col("a_up"), col("a_lo"), band).as("sa"),
          LbKeoghEnvExpr(col("a"), col("b_up"), col("b_lo"), band).as("sb"))
        .collect()
      rows.foreach { r =>
        if (r.isNullAt(0)) {
          assert(r.isNullAt(1) || r.isNullAt(2),
            s"fused NULL but both env sides defined: $r @ band $band")
        } else {
          assert(!r.isNullAt(1) && !r.isNullAt(2),
            s"fused defined but an env side NULL: $r @ band $band")
          assert(math.max(r.getDouble(1), r.getDouble(2)) == r.getDouble(0),
            s"env max != fused: $r @ band $band")
        }
      }
    }
  }

  test("dtwEnvelopeIndex probe == dtwTopKPruned through parquet; band " +
    "sidecar is the artifact's contract") {
    val rnd = new scala.util.Random(43)
    val corpus = (1L to 60L).map(i =>
      (i, Seq.fill(8 + rnd.nextInt(3))(rnd.nextInt(10).toDouble)))
      .toDF("id", "v")
    val qs = (1L to 4L).map(i =>
      (100L + i, Seq.fill(9)(rnd.nextInt(10).toDouble))).toDF("id", "v")
    val brute = Similarity.dtwTopKPruned(corpus, qs, "v", "id",
        k = 5, band = 3, pruneN = 8)
      .select("query_id", "neighbor_id", "dtw_dist", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dtw-envidx").toString
    Similarity.dtwEnvelopeIndexWrite(
      Similarity.dtwEnvelopeIndex(corpus, "v", "id", band = 3), dir, band = 3)
    val probed = Similarity.dtwTopKPrunedAgainst(spark, dir, qs, "v", "id",
        k = 5, pruneN = 8)
      .select("query_id", "neighbor_id", "dtw_dist", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(probed == brute)
    // append with a mismatched band fails loud
    val e = intercept[IllegalArgumentException] {
      Similarity.dtwEnvelopeIndexWrite(
        Similarity.dtwEnvelopeIndex(qs, "v", "id", band = 2), dir,
        band = 2, mode = "append")
    }
    assert(e.getMessage.contains("band"), e.getMessage)
    // a sidecar-less directory fails loud on read
    val bare = java.nio.file.Files
      .createTempDirectory("graft-dtw-bare").toString
    corpus.write.mode("overwrite").parquet(bare)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.readDtwBandMeta(spark, bare)
    }
    assert(e2.getMessage.contains("_dtw_band"), e2.getMessage)
    // and the WRITE side refuses to append envelopes into that foreign
    // directory: stamping it would legitimize a mixed-schema artifact
    val e3 = intercept[IllegalArgumentException] {
      Similarity.dtwEnvelopeIndexWrite(
        Similarity.dtwEnvelopeIndex(qs, "v", "id", band = 3), bare,
        band = 3, mode = "append")
    }
    assert(e3.getMessage.contains("_dtw_band"), e3.getMessage)
    assert(spark.read.parquet(bare).columns.toSet == Set("id", "v"),
      "refused append must leave the foreign directory untouched")
    // appending into an EMPTY directory is a fresh build that stamps the band
    val empty = java.nio.file.Files
      .createTempDirectory("graft-dtw-empty").toString
    Similarity.dtwEnvelopeIndexWrite(
      Similarity.dtwEnvelopeIndex(qs, "v", "id", band = 3), empty,
      band = 3, mode = "append")
    assert(Similarity.readDtwBandMeta(spark, empty) == 3)
  }

  test("dtwEnvelopeIndexWrite append leaves an unchanged _dtw_band untouched") {
    val corpus = (1L to 6L).map(i => (i, Seq(i.toDouble, 2.0, 3.0))).toDF("id", "v")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dtw-stamp").toString
    Similarity.dtwEnvelopeIndexWrite(
      Similarity.dtwEnvelopeIndex(corpus, "v", "id", band = 2), dir, band = 2)
    val stamp = new org.apache.hadoop.fs.Path(dir, "_dtw_band")
    val fs = stamp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_dtw_band"))
    fs.setTimes(stamp, 0L, -1L)
    Similarity.dtwEnvelopeIndexWrite(
      Similarity.dtwEnvelopeIndex(corpus.limit(2), "v", "id", band = 2), dir,
      band = 2, mode = "append")
    // a racing probe must never see the stamp truncated mid-rewrite
    assert(fs.getFileStatus(stamp).getModificationTime == 0L)
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_dtw_band")).toSeq == before.toSeq)
    assert(spark.read.parquet(dir).count() == 8L)
  }

  test("magnitude contrast: a big-user profile ranks differently once " +
    "z-scored (the composed shape-search story)") {
    val t0 = 1704067200000000L
    val day = 86400000000L
    def evs(u: Long, vals: Seq[Double]) = vals.zipWithIndex.map {
      case (v, i) => (u, t0 + i * day, v)
    }
    val ev = (evs(1L, Seq(1.0, 2.0, 1.0)) ++       // the query shape
        evs(101L, Seq(100.0, 200.0, 100.0)) ++     // same SHAPE, 100x bigger
        evs(102L, Seq(1.2, 1.0, 1.4)))             // close magnitude, other shape
      .toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"))
    def top1(norm: Option[String]): Long = {
      val sv = Events.seriesVectors(ev, t0, day, nBuckets = 3, norm = norm)
      Similarity.dtwTopKPruned(
          sv.filter(col("series_id") > 1L), sv.filter(col("series_id") === 1L),
          "series", "series_id", k = 1, band = 1, pruneN = 1)
        .select("neighbor_id").as[Long].collect().head
    }
    assert(top1(None) == 102L)                       // raw: magnitude wins
    assert(top1(Some(Events.ZScoreNorm)) == 101L)    // z-scored: shape wins
  }

  test("dtwTopK: rank/tiebreak contract and infeasible exclusion") {
    val corpus = Seq(
      (10L, Seq(0.0, 1, 5, 5, 1, 0, 0, 0)),
      (11L, Seq(0.0, 1, 5, 5, 1)) // infeasible vs len-8 at band 2
    ).toDF("id", "v")
    val q = Seq((1L, Seq(0.0, 1, 5, 5, 1, 0, 0, 0))).toDF("id", "v")
    val got = Similarity.dtwTopK(corpus, q, "v", "id", k = 5, band = 2)
      .select("neighbor_id", "dtw_dist", "rank")
      .as[(Long, Double, Int)].collect().toSeq
    assert(got == Seq((10L, 0.0, 1)))
  }
}
