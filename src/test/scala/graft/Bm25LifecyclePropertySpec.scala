package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.operators.Retrieval

/**
 * Seeded lifecycle properties of the stats-sidecar BM25 layout, read
 * out through `bm25SidecarRows` (the denormalized row view a fresh
 * build would produce): append-then-forget is the identity, forgetting
 * absent ids is the identity, and generation merge + compaction change
 * neither the rows nor the top-k probe. Corpora are small and few (8 in
 * total across the three properties) so the suite stays under a minute.
 */
class Bm25LifecyclePropertySpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")

  /** One document: NULL text, empty text (token-free sentinel) or 1-6
    * vocabulary words — and the part (0, 1, 2) of the corpus it lands in. */
  private val genDoc: Gen[(Option[String], Int)] = for {
    text <- Gen.frequency(
      1 -> Gen.const(Option.empty[String]),
      1 -> Gen.const(Some("")),
      8 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
        .map(ws => Some(ws.mkString(" "))))
    part <- Gen.choose(0, 2)
  } yield (text, part)

  /** (doc_id, text, part) rows with ids 1..n. */
  private val genCorpus: Gen[Seq[(Long, Option[String], Int)]] =
    Gen.choose(2, 10).flatMap(n => Gen.listOfN(n, genDoc)).map(_.zipWithIndex.map {
      case ((text, part), i) => (i + 1L, text, part)
    })

  private def frame(rows: Seq[(Long, Option[String], Int)]): DataFrame =
    rows.map { case (id, text, _) => (id, text) }.toDF("doc_id", "text")

  private def part(rows: Seq[(Long, Option[String], Int)], p: Int => Boolean): DataFrame =
    frame(rows.filter(r => p(r._3)))

  private def layout(c: DataFrame): String = {
    val out = java.nio.file.Files.createTempDirectory("bm25-prop").toString
    Retrieval.bm25SidecarWrite(c, "text", "doc_id", out, buckets = 4)
    out
  }

  private def rows(path: String): Set[Seq[Any]] =
    Retrieval.bm25SidecarRows(spark, path)
      .select(col("word"), col("doc_id"), col("tf"), col("dl"), col("df"),
        col("n_docs"), col("avgdl"), col("sum_dl"))
      .collect().map(_.toSeq).toSet

  // one- and two-word queries: a sum of at most two distinct doubles is
  // order-independent, so probe scores are bit-exact across file layouts
  private lazy val queries =
    Seq((1L, "alpha"), (2L, "beta gamma"), (3L, "theta eps"), (4L, "missing"))
      .toDF("query_id", "qtext")

  private def topK(path: String): Set[Seq[Any]] =
    Retrieval.bm25TopKFromSidecar(spark, path, queries, "query_id", "qtext", k = 3)
      .collect().map(_.toSeq).toSet

  private def check(name: String, n: Int, seed: Long)(
      prop: Seq[(Long, Option[String], Int)] => Boolean): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(n).withWorkers(1)
        .withInitialSeed(Seed(seed)),
      Prop.forAllNoShrink(genCorpus)(prop))
    assert(res.passed, s"$name: ${res.status}")
  }

  test("append then forget of the drop ≡ the original layout") {
    check("append-forget", 3, 20261017L) { c =>
      val base = part(c, _ == 0)
      val drop = part(c, _ != 0)
      val dir = layout(base)
      Retrieval.bm25SidecarAppend(spark, dir, drop, "text", "doc_id")
      Retrieval.bm25SidecarForget(spark, dir, drop.select("doc_id"), "doc_id")
      rows(dir) == rows(layout(base))
    }
  }

  test("forgetting ids that are not present is the identity") {
    check("forget-absent", 2, 20261018L) { c =>
      val dir = layout(frame(c))
      val before = rows(dir)
      Retrieval.bm25SidecarForget(spark, dir,
        c.map(_._1 + 1000L).toDF("rid"), "rid")
      rows(dir) == before
    }
  }

  test("merge and compact leave the rows and the top-k probe unchanged") {
    check("merge-compact", 3, 20261019L) { c =>
      val dir = layout(part(c, _ == 0))
      Retrieval.bm25SidecarAppend(spark, dir, part(c, _ == 1), "text", "doc_id")
      Retrieval.bm25SidecarAppend(spark, dir, part(c, _ == 2), "text", "doc_id")
      // tombstone the odd ids so compaction has something to purge
      Retrieval.bm25SidecarForget(spark, dir,
        c.map(_._1).filter(_ % 2 == 1).toDF("rid"), "rid")
      val (rows0, top0) = (rows(dir), topK(dir))
      Retrieval.bm25SidecarMergeGenerations(spark, dir, maxGenerations = 1)
      val merged = rows(dir) == rows0 && topK(dir) == top0
      Retrieval.bm25SidecarCompact(spark, dir, dir + "-compact")
      merged && rows(dir + "-compact") == rows0 && topK(dir + "-compact") == top0
    }
  }
}
