package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

/**
 * A seeded text corpus with planted truth, written as JSON-lines drops
 * (`{"id": <long>, "text": <string>}`), plus an eval set whose items are
 * partly copied into corpus documents.
 *
 * Planted, with the arithmetic the curation check relies on:
 *  - exact twins: verbatim copies of a base document;
 *  - PII twins: copies that differ from their source only in an e-mail
 *    address, so they become exact twins once PII is masked;
 *  - near-dups: copies with one word replaced (3-shingle Jaccard ≥ 0.85
 *    for the ≥ 40-word documents generated here);
 *  - boilerplate: a few lines shared by many documents (removed by the
 *    corpus-wide line rule);
 *  - scraper loops: a line repeated inside one document;
 *  - contamination: documents made mostly of one eval item's text.
 * Every source document is copied at most once, so no content line
 * occurs in more than two documents and the line rule touches only the
 * boilerplate.
 */
object CorpusGen {

  final case class Truth(
    docs: Long,
    twins: Long,
    nearDups: Long,
    contaminated: Long,
    evalItems: Long,
    input: InputStats)

  private val Boilerplate = Seq(
    "subscribe to our newsletter for weekly updates",
    "all rights reserved by the original authors",
    "click here to read the rest of this story",
    "share this page with your friends and family",
    "cookies help us deliver our services to you")

  private final case class Doc(lines: Vector[String], email: Option[Int])

  def generate(seed: Long, dir: File, nDocs: Int, vocab: Gen.Vocab): Truth = {
    val r = Gen.rng(seed, 2)
    def content(): String = vocab.line(r, 10 + r.nextInt(5))
    def email(e: Int): String = s"contact ${vocab.words(e % 500)}.${vocab.words(e % 997)}$e@example.org today"
    val nEval = math.max(4, nDocs / 50)
    val evalItems = Vector.fill(nEval)(Vector.fill(4)(vocab.line(r, 13)))
    var nextEval = 0
    val docs = new Array[Doc](nDocs)
    val sources = mutable.ArrayBuffer.empty[Int]      // uncopied base docs
    val piiSources = mutable.ArrayBuffer.empty[Int]   // uncopied base docs with an e-mail
    var twins, near, contaminated = 0L
    def take(pool: mutable.ArrayBuffer[Int]): Option[Int] =
      if (pool.isEmpty) None
      else {
        val k = r.nextInt(pool.size)
        val s = pool(k)
        pool(k) = pool.last; pool.remove(pool.size - 1)
        sources -= s; piiSources -= s
        Some(s)
      }
    for (i <- 0 until nDocs) {
      val u = r.nextDouble()
      val copied: Option[Doc] =
        if (u < 0.05) take(sources).map { s => twins += 1; docs(s) }
        else if (u < 0.07) take(piiSources).map { s =>
          twins += 1; docs(s).copy(email = Some(docs(s).email.get + 1000000))
        }
        else if (u < 0.12) take(sources).map { s =>
          near += 1
          val d = docs(s)
          // replace one word of the first (always unique) content line
          val ws = d.lines.head.split(" ")
          val k = r.nextInt(ws.length)
          var w = vocab.draw(r)
          while (w == ws(k)) w = vocab.draw(r)
          ws(k) = w
          d.copy(lines = d.lines.updated(0, ws.mkString(" ")))
        }
        else if (u < 0.13 && nextEval < nEval) {
          contaminated += 1
          val d = Doc(evalItems(nextEval) :+ content(), None)
          nextEval += 1
          Some(d)
        }
        else None
      docs(i) = copied.getOrElse {
        var lines = Vector.fill(4 + r.nextInt(3))(content())
        if (r.nextInt(20) == 0) lines = lines :+ lines(1) :+ lines(1)   // scraper loop
        if (r.nextInt(5) == 0) lines = lines :+ Boilerplate(r.nextInt(Boilerplate.size))
        val withEmail = r.nextInt(8) == 0
        val d = Doc(lines, if (withEmail) Some(i) else None)
        sources += i
        if (withEmail) piiSources += i
        d
      }
    }
    val corpusDir = new File(dir, "corpus")
    val files = 4
    val writers = (0 until files).map(k => Gen.writer(new File(corpusDir, f"part-$k%05d.json")))
    try docs.zipWithIndex.foreach { case (d, i) =>
      val text = (d.email.map(e => d.lines :+ email(e)).getOrElse(d.lines)).mkString("\n")
      val w = writers(i % files)
      w.write(s"""{"id":$i,"text":${Gen.jstr(text)}}"""); w.newLine()
    } finally writers.foreach(_.close())
    val ew = Gen.writer(new File(dir, "eval/part-00000.json"))
    try evalItems.zipWithIndex.foreach { case (e, i) =>
      ew.write(s"""{"doc_id":$i,"text":${Gen.jstr(e.mkString("\n"))}}"""); ew.newLine()
    } finally ew.close()
    Truth(nDocs, twins, near, contaminated, nEval, Gen.stats(corpusDir, nDocs))
  }
}

/**
 * Seeded inputs of the BM25 index lifecycle: a base drop, then per daily
 * cycle an append drop with fresh ids, a query batch and a takedown set
 * of live ids plus ids that were never indexed. Each cycle is derived
 * from (seed, cycle) alone, so a run can draw as many as it has time for.
 */
final class IndexGen(seed: Long, dir: File, val baseDocs: Int, val dropDocs: Int,
    val queries: Int, val takedown: Int, val vocab: Gen.Vocab) {

  /** Ids of documents never indexed start here. */
  val AbsentBase: Long = 1L << 40

  private def doc(r: SplittableRandom): String =
    Vector.fill(2 + r.nextInt(3))(vocab.line(r, 8 + r.nextInt(6))).mkString("\n")

  private def writeDrop(path: File, ids: Range, r: SplittableRandom): Unit = {
    val w = Gen.writer(path)
    try ids.foreach { i =>
      w.write(s"""{"id":$i,"text":${Gen.jstr(doc(r))}}"""); w.newLine()
    } finally w.close()
  }

  def basePath: File = new File(dir, "base")
  def dropPath(cycle: Int): File = new File(dir, s"drops/cycle-$cycle")

  def writeBase(): InputStats = {
    val r = Gen.rng(seed, 3)
    (0 until 2).foreach { k =>
      val per = baseDocs / 2
      writeDrop(new File(basePath, f"part-$k%05d.json"),
        (k * per) until (if (k == 1) baseDocs else (k + 1) * per), r)
    }
    Gen.stats(basePath, baseDocs)
  }

  def dropIds(cycle: Int): Range =
    (baseDocs + cycle * dropDocs) until (baseDocs + (cycle + 1) * dropDocs)

  def writeDrop(cycle: Int): Unit =
    writeDrop(new File(dropPath(cycle), "part-00000.json"), dropIds(cycle),
      Gen.rng(seed, 1000 + cycle))

  def queryBatch(cycle: Int): Seq[(Long, String)] = {
    val r = Gen.rng(seed, 2000000 + cycle)
    (0 until queries).map(q => (q.toLong, vocab.line(r, 2 + r.nextInt(3))))
  }

  /** `takedown` ids: live ones drawn from `live` (removed from it), and
    * a tenth that were never indexed. */
  def takedownSet(cycle: Int, live: mutable.ArrayBuffer[Long]): Seq[Long] = {
    val r = Gen.rng(seed, 3000000 + cycle)
    val absent = takedown / 10
    val present = (0 until math.min(takedown - absent, live.size)).map { _ =>
      val k = r.nextInt(live.size)
      val id = live(k)
      live(k) = live.last; live.remove(live.size - 1)
      id
    }
    present ++ (0 until absent).map(a => AbsentBase + cycle.toLong * takedown + a)
  }
}
