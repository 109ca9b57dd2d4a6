package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Size of a generated input: what the program is handed. */
final case class InputStats(records: Long, bytes: Long, files: Int)

/** Shared generation helpers: seeded streams, files, words. */
object Gen {

  /** An independent, reproducible stream per (seed, purpose). */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8),
      1 << 16)
  }

  /** Regular data files under `dir`, skipping hidden and marker files. */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else dir.listFiles().toSeq
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .flatMap(dataFiles)

  def stats(dir: File, records: Long): InputStats = {
    val fs = dataFiles(dir)
    InputStats(records, fs.map(_.length).sum, fs.size)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** JSON string literal (the generated text is ASCII). */
  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A closed lowercase alphabetic vocabulary, so no generated word can
    * look like PII, a number or punctuation to the text stages. */
  final class Vocab(seed: Long, size: Int) {
    private val r = rng(seed, 7)
    val words: Array[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < size) {
        val n = 3 + r.nextInt(7)
        seen += (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    /** Zipf-like draw: low ranks are common, the tail is long. */
    def draw(r: SplittableRandom): String = {
      val u = r.nextDouble()
      words(math.min(words.length - 1, (words.length * u * u * u).toInt))
    }
    def line(r: SplittableRandom, n: Int): String =
      (0 until n).map(_ => draw(r)).mkString(" ")
  }
}
