package graftbench

import java.io.File

import scala.collection.mutable

/**
 * A seeded V2F drop in the reference layout: five header-TSV tables
 * (files named `*.csv`, tab-separated) plus the nested JSON-lines
 * `dataset-specific` tree. Planted in the data: blank and
 * whitespace-only cells (→ NULL), longs spelled `x.0`, and `.` elements
 * inside double arrays (→ NaN). The truth the output checks compare
 * against is recorded while writing.
 */
object V2fGen {

  /** Rows per table. */
  val Rows: Map[String, Int] = Map(
    "frequency-analysis" -> 48000,
    "meta-analysis/ancestry-specific" -> 36000,
    "meta-analysis/trans-ethnic" -> 24000,
    "variant-effect/regulatory-feature-consequences" -> 24000,
    "variant-effect/transcript-consequences" -> 8000,
    "dataset-specific" -> 24000)

  final case class Truth(
    rows: Map[String, Long],
    /** distinct variant ids over the three variant-bearing tables */
    variants: Long,
    /** (table, typed column) → planted blank cells */
    blanks: Map[(String, String), Long],
    input: InputStats)

  private val Bases = Array("A", "C", "G", "T")
  private val Phenos = Array("T2D", "BMI", "LDL", "HDL")
  private val Ancestries = Array("AA", "EA", "EU")
  private val BlankRate = 0.02

  /** Transcript-consequence columns by kind, raw header spelling. */
  private val TcDoubles = Seq(
    "cadd_phred", "cadd_raw", "cadd_raw_rankscore", "dann_rankscore",
    "dann_score", "eigen_pc_raw", "eigen_pc_raw_rankscore", "eigen_phred",
    "eigen_raw", "fathmm_converted_rankscore", "fathmm_mkl_coding_rankscore",
    "fathmm_mkl_coding_score", "genocanyon_score", "genocanyon_score_rankscore",
    "gerp++_nr", "gerp++_rs", "gerp++_rs_rankscore",
    "gm_12878_confidence_value", "gm_12878_fitcons_score",
    "gm_12878_fitcons_score_rankscore", "h_1_hesc_confidence_value",
    "h_1_hesc_fitcons_score", "h_1_hesc_fitcons_score_rankscore",
    "huvec_confidence_value", "huvec_fitcons_score",
    "huvec_fitcons_score_rankscore", "integrated_confidence_value",
    "integrated_fitcons_score", "integrated_fitcons_score_rankscore",
    "lrt_converted_rankscore", "lrt_omega", "lrt_score", "metalr_rankscore",
    "metalr_score", "metasvm_rankscore", "metasvm_score",
    "mutationassessor_score", "mutationassessor_score_rankscore",
    "mutationtaster_converted_rankscore", "phastcons_100_way_vertebrate",
    "phastcons_100_way_vertebrate_rankscore", "phastcons_20_way_mammalian",
    "phastcons_20_way_mammalian_rankscore", "phylop_100_way_vertebrate",
    "phylop_100_way_vertebrate_rankscore", "phylop_20_way_mammalian",
    "phylop_20_way_mammalian_rankscore", "polyphen_2_hdiv_rankscore",
    "polyphen_2_hvar_rankscore", "polyphen_score",
    "provean_converted_rankscore", "sift_converted_rankscore",
    "siphy_29_way_logodds", "siphy_29_way_logodds_rankscore", "vest_3_rankscore")
  private val TcLongs = Seq(
    "cdna_end", "cdna_start", "cds_end", "cds_start", "distance",
    "protein_end", "protein_start", "reliability_index", "strand")
  private val TcBools = Seq("canonical", "pick")
  private val TcStringArrays = Seq(
    "consequence_terms", "fathmm_pred", "flags", "lof_flags",
    "mutationtaster_aae", "mutationtaster_model", "mutationtaster_pred",
    "provean_pred", "sift_pred", "transcript_id_vest_3",
    "transcript_var_vest_3", "interpro_domain")
  private val TcCommaDoubleArrays = Seq(
    "mutationtaster_score", "vest_3_score", "polyphen_2_hdiv_score",
    "polyphen_2_hvar_score", "sift_score", "fathmm_score", "provean_score")
  private val TcStrings = Seq(
    "gene_id", "gene_symbol", "transcript_id", "biotype", "impact",
    "amino_acids", "codons", "hgvsc", "hgvsp", "lof", "lof_info",
    "polyphen_prediction", "sift_prediction", "swissprot", "trembl")

  /** Output column name of a raw header (graft renames `gerp++_*`). */
  def outName(raw: String): String = raw.replace("gerp++_", "gerp_plus_plus_")

  private final class Table(val rel: String, dir: File, val header: Seq[String]) {
    var rows = 0L
    val blanks = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def open(sub: String): java.io.BufferedWriter = {
      val w = Gen.writer(new File(dir, s"$rel/$sub"))
      w.write(header.mkString("\t")); w.newLine(); w
    }
  }

  def generate(seed: Long, dir: File): Truth = {
    val r = Gen.rng(seed, 1)
    // the variant universe: unique ids by construction; each table row
    // references one, so the merged set is the union of ids drawn
    val nVariants = Rows("frequency-analysis") * 3 / 4
    val used = new java.util.BitSet(nVariants)
    def variant(i: Int): (String, String, Long, String, String) = {
      val chrom = (1 + i % 22).toString
      val pos = 10000L + i.toLong * 17
      val ref = Bases(i % 4)
      val alt = Bases((i % 4 + 1 + (i / 4) % 3) % 4) // never equal to ref
      (s"$chrom:$pos:$ref:$alt", chrom, pos, ref, alt)
    }
    def posCell(pos: Long): String = if (r.nextInt(4) == 0) s"$pos.0" else pos.toString
    def dbl(): String = f"${r.nextDouble() * 10 - 5}%.6f"
    def pval(): String = f"${r.nextDouble()}%.6e"
    def longCell(): String = {
      val v = r.nextInt(100000).toString
      if (r.nextInt(3) == 0) s"$v.0" else v
    }
    def bool(): String = if (r.nextBoolean()) "true" else "false"
    def blank(t: Table, col: String, cell: => String): String =
      if (r.nextDouble() < BlankRate) {
        t.blanks(col) += 1
        if (r.nextBoolean()) "" else "  "
      } else cell
    def writeRows(t: Table, subs: Seq[String], rows: Int)(cells: Int => Seq[String]): Unit = {
      val per = math.max(1, rows / subs.size)
      var i = 0
      subs.zipWithIndex.foreach { case (sub, si) =>
        val w = t.open(sub)
        try {
          val upto = if (si == subs.size - 1) rows else math.min(rows, i + per)
          while (i < upto) { w.write(cells(i).mkString("\t")); w.newLine(); i += 1 }
        } finally w.close()
      }
      t.rows = rows.toLong
    }
    def drawVariant(): (String, String, Long, String, String) = {
      val i = r.nextInt(nVariants); used.set(i); variant(i)
    }

    val fa = new Table("frequency-analysis", dir,
      Seq("var_id", "chromosome", "position", "reference", "alt", "eaf", "maf"))
    writeRows(fa, for (p <- Phenos.toSeq; k <- 0 until 2) yield s"$p/part-$k.csv",
        Rows(fa.rel)) { _ =>
      val (id, c, pos, ref, alt) = drawVariant()
      Seq(id, c, posCell(pos), ref, alt, blank(fa, "eaf", dbl()), blank(fa, "maf", dbl()))
    }

    val maas = new Table("meta-analysis/ancestry-specific", dir,
      Seq("var_id", "chromosome", "position", "reference", "alt",
        "p_value", "beta", "std_err", "n"))
    writeRows(maas,
        for (p <- Phenos.take(2).toSeq; a <- Ancestries.toSeq) yield s"$p/ancestry=$a/part-0.csv",
        Rows(maas.rel)) { _ =>
      val (id, c, pos, ref, alt) = drawVariant()
      Seq(id, c, posCell(pos), ref, alt, blank(maas, "p_value", pval()),
        blank(maas, "beta", dbl()), blank(maas, "std_err", dbl()),
        blank(maas, "n", longCell()))
    }

    val mate = new Table("meta-analysis/trans-ethnic", dir,
      Seq("var_id", "chromosome", "position", "reference", "alt",
        "p_value", "z_score", "std_err", "beta", "n", "top"))
    writeRows(mate, Phenos.toSeq.map(p => s"$p/part-0.csv"), Rows(mate.rel)) { _ =>
      val (id, c, pos, ref, alt) = drawVariant()
      Seq(id, c, posCell(pos), ref, alt, blank(mate, "p_value", pval()),
        blank(mate, "z_score", dbl()), blank(mate, "std_err", dbl()),
        blank(mate, "beta", dbl()), blank(mate, "n", longCell()),
        blank(mate, "top", bool()))
    }

    val terms = Array("missense_variant", "synonymous_variant", "intron_variant",
      "regulatory_region_variant", "upstream_gene_variant", "splice_region_variant")
    def termList(): String =
      (0 to r.nextInt(3)).map(_ => terms(r.nextInt(terms.length))).mkString(",")
    val verfc = new Table("variant-effect/regulatory-feature-consequences", dir,
      Seq("id", "regulatory_feature_id", "consequence_terms", "impact", "biotype", "pick"))
    writeRows(verfc, (0 until 4).map(k => s"part-$k.csv"), Rows(verfc.rel)) { _ =>
      val id = variant(r.nextInt(nVariants))._1
      Seq(id, f"ENSR${r.nextInt(1000000)}%011d", termList(), "MODIFIER",
        "promoter", blank(verfc, "pick", bool()))
    }

    def dblArray(sep: String): String =
      (0 to r.nextInt(4)).map(_ => if (r.nextInt(5) == 0) "." else f"${r.nextDouble()}%.4f")
        .mkString(sep)
    val tcHeader = Seq("id") ++ TcStrings ++ TcDoubles ++ TcLongs ++ TcBools ++
      TcStringArrays ++ TcCommaDoubleArrays ++ Seq("siphy_29_way_pi")
    val vetc = new Table("variant-effect/transcript-consequences", dir, tcHeader)
    writeRows(vetc, (0 until 6).map(k => s"part-$k.csv"), Rows(vetc.rel)) { _ =>
      val id = variant(r.nextInt(nVariants))._1
      Seq(id) ++
        TcStrings.map(_ => f"ENST${r.nextInt(1000000)}%011d") ++
        TcDoubles.map(c => blank(vetc, outName(c), dbl())) ++
        TcLongs.map(c => blank(vetc, c, longCell())) ++
        TcBools.map(c => blank(vetc, c, bool())) ++
        TcStringArrays.map(_ => termList()) ++
        TcCommaDoubleArrays.map(_ => dblArray(",")) ++
        Seq(dblArray(":"))
    }

    // dataset-specific: nested JSON lines, camelCase keys (the pipeline
    // snake-cases them), explicit nulls preserved by its writer
    val dsRel = "dataset-specific"
    val dsRows = Rows(dsRel)
    val dsFiles = for (d <- Seq("ds1", "ds2"); p <- Phenos.take(2); k <- 0 until 2)
      yield s"$d/$p/part-$k.json"
    val per = math.max(1, dsRows / dsFiles.size)
    var written = 0
    dsFiles.zipWithIndex.foreach { case (f, fi) =>
      val w = Gen.writer(new File(dir, s"$dsRel/$f"))
      try {
        val upto = if (fi == dsFiles.size - 1) dsRows else math.min(dsRows, written + per)
        while (written < upto) {
          val (id, c, pos, ref, alt) = variant(r.nextInt(nVariants))
          val betas = (0 to r.nextInt(3)).map(_ => f"${r.nextDouble()}%.4f").mkString(",")
          val flag = if (r.nextInt(10) == 0) "null" else Gen.jstr(termList())
          w.write(s"""{"varId":${Gen.jstr(id)},"chromosome":${Gen.jstr(c)},""" +
            s""""position":$pos,"reference":"$ref","alt":"$alt",""" +
            s""""pValue":${pval()},"stats":{"n":${r.nextInt(50000)},"betas":[$betas]},""" +
            s""""datasetName":"${f.takeWhile(_ != '/')}","flag":$flag}""")
          w.newLine(); written += 1
        }
      } finally w.close()
    }

    val tables = Seq(fa, maas, mate, verfc, vetc)
    val rows = tables.map(t => t.rel -> t.rows).toMap + (dsRel -> dsRows.toLong)
    val blanks = tables.flatMap(t => t.blanks.map { case (c, k) => (t.rel, c) -> k }).toMap
    Truth(rows, used.cardinality().toLong, blanks, Gen.stats(dir, rows.values.sum))
  }

  /** Typed output columns whose NULL count must equal the planted blanks. */
  def typedColumns: Map[String, Seq[(String, String)]] = Map(
    "frequency-analysis" -> Seq("eaf" -> "DOUBLE", "maf" -> "DOUBLE"),
    "meta-analysis/ancestry-specific" -> Seq("p_value" -> "DOUBLE", "beta" -> "DOUBLE",
      "std_err" -> "DOUBLE", "n" -> "BIGINT"),
    "meta-analysis/trans-ethnic" -> Seq("p_value" -> "DOUBLE", "z_score" -> "DOUBLE",
      "std_err" -> "DOUBLE", "beta" -> "DOUBLE", "n" -> "BIGINT", "top" -> "BOOLEAN"),
    "variant-effect/regulatory-feature-consequences" -> Seq("pick" -> "BOOLEAN"),
    "variant-effect/transcript-consequences" ->
      (TcDoubles.map(c => outName(c) -> "DOUBLE") ++ TcLongs.map(_ -> "BIGINT") ++
        TcBools.map(_ -> "BOOLEAN")))
}
