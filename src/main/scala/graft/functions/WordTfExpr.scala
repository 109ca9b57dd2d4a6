package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-ROW term frequencies: fold a document's word array into
 * `array<struct<word string, tf bigint>>` — one struct per DISTINCT
 * word, `tf` its occurrence count, structs in first-occurrence order
 * (deterministic, so repeated builds write identical artifacts).
 *
 * Why not `explode` + `groupBy(word, doc_id, dl).count()`: the groupBy
 * spells a corpus-posting-sized Exchange whose only job is to meet each
 * word's occurrences — but every occurrence of a word lives in ONE row's
 * array, so the meet is row-local by construction. Folding here turns
 * the posting build into a pure projection (explode emits one row per
 * distinct word, pre-aggregated), which removes one full posting-sized
 * shuffle from every artifact build/grow that writes postings to disk
 * (guide §2.3/§2.4: don't shuffle what a row already holds). The
 * inline-probe path ([[graft.operators.Retrieval.bm25Scores]])
 * deliberately KEEPS its groupBy spelling: there the
 * postings Exchange is the materialization point the df branch reuses
 * (one corpus scan for two consumers) — removing it would trade one
 * shuffle for a second corpus scan.
 *
 * NULL array → NULL (explode then emits nothing — the
 * [[graft.operators.Dedup.wordTable]] NULL-text contract). NULL
 * elements never arise from `split`, but are counted under a NULL word
 * key for exact parity with what the groupBy spelling would produce.
 */
case class WordTfExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("word", StringType, nullable = true),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "word_tf"

  override protected def nullSafeEval(input: Any): Any =
    WordTfExpr.fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordTfExpr.fold($c)")

  override protected def withNewChildInternal(newChild: Expression): WordTfExpr =
    copy(child = newChild)
}

object WordTfExpr {
  def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      WordTfExpr(org.apache.spark.sql.GraftSqlBridge.expression(c)))

  /** First-occurrence-ordered (word, count) fold of one word array. */
  def fold(words: ArrayData): ArrayData = {
    val n = words.numElements()
    // LinkedHashMap: deterministic first-occurrence iteration order
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]](
      math.max(16, n * 2))
    var i = 0
    while (i < n) {
      val w = if (words.isNullAt(i)) null else words.getUTF8String(i)
      val slot = counts.get(w)
      if (slot == null) counts.put(w, Array(1L)) else slot(0) += 1L
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = InternalRow(e.getKey, e.getValue()(0))
      j += 1
    }
    new GenericArrayData(out)
  }
}
