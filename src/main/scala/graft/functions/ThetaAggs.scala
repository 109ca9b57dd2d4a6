package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketch, Union, UpdateSketch}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}

/**
 * Theta sketches (Apache DataSketches) as typed aggregates — the
 * SET-ALGEBRA member of the sketch-index family
 * ([[graft.operators.Sketches]]): where HLL answers "how many
 * distinct", theta answers "how many distinct in the UNION /
 * INTERSECTION / DIFFERENCE of two sketched sets" — the incremental
 * corpus question ("how many new urls does this drop add", "how much
 * does drop B overlap drop A") answered off KB-scale persisted
 * artifacts, no rescan of either side.
 *
 * Theta keeps the k smallest hash values of the set (KMV): fully
 * DETERMINISTIC for a given input SET (no randomized compaction —
 * unlike KLL), order-independent, exact below ~k distincts and ~1.6%
 * RSE at the lgK = 12 default above it. Values hash as UTF-8 strings —
 * the build aggregate REQUIRES StringType (the [[CmsUnionAgg]]-family
 * lesson: a silently type-split hash space would make every cross-drop
 * set estimate quietly wrong).
 */
case class ThetaBuildAgg(
  child: Expression,
  lgK: Int = 12,
  mutableAggBufferOffset: Int = 0,
  inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[AnyRef]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING value column (cast first — the hash " +
        s"space must be type-stable across drops), got ${child.dataType.catalogString}")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "theta_sketch"

  // buffer slot holds an UpdateSketch on the build path (direct,
  // per-row-cheap updates) or a Union after merge/deserialize; the two
  // unify through Sketch for eval/serialize
  override def createAggregationBuffer(): Array[AnyRef] = new Array[AnyRef](1)

  private def resultOf(x: AnyRef): CompactSketch = x match {
    case us: UpdateSketch => us.compact()
    case u: Union => u.getResult
  }

  private def asUnion(b: Array[AnyRef]): Union = b(0) match {
    case u: Union => u
    case other =>
      val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
      if (other != null) u.union(resultOf(other))
      b(0) = u
      u
  }

  override def update(b: Array[AnyRef], input: InternalRow): Array[AnyRef] = {
    val v = child.eval(input)
    if (v != null) {
      b(0) match {
        case us: UpdateSketch => us.update(v.toString)
        case null =>
          val us = UpdateSketch.builder().setLogNominalEntries(lgK).build()
          us.update(v.toString)
          b(0) = us
        case _: Union =>
          // post-merge update cannot happen in Spark's agg lifecycle,
          // but fold correctly anyway
          val us = UpdateSketch.builder().setLogNominalEntries(lgK).build()
          us.update(v.toString)
          asUnion(b).union(us)
      }
    }
    b
  }

  override def merge(b: Array[AnyRef], o: Array[AnyRef]): Array[AnyRef] = {
    if (o(0) != null) asUnion(b).union(resultOf(o(0)))
    b
  }

  override def eval(b: Array[AnyRef]): Any =
    if (b(0) == null) null else resultOf(b(0)).toByteArray

  override def serialize(b: Array[AnyRef]): Array[Byte] =
    if (b(0) == null) Array.emptyByteArray else resultOf(b(0)).toByteArray

  override def deserialize(bytes: Array[Byte]): Array[AnyRef] = {
    val b = createAggregationBuffer()
    if (bytes.nonEmpty) {
      val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
      u.union(CompactSketch.heapify(Memory.wrap(bytes)))
      b(0) = u
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaBuildAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaBuildAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): ThetaBuildAgg =
    copy(child = newChild)
}

object ThetaBuildAgg {
  def apply(c: Column, lgK: Int): Column =
    GraftSqlBridge.column(
      ThetaBuildAgg(GraftSqlBridge.expression(c), lgK).toAggregateExpression())
}

/** Union of serialized theta sketches — fold a drop's sketch table into
  * the persisted index ([[CmsUnionAgg]]/[[KllUnionAgg]] sibling). */
case class ThetaUnionAgg(
  child: Expression,
  mutableAggBufferOffset: Int = 0,
  inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Union]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BINARY serialized theta sketch, got " +
        child.dataType.catalogString)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "theta_sketch_union"

  override def createAggregationBuffer(): Array[Union] = new Array[Union](1)

  private def bufferOf(b: Array[Union]): Union = {
    if (b(0) == null) b(0) = SetOperation.builder().buildUnion()
    b(0)
  }

  override def update(b: Array[Union], input: InternalRow): Array[Union] = {
    val v = child.eval(input)
    if (v != null)
      bufferOf(b).union(Sketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    b
  }

  override def merge(b: Array[Union], o: Array[Union]): Array[Union] = {
    if (o(0) != null) bufferOf(b).union(o(0).getResult)
    b
  }

  override def eval(b: Array[Union]): Any =
    if (b(0) == null) null else b(0).getResult.toByteArray

  override def serialize(b: Array[Union]): Array[Byte] =
    if (b(0) == null) Array.emptyByteArray else b(0).getResult.toByteArray

  override def deserialize(bytes: Array[Byte]): Array[Union] = {
    val b = createAggregationBuffer()
    if (bytes.nonEmpty)
      bufferOf(b).union(CompactSketch.heapify(Memory.wrap(bytes)))
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): ThetaUnionAgg =
    copy(child = newChild)
}

object ThetaUnionAgg {
  def apply(c: Column): Column =
    GraftSqlBridge.column(
      ThetaUnionAgg(GraftSqlBridge.expression(c)).toAggregateExpression())
}
