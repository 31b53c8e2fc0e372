package graft.functions

import org.apache.datasketches.kll.KllLongsSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** `kll_sketch(long_col, k)` → binary KLL quantile sketch — the
  * QUANTILE member of the stored-sketch warehouse (HLL = distinct,
  * CMS/MG = frequency, Theta = set operations, KLL = quantiles/CDF).
  *
  * Why KLL and not Spark's builtin `percentile_approx`: the builtin's
  * GK summary is consumed at eval time — the summary itself is never a
  * column value, so yesterday's aggregation cannot be reused tomorrow.
  * A KLL sketch IS the stored value (Karnin–Lang–Liberty 2016, via the
  * Apache DataSketches library Spark's own HLL functions ship with):
  * build fine-grained sketches once, answer every coarser quantile
  * question — weekly, all-time, ad-hoc slices — by merging the stored
  * bytes, never rescanning history. Merging preserves the error bound
  * of the largest-k participant, and the sketch answers rank, CDF and
  * PMF queries besides quantiles.
  *
  * Accuracy contract: |true normalized rank of getQuantile(p) − p| ≤
  * ε(k) with 99% confidence, ε(200) ≈ 1.65% — a RANK guarantee,
  * independent of the value distribution (no assumption on skew).
  * Unlike the register-max (HLL) and cell-add (CMS) sketches, KLL
  * compaction flips random coins, so two runs may store different
  * bytes; consumers must gate on the rank bound (q29's verdict-row
  * flag with 2ε slack), never on sketch-byte or estimate equality.
  *
  * Mergeability: the aggregation buffer is a heap KllLongsSketch;
  * partial sketches combine through the shuffle like any other partial
  * aggregate. Serialization is the library's compact byte form.
  */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllLongsSketch] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"kll_sketch expects an integral column, got $t")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KllLongsSketch =
    KllLongsSketch.newHeapInstance(k)

  override def update(buffer: KllLongsSketch, input: InternalRow): KllLongsSketch = {
    val v = child.eval(input)
    if (v != null) v match {
      case l: Long => buffer.update(l)
      case i: Int  => buffer.update(i.toLong)
      case other => // checkInputDataTypes admits only Long/Int today; a
        // future type widening must extend BOTH places, not MatchError here
        throw new IllegalStateException(
          s"kll_sketch: unsupported input value class ${other.getClass.getName} " +
            s"for declared type ${child.dataType}")
    }
    buffer
  }

  override def merge(buffer: KllLongsSketch, other: KllLongsSketch): KllLongsSketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: KllLongsSketch): Any = buffer.toByteArray

  override def serialize(buffer: KllLongsSketch): Array[Byte] = buffer.toByteArray

  override def deserialize(bytes: Array[Byte]): KllLongsSketch =
    KllLongsSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)

  override def prettyName: String = "kll_sketch"
}

/** `kll_merge(sketch_col, k)` → binary KLL sketch: union of STORED
  * sketches (the `hll_union_agg` analog) — daily sketch columns roll up
  * to weekly/all-time without touching raw history. `k` sizes the merge
  * buffer; merging into a k-sized buffer preserves at least the input
  * sketches' own error bound when their k is ≥ this k (use the same k
  * everywhere, as q29 does). */
case class KllMergeAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllLongsSketch] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"kll_merge expects a binary sketch column, got $t")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KllLongsSketch =
    KllLongsSketch.newHeapInstance(k)

  override def update(buffer: KllLongsSketch, input: InternalRow): KllLongsSketch = {
    val v = child.eval(input)
    if (v != null)
      buffer.merge(KllLongsSketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buffer
  }

  override def merge(buffer: KllLongsSketch, other: KllLongsSketch): KllLongsSketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: KllLongsSketch): Any = buffer.toByteArray

  override def serialize(buffer: KllLongsSketch): Array[Byte] = buffer.toByteArray

  override def deserialize(bytes: Array[Byte]): KllLongsSketch =
    KllLongsSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllMergeAgg =
    copy(child = newChild)

  override def prettyName: String = "kll_merge"
}

object KllSketchAgg {
  import org.apache.spark.sql.{Column, GraftBridge}

  /** Default k = 200 — the DataSketches default, ε ≈ 1.65% rank error
    * at 99% confidence, ~3 KB serialized at a million items. */
  val defaultK = 200

  /** DataFrame-API build form: `df.agg(kllSketch(col("v_cents")))`. */
  def kllSketch(c: Column, k: Int = defaultK): Column =
    GraftBridge.column(
      KllSketchAgg(GraftBridge.expression(c), k).toAggregateExpression())

  /** DataFrame-API merge form over a stored-sketch column. */
  def kllMerge(c: Column, k: Int = defaultK): Column =
    GraftBridge.column(
      KllMergeAgg(GraftBridge.expression(c), k).toAggregateExpression())

  /** Driver-side INCLUSIVE quantile of a stored sketch: smallest
    * retained item whose rank (fraction of items ≤ it) covers p. */
  def quantile(bytes: Array[Byte], p: Double): Long =
    KllLongsSketch.heapify(Memory.wrap(bytes))
      .getQuantile(p, QuantileSearchCriteria.INCLUSIVE)

  /** Driver-side INCLUSIVE normalized rank of a value. */
  def rank(bytes: Array[Byte], v: Long): Double =
    KllLongsSketch.heapify(Memory.wrap(bytes))
      .getRank(v, QuantileSearchCriteria.INCLUSIVE)

  /** The single-quantile normalized rank error ε at 99% confidence
    * (pmf=false form) for a given k (the static form lives on the Java
    * base class, unreachable through the subclass from Scala). Gates
    * widen this ×2 so ~27 pinned flags survive any driver data
    * regeneration (sub-gaussian tail: 2ε ≈ 5σ, per-pin failure ~1e-7). */
  def epsilon(k: Int = defaultK): Double =
    org.apache.datasketches.kll.KllSketch.getNormalizedRankError(k, false)

  /** Items seen by the sketch (exact n travels with the bytes). */
  def streamLength(bytes: Array[Byte]): Long =
    KllLongsSketch.heapify(Memory.wrap(bytes)).getN
}
