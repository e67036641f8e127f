package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Deterministic mergeable HyperLogLog.
  *
  * Library sketches (DataSketches HLL, and HLL++ partials internally)
  * apply DIFFERENT estimators depending on how a sketch was produced —
  * streamed sketches use the HIP accumulator, union results fall back
  * to the composite estimator — so `estimate(merge(partials))` is not
  * reproducibly equal to `estimate(one_shot)`, and the difference
  * depends on how the input happened to be split (measured:
  * identical input sets, estimates 1480–1499).
  *
  * This sketch keeps ONLY the classic HLL register array: update is
  * `register[slot] = max(register[slot], rho)`, merge is element-wise
  * max, and the estimator (bias-corrected harmonic mean + linear
  * counting for the small range) is a pure function of the registers.
  * Max is associative and commutative, so the merged register state —
  * and therefore the estimate — is bit-identical to the one-shot state
  * for ANY split of the input, at any scale: the mergeability contract
  * a 100 TB pre-aggregated rollup needs is exact by construction, and
  * the invariant `merge(partials) == one_shot` is gate-checkable as a
  * deterministic boolean (q_sketch_merge).
  *
  * lgK=12: 4096 byte registers per group, relative std error
  * 1.04/sqrt(4096) ~ 1.6%.
  */
object HllDet {
  val LgK = 12
  val M: Int = 1 << LgK
  private val Alpha = 0.7213 / (1 + 1.079 / M)

  /** splitmix64 finalizer (public-domain constants): avalanching hash
    * of the already-LongType input. Non-long inputs hash upstream
    * (e.g. xxhash64) before entering the aggregate. */
  @inline def hash64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline def update(regs: Array[Byte], value: Long): Unit = {
    val h = hash64(value)
    val slot = (h >>> (64 - LgK)).toInt
    val w = h << LgK
    // rho in [1, 64-LgK+1]; w==0 (nlz=64) caps at the max rank
    val rho = math.min(java.lang.Long.numberOfLeadingZeros(w) + 1, 64 - LgK + 1)
    if (rho > (regs(slot) & 0xff)) regs(slot) = rho.toByte
  }

  @inline def mergeInto(a: Array[Byte], b: Array[Byte]): Unit = {
    var i = 0
    while (i < M) {
      if ((b(i) & 0xff) > (a(i) & 0xff)) a(i) = b(i)
      i += 1
    }
  }

  /** Pure function of the registers (fixed iteration order): identical
    * registers always yield the identical estimate. */
  def estimate(regs: Array[Byte]): Long = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      val r = regs(i) & 0xff
      sum += 1.0 / (1L << r).toDouble
      if (r == 0) zeros += 1
      i += 1
    }
    val raw = Alpha * M.toDouble * M.toDouble / sum
    val est =
      if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
      else raw
    math.round(est)
  }
}

/** `graft_hll_det(longCol)`: deterministic HLL registers (binary) per
  * group — the materialize-partials half of the mergeable rollup. */
case class HllDetAgg(child: Expression,
                     override val mutableAggBufferOffset: Int = 0,
                     override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll_det"
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint input (hash other types upstream)")
  }

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](HllDet.M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllDet.update(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    HllDet.mergeInto(a, b)
    a
  }

  // clone: the buffer is mutable and reused by the aggregate machinery
  override def eval(buf: Array[Byte]): Any = buf.clone()

  // clone both directions: aliasing the live mutable register array with
  // its serialized form is safe under current spill paths (bytes are
  // copied into/out of UnsafeRow immediately) but fragile against
  // aggregation-iterator changes; 4 KB per spill is negligible
  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(o: Int): HllDetAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllDetAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllDetAgg =
    copy(child = newChildren(0))
}

/** `graft_hll_det_merge(sketchCol)`: element-wise-max union of
  * deterministic HLL register blobs — the read half of the rollup. */
case class HllDetMergeAgg(child: Expression,
                          override val mutableAggBufferOffset: Int = 0,
                          override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll_det_merge"
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary sketch input")
  }

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](HllDet.M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val regs = v.asInstanceOf[Array[Byte]]
      require(regs.length == HllDet.M,
        s"graft_hll_det sketch must be ${HllDet.M} bytes, got ${regs.length}")
      HllDet.mergeInto(buf, regs)
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    HllDet.mergeInto(a, b)
    a
  }

  override def eval(buf: Array[Byte]): Any = buf.clone()

  // clone both directions: aliasing the live mutable register array with
  // its serialized form is safe under current spill paths (bytes are
  // copied into/out of UnsafeRow immediately) but fragile against
  // aggregation-iterator changes; 4 KB per spill is negligible
  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(o: Int): HllDetMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllDetMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllDetMergeAgg =
    copy(child = newChildren(0))
}

/** `graft_hll_det_estimate(sketch)`: registers -> estimated distinct
  * count. Runs once per GROUP post-aggregation (never in a per-row hot
  * path), so interpreted evaluation is fine here. */
case class HllDetEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hll_det_estimate"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary sketch input")
  }

  override protected def nullSafeEval(input: Any): Any =
    HllDet.estimate(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): HllDetEstimate =
    copy(child = newChild)
}
