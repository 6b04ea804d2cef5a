package graft.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes, Decimal}

/** Second-moment (uncentered Gram) fold: aggregates quantized `long[dim]`
  * vectors into the flattened `dim × dim` matrix Σ xᵢ·xⱼ as ONE
  * `TypedImperativeAggregate` — a single primitive accumulator object per
  * task, no per-row array allocation.
  *
  * This replaces the declarative form (nested `transform` outer product →
  * `flatten` → `posexplode` → 4096-key groupBy), which was value-identical
  * but allocated ~dim² boxed longs per input row: at 64 dims that is three
  * 4096-slot object arrays per row, an allocation storm that kept the old
  * generation growing and G1's concurrent cycles burning CPU for the rest
  * of the JVM's life (the round-9 in-battery monotone-growth signature).
  * Here the per-row work is the upper triangle only (symmetry: x_i·x_j =
  * x_j·x_i, so dim(dim+1)/2 multiply-adds, mirrored once at eval) into a
  * flat `long[]` — zero garbage on the hot path.
  *
  * Exactness contract (must hash-match the DECIMAL(38,0) `sum` it
  * replaces): each cell accumulates in SIGNED 128-BIT integer arithmetic
  * (hi/lo long pairs, carry-propagated), which covers the full
  * DECIMAL(38,0) range (2¹²⁷ ≈ 1.7e38); per-row products stay plain
  * 64-bit like the `x * y` LongType multiply of the declarative form.
  * Partial buffers merge by 128-bit addition — associative and
  * commutative, so the fold is partition-order independent, exactly like
  * a decimal sum. `eval` renders each cell as `Decimal(38, 0)`.
  *
  * Scale shape: the ONLY fact-scale state is one `long[dim(dim+1)]` per
  * task (64 KiB at dim=64); the shuffle carries one serialized buffer per
  * partition. Input vectors must be dense, non-null, and exactly `dim`
  * long — enforced loudly: a bad input fails the query rather than
  * folding into a wrong result.
  */
case class GramFold(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  /** Upper-triangle cell count; buffer holds (hi, lo) per cell. */
  private val ncells = dim * (dim + 1) / 2

  override def prettyName: String = "gram_fold"
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(DataTypes.createDecimalType(38, 0), containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](2 * ncells)

  // signed 128-bit accumulate: buf(2t)=hi, buf(2t+1)=lo; p sign-extends
  @inline private def acc(buf: Array[Long], t: Int, p: Long): Unit = {
    val lo = buf(2 * t + 1)
    val nlo = lo + p
    // carry out of the unsigned low-word add (Hacker's Delight 2-13)
    val carry = ((lo & p) | ((lo | p) & ~nlo)) >>> 63
    buf(2 * t) += (p >> 63) + carry
    buf(2 * t + 1) = nlo
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      require(a.numElements() == dim,
        s"gram_fold expects dense $dim-long vectors, got ${a.numElements()} elements")
      var t = 0
      var i = 0
      while (i < dim) {
        val xi = a.getLong(i)
        var j = i
        while (j < dim) {
          acc(buf, t, xi * a.getLong(j))
          t += 1
          j += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var t = 0
    while (t < ncells) {
      val lo = buf(2 * t + 1)
      val olo = other(2 * t + 1)
      val nlo = lo + olo
      val carry = ((lo & olo) | ((lo | olo) & ~nlo)) >>> 63
      buf(2 * t) += other(2 * t) + carry
      buf(2 * t + 1) = nlo
      t += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Any](dim * dim)
    var t = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val hi = buf(2 * t)
        val lo = buf(2 * t + 1)
        // fast path: hi is the sign extension of lo → value fits a long
        val big =
          if (hi == (lo >> 63)) java.math.BigInteger.valueOf(lo)
          else java.math.BigInteger.valueOf(hi).shiftLeft(64)
            .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
        val d = Decimal(BigDecimal(new java.math.BigDecimal(big)), 38, 0)
        out(i * dim + j) = d
        if (j != i) out(j * dim + i) = d
        t += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(n: Int): GramFold =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): GramFold =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): GramFold =
    copy(child = newChild)
}

object GramFold {
  /** Column API: `gramFold(qa, dim)` → `array<decimal(38,0)>` of dim²
    * cells in row-major (i·dim + j) order. */
  def gramFold(qa: Column, dim: Int): Column =
    GraftBridge.column(GramFold(GraftBridge.expression(qa), dim).toAggregateExpression())
}
