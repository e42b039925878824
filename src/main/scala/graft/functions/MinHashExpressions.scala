package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The repo-wide MinHash permutation family: h_k(x) = (a_k·x + b_k)
  * mod P over P = 2^31 − 1, a_k/b_k from ONE fixed seeded PRNG draw.
  * Hoisted out of [[graft.operators.Dedup]] so the aggregate below and
  * the operator derive the parameters from the SAME sequence — a
  * duplicated `Random(42)` loop in two files is exactly how a seed or
  * draw-order tweak would silently fork the signature family.
  */
object MinHashPerms {
  val NumPerms = 128
  val P = 2147483647L // 2^31 − 1 (Mersenne prime)

  /** (a_k, b_k) per permutation — a ∈ [1, 2^31−2], b ∈ [0, 2^31−1],
    * drawn pairwise from Random(42) (the draw ORDER is part of the
    * contract: a_k then b_k, k ascending).
    */
  val params: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NumPerms)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L,
      rnd.nextInt(Int.MaxValue).toLong))
  }
  private[graft] val A: Array[Long] = params.map(_._1)
  private[graft] val B: Array[Long] = params.map(_._2)
}

/** Per-group 128-permutation MinHash minima as ONE aggregate producing
  * `array<bigint>`: element k of the result is
  * `min over rows of pmod(a_k * x + b_k, P)` — bit-identical to the 128
  * separate `min(pmod(lit(a_k)*x + lit(b_k), P))` aggregate columns it
  * replaces (same longs in, same arithmetic: a·x + b ≤ (2^31−2)² +
  * 2^31−1 < 2^63 never overflows, and with non-negative operands
  * `pmod` IS plain `%`).
  *
  * Why one aggregate instead of 128 (guide §1.2 "per-task work" +
  * driver cost): Catalyst pays analysis/optimization per
  * AggregateExpression, and the 128-column form measured 0.7-0.9 s of
  * DRIVER planning per query compilation (r13 planning-cost probe) —
  * the streaming admission loop re-plans it every micro-batch, so 7
  * micro-batches paid ~6 s of pure planning. This form is one
  * AggregateExpression; the per-row work (128 multiply-mods in a tight
  * JVM loop over a primitive buffer) matches the codegen'd form's, and
  * the exchange carries the same 128 longs per doc (as one array).
  *
  * Input contract: `child` is the non-negative shingle hash
  * `pmod(xxhash64(shingle), P)` (LongType). Null inputs are skipped
  * (they cannot occur on the explode-fed path); a group with zero
  * non-null rows evaluates to null.
  */
case class MinHashMins(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  import MinHashPerms.{A, B, NumPerms, P}

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_mins"

  // P as the empty sentinel: every real h_k(x) is in [0, P-1], so an
  // untouched slot can never shadow a real minimum, and min-merge with
  // an untouched buffer is the identity.
  override def createAggregationBuffer(): Array[Long] =
    Array.fill(NumPerms)(P)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var k = 0
      while (k < NumPerms) {
        val h = (A(k) * x + B(k)) % P
        if (h < buffer(k)) buffer(k) = h
        k += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var k = 0
    while (k < NumPerms) {
      if (other(k) < buffer(k)) buffer(k) = other(k)
      k += 1
    }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = {
    // all-sentinel = no non-null input row reached this group (cannot
    // happen on the explode-fed path; null matches "no signature")
    var k = 0
    var touched = false
    while (k < NumPerms && !touched) { touched = buffer(k) != P; k += 1 }
    if (!touched) null else new GenericArrayData(buffer.clone())
  }

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * NumPerms)
    var k = 0
    while (k < NumPerms) { bb.putLong(buffer(k)); k += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](NumPerms)
    var k = 0
    while (k < NumPerms) { out(k) = bb.getLong(); k += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashMins =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashMins =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashMins =
    copy(child = newChild)
}

object MinHashMins {

  /** Column-level entry point: `mins(x)` aggregates to the 128-element
    * `array<bigint>` of permutation minima over the group's x values.
    */
  def mins(x: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      MinHashMins(org.apache.spark.sql.graft.Bridge.expression(x))
        .toAggregateExpression())
}

/** Per-group 64-bit SimHash signature as ONE aggregate: bit j of the
  * result is set iff `2 · count(rows with bit j of h set) >= n` over
  * the group's token hashes — bit-identical to the 64 separate
  * `sum(shiftright(h, j) & 1)` aggregate columns plus the 64-term
  * assembly projection it replaces (same long counts: `(h >> j) & 1`
  * keeps only bit j whatever the shift's fill bits; same
  * `b·2 >= n` long compare; same `1L << j` OR-fold). Same
  * planning-cost rationale as [[MinHashMins]] — Catalyst paid per
  * AggregateExpression, 65 of them here, for a fixed 64-long buffer's
  * worth of state.
  *
  * Input contract: `child` is the md5-derived 64-bit token hash
  * (LongType, one row per DISTINCT token). Nulls are skipped; a group
  * with zero non-null rows evaluates to null.
  */
case class SimHashSig(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT input, got ${child.dataType.sql}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_sig"

  // buffer: 64 per-bit vote counts + the row count in slot 64
  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var j = 0
      while (j < 64) { buffer(j) += (h >>> j) & 1L; j += 1 }
      buffer(64) += 1L
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var j = 0
    while (j < 65) { buffer(j) += other(j); j += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = {
    val n = buffer(64)
    if (n == 0L) null
    else {
      var sig = 0L
      var j = 0
      while (j < 64) {
        if (buffer(j) * 2L >= n) sig |= 1L << j
        j += 1
      }
      sig
    }
  }

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * 65)
    var j = 0
    while (j < 65) { bb.putLong(buffer(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](65)
    var j = 0
    while (j < 65) { out(j) = bb.getLong(); j += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashSig =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashSig =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {

  /** Column-level entry point: `sig(h)` aggregates the group's 64-bit
    * token hashes to the SimHash signature long.
    */
  def sig(h: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SimHashSig(org.apache.spark.sql.graft.Bridge.expression(h))
        .toAggregateExpression())
}
