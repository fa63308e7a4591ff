// Hosted in an org.apache.spark.sql subpackage like TopKAgg/CosineSim:
// the aggregate framework types it extends are private[sql]-adjacent,
// and this is the standard packaging for third-party Catalyst
// aggregates.
package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** All-k-lanes MinHash sketch in ONE aggregate: per input base hash
  * h0, lane i keeps min over the group of
  * `XXH64.hashLong(h0, XXH64.hashInt(i, 42))` — BIT-IDENTICAL to the
  * composed form `min(xxhash64(lit(i), h0))` (Spark's XxHash64
  * expression folds children left-to-right from seed 42), which the
  * dedup family used as k = 64 SEPARATE min-aggregate columns.
  *
  * Why one aggregate instead of 64: the 64-wide HashAggregate
  * generates a very large whole-stage method per PLAN — measured
  * ~27 process-cpu-seconds of first-use JIT per query shape on the
  * index builds (PLANS.md "the one-aggregate minhash": bands write
  * 36 cpu-s first use vs 9 steady) — and every query that builds
  * signatures (q30/q44/q84, the at-rest index build, every ingest
  * mark) pays it again for its own plan. This form is one tight
  * primitive loop shared by all of them, with a flat 8k-byte buffer
  * for partial merge (map-side combine still applies —
  * ObjectHashAggregate).
  *
  * Output: array<bigint> of the k lane minima in lane order —
  * the exact column [[graft.operators.Dedup.signaturesFromBaseHashes]]
  * produced compositionally (DedupSpec's MinHashAgg parity case pins
  * lane-for-lane equality against the composed form in CI, including
  * null-input and forced-partial-merge layouts).
  */
case class MinHashAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes {
  require(k >= 1 && k <= 4096, s"minhash width out of range: $k")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sketch"
  // element nullability matches the composed array(min(...), ...)
  // form so written index schemas are unchanged
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  // XXH64.hashInt(i, 42) per lane — hoisted once per operator, not
  // per row (the same per-child fold XxHash64 evaluates, with the
  // constant first child pre-folded)
  @transient private lazy val laneSeeds: Array[Long] =
    Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    val seeds = laneSeeds
    if (v != null) {
      val h0 = v.asInstanceOf[Long]
      var i = 0
      while (i < k) {
        val lane = XXH64.hashLong(h0, seeds(i))
        if (lane < buffer(i)) buffer(i) = lane
        i += 1
      }
    } else {
      // bit-parity with the composed form on NULL input too: Spark's
      // hash expressions SKIP null children, so min(xxhash64(lit(i),
      // h0)) sees the fold stop at hashInt(i, 42) — the seed itself
      // becomes the lane candidate for a null-h0 row. Dropping the
      // row instead would silently diverge from the pinned reference
      // the moment a nullable hash column reaches this aggregate.
      var i = 0
      while (i < k) {
        if (seeds(i) < buffer(i)) buffer(i) = seeds(i)
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) {
      if (other(i) < buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  // clone: the returned ArrayData must not alias a buffer the
  // framework may keep mutating for the next group
  override def eval(buffer: Array[Long]): Any =
    new GenericArrayData(buffer.clone())

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * k)
    var i = 0
    while (i < k) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
