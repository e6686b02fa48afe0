package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items sketch over a string key column — the
  * candidate-generation half of the two-pass heavy-hitter operator
  * (L51, `operators/HeavyHitters`).
  *
  * Buffer: at most `capacity` (key → counter) entries plus the total
  * item count. Update is the classic decrement-on-overflow step
  * (amortized O(1): every decrement cancels one increment); merge is
  * the Agarwal et al. "Mergeable Summaries" combine — sum counters,
  * then subtract the (capacity+1)-th largest and keep the survivors.
  *
  * Guarantee (the one the two-pass operator builds on): every key with
  * true count > N/(capacity+1) has a positive counter in the final
  * sketch, REGARDLESS of row order or partitioning. Counter VALUES are
  * order-dependent (underestimates); only presence is deterministic, so
  * callers must confirm with an exact count pass — see
  * [[graft.operators.HeavyHitters]].
  *
  * Output: struct(n_total: long, keys: array<string>) — candidates
  * sorted lexicographically (determinism of the frame, not semantics).
  * Null keys are ignored (standard aggregate null semantics) and do not
  * count toward n_total.
  */
case class MisraGriesAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MisraGriesAgg.Buffer] with UnaryLike[Expression] {

  require(capacity > 0, "misra_gries capacity must be positive")

  import MisraGriesAgg.Buffer

  override def createAggregationBuffer(): Buffer = new Buffer(0L, mutable.HashMap.empty)

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) {
      buf.total += 1L
      // UTF8String may alias the row's reused backing buffer — copy out
      val k = v.asInstanceOf[UTF8String].toString
      val cur = buf.counts.getOrElse(k, 0L)
      if (cur > 0L || buf.counts.size < capacity) {
        buf.counts.update(k, cur + 1L)
      } else {
        // overflow: decrement every counter, dropping the zeros
        val dead = mutable.ArrayBuffer.empty[String]
        buf.counts.mapValuesInPlace((_, c) => c - 1L)
        buf.counts.foreach { case (kk, c) => if (c <= 0L) dead += kk }
        dead.foreach(buf.counts.remove)
      }
    }
    buf
  }

  override def merge(b1: Buffer, b2: Buffer): Buffer = {
    b1.total += b2.total
    b2.counts.foreach { case (k, c) =>
      b1.counts.update(k, b1.counts.getOrElse(k, 0L) + c)
    }
    if (b1.counts.size > capacity) {
      // subtract the (capacity+1)-th largest counter from everything
      val sorted = b1.counts.values.toArray
      java.util.Arrays.sort(sorted)
      val cut = sorted(sorted.length - capacity - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      b1.counts.mapValuesInPlace((_, c) => c - cut)
      b1.counts.foreach { case (k, c) => if (c <= 0L) dead += k }
      dead.foreach(b1.counts.remove)
    }
    b1
  }

  override def eval(buf: Buffer): Any = {
    val keys = buf.counts.keysIterator.toArray
    java.util.Arrays.sort(keys, java.util.Comparator.naturalOrder[String]())
    InternalRow(buf.total,
      new GenericArrayData(keys.map(UTF8String.fromString): Array[Any]))
  }

  override def serialize(buf: Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.total)
    out.writeInt(buf.counts.size)
    buf.counts.foreach { case (k, c) =>
      val b = k.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val total = in.readLong()
    val n = in.readInt()
    val m = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt(); val b = new Array[Byte](len); in.readFully(b)
      m.update(new String(b, "UTF-8"), in.readLong())
      i += 1
    }
    new Buffer(total, m)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_total", LongType, nullable = false),
    StructField("keys", ArrayType(StringType, containsNull = false),
      nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.catalogString}")
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)
}

object MisraGriesAgg {
  /** Mutable sketch state: total items seen + the counter table. */
  final class Buffer(var total: Long, val counts: mutable.HashMap[String, Long])

  /** Column API: `misra_gries(key, capacity)` →
    * struct(n_total, keys array<string>). */
  def misraGries(key: Column, capacity: Int): Column =
    Bridge.column(MisraGriesAgg(Bridge.expression(key), capacity)
      .toAggregateExpression())
}
