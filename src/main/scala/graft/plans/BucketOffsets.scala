package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Per-bucket exclusive prefix offsets as ONE global aggregate: the
  * offsets half of the two-pass global rank ([[graft.operators.MLFeed.rankByBucket]])
  * and of `Layout.rangeShards`' cumulative walk.
  *
  * The buffer maps each distinct bucket to the sum of `weight` over its
  * rows; partial buffers merge by adding. The result is
  * `array<struct<_pid, _off, _n>>` sorted by bucket in Spark's ordering
  * for the bucket's type: `_off` is the total weight of every smaller
  * bucket and `_n` the grand total (the same on every element). Rows
  * with a NULL weight are skipped. A NULL bucket gets no element but
  * its weight counts in `_n`: the rank drops rows with a NULL bucket
  * yet keeps them in its total. An empty input gives an empty array.
  *
  * The whole bucket map is one buffer that ends in one task (the plan's
  * `Exchange SinglePartition` carries one partial buffer per input
  * partition, not rows), so the distinct buckets must stay few — the
  * rank's numBuckets, a few thousand at most. Bucket types are the
  * ones whose equality is binary equality (integral, date, timestamp,
  * and binary-collation strings), so the hash map's grouping is
  * Spark's grouping.
  */
case class BucketOffsets(
    left: Expression,  // bucket id
    right: Expression, // weight (long)
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Any, Long]] with BinaryLike[Expression] {

  private def bucketType: DataType = left.dataType

  override def createAggregationBuffer(): mutable.HashMap[Any, Long] = mutable.HashMap.empty

  override def update(buf: mutable.HashMap[Any, Long], input: InternalRow): mutable.HashMap[Any, Long] = {
    val b = left.eval(input)
    val w = right.eval(input)
    if (w != null) add(buf, b, w.asInstanceOf[Long])
    buf
  }

  // a new key is copied out: a UTF8String may alias the row's reused buffer
  private def add(buf: mutable.HashMap[Any, Long], b: Any, w: Long): Unit =
    buf.get(b) match {
      case Some(c) => buf.update(b, c + w)
      case None => buf.update(InternalRow.copyValue(b), w)
    }

  override def merge(b1: mutable.HashMap[Any, Long],
                     b2: mutable.HashMap[Any, Long]): mutable.HashMap[Any, Long] = {
    b2.foreach { case (b, w) => add(b1, b, w) }
    b1
  }

  override def eval(buf: mutable.HashMap[Any, Long]): Any = {
    val n = buf.valuesIterator.sum
    val sorted = buf.iterator.filter(_._1 != null).toArray
      .sortBy(_._1)(TypeUtils.getInterpretedOrdering(bucketType))
    var off = 0L
    new GenericArrayData(sorted.map[Any] { case (b, w) =>
      val row = InternalRow(b, off, n)
      off += w
      row
    })
  }

  // the buffer as ONE UnsafeRow of (array<bucket>, array<long>)
  @transient private lazy val bufferProjection =
    UnsafeProjection.create(Array[DataType](ArrayType(bucketType, containsNull = true),
      ArrayType(LongType, containsNull = false)))

  override def serialize(buf: mutable.HashMap[Any, Long]): Array[Byte] = {
    val (buckets, weights) = buf.toArray.unzip
    bufferProjection(new GenericInternalRow(Array[Any](
      new GenericArrayData(buckets), new GenericArrayData(weights)))).getBytes
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Any, Long] = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val buckets = row.getArray(0).toObjectArray(bucketType)
    val weights = row.getArray(1).toLongArray()
    val buf = createAggregationBuffer()
    buckets.indices.foreach(i => add(buf, buckets(i), weights(i)))
    buf
  }

  override def checkInputDataTypes(): TypeCheckResult = (bucketType, right.dataType) match {
    case (_, wt) if wt != LongType =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName weight must be bigint, got ${wt.catalogString}")
    case (ByteType | ShortType | IntegerType | LongType | DateType | TimestampType |
          TimestampNTZType | StringType, _) => TypeCheckResult.TypeCheckSuccess
    case (other, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName bucket must be integral, date, timestamp or (binary-collation) string," +
        s" got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_pid", bucketType, nullable = false),
    StructField("_off", LongType, nullable = false),
    StructField("_n", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bucket_offsets"

  override def withNewMutableAggBufferOffset(newOffset: Int): BucketOffsets =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BucketOffsets =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketOffsets =
    copy(left = newLeft, right = newRight)
}

object BucketOffsets {
  /** Column-API entry: `bucket_offsets(bucket, weight)`; the weight is
    * cast to bigint. Counts rows when the weight is left at 1. */
  def bucket_offsets(bucket: Column, weight: Column = org.apache.spark.sql.functions.lit(1L)): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression}
    column(BucketOffsets(expression(bucket), expression(weight.cast(LongType)))
      .toAggregateExpression())
  }
}
