package graft.agg

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import graft.stats.DeltaStats
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, NonSQLExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One statistic's aggregation state machine, run by [[NativeAgg]]: a
  * plain Scala buffer `B` with its own binary format. The reference
  * engines' aggregate contract (create / add / merge / serialize /
  * deserialize / insertResultInto) maps onto it one to one; a kernel never
  * sees an encoder, it reads its inputs straight off the row.
  *
  * `reduce` gets the aggregate's bound children and the input row; a
  * kernel evaluates the children it needs ([[Kernel.doubles]] for the
  * usual leading block of double columns) and skips the row on a null,
  * as the reference engines skip NULL aggregate inputs. `finish` returns a
  * Double or a case class laid out as `dataType` (see [[Kernel.catalyst]]).
  * A kernel keeps no mutable state of its own: everything a row changes
  * lives in the buffer, so buffers of concurrent tasks and groups never
  * share memory. */
abstract class Kernel[B <: AnyRef] extends Serializable {
  /** Plan-node name: the kernel's class name (`Ttest2SampAgg`, …). */
  def name: String = getClass.getSimpleName
  def dataType: DataType
  def zero: B
  def reduce(b: B, in: Array[Expression], row: InternalRow): B
  def merge(b: B, o: B): B
  def finish(b: B): Any
  def write(b: B, out: DataOutputStream): Unit
  def read(in: DataInputStream): B
}

object Kernel {
  /** The kernel as an aggregate Column over `cols` (its children, in order). */
  def column(k: Kernel[_ <: AnyRef], cols: Column*): Column =
    ColumnBridge.column(NativeAgg(k.asInstanceOf[Kernel[AnyRef]],
      cols.map(ColumnBridge.expression)).toAggregateExpression())

  /** The first `k` children as doubles, or null when any of them is null. */
  def doubles(in: Array[Expression], row: InternalRow, k: Int): Array[Double] = {
    val xs = new Array[Double](k)
    var i = 0
    while (i < k) {
      val v = in(i).eval(row)
      if (v == null) return null
      xs(i) = v.asInstanceOf[Double]
      i += 1
    }
    xs
  }

  val Doubles: ArrayType = ArrayType(DoubleType, containsNull = false)

  /** A result struct; primitive fields are non-nullable, as in a case
    * class's schema. */
  def struct(fields: (String, DataType)*): StructType = StructType(fields.map {
    case (n, t) => StructField(n, t, nullable = !(t.isInstanceOf[NumericType] || t == BooleanType))
  })
  def doubleStruct(names: String*): StructType = struct(names.map(_ -> DoubleType): _*)

  /** A kernel result as a Catalyst value: case classes become rows, their
    * strings `UTF8String`s and their arrays `ArrayData`. */
  def catalyst(v: Any): Any = v match {
    case a: Array[Double] => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[String] => new GenericArrayData(a.map(s => UTF8String.fromString(s): Any))
    case a: Array[Array[Double]] => new GenericArrayData(a.map(catalyst))
    case s: String => UTF8String.fromString(s)
    case p: Product => InternalRow.fromSeq(p.productIterator.map(catalyst).toSeq)
    case other => other
  }

  def writeDoubles(out: DataOutputStream, a: Array[Double]): Unit = {
    out.writeInt(a.length)
    a.foreach(out.writeDouble)
  }
  def readDoubles(in: DataInputStream): Array[Double] =
    Array.fill(in.readInt())(in.readDouble())

  /** UTF-8 with an int length (`writeUTF` stops at 64 KiB). */
  def writeString(out: DataOutputStream, s: String): Unit = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(bytes.length)
    out.write(bytes)
  }
  def readString(in: DataInputStream): String = {
    val bytes = new Array[Byte](in.readInt())
    in.readFully(bytes)
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  def writeStats(out: DataOutputStream, s: DeltaStats): Unit = {
    out.writeLong(s.count)
    writeDoubles(out, s.sumX)
    writeDoubles(out, s.sumXY)
  }
  def readStats(in: DataInputStream): DeltaStats = {
    val n = in.readLong()
    DeltaStats(n, readDoubles(in), readDoubles(in))
  }
}

/** The one `TypedImperativeAggregate` behind every `graft.agg` statistic:
  * it evaluates its children on the input row and hands them to the
  * kernel, keeps the kernel's buffer as the aggregation object, and
  * (de)serializes it through the kernel's `write`/`read` at partial
  * aggregation boundaries. It replaces `udaf(Aggregator, encoder)`, whose
  * input, buffer and output encoders were built and code-generated per
  * call. The plan shows the kernel's name, e.g. `Ttest2SampAgg(...)`. */
case class NativeAgg(kernel: Kernel[AnyRef], children: Seq[Expression],
                     mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[AnyRef] with NonSQLExpression {

  @transient private lazy val in: Array[Expression] = children.toArray

  override def nullable: Boolean = true
  override def dataType: DataType = kernel.dataType
  override def prettyName: String = kernel.name
  override def toString: String = s"${kernel.name}(${children.mkString(", ")})"

  override def createAggregationBuffer(): AnyRef = kernel.zero
  override def update(b: AnyRef, row: InternalRow): AnyRef = kernel.reduce(b, in, row)
  override def merge(b: AnyRef, o: AnyRef): AnyRef = kernel.merge(b, o)
  override def eval(b: AnyRef): Any = Kernel.catalyst(kernel.finish(b))

  override def serialize(b: AnyRef): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    kernel.write(b, out)
    out.flush()
    bytes.toByteArray
  }
  override def deserialize(bytes: Array[Byte]): AnyRef =
    kernel.read(new DataInputStream(new ByteArrayInputStream(bytes)))

  override def withNewMutableAggBufferOffset(o: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): NativeAgg =
    copy(children = c)
}
