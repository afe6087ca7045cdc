package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.Column

/** B10: a `TypedImperativeAggregate` with a mutable binary buffer — the
  * HyperLogLog cardinality sketch (Flajolet et al., public algorithm) over
  * a LongType column. Demonstrates the imperative-aggregate surface the
  * built-in `approx_count_distinct` uses: partial buffers on the map side,
  * register-wise max on merge, bias-corrected estimate on eval.
  *
  * Hashing is splitmix64 (public-domain finalizer) — deterministic, so
  * estimates are reproducible across runs and partitionings (register max
  * is order-independent).
  *
  * @param precision p bits → m = 2^p registers (buffer = m bytes)
  */
case class HllSketch(
    child: Expression,
    precision: Int = 11,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  private val m = 1 << precision

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_distinct"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hll_distinct expects BIGINT, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = splitmix64(v.asInstanceOf[Long])
      val j = (h >>> (64 - precision)).toInt          // first p bits → register
      val w = h << precision                           // remaining bits
      val rho = (java.lang.Long.numberOfLeadingZeros(w) + 1).min(64 - precision + 1)
      if (rho > buf(j)) buf(j) = rho.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1 + 1.079 / m)
    }
    var invSum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      invSum += math.pow(2.0, -buf(i).toDouble)
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    var e = alpha * m * m / invSum
    if (e <= 2.5 * m && zeros > 0) e = m * math.log(m.toDouble / zeros) // small-range correction
    math.round(e)
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object HllSketch {
  def hll_distinct(c: Column): Column =
    org.apache.spark.sql.functions.call_function("hll_distinct", c)
}
