package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native kernel for the l71/l71b diversity quantization (r18, guide
  * §4.1): unit-normalize an `array<float>` embedding and quantize to
  * integer thousandths, returning `struct(q array<bigint>, qn2 bigint)`.
  *
  * Bit-identical to the HOF reference chain the queries previously
  * evaluated interpreted (three lambda traversals per row — profiled as
  * two concurrent ~0.6 s / ~1.1 s single-task stages at sf0.1):
  *
  *   nrm = sqrt(aggregate(emb, 0.0D, (a, y) -> a + double(y) * double(y)))
  *   q   = transform(emb, x -> CAST(floor(double(x) / nrm * 1000 + 0.5)
  *                                  AS BIGINT))
  *   qn2 = aggregate(q, 0L, (a, y) -> a + y * y)
  *
  * The loops below reproduce the folds element-for-element in the same
  * order with the same double operations ((x / nrm) * 1000.0 + 0.5,
  * left-associative like the SQL text), so every downstream exact-integer
  * aggregate sees identical values (parity property-pinned in
  * TextFunctionsSpec). floor-of-non-finite (zero vector) throws loudly,
  * matching ANSI CAST on the HOF path.
  */
object VectorQuantizeKernel {
  /** `unit_q3`' result: `struct(q array<bigint>, qn2 bigint)`. */
  val resultType: StructType = StructType(Seq(
    StructField("q", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("qn2", LongType, nullable = false)))

  def unitQ3(vec: ArrayData): InternalRow = {
    val n = vec.numElements()
    var nx = 0.0
    var i = 0
    while (i < n) {
      val x = vec.getFloat(i).toDouble
      nx += x * x
      i += 1
    }
    val nrm = math.sqrt(nx)
    val q = new Array[Long](n)
    var qn2 = 0L
    i = 0
    while (i < n) {
      val v = vec.getFloat(i).toDouble / nrm * 1000.0 + 0.5
      val f = math.floor(v)
      if (f.isNaN || f.isInfinite) throw new ArithmeticException(
        s"unit_q3: non-finite quantization (nrm=$nrm) — zero or non-finite vector")
      val ql = f.toLong
      q(i) = ql
      qn2 += ql * ql
      i += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(q), qn2))
  }
}
