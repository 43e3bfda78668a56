package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen'd cosine similarity over two `array<float>` columns.
  *
  * Semantically identical to VectorFunctions.cosine (same left-to-right
  * double accumulation → bit-identical results), but evaluates as a tight
  * primitive loop inside whole-stage codegen instead of five chained
  * higher-order-function expressions with lambda interpretation — the hot
  * path for brute-force kNN scoring (SURVEY §4 "custom needed" row).
  */
case class CosineSimilarityExpression(left: Expression, right: Expression)
  extends BinaryExpression {

  // inputs must already be array<float> (no ExpectsInputTypes coercion —
  // the trait's AbstractDataType signature is private[sql] in Spark 4)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        |int $n = Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $xv = (double) $a.getFloat($i);
        |  double $yv = (double) $b.getFloat($i);
        |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
        |}
        |${ev.value} = $dot / (Math.sqrt($nx) * Math.sqrt($ny));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityExpression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarityExpression {
  /** Column-API entry point (the session must have the functions). */
  def cosineSim(a: Column, b: Column): Column = GraftFunctions.cosineSim(a, b)
}
