package graft.catalyst

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `quantize_stats(vec)` — symmetric int8 quantization SUMMARY of a float/
  * double vector in ONE compiled pass: scale = max|x|/127, code_i =
  * floor(x_i/scale + 0.5), returning
  * struct(scale, code_sum, code_min, code_max, max_err) where max_err =
  * max|x_i − code_i·scale|.
  *
  * Why a custom Expression: the composable form (a HOF quantize +
  * array aggregates, kept as the spec's reference) traverses the vector ~6
  * times through interpreted higher-order lambdas — it dominated the bench
  * query the moment it shipped. Same math, same floor(x+0.5) half-way
  * rule, spec-asserted equal to the builtin form. Empty/null → null. */
case class Int8QuantStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"quantize_stats requires array<float|double>, got ${other.simpleString}")
    }

  // nullable — empty input returns null even when the child is non-null;
  // declaring false would let the optimizer fold downstream null guards away
  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType),
    StructField("code_sum", LongType),
    StructField("code_min", LongType),
    StructField("code_max", LongType),
    StructField("max_err", DoubleType)))

  override def prettyName: String = "quantize_stats"

  private val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    def at(i: Int): Double =
      if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(at(i))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val scale = maxAbs / 127.0
    val safe = if (scale == 0.0) 1.0 else scale
    var sum = 0L
    var min = Long.MaxValue
    var max = Long.MinValue
    var maxErr = 0.0
    i = 0
    while (i < n) {
      val x = at(i)
      val code = math.floor(x / safe + 0.5).toLong
      sum += code
      if (code < min) min = code
      if (code > max) max = code
      val err = math.abs(x - code * scale)
      if (err > maxErr) maxErr = err
      i += 1
    }
    val row = new GenericInternalRow(5)
    row.setDouble(0, scale)
    row.setLong(1, sum)
    row.setLong(2, min)
    row.setLong(3, max)
    row.setDouble(4, maxErr)
    row: InternalRow
  }

  override protected def withNewChildInternal(newChild: Expression): Int8QuantStats =
    copy(child = newChild)
}
