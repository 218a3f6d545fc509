package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native dot product over two numeric arrays: `Σ a[i]·b[i]`, accumulated
  * left-to-right in the element type (BIGINT or DOUBLE, chosen by the input
  * arrays). `array_dot(a, a)` is the squared norm.
  *
  * This is the inner loop of every similarity-search operator
  * (graft.ops.Similarity / the embedding near-dup in graft.ops.Dedup): one
  * evaluation per candidate pair, 64 multiply-adds each. The higher-order
  * `aggregate` over the `zip_with` product of a and b it replaces is
  * CodegenFallback — per-pair interpreted lambda dispatch plus an
  * intermediate product array — while this emits a tight primitive loop
  * inside WholeStageCodegen, no allocation.
  *
  * Determinism contract (what makes the DuckDB oracle hashes stable): the
  * accumulation order is the HOF's left-to-right fold. For LongType inputs
  * (the quantized fixed-point path) the sum is exact integer arithmetic and
  * order-free anyway; for DoubleType it reproduces exactly the sequential
  * IEEE sum the previous formulation — and DuckDB's `list_sum` — computes.
  *
  * Null semantics mirror `zip_with`+multiply+`aggregate`: NULL input array,
  * mismatched lengths (zip_with pads with NULL), or any NULL element → NULL.
  */
case class ArrayDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _))
        if lt == rt && (lt == LongType || lt == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        "array_dot requires two arrays of the same BIGINT or DOUBLE element type, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = elemType
  override def nullable: Boolean = true
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    if (elemType == LongType) {
      var acc = 0L
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getLong(i) * y.getLong(i)
        i += 1
      }
      acc
    } else {
      var acc = 0.0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val jt = CodeGenerator.javaType(dataType)
      val get = if (elemType == LongType) "getLong" else "getDouble"
      val zero = if (elemType == LongType) "0L" else "0.0"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  $jt $acc = $zero;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.$get($i) * $b.$get($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ArrayDot = copy(left = newLeft, right = newRight)
}

object ArrayDot {
  private val info = new ExpressionInfo(classOf[ArrayDot].getName, "array_dot")
  private val builder = (children: Seq[Expression]) => {
    require(children.size == 2, "array_dot takes (array, array)")
    ArrayDot(children.head, children(1))
  }

  /** Register `array_dot(a, b)` in an existing session (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("array_dot"), info, builder)
}
