package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native polynomial rolling hash: h ← (h·base + byte) mod m over the
  * UTF-8 bytes of the input (byte ≡ character code for ASCII).
  *
  * Why a custom Catalyst Expression rather than the equivalent
  * `aggregate(transform(sequence(...), ascii(substr(...))), ...)` fold:
  * higher-order functions are CodegenFallback — per-character lambda
  * dispatch, an array materialization, and a WholeStageCodegen break. This
  * expression emits a tight byte loop via `doGenCode` and stays inside the
  * codegen stage; `nullSafeEval` provides the interpreted twin. The
  * preference order the design follows: built-in functions > native
  * Expression (this) > Scala UDF (never in hot paths).
  */
case class RollingHash(child: Expression, base: Long, mod: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * base + (bytes(i) & 0xff)) % mod
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * ${base}L + ($bytes[$i] & 0xff)) % ${mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  val DefaultBase = 131L
  val DefaultMod = 2147483647L // 2^31 - 1

  private val info = new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash")
  private val builder = (children: Seq[Expression]) => {
    require(children.size == 1, "rolling_hash takes exactly one argument")
    RollingHash(children.head, DefaultBase, DefaultMod)
  }

  /** Register `rolling_hash(str)` in a session (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("rolling_hash"), info, builder)
}
