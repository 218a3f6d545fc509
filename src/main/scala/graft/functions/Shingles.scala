package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `shingles(tokens, k)`: the k-token windows of ONE document, each the
  * tokens i..i+k−1 joined by a single space, in position order — the
  * oracle's `list_slice(toks, i, i + k − 1)` joined by `' '`. Fewer than
  * `k` tokens give `[]`; a NULL array gives NULL. A NULL element reads as
  * the empty token (a tokenizer never produces one).
  *
  * Why native: a shingle is per document, so the relational formulation
  * (posexplode one row per token, hash-shuffle on doc_id, lead ×(k−1)
  * over a per-doc position window) moves the whole token stream through a
  * shuffle to rebuild what one row already holds, and the row-local
  * higher-order forms (`transform` over a position sequence, `zip_with`
  * of shifted slices) are CodegenFallback with an interpreted lambda per
  * window. This expression copies the tokens once into a space-joined
  * buffer ([[Shingles.Joined]], shared with [[Winnow]]) and returns each
  * window as a slice of it, inside WholeStageCodegen.
  */
case class Shingles(child: Expression, k: Int) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def checkInputDataTypes(): TypeCheckResult =
    if (k >= 1) super.checkInputDataTypes()
    else TypeCheckResult.TypeCheckFailure(s"shingles width must be >= 1, got $k")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(tokens: Any): Any = Shingles.windows(tokens.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val shingles = Shingles.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$shingles.windows($c, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {

  /** `shingles(tokens, k)` as a Column, the function registered in `spark`
    * first (idempotent).
    */
  def apply(spark: SparkSession, tokens: Column, k: Int): Column = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("shingles"), info, builder)
    call_function("shingles", tokens, lit(k))
  }

  private val info = new ExpressionInfo(classOf[Shingles].getName, "shingles")
  private val builder = (c: Seq[Expression]) => {
    require(c.size == 2 && c(1).foldable, "shingles takes (tokens, k) with a literal k")
    Shingles(c.head, c(1).eval().asInstanceOf[Number].intValue)
  }

  private val Space = UTF8String.fromString(" ")

  /** One document's tokens joined by 0x20 in one buffer: token i starts at
    * `starts(i)`, so tokens i..i+k−1 end one byte before `starts(i + k)`.
    */
  final class Joined(tokens: ArrayData) {
    private val toks = Array.tabulate(tokens.numElements())(i =>
      if (tokens.isNullAt(i)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(i))
    val starts: Array[Int] = toks.scanLeft(0)(_ + _.numBytes + 1)
    val buf: Array[Byte] = UTF8String.concatWs(Space, toks: _*).getBytes
    def length(i: Int, k: Int): Int = starts(i + k) - 1 - starts(i)
  }

  /** Row-level entry point, shared by `eval` and the generated code. */
  def windows(tokens: ArrayData, k: Int): ArrayData = {
    val j = new Joined(tokens)
    new GenericArrayData(Array.tabulate[Any](math.max(tokens.numElements() - k + 1, 0))(i =>
      UTF8String.fromBytes(j.buf, j.starts(i), j.length(i, k))))
  }
}
