package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `winnow(tokens)`: winnowing fingerprint statistics of ONE document
  * (Schleimer/Wilkerson/Aiken, SIGMOD'03) from its token array, as
  * `struct<n_shingles, n_fp, fp_checksum: bigint>`:
  *
  *   shingle i = md5 of the UTF-8 bytes of tokens i..i+K−1 joined by 0x20
  *   h_i       = the digest's first 4 bytes, big-endian unsigned
  *               (≡ `conv(substring(md5(…), 1, 8), 16, 10)`)
  *   key_i     = (h_i << PosBits) + (2^PosBits − 1 − i)
  *   window j  = min(key_j … key_{min(j+W, n)−1}),  j ∈ [0, max(n − W, 0)]
  *
  * The reversed position in the low bits makes `min` pick the RIGHTMOST
  * minimal hash ("robust winnowing"), and a document with fewer than W
  * shingles still winnows its one truncated window. `n_fp` counts the
  * distinct window selections and `fp_checksum` sums their hashes
  * (`Σ sel >> PosBits`). A null array, or one under K tokens, gives zeros,
  * so the result is never null. Positions pack into PosBits bits: the
  * contract holds for documents under 2^21 shingles.
  *
  * Why native: every statistic is per document, so the relational
  * formulation (posexplode one row per token, hash-shuffle on doc_id, lead
  * ×(K−1), count and a W-row min window, distinct, aggregate, join back)
  * moves the whole token stream through a shuffle to compute something one
  * row already holds, and a higher-order-function fold over the token
  * array is CodegenFallback with an interpreted lambda per shingle. This
  * expression runs one loop over the document's bytes: the tokens are
  * copied once into the space-joined buffer [[Shingles.Joined]] builds
  * (the one `shingles(tokens, k)` returns its windows from), each shingle
  * is one digest over a slice of it, and the window minima are a W-wide
  * scan over the key array. Memory is O(tokens of one document); the plan
  * around it has no shuffle before its final sort.
  */
case class Winnow(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow requires an array<string> argument, got ${other.catalogString}")
  }
  override def dataType: DataType = Winnow.ResultType
  override def nullable: Boolean = false
  override def prettyName: String = "winnow"

  override def eval(input: InternalRow): Any =
    Winnow.stats(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val winnow = Winnow.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $winnow.stats(${c.isNull} ? null : ${c.value});
    """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

object Winnow {
  val K = 5 // shingle width (tokens)
  val W = 4 // window (consecutive shingle keys)
  val PosBits = 21 // reversed shingle position packs below the hash

  val ResultType: StructType = StructType(
    Seq("n_shingles", "n_fp", "fp_checksum").map(StructField(_, LongType, nullable = false)))

  private val PosMask = (1L << PosBits) - 1
  private val Md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** The distinct window selections of one document's tokens, as packed
    * keys in position order; the hash is `sel >> PosBits`.
    */
  def selections(tokens: Seq[String]): Array[Long] =
    selectionsOf(new GenericArrayData(tokens.map(UTF8String.fromString)))

  /** Row-level entry point, shared by `eval` and the generated code. */
  def stats(tokens: ArrayData): InternalRow =
    if (tokens == null || tokens.numElements() < K) new GenericInternalRow(Array[Any](0L, 0L, 0L))
    else {
      val sel = selectionsOf(tokens)
      new GenericInternalRow(Array[Any](
        (tokens.numElements() - K + 1).toLong, sel.length.toLong, sel.map(_ >> PosBits).sum))
    }

  private def selectionsOf(tokens: ArrayData): Array[Long] = {
    val n = tokens.numElements() - K + 1
    if (n <= 0) return Array.emptyLongArray
    val sh = new Shingles.Joined(tokens)
    val md = Md5.get()
    val d = new Array[Byte](16)
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.update(sh.buf, sh.starts(i), sh.length(i, K))
      md.digest(d, 0, 16)
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xff) << 16) | ((d(2) & 0xff) << 8) | (d(3) & 0xff)
      keys(i) = (h << PosBits) + (PosMask - i)
      i += 1
    }
    // Keys are unique (the position is in the low bits), so the argmin
    // only moves right as the window slides: the distinct selections are
    // the points where it changes.
    val out = new Array[Long](math.max(n - W, 0) + 1)
    var m = 0
    var last = -1
    var j = 0
    while (j < out.length) {
      var arg = j
      var k = j + 1
      val end = math.min(j + W, n)
      while (k < end) {
        if (keys(k) < keys(arg)) arg = k
        k += 1
      }
      if (arg != last) {
        out(m) = keys(arg)
        m += 1
        last = arg
      }
      j += 1
    }
    java.util.Arrays.copyOf(out, m)
  }

  private val info = new ExpressionInfo(classOf[Winnow].getName, "winnow")
  private val builder = (children: Seq[Expression]) => {
    require(children.size == 1, "winnow takes exactly one argument")
    Winnow(children.head)
  }

  /** Register `winnow(tokens)` in an existing session (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("winnow"), info, builder)
}
