package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Shingles
import graft.ops.TextOps

/** The relational k-token window formulation that
  * [[graft.functions.Shingles]] replaced, kept as the bit-identity
  * reference: posexplode the tokens, lead() the next k−1 over a per-doc
  * position window, keep the rows whose last lead exists, and join the k
  * tokens by a space.
  */
object ShinglesReference {

  /** (doc_id, pos, sh): every k-token window of every document. */
  def windows(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until k).map(i => lead("t0", i).over(w).as(s"t$i"))
    docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "t0")))
      .select(col("doc_id") +: col("pos") +: col("t0") +: leads: _*)
      .filter(col(s"t${k - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (0 until k).map(i => col(s"t$i")): _*).as("sh"))
  }
}

class ShinglesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def eval(tokens: Seq[String], k: Int): Seq[String] = {
    val out = Shingles(Literal.create(tokens, ArrayType(StringType)), k).eval()
    if (out == null) null
    else {
      val a = out.asInstanceOf[ArrayData]
      (0 until a.numElements()).map(a.getUTF8String(_).toString)
    }
  }

  test("shingles: edge cases") {
    assert(eval(null, 3) === null)
    assert(eval(Nil, 3) === Nil)
    assert(eval(Seq("a", "b"), 3) === Nil) //              k − 1 tokens
    assert(eval(Seq("a", "b", "c"), 3) === Seq("a b c")) // k tokens
    assert(eval(Seq("a", "b", "c", "d"), 3) === Seq("a b c", "b c d")) // k + 1
    assert(eval(Seq("a", "b", "c"), 1) === Seq("a", "b", "c"))
    assert(eval(Seq.fill(20)("same"), 3) === Seq.fill(18)("same same same"))
    assert(eval(Seq("café", "東京", "日本語", "ÿ"), 2) === Seq("café 東京", "東京 日本語", "日本語 ÿ"))
    assert(eval(Seq("a", null, "b"), 2) === Seq("a ", " b")) // a NULL element is the empty token
    val bad = Shingles(Literal.create(Seq("a"), ArrayType(StringType)), 0)
    assert(bad.checkInputDataTypes().isFailure)
  }

  /** Constructed edge cases: the fixture corpus covers ordinary documents. */
  private val edgeDocs: Seq[(Long, Option[String])] = Seq(
    1L -> None,
    2L -> Some(""),
    3L -> Some("a b c d"),
    4L -> Some("a b c d e"),
    5L -> Some("a b c d e f"),
    6L -> Some(Seq.fill(20)("same").mkString(" ")),
    7L -> Some((1 to 45).map(i => s"tok$i").mkString(" ")),
    8L -> Some("café naïve 東京 straße ÿ δοκιμή 日本語 テキスト émigré über"),
    9L -> Some("  padded\twith \n mixed   whitespace  "))

  test("shingles: generated code equals interpreted eval and runs inside WholeStageCodegen") {
    import spark.implicits._
    // a generated class that fails to compile must fail the test, not fall
    // back to interpreted eval
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val dir = java.nio.file.Files.createTempDirectory("graft-shingles")
    try {
      // tokens are materialized first, both corpora read from parquet: the
      // tokenizer's filter lambda is CodegenFallback, and a local frame
      // would be constant-folded and never reach the generated code
      val edge = dir.resolve("edge.parquet").toString
      edgeDocs.toDF("doc_id", "text").write.parquet(edge)
      val corpora = Seq("fixture" -> Tables.documents(spark, TestSpark.sfDir),
        "edge" -> spark.read.parquet(edge))
      for ((corpus, d) <- corpora) {
        val path = dir.resolve(s"toks_$corpus.parquet").toString
        d.select(col("doc_id"), TextOps.tokens(col("text")).as("t")).write.parquet(path)
        for (k <- Seq(1, 2, 3, 5, 20)) {
          val coded = spark.read.parquet(path)
            .select(col("doc_id"), col("t"), Shingles(spark, col("t"), k).as("sh"))
          val plan = coded.queryExecution.executedPlan.toString
          assert(plan.linesIterator.exists(l =>
            l.contains("shingles") && l.trim.startsWith("*(")), plan)
          val rows = coded.as[(Long, Option[Seq[String]], Option[Seq[String]])].collect()
          assert(rows.nonEmpty)
          rows.foreach { case (id, t, sh) =>
            assert(sh.orNull === eval(t.orNull, k), s"$corpus doc $id k=$k")
          }
        }
      }
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("shingles equals the relational lead-window reference on random corpora") {
    import spark.implicits._
    val tokenGen = Gen.oneOf("a", "b", "c", "dd", "é", "東京")
    val docGen = Gen.choose(0, 45).flatMap(n => Gen.listOfN(n, tokenGen)).map(_.mkString(" "))
    val corpusGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) })
    val prop = Prop.forAll(corpusGen) { corpus =>
      val docs = corpus.toDF("doc_id", "text")
      Seq(2, 3, 5, 20).forall { k =>
        val ref = ShinglesReference.windows(docs, k).as[(Long, Int, String)].collect()
          .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }
        val got = docs.select(col("doc_id"), Shingles(spark, TextOps.tokens(col("text")), k))
          .as[(Long, Seq[String])].collect().toMap
        got.forall { case (id, sh) => sh == ref.getOrElse(id, Nil) } && got.size == corpus.size
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
