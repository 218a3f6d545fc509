package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import graft.functions.Winnow
import graft.ops.{Dedup, TextOps}

/** The relational winnowing plan that [[graft.functions.Winnow]] replaced,
  * kept as the bit-identity reference: posexplode the tokens, lead() the
  * next K−1 over a per-doc position window, one md5 per shingle, a W-row
  * min() window over the packed (hash, reversed pos) keys, distinct, then
  * aggregate and join back to every document.
  */
object WinnowReference {
  import Winnow.{K, PosBits, W}

  /** Distinct selections: (doc_id, n_sh, sel), sel packing
    * (hash << PosBits) | reversed-pos.
    */
  def selections(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (2 to K).map(i => lead("t", i - 1).over(w).as(s"t$i"))
    val sh = docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "t")))
      .select(col("doc_id") +: col("pos") +: col("t") +: leads: _*)
      .filter(col(s"t$K").isNotNull) // shingle starts: pos = 0..n_sh-1
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(concat_ws(" ",
          col("t") +: (2 to K).map(i => col(s"t$i")): _*)), 1, 8), 16, 10)
          .cast("long").as("h"))
    val win = w.rowsBetween(Window.currentRow, W - 1)
    sh
      .withColumn("key",
        shiftleft(col("h"), PosBits) + (lit((1L << PosBits) - 1) - col("pos")))
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("sel", min(col("key")).over(win))
      // valid window starts; max(n_sh - W, 0) keeps ONE truncated window
      // for docs with fewer than W shingles
      .filter(col("pos") <= greatest(col("n_sh") - W, lit(0L)))
      .select(col("doc_id"), col("n_sh"), col("sel"))
      .distinct()
  }

  def winnowingOf(docs: DataFrame): DataFrame = {
    val agg = selections(docs).groupBy("doc_id")
      .agg(max(col("n_sh")).as("n_shingles"),
        count(lit(1)).as("n_fp"),
        sum(shiftright(col("sel"), PosBits)).as("fp_checksum"))
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("n_fp").cast("double") / col("n_shingles"), 4))
          .as("fp_density"),
        coalesce(col("fp_checksum"), lit(0L)).as("fp_checksum"))
      .orderBy("doc_id")
  }
}

/** Fixture tests for the two round-9 corpus-maintenance operators:
  * winnowing fingerprint selection (Schleimer/Wilkerson/Aiken SIGMOD'03;
  * K=5-token shingles, W=4 windows) and incremental batch-vs-snapshot
  * dedup. The synthetic corpus exercises engine parity; these pin the
  * algorithmic contracts on constructed inputs.
  */
class WinnowingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def winnowRows(rows: (Long, String)*) = {
    import spark.implicits._
    TextOps.winnowingOf(docs(rows: _*))
      .as[(Long, Long, Long, Double, Long)].collect().sortBy(_._1)
  }

  test("winnowing guarantee: docs sharing a run of >= W+K-1 tokens share a fingerprint hash") {
    // 8 shared tokens (= W + K - 1) at different offsets and with
    // different surrounding text — the SIGMOD'03 guarantee says at least one
    // selected fingerprint hash must coincide.
    val shared = "zebra quark lumen forge vex nimbus oryx pylon"
    val a = s"alpha beta $shared gamma delta epsilon"
    val b = s"one two three four $shared five"
    def hashes(text: String) =
      Winnow.selections(text.split(" ").toSeq).map(_ >> Winnow.PosBits).toSet
    val ha = hashes(a)
    val hb = hashes(b)
    assert((ha intersect hb).nonEmpty,
      "shared 8-token run must yield a common winnowed fingerprint")
  }

  /** Constructed edge cases for the bit-identity tests; the fixture
    * corpus covers ordinary documents.
    */
  private val edgeDocs: Seq[(Long, Option[String])] = {
    val periodic = Seq("a b c", "x y z", "p q r", "j k l", "m n o", "d e f")
      .zipWithIndex.map { case (p, i) => (20L + i) -> Some(Seq.fill(4)(p).mkString(" ")) }
    Seq(
      1L -> None, //                                       null text
      2L -> Some(""),
      3L -> Some("a b c d"), //                            K - 1 tokens
      4L -> Some("a b c d e"), //                          exactly K
      5L -> Some("a b c d e f"), //                        K + 1: fewer than W shingles
      6L -> Some(Seq.fill(12)("same").mkString(" ")), //  every window ties
      7L -> Some((1 to 200).map(i => s"tok$i").mkString(" ")),
      8L -> Some("The QUICK brown Fox JUMPS over The lazy DOG and THE quick BROWN fox"),
      9L -> Some("café naïve 東京 straße ÿ δοκιμή 日本語 テキスト émigré über café naïve 東京"),
      // "one two three four five" at positions 0, 7 and 16
      10L -> Some("one two three four five six seven one two three four five " +
        "eight nine ten eleven one two three four five twelve"),
      11L -> Some("  padded\twith \n mixed   whitespace and a few more tokens  ")) ++
      periodic // a shingle repeating 3 positions apart: rightmost vs leftmost ties differ
  }

  /** Runs `body` on the fixture's documents and on the edge cases, both
    * read from parquet: a local frame would be constant-folded by the
    * optimizer and never reach the generated code.
    */
  private def withCorpora(body: (String, DataFrame) => Unit): Unit = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-winnow")
    try {
      val path = d.resolve("documents.parquet").toString
      edgeDocs.toDF("doc_id", "text").write.parquet(path)
      body("fixture", Tables.documents(spark, TestSpark.sfDir))
      body("edge", spark.read.parquet(path))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
  }

  private def bitRows(df: DataFrame) = {
    import spark.implicits._
    df.select("doc_id", "n_shingles", "n_fp", "fp_density", "fp_checksum")
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2, r._3, java.lang.Double.doubleToRawLongBits(r._4), r._5))
      .toSeq
  }

  test("winnowingOf is bit-identical to the relational reference (fixture + edge cases)") {
    withCorpora { (corpus, d) =>
      val got = bitRows(TextOps.winnowingOf(d))
      assert(got.nonEmpty)
      assert(got === bitRows(WinnowReference.winnowingOf(d)), corpus)
      // the edge cases exercise what they claim to
      val byId = got.map(r => r._1 -> r).toMap
      if (corpus == "edge") {
        assert(byId(1L)._2 === 0L)
        assert(byId(2L)._2 === 0L && byId(3L)._2 === 0L)
        assert(byId(4L)._3 === 1L && byId(5L)._3 === 1L)
        assert(byId(7L)._2 === 196L)
      }
    }
  }

  test("Winnow.selections equals the relational distinct selections per document") {
    import spark.implicits._
    val posMask = (1L << Winnow.PosBits) - 1
    withCorpora { (corpus, d) =>
      val ref = WinnowReference.selections(d).select("doc_id", "sel")
        .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val toks = d.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .as[(Long, Option[Seq[String]])].collect()
      assert(toks.length > 1)
      toks.foreach { case (id, t) =>
        val sel = Winnow.selections(t.getOrElse(Nil))
        assert(sel.toSet === ref.getOrElse(id, Set.empty), s"$corpus doc $id")
        val pos = sel.map(k => posMask - (k & posMask))
        assert(pos.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
          s"$corpus doc $id: selections must be distinct and in position order")
      }
    }
  }

  test("winnow: generated code equals interpreted eval and runs inside WholeStageCodegen") {
    import spark.implicits._
    Winnow.register(spark)
    // a generated class that fails to compile must fail the test, not fall
    // back to interpreted eval
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try withCorpora { (corpus, d) =>
      // the tokens are materialized first: the tokenizer's filter lambda is
      // CodegenFallback, which keeps its own projection out of a codegen stage
      val dir = java.nio.file.Files.createTempDirectory("graft-winnow-toks")
      try {
        val path = dir.resolve("toks.parquet").toString
        d.select(col("doc_id"), TextOps.tokens(col("text")).as("t")).write.parquet(path)
        val coded = spark.read.parquet(path)
          .select(col("doc_id"), call_function("winnow", col("t")).as("w"), col("t"))
        val plan = coded.queryExecution.executedPlan.toString
        assert(plan.linesIterator.exists(l =>
          l.contains("winnow") && l.trim.startsWith("*(")), plan)
        coded.select("doc_id", "w.n_shingles", "w.n_fp", "w.fp_checksum", "t")
          .as[(Long, Long, Long, Long, Option[Seq[String]])].collect().foreach {
            case (id, nSh, nFp, ck, t) =>
              val row = Winnow(Literal.create(t.orNull, ArrayType(StringType))).eval()
                .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
              assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((nSh, nFp, ck)),
                s"$corpus doc $id")
          }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("winnowing counts: all-identical tokens select one fingerprint per window (rightmost min)") {
    // 12 tokens -> 8 shingles, all hashing identically; every window's min
    // key is its rightmost shingle, so selections are positions W-1..n_sh-1:
    // n_fp = n_sh - W + 1 = 5.
    val r = winnowRows(1L -> Seq.fill(12)("same").mkString(" "))
    assert((r.head._1, r.head._2, r.head._3, r.head._4) === ((1L, 8L, 5L, 0.625)))
  }

  test("winnowing short-doc contract: >= 1 fingerprint whenever >= 1 shingle; zeros under K tokens") {
    val r = winnowRows(
      1L -> "a b c d e", //           exactly K tokens: 1 shingle
      2L -> "a b c d e f", //         2 shingles, still < W: one window
      3L -> "a b c d", //             under K tokens: zero row
      4L -> "")
    assert(r(0)._2 === 1L && r(0)._3 === 1L && r(0)._4 === 1.0)
    assert(r(1)._2 === 2L && r(1)._3 === 1L, "S < W docs winnow one truncated window")
    assert(r(2) === ((3L, 0L, 0L, 0.0, 0L)))
    assert(r(3) === ((4L, 0L, 0L, 0.0, 0L)))
  }

  test("winnowing density on a long all-distinct doc stays in the [1/W, 1] band") {
    val text = (1 to 200).map(i => s"tok$i").mkString(" ")
    val r = winnowRows(1L -> text).head
    assert(r._2 === 196L)
    assert(r._4 >= 0.25 && r._4 <= 1.0, s"density ${r._4} outside winnowing bounds")
  }

  test("containment catches a short doc embedded in a long one (the Jaccard-blind case)") {
    import spark.implicits._
    val embedded = "red oak pine elm birch maple cedar ash" // 8 tokens -> 4 shingles
    val long = ((1 to 60).map(i => s"filler$i") :+ embedded).mkString(" ")
    val unrelated = (1 to 30).map(i => s"other$i").mkString(" ")
    val got = Dedup.containmentOf(docs(1L -> embedded, 2L -> long, 3L -> unrelated))
      .select("doc_a", "doc_b", "inter", "containment")
      .as[(Long, Long, Long, Double)].collect()
    // doc 1's 4 shingles all appear in doc 2: containment = 4/4 = 1.0 even
    // though Jaccard is ~4/64 — the asymmetric signal. doc 3 pairs with no one.
    assert(got.toSeq === Seq((1L, 2L, 4L, 1.0)))
  }

  test("incremental dedup classifies dup_corpus / dup_batch / new, nulls deterministic") {
    import spark.implicits._
    val fixture = docs(
      0L -> "a b c", //   snapshot
      2L -> "d e f", //   snapshot
      4L -> "", //        snapshot (null fp — must not match batch empties)
      1L -> "a b c", //   fp in snapshot -> dup_corpus
      3L -> "x y z", //   unseen -> new
      5L -> "x y z", //   earlier batch twin -> dup_batch
      7L -> "", //        null fp: no corpus equality match -> new
      9L -> "") //        second null-fp batch doc -> dup_batch
    val got = Dedup.incrementalDedupOf(fixture)
      .select("doc_id", "status").as[(Long, String)].collect().sortBy(_._1)
    assert(got === Array(
      1L -> "dup_corpus", 3L -> "new", 5L -> "dup_batch",
      7L -> "new", 9L -> "dup_batch"))
  }

  test("neardup ingest adds the neardup_corpus tier between dup_batch and new") {
    import spark.implicits._
    // 40 distinct tokens -> 38 distinct 3-shingles; a single mid-doc token
    // swap changes exactly 3 of them: jac = 35/41 = 0.8537 >= 0.8
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearSnap = (1 to 40).map(i => if (i == 20) "swapx" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"alt$i").mkString(" ")
    val nearBatch = (1 to 40).map(i => if (i == 20) "swapx" else s"alt$i").mkString(" ")
    val fixture = docs(
      0L -> base, //       snapshot
      1L -> base, //       exact fp in snapshot -> dup_corpus (beats its jac=1 near hit)
      3L -> nearSnap, //   1-token swap vs snapshot doc 0 -> neardup_corpus
      5L -> nearSnap, //   same text as batch doc 3 -> dup_batch (exact tier wins)
      7L -> other, //      unrelated to the snapshot -> new
      9L -> nearBatch) //  near-dup of BATCH doc 7 only -> new (in-batch near
    //                      dups are dd_neardup's job, not the ingest tier's)
    val got = Dedup.neardupIngestOf(fixture)
      .select("doc_id", "status", "best_jac")
      .as[(Long, String, Option[Double])].collect().sortBy(_._1)
    assert(got.map(r => r._1 -> r._2) === Array(
      1L -> "dup_corpus", 3L -> "neardup_corpus", 5L -> "dup_batch",
      7L -> "new", 9L -> "new"))
    // best_jac only on the neardup row, and exactly the hand-computed 35/41
    assert(got.map(_._3) === Array(None, Some(0.8537), None, None, None))
  }
}
