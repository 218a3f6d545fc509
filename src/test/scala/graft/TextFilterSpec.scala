package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextOps

/** Fixture-driven tests for the document-filter battery. The synthetic
  * corpus contains no PII and no C4 rejection markers, so the oracle
  * comparison there only proves engine parity on clean text — these
  * fixtures exercise the actual match/redact/flag behavior.
  */
class TextFilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("pii redaction counts and redacts emails, IPs, and phone shapes") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val fixture = docs(
      1L -> "Contact John.Doe+spam@Example.COM or admin@host.org today",
      2L -> "server at 10.0.0.1 and 192.168.255.3 responded",
      3L -> "call 555-123-4567 or 555.987.6543 now",
      4L -> "no pii here at all",
      5L -> "mixed: a@b.io from 8.8.8.8 dial 111-222-3333")
    val got = TextOps.piiRedactOf(fixture)
      .select("doc_id", "n_emails", "n_ips", "n_phones", "n_pii", "red_fp")
      .as[(Long, Int, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq === Seq(
      (1L, 2, 0, 0, 2), (2L, 0, 2, 0, 2), (3L, 0, 0, 2, 2),
      (4L, 0, 0, 0, 0), (5L, 1, 1, 1, 3)))
    // redaction applies to the lowercased text, all occurrences
    assert(got(0)._6 === md5hex("contact <EMAIL> or <EMAIL> today"))
    assert(got(1)._6 === md5hex("server at <IP> and <IP> responded"))
    assert(got(2)._6 === md5hex("call <PHONE> or <PHONE> now"))
    assert(got(3)._6 === md5hex("no pii here at all"))
    assert(got(4)._6 === md5hex("mixed: <EMAIL> from <IP> dial <PHONE>"))
  }

  test("c4 filter flags fire on the right fixtures and clean docs keep") {
    import spark.implicits._
    val longClean = (1 to 60).map(i => s"word$i").mkString(" ") // 6-char mean
    val fixture = docs(
      1L -> "too short",
      2L -> (longClean + " javascript"),
      3L -> (longClean + " { code }"),
      4L -> (longClean + " Lorem Ipsum dolor"),
      5L -> longClean,
      6L -> (1 to 60).map(_ => "xy").mkString(" ")) // mean len 2 < 3
    val got = TextOps.c4FilterOf(fixture)
      .select("doc_id", "too_short", "bad_word_len", "has_brace", "has_js", "has_lorem", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, true, false, false, false, false, false),
      (2L, false, false, false, true, false, false),
      (3L, false, false, true, false, false, false),
      (4L, false, false, false, false, true, false),
      (5L, false, false, false, false, false, true),
      (6L, false, true, false, false, false, false)))
  }

  test("repetition stats catch a looping document and pass a diverse one") {
    import spark.implicits._
    val looping = (1 to 30).map(_ => "spam spam wonderful").mkString(" ")
    val diverse = (1 to 90).map(i => s"tok$i").mkString(" ")
    val got = TextOps.repetitionOf(docs(1L -> looping, 2L -> diverse))
      .select("doc_id", "n_tokens", "top_token_frac", "n_tri", "dup_trigram_frac", "repetitive")
      .as[(Long, Int, Double, Int, Double, Boolean)].collect().sortBy(_._1).toSeq
    // looping: 90 tokens, 60 of them "spam" -> top frac 2/3; 88 trigrams with
    // only 3 distinct rotations of (spam spam wonderful)
    val dupFrac = BigDecimal(1.0 - 3.0 / 88).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0) === ((1L, 90, 0.6667, 88, dupFrac, true)))
    // diverse: every token and trigram unique -> nothing repetitive
    val topFrac = BigDecimal(1.0 / 90).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1) === ((2L, 90, topFrac, 88, 0.0, false)))
    // degenerate docs (NULL text, "", k − 1 and k tokens for the k = 3
    // trigram) leave the rows above unchanged and each get a row; pinned to
    // the relational lead-window formulation's output
    val degenerate = Seq[(Long, Option[String])](
      3L -> None, 4L -> Some(""), 5L -> Some("u1 u2"), 6L -> Some("x x x"))
      .toDF("doc_id", "text")
    val withDegenerate = TextOps.repetitionOf(
        docs(1L -> looping, 2L -> diverse).unionByName(degenerate))
      .select("doc_id", "n_tokens", "top_token_frac", "n_tri", "dup_trigram_frac", "repetitive")
      .as[(Long, Int, Double, Int, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(withDegenerate === got ++ Seq(
      (3L, 0, 0.0, 0, 0.0, false),
      (4L, 0, 0.0, 0, 0.0, false),
      (5L, 2, 0.5, 0, 0.0, true),
      (6L, 3, 1.0, 1, 0.0, true)))
  }
}
