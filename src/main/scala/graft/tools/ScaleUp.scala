package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-probe dataset generator: writes a `factor`× replica of a testdata
  * directory so the heavy queries can be measured at 10× volume
  * (`bench_scaling_r14.json` — the measured evidence behind the
  * 100×-design claims, VERDICT r13 next-round item 3).
  *
  * The construction matters more than the copying: a naive k-fold replica
  * makes every document an exact/near duplicate of its k−1 clones, so
  * candidate-pair counts grow ~k² BY CONSTRUCTION and the probe would
  * measure the synthetic duplicate densification, not the engine's volume
  * scaling. Instead each copy is the base corpus with its STRUCTURE intact
  * and its cross-copy overlap destroyed:
  *
  *  - documents: copy c ≥ 1 rewrites the text through a per-copy INJECTIVE
  *    character map — an affine cipher x → (a_c·x + b_c) mod 26 over the
  *    letter alphabet (case-consistent) and mod 10 over digits, with
  *    (a_c, b_c) distinct for every copy below lcm(12, 26) = 156. An
  *    injective char map preserves EVERYTHING the text operators key on —
  *    lengths and n_chars (so length-bucket blocking is identical),
  *    whitespace structure (tokens map injectively), within-copy equality
  *    of tokens, shingles, and CHARACTER n-grams — while two distinct
  *    affine maps agree on at most TWO letters (a1−a2 is always even, so
  *    gcd(a1−a2, 26) can be 2 and the fixed-point congruence can have two
  *    solutions), so cross-copy grams are disjoint up to
  *    single-repeated-letter windows. The r14 form tagged
  *    each token with a copy suffix, which makes token vocabularies
  *    disjoint but leaves word-INTERIOR character 4-grams shared across
  *    every copy — measured at factor 100: prefix-gram df grew with the
  *    factor and dd_ngram_jaccard's candidate join output went superlinear
  *    (216 937 raw candidates at the base, 14.4 M at ×10 — 66× for 10×
  *    the docs), a densification of the REPLICA, not the engine. doc_ids
  *    shift by c·stride; n_chars carries over unchanged (translation is
  *    length-preserving).
  *  - embeddings: copy c rotates each vector cyclically by (c·7 mod Dim)
  *    lanes. Rotation is an orthogonal transform applied uniformly within
  *    the copy: every within-copy dot product / norm / cosine is EXACTLY
  *    the base corpus's, while cross-copy cosines decorrelate (the demo
  *    query set `vec_id < 8` lives in the untouched copy 0).
  *  - TPC-H facts (r15): customer/supplier/part/orders/lineitem grow
  *    linearly as key-SHIFTED copies with every foreign key rewritten
  *    consistently — exactly how dbgen scales SF — while region/nation
  *    stay fixed (as at every official SF; shifted nationkeys still land
  *    on them). events likewise: user_id/event_id shift per copy,
  *    timestamps untouched, so per-user session/funnel shape is the
  *    base's and the user population grows with the factor. Value
  *    columns carry over unchanged everywhere. NOTE: since the v3
  *    synthetic sentinel (a fixed `spark.range` workload that reads no
  *    table), the calibrated unit is a valid box probe at scaled output
  *    dirs too; only the pre-v3 lineitem-scan sentinel required raw
  *    seconds here (the r15 relational_event_100x legs predate v3).
  *
  * Usage: ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cpus = graft.Local.cpus
    val spark = graft.Local.session()

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    // stride leaves the base id space intact and keeps ids dense-ish —
    // deterministic winner election (min doc_id) behaves as in the base
    val docStride = docs.agg(max("doc_id")).head.getLong(0) + 1
    // per-copy affine char maps; (a, b) pairs distinct for all c < 156 and
    // any two distinct maps agree on at most TWO letters: a1−a2 is even
    // (all multipliers odd), so gcd(a1−a2, 26) ∈ {2, 26\…} and the fixed-
    // point congruence can have two solutions — only windows repeating a
    // single letter can collide across copies, so gram disjointness holds
    // for every realistic shingle
    val As = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25) // coprime to 26
    def alphaMap(c: Int): (String, String) = {
      val a = As((c * 7 + 3) % As.size)
      val b = (c * 11 + 5) % 26
      val lo = ('a' to 'z').map(x => ('a' + ((x - 'a') * a + b) % 26).toChar)
      val da = Seq(1, 3, 7, 9)((c * 3 + 1) % 4) // coprime to 10
      val db = (c * 13 + 2) % 10
      val dg = ('0' to '9').map(x => ('0' + ((x - '0') * da + db) % 10).toChar)
      (('a' to 'z').mkString + ('A' to 'Z').mkString + ('0' to '9').mkString,
        lo.mkString + lo.map(_.toUpper).mkString + dg.mkString)
    }
    def docCopy(c: Int): DataFrame =
      if (c == 0) docs
      else {
        val (matching, replace) = alphaMap(c)
        docs.select(
          (col("doc_id") + lit(c * docStride)).as("doc_id"),
          translate(col("text"), matching, replace).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
    (0 until factor).map(docCopy).reduce(_ unionAll _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val vecStride = emb.agg(max("vec_id")).head.getLong(0) + 1
    val dim = graft.ops.Similarity.Dim
    def embCopy(c: Int): DataFrame =
      if (c == 0) emb
      else {
        val r = (c * 7) % dim
        val rotated =
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, dim - r),
            slice(col("embedding"), 1, r))
        emb.select(
          (col("vec_id") + lit(c * vecStride)).as("vec_id"),
          rotated.as("embedding"), col("label"))
      }
    (0 until factor).map(embCopy).reduce(_ unionAll _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // TPC-H fact/dim tables: key-SHIFTED copies, exactly how dbgen scales
    // SF — customer/supplier/part/orders/lineitem grow linearly with every
    // foreign key rewritten consistently (copy c shifts each key family by
    // c·its own stride), while region/nation stay fixed (they are fixed at
    // every official SF, and the shifted nationkeys still land on them).
    // Value columns (dates, prices, quantities, flags) carry over
    // unchanged, so per-key group structure and join fan-outs are the base
    // corpus's within every copy and the probe measures VOLUME, not
    // densification. Events scale the same way: user_id/event_id shift per
    // copy, timestamps untouched — per-user session/funnel shapes are
    // preserved, the user population grows with the factor.
    def strideOf(t: String, key: String): Long =
      spark.read.parquet(s"$srcDir/$t.parquet").agg(max(key)).head.getLong(0) + 1
    val custS = strideOf("customer", "c_custkey")
    val suppS = strideOf("supplier", "s_suppkey")
    val partS = strideOf("part", "p_partkey")
    val ordS = strideOf("orders", "o_orderkey")
    def copies(t: String, shifted: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$srcDir/$t.parquet")
      (0 until factor).map(c => if (c == 0) base else shifted(base, c))
        .reduce(_ unionAll _)
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    copies("customer", (df, c) => df.withColumn("c_custkey",
      col("c_custkey") + lit(c * custS)))
    copies("supplier", (df, c) => df.withColumn("s_suppkey",
      col("s_suppkey") + lit(c * suppS)))
    copies("part", (df, c) => df.withColumn("p_partkey",
      col("p_partkey") + lit(c * partS)))
    copies("orders", (df, c) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(c * ordS))
      .withColumn("o_custkey", col("o_custkey") + lit(c * custS)))
    copies("lineitem", (df, c) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(c * ordS))
      .withColumn("l_partkey", col("l_partkey") + lit(c * partS))
      .withColumn("l_suppkey", col("l_suppkey") + lit(c * suppS)))
    val evUserS = strideOf("events", "user_id")
    val evIdS = strideOf("events", "event_id")
    copies("events", (df, c) => df
      .withColumn("event_id", col("event_id") + lit(c * evIdS))
      .withColumn("user_id", col("user_id") + lit(c * evUserS)))

    // carry the fixed dims (and any remaining table) over unchanged
    val scaled = Set("documents", "embeddings", "customer", "supplier",
      "part", "orders", "lineitem", "events").map(_ + ".parquet")
    val src = new java.io.File(srcDir)
    src.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.getName)
      .filterNot(scaled)
      .foreach { n =>
        spark.read.parquet(s"$srcDir/$n")
          .write.mode("overwrite").parquet(s"$outDir/$n")
      }
    spark.stop()
  }
}
