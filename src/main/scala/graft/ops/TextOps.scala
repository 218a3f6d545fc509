package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryModule, Tables}
import graft.core.MapReduce.WhitespaceClass
import graft.functions.{Shingles, Winnow}

/** Text-analysis battery over the `documents` table: tokenization, token
  * statistics, term frequencies, n-grams, quality scoring, language-ID
  * heuristic, and md5 document fingerprinting.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions` array
  * expressions — per-row work stays inside WholeStageCodegen; shuffles happen
  * only at explicit groupBy/window boundaries. The whitespace-tokenize shape
  * is the reference's only string operation
  * (/root/reference/src/mapreduce/common_test_suite.go:31-42).
  */
object TextOps extends QueryModule {

  /** Whitespace tokens of lower(text), empties dropped. Pure expression — no
    * UDF, no shuffle. The whitespace class lives in
    * [[graft.core.MapReduce.WhitespaceClass]] — one constant feeds the Spark
    * regex and (via toksSql interpolation) the DuckDB-RE2 oracle regex.
    */
  def tokens(c: Column): Column =
    filter(split(lower(c), WhitespaceClass), t => length(t) > 0)

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** Flagship: sorted distinct tokens — the reference's canonical workload
    * (distinct-words; SURVEY.md §2.3). Exercises scan → generate → shuffle
    * dedup → distributed sort, i.e. reference operators #1–#6 in one plan.
    */
  def distinctTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .distinct()
      .orderBy("token")

  def tokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        round(
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
            .cast("double") / size(col("toks")),
          4).as("avg_token_len"))
      .orderBy("doc_id")

  /** Top-20 tokens per language by frequency (count desc, token asc). The
    * groupBy pre-aggregates map-side, so only (lang, token, partial count)
    * rows cross the shuffle — at 100 TB the reduction happens before the wire.
    *
    * Two-phase top-k: a window partitioned by `lang` alone would sort every
    * (lang, token, cnt) row for a language on ONE task (~5 languages → 5
    * tasks own the whole dataset — a scale cliff). Instead, salt by
    * hash(token) so phase 1 takes a local top-20 per (lang, salt) across 64
    * parallel groups, then phase 2 picks the global top-20 per lang from the
    * ≤ 64×20 salted survivors. Correct because the pre-agg keys on (lang,
    * token): each token's full count lives in exactly one salt bucket, so
    * the true top-20 always survives phase 1.
    */
  def termFrequency(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      .withColumn("salt", pmod(hash(col("token")), lit(64)))
    val local = Window.partitionBy("lang", "salt")
      .orderBy(col("cnt").desc, col("token").asc)
    val global = Window.partitionBy("lang")
      .orderBy(col("cnt").desc, col("token").asc)
    tf.withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= 20)
      .withColumn("rnk", row_number().over(global)).filter(col("rnk") <= 20)
      .select("lang", "token", "cnt", "rnk")
      .orderBy("lang", "rnk")
  }

  /** Adjacent-token bigrams per document (expression-built, no shuffle), then
    * global top-100 by count.
    */
  def topBigrams(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(Shingles(s, tokens(col("text")), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(100)

  private val MinColloc = 5 // bigram support floor for PMI ranking

  /** PMI-ranked collocations — the phrase-mining signal: for each bigram
    * with ≥ [[MinColloc]] occurrences, pointwise mutual information
    * ln(p(w1w2) / (p(w1)·p(w2))) against the corpus unigram model. High
    * PMI = tokens that co-occur far above chance (multi-word expressions);
    * the top-100 by PMI is the candidate phrase lexicon.
    *
    * Scale shape: bigram and unigram counts are hash aggregates with
    * map-side partials; the two corpus totals ride one broadcast; the
    * count joins are equi-joins on the token key (AQE skew-splits hot
    * function words — the same reliance as txt_tfidf); the final top-100
    * is TakeOrderedAndProject (per-partition heads + driver merge of 100
    * rows), never a global sort. The PMI double is computed with ONE fixed
    * left-associative op sequence mirrored in the oracle, so both engines
    * run the identical IEEE ops.
    */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val bg = Tables.documents(s, dir)
      .select(explode(Shingles(s, toks, 2)).as("bigram"))
    val cb = bg.groupBy("bigram").agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= MinColloc)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val uni = Tables.documents(s, dir)
      .select(explode(toks).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum("c").as("nu")).crossJoin(
      bg.agg(count(lit(1)).as("nb")))
    val pmi = round(log(col("cb").cast("double") * col("nu") / col("nb")
      / col("c1") * col("nu") / col("c2")), 6)
    cb.join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("cb").as("cnt"), pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(100)
  }

  /** Per-document quality-signal frame (doc_id, source, n_chars, n_tokens,
    * ratios, composite `quality`) — the shared scoring core of
    * [[qualityScore]] and [[domainCap]]. Pure per-row expressions on one
    * documents scan; every ratio pre-rounds to 4 decimals so downstream
    * rank orders are engine-stable.
    */
  private def qualityFrame(s: SparkSession, dir: String): DataFrame =
    qualityOf(Tables.documents(s, dir))

  /** The same per-row scoring over an explicit documents frame — streaming
    * safe (pure row-local expressions, no window/aggregate), shared with
    * the [[graft.streaming.Streaming.domainCapViaState]] twin.
    */
  private[graft] def qualityOf(docs: DataFrame): DataFrame = {
    val stops = array(stopwords.map(lit): _*)
    // Zero-token guard: Spark's non-ANSI x/0 yields NULL where DuckDB's
    // IEEE division yields NaN, and the two also sort differently under
    // `quality DESC` — so the n_tokens = 0 case must never reach a
    // division in EITHER engine. Ratios divide by greatest(n_tokens, 1)
    // (numerators are 0 for an empty doc, so every ratio pins to 0.0) and
    // quality pins to 0.0 outright. Mirrored in the txt_quality /
    // txt_domain_cap oracle SQL.
    val denom = greatest(size(col("toks")), lit(1))
    docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("source"), col("n_chars"),
        size(col("toks")).as("n_tokens"),
        round(size(filter(col("toks"), t => array_contains(stops, t)))
          .cast("double") / denom, 4).as("stopword_ratio"),
        round(size(filter(col("toks"), t => length(t) <= 2))
          .cast("double") / denom, 4).as("short_ratio"),
        round(size(array_distinct(col("toks")))
          .cast("double") / denom, 4).as("distinct_ratio"))
      .withColumn("quality",
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          round(least(lit(1.0), col("n_tokens") / lit(100.0)) * lit(0.4)
            + col("distinct_ratio") * lit(0.4)
            + (lit(1.0) - col("short_ratio")) * lit(0.2), 4)))
  }

  /** Per-document quality signals + a composite score — the length /
    * stopword-ratio / short-token heuristics a pretraining-data pipeline
    * applies before training.
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    qualityFrame(s, dir)
      .select("doc_id", "n_chars", "n_tokens", "stopword_ratio",
        "short_ratio", "distinct_ratio", "quality")
      .orderBy("doc_id")

  private[graft] val DomainCap = 15 // per-source quality budget

  /** C4/RefinedWeb-style per-domain cap: keep at most [[DomainCap]] docs
    * per source, highest [[qualityFrame]] composite first — the
    * anti-over-representation step web-crawl pipelines apply so no single
    * domain dominates the training mix. Emits the survivors with their
    * within-source rank; ties on the 4-decimal quality break by doc_id, so
    * the kept set is deterministic in any engine.
    *
    * Scale shape: one documents scan + the salted two-phase per-source
    * top-k ([[weightedSample]]'s pattern) — a local row_number inside each
    * of 64 (source, salt) lanes prunes to ≤ 64·cap survivors per source
    * before the per-source global rank, so no task ever sorts a whole
    * domain (at 100 TB a hot domain is millions of docs; the naive
    * per-source window pins them onto one task).
    */
  def domainCap(s: SparkSession, dir: String): DataFrame =
    domainCapOf(qualityFrame(s, dir).select("doc_id", "source", "quality"))

  /** The salted two-phase top-k over an explicit (doc_id, source, quality)
    * frame — factored for fixture tests with constructed scores (cap-
    * boundary quality ties, hot-domain skew) and the equivalence property
    * check against the naive single-window formulation.
    */
  private[graft] def domainCapOf(scored: DataFrame, cap: Int = DomainCap): DataFrame = {
    val local = Window.partitionBy("source", "salt")
      .orderBy(col("quality").desc, col("doc_id").asc)
    val global = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id").asc)
    scored
      .withColumn("salt", pmod(col("doc_id"), lit(64)))
      .withColumn("lrnk", row_number().over(local))
      .filter(col("lrnk") <= cap)
      .withColumn("rnk", row_number().over(global))
      .filter(col("rnk") <= cap)
      .select(col("source"), col("rnk"), col("doc_id"), col("quality"))
      .orderBy("source", "rnk")
  }

  /** N-gram-free marker-word language ID: score each candidate language by
    * marker hits, predict the argmax (ties + zero-evidence → "und").
    * Deterministic, SQL-expressible, and embarrassingly parallel.
    */
  def languageId(s: SparkSession, dir: String): DataFrame =
    languageIdOf(Tables.documents(s, dir))

  private[graft] def languageIdOf(documents: DataFrame): DataFrame = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and", "of", "is"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "es" -> Seq("el", "los", "las", "es", "y"),
      "fr" -> Seq("le", "les", "est", "et", "une"),
      "zh" -> Seq("de", "shi", "le", "wo", "ni"))
    val toks = tokens(col("text")).as("toks")
    val scored = documents.select(col("doc_id"), col("lang"), toks)
      .select(col("doc_id") +: col("lang") +: markers.map { case (l, ws) =>
        size(filter(col("toks"), t => array_contains(array(ws.map(lit): _*), t))).as(s"score_$l")
      }: _*)
    val best = markers.map { case (l, _) => col(s"score_$l") }.reduce(greatest(_, _))
    // Chained WHENs: earlier languages win ties (en first) — deterministic.
    val predFirst = markers.foldLeft(when(best === 0, lit("und"))) {
      case (acc, (l, _)) => acc.when(col(s"score_$l") === best, lit(l))
    }.otherwise(lit("zh"))
    scored
      .withColumn("predicted", predFirst)
      .select(col("doc_id"), col("lang"), col("predicted"),
        (col("predicted") === col("lang")).as("hit"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------- txt_langid_confusion

  /** Confusion-matrix acceptance audit for [[languageId]] — the eval table
    * a language-ID deployment publishes before its verdicts route corpus
    * traffic: per (declared lang, predicted lang) cell the document count
    * and the row share (the per-true-language confusion profile; the
    * diagonal cells are recall). The serving families carry recall audits
    * (sim_recall_*, dd_lsh_recall) — this is the same contract for the
    * classifier tier.
    *
    * Scale shape: one documents scan through the shared per-row marker
    * scoring, then ONE hash aggregate onto ≤ |langs|·(|langs|+1) cells;
    * the row share is a window over that bounded frame. Nothing after the
    * aggregate scales with the corpus.
    */
  def langidConfusion(s: SparkSession, dir: String): DataFrame =
    langidConfusionOf(Tables.documents(s, dir))

  private[graft] def langidConfusionOf(documents: DataFrame): DataFrame =
    languageIdOf(documents)
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("row_share", round(col("n_docs").cast("double")
        / sum("n_docs").over(Window.partitionBy("lang")), 6))
      .orderBy("lang", "predicted")

  // ----------------------------------------------------------- txt_fertility

  /** Tokenizer fertility by corpus slice — the per-(lang, source) table a
    * tokenizer evaluation publishes: BPE-ish pieces per whitespace word
    * (fertility — the classic cross-lingual tokenizer-equity metric; a
    * slice tokenizing at 2× the pieces pays 2× the compute per word) plus
    * document and token volumes and mean document length. [[tokenCount]]
    * is the per-document budget view; this is the corpus rollup a mix
    * designer actually reads.
    *
    * Determinism: both counts are exact BIGINT sums of per-row regex
    * counts; fertility and tokens_per_doc are ONE double division each —
    * no engine-ordered double summation anywhere.
    *
    * Scale shape: one scan, per-row codegen'd regex counting, ONE hash
    * aggregate onto |lang × source| rows. The cheapest rollup shape.
    */
  def fertility(s: SparkSession, dir: String): DataFrame =
    fertilityOf(Tables.documents(s, dir))

  private[graft] def fertilityOf(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("nws"),
        size(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0)))
          .cast("long").as("nbpe"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("nws").as("n_ws_tokens"),
        sum("nbpe").as("n_bpe_pieces"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_ws_tokens"),
        col("n_bpe_pieces"),
        when(col("n_ws_tokens") > 0,
          round(col("n_bpe_pieces").cast("double") / col("n_ws_tokens"), 6))
          .as("fertility"),
        round(col("n_ws_tokens").cast("double") / col("n_docs"), 6)
          .as("tokens_per_doc"))
      .orderBy("lang", "source")

  /** BPE-ish pre-tokenizer pattern: letter runs, digit runs, single other
    * non-space characters — the shape GPT-style byte-pair pre-tokenization
    * produces before merges. Same explicit whitespace set as
    * [[graft.core.MapReduce.WhitespaceClass]] so Java regex and RE2 agree.
    */
  private[ops] val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"

  /** Token counting both ways a data pipeline needs it: whitespace tokens
    * (word-level budget) and BPE-ish pieces (model-token budget proxy), plus
    * their ratio. Pure regex expressions, no shuffle before the sort.
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    val tx = lower(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        size(regexp_extract_all(tx, lit(BpePattern), lit(0))).as("n_bpe_pieces"))
      .withColumn("pieces_per_token",
        when(col("n_ws_tokens") === 0, lit(null))
          .otherwise(round(col("n_bpe_pieces").cast("double") / col("n_ws_tokens"), 4)))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------- txt_yield_curve

  /** Candidate minimum-token cuts for [[yieldCurve]] — powers of two across
    * the range a pretraining length filter actually tunes in.
    */
  private[ops] val YieldCuts = Seq(1, 16, 32, 64, 128, 256, 512)

  /** Filter-threshold yield curve — the diagnostic that SETS a minimum
    * document-length cut, the way ev_gap_audit sets the session gap: for
    * every candidate cut, the documents and tokens that would survive
    * `n_tokens >= cut`, as counts and as corpus shares. A curator reads
    * the curve once and picks the knee — without re-running the filter
    * per candidate.
    *
    * Scale shape: ONE single-row aggregate computes every cut's survivor
    * counts as conditional sums in the same scan (no docs × cuts explode,
    * no per-cut re-scan), then `stack` unrolls that row to |cuts| output
    * rows. Yields are exact-BIGINT ratios with one double division each,
    * so both engines round the same number.
    */
  def yieldCurve(s: SparkSession, dir: String): DataFrame =
    yieldCurveOf(Tables.documents(s, dir))

  private[graft] def yieldCurveOf(documents: DataFrame): DataFrame = {
    val n = documents
      .select(size(tokens(col("text"))).cast("long").as("n"))
    val aggs = YieldCuts.flatMap { c =>
      Seq(sum(when(col("n") >= c, 1L).otherwise(0L)).as(s"d_$c"),
        sum(when(col("n") >= c, col("n")).otherwise(0L)).as(s"t_$c"))
    } ++ Seq(count(lit(1)).as("td"), sum("n").as("tt"))
    val stackArgs = YieldCuts
      .map(c => s"CAST($c AS BIGINT), d_$c, t_$c").mkString(", ")
    n.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${YieldCuts.size}, $stackArgs) AS (min_tokens, n_docs, n_tokens)",
        "td", "tt")
      .select(col("min_tokens"), col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("td"), 6).as("doc_yield"),
        round(col("n_tokens").cast("double") / col("tt"), 6).as("token_yield"))
      .orderBy("min_tokens")
  }

  /** Polynomial rolling-hash fingerprint of the character stream
    * (h ← h·131 + code mod 2^31−1) — the cheap content hash behind
    * content-defined chunking; n_same = dup-group size. Computed by the
    * native codegen'd [[graft.functions.RollingHash]] expression (a
    * higher-order-function fold would break WholeStageCodegen and pay
    * per-character lambda dispatch); products < 2^39, so the arithmetic is
    * BIGINT-exact in both engines.
    */
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    graft.functions.RollingHash.register(s)
    Tables.documents(s, dir)
      .select(col("doc_id"), expr("rolling_hash(lower(text))").as("rh"))
      .withColumn("n_same", count(lit(1)).over(Window.partitionBy("rh")))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS local-fingerprint algorithm): from the K-token shingle hash
    * sequence, every window of W consecutive hashes selects its minimum
    * (rightmost on ties — "robust winnowing"), and the distinct selections
    * are the document's fingerprints (K, W and the position packing are
    * [[graft.functions.Winnow]]'s). Guarantee: any token run of ≥ W + K − 1
    * tokens shared by two documents shares at least one fingerprint —
    * position-local (unlike MinHash's whole-document signature) with
    * expected density 2/(W+1) instead of all shingles.
    *
    * Scale shape: map-only up to the final sort. Every statistic is per
    * doc_id, and a reduce keyed by the record's own key needs no shuffle:
    * the native [[graft.functions.Winnow]] expression winnows each document
    * inside one codegen'd projection over its token array, in O(tokens of
    * one doc) memory. The only exchange is the presentation orderBy's range
    * partitioning, which carries one fixed-width row per document — no
    * token rows, no window, no distinct, no join back. The rightmost-min
    * tie-break packs (hash, reversed pos) into one BIGINT — h·2^21 fits in
    * 53 bits, exact in both engines — so docs must stay under 2^21
    * shingles. Short docs (fewer than W shingles) winnow their single
    * truncated window, so every doc with ≥ 1 shingle yields ≥ 1
    * fingerprint; docs under K tokens (and null text) report zeros.
    * fp_checksum (exact BIGINT sum of selected hashes) pins the selected
    * set itself under the driver's hash-compare.
    */
  def winnowing(s: SparkSession, dir: String): DataFrame =
    winnowingOf(Tables.documents(s, dir))

  private[graft] def winnowingOf(docs: DataFrame): DataFrame = {
    Winnow.register(docs.sparkSession)
    docs
      .select(col("doc_id"), call_function("winnow", tokens(col("text"))).as("w"))
      .select(col("doc_id"),
        col("w.n_shingles").as("n_shingles"),
        col("w.n_fp").as("n_fp"),
        when(col("w.n_shingles") === 0, lit(0.0))
          .otherwise(round(col("w.n_fp").cast("double") / col("w.n_shingles"), 4))
          .as("fp_density"),
        col("w.fp_checksum").as("fp_checksum"))
      .orderBy("doc_id")
  }

  /** md5 fingerprint of the normalized token stream per document, plus how
    * many documents share that fingerprint (exact-dup group size).
    */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    Dedup.fingerprinted(Tables.documents(s, dir))
      .withColumn("n_same", count(lit(1)).over(Window.partitionBy("fp")))
      .orderBy("doc_id")

  /** Top-3 terms per document by TF-IDF, with a DIVISION-ONLY idf:
    * score = tf · (N / df). Rationale: `ln()` is not bit-reproducible
    * across engines (java.lang.Math vs libm differ in the last ulp), while
    * IEEE division and multiplication of integer-valued inputs are
    * correctly rounded — so the score, and therefore the ranking, is
    * bit-identical in Spark and DuckDB and the oracle can hash-compare.
    * Monotonicity in (tf, 1/df) — all an extractive ranker uses — is
    * unchanged.
    *
    * Scale shape: tf is a (doc_id, term) groupBy with map-side partials; df
    * reduces tf again by term. The tf⋈df join keys on `term`, whose
    * stopword skew is the textbook AQE-skew-join case (OptimizeSkewedJoin
    * splits the hot partitions; df's build side stays small relative to
    * tf). The per-doc top-3 window partitions on high-cardinality doc_id —
    * no salting needed (≤ vocabulary-per-doc rows per partition). N comes
    * from one count job at plan-build time (stats-then-plan, as in
    * [[Similarity.banded]]).
    */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val n = docs.count().toDouble
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("score", col("tf") * (lit(n) / col("df")))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rnk"),
        round(col("score"), 6).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** Deterministic stratified sampling — the training-data-mixing op:
    * downsample the dominant language to 10 % and keep 50 % of the rest.
    * The per-row uniform derives from md5 of the doc_id decimal string
    * (identical in both engines) — no RNG, so the sample is reproducible,
    * partition-count-independent, and stable under re-runs. Pure codegen'd
    * filter: at 100 TB this is a single scan with no shuffle.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val rate = when(col("lang") === "en", lit(0.10)).otherwise(lit(0.50))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), u.as("u"), rate.as("rate"))
      .filter(col("u") < col("rate"))
      .select(col("doc_id"), col("lang"), round(col("u"), 6).as("u"))
      .orderBy("doc_id")
  }

  /** Sequence packing: assign each document to a fixed token-budget pack
    * (2048 tokens) by the "concatenate then chunk" rule — a document's pack
    * is the chunk its first token lands in. Packing runs per (lang, shard):
    * the md5-derived 16-way shard keeps the running-sum window parallel (a
    * per-lang window would hand each language's whole corpus to ONE task —
    * the txt_term_freq cliff); at scale the shard count grows with the
    * cluster and each shard's window state is a single running sum.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val Budget = 2048
    val shard = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
      lit(16L))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), size(tokens(col("text"))).as("n_tokens"))
      .withColumn("shard", shard)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / lit(Budget.toDouble)).cast("long").as("pack_id"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signals: the fraction of tokens consumed by the
    * single most frequent token, and the fraction of duplicate trigrams —
    * the two cheapest filters against degenerate boilerplate / looping text.
    *
    * Scale shape: the token and trigram counts are per-row expressions
    * over the row's `shingles` (no shuffle — `array_distinct` is linear in
    * doc length); the top-token count is relational (explode → (doc,
    * token) groupBy with map-side partials → per-doc max, joined back on
    * doc_id) because a per-row O(len²) fold would blow up on long
    * documents. Flags are computed from the ROUNDED ratios in both engines,
    * so a boundary value can never split Spark from the oracle.
    */
  def repetition(s: SparkSession, dir: String): DataFrame =
    repetitionOf(Tables.documents(s, dir))

  private[graft] def repetitionOf(docs: DataFrame): DataFrame = {
    // toks is its own projection: the tokenizer's filter lambda gets no
    // subexpression elimination and is referenced twice below
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val top = toks.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").as("top_cnt"))
    // size() of a NULL array is NULL or -1 depending on the session:
    // greatest(…, 0) reads both as 0
    val tri = Shingles(docs.sparkSession, col("toks"), Dedup.TriK)
    toks.select(col("doc_id"),
        greatest(size(col("toks")), lit(0)).as("n_tokens"),
        greatest(size(tri), lit(0)).as("n_tri"),
        size(array_distinct(tri)).as("n_tri_distinct"))
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round(coalesce(col("top_cnt"), lit(0L)).cast("double")
          / greatest(col("n_tokens"), lit(1)), 4).as("top_token_frac"),
        col("n_tri"),
        when(col("n_tri") === 0, lit(0.0)).otherwise(
          round(lit(1.0) - col("n_tri_distinct").cast("double") / col("n_tri"), 4))
          .as("dup_trigram_frac"))
      .withColumn("repetitive",
        col("top_token_frac") > 0.2 || col("dup_trigram_frac") > 0.3)
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ txt_ngram_novelty

  /** Forward n-gram novelty — the curation-ordering signal: for each doc,
    * the fraction of its DISTINCT trigrams whose corpus-wide first
    * occurrence (minimum doc_id) is this document. Novelty ≈ 1 → the doc
    * introduces fresh phrasing; ≈ 0 → spliced from already-seen phrases
    * (template/boilerplate assembly) — the cheap signal data-ordering
    * papers use to front-load novel text and to cap near-copy chains that
    * per-pair dedup misses.
    *
    * Scale shape: each row's `array_distinct(shingles)` explodes into its
    * distinct (doc, trigram) pairs in the map (multiplicity pre-folded, no
    * window and no distinct shuffle); first-occurrence is a trigram-keyed
    * hash aggregate with map-side partials (the inverted index a streaming
    * curation pass would maintain incrementally); novelty joins the pairs
    * back on the trigram key — equi-joins on high-cardinality keys only,
    * no corpus windows, AQE skew-splits any hot boilerplate trigram. Docs
    * with <3 tokens carry n_tri_distinct=0 and NULL novelty (the
    * lm_perplexity contract: unscoreable ≠ dropped).
    */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    ngramNoveltyOf(Tables.documents(s, dir))

  private[graft] def ngramNoveltyOf(docs: DataFrame): DataFrame = {
    // distinct (doc, trigram) pairs feed BOTH the first-doc index build and
    // the join-back probe — persist so the tokenize + shingle pass runs once
    val docTri = docs
      .select(col("doc_id"), explode(array_distinct(
        Shingles(docs.sparkSession, tokens(col("text")), Dedup.TriK))).as("tri"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firstDoc = docTri.groupBy("tri").agg(min("doc_id").as("first_doc"))
    val nov = docTri.join(firstDoc, "tri")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri_distinct"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    docs.select("doc_id")
      .join(nov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tri_distinct"), lit(0L)).cast("int").as("n_tri_distinct"),
        coalesce(col("n_novel"), lit(0L)).cast("int").as("n_novel"),
        when(coalesce(col("n_tri_distinct"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(round(col("n_novel").cast("double") / col("n_tri_distinct"), 6))
          .as("novelty"))
      .orderBy("doc_id")
    // LAZY return, docTri left as the query's one cached frame — the
    // knPerplexityOf reasoning: the consumer's single action populates it
    // for both the index build and the join-back, instead of paying an
    // eager extra pass to transfer the cache onto the output frame.
  }

  // PII patterns restricted to syntax Java regex and RE2 share (explicit
  // character classes, no \d/\b/backrefs) so Spark and DuckDB match the
  // same spans. Redaction order: emails first (their local parts can embed
  // digit runs), then IPs, then phone shapes over the already-redacted text.
  private[ops] val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[ops] val IpPat = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  private[ops] val PhonePat = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

  /** PII scrubbing — per-document match counts for email / IPv4 / phone
    * patterns plus the md5 of the fully redacted text (the downstream
    * training corpus would persist the redacted text itself; the fingerprint
    * keeps the oracle row narrow). Pure codegen'd regex expressions: at
    * 100 TB this is a single scan, no shuffle, trivially partition-parallel.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame =
    piiRedactOf(Tables.documents(s, dir))

  private[graft] def piiRedactOf(docs: DataFrame): DataFrame = {
    val tx = lower(col("text"))
    docs
      .select(col("doc_id"),
        size(regexp_extract_all(tx, lit(EmailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(tx, lit(IpPat), lit(0))).as("n_ips"),
        size(regexp_extract_all(tx, lit(PhonePat), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace(regexp_replace(tx,
          EmailPat, "<EMAIL>"), IpPat, "<IP>"), PhonePat, "<PHONE>")).as("red_fp"))
      .withColumn("n_pii", col("n_emails") + col("n_ips") + col("n_phones"))
      .orderBy("doc_id")
  }

  /** C4-style document filter battery: per-document heuristic flags (too
    * short, implausible mean word length, code/boilerplate markers) and the
    * resulting keep decision — the gate a pretraining pipeline applies
    * before dedup. One scan, all flags codegen'd expressions; the keep
    * decision is recomputed from the same flag expressions in the oracle so
    * the two engines cannot disagree on the boundary.
    */
  // ----------------------------------------------------------- txt_blocklist

  /** Flagged-term lexicon for [[blocklist]] — the C4 "badwords" move: a
    * fixed external wordlist whose occurrence density gates documents.
    * Here the list is the synthetic corpus's own pejoratives (a stand-in
    * artifact — a production run broadcasts its real wordlist the same
    * way; the plumbing, not the lexicon, is the operator).
    */
  private[graft] val BlockList = Seq("slow", "big", "dup")

  /** Keep documents whose flagged-token density is ≤ this (the corpus
    * median is ≈ 0.064, so the gate splits rather than degenerates).
    */
  private[graft] val BlockThr = 0.06

  /** Wordlist safety filter — the blocklist-density gate every public
    * corpus pipeline runs beside the structural quality filter
    * ([[c4Filter]] scores SHAPE; this scores CONTENT against a fixed
    * lexicon). Emits per doc the token count, flagged-occurrence count,
    * density, and the keep verdict at [[BlockThr]] (boundary density
    * keeps — both engines compare the same 6-decimal rounding).
    *
    * Scale shape: the per-doc token count is a row-local projection (no
    * shuffle); only FLAGGED occurrences enter the one doc-keyed count
    * aggregate (map-side partials; the explode filters before any
    * exchange, so the shuffle carries ≈ corpus·density rows), joined back
    * LEFT so zero-hit docs keep with density 0. At 100 TB the lexicon
    * broadcasts; nothing else changes.
    */
  def blocklist(s: SparkSession, dir: String): DataFrame =
    blocklistOf(Tables.documents(s, dir))

  private[graft] def blocklistOf(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
    val hits = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .filter(col("t").isin(BlockList: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("n_flagged"))
    withBlockVerdict(
      base.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged")))
      .orderBy("doc_id")
  }

  /** The density + keep verdict over a (doc_id, n_tokens, n_flagged)
    * frame — shared with the stateless streaming twin so batch and
    * serving can't drift on the rounding or the boundary comparison.
    */
  private[graft] def withBlockVerdict(df: DataFrame): DataFrame =
    df.withColumn("flag_density",
        when(col("n_tokens") <= 0, lit(0.0)).otherwise(
          round(col("n_flagged").cast("double") / col("n_tokens"), 6)))
      .withColumn("keep", col("flag_density") <= BlockThr)

  def c4Filter(s: SparkSession, dir: String): DataFrame =
    c4FilterOf(Tables.documents(s, dir))

  private[graft] def c4FilterOf(docs: DataFrame): DataFrame = {
    val f = docs
      .select(col("doc_id"), lower(col("text")).as("tx"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        round(when(size(col("toks")) <= 0, lit(0.0)).otherwise(
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
            .cast("double") / size(col("toks"))), 4).as("mean_token_len"),
        col("tx").contains("{").as("has_brace"),
        col("tx").contains("javascript").as("has_js"),
        col("tx").contains("lorem ipsum").as("has_lorem"))
    f.withColumn("too_short", col("n_tokens") < 50)
      .withColumn("bad_word_len",
        col("mean_token_len") < 3.0 || col("mean_token_len") > 10.0)
      .withColumn("keep",
        !col("too_short") && !col("bad_word_len") &&
          !col("has_brace") && !col("has_js") && !col("has_lorem"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ txt_entropy

  /** Per-document token Shannon entropy (nats) — the CCNet-style quality
    * signal separating natural prose from boilerplate and keyword stuffing:
    * H = ln(n) − (Σ cnt·ln(cnt)) / n over per-token occurrence counts.
    *
    * Also emits Simpson diversity 1 − Σ(cnt/n)² — the collision-probability
    * complement — which needs no transcendental at all (BIGINT-exact until
    * one final division).
    *
    * Cross-engine determinism trick: a raw double Σ cnt·ln(cnt) would sum
    * in partition order (not reproducible between Spark and DuckDB), so
    * each term is rounded to 8 decimals FIRST and summed as an exact
    * DECIMAL — order-independent — with the one unavoidable double
    * division done in the final projection. (ln itself is libm-dependent
    * at 1 ulp; the 8-decimal pre-round plus the 6-decimal output round
    * gives ~1e-2 headroom per term, and the sf0.01 gate data passes
    * hash-exact — see the oracle.)
    *
    * Scale shape: explode → (doc, token) count is the [[repetitionOf]]
    * groupBy (map-side partials, high-cardinality keys); the entropy fold
    * is a second per-doc hash aggregate over (doc, cnt) rows.
    */
  def entropy(s: SparkSession, dir: String): DataFrame = {
    // cast the rounded ln to DECIMAL BEFORE multiplying by cnt (exact
    // DECIMAL×DECIMAL, mirroring the oracle); a double product first would
    // carry ~cnt·ulp error past the cast's 0.5e-8 slack at large counts.
    // Precisions bounded so (18,8)×(18,0) → (37,8) stays under Spark's
    // 38-digit cap — an unbounded product triggers silent scale reduction;
    // (18,0) (vs the old (10,0)) makes count overflow → null structurally
    // impossible at any realistic document length.
    import org.apache.spark.sql.types.DecimalType
    val lnTerm = round(log(col("cnt")), 8).cast(DecimalType(18, 8)) *
      col("cnt").cast(DecimalType(18, 0))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n"), sum(lnTerm).as("sum_clnc"),
        sum(col("cnt") * col("cnt")).as("sum_c2")) // BIGINT-exact
      .select(col("doc_id"), col("n").cast("int").as("n_tokens"),
        round(log(col("n")) - col("sum_clnc").cast("double") / col("n"), 6)
          .as("entropy"),
        // Simpson diversity 1 − Σ(cnt/n)² — all-integer until one division
        round(lit(1.0) - col("sum_c2").cast("double") / (col("n") * col("n")), 6)
          .as("simpson"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ txt_shuffle_shard

  private val NShards = 8 // serving shards per epoch (a config, not a semantic)

  /** Deterministic epoch shuffle + sharding — the training-data ordering op:
    * every document draws a pseudo-random but reproducible sort key from the
    * md5 of its salted doc_id, is hash-assigned to one of [[NShards]]
    * shards, and gets its within-shard serving position. A new epoch is a
    * new salt — the whole order reshuffles with zero state carried over,
    * and any worker can recompute any shard's order independently (no RNG,
    * no stored permutation).
    *
    * Scale shape: the key + shard assignment is one codegen'd md5
    * projection inside the scan; the only shuffle is the NShards-way hash
    * partition, and each shard's row_number window sorts ONLY its own
    * shard — parallel across shards, which at 100 TB grow with the cluster.
    * No global total-order window ever exists (the txt_term_freq cliff).
    */
  def shuffleShard(s: SparkSession, dir: String): DataFrame = {
    val key = md5(concat(lit("ep0:"), col("doc_id").cast("string")))
    val shard = pmod(
      conv(substring(col("skey"), 1, 8), 16, 10).cast("long"), lit(NShards.toLong))
    val w = Window.partitionBy("shard").orderBy(col("skey"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), key.as("skey"))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"), col("skey"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ txt_lm_perplexity

  /** Bigram language-model scoring — the CCNet-style perplexity quality
    * filter: train add-one-smoothed bigram statistics ON the corpus itself,
    * then score every document by its mean bigram log-probability
    * ln((c(w1,w2)+1) / (c(w1,·)+V)) and the implied perplexity
    * exp(−logprob). Boilerplate and template text score high-probability;
    * keyword stuffing and shuffled text score low.
    *
    * Scale shape: training IS aggregation — bigram and continuation counts
    * are groupBys with map-side partials; scoring joins each doc's DISTINCT
    * bigrams (multiplicity pre-folded, so a looping doc joins once per
    * distinct bigram, not per instance) against the count table on the
    * bigram key — an equi-join AQE skew-handles on hot bigrams; the vocab
    * scalar broadcasts. Per-term ln values are pre-rounded and summed as
    * exact DECIMAL (the txt_entropy trick) so the per-doc fold is
    * order-independent in both engines; `ppl` exponentiates the ALREADY
    * 6-rounded logprob so both engines feed libm exp the same decimal.
    *
    * Output contract: EVERY document gets a row. Docs with fewer than two
    * tokens are unscoreable (no bigrams) — they carry n_bigrams = 0 and
    * NULL logprob/ppl rather than silently vanishing, so a downstream
    * quality gate can distinguish "unscoreable" from "filtered upstream".
    */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val big = docs.select(col("doc_id"), explode(Shingles(s, col("toks"), 2)).as("bg"))
    val docBig = big.groupBy("doc_id", "bg").agg(count(lit(1)).as("k"))
    val cb = big.groupBy("bg").agg(count(lit(1)).as("cb"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val cs = cb.groupBy("w1").agg(sum("cb").as("cstart"))
    val vocab = docs
      .select(explode(col("toks")).as("t")).agg(countDistinct("t").as("v"))
    // exact-integer probability inputs → ONE correctly-rounded double
    // division → ln pre-rounded to 8 decimals, summed as exact DECIMAL
    val lnTerm = round(log((col("cb") + lit(1)).cast("double") /
        (col("cstart") + col("v")).cast("double")), 8)
      .cast(DecimalType(18, 8)) * col("k").cast(DecimalType(18, 0))
    val avg = col("slp").cast("double") / col("n_bigrams")
    val scored = docBig.join(cb, "bg")
      .join(cs, "w1")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"), sum(lnTerm).as("slp"))
      .withColumn("logprob", round(avg, 6))
      .select(col("doc_id"), col("n_bigrams"), col("logprob"),
        round(exp(-col("logprob")), 4).as("ppl"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("logprob"), col("ppl"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- txt_kn_perplexity

  private val KnD = 0.75 // absolute discount

  /** Interpolated Kneser-Ney bigram perplexity — the standard n-gram LM
    * (Kneser & Ney '95; Chen & Goodman '98) whose Laplace baseline is
    * [[lmPerplexity]]: P(w2|w1) = max(c(w1w2)−d, 0)/c(w1·) +
    * d·N1+(w1·)/c(w1·) · N1+(·w2)/B, with N1+(w1·)/N1+(·w2) the
    * distinct-continuation / distinct-history counts and B the distinct
    * bigram types — the continuation distribution that makes KN the
    * production choice for n-gram corpus-quality scoring.
    *
    * Cross-engine determinism: every count is an exact integer; the
    * probability is ONE fixed all-double expression over them (identical
    * IEEE evaluation order in both engines — doubles forced explicitly so
    * DuckDB cannot route the 0.75 literal through DECIMAL arithmetic), and
    * each ln is pre-rounded to 8 decimals and summed as exact DECIMAL
    * weighted by instance multiplicity (the txt_entropy trick).
    *
    * Scale shape: identical to [[lmPerplexity]] — one explode builds
    * bigrams; counts and continuation stats are hash aggregates with
    * map-side partials keyed on bigram/w1/w2; the 1-row type total
    * broadcasts; the per-doc fold joins pre-folded distinct (doc, bigram)
    * rows against the count tables (AQE skew-splits hot function-word
    * bigrams). Docs with <2 tokens carry n_bigrams=0 and NULL scores.
    */
  def knPerplexity(s: SparkSession, dir: String): DataFrame =
    knPerplexityOf(Tables.documents(s, dir))

  private[graft] def knPerplexityOf(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val docs = documents.select(col("doc_id"), tokens(col("text")).as("toks"))
    val big = docs.select(col("doc_id"),
      explode(Shingles(documents.sparkSession, col("toks"), 2)).as("bg"))
    val docBig = big.groupBy("doc_id", "bg").agg(count(lit(1)).as("k"))
    // the bigram count table feeds cs, nc, the type total AND the scoring
    // join — persist so the explode+aggregate runs once
    val cb = big.groupBy("bg").agg(count(lit(1)).as("cb"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cs = cb.groupBy("w1")
      .agg(sum("cb").as("cstart"), count(lit(1)).as("n1h"))
    val nc = cb.groupBy("w2").agg(count(lit(1)).as("n1c"))
    val bt = broadcast(cb.agg(count(lit(1)).as("bt")))
    val p = (greatest(col("cb").cast("double") - lit(KnD), lit(0.0)) +
      lit(KnD) * col("n1h").cast("double") * col("n1c").cast("double")
        / col("bt").cast("double")) / col("cstart").cast("double")
    val lnTerm = round(log(p), 8).cast(DecimalType(18, 8)) *
      col("k").cast(DecimalType(18, 0))
    val scored = docBig.join(cb, "bg")
      .join(cs, "w1").join(nc, "w2")
      .crossJoin(bt)
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"), sum(lnTerm).as("slp"))
      .withColumn("kn_logprob",
        round(col("slp").cast("double") / col("n_bigrams"), 6))
      .select(col("doc_id"), col("n_bigrams"), col("kn_logprob"),
        round(exp(-col("kn_logprob")), 4).as("kn_ppl"))
    // Returned LAZY, with cb left as this query's ONE cached frame (the
    // ≤1-frame invariant CacheCleanupSpec sweeps): the consumer's own
    // action populates cb once and reads it from cache in all four
    // subtrees. r13 instead eagerly materialized the per-doc OUTPUT and
    // released cb — a full extra scoring pass (txt_kn_perplexity's
    // measured 1.4× tax) just to swap WHICH single frame stays cached;
    // the bigram type table it retains here grows Heaps-sublinearly with
    // the corpus, vs the strictly per-doc output frame.
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("kn_logprob"), col("kn_ppl"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- txt_vocab_coverage

  private val VocabTop = 1000 // reported vocabulary head

  /** Vocabulary head with cumulative corpus coverage — the tokenizer-
    * training precursor: the top-[[VocabTop]] tokens by corpus frequency
    * (token tie-break) with each prefix's share of ALL token occurrences,
    * answering "how big a vocab covers X% of the corpus".
    *
    * Scale shape: the count is one map-side-partial hash aggregate over the
    * vocabulary; the head extraction is the salted two-phase top-k (no
    * global sort of the vocab); rank and running coverage then run in ONE
    * single-partition window over only the ≤ [[VocabTop]] survivors —
    * bounded by construction, with integer-exact running sums and a single
    * double division against the broadcast corpus total.
    */
  /** Zipf fit over the vocabulary head — the corpus-health scalar: OLS
    * slope (and intercept) of ln(freq) on ln(rank) across the
    * top-[[VocabTop]] tokens. Natural text sits near slope −1; a strongly
    * deviating slope flags templated or synthetic text.
    *
    * Scale shape: identical to [[vocabCoverage]] up to the ranked head
    * (map-side-partial vocab count → salted two-phase top-k → one window
    * over ≤ [[VocabTop]] rows); the regression then folds the ≤ VocabTop
    * (x, y) pairs with PRE-ROUNDED ln values summed as exact DECIMAL — the
    * txt_entropy determinism trick — so both engines fit the identical
    * normal equations, with two double divisions at the very end.
    */
  def zipfFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val c = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val local = Window.partitionBy("salt").orderBy(col("n").desc, col("token").asc)
    val global = Window.partitionBy().orderBy(col("n").desc, col("token").asc)
    val head = c.withColumn("salt", pmod(hash(col("token")), lit(64)))
      .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= VocabTop)
      .withColumn("rank", row_number().over(global)).filter(col("rank") <= VocabTop)
    val x = round(log(col("rank").cast("double")), 8).cast(DecimalType(18, 8))
    val y = round(log(col("n").cast("double")), 8).cast(DecimalType(18, 8))
    val fit = head.select(x.as("x"), y.as("y"))
      .agg(count(lit(1)).as("k"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val slope = (col("k") * col("sxy") - col("sx") * col("sy")).cast("double")
      .divide((col("k") * col("sxx") - col("sx") * col("sx")).cast("double"))
    fit.select(col("k").as("n_tokens"),
        round(slope, 6).as("slope"),
        round((col("sy").cast("double") - slope * col("sx").cast("double"))
          / col("k"), 6).as("intercept"))
  }

  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    // the vocab counts feed BOTH the corpus total and the head extraction —
    // persist so the explode+aggregate scan runs once
    val c = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = broadcast(c.agg(sum("n").as("total")))
    val local = Window.partitionBy("salt").orderBy(col("n").desc, col("token").asc)
    val global = Window.partitionBy().orderBy(col("n").desc, col("token").asc)
    c.withColumn("salt", pmod(hash(col("token")), lit(64)))
      .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= VocabTop)
      .withColumn("rank", row_number().over(global)).filter(col("rank") <= VocabTop)
      .withColumn("cum", sum("n").over(global.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(tot)
      .select(col("token"), col("n"), col("rank"),
        round(col("cum").cast("double") / col("total"), 6).as("cum_share"))
      .orderBy("rank")
      .transform(Dedup.materializeThenRelease(_, c))
  }

  // ------------------------------------------------------ txt_chunk_windows

  private val ChunkWin = 64    // context-window width in tokens
  private val ChunkStride = 48 // window stride (16-token overlap)

  /** Overlapping context-window chunking — the pre-tokenizer slicing op that
    * turns each document into [[ChunkWin]]-token windows advancing by
    * [[ChunkStride]] (so consecutive chunks share ChunkWin − ChunkStride
    * tokens of context, the standard long-document training prep). Every
    * document yields at least one chunk; the last chunk is the (possibly
    * partial) window that reaches the final token. Emits per chunk its
    * token span and an md5 content fingerprint — the join key a chunk-level
    * dedup or index build downstream would use.
    *
    * Scale shape: pure per-row generate inside the scan stage — integer
    * chunk-count arithmetic, one bounded sequence explode, slices of the
    * already-materialized token array; NO shuffle anywhere (the orderBy is
    * presentation-only). At 100 TB this is the ideal operator class: output
    * partitioning inherits input partitioning untouched.
    */
  def chunkWindows(s: SparkSession, dir: String): DataFrame =
    chunkWindowsOf(Tables.documents(s, dir)).orderBy("doc_id", "chunk_id")

  /** The frame-transform core of [[chunkWindows]] — STATELESS per-row
    * generate, so the identical plan runs over a streaming documents
    * source (StreamingSpec pins streaming ≡ batch).
    */
  def chunkWindowsOf(docs: DataFrame): DataFrame = {
    val n = col("n")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      // chunks BEYOND the first: ceil((n − win) / stride) in pure integer
      // arithmetic — `div` keeps both engines in exact integer space
      .withColumn("extra", when(n > ChunkWin,
        expr(s"(n - $ChunkWin + ${ChunkStride - 1}) div $ChunkStride"))
        .otherwise(lit(0)))
      .withColumn("cid", explode(graft.functions.Exprs.boundedSequence(
        lit(0), col("extra"))))
      .withColumn("chunk_id", col("cid").cast("int"))
      .withColumn("start", (col("chunk_id") * ChunkStride).cast("int"))
      .withColumn("chunk_len", least(lit(ChunkWin), n - col("start")).cast("int"))
      .select(col("doc_id"), col("chunk_id"), col("start"), col("chunk_len"),
        md5(concat_ws(" ",
          slice(col("toks"), col("start") + 1, col("chunk_len")))).as("fp"))
  }

  // -------------------------------------------------------- txt_cdc_chunks

  private[graft] val CdcW = 4 // boundary-decision window (tokens)

  /** Content-defined chunking — variable-size chunk boundaries placed where
    * a rolling window hash hits a fixed pattern, the storage/dedup-layer
    * primitive (LBFS/rsync lineage) that [[chunkWindows]]' fixed windows
    * cannot provide: because a boundary depends only on the LOCAL last-
    * [[CdcW]]-token window, inserting or deleting text shifts positions but
    * every chunk past the next surviving boundary re-aligns byte-for-byte —
    * so incremental re-processing and chunk-level dedup stay stable under
    * edits (fixed windows re-cut the whole document). A cut falls after
    * token `pos` when `md5` of the window ending at `pos` starts with hex
    * `'0'` (p = 1/16 → mean chunk ≈ 16 tokens, geometric); the same hex
    * test runs in both engines, so boundaries can never drift.
    *
    * Scale shape: tokenize + posexplode inside the scan stage; the boundary
    * flag is a lag-window over the per-doc partition (parallel across docs
    * — the only shuffle is the doc_id hash partitioning all per-doc text
    * ops pay); chunk ids are an exclusive running sum over the same
    * partition (no second shuffle: same window frame); the per-chunk digest
    * is a hash aggregate on (doc_id, chunk). Nothing scales beyond
    * tokens-per-doc × docs.
    */
  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunksOf(Tables.documents(s, dir)).orderBy("doc_id", "chunk_idx")

  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // window ending at pos = tokens at pos−(CdcW−1) … pos, oldest first
    val windowToks = ((CdcW - 1) to 1 by -1).map(i => lag("t", i).over(w)) :+ col("t")
    // guard pos ≥ CdcW: concat_ws silently drops the NULLs a short lag
    // produces, which would otherwise hash a shorter window near doc start
    val cut = (col("pos") >= CdcW &&
      substring(md5(concat_ws(" ", windowToks: _*)), 1, 1) === "0").cast("int")
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p0", "t")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("t"))
      .withColumn("cut", cut)
      // chunk of token at pos = cuts strictly BEFORE pos (exclusive prefix
      // sum): a cut after pos ends that chunk, the next token starts anew
      .withColumn("chunk", coalesce(
        sum(col("cut")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0)))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(min("pos").cast("long").as("start_pos"),
        count(lit(1)).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("t")))),
          x => x.getField("t")), " ")).as("chunk_hash"))
      .select(col("doc_id"), col("chunk").cast("long").as("chunk_idx"),
        col("start_pos"), col("n_tokens"), col("chunk_hash"))
  }

  /** The [[cdcChunksOf]] pipeline as DuckDB CTEs ending in
    * `chunks(doc_id, chunk_idx, start_pos, n_tokens, chunk_hash)` — shared
    * with the dd_cdc_dedup oracle so the two engines (and the two
    * consumers) cut identical chunks.
    */
  private[graft] def cdcChunksCtesSql: String =
    s"""t AS (
       |  SELECT doc_id, ${graft.OracleSql.toks("lower(text)")} AS toks FROM documents
       |), tok AS (
       |  SELECT doc_id, i AS pos, toks[i::INT] AS t,
       |    CASE WHEN i >= $CdcW AND substr(md5(
       |        array_to_string(list_slice(toks, (i - $CdcW + 1)::INT, i::INT), ' ')
       |      ), 1, 1) = '0' THEN 1 ELSE 0 END AS cut
       |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       |), cid AS (
       |  SELECT doc_id, pos, t, coalesce(sum(cut) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS chunk
       |  FROM tok
       |), chunks AS (
       |  SELECT doc_id, chunk AS chunk_idx, min(pos)::BIGINT AS start_pos,
       |    count(*)::BIGINT AS n_tokens,
       |    md5(string_agg(t, ' ' ORDER BY pos)) AS chunk_hash
       |  FROM cid GROUP BY doc_id, chunk
       |)""".stripMargin

  // -------------------------------------------------------- txt_ppl_bucket

  /** CCNet-style perplexity bucketing — split the corpus into head / middle
    * / tail terciles by LM perplexity (lower ppl = closer to the LM's
    * training distribution = "head"), the quality-stratification step CCNet
    * applies before sampling. Docs too short to score ([[lmPerplexity]]'s
    * NULL-ppl contract) land in an explicit `unscoreable` bucket instead of
    * being dropped or misfiled.
    *
    * Scale shape: the scores are [[lmPerplexity]]'s aggregation; the two
    * tercile cutoffs ride [[graft.ops.Quantiles.exact]]'s bounded-state
    * rank selection (per-doc ppl is near-unique, so an exact `percentile`
    * buffering the full multiset is the r16 verdict's flagged
    * scale-killer) and come back as a 1-row broadcast scalar — no global
    * row_number window, which would funnel the corpus through a single
    * partition at scale.
    */
  def pplBucket(s: SparkSession, dir: String): DataFrame = {
    // scored feeds BOTH the cutoff selection and the bucket join — persist
    // so the bigram-LM training aggregation runs once, not per branch
    val scored = lmPerplexity(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 1/3 and 2/3 as double literals: both engines interpolate index
    // p·(n−1) on identical doubles (parity pinned by q_percentiles)
    val cuts = Quantiles.exact(scored, Seq.empty, "ppl",
      Seq("q33" -> 0.3333333333333333, "q66" -> 0.6666666666666666))
    val out = scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("ppl"),
        when(col("ppl").isNull, "unscoreable")
          .when(col("ppl") <= col("q33"), "head")
          .when(col("ppl") <= col("q66"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
    // Eager since r18: Quantiles.exact now returns its cuts materialized
    // into their own cache, so the query must end with exactly one
    // surviving frame — materialize the (same-row-count) bucketed output
    // and release both the LM-score cache and the 1-row cuts cache.
    graft.ops.Dedup.materializeThenRelease(out, scored, cuts)
  }

  // ------------------------------------------------------- txt_mix_weights

  private[graft] val MixAlpha = 0.3 // temperature exponent (Pile/mT5-style mixing)

  /** Temperature-scaled corpus mixing weights — the sampling-mix op that
    * turns per-(lang, source) token shares into training sampling weights
    * w ∝ share^α (α = [[MixAlpha]]): α < 1 upsamples the tail so
    * low-resource slices aren't drowned by the head. `epochs` = weight /
    * share is the implied per-slice repetition factor.
    *
    * Scale shape: one scan folds the corpus into |lang×source| token
    * counts (map-side partials); everything after operates on that
    * handful of rows with broadcast scalars — driver never sees data.
    * The share^α terms are pre-rounded and summed as exact DECIMAL so the
    * normalizer is order-independent in both engines.
    */
  def mixWeights(s: SparkSession, dir: String): DataFrame = {
    val shared = smoothedShares(Tables.documents(s, dir))
    val z = shared.agg(sum("w8").as("z"))
    val weight = col("w8").cast("double") / col("z").cast("double")
    shared.crossJoin(broadcast(z))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("share"),
        round(weight, 6).as("weight"),
        round(weight / col("share"), 4).as("epochs"))
      .orderBy("lang", "source")
  }

  /** The per-(lang, source) α-smoothed weight frame shared by
    * [[mixWeights]] and the pipe_epoch_plan apportionment: token counts,
    * share rounded to display precision BEFORE pow — so both engines raise
    * the same decimal to [[MixAlpha]]; the only residual cross-engine risk
    * is a 1-ulp libm pow divergence on identical inputs — and the share^α
    * term pre-rounded to an exact DECIMAL(18,8) so downstream sums and
    * integer scalings are order-independent in both engines.
    */
  private[graft] def smoothedShares(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = docs
      .select(col("lang"), col("source"), size(tokens(col("text"))).as("n"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
    val tot = g.agg(sum("n_tokens").as("tot"))
    g.crossJoin(broadcast(tot))
      .withColumn("share",
        round(col("n_tokens").cast("double") / col("tot"), 6))
      .withColumn("w8",
        round(pow(col("share"), lit(MixAlpha)), 8).cast(DecimalType(18, 8)))
  }

  // --------------------------------------------------- txt_weighted_sample

  private val WSampleK = 20 // docs kept per language stratum

  /** Deterministic weighted sampling without replacement (Efraimidis-
    * Spirakis A-ES): per language, keep the [[WSampleK]] docs with the
    * largest u^(1/w) keys — here ranked by the equivalent ln(u)/w — where
    * u is a hash-derived uniform and w = token count, so inclusion
    * probability tracks each doc's share of the token budget. The
    * token-budget-proportional sampler every mix-building pipeline needs
    * one step after [[mixWeights]] decides the per-slice budgets; replayable
    * because u comes from md5(doc_id), not an RNG.
    *
    * Scale shape: keys are per-row expressions on an aggregate-free scan;
    * the per-stratum top-k is the salted two-phase ranking (local top-k per
    * (lang, salt) lane, then a global rank over ≤ 64·k survivors) — never
    * a |corpus| sort pinned onto |langs| window partitions. The ln is
    * pre-rounded to 8 decimals so rank order is engine-stable; remaining
    * ties break on doc_id.
    */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val u = (h + 1).cast("double") / lit(4294967296.0) // (0, 1]
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), size(tokens(col("text"))).as("w"))
      .filter(col("w") > 0)
      .withColumn("skey", round(log(u) / col("w"), 8))
      .withColumn("salt", pmod(col("doc_id"), lit(64)))
    val local = Window.partitionBy("lang", "salt")
      .orderBy(col("skey").desc, col("doc_id").asc)
    val global = Window.partitionBy("lang")
      .orderBy(col("skey").desc, col("doc_id").asc)
    keyed
      .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= WSampleK)
      .withColumn("rnk", row_number().over(global)).filter(col("rnk") <= WSampleK)
      .select(col("lang"), col("rnk"), col("doc_id"), col("w").as("n_tokens"),
        col("skey"))
      .orderBy("lang", "rnk")
  }

  // ------------------------------------------------------------- txt_dsir

  private val DsirBuckets = 256 // hashed-unigram feature space (paper uses 10k)
  private val DsirTargetLang = "en" // the target-domain slice

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * log-importance weights log p_target(x)/p_raw(x) under hashed-unigram
    * bag-of-words models — the principled upgrade over hard language/
    * quality filters: sample training docs ∝ importance instead of
    * keep/drop. Target here = the [[DsirTargetLang]] slice; features =
    * md5-hashed tokens in [[DsirBuckets]] buckets, add-1 smoothed.
    *
    * Scale shape: ONE token explode (persisted — it feeds raw counts,
    * target counts, and per-doc bucket counts); the two distributions
    * reduce to a [[DsirBuckets]]-row broadcast table; the per-doc score is
    * a (doc, bucket)-grouped count joined against that broadcast and
    * DECIMAL-summed — so the only corpus-scale shuffles are the (doc,
    * bucket) partial-agg and the final per-doc fold, both keyed on
    * high-cardinality doc_id. Cross-engine determinism: exact-integer
    * probability inputs → identical double ratio → ln pre-rounded to 8
    * decimals → exact DECIMAL sum (the lm_perplexity regime). Token-less
    * docs emit n_tokens = 0 with null importance (documented contract,
    * same as lm_perplexity).
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("t"))
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long"),
          lit(DsirBuckets.toLong)).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = tok.groupBy("b").agg(count(lit(1)).as("craw"))
    val tgt = tok.filter(col("lang") === DsirTargetLang)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val totals = broadcast(tok.agg(count(lit(1)).as("nraw"),
      count(when(col("lang") === DsirTargetLang, 1)).as("nt")))
    val buckets = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(totals)
      .select(col("b"), round(log(
          ((col("ct") + 1).cast("double") * (col("nraw") + DsirBuckets).cast("double")) /
          ((col("craw") + 1).cast("double") * (col("nt") + DsirBuckets).cast("double"))), 8)
        .cast(DecimalType(18, 8)).as("r8"))
    val scored = tok.groupBy("doc_id", "b").agg(count(lit(1)).as("k"))
      .join(broadcast(buckets), "b")
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("r8") * col("k").cast(DecimalType(18, 0))).as("lw"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("lw").cast("double"), 6).as("log_importance"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("log_importance"))
      .orderBy("doc_id")
      .transform(Dedup.materializeThenRelease(_, tok))
  }

  // ------------------------------------------------------------ txt_bpe_step

  private[graft] val BpeTopK = 50 // reported merge candidates

  /** One BPE/WordPiece tokenizer-training iteration: the most frequent
    * adjacent CHARACTER pairs over the corpus vocabulary, each pair weighted
    * by its word's corpus frequency — exactly the statistic the first merge
    * step of byte-pair encoding (Sennrich et al. 2016, public algorithm)
    * maximizes. Emits the top-[[BpeTopK]] candidate merges with their
    * weighted frequencies, the table a tokenizer trainer consumes per round.
    *
    * Scale shape: the ONLY corpus-scale shuffle is the word-frequency
    * aggregate (map-side partials; the vocabulary is Heaps-sublinear in the
    * corpus). The pair explode runs over VOCAB rows, not corpus rows — the
    * reason production BPE trainers operate on the word-count dictionary —
    * and the distinct-pair space is bounded by |alphabet|², so the final
    * ordering is TakeOrdered over a bounded set, never a corpus sort. No
    * cached frames (single-consumer vocab).
    */
  def bpeStep(s: SparkSession, dir: String): DataFrame =
    bpeStepOf(Tables.documents(s, dir))

  private[graft] def bpeStepOf(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    vocab.filter(length(col("w")) >= 2)
      .select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(1)).as("a"),
        col("w").substr(col("i") + lit(1), lit(1)).as("b"), col("f"))
      .groupBy("a", "b").agg(sum("f").as("pair_count"))
      .orderBy(col("pair_count").desc, col("a").asc, col("b").asc)
      .limit(BpeTopK)
  }

  // ----------------------------------------------------------- txt_bpe_train

  private[graft] val BpeMerges = 10 // training rounds (merges learned)

  /** The full BPE TRAINING LOOP ([[bpeStep]] is one link of it, the
    * sim_kmeans_step → sim_kmeans_train precedent): [[BpeMerges]] rounds of
    * count-pairs → pick the best merge (count desc, then lexicographic —
    * the deterministic tiebreak both engines share byte-for-byte) → APPLY
    * it to the vocabulary → re-count. Emits the learned merge list
    * (step, lhs, rhs, pair_count) — the artifact a BPE tokenizer ships
    * (Sennrich et al. 2016, public algorithm).
    *
    * Vocabulary words are held as symbol sequences framed `{sym}{sym}…`
    * (the ev_pattern delimiter-framing idea); applying a merge is then one
    * codegen'd `replace(ws, '{a}{b}', '{ab}')` whose left-to-right
    * non-overlapping scan IS BPE's greedy merge application — identical in
    * the JVM and DuckDB, proven on `lll` → `{ll}{l}` in the fixture. The
    * brace frame makes partial-symbol matches impossible; the rare token
    * that itself contains a brace is excluded up front (documented
    * contract, mirrored in the oracle).
    *
    * Scale shape: the loop state lives on the DRIVER (the
    * [[graft.ops.Similarity.kmeansTrain]] shape). The ONLY corpus-scale
    * shuffle is the one word-frequency aggregate building the framed
    * vocabulary (map-side partials; vocab is Heaps-sublinear in the
    * corpus), persisted once as the loop-invariant input. Each round is ONE
    * collected aggregate on VOCAB rows — apply the merges learned so far,
    * explode to adjacent pairs, partial-agg, TakeOrdered(1) — and ships
    * kilobytes; its winner joins the driver's merge list and re-enters the
    * next round's plan as two string literals, so every round's plan is
    * the persisted vocabulary plus at most [[BpeMerges]] `replace` calls:
    * linear in K, with no per-round state to checkpoint or release. The
    * vocabulary is released before return and the K-row merge list is a
    * local frame; nothing stays cached.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrainOf(Tables.documents(s, dir))

  /** The shared training loop: the learned merges (step, lhs, rhs,
    * pair_count) in step order. [[bpeTrainOf]] ships them; [[bpeTokenizeOf]]
    * applies them back to the corpus.
    */
  private def bpeMerges(docs: DataFrame): Seq[(Long, String, String, Long)] = {
    val vocab = docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(!col("w").contains("{") && !col("w").contains("}"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(bpeFrame(col("w")).as("ws"), col("f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    while (merges.size < BpeMerges && !exhausted) {
      // a symbol pair splits back at its one space (symbols hold none)
      val top = vocab
        .select(col("f"), explode(Shingles(docs.sparkSession,
          bpeSymbols(bpeApply(col("ws"), merges.toSeq)), 2)).as("p"))
        .select(substring_index(col("p"), " ", 1).as("lhs"),
          substring_index(col("p"), " ", -1).as("rhs"), col("f"))
        .groupBy("lhs", "rhs").agg(sum("f").as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else merges += ((merges.size + 1L, top(0).getString(0), top(0).getString(1),
        top(0).getLong(2)))
    }
    vocab.unpersist(false)
    merges.toSeq
  }

  /** A word as its framed single-character symbol string `{c}{c}…`. */
  private def bpeFrame(w: Column): Column = regexp_replace(w, "(.)", "{$1}")

  /** Applies learned merges to a framed symbol string, in step order. */
  private def bpeApply(ws: Column, merges: Seq[(Long, String, String, Long)]): Column =
    merges.foldLeft(ws) { case (c, (_, l, r, _)) =>
      replace(c, lit(s"{$l}{$r}"), lit(s"{$l$r}"))
    }

  /** A framed symbol string's symbols, in order. */
  private def bpeSymbols(ws: Column): Column =
    split(ws.substr(lit(2), length(ws) - 2), "\\}\\{")

  private[graft] def bpeTrainOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    bpeMerges(docs).toDF("step", "lhs", "rhs", "pair_count")
  }

  // -------------------------------------------------------- txt_bpe_tokenize

  /** The train → APPLY half of the tokenizer story: encode the corpus
    * under the [[bpeTrain]] merge list and report the per-language
    * compression a trainer's budget model consumes — whitespace tokens,
    * BPE tokens after the K merges, characters, BPE-per-word fertility,
    * chars-per-BPE-token.
    *
    * The corpus is never re-scanned per merge: the learned merges are K
    * string-literal pairs, so a word's BPE token count is a row-wise
    * expression of the word itself — frame it, apply the K `replace`
    * calls in step order, count the symbols. Encoding is then one
    * map-side-partial aggregate keyed on (lang, word) (output
    * vocab-sublinear × languages), the per-word symbol count on its rows,
    * and a per-language rollup. Brace-carrying words are excluded from
    * training and statistics alike (the documented contract, mirrored in
    * the oracle).
    *
    * Scale shape: the ONLY corpus-scale shuffle is the (lang, word)
    * aggregate; no join and zero windows. Nothing cached: the training
    * loop releases its vocabulary before the lazy output is built.
    */
  def bpeTokenize(s: SparkSession, dir: String): DataFrame =
    bpeTokenizeOf(Tables.documents(s, dir))

  private[graft] def bpeTokenizeOf(docs: DataFrame): DataFrame = {
    val merges = bpeMerges(docs)
    docs
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .filter(!col("w").contains("{") && !col("w").contains("}"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .select(col("lang"), col("w"), col("c"),
        size(bpeSymbols(bpeApply(bpeFrame(col("w")), merges))).cast("long").as("n_syms"))
      .groupBy("lang")
      .agg(sum("c").as("n_tokens"),
        sum(col("c") * col("n_syms")).as("bpe_tokens"),
        sum(col("c") * length(col("w"))).as("n_chars"))
      .select(col("lang"), col("n_tokens"), col("bpe_tokens"),
        col("n_chars"),
        round(col("bpe_tokens").cast("double") / col("n_tokens"), 4)
          .as("bpe_per_token"),
        round(col("n_chars").cast("double") / col("bpe_tokens"), 4)
          .as("chars_per_bpe"))
      .orderBy("lang")
  }

  // ------------------------------------------------------ txt_unigram_train

  private[graft] val UniPieceMax = 4  // longest candidate piece (chars)
  private[graft] val UniWordMax = 8   // trainable word length cap (documented)
  private[graft] val UniSeedKeep = 44 // multi-char pieces surviving the seed cut
  private[graft] val UniPruneKeep = 24 // multi-char pieces surviving the EM prune

  /** The shared Viterbi-segmentation expression chain — ONE generator emits
    * the (alias, expression) list for BOTH engines (Spark `selectExpr` and
    * the DuckDB oracle's lateral-alias SELECT), so the arithmetic cannot
    * drift token-for-token. The chain is the classic unigram-LM dynamic
    * program (Kudo 2018, SentencePiece — public algorithm), unrolled to
    * the [[UniWordMax]] position bound:
    *
    *   dp[0] = 1;  dp[j] = max over l ≤ [[UniPieceMax]] of
    *               dp[j−l] · p(substring(w, j−l+1, l))
    *
    * then a backtrack of ≤ [[UniWordMax]] steps emitting the argmax path
    * (ties broken toward the LONGEST piece — the CASE probes l descending).
    * Every probability is count/total — ONE double division — and the DP
    * composes them with only `*`, `greatest`, and `=`: no transcendentals,
    * no reordering freedom, so the doubles are bit-identical across
    * engines (the ev_anomaly fixed-expression rule; log-space would hit
    * libm-vs-JDK `ln` divergence). Missing pieces read as 0.0 and every
    * inventory keeps all single characters, so dp[len] > 0 always.
    *
    * `lookup(sub)` renders a map probe (`try_element_at` / `map_extract`),
    * `arrIdx` a 1-based list index, `arrayCtor` a list literal.
    */
  private def uniSegExprs(lookup: String => String,
      arrIdx: (String, String) => String,
      arrayCtor: Seq[String] => String): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    out += ("dp0" -> "CAST(1.0 AS DOUBLE)")
    for (j <- 1 to UniWordMax) {
      val opts = (1 to UniPieceMax).filter(_ <= j).map(l =>
        s"(dp${j - l} * ${lookup(s"substring(w, ${j - l + 1}, $l)")})")
      out += (s"dp$j" ->
        (if (opts.size == 1) opts.head
         else opts.mkString("greatest(", ", ", ")")))
    }
    out += ("dparr" -> arrayCtor((0 to UniWordMax).map(j => s"dp$j")))
    out += ("pos0" -> "CAST(length(w) AS INT)")
    for (k <- 1 to UniWordMax) {
      val pos = s"pos${k - 1}"
      for (l <- 1 to UniPieceMax)
        out += (s"v${k}_$l" ->
          (s"CASE WHEN $pos >= $l THEN " +
            s"${arrIdx("dparr", s"$pos - $l + 1")} * " +
            s"${lookup(s"substring(w, $pos - $l + 1, $l)")} " +
            "ELSE CAST(-1.0 AS DOUBLE) END"))
      out += (s"bk$k" ->
        (1 to UniPieceMax).map(l => s"v${k}_$l")
          .mkString("greatest(", ", ", ")"))
      out += (s"lk$k" ->
        (s"CASE WHEN $pos <= 0 THEN 0 " +
          (UniPieceMax to 1 by -1)
            .map(l => s"WHEN v${k}_$l = bk$k THEN $l").mkString(" ") +
          " ELSE 0 END"))
      out += (s"pc$k" ->
        s"CASE WHEN lk$k > 0 THEN substring(w, $pos - lk$k + 1, lk$k) END")
      out += (s"pos$k" -> s"$pos - lk$k")
    }
    out.result()
  }

  /** Viterbi-segment every vocab word under the piece → probability
    * `model`: returns (w, f, pieces). The ~(|chars| + [[UniSeedKeep]])-entry
    * model enters the plan as one map literal; vocab-scale expression
    * work, zero shuffles.
    *
    * Each chain expression lands in its OWN projection (withColumn), so a
    * reference like `dp7` stays an attribute of the previous layer. A
    * single lateral-alias SELECT would textually inline the recurrence —
    * dp8 expands dp7..dp4, each of those expands four more — an
    * exponentially-sized expression tree that hangs the analyzer (measured:
    * Catalyst walked minutes of TreeNode.exists before this split; the
    * oracle layers its subqueries for the same reason). CollapseProject
    * keeps the layers apart because every dp/pos alias is non-cheap and
    * multiply-referenced.
    */
  private def segmentWords(vocab: DataFrame, model: Map[String, Double]): DataFrame = {
    val pieces = (1 to UniWordMax).map("pc" + _).mkString("array(", ", ", ")")
    var df = vocab.select(col("*"), typedLit(model).as("m"))
    // BATCHED application (r19): every Dataset transformation re-runs the
    // analyzer over the whole accumulated plan, so one withColumn per
    // alias made chain construction quadratic in the ~75-layer DP — the
    // probe showed txt_unigram_fertility spending 4.5 s of driver gap in
    // RuleExecutor with trivial executor time. Aliases that don't
    // reference an alias from their own batch land in ONE select
    // (attribute references to earlier layers stay attributes, so
    // CollapseProject behavior and the evaluated expressions are
    // unchanged — layers still never textually inline the recurrence);
    // dependency detection is a conservative word-boundary name match.
    val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def flush(): Unit = if (batch.nonEmpty) {
      df = df.select(col("*") +: batch.toSeq.map { case (n, e) => expr(e).as(n) }: _*)
      batch.clear()
    }
    uniSegExprs(
      sub => s"coalesce(try_element_at(m, $sub), CAST(0.0 AS DOUBLE))",
      (a, i) => s"try_element_at($a, $i)",
      xs => xs.mkString("array(", ", ", ")"))
      .foreach { case (n, e) =>
        if (batch.exists { case (bn, _) =>
          java.util.regex.Pattern.compile("\\b" + bn + "\\b").matcher(e).find()
        }) flush()
        batch += ((n, e))
      }
    flush()
    df.withColumn("pieces", expr(s"filter($pieces, x -> x IS NOT NULL)"))
      .select("w", "f", "pieces")
  }

  /** Piece table (piece, cnt) → the probability model p = cnt / Σcnt, the
    * single double division per piece. Entries are sorted by piece so the
    * literal, and the plan that carries it, is the same every run.
    */
  private def uniModel(pieces: Seq[(String, Long)]): Map[String, Double] = {
    val t = pieces.map(_._2).sum
    scala.collection.immutable.ListMap(
      pieces.sortBy(_._1).map { case (p, c) => p -> c.toDouble / t }: _*)
  }

  /** The unigram-LM training loop (SentencePiece-style hard-EM + prune —
    * the second real tokenizer family beside [[bpeTrain]]'s merge learner):
    * seed inventory = all substrings of length ≤ [[UniPieceMax]]
    * occurrence-weighted by word frequency, cut to all single chars + the
    * top [[UniSeedKeep]] multi-char (count desc, piece asc — the
    * deterministic tiebreak both engines share); Viterbi-segment the vocab
    * under seed probabilities; re-estimate counts from piece USAGE; prune
    * to all chars (add-one smoothed — the coverage floor SentencePiece
    * guarantees, so no word ever loses its last path) + the top
    * [[UniPruneKeep]] multi-char; re-segment under the pruned model.
    * Hands the final segmentation (w, f, pieces) to `consume` and returns
    * its result; everything the loop persisted is released after it.
    *
    * Scale shape: the loop state lives on the DRIVER (the [[bpeTrain]]
    * shape). The ONLY corpus-scale shuffle is the word-frequency aggregate
    * (map-side partials, vocab Heaps-sublinear), persisted once as the
    * loop-invariant input. Each piece table is ONE collected aggregate of
    * ≤ |chars| + [[UniSeedKeep]] rows — the seed's substring counts
    * (vocab rows exploded ≤ [[UniWordMax]]·[[UniPieceMax]] ways), then the
    * round-1 usage counts in (count desc, piece asc) order, whose
    * multi-char prefix is the prune. The driver sums each table and
    * divides ([[uniModel]]), and the model re-enters the plan as a map
    * literal, so each EM round is vocab-scale expression work with no join
    * and no broadcast. Each segmentation is persisted BEFORE anything
    * explodes it: InferFiltersFromGenerate plants a size(pieces) > 0
    * predicate under the explode, and predicate pushdown would then
    * substitute it down the 70-layer chain — re-inlining the DP recurrence
    * exponentially (the exact blowup the layering exists to prevent).
    * Cached-data substitution happens before optimization, so the cached
    * chain is a plan leaf and the inferred filter stops there. Words
    * longer than [[UniWordMax]] chars are excluded from training and
    * readouts alike (documented contract, mirrored in the oracle).
    */
  private def uniLoop[A](docs: DataFrame)(consume: DataFrame => A): A = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val vocab = docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")).between(1, UniWordMax))
      .groupBy("w").agg(count(lit(1)).as("f")).persist(MEMORY_AND_DISK)
    val subs = vocab
      .select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")))).as("s"))
      .select(col("w"), col("f"), col("s"),
        explode(sequence(lit(1), lit(UniPieceMax))).as("l"))
      .filter(col("s") + col("l") - 1 <= length(col("w")))
      .select(expr("substring(w, s, l)").as("piece"), col("f"))
      .groupBy("piece").agg(sum("f").as("cnt"))
      .select(col("piece"), col("cnt"), length(col("piece")).as("len"))
    def table(df: DataFrame): Seq[(String, Long, Int)] =
      df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val seed = table(subs.filter(col("len") === 1)
      .unionAll(subs.filter(col("len") >= 2)
        .orderBy(col("cnt").desc, col("piece").asc).limit(UniSeedKeep)))
    val seg1 = segmentWords(vocab, uniModel(seed.map(p => (p._1, p._2))))
      .persist(MEMORY_AND_DISK)
    val used = table(seg1
      .select(col("f"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum("f").as("cnt"))
      .orderBy(col("cnt").desc, col("piece").asc)
      .select(col("piece"), col("cnt"), length(col("piece")).as("len")))
    seg1.unpersist(false)
    val uses = used.map(p => p._1 -> p._2).toMap
    val chars = seed.filter(_._3 == 1).map(p => (p._1, uses.getOrElse(p._1, 0L) + 1L))
    val multi = used.filter(_._3 >= 2).take(UniPruneKeep).map(p => (p._1, p._2))
    val seg2 = segmentWords(vocab, uniModel(chars ++ multi)).persist(MEMORY_AND_DISK)
    try consume(seg2)
    finally { seg2.unpersist(false); vocab.unpersist(false) }
  }

  /** Unigram-LM tokenizer training — emits the learned piece inventory
    * (piece, length, usage count under the final model, probability): the
    * artifact a unigram tokenizer ships, the way [[bpeTrain]] ships its
    * merge list. See [[uniLoop]] for the algorithm and scale shape and
    * [[uniSegExprs]] for the cross-engine determinism argument. The final
    * usage counts are one more collected aggregate of the same bounded
    * size; the readout is a local frame, so nothing stays cached.
    */
  def unigramTrain(s: SparkSession, dir: String): DataFrame =
    unigramTrainOf(Tables.documents(s, dir))

  private[graft] def unigramTrainOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val uses = uniLoop(docs)(seg2 => seg2
      .select(col("f"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum("f").as("n_uses"))
      .as[(String, Long)].collect().toSeq)
    val t = uses.map(_._2).sum
    uses.toDF("piece", "n_uses")
      .select(col("piece"), length(col("piece")).cast("int").as("len"),
        col("n_uses"),
        round(col("n_uses").cast("double") / lit(t), 6).as("prob"))
      .orderBy(col("n_uses").desc, col("piece").asc)
  }

  // -------------------------------------------------- txt_unigram_fertility

  /** The unigram tokenizer's fertility readout — [[fertility]]'s
    * per-(lang, source) equity table, but under the TRAINED [[uniLoop]]
    * model instead of the regex piece proxy: pieces per word, characters
    * per piece. The corpus is never re-segmented row by row — the loop's
    * final segmentation already holds every vocabulary word's piece count,
    * so application is a vocab-scale join against one (lang, source, word)
    * aggregate. The output materializes into its own cache before the loop
    * releases the segmentation.
    */
  def unigramFertility(s: SparkSession, dir: String): DataFrame =
    unigramFertilityOf(Tables.documents(s, dir))

  private[graft] def unigramFertilityOf(docs: DataFrame): DataFrame = uniLoop(docs) { seg2 =>
    val np = seg2.select(col("w"), size(col("pieces")).cast("long").as("np"))
    val out = docs
      .select(col("lang"), col("source"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")).between(1, UniWordMax))
      .groupBy("lang", "source", "w").agg(count(lit(1)).as("c"))
      .join(np.hint("shuffle_hash"), "w")
      .groupBy("lang", "source")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("np")).as("n_pieces"),
        sum(col("c") * length(col("w"))).as("n_chars"))
      .select(col("lang"), col("source"), col("n_words"), col("n_pieces"),
        round(col("n_pieces").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_pieces"), 6)
          .as("chars_per_piece"))
      .orderBy("lang", "source")
    Dedup.materializeThenRelease(out)
  }

  // ---------------------------------------------------------- txt_hash_embed

  private[graft] val EmbedDim = 64 // hashing-trick dimensionality

  /** Feature-hashing document vectors (Weinberger et al. 2009's public
    * hashing trick): each token hashes to one of [[EmbedDim]] dimensions, a
    * ±1 sign comes from an independent hash bit, and the document vector is
    * the signed count sum — the cheapest deterministic text embedding, the
    * input a downstream ANN/cluster stage consumes when no learned encoder
    * is available. Emits per document the vector's exact summary statistics
    * — nonzero dimensions, L2 norm, dominant component (argmax |weight|,
    * smaller dimension on ties) — which pin every component's integer value
    * through the norm and the argmax.
    *
    * Scale shape: two hash aggregates keyed on (doc_id, dim) then doc_id —
    * both map-side partial, both on high-cardinality keys, ≤ [[EmbedDim]]
    * rows reach the per-doc fold; zero windows, zero cached frames. The
    * argmax rides a packed-BIGINT ordering key (|w|·EmbedDim + reversed
    * dim — unique per row since dim is unique within a doc), so it is a
    * plain codegen'd max_by, not a struct comparator. dim and sign derive
    * from md5 so both engines hash bit-identically; the L2 norm is one
    * correctly-rounded sqrt of an exact integer.
    */
  def hashEmbed(s: SparkSession, dir: String): DataFrame =
    hashEmbedOf(Tables.documents(s, dir))

  private[graft] def hashEmbedOf(docs: DataFrame): DataFrame = {
    val comps = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), featDim(col("t")).as("dim"),
        featSign(col("t")).as("s"))
      .groupBy("doc_id", "dim").agg(sum("s").as("w"))
      .filter(col("w") =!= 0)
    val key = abs(col("w")) * lit(EmbedDim.toLong) +
      (lit((EmbedDim - 1).toLong) - col("dim"))
    val folded = comps.groupBy("doc_id")
      .agg(count(lit(1)).as("nnz"),
        sum(col("w") * col("w")).as("sq"),
        max_by(col("dim"), key).as("top_dim"),
        max_by(col("w"), key).as("top_w"))
    docs.select("doc_id").join(folded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nnz"), lit(0L)).as("nnz"),
        coalesce(round(sqrt(col("sq").cast("double")), 6), lit(0.0))
          .as("l2_norm"),
        col("top_dim"), col("top_w"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------- txt_classifier_train

  private[graft] val PerceptronRounds = 5

  /** In-engine training of the fastText-style domain classifier (the
    * CCNet / DSIR move: learn to separate a target domain from the general
    * corpus, then use the scores for quality filtering or up-weighting).
    * Features are the [[hashEmbed]] hashing-trick components; the label is
    * the domain indicator (+1 for the `src id % 4 == 0` source slice, −1
    * otherwise — the same deterministic source partitioning the multimodal
    * tier keys its media types on). The learner is the batch PERCEPTRON —
    * [[PerceptronRounds]] rounds of score → collect misclassified → add
    * `Σ y·x` to the weights — chosen over logistic regression deliberately:
    * every update is INTEGER, so the whole training trajectory is exact and
    * cross-engine hash-checkable (a sigmoid would hang engine equality on
    * transcendental rounding). Emits one row per round: mistake count
    * (scored with the PRE-update weights, sign(0) counted as a mistake),
    * then the post-update bias, L1 / squared-L2 weight norms, and the
    * dominant dimension (argmax |w|, smaller dim on ties — the
    * [[hashEmbed]] packed-key ordering).
    *
    * Scale shape: the loop state — [[EmbedDim]] weights and the bias —
    * lives on the DRIVER (the [[bpeTrain]] shape). The labelled feature
    * rows ([[perceptronLoop]]) are built ONCE by one map-side-partial
    * aggregate and persisted. Each round is ONE collected global aggregate
    * over them: the weights enter as a literal array, each document's
    * margin is a native [[graft.functions.ArrayDot]] of its dense feature
    * vector, and the misclassified rows fold into Σ y·x per dimension, Σ y
    * and their count — a single row, whatever the corpus size. The driver
    * applies the update and computes the trace row; the trace is a local
    * frame, so nothing stays cached.
    */
  def classifierTrain(s: SparkSession, dir: String): DataFrame =
    classifierTrainOf(Tables.documents(s, dir))

  /** The hashing-trick feature coordinates shared by training, scoring, and
    * the streaming serving twin: md5-derived dimension and ±1 sign per
    * token (the [[hashEmbed]] convention).
    */
  private[graft] def featDim(t: Column): Column =
    pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
      lit(EmbedDim.toLong))

  private[graft] def featSign(t: Column): Column =
    when(conv(substring(md5(t), 9, 1), 16, 10).cast("long") % 2 === 0,
      lit(1L)).otherwise(lit(-1L))

  /** The batch perceptron: builds the labelled feature rows (doc_id, y,
    * xv) — xv the document's dense [[EmbedDim]]-long hashing-trick vector,
    * y its domain label, one row per document (empty text gives the zero
    * vector) — persists them, runs [[PerceptronRounds]] rounds, and hands
    * the rows, the final weights, the final bias and the per-round trace
    * (round, n_mistakes, bias, w_l1, w_l2sq, top_dim) to `consume`; the
    * rows are released after it returns.
    */
  private def perceptronLoop[A](docs: DataFrame)(
      consume: (DataFrame, Seq[Long], Long, Seq[(Long, Long, Long, Long, Long, Long)]) => A): A = {
    graft.functions.ArrayDot.register(docs.sparkSession)
    val rows = docs
      .select(col("doc_id"),
        when(pmod(substring(col("source"), 4, 10).cast("int"), lit(4)) === 0,
          lit(1L)).otherwise(lit(-1L)).as("y"),
        explode_outer(tokens(col("text"))).as("t"))
      .select(col("doc_id"), col("y"), featDim(col("t")).as("dim"),
        featSign(col("t")).as("s"))
      .groupBy("doc_id", "y")
      .agg(array((0 until EmbedDim).map(d =>
        sum(when(col("dim") === d, col("s")).otherwise(0L))): _*).as("xv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Array.fill(EmbedDim)(0L)
    var bias = 0L
    val trace = (1 to PerceptronRounds).map { round =>
      // mistakes are scored with the PRE-update weights; sign(0) is one
      val fold = rows
        .filter(col("y") * (Similarity.idot(col("xv"), typedLit(w.toSeq)) + bias) <= 0)
        .agg(count(lit(1)), coalesce(sum("y"), lit(0L)) +: (0 until EmbedDim).map(d =>
          coalesce(sum(col("y") * col("xv")(d)), lit(0L))): _*)
        .head()
      for (d <- 0 until EmbedDim) w(d) += fold.getLong(2 + d)
      bias += fold.getLong(1)
      val top = (0 until EmbedDim).maxBy(d => math.abs(w(d)) * EmbedDim + (EmbedDim - 1 - d))
      (round.toLong, fold.getLong(0), bias, w.map(math.abs).sum, w.map(v => v * v).sum,
        top.toLong)
    }
    try consume(rows, w.toSeq, bias, trace)
    finally rows.unpersist(false)
  }

  private[graft] def classifierTrainOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    perceptronLoop(docs)((_, _, _, trace) => trace)
      .toDF("round", "n_mistakes", "bias", "w_l1", "w_l2sq", "top_dim")
  }

  // ----------------------------------------------------- txt_classifier_score

  /** The production half of the classifier pair — [[classifierTrainOf]]'s
    * final weights applied back to every document (the CCNet quality-filter
    * application): per doc the integer margin `Σ w·x + bias`, the predicted
    * domain (`score > 0` → +1; the zero margin scores −1, mirroring
    * training's "sign(0) is a mistake" rule), and the correctness flag
    * against the true source label. Downstream a pipeline thresholds
    * `score` to filter or up-weight — emitting the margin rather than a
    * keep bit keeps the operator composable with any threshold.
    *
    * Scale shape: training state is bounded (≤ [[EmbedDim]] + 1 numbers),
    * so scoring is ONE row-wise native dot product of the loop's persisted
    * feature rows against the literal final weights — no join, no
    * aggregate, no corpus re-tokenize. Feature-less (empty-text) docs hold
    * the zero vector and score bias-only instead of dropping out. The
    * output materializes into its own cache before the feature rows are
    * released.
    */
  def classifierScore(s: SparkSession, dir: String): DataFrame =
    classifierScoreOf(Tables.documents(s, dir))

  private[graft] def classifierScoreOf(docs: DataFrame): DataFrame =
    perceptronLoop(docs) { (rows, w, bias, _) =>
      Dedup.materializeThenRelease(rows
        .select(col("doc_id"), col("y"),
          (Similarity.idot(col("xv"), typedLit(w)) + bias).as("score"))
        .withColumn("pred", when(col("score") > 0, lit(1L)).otherwise(lit(-1L)))
        .withColumn("correct",
          when(col("pred") === col("y"), lit(1L)).otherwise(lit(0L)))
        .orderBy("doc_id"))
    }

  /** The deployable classifier artifact: ONE row carrying the final weight
    * vector as a `map<dim, wv>` plus the bias — what a serving path ships
    * to every executor. Because the dot product distributes over tokens
    * (`Σ_dims w·x ≡ Σ_tokens w[dim(t)]·sign(t)`; zero-sum components
    * contribute zero either way), a scorer holding this row needs NO
    * feature aggregation at all: scoring is a per-row fold, stateless and
    * shuffle-free — the shape [[graft.streaming.Streaming.scoredDocsStreaming]]
    * exploits on the ingest firehose. Both come from the driver's loop
    * state as literals; nothing is cached.
    */
  private[graft] def trainedScorerOf(docs: DataFrame): DataFrame = {
    val (w, bias) = perceptronLoop(docs)((_, w, bias, _) => (w, bias))
    docs.sparkSession.range(1)
      .select(typedLit(w.indices.map(d => d.toLong -> w(d)).toMap).as("wmap"),
        lit(bias).as("bias"))
  }

  // -------------------------------------------------------- txt_heaps_law

  /** Heaps'-law vocabulary-growth curve — the readout that sizes a
    * tokenizer's vocab budget and predicts how much NEW vocabulary the
    * next 10× of corpus will bring: distinct-token count vs cumulative
    * token count at ten doc_id-prefix checkpoints. A token counts toward
    * checkpoint d iff its FIRST occurrence (min doc_id) lands at or below
    * the cut, so the curve is exactly "replay the corpus in doc_id order
    * and watch the vocabulary grow" without any ordered replay.
    *
    * Determinism: cuts are integer arithmetic (`max_id·d div 10`, floor
    * division on non-negatives in both engines); every curve point is an
    * exact BIGINT count; the only double is the type/token ratio, one
    * division per output row.
    *
    * Scale shape: the token explode feeds TWO corpus-collapsing hash
    * aggregates (per-token min doc_id → |vocab| rows; per-doc token count
    * → |docs| rows) — persisted once, released after the plan
    * materializes. Each bounded frame then crosses the broadcast 10-row
    * checkpoint grid (the dd_threshold_sweep shape) into conditional
    * sums; nothing after the explode scales with raw text.
    */
  def heapsLaw(s: SparkSession, dir: String): DataFrame =
    heapsLawOf(Tables.documents(s, dir))

  private[graft] def heapsLawOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_toks"))
    val perTok = toks.groupBy("token").agg(min("doc_id").as("first_doc"))
    val grid = broadcast(docs.sparkSession.range(1, 11)
      .select(col("id").cast("int").as("decile"))
      .crossJoin(broadcast(docs.agg(max("doc_id").as("max_id"))))
      .select(col("decile"), expr("(max_id * decile) div 10").as("cut")))
    val nDocs = docs.select("doc_id").crossJoin(grid)
      .groupBy("decile", "cut")
      .agg(sum(when(col("doc_id") <= col("cut"), 1L).otherwise(0L)).as("n_docs"))
    val cumToks = perDoc.crossJoin(grid)
      .groupBy("decile")
      .agg(sum(when(col("doc_id") <= col("cut"), col("n_toks")).otherwise(0L))
        .as("cum_tokens"))
    val vocab = perTok.crossJoin(grid)
      .groupBy("decile")
      .agg(sum(when(col("first_doc") <= col("cut"), 1L).otherwise(0L))
        .as("vocab"))
    val out = nDocs.join(cumToks, "decile").join(vocab, "decile")
      .select(col("decile"), col("cut").as("cut_doc_id"), col("n_docs"),
        col("cum_tokens"), col("vocab"),
        when(col("cum_tokens") > 0,
          round(col("vocab").cast("double") / col("cum_tokens"), 6))
          .otherwise(lit(null)).as("ttr"))
      .orderBy("decile")
    Dedup.materializeThenRelease(out, toks)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_heaps_law" -> (heapsLaw(_, _)),
    "txt_bpe_step" -> (bpeStep(_, _)),
    "txt_bpe_train" -> (bpeTrain(_, _)),
    "txt_bpe_tokenize" -> (bpeTokenize(_, _)),
    "txt_unigram_train" -> (unigramTrain(_, _)),
    "txt_unigram_fertility" -> (unigramFertility(_, _)),
    "txt_hash_embed" -> (hashEmbed(_, _)),
    "txt_classifier_train" -> (classifierTrain(_, _)),
    "txt_classifier_score" -> (classifierScore(_, _)),
    "txt_dsir" -> (dsirWeights(_, _)),
    "txt_weighted_sample" -> (weightedSample(_, _)),
    "txt_shuffle_shard" -> (shuffleShard(_, _)),
    "txt_lm_perplexity" -> (lmPerplexity(_, _)),
    "txt_kn_perplexity" -> (knPerplexity(_, _)),
    "txt_chunk_windows" -> (chunkWindows(_, _)),
    "txt_cdc_chunks" -> (cdcChunks(_, _)),
    "txt_vocab_coverage" -> (vocabCoverage(_, _)),
    "txt_ppl_bucket" -> (pplBucket(_, _)),
    "txt_mix_weights" -> (mixWeights(_, _)),
    "txt_entropy" -> (entropy(_, _)),
    "txt_distinct_tokens" -> (distinctTokens(_, _)),
    "txt_token_stats" -> (tokenStats(_, _)),
    "txt_term_freq" -> (termFrequency(_, _)),
    "txt_bigrams" -> (topBigrams(_, _)),
    "txt_collocations" -> (collocations(_, _)),
    "txt_zipf" -> (zipfFit(_, _)),
    "txt_quality" -> (qualityScore(_, _)),
    "txt_domain_cap" -> (domainCap(_, _)),
    "txt_langid" -> (languageId(_, _)),
    "txt_langid_confusion" -> (langidConfusion(_, _)),
    "txt_fertility" -> (fertility(_, _)),
    "txt_fingerprint" -> (fingerprints(_, _)),
    "txt_token_count" -> (tokenCount(_, _)),
    "txt_yield_curve" -> (yieldCurve(_, _)),
    "txt_rolling_fp" -> (rollingFingerprint(_, _)),
    "txt_winnowing" -> (winnowing(_, _)),
    "txt_tfidf" -> (tfidf(_, _)),
    "txt_sample_stratified" -> (stratifiedSample(_, _)),
    "txt_pack" -> (packSequences(_, _)),
    "txt_repetition" -> (repetition(_, _)),
    "txt_ngram_novelty" -> (ngramNovelty(_, _)),
    "txt_pii_redact" -> (piiRedact(_, _)),
    "txt_c4_filter" -> (c4Filter(_, _)),
    "txt_blocklist" -> (blocklist(_, _)))

  private val toksSql = graft.OracleSql.toks("lower(text)")

  /** Marker-scored language prediction as a complete SELECT (no terminal
    * ORDER BY) — the SQL twin of [[languageIdOf]], shared by the
    * txt_langid and txt_langid_confusion oracles so the marker sets and
    * the tie chain cannot drift apart.
    */
  private lazy val langidCoreSql =
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    len(list_filter(toks, t -> t IN ('the','a','and','of','is'))) AS score_en,
       |    len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS score_de,
       |    len(list_filter(toks, t -> t IN ('el','los','las','es','y'))) AS score_es,
       |    len(list_filter(toks, t -> t IN ('le','les','est','et','une'))) AS score_fr,
       |    len(list_filter(toks, t -> t IN ('de','shi','le','wo','ni'))) AS score_zh
       |  FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents)
       |)
       |SELECT doc_id, lang,
       |  CASE
       |    WHEN greatest(score_en, score_de, score_es, score_fr, score_zh) = 0 THEN 'und'
       |    WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'en'
       |    WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'de'
       |    WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'es'
       |    WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN 'fr'
       |    ELSE 'zh'
       |  END AS predicted,
       |  predicted = lang AS hit
       |FROM scored""".stripMargin
  private val stopsSql = stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** The txt_lm_perplexity oracle — also the scored-docs CTE the
    * txt_ppl_bucket oracle composes, so the two cannot drift apart.
    */
  private val lmPerplexitySql =
    s"""WITH docs AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents
       |), big AS (
       |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
       |  FROM docs, unnest(range(1, len(toks))) AS r(i)
       |  WHERE len(toks) >= 2
       |), doc_big AS (
       |  SELECT doc_id, bg, count(*) AS k FROM big GROUP BY doc_id, bg
       |), cb AS (
       |  SELECT bg, split_part(bg, ' ', 1) AS w1, count(*) AS cb
       |  FROM big GROUP BY bg
       |), cs AS (
       |  SELECT w1, sum(cb)::BIGINT AS cstart FROM cb GROUP BY w1
       |), vocab AS (
       |  SELECT count(DISTINCT t)::BIGINT AS v
       |  FROM (SELECT unnest(toks) AS t FROM docs)
       |), terms AS (
       |  SELECT doc_id, k,
       |    round(ln((cb + 1)::DOUBLE / (cstart + v)::DOUBLE), 8)::DECIMAL(18,8)
       |      * k::DECIMAL(18,0) AS lnk
       |  FROM doc_big JOIN cb USING (bg) JOIN cs USING (w1), vocab
       |), agg AS (
       |  SELECT doc_id, sum(k)::BIGINT AS n_bigrams, sum(lnk) AS slp
       |  FROM terms GROUP BY doc_id
       |), sc AS (
       |  SELECT doc_id, n_bigrams,
       |    round(slp::DOUBLE / n_bigrams, 6) AS logprob
       |  FROM agg
       |)
       |SELECT d.doc_id, coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
       |  logprob,
       |  round(exp(-logprob), 4) AS ppl
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Unrolled-CTE oracle for [[bpeTrain]] — one (split → pair-zip → top-1 →
    * merge-apply) block per round, the sim_graph_rank unrolled-loop
    * precedent. DuckDB's parallel `unnest` of the two shifted list slices
    * zips adjacent symbols positionally.
    */
  /** The shared unrolled-CTE training chain (v0 … v[[BpeMerges]]), the
    * oracle twin of [[bpeMerges]]; `carryW` threads the original word
    * through the merge rounds for the tokenize oracle's final join.
    */
  private def bpeChainSql(carryW: Boolean): String = {
    val w = if (carryW) "w, " else ""
    val rounds = (1 to BpeMerges).map { r =>
      s"""s$r AS (
         |  SELECT string_split(substr(ws, 2, length(ws) - 2), '}{') AS s, f
         |  FROM v${r - 1}
         |), p$r AS (
         |  SELECT unnest(s[1:len(s)-1]) AS lhs, unnest(s[2:len(s)]) AS rhs, f
         |  FROM s$r WHERE len(s) >= 2
         |), t$r AS (
         |  SELECT lhs, rhs, sum(f)::BIGINT AS pair_count
         |  FROM p$r GROUP BY 1, 2 ORDER BY 3 DESC, 1, 2 LIMIT 1
         |), v$r AS MATERIALIZED (
         |  SELECT ${w}CASE WHEN t.lhs IS NULL THEN ws ELSE
         |    replace(ws, '{' || t.lhs || '}{' || t.rhs || '}',
         |            '{' || t.lhs || t.rhs || '}') END AS ws, f
         |  FROM v${r - 1} LEFT JOIN t$r t ON true
         |)""".stripMargin
    }.mkString(", ")
    s"""v0 AS (
       |  SELECT ${w}regexp_replace(w, '(.)', '{\\1}', 'g') AS ws, f FROM (
       |    SELECT w, count(*)::BIGINT AS f FROM (
       |      SELECT unnest($toksSql) AS w FROM documents
       |    ) WHERE NOT contains(w, '{') AND NOT contains(w, '}')
       |    GROUP BY 1
       |  )
       |), $rounds""".stripMargin
  }

  private def bpeTrainSql: String = {
    val union = (1 to BpeMerges)
      .map(r => s"SELECT $r::BIGINT AS step, lhs, rhs, pair_count FROM t$r")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeChainSql(carryW = false)}
       |SELECT * FROM ($union) ORDER BY step""".stripMargin
  }

  private def bpeTokenizeSql: String =
    s"""WITH ${bpeChainSql(carryW = true)},
       |ns AS (
       |  SELECT w, len(string_split(substr(ws, 2, length(ws) - 2),
       |                             '}{'))::BIGINT AS n_syms
       |  FROM v$BpeMerges
       |), tok AS (
       |  SELECT lang, w, count(*)::BIGINT AS c FROM (
       |    SELECT lang, unnest($toksSql) AS w FROM documents
       |  ) WHERE NOT contains(w, '{') AND NOT contains(w, '}')
       |  GROUP BY 1, 2
       |)
       |SELECT lang, sum(c)::BIGINT AS n_tokens,
       |  sum(c * n_syms)::BIGINT AS bpe_tokens,
       |  sum(c * length(w))::BIGINT AS n_chars,
       |  round(sum(c * n_syms)::DOUBLE / sum(c), 4) AS bpe_per_token,
       |  round(sum(c * length(w))::DOUBLE / sum(c * n_syms), 4) AS chars_per_bpe
       |FROM tok JOIN ns USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Shared oracle core of the unigram-LM pair — the SAME [[uniSegExprs]]
    * generator renders the Viterbi chain here (DuckDB dialect: `[i]` list
    * index, `map_extract(..)[1]` probe, lateral column aliases), so the
    * engine and oracle DPs are token-identical by construction. Ends at
    * `seg2` (w, f, pieces), the final segmentation both readouts consume.
    */
  private def uniCoreSql: String = {
    val pieces = (1 to UniWordMax).map("pc" + _).mkString("[", ", ", "]")
    // One nested-subquery layer per chain expression: alias references
    // bind to REAL columns of the inner layer. Lateral aliases in one
    // SELECT would be textually inlined through the DP recurrence —
    // exponential expression expansion (the segmentWords scaladoc).
    def seg(mapCte: String) = {
      val base = s"SELECT w, f, m FROM vocab CROSS JOIN $mapCte"
      val layered = uniSegExprs(
        sub => s"coalesce(map_extract(m, $sub)[1], CAST(0.0 AS DOUBLE))",
        (a, i) => s"$a[$i]",
        xs => xs.mkString("[", ", ", "]"))
        .foldLeft(base) { case (inner, (n, e)) =>
          s"SELECT *, $e AS $n FROM ($inner)"
        }
      s"""  SELECT w, f, list_filter($pieces, x -> x IS NOT NULL) AS pieces
         |  FROM ($layered)""".stripMargin
    }
    s"""vocab AS (
       |  SELECT w, count(*)::BIGINT AS f
       |  FROM (SELECT unnest($toksSql) AS w FROM documents)
       |  WHERE length(w) BETWEEN 1 AND $UniWordMax
       |  GROUP BY w
       |), subs AS (
       |  SELECT substring(w, s, l) AS piece, CAST(sum(f) AS BIGINT) AS cnt
       |  FROM vocab,
       |    unnest(range(1, length(w) + 1)) AS rs(s),
       |    unnest(range(1, ${UniPieceMax + 1})) AS rl(l)
       |  WHERE s + l - 1 <= length(w)
       |  GROUP BY 1
       |), chars0 AS (
       |  SELECT piece, cnt FROM subs WHERE length(piece) = 1
       |), p0 AS (
       |  SELECT piece, cnt FROM chars0
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM subs WHERE length(piece) >= 2
       |    ORDER BY cnt DESC, piece ASC LIMIT $UniSeedKeep)
       |), m0 AS (
       |  SELECT map_from_entries(list(struct_pack(k := piece,
       |    v := cnt::DOUBLE / t))) AS m
       |  FROM p0, (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM p0)
       |), seg1 AS (
       |${seg("m0")}
       |), c1 AS (
       |  SELECT piece, CAST(sum(f) AS BIGINT) AS cnt
       |  FROM (SELECT f, unnest(pieces) AS piece FROM seg1)
       |  GROUP BY piece
       |), p1 AS (
       |  SELECT chars0.piece, coalesce(c1.cnt, 0) + 1 AS cnt
       |  FROM chars0 LEFT JOIN c1 USING (piece)
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM c1 WHERE length(piece) >= 2
       |    ORDER BY cnt DESC, piece ASC LIMIT $UniPruneKeep)
       |), m1 AS (
       |  SELECT map_from_entries(list(struct_pack(k := piece,
       |    v := cnt::DOUBLE / t))) AS m
       |  FROM p1, (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM p1)
       |), seg2 AS (
       |${seg("m1")}
       |)""".stripMargin
  }

  private def unigramTrainSql: String =
    s"""WITH $uniCoreSql, c2 AS (
       |  SELECT piece, CAST(sum(f) AS BIGINT) AS n_uses
       |  FROM (SELECT f, unnest(pieces) AS piece FROM seg2)
       |  GROUP BY piece
       |)
       |SELECT piece, length(piece)::INT AS len, n_uses,
       |  round(n_uses::DOUBLE / t, 6) AS prob
       |FROM c2, (SELECT CAST(sum(n_uses) AS BIGINT) AS t FROM c2)
       |ORDER BY n_uses DESC, piece ASC""".stripMargin

  private def unigramFertilitySql: String =
    s"""WITH $uniCoreSql, np AS (
       |  SELECT w, len(pieces)::BIGINT AS np FROM seg2
       |), tok AS (
       |  SELECT lang, source, w, count(*)::BIGINT AS c
       |  FROM (SELECT lang, source, unnest($toksSql) AS w FROM documents)
       |  WHERE length(w) BETWEEN 1 AND $UniWordMax
       |  GROUP BY 1, 2, 3
       |)
       |SELECT lang, source, CAST(sum(c) AS BIGINT) AS n_words,
       |  CAST(sum(c * np.np) AS BIGINT) AS n_pieces,
       |  round(sum(c * np.np)::DOUBLE / sum(c), 6) AS fertility,
       |  round(sum(c * length(w))::DOUBLE / sum(c * np.np), 6)
       |    AS chars_per_piece
       |FROM tok JOIN np USING (w)
       |GROUP BY lang, source
       |ORDER BY lang, source""".stripMargin

  /** Unrolled-CTE twin of [[classifierTrainOf]] — one
    * (score → misclassify → bias/weight update → norms) block per round,
    * the [[bpeTrainSql]] / PageRank precedent. Feature hashing is the
    * txt_hash_embed oracle verbatim; every update is integer arithmetic.
    */
  private def classifierTrainSql: String = {
    val D = EmbedDim
    val base =
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS t FROM documents
         |), comps0 AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(t), 1, 8))::BIGINT % $D AS dim,
         |    CAST(sum(CASE WHEN ('0x' || substr(md5(t), 9, 1))::BIGINT % 2 = 0
         |             THEN 1 ELSE -1 END) AS BIGINT) AS x
         |  FROM tok GROUP BY 1, 2
         |), c AS MATERIALIZED (
         |  SELECT * FROM comps0 WHERE x <> 0
         |), lbl AS (
         |  SELECT doc_id,
         |    (CASE WHEN substr(source, 4)::INT % 4 = 0 THEN 1 ELSE -1 END)::BIGINT AS y
         |  FROM documents
         |), w0 AS (
         |  SELECT unnest(range($D))::BIGINT AS dim, 0::BIGINT AS wv
         |), s0 AS (SELECT 0::BIGINT AS bias)""".stripMargin
    val rounds = (1 to PerceptronRounds).map { r =>
      val (pw, ps, m, st, wn) = (s"w${r - 1}", s"s${r - 1}", s"m$r", s"s$r", s"w$r")
      s""", $m AS MATERIALIZED (
         |  SELECT l.doc_id, l.y FROM lbl l
         |  LEFT JOIN (SELECT c.doc_id, sum($pw.wv * c.x) AS dot
         |             FROM c JOIN $pw USING (dim) GROUP BY c.doc_id) s
         |    ON s.doc_id = l.doc_id, $ps
         |  WHERE l.y * (coalesce(s.dot, 0) + $ps.bias) <= 0
         |), $st AS MATERIALIZED (
         |  SELECT ((SELECT bias FROM $ps) + coalesce(sum(y), 0))::BIGINT AS bias,
         |    count(*)::BIGINT AS nm
         |  FROM $m
         |), $wn AS MATERIALIZED (
         |  SELECT $pw.dim, ($pw.wv + coalesce(d.dw, 0))::BIGINT AS wv
         |  FROM $pw LEFT JOIN (SELECT c.dim, sum(m.y * c.x) AS dw
         |                      FROM $m m JOIN c USING (doc_id) GROUP BY c.dim) d
         |    ON d.dim = $pw.dim
         |), t$r AS (
         |  SELECT $r::BIGINT AS round, $st.nm AS n_mistakes, $st.bias AS bias,
         |    (SELECT sum(abs(wv)) FROM $wn)::BIGINT AS w_l1,
         |    (SELECT sum(wv * wv) FROM $wn)::BIGINT AS w_l2sq,
         |    (SELECT dim FROM $wn ORDER BY abs(wv) DESC, dim ASC LIMIT 1) AS top_dim
         |  FROM $st
         |)""".stripMargin
    }.mkString
    val sel = (1 to PerceptronRounds)
      .map(r => s"SELECT * FROM t$r").mkString("\n", "\nUNION ALL ", "")
    base + rounds + sel + "\nORDER BY round"
  }

  /** Scoring twin of [[classifierTrainSql]]: identical unrolled training
    * CTEs, then one final-weights scoring select — the
    * [[classifierScoreOf]] plan restated (zero margin predicts −1).
    */
  private def classifierScoreSql: String = {
    val trainSql = classifierTrainSql
    val ctes = trainSql.substring(0, trainSql.lastIndexOf("\nSELECT * FROM t1"))
    val (fw, fs) = (s"w$PerceptronRounds", s"s$PerceptronRounds")
    ctes +
      s"""
         |SELECT doc_id, y, score,
         |  (CASE WHEN score > 0 THEN 1 ELSE -1 END)::BIGINT AS pred,
         |  (CASE WHEN (CASE WHEN score > 0 THEN 1 ELSE -1 END) = y
         |        THEN 1 ELSE 0 END)::BIGINT AS correct
         |FROM (
         |  SELECT l.doc_id, l.y,
         |    (coalesce(s.dot, 0) + (SELECT bias FROM $fs))::BIGINT AS score
         |  FROM lbl l
         |  LEFT JOIN (SELECT c.doc_id, sum($fw.wv * c.x) AS dot
         |             FROM c JOIN $fw USING (dim) GROUP BY c.doc_id) s
         |    ON s.doc_id = l.doc_id)
         |ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "txt_classifier_train" -> classifierTrainSql,
    "txt_classifier_score" -> classifierScoreSql,
    "txt_bpe_train" -> bpeTrainSql,
    "txt_bpe_tokenize" -> bpeTokenizeSql,
    "txt_unigram_train" -> unigramTrainSql,
    "txt_unigram_fertility" -> unigramFertilitySql,
    "txt_bpe_step" ->
      s"""WITH vocab AS (
         |  SELECT w, count(*) AS f
         |  FROM (SELECT unnest($toksSql) AS w FROM documents) GROUP BY w
         |), pairs AS (
         |  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b,
         |    CAST(sum(f) AS BIGINT) AS pair_count
         |  FROM vocab, unnest(range(1, length(w))) AS r(i)
         |  WHERE length(w) >= 2
         |  GROUP BY 1, 2
         |)
         |SELECT a, b, pair_count FROM pairs
         |ORDER BY pair_count DESC, a ASC, b ASC LIMIT $BpeTopK""".stripMargin,
    "txt_hash_embed" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS t FROM documents
         |), comps0 AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(t), 1, 8))::BIGINT % $EmbedDim AS dim,
         |    CAST(sum(CASE WHEN ('0x' || substr(md5(t), 9, 1))::BIGINT % 2 = 0
         |             THEN 1 ELSE -1 END) AS BIGINT) AS w
         |  FROM tok GROUP BY 1, 2
         |), comps AS (
         |  SELECT * FROM comps0 WHERE w <> 0
         |), folded AS (
         |  SELECT doc_id, count(*) AS nnz,
         |    round(sqrt(CAST(sum(w * w) AS DOUBLE)), 6) AS l2_norm,
         |    arg_max(dim, abs(w) * $EmbedDim + (${EmbedDim - 1} - dim)) AS top_dim,
         |    arg_max(w, abs(w) * $EmbedDim + (${EmbedDim - 1} - dim)) AS top_w
         |  FROM comps GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(nnz, 0) AS nnz,
         |  coalesce(l2_norm, 0.0) AS l2_norm, top_dim, top_w
         |FROM documents d LEFT JOIN folded USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "txt_weighted_sample" ->
      s"""WITH k AS (
         |  SELECT doc_id, lang, len($toksSql)::BIGINT AS n_tokens,
         |    round(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)::DOUBLE
         |      / 4294967296.0) / len($toksSql), 8) AS skey
         |  FROM documents WHERE len($toksSql) > 0
         |), r AS (
         |  SELECT lang, doc_id, n_tokens, skey,
         |    row_number() OVER (PARTITION BY lang ORDER BY skey DESC, doc_id ASC)::INT AS rnk
         |  FROM k
         |)
         |SELECT lang, rnk, doc_id, n_tokens, skey
         |FROM r WHERE rnk <= $WSampleK ORDER BY lang, rnk""".stripMargin,
    "txt_dsir" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, $toksSql AS toks FROM documents
         |), tok AS (
         |  SELECT doc_id, lang,
         |    ('0x' || substr(md5(t), 1, 8))::BIGINT % $DsirBuckets AS b
         |  FROM d, unnest(toks) AS u(t)
         |), raw AS (
         |  SELECT b, count(*) AS craw FROM tok GROUP BY b
         |), tgt AS (
         |  SELECT b, count(*) AS ct FROM tok WHERE lang = '$DsirTargetLang' GROUP BY b
         |), tot AS (
         |  SELECT count(*) AS nraw,
         |    count(CASE WHEN lang = '$DsirTargetLang' THEN 1 END) AS nt
         |  FROM tok
         |), bk AS (
         |  SELECT raw.b,
         |    round(ln(
         |      ((coalesce(ct, 0) + 1)::DOUBLE * (nraw + $DsirBuckets)::DOUBLE) /
         |      ((craw + 1)::DOUBLE * (nt + $DsirBuckets)::DOUBLE)), 8)
         |      ::DECIMAL(18,8) AS r8
         |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
         |), db AS (
         |  SELECT doc_id, b, count(*) AS k FROM tok GROUP BY doc_id, b
         |), sc AS (
         |  SELECT doc_id, sum(k)::BIGINT AS n_tokens,
         |    round(sum(r8 * k::DECIMAL(18,0))::DOUBLE, 6) AS log_importance
         |  FROM db JOIN bk ON db.b = bk.b GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(n_tokens, 0)::BIGINT AS n_tokens,
         |  log_importance
         |FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "txt_shuffle_shard" ->
      s"""WITH k AS (
         |  SELECT doc_id, md5('ep0:' || doc_id::VARCHAR) AS skey FROM documents
         |), s AS (
         |  SELECT doc_id, skey,
         |    ('0x' || substr(skey, 1, 8))::BIGINT % $NShards AS shard
         |  FROM k
         |)
         |SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)::INT AS pos,
         |  skey
         |FROM s ORDER BY doc_id""".stripMargin,
    "txt_lm_perplexity" -> lmPerplexitySql,
    "txt_kn_perplexity" ->
      s"""WITH docs AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), big AS (
         |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
         |  FROM docs, unnest(range(1, len(toks))) AS r(i)
         |  WHERE len(toks) >= 2
         |), doc_big AS (
         |  SELECT doc_id, bg, count(*) AS k FROM big GROUP BY doc_id, bg
         |), cb AS (
         |  SELECT bg, split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         |    count(*) AS cb
         |  FROM big GROUP BY bg
         |), cs AS (
         |  SELECT w1, sum(cb)::BIGINT AS cstart, count(*)::BIGINT AS n1h
         |  FROM cb GROUP BY w1
         |), nc AS (
         |  SELECT w2, count(*)::BIGINT AS n1c FROM cb GROUP BY w2
         |), bt AS (
         |  SELECT count(*)::BIGINT AS bt FROM cb
         |), terms AS (
         |  SELECT doc_id, k,
         |    round(ln((greatest(cb::DOUBLE - ${KnD}e0, 0e0)
         |      + ${KnD}e0 * n1h::DOUBLE * n1c::DOUBLE / bt::DOUBLE)
         |      / cstart::DOUBLE), 8)::DECIMAL(18,8) * k::DECIMAL(18,0) AS lnk
         |  FROM doc_big JOIN cb USING (bg) JOIN cs USING (w1) JOIN nc USING (w2), bt
         |), agg AS (
         |  SELECT doc_id, sum(k)::BIGINT AS n_bigrams, sum(lnk) AS slp
         |  FROM terms GROUP BY doc_id
         |), sc AS (
         |  SELECT doc_id, n_bigrams,
         |    round(slp::DOUBLE / n_bigrams, 6) AS kn_logprob
         |  FROM agg
         |)
         |SELECT d.doc_id, coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
         |  kn_logprob,
         |  round(exp(-kn_logprob), 4) AS kn_ppl
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "txt_chunk_windows" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), p AS (
         |  SELECT doc_id, toks, len(toks)::INT AS n,
         |    CASE WHEN len(toks) > $ChunkWin
         |      THEN ((len(toks) - $ChunkWin + ${ChunkStride - 1}) // $ChunkStride)::INT
         |      ELSE 0 END AS extra
         |  FROM d
         |), c AS (
         |  SELECT doc_id, toks, n, r.i::INT AS chunk_id,
         |    (r.i * $ChunkStride)::INT AS start
         |  FROM p, unnest(range(0, extra + 1)) AS r(i)
         |)
         |SELECT doc_id, chunk_id, start,
         |  least($ChunkWin, n - start)::INT AS chunk_len,
         |  md5(array_to_string(
         |    toks[start + 1 : start + least($ChunkWin, n - start)], ' ')) AS fp
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "txt_cdc_chunks" ->
      s"""WITH $cdcChunksCtesSql
         |SELECT doc_id, chunk_idx, start_pos, n_tokens, chunk_hash
         |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,
    "txt_heaps_law" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents
         |), per_doc AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_toks FROM toks GROUP BY doc_id
         |), per_tok AS (
         |  SELECT token, min(doc_id) AS first_doc FROM toks GROUP BY token
         |), grid AS (
         |  SELECT d::INT AS decile,
         |    ((SELECT max(doc_id) FROM documents) * d) // 10 AS cut
         |  FROM generate_series(1, 10) t(d)
         |), nd AS (
         |  SELECT decile, cut,
         |    sum(CASE WHEN doc_id <= cut THEN 1 ELSE 0 END)::BIGINT AS n_docs
         |  FROM documents, grid GROUP BY decile, cut
         |), ct AS (
         |  SELECT decile,
         |    sum(CASE WHEN doc_id <= cut THEN n_toks ELSE 0 END)::BIGINT
         |      AS cum_tokens
         |  FROM per_doc, grid GROUP BY decile
         |), v AS (
         |  SELECT decile,
         |    sum(CASE WHEN first_doc <= cut THEN 1 ELSE 0 END)::BIGINT AS vocab
         |  FROM per_tok, grid GROUP BY decile
         |)
         |SELECT decile, cut AS cut_doc_id, n_docs, cum_tokens, vocab,
         |  CASE WHEN cum_tokens > 0
         |    THEN round(vocab::DOUBLE / cum_tokens, 6) END AS ttr
         |FROM nd JOIN ct USING (decile) JOIN v USING (decile)
         |ORDER BY decile""".stripMargin,
    "txt_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT unnest($toksSql) AS token FROM documents
         |), c AS (
         |  SELECT token, count(*) AS n FROM tok GROUP BY token
         |), tot AS (
         |  SELECT sum(n)::BIGINT AS total FROM c
         |), r AS (
         |  SELECT token, n,
         |    row_number() OVER (ORDER BY n DESC, token)::INT AS rank,
         |    sum(n) OVER (ORDER BY n DESC, token
         |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
         |  FROM c
         |)
         |SELECT token, n, rank, round(cum::DOUBLE / total, 6) AS cum_share
         |FROM r, tot WHERE rank <= $VocabTop ORDER BY rank""".stripMargin,
    "txt_ppl_bucket" ->
      s"""WITH scored AS (
         |  $lmPerplexitySql
         |), cuts AS (
         |  SELECT quantile_cont(ppl, 0.3333333333333333) AS q33,
         |    quantile_cont(ppl, 0.6666666666666666) AS q66
         |  FROM scored
         |)
         |SELECT doc_id, ppl,
         |  CASE WHEN ppl IS NULL THEN 'unscoreable'
         |    WHEN ppl <= q33 THEN 'head'
         |    WHEN ppl <= q66 THEN 'middle'
         |    ELSE 'tail' END AS bucket
         |FROM scored, cuts ORDER BY doc_id""".stripMargin,
    "txt_mix_weights" ->
      s"""WITH d AS (
         |  SELECT lang, source, len($toksSql)::BIGINT AS n FROM documents
         |), g AS (
         |  SELECT lang, source, count(*) AS n_docs, sum(n)::BIGINT AS n_tokens
         |  FROM d GROUP BY lang, source
         |), t AS (
         |  SELECT sum(n_tokens)::BIGINT AS tot FROM g
         |), sh AS (
         |  SELECT lang, source, n_docs, n_tokens,
         |    round(n_tokens::DOUBLE / tot, 6) AS share,
         |    round(pow(round(n_tokens::DOUBLE / tot, 6), $MixAlpha), 8)::DECIMAL(18,8) AS w8
         |  FROM g, t
         |), z AS (
         |  SELECT sum(w8) AS z FROM sh
         |)
         |SELECT lang, source, n_docs, n_tokens,
         |  share,
         |  round(w8::DOUBLE / z::DOUBLE, 6) AS weight,
         |  round((w8::DOUBLE / z::DOUBLE) / share, 4) AS epochs
         |FROM sh, z ORDER BY lang, source""".stripMargin,
    "txt_entropy" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS t FROM documents
         |), c AS (
         |  SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY doc_id, t
         |), a AS (
         |  SELECT doc_id, sum(cnt)::BIGINT AS n,
         |    sum(round(ln(cnt), 8)::DECIMAL(18,8) * cnt::DECIMAL(18,0)) AS sum_clnc,
         |    sum(cnt * cnt)::BIGINT AS sum_c2
         |  FROM c GROUP BY doc_id
         |)
         |SELECT doc_id, n::INT AS n_tokens,
         |  round(ln(n) - sum_clnc::DOUBLE / n, 6) AS entropy,
         |  round(1.0 - sum_c2::DOUBLE / (n * n), 6) AS simpson
         |FROM a ORDER BY doc_id""".stripMargin,
    "txt_distinct_tokens" ->
      s"""SELECT DISTINCT token FROM (
         |  SELECT unnest($toksSql) AS token FROM documents
         |) ORDER BY token""".stripMargin,
    "txt_token_stats" ->
      s"""SELECT doc_id,
         |  len(toks)::INT AS n_tokens,
         |  len(list_distinct(toks))::INT AS n_distinct,
         |  round(list_sum(list_apply(toks, t -> length(t)))::DOUBLE / len(toks), 4) AS avg_token_len
         |FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "txt_term_freq" ->
      s"""WITH tf AS (
         |  SELECT lang, unnest($toksSql) AS token FROM documents
         |), counted AS (
         |  SELECT lang, token, count(*) AS cnt FROM tf GROUP BY lang, token
         |)
         |SELECT * FROM (
         |  SELECT lang, token, cnt,
         |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC)::INT AS rnk
         |  FROM counted
         |) WHERE rnk <= 20 ORDER BY lang, rnk""".stripMargin,
    "txt_bigrams" ->
      s"""WITH docs AS (SELECT $toksSql AS toks FROM documents),
         |bg AS (
         |  SELECT toks[i] || ' ' || toks[i + 1] AS bigram
         |  FROM docs, unnest(range(1, len(toks))) AS r(i)
         |  WHERE len(toks) >= 2
         |)
         |SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram
         |ORDER BY cnt DESC, bigram ASC LIMIT 100""".stripMargin,
    "txt_collocations" ->
      s"""WITH docs AS (SELECT $toksSql AS toks FROM documents),
         |bg AS (
         |  SELECT toks[i] AS w1, toks[i + 1] AS w2
         |  FROM docs, unnest(range(1, len(toks))) AS r(i)
         |  WHERE len(toks) >= 2
         |), cb AS (
         |  SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2
         |  HAVING count(*) >= $MinColloc
         |), uni AS (
         |  SELECT t, count(*) AS c
         |  FROM (SELECT unnest(toks) AS t FROM docs) GROUP BY t
         |), tot AS (
         |  SELECT (SELECT sum(c) FROM uni) AS nu, (SELECT count(*) FROM bg) AS nb
         |)
         |SELECT w1 || ' ' || w2 AS bigram, cb AS cnt,
         |  round(ln(cb::DOUBLE * nu / nb / u1.c * nu / u2.c), 6) AS pmi
         |FROM cb JOIN uni u1 ON u1.t = w1 JOIN uni u2 ON u2.t = w2, tot
         |ORDER BY pmi DESC, bigram ASC LIMIT 100""".stripMargin,
    "txt_zipf" ->
      s"""WITH c AS (
         |  SELECT t AS token, count(*) AS n
         |  FROM (SELECT unnest(toks) AS t
         |        FROM (SELECT $toksSql AS toks FROM documents))
         |  GROUP BY t
         |), head AS (
         |  SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
         |  FROM c QUALIFY rank <= $VocabTop
         |), p AS (
         |  SELECT round(ln(rank::DOUBLE), 8)::DECIMAL(18,8) AS x,
         |    round(ln(n::DOUBLE), 8)::DECIMAL(18,8) AS y
         |  FROM head
         |), f AS (
         |  SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
         |    sum(x * x) AS sxx, sum(x * y) AS sxy
         |  FROM p
         |)
         |SELECT k AS n_tokens,
         |  round((k * sxy - sx * sy)::DOUBLE / (k * sxx - sx * sx)::DOUBLE, 6) AS slope,
         |  round((sy::DOUBLE - ((k * sxy - sx * sy)::DOUBLE / (k * sxx - sx * sx)::DOUBLE)
         |    * sx::DOUBLE) / k, 6) AS intercept
         |FROM f""".stripMargin,
    "txt_domain_cap" ->
      s"""WITH scored AS (
         |  SELECT doc_id, source,
         |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |      round(least(1.0, len(toks) / 100.0) * 0.4
         |        + round(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1), 4) * 0.4
         |        + (1.0 - round(len(list_filter(toks, t -> length(t) <= 2))::DOUBLE / greatest(len(toks), 1), 4)) * 0.2, 4)
         |    END AS quality
         |  FROM (SELECT doc_id, source, $toksSql AS toks FROM documents)
         |), ranked AS (
         |  SELECT source, doc_id, quality,
         |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC)::INT AS rnk
         |  FROM scored
         |)
         |SELECT source, rnk, doc_id, quality FROM ranked
         |WHERE rnk <= 15 ORDER BY source, rnk""".stripMargin,
    "txt_quality" ->
      s"""SELECT doc_id, n_chars,
         |  len(toks)::INT AS n_tokens,
         |  round(len(list_filter(toks, t -> t IN $stopsSql))::DOUBLE / greatest(len(toks), 1), 4) AS stopword_ratio,
         |  round(len(list_filter(toks, t -> length(t) <= 2))::DOUBLE / greatest(len(toks), 1), 4) AS short_ratio,
         |  round(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1), 4) AS distinct_ratio,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    round(least(1.0, len(toks) / 100.0) * 0.4
         |      + round(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1), 4) * 0.4
         |      + (1.0 - round(len(list_filter(toks, t -> length(t) <= 2))::DOUBLE / greatest(len(toks), 1), 4)) * 0.2, 4)
         |  END AS quality
         |FROM (SELECT doc_id, n_chars, $toksSql AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "txt_langid" -> s"$langidCoreSql ORDER BY doc_id",
    "txt_langid_confusion" ->
      s"""WITH p AS ($langidCoreSql)
         |SELECT lang, predicted, count(*)::BIGINT AS n_docs,
         |  round(count(*)::DOUBLE
         |    / sum(count(*)) OVER (PARTITION BY lang), 6) AS row_share
         |FROM p GROUP BY lang, predicted
         |ORDER BY lang, predicted""".stripMargin,
    "txt_fertility" ->
      s"""WITH n AS (
         |  SELECT lang, source,
         |    len($toksSql)::BIGINT AS nws,
         |    len(regexp_extract_all(lower(text), '$BpePattern'))::BIGINT AS nbpe
         |  FROM documents
         |)
         |SELECT lang, source, count(*)::BIGINT AS n_docs,
         |  sum(nws)::BIGINT AS n_ws_tokens,
         |  sum(nbpe)::BIGINT AS n_bpe_pieces,
         |  CASE WHEN sum(nws) > 0
         |    THEN round(sum(nbpe)::DOUBLE / sum(nws), 6) END AS fertility,
         |  round(sum(nws)::DOUBLE / count(*), 6) AS tokens_per_doc
         |FROM n GROUP BY lang, source
         |ORDER BY lang, source""".stripMargin,
    "txt_fingerprint" ->
      s"""SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same
         |FROM (SELECT doc_id, md5(list_aggregate($toksSql, 'string_agg', ' ')) AS fp FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "txt_token_count" ->
      s"""SELECT doc_id,
         |  len($toksSql)::INT AS n_ws_tokens,
         |  len(regexp_extract_all(lower(text), '$BpePattern'))::INT AS n_bpe_pieces,
         |  CASE WHEN len($toksSql) = 0 THEN NULL
         |    ELSE round(len(regexp_extract_all(lower(text), '$BpePattern'))::DOUBLE
         |      / len($toksSql), 4) END AS pieces_per_token
         |FROM documents ORDER BY doc_id""".stripMargin,
    "txt_yield_curve" ->
      s"""WITH n AS (
         |  SELECT len($toksSql)::BIGINT AS n FROM documents
         |), c AS (
         |  SELECT unnest([${YieldCuts.mkString(", ")}])::BIGINT AS min_tokens
         |), t AS (
         |  SELECT count(*)::BIGINT AS td, sum(n)::BIGINT AS tt FROM n
         |)
         |SELECT min_tokens,
         |  sum(CASE WHEN n.n >= min_tokens THEN 1 ELSE 0 END)::BIGINT AS n_docs,
         |  sum(CASE WHEN n.n >= min_tokens THEN n.n ELSE 0 END)::BIGINT AS n_tokens,
         |  round(sum(CASE WHEN n.n >= min_tokens THEN 1 ELSE 0 END)::DOUBLE
         |    / td, 6) AS doc_yield,
         |  round(sum(CASE WHEN n.n >= min_tokens THEN n.n ELSE 0 END)::DOUBLE
         |    / tt, 6) AS token_yield
         |FROM n, c, t GROUP BY min_tokens, td, tt
         |ORDER BY min_tokens""".stripMargin,
    "txt_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, t AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents)
         |  GROUP BY doc_id, t
         |), df AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), n AS (
         |  SELECT count(*)::DOUBLE AS n FROM documents
         |), ranked AS (
         |  SELECT doc_id, term, tf, df,
         |    tf * (n / df) AS score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tf * (n / df) DESC, term ASC)::INT AS rnk
         |  FROM tf JOIN df USING (term), n
         |)
         |SELECT doc_id, term, tf, df, rnk, round(score, 6) AS tfidf
         |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "txt_sample_stratified" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS u,
         |    CASE WHEN lang = 'en' THEN 0.10::DOUBLE ELSE 0.50::DOUBLE END AS rate
         |  FROM documents
         |)
         |SELECT doc_id, lang, round(u, 6) AS u FROM s
         |WHERE u < rate ORDER BY doc_id""".stripMargin,
    "txt_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, len($toksSql)::INT AS n_tokens,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16 AS shard
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, lang, shard, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum
         |  FROM d
         |)
         |SELECT doc_id, lang, shard, n_tokens,
         |  floor((cum - n_tokens) / 2048.0)::BIGINT AS pack_id
         |FROM c ORDER BY doc_id""".stripMargin,
    "txt_repetition" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), per AS (
         |  SELECT doc_id, len(toks)::INT AS n_tokens,
         |    len(tris)::INT AS n_tri, len(list_distinct(tris))::INT AS n_tri_distinct
         |  FROM (
         |    SELECT doc_id, toks,
         |      list_apply(range(1, greatest(len(toks) - 1, 1)),
         |        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS tris
         |    FROM d
         |  )
         |), top AS (
         |  SELECT doc_id, max(cnt) AS top_cnt FROM (
         |    SELECT doc_id, t, count(*) AS cnt
         |    FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY doc_id, t
         |  ) GROUP BY doc_id
         |), r AS (
         |  SELECT per.doc_id, n_tokens,
         |    round(coalesce(top_cnt, 0)::DOUBLE / greatest(n_tokens, 1), 4) AS top_token_frac,
         |    n_tri,
         |    CASE WHEN n_tri = 0 THEN 0.0
         |      ELSE round(1.0 - n_tri_distinct::DOUBLE / n_tri, 4) END AS dup_trigram_frac
         |  FROM per LEFT JOIN top ON per.doc_id = top.doc_id
         |)
         |SELECT doc_id, n_tokens, top_token_frac, n_tri, dup_trigram_frac,
         |  (top_token_frac > 0.2 OR dup_trigram_frac > 0.3) AS repetitive
         |FROM r ORDER BY doc_id""".stripMargin,
    "txt_ngram_novelty" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), dt AS (
         |  SELECT DISTINCT doc_id, tri FROM (
         |    SELECT doc_id, unnest(list_apply(range(1, greatest(len(toks) - 1, 1)),
         |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS tri
         |    FROM d
         |  )
         |), fd AS (
         |  SELECT tri, min(doc_id) AS first_doc FROM dt GROUP BY tri
         |), nov AS (
         |  SELECT dt.doc_id, count(*) AS n_tri_distinct,
         |    sum(CASE WHEN first_doc = dt.doc_id THEN 1 ELSE 0 END) AS n_novel
         |  FROM dt JOIN fd USING (tri) GROUP BY dt.doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(n_tri_distinct, 0)::INT AS n_tri_distinct,
         |  coalesce(n_novel, 0)::INT AS n_novel,
         |  CASE WHEN coalesce(n_tri_distinct, 0) = 0 THEN NULL
         |    ELSE round(n_novel::DOUBLE / n_tri_distinct, 6) END AS novelty
         |FROM d LEFT JOIN nov ON d.doc_id = nov.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "txt_pii_redact" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(lower(text), '$EmailPat'))::INT AS n_emails,
         |    len(regexp_extract_all(lower(text), '$IpPat'))::INT AS n_ips,
         |    len(regexp_extract_all(lower(text), '$PhonePat'))::INT AS n_phones,
         |    md5(regexp_replace(regexp_replace(regexp_replace(lower(text),
         |      '$EmailPat', '<EMAIL>', 'g'), '$IpPat', '<IP>', 'g'),
         |      '$PhonePat', '<PHONE>', 'g')) AS red_fp
         |  FROM documents
         |)
         |SELECT doc_id, n_emails, n_ips, n_phones, red_fp,
         |  n_emails + n_ips + n_phones AS n_pii
         |FROM f ORDER BY doc_id""".stripMargin,
    "txt_c4_filter" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    len(toks)::INT AS n_tokens,
         |    round(CASE WHEN len(toks) <= 0 THEN 0.0
         |      ELSE list_sum(list_apply(toks, t -> length(t)))::DOUBLE / len(toks) END, 4)
         |      AS mean_token_len,
         |    contains(tx, '{') AS has_brace,
         |    contains(tx, 'javascript') AS has_js,
         |    contains(tx, 'lorem ipsum') AS has_lorem
         |  FROM (SELECT doc_id, lower(text) AS tx, $toksSql AS toks FROM documents)
         |)
         |SELECT doc_id, n_tokens, mean_token_len, has_brace, has_js, has_lorem,
         |  n_tokens < 50 AS too_short,
         |  (mean_token_len < 3.0 OR mean_token_len > 10.0) AS bad_word_len,
         |  (NOT (n_tokens < 50) AND NOT (mean_token_len < 3.0 OR mean_token_len > 10.0)
         |    AND NOT has_brace AND NOT has_js AND NOT has_lorem) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,
    "txt_blocklist" -> {
      val bl = BlockList.map(w => s"'$w'").mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS t FROM documents
         |), f AS (
         |  SELECT doc_id, count(*) FILTER (WHERE t IN ($bl))::BIGINT AS n_flagged
         |  FROM tok GROUP BY doc_id
         |), base AS (
         |  SELECT doc_id, len($toksSql)::INT AS n_tokens FROM documents
         |), d AS (
         |  SELECT base.doc_id, n_tokens,
         |    coalesce(f.n_flagged, 0)::BIGINT AS n_flagged
         |  FROM base LEFT JOIN f USING (doc_id)
         |)
         |SELECT doc_id, n_tokens, n_flagged,
         |  CASE WHEN n_tokens <= 0 THEN 0.0
         |    ELSE round(n_flagged::DOUBLE / n_tokens, 6) END AS flag_density,
         |  (CASE WHEN n_tokens <= 0 THEN 0.0
         |    ELSE round(n_flagged::DOUBLE / n_tokens, 6) END) <= $BlockThr AS keep
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "txt_rolling_fp" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN length(lower(text)) = 0 THEN 0
        |      ELSE list_reduce(
        |        [0::BIGINT] || list_apply(range(length(lower(text))),
        |          i -> ascii(substr(lower(text), (i + 1)::INT, 1))::BIGINT),
        |        (a, b) -> (a * 131 + b) % 2147483647) END AS rh
        |  FROM documents
        |)
        |SELECT doc_id, rh, count(*) OVER (PARTITION BY rh) AS n_same
        |FROM h ORDER BY doc_id""".stripMargin,
    "txt_winnowing" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), s AS (
         |  SELECT doc_id, len(toks) - ${Winnow.K - 1} AS n_sh,
         |    list_apply(range(1, len(toks) - ${Winnow.K - 2}),
         |      i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
         |        || ' ' || toks[i + 3] || ' ' || toks[i + 4]), 1, 8))::BIGINT) AS hs
         |  FROM t WHERE len(toks) >= ${Winnow.K}
         |), k AS (
         |  SELECT doc_id, n_sh,
         |    list_apply(range(1, len(hs) + 1),
         |      i -> (hs[i] << ${Winnow.PosBits}) + (${(1L << Winnow.PosBits) - 1} - (i - 1))) AS keys
         |  FROM s
         |), sel AS (
         |  SELECT doc_id, n_sh,
         |    list_distinct(list_apply(range(1, greatest(len(keys) - ${Winnow.W - 1}, 1) + 1),
         |      i -> list_min(list_slice(keys, i, i + ${Winnow.W - 1})))) AS sels
         |  FROM k
         |)
         |SELECT d.doc_id,
         |  coalesce(sel.n_sh, 0)::BIGINT AS n_shingles,
         |  coalesce(len(sel.sels), 0)::BIGINT AS n_fp,
         |  CASE WHEN sel.n_sh IS NULL THEN 0.0
         |    ELSE round(len(sel.sels)::DOUBLE / sel.n_sh, 4) END AS fp_density,
         |  coalesce(list_sum(list_apply(sel.sels, x -> x >> ${Winnow.PosBits})), 0)::BIGINT
         |    AS fp_checksum
         |FROM documents d LEFT JOIN sel ON d.doc_id = sel.doc_id
         |ORDER BY d.doc_id""".stripMargin)
}
