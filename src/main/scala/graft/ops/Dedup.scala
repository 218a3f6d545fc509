package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryModule, Tables}
import graft.functions.Shingles

/** Deduplication battery over `documents` (+ `embeddings` for vector
  * near-dup) — the headline LLM-pretraining-pipeline operators (SURVEY §7.2
  * step 5).
  *
  * Five families, all pure Catalyst expressions (no UDFs, codegen'd per-row
  * work) and all banded/blocked — never an all-pairs crossJoin:
  *
  *  - exact:      md5 token-stream fingerprint → deterministic winner per
  *                group (min doc_id), mirroring the reference's last-wins
  *                merge dedup (/root/reference/src/mapreduce/master.go:107)
  *                but with a *defined* winner (see SURVEY §7.4 on the
  *                reference's Go-map nondeterminism).
  *  - MinHash+LSH: 3-token shingles → 12 universal min-hashes from one md5
  *                per shingle → 4 bands × 3 → band-equality self-join →
  *                exact Jaccard verify ≥ 0.8.
  *  - SimHash:    32-bit signature from per-token md5 bit votes.
  *  - n-gram Jaccard: char-4-gram sets, blocked by (lang, length bucket),
  *                PPJoin prefix-filtered candidates, Jaccard verify ≥ 0.6.
  *  - embedding:  random-hyperplane LSH ([[Similarity.bandedWithBits]]:
  *                band width log-scaled with corpus size, skewed buckets
  *                re-split at a population cap) → cosine verify.
  *
  * Determinism contract: every hash is md5 (identical in Spark and DuckDB),
  * every "random" hyperplane derives from md5 parity at object init
  * ([[Similarity.hyperplanes]]), and all pair outputs are
  * (small_id, large_id)-oriented — so each query has an exact DuckDB oracle.
  */
object Dedup extends QueryModule {

  // ---------------------------------------------------------------- params
  private val NumHashes = 12 // MinHash signature length
  private val Bands = 4 //  × rows-per-band 3; s-curve midpoint ≈ 0.63
  private val RowsPerBand = NumHashes / Bands
  private[graft] val JaccardT = 0.8
  private val GramJaccardT = 0.6
  private val CosT = 0.4 // verify threshold; real pipelines use ~0.9 — the
  //                        synthetic fixture has no cluster structure, so a
  //                        lower cut keeps the verify path exercised.

  // ------------------------------------------------------------ primitives

  private[graft] def toks: Column = TextOps.tokens(col("text"))

  /** The null-guarded md5 token-stream fingerprint over a projected `toks`
    * column — THE exact fingerprint every exact tier shares. Empty docs
    * fingerprint to NULL (not md5 of ""), matching the oracle's
    * string_agg-of-empty-list NULL, so equality joins drop them while
    * window partitioning groups them — both engines agree on both. `<= 0`
    * also covers NULL text, where size() returns -1 under legacy
    * sizeOfNull. `toks` is its own projection: HOFs get no CSE, so the
    * double reference inside the guard would otherwise tokenize every row
    * twice.
    */
  private[graft] def fpExpr: Column =
    when(size(col("toks")) <= 0, lit(null))
      .otherwise(md5(concat_ws(" ", col("toks")))).as("fp")

  /** docs(doc_id, text, …) → (doc_id, fp) via [[fpExpr]] — shared by
    * exactDedup, leakageSplit, incrementalDedup, neardupIngest and
    * txt_fingerprint; the streaming twins use [[fpExpr]] directly, to
    * keep `text` for the shingle branch or an arrival time beside it.
    */
  private[graft] def fingerprinted(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), fpExpr)

  /** docs → (doc_id, carry..., sh: distinct [[TriK]]-token shingle array).
    * Docs shorter than TriK tokens have no shingle and are excluded from
    * dedup output by contract.
    */
  private[graft] def shingledOf(documents: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    documents
      .select(keep :+ array_distinct(Shingles(documents.sparkSession, toks, TriK)).as("sh"): _*)
      .filter(size(col("sh")) > 0)
  }

  // ------------------------------------------------------------ dd_exact

  /** Exact dedup: one deterministic winner (min doc_id) per token-stream
    * fingerprint; dup_cnt reports group size. Hash-groupBy shape — the fp is
    * high-cardinality, so the window partitioning is skew-free at any scale.
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    // toks materialized as its own projection first: HOFs get no common-
    // subexpression elimination, so referencing `toks` twice inside the
    // null-guard expression would run the split+filter 2× per row (and
    // CollapseProject keeps the two selects apart — the expression is not
    // "cheap", so it is not re-inlined).
    val fp = fingerprinted(Tables.documents(s, dir))
    val w = Window.partitionBy("fp")
    fp.withColumn("rnk", row_number().over(w.orderBy("doc_id")))
      .withColumn("dup_cnt", count(lit(1)).over(w))
      .filter(col("rnk") === 1)
      .select("doc_id", "fp", "dup_cnt")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ dd_bow_dedup

  /** Bag-of-words (word-order-invariant) dedup — the cheap tier BETWEEN
    * exact dedup and MinHash: fingerprint the SORTED token multiset, so
    * two documents that differ only by word order (scraper-side sentence
    * reshuffles, templated reorderings) collapse into one group that byte-
    * exact dedup misses, at exact-dedup cost — no shingles, no bands, no
    * verify join. Output is the [[exactDedup]] keep-list shape: one
    * deterministic winner (min doc_id) per bag-of-words group with its
    * dup_cnt; `n_exact_variants` counts distinct byte-level variants
    * inside the group, and `reorder_only` marks the groups pure exact
    * dedup would NOT have fully collapsed — the rows this tier earns.
    *
    * Scale shape: one per-row projection (sort ≤ doc-length tokens
    * in-place, md5) then ONE hash groupBy on the high-cardinality
    * fingerprint — map-side partial, skew-free, the dd_exact shape. The
    * distinct-variant count is bounded per group by the group's size.
    * Empty docs fingerprint to NULL and are dropped, like every exact
    * tier.
    */
  def bowDedup(s: SparkSession, dir: String): DataFrame =
    bowDedupOf(Tables.documents(s, dir))

  private[graft] def bowDedupOf(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), fpExpr,
        when(size(col("toks")) <= 0, lit(null))
          .otherwise(md5(concat_ws(" ", array_sort(col("toks")))))
          .as("bow_fp"))
      .filter(col("bow_fp").isNotNull)
      .groupBy("bow_fp")
      .agg(min("doc_id").as("doc_id"),
        count(lit(1)).as("dup_cnt"),
        countDistinct(col("fp")).as("n_exact_variants"))
      .select(col("doc_id"), col("bow_fp"), col("dup_cnt"),
        col("n_exact_variants"),
        (col("n_exact_variants") >= 2).as("reorder_only"))
      .orderBy("doc_id")

  // ---------------------------------------------------- dd_leakage_split

  /** Leakage-free train/val/test split — the eval-hygiene op every
    * training pipeline needs: a document's split is decided by hashing its
    * exact-dedup FINGERPRINT (not its doc_id), so every member of an
    * exact-duplicate group lands in the same split and a training document
    * can never leak a verbatim copy into val/test. Buckets 0-79 → train,
    * 80-89 → val, 90-99 → test, from the fingerprint's first 8 hex digits
    * (md5 — identical in both engines). Empty documents fingerprint to
    * NULL and fall through to `test` together — still leak-free, since
    * they form one group by construction.
    *
    * Scale shape: ZERO shuffles — the assignment is a per-row codegen'd
    * projection (dup-group agreement is by construction: equal fingerprints
    * hash equally), so at 100 TB this is a single scan; the terminal
    * orderBy is presentation-only for the harness compare.
    */
  def leakageSplit(s: SparkSession, dir: String): DataFrame =
    leakageSplitOf(Tables.documents(s, dir))

  /** The split core over an explicit (doc_id, text) frame — factored for
    * the OpsSpec property test over random corpora with injected dups.
    */
  private[graft] def leakageSplitOf(docs: DataFrame): DataFrame = {
    val bucket = conv(substring(col("fp"), 1, 8), 16, 10).cast("long") % 100
    fingerprinted(docs)
      .select(col("doc_id"), col("fp"),
        when(bucket < 80, lit("train"))
          .when(bucket < 90, lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ dd_incremental

  /** Incremental-batch dedup — the daily-crawl shape: classify an incoming
    * batch against an existing corpus snapshot WITHOUT re-deduping the
    * snapshot. Fixture split: even doc_ids are the snapshot, odd doc_ids the
    * batch. Each batch doc gets a status: `dup_corpus` (its fingerprint is
    * already in the snapshot), `dup_batch` (an earlier batch doc — smaller
    * doc_id — carries the same fingerprint), else `new`.
    *
    * Scale shape: the snapshot side reduces to DISTINCT 32-byte fingerprints
    * before the join (snapshot text is never reshipped — at 100 TB the
    * fingerprint set is the only state carried between pipeline runs); the
    * batch-internal winner is a row_number window over the high-cardinality
    * fingerprint (skew-free); the corpus check is a fingerprint equi-join.
    * Empty docs fingerprint to NULL: both engines group NULLs together in
    * the window (first empty batch doc is `new`, later ones `dup_batch`)
    * and drop them from the equality join — identical classification.
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame =
    incrementalDedupOf(Tables.documents(s, dir))

  private[graft] def incrementalDedupOf(docs: DataFrame): DataFrame = {
    val fp = fingerprinted(docs)
    val snap = fp.filter(col("doc_id") % 2 === 0)
      .select(col("fp").as("snap_fp")).distinct()
    fp.filter(col("doc_id") % 2 === 1)
      .withColumn("rnk", row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .join(snap, col("fp") === col("snap_fp"), "left")
      .withColumn("status",
        when(col("snap_fp").isNotNull, lit("dup_corpus"))
          .when(col("rnk") > 1, lit("dup_batch"))
          .otherwise(lit("new")))
      .select(col("doc_id"), col("fp"), col("status"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- dd_neardup_ingest

  /** Incremental NEAR-dup ingest — [[incrementalDedup]]'s missing tier.
    * The daily-crawl shape again (snapshot = even doc_ids, batch = odd),
    * but a batch doc that exactly matches nothing may still be a near-
    * duplicate of the corpus; classifying that at ingest time is how a
    * production pipeline avoids re-deduping 100 TB per day. Status, by
    * precedence: `dup_corpus` (exact fingerprint already in the snapshot)
    * > `dup_batch` (an earlier batch doc — smaller doc_id — carries the
    * same fingerprint) > `neardup_corpus` (shares a MinHash band with a
    * snapshot doc AND exact shingle Jaccard ≥ [[JaccardT]]; `best_jac`
    * reports the max verified Jaccard) > `new`. Near-dup is checked
    * batch×snapshot only — in-batch near-dups are [[minhashNearDup]]'s
    * job when the batch is folded in.
    *
    * Scale shape: the snapshot side reduces to its DISTINCT fingerprint
    * set and its (b_idx, band) table — the persisted ingest index; at
    * 100 TB those ARE the artifacts carried between runs, never the
    * snapshot text. Only batch docs surviving the exact tiers (rnk = 1,
    * no corpus fp hit) enter the band join — the near tier is the
    * expensive one, so the cheap exact tiers prune it. Candidates come
    * ONLY from the (b_idx, band) equi-join; shingle arrays cross the
    * shuffle once per candidate (shuffle-hash, no sort). One persisted
    * shingle frame feeds bands and both verify sides, released once the
    * classification materializes.
    */
  def neardupIngest(s: SparkSession, dir: String): DataFrame =
    neardupIngestOf(Tables.documents(s, dir))

  private[graft] def neardupIngestOf(docs: DataFrame): DataFrame = {
    val fp = fingerprinted(docs)
    val snapFp = fp.filter(col("doc_id") % 2 === 0)
      .select(col("fp").as("snap_fp")).distinct()
    // persisted: the exact-tier frame has two consumers (the shBatch
    // survivor prune and the final status join) — un-persisted, the
    // tokenize + md5 + window-shuffle subtree would run twice
    val exact = fp.filter(col("doc_id") % 2 === 1)
      .withColumn("rnk", row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .join(snapFp, col("fp") === col("snap_fp"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val sh = shingledOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shSnap = sh.filter(col("doc_id") % 2 === 0)
    // only exact-tier survivors pay the band join (semantics-free prune:
    // the status CASE would mask their near verdict anyway)
    val shBatch = sh.filter(col("doc_id") % 2 === 1)
      .join(exact.filter(col("rnk") === 1 && col("snap_fp").isNull)
        .select(col("doc_id")), "doc_id")
    val cand = bandLong(shBatch).as("a")
      .join(bandLong(shSnap).as("b"),
        col("a.b_idx") === col("b.b_idx") && col("a.band") === col("b.band"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("snap_id"))
      .dropDuplicates("doc_id", "snap_id")
    val near = cand
      .join(shBatch.select(col("doc_id"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "doc_id")
      .join(shSnap.select(col("doc_id").as("snap_id"), col("sh").as("sh_s"))
        .hint("shuffle_hash"), "snap_id")
      .withColumn("inter", size(array_intersect(col("sh_b"), col("sh_s"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sh_b")) + size(col("sh_s")) - col("inter")))
      .filter(col("jac") >= JaccardT)
      .groupBy("doc_id").agg(max(col("jac")).as("best_jac"))

    val out = exact.join(near.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("status",
        when(col("snap_fp").isNotNull, lit("dup_corpus"))
          .when(col("rnk") > 1, lit("dup_batch"))
          .when(col("best_jac").isNotNull, lit("neardup_corpus"))
          .otherwise(lit("new")))
      .select(col("doc_id"), col("fp"), col("status"),
        when(col("status") === "neardup_corpus", round(col("best_jac"), 4))
          .as("best_jac"))
      .orderBy("doc_id")
    materializeThenRelease(out, sh, exact)
  }

  // ---------------------------------------------------------- dd_neardup

  /** Universal-hash multipliers for the MinHash family: h_i(x) = (a_i·w1 +
    * b_i·w2) mod P over two 32-bit words of ONE md5 per shingle — 12 hashes
    * for the price of one digest (the naive per-seed md5 costs 12× the
    * digests and dominated the bench). Constants are small enough that
    * a_i·w1 + b_i·w2 < 2^48 — exact in BIGINT in both engines.
    */
  private val HashP = 2147483647L // 2^31 - 1
  private val HashA = (0 until NumHashes).map(i => 2 * i + 3L)
  private val HashB = (0 until NumHashes).map(i => 2 * i + 101L)

  /** One md5 per shingle → (w1, w2) word pairs. Materialized as its own
    * column BEFORE the 12 h_i projections: higher-order functions are not
    * subexpression-eliminated, so embedding this in each h_i would run the
    * digests 12×.
    */
  private def shingleWords: Column = transform(col("sh"), x => {
    val d = md5(x)
    struct(conv(substring(d, 1, 8), 16, 10).cast("long").as("w1"),
      conv(substring(d, 9, 8), 16, 10).cast("long").as("w2"))
  })

  /** MinHash signature columns h0..h11 from the materialized word pairs:
    * each h_i is the min universal hash over the shingle set — exact
    * integer arithmetic, identical in DuckDB.
    */
  private def sigCols: Seq[Column] =
    (0 until NumHashes).map { i =>
      array_min(transform(col("words"),
        s => pmod(lit(HashA(i)) * s.getField("w1") + lit(HashB(i)) * s.getField("w2"), lit(HashP))))
        .as(s"h$i")
    }

  private def bandCols: Seq[Column] =
    (0 until Bands).map { b =>
      val hs = (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}"))
      md5(concat_ws("|", hs: _*)).as(s"b$b")
    }

  /** (doc_id, carry..., b_idx, band) MinHash band rows from a shingled
    * frame — the shared candidate-generation core of [[minhashNearDup]] and
    * [[decontaminate]].
    */
  private[graft] def bandLong(sh: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    sh.withColumn("words", shingleWords)
      .select(keep ++ sigCols: _*)
      .select(keep ++ bandCols: _*)
      .select(keep :+ explode(array(
        (0 until Bands).map(b =>
          struct(lit(b).as("b_idx"), col(s"b$b").as("band"))): _*)).as("e"): _*)
      .select(keep :+ col("e.b_idx").as("b_idx") :+ col("e.band").as("band"): _*)
  }

  /** Verified MinHash near-dup pairs (doc_a < doc_b, Jaccard ≥ [[JaccardT]])
    * — the shared core of [[minhashNearDup]] and [[cluster]]. Candidates
    * come ONLY from band-hash equality (an equi-join on (band_idx,
    * band_hash) — shuffle-partitioned, no all-pairs work); the shingle
    * arrays are re-joined by id afterwards so they cross the shuffle once
    * per verified candidate, not once per band row.
    */
  /** Distinct LSH candidate pairs (doc_a < doc_b) from a shingled frame —
    * the band equi-join shared by the Jaccard and edit-distance verifiers.
    */
  private def lshCandidates(sh: DataFrame): DataFrame = {
    val lng = bandLong(sh)
    lng.as("a").join(lng.as("b"),
        col("a.b_idx") === col("b.b_idx") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Materialize `out` into its own cache (one count populates it), then
    * release the given upstream caches — the graphRankFullOf
    * materialize-then-release pattern as a one-liner. Every entry-point
    * query uses it so the session never holds more than the query's own
    * bounded result after it returns (CacheCleanupSpec pins this);
    * recompute of an evicted partition re-runs the un-cached upstream
    * pipeline via lineage, which stays intact for all non-checkpoint
    * inputs.
    */
  private[ops] def materializeThenRelease(
      out: DataFrame, release: DataFrame*): DataFrame = {
    val fin = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fin.count()
    release.foreach(_.unpersist(false))
    fin
  }

  /** Rows per partition of an iterative frame: 4 M narrow two-long rows
    * ≈ 128 MB, inside the guide's 100 MB–1 GB sizing.
    */
  private val RowsPerPartition = 1L << 22

  /** Scale-ADAPTIVE partition count for an iterative frame of `rows` known
    * rows (guide §2): one partition per [[RowsPerPartition]] rows, floor 1,
    * no upper cap. Derived from a MEASURED count instead of a core count
    * tuned for either local mode or a cluster: a 50-pair dedup graph at
    * sf0.1 collapses to single-task loop stages (the fixed 32-way shuffle
    * of it was pure scheduling overhead — AQE cannot help because
    * `parallelismFirst` keeps post-shuffle partitions at core count, and
    * cached-plan partitioning is pinned anyway), while a 10¹²-edge graph
    * at 100 TB gets ~250 k partitions of ~128 MB.
    */
  private[graft] def adaptiveParts(rows: Long): Int =
    math.max(1L, (rows + RowsPerPartition - 1) / RowsPerPartition)
      .min(Int.MaxValue.toLong).toInt

  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsAbove(s, dir, JaccardT)

  /** Banded candidates verified by exact Jaccard, kept at `jac >= minJac`
    * — [[minhashPairs]] at the production [[JaccardT]]; [[thresholdSweep]]
    * at the sweep grid's floor.
    */
  private def minhashPairsAbove(s: SparkSession, dir: String,
      minJac: Double): DataFrame = {
    // sh feeds the signature path AND both verify sides — persist to avoid
    // re-tokenizing/re-shingling three times (the ngramJaccard lesson).
    val sh = shingledOf(Tables.documents(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = lshCandidates(sh)
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "doc_b")
      // |A∪B| = |A| + |B| − |A∩B| (arrays are distinct) — one array op
      // per pair instead of two.
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jac") >= minJac)
      .select(col("doc_a"), col("doc_b"), col("jac"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize the (bounded, verified) pair list, then release the full
    // shingle frame: every consumer now reads one small InMemoryRelation
    // and the corpus-sized sh cache does not outlive the query — at 100 TB
    // a leaked shingle cache is the executor memory the NEXT query needed
    // (the graphRankFullOf materialize-then-release pattern; recompute of
    // an evicted pairs partition re-runs the un-cached shingle pipeline
    // via lineage, which stays intact).
    pairs.count()
    sh.unpersist(false)
    pairs
  }

  /** Near-dup pairs via MinHash-LSH banding + exact Jaccard verify. */
  def minhashNearDup(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  // ------------------------------------------------------ dd_threshold_sweep

  /** Candidate Jaccard thresholds for [[thresholdSweep]] — the range real
    * near-dup deployments tune in (C4/RefinedWeb-era pipelines sit at
    * 0.7–0.9).
    */
  private[graft] val SweepTs = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Near-dup threshold sweep — the diagnostic that SETS [[JaccardT]], the
    * way txt_yield_curve sets the length cut and ev_gap_audit the session
    * gap: for every candidate threshold, the verified pair count and the
    * docs with at least one SMALLER-ID near-dup neighbor at the cut (the
    * pairwise keep-min rule; a full connected-components keep-min — see
    * [[cluster]] — can drop slightly more, via docs reached only through
    * larger-id neighbors, so this column is the cheap per-threshold lower
    * bound, not the transitive drop count). A curator reads
    * the curve once instead of re-running the dedup per candidate; the
    * knee (pairs exploding as t drops) is where near-dup stops being
    * duplication and starts eating genuine variation.
    *
    * Scale shape: ONE banded-candidate + verify pass at the grid's FLOOR
    * (the sweep adds nothing corpus-scale beyond what dd_neardup already
    * pays — candidates are banded, never all-pairs), then the bounded
    * verified-pair frame crossed with the broadcast 5-row grid and rolled
    * up by threshold (the txt_yield_curve one-pass shape, keyed instead of
    * stacked because the dropped-doc count needs a per-threshold
    * distinct).
    */
  def thresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = minhashPairsAbove(s, dir, SweepTs.min)
    val grid = SweepTs.toDF("threshold")
    val out = pairs.crossJoin(broadcast(grid))
      .groupBy("threshold")
      .agg(
        sum(when(col("jac") >= col("threshold"), 1L).otherwise(0L))
          .as("n_pairs"),
        countDistinct(when(col("jac") >= col("threshold"), col("doc_b")))
          .as("n_dropped_docs"))
      .orderBy("threshold")
    materializeThenRelease(out, pairs)
  }

  // ------------------------------------------------------- dd_lsh_recall

  /** Recall audit of the MinHash-LSH candidate generator against exact
    * ground truth — the dedup-family twin of sim_recall_at_k /
    * sim_recall_ivfpq: every approximate path in this engine ships with a
    * measured-recall query. Truth is ALL pairs with shingle Jaccard ≥
    * [[JaccardT]], found losslessly by PPJoin prefix filtering (any
    * qualifying pair must share one of each doc's `n − ⌈t·n⌉ + 1` rarest
    * shingles — pigeonhole, so the truth side is exact, not another
    * approximation); found is the production banded path ([[lshCandidates]]
    * + the same exact-Jaccard verify), a subset of truth by construction.
    * Output: one row (n_true, n_found, recall). The expected recall is the
    * banding s-curve itself — 1 − (1 − t^r)^b ≈ 0.94 at t = 0.8 with
    * r = 3, b = 4 — so this query is the dial-reading for the
    * bands-vs-candidates trade dd_neardup's scaladoc describes.
    *
    * Scale shape: both sides are equi-joins (band keys / rare-prefix
    * shingles), never all-pairs; ONE shingle build feeds LSH banding, both
    * verify sides, and the truth prefix — persisted and released once the
    * 1-row audit materializes. Everything is deterministic integer/md5
    * arithmetic, so the oracle reproduces the identical recall.
    */
  def lshRecall(s: SparkSession, dir: String): DataFrame =
    lshRecallOf(Tables.documents(s, dir))

  /** [[lshRecall]] over an explicit documents frame (needs `doc_id`,
    * `text`) — factored out so the truth side's candidate-prune
    * losslessness can be property-tested against exhaustive all-pairs
    * shingle Jaccard on random corpora.
    */
  private[graft] def lshRecallOf(documents: DataFrame): DataFrame = {
    val sh0 = shingledOf(documents).withColumn("n", size(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def verify(cand: DataFrame): DataFrame = cand
      .join(sh0.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n").as("na")).hint("shuffle_hash"), "doc_a")
      .join(sh0.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n").as("nb")).hint("shuffle_hash"), "doc_b")
      .filter(least(col("na"), col("nb")) >= lit(JaccardT) * greatest(col("na"), col("nb")))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jac", col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= JaccardT)
      .select("doc_a", "doc_b")
    val ex = sh0.select(col("doc_id"), col("n"), explode(col("sh")).as("g"))
    val prefix = ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("g").asc)))
      .filter(col("pos") <= col("n") - ceil(col("n") * lit(JaccardT)) + 1)
      .select("doc_id", "g", "pos", "n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Same three lossless candidate prunes as [[ngramJaccard]] (size
    // ratio / positional / prefix-overlap + suffix), at the 0.8 shingle
    // bar: J ≥ 4/5 ⟺ 9·inter ≥ 4·(na+nb), all exact BIGINT — a float
    // ceil could round one unit high at an exact-boundary pair and prune
    // what the verify's double compare (which admits exactly J = t)
    // accepts. Truth must stay LOSSLESS. No filter before the aggregate:
    // cnt must count every witness to stay an exact |Sa∩Sb|.
    def kOf(n: Column): Column = n - ceil(n * lit(JaccardT)) + 1
    val truthCand = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (least(col("a.pos"), col("b.pos")) +
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))).as("ub"),
        col("a.n").as("pna"), col("b.n").as("pnb"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("cnt"),
        min("ub").as("ub"), min("pna").as("pna"), min("pnb").as("pnb"))
      .filter(least(col("pna"), col("pnb")) * 5 >= greatest(col("pna"), col("pnb")) * 4 &&
        col("ub") * 9 >= (col("pna") + col("pnb")) * 4 &&
        (col("cnt") + greatest(col("pna") - kOf(col("pna")),
          col("pnb") - kOf(col("pnb")))) * 9 >= (col("pna") + col("pnb")) * 4)
      .select("doc_a", "doc_b")
    val out = verify(truthCand).agg(count(lit(1)).as("n_true"))
      .crossJoin(verify(lshCandidates(sh0)).agg(count(lit(1)).as("n_found")))
      // empty-truth guard: recall over zero qualifying pairs is vacuously
      // perfect (1.0), never NULL/inf — Spark's non-ANSI divide and
      // DuckDB's version-dependent x/0 would otherwise diverge here
      .select(col("n_true"), col("n_found"),
        when(col("n_true") === 0, lit(1.0))
          .otherwise(round(col("n_found").cast("double") / col("n_true"), 4))
          .as("recall"))
    materializeThenRelease(out, sh0, prefix)
  }

  // ------------------------------------------------------- dd_edit_verify

  private val EditSimT = 0.8 // normalized edit-similarity acceptance bar

  /** The character-exact verifier: the same MinHash-LSH candidate pairs,
    * accepted by normalized Levenshtein similarity
    * (1 − lev / max(|a|, |b|)) instead of shingle Jaccard. Where Jaccard is
    * blind to token ORDER (a shuffled paragraph can clear it), edit
    * similarity is not — this is the verifier to use when near-dup removal
    * must not collapse reordered quotations or templated boilerplate with
    * swapped slots.
    *
    * Scale shape: candidates stay the banded equi-join (never all-pairs);
    * the O(|a|·|b|) Levenshtein DP runs only on the |candidates|-bounded
    * pair list with both texts joined back by id — the classic
    * cheap-filter / expensive-verify split, with the quadratic step pinned
    * to the bounded side. levenshtein() is a codegen'd builtin in both
    * engines with identical unit-cost DP semantics.
    */
  def editVerify(s: SparkSession, dir: String): DataFrame =
    editVerifyOf(Tables.documents(s, dir))

  private[graft] def editVerifyOf(documents: DataFrame): DataFrame = {
    val sh = shingledOf(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docs = documents.select(col("doc_id"), col("text"))
    // Banded DP: sim ≥ 0.8 needs lev ≤ max/5, so cap the Levenshtein at
    // thr = ⌊max/5⌋+1 (exact integer; the +1 margin covers the double
    // compare's admission of the exact boundary). Spark's thresholded
    // levenshtein walks an O(thr·n) diagonal band instead of the O(n²)
    // full DP — a 5× CPU cut per surviving pair — and returns −1 past the
    // cap, which the final double filter would reject anyway (lev > thr ⇒
    // sim < 0.8 − 1/max). Accepted pairs see the identical exact distance,
    // so oracle parity is untouched. The |la−lb| > thr prune skips the DP
    // entirely for length-mismatched candidates: lev ≥ |la−lb| always.
    val out = lshCandidates(sh)
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta"))
        .hint("shuffle_hash"), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb"))
        .hint("shuffle_hash"), "doc_b")
      .withColumn("thr",
        (greatest(length(col("ta")), length(col("tb"))) / 5).cast("int") + 1)
      .filter(abs(length(col("ta")) - length(col("tb"))) <= col("thr"))
      .withColumn("lev", expr("levenshtein(ta, tb, thr)"))
      .filter(col("lev") >= 0)
      .withColumn("sim", lit(1.0) - col("lev").cast("double")
        / greatest(length(col("ta")), length(col("tb"))))
      .filter(col("sim") >= EditSimT)
      .select(col("doc_a"), col("doc_b"), col("lev").cast("long").as("lev"),
        round(col("sim"), 4).as("edit_sim"))
      .orderBy("doc_a", "doc_b")
    materializeThenRelease(out, sh)
  }

  // ---------------------------------------------------------- dd_cluster

  /** Duplicate CLUSTERS from the verified near-dup PAIRS — the step a real
    * dedup pipeline needs between pair detection and document removal:
    * transitively group pairs into connected components and elect one
    * canonical doc (the component's min doc_id) per cluster.
    * [[labelPropagate]] carries the algorithm; the driver-side loop only
    * *schedules* jobs (one count per round for the convergence check) —
    * all data stays distributed.
    */
  def cluster(s: SparkSession, dir: String): DataFrame = clusterWithRelease(s, dir)._1

  /** [[cluster]] plus an explicit release hook for the one cache it leaves
    * behind (the materialized label table the returned plan reads). The
    * pair cache is released here as soon as [[labelPropagate]] has
    * materialized its labels — after that point nothing re-reads pairs.
    * Consumers that materialize their OWN bounded output (clusterStats,
    * survivors, pipe_corpus) call the hook so each query leaves ≤1 cached
    * frame in the session (CacheCleanupSpec pins this).
    */
  private[graft] def clusterWithRelease(
      s: SparkSession, dir: String): (DataFrame, () => Unit) = {
    val pairs = minhashPairs(s, dir) // materialized + cached, sh released
    val (labels, _, cleanupLabels) = labelPropagate(pairs.select("doc_a", "doc_b"))
    pairs.unpersist(false) // labels materialized — pairs has no reader left
    val df = labels
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("label")))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
    // the hook drops the label cache AND the final round's (reliable-mode)
    // checkpoint files — the deferred deletion labelPropagate documents
    (df, () => { cleanupLabels(); () })
  }

  /** Duplicate-distribution histogram — the corpus-health summary a dedup
    * run reports: how many clusters of each size exist and how many
    * documents they hold, with every unclustered document counted as a
    * size-1 "cluster". n_docs sums to the corpus size, so the table reads
    * directly as "X % of the corpus is duplicated at multiplicity k".
    *
    * Scale shape: reuses [[cluster]]'s distributed components, folds them
    * to |clusters| rows, then to |distinct sizes| rows — each step a
    * map-side-partial hash aggregate strictly smaller than the last; the
    * two corpus scalars ride 1-row broadcasts.
    */
  def clusterStats(s: SparkSession, dir: String): DataFrame = {
    val (cl, release) = clusterWithRelease(s, dir)
    val hist = cl.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
    val nTotal = broadcast(Tables.documents(s, dir).agg(count(lit(1)).as("n_total")))
    val nIn = broadcast(cl.agg(count(lit(1)).as("n_in")))
    val singles = nTotal.crossJoin(nIn)
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_in")).as("n_clusters"),
        (col("n_total") - col("n_in")).as("n_docs"))
    // |distinct sizes|-row output: materialize it, release the label cache.
    val out = hist.unionAll(singles)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    release()
    out.orderBy("cluster_size")
  }

  /** Min-label connected components with POINTER DOUBLING, over an
    * undirected pair list `(doc_a, doc_b)`. Returns (labels(node, label),
    * rounds-to-converge).
    *
    * Each round does two monotone steps:
    *  1. neighbor min — every node takes `min(own, neighbors')` (equi-join
    *     on dst + groupBy src + join back, all shuffle-partitioned on
    *     high-cardinality ids);
    *  2. pointer jump — `label ← label[label]` (one self-equi-join on the
    *     label value). Labels are always node ids, so the indirection is
    *     total; jumping halves the remaining label-chain depth, cutting
    *     rounds from O(diameter) to O(log diameter) — the hop-doubling
    *     idea of Kiveris et al., "Connected Components in MapReduce and
    *     Beyond" (SOCC'14, public literature).
    *
    * LSH dedup components are near-cliques and converge in 2–3 rounds
    * either way; the jump is what keeps adversarial long chains (a 1000-doc
    * plagiarism chain) from needing 1000 barriers. Both steps only ever
    * LOWER labels toward the component minimum, so the fixpoint — nobody
    * changes — is exactly "every node holds its component's min id".
    */
  private[graft] def labelPropagate(
      pairs: DataFrame): (DataFrame, Int, () => Unit) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // both directions in ONE pass over the (unpersisted, expensive) pairs
    // pipeline — a self-union would execute it once per branch.
    // Repartitioned by dst BEFORE the persist (r18, guide §2.4): every
    // round's neighbor-min join keys edges on dst, so the cached
    // partitioning satisfies the join's distribution and the edge frame —
    // the loop's biggest side — is shuffled ONCE for the whole
    // convergence instead of once per round; only the (smaller) label
    // table moves each round.
    // Partition count derived from the MEASURED pair count (r19, guide §2
    // scale-adaptive partitioning): callers pass an already-materialized
    // pair cache, so the count is one cheap cached job; 2·|pairs| directed
    // edges then land at ~128 MB/partition at any scale — single-task loop
    // stages on a 50-pair sf0.1 graph, ~250 k partitions at a 10¹²-edge
    // 100 TB graph. The old fixed spark.sql.shuffle.partitions layout made
    // every per-round stage a core-count-wide fan of near-empty tasks.
    val edgeParts = adaptiveParts(2L * pairs.count())
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(edgeParts, col("dst"))
      .persist(MEMORY_AND_DISK)
    // Eager checkpoint per ITERATION (= two fused rounds since r18):
    // materializes the labels AND truncates plan lineage to a LogicalRDD.
    // Without it each round's plan embeds the previous round's TWICE
    // (stepped feeds both sides of the jump join) — exponential plan
    // growth that OOMs the driver around round 8.
    // The previous iteration's checkpoint is released explicitly once the
    // next is materialized (catalog.clearCache can't see checkpoint
    // state, and waiting for the ContextCleaner would let one full
    // label-table copy per round accumulate on a long convergence).
    //
    // TWO checkpoint modes, selected by `spark.graft.checkpointDir`:
    //  - unset (default, right for local[n]): localCheckpoint — blocks in
    //    executor storage memory, fastest, but lineage-truncated state
    //    dies with an executor;
    //  - set to a cluster-visible path (HDFS/S3): reliable checkpoint() to
    //    that store — each round's label table survives executor churn,
    //    the fault-tolerance story a 1000-executor, hours-long convergence
    //    needs. Superseded rounds' checkpoint FILES are deleted as soon as
    //    the next round lands, so store usage stays O(1 round), and on a
    //    shared store each query writes under its own UUID subdir
    //    (setCheckpointDir semantics), so concurrent queries never collide.
    val spark = pairs.sparkSession
    val reliableDir =
      spark.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty)
    reliableDir.foreach(d => spark.sparkContext.setCheckpointDir(d))
    def materialize(df: DataFrame): DataFrame =
      if (reliableDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
    // Releases the checkpoint blocks `df` reads — a localCheckpoint or
    // checkpoint is an RDD-level cache that `unpersist` on the frame and
    // `catalog.clearCache` never see — and returns those RDDs, whose
    // reliable-checkpoint files (if any) outlive the blocks.
    def releaseCheckpoint(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] = {
      val rdds = df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      rdds.foreach(_.unpersist(false))
      rdds
    }
    def deleteFiles(rdds: Seq[org.apache.spark.rdd.RDD[_]]): Unit =
      rdds.foreach(_.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      })
    // superseded rounds: blocks AND files go eagerly (O(1 round) store)
    def release(df: DataFrame): Unit = deleteFiles(releaseCheckpoint(df))
    // One monotone round (neighbor-min + pointer jump); `old_label` rides
    // through untouched so the caller can fuse several rounds into one
    // lineage and still test convergence against the iteration's START.
    def round(lab: DataFrame): DataFrame = {
      val viaNbr = edges
        .join(lab.select(col("node").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("node")).agg(min("label").as("nbr_label"))
      val stepped = lab.join(viaNbr, Seq("node"), "left")
        .select(col("node"), col("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("mid"))
      // node → mid mapping, re-keyed so joining on v.mid yields mid[mid[v]]
      val ptr = stepped.select(col("node").as("ptr_node"), col("mid").as("ptr_label"))
      stepped.join(ptr, stepped("mid") === ptr("ptr_node"), "left")
        .select(col("node"), col("old_label"),
          least(col("mid"), coalesce(col("ptr_label"), col("mid"))).as("label"))
    }
    // Initial labels carry the FIRST neighbor-min for free (r19): instead
    // of materializing the identity labeling (node, node) and paying a
    // full iteration to fold neighbors in, the init aggregate — one
    // map-side-partial groupBy over the cached edges, no costlier than the
    // DISTINCT it replaces — starts every node at min(node, min neighbor).
    // Monotone label propagation from any labeling that is (a) a node id
    // in the same component and (b) ≥ the component min converges to the
    // identical fixpoint, so the output is bit-identical; LSH near-clique
    // components now converge one full iteration (checkpoint + convergence
    // count + two rounds of joins) earlier.
    var chk = materialize(edges.groupBy("src").agg(min("dst").as("nd"))
      .select(col("src").as("node"), least(col("src"), col("nd")).as("label")))
    var labels = chk
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      // TWO rounds per barrier (r18): the per-round checkpoint+count pair
      // was the dominant term of dd_cluster's local-cluster dispatch tax
      // (+4.6 s, the r17 verdict's largest cluster delta) — labels only
      // ever DECREASE, so convergence checked every second round is the
      // same fixpoint, reached with half the barriers at the cost of at
      // most one no-op round of joins. The mid-iteration frame is a plain
      // persist, not a checkpoint: it bounds plan growth and intra-
      // iteration recompute while keeping its lineage rooted at the
      // previous checkpoint, so the reliable-mode recovery story (an
      // executor death mid-iteration replays from the last durable round)
      // is unchanged — OpsSpec's block-loss tests pin both modes.
      rounds += 2
      val r1 = round(labels.select(col("node"), col("label").as("old_label"),
          col("label")))
        .persist(MEMORY_AND_DISK)
      val next = materialize(round(r1)
        .select(col("node"), col("label"),
          (col("label") < col("old_label")).as("chg")))
      changed = next.filter(col("chg")).count() // next materialized, THEN...
      release(chk) // ...last round's blocks / checkpoint files go
      r1.unpersist(false)
      chk = next
      labels = next.select("node", "label")
    }
    // Materialize the converged label table into a regular cache, then
    // release the edge frame and the final round's checkpoint BLOCKS: the
    // returned plan reads ONE n-row InMemoryRelation and nothing
    // corpus-scale stays pinned (catalog.clearCache cannot see checkpoint
    // blocks — only this explicit unpersist reclaims them before the
    // ContextCleaner gets around to it).
    //
    // The final round's checkpoint FILES are NOT deleted here. In local
    // mode there are none (localCheckpoint is block-only, and fin's
    // recompute path dying with executor storage is that mode's documented
    // caveat). In reliable mode those files are the durable recompute path
    // behind fin — deleting them before consumers have materialized their
    // own outputs would strand fin as bare executor blocks on exactly the
    // clusters the mode exists for (an executor loss after return turns
    // into an unrecoverable FileNotFound). Deletion is deferred to the
    // returned cleanup hook, which consumers (clusterWithRelease et al.)
    // call once nothing reads the label table anymore; a standalone query
    // that never calls it leaves the one O(n)-file durable copy for the
    // store owner / session teardown — durability, not a leak.
    val fin = labels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fin.count()
    val finalRdds = releaseCheckpoint(chk)
    edges.unpersist(false)
    val cleanup = () => { fin.unpersist(false); deleteFiles(finalRdds); () }
    (fin, rounds, cleanup)
  }

  // ---------------------------------------------------------- dd_survivors

  /** THE dedup pipeline's terminal output: the keep-list. One canonical doc
    * per near-dup cluster (the component's min doc_id, [[cluster]]'s
    * winner) plus every document that matched no near-dup pair, each with
    * the number of documents it stands for. `sum(n_merged)` = corpus size —
    * the keep-list plus its merge counts is exactly the information a
    * downstream training run needs (what to read, and how to re-weight if
    * duplicates carry signal).
    *
    * Scale shape: [[cluster]]'s label propagation plus one left-anti join
    * of the corpus ids against the (much smaller) clustered-node set —
    * shuffle on high-cardinality doc_id, and at scale AQE broadcasts the
    * clustered side.
    */
  def survivors(s: SparkSession, dir: String): DataFrame = {
    // standalone query: materialize the keep-list, THEN release the label
    // cache (the lazy frame reads it; its checkpoint lineage is truncated,
    // so the release must come after the copy-out)
    val (df, release) = survivorsWithRelease(s, dir)
    val out = materializeThenRelease(df)
    release()
    out
  }

  /** [[survivors]] as a LAZY frame plus the hook releasing the label cache
    * underneath — see [[clusterWithRelease]]. Lazy since r19: the label
    * table is already materialized inside [[labelPropagate]], and every
    * consumer (the standalone write, the pipe_* single joins) reads the
    * keep-list exactly once, so the former eager persist+count here was a
    * pure extra barrier with no reuse to amortize it. Callers materialize
    * their own output BEFORE invoking the hook.
    */
  private[graft] def survivorsWithRelease(
      s: SparkSession, dir: String): (DataFrame, () => Unit) = {
    val (cl, release) = clusterWithRelease(s, dir)
    val winners = cl.filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("cluster_size").as("n_merged"))
    val singles = Tables.documents(s, dir).select("doc_id")
      .join(cl.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(1L).as("n_merged"))
    (winners.union(singles).orderBy("doc_id"), release)
  }

  // ---------------------------------------------- dd_decontaminate

  /** Benchmark sources for [[decontaminate]] — the held-out eval corpus a
    * pretraining pipeline must scrub from its training split.
    */
  private[ops] val BenchSources = (0 until 5).map(i => s"src$i")

  /** Benchmark decontamination: training documents (source ∉ BenchSources)
    * that near-duplicate ANY benchmark document (MinHash band equality →
    * exact Jaccard ≥ [[JaccardT]] verify) are flagged with their match
    * count and strongest match. Candidates come only from the band
    * equi-join of the (large) training side against the (small) benchmark
    * side — at scale the benchmark bands are the natural broadcast side,
    * and the training corpus never self-joins.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = shingledOf(Tables.documents(s, dir), carry = Seq("source"))
      .withColumn("is_bench", col("source").isin(BenchSources: _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lng = bandLong(sh, carry = Seq("is_bench"))
    val cand = lng.filter(!col("is_bench")).as("t")
      .join(lng.filter(col("is_bench")).as("b"),
        col("t.b_idx") === col("b.b_idx") && col("t.band") === col("b.band"))
      .select(col("t.doc_id").as("doc_id"), col("b.doc_id").as("bench_id"))
      .dropDuplicates("doc_id", "bench_id")
    val out = cand
      .join(sh.select(col("doc_id"), col("sh").as("sh_t"))
        .hint("shuffle_hash"), "doc_id")
      .join(sh.select(col("doc_id").as("bench_id"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "bench_id")
      .withColumn("inter", size(array_intersect(col("sh_t"), col("sh_b"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sh_t")) + size(col("sh_b")) - col("inter")))
      .filter(col("jac") >= JaccardT)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_matches"),
        round(max(col("jac")), 4).as("max_jaccard"))
      .orderBy("doc_id")
    materializeThenRelease(out, sh)
  }

  // ---------------------------------------------------------- dd_simhash

  /** 32-bit SimHash per document. Bit j votes +1/−1 by the low bit of hex
    * digit j of each token's md5 (every occurrence votes); the signature is
    * the sign vector of the summed votes.
    *
    * Relational formulation instead of a per-row array fold: explode →
    * count per (doc, token) → ONE md5 per distinct pair, weighted by the
    * count → 32 codegen'd conditional sums under a hash aggregate. The
    * naive fold is interpreted HOF code over every token occurrence
    * (~9M × 32 lambda evals at sf0.1); this shape pays one digest per
    * distinct (doc, token) and keeps the voting inside WholeStageCodegen
    * with map-side partial aggregation.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    val counted = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5(col("t")))
    val votes = (0 until 32).map { j =>
      sum(when(substring(col("h"), j + 1, 1).isInCollection(oddHex), col("cnt"))
        .otherwise(-col("cnt"))).as(s"v$j")
    }
    counted
      .groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        concat((0 until 32).map(j =>
          when(col(s"v$j") >= 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------- dd_ngram_jaccard

  /** Character-4-gram Jaccard near-dup, blocked by (lang, 16-char length
    * bucket): candidate pairs only form inside a block. (Near-dups of very
    * different length can't score high Jaccard anyway; boundary-straddlers
    * are the documented recall tradeoff of single-bucket blocking.)
    *
    * Within a block, candidates come from PREFIX FILTERING (AllPairs/PPJoin,
    * Xiao et al., WWW'08 — public literature): order each doc's grams by
    * block-local (document frequency asc, gram asc) and keep only the first
    * `n − ceil(t·n) + 1` as its prefix; any pair with Jaccard ≥ t must share
    * a prefix gram (pigeonhole), so the equi-join on (block, gram) over
    * prefixes finds every true pair while generating ~rare-gram-df²
    * candidates instead of the block's full pair quadratic. The exact
    * intersect then verifies. Result set is IDENTICAL to blocked all-pairs
    * (the oracle still computes that form) — only the candidate generation
    * is subquadratic.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NgramHashes.register(s)
    ngramJaccardOf(Tables.documents(s, dir))
  }

  /** [[ngramJaccard]] over an explicit documents frame (needs `doc_id`,
    * `lang`, `text`, `n_chars`; `ngram_hashes` must be registered on the
    * owning session) — factored out so the candidate-prune losslessness
    * can be property-tested against blocked all-pairs on random corpora.
    */
  private[graft] def ngramJaccardOf(documents: DataFrame): DataFrame = {
    // The bk-only prefix cache partitioning is a SUBSET of the self-join's
    // (bk, gram) keys; Spark rejects subset-key co-partitioning for joins
    // by default (spark.sql.requireAllClusterKeysForCoPartition) and would
    // re-shuffle BOTH cached sides (measured at the r18 factor-100 probe:
    // 2 × 483 MB back). The query is eager, so every plan it compiles is
    // compiled inside this window.
    val sess = documents.sparkSession
    val coKey = "spark.sql.requireAllClusterKeysForCoPartition"
    val prevCo = sess.conf.getOption(coKey)
    sess.conf.set(coKey, "false")
    try ngramJaccardBody(documents)
    finally prevCo match {
      case Some(v) => sess.conf.set(coKey, v)
      case None    => sess.conf.unset(coKey)
    }
  }

  private def ngramJaccardBody(documents: DataFrame): DataFrame = {
    val tx = lower(col("text"))
    val base = documents
      .filter(length(tx) >= 4)
      .select(col("doc_id"), col("lang"),
        floor(col("n_chars") / 16).as("lb"),
        // grams interned to 62-bit ints by the native codegen'd
        // [[graft.functions.NgramHashes]] expression — ONE byte-loop pass
        // instead of one md5 digest per character position (the digest cost
        // scaled with document length; the query's floor is set by the two
        // gram-table shuffles below, but the scan-stage CPU is now a flat
        // two-level loop). The verify's array_intersect hashes longs
        // instead of strings and the candidate shuffle carries 8-byte ids —
        // same set semantics (two-lane collision odds ~n²/2^62). The oracle
        // deliberately stays on RAW STRING grams: a collision would surface
        // as a hash-compare mismatch, so the gate checks the semantics, not
        // the interning.
        array_distinct(expr("ngram_hashes(lower(text), 4)")).as("grams"))
    // The (lang, lb) block key packs LOSSLESSLY into one long through a
    // broadcast lang dictionary (distinct language codes are bounded by
    // construction; lb < 2³² covers 68-gigabyte documents): the corpus-
    // scale gram exchanges below carry an 8-byte block key instead of a
    // 16-byte UnsafeRow string + a long — measured at the r16 factor-100
    // probe as the widest column set in the suite's fattest shuffler.
    val langs = base.select("lang").distinct()
      .withColumn("lang_id",
        row_number().over(Window.orderBy("lang")).cast("long"))
    val g = base.join(broadcast(langs), "lang")
      .select(col("doc_id"),
        (col("lang_id") * lit(4294967296L) + col("lb")).as("bk"),
        col("grams"), size(col("grams")).as("n"))
      // g feeds three DAG branches (prefix build + both verify sides);
      // persisting saves two gram-array rebuilds — ~2.2× on the whole query.
      // At extreme scale swap for recompute if the cache would thrash.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the exploded frame carries ONLY (doc_id, bk, gram): n is re-derived
    // inside the doc-keyed window pass (same exchange, one more window
    // function) instead of riding both corpus-scale exchanges as payload
    val ex = g.select(col("doc_id"), col("bk"), explode(col("grams")).as("gram"))
    // df via a window over the exploded rows (one shuffle) instead of
    // groupBy + join-back (two shuffles of the 18-per-doc gram rows).
    // Persisted: the candidate self-join reads the prefix TWICE (side a /
    // side b), and un-persisted each side re-runs the explode plus both
    // window sorts — at the r15 factor-100 probe that doubled the heaviest
    // shuffles in the query. MEMORY_AND_DISK; the df ≥ 2 prune below keeps
    // it well under the historical ~0.4·|grams| rows.
    val prefix = ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy("bk", "gram")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("gram").asc)))
      // pos ≤ k is the prefix filter; df ≥ 2 is LOSSLESS on top of it: a
      // block-unique gram can never be a join witness (nobody shares it),
      // so dropping it cuts the self-join's shuffle without touching any
      // pair's witness set — pos/cnt/ub all keep their full-list meaning
      // because they were computed BEFORE the prune.
      .filter(col("pos") <= col("n") - ceil(col("n") * lit(GramJaccardT)) + 1 &&
        col("df") >= 2)
      .select("doc_id", "bk", "gram", "pos", "n")
      // cached PRE-PARTITIONED on bk ALONE and PRE-SORTED on the self-join
      // keys: HashPartitioning(bk) satisfies the join's clustering (bk is
      // a subset of the equi-keys) and the (bk, gram) order feeds the SMJ,
      // so the self-join still plans with ZERO exchanges and ZERO sorts —
      // one prefix shuffle total (the r17 (bk, gram) version measured
      // 2 × 665 MB saved vs a plain cache). bk-only is the r18 lever on
      // the WITNESS-PAIR aggregate, the query's fattest remaining stage
      // (3.36 GB at the r17 factor-100 probe): candidate pairs live
      // entirely inside one block, so co-partitioning by bk puts EVERY
      // witness of a pair in the same partition and the aggregate's
      // map-side combine collapses each pair to ONE row before the
      // exchange — under (bk, gram) a pair's ~cnt witnesses scattered
      // across partitions and the combine caught almost nothing. Skew
      // note: a block's whole witness volume now lands on one task, but
      // blocks are (lang × 16-char length bucket) — thousands of cells
      // with bounded population; the per-gram d²/2 witness blowup was
      // single-partition under either scheme.
      .repartition(col("bk"))
      .sortWithinPartitions("bk", "gram")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // MATERIALIZED before the self-join plans: an unbuilt cache is an
    // unfinalized adaptive plan whose output partitioning reads as
    // unknown, and the join would re-shuffle both sides on (bk, gram)
    // even with subset co-partitioning allowed (the r18 probe's 2 × 483
    // MB). The count costs nothing extra — it performs the cache build
    // the first consumer would have paid anyway.
    prefix.count()
    // PPJoin-style candidate pruning (Xiao et al., WWW'08), applied while
    // the pair rows are still NARROW — before any gram array attaches.
    // Three lossless bounds, combined at the pair aggregate:
    //
    //  1. SIZE ratio: J ≥ t forces min(na,nb) ≥ t·max(na,nb).
    //  2. POSITIONAL (§3.2): a shared prefix gram at ranks (pa, pb) of the
    //     common global (df, gram) order bounds overlap by
    //     min(pa,pb) + min(na−pa, nb−pb); the pair keeps the min over its
    //     witnesses. (Weak here on its own: df-ranking places a shared
    //     gram at a SIMILAR rank in both docs, so the bound rarely bites —
    //     measured at the r15 factor-100 probe.)
    //  3. PREFIX-OVERLAP + SUFFIX: cnt = |Sa∩Sb| is exact from the
    //     witness count, and inter ≤ cnt + max(na−ka, nb−kb) — any shared
    //     gram outside both prefixes lies in a suffix, and the global
    //     order forbids Sa∩Tb and Ta∩Sb being BOTH non-empty (a gram
    //     below one boundary and above the other fixes the boundaries'
    //     order), so the extras all fit in ONE suffix. Near-dups share
    //     most of their prefixes (the df-correlation that weakens #2
    //     strengthens #3); random pairs share a handful of grams and die
    //     here. THIS is the lever that keeps the verify's pair×array
    //     shuffle proportional to near-qualifying pairs: the unpruned
    //     form shuffled candidates × 4.4 KB gram payloads into a
    //     local-disk fill at factor 100 (the same bytes spread across a
    //     cluster's executor disks, but the constant is pure waste at any
    //     scale).
    //
    // All bounds in exact BIGINT arithmetic (J ≥ 3/5 ⟺ 8·inter ≥
    // 3·(na+nb)): a float ceil could round one unit high at an
    // exact-boundary pair and prune what the verify's double compare
    // (which admits exactly J = t) accepts. ka reuses the prefix filter's
    // own float-ceil expression so the suffix length matches the kept
    // prefix EXACTLY. No filter runs before the aggregate — cnt must
    // count every witness to stay an exact |Sa∩Sb|.
    //
    // The witness payload (ub, na, nb — each < 2²¹; a 2M-gram document is
    // a ~2 MB text) rides the pair shuffle PACKED into one BIGINT: na/nb
    // are constant within a pair, so min(packed) ≡ (min ub, na, nb) and
    // the aggregate's shuffle row shrinks from 5 columns to 3 — the pair
    // exchange is the query's single fattest stage (4.4 GB / 219M rows at
    // the r17 factor-100 probe before packing).
    def kOf(n: Column): Column = n - ceil(n * lit(GramJaccardT)) + 1
    // NOT taken: AllPairs/PPJoin's asymmetric INDEX prefix (the smaller
    // side witnessing within n − ceil(2t/(1+t)·n) + 1). It cuts witness
    // rows ~0.6× but destroys bound #3 — the tight side's suffix term
    // grows to ~0.75n, which ALONE nearly satisfies the inequality, so the
    // prefix-overlap prune stops firing. Measured at the r17 factor-100
    // probe: candidates 21k → 12.8M and the verify join wrote 20 GB (the
    // r15 disk-fill mode back from the dead). The symmetric filter prefix
    // + exact cnt is the profitable configuration for this bound set.
    val mask21 = lit((1L << 21) - 1)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.bk") === col("b.bk") &&
          col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        ((least(col("a.pos"), col("b.pos")) +
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))) * lit(1L << 42) +
          col("a.n") * lit(1L << 21) + col("b.n")).as("pk"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("cnt"), min("pk").as("pk"))
      .select(col("doc_a"), col("doc_b"), col("cnt"),
        shiftright(col("pk"), 42).as("ub"),
        shiftright(col("pk"), 21).bitwiseAND(mask21).as("na"),
        col("pk").bitwiseAND(mask21).as("nb"))
      .filter(least(col("na"), col("nb")) * 5 >= greatest(col("na"), col("nb")) * 3 &&
        col("ub") * 8 >= (col("na") + col("nb")) * 3 &&
        (col("cnt") + greatest(col("na") - kOf(col("na")),
          col("nb") - kOf(col("nb")))) * 8 >= (col("na") + col("nb")) * 3)
      .select("doc_a", "doc_b")
      // surviving pairs are output-proportional (21k rows at the factor-100
      // probe) and feed TWO branches below (the id broadcast + the verify
      // join) — persist so the 219M-witness aggregate runs exactly once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Verify reads gram arrays ONLY for docs that appear in a surviving
    // pair: the candidate id set is output-proportional and broadcasts,
    // so the array-bearing side is filtered by a broadcast hash semi-join
    // at the cache scan instead of shuffling the WHOLE corpus's arrays
    // into each verify join (2 × 430 MB at the r17 probe; the filtered
    // side is a few MB). shuffle_hash on the residual joins, not SMJ —
    // sorting pair × array rows was the r15 80 GB disk-fill failure mode.
    val candDocs = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val gv = g.join(broadcast(candDocs), "doc_id")
    val out = cand
      .join(gv.select(col("doc_id").as("doc_a"), col("grams").as("ga"),
        col("n").as("na")).hint("shuffle_hash"), "doc_a")
      .join(gv.select(col("doc_id").as("doc_b"), col("grams").as("gb"),
        col("n").as("nb")).hint("shuffle_hash"), "doc_b")
      // size-ratio prefilter (J ≥ t ⇒ min/max ≥ t) skips the array work
      // for hopeless pairs; union via sizes as in minhashNearDup.
      .filter(least(col("na"), col("nb")) >= lit(GramJaccardT) * greatest(col("na"), col("nb")))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= GramJaccardT)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
    materializeThenRelease(out, g, prefix, cand)
  }

  // ------------------------------------------- dd_embed_neardup

  /** Embedding near-dup via random-hyperplane LSH: [[Similarity.banded]]
    * sign-bit bands (width log-scaled with corpus size, skewed buckets
    * re-split at the population cap — candidate pairs stay linear in n) →
    * band-equality self-join → exact cosine verify, all on the shared
    * fixed-point integer vector path ([[Similarity.quantize]]/idot — exact
    * BIGINT arithmetic, one IEEE division at the end). Band width / count
    * are the recall-vs-candidates dial (8-bit bands ≈ 0.49 recall at
    * cos 0.9 — more bands trade candidates for recall).
    */
  def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    // quantize+norm feeds banding and both verify sides; the banded rows
    // feed both sides of the self-join (the signature build is the
    // expensive bit) — persist both small intermediates.
    val c = Similarity.corpus(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lng = Similarity.banded(c)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = lng.as("a").join(lng.as("b"),
        col("a.b_idx") === col("b.b_idx") && col("a.band") === col("b.band") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    val out = cand
      .join(c.select(col("vec_id").as("vec_a"), col("vq").as("va"),
        col("n2").as("na")).hint("shuffle_hash"), "vec_a")
      .join(c.select(col("vec_id").as("vec_b"), col("vq").as("vb"),
        col("n2").as("nb")).hint("shuffle_hash"), "vec_b")
      .withColumn("cos",
        Similarity.cosine(Similarity.idot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos") >= CosT)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
    materializeThenRelease(out, c, lng)
  }

  // ------------------------------------ dd_semantic_decontaminate

  /** SEMANTIC benchmark decontamination — the embedding-space complement of
    * the verbatim [[decontaminate]]/[[passageDecontaminate]] pair: flag
    * training documents whose embedding sits above [[CosT]] cosine of ANY
    * bench-source document's embedding (paraphrased or lightly-rewritten
    * eval content that no n-gram or passage digest can catch). Emits per
    * contaminated training doc its hit count, the maximum cosine, and the
    * smallest matching bench doc id.
    *
    * Scale shape: ONE signature build over the whole corpus
    * ([[Similarity.banded]]: log-scaled band width + bucket-cap re-split,
    * candidates stay linear in n), then the band-bucket join runs
    * bench-side × training-side ONLY — never all-pairs, and never
    * bench × bench or train × train. The exact verify is the shared
    * fixed-point integer path (codegen'd array_dot, one IEEE division);
    * the per-doc rollup is a map-side-partial hash aggregate on the
    * high-cardinality doc id. Recall is the banding's documented dial —
    * the oracle mirrors the banding, so the gate proves the whole
    * candidate-generation + verify + rollup composition.
    */
  def semanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val flags = Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"),
        col("source").isin(BenchSources: _*).as("is_bench"))
    val c = Similarity.corpus(s, dir).join(flags, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lng = Similarity.banded(c).join(flags, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = lng.filter(col("is_bench")).as("a")
      .join(lng.filter(!col("is_bench")).as("b"),
        col("a.b_idx") === col("b.b_idx") && col("a.band") === col("b.band"))
      .select(col("a.vec_id").as("bench_id"), col("b.vec_id").as("doc_id"))
      .dropDuplicates("bench_id", "doc_id")
    val out = cand
      .join(c.select(col("vec_id").as("bench_id"), col("vq").as("va"),
        col("n2").as("na")).hint("shuffle_hash"), "bench_id")
      .join(c.select(col("vec_id").as("doc_id"), col("vq").as("vb"),
        col("n2").as("nb")).hint("shuffle_hash"), "doc_id")
      .withColumn("cos",
        Similarity.cosine(Similarity.idot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos") >= CosT)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_hits"),
        round(max(col("cos")), 4).as("max_cos"),
        min(col("bench_id")).as("first_bench"))
      .orderBy("doc_id")
    materializeThenRelease(out, c, lng)
  }

  // ---------------------------------------------- dd_passage_overlap

  private val PassW = 5 // passage shingle width (tokens)

  /** Cross-document duplicated-passage fraction — the "duplicate n-gram
    * fraction" signal of C4/RefinedWeb-style corpus QA, and the passage
    * granularity BELOW whole-document dedup: for each doc, the share of its
    * distinct [[PassW]]-token shingles that also appear in at least one
    * OTHER document (distinct-per-doc, so within-doc repetition — already
    * measured by txt_repetition — cannot inflate it).
    *
    * Scale shape: each document's distinct shingle digests are built in the
    * map, from the row alone ([[passageShingles]]); cross-doc frequency is
    * one hash groupBy on the digest with map-side partials, and the join
    * back is an equi-join on that digest. All shuffles carry fixed 32-byte
    * digests, never token text; no all-pairs work at any corpus size.
    */
  def passageOverlap(s: SparkSession, dir: String): DataFrame =
    passageOverlapOf(Tables.documents(s, dir))

  /** Distinct [[PassW]]-token passage-shingle digests per doc:
    * (doc_id, carry..., gh), plus the doc's distinct-shingle count
    * `n_shingles` (bigint) on every row when `sized`. Row-local: one
    * `shingles` call per document, `array_distinct` (the distinct-per-doc
    * contract: within-doc repetition cannot inflate any downstream count),
    * then one md5 per exploded shingle — no shuffle. Docs shorter than
    * PassW tokens have no shingles and drop out.
    */
  private def passageShingles(docs: DataFrame, carry: Seq[String] = Nil,
      sized: Boolean = false): DataFrame = {
    val keep = (col("doc_id") +: carry.map(col)) ++
      (if (sized) Seq(col("n_shingles")) else Nil)
    docs
      .withColumn("sh", array_distinct(
        Shingles(docs.sparkSession, TextOps.tokens(col("text")), PassW)))
      .withColumn("n_shingles", size(col("sh")).cast("long"))
      .select(keep :+ explode(col("sh")).as("sh"): _*)
      .select(keep :+ md5(col("sh")).as("gh"): _*)
  }

  private[graft] def passageOverlapOf(docs: DataFrame): DataFrame = {
    val g = passageShingles(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shingles are distinct per doc, so count(*) per digest = #docs holding it
    val freq = g.groupBy("gh").agg(count(lit(1)).as("n_docs"))
    val out = g.join(freq, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
    materializeThenRelease(out, g)
  }

  // ---------------------------------- dd_passage_decontaminate

  /** Passage-level benchmark decontamination — the GPT-3/PaLM-style n-gram
    * collision scrub, one granularity FINER than [[decontaminate]]'s
    * whole-document MinHash: a training document is contaminated if any of
    * its [[PassW]]-token shingles appears verbatim in any benchmark
    * document. Reports every contaminated training doc with its collision
    * count and contaminated-shingle fraction (the retain-vs-drop dial).
    *
    * Scale shape: both sides reduce to distinct (doc, digest) rows inside
    * [[passageShingles]]; the benchmark digest set collapses to DISTINCT
    * digests (tiny — the eval corpus) and the flagging is one equi-join of
    * the training digests against it (at scale AQE broadcasts the bench
    * side), followed by one per-doc aggregate. The training corpus never
    * self-joins, and no shuffle carries token text.
    */
  def passageDecontaminate(s: SparkSession, dir: String): DataFrame = {
    // standalone query: materialize the bounded contaminated-doc list,
    // then release the corpus-sized shingle cache underneath
    val (df, release) = passageDecontaminateWithRelease(s, dir)
    val out = materializeThenRelease(df)
    release()
    out
  }

  /** [[passageDecontaminate]] as a LAZY frame plus the hook releasing the
    * corpus-sized shingle cache underneath — see [[clusterWithRelease]].
    * Lazy since r19: every consumer (the standalone write, the pipe_*
    * single joins) reads the contaminated-doc list exactly once, so the
    * former eager persist+count here was one more barrier per composed
    * query with no reuse to pay for it; the shingle cache populates during
    * the consumer's one action exactly as it did during the old internal
    * count. Callers materialize their own output BEFORE invoking the hook.
    */
  private[graft] def passageDecontaminateWithRelease(
      s: SparkSession, dir: String): (DataFrame, () => Unit) = {
    // both the bench-set and training branches sit above the shingle
    // pipeline — persist it or the tokenize + digest work runs twice (the
    // passageOverlapOf lesson)
    val g = passageShingles(Tables.documents(s, dir), carry = Seq("source"))
      .withColumn("is_bench", col("source").isin(BenchSources: _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val benchSet = g.filter(col("is_bench")).select("gh").distinct()
    val out = g.filter(!col("is_bench"))
      .join(benchSet.withColumn("hit", lit(1L)), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .filter(col("n_contaminated") >= 1)
      .withColumn("contam_frac",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6))
    (out.orderBy("doc_id"), () => { g.unpersist(false); () })
  }

  // ---------------------------------------- dd_bloom_decontaminate

  private val BloomItems = 1L << 20 // est distinct bench shingles (sized up-front)
  private val BloomBits = BloomItems * 8 // ~2% fpp, 1 MiB — broadcastable

  /** [[passageDecontaminate]] with an EXPLICIT bloom pre-filter — identical
    * output (it shares the oracle), different physical plan: a ~1 MiB bloom
    * of the bench shingle digests broadcasts to the training side, and
    * `bloom_might_contain` drops ~98% of clean shingles BEFORE the exact
    * semi join — so the join's shuffle carries candidate rows only, not the
    * whole training corpus. This is Spark's own runtime-filter machinery
    * ([[graft.functions.BloomFuncs]] registers the internal expression
    * pair), driven explicitly where the optimizer's automatic injection
    * (spark.sql.optimizer.runtime.bloomFilter) wouldn't fire — across a
    * persisted boundary, or when the build side is a derived frame. The
    * bloom's false positives are removed by the exact semi join that
    * follows: the bloom changes the PLAN, never the ANSWER.
    *
    * Crossover: at bench-scale fixtures the sketch build is pure overhead
    * (r10 controlled min-of-3 at sf0.1: 1.49 s vs 0.94 s for the
    * identical-answer plain twin — nothing to prune; the r9 in-suite
    * 5.94 s was suite-contention noise plus the per-invocation temp-view
    * leak, both fixed/confirmed by the isolated re-measure); the variant
    * wins when the training side dwarfs the bench side, where the ~98%
    * shingle drop removes shuffle volume the semi join would otherwise
    * pay for.
    */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.BloomFuncs.register(s)
    val g = passageShingles(Tables.documents(s, dir), carry = Seq("source"), sized = true)
      .withColumn("is_bench", col("source").isin(BenchSources: _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // benchSet feeds the bloom build AND the exact verify side
    val benchSet = g.filter(col("is_bench")).select("gh").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // might_contain requires a constant or SCALAR-SUBQUERY bloom; the
    // subquery form is the one Spark's own InjectRuntimeFilter emits, and
    // it ships the ~1 MiB sketch ONCE as a subquery result — a foldable
    // byte-array literal instead was measured 10× slower end-to-end (the
    // megabyte constant poisons codegen for every consumer stage).
    // fixed name: createOrReplaceTempView replaces the prior registration,
    // so repeated bench/verify invocations cannot accumulate catalog
    // entries (a UUID-suffixed name leaked one view + its pinned 1 MiB
    // sketch per invocation for the session lifetime)
    val bloomView = "graft_bloom_bench"
    benchSet
      .agg(expr(s"bloom_agg(xxhash64(gh), ${BloomItems}L, ${BloomBits}L)").as("bf"))
      .createOrReplaceTempView(bloomView)
    // each row carries its doc's shingle total, so only hits are grouped:
    // clean docs drop, mirroring >= 1
    val out = g.filter(!col("is_bench"))
      .filter(expr(s"bloom_might_contain((SELECT bf FROM $bloomView), xxhash64(gh))"))
      .join(benchSet, Seq("gh"), "left_semi")
      .groupBy("doc_id", "n_shingles").agg(count(lit(1)).as("n_contaminated"))
      .withColumn("contam_frac",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6))
      .select("doc_id", "n_shingles", "n_contaminated", "contam_frac")
      .orderBy("doc_id")
    materializeThenRelease(out, g, benchSet)
  }

  // ---------------------------------------------- dd_containment

  private val ContainT = 0.5 // containment threshold (share of smaller set)
  private val DfCap = 50 // drop shingles held by more docs (join fan-out cap)

  /** Asymmetric containment dedup — catches quote-inclusion and
    * subset-duplication that symmetric Jaccard misses (a short doc fully
    * embedded in a long one has low Jaccard but containment ≈ 1):
    * C(a,b) = |sh_a ∩ sh_b| / min(|sh_a|, |sh_b|) over distinct
    * [[PassW]]-token shingle digests, computed EXACTLY via the shingle
    * inverted index (digest self-join), not via LSH — MinHash bands are
    * recall-blind to extreme size ratios, which is precisely the
    * containment case.
    *
    * Scale shape: both the candidate pairs AND the intersection count use
    * only shingles with document frequency in [2, [[DfCap]]] — the
    * standard common-shingle pruning, making the reported value the
    * containment over *discriminative* shingles (a lower bound on true
    * containment; boilerplate phrases shared by millions of docs
    * contribute neither pairs nor counts, and the per-shingle join
    * fan-out is ≤ DfCap²). All shuffles carry 32-byte digests or
    * (doc_a, doc_b) pairs; per-doc sizes are counted in the map and ride
    * every digest row; intersection sizes are counted relationally.
    */
  def containment(s: SparkSession, dir: String): DataFrame =
    containmentOf(Tables.documents(s, dir))

  private[graft] def containmentOf(docs: DataFrame): DataFrame = {
    // persist AFTER the df filter: the frame feeds both self-join sides, so
    // caching the filtered rows runs the shingle pipeline and the df window
    // once and the cache holds only the rare-shingle survivors
    val rare = passageShingles(docs, sized = true)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gh")))
      .filter(col("df").between(2, DfCap))
      .drop("df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = rare.as("a").join(rare.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_shingles").as("na"), col("b.n_shingles").as("nb"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), max("na").as("na"), max("nb").as("nb"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= ContainT)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("containment"), 4).as("containment"))
      .orderBy("doc_a", "doc_b")
    materializeThenRelease(out, rare)
  }

  // ---------------------------------------------- dd_substring

  private val SubK = 20 // verbatim-run detection window (tokens)

  /** Exact substring dedup — every maximal verbatim token run shared by two
    * documents, the ExactSubstr granularity of "Deduplicating Training Data
    * Makes Language Models Better" (Lee et al., 2021): their suffix-array
    * pass finds ≥50-token verbatim runs; here the same runs (scaled to the
    * fixture's 10–99-token docs via [[SubK]]=20) fall out relationally,
    * with no suffix array and no all-pairs work:
    *
    *  1. every [[SubK]]-token window hashes to an md5 digest, in the map
    *     (posexplode of the row's `shingles`, positions kept);
    *  2. cross-doc matches come from the digest self-join, occurrence-
    *     pruned to [2, [[DfCap]]] (a window hash occurring in more
    *     positions is boilerplate; the cap also bounds join fan-out at
    *     DfCap² pairs per digest — matching windows inside a pruned run
    *     split it, identically in both engines);
    *  3. consecutive matching windows lie on one DIAGONAL (pa − pb
    *     constant), so gaps-and-islands (the ev_streaks anchor trick:
    *     pa − row_number is constant within a run) groups them into
    *     maximal runs of run_tokens = windows + SubK − 1.
    *
    * Scale shape: shuffles carry (digest, doc, pos) — never token text; the
    * occurrence count rides a window over the digest hash partitioning; the
    * island window partitions on high-cardinality (doc_a, doc_b, diagonal).
    * All-BIGINT output, exact in both engines.
    */
  def substringDedup(s: SparkSession, dir: String): DataFrame =
    substringDedupOf(Tables.documents(s, dir))

  private[graft] def substringDedupOf(docs: DataFrame): DataFrame = {
    // persist AFTER the occurrence filter (the containmentOf lesson): the
    // frame feeds both self-join sides and caches only rare-digest rows
    val rare = docs
      .select(col("doc_id"), posexplode(
        Shingles(docs.sparkSession, TextOps.tokens(col("text")), SubK)).as(Seq("pos", "sh")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), md5(col("sh")).as("wh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("wh")))
      .filter(col("df").between(2, DfCap))
      .drop("df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = rare.as("a").join(rare.as("b"),
        col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
    materializeThenRelease(substringIslandsOf(m), rare)
  }

  /** Gaps-and-islands run extension over window matches
    * (doc_a, doc_b, pa, pb) — shared by the batch operator and the
    * streaming twin's epilogue (the stream emits exactly these match rows).
    */
  private[graft] def substringIslandsOf(m: DataFrame): DataFrame = {
    val iw = Window
      .partitionBy(col("doc_a"), col("doc_b"), col("pa") - col("pb"))
      .orderBy("pa")
    m.withColumn("anchor", col("pa") - row_number().over(iw))
      .groupBy(col("doc_a"), col("doc_b"), (col("pa") - col("pb")).as("diag"),
        col("anchor"))
      .agg(min("pa").as("a_start"), min("pb").as("b_start"),
        (count(lit(1)) + lit(SubK - 1)).as("run_tokens"))
      .select("doc_a", "doc_b", "a_start", "b_start", "run_tokens")
      .orderBy("doc_a", "doc_b", "a_start", "b_start")
  }

  /** The [[SubK]] window width and [[DfCap]] occurrence cap, exposed for the
    * streaming twin, and the [[TriK]] trigram width shared by the MinHash
    * shingles, txt_repetition, txt_ngram_novelty and the novelty twins, so
    * batch and stream cannot drift.
    */
  private[graft] def subWindowK: Int = SubK
  private[graft] final val TriK = 3
  private[graft] def subDfCap: Int = DfCap

  // ---------------------------------------------- dd_cdc_dedup

  private val CdcMinTok = 10 // ignore chunks too short to be meaningful dups

  /** Chunk-level dedup over [[TextOps.cdcChunksOf]]'s content-defined
    * chunks — the dedup-storage view of the corpus: every chunk (≥
    * [[CdcMinTok]] tokens) whose exact text recurs in ≥ 2 distinct
    * documents, with its occurrence and document counts. Because CDC
    * boundaries re-align after edits, a near-duplicate document pair shows
    * up here as its SHARED chunks (the storage actually saved by chunk-
    * level dedup) without any pairwise comparison — the detection side of
    * an rsync/LBFS-style deduplicating store, and the chunk-granular
    * complement of dd_substring's run granularity.
    *
    * Scale shape: inherits [[TextOps.cdcChunksOf]]'s per-doc window shape,
    * then ONE hash aggregate keyed by (chunk_hash, n_tokens) — count and
    * count-distinct ride map-side partials; no join at all. Output is
    * bounded by the number of distinct duplicated chunks.
    */
  def cdcDedup(s: SparkSession, dir: String): DataFrame =
    cdcDedupOf(TextOps.cdcChunksOf(Tables.documents(s, dir)))

  private[graft] def cdcDedupOf(chunks: DataFrame): DataFrame =
    chunks.filter(col("n_tokens") >= CdcMinTok)
      .groupBy("chunk_hash", "n_tokens")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
      .select("chunk_hash", "n_tokens", "n_occ", "n_docs", "first_doc")
      .orderBy("chunk_hash")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_containment" -> (containment(_, _)),
    "dd_substring" -> (substringDedup(_, _)),
    "dd_cdc_dedup" -> (cdcDedup(_, _)),
    "dd_exact" -> (exactDedup(_, _)),
    "dd_bow_dedup" -> (bowDedup(_, _)),
    "dd_leakage_split" -> (leakageSplit(_, _)),
    "dd_incremental" -> (incrementalDedup(_, _)),
    "dd_neardup_ingest" -> (neardupIngest(_, _)),
    "dd_neardup" -> (minhashNearDup(_, _)),
    "dd_lsh_recall" -> (lshRecall(_, _)),
    "dd_edit_verify" -> (editVerify(_, _)),
    "dd_cluster" -> (cluster(_, _)),
    "dd_cluster_stats" -> (clusterStats(_, _)),
    "dd_survivors" -> (survivors(_, _)),
    "dd_decontaminate" -> (decontaminate(_, _)),
    "dd_simhash" -> (simhash(_, _)),
    "dd_ngram_jaccard" -> (ngramJaccard(_, _)),
    "dd_threshold_sweep" -> (thresholdSweep(_, _)),
    "dd_embed_neardup" -> (embedNearDup(_, _)),
    "dd_semantic_decontaminate" -> (semanticDecontaminate(_, _)),
    "dd_passage_overlap" -> (passageOverlap(_, _)),
    "dd_passage_decontaminate" -> (passageDecontaminate(_, _)),
    "dd_bloom_decontaminate" -> (bloomDecontaminate(_, _)))

  // ---------------------------------------------------------- oracle SQL

  private val toksSql = graft.OracleSql.toks("lower(text)")

  /** Same universal-hash MinHash family as sigCols: one md5 per shingle,
    * two 32-bit words, h_i = (a_i·w1 + b_i·w2) mod P — all BIGINT-exact.
    */
  private val mhSql = (0 until NumHashes)
    .map(i => s"list_min(list_apply(words, w -> (${HashA(i)} * w[1] + ${HashB(i)} * w[2]) % $HashP)) AS h$i")
    .mkString(",\n    ")
  private val bandSql = (0 until Bands).map { b =>
    val hs = (0 until RowsPerBand).map(r => s"h${b * RowsPerBand + r}")
    s"md5(${hs.mkString(" || '|' || ")}) AS b$b"
  }.mkString(",\n    ")
  private val bandLongSql = (0 until Bands)
    .map(b => s"SELECT doc_id, $b AS b_idx, b$b AS band FROM banded")
    .mkString("\n  UNION ALL ")

  /** Tokenize → shingle → MinHash → band rows as a CTE chain ending in
    * `lng(doc_id, b_idx, band)` (with `s(doc_id, sh)` for verify sides) —
    * the shared front of [[neardupVerSql]] and the dd_neardup_ingest
    * oracle.
    */
  private val neardupLngSql =
    s"""t AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents
       |), s AS (
       |  SELECT doc_id, list_distinct(list_apply(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
       |  FROM t WHERE len(toks) >= 3
       |), sw AS (
       |  SELECT doc_id, sh, list_apply(sh, x ->
       |    [('0x' || substr(md5(x), 1, 8))::BIGINT,
       |     ('0x' || substr(md5(x), 9, 8))::BIGINT]) AS words
       |  FROM s
       |), sig AS (
       |  SELECT doc_id, sh,
       |    $mhSql
       |  FROM sw
       |), banded AS (
       |  SELECT doc_id,
       |    $bandSql
       |  FROM sig
       |), lng AS (
       |  $bandLongSql
       |)""".stripMargin

  /** Tokenize → shingle → MinHash → band join → exact-Jaccard verify as a
    * CTE chain ending in `ver(doc_a, doc_b, jac)` — the exact SQL twin of
    * [[minhashPairs]] (pre-threshold), shared by the dd_neardup and
    * dd_cluster oracles.
    */
  private val neardupVerSql =
    s"""$neardupLngSql, cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM lng a JOIN lng b
       |    ON a.b_idx = b.b_idx AND a.band = b.band AND a.doc_id < b.doc_id
       |), ver AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
       |  FROM cand
       |  JOIN s sa ON sa.doc_id = doc_a
       |  JOIN s sb ON sb.doc_id = doc_b
       |)""".stripMargin


  private lazy val passageDecontSql =
    s"""WITH t AS (
       |  SELECT doc_id, source, $toksSql AS toks FROM documents
       |), s AS (
       |  SELECT doc_id, source IN (${BenchSources.map(x => s"'$x'").mkString(", ")}) AS is_bench,
       |    list_distinct(list_apply(range(1, len(toks) - ${PassW - 2}),
       |    i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' ||
       |             toks[i + 3] || ' ' || toks[i + 4]))) AS ghs
       |  FROM t WHERE len(toks) >= $PassW
       |), g AS (
       |  SELECT doc_id, is_bench, unnest(ghs) AS gh FROM s
       |), bench AS (
       |  SELECT DISTINCT gh FROM g WHERE is_bench
       |)
       |SELECT g.doc_id, count(*) AS n_shingles,
       |  sum(CASE WHEN bench.gh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
       |  round(sum(CASE WHEN bench.gh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
       |    AS contam_frac
       |FROM g LEFT JOIN bench ON g.gh = bench.gh
       |WHERE NOT g.is_bench
       |GROUP BY g.doc_id HAVING n_contaminated >= 1
       |ORDER BY g.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "dd_exact" ->
      s"""WITH fp AS (
         |  SELECT doc_id, md5(list_aggregate($toksSql, 'string_agg', ' ')) AS fp
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, fp,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rnk,
         |    count(*) OVER (PARTITION BY fp) AS dup_cnt
         |  FROM fp
         |)
         |SELECT doc_id, fp, dup_cnt FROM g WHERE rnk = 1 ORDER BY doc_id""".stripMargin,
    "dd_bow_dedup" ->
      s"""WITH fp AS (
         |  SELECT doc_id,
         |    md5(list_aggregate($toksSql, 'string_agg', ' ')) AS fp,
         |    md5(list_aggregate(list_sort($toksSql), 'string_agg', ' ')) AS bow_fp
         |  FROM documents
         |  WHERE len($toksSql) > 0
         |)
         |SELECT min(doc_id) AS doc_id, bow_fp,
         |  count(*)::BIGINT AS dup_cnt,
         |  count(DISTINCT fp)::BIGINT AS n_exact_variants,
         |  count(DISTINCT fp) >= 2 AS reorder_only
         |FROM fp GROUP BY bow_fp
         |ORDER BY doc_id""".stripMargin,
    "dd_leakage_split" ->
      s"""WITH fp AS (
         |  SELECT doc_id, md5(list_aggregate($toksSql, 'string_agg', ' ')) AS fp
         |  FROM documents
         |)
         |SELECT doc_id, fp,
         |  CASE WHEN ('0x' || substr(fp, 1, 8))::BIGINT % 100 < 80 THEN 'train'
         |       WHEN ('0x' || substr(fp, 1, 8))::BIGINT % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM fp ORDER BY doc_id""".stripMargin,
    "dd_incremental" ->
      s"""WITH fp AS (
         |  SELECT doc_id, md5(list_aggregate($toksSql, 'string_agg', ' ')) AS fp
         |  FROM documents
         |), snap AS (
         |  SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0
         |), batch AS (
         |  SELECT doc_id, fp,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rnk
         |  FROM fp WHERE doc_id % 2 = 1
         |)
         |SELECT b.doc_id, b.fp,
         |  CASE WHEN s.fp IS NOT NULL THEN 'dup_corpus'
         |       WHEN b.rnk > 1 THEN 'dup_batch'
         |       ELSE 'new' END AS status
         |FROM batch b LEFT JOIN snap s ON b.fp = s.fp
         |ORDER BY b.doc_id""".stripMargin,
    "dd_neardup_ingest" ->
      // oracle computes the near tier for ALL batch docs (compactness over
      // efficiency — the engine's exact-tier prune is masked by the status
      // CASE precedence, so outputs are identical)
      s"""WITH $neardupLngSql, fp AS (
         |  SELECT doc_id, md5(list_aggregate($toksSql, 'string_agg', ' ')) AS fp
         |  FROM documents
         |), snap AS (
         |  SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0
         |), batch AS (
         |  SELECT doc_id, fp,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rnk
         |  FROM fp WHERE doc_id % 2 = 1
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS snap_id
         |  FROM lng a JOIN lng b
         |    ON a.b_idx = b.b_idx AND a.band = b.band
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         |), near AS (
         |  SELECT doc_id, max(jac) AS best_jac FROM (
         |    SELECT c.doc_id,
         |      len(list_intersect(sb.sh, ss.sh))::DOUBLE /
         |        (len(sb.sh) + len(ss.sh) - len(list_intersect(sb.sh, ss.sh))) AS jac
         |    FROM cand c
         |    JOIN s sb ON sb.doc_id = c.doc_id
         |    JOIN s ss ON ss.doc_id = c.snap_id
         |  ) WHERE jac >= $JaccardT GROUP BY doc_id
         |)
         |SELECT b.doc_id, b.fp,
         |  CASE WHEN sn.fp IS NOT NULL THEN 'dup_corpus'
         |       WHEN b.rnk > 1 THEN 'dup_batch'
         |       WHEN n.best_jac IS NOT NULL THEN 'neardup_corpus'
         |       ELSE 'new' END AS status,
         |  CASE WHEN sn.fp IS NULL AND b.rnk = 1 AND n.best_jac IS NOT NULL
         |       THEN round(n.best_jac, 4) END AS best_jac
         |FROM batch b
         |LEFT JOIN snap sn ON b.fp = sn.fp
         |LEFT JOIN near n ON n.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    "dd_neardup" ->
      s"""WITH $neardupVerSql
         |SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM ver
         |WHERE jac >= $JaccardT ORDER BY doc_a, doc_b""".stripMargin,
    "dd_threshold_sweep" ->
      s"""WITH $neardupVerSql, thr AS (
         |  SELECT unnest([${SweepTs.mkString(", ")}])::DOUBLE AS threshold
         |)
         |SELECT threshold,
         |  sum(CASE WHEN jac >= threshold THEN 1 ELSE 0 END)::BIGINT AS n_pairs,
         |  count(DISTINCT CASE WHEN jac >= threshold THEN doc_b END)::BIGINT
         |    AS n_dropped_docs
         |FROM ver, thr GROUP BY threshold ORDER BY threshold""".stripMargin,
    "dd_lsh_recall" ->
      // truth side as plain inverted-index all-pairs (oracle compactness
      // over efficiency, the dd_ngram_jaccard precedent) — identical pair
      // set to the engine's lossless prefix-filtered form
      s"""WITH $neardupVerSql, ix AS (
         |  SELECT doc_id, unnest(sh) AS g FROM s
         |), tc AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ix a JOIN ix b ON a.g = b.g AND a.doc_id < b.doc_id
         |), tv AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(sa.sh, sb.sh))::DOUBLE /
         |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
         |  FROM tc
         |  JOIN s sa ON sa.doc_id = doc_a
         |  JOIN s sb ON sb.doc_id = doc_b
         |), agg AS (
         |  SELECT (SELECT count(*) FROM tv WHERE jac >= $JaccardT) AS n_true,
         |    (SELECT count(*) FROM ver WHERE jac >= $JaccardT) AS n_found
         |)
         |SELECT n_true, n_found,
         |  CASE WHEN n_true = 0 THEN 1.0
         |       ELSE round(n_found::DOUBLE / n_true, 4) END AS recall
         |FROM agg""".stripMargin,
    "dd_edit_verify" ->
      s"""WITH $neardupVerSql
         |SELECT doc_a, doc_b, lev, round(sim, 4) AS edit_sim FROM (
         |  SELECT doc_a, doc_b, levenshtein(da.text, db.text)::BIGINT AS lev,
         |    1.0 - levenshtein(da.text, db.text)::DOUBLE
         |      / greatest(len(da.text), len(db.text)) AS sim
         |  FROM cand
         |  JOIN documents da ON da.doc_id = doc_a
         |  JOIN documents db ON db.doc_id = doc_b
         |)
         |WHERE sim >= $EditSimT ORDER BY doc_a, doc_b""".stripMargin,
    "dd_cluster" ->
      s"""WITH RECURSIVE $neardupVerSql, pr AS (
         |  SELECT doc_a, doc_b FROM ver WHERE jac >= $JaccardT
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pr
         |  UNION SELECT doc_b, doc_a FROM pr
         |), reach(node, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
         |), lab AS (
         |  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
         |)
         |SELECT node AS doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM lab ORDER BY doc_id""".stripMargin,
    "dd_cluster_stats" ->
      s"""WITH RECURSIVE $neardupVerSql, pr AS (
         |  SELECT doc_a, doc_b FROM ver WHERE jac >= $JaccardT
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pr
         |  UNION SELECT doc_b, doc_a FROM pr
         |), reach(node, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
         |), lab AS (
         |  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
         |), pc AS (
         |  SELECT cluster_id, count(*)::BIGINT AS cluster_size
         |  FROM lab GROUP BY cluster_id
         |), h AS (
         |  SELECT cluster_size, count(*)::BIGINT AS n_clusters,
         |    (cluster_size * count(*))::BIGINT AS n_docs
         |  FROM pc GROUP BY cluster_size
         |), singles AS (
         |  SELECT 1::BIGINT AS cluster_size,
         |    (SELECT count(*) FROM documents) - (SELECT count(*) FROM lab) AS n_clusters,
         |    (SELECT count(*) FROM documents) - (SELECT count(*) FROM lab) AS n_docs
         |)
         |SELECT cluster_size, n_clusters, n_docs FROM h
         |UNION ALL
         |SELECT cluster_size, n_clusters, n_docs FROM singles
         |ORDER BY cluster_size""".stripMargin,
    "dd_survivors" ->
      s"""WITH RECURSIVE $neardupVerSql, pr AS (
         |  SELECT doc_a, doc_b FROM ver WHERE jac >= $JaccardT
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pr
         |  UNION SELECT doc_b, doc_a FROM pr
         |), reach(node, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
         |), lab AS (
         |  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
         |), win AS (
         |  SELECT cluster_id AS doc_id, count(*)::BIGINT AS n_merged
         |  FROM lab GROUP BY cluster_id
         |)
         |SELECT doc_id, n_merged FROM win
         |UNION ALL
         |SELECT doc_id, 1::BIGINT AS n_merged FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM lab)
         |ORDER BY doc_id""".stripMargin,
    "dd_decontaminate" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    source IN (${BenchSources.map(x => s"'$x'").mkString(", ")}) AS is_bench,
         |    list_distinct(list_apply(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
         |  FROM t WHERE len(toks) >= 3
         |), sw AS (
         |  SELECT doc_id, is_bench, sh, list_apply(sh, x ->
         |    [('0x' || substr(md5(x), 1, 8))::BIGINT,
         |     ('0x' || substr(md5(x), 9, 8))::BIGINT]) AS words
         |  FROM s
         |), sig AS (
         |  SELECT doc_id, is_bench,
         |    $mhSql
         |  FROM sw
         |), banded AS (
         |  SELECT doc_id, is_bench,
         |    $bandSql
         |  FROM sig
         |), lng AS (
         |  ${(0 until Bands)
               .map(b => s"SELECT doc_id, is_bench, $b AS b_idx, b$b AS band FROM banded")
               .mkString("\n  UNION ALL ")}
         |), cand AS (
         |  SELECT DISTINCT t.doc_id AS doc_id, b.doc_id AS bench_id
         |  FROM lng t JOIN lng b ON t.b_idx = b.b_idx AND t.band = b.band
         |  WHERE NOT t.is_bench AND b.is_bench
         |), ver AS (
         |  SELECT cand.doc_id AS doc_id, bench_id,
         |    len(list_intersect(st.sh, sb.sh))::DOUBLE /
         |      (len(st.sh) + len(sb.sh) - len(list_intersect(st.sh, sb.sh))) AS jac
         |  FROM cand
         |  JOIN s st ON st.doc_id = cand.doc_id
         |  JOIN s sb ON sb.doc_id = bench_id
         |)
         |SELECT doc_id, count(*) AS n_bench_matches, round(max(jac), 4) AS max_jaccard
         |FROM ver WHERE jac >= $JaccardT GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_simhash" ->
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), tok AS (
         |  SELECT doc_id, unnest(toks) AS t FROM d WHERE len(toks) >= 1
         |), bits AS (
         |  SELECT doc_id, r.j,
         |    CASE WHEN substr(md5(t), (r.j + 1)::INT, 1)
         |      IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END AS v
         |  FROM tok, range(32) r(j)
         |), agg AS (
         |  SELECT doc_id, j, sum(v) AS sv FROM bits GROUP BY doc_id, j
         |)
         |SELECT doc_id,
         |  string_agg(CASE WHEN sv >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
         |FROM agg GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_ngram_jaccard" ->
      s"""WITH g AS (
         |  SELECT doc_id, lang, n_chars // 16 AS lb,
         |    list_distinct(list_apply(range(1, length(lower(text)) - 2),
         |      i -> substr(lower(text), i::INT, 4))) AS grams
         |  FROM documents WHERE length(lower(text)) >= 4
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.grams, b.grams))::DOUBLE /
         |      len(list_distinct(a.grams || b.grams)) AS jac
         |  FROM g a JOIN g b
         |    ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM pairs
         |WHERE jac >= $GramJaccardT ORDER BY doc_a, doc_b""".stripMargin,
    "dd_passage_overlap" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), s AS (
         |  SELECT doc_id, list_distinct(list_apply(range(1, len(toks) - ${PassW - 2}),
         |    i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' ||
         |             toks[i + 3] || ' ' || toks[i + 4]))) AS ghs
         |  FROM t WHERE len(toks) >= $PassW
         |), g AS (
         |  SELECT doc_id, unnest(ghs) AS gh FROM s
         |), freq AS (
         |  SELECT gh, count(*) AS n_docs FROM g GROUP BY gh
         |)
         |SELECT g.doc_id, count(*) AS n_shingles,
         |  sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
         |  round(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_frac
         |FROM g JOIN freq f ON g.gh = f.gh
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "dd_containment" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), s AS (
         |  SELECT doc_id, list_distinct(list_apply(range(1, len(toks) - ${PassW - 2}),
         |    i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' ||
         |             toks[i + 3] || ' ' || toks[i + 4]))) AS ghs
         |  FROM t WHERE len(toks) >= $PassW
         |), g AS (
         |  SELECT doc_id, len(ghs) AS n, unnest(ghs) AS gh FROM s
         |), rare AS (
         |  SELECT doc_id, n, gh FROM (
         |    SELECT doc_id, n, gh, count(*) OVER (PARTITION BY gh) AS df FROM g
         |  ) WHERE df BETWEEN 2 AND $DfCap
         |), agg AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS inter, max(a.n) AS na, max(b.n) AS nb
         |  FROM rare a JOIN rare b ON a.gh = b.gh AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b
         |)
         |SELECT doc_a, doc_b, inter,
         |  round(inter::DOUBLE / least(na, nb), 4) AS containment
         |FROM agg WHERE inter::DOUBLE / least(na, nb) >= $ContainT
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dd_substring" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), w AS (
         |  SELECT doc_id, i AS pos,
         |    md5(array_to_string(list_slice(toks, i, i + $SubK - 1), ' ')) AS wh
         |  FROM t, unnest(range(1, len(toks) - $SubK + 2)) AS u(i)
         |  WHERE len(toks) >= $SubK
         |), rare AS (
         |  SELECT doc_id, pos, wh FROM (
         |    SELECT doc_id, pos, wh, count(*) OVER (PARTITION BY wh) AS df FROM w
         |  ) WHERE df BETWEEN 2 AND $DfCap
         |), m AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
         |  FROM rare a JOIN rare b ON a.wh = b.wh AND a.doc_id < b.doc_id
         |), isl AS (
         |  SELECT doc_a, doc_b, pa, pb,
         |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa)
         |      AS anchor
         |  FROM m
         |)
         |SELECT doc_a, doc_b, min(pa) AS a_start, min(pb) AS b_start,
         |  count(*) + $SubK - 1 AS run_tokens
         |FROM isl GROUP BY doc_a, doc_b, pa - pb, anchor
         |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin,
    "dd_cdc_dedup" ->
      s"""WITH ${TextOps.cdcChunksCtesSql}
         |SELECT chunk_hash, n_tokens, count(*)::BIGINT AS n_occ,
         |  count(DISTINCT doc_id)::BIGINT AS n_docs, min(doc_id) AS first_doc
         |FROM chunks WHERE n_tokens >= $CdcMinTok
         |GROUP BY chunk_hash, n_tokens HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY chunk_hash""".stripMargin,
    "dd_passage_decontaminate" -> passageDecontSql,
    // same answer by construction — the bloom is a plan-only pre-filter
    "dd_bloom_decontaminate" -> passageDecontSql,
    "dd_embed_neardup" ->
      s"""WITH ${Similarity.corpusSql}, ${Similarity.bandSql}, cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM lng a JOIN lng b
         |    ON a.b_idx = b.b_idx AND a.band = b.band AND a.vec_id < b.vec_id
         |), cs AS (
         |  SELECT vec_a, vec_b,
         |    list_sum(list_apply(range(${Similarity.Dim}),
         |      i -> ea.vq[(i + 1)::INT] * eb.vq[(i + 1)::INT]))::DOUBLE /
         |      (sqrt(ea.nn::DOUBLE) * sqrt(eb.nn::DOUBLE)) AS c
         |  FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
         |)
         |SELECT vec_a, vec_b, round(c, 4) AS cos_sim FROM cs
         |WHERE c >= $CosT ORDER BY vec_a, vec_b""".stripMargin,
    "dd_semantic_decontaminate" ->
      s"""WITH ${Similarity.corpusSql}, ${Similarity.bandSql}, flags AS (
         |  SELECT doc_id AS vec_id,
         |    source IN (${BenchSources.map(x => s"'$x'").mkString(", ")}) AS is_bench
         |  FROM documents
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS bench_id, b.vec_id AS doc_id
         |  FROM lng a
         |  JOIN flags fa ON fa.vec_id = a.vec_id AND fa.is_bench
         |  JOIN lng b ON a.b_idx = b.b_idx AND a.band = b.band
         |  JOIN flags fb ON fb.vec_id = b.vec_id AND NOT fb.is_bench
         |), cs AS (
         |  SELECT bench_id, doc_id,
         |    list_sum(list_apply(range(${Similarity.Dim}),
         |      i -> ea.vq[(i + 1)::INT] * eb.vq[(i + 1)::INT]))::DOUBLE /
         |      (sqrt(ea.nn::DOUBLE) * sqrt(eb.nn::DOUBLE)) AS c
         |  FROM cand JOIN e ea ON ea.vec_id = bench_id JOIN e eb ON eb.vec_id = doc_id
         |)
         |SELECT doc_id, count(*) AS n_bench_hits, round(max(c), 4) AS max_cos,
         |  min(bench_id) AS first_bench
         |FROM cs WHERE c >= $CosT
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
