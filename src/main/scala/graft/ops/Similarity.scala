package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField,
  StructType}
import graft.{QueryModule, Tables}

/** Similarity search over the `embeddings` table (SURVEY §7.2 step 6):
  * cosine top-k, brute-force and approximate.
  *
  *  - brute top-k:  a small broadcast query set scanned against the whole
  *                  corpus — one pass, no corpus shuffle, salted two-phase
  *                  top-k (the right plan when |Q| ≪ |corpus|).
  *  - LSH top-k:    random-hyperplane band bucketing (shared with
  *                  [[Dedup]]) prunes candidates to same-band vectors
  *                  before the exact re-rank — the scale path when |Q|
  *                  grows with the corpus.
  *  - kNN graph:    per-vector top-3 within LSH buckets — the all-corpus
  *                  ANN-graph building block.
  *  - IVF assign:   exact integer centroids per label + nearest-centroid
  *                  assignment — the coarse-quantizer half of an IVF index.
  *
  * Cross-engine determinism: floating-point sums reduce in whatever order
  * the engine picks, so a double dot product is not reproducible between
  * Spark and DuckDB. Instead every vector is quantized to Q?.20 fixed point
  * (`floor(x · 2^20)` as long — deterministic in both engines; components
  * here are < 0.53 so 64-term products stay ≪ 2^63). Dot products and
  * norms are then EXACT integer arithmetic — order-independent — and only
  * the final `dot / (√na·√nb)` runs in IEEE double, which is deterministic
  * given identical inputs. This mirrors int8-quantized ANN practice; the
  * ~1e-6 per-component quantization error is far below ranking resolution.
  */
object Similarity extends QueryModule {

  private val Scale = 1048576L // 2^20
  private[graft] val Dim = 64
  private[graft] val NumQueries = 8 // vec_id < 8 is the fixed demo query set
  private[graft] val TopK = 5
  private val GraphK = 3

  // ------------------------------------------------- LSH banding parameters
  //
  // The hazard these exist to avoid: with a FIXED band width the bucket
  // *count* is fixed, so bucket *population* grows linearly with the corpus
  // and candidate pairs (Σ bucket²) grow QUADRATICALLY. Two mechanisms keep
  // the candidate set linear in corpus size:
  //
  //  1. bits-per-band scales with log₂(corpus / TargetBucket): the bucket
  //     count grows with the corpus, holding the EXPECTED population near
  //     TargetBucket — expected pairs ≈ n·TargetBucket, i.e. linear.
  //  2. a bucket-size cap with one-level re-split: any bucket whose observed
  //     population exceeds BucketCap (data skew — clustered embeddings that
  //     share a sign pattern) is re-split by ReBits extra signature bits,
  //     cutting the skewed bucket into up to 2^ReBits sub-buckets.
  //
  // Both are mirrored verbatim in the DuckDB oracle SQL (the bits formula is
  // an integer CASE ladder — no float log₂ in either engine, so the two
  // sides can never disagree on a power-of-two boundary).
  private[graft] val BandCount = 2
  private[graft] val MinBandBits = 8 // = round-3 behavior at small SF
  private[graft] val MaxBandBits = 24
  private[graft] val TargetBucket = 16L // aimed-for expected bucket population
  private[graft] val BucketCap = 32L // observed population that triggers re-split
  private[graft] val ReBits = 8 // extra signature bits appended on re-split
  private[graft] val MaxPlanes = BandCount * MaxBandBits + ReBits

  /** ±1 hyperplane matrix derived from md5 parity — deterministic across
    * JVMs/sessions (no RNG), and interpolated as literals into both the
    * Spark plan and the oracle SQL so the two engines bucket identically.
    * Only the first `BandCount·bits + ReBits` rows are used at any given
    * corpus size.
    */
  private[ops] val hyperplanes: Array[Array[Double]] =
    Array.tabulate(MaxPlanes, Dim) { (p, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$i".getBytes("UTF-8"))
      if ((md(0) & 1) == 1) 1.0 else -1.0
    }

  /** Smallest band width (within [MinBandBits, MaxBandBits]) such that the
    * expected bucket population `n / 2^bits` is ≤ TargetBucket — i.e. bits
    * grows with log₂(n), so candidate pairs stay ~n·TargetBucket (linear)
    * instead of n²/2^bits (quadratic at fixed width). Integer arithmetic
    * only; [[bandBitsCaseSql]] is the same ladder in SQL.
    */
  private[graft] def bandBits(n: Long): Int = {
    var b = MinBandBits
    while (b < MaxBandBits && n > TargetBucket * (1L << b)) b += 1
    b
  }

  /** The [[bandBits]] ladder as a DuckDB CASE over `n` — exact integer
    * thresholds, generated from the same constants.
    */
  private[ops] def bandBitsCaseSql: String = {
    val clauses = (MinBandBits until MaxBandBits)
      .map(b => s"WHEN n <= ${TargetBucket * (1L << b)} THEN $b")
      .mkString(" ")
    s"CASE $clauses ELSE $MaxBandBits END"
  }

  // ------------------------------------------------------------ primitives

  /** float embedding → exact fixed-point long vector. */
  private[graft] def quantize(emb: Column): Column =
    transform(emb.cast("array<double>"), x => floor(x * Scale))

  /** Exact integer dot product (sequential fold, but order-independent
    * anyway since integer addition is associative). Backed by the native
    * codegen'd [[graft.functions.ArrayDot]] expression — the HOF
    * `aggregate`-over-`zip_with` construction it replaces is CodegenFallback
    * (interpreted lambda dispatch per candidate pair, plus an intermediate
    * product array); identical null semantics and fold order, so oracle
    * hashes are unchanged. Callers must hold a session where
    * [[graft.functions.ArrayDot.register]] has run ([[corpus]] /
    * [[labelled]] do this).
    */
  private[ops] def idot(a: Column, b: Column): Column =
    call_function("array_dot", a, b)

  /** Squared norm = `array_dot(a, a)` (see [[idot]]). */
  private[ops] def inorm2(a: Column): Column =
    call_function("array_dot", a, a)

  /** cosine from integer dot/norms — one deterministic double expression;
    * NULL for a zero vector, as the oracle's division by zero gives.
    */
  private[ops] def cosine(dot: Column, na2: Column, nb2: Column): Column =
    try_divide(dot.cast("double"), sqrt(na2.cast("double")) * sqrt(nb2.cast("double")))

  /** (vec_id, vq, n2) — quantized corpus with precomputed squared norm. */
  private[ops] def corpus(s: SparkSession, dir: String): DataFrame = {
    graft.functions.ArrayDot.register(s)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("vq"))
      .withColumn("n2", inorm2(col("vq")))
  }

  /** Salted two-phase top-k per group: phase 1 takes a local top-k inside
    * each of 64 salt buckets (64·|groups| parallel window partitions),
    * phase 2 picks the global top-k from the ≤ 64k survivors. Correct
    * because every candidate row lives in exactly one salt bucket, so the
    * true top-k always survives phase 1; scale-safe because no single task
    * ever sorts a whole group (the `txt_term_freq` lesson).
    */
  private def topKPerGroup(df: DataFrame, group: Seq[String], saltBy: String,
      k: Int, ord: Column*): DataFrame = {
    val salted = df.withColumn("salt", pmod(hash(col(saltBy)), lit(64)))
    val local = Window.partitionBy((group :+ "salt").map(col): _*).orderBy(ord: _*)
    val global = Window.partitionBy(group.map(col): _*).orderBy(ord: _*)
    salted
      .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= k)
      .withColumn("rnk", row_number().over(global)).filter(col("rnk") <= k)
      .drop("salt", "lrnk")
  }

  // --------------------------------------------------------- sim_brute_topk

  /** Exact top-5 cosine neighbors for the 8 query vectors. The query side is
    * broadcast (bytes, not a shuffle); the corpus streams through once with
    * no repartition — at 100 TB this is a single scan + a bounded-state
    * top-k, the optimal plan for few-query exact search.
    */
  def bruteTopK(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val q = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("vq").as("qv"), col("n2").as("qn2"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(idot(col("vq"), col("qv")), col("n2"), col("qn2")).as("cos"))
    topKPerGroup(scored, Seq("q_id"), "vec_id", TopK,
        col("cos").desc, col("vec_id").asc)
      .select(col("q_id"), col("vec_id"), col("rnk"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  // ------------------------------------------------------ sim_filtered_topk

  /** Metadata-FILTERED exact search — the "filtered vector search" every
    * production vector store exposes (pgvector WHERE clauses, Milvus/
    * Qdrant payload filters): per query vector, the top-[[TopK]] cosine
    * neighbors restricted to vectors sharing the query's label. The
    * filter changes the PLAN, not just the answer: the predicate becomes
    * the join key, so candidates come from a label equi-join (pair space
    * = Σ |query's label group| instead of query × corpus) — push the
    * filter into candidate generation, never score-then-discard. With a
    * selective predicate this beats the unfiltered index probe + post-
    * filter that loses recall (the classic filtered-ANN failure).
    *
    * Scale shape: the [[NumQueries]]-row query side broadcasts; the
    * corpus streams through the label hash join once; ranking is the
    * salted two-phase top-k (no task sorts a whole label group).
    */
  def filteredTopK(s: SparkSession, dir: String): DataFrame = {
    graft.functions.ArrayDot.register(s)
    val c = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("vq"))
      .withColumn("vn2", inorm2(col("vq")))
    val q = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("label"),
        col("vq").as("qv"), col("vn2").as("qn2"))
    val scored = c.join(broadcast(q), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(idot(col("vq"), col("qv")), col("vn2"), col("qn2")).as("cos"))
    topKPerGroup(scored, Seq("q_id"), "vec_id", TopK,
        col("cos").desc, col("vec_id").asc)
      .select(col("q_id"), col("vec_id"), col("rnk"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  // ----------------------------------------------------------- LSH banding

  /** (vec_id, b_idx, band): [[BandCount]] bands of `bandBits(corpus size)`
    * sign bits against the shared deterministic ±1 planes ([[hyperplanes]])
    * — signed integer sums of the quantized components, exact in both
    * engines. Oversize buckets (observed population > [[BucketCap]]) are
    * re-split by [[ReBits]] extra signature bits, so skewed sign-pattern
    * clusters can't produce a quadratic bucket-local self-join.
    *
    * The corpus count that picks the band width is one cheap job over the
    * (persisted) corpus — the classic stats-then-plan step of an adaptive
    * index build.
    *
    * Relational formulation (posexplode × broadcast plane table → grouped
    * sums → ordered re-concat) instead of per-row fold expressions: the
    * folds are interpreted HOF code and their generated classes dominate
    * cold time (2.2× measured); the grouped-sum shape is codegen'd with
    * map-side partials and produces bit-identical bands.
    */
  private[ops] def banded(c: DataFrame): DataFrame =
    bandedWithBits(c, bandBits(c.count()))

  /** [[banded]] at an explicit band width; `applyCap = false` exposes the
    * pre-re-split banding (spec instrumentation).
    */
  private[graft] def bandedWithBits(c: DataFrame, bits: Int,
      applyCap: Boolean = true): DataFrame = {
    import c.sparkSession.implicits._
    val needed = BandCount * bits + ReBits
    val planes = hyperplanes.take(needed).zipWithIndex.flatMap { case (w, p) =>
      w.zipWithIndex.map { case (v, i) => (p, i, v.toLong) }
    }.toSeq.toDF("p", "i", "w")
    val bitc = c.select(col("vec_id"), posexplode(col("vq")).as(Seq("i", "v")))
      .join(broadcast(planes), "i")
      .groupBy("vec_id", "p")
      .agg(sum(col("v") * col("w")).as("dot"))
      .select(col("vec_id"), col("p"),
        when(col("dot") >= 0, lit("1")).otherwise(lit("0")).as("c"))
    val lng0 = bitc.groupBy("vec_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("p"), col("c")))),
        x => x.getField("c")), "").as("sig"))
      .select(col("vec_id"), explode(array(
        (0 until BandCount).map(b =>
          struct(lit(b).as("b_idx"),
            substring(col("sig"), 1 + b * bits, bits).as("band"))): _*)).as("e"),
        substring(col("sig"), BandCount * bits + 1, ReBits).as("extra"))
      .select(col("vec_id"), col("e.b_idx").as("b_idx"), col("e.band").as("band"),
        col("extra"))
    if (!applyCap) lng0.drop("extra")
    else lng0
      .withColumn("pop", count(lit(1)).over(Window.partitionBy("b_idx", "band")))
      // extended bands are longer strings than plain ones — no collision
      .withColumn("band", when(col("pop") > BucketCap,
        concat(col("band"), col("extra"))).otherwise(col("band")))
      .select("vec_id", "b_idx", "band")
  }

  // ----------------------------------------------------------- sim_lsh_topk

  /** Approximate top-5 for the same query set: candidates are only vectors
    * sharing ≥ 1 LSH band with the query (an equi-join on (b_idx, band) —
    * shuffle-partitioned by bucket, never all-pairs), then exact cosine
    * re-rank. Expected bucket population is pinned near [[TargetBucket]] by
    * the log-scaled band width (plus the skew cap), so per-query candidates
    * stay O(BandCount·TargetBucket) at any corpus size; more/narrower bands
    * dial recall vs. candidates.
    */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val (lsh, release) = lshTopKWithRelease(s, dir)
    val out = Dedup.materializeThenRelease(lsh)
    release()
    out
  }

  /** [[lshTopK]] as a LAZY frame plus a hook releasing its two internal
    * caches (corpus + banded) — recallAtK composes it and calls the hook
    * after its own result materializes, avoiding an intermediate
    * materialization pass.
    */
  private def lshTopKWithRelease(
      s: SparkSession, dir: String): (DataFrame, () => Unit) = {
    val c = corpus(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = banded(c)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = b.as("a")
      .join(b.filter(col("vec_id") < NumQueries).as("q"),
        col("a.b_idx") === col("q.b_idx") && col("a.band") === col("q.band") &&
          col("a.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("a.vec_id").as("vec_id"))
      .dropDuplicates("q_id", "vec_id")
    val scored = cand
      .join(c.select(col("vec_id").as("q_id"), col("vq").as("qv"),
        col("n2").as("qn2")).hint("shuffle_hash"), "q_id")
      .join(c.hint("shuffle_hash"), "vec_id")
      .select(col("q_id"), col("vec_id"),
        cosine(idot(col("vq"), col("qv")), col("n2"), col("qn2")).as("cos"))
    val out = topKPerGroup(scored, Seq("q_id"), "vec_id", TopK,
        col("cos").desc, col("vec_id").asc)
      .select(col("q_id"), col("vec_id"), col("rnk"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
    (out, () => { c.unpersist(false); b.unpersist(false); () })
  }

  // --------------------------------------------------------- sim_knn_graph

  /** Corpus-wide approximate kNN graph: per-vector top-3 among same-band
    * candidates. The self-join is bucket-local (equi-join on (b_idx, band)),
    * so total pairs ≈ Σ bucket². With a FIXED band width that sum is
    * quadratic in corpus size (fixed bucket count ⇒ population ∝ n); here
    * the band width grows with log₂(n) ([[bandBits]]) holding expected
    * population near [[TargetBucket]], and skew-heavy buckets re-split at
    * [[BucketCap]] — so Σ bucket² ≈ n·TargetBucket stays linear.
    */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    // standalone query: materialize the edge list so the corpus/banded
    // caches can be released before returning (the one-extra-pass price of
    // the bounded-session invariant; composing consumers avoid it via the
    // lazy WithRelease form below)
    val (g, release) = knnGraphWithRelease(s, dir)
    val out = Dedup.materializeThenRelease(g)
    release()
    out
  }

  /** [[knnGraph]] as a LAZY frame plus a hook releasing its two internal
    * caches (corpus + banded). The graph consumers (PageRank, triangles,
    * BFS, recall) read the edge list exactly once into their own
    * materialized state, so no eager edge materialization is needed — the
    * caches populate during the consumer's first action and the hook drops
    * them once the consumer's result is materialized.
    */
  private def knnGraphWithRelease(
      s: SparkSession, dir: String): (DataFrame, () => Unit) = {
    val (scored, release) = scoredBandPairsWithRelease(s, dir)
    val out = topKPerGroup(scored, Seq("vec_id"), "nbr_id", GraphK,
        col("cos").desc, col("nbr_id").asc)
      .select(col("vec_id"), col("nbr_id"), col("rnk"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("vec_id", "rnk")
    (out, release)
  }

  /** Exact-cosine-scored banded candidate pairs `(vec_id, nbr_id, cos)` —
    * the directed same-band self-join every corpus-wide neighbor consumer
    * (knn graph, triplet mining) re-ranks — plus the hook releasing the
    * corpus/banded caches underneath.
    */
  private def scoredBandPairsWithRelease(
      s: SparkSession, dir: String): (DataFrame, () => Unit) = {
    val c = corpus(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = banded(c)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = b.as("a").join(b.as("b"),
        col("a.b_idx") === col("b.b_idx") && col("a.band") === col("b.band") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"))
      .dropDuplicates("vec_id", "nbr_id")
    // shuffle_hash on the payload side: SMJ would sort (pair × vector)
    // wide rows — the r15 factor-100 probe's disk-fill shape (see
    // Dedup.ngramJaccard); hash-building the bounded per-partition vector
    // slice streams the wide rows straight into the cosine projection.
    val scored = cand
      .join(c.hint("shuffle_hash"), "vec_id")
      .join(c.select(col("vec_id").as("nbr_id"), col("vq").as("nv"),
        col("n2").as("nn2")).hint("shuffle_hash"), "nbr_id")
      .select(col("vec_id"), col("nbr_id"),
        cosine(idot(col("vq"), col("nv")), col("n2"), col("nn2")).as("cos"))
    (scored, () => { c.unpersist(false); b.unpersist(false); () })
  }

  // --------------------------------------------------------- sim_triplets

  /** Triplet mining for contrastive embedding training — the DPR / SimCSE
    * data-prep step run at corpus scale: for every anchor with at least one
    * POSITIVE (its best same-band candidate at cosine ≥ [[SemT]]), the
    * [[GraphK]] HARDEST negatives — the highest-cosine candidates still
    * below the positive bar — with the margin `cos_pos − cos_neg` the
    * triplet loss will see. Anchors without a positive drop out (nothing
    * to contrast); negatives coming from the same banded candidate
    * generator is precisely what makes them hard (uniform-random negatives
    * are trivial at any corpus size, the classic mining failure).
    *
    * Scale shape: candidates are the bucket-local band self-join (linear
    * via the log-scaled band width + bucket cap — the knn_graph argument);
    * the scored frame persists ONCE and feeds both the positive top-1 and
    * the negative top-k (each the salted two-phase ranking); the pos↔neg
    * assembly joins two per-anchor-bounded frames (1 × GraphK rows).
    */
  def triplets(s: SparkSession, dir: String): DataFrame = {
    val (scored0, release) = scoredBandPairsWithRelease(s, dir)
    val scored = scored0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pos1 = topKPerGroup(scored.filter(col("cos") >= SemT),
        Seq("vec_id"), "nbr_id", 1, col("cos").desc, col("nbr_id").asc)
      .select(col("vec_id"), col("nbr_id").as("pos_id"),
        col("cos").as("cos_pos"))
    val neg = topKPerGroup(scored.filter(col("cos") < SemT),
        Seq("vec_id"), "nbr_id", GraphK, col("cos").desc, col("nbr_id").asc)
      .select(col("vec_id"), col("nbr_id").as("neg_id"), col("rnk"),
        col("cos").as("cos_neg"))
    val out = pos1.join(neg, "vec_id")
      .select(col("vec_id").as("anchor_id"), col("pos_id"), col("neg_id"),
        col("rnk"),
        round(col("cos_pos"), 6).as("cos_pos"),
        round(col("cos_neg"), 6).as("cos_neg"),
        round(col("cos_pos") - col("cos_neg"), 6).as("margin"))
      .orderBy("anchor_id", "rnk")
    val fin = Dedup.materializeThenRelease(out, scored)
    release()
    fin
  }

  // ------------------------------------------------------- sim_recall_at_k

  /** Offline ANN quality evaluation — recall@k of the LSH index against
    * brute-force ground truth, per query: the acceptance gate every
    * production ANN deployment runs before swapping an index in. Emits
    * hits and recall per query; a fleet-wide mean is one further
    * aggregate away.
    *
    * Scale shape: both sides reuse their existing scale-safe plans (brute
    * = single corpus scan + bounded top-k, LSH = banded candidates); the
    * comparison joins two |Q|·k row frames — bounded by construction.
    */
  def recallAtK(s: SparkSession, dir: String): DataFrame = {
    val truth = bruteTopK(s, dir).select(col("q_id"), col("vec_id"))
    val (lsh, releaseLsh) = lshTopKWithRelease(s, dir)
    val got = lsh.select(col("q_id").as("l_qid"), col("vec_id").as("l_vid"))
    val out = Dedup.materializeThenRelease(
      truth.join(got,
          col("q_id") === col("l_qid") && col("vec_id") === col("l_vid"), "left")
        .groupBy("q_id")
        .agg(count(col("l_vid")).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / TopK, 6).as("recall_at_k"))
        .orderBy("q_id"))
    releaseLsh()
    out
  }

  /** Recall@k of the COMPOSED IVF-PQ index ([[ivfPqTopK]]) against the
    * brute-force truth — the serving-quality metric that closes the ANN
    * evaluation loop on the flagship index (sim_recall_at_k measures the
    * LSH path; this measures the FAISS-style coarse-probe + ADC path, whose
    * misses come from two distinct mechanisms: probing the wrong inverted
    * list, and ADC quantization reordering the shortlist).
    *
    * Scale shape: both sides are the already-audited query plans; the
    * rollup is a broadcast-joined per-query count over NumQueries·k rows.
    * The IVF-PQ side's materialized output releases once the recall frame
    * lands (≤1 cached frame).
    */
  def recallIvfPq(s: SparkSession, dir: String): DataFrame = {
    val ivf = ivfPqTopK(s, dir)
    val truth = bruteTopK(s, dir).select(col("q_id"), col("vec_id"))
    val got = ivf.select(col("q_id").as("i_qid"), col("vec_id").as("i_vid"))
    Dedup.materializeThenRelease(
      truth.join(got,
          col("q_id") === col("i_qid") && col("vec_id") === col("i_vid"), "left")
        .groupBy("q_id")
        .agg(count(col("i_vid")).as("n_hits"))
        .select(col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / TopK, 6).as("recall_at_k"))
        .orderBy("q_id"),
      ivf)
  }

  /** Recall@k of the graph-search beam ([[graphSearch]]) against the
    * brute-force truth — the third serving family's acceptance audit (LSH
    * has [[recallAtK]], IVF-PQ has [[recallIvfPq]]; with this every ANN
    * serving path in the module carries its own measured quality gate).
    * Beam misses have their own two mechanisms: truth sitting beyond
    * [[BeamHops]] hops of the entry node, and beam-width eviction mid-walk
    * — exactly the trades HNSW tuning dials (efSearch/M) control.
    *
    * Scale shape: both sides are the already-audited query plans; the
    * rollup joins two |Q|·k bounded frames.
    */
  def recallGraph(s: SparkSession, dir: String): DataFrame = {
    val truth = bruteTopK(s, dir).select(col("q_id"), col("vec_id"))
    val got = graphSearch(s, dir)
      .select(col("q_id").as("g_qid"), col("vec_id").as("g_vid"))
    truth.join(got,
        col("q_id") === col("g_qid") && col("vec_id") === col("g_vid"), "left")
      .groupBy("q_id")
      .agg(count(col("g_vid")).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits").cast("double") / TopK, 6).as("recall_at_k"))
      .orderBy("q_id")
  }

  // --------------------------------------------------------- sim_graph_rank

  private val Damp = 0.85      // PageRank damping factor
  private val RankIters = 3    // fixed power-method rounds

  /** PageRank-style quality propagation over the [[knnGraph]] — the link-
    * analysis signal a training-data pipeline uses to promote documents
    * whose nearest-neighbor structure is central (well-connected regions of
    * embedding space) and demote isolates: r ← (1−d)/N + d·Σ r(u)/deg(u)
    * over in-edges, [[RankIters]] fixed power-method rounds from a uniform
    * start. Nodes outside the graph (no candidates, or dangling) still hold
    * the (1−d)/N floor; dangling mass is NOT redistributed (the simple
    * variant — documented contract, same in the oracle).
    */
  def graphRank(s: SparkSession, dir: String): DataFrame = {
    val (g, release) = knnGraphWithRelease(s, dir)
    val out = graphRankOf(
      g.select(col("vec_id").as("src"), col("nbr_id").as("dst")),
      Tables.embeddings(s, dir).select("vec_id"))
    release() // graphRankOf has materialized its final vector by now
    out
  }

  /** The power-method core over an explicit (src, dst) edge frame and a
    * vec_id node frame — factored for fixture tests with hand-computable
    * ranks.
    *
    * Scale shape per round: one equi-join of edges against the current rank
    * vector (both partitioned by src) + one groupBy dst with map-side
    * partials — the classic distributed PageRank step; edges persist across
    * the [[RankIters]] rounds so the LSH candidate build runs once. A FIXED
    * iteration count keeps plan lineage bounded (contrast
    * [[graft.ops.Dedup.labelPropagate]]'s localCheckpoint loop).
    *
    * Cross-engine determinism — the r9 lesson: rounding a DOUBLE quotient
    * per contribution (`round(d·r/deg, 12)`) diverged between engines at a
    * tie/ulp boundary (Spark rounds doubles via BigDecimal HALF_UP, DuckDB
    * via libm), and the error compounds through the recurrence. The entire
    * recurrence is therefore SCALED-INTEGER: ranks live as BIGINT `r12`
    * (rank × 10¹²), each contribution is `(r12 × 85) DIV (100 × deg)` —
    * exact integer division, bit-identical in any engine — and each round
    * adds `(15·10¹⁰ DIV n) + Σ inflow` in exact BIGINT.
    *
    * The final projection is `r12 :: DOUBLE / 10¹²` — NOT a DECIMAL. The
    * r10 lesson: the recurrence was already bit-identical in both engines,
    * but a DECIMAL(24,12) output column still hash-mismatched in the
    * harness compare, because readers normalize DECIMAL differently
    * (float64 vs exact-`Decimal` stringification) and these were the only
    * two queries in the suite emitting DECIMAL at all. DOUBLE is the
    * suite's proven interchange type (127 green queries), and this exact
    * conversion is engine-stable: r12 < 2⁵³ converts exactly, 10¹² is an
    * exactly-representable divisor, and IEEE division is correctly rounded
    * — one deterministic double on every engine.
    */
  private[graft] def graphRankOf(edgeList: DataFrame, nodeList: DataFrame): DataFrame = {
    // The node count is a DRIVER literal (r19): nodeList is a bare id
    // projection (a metadata-cheap count job), and burning n into the
    // recurrence as a literal removes the 1-row `nn` broadcast build that
    // every round's plan re-joined — same exact BIGINT arithmetic, one
    // less broadcast exchange per round. It also sizes the edge cache's
    // partitioning from data (guide §2, scale-adaptive): ~4 edges/node at
    // GraphK = 3, ~128 MB partitions at any scale, single-task loop
    // stages on fixture-sized graphs.
    val n = nodeList.count()
    if (n == 0) return emptyRanks(nodeList)
    // Repartitioned by src BEFORE the persist (r18, guide §2.4): every
    // round joins edges⋈deg⋈rank on src and deg itself is a groupBy(src),
    // so the cached partitioning satisfies all of them — the edge frame
    // shuffles once for all [[RankIters]] rounds, and the degree aggregate
    // needs no exchange at all; only the n-row rank vector moves per round.
    val edges = edgeList
      .repartition(graft.ops.Dedup.adaptiveParts(4L * n), col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    var r = nodeList.select(col("vec_id"), lit(1000000000000L / n).as("r12"))
    for (_ <- 1 to RankIters) {
      val inflow = edges.join(deg, "src")
        .join(r.select(col("vec_id").as("src"), col("r12")), "src")
        .select(col("dst"), expr("r12 * 85 DIV (100 * deg)").as("c12"))
        .groupBy("dst").agg(sum(col("c12")).as("inflow12"))
      r = nodeList.join(inflow, col("vec_id") === col("dst"), "left")
        .select(col("vec_id"),
          (lit(150000000000L / n) + coalesce(col("inflow12"), lit(0L))).as("r12"))
    }
    // Materialize the final n-row vector, then release the edge cache: the
    // caller's action now reads ONE tiny InMemoryRelation instead of
    // keeping the full edge frame pinned in executor memory after the
    // query — at a 100× node set the leaked edge cache is real memory.
    // The final vector itself stays cached (it IS the result the returned
    // plan reads); CacheCleanupSpec pins the ≤1-frame invariant.
    val fin = r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fin.count()
    edges.unpersist(false)
    fin.select(col("vec_id"),
        (col("r12").cast("double") / lit(1e12)).as("pagerank"))
      .orderBy("vec_id")
  }

  /** The rank frame of an EMPTY node set: zero rows, the recurrence's
    * schema. The oracle's `... // n` over an empty CTE returns no rows;
    * the driver-literal recurrence would divide by n = 0 instead.
    */
  private def emptyRanks(nodeList: DataFrame): DataFrame =
    nodeList.select(col("vec_id"), lit(null).cast("double").as("pagerank"))
      .orderBy("vec_id")

  // ---------------------------------------------------- sim_graph_rank_full

  /** Standard-formulation PageRank over the [[knnGraph]]: [[graphRank]]
    * plus dangling-mass redistribution — each round, the rank mass held by
    * nodes with NO out-edges is shared equally across all nodes (the
    * textbook stochastic-matrix completion), so total mass is conserved up
    * to integer truncation: r ← (1−d)/N + d·(Σ_in r(u)/deg(u) + D/N) with
    * D = Σ over dangling v of r(v). On a kNN graph the dangling set is the
    * LSH isolates, so the full variant stops leaking their mass out of the
    * system each round.
    *
    * Same scaled-integer machinery as [[graphRankOf]] (nothing but BIGINT
    * inside the recurrence); the dangling mass is a 1-row scalar per round
    * — a LEFT ANTI of the rank vector against edge sources, summed, then
    * broadcast back onto the node frame. One extra tiny aggregate per
    * round; nothing corpus-scale is added.
    */
  def graphRankFull(s: SparkSession, dir: String): DataFrame = {
    val (g, release) = knnGraphWithRelease(s, dir)
    val out = graphRankFullOf(
      g.select(col("vec_id").as("src"), col("nbr_id").as("dst")),
      Tables.embeddings(s, dir).select("vec_id"))
    release()
    out
  }

  private[graft] def graphRankFullOf(edgeList: DataFrame, nodeList: DataFrame): DataFrame = {
    // n as a driver literal + data-derived edge partitioning — see
    // [[graphRankOf]] (r19)
    val n = nodeList.count()
    if (n == 0) return emptyRanks(nodeList)
    // src-partitioned before the persist — see [[graphRankOf]] (r18)
    val edges = edgeList
      .repartition(graft.ops.Dedup.adaptiveParts(4L * n), col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // deg feeds the per-round inflow join AND the dangling anti join;
    // it inherits the src partitioning (no exchange to build or join it)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var r = nodeList.select(col("vec_id"), lit(1000000000000L / n).as("r12"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to RankIters) {
      // each round consumes r TWICE (inflow join + dangling scalar);
      // without a persist the lineage re-executes ~2^round times (measured
      // 16.5 s vs 2.2 s for the single-consumer variant at sf0.1). The
      // cache is one n-row integer vector per round — trivially small —
      // but rounds must not ACCUMULATE: materialize round N, then
      // unpersist round N−1, so at any moment at most two vectors are
      // cached instead of RankIters of them (leaked executor memory at a
      // 100× node set). The materialization barrier IS the dangling-mass
      // aggregate (r19): the anti-join scan touches every partition of r,
      // so fetching the 1-row scalar to the driver (the ScaleUp
      // `agg(max).head` idiom — a bounded scalar, never corpus data)
      // replaces BOTH the former r.count() barrier job and the per-round
      // broadcast build, and the mass enters the recurrence as an exact
      // BIGINT literal — arithmetic unchanged.
      r = r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dm = r.join(deg.select(col("src").as("vec_id")), Seq("vec_id"), "left_anti")
        .agg(coalesce(sum(col("r12")), lit(0L)).as("dmass12"))
        .head().getLong(0)
      prev.foreach(_.unpersist(false))
      prev = Some(r)
      val inflow = edges.join(deg, "src")
        .join(r.select(col("vec_id").as("src"), col("r12")), "src")
        .select(col("dst"), expr("r12 * 85 DIV (100 * deg)").as("c12"))
        .groupBy("dst").agg(sum(col("c12")).as("inflow12"))
      r = nodeList.join(inflow, col("vec_id") === col("dst"), "left")
        .select(col("vec_id"),
          (lit(150000000000L / n) + coalesce(col("inflow12"), lit(0L)) +
            lit(dm * 85L / (100L * n))).as("r12"))
    }
    // Materialize the final vector, then release every superseded frame:
    // the last round's cached input, the edge list, and the degree table.
    // The returned plan reads only the one materialized n-row vector
    // (CacheCleanupSpec pins the ≤1-frame invariant).
    val fin = r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fin.count()
    prev.foreach(_.unpersist(false))
    edges.unpersist(false)
    deg.unpersist(false)
    fin.select(col("vec_id"),
        (col("r12").cast("double") / lit(1e12)).as("pagerank"))
      .orderBy("vec_id")
  }

  // --------------------------------------------------------- sim_triangles

  /** Triangle counts + local clustering coefficients over the [[knnGraph]] —
    * the community-structure signal (a node whose neighbors also neighbor
    * each other sits in a dense semantic cluster; clustering ≈ 0 flags
    * hub-like or noisy embeddings).
    *
    * Scale shape is the Schank-style ORIENTED wedge join: symmetrize + dedup
    * the kNN edges, then orient every undirected edge from its
    * (degree, id)-smaller endpoint to the larger. Each triangle {u≺v≺w} then
    * exists as exactly ONE wedge e(u,v)⋈e(v,w) closed by e(u,w), and —
    * the load-bearing property at 100 TB — out-degree under degree
    * orientation is O(√m) even on power-law graphs, so the wedge join's
    * fan-out is Σ outdeg² ≈ m^1.5 worst-case instead of the Σ deg²
    * hub-explosion of the naive direction. The closing check is a LEFT SEMI
    * (wedges never fan out further). Edges/degrees persist across the three
    * self-join consumers.
    */
  def triangleStats(s: SparkSession, dir: String): DataFrame = {
    val (g, release) = knnGraphWithRelease(s, dir)
    val out = triangleStatsOf(g
      .select(least(col("vec_id"), col("nbr_id")).as("a"),
        greatest(col("vec_id"), col("nbr_id")).as("b"))
      .distinct())
    release() // triangleStatsOf has materialized its per-node stats by now
    out
  }

  /** The oriented-wedge core over an undirected edge frame (a < b, distinct)
    * — factored for fixture tests with hand-countable triangles.
    */
  private[graft] def triangleStatsOf(undirected: DataFrame): DataFrame = {
    val und = undirected
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val orient = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tri = orient.as("e1")
      .join(orient.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
      .join(orient.as("e3"),
        col("u") === col("e3.src") && col("w") === col("e3.dst"), "left_semi")
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val out = deg.filter(col("deg") >= 2)
      .join(perNode, col("v") === col("node"), "left")
      .select(col("v").as("vec_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(coalesce(col("n_tri"), lit(0L)) * lit(2.0)
          / (col("deg") * (col("deg") - 1)), 6).as("clustering"))
      .orderBy("vec_id")
    Dedup.materializeThenRelease(out, und, deg, orient)
  }

  // --------------------------------------------------------- sim_bfs_reach

  private val ReachHops = 3 // fixed traversal depth

  /** Bounded multi-hop reachability over the [[knnGraph]]: for each of the
    * [[NumQueries]] seed vectors, the count of distinct nodes within 1, 2,
    * and [[ReachHops]] undirected hops — the neighborhood-growth profile
    * that separates centrally-embedded documents (fast expansion) from
    * isolates, and the connectivity audit run before trusting graph-based
    * label propagation.
    *
    * Scale shape: a FIXED number of frontier expansions, each one equi-join
    * of the current frontier against the symmetric edge list (both keyed on
    * the node id) followed by a distinct — never unbounded iteration, and
    * the frontier is |seeds|·reach bounded. The per-seed distinct count is
    * a hash aggregate; nothing scales with more than edges × hops.
    */
  def bfsReach(s: SparkSession, dir: String): DataFrame = {
    val (g, releaseKnn) = knnGraphWithRelease(s, dir)
    // |sym edges| ≤ 2·GraphK·n — partition count from the metadata-cheap
    // node count (guide §2, scale-adaptive; see graphRankOf)
    val nNodes = Tables.embeddings(s, dir).select("vec_id").count()
    val und = g
      .select(least(col("vec_id"), col("nbr_id")).as("a"),
        greatest(col("vec_id"), col("nbr_id")).as("b"))
      .distinct()
    val edges = und
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // every hop joins on src — shuffle once (r18)
      .repartition(Dedup.adaptiveParts(8L * nNodes), col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = corpus(s, dir).select(col("vec_id"))
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("seed"), col("vec_id").as("node"))
    // reached(h) = nodes within ≤ h hops, seed included at h = 0
    val reached = (1 to ReachHops).scanLeft(seeds) { (acc, _) =>
      acc.join(edges, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node"))
        .union(acc)
        .distinct()
    }
    val counts = reached.zipWithIndex.drop(1).map { case (r, h) =>
      r.groupBy("seed").agg((count(lit(1)) - 1).as(s"reach_$h"))
    }
    val out = Dedup.materializeThenRelease(
      counts.reduce((x, y) => x.join(y, "seed")).orderBy("seed"), edges)
    releaseKnn()
    out
  }

  // ------------------------------------------------------- sim_graph_search

  private[graft] val BeamW = 8    // beam width (candidates kept per round)
  private[graft] val BeamHops = 3 // fixed greedy-expansion rounds

  /** Graph-based ANN serving — greedy beam search over the [[knnGraph]],
    * the HNSW/DiskANN layer-0 pattern and the third ANN serving family
    * beside the IVF probes and the LSH buckets: no clustering or banding
    * at query time, just the neighbor graph the corpus already maintains.
    * Every query enters at one fixed entry node (the min-id non-query
    * vector — deterministic, the single-entry-point design HNSW uses);
    * each of [[BeamHops]] fixed rounds expands the beam to its graph
    * neighbors, rescores every candidate by exact fixed-point cosine
    * against the query, and keeps the best [[BeamW]] (ties to the smaller
    * id). The final beam's top [[TopK]] is the answer.
    *
    * Scale shape: the symmetric edge list builds once from the knn graph
    * and persists across rounds; after that NOTHING is corpus-scale — the
    * frontier is bounded by |queries|·BeamW·(GraphK+1), so each round is
    * one bounded equi-join against edges, one join to attach candidate
    * vectors, one broadcast of the 8-row query side, and a salted top-B.
    * A FIXED hop count keeps plan lineage bounded (the bfsReach
    * precedent). Recall is graph-dependent by design — that trade is the
    * operator; [[recallAtK]] is the family's measuring stick.
    */
  def graphSearch(s: SparkSession, dir: String): DataFrame = {
    val (g, releaseKnn) = knnGraphWithRelease(s, dir)
    val c = corpus(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = graphSearchOf(g.select(col("vec_id"), col("nbr_id")), c)
    c.unpersist(false)
    releaseKnn()
    out
  }

  /** The beam-search core over an explicit directed edge frame
    * (vec_id, nbr_id) and a quantized corpus (vec_id, vq, n2) — factored
    * for fixture tests with hand-computable beams.
    */
  private[graft] def graphSearchOf(edges: DataFrame, vecs: DataFrame): DataFrame = {
    // |sym edges| ≤ 2·GraphK·n; vecs is either the caller's persisted
    // corpus (the count doubles as its cache populate — the beam loop
    // reads it every hop anyway) or a fixture frame (guide §2,
    // scale-adaptive partitioning; see graphRankOf)
    val nNodes = vecs.count()
    val und = edges
      .select(least(col("vec_id"), col("nbr_id")).as("a"),
        greatest(col("vec_id"), col("nbr_id")).as("b"))
      .distinct()
    val sym = und
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // every beam hop joins on src — shuffle once (r18)
      .repartition(Dedup.adaptiveParts(8L * nNodes), col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("vq").as("qv"), col("n2").as("qn2"))
    val entry = broadcast(vecs.filter(col("vec_id") >= NumQueries)
      .agg(min(col("vec_id")).as("node")))
    // (q_id, node, cos, rnk); round 0 = every query parked at the entry node
    var beam = q.select(col("q_id")).crossJoin(entry)
    for (_ <- 1 to BeamHops) {
      val cand = beam.select(col("q_id"), col("node"))
        .join(sym, col("node") === col("src"))
        .select(col("q_id"), col("dst").as("node"))
        .unionByName(beam.select(col("q_id"), col("node")))
        .distinct()
        .filter(col("node") =!= col("q_id")) // a query never reports itself
      val scored = cand
        .join(vecs.select(col("vec_id").as("node"), col("vq"), col("n2")), "node")
        .join(broadcast(q), "q_id")
        .select(col("q_id"), col("node"),
          cosine(idot(col("vq"), col("qv")), col("n2"), col("qn2")).as("cos"))
      // single-window top-B (r19): the beam invariant bounds every q_id
      // group at ≤ BeamW·(GraphK+2) candidates AT ANY CORPUS SIZE, so the
      // salted two-phase ranking (built so no task ever sorts an unbounded
      // group) would just add one exchange+sort per hop for nothing —
      // same ordering, same ties, identical rows survive.
      beam = scored
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cos").desc, col("node").asc)))
        .filter(col("rnk") <= BeamW)
    }
    val out = beam.filter(col("rnk") <= TopK)
      .select(col("q_id"), col("node").as("vec_id"), col("rnk"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
    Dedup.materializeThenRelease(out, sym)
  }

  // --------------------------------------------------------- sim_sq_encode

  /** Scalar quantization (SQ8) — the third leg of the compression family
    * beside the IVF coarse quantizer and PQ: each dimension linearly maps
    * to an 8-bit code against its corpus [min, max], an 8× shrink with
    * per-vector reconstruction RMSE reported (the accuracy audit a
    * pipeline runs before swapping SQ in for raw floats). Codes are pinned
    * by a position-weighted checksum; RMSE is EXACT up to the final two
    * IEEE ops — the error term e = 255·v − (255·mn + code·(mx − mn)) is
    * integer arithmetic (no decode rounding at all), squared in long and
    * summed as DECIMAL, so both engines sqrt the same number.
    *
    * Scale shape: per-dim stats are one posexplode + 64-group partial
    * aggregate; the stats ride a 64-row broadcast back onto the exploded
    * frame (persisted — it feeds both); encode/error are per-row
    * expressions and the final fold is a doc-keyed hash aggregate.
    */
  def sqEncode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ex = corpus(s, dir)
      .select(col("vec_id"), posexplode(col("vq")).as(Seq("pos", "v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dim = ex.groupBy("pos").agg(min("v").as("mn"), max("v").as("mx"))
    ex.join(broadcast(dim), "pos")
      .withColumn("code", when(col("mx") === col("mn"), lit(0L))
        .otherwise(expr("((v - mn) * 255) DIV (mx - mn)")))
      .withColumn("err255",
        col("v") * 255 - (col("mn") * 255 + col("code") * (col("mx") - col("mn"))))
      .groupBy("vec_id")
      .agg(sum(col("code") * (col("pos") + 1)).as("code_checksum"),
        sum((col("err255") * col("err255")).cast(DecimalType(38, 0))).as("se"))
      .select(col("vec_id"), col("code_checksum"),
        round(sqrt(col("se").cast("double") / Dim) / (255.0 * Scale), 6).as("rmse"))
      .orderBy("vec_id")
      .transform(Dedup.materializeThenRelease(_, ex))
  }

  // -------------------------------------------------------- sim_ivf_assign

  /** (vec_id, label, vq) — the quantized, labelled corpus every centroid
    * query starts from.
    */
  private def labelled(s: SparkSession, dir: String): DataFrame = {
    graft.functions.ArrayDot.register(s)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("vq"))
  }

  /** Exact centroids held on the driver: one `(group, mean vector)` per
    * non-empty group, sorted by group so the literal plan — and the class
    * Spark's codegen cache keys on — is the same every run.
    */
  private[graft] final case class Centroids(
      groupType: DataType, byGroup: Seq[(Option[Any], Array[Double])])

  /** The one centroid build, from a (g, vq) frame: ONE aggregate of the
    * exact integer sufficient statistics `sum(v), count(*)` per (g, pos),
    * partial-aggregated map-side and collected to the driver — |groups|·
    * [[Dim]] rows, independent of corpus size. The driver divides
    * `sv.toDouble / cnt`, the oracle's correctly-rounded `sv::DOUBLE / cnt`.
    * A vector without components (a null embedding) feeds no group.
    */
  private[graft] def centroidsOf(grouped: DataFrame): Centroids =
    Centroids(grouped.schema("g").dataType,
      grouped.select(col("g"), posexplode(col("vq")).as(Seq("pos", "v")))
        .groupBy("g", "pos")
        .agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
        .collect().toSeq
        .groupBy(r => Option(r.get(0)))
        .map { case (g, rs) =>
          g -> rs.sortBy(_.getInt(1)).map(r => r.getLong(2).toDouble / r.getLong(3)).toArray }
        .toSeq.sortBy(_._1.map(_.toString)))

  /** The label-seeded centroids of a (…, label, vq) frame. */
  private def labelCentroids(e: DataFrame): Centroids =
    centroidsOf(e.select(col("label").as("g"), col("vq")))

  /** One `struct(cos, neg, label)` per literal centroid, scored against the
    * row's `vq`. Struct order is the oracle's `cos DESC, c_label ASC`
    * ranking: max cosine, ties to the smaller label. A zero vector scores
    * NULL, as the oracle's division by zero does; NULL ranks below every
    * cosine in both engines, so such a vector goes to the smallest label.
    */
  private def centroidScores(cents: Centroids): Seq[Column] =
    cents.byGroup.map { case (g, cv) =>
      val c = typedLit(cv)
      val label = lit(g.orNull).cast(cents.groupType)
      val dot = call_function("array_dot", col("vq").cast("array<double>"), c)
      val den = sqrt(inorm2(col("vq")).cast("double")) * sqrt(call_function("array_dot", c, c))
      struct(try_divide(dot, den).as("cos"), (-label).as("neg"), label.as("label"))
    }

  /** The type of a [[centroidScores]] struct: with no centroid (no vector
    * has a component) the rankings below are typed nulls, and callers
    * keep no rows.
    */
  private def scoreType(cents: Centroids): StructType = StructType(Seq(
    StructField("cos", DoubleType), StructField("neg", cents.groupType),
    StructField("label", cents.groupType)))

  /** The nearest centroid as `struct(cos, neg, label)` — a row-wise
    * `greatest` over [[centroidScores]] (it needs ≥ 2 arguments; one
    * centroid stands alone).
    */
  private[graft] def nearest(cents: Centroids): Column = centroidScores(cents) match {
    case Seq() => lit(null).cast(scoreType(cents))
    case Seq(c) => c
    case cs => greatest(cs: _*)
  }

  /** The `k` nearest centroids, best first, as an array of the
    * [[centroidScores]] structs (shorter when fewer centroids exist).
    */
  private[graft] def nearestK(cents: Centroids, k: Int): Column =
    if (cents.byGroup.isEmpty) lit(null).cast(ArrayType(scoreType(cents)))
    else slice(sort_array(array(centroidScores(cents): _*), asc = false), 1, k)

  /** (vec_id, label, vq, assigned, cos) — nearest-centroid assignment, the
    * shared core of [[ivfAssign]], [[kmeansStep]] and the clustering audits:
    * the label-seeded centroids are built on the driver and every vector is
    * assigned ROW-WISE by [[nearest]] — no join, no broadcast, no argmax
    * shuffle.
    */
  private def assignments(s: SparkSession, dir: String): DataFrame = {
    val e = labelled(s, dir)
    val cents = labelCentroids(e)
    e.where(lit(cents.byGroup.nonEmpty))
      .select(col("vec_id"), col("label"), col("vq"), nearest(cents).as("best"))
      .select(col("vec_id"), col("label"), col("vq"),
        col("best.label").as("assigned"), col("best.cos").as("cos"))
  }

  /** IVF coarse quantizer: every vector assigned to its max-cosine
    * label-seeded centroid; `hit` reports whether the quantizer recovers
    * the generating label.
    */
  def ivfAssign(s: SparkSession, dir: String): DataFrame =
    assignments(s, dir)
      .select(col("vec_id"), col("label"), col("assigned"),
        (col("label") === col("assigned")).as("hit"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("vec_id")

  // ------------------------------------------------------------- sim_drift

  /** Per-dimension |z| above which a dimension counts as drifted (≈ 3σ —
    * the conventional two-sample alarm level).
    */
  private val DriftZ = 3.0

  /** Embedding distribution drift monitor — the check every production
    * vector pipeline runs when a new encoder build or corpus batch lands:
    * split the corpus into a reference and an arriving population (vec_id
    * parity — deterministic, and parity-stable under the scaling replica's
    * even id strides) and, per label, run a per-DIMENSION two-sample
    * z-test on the component distributions (a Welch-STYLE unpooled
    * standard error built from POPULATION variances Σv²/n − m², not the
    * n−1 sample estimator — at monitoring populations the bias is
    * negligible and the population form keeps the fixture's hand-computed
    * z = 4 exact; a textbook Welch test would divide by n−1). Emits per
    * label both population sizes, how many of the [[Dim]] dimensions drifted
    * (|z| > [[DriftZ]]) and the worst |z| — on an i.i.d. split these sit
    * at the 3σ false-positive floor, and a real encoder/ingest shift
    * lights up specific dimensions long before top-k overlap metrics
    * move.
    *
    * Determinism: all sufficient statistics are exact BIGINTs over the
    * Q.20 quantized components (Σv, Σv², n — order-independent; |v| ≤ 2²⁰
    * so Σv² stays far under 2⁶³ at any realistic volume); means,
    * population variances, and z are then IDENTICAL double expressions in both
    * engines (the ev_anomaly rule), with the zero-variance guard emitting
    * z = 0 deterministically.
    *
    * Scale shape: one posexplode fans each vector into [[Dim]] component
    * rows whose (label, par, pos) aggregate partial-combines map-side onto
    * a ≤ |labels|·2·[[Dim]] frame; everything after runs on that bounded
    * frame. No joins touch the corpus; the final rollup is |labels| rows.
    */
  def drift(s: SparkSession, dir: String): DataFrame =
    driftOf(Tables.embeddings(s, dir))

  private[graft] def driftOf(emb: DataFrame): DataFrame = {
    val stats = emb
      .select(col("label"), (col("vec_id") % 2).cast("long").as("par"),
        posexplode(quantize(col("embedding"))).as(Seq("pos", "v")))
      .groupBy("label", "par", "pos")
      .agg(sum("v").as("sv"), sum(col("v") * col("v")).as("sq"),
        count(lit(1)).as("n"))
    val ref = stats.filter(col("par") === 0)
      .select(col("label"), col("pos"), col("sv").as("sv0"),
        col("sq").as("sq0"), col("n").as("n0"))
    val arriving = stats.filter(col("par") === 1)
      .select(col("label"), col("pos"), col("sv").as("sv1"),
        col("sq").as("sq1"), col("n").as("n1"))
    def m(sv: String, n: String) = col(sv).cast("double") / col(n)
    def variance(sq: String, n: String, mean: Column) =
      col(sq).cast("double") / col(n) - mean * mean
    val m0 = m("sv0", "n0")
    val m1 = m("sv1", "n1")
    val se2 = variance("sq0", "n0", m0) / col("n0") +
      variance("sq1", "n1", m1) / col("n1")
    ref.join(arriving, Seq("label", "pos"))
      .withColumn("z",
        when(se2 > 0, abs(m0 - m1) / sqrt(se2)).otherwise(lit(0.0)))
      .groupBy("label")
      .agg(max("n0").as("n_ref"), max("n1").as("n_new"),
        sum(when(col("z") > DriftZ, 1L).otherwise(0L)).as("n_drifted_dims"),
        round(max("z"), 6).as("max_abs_z"))
      .orderBy("label")
  }

  // ----------------------------------------------------- sim_outlier_prune

  /** Per-centroid keep fraction: vectors below their assigned centroid's
    * p5 cosine cut are flagged — the conventional "drop the worst few
    * percent" cleaning dial.
    */
  private val OutlierP = 0.05

  /** Embedding outlier mining — the cleaning pass SemDeDup-era data
    * pipelines run BEFORE dedup: a vector far from every centroid is more
    * often junk (encoder failure, off-distribution content, mislabeled
    * modality) than signal, and pruning it cheapens every downstream
    * pairwise stage. Each vector is assigned to its nearest label-seeded
    * centroid (the shared [[assignments]] core), and per CENTROID the p5
    * cosine cut comes from [[Quantiles.exact]] — bounded-state distributed
    * rank selection, NOT the value-buffering `percentile` aggregate
    * (cosines are near-unique doubles; this is exactly the domain the r16
    * verdict flagged as fatal-at-billions). A vector is an outlier when
    * its cosine sits strictly below its centroid's cut.
    *
    * Determinism: per-row cosines are the sequential-fold `array_dot`
    * doubles both engines share; the cut is an interpolated order
    * statistic over identical multisets (selection, never engine-ordered
    * double summation), so the strict `<` verdict can't flip across
    * engines even on a boundary tie.
    *
    * Scale shape: the assignment is row-wise against driver-held
    * centroids; its frame is persisted once and released after the plan
    * materializes (it feeds both the cut selection and the verdict join);
    * the cuts frame is |centroids| rows, broadcast onto the verdicts.
    * Quantiles.exact adds two corpus-scale exchanges with every window
    * cell bounded at ~n/128 rows — spill-safe at any volume.
    */
  def outlierPrune(s: SparkSession, dir: String): DataFrame = {
    val a = assignments(s, dir)
      .select(col("vec_id"), col("label"), col("assigned"), col("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cuts = Quantiles.exact(a, Seq("assigned"), "cos",
      Seq("c_lo" -> OutlierP))
    // a cluster whose cosines are all NULL (zero vectors only) has no cut
    // row but keeps its own, as the oracle's quantile_cont gives; the
    // oracle's equi-join drops a NULL cluster
    val out = a.where(col("assigned").isNotNull).join(broadcast(cuts), Seq("assigned"), "left")
      .select(col("vec_id"), col("label"), col("assigned"),
        round(col("cos"), 6).as("cos_sim"),
        round(col("c_lo"), 6).as("cut_lo"),
        (col("cos") < col("c_lo")).as("outlier"))
      .orderBy("vec_id")
    Dedup.materializeThenRelease(out, a, cuts)
  }

  // ----------------------------------------------------- sim_cluster_purity

  /** External clustering evaluation — per-centroid PURITY of the IVF coarse
    * quantizer against the ground-truth `label` column: cluster size, the
    * majority true label (ties to the smaller label), and its share. The
    * corpus-level purity is the cluster_size-weighted mean of the shares —
    * derivable from these rows; emitting per-cluster keeps the output a
    * quality dashboard, not one number.
    *
    * Scale shape: the row-wise nearest-centroid assignment, then two hash
    * aggregates — (assigned, label) counts with map-side partials (bounded
    * by |centroids|·|labels| groups), then the per-centroid majority via
    * max_by over those tiny group rows. Nothing after the first aggregate
    * scales with the corpus.
    */
  def clusterPurity(s: SparkSession, dir: String): DataFrame =
    assignments(s, dir)
      .groupBy("assigned", "label").agg(count(lit(1)).as("n"))
      .groupBy("assigned")
      .agg(sum("n").as("cluster_size"),
        max_by(col("label"), struct(col("n"), (-col("label")).as("neg")))
          .as("majority_label"),
        max("n").as("majority_n"))
      .withColumn("purity",
        round(col("majority_n").cast("double") / col("cluster_size"), 6))
      .orderBy("assigned")

  // ------------------------------------------------------ sim_ivf_balance

  /** IVF posting-list balance audit — the index-health table an ANN
    * serving team reads before the quantizer ships: per coarse centroid
    * the inverted-list size, its corpus share, and the imbalance factor
    * (list_size / ideal uniform size). Serving cost per probe is
    * proportional to the probed lists' sizes, so a hot list at imbalance
    * 3 means every query probing it scans 3× the budgeted candidates —
    * the p99-latency killer list-rebalance (or centroid re-train) exists
    * to fix. [[clusterPurity]] grades label agreement, [[silhouette]]
    * grades geometric fit; this grades the SERVING cost profile.
    *
    * Scale shape: the shared row-wise nearest-centroid assignment then ONE
    * hash aggregate onto |centroids| rows; share and imbalance are windows
    * over that bounded frame. Exact integers until one double division.
    */
  def ivfBalance(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    assignments(s, dir)
      .groupBy("assigned").agg(count(lit(1)).as("list_size"))
      .withColumn("share", round(col("list_size").cast("double")
        / sum("list_size").over(w), 6))
      .withColumn("imbalance", round(col("list_size").cast("double")
        * count(lit(1)).over(w) / sum("list_size").over(w), 6))
      .select("assigned", "list_size", "share", "imbalance")
      .orderBy("assigned")
  }

  // ------------------------------------------------------- sim_silhouette

  /** INTERNAL clustering evaluation — the simplified silhouette (distance
    * to own centroid vs distance to the best OTHER centroid) per cluster:
    * for every vector, a = 1 − cos(own), b = 1 − cos(second-best),
    * s = (b − a) / max(a, b) ∈ [−1, 1]; per cluster the median s (the
    * robust center — silhouettes are skewed), the minimum, and how many
    * members sit at s < 0, i.e. are closer to ANOTHER centroid than their
    * own — the rows a re-assignment pass would move. [[clusterPurity]]
    * grades the quantizer against ground-truth labels; this grades it
    * with no labels at all — the acceptance audit that still works on
    * unlabeled production corpora. Simplified (centroid-based) silhouette
    * deliberately: the classic all-pairs formula is O(n²) and dies at
    * scale, while this one is O(n·|centroids|) — the same reason
    * large-scale libraries ship it.
    *
    * Determinism: per-row cosines are the sequential-fold `array_dot`
    * doubles both engines share; s is ONE fixed expression over the two
    * cosines mirrored token-for-token; the median rides
    * [[Quantiles.exact]]'s bounded-state rank selection (never the
    * value-buffering `percentile` — silhouettes are near-unique doubles);
    * min and the s < 0 count are order-independent.
    *
    * Scale shape: best + runner-up are ONE row-wise column — the top 2 of
    * [[nearestK]] over the driver-held centroids, no join and no shuffle;
    * the rollup is |centroids| rows + the bounded-state median.
    */
  def silhouette(s: SparkSession, dir: String): DataFrame = {
    val e = labelled(s, dir)
    val cents = labelCentroids(e)
    // get() reads a missing runner-up (a one-centroid corpus) as NULL
    val top2 = e.where(lit(cents.byGroup.nonEmpty))
      .select(col("vec_id"), nearestK(cents, 2).as("t2"))
      .select(col("vec_id"),
        get(col("t2"), lit(0)).getField("label").as("assigned"),
        get(col("t2"), lit(0)).getField("cos").as("cos1"),
        get(col("t2"), lit(1)).getField("cos").as("cos2"))
    val sil = top2.select(col("vec_id"), col("assigned"),
      ((lit(1.0) - col("cos2")) - (lit(1.0) - col("cos1"))).as("num"),
      greatest(lit(1.0) - col("cos1"), lit(1.0) - col("cos2")).as("den"))
      .select(col("vec_id"), col("assigned"),
        when(col("den") > 0, col("num") / col("den")).otherwise(lit(0.0))
          .as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val med = Quantiles.exact(sil, Seq("assigned"), "s",
      Seq("median_sil" -> 0.5))
    // a cluster whose silhouettes are all NULL (one centroid: no runner-up)
    // has no median row but keeps its own, as the oracle's quantile_cont
    // gives; the oracle's equi-join drops a NULL cluster
    val out = sil.where(col("assigned").isNotNull).groupBy("assigned")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("s") < 0, 1L).otherwise(0L)).as("n_negative"),
        min("s").as("mn"))
      .join(broadcast(med), Seq("assigned"), "left")
      .select(col("assigned"), col("n_vecs"), col("n_negative"),
        round(col("median_sil"), 6).as("median_sil"),
        round(col("mn"), 6).as("min_sil"))
      .orderBy("assigned")
    Dedup.materializeThenRelease(out, sil, med)
  }

  // ---------------------------------------------------- sim_semantic_dedup

  private[graft] val SemT = 0.4 // pair threshold — demo-scaled (prod ~0.95+)
  private[graft] val ClusterCap = 48L // membership that triggers a sub-split

  /** SemDeDup-style semantic deduplication: candidate pairs are members of
    * the same IVF coarse cluster (the row-wise nearest-centroid assignment
    * of [[ivfAssign]]), verified by exact fixed-point
    * cosine; within a confirmed pair the member FARTHER from its centroid
    * is kept (the diversity-preserving keeper rule) and the closer one
    * dropped. Emits (cluster, keep_id, drop_id, cos_sim).
    *
    * Scale shape: candidates come from an equi-join on (cluster, sub-key)
    * — never all-pairs. Within-cluster pairwise is quadratic in cluster
    * population, so clusters whose observed membership exceeds
    * [[ClusterCap]] are sub-split by [[ReBits]] LSH sign bits (planes
    * 0..ReBits−1) — the [[banded]] bucket-cap trade restated: bounded
    * join fan-out, slightly reduced recall on split clusters. (Production
    * SemDeDup scales the cluster count k ∝ n, making the cap a backstop,
    * not the primary dial.) Populations come from a map-side-partial
    * groupBy broadcast back onto members — NOT a window over the
    * low-cardinality cluster key, which would funnel the whole corpus
    * through |clusters| window tasks. The keeper comparison uses the
    * 6-rounded centroid cosine so both engines order identically.
    */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val asg = assignments(s, dir) // (vec_id, label, vq, assigned, cos)
    val subBits = (0 until ReBits).map { p =>
      val wv = typedlit(hyperplanes(p).map(_.toLong).toSeq)
      when(idot(col("vq"), wv) >= 0, lit("1")).otherwise(lit("0"))
    }
    val pops = asg.groupBy("assigned").agg(count(lit(1)).as("pop"))
    val side = asg
      .join(broadcast(pops), "assigned")
      .withColumn("ckey", when(col("pop") > ClusterCap, concat(subBits: _*))
        .otherwise(lit("")))
      .select(col("vec_id"), col("assigned"), col("ckey"), col("vq"),
        inorm2(col("vq")).as("n2"), round(col("cos"), 6).as("ccos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aKeeps = col("a.ccos") < col("b.ccos") ||
      (col("a.ccos") === col("b.ccos") && col("a.vec_id") < col("b.vec_id"))
    side.as("a").join(side.as("b"),
        col("a.assigned") === col("b.assigned") &&
          col("a.ckey") === col("b.ckey") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        cosine(idot(col("a.vq"), col("b.vq")), col("a.n2"), col("b.n2")))
      .filter(col("cos") >= SemT)
      .select(col("a.assigned").as("cluster"),
        when(aKeeps, col("a.vec_id")).otherwise(col("b.vec_id")).as("keep_id"),
        when(aKeeps, col("b.vec_id")).otherwise(col("a.vec_id")).as("drop_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("cluster", "keep_id", "drop_id")
      .transform(Dedup.materializeThenRelease(_, side))
  }

  // ---------------------------------------------------------- sim_ivf_topk

  private val NProbe = 3 // centroid lists each query probes

  /** IVF search — the query half of the IVF index whose build half is
    * [[ivfAssign]] (coarse quantizer) and [[pqEncode]] (compression): each
    * query probes its [[NProbe]] nearest centroids' inverted lists and
    * exact-cosine re-ranks only the vectors filed there. With balanced
    * lists this scans ~NProbe/|centroids| of the corpus per query — the
    * recall-vs-work dial of a production ANN serving path.
    *
    * Scale shape: the centroids are built on the driver; the corpus is
    * filed into lists row-wise by [[nearest]], as in [[ivfAssign]], and
    * each query's probes are the top [[NProbe]] of [[nearestK]]. The
    * probe table is |Q|·NProbe rows, broadcast onto the lists as an
    * equi-join on the list id (each corpus vector lives in exactly ONE
    * list, so candidates need no dedup); the re-rank is the salted
    * two-phase top-k. No stage ever holds more than a list's slice of the
    * corpus.
    */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = labelled(s, dir)
    val cents = labelCentroids(e)
    // inverted lists: every corpus vector under its nearest centroid
    val lists = e.select(col("vec_id"), col("vq"), nearest(cents).getField("label").as("cl"))
      .withColumn("n2", inorm2(col("vq")))
    // probe set: the demo queries' NProbe nearest centroids
    val probe = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("vq").as("qv"),
        explode(nearestK(cents, NProbe)).as("p"))
      .select(col("q_id"), col("p.label").as("cl"), col("qv"))
      .withColumn("qn2", inorm2(col("qv")))
    val cand = lists.join(broadcast(probe), "cl")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(idot(col("vq"), col("qv")), col("n2"), col("qn2")).as("cos"))
    topKPerGroup(cand, Seq("q_id"), "vec_id", TopK,
        col("cos").desc, col("vec_id").asc)
      .select(col("q_id"), col("vec_id"), col("rnk"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rnk")
  }

  // --------------------------------------------------------- sim_ivfpq_topk

  /** IVF-PQ search — the COMPOSED production ANN index (Jégou et al.
    * TPAMI'11 §V; the FAISS IVFPQ serving path): the coarse quantizer
    * restricts each query to its [[NProbe]] inverted lists, and the scan
    * inside those lists reads only PQ codes via the ADC lookup table.
    * Neither parent pays this little: [[pqTopK]] ADC-scans the WHOLE code
    * table; [[ivfTopK]] reads full-precision vectors inside the probed
    * lists. Here the per-query work is ~NProbe/|lists| of the corpus ×
    * M one-byte codes — the multiplicative saving that serves
    * billion-vector indexes.
    *
    * Scale shape: ONE persisted quantized-embeddings scan feeds the
    * driver-side centroid build, the code table, the LUT, the lists and
    * the probes. The sub-codebook is a local frame sliced from the
    * centroids; lists and probes are row-wise [[nearest]] / [[nearestK]]
    * columns. The probe table (|Q|·NProbe rows) and LUT (|Q|·M·K rows)
    * broadcast; list membership joins on the list id and ADC folds under a
    * (q, vec) hash aggregate with map-side partials. Each corpus vector
    * lives in exactly one list, so candidates need no dedup.
    */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = labelled(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = labelCentroids(e)
    val csub = pqCsubOf(s, cents)
    val codes = pqCodes(pqScoredAgainst(e.select("vec_id", "vq"), csub))
      .select("vec_id", "m", "code")
    val lut = pqScoredAgainst(
        e.filter(col("vec_id") < NumQueries).select("vec_id", "vq"), csub)
      .select(col("vec_id").as("q2"), col("m").as("lm"), col("c_label"),
        round(col("dist") / lit(Scale.toDouble * Scale), 6)
          .cast(DecimalType(18, 6)).as("d6"))
    val lists = e.select(col("vec_id"), nearest(cents).getField("label").as("cl"))
    val probe = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), explode(nearestK(cents, NProbe)).as("p"))
      .select(col("q_id"), col("p.label").as("cl"))
    val cand = lists.join(broadcast(probe), "cl")
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
    val adc = cand.join(codes, "vec_id")
      .join(broadcast(lut),
        col("q_id") === col("q2") && col("m") === col("lm") &&
          col("code") === col("c_label"))
      .groupBy("q_id", "vec_id").agg(sum(col("d6")).as("adc"))
    topKPerGroup(adc, Seq("q_id"), "vec_id", TopK,
        col("adc").asc, col("vec_id").asc)
      .select(col("q_id"), col("vec_id"), col("rnk"),
        round(col("adc").cast("double"), 6).as("adc_dist"))
      .orderBy("q_id", "rnk")
      .transform(Dedup.materializeThenRelease(_, e))
  }

  // -------------------------------------------------------- sim_kmeans_step

  /** One exact Lloyd iteration on top of the coarse quantizer: re-assign
    * every vector to its max-cosine centroid ([[assignments]]), then emit
    * the NEW per-cluster statistics — exact integer component sums + member
    * counts, one row per (cluster, dim) — from which the next centroids are
    * `sum_v / n_members`. Keeping the output in integer sums (not double
    * means) keeps the whole step order-independent and bit-reproducible.
    *
    * Scale shape: the assignment is row-wise against driver-held
    * centroids; posexplode then fans each vector into [[Dim]] rows whose
    * (cluster, pos) groupBy is partial-aggregated map-side — the shuffle
    * carries at most |clusters|·Dim·partitions rows, independent of corpus
    * size. This is exactly how a distributed k-means trainer folds a 100 TB
    * corpus into kB of sufficient statistics per round.
    */
  def kmeansStep(s: SparkSession, dir: String): DataFrame =
    assignments(s, dir)
      .select(col("assigned").as("cluster"), posexplode(col("vq")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("n_members"))
      .orderBy("cluster", "pos")

  // ------------------------------------------------------- sim_kmeans_train

  private val TrainIters = 2 // assignment rounds (centroids refit between)

  /** The full Lloyd TRAINING LOOP ([[kmeansStep]] is one link of it):
    * [[TrainIters]] assignment rounds with an exact-integer centroid refit
    * between — assign under the label-seeded centroids, refit from the new
    * clusters, re-assign. Emits the final per-vector cluster + cosine.
    *
    * Scale shape: the loop state lives on the DRIVER, the way a distributed
    * Lloyd trainer runs. The quantized corpus `(vec_id, label, vq)` is the
    * loop-invariant frame, persisted once. Each refit is the shared
    * centroid build [[centroidsOf]] — one aggregate collected to the
    * driver, |labels|·[[Dim]] rows per round, independent of corpus size
    * — and the centroids re-enter the plan as literals, so the next
    * assignment is the ROW-WISE [[nearest]] column with no join, no
    * broadcast and no argmax shuffle. The assignment is projected
    * in its own select BEFORE the posexplode that feeds the next refit:
    * sharing the generator's select lets the optimizer evaluate the
    * K-way `greatest` after the explode, once per component ([[Dim]]×). K
    * is bounded by construction — the refit groups are the label-seeded
    * centroids (≤ 10 labels) or the non-empty subset of them — so the
    * literal centroid set stays a few kB. The persisted frame is released
    * before the lazy final assignment is returned; nothing stays cached.
    * An input with no vector components (an empty table) has no centroid
    * and yields zero rows, as the oracle does.
    */
  def kmeansTrain(s: SparkSession, dir: String): DataFrame = {
    val e = labelled(s, dir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents = labelCentroids(e)
    // TrainIters assignment rounds ⇒ TrainIters − 1 refits BETWEEN them.
    // A vector without components feeds no refit, so its key may be null:
    // that keeps the key as nullable as the label column, and every refit
    // shares one set of generated exchange/aggregate/collect classes.
    for (_ <- 2 to TrainIters)
      cents = centroidsOf(e.select(
        when(col("vq").isNotNull, nearest(cents).getField("label")).as("g"), col("vq")))
    e.unpersist(false)
    labelled(s, dir).where(lit(cents.byGroup.nonEmpty))
      .select(col("vec_id"), nearest(cents).as("best"))
      .select(col("vec_id"), col("best.label").as("cluster"),
        round(col("best.cos"), 6).as("cos_sim"))
      .orderBy("vec_id")
  }

  // -------------------------------------------------------- sim_pq_encode

  private val PqM = 8 // subspaces
  private val PqSubDim = Dim / PqM

  /** Product-quantization encoding — the compression half of an IVF-PQ ANN
    * index: each vector splits into [[PqM]] contiguous subvectors, and each
    * subvector is coded as the id of its nearest sub-codeword (min L2, ties
    * to the lower label). The sub-codebooks here are the exact per-label
    * centroids of [[centroidsOf]] restricted to each subspace — the
    * deterministic stand-in for a trained codebook (a Lloyd-trained one
    * plugs into the same plan via [[kmeansStep]]).
    *
    * Scale shape: the centroids are one aggregate collected to the driver
    * and their 80 sub-codewords a broadcast local frame; the corpus expands ×M
    * inside the scan stage (posexplode of slices — no shuffle) and the
    * argmin is a min_by hash aggregate with map-side partials, so the only
    * shuffle carries one (vec, m) row per subvector. Distances stay in the
    * fixed-point domain and expand via the dot identity
    * |a−b|² = a·a − 2·a·b + b·b over three native codegen'd [[idot]]-style
    * folds — the `aggregate`-over-`zip_with` squared-diff fold it replaces
    * was CodegenFallback, an interpreted lambda per (vec, m, codeword)
    * candidate (the plan's hot inner loop). Each dot folds sequentially in
    * IEEE order and the oracle computes the SAME expression, so the two
    * engines remain bit-identical.
    */
  def pqEncode(s: SparkSession, dir: String): DataFrame =
    pqCodes(pqScored(s, dir))
      // dist is in the squared fixed-point domain (~1e11) where a 4-decimal
      // round is not engine-stable; dividing by Scale² = 2^40 is an EXACT
      // exponent shift back to the unit domain, where round(·, 6) is.
      .select(col("vec_id"), col("m"), col("code"),
        round(col("dist") / lit(Scale.toDouble * Scale), 6).as("dist"))
      .orderBy("vec_id", "m")

  /** (vec_id, m, c_label, dist): every (vector, subspace) scored against
    * every sub-codeword — the pre-argmin frame [[pqEncode]]'s codes and
    * [[pqTopK]]'s lookup tables both reduce.
    */
  private def pqScored(s: SparkSession, dir: String): DataFrame =
    pqScoredAgainst(labelled(s, dir), pqCsub(s, dir))

  /** The vector split into [[PqM]] contiguous [[PqSubDim]]-wide slices. */
  private def subSlices(arr: Column): Column = array(
    (0 until PqM).map(m => slice(arr, m * PqSubDim + 1, PqSubDim)): _*)

  /** The sub-codebook: per-subspace codeword slices + their squared norms
    * (|clusters|·M rows — tiny, broadcastable, and REUSABLE: a local frame,
    * so every consumer branch reads it without re-running an aggregation).
    */
  private def pqCsub(s: SparkSession, dir: String): DataFrame =
    pqCsubOf(s, labelCentroids(labelled(s, dir)))

  /** Sub-codebook sliced from driver-held centroids — a local frame, so
    * callers that already hold a (persisted) quantized-embeddings frame
    * build the centroids from it and share its scan.
    */
  private def pqCsubOf(s: SparkSession, cents: Centroids): DataFrame = {
    val rows = for ((g, cv) <- cents.byGroup; m <- 0 until PqM)
      yield Row(g.orNull, m, cv.slice(m * PqSubDim, (m + 1) * PqSubDim).toSeq)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("c_label", cents.groupType),
        StructField("m", IntegerType, nullable = false),
        StructField("cs", ArrayType(DoubleType, containsNull = false)))))
      .withColumn("cn2", call_function("array_dot", col("cs"), col("cs")))
  }

  /** Scores a (vec_id, vq) frame's subvectors against a sub-codebook. */
  private def pqScoredAgainst(e: DataFrame, csub: DataFrame): DataFrame = {
    val sub = e.select(col("vec_id"), posexplode(subSlices(col("vq"))).as(Seq("m", "sv")))
      // per-subvector squared norm once per (vec, m), not per codeword
      .withColumn("svd", col("sv").cast("array<double>"))
      .withColumn("sn2", call_function("array_dot", col("svd"), col("svd")))
    val dist = col("sn2") - lit(2.0) * call_function("array_dot", col("svd"), col("cs")) +
      col("cn2")
    sub.join(broadcast(csub), "m")
      .select(col("vec_id"), col("m"), col("c_label"), dist.as("dist"))
  }

  /** Per-(vector, subspace) nearest sub-codeword (min L2, ties to the lower
    * label) via a min_by hash aggregate — map-side partials, so the only
    * shuffle carries one (vec, m) row per subvector.
    */
  private def pqCodes(scored: DataFrame): DataFrame =
    scored
      .groupBy("vec_id", "m")
      .agg(min_by(struct(col("c_label"), col("dist")),
        struct(col("dist"), col("c_label"))).as("best"))
      .select(col("vec_id"), col("m"),
        col("best.c_label").as("code"), col("best.dist").as("dist"))

  // ---------------------------------------------------------- sim_pq_train

  /** One PQ codebook REFIT step — the per-subspace Lloyd iteration that
    * turns [[pqEncode]]'s label-seeded sub-codebooks into TRAINED ones
    * (Jégou et al. train each subspace's K codewords by independent
    * k-means; this is one link of that loop, the [[kmeansStep]] regime
    * applied inside every subspace): assign each subvector to its nearest
    * current sub-codeword, then emit the exact-integer sufficient
    * statistics (Σ component, member count) per (subspace, code,
    * component) — the new codeword is one divide away, and keeping the
    * output in integer sums keeps it hash-checkable (a mean would hang
    * cross-engine equality on division rounding).
    *
    * Scale shape: the centroids are one aggregate collected to the driver
    * and the sub-codebook a broadcast local frame; the corpus expands ×M
    * inside the scan stage; the argmin is a min_by hash aggregate whose
    * map-side partial collapses the K scored rows per subvector BEFORE
    * the one (vec, m)-keyed exchange (the subvector rides the partial via
    * `first`, so no join back); the refit fold lands on M·K·[[PqSubDim]]
    * bounded rows. Two corpus passes (the build and the step), no
    * persisted frame.
    */
  def pqTrainStep(s: SparkSession, dir: String): DataFrame = {
    val sub = labelled(s, dir)
      .select(col("vec_id"), posexplode(subSlices(col("vq"))).as(Seq("m", "sv")))
      .withColumn("svd", col("sv").cast("array<double>"))
      .withColumn("sn2", call_function("array_dot", col("svd"), col("svd")))
    val dist = col("sn2") -
      lit(2.0) * call_function("array_dot", col("svd"), col("cs")) + col("cn2")
    sub.join(broadcast(pqCsub(s, dir)), "m")
      .select(col("vec_id"), col("m"), col("sv"), col("c_label"), dist.as("dist"))
      .groupBy("vec_id", "m")
      .agg(min_by(struct(col("c_label"), col("dist")),
          struct(col("dist"), col("c_label"))).as("best"),
        first(col("sv")).as("sv"))
      .select(col("m"), col("best.c_label").as("code"),
        posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("m", "code", "pos")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("n_members"))
      .orderBy("m", "code", "pos")
  }

  // ---------------------------------------------------------- sim_pq_topk

  /** PQ asymmetric-distance (ADC) search — the QUERY half of the PQ index
    * whose build half is [[pqEncode]]: each query's exact subvectors score
    * against every sub-codeword once, producing a |Q|·M·K lookup table; a
    * corpus vector's approximate distance is then the sum over subspaces of
    * the LUT entry its stored code selects — the corpus is never touched
    * beyond its M single-byte codes. This is the Jégou et al. (TPAMI'11)
    * ADC scan every production PQ/IVF-PQ index serves queries with.
    *
    * Scale shape: the LUT is |Q|·M·K rows (tiny, broadcast); the code table
    * is M rows per corpus vector (the 256×-compressed index — the ONLY
    * per-corpus state the scan reads); the per-(query, vector) sum is a
    * hash aggregate with map-side partials, and the final top-k is the
    * salted two-phase pattern. No stage ever materializes a full-precision
    * corpus vector — at 100 TB of raw embeddings the ADC scan reads ~0.4 %
    * of the bytes an exact re-rank would.
    *
    * Cross-engine determinism: summing M raw double LUT entries would
    * reduce in engine-chosen order, so each entry is exponent-shifted back
    * to the unit domain (exact — Scale² is a power of two), rounded to 6
    * decimals, and summed as an exact DECIMAL — the txt_entropy pre-round
    * trick — making the ADC distance order-independent in both engines.
    */
  private def adcScores(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.DecimalType
    // ONE embeddings scan: the quantized frame feeds the codebook build,
    // the full-corpus code table, AND the query LUT (previously three
    // separate parquet scans + three quantize passes). The persist is the
    // standard index-build caches-its-input pattern; the LUT branch filters
    // the cached frame instead of re-scanning with pushdown.
    val e = labelled(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val csub = pqCsubOf(s, labelCentroids(e))
    val codes = pqCodes(pqScoredAgainst(e.select("vec_id", "vq"), csub))
      .select("vec_id", "m", "code")
    val lut = pqScoredAgainst(
        e.filter(col("vec_id") < NumQueries).select("vec_id", "vq"), csub)
      .select(col("vec_id").as("q_id"), col("m").as("lm"), col("c_label"),
        round(col("dist") / lit(Scale.toDouble * Scale), 6)
          .cast(DecimalType(18, 6)).as("d6"))
    // LAZY |Q|·n score frame + the corpus-scale quantized-embeddings cache
    // under it: each consumer reads the scores once into its own
    // materialized result, so no intermediate materialization pass is
    // needed — the consumer releases the cache right after its action.
    val adc = codes.join(broadcast(lut),
        codes("m") === lut("lm") && codes("code") === lut("c_label"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("d6")).as("adc"))
    (adc, e)
  }

  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    val (adc, e) = adcScores(s, dir)
    Dedup.materializeThenRelease(adc
      .transform(topKPerGroup(_, Seq("q_id"), "vec_id", TopK,
        col("adc").asc, col("vec_id").asc))
      .select(col("q_id"), col("vec_id"), col("rnk"),
        round(col("adc").cast("double"), 6).as("adc_dist"))
      .orderBy("q_id", "rnk"), e)
  }

  // --------------------------------------------------------- sim_pq_rerank

  private val RerankK = 4 * TopK // ADC shortlist size (candidate multiplier 4)

  /** Two-stage PQ search with exact refinement — the production IVF-PQ
    * serving pattern (Jégou et al. §V.C, "re-ranking"): the compressed ADC
    * scan of [[pqTopK]] produces a [[RerankK]]-deep shortlist per query,
    * then ONLY the shortlisted vectors are fetched at full precision and
    * re-ranked by exact L2. ADC error can reorder near-ties but rarely
    * ejects a true neighbor from a 4× shortlist, so the final top-k is
    * near-exact at a fraction of the exact-scan cost.
    *
    * Scale shape: stage 1 reads the 256×-compressed code table only; the
    * exact stage joins |Q|·RerankK shortlist rows — bounded by construction,
    * NOT corpus-sized — against the corpus on vec_id (AQE will broadcast
    * the tiny side), so full-precision vectors are read for exactly the
    * shortlist. That read pattern is the entire point of PQ at 100 TB: the
    * heavy scan touches ~0.4 % of the bytes, the exact math touches ~20
    * rows per query.
    *
    * Ranking uses RAW exact distances (identical integer-derived doubles in
    * both engines); rounding is display-only.
    */
  def pqRerank(s: SparkSession, dir: String): DataFrame = {
    val (adc, e) = adcScores(s, dir)
    val short = adc
      .transform(topKPerGroup(_, Seq("q_id"), "vec_id", RerankK,
        col("adc").asc, col("vec_id").asc))
      .select("q_id", "vec_id")
    val c = corpus(s, dir)
    val q = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qq_id"), col("vq").as("qv"), col("n2").as("qn2"))
    // exact |q−c|² via the dot identity, all-integer → exact in double
    val l2 = (col("n2") - lit(2.0) * idot(col("vq"), col("qv")) + col("qn2"))
      .cast("double") / lit(Scale.toDouble * Scale)
    Dedup.materializeThenRelease(
      short.join(c, "vec_id")
        .join(broadcast(q), col("q_id") === col("qq_id"))
        .select(col("q_id"), col("vec_id"), l2.as("l2"))
        .transform(topKPerGroup(_, Seq("q_id"), "vec_id", TopK,
          col("l2").asc, col("vec_id").asc))
        .select(col("q_id"), col("vec_id"), col("rnk"),
          round(col("l2"), 6).as("l2_dist"))
        .orderBy("q_id", "rnk"), e)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_brute_topk" -> (bruteTopK(_, _)),
    "sim_filtered_topk" -> (filteredTopK(_, _)),
    "sim_lsh_topk" -> (lshTopK(_, _)),
    "sim_knn_graph" -> (knnGraph(_, _)),
    "sim_ivf_assign" -> (ivfAssign(_, _)),
    "sim_cluster_purity" -> (clusterPurity(_, _)),
    "sim_outlier_prune" -> (outlierPrune(_, _)),
    "sim_silhouette" -> (silhouette(_, _)),
    "sim_ivf_balance" -> (ivfBalance(_, _)),
    "sim_drift" -> (drift(_, _)),
    "sim_ivf_topk" -> (ivfTopK(_, _)),
    "sim_kmeans_step" -> (kmeansStep(_, _)),
    "sim_kmeans_train" -> (kmeansTrain(_, _)),
    "sim_pq_encode" -> (pqEncode(_, _)),
    "sim_pq_train" -> (pqTrainStep(_, _)),
    "sim_pq_topk" -> (pqTopK(_, _)),
    "sim_ivfpq_topk" -> (ivfPqTopK(_, _)),
    "sim_pq_rerank" -> (pqRerank(_, _)),
    "sim_graph_rank" -> (graphRank(_, _)),
    "sim_graph_rank_full" -> (graphRankFull(_, _)),
    "sim_triangles" -> (triangleStats(_, _)),
    "sim_sq_encode" -> (sqEncode(_, _)),
    "sim_bfs_reach" -> (bfsReach(_, _)),
    "sim_graph_search" -> (graphSearch(_, _)),
    "sim_recall_at_k" -> (recallAtK(_, _)),
    "sim_recall_ivfpq" -> (recallIvfPq(_, _)),
    "sim_recall_graph" -> (recallGraph(_, _)),
    "sim_semantic_dedup" -> (semanticDedup(_, _)),
    "sim_triplets" -> (triplets(_, _)))

  // ------------------------------------------------------------ oracle SQL

  private val vqSql = s"list_apply(embedding, x -> floor(x::DOUBLE * $Scale)::BIGINT)"
  private val dotSql =
    s"list_sum(list_apply(range($Dim), i -> va[(i + 1)::INT] * vb[(i + 1)::INT]))"
  private val n2 = "list_sum(list_apply(%s, x -> x * x))"

  /** ±1 plane rows as BIGINT lists — same constants as the Spark plan. */
  private[ops] val planesSql = hyperplanes.zipWithIndex.map { case (w, p) =>
    s"($p, [${w.map(v => v.toLong.toString).mkString(", ")}])"
  }.mkString(",\n    ")

  private[ops] val corpusSql =
    s"""e AS (
       |  SELECT vec_id, $vqSql AS vq, ${n2.format(vqSql)} AS nn FROM embeddings
       |)""".stripMargin

  /** The exact SQL twin of [[bandedWithBits]] (cap applied): band width from
    * the integer [[bandBitsCaseSql]] ladder over count(*), [[BandCount]]
    * bands + [[ReBits]] extra bits, oversize buckets extended.
    */
  private[ops] val bandSql =
    s"""w(p, wv) AS (VALUES
       |    $planesSql
       |), prm AS (
       |  SELECT $bandBitsCaseSql AS bits FROM (SELECT count(*) AS n FROM e)
       |), bit AS (
       |  SELECT vec_id, p,
       |    CASE WHEN list_sum(list_apply(range($Dim), i -> vq[(i + 1)::INT] * wv[(i + 1)::INT])) >= 0
       |      THEN '1' ELSE '0' END AS c
       |  FROM e, w, prm WHERE p < $BandCount * bits + $ReBits
       |), sg AS (
       |  SELECT vec_id, string_agg(c, '' ORDER BY p) AS s FROM bit GROUP BY vec_id
       |), lng0 AS (
       |  SELECT vec_id, r.b::INT AS b_idx,
       |    substr(s, (1 + r.b * bits)::INT, bits::INT) AS band,
       |    substr(s, ($BandCount * bits + 1)::INT, $ReBits) AS extra
       |  FROM sg, prm, range($BandCount) r(b)
       |), lng AS (
       |  SELECT vec_id, b_idx,
       |    CASE WHEN count(*) OVER (PARTITION BY b_idx, band) > $BucketCap
       |      THEN band || extra ELSE band END AS band
       |  FROM lng0
       |)""".stripMargin

  /** `pfx` disambiguates the CTE names when composed after a chain (e.g.
    * [[assignSql]]) that already defines `scored` / `ranked`.
    */
  /** Just the `scored`/`ranked` CTEs of [[rankSql]] — composable where a
    * query needs MORE SQL after the ranking (e.g. sim_recall_at_k ranks
    * two candidate sets and joins them).
    */
  private def rankCtesSql(pairs: String, grp: String, other: String,
      pfx: String = "") =
    s"""${pfx}scored AS (
       |  SELECT $grp, $other,
       |    $dotSql::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)) AS cos
       |  FROM $pairs
       |), ${pfx}ranked AS (
       |  SELECT $grp, $other, cos,
       |    row_number() OVER (PARTITION BY $grp ORDER BY cos DESC, $other ASC)::INT AS rnk
       |  FROM ${pfx}scored
       |)""".stripMargin

  private def rankSql(pairs: String, grp: String, other: String, k: Int,
      pfx: String = "") =
    s"""${rankCtesSql(pairs, grp, other, pfx)}
       |SELECT $grp, $other, rnk, round(cos, 6) AS cos_sim FROM ${pfx}ranked
       |WHERE rnk <= $k ORDER BY $grp, rnk""".stripMargin

  /** Centroid build + nearest-centroid ranking as a CTE chain ending in
    * `ranked(vec_id, label, vq, c_label, cos, rnk)` — the exact SQL twin of
    * [[assignments]], shared by the sim_ivf_assign and sim_kmeans_step
    * oracles.
    */
  private val assignSql =
    s"""eq AS (
       |  SELECT vec_id, label, $vqSql AS vq FROM embeddings
       |), comp AS (
       |  SELECT label, i, sum(vq[(i + 1)::INT]) AS sv, count(*) AS cnt
       |  FROM eq, range($Dim) r(i) GROUP BY label, i
       |), cent AS (
       |  SELECT label AS c_label, list(sv::DOUBLE / cnt ORDER BY i) AS cv FROM comp GROUP BY label
       |), scored AS (
       |  SELECT vec_id, label, vq, c_label,
       |    list_sum(list_apply(range($Dim), i -> vq[(i + 1)::INT]::DOUBLE * cv[(i + 1)::INT])) /
       |      (sqrt(${n2.format("vq")}::DOUBLE) * sqrt(list_sum(list_apply(cv, x -> x * x)))) AS cos
       |  FROM eq, cent
       |), ranked AS (
       |  SELECT vec_id, label, vq, c_label, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label ASC) AS rnk
       |  FROM scored
       |)""".stripMargin

  /** The exact SQL twin of [[pqScored]] + the per-(vec, m) argmin ranking —
    * CTE chain ending in `scored(vec_id, m, c_label, dist)` and
    * `ranked(…, rnk)`, shared by the sim_pq_encode and sim_pq_topk oracles.
    */
  private val pqChainSql =
    s"""eq AS (
       |  SELECT vec_id, label, $vqSql AS vq FROM embeddings
       |), comp AS (
       |  SELECT label, i, sum(vq[(i + 1)::INT]) AS sv, count(*) AS cnt
       |  FROM eq, range($Dim) r(i) GROUP BY label, i
       |), cent AS (
       |  SELECT label AS c_label, list(sv::DOUBLE / cnt ORDER BY i) AS cv FROM comp GROUP BY label
       |), sub AS (
       |  SELECT vec_id, m,
       |    list_apply(range($PqSubDim), i -> vq[(m * $PqSubDim + i + 1)::INT]) AS sv
       |  FROM eq, range($PqM) r(m)
       |), csub AS (
       |  SELECT c_label, m,
       |    list_apply(range($PqSubDim), i -> cv[(m * $PqSubDim + i + 1)::INT]) AS cs
       |  FROM cent, range($PqM) r(m)
       |), scored AS (
       |  SELECT vec_id, sub.m, c_label,
       |    list_sum(list_apply(sv, x -> x::DOUBLE * x))
       |      - 2 * list_sum(list_apply(range($PqSubDim), i -> sv[(i + 1)::INT]::DOUBLE * cs[(i + 1)::INT]))
       |      + list_sum(list_apply(cs, x -> x * x)) AS dist
       |  FROM sub JOIN csub ON sub.m = csub.m
       |), ranked AS (
       |  SELECT vec_id, m, c_label, dist,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c_label) AS rnk
       |  FROM scored
       |)""".stripMargin

  /** One power-method round as CTEs `c$i`/`r$i` reading `r${i-1}` — the SQL
    * twin of the [[graphRank]] loop body, emitted once per unrolled round
    * so the two cannot drift.
    */
  private def rankIterSql(i: Int): String = {
    val prev = s"r${i - 1}"
    s"""c$i AS (
       |  SELECT dst, sum((r12 * 85) // (100 * deg)) AS infl12
       |  FROM edges JOIN dg USING (src) JOIN $prev ON $prev.vec_id = edges.src
       |  GROUP BY dst
       |), r$i AS (
       |  SELECT e.vec_id,
       |    ((150000000000 // n) + coalesce(infl12, 0))::BIGINT AS r12
       |  FROM e CROSS JOIN nnn LEFT JOIN c$i ON c$i.dst = e.vec_id
       |)""".stripMargin
  }

  /** [[rankIterSql]] plus the per-round dangling-mass scalar — the SQL twin
    * of the [[graphRankFullOf]] loop body.
    */
  private def rankIterFullSql(i: Int): String = {
    val prev = s"r${i - 1}"
    s"""d$i AS (
       |  SELECT coalesce(sum(r12), 0) AS dmass12
       |  FROM $prev LEFT JOIN dg ON dg.src = $prev.vec_id
       |  WHERE deg IS NULL
       |), c$i AS (
       |  SELECT dst, sum((r12 * 85) // (100 * deg)) AS infl12
       |  FROM edges JOIN dg USING (src) JOIN $prev ON $prev.vec_id = edges.src
       |  GROUP BY dst
       |), r$i AS (
       |  SELECT e.vec_id,
       |    ((150000000000 // n) + coalesce(infl12, 0)
       |      + (dmass12 * 85) // (100 * n))::BIGINT AS r12
       |  FROM e CROSS JOIN nnn CROSS JOIN d$i LEFT JOIN c$i ON c$i.dst = e.vec_id
       |)""".stripMargin
  }

  /** One unrolled beam-search round — the SQL twin of the
    * [[graphSearchOf]] loop body: candidates = previous beam ∪ its graph
    * neighbors (self excluded), rescored by exact cosine, top-[[BeamW]]
    * kept per query with ties to the smaller id.
    */
  private def beamIterSql(r: Int): String = {
    val prev = s"b${r - 1}"
    s"""c$r AS (
       |  SELECT DISTINCT q_id, node FROM (
       |    SELECT q_id, node FROM $prev
       |    UNION ALL
       |    SELECT $prev.q_id, sym.dst AS node FROM $prev JOIN sym ON sym.src = $prev.node)
       |  WHERE node <> q_id
       |), s$r AS (
       |  SELECT q_id, node,
       |    list_sum(list_apply(range($Dim), i -> eq.vq[(i + 1)::INT] * ev.vq[(i + 1)::INT]))::DOUBLE
       |      / (sqrt(eq.nn::DOUBLE) * sqrt(ev.nn::DOUBLE)) AS cos
       |  FROM c$r JOIN e eq ON eq.vec_id = c$r.q_id JOIN e ev ON ev.vec_id = c$r.node
       |), b$r AS (
       |  SELECT q_id, node, cos, rk FROM (
       |    SELECT q_id, node, cos,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, node ASC) AS rk
       |    FROM s$r) WHERE rk <= $BeamW
       |)""".stripMargin
  }

  private val bruteTopkSql =
    s"""WITH $corpusSql, pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |    q.vq AS va, c.vq AS vb, q.nn AS na, c.nn AS nb
       |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries
       |), ${rankSql("pairs", "q_id", "vec_id", TopK)}""".stripMargin

  /** Beam search over the SAME knn-graph CTE chain as sim_graph_rank —
    * entry node, per-round candidate/score/top-B, and the final top-k all
    * mirror [[graphSearchOf]] exactly (ties to the smaller id). Standalone
    * so the recall audit can compose it as a subselect.
    */
  private val graphSearchSql =
    s"""WITH $corpusSql, $bandSql, cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id
       |  FROM lng a JOIN lng b
       |    ON a.b_idx = b.b_idx AND a.band = b.band AND a.vec_id <> b.vec_id
       |), pairs AS (
       |  SELECT cand.vec_id, nbr_id,
       |    ea.vq AS va, eb.vq AS vb, ea.nn AS na, eb.nn AS nb
       |  FROM cand JOIN e ea ON ea.vec_id = cand.vec_id JOIN e eb ON eb.vec_id = nbr_id
       |), ${rankCtesSql("pairs", "vec_id", "nbr_id")}, edges AS (
       |  SELECT vec_id AS src, nbr_id AS dst FROM ranked WHERE rnk <= $GraphK
       |), und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges
       |), sym AS (
       |  SELECT a AS src, b AS dst FROM und UNION ALL SELECT b AS src, a AS dst FROM und
       |), entry AS (
       |  SELECT min(vec_id) AS node FROM e WHERE vec_id >= $NumQueries
       |), b0 AS (
       |  SELECT e.vec_id AS q_id, entry.node AS node FROM e, entry
       |  WHERE e.vec_id < $NumQueries
       |), ${(1 to BeamHops).map(beamIterSql).mkString(", ")}
       |SELECT q_id, node AS vec_id, rk::INT AS rnk, round(cos, 6) AS cos_sim
       |FROM b$BeamHops WHERE rk <= $TopK ORDER BY q_id, rnk""".stripMargin

  private val ivfpqTopkSql =
    s"""WITH $pqChainSql, coarse AS (
       |  SELECT vec_id, c_label,
       |    list_sum(list_apply(range($Dim), i -> vq[(i + 1)::INT]::DOUBLE * cv[(i + 1)::INT])) /
       |      (sqrt(${n2.format("vq")}::DOUBLE) * sqrt(list_sum(list_apply(cv, x -> x * x)))) AS cos
       |  FROM eq, cent
       |), crk AS (
       |  SELECT vec_id, c_label,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label ASC) AS crnk
       |  FROM coarse
       |), lists AS (
       |  SELECT vec_id, c_label AS cl FROM crk WHERE crnk = 1
       |), probe AS (
       |  SELECT vec_id AS q_id, c_label AS cl FROM crk
       |  WHERE vec_id < $NumQueries AND crnk <= $NProbe
       |), cand AS (
       |  SELECT probe.q_id, lists.vec_id
       |  FROM probe JOIN lists ON lists.cl = probe.cl AND lists.vec_id <> probe.q_id
       |), codes AS (
       |  SELECT vec_id, m, c_label AS code FROM ranked WHERE rnk = 1
       |), lut AS (
       |  SELECT vec_id AS q_id, m, c_label,
       |    round(dist / ${Scale.toDouble * Scale}, 6)::DECIMAL(18,6) AS d6
       |  FROM scored WHERE vec_id < $NumQueries
       |), adc AS (
       |  SELECT cand.q_id, cand.vec_id, sum(l.d6) AS adc
       |  FROM cand
       |  JOIN codes c ON c.vec_id = cand.vec_id
       |  JOIN lut l ON l.q_id = cand.q_id AND l.m = c.m AND l.c_label = c.code
       |  GROUP BY cand.q_id, cand.vec_id
       |), rq AS (
       |  SELECT q_id, vec_id, adc,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id)::INT AS rnk
       |  FROM adc
       |)
       |SELECT q_id, vec_id, rnk, round(adc::DOUBLE, 6) AS adc_dist
       |FROM rq WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin

  val oracles: Map[String, String] = Map(
    "sim_bfs_reach" ->
      s"""WITH $corpusSql, $bandSql, cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id
         |  FROM lng a JOIN lng b
         |    ON a.b_idx = b.b_idx AND a.band = b.band AND a.vec_id <> b.vec_id
         |), pairs AS (
         |  SELECT cand.vec_id, nbr_id,
         |    ea.vq AS va, eb.vq AS vb, ea.nn AS na, eb.nn AS nb
         |  FROM cand JOIN e ea ON ea.vec_id = cand.vec_id JOIN e eb ON eb.vec_id = nbr_id
         |), ${rankCtesSql("pairs", "vec_id", "nbr_id")}, und AS (
         |  SELECT DISTINCT least(vec_id, nbr_id) AS a, greatest(vec_id, nbr_id) AS b
         |  FROM ranked WHERE rnk <= $GraphK
         |), sym AS (
         |  SELECT a AS src, b AS dst FROM und
         |  UNION ALL SELECT b AS src, a AS dst FROM und
         |), r0 AS (
         |  SELECT vec_id AS seed, vec_id AS node FROM e WHERE vec_id < $NumQueries
         |), r1 AS (
         |  SELECT DISTINCT seed, node FROM (
         |    SELECT seed, dst AS node FROM r0 JOIN sym ON node = src
         |    UNION ALL SELECT seed, node FROM r0)
         |), r2 AS (
         |  SELECT DISTINCT seed, node FROM (
         |    SELECT seed, dst AS node FROM r1 JOIN sym ON node = src
         |    UNION ALL SELECT seed, node FROM r1)
         |), r3 AS (
         |  SELECT DISTINCT seed, node FROM (
         |    SELECT seed, dst AS node FROM r2 JOIN sym ON node = src
         |    UNION ALL SELECT seed, node FROM r2)
         |), c1 AS (SELECT seed, count(*) - 1 AS reach_1 FROM r1 GROUP BY seed),
         |c2 AS (SELECT seed, count(*) - 1 AS reach_2 FROM r2 GROUP BY seed),
         |c3 AS (SELECT seed, count(*) - 1 AS reach_3 FROM r3 GROUP BY seed)
         |SELECT c1.seed, reach_1, reach_2, reach_3
         |FROM c1 JOIN c2 ON c1.seed = c2.seed JOIN c3 ON c1.seed = c3.seed
         |ORDER BY c1.seed""".stripMargin,
    "sim_sq_encode" ->
      s"""WITH $corpusSql, ex AS (
         |  SELECT vec_id, i AS pos, vq[(i + 1)::INT] AS v FROM e, range($Dim) r(i)
         |), dim AS (
         |  SELECT pos, min(v) AS mn, max(v) AS mx FROM ex GROUP BY pos
         |), enc AS (
         |  SELECT vec_id, ex.pos, v, mn, mx,
         |    CASE WHEN mx = mn THEN 0
         |      ELSE ((v - mn) * 255) // (mx - mn) END AS code
         |  FROM ex JOIN dim ON ex.pos = dim.pos
         |), er AS (
         |  SELECT vec_id, pos, code,
         |    v * 255 - (mn * 255 + code * (mx - mn)) AS err255
         |  FROM enc
         |)
         |SELECT vec_id, sum(code * (pos + 1))::BIGINT AS code_checksum,
         |  round(sqrt(sum((err255 * err255)::DECIMAL(38,0))::DOUBLE / $Dim)
         |    / ${255.0 * Scale}, 6) AS rmse
         |FROM er GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "sim_triangles" ->
      s"""WITH $corpusSql, $bandSql, cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id
         |  FROM lng a JOIN lng b
         |    ON a.b_idx = b.b_idx AND a.band = b.band AND a.vec_id <> b.vec_id
         |), pairs AS (
         |  SELECT cand.vec_id, nbr_id,
         |    ea.vq AS va, eb.vq AS vb, ea.nn AS na, eb.nn AS nb
         |  FROM cand JOIN e ea ON ea.vec_id = cand.vec_id JOIN e eb ON eb.vec_id = nbr_id
         |), ${rankCtesSql("pairs", "vec_id", "nbr_id")}, und AS (
         |  SELECT DISTINCT least(vec_id, nbr_id) AS a, greatest(vec_id, nbr_id) AS b
         |  FROM ranked WHERE rnk <= $GraphK
         |), dg AS (
         |  SELECT v, count(*) AS deg FROM (
         |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
         |  GROUP BY v
         |), orient AS (
         |  SELECT
         |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         |      THEN a ELSE b END AS src,
         |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         |      THEN b ELSE a END AS dst
         |  FROM und JOIN dg da ON da.v = a JOIN dg db ON db.v = b
         |), tri AS (
         |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         |  FROM orient e1
         |  JOIN orient e2 ON e2.src = e1.dst
         |  JOIN orient e3 ON e3.src = e1.src AND e3.dst = e2.dst
         |), pernode AS (
         |  SELECT node, count(*) AS n_tri FROM (
         |    SELECT u AS node FROM tri
         |    UNION ALL SELECT v AS node FROM tri
         |    UNION ALL SELECT w AS node FROM tri)
         |  GROUP BY node
         |)
         |SELECT dg.v AS vec_id, dg.deg, coalesce(n_tri, 0)::BIGINT AS n_tri,
         |  round(coalesce(n_tri, 0) * 2.0 / (dg.deg * (dg.deg - 1)), 6) AS clustering
         |FROM dg LEFT JOIN pernode ON node = dg.v
         |WHERE dg.deg >= 2
         |ORDER BY vec_id""".stripMargin,
    "sim_graph_rank" ->
      s"""WITH $corpusSql, $bandSql, cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id
         |  FROM lng a JOIN lng b
         |    ON a.b_idx = b.b_idx AND a.band = b.band AND a.vec_id <> b.vec_id
         |), pairs AS (
         |  SELECT cand.vec_id, nbr_id,
         |    ea.vq AS va, eb.vq AS vb, ea.nn AS na, eb.nn AS nb
         |  FROM cand JOIN e ea ON ea.vec_id = cand.vec_id JOIN e eb ON eb.vec_id = nbr_id
         |), gsc AS (
         |  SELECT vec_id, nbr_id,
         |    $dotSql::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)) AS cos
         |  FROM pairs
         |), grk AS (
         |  SELECT vec_id, nbr_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id ASC) AS rnk
         |  FROM gsc
         |), edges AS (
         |  SELECT vec_id AS src, nbr_id AS dst FROM grk WHERE rnk <= $GraphK
         |), dg AS (
         |  SELECT src, count(*) AS deg FROM edges GROUP BY src
         |), nnn AS (
         |  SELECT count(*) AS n FROM e
         |), r0 AS (
         |  SELECT vec_id, (1000000000000 // n)::BIGINT AS r12 FROM e, nnn
         |), ${(1 to RankIters).map(rankIterSql).mkString(", ")}
         |SELECT vec_id,
         |  (r12::DOUBLE / 1000000000000.0) AS pagerank
         |FROM r$RankIters ORDER BY vec_id""".stripMargin,
    "sim_graph_rank_full" ->
      s"""WITH $corpusSql, $bandSql, cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id
         |  FROM lng a JOIN lng b
         |    ON a.b_idx = b.b_idx AND a.band = b.band AND a.vec_id <> b.vec_id
         |), pairs AS (
         |  SELECT cand.vec_id, nbr_id,
         |    ea.vq AS va, eb.vq AS vb, ea.nn AS na, eb.nn AS nb
         |  FROM cand JOIN e ea ON ea.vec_id = cand.vec_id JOIN e eb ON eb.vec_id = nbr_id
         |), gsc AS (
         |  SELECT vec_id, nbr_id,
         |    $dotSql::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)) AS cos
         |  FROM pairs
         |), grk AS (
         |  SELECT vec_id, nbr_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id ASC) AS rnk
         |  FROM gsc
         |), edges AS (
         |  SELECT vec_id AS src, nbr_id AS dst FROM grk WHERE rnk <= $GraphK
         |), dg AS (
         |  SELECT src, count(*) AS deg FROM edges GROUP BY src
         |), nnn AS (
         |  SELECT count(*) AS n FROM e
         |), r0 AS (
         |  SELECT vec_id, (1000000000000 // n)::BIGINT AS r12 FROM e, nnn
         |), ${(1 to RankIters).map(rankIterFullSql).mkString(", ")}
         |SELECT vec_id,
         |  (r12::DOUBLE / 1000000000000.0) AS pagerank
         |FROM r$RankIters ORDER BY vec_id""".stripMargin,
    "sim_recall_at_k" ->
      s"""WITH $corpusSql, $bandSql, bp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    q.vq AS va, c.vq AS vb, q.nn AS na, c.nn AS nb
         |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries
         |), ${rankCtesSql("bp", "q_id", "vec_id", "b_")}, cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, a.vec_id AS vec_id
         |  FROM lng a JOIN lng q
         |    ON a.b_idx = q.b_idx AND a.band = q.band AND a.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries
         |), lp AS (
         |  SELECT q_id, cand.vec_id,
         |    eq.vq AS va, ec.vq AS vb, eq.nn AS na, ec.nn AS nb
         |  FROM cand JOIN e eq ON eq.vec_id = q_id JOIN e ec ON ec.vec_id = cand.vec_id
         |), ${rankCtesSql("lp", "q_id", "vec_id", "l_")}, bt AS (
         |  SELECT q_id, vec_id FROM b_ranked WHERE rnk <= $TopK
         |), lt AS (
         |  SELECT q_id, vec_id FROM l_ranked WHERE rnk <= $TopK
         |)
         |SELECT bt.q_id, count(lt.vec_id)::BIGINT AS n_hits,
         |  round(count(lt.vec_id)::DOUBLE / $TopK, 6) AS recall_at_k
         |FROM bt LEFT JOIN lt ON bt.q_id = lt.q_id AND bt.vec_id = lt.vec_id
         |GROUP BY bt.q_id ORDER BY bt.q_id""".stripMargin,
    "sim_recall_ivfpq" ->
      s"""WITH bt AS (
         |  SELECT q_id, vec_id FROM ($bruteTopkSql)
         |), it AS (
         |  SELECT q_id, vec_id FROM ($ivfpqTopkSql)
         |)
         |SELECT bt.q_id, count(it.vec_id)::BIGINT AS n_hits,
         |  round(count(it.vec_id)::DOUBLE / $TopK, 6) AS recall_at_k
         |FROM bt LEFT JOIN it ON bt.q_id = it.q_id AND bt.vec_id = it.vec_id
         |GROUP BY bt.q_id ORDER BY bt.q_id""".stripMargin,
    "sim_brute_topk" -> bruteTopkSql,
    "sim_filtered_topk" ->
      s"""WITH el AS (
         |  SELECT vec_id, label, $vqSql AS vq, ${n2.format(vqSql)} AS nn
         |  FROM embeddings
         |), pairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    q.vq AS va, c.vq AS vb, q.nn AS na, c.nn AS nb
         |  FROM el q JOIN el c ON c.label = q.label AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries
         |), ${rankSql("pairs", "q_id", "vec_id", TopK)}""".stripMargin,
    "sim_lsh_topk" ->
      s"""WITH $corpusSql, $bandSql, cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, a.vec_id AS vec_id
         |  FROM lng a JOIN lng q
         |    ON a.b_idx = q.b_idx AND a.band = q.band AND a.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries
         |), pairs AS (
         |  SELECT q_id, cand.vec_id,
         |    eq.vq AS va, ec.vq AS vb, eq.nn AS na, ec.nn AS nb
         |  FROM cand JOIN e eq ON eq.vec_id = q_id JOIN e ec ON ec.vec_id = cand.vec_id
         |), ${rankSql("pairs", "q_id", "vec_id", TopK)}""".stripMargin,
    "sim_knn_graph" ->
      s"""WITH $corpusSql, $bandSql, cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id
         |  FROM lng a JOIN lng b
         |    ON a.b_idx = b.b_idx AND a.band = b.band AND a.vec_id <> b.vec_id
         |), pairs AS (
         |  SELECT cand.vec_id, nbr_id,
         |    ea.vq AS va, eb.vq AS vb, ea.nn AS na, eb.nn AS nb
         |  FROM cand JOIN e ea ON ea.vec_id = cand.vec_id JOIN e eb ON eb.vec_id = nbr_id
         |), ${rankSql("pairs", "vec_id", "nbr_id", GraphK)}""".stripMargin,
    "sim_graph_search" -> graphSearchSql,
    "sim_recall_graph" ->
      s"""WITH bt AS (
         |  SELECT q_id, vec_id FROM ($bruteTopkSql)
         |), gt AS (
         |  SELECT q_id, vec_id FROM ($graphSearchSql)
         |)
         |SELECT bt.q_id, count(gt.vec_id)::BIGINT AS n_hits,
         |  round(count(gt.vec_id)::DOUBLE / $TopK, 6) AS recall_at_k
         |FROM bt LEFT JOIN gt ON bt.q_id = gt.q_id AND bt.vec_id = gt.vec_id
         |GROUP BY bt.q_id ORDER BY bt.q_id""".stripMargin,
    "sim_ivf_assign" ->
      s"""WITH $assignSql
         |SELECT vec_id, label, c_label AS assigned, label = c_label AS hit,
         |  round(cos, 6) AS cos_sim
         |FROM ranked WHERE rnk = 1 ORDER BY vec_id""".stripMargin,
    "sim_outlier_prune" ->
      s"""WITH $assignSql, asg AS (
         |  SELECT vec_id, label, c_label AS assigned, cos
         |  FROM ranked WHERE rnk = 1
         |), cut AS (
         |  SELECT assigned, quantile_cont(cos, $OutlierP) AS c_lo
         |  FROM asg GROUP BY assigned
         |)
         |SELECT a.vec_id, a.label, a.assigned,
         |  round(a.cos, 6) AS cos_sim, round(c.c_lo, 6) AS cut_lo,
         |  a.cos < c.c_lo AS outlier
         |FROM asg a JOIN cut c ON a.assigned = c.assigned
         |ORDER BY a.vec_id""".stripMargin,
    "sim_ivf_balance" ->
      s"""WITH $assignSql, asg AS (
         |  SELECT vec_id, c_label AS assigned FROM ranked WHERE rnk = 1
         |), sz AS (
         |  SELECT assigned, count(*)::BIGINT AS list_size
         |  FROM asg GROUP BY assigned
         |)
         |SELECT assigned, list_size,
         |  round(list_size::DOUBLE / sum(list_size) OVER (), 6) AS share,
         |  round(list_size::DOUBLE * count(*) OVER ()
         |    / sum(list_size) OVER (), 6) AS imbalance
         |FROM sz ORDER BY assigned""".stripMargin,
    "sim_silhouette" ->
      s"""WITH $assignSql, t2 AS (
         |  SELECT vec_id,
         |    max(CASE WHEN rnk = 1 THEN c_label END) AS assigned,
         |    max(CASE WHEN rnk = 1 THEN cos END) AS cos1,
         |    max(CASE WHEN rnk = 2 THEN cos END) AS cos2
         |  FROM ranked WHERE rnk <= 2 GROUP BY vec_id
         |), sil AS (
         |  SELECT vec_id, assigned,
         |    CASE WHEN greatest(1.0 - cos1, 1.0 - cos2) > 0
         |      THEN ((1.0 - cos2) - (1.0 - cos1))
         |        / greatest(1.0 - cos1, 1.0 - cos2)
         |      ELSE 0.0 END AS s
         |  FROM t2
         |), med AS (
         |  SELECT assigned, quantile_cont(s, 0.5) AS median_sil
         |  FROM sil GROUP BY assigned
         |)
         |SELECT sil.assigned, count(*)::BIGINT AS n_vecs,
         |  sum(CASE WHEN s < 0 THEN 1 ELSE 0 END)::BIGINT AS n_negative,
         |  round(med.median_sil, 6) AS median_sil,
         |  round(min(s), 6) AS min_sil
         |FROM sil JOIN med ON sil.assigned = med.assigned
         |GROUP BY sil.assigned, med.median_sil
         |ORDER BY sil.assigned""".stripMargin,
    "sim_cluster_purity" ->
      s"""WITH $assignSql, asg AS (
         |  SELECT vec_id, label, c_label AS assigned FROM ranked WHERE rnk = 1
         |), bl AS (
         |  SELECT assigned, label, count(*) AS n FROM asg GROUP BY assigned, label
         |), r AS (
         |  SELECT assigned, label, n,
         |    row_number() OVER (PARTITION BY assigned ORDER BY n DESC, label ASC) AS rk,
         |    sum(n) OVER (PARTITION BY assigned) AS cluster_size
         |  FROM bl
         |)
         |SELECT assigned, cluster_size::BIGINT AS cluster_size,
         |  label AS majority_label, n::BIGINT AS majority_n,
         |  round(n::DOUBLE / cluster_size, 6) AS purity
         |FROM r WHERE rk = 1 ORDER BY assigned""".stripMargin,
    "sim_drift" ->
      s"""WITH ex AS (
         |  SELECT label, vec_id % 2 AS par, i AS pos,
         |    floor(embedding[(i + 1)::INT]::DOUBLE * $Scale)::BIGINT AS v
         |  FROM embeddings, range($Dim) t(i)
         |), st AS (
         |  SELECT label, par, pos, sum(v)::BIGINT AS sv,
         |    sum(v * v)::BIGINT AS sq, count(*)::BIGINT AS n
         |  FROM ex GROUP BY label, par, pos
         |), j AS (
         |  SELECT r.label, r.pos, r.n AS n0, a.n AS n1,
         |    r.sv::DOUBLE / r.n AS m0, a.sv::DOUBLE / a.n AS m1,
         |    (r.sq::DOUBLE / r.n - (r.sv::DOUBLE / r.n) * (r.sv::DOUBLE / r.n)) / r.n
         |      + (a.sq::DOUBLE / a.n - (a.sv::DOUBLE / a.n) * (a.sv::DOUBLE / a.n)) / a.n
         |      AS se2
         |  FROM (SELECT * FROM st WHERE par = 0) r
         |  JOIN (SELECT * FROM st WHERE par = 1) a USING (label, pos)
         |), z AS (
         |  SELECT label, n0, n1,
         |    CASE WHEN se2 > 0 THEN abs(m0 - m1) / sqrt(se2) ELSE 0.0 END AS z
         |  FROM j
         |)
         |SELECT label, max(n0)::BIGINT AS n_ref, max(n1)::BIGINT AS n_new,
         |  count(*) FILTER (WHERE z > $DriftZ)::BIGINT AS n_drifted_dims,
         |  round(max(z), 6) AS max_abs_z
         |FROM z GROUP BY label ORDER BY label""".stripMargin,
    "sim_ivf_topk" ->
      s"""WITH $assignSql, asg AS (
         |  SELECT vec_id, c_label AS cl, vq FROM ranked WHERE rnk = 1
         |), probe AS (
         |  SELECT vec_id AS q_id, c_label AS cl, vq AS qv FROM ranked
         |  WHERE vec_id < $NumQueries AND rnk <= $NProbe
         |), pairs AS (
         |  SELECT q_id, asg.vec_id, probe.qv AS va, asg.vq AS vb,
         |    ${n2.format("probe.qv")} AS na, ${n2.format("asg.vq")} AS nb
         |  FROM probe JOIN asg ON asg.cl = probe.cl AND asg.vec_id <> probe.q_id
         |), ${rankSql("pairs", "q_id", "vec_id", TopK, pfx = "rr_")}""".stripMargin,
    "sim_pq_encode" ->
      s"""WITH $pqChainSql
         |SELECT vec_id, m::INT AS m, c_label AS code,
         |  round(dist / ${Scale.toDouble * Scale}, 6) AS dist
         |FROM ranked WHERE rnk = 1 ORDER BY vec_id, m""".stripMargin,
    "sim_pq_train" ->
      s"""WITH $pqChainSql, codes AS (
         |  SELECT vec_id, m, c_label AS code FROM ranked WHERE rnk = 1
         |), j AS (
         |  SELECT codes.m AS m, codes.code AS code, sub.sv AS sv
         |  FROM codes JOIN sub ON sub.vec_id = codes.vec_id AND sub.m = codes.m
         |)
         |SELECT m::INT AS m, code, i::INT AS pos,
         |  sum(sv[(i + 1)::INT])::BIGINT AS sum_v, count(*)::BIGINT AS n_members
         |FROM j, range($PqSubDim) r(i)
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "sim_pq_topk" ->
      s"""WITH $pqChainSql, codes AS (
         |  SELECT vec_id, m, c_label AS code FROM ranked WHERE rnk = 1
         |), lut AS (
         |  SELECT vec_id AS q_id, m, c_label,
         |    round(dist / ${Scale.toDouble * Scale}, 6)::DECIMAL(18,6) AS d6
         |  FROM scored WHERE vec_id < $NumQueries
         |), adc AS (
         |  SELECT l.q_id, c.vec_id, sum(l.d6) AS adc
         |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.c_label
         |  WHERE c.vec_id <> l.q_id
         |  GROUP BY l.q_id, c.vec_id
         |), rq AS (
         |  SELECT q_id, vec_id, adc,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id)::INT AS rnk
         |  FROM adc
         |)
         |SELECT q_id, vec_id, rnk, round(adc::DOUBLE, 6) AS adc_dist
         |FROM rq WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin,
    "sim_ivfpq_topk" -> ivfpqTopkSql,
    "sim_pq_rerank" ->
      s"""WITH $pqChainSql, codes AS (
         |  SELECT vec_id, m, c_label AS code FROM ranked WHERE rnk = 1
         |), lut AS (
         |  SELECT vec_id AS q_id, m, c_label,
         |    round(dist / ${Scale.toDouble * Scale}, 6)::DECIMAL(18,6) AS d6
         |  FROM scored WHERE vec_id < $NumQueries
         |), adc AS (
         |  SELECT l.q_id, c.vec_id, sum(l.d6) AS adc
         |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.c_label
         |  WHERE c.vec_id <> l.q_id
         |  GROUP BY l.q_id, c.vec_id
         |), sh AS (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS srnk
         |  FROM adc
         |), ex AS (
         |  SELECT s.q_id, s.vec_id,
         |    (list_sum(list_apply(cc.vq, x -> x::DOUBLE * x))
         |      - 2 * list_sum(list_apply(range($Dim), i -> cc.vq[(i + 1)::INT]::DOUBLE * cq.vq[(i + 1)::INT]))
         |      + list_sum(list_apply(cq.vq, x -> x::DOUBLE * x)))
         |      / ${Scale.toDouble * Scale} AS l2
         |  FROM sh s JOIN eq cc ON cc.vec_id = s.vec_id
         |    JOIN eq cq ON cq.vec_id = s.q_id
         |  WHERE s.srnk <= $RerankK
         |), rr AS (
         |  SELECT q_id, vec_id, l2,
         |    row_number() OVER (PARTITION BY q_id ORDER BY l2, vec_id)::INT AS rnk
         |  FROM ex
         |)
         |SELECT q_id, vec_id, rnk, round(l2, 6) AS l2_dist
         |FROM rr WHERE rnk <= $TopK ORDER BY q_id, rnk""".stripMargin,
    "sim_kmeans_train" ->
      s"""WITH $assignSql, asg1 AS (
         |  SELECT vec_id, c_label AS cl, vq FROM ranked WHERE rnk = 1
         |), comp2 AS (
         |  SELECT cl, i, sum(vq[(i + 1)::INT]) AS sv, count(*) AS cnt
         |  FROM asg1, range($Dim) r(i) GROUP BY cl, i
         |), cent2 AS (
         |  SELECT cl AS c_label, list(sv::DOUBLE / cnt ORDER BY i) AS cv FROM comp2 GROUP BY cl
         |), scored2 AS (
         |  SELECT vec_id, c_label,
         |    list_sum(list_apply(range($Dim), i -> vq[(i + 1)::INT]::DOUBLE * cv[(i + 1)::INT])) /
         |      (sqrt(${n2.format("vq")}::DOUBLE) * sqrt(list_sum(list_apply(cv, x -> x * x)))) AS cos
         |  FROM eq, cent2
         |), ranked2 AS (
         |  SELECT vec_id, c_label, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label ASC) AS rnk
         |  FROM scored2
         |)
         |SELECT vec_id, c_label AS cluster, round(cos, 6) AS cos_sim
         |FROM ranked2 WHERE rnk = 1 ORDER BY vec_id""".stripMargin,
    "sim_kmeans_step" ->
      s"""WITH $assignSql, asg AS (
         |  SELECT vec_id, c_label AS cluster, vq FROM ranked WHERE rnk = 1
         |)
         |SELECT cluster, i::INT AS pos,
         |  sum(vq[(i + 1)::INT])::BIGINT AS sum_v, count(*) AS n_members
         |FROM asg, range($Dim) r(i)
         |GROUP BY cluster, i ORDER BY cluster, pos""".stripMargin,
    "sim_semantic_dedup" ->
      s"""WITH $assignSql, w(p, wv) AS (VALUES
         |    $planesSql
         |), asg AS (
         |  SELECT vec_id, vq, c_label AS cluster, round(cos, 6) AS ccos
         |  FROM ranked WHERE rnk = 1
         |), sb AS (
         |  SELECT vec_id, string_agg(
         |    CASE WHEN list_sum(list_apply(range($Dim), i -> vq[(i + 1)::INT] * wv[(i + 1)::INT])) >= 0
         |      THEN '1' ELSE '0' END, '' ORDER BY p) AS sub
         |  FROM asg, w WHERE p < $ReBits GROUP BY vec_id
         |), pop AS (
         |  SELECT cluster, count(*) AS n FROM asg GROUP BY cluster
         |), k AS (
         |  SELECT asg.vec_id, asg.cluster, asg.vq, asg.ccos,
         |    CASE WHEN pop.n > $ClusterCap THEN sb.sub ELSE '' END AS ckey,
         |    ${n2.format("asg.vq")} AS nn
         |  FROM asg JOIN sb USING (vec_id) JOIN pop USING (cluster)
         |), pr AS (
         |  SELECT a.cluster,
         |    a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id) AS akeeps,
         |    a.vec_id AS va, b.vec_id AS vb,
         |    list_sum(list_apply(range($Dim), i -> a.vq[(i + 1)::INT] * b.vq[(i + 1)::INT]))::DOUBLE /
         |      (sqrt(a.nn::DOUBLE) * sqrt(b.nn::DOUBLE)) AS c
         |  FROM k a JOIN k b ON a.cluster = b.cluster AND a.ckey = b.ckey AND a.vec_id < b.vec_id
         |)
         |SELECT cluster, CASE WHEN akeeps THEN va ELSE vb END AS keep_id,
         |  CASE WHEN akeeps THEN vb ELSE va END AS drop_id,
         |  round(c, 4) AS cos_sim
         |FROM pr WHERE c >= $SemT ORDER BY cluster, keep_id, drop_id""".stripMargin,
    "sim_triplets" ->
      s"""WITH $corpusSql, $bandSql, cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id
         |  FROM lng a JOIN lng b
         |    ON a.b_idx = b.b_idx AND a.band = b.band AND a.vec_id <> b.vec_id
         |), pairs AS (
         |  SELECT cand.vec_id, nbr_id,
         |    ea.vq AS va, eb.vq AS vb, ea.nn AS na, eb.nn AS nb
         |  FROM cand JOIN e ea ON ea.vec_id = cand.vec_id JOIN e eb ON eb.vec_id = nbr_id
         |), sc AS (
         |  SELECT vec_id, nbr_id,
         |    $dotSql::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)) AS cos
         |  FROM pairs
         |), pos AS (
         |  SELECT vec_id, nbr_id AS pos_id, cos AS cos_pos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id ASC) AS pr
         |  FROM sc WHERE cos >= $SemT
         |), neg AS (
         |  SELECT vec_id, nbr_id AS neg_id, cos AS cos_neg,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id ASC)::INT AS rnk
         |  FROM sc WHERE cos < $SemT
         |)
         |SELECT p.vec_id AS anchor_id, p.pos_id, n.neg_id, n.rnk,
         |  round(p.cos_pos, 6) AS cos_pos, round(n.cos_neg, 6) AS cos_neg,
         |  round(p.cos_pos - n.cos_neg, 6) AS margin
         |FROM pos p JOIN neg n ON n.vec_id = p.vec_id
         |WHERE p.pr = 1 AND n.rnk <= $GraphK
         |ORDER BY anchor_id, rnk""".stripMargin)
}
