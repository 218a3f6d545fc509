package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Sequence, ZipWith}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Standing anti-pattern gate over EVERY registered query's physical plan:
  * at 100 TB a CartesianProduct is fatal and a BroadcastNestedLoopJoin is
  * only survivable when one side is bounded by construction. Running the
  * whole battery through the planner here means a future operator that
  * accidentally plans a product (a dropped join key, a non-equi condition
  * Spark can't hash) fails CI instead of the bench.
  */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  /** Queries whose plans intentionally contain a BroadcastNestedLoopJoin
    * against a side that is SMALL BY CONSTRUCTION (not merely small at this
    * SF): the 8-row query sets (sim_*), and the 1-row threshold scalar
    * (ev_range_join). No centroid query is here: every IVF, PQ and
    * clustering query, sim_kmeans_train included, ranks against centroids
    * held on the driver and entered as literals, and the PQ sub-codebook
    * is a local frame joined on its subspace; the classifier and unigram
    * pairs enter their loop state (weights and bias, piece probabilities)
    * the same way, so no scalar is crossed in.
    */
  private val bnljByDesign = Set(
    "sim_brute_topk", "sim_lsh_topk", // broadcast 8-query set joins are equi,
    //                                   but the scored cross with queries is
    //                                   a non-equi (=!=) bounded broadcast
    "sim_recall_at_k", // composes brute + LSH, both bounded as above
    "sim_graph_rank", "ev_range_join",
    // 1-ROW aggregate scalars (vocab size / corpus total / normalizer)
    // crossJoined in as broadcasts — a bounded BNLJ by construction, same
    // class as ev_range_join's threshold scalar
    "txt_lm_perplexity", "txt_kn_perplexity", "txt_mix_weights", "txt_ppl_bucket",
    "txt_vocab_coverage", "dd_cluster_stats",
    "txt_collocations", // 1-row (nu, nb) corpus-totals scalar broadcast
    "dd_threshold_sweep", // 5-row threshold-grid broadcast onto bounded pairs
    "txt_heaps_law", // 10-row checkpoint-grid broadcast (itself a 1-row max-id scalar)
    "q_tpch_q11", // 1-row value-threshold scalar broadcast
    "q_tpch_q22", // 1-row avg-balance scalar broadcast
    "ev_lift", // 1-row user-count scalar broadcast
    "txt_dsir", // 1-row corpus/target token-totals scalar broadcast
    "sim_graph_rank_full", // 1-row per-round dangling-mass scalar broadcast
    "q_approx_topk", // 1-row n_total scalar broadcast onto the ≤ k row output
    "q_zorder", // 1-row key-extremes scalar broadcast (range normalization)
    "sim_recall_ivfpq", // composes brute + IVF-PQ, brute bounded as above
    "sim_recall_graph", // composes brute + graph search, both bounded as above
    "dd_lsh_recall", // 1-row n_true × 1-row n_found audit scalars
    "pipe_classified", // 1-row tercile-cutoff scalar over the classifier margins
    "q_histogram", // 1-row cents-extremes scalar broadcast (bucket index)
    "ev_rfm", // 1-row date-anchor + 1-row quintile-cutoff scalar broadcasts
    "pipe_epoch_plan", // 1-row Σa + spare-seat scalars over the bounded cell table
    "sim_graph_search", // 1-row entry-node scalar broadcast seeding the beam
    "ev_cohort_ltv", // 1-row corpus-min date-anchor scalar broadcast
    "ev_ols_trend", // 1-row corpus-min day-anchor scalar broadcast
    "q_bloom_audit") // 1-row bits-set + dim-count readout scalar broadcasts

  test("q_tpch_q10: quarter and return-flag predicates reach the parquet scans") {
    val plan = graft.ops.Relational.tpchQ10(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"))
    // the R-flag equality pushes into the lineitem scan
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan.take(2000))
    // the quarter window pushes into the orders scan
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan.take(2000))
  }

  test("every TPC-H macro broadcasts at least one dimension and pushes filters to a scan") {
    val macros = SparkEntry.queries.keys.filter(_.startsWith("q_tpch_")).toSeq.sorted
    val offenders = macros.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      // a joining macro where NO join is broadcast means a dimension is
      // being shuffled — the shape that breaks first at 100 TB. Exempt:
      // Q6 joins nothing (pure scan-aggregate) and Q13's two-table outer
      // join legitimately shuffles both corpus-scale sides.
      val bcast = plan.contains("BroadcastHashJoin") ||
        !plan.contains("Join") || name == "q_tpch_q13"
      // a NON-EMPTY pushed-filter set on at least one scan: bare
      // "PushedFilters: []" prints on every parquet scan, so matching the
      // prefix alone would make this assertion vacuous
      val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined
      if (bcast && pushed) None
      else Some(s"$name: bcast=$bcast pushed=$pushed")
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("q_tpch_q21: lineitem is scanned once — the EXISTS pair collapsed into one aggregate") {
    val plan = graft.ops.Relational.tpchQ21(spark, dir)
      .queryExecution.executedPlan.toString
    // the classic Q21 plan self-joins lineitem twice (EXISTS + NOT EXISTS);
    // the one-pass aggregate formulation must read the fact exactly once
    val factScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans === 1, s"$factScans lineitem scans\n${plan.take(2000)}")
    // supplier rides a broadcast, never a shuffle
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("dd_bloom_decontaminate: the bloom pre-filter sits in the executed plan") {
    val plan = graft.ops.Dedup.bloomDecontaminate(spark, dir)
      .queryExecution.executedPlan.toString
    // the explicit runtime filter must survive planning (a regression that
    // drops it would still be CORRECT — same exact join — just not pruned)
    assert(plan.contains("might_contain"), plan.take(2000))
  }

  test("txt_chunk_windows plans with zero exchanges (pure per-row generate)") {
    val plan = graft.ops.TextOps.chunkWindows(spark, dir)
      .queryExecution.executedPlan
    // the presentation orderBy is allowed its range-partition sort; nothing
    // else may shuffle — no aggregate/join exchange anywhere in the plan
    val exchanges = plan.toString.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges === 0, plan.toString.take(2000))
  }

  /** q_* queries with NO pushable base-table predicate — full-table
    * aggregates/diagnostics (rollup/cube/histogram/profile/skew audit/
    * sketches/windows/layout audit), pure projections, or filters that are
    * expressions over derived values (date_trunc buckets, post-agg HAVING)
    * which parquet cannot evaluate. Every query NOT on this list must show
    * a non-empty pushed-filter set; a new q_* lands here only with a
    * reviewed reason, so "forgot the filter before the shuffle" fails CI.
    */
  private val noPushableFilter = Set(
    "q_approx_intersect", // year buckets via date_trunc — expression, not a column predicate
    "q_approx_topk", // count-min over every row by design
    "q_constraint_audit", // the ingest gate must see every row to count violations
    "q_gini", // concentration audit over ALL customer spend — no pushable predicate
    "q_k_anonymity", // re-identification audit must bin EVERY row — no predicate
    "q_mad_outliers", // robust outlier screen over ALL order totals — no predicate
    "q_cube", "q_rollup", "q_grouping_sets", // full-table multi-level aggregates
    "q_distinct_having", // HAVING is post-aggregate, nothing reaches the scan
    "q_histogram", "q_percentiles", "q_profile", // full-column distribution/profile diagnostics
    "q_scalar_datemath", "q_scalar_string", // pure per-row projections
    "q_setops", // branch predicates are derived-expression splits, not column literals
    "q_skew_audit", // the pre-join diagnostic must see every row
    "q_topk", "q_window", "q_window_range", // full-partition windows/aggregates
    "q_zorder") // layout audit interleaves every row's keys

  test("every q_* query pushes a filter to its scan unless it provably has none") {
    val names = SparkEntry.queries.keys.filter(_.startsWith("q_")).toSeq.sorted
    val offenders = names.filterNot(noPushableFilter).flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      // non-empty set only: "PushedFilters: []" prints on every scan
      if ("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined) None
      else Some(name)
    }
    assert(offenders.isEmpty,
      s"q_* plans with no pushed filter and no allowlist reason: ${offenders.mkString(", ")}")
  }

  test("no q_* fact scan reads the full row — column pruning reaches every lineitem/orders scan") {
    // widen the metadata budget so ReadSchema never truncates mid-struct
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val fullWidth = Map("lineitem" -> 16, "orders" -> 9)
    val names = SparkEntry.queries.keys.filter(_.startsWith("q_")).toSeq.sorted
    val offenders = names.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      plan.linesIterator.flatMap { l =>
        fullWidth.collectFirst {
          case (table, width)
              if l.contains("FileScan parquet") && l.contains(s"$table.parquet") &&
                "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(l)
                  .exists(_.group(1).split(",").length >= width) =>
            s"$name reads all $width columns of $table"
        }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  /** The documented exact/sketch demo pair (q_percentiles scaladoc): the
    * ONLY declared plans allowed Spark's exact `Percentile`/`PercentileDisc`
    * aggregates, whose final reducer buffers a group's full distinct-value
    * multiset — the r16 verdict's flagged scale-killer on near-unique
    * domains. Every production quantile must ride Quantiles.exact's
    * bounded-state rank selection or approx_percentile.
    */
  private val exactPercentileByDesign = Set("q_percentiles", "q_approx_percentiles")

  test("no exact percentile aggregate in any declared plan outside the documented demo pair") {
    // matches percentile( / percentile_disc( but not percentile_approx( /
    // approx_percentile( — '_' is a word char, so \b rejects both
    val exactPct = "\\bpercentile(_disc)?\\(".r
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      if (exactPercentileByDesign(name)) None
      else {
        val plan = q(spark, dir).queryExecution.optimizedPlan.toString
        if (exactPct.findFirstIn(plan).isDefined) Some(name) else None
      }
    }
    assert(offenders.isEmpty,
      s"exact-percentile aggregate over an unbounded domain in: ${offenders.mkString(", ")}")
  }

  /** Builds a query from a clean cache, forces it with a `noop` write and
    * asserts it ran in at most `maxJobs` Spark jobs (build-time actions
    * included) and left no persisted RDD behind. The query is built once
    * first, so the schemas of the tables it reads are cached ([[Tables]])
    * and the counted build runs no parquet inference job: `maxJobs` is the
    * warm count, and per-read inference would exceed it by one job per
    * table read. The test names keep the looser figures they were
    * registered under.
    */
  private def assertJobsAndNoCache(maxJobs: Int)(build: => DataFrame): Unit = {
    build
    Local.sweep(spark)
    val jobs = TestSpark.jobsOf(build.write.format("noop").mode("overwrite").save())
    assert(jobs <= maxJobs, s"$jobs jobs")
    val cached = spark.sparkContext.getPersistentRDDs
    assert(cached.isEmpty, cached.values.map(_.name).mkString("; "))
  }

  test("sim_kmeans_train: build + noop write runs in at most 10 jobs and leaves nothing cached") {
    // two refit aggregates collected to the driver plus the sorted write
    assertJobsAndNoCache(8)(graft.ops.Similarity.kmeansTrain(spark, dir))
  }

  test("sim_ivf_assign: map-only up to its final sort, at most 6 jobs, nothing cached") {
    val plan = graft.ops.Similarity.ivfAssign(spark, dir).queryExecution.executedPlan
    def count(f: PartialFunction[SparkPlan, SparkPlan]) = collect(plan)(f).size
    // the centroids are literals: the presentation orderBy's range
    // partitioning is the only exchange, and nothing is joined or broadcast
    assert(count { case e: ShuffleExchangeLike => e } === 1, plan)
    assert(count { case w: WindowExec => w } === 0, plan)
    assert(count { case j: BaseJoinExec => j } === 0, plan)
    assert(count { case b: BroadcastExchangeLike => b } === 0, plan)
    // the collected centroid aggregate (its shuffle map stage and its
    // result), then the range-bounds sample, the map stage and the sorted
    // write
    assertJobsAndNoCache(5)(graft.ops.Similarity.ivfAssign(spark, dir))
  }

  test("txt_bpe_train: merges collected to the driver, at most 24 jobs, nothing cached") {
    // the framed vocabulary is persisted once; each of the 10 rounds is one
    // collected top-1 aggregate (its shuffle map stage and its result) and
    // the merge list is a local frame
    assertJobsAndNoCache(23)(graft.ops.TextOps.bpeTrain(spark, dir))
  }

  test("txt_classifier_train: weights held on the driver, at most 14 jobs, nothing cached") {
    // the feature rows are persisted once; each of the 5 rounds is one
    // collected global aggregate (its shuffle map stage and its result) and
    // the trace is a local frame
    assertJobsAndNoCache(13)(graft.ops.TextOps.classifierTrain(spark, dir))
  }

  test("txt_winnowing: map-only up to its final sort, at most 4 jobs, nothing cached") {
    val plan = graft.ops.TextOps.winnowing(spark, dir).queryExecution.executedPlan
    def count(f: PartialFunction[SparkPlan, SparkPlan]) = collect(plan)(f).size
    // the presentation orderBy's range partitioning is the only exchange
    assert(count { case e: ShuffleExchangeLike => e } === 1, plan)
    assert(count { case w: WindowExec => w } === 0, plan)
    assert(count { case j: BaseJoinExec => j } === 0, plan)
    assert(count { case b: BroadcastExchangeLike => b } === 0, plan)
    // the range-bounds sample, the map stage and the sorted write
    assertJobsAndNoCache(3)(graft.ops.TextOps.winnowing(spark, dir))
  }

  /** Every operator of `plan`, those of the frames cached under its
    * in-memory scans included: a persisted frame's shape lives there.
    */
  private def operators(plan: SparkPlan): Seq[SparkPlan] = {
    val nodes = collect(plan) { case p => p }
    nodes ++ nodes.collect { case m: InMemoryTableScanExec => m.relation.cachedPlan }
      .flatMap(operators)
  }

  private def operatorsOf(name: String): Seq[SparkPlan] =
    operators(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)

  test("k-token windows come from shingles: no zip_with, no transform over a position sequence") {
    // higher-order window builders are CodegenFallback; these queries have
    // no other higher-order transform
    val native = Seq("dd_passage_overlap", "dd_passage_decontaminate", "dd_bloom_decontaminate",
      "dd_containment", "dd_substring", "txt_repetition", "txt_ngram_novelty", "txt_bigrams",
      "txt_collocations", "txt_lm_perplexity", "txt_kn_perplexity")
    // the MinHash family keeps the transforms that hash its shingle set
    val minhash = Seq("dd_neardup", "dd_neardup_ingest", "dd_lsh_recall", "dd_edit_verify",
      "dd_cluster", "dd_survivors", "dd_decontaminate")
    val offenders = (native ++ minhash).flatMap { name =>
      val exprs = operatorsOf(name).flatMap(_.expressions).flatMap(_.collect { case e => e })
      val windowBuilders = exprs.collect {
        case z: ZipWith => z
        case t: ArrayTransform if !minhash.contains(name) ||
          t.argument.exists(_.isInstanceOf[Sequence]) => t
      }
      windowBuilders.headOption.map(e => s"$name: ${e.prettyName}")
    }
    Local.sweep(spark)
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("per-doc shingle queries shuffle no token stream on doc_id") {
    val windowed = Seq("txt_repetition", "txt_ngram_novelty", "dd_passage_overlap").flatMap { name =>
      val n = operatorsOf(name).count(_.isInstanceOf[WindowExec])
      if (n == 0) None else Some(s"$name: $n windows")
    }
    // dd_substring keeps its occurrence window (on the digest) and its
    // island window (on the doc pair and diagonal)
    val onDocId = operatorsOf("dd_substring").count {
      case w: WindowExec => w.partitionSpec.exists(_.references.exists(_.name == "doc_id"))
      case _ => false
    }
    val offenders = windowed ++
      (if (onDocId == 0) None else Some(s"dd_substring: $onDocId windows on doc_id"))
    Local.sweep(spark)
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("no cartesian products anywhere; nested-loop joins only where bounded by design") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val plan = q(spark, dir).queryExecution.executedPlan.toString
      val cartesian = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljByDesign(name)
      if (cartesian) Some(s"$name: CartesianProduct")
      else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
