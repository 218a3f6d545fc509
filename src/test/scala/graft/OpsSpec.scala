package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.MapReduce
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

/** The relational nearest-centroid formulation the driver-held
  * [[Similarity.centroidsOf]] / [[Similarity.nearest]] pair replaced, kept
  * as the bit-identity reference: per-label centroids as a two-shuffle
  * subplan, every vector scored against them by a broadcast cross join,
  * and the argmax a max_by aggregate per vector. Its cosine is the
  * driver-held one's: NULL for a zero vector, as in the oracle.
  */
object CentroidReference {
  private def spark = TestSpark.spark

  /** (vec_id, label, vq) of the embeddings in `d`. */
  def labelled(d: String): org.apache.spark.sql.DataFrame = {
    graft.functions.ArrayDot.register(spark)
    Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"), Similarity.quantize(col("embedding")).as("vq"))
  }

  /** Per-group exact centroids → (c_label, cv). */
  def centroidsBy(vecs: org.apache.spark.sql.DataFrame, grp: String): org.apache.spark.sql.DataFrame =
    vecs.select(col(grp).as("g"), posexplode(col("vq")).as(Seq("pos", "v")))
      .groupBy("g", "pos")
      .agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
      .withColumn("c", col("sv").cast("double") / col("cnt"))
      .groupBy("g")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
      .select(col("g").as("c_label"), col("cv"))

  /** Every vector of `e` scored against every (broadcast) centroid. */
  def scoreAgainst(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dot = call_function("array_dot", col("vq").cast("array<double>"), col("cv"))
    val den = sqrt(call_function("array_dot", col("vq"), col("vq")).cast("double")) *
      sqrt(call_function("array_dot", col("cv"), col("cv")))
    e.join(broadcast(cent))
      .select(e.columns.map(col) :+ col("c_label") :+
        try_divide(dot, den).as("cos"): _*)
  }

  /** (vec_id, label, vq, assigned, cos): the max-cosine centroid per
    * vector, ties to the smaller label.
    */
  def assignUnder(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    scoreAgainst(e, cent)
      .groupBy("vec_id", "label")
      .agg(max_by(
        struct(col("c_label"), col("cos")),
        struct(col("cos"), (-col("c_label")).as("neg"))).as("best"),
        first(col("vq")).as("vq"))
      .select(col("vec_id"), col("label"), col("vq"),
        col("best.c_label").as("assigned"), col("best.cos").as("cos"))
}

/** Operator-level invariants on the sf0.001 fixtures — cheap structural
  * checks that hold at any scale (the value-level gate is the DuckDB oracle
  * in tools/check.py; these catch semantic regressions earlier and cover
  * what SQL can't, e.g. expression-vs-JVM tokenizer agreement).
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("TextOps.tokens expression agrees with the JVM-side reference tokenizer") {
    import spark.implicits._
    val rows = Tables.documents(spark, dir)
      .select(col("text"), TextOps.tokens(col("text")).as("toks"))
      .as[(String, Seq[String])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (text, toks) =>
      val jvm = text.toLowerCase.split(MapReduce.WhitespaceClass).filter(_.nonEmpty).toSeq
      assert(toks === jvm)
    }
  }

  test("dd_exact: winners are unique per fingerprint and dup counts cover the table") {
    import spark.implicits._
    val total = Tables.documents(spark, dir).count()
    val winners = Dedup.exactDedup(spark, dir)
    val fps = winners.select("fp").as[String].collect()
    assert(fps.distinct.length === fps.length) // one winner per group
    val covered = winners.agg(sum("dup_cnt")).head.getLong(0)
    val nullFp = Tables.documents(spark, dir)
      .select(when(size(TextOps.tokens(col("text"))) <= 0, 1).otherwise(0).as("z"))
      .agg(sum("z")).head.getLong(0)
    assert(covered + nullFp === total) // every doc is either covered or token-less
  }

  test("dd_simhash: 32-bit binary signatures for every tokenized doc") {
    import spark.implicits._
    val sigs = Dedup.simhash(spark, dir).select("simhash").as[String].collect()
    assert(sigs.nonEmpty)
    assert(sigs.forall(s => s.length == 32 && s.forall(c => c == '0' || c == '1')))
  }

  test("sim_brute_topk: k results per query, cosine in [-1,1], ranked descending") {
    import spark.implicits._
    val rows = Similarity.bruteTopK(spark, dir)
      .select("q_id", "rnk", "cos_sim").as[(Long, Int, Double)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.size === 8)
    byQ.values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq === (1 to 5))
      val cs = g.sortBy(_._2).map(_._3)
      assert(cs.forall(c => c >= -1.0001 && c <= 1.0001))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }) // monotone in rank
    }
  }

  test("sim_lsh_topk is a subset of the brute-force ranking with identical scores") {
    import spark.implicits._
    val brute = Similarity.bruteTopK(spark, dir)
      .select("q_id", "vec_id", "cos_sim").as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    val lsh = Similarity.lshTopK(spark, dir)
      .select("q_id", "vec_id", "cos_sim").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, v, c) =>
      brute.get((q, v)).foreach(bc => assert(math.abs(bc - c) < 1e-9))
    }
  }

  test("sim_ivf_assign: every vector assigned to exactly one of the 10 label centroids") {
    import spark.implicits._
    val rows = Similarity.ivfAssign(spark, dir)
      .select("vec_id", "assigned").as[(Long, Int)].collect()
    assert(rows.length === Tables.embeddings(spark, dir).count())
    assert(rows.map(_._1).distinct.length === rows.length)
    assert(rows.forall { case (_, a) => a >= 0 && a <= 9 })
  }

  test("sim_kmeans_train: training does not degrade the fixture's assignment quality") {
    import spark.implicits._
    // Regression pin, not a theorem: cosine assignment with unnormalized
    // mean-refit centroids has no strict monotonicity guarantee (that
    // holds for Euclidean SSE / spherical k-means), but on this
    // deterministic fixture the trained mean assigned-cosine comfortably
    // clears the initial one — a refit that regresses it signals a bug.
    val init = Similarity.ivfAssign(spark, dir)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect().toMap
    val trained = Similarity.kmeansTrain(spark, dir)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect().toMap
    assert(trained.keySet === init.keySet)
    val meanInit = init.values.sum / init.size
    val meanTrained = trained.values.sum / trained.size
    assert(meanTrained >= meanInit - 0.005,
      s"trained mean cos $meanTrained well below initial $meanInit")
  }

  /** The relational two-round Lloyd formulation kmeansTrain replaced:
    * centroids as a two-shuffle subplan ([[CentroidReference.centroidsBy]]),
    * broadcast-scored and reduced by a max_by argmax per vector
    * ([[CentroidReference.assignUnder]]). The reference the driver-side
    * loop must match bit for bit.
    */
  private def kmeansTrainRelational(d: String): org.apache.spark.sql.DataFrame = {
    val e = CentroidReference.labelled(d)
    val asg1 = CentroidReference.assignUnder(e, CentroidReference.centroidsBy(e, "label"))
    CentroidReference.assignUnder(e,
        CentroidReference.centroidsBy(asg1.select(col("assigned"), col("vq")), "assigned"))
      .select(col("vec_id"), col("assigned").as("cluster"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("vec_id")
  }

  /** sim_ivf_assign restated over the relational centroid path. */
  private def ivfAssignRelational(d: String): org.apache.spark.sql.DataFrame = {
    val e = CentroidReference.labelled(d)
    CentroidReference.assignUnder(e, CentroidReference.centroidsBy(e, "label"))
      .select(col("vec_id"), col("label"), col("assigned"),
        (col("label") === col("assigned")).as("hit"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("vec_id")
  }

  /** (vec_id, rnk, label, cos) of the [[CentroidTopK]] nearest label
    * centroids, from the driver-held ranking and from the relational one
    * (the oracle's `cos DESC, c_label ASC`: a NULL label loses ties).
    */
  private val CentroidTopK = 3
  private def topKDriver(d: String): org.apache.spark.sql.DataFrame = {
    val e = CentroidReference.labelled(d)
    val cents = Similarity.centroidsOf(e.select(col("label").as("g"), col("vq")))
    e.select(col("vec_id"), posexplode(Similarity.nearestK(cents, CentroidTopK)).as(Seq("p", "c")))
      .select(col("vec_id"), (col("p") + 1).as("rnk"), col("c.label").as("label"),
        col("c.cos").as("cos"))
      .orderBy("vec_id", "rnk")
  }
  private def topKRelational(d: String): org.apache.spark.sql.DataFrame = {
    val e = CentroidReference.labelled(d)
    CentroidReference.scoreAgainst(e, CentroidReference.centroidsBy(e, "label"))
      .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("cos").desc, col("c_label").asc_nulls_last)))
      .filter(col("rnk") <= CentroidTopK)
      .select(col("vec_id"), col("rnk"), col("c_label").as("label"), col("cos"))
      .orderBy("vec_id", "rnk")
  }

  /** A copy of the sf0.001 fixture in a fresh temp dir whose `embeddings`
    * table is `f` of the original; every other table is linked unchanged.
    */
  private def withEmbeddings(tag: String)(f: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame)(body: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    try {
      for (t <- Tables.names if t != "embeddings")
        java.nio.file.Files.createSymbolicLink(d.resolve(s"$t.parquet"),
          java.nio.file.Paths.get(s"$dir/$t.parquet").toAbsolutePath)
      f(Tables.embeddings(spark, dir)).write.parquet(d.resolve("embeddings.parquet").toString)
      body(d.toString)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
  }

  /** Rows with doubles compared by bit pattern (NaN-safe, -0.0 ≠ 0.0). */
  private def exactRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case x: Double => java.lang.Double.doubleToRawLongBits(x)
      case x => x
    })

  test("sim_kmeans_train: driver-side Lloyd loop is bit-identical to the relational formulation") {
    val got = Similarity.kmeansTrain(spark, dir)
    val ref = kmeansTrainRelational(dir)
    assert(got.schema.map(f => f.name -> f.dataType) === ref.schema.map(f => f.name -> f.dataType))
    val rows = exactRows(got)
    assert(rows.length === Tables.embeddings(spark, dir).count())
    assert(rows === exactRows(ref))
  }

  test("sim_kmeans_train: degenerate inputs match the relational formulation") {
    val labelType = Tables.embeddings(spark, dir).schema("label").dataType
    val cases = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      // no rows → no centroid: greatest() would have no argument at all
      "empty" -> (_.limit(0)),
      // one label → one centroid: greatest() needs two, the struct stands alone
      "one-label" -> (_.withColumn("label", lit(3).cast(labelType))),
      // the null label is a centroid of its own; it loses every cosine tie
      "null-labels" -> (_.withColumn("label",
        when(col("vec_id") % 3 === 0, lit(null).cast(labelType)).otherwise(col("label")))),
      "all-null-labels" -> (_.withColumn("label", lit(null).cast(labelType))),
      // one vector everywhere: every centroid ties, the smallest label wins
      "identical-vectors" -> (e => e.drop("embedding")
        .crossJoin(e.orderBy("vec_id").select("embedding").limit(1))))
    for ((tag, f) <- cases) withEmbeddings(tag)(f) { d =>
      val got = exactRows(Similarity.kmeansTrain(spark, d))
      assert(got === exactRows(kmeansTrainRelational(d)), tag)
      assert(got.length === Tables.embeddings(spark, d).count(), tag)
      // the shared argmax and top-k against the relational ranking
      assert(exactRows(Similarity.ivfAssign(spark, d)) === exactRows(ivfAssignRelational(d)), tag)
      assert(exactRows(topKDriver(d)) === exactRows(topKRelational(d)), tag)
    }
    // a zero vector: the oracle's cosine divides by zero to NULL, which
    // every cosine outranks, so the vector goes to the smallest label (0)
    val zero = typedLit(Seq.fill(Similarity.Dim)(0.0f))
    withEmbeddings("zero-vector")(_.withColumn("embedding",
        when(col("vec_id") === 7, zero).otherwise(col("embedding")))) { d =>
      val asg = exactRows(Similarity.ivfAssign(spark, d))
      assert(asg.find(_.head == 7L).get === Seq(7L, 1, 0, false, null))
      assert(exactRows(Similarity.kmeansTrain(spark, d)).find(_.head == 7L).get ===
        Seq(7L, 0, null))
      assert(asg === exactRows(ivfAssignRelational(d)))
      assert(exactRows(Similarity.kmeansTrain(spark, d)) === exactRows(kmeansTrainRelational(d)))
      assert(exactRows(topKDriver(d)) === exactRows(topKRelational(d)))
    }
    // every label-0 vector zero: centroid 0 is the zero vector, the zero
    // vectors form cluster 0 with only NULL cosines, and the oracle keeps
    // their rows with a NULL cut and verdict
    withEmbeddings("zero-cluster")(_.withColumn("embedding",
        when(col("label") === 0, zero).otherwise(col("embedding")))) { d =>
      val rows = Similarity.outlierPrune(spark, d).collect()
      assert(rows.length === Tables.embeddings(spark, d).count())
      val zeros = rows.filter(_.getAs[Int]("label") == 0)
      assert(zeros.nonEmpty && zeros.forall(r => r.getAs[Int]("assigned") == 0 &&
        r.isNullAt(r.fieldIndex("cut_lo")) && r.isNullAt(r.fieldIndex("outlier"))))
    }
    // one label: no runner-up centroid, so every silhouette is NULL, as the
    // oracle gives (3, 500, 0, NULL, NULL)
    withEmbeddings("one-label")(_.withColumn("label", lit(3).cast(labelType))) { d =>
      assert(Similarity.silhouette(spark, d).collect().toSeq.map(_.toSeq) ===
        Seq(Seq(3, 500L, 0L, null, null)))
    }
  }

  test("sim_graph_rank(+full): an empty embeddings table ranks zero nodes, no division by zero") {
    val full = Seq(Similarity.graphRank(spark, dir), Similarity.graphRankFull(spark, dir))
    withEmbeddings("empty")(_.limit(0)) { d =>
      for ((out, ref) <- Seq(Similarity.graphRank(spark, d), Similarity.graphRankFull(spark, d))
          .zip(full)) {
        assert(out.schema === ref.schema)
        assert(out.collect().isEmpty)
      }
    }
  }

  test("sim_ivf_topk: probing 3 of 10 lists recovers a sane share of brute-force truth") {
    import spark.implicits._
    val ivf = Similarity.ivfTopK(spark, dir)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteTopK(spark, dir)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall under nprobe=3/10") // deterministic fixture
  }

  test("pipe_corpus: composed pipeline output is the intersection of its gates") {
    import spark.implicits._
    val out = graft.ops.Pipeline.corpus(spark, dir).select("doc_id").as[Long].collect().toSet
    assert(out.nonEmpty)
    val keep = TextOps.c4Filter(spark, dir).filter(col("keep"))
      .select("doc_id").as[Long].collect().toSet
    val winners = Dedup.exactDedup(spark, dir).select("doc_id").as[Long].collect().toSet
    val surv = Dedup.survivors(spark, dir).select("doc_id").as[Long].collect().toSet
    val contam = Dedup.passageDecontaminate(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val bench = Tables.documents(spark, dir)
      .filter(col("source").isin((0 until 5).map(i => s"src$i"): _*))
      .select("doc_id").as[Long].collect().toSet
    assert(out === (keep & winners & surv) -- contam -- bench)
    assert(out.intersect(bench).isEmpty) // the eval set never trains
  }

  test("pipe_datacard: the card's final column audits pipe_corpus exactly") {
    import spark.implicits._
    val card = graft.ops.Pipeline.datacard(spark, dir).collect()
    assert(card.nonEmpty)
    // the per-source attrition funnel is internally monotone...
    card.foreach { r =>
      val (docs, q, fin) = (r.getLong(1), r.getLong(2), r.getLong(5))
      assert(fin <= q && q <= docs, s"${r.getString(0)}: $fin <= $q <= $docs")
    }
    // ...and its final counts sum to EXACTLY the composed corpus size —
    // the card uses the same stage predicates as the pipeline it audits
    val nFinal = card.map(_.getLong(5)).sum
    val nCorpus = graft.ops.Pipeline.corpus(spark, dir).count()
    assert(nFinal === nCorpus)
  }

  test("txt_classifier_train: property — trajectory matches the reference on random corpora") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // independent reference perceptron (string-side md5 hashing, mutable
    // arrays) re-stated compactly; exercises the edges the fixture can't
    // enumerate: the empty corpus (every round: no mistakes, zero weights,
    // top_dim 0), empty docs, single-class corpora, zero-sum features,
    // sign(0) ties on both the mistake rule and the argmax packing
    val D = 64
    def reference(corpus: Seq[(Long, String, String)]) = {
      val mdig = java.security.MessageDigest.getInstance("MD5")
      def hex(s: String) = mdig.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val x = corpus.map { case (id, _, t) =>
        id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq.map { tok =>
          val h = hex(tok)
          ((java.lang.Long.parseLong(h.substring(0, 8), 16) % D).toInt,
            if (java.lang.Long.parseLong(h.substring(8, 9), 16) % 2 == 0) 1L else -1L)
        }.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 != 0)
      }.toMap
      val y = corpus.map { case (id, src, _) =>
        id -> (if (src.drop(3).toInt % 4 == 0) 1L else -1L)
      }.toMap
      val w = Array.fill(D)(0L); var b = 0L
      (1 to graft.ops.TextOps.PerceptronRounds).map { r =>
        val mis = corpus.map(_._1).filter { id =>
          y(id) * (x(id).map { case (d, xv) => w(d) * xv }.sum + b) <= 0
        }
        for (id <- mis; (d, xv) <- x(id)) w(d) += y(id) * xv
        b += mis.map(y).sum
        val top = w.indices.maxBy(d => math.abs(w(d)) * D + (D - 1 - d)).toLong
        (r.toLong, mis.size.toLong, b, w.map(math.abs).sum, w.map(v => v * v).sum, top)
      }
    }
    val tokenGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val docGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, tokenGen)).map(_.mkString(" "))
    val srcGen = Gen.choose(0, 5).map(i => s"src$i")
    val corpusGen = Gen.choose(0, 6)
      .flatMap(k => Gen.listOfN(k, Gen.zip(srcGen, docGen)))
      .map(_.zipWithIndex.map { case ((s, t), i) => (i.toLong + 1, s, t) })
    val prop = Prop.forAll(corpusGen) { corpus =>
      val got = graft.ops.TextOps.classifierTrainOf(
          corpus.toDF("doc_id", "source", "text"))
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      got == reference(corpus)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("sim_triplets: positive bar, hard-negative order, exact cosine recompute") {
    import spark.implicits._
    val t = graft.ops.Similarity.triplets(spark, dir)
      .as[(Long, Long, Long, Int, Double, Double, Double)].collect().toSeq
    assert(t.nonEmpty, "no anchor crossed the positive bar — degenerate fixture")
    // the triplet invariants: positive at/above the bar, negatives below,
    // margin strictly positive, one positive per anchor, ranks contiguous
    // and descending in similarity
    t.foreach { case (a, _, _, _, cp, cn, m) =>
      assert(cp >= 0.4 && cn < 0.4 && m > 0, s"anchor $a: $cp / $cn / $m")
    }
    t.groupBy(_._1).foreach { case (a, rows) =>
      assert(rows.map(_._2).distinct.size === 1, s"anchor $a: >1 positive")
      assert(rows.map(_._4).sorted === (1 to rows.size), s"anchor $a: rank gap")
      assert(rows.sortBy(_._4).map(_._6).sliding(2).forall(p =>
        p.size < 2 || p(0) >= p(1)), s"anchor $a: negatives out of order")
    }
    // independent recompute of one row's cosines straight from the
    // embeddings table (same Q.20 quantization, exact integer dot)
    val (a, p, n, _, cp, cn, _) = t.head
    val vecs = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(a, p, n))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, e) => id -> e.map(x => math.floor(x * 1048576L).toLong) }
      .toMap
    def cos(x: Seq[Long], y: Seq[Long]): Double = {
      val dot = x.zip(y).map { case (u, v) => u * v }.sum
      val r = dot.toDouble /
        (math.sqrt(x.map(v => v * v).sum.toDouble) *
          math.sqrt(y.map(v => v * v).sum.toDouble))
      // Spark round() semantics: HALF_UP on the BigDecimal value
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(cos(vecs(a), vecs(p)) === cp)
    assert(cos(vecs(a), vecs(n)) === cn)
  }

  test("pipe_classified: tier rollup audits the classifier margins exactly") {
    val tiers = graft.ops.Pipeline.classified(spark, dir).collect()
    assert(tiers.nonEmpty)
    val scored = graft.ops.TextOps.classifierScore(spark, dir)
    val nScored = scored.count()
    val sumMargin = scored.agg(org.apache.spark.sql.functions.sum("score"))
      .head().getLong(0)
    scored.unpersist()
    // every scored doc lands in exactly one (split, tier) cell, and the
    // cells' exact margin sums reassemble the per-doc total — the manifest
    // and the classifier are mutually checking artifacts
    assert(tiers.map(_.getLong(2)).sum === nScored)
    assert(tiers.map(_.getLong(4)).sum === sumMargin)
    // tercile bucketing must produce all three tiers somewhere
    assert(tiers.map(_.getString(1)).toSet === Set("head", "middle", "tail"))
    tiers.foreach { r =>
      assert(r.getLong(5) <= r.getLong(6),
        s"${r.getString(0)}/${r.getString(1)}: min > max margin")
    }
  }

  test("boundedSequence: empty for inverted bounds and typed by its inputs") {
    val r = spark.range(1).select(
      graft.functions.Exprs.boundedSequence(lit(1), lit(0)).as("e"),
      graft.functions.Exprs.boundedSequence(lit(1L), lit(-5L)).as("el"),
      graft.functions.Exprs.boundedSequence(lit(1L), lit(3L)).as("s"))
      .head()
    assert(r.getSeq[Int](0).isEmpty) // NOT [1, 0] — the sequence(0,-1) trap
    assert(r.getSeq[Long](1).isEmpty) // long bounds: guard still total
    assert(r.getSeq[Long](2) === Seq(1L, 2L, 3L))
  }

  test("ev_retention: offset 0 is total by definition and retention never exceeds 1") {
    import spark.implicits._
    val rows = graft.ops.Streamish.retention(spark, dir)
      .select("day_offset", "n_active", "cohort_n", "retention")
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.filter(_._1 == 0).foreach { case (_, a, n, r) =>
      assert(a === n); assert(r === 1.0) // every member is active on day 0
    }
    assert(rows.forall { case (_, a, n, r) => a <= n && r <= 1.0 })
  }

  test("ev_anomaly: per-type z-scores are centered and flags match |z| > 2") {
    import spark.implicits._
    val rows = graft.ops.Streamish.anomaly(spark, dir)
      .select("event_type", "z", "anomalous").as[(String, Double, Boolean)].collect()
    rows.groupBy(_._1).values.foreach { g =>
      val mean = g.map(_._2).sum / g.length
      assert(math.abs(mean) < 0.01) // sum of (n - mean) is 0 by construction
    }
    assert(rows.forall { case (_, z, f) => f === (math.abs(z) > 2) })
  }

  test("ev_ab_test: hand-built experiment — assignment, activation window, pooled z") {
    import spark.implicits._
    // LCG high-bit assignment for uids 1..8 is [t,c,t,c,t,c,t,c] (verified
    // below against an independent BigInt evaluation). Treatment 1,3,5,7:
    // first event IS a purchase (value 10) -> all activate. Control 2,4:
    // view day1 then purchase day2 value 5 -> activate (within 3 days).
    // Control 6,8: view only, no purchase -> no activation, null revenue.
    def ts(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00").getTime)
    val ev =
      Seq(1L, 3L, 5L, 7L).map(u => (u, ts(1), "purchase", 10.0)) ++
        Seq(2L, 4L).flatMap(u => Seq((u, ts(1), "view", 0.0), (u, ts(2), "purchase", 5.0))) ++
        Seq(6L, 8L).map(u => (u, ts(1), "view", 0.0))
    (1L to 8L).foreach { u =>
      val hi = ((BigInt(u) * 1103515245 + 12345) mod BigInt(2147483648L)) >= 1073741824
      assert(hi === (u % 2 == 1), s"uid $u assignment drifted from the doc'd pattern")
    }
    val row = graft.ops.Streamish.abTestOf(ev.toDF("user_id", "ts", "event_type", "value"))
      .as[(Long, Long, Long, Long, Double, Double, Double, Option[Double],
        Double, Double, Double, Boolean)].collect()
    // rate_c=0.5 rate_t=1.0 -> p=0.75, se=sqrt(.75*.25*(1/4+1/4)),
    // z = 0.5/0.30618621784789724 = 1.6329931618554518 -> 1.633, not significant
    assert(row.toSeq === Seq((4L, 4L, 2L, 4L, 0.5, 1.0, 0.5, Some(1.0),
      2.5, 10.0, 1.633, false)))
  }

  test("ev_power_analysis: MDE algebra and required-n on the ab_test fixture") {
    import spark.implicits._
    // same 8-user experiment as the ev_ab_test fixture: nc=nt=4, conv 2/4,
    // p=0.75, se=sqrt(.75*.25*.5), mde=(1.96+0.8416)*se=0.857811 > obs 0.5
    // -> not detectable; n_req = ceil(2*2.8016^2*0.1875/0.25) = 12
    def ts(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00").getTime)
    val ev =
      Seq(1L, 3L, 5L, 7L).map(u => (u, ts(1), "purchase", 10.0)) ++
        Seq(2L, 4L).flatMap(u => Seq((u, ts(1), "view", 0.0), (u, ts(2), "purchase", 5.0))) ++
        Seq(6L, 8L).map(u => (u, ts(1), "view", 0.0))
    val row = graft.ops.Streamish.powerAnalysisOf(
      ev.toDF("user_id", "ts", "event_type", "value"))
      .as[(Long, Long, Double, Double, Option[Double], Double, Boolean, Option[Long])]
      .collect()
    assert(row.toSeq === Seq((4L, 4L, 0.75, 0.857811, Some(1.143748),
      0.5, false, Some(12L))))
  }

  test("q_k_anonymity: hand-binned QI histogram covers every bucket and the population") {
    import spark.implicits._
    // five QI groups sized 1 / 3 / 6 / 12 / 25 — one per k-bucket; the
    // negative balance lands in band -1 (floor, not truncation)
    val rows =
      Seq.fill(1)((1, "A", 500.0)) ++ Seq.fill(3)((1, "B", 1500.0)) ++
        Seq.fill(6)((2, "A", 2500.0)) ++ Seq.fill(12)((2, "B", -100.0)) ++
        Seq.fill(25)((3, "A", 0.0))
    val out = graft.ops.Relational.kAnonymityOf(
      rows.toDF("c_nationkey", "c_mktsegment", "c_acctbal"))
      .as[(Int, String, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      (0, "1", 1L, 1L, math.rint(1.0 / 47 * 1e6) / 1e6),
      (1, "2-4", 1L, 3L, math.rint(3.0 / 47 * 1e6) / 1e6),
      (2, "5-9", 1L, 6L, math.rint(6.0 / 47 * 1e6) / 1e6),
      (3, "10-19", 1L, 12L, math.rint(12.0 / 47 * 1e6) / 1e6),
      (4, "20+", 1L, 25L, math.rint(25.0 / 47 * 1e6) / 1e6)))
  }

  test("txt_yield_curve: survivor counts step at every cut on a 4-doc ladder") {
    import spark.implicits._
    // token counts 0 / 1 / 20 / 700: the empty doc survives no cut, the
    // 700-token doc survives all of them
    val docs = Seq(
      (1L, ""), (2L, "w"), (3L, Seq.fill(20)("w").mkString(" ")),
      (4L, Seq.fill(700)("w").mkString(" ")))
    val out = graft.ops.TextOps.yieldCurveOf(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    def y(d: Long, t: Long) =
      (math.rint(d.toDouble / 4 * 1e6) / 1e6, math.rint(t.toDouble / 721 * 1e6) / 1e6)
    assert(out === Seq(
      (1L, 3L, 721L, y(3, 721)._1, y(3, 721)._2),
      (16L, 2L, 720L, y(2, 720)._1, y(2, 720)._2),
      (32L, 1L, 700L, y(1, 700)._1, y(1, 700)._2),
      (64L, 1L, 700L, y(1, 700)._1, y(1, 700)._2),
      (128L, 1L, 700L, y(1, 700)._1, y(1, 700)._2),
      (256L, 1L, 700L, y(1, 700)._1, y(1, 700)._2),
      (512L, 1L, 700L, y(1, 700)._1, y(1, 700)._2)))
  }

  test("txt_langid_confusion: cells equal the per-doc verdicts and row shares sum to 1") {
    import spark.implicits._
    val perDoc = graft.ops.TextOps.languageId(spark, dir)
      .groupBy("lang", "predicted").count()
      .as[(String, String, Long)].collect()
      .map { case (l, p, n) => (l, p) -> n }.toMap
    val cells = graft.ops.TextOps.langidConfusion(spark, dir)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(cells.nonEmpty)
    assert(cells.map(c => (c._1, c._2) -> c._3).toMap ===
      perDoc)
    cells.groupBy(_._1).foreach { case (_, rows) =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    }
  }

  test("txt_fertility: exact sums and one-division ratios on a 3-doc fixture") {
    import spark.implicits._
    // en/a: "ab cd" (2 ws, 2 bpe) + "x1y" (1 ws, 3 bpe: x|1|y);
    // de/b: "u2" (1 ws, 2 bpe)
    val docs = Seq(
      (1L, "ab cd", "en", "a"), (2L, "x1y", "en", "a"), (3L, "u2", "de", "b"))
    val out = graft.ops.TextOps.fertilityOf(
      docs.toDF("doc_id", "text", "lang", "source"))
      .as[(String, String, Long, Long, Long, Option[Double], Double)]
      .collect().toSeq
    assert(out === Seq(
      ("de", "b", 1L, 1L, 2L, Some(2.0), 1.0),
      ("en", "a", 2L, 3L, 5L, Some(math.rint(5.0 / 3 * 1e6) / 1e6), 1.5)))
  }

  test("sim_ivf_balance: list sizes cover the corpus and imbalance means 1") {
    import spark.implicits._
    val rows = graft.ops.Similarity.ivfBalance(spark, dir)
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(rows.nonEmpty)
    val total = Tables.embeddings(spark, dir).count()
    assert(rows.map(_._2).sum === total)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._4).sum / rows.size - 1.0) < 1e-4)
    val byAssigned = graft.ops.Similarity.ivfAssign(spark, dir)
      .groupBy("assigned").count().as[(Int, Long)].collect().toMap
    assert(rows.map(r => r._1 -> r._2).toMap === byAssigned)
  }

  test("ev_funnel_ttc: hand-built funnel gaps with interpolated p50/p90") {
    import spark.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00").getTime)
    // u1 completes the funnel (v d1, c d2, p d4); u2 stalls after click
    // (v d1, c d3); u3 views only -> no gap rows
    val ev = Seq(
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(4), "purchase"),
      (2L, ts(1), "view"), (2L, ts(3), "click"),
      (3L, ts(1), "view"))
    val out = graft.ops.Streamish.funnelTtcOf(ev.toDF("user_id", "ts", "event_type"))
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    val d = 86400000000L // one day in µs
    // view->click gaps {1d, 2d}: p50 = 1.5d, p90 = 1.9d (interpolated)
    assert(out === Seq(
      ("1_view_to_click", 2L, 1.5 * d, 1.9 * d, 2 * d),
      ("2_click_to_purchase", 1L, 2.0 * d, 2.0 * d, 2 * d),
      ("3_view_to_purchase", 1L, 3.0 * d, 3.0 * d, 3 * d)))
  }

  test("dd_threshold_sweep: monotone yields and agreement with dd_neardup at the production cut") {
    import spark.implicits._
    val sweep = graft.ops.Dedup.thresholdSweep(spark, dir)
      .as[(Double, Long, Long)].collect().toSeq
    assert(sweep.map(_._1) === graft.ops.Dedup.SweepTs)
    // yields can only fall as the threshold rises
    sweep.sliding(2).foreach {
      case Seq((_, p1, d1), (_, p2, d2)) => assert(p2 <= p1 && d2 <= d1)
      case _ =>
    }
    // the 0.8 row must agree with the production dd_neardup pair list
    val prod = graft.ops.Dedup.minhashNearDup(spark, dir)
    val at08 = sweep.find(_._1 == 0.8).get
    assert(at08._2 === prod.count())
    assert(at08._3 === prod.select("doc_b").distinct().count())
  }

  test("ev_change_point: planted level shift peaks at the horizon, flat series stays flat") {
    import spark.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00").getTime)
    // click: 1/day days 1-5 then 3/day days 6-10 -> d = x*10-20 is -10
    // then +10; CUSUM bottoms at -50 (day 5) and recovers to 50 by day 10
    // (the shift accumulates); excess 50/10 = 5 events, flagged
    // (50*10 > 20*10). view: constant 2/day days 1-4 -> s = 0 everywhere,
    // peak ties to the EARLIEST day, not flagged.
    val click = (1 to 5).map(d => (1L, ts(d), "click")) ++
      (6 to 10).flatMap(d => Seq.fill(3)((1L, ts(d), "click")))
    val view = (1 to 4).flatMap(d => Seq.fill(2)((2L, ts(d), "view")))
    val out = graft.ops.Streamish.changePointOf(
      (click ++ view).toDF("user_id", "ts", "event_type"))
      .as[(String, Long, Long, java.sql.Date, Double, Boolean)]
      .collect().toSeq
    assert(out === Seq(
      ("click", 10L, 20L, java.sql.Date.valueOf("2024-01-10"), 5.0, true),
      ("view", 4L, 8L, java.sql.Date.valueOf("2024-01-01"), 0.0, false)))
  }

  test("sim_silhouette: partitions the corpus, bounded range, consistent with the assignment") {
    import spark.implicits._
    val sil = graft.ops.Similarity.silhouette(spark, dir)
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    assert(sil.nonEmpty)
    sil.foreach { case (_, n, neg, med, mn) =>
      assert(neg >= 0 && neg <= n)
      assert(med >= -1.0 - 1e-9 && med <= 1.0 + 1e-9)
      assert(mn <= med + 1e-9) // the min can never exceed the median
    }
    // cluster sizes must agree with the nearest-centroid assignment
    val byAssigned = graft.ops.Similarity.ivfAssign(spark, dir)
      .groupBy("assigned").count().as[(Int, Long)].collect().toMap
    assert(sil.map(r => r._1 -> r._2).toMap === byAssigned)
  }

  test("dd_bow_dedup: reorder-only group collapses, exact variants counted, empties dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "gamma beta alpha"),
      (3L, "alpha beta gamma"), (4L, "delta"), (5L, "  "))
    val out = graft.ops.Dedup.bowDedupOf(docs.toDF("doc_id", "text"))
      .select("doc_id", "dup_cnt", "n_exact_variants", "reorder_only")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    // group {1,2,3}: three docs, two byte-level variants -> reorder_only;
    // doc 4 is its own group; doc 5 fingerprints to NULL and is dropped
    assert(out === Seq((1L, 3L, 2L, true), (4L, 1L, 1L, false)))
  }

  test("ev_forecast_baseline: calendar lag-7 join skips gaps instead of shifting rows") {
    import spark.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00").getTime)
    // click: d events on day d, days 1..14 -> scored days 8..14,
    // actual 8..14 sums 77, predictions (lag-7) sum 28, |err| = 7*7 = 49
    val click = (1 to 14).flatMap(d => (1 to d).map(_ => (1L, ts(d), "click")))
    // err: 2 events/day on days 1,2,3,9,10 only. Day 8 has no actual row and
    // day 15 no prediction -> exactly days 9,10 score (against days 2,3),
    // error 0. A row-offset lag would have matched day 9 to day 3 instead.
    val err = Seq(1, 2, 3, 9, 10).flatMap(d => Seq((2L, ts(d), "error"), (3L, ts(d), "error")))
    val out = graft.ops.Streamish.forecastBaselineOf(
      (click ++ err).toDF("user_id", "ts", "event_type"))
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq(
      ("click", 7L, 77L, 49L, 0.636364, 0.636364),
      ("error", 2L, 4L, 0L, 0.0, 0.0)))
  }

  test("ev_cohort_ltv: user-aligned offsets and exact cumulative revenue on a hand fixture") {
    import spark.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 09:00:00").getTime)
    // u1 first day Jan 1 (cohort 0): buys $10 day 1 (offset 0) and $20
    // day 9 (datediff 8 div 7 = offset 1). u2 first day Jan 2 (cohort 0,
    // same week), never buys. u3 first day Jan 10 -> (10-1) div 7 =
    // cohort 1, buys $5 that day.
    val ev = Seq(
      (1L, ts(1), "purchase", 10.0), (1L, ts(9), "purchase", 20.0),
      (2L, ts(2), "view", 0.0),
      (3L, ts(10), "purchase", 5.0))
    val out = graft.ops.Streamish.cohortLtvOf(
      ev.toDF("user_id", "ts", "event_type", "value"))
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq(
      (0L, 0L, 2L, 1L, 10.0, 5.0),   // cum 10 over cohort_n 2
      (0L, 1L, 2L, 1L, 20.0, 15.0),  // cum 30 over 2
      (1L, 0L, 1L, 1L, 5.0, 5.0)))
  }

  test("sim_outlier_prune: cuts sit at the per-centroid p5 and verdicts match them") {
    import spark.implicits._
    val rows = Similarity.outlierPrune(spark, dir)
      .select("assigned", "cos_sim", "cut_lo", "outlier")
      .as[(Int, Double, Double, Boolean)].collect().toSeq
    assert(rows.size === 500) // every corpus vector gets a verdict
    rows.groupBy(_._1).foreach { case (c, g) =>
      val cut = g.map(_._3).distinct
      assert(cut.size === 1, s"centroid $c: cut not constant")
      // rounded-column consistency: outliers below the cut, keepers at or
      // above it (1e-6 = the display rounding step)
      g.foreach { case (_, cos, cl, o) =>
        if (o) assert(cos <= cl + 1e-6) else assert(cos >= cl - 1e-6)
      }
      // p5 cut: strictly-below count can never exceed 5% + 1 interpolant
      val below = g.count(_._4)
      assert(below <= math.ceil(g.size * 0.05) + 1,
        s"centroid $c: $below outliers of ${g.size}")
    }
  }

  test("q_mad_outliers: hand-computable median/MAD and the 3-sigma-equivalent rule") {
    import spark.implicits._
    // values 1..9 plus one fat order 100: median of the 10 values is 5.5
    // (interpolated), deviations sort to [.5,.5,1.5,1.5,2.5,2.5,3.5,3.5,
    // 4.5,94.5] -> MAD 2.5, threshold 3*1.4826*2.5 = 11.1195 -> only the
    // 94.5 deviation is out. A stddev z-score would read sigma ~ 29 and
    // flag NOTHING at 3 sigma - the masking the MAD rule exists to beat.
    val o = ((1 to 9).map(_.toDouble) :+ 100.0)
      .map(v => ("1-URGENT", v)).toDF("o_orderpriority", "o_totalprice")
    val out = graft.ops.Relational.madOutliersOf(o)
      .as[(String, Long, Double, Double, Long, Double)].collect().toSeq
    assert(out === Seq(("1-URGENT", 10L, 5.5, 2.5, 1L, 0.1)))
  }

  test("ev_range_join: bucketed equi-join result equals the naive interval filter") {
    import spark.implicits._
    // windows straddle hour boundaries, so equality with a brute-force
    // range filter proves the bucket replication loses/duplicates nothing
    val got = graft.ops.Streamish.rangeJoin(spark, dir)
      .select("w_start", "n_events").as[(java.sql.Timestamp, Long)].collect()
      .map { case (ts, n) => ts.getTime * 1000 -> n }.toMap
    assert(got.nonEmpty)
    val hourUs = 3600L * 1000000
    val ev = Tables.events(spark, dir)
      .select(unix_micros(col("ts").cast("timestamp")).as("us")).as[Long].collect()
    // independently derive the expected hot-window SET (catches a lost
    // window, which a per-emitted-window count check alone would not)
    val hourly = ev.groupBy(_ / hourUs).view.mapValues(_.size).toMap
    val thresh = 1.5 * hourly.values.sum.toDouble / hourly.size
    val expect = hourly.collect { case (h, n) if n > thresh => h * hourUs - hourUs / 2 }
    assert(got.keySet === expect.toSet)
    got.foreach { case (w0, n) =>
      assert(ev.count(u => u >= w0 && u < w0 + 2 * hourUs) === n)
    }
  }

  test("txt_sample_stratified: deterministic, and strata hit their target rates") {
    import spark.implicits._
    val a = TextOps.stratifiedSample(spark, dir).select("doc_id").as[Long].collect().toSeq
    val b = TextOps.stratifiedSample(spark, dir).select("doc_id").as[Long].collect().toSeq
    assert(a === b) // hash-derived uniform — no RNG, rerun-stable
    val totals = Tables.documents(spark, dir).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val kept = TextOps.stratifiedSample(spark, dir).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    totals.foreach { case (lang, n) =>
      val rate = kept.getOrElse(lang, 0L).toDouble / n
      val target = if (lang == "en") 0.10 else 0.50
      // binomial tolerance at the fixture's stratum sizes (n >= 64)
      assert(math.abs(rate - target) < 0.2, s"$lang: got $rate want ~$target")
    }
  }

  test("txt_pack: packs start below the budget boundary and cover every doc") {
    import spark.implicits._
    val Budget = 2048
    val rows = TextOps.packSequences(spark, dir)
      .select("lang", "shard", "n_tokens", "pack_id")
      .as[(String, Long, Int, Long)].collect()
    assert(rows.length === Tables.documents(spark, dir).count())
    // reconstruct each (lang, shard) stream: a doc's start offset must lie
    // inside its pack's [pack_id*B, (pack_id+1)*B) chunk
    rows.groupBy(r => (r._1, r._2)).values.foreach { g =>
      var off = 0L
      // rows within a group arrive in doc_id order via the final orderBy
      g.foreach { case (_, _, n, pack) =>
        assert(pack === off / Budget, s"start offset $off landed in pack $pack")
        off += n
      }
    }
  }

  test("dd_cluster: components agree with the pair graph and elect min-id winners") {
    import spark.implicits._
    val pairs = Dedup.minhashNearDup(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val clusters = Dedup.cluster(spark, dir)
      .select("doc_id", "cluster_id", "cluster_size").as[(Long, Long, Long)].collect()
    val label = clusters.map(c => c._1 -> c._2).toMap
    // exactly the paired docs are clustered, once each
    assert(clusters.map(_._1).distinct.length === clusters.length)
    assert(label.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // every edge's endpoints share a component
    pairs.foreach { case (a, b) => assert(label(a) === label(b), s"edge ($a,$b) split") }
    // the label IS the component min, and sizes match the grouping
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid)
      assert(members.forall(_._3 === members.length))
    }
    // reference union-find over the same edges → identical components
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val expected = label.keySet.groupBy(find)
      .map { case (_, m) => m.min -> m }.toMap
    assert(clusters.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap === expected)
  }

  test("sim_kmeans_step: sufficient statistics are exactly the per-cluster integer sums") {
    import spark.implicits._
    val assigned = Similarity.ivfAssign(spark, dir)
      .select("vec_id", "assigned").as[(Long, Int)].collect().toMap
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val expect = scala.collection.mutable.Map[(Int, Int), (Long, Long)]() // (cluster,pos) -> (sum, n)
    vecs.foreach { case (id, emb) =>
      val c = assigned(id)
      emb.zipWithIndex.foreach { case (x, pos) =>
        val q = math.floor(x * (1L << 20)).toLong
        val (s0, n0) = expect.getOrElse((c, pos), (0L, 0L))
        expect((c, pos)) = (s0 + q, n0 + 1L)
      }
    }
    val got = Similarity.kmeansStep(spark, dir)
      .select("cluster", "pos", "sum_v", "n_members")
      .as[(Int, Int, Long, Long)].collect()
    assert(got.length === expect.size)
    got.foreach { case (c, p, sv, n) =>
      val (es, en) = expect((c, p))
      assert(sv === es, s"cluster $c pos $p sum")
      assert(n === en, s"cluster $c pos $p count")
    }
  }

  test("txt_tfidf: ranks are 1..3 per doc with scores descending and tf·N/df exact") {
    import spark.implicits._
    val n = Tables.documents(spark, dir).count().toDouble
    val rows = TextOps.tfidf(spark, dir)
      .select("doc_id", "tf", "df", "rnk", "tfidf")
      .as[(Long, Long, Long, Int, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, tf, df, _, score) =>
      assert(math.abs(score - BigDecimal(tf * (n / df))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === (1 to byRank.length))
      assert(byRank.length <= 3)
      val scores = byRank.map(_._5)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("mm_frame_dedup: copy counts cover every frame and owners are unique digests") {
    import spark.implicits._
    val frames = Tables.documents(spark, dir)
      .select(ceil(length(col("text")).cast("double") / 256).cast("long").as("nf"))
      .agg(sum("nf")).head.getLong(0)
    val rows = graft.ops.Multimodal.frameDedup(spark, dir)
      .select("frame_md5", "n_copies").as[(String, Long)].collect()
    assert(rows.map(_._1).distinct.length === rows.length) // one owner per digest
    assert(rows.map(_._2).sum === frames) // every frame accounted for
    assert(rows.exists(_._2 > 1)) // the fixture really has duplicate frames
  }

  test("dd_passage_overlap: cross-doc shingles flag, within-doc repetition does not inflate dup_frac") {
    import spark.implicits._
    val docs = Seq(
      // 1 and 2 share the 5-token passage "alpha beta gamma delta epsilon"
      (1L, "Alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon omega"),
      // 3 repeats its own 5-token passage internally — must read as clean
      (3L, "rep one two three four rep one two three four"),
      // 4 is shorter than the passage width — excluded entirely
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val out = Dedup.passageOverlapOf(docs)
      .select("doc_id", "n_shingles", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(out(0) === ((1L, 2L, 1L, 0.5))) // 2 distinct shingles, 1 shared
    assert(out(1) === ((2L, 2L, 1L, 0.5)))
    // 6 positional shingles but 5 distinct; the repeated one is NOT a dup
    assert(out(2) === ((3L, 5L, 0L, 0.0)))
    // degenerate docs: NULL text, "" and K − 1 tokens have no shingle and
    // no row; a doc of exactly K tokens repeating the shared passage is
    // one all-dup shingle. Pinned to the lead-window formulation's output.
    val degenerate = Seq[(Long, Option[String])](
      5L -> None, 6L -> Some(""), 7L -> Some("alpha beta gamma delta"),
      8L -> Some("alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val withDegenerate = Dedup.passageOverlapOf(docs.unionByName(degenerate))
      .select("doc_id", "n_shingles", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(withDegenerate.toSeq === out.toSeq :+ ((8L, 1L, 1L, 1.0)))
  }

  test("labelPropagate: pointer doubling converges in O(log n) rounds on an adversarial chain") {
    import spark.implicits._
    // a 64-node path (the LSH-near-clique assumption's worst case) plus a
    // second component to prove labels don't bleed across components
    val pairs = ((0L until 63L).map(i => (i, i + 1)) ++
      (100L until 110L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val (labels, rounds, cleanup) = Dedup.labelPropagate(pairs)
    val m = labels.as[(Long, Long)].collect().toMap
    assert((0L to 63L).forall(m(_) == 0L))
    assert((100L to 110L).forall(m(_) == 100L))
    // plain neighbor-min needs ~diameter (63) rounds here; the jump makes
    // label-chain depth halve per round
    assert(rounds <= 12, s"expected logarithmic convergence, took $rounds rounds")
    cleanup()
  }

  test("labelPropagate: reliable mode matches local, survives block loss, cleans files on the hook") {
    import spark.implicits._
    val pairs = ((0L until 63L).map(i => (i, i + 1)) ++
      (100L until 110L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val (localLabels, _, localCleanup) = Dedup.labelPropagate(pairs)
    val localMap = localLabels.as[(Long, Long)].collect().toMap
    localCleanup()
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck")
    spark.conf.set("spark.graft.checkpointDir", ckDir.toString)
    try {
      val (relLabels, relRounds, relCleanup) = Dedup.labelPropagate(pairs)
      val relMap = relLabels.as[(Long, Long)].collect().toMap
      assert(relMap === localMap, "reliable path diverged from local path")
      assert(relRounds <= 12)
      import scala.jdk.CollectionConverters._
      def rddDirs() = java.nio.file.Files.walk(ckDir).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("rdd-")).toList
      // superseded rounds' files went eagerly (O(1 round) store usage);
      // the FINAL round's remain — they are the durable recompute path
      // behind the returned label table, deleted only by the release hook
      assert(rddDirs().size === 1,
        s"expected exactly the final round's checkpoint dir: ${rddDirs()}")
      // simulate executor loss: EVERY cached block in the session dies —
      // the label table's InMemoryRelation and the checkpoint RDD's blocks
      Local.sweep(spark)
      // the reliable path recomputes the labels from the retained files —
      // this is the durability the mode was added to provide
      assert(relLabels.as[(Long, Long)].collect().toMap === localMap,
        "labels must be recomputable from the retained checkpoint files")
      relCleanup()
      assert(rddDirs().isEmpty,
        s"release hook must delete the final round's files: ${rddDirs()}")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      org.apache.commons.io.FileUtils.deleteQuietly(ckDir.toFile)
    }
  }

  test("labelPropagate: localCheckpoint state does NOT survive block loss — why reliable mode exists") {
    import spark.implicits._
    val pairs = (0L until 32L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, _, cleanup) = Dedup.labelPropagate(pairs)
    assert(labels.count() === 33L)
    // same simulated executor loss as the reliable-mode test above
    Local.sweep(spark)
    // lineage bottoms out in the dropped localCheckpoint blocks: the
    // recompute MUST fail — if this ever starts passing, the failure mode
    // the reliable path exists for has silently changed shape. The failure
    // is the EXPECTED outcome, so suppress the task-failure loggers for
    // exactly this job: a green run's log must carry zero ERROR lines.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val noisy = Seq("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager")
    val prevLvl = noisy.map(n => n -> LogManager.getLogger(n).getLevel)
    noisy.foreach(n => Configurator.setLevel(n, Level.OFF))
    val e =
      try intercept[org.apache.spark.SparkException] { labels.count() }
      finally prevLvl.foreach { case (n, l) => Configurator.setLevel(n, l) }
    assert(String.valueOf(e.getMessage).toLowerCase.contains("checkpoint"),
      s"expected a checkpoint-block failure, got: ${e.getMessage}")
    cleanup()
  }

  test("dd_substring: maximal verbatim runs with planted mid-doc overlap, full dup, and exact-K run") {
    import spark.implicits._
    // K = 20. Token streams built from unique synthetic tokens so nothing
    // matches by accident; the planted run "r1..r25" sits at offset 8 in
    // doc 1 and offset 4 in doc 2.
    val run25 = (1 to 25).map(i => s"r$i")
    val doc1 = (1 to 7).map(i => s"a$i") ++ run25 ++ (1 to 8).map(i => s"z$i") // 40 toks
    val doc2 = (1 to 3).map(i => s"b$i") ++ run25 ++ (1 to 22).map(i => s"y$i")
    val doc3 = doc1 // exact duplicate of doc 1
    val doc4 = (1 to 30).map(i => s"c$i")
    val doc5 = (1 to 5).map(i => s"d$i") ++ (6 to 25).map(i => s"c$i") // 20-tok run vs doc4 tail
    val doc6 = (1 to 10).map(i => s"e$i") // shorter than K — excluded
    val docs = Seq(
      (1L, doc1), (2L, doc2), (3L, doc3), (4L, doc4), (5L, doc5), (6L, doc6)
    ).map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
    val out = Dedup.substringDedupOf(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 2L, 8L, 4L, 25L),   // the planted mid-doc run, exact offsets
      (1L, 3L, 1L, 1L, 40L),   // whole-doc run for the exact duplicate
      (2L, 3L, 4L, 8L, 25L),   // dup doc inherits the planted run
      (4L, 5L, 6L, 6L, 20L)))  // run of exactly K tokens = one window
    // degenerate docs: NULL text, "" and K − 1 tokens have no window; a doc
    // of exactly K tokens (c6..c25) is one window shared with docs 4 and 5.
    // Pinned to the lead-window formulation's output.
    val degenerate = Seq[(Long, Option[String])](
      7L -> None, 8L -> Some(""),
      9L -> Some((6 to 24).map(i => s"c$i").mkString(" ")),
      10L -> Some((6 to 25).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val withDegenerate = Dedup.substringDedupOf(docs.unionByName(degenerate))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(withDegenerate === out ++ Set((4L, 10L, 6L, 1L, 20L), (5L, 10L, 6L, 1L, 20L)))
  }

  test("dd_substring: island decomposition matches a brute-force maximal-run scan on a random corpus") {
    import spark.implicits._
    // Random docs over a wide vocab (no accidental K-windows), then copy
    // random >= K-token segments between docs to plant shared runs.
    val rnd = new scala.util.Random(1234)
    val K = 20
    val base = (0 until 12).map { id =>
      id.toLong -> Array.fill(40 + rnd.nextInt(60))(s"v${rnd.nextInt(5000)}")
    }.toMap
    val planted = (0 until 10).foldLeft(base) { (acc, _) =>
      val from = rnd.nextInt(12).toLong; val to = rnd.nextInt(12).toLong
      if (from == to) acc else {
        val src = acc(from); val dst = acc(to)
        val len = K + rnd.nextInt(15)
        if (src.length < len || dst.length < len) acc else {
          val sOff = rnd.nextInt(src.length - len + 1)
          val dOff = rnd.nextInt(dst.length - len + 1)
          acc.updated(to, dst.patch(dOff, src.slice(sOff, sOff + len), len))
        }
      }
    }
    // brute force: per pair, scan every diagonal for maximal equal-token
    // runs of length >= K — the ExactSubstr definition, no hashing
    val expected = (for {
      a <- planted.keys; b <- planted.keys if a < b
      ta = planted(a); tb = planted(b)
      d <- -(tb.length - 1) to (ta.length - 1)
      runs = {
        val lo = math.max(0, d); val hi = math.min(ta.length, tb.length + d)
        val buf = scala.collection.mutable.ListBuffer[(Long, Long, Long, Long, Long)]()
        var i = lo; var runStart = -1
        while (i <= hi) {
          val eq = i < hi && ta(i) == tb(i - d)
          if (eq && runStart < 0) runStart = i
          if (!eq && runStart >= 0) {
            val len = i - runStart
            if (len >= K)
              buf += ((a, b, runStart + 1L, runStart - d + 1L, len.toLong))
            runStart = -1
          }
          i += 1
        }
        buf.toList
      }
      r <- runs
    } yield r).toSet
    val docsDf = planted.toSeq
      .map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
    val got = Dedup.substringDedupOf(docsDf)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixture must plant at least one shared run")
    assert(got === expected)
  }

  test("txt_cdc_chunks: chunks tile each doc and hashes match an independent digest of the spans") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val docs = (0 until 8).map { id =>
      (id.toLong, Array.fill(30 + rnd.nextInt(120))(s"w${rnd.nextInt(4000)}"))
    }
    val out = TextOps.cdcChunksOf(
        docs.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    for ((id, toks) <- docs) {
      val chunks = out(id)
      // dense ids from 0; spans tile the token stream exactly
      assert(chunks.map(_._2).toSeq === chunks.indices.map(_.toLong))
      assert(chunks.head._3 === 1L)
      chunks.sliding(2).foreach {
        case Array(a, b) => assert(b._3 === a._3 + a._4); case _ =>
      }
      assert(chunks.map(_._4).sum === toks.length.toLong)
      // each hash is the md5 of exactly the tokens in the claimed span —
      // recomputed here from the span, independent of the operator's path
      chunks.foreach { case (_, _, start, n, h) =>
        assert(h === md5hex(toks.slice(start.toInt - 1, start.toInt - 1 + n.toInt).mkString(" ")))
      }
    }
  }

  test("txt_cdc_chunks: boundaries re-align after a prefix edit (the content-defined property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val a = Array.fill(150)(s"t${rnd.nextInt(3000)}")
    val b = Array.fill(25)(s"p${rnd.nextInt(3000)}") ++ a // prefix-edited copy
    val out = TextOps.cdcChunksOf(Seq(
        (1L, a.mkString(" ")), (2L, b.mkString(" "))).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, String)].collect()
    val ca = out.filter(_._1 == 1L).sortBy(_._2)
    val cb = out.filter(_._1 == 2L).sortBy(_._2).map(_._5).toSet
    // a fixed-window chunker loses EVERY chunk after an insertion; CDC must
    // reproduce all of A's chunks past the first boundary inside B verbatim
    assert(ca.length >= 3, s"fixture needs >= 3 chunks in A, got ${ca.length}")
    ca.drop(1).foreach { case (_, idx, _, _, h) =>
      assert(cb.contains(h), s"chunk $idx of A lost after prefix edit")
    }
  }

  test("dd_cdc_dedup: duplicate docs surface exactly their shared >= min-length chunks") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val dup = Array.fill(80)(s"d${rnd.nextInt(2000)}")
    val uniq = Array.fill(90)(s"u${rnd.nextInt(2000)}")
    val chunks = TextOps.cdcChunksOf(Seq(
      (1L, dup.mkString(" ")), (2L, dup.mkString(" ")), (3L, uniq.mkString(" "))
    ).toDF("doc_id", "text"))
    val expected = chunks
      .filter(col("doc_id") === 1L && col("n_tokens") >= 10)
      .select("chunk_hash").as[String].collect().toSet
    val got = Dedup.cdcDedupOf(chunks)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(expected.nonEmpty, "fixture doc must yield at least one long chunk")
    assert(got.map(_._1).toSet === expected)
    got.foreach { case (h, _, nOcc, nDocs, first) =>
      assert(nOcc === 2L, h); assert(nDocs === 2L, h); assert(first === 1L, h)
    }
  }

  test("dd_survivors: keep-list covers the corpus exactly once via merge counts") {
    import spark.implicits._
    val total = Tables.documents(spark, dir).count()
    val surv = Dedup.survivors(spark, dir)
      .select("doc_id", "n_merged").as[(Long, Long)].collect()
    assert(surv.map(_._1).distinct.length === surv.length) // no doc kept twice
    assert(surv.map(_._2).sum === total) // every doc stood-for exactly once
    val clustered = Dedup.cluster(spark, dir)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    val kept = surv.map(_._1).toSet
    clustered.foreach { case (doc, cid) =>
      assert(kept.contains(doc) === (doc == cid)) // winners kept, members dropped
    }
  }

  test("sim_ivf_topk: exact cosines agree with brute force on shared pairs") {
    import spark.implicits._
    val ivf = Similarity.ivfTopK(spark, dir)
      .select("q_id", "vec_id", "rnk", "cos_sim").as[(Long, Long, Int, Double)].collect()
    val brute = Similarity.bruteTopK(spark, dir)
      .select("q_id", "vec_id", "cos_sim").as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    val byQ = ivf.groupBy(_._1)
    assert(byQ.size === 8)
    byQ.values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq === (1 to g.length)) // dense ranks
      val cs = g.sortBy(_._3).map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }) // monotone
    }
    // both operators compute EXACT cosine over the same quantized vectors,
    // so any pair surfaced by both must score identically
    val shared = ivf.flatMap { case (q, v, _, c) => brute.get((q, v)).map(bc => (c, bc)) }
    assert(shared.nonEmpty)
    shared.foreach { case (ivfCos, bruteCos) => assert(ivfCos === bruteCos) }
  }

  test("dd_decontaminate flags only training docs, never benchmark docs") {
    import spark.implicits._
    val flagged = Dedup.decontaminate(spark, dir).select("doc_id").as[Long].collect().toSet
    val bench = Tables.documents(spark, dir)
      .filter(col("source").isin((0 until 5).map(i => s"src$i"): _*))
      .select("doc_id").as[Long].collect().toSet
    assert(flagged.intersect(bench).isEmpty)
  }

  test("dd_passage_decontaminate flags only training docs and bounds contam_frac") {
    import spark.implicits._
    val rows = graft.ops.Dedup.passageDecontaminate(spark, dir)
      .select("doc_id", "contam_frac").as[(Long, Double)].collect()
    assert(rows.nonEmpty) // the fixture really has cross-source passage reuse
    val bench = Tables.documents(spark, dir)
      .filter(col("source").isin((0 until 5).map(i => s"src$i"): _*))
      .select("doc_id").as[Long].collect().toSet
    assert(rows.map(_._1).toSet.intersect(bench).isEmpty)
    assert(rows.forall { case (_, f) => f > 0.0 && f <= 1.0 })
  }

  test("sim_pq_rerank: ranks are dense/ascending and exact refinement never loses recall") {
    import spark.implicits._
    val rows = Similarity.pqRerank(spark, dir)
      .select("q_id", "vec_id", "rnk", "l2_dist")
      .as[(Long, Long, Int, Double)].collect()
    val byQ = rows.groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    byQ.values.foreach { rs =>
      assert(rs.map(_._3).toSeq === (1 to rs.length)) // dense ranks
      assert(rs.map(_._4).toSeq === rs.map(_._4).sorted.toSeq) // ascending L2
    }
    // exact refinement must not LOSE recall vs raw ADC ordering (the
    // 10-codeword fixture codebook is deliberately coarse, so absolute
    // ADC recall is low — the rerank's claim is only that exact math on
    // the shortlist beats approximate math on the same shortlist)
    val emb = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    def meanRecall(got: Map[Long, Seq[Long]]): Double = {
      val rs = got.map { case (q, vs) =>
        val truth = (emb - q).toSeq
          .map { case (v, e) => (v, l2(emb(q), e)) }
          .sortBy { case (v, d) => (d, v) }.take(vs.length).map(_._1).toSet
        vs.count(truth).toDouble / vs.length
      }
      rs.sum / rs.size
    }
    val rerankR = meanRecall(byQ.view.mapValues(_.map(_._2).toSeq).toMap)
    val adc = Similarity.pqTopK(spark, dir)
      .select("q_id", "vec_id", "rnk").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val adcR = meanRecall(adc)
    assert(rerankR >= adcR,
      s"exact refinement lost recall: rerank $rerankR < adc $adcR")
  }

  test("sim_graph_rank: floor for isolates, above-floor for linked nodes, bounded mass") {
    import spark.implicits._
    val ranks = Similarity.graphRank(spark, dir)
      .select(col("vec_id"), col("pagerank").cast("double"))
      .as[(Long, Double)].collect().toMap
    val n = ranks.size
    val floor = BigDecimal(0.15 / n)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val linked = Similarity.knnGraph(spark, dir)
      .select("nbr_id").as[Long].collect().toSet
    ranks.foreach { case (v, r) =>
      if (linked(v)) assert(r > floor, s"linked node $v at floor")
      else assert(r === floor, s"isolate $v off floor: $r")
    }
    // dangling mass is dropped, never created: total stays within (1-d, 1]
    val total = ranks.values.sum
    assert(total <= 1.0 + 1e-9 && total > 0.15)
  }

  test("sim_recall_at_k: hits equal the true set intersection, one row per query") {
    import spark.implicits._
    val brute = Similarity.bruteTopK(spark, dir)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = Similarity.lshTopK(spark, dir)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Similarity.recallAtK(spark, dir)
      .select("q_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(got.keySet === brute.keySet) // every query reports, even at 0 hits
    got.foreach { case (q, hits) =>
      assert(hits === brute(q).intersect(lsh.getOrElse(q, Set())).size.toLong)
    }
  }

  test("dd_cluster_stats: the histogram partitions the corpus exactly") {
    import spark.implicits._
    val rows = Dedup.clusterStats(spark, dir)
      .as[(Long, Long, Long)].collect()
    val total = Tables.documents(spark, dir).count()
    assert(rows.map(_._3).sum === total) // n_docs partitions the corpus
    rows.foreach { case (sz, nc, nd) => assert(nd === sz * nc) }
    // real clusters (size >= 2) agree with dd_cluster's membership
    val clustered = Dedup.cluster(spark, dir).count()
    assert(rows.filter(_._1 >= 2).map(_._3).sum === clustered)
  }

  test("ev_paths: trigram paths are well-formed with consistent counts") {
    import spark.implicits._
    val rows = graft.ops.Streamish.paths(spark, dir)
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq) // desc
    rows.foreach { case (path, n, users) =>
      assert(path.split(">").length === 3)
      assert(users >= 1 && users <= n)
    }
  }

  test("txt_vocab_coverage: dense ranks, monotone coverage ending at its corpus share") {
    import spark.implicits._
    val rows = TextOps.vocabCoverage(spark, dir)
      .as[(String, Long, Int, Double)].collect()
    assert(rows.map(_._3).toSeq === (1 to rows.length)) // dense ranks
    val shares = rows.map(_._4)
    assert(shares.toSeq === shares.sorted.toSeq) // monotone non-decreasing
    assert(shares.last <= 1.0 + 1e-9)
    // counts non-increasing with rank
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq)
    // if the whole vocab fits in the head, coverage must end at exactly 1
    if (rows.length < 1000) assert(math.abs(shares.last - 1.0) < 1e-9)
  }

  test("txt_chunk_windows: chunks tile every doc with the stride/overlap contract") {
    import spark.implicits._
    val nTok = Tables.documents(spark, dir)
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n"))
      .as[(Long, Int)].collect().toMap
    val chunks = TextOps.chunkWindows(spark, dir)
      .select("doc_id", "chunk_id", "start", "chunk_len")
      .as[(Long, Int, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(chunks.keySet === nTok.keySet) // every doc chunks, even short ones
    chunks.foreach { case (doc, cs) =>
      val n = nTok(doc)
      cs.zipWithIndex.foreach { case ((_, cid, start, len), i) =>
        assert(cid === i && start === i * 48) // dense ids, exact stride
        assert(len === math.max(0, math.min(64, n - start)))
      }
      // the final chunk reaches the last token; the one before it doesn't
      assert(cs.last._3 + cs.last._4 === n || (n == 0 && cs.length == 1))
      if (cs.length > 1) assert(cs(cs.length - 2)._3 + 64 < n + 48)
    }
  }

  test("txt_ppl_bucket: terciles are balanced and ordered by perplexity") {
    import spark.implicits._
    val rows = TextOps.pplBucket(spark, dir)
      .select("bucket", "ppl").as[(String, Option[Double])].collect()
    val byBucket = rows.groupBy(_._1)
    // head ≤ middle ≤ tail pointwise across bucket boundaries
    def ppls(b: String) = byBucket.getOrElse(b, Array()).flatMap(_._2)
    if (ppls("head").nonEmpty && ppls("middle").nonEmpty)
      assert(ppls("head").max <= ppls("middle").min)
    if (ppls("middle").nonEmpty && ppls("tail").nonEmpty)
      assert(ppls("middle").max <= ppls("tail").min)
    // terciles: balanced up to ties at the cut values (a tied run lands
    // wholly on one side of its boundary)
    val scored = rows.count(_._2.isDefined)
    val maxTies = rows.flatMap(_._2).groupBy(identity).values.map(_.length).max
    Seq("head", "middle", "tail").foreach { b =>
      assert(math.abs(ppls(b).length - scored / 3.0) <= 1.0 + maxTies,
        s"bucket $b unbalanced")
    }
  }

  test("sim_semantic_dedup: pairs share a cluster, clear the threshold, keeper is farther from centroid") {
    import spark.implicits._
    val asg = Similarity.ivfAssign(spark, dir)
      .select("vec_id", "assigned", "cos_sim")
      .as[(Long, Int, Double)].collect()
      .map { case (v, c, cs) => v -> (c, cs) }.toMap
    val rows = Similarity.semanticDedup(spark, dir)
      .select("cluster", "keep_id", "drop_id", "cos_sim")
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (cl, keep, drop, cs) =>
      assert(cs >= Similarity.SemT)
      assert(asg(keep)._1 === cl && asg(drop)._1 === cl) // same coarse cluster
      // the keeper is the member FARTHER from the centroid (ties to lower id)
      assert(asg(keep)._2 < asg(drop)._2 ||
        (asg(keep)._2 === asg(drop)._2 && keep < drop))
    }
  }

  test("ev_markov: transition rows sum to ~1 per current type over the full matrix") {
    import spark.implicits._
    val rows = graft.ops.Streamish.markov(spark, dir)
      .select("cur_type", "n", "p").as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cur, rs) =>
      val pSum = rs.map(_._3).sum
      assert(math.abs(pSum - 1.0) < 1e-4, s"$cur rows sum to $pSum")
      assert(rs.forall(_._2 > 0))
    }
  }

  test("txt_collocations: support floor holds and PMI is finite") {
    import spark.implicits._
    val rows = TextOps.collocations(spark, dir)
      .select("bigram", "cnt", "pmi").as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (bg, cnt, pmi) =>
      assert(bg.split(" ").length === 2)
      assert(cnt >= 5)
      assert(!pmi.isNaN && !pmi.isInfinite)
    }
  }

  test("mm_phash_neardup: near-identical payloads pair at low hamming, unrelated don't") {
    import spark.implicits._
    // 128-byte payloads: b = a with a short mid-string patch (few samples
    // move -> low hamming); c alternates the byte pattern (bits flip
    // broadly); d is under the 64-byte floor and must be ignored entirely
    val aTxt = ("abcdefgh" * 16)
    val bTxt = aTxt.substring(0, 60) + "ZZZZ" + aTxt.substring(64)
    val cTxt = "z" * 64 + "a" * 64 // half-high/half-low: ~32 bits differ vs a
    val docs = Seq((1L, aTxt), (2L, bTxt), (3L, cTxt), (4L, "tiny"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val out = Multimodal.phashNearDupOf(docs)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(out.head._3 <= 4, s"patch moved too many bits: ${out.head._3}")
  }

  test("mm_phash_neardup: identical signatures expand to all hamming-0 pairs") {
    import spark.implicits._
    // three byte-identical payloads (one signature group of 3) plus one
    // far-off payload: the distinct-signature rewrite must still emit every
    // within-group pair — (1,2), (1,3), (2,3) at hamming 0 — and nothing
    // touching the outlier
    val aTxt = ("abcdefgh" * 16)
    val cTxt = "z" * 64 + "a" * 64
    val docs = Seq((1L, aTxt), (2L, aTxt), (3L, aTxt), (4L, cTxt))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val out = Multimodal.phashNearDupOf(docs)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out === Seq((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)))
  }

  test("mm_phash_dedup: identical-signature keep-list with merge counts") {
    import spark.implicits._
    val aTxt = ("abcdefgh" * 16)
    val cTxt = "z" * 64 + "a" * 64
    // docs 1,2 share a signature (winner 1, n_merged 2); 3 is its own
    // signature; 5 is under the 64-byte floor and must be KEPT as a
    // singleton, not dropped
    val docs = Seq((1L, aTxt), (2L, aTxt), (3L, cTxt), (5L, "tiny"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val out = Multimodal.phashDedupOf(docs)
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L), (3L, 1L), (5L, 1L)))
  }

  test("mm_dct_phash: hand-checked low-frequency block, pixel decode, near-dup pairing") {
    import spark.implicits._
    val N = Multimodal.DctN
    val C = Multimodal.DctCos
    // -- decoded-pixel paths: P5 verbatim, P6 exact-integer luma
    val gray = Array(10, 20, 30, 40, 50, 60).map(_.toByte)
    val pgm = ("P5\n3 2\n255\n".getBytes("US-ASCII")) ++ gray
    assert(Multimodal.decodeNetpbmPixels(pgm).get.toSeq === Seq(10, 20, 30, 40, 50, 60))
    val rgb = Array(10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120).map(_.toByte)
    val ppm = ("P6\n2 2\n255\n".getBytes("US-ASCII")) ++ rgb
    assert(Multimodal.decodeNetpbmPixels(ppm).get.toSeq === Seq(20, 50, 80, 110))
    // encode → strict parse round-trip agrees with the means decoder
    val body = Array.tabulate(N * N)(k => (k % 251).toByte)
    val blob = Multimodal.encodeP5(N, N, body)
    val pix = Multimodal.decodeNetpbmPixels(blob).get
    assert(pix.toSeq === body.map(_ & 0xff).toSeq)
    assert(Multimodal.decodeNetpbm(blob).get._4(0) === pix.sum.toDouble / (N * N))
    // -- hand-checked low-frequency block: a vertical step edge (0 | 200)
    // separates the 2-D transform into a PRODUCT — F(u,v) = 200·hu·sv with
    // hu = Σ_{x≥8} C(u)(x) and sv = Σ_y C(v)(y) — an independent derivation
    // of every coefficient the nested-loop dctHash64 must reproduce.
    // Hand facts: s0 = 16·16384 = 262144 exactly; sv = 0 EXACTLY for odd v
    // (the rounded table is antisymmetric, no .5 ties at these angles), so
    // the only big coefficients sit in column v = 0 with sign(hu).
    val step = Array.tabulate(N * N)(k => if (k % N < N / 2) 0 else 200)
    val hu = Array.tabulate(8)(u => (N / 2 until N).map(C(u)(_)).sum)
    val sv = Array.tabulate(8)(v => (0 until N).map(C(v)(_)).sum)
    assert(sv(0) === 16L * 16384L)
    assert((1 until 8 by 2).forall(v => sv(v) === 0L))
    val f = Array.tabulate(8, 8)((u, v) => 200L * hu(u) * sv(v))
    val m = (for (u <- 0 until 8; v <- 0 until 8 if u != 0 || v != 0) yield f(u)(v)).sum
    val expected = new Array[Long](4)
    for (u <- 0 until 8; v <- 0 until 8) {
      val i = u * 8 + v
      if (63L * f(u)(v) > m) expected(i / 16) |= 1L << (15 - i % 16)
    }
    assert(Multimodal.dctHash64(step).toSeq === expected.toSeq)
    // -- the production tail: exact dup at hamming 0, one-char patch at low
    // hamming, unrelated text unpaired
    val aTxt = "the quick brown fox jumps over the lazy dog " * 3
    val bTxt = aTxt.updated(10, 'X')
    val cTxt = ("zq9" * 60).take(aTxt.length)
    val docs = Seq((1L, aTxt), (2L, aTxt), (3L, bTxt), (4L, cTxt))
      .toDF("doc_id", "text")
      .select(col("doc_id"), lit("image").as("media_type"),
        col("text").cast("binary").as("payload"))
    val out = Multimodal.dctPhashOf(docs)
      .as[(Long, Long, Int)].collect().toSeq
    assert(out.contains((1L, 2L, 0)), s"exact dup must land hamming 0: $out")
    assert(out.exists(p => p._1 == 1L && p._2 == 3L && p._3 <= 10),
      s"one-char patch should pair at low hamming: $out")
    assert(!out.exists(p => p._2 == 4L), s"unrelated text must not pair: $out")
  }

  test("mm_wav_energy: RIFF chunk walk, s16le round-trip, hand-computed windows") {
    import spark.implicits._
    // -- encode → strict parse round-trip recovers rate and samples exactly,
    // including negative amplitudes (sign-extended s16le) and the LIST chunk
    val smp = Array[Short](0, 1, -1, 32512, -32768, 1234, -4321)
    val (rate, got) = Multimodal.wavSamples(Multimodal.encodeWav(16000, smp)).get
    assert(rate === 16000 && got.toSeq === smp.toSeq)
    // -- a real-world extra chunk with an ODD size must be skipped via its
    // pad byte; splice one in front of the data chunk
    val blob = Multimodal.encodeWav(8000, Array[Short](7, -7))
    val junk = "cue ".getBytes("US-ASCII") ++ Array[Byte](3, 0, 0, 0, 9, 9, 9, 0)
    val spliced = blob.take(36) ++ junk ++ blob.drop(36)
    // patch the riff size for the 12 spliced bytes
    val rs = (spliced.length - 8).toLong
    for (b <- 0 until 4) spliced(4 + b) = ((rs >> (8 * b)) & 0xff).toByte
    assert(Multimodal.wavSamples(spliced).get._2.toSeq === Seq(7.toShort, -7.toShort))
    // -- strict rejections: stereo fmt, truncated body, riff-size mismatch
    val stereo = Multimodal.encodeWav(16000, smp).clone()
    stereo(22) = 2 // fmt channels field
    assert(Multimodal.wavSamples(stereo).isEmpty)
    assert(Multimodal.wavSamples(blob.dropRight(1)).isEmpty)
    val badSize = blob.clone(); badSize(4) = (badSize(4) + 1).toByte
    assert(Multimodal.wavSamples(badSize).isEmpty)
    // -- hand-computed energy: 'a' (97) → |amp| 7936, window sum 1,269,760 <
    // 1,280,000 → silent; ' ' (32) → |amp| 24576 → loud; <160 samples → no
    // full window, ratio pinned 0.0
    val docs = Seq(
      (1L, "a" * 320),
      (2L, " " * 160 + "a" * 160),
      (3L, "abc"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), lit("audio").as("media_type"),
        col("text").cast("binary").as("payload"))
    val out = Multimodal.wavEnergyOf(docs)
      .as[(Long, Long, Long, Long, Double, Long, Double)].collect().toSeq
    val expected = Seq(
      (1L, 320L, 2L, 2L, 1.0, 7936L, 7936.0),
      (2L, 320L, 2L, 1L, 0.5, 24576L, 16256.0),
      (3L, 3L, 0L, 0L, 0.0, 7936L, 7680.0))
    assert(out === expected)
  }

  test("mm_wav_vad: segments bridge one silent window, split on two, ties to earliest") {
    import spark.implicits._
    // byte 0   -> |amp| 32768 -> 40-sample window sum 1,310,720 >= 320,000: ACTIVE
    // byte 128 -> |amp| 0     -> window sum 0: silent
    def blk(active: Boolean) = Array.fill[Byte](40)(if (active) 0 else 128.toByte)
    def pay(pattern: String): Array[Byte] =
      pattern.toSeq.flatMap(c => blk(c == 'A').toSeq).toArray
    val docs = Seq(
      // A S A S S A: gap of ONE silent window bridges (windows 0..2 = one
      // segment, span 3), gap of TWO splits -> second segment at window 5
      (1L, pay("ASASSA")),
      // A S S A A: 3-0 > 2 splits; spans 1 and 2 -> longest is the LATER
      // span-2 segment (span wins before position)
      (2L, pay("ASSAA")),
      // all silent + a trailing partial window (20 bytes, never counted)
      (3L, pay("SSS") ++ Array.fill[Byte](20)(0)))
      .toDF("doc_id", "payload")
      .select(col("doc_id"), lit("audio").as("media_type"), col("payload"))
    val out = Multimodal.wavVadOf(docs)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    val expected = Seq(
      (1L, 6L, 3L, 2L, 3L, 0L, 0.5),
      (2L, 5L, 3L, 2L, 2L, 3L, 0.6),
      (3L, 3L, 0L, 0L, 0L, -1L, 0.0))
    assert(out === expected)
  }

  test("mm_png_decode: real PNG round-trip (CRC, inflate, all five filters), strict rejects") {
    import spark.implicits._
    val inf = new java.util.zip.Inflater()
    // -- byte-exact encode → decode round-trip for every supported color
    // type and for shapes that force edge behavior: w=1 (no left
    // neighbor), h=1 (no up neighbor, only filter 0 row), h=16 (every
    // filter type 0-4 appears by construction)
    val rnd = new scala.util.Random(42)
    for (ct <- Seq(0, 2, 6); (w, h) <- Seq((1, 7), (5, 1), (16, 16), (3, 5))) {
      val ch = ct match { case 0 => 1; case 2 => 3; case 6 => 4 }
      val raw = Array.fill[Byte](w * h * ch)(rnd.nextInt(256).toByte)
      val png = Multimodal.encodePng(w, h, ct, raw)
      val (gw, gh, gct, got) = Multimodal.decodePng(png, inf).get
      assert((gw, gh, gct) === (w, h, ct))
      assert(got.toSeq === raw.toSeq, s"round-trip ct=$ct w=$w h=$h")
    }
    // -- a valid ancillary chunk between IHDR and IDAT is skipped (its CRC
    // still checked); build one with a genuine CRC32
    val base = Multimodal.encodePng(4, 4, 0, Array.tabulate[Byte](16)(_.toByte))
    val anc = {
      val data = "graft".getBytes("US-ASCII")
      val typ = "tEXt".getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(typ); crc.update(data)
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Long): Unit =
        out.write(Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
          ((v >> 8) & 0xff).toByte, (v & 0xff).toByte))
      be32(data.length); out.write(typ); out.write(data); be32(crc.getValue)
      out.toByteArray
    }
    // IHDR ends at byte 8 (sig) + 25 (len+type+13+crc) = 33
    val spliced = base.take(33) ++ anc ++ base.drop(33)
    assert(Multimodal.decodePng(spliced, inf).get._4.toSeq ===
      Array.tabulate[Byte](16)(_.toByte).toSeq)
    // -- strict rejections, each a distinct failure mode:
    val flipIdat = base.clone(); flipIdat(40) = (flipIdat(40) ^ 1).toByte
    assert(Multimodal.decodePng(flipIdat, inf).isEmpty, "chunk CRC mismatch")
    assert(Multimodal.decodePng(base.dropRight(1), inf).isEmpty, "truncated file")
    assert(Multimodal.decodePng(base ++ Array[Byte](0), inf).isEmpty,
      "trailing garbage after IEND")
    val badDepth = base.clone(); badDepth(24) = 16 // IHDR bit-depth field
    assert(Multimodal.decodePng(badDepth, inf).isEmpty, "16-bit depth (CRC also breaks)")
    val interlaced = base.clone(); interlaced(28) = 1 // IHDR interlace field
    assert(Multimodal.decodePng(interlaced, inf).isEmpty, "Adam7 not accepted")
    assert(Multimodal.decodePng("P5 2 2 255\n1234".getBytes, inf).isEmpty, "not a PNG")
    // -- query fixture: payload "abc" cycles so channel c of RGB reads
    // exactly 97+c; gray reads (86·97 + 85·98 + 85·99)/256; RGBA means
    // come from an independent JVM loop over the same synthesis rule
    val docs = Seq(
      (1L, "image", "abc"), (2L, "audio", "abc"), (3L, "video", "abc"))
      .toDF("doc_id", "media_type", "text")
      .select(col("doc_id"), col("media_type"),
        col("text").cast("binary").as("payload"))
    val out = Multimodal.pngDecodeOf(docs)
      .as[(Long, String, Int, Int, Int, Int, Double, Double, Double, Double)]
      .collect().toSeq
    def mean(ch: Int, c: Int): Double = {
      val n = 16 * 16
      val s = (0 until n * ch).filter(_ % ch == c)
        .map(j => 97 + (j % 3)).sum
      math.rint(s.toDouble / n * 1e6) / 1e6
    }
    val expectedPng = Seq(
      (1L, "image", 16, 16, 2, 3, 97.0, 98.0, 99.0, 0.0),
      (2L, "audio", 16, 16, 0, 1, 97.996094, 0.0, 0.0, 0.0),
      (3L, "video", 16, 16, 6, 4, mean(4, 0), mean(4, 1), mean(4, 2), mean(4, 3)))
    assert(out === expectedPng)
    assert(mean(1, 0) === 97.996094) // the hand-computed gray mean agrees
  }

  test("sim_graph_search: beam follows the graph — hop-bounded, cosine-ordered, tie to smaller id") {
    import spark.implicits._
    graft.functions.ArrayDot.register(spark)
    // entry = min non-query id (8); path 8-9-10-11-12-13 plus a 9-14 spur.
    // Nodes 12 and 13 carry the HIGHEST cosines but sit 4 and 5 hops from
    // the entry — a beam that ignores the graph (or over-expands) would
    // return them; the 3-hop beam must not. 14 duplicates 10's vector, so
    // the tie must break to the smaller id.
    val vecs = Seq(
      (0L, Seq(1000L, 0L)), // the one query (vec_id < NumQueries)
      (8L, Seq(0L, 1000L)),
      (9L, Seq(500L, 500L)),
      (10L, Seq(800L, 200L)),
      (11L, Seq(1000L, 100L)),
      (12L, Seq(1000L, 10L)),
      (13L, Seq(1000L, 1L)),
      (14L, Seq(800L, 200L)))
      .toDF("vec_id", "vq")
      .withColumn("n2",
        expr("aggregate(vq, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))
    val edges = Seq((8L, 9L), (9L, 10L), (10L, 11L), (11L, 12L), (12L, 13L), (9L, 14L))
      .toDF("vec_id", "nbr_id")
    val out = graft.ops.Similarity.graphSearchOf(edges, vecs)
      .as[(Long, Long, Int, Double)].collect().toSeq
    def cs(x: Long, y: Long): Double =
      BigDecimal(1000.0 * x /
          (1000.0 * math.sqrt((x * x + y * y).toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Seq(
      (0L, 11L, 1, cs(1000, 100)),
      (0L, 10L, 2, cs(800, 200)),
      (0L, 14L, 3, cs(800, 200)), // tie with 10 → larger id ranks after
      (0L, 9L, 4, cs(500, 500)),
      (0L, 8L, 5, 0.0))) // orthogonal entry node still in the beam
    assert(!out.exists(r => r._2 == 12L || r._2 == 13L),
      "nodes beyond BeamHops hops must be unreachable")
  }

  test("txt_classifier_train: trajectory equals an in-memory reference perceptron") {
    import spark.implicits._
    // src0/src4 → y=+1 (id%4==0), src1/src2/src3 → −1; doc 7 is empty text
    // (features ∅ → bias-only scoring must still count it)
    val raw = Seq(
      (1L, "src0", "alpha beta gamma"),
      (2L, "src4", "alpha beta delta delta"),
      (3L, "src1", "gamma gamma epsilon"),
      (4L, "src2", "zeta eta theta alpha"),
      (5L, "src0", "beta beta beta"),
      (6L, "src3", "iota kappa"),
      (7L, "src0", ""))
    // independent reference: string-side md5 feature hashing + a
    // mutable-array batch perceptron, same tie/sign conventions
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      mdig.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val D = 64
    def feats(text: String): Map[Int, Long] =
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        .map { t =>
          val h = md5hex(t)
          val dim = (java.lang.Long.parseLong(h.substring(0, 8), 16) % D).toInt
          val sgn = if (java.lang.Long.parseLong(h.substring(8, 9), 16) % 2 == 0) 1L else -1L
          dim -> sgn
        }.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 != 0)
    val x = raw.map { case (id, _, t) => id -> feats(t) }.toMap
    val y = raw.map { case (id, src, _) =>
      id -> (if (src.drop(3).toInt % 4 == 0) 1L else -1L)
    }.toMap
    val w = Array.fill(D)(0L); var b = 0L
    val expected = (1 to graft.ops.TextOps.PerceptronRounds).map { r =>
      val mis = raw.map(_._1).filter { id =>
        val dot = x(id).map { case (d, xv) => w(d) * xv }.sum + b
        y(id) * dot <= 0
      }
      for (id <- mis; (d, xv) <- x(id)) w(d) += y(id) * xv
      b += mis.map(y).sum
      val top = w.indices.maxBy(d => math.abs(w(d)) * D + (D - 1 - d)).toLong
      (r.toLong, mis.size.toLong, b, w.map(math.abs).sum, w.map(v => v * v).sum, top)
    }
    assert(expected.head._2 === 7L, "round 1 scores with w=0 — every doc is a mistake")
    val got = graft.ops.TextOps.classifierTrainOf(
        raw.toDF("doc_id", "source", "text"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
    // -- the scoring twin applies the FINAL weights: same reference arrays,
    // zero margin predicts −1 (the training mistake rule's sign convention)
    val expScores = raw.map(_._1).sorted.map { id =>
      val sc = x(id).map { case (d, xv) => w(d) * xv }.sum + b
      val pred = if (sc > 0) 1L else -1L
      (id, y(id), sc, pred, if (pred == y(id)) 1L else 0L)
    }
    val gotScores = graft.ops.TextOps.classifierScoreOf(
        raw.toDF("doc_id", "source", "text"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(gotScores === expScores)
    assert(gotScores.exists(_._3 != 0L), "degenerate all-zero margins")
  }

  test("ev_abandon: deadline inclusive, strictly-following purchases, no-purchase tail") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // user 1: view@0 → purchase@30 (EXACTLY the deadline — converts, lag 30
    // min); view@40 → purchase@71 (31 min — abandoned). user 2: purchase@0
    // BEFORE its view@10 and nothing after — the next-purchase frame is
    // strictly following, so abandoned. user 3: two views share purchase@20
    // (lags 20 + 15 min). user 4: lone view, no purchase ever.
    val events = Seq(
      (1L, 1L, "view", ts(0)), (2L, 1L, "purchase", ts(30)),
      (3L, 1L, "view", ts(40)), (4L, 1L, "purchase", ts(71)),
      (5L, 2L, "purchase", ts(0)), (6L, 2L, "view", ts(10)),
      (7L, 3L, "view", ts(0)), (8L, 3L, "view", ts(5)), (9L, 3L, "purchase", ts(20)),
      (10L, 4L, "view", ts(0))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ops.Streamish.abandonOf(events)
      .as[(Long, Long, Long, Long, Double, Long)].collect().toSeq
    val M = 60L * 1000000
    val expected = Seq(
      (1L, 2L, 1L, 1L, 0.5, 30 * M),
      (2L, 1L, 0L, 1L, 1.0, 0L),
      (3L, 2L, 2L, 0L, 0.0, 35 * M),
      (4L, 1L, 0L, 1L, 1.0, 0L))
    assert(out === expected)
  }

  test("ev_lateness_audit: batch-boundary high-water mark, first batch never late, interpolated tails") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // LatenessBatch = 500, so ids 0/1 are ingest batch 0, 500/501 batch 1,
    // 1000 batch 2. Batch 0 has NO high-water mark → its within-batch
    // out-of-order event (id 1 at 50 s, after id 0 at 100 s) is NOT late —
    // exactly Structured Streaming's semantics (the watermark only advances
    // between micro-batches). id 500 at 90 s is 10 s behind batch 0's max
    // (100 s); id 1000 at 150 s is 50 s behind the running max (200 s from
    // batch 1) even though batch 0 alone would read it on time.
    val events = Seq(
      (0L, "a", ts(100)), (1L, "a", ts(50)),
      (500L, "a", ts(90)), (501L, "b", ts(200)),
      (1000L, "b", ts(150))
    ).toDF("event_id", "event_type", "ts")
    val got = graft.ops.Streamish.latenessAuditOf(events)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    // type a lateness [0, 0, 10 s]: p95 interpolates 0.95·(3−1)=1.9 between
    // 0 and 10^7 → 9 000 000; type b [0, 50 s]: 0.95·1 → 47 500 000.
    val expected = Seq(
      ("a", 3L, 1L, 10000000L, 9000000.0, 9800000.0),
      ("b", 2L, 1L, 50000000L, 47500000.0, 49500000.0))
    assert(got === expected)
  }

  test("q_mv_refresh: mid-month delta merges onto existing snapshot groups; merge ≡ recompute") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val nation = Seq((0L, "ALPHA"), (1L, "BETA")).toDF("n_nationkey", "n_name")
    val customer = Seq((10L, 0L), (11L, 0L), (12L, 1L))
      .toDF("c_custkey", "c_nationkey")
    // cutoff is 2001-06-15: orders 1/4 are snapshot, 2 is a DELTA row
    // landing on the June group the snapshot already holds (partial-row
    // merge), 3 opens a brand-new July group from the delta alone.
    val orders = Seq(
      (1L, 10L, 100.50, d("2001-06-01")),
      (2L, 11L, 10.25, d("2001-06-20")),
      (3L, 10L, 99.99, d("2001-07-01")),
      (4L, 12L, 5.00, d("2001-06-10"))
    ).toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val got = graft.ops.Relational.mvRefreshOf(orders, customer, nation)
      .as[(String, java.sql.Date, Long, Long, Long, Long, Long)].collect().toSeq
    val jun = java.sql.Date.valueOf("2001-06-01")
    val jul = java.sql.Date.valueOf("2001-07-01")
    val expected = Seq(
      ("ALPHA", jun, 2L, 11075L, 10050L, 2L, 1L),
      ("ALPHA", jul, 1L, 9999L, 9999L, 1L, 1L),
      ("BETA", jun, 1L, 500L, 500L, 1L, 1L))
    assert(got === expected)
  }

  test("q_mv_refresh at sf: merged view ≡ single-pass recompute, tolerance gate green") {
    import spark.implicits._
    // the real gate is the DuckDB oracle; this pins the same invariant
    // in-engine on the fixture dir — the snapshot∪delta merge reproduces a
    // direct full aggregate bit-for-bit, and every HLL estimate passes tol
    val got = graft.ops.Relational.mvRefresh(spark, dir)
    val direct = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir).select("n_nationkey", "n_name"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"),
        col("o_custkey"))
      .groupBy("n_name", "month")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("revenue_cents"),
        max("cents").as("max_cents"),
        countDistinct(col("o_custkey")).as("n_cust"))
    val g = got.as[(String, java.sql.Date, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(g.nonEmpty && g.forall(_._7 == 1L), "within_tol must hold at sf")
    val d = direct.as[(String, java.sql.Date, Long, Long, Long, Long)]
      .collect().toSet
    assert(g.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSet === d)
  }

  test("q_gini: hand-computed Gini and top-decile share, perfectly-equal nation reads zero") {
    import spark.implicits._
    val nation = Seq((0L, "ALPHA"), (1L, "BETA")).toDF("n_nationkey", "n_name")
    val customer = Seq((10L, 0L), (11L, 0L), (12L, 0L), (13L, 0L),
      (20L, 1L), (21L, 1L)).toDF("c_custkey", "c_nationkey")
    // ALPHA spends [1.00, 1.00, 3.00, 5.00] cents=[100,100,300,500]:
    // Σi·xᵢ = 100+200+900+2000 = 3200, G = 2·3200/(4·1000) − 5/4 = 0.35;
    // top decile = ceil(4/10) = 1 customer → 500/1000 = 0.5. BETA is
    // perfectly equal [2.00, 2.00] → G = 0 exactly.
    val orders = Seq(
      (1L, 10L, 1.00), (2L, 11L, 1.00), (3L, 12L, 3.00), (4L, 13L, 5.00),
      (5L, 20L, 2.00), (6L, 21L, 2.00)
    ).toDF("o_orderkey", "o_custkey", "o_totalprice")
    val got = graft.ops.Relational.giniOf(orders, customer, nation)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    val expected = Seq(
      ("ALPHA", 4L, 1000L, 0.35, 0.5),
      ("BETA", 2L, 400L, 0.0, 0.5))
    assert(got === expected)
  }

  test("sim_recall_graph: one audited row per query, hits bounded by k, and the beam never beats brute") {
    import spark.implicits._
    val rows = graft.ops.Similarity.recallGraph(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq
    // every query id below NumQueries gets exactly one verdict row
    assert(rows.map(_._1) === (0L until graft.ops.Similarity.NumQueries.toLong))
    rows.foreach { case (q, hits, r) =>
      assert(hits >= 0 && hits <= graft.ops.Similarity.TopK, s"q$q hits $hits")
      assert(r >= 0.0 && r <= 1.0, s"q$q recall $r")
      assert(r === hits.toDouble / graft.ops.Similarity.TopK)
    }
  }

  test("ev_growth_accounting: new/retained/resurrected split, churn attribution, horizon tail dropped") {
    import spark.implicits._
    def ts(day: String) = java.sql.Timestamp.valueOf(s"2024-01-$day 12:00:00")
    // Mondays: W1=01-01 W2=01-08 W3=01-15 W4=01-22. user 1: W1,W2,W4 →
    // new, retained, resurrected; its W2→W4 gap churns it in W3, and its
    // W4 tail would churn in W5 which nobody observes — dropped. user 2:
    // W1 only → churns in W2. user 3: W2,W3 → new then retained, churns W4.
    val events = Seq(
      (1L, 1L, ts("02")), (2L, 1L, ts("09")), (3L, 1L, ts("23")),
      (4L, 2L, ts("03")),
      (5L, 3L, ts("10")), (6L, 3L, ts("16"))
    ).toDF("event_id", "user_id", "ts")
    val got = graft.ops.Streamish.growthAccountingOf(events)
      .select(col("week").cast("string"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_active"), col("n_churned"),
        col("quick_ratio"))
      .as[(String, Long, Long, Long, Long, Long, Option[Double])]
      .collect().toSeq
    val expected = Seq(
      ("2024-01-01", 2L, 0L, 0L, 2L, 0L, None),
      ("2024-01-08", 1L, 1L, 0L, 2L, 1L, Some(1.0)),
      ("2024-01-15", 0L, 1L, 0L, 1L, 1L, Some(0.0)),
      ("2024-01-22", 0L, 0L, 1L, 1L, 1L, Some(1.0)))
    assert(got === expected)
  }

  test("q_constraint_audit: every counter reconciles with a direct recompute on a different plan") {
    import spark.implicits._
    val audit = graft.ops.Relational.constraintAudit(spark, dir)
      .as[(String, String, Long, String)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val c = Tables.customer(spark, dir)
    def direct(n: Long) = (n, if (n == 0) "pass" else "fail")
    assert(audit(("orders", "o_orderkey unique")) ===
      direct(o.count() - o.select("o_orderkey").distinct().count()))
    assert(audit(("lineitem", "l_tax <= 0.06")) ===
      direct(li.filter(col("l_tax") > 0.06).count()))
    assert(audit(("customer", "c_acctbal non-negative")) ===
      direct(c.filter(col("c_acctbal") < 0).count()))
    assert(audit(("orders", "o_custkey fk -> customer")) ===
      direct(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count()))
    assert(audit(("lineitem", "l_orderkey fk -> orders")) ===
      direct(li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti").count()))
    // the two live checks must actually FIRE on the fixture corpus
    assert(audit(("lineitem", "l_tax <= 0.06"))._2 === "fail")
    assert(audit(("customer", "c_acctbal non-negative"))._2 === "fail")
    assert(audit.size === 10)
  }

  test("ev_gap_audit: per-user gaps, same-ts tie order, session-gap tail, interpolated quantiles") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // user 1: view@0 → click@10 (gap 10 min) → purchase@50 (gap 40 min —
    // over the 30-min session gap). user 2: click@0 and view@0 share a
    // timestamp (tie breaks by event_id: the view FOLLOWS, gap 0) →
    // click@5 (gap 5 min). Gaps attribute to the FOLLOWING event's type.
    val events = Seq(
      (1L, 1L, "view", ts(0)), (2L, 1L, "click", ts(10)),
      (3L, 1L, "purchase", ts(50)),
      (4L, 2L, "click", ts(0)), (5L, 2L, "view", ts(0)),
      (6L, 2L, "click", ts(5))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.ops.Streamish.gapAuditOf(events)
      .as[(String, Long, Double, Double, Double, Long)].collect().toSeq
    val M = 60.0 * 1000000 // minutes → µs
    val expected = Seq(
      // click gaps sorted [5 min, 10 min]: p50 interpolates to 7.5 min,
      // p90 to 9.5 min, p99 to 9.95 min
      ("click", 2L, 7.5 * M, 9.5 * M, 9.95 * M, 0L),
      ("purchase", 1L, 40 * M, 40 * M, 40 * M, 1L),
      ("view", 1L, 0.0, 0.0, 0.0, 0L))
    assert(got === expected)
  }

  test("sim_drift: zero-variance guard, exact 4σ dimension, i.i.d. dims stay quiet") {
    import spark.implicits._
    // label 0: both populations constant and equal — se2 = 0 on every dim,
    // the guard emits z = 0. label 1 dim 0: constant 0.5 on both sides
    // (z 0); dim 1: ref {0.0, 1.0} vs new {2.0, 3.0} — equal variances, so
    // z = |0.5 − 2.5| / sqrt(0.25/2 + 0.25/2) = 4 EXACTLY (the Q.20
    // quantization scales numerator and denominator identically).
    val emb = Seq(
      (0L, 0L, Seq(1.0f, 0.0f)), (1L, 0L, Seq(1.0f, 0.0f)),
      (2L, 0L, Seq(1.0f, 0.0f)), (3L, 0L, Seq(1.0f, 0.0f)),
      (4L, 1L, Seq(0.5f, 0.0f)), (5L, 1L, Seq(0.5f, 2.0f)),
      (6L, 1L, Seq(0.5f, 1.0f)), (7L, 1L, Seq(0.5f, 3.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = graft.ops.Similarity.driftOf(emb)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val expected = Seq(
      (0L, 2L, 2L, 0L, 0.0),
      (1L, 2L, 2L, 1L, 4.0))
    assert(got === expected)
  }

  test("txt_blocklist: density gate keeps the boundary, zero-hit and empty docs") {
    import spark.implicits._
    // doc 1: all flagged → drop. doc 2: 1/20 = 0.05 → keep. doc 3:
    // 3/50 = exactly the 0.06 threshold (the IEEE double of 3/50 IS the
    // literal 0.06) → boundary keeps. doc 4: empty → density 0, keep.
    // doc 5: zero hits (exercises the LEFT join's coalesce).
    val clean = (1 to 16).map(_ => "fast").mkString(" ")
    val fifty = ("slow big dup " + (1 to 47).map(_ => "scan").mkString(" "))
    val docs = Seq(
      (1L, "slow big dup slow"),
      (2L, s"slow $clean fast merge scan"),
      (3L, fifty),
      (4L, ""),
      (5L, "fast scan")
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.blocklistOf(docs)
      .as[(Long, Int, Long, Double, Boolean)].collect().toSeq
    val expected = Seq(
      (1L, 4, 4L, 1.0, false),
      (2L, 20, 1L, 0.05, true),
      (3L, 50, 3L, 0.06, true),
      (4L, 0, 0L, 0.0, true),
      (5L, 2, 0L, 0.0, true))
    assert(got === expected)
  }

  test("ev_dau_stickiness: hand-computed trailing-7-day WAU over sparse active days") {
    import spark.implicits._
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    // actives: d1 {u1,u2}, d2 {u2}, d5 {u3}, d9 {u1} (u2 twice on d1 —
    // the distinct pair dedup must absorb it). WAU anchors only at
    // observed days; d5's trailing window still reaches d1/d2, d9's only d5.
    val events = Seq(
      (ts(1), 1L), (ts(1), 2L), (ts(1), 2L), (ts(2), 2L),
      (ts(5), 3L), (ts(9), 1L)
    ).toDF("ts", "user_id")
    val got = graft.ops.Streamish.dauStickinessOf(events)
      .as[(java.sql.Date, Long, Long, Double, Long)].collect().toSeq
      .map { case (d, dau, wau, st, tol) => (d.toString, dau, wau, st, tol) }
    val expected = Seq(
      ("1970-01-02", 2L, 2L, 1.0, 1L),
      ("1970-01-03", 1L, 2L, 0.5, 1L),
      ("1970-01-06", 1L, 3L, 0.333333, 1L),
      ("1970-01-10", 1L, 2L, 0.5, 1L))
    assert(got === expected)
  }

  test("ev_rfm: quintile interpolation and inverted recency on a 5-user ladder") {
    import spark.implicits._
    // user u has u events on day u, each worth u dollars → recency 5−u,
    // frequency u, monetary 100u² cents. With 5 users the p·(n−1) cutoff
    // positions are {0.8, 1.6, 2.4, 3.2}, so every metric's interpolated
    // cutoffs are hand-computable and each user lands in its own quintile
    // (recency inverted: the most recent user scores r=5).
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    val events = (1 to 5).flatMap(u => (1 to u).map(_ => (u.toLong, ts(u), u.toDouble)))
      .toDF("user_id", "ts", "value")
    val got = graft.ops.Streamish.rfmOf(events)
      .as[(Long, Long, Long, Long, Long, Long, Long, String)].collect().toSeq
    val expected = (1 to 5).map { u =>
      (u.toLong, (5 - u).toLong, u.toLong, 100L * u * u,
        u.toLong, u.toLong, u.toLong, s"$u$u$u")
    }
    assert(got === expected)
  }

  test("ev_streaks: islands split on gaps, longest ties break to the earliest start") {
    import spark.implicits._
    // user 1: days 1,2,3 then 5,6 -> streaks 3 and 2, longest 3 starting d1
    // user 2: days 1,2 and 4,5 -> two 2-day streaks, tie -> earliest (d1)
    // user 3: one day, duplicate events same day collapse -> single streak 1
    val ev = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-03"),
      (1L, "2024-01-05"), (1L, "2024-01-06"),
      (2L, "2024-01-01"), (2L, "2024-01-02"), (2L, "2024-01-04"), (2L, "2024-01-05"),
      (3L, "2024-01-09"), (3L, "2024-01-09")
    ).toDF("user_id", "d").select(col("user_id"), col("d").cast("timestamp").as("ts"))
    val out = graft.ops.Streamish.streaksOf(ev)
      .select(col("user_id"), col("n_active_days"), col("n_streaks"),
        col("longest_streak"), col("longest_start").cast("string"))
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    val expected = Seq(
      (1L, 5L, 2L, 3L, "2024-01-01"),
      (2L, 4L, 2L, 2L, "2024-01-01"),
      (3L, 1L, 1L, 1L, "2024-01-09"))
    assert(out === expected)
  }

  test("ev_streaks: island stats equal brute force on random activity sets") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val actGen = Gen.listOfN(40, for {
      u <- Gen.choose(1L, 5L)
      d <- Gen.choose(1, 20) // day-of-month, Jan 2024
    } yield (u, d)).map(_.distinct)
    val prop = Prop.forAll(actGen) { act =>
      act.isEmpty || {
        val ev = act.map { case (u, d) => (u, f"2024-01-$d%02d") }
          .toDF("user_id", "d")
          .select(col("user_id"), col("d").cast("timestamp").as("ts"))
        val got = graft.ops.Streamish.streaksOf(ev)
          .select("user_id", "n_active_days", "n_streaks", "longest_streak")
          .as[(Long, Long, Long, Long)].collect()
          .map(r => r._1 -> (r._2, r._3, r._4)).toMap
        val brute = act.groupBy(_._1).map { case (u, xs) =>
          val days = xs.map(_._2).distinct.sorted
          val runs = days.foldLeft(List.empty[List[Int]]) {
            case (acc @ (run @ (last :: _)) :: rest, d) if d == last + 1 =>
              (d :: run) :: rest
            case (acc, d) => List(d) :: acc
          }
          u -> (days.size.toLong, runs.size.toLong, runs.map(_.size).max.toLong)
        }
        brute.forall { case (u, b) => got.get(u).contains(b) }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("txt_kn_perplexity: hand-computed micro corpus hits exact rational checkpoints") {
    import spark.implicits._
    // Corpus {"a b", "a b", "a c"}: c(ab)=2, c(ac)=1, cstart(a)=3,
    // N1+(a·)=2, N1+(·b)=N1+(·c)=1, B=2, d=0.75 =>
    //   P(b|a) = (1.25 + 0.75·2·(1/2))/3 = 2/3  -> ppl exp(-ln 2/3) = 1.5
    //   P(c|a) = (0.25 + 0.75·2·(1/2)·... ) = (0.25+0.75)/3 = 1/3 -> ppl 3.0
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = TextOps.knPerplexityOf(docs)
      .select("doc_id", "n_bigrams", "kn_logprob", "kn_ppl")
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSeq
    val expected = Seq(
      (1L, 1L, Some(-0.405465), Some(1.5)),
      (2L, 1L, Some(-0.405465), Some(1.5)),
      (3L, 1L, Some(-1.098612), Some(3.0)))
    assert(out === expected)
  }

  test("txt_kn_perplexity: equals an independent reimplementation on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    import java.math.{BigDecimal => JBD}
    // mirror Spark's Round-on-double exactly: BigDecimal.valueOf (canonical
    // string repr, not the exact binary expansion) then HALF_UP
    def round(x: Double, s: Int): Double =
      JBD.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue
    def brute(docs: Seq[(Long, String)]): Map[Long, (Long, Option[Double], Option[Double])] = {
      val toks = docs.map { case (id, t) =>
        id -> t.toLowerCase.split(MapReduce.WhitespaceClass).filter(_.nonEmpty).toSeq
      }
      val bigs = toks.flatMap { case (id, ts) =>
        if (ts.size < 2) Nil else ts.sliding(2).map(p => (id, p.mkString(" "))).toSeq
      }
      val cb = bigs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      def w1(bg: String) = bg.split(" ")(0)
      def w2(bg: String) = bg.split(" ")(1)
      val cs = cb.groupBy { case (bg, _) => w1(bg) }.view.mapValues(_.values.sum).toMap
      val n1h = cb.keys.groupBy(w1).view.mapValues(_.size.toLong).toMap
      val n1c = cb.keys.groupBy(w2).view.mapValues(_.size.toLong).toMap
      val bt = cb.size.toLong
      docs.map { case (id, _) =>
        val db = bigs.filter(_._1 == id).groupBy(_._2).view.mapValues(_.size.toLong)
        if (db.isEmpty) id -> ((0L, None, None))
        else {
          val slp = db.map { case (bg, k) =>
            val p = (math.max(cb(bg).toDouble - 0.75, 0.0) +
              0.75 * n1h(w1(bg)).toDouble * n1c(w2(bg)).toDouble / bt.toDouble) /
              cs(w1(bg)).toDouble
            JBD.valueOf(math.log(p)).setScale(8, java.math.RoundingMode.HALF_UP)
              .multiply(JBD.valueOf(k))
          }.reduce(_ add _)
          val n = db.values.sum
          val logprob = round(slp.doubleValue / n, 6)
          id -> ((n, Some(logprob), Some(round(math.exp(-logprob), 4))))
        }
      }.toMap
    }
    val tokenGen = Gen.oneOf("a", "b", "c")
    val docGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, tokenGen)).map(_.mkString(" "))
    val corpusGen = Gen.choose(2, 4).flatMap(k => Gen.listOfN(k, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) })
    val prop = Prop.forAll(corpusGen) { corpus =>
      val got = TextOps.knPerplexityOf(corpus.toDF("doc_id", "text"))
        .select("doc_id", "n_bigrams", "kn_logprob", "kn_ppl")
        .as[(Long, Long, Option[Double], Option[Double])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      got == brute(corpus)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("txt_ngram_novelty: first introduction wins, splices score low, short docs are NULL") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // {a b c, b c d} both first here -> 1.0
      (2L, "a b c x"),   // {a b c} seen in doc 1, {b c x} novel -> 0.5
      (3L, "a b"),       // no trigrams -> NULL novelty
      (4L, "a b c d")    // pure copy of doc 1 -> 0.0
    ).toDF("doc_id", "text")
    val out = TextOps.ngramNoveltyOf(docs)
      .select("doc_id", "n_tri_distinct", "n_novel", "novelty")
      .as[(Long, Int, Int, Option[Double])].collect().toSeq
    val expected = Seq(
      (1L, 2, 2, Some(1.0)),
      (2L, 2, 1, Some(0.5)),
      (3L, 0, 0, None),
      (4L, 2, 0, Some(0.0)))
    assert(out === expected)
    // degenerate docs: NULL text, "" and k − 1 tokens are unscoreable rows;
    // a doc of exactly k tokens holds one trigram, already introduced by
    // doc 1. Pinned to the lead-window formulation's output.
    val degenerate = Seq[(Long, Option[String])](
      5L -> None, 6L -> Some(""), 7L -> Some("b c"), 8L -> Some("b c d"))
      .toDF("doc_id", "text")
    val withDegenerate = TextOps.ngramNoveltyOf(docs.unionByName(degenerate))
      .select("doc_id", "n_tri_distinct", "n_novel", "novelty")
      .as[(Long, Int, Int, Option[Double])].collect().toSeq
    assert(withDegenerate === expected ++ Seq(
      (5L, 0, 0, None), (6L, 0, 0, None), (7L, 0, 0, None), (8L, 1, 0, Some(0.0))))
  }

  test("sim_ivfpq_topk: dense ranks per query, ADC distances nondecreasing") {
    import spark.implicits._
    val rows = Similarity.ivfPqTopK(spark, dir)
      .select("q_id", "rnk", "adc_dist")
      .as[(Long, Int, Double)].collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2) === (1 to sorted.length), s"ranks not dense for q=$q")
      assert(sorted.map(_._3).sliding(2).forall(p => p.head <= p.last),
        s"ADC distances decrease within q=$q")
    }
  }

  test("sim_graph_rank: hand-computed 3-node fixture under the scaled-integer recurrence") {
    import spark.implicits._
    // Graph: 0→{1,2}, 1→2, 2→0; n=3, d=0.85, 3 rounds, rank scale 10^12.
    // r0 = 10^12 DIV 3 = 333333333333 each; base = 15·10^10 DIV 3 = 5·10^10.
    // Each contribution is (r12·85) DIV (100·deg); hand-unrolled:
    //   r1 = (333333333333, 191666666666, 474999999999)
    //   r2 = (453749999999, 191666666666, 354583333332)
    //   r3 = (351395833332, 242843749999, 405760416665)
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L).toDF("vec_id")
    val out = Similarity.graphRankOf(edges, nodes)
      .select(col("vec_id"), col("pagerank"))
      .as[(Long, Double)].collect().toSeq
    // expected doubles derive from the hand-computed r3 integers by the
    // SAME exact conversion the operator performs (long → double / 1e12)
    val expected = Seq(
      (0L, 351395833332L / 1e12),
      (1L, 242843749999L / 1e12),
      (2L, 405760416665L / 1e12))
    assert(out === expected)
  }

  test("sim_graph_rank_full: dangling node's mass redistributes; hand-computed 4-node fixture") {
    import spark.implicits._
    // Graph: 0→{1,2}, 1→2, 2→0; node 3 dangling (no out-edges). n=4.
    // r0 = 250000000000 each; base = 37500000000; each round adds the
    // dangling share (r(3)·85) DIV (100·4) to every node. Hand-unrolled:
    //   r1 = (303125000000, 196875000000, 409375000000,  90625000000)
    //   r2 = (404726562500, 185585937500, 352929687500,  56757812500)
    //   r3 = (349551269531, 221569824218, 379317871093,  49561035156)
    // Mass conservation: Σ r3 = 999999999998 (truncation loss only).
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("vec_id")
    val out = Similarity.graphRankFullOf(edges, nodes)
      .select(col("vec_id"), col("pagerank"))
      .as[(Long, Double)].collect().toSeq
    val expected = Seq(
      (0L, 349551269531L / 1e12),
      (1L, 221569824218L / 1e12),
      (2L, 379317871093L / 1e12),
      (3L, 49561035156L / 1e12))
    assert(out === expected)
  }

  test("sim_graph_rank(+full): recurrence equals an independent integer simulation on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // exact-integer reference: the same scaled recurrence in plain Scala
    def brute(edges: Seq[(Long, Long)], nodes: Seq[Long], full: Boolean): Map[Long, Long] = {
      val n = nodes.size
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var r = nodes.map(_ -> 1000000000000L / n).toMap
      for (_ <- 1 to 3) {
        val inflow = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for ((s, d) <- edges) inflow(d) += r(s) * 85 / (100 * deg(s))
        val share =
          if (full) nodes.filterNot(deg.contains).map(r).sum * 85 / (100 * n) else 0L
        r = nodes.map(v => v -> (150000000000L / n + inflow(v) + share)).toMap
      }
      r
    }
    val gen = for {
      n <- Gen.choose(2, 8)
      nodes = (0L until n.toLong).toList
      edges <- Gen.someOf(for { a <- nodes; b <- nodes if a != b } yield (a, b))
    } yield (nodes, edges.toList)
    val prop = Prop.forAll(gen) { case (nodes, edges) =>
      Seq(false, true).forall { full =>
        val edgeDf =
          if (edges.nonEmpty) edges.toDF("src", "dst")
          else Seq.empty[(Long, Long)].toDF("src", "dst")
        val ranker =
          if (full) Similarity.graphRankFullOf _ else Similarity.graphRankOf _
        val got = ranker(edgeDf, nodes.toDF("vec_id"))
          .select(col("vec_id"), col("pagerank"))
          .as[(Long, Double)].collect().toMap
        // exact double equality is sound: both sides are long/1e12 under
        // the same IEEE correctly-rounded division
        got == brute(edges, nodes, full).view.mapValues(_ / 1e12).toMap
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("sim_triangles: K4 is all-triangles, C4 is triangle-free, path endpoints drop") {
    import spark.implicits._
    // K4 on 1-4 (4 triangles, clustering 1), a 4-cycle on 10-13 (0
    // triangles, deg 2), and a 3-path 20-21-22 (endpoints deg 1 → excluded)
    val und = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ++
      Seq((10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L)) ++
      Seq((20L, 21L), (21L, 22L))).toDF("a", "b")
    val out = Similarity.triangleStatsOf(und)
      .select("vec_id", "deg", "n_tri", "clustering")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val expected = Seq(
      (1L, 3L, 3L, 1.0), (2L, 3L, 3L, 1.0), (3L, 3L, 3L, 1.0), (4L, 3L, 3L, 1.0),
      (10L, 2L, 0L, 0.0), (11L, 2L, 0L, 0.0), (12L, 2L, 0L, 0.0), (13L, 2L, 0L, 0.0),
      (21L, 2L, 0L, 0.0))
    assert(out.toSeq === expected)
  }

  test("sim_triangles: oriented-wedge counts equal brute force on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // the distributed degree-oriented join against an O(n³) reference —
    // random graphs exercise hubs, isolates, and tie-broken equal degrees
    val edgeGen = for {
      n <- Gen.choose(4, 10)
      density <- Gen.choose(0.2, 0.8)
      picks <- Gen.listOfN(n * n, Gen.choose(0.0, 1.0))
    } yield {
      val all = for (a <- 0 until n; b <- a + 1 until n) yield (a.toLong, b.toLong)
      all.zip(picks).collect { case (e, p) if p < density => e }
    }
    val prop = Prop.forAll(edgeGen) { edges =>
      edges.isEmpty || {
        val adj = edges.toSet
        def linked(x: Long, y: Long) = adj((x min y, x max y))
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val brute = (for {
          i <- nodes; j <- nodes if i < j; k <- nodes if j < k
          if linked(i, j) && linked(j, k) && linked(i, k)
        } yield Seq(i, j, k)).flatten
          .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
        val got = Similarity.triangleStatsOf(edges.toDF("a", "b"))
          .select("vec_id", "n_tri").as[(Long, Long)].collect().toMap
        nodes.forall { v =>
          got.getOrElse(v, 0L) == brute.getOrElse(v, 0L)
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("sim_sq_encode: rmse bounded by one quantization step, codes pin decode") {
    import spark.implicits._
    val rows = Similarity.sqEncode(spark, dir)
      .select("vec_id", "rmse").as[(Long, Double)].collect()
    assert(rows.nonEmpty)
    // err255 = 255·(v − decode), so rmse is the per-dim error in original
    // float units; floor quantization error per dim < one step =
    // (mx−mn)/255 ≤ 2/255 for unit-range embeddings
    val bound = 2.0 / 255.0
    rows.foreach { case (v, r) =>
      assert(r >= 0.0 && r <= bound, s"vec $v rmse $r > $bound")
    }
  }

  test("sim_bfs_reach: neighborhood growth is monotone and hop-1 equals seed degree") {
    import spark.implicits._
    val reach = Similarity.bfsReach(spark, dir)
      .select("seed", "reach_1", "reach_2", "reach_3")
      .as[(Long, Long, Long, Long)].collect()
    assert(reach.length === 8)
    reach.foreach { case (s, r1, r2, r3) =>
      assert(r1 <= r2 && r2 <= r3, s"seed $s: $r1 > $r2 or $r2 > $r3")
    }
    // hop-1 = the seed's undirected degree in the kNN graph
    val und = Similarity.knnGraph(spark, dir)
      .select(least(col("vec_id"), col("nbr_id")).as("a"),
        greatest(col("vec_id"), col("nbr_id")).as("b")).distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").count().as[(Long, Long)].collect().toMap
    reach.foreach { case (s, r1, _, _) =>
      assert(r1 === deg.getOrElse(s, 0L), s"seed $s hop-1 $r1 != degree")
    }
  }

  test("ev_lift: hand-computed support and lift on a 3-user fixture") {
    import spark.implicits._
    // u1:{a,b} u2:{a,b} u3:{a} → P(a∧b)=2/3, P(a)=1, P(b)=2/3, lift=1
    val events = Seq(
      (1L, "a"), (1L, "b"), (1L, "a"), // duplicate raw events must not count
      (2L, "a"), (2L, "b"),
      (3L, "a")).toDF("user_id", "event_type")
    val out = graft.ops.Streamish.liftOf(events)
      .select("type_a", "type_b", "n_both", "n_a", "n_b", "support", "lift")
      .as[(String, String, Long, Long, Long, Double, Double)].collect()
    assert(out.toSeq === Seq(("a", "b", 2L, 3L, 2L, 0.666667, 1.0)))
  }

  test("txt_dsir: target-language docs score higher importance; every doc emitted") {
    import spark.implicits._
    val total = Tables.documents(spark, dir).count()
    val scored = TextOps.dsirWeights(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), "doc_id")
    assert(scored.count() === total) // token-less docs still emit a row
    val means = scored.filter(col("log_importance").isNotNull)
      .groupBy(col("lang") === "en")
      .agg(avg("log_importance")).as[(Boolean, Double)].collect().toMap
    // the importance model must rank its own target domain above the rest —
    // the selection signal DSIR exists to produce
    assert(means(true) > means(false),
      s"en mean ${means(true)} !> other mean ${means(false)}")
  }

  test("bloom_agg/bloom_might_contain: no false negatives, real pruning power") {
    import spark.implicits._
    graft.functions.BloomFuncs.register(spark)
    val members = (1L to 1000L).toDF("k")
    val bf = members.agg(expr("bloom_agg(xxhash64(k), 1000L, 16000L)").as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val probeHit = members
      .filter(call_function("bloom_might_contain", lit(bf), expr("xxhash64(k)")))
      .count()
    assert(probeHit === 1000L) // a bloom can NEVER reject a member
    val nonMembers = (1000000L to 1010000L).toDF("k")
    val fp = nonMembers
      .filter(call_function("bloom_might_contain", lit(bf), expr("xxhash64(k)")))
      .count()
    assert(fp < 1000L, s"fp=$fp of 10001") // prunes ≥90% of clean keys
  }

  test("dd_edit_verify: property — the banded-DP accept set equals the unthresholded filter") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // Random near-pairs of word sequences: mutate 0-4 words out of ~15 so
    // normalized similarity straddles the 0.8 bar from both sides. The
    // thresholded levenshtein (thr = floor(max/5)+1, -1 past the cap) must
    // accept exactly the pairs the plain levenshtein + double filter
    // accepts, with identical distances on the accepted side.
    val word = Gen.oneOf("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    val pairGen = for {
      n <- Gen.choose(12, 18)
      base <- Gen.listOfN(n, word)
      k <- Gen.choose(0, 4)
      muts <- Gen.listOfN(k, Gen.zip(Gen.choose(0, n - 1), word))
    } yield {
      val b = base.toArray
      muts.foreach { case (i, w) => b(i) = w }
      (base.mkString(" "), b.mkString(" "))
    }
    val prop = Prop.forAll(Gen.listOfN(12, pairGen)) { pairs =>
      val df = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("id", "ta", "tb")
      val banded = df
        .withColumn("thr",
          (greatest(length(col("ta")), length(col("tb"))) / 5).cast("int") + 1)
        .withColumn("lev", expr("levenshtein(ta, tb, thr)"))
        .filter(col("lev") >= 0)
        .withColumn("sim", lit(1.0) - col("lev").cast("double")
          / greatest(length(col("ta")), length(col("tb"))))
        .filter(col("sim") >= 0.8)
        .select("id", "lev").as[(Long, Int)].collect().toMap
      val plain = df
        .withColumn("lev", levenshtein(col("ta"), col("tb")))
        .withColumn("sim", lit(1.0) - col("lev").cast("double")
          / greatest(length(col("ta")), length(col("tb"))))
        .filter(col("sim") >= 0.8)
        .select("id", "lev").as[(Long, Int)].collect().toMap
      banded == plain
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("dd_edit_verify: near-identical docs accepted with the exact edit distance; unrelated docs never pair") {
    import spark.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog today"
    val t2 = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, t1), (2L, t2),
      (3L, "completely different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
    val out = Dedup.editVerifyOf(docs)
      .select("doc_a", "doc_b", "lev", "edit_sim")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSeq === Seq((1L, 2L)))
    val lev = out.head._3
    assert(lev > 0 && lev <= 7) // today→tonight
    val expSim = 1.0 - lev.toDouble / math.max(t1.length, t2.length)
    assert(math.abs(out.head._4 - expSim) < 1e-3)
  }

  /** The naive single-window formulation of the per-source cap — the
    * semantic reference [[TextOps.domainCapOf]]'s salted two-phase plan
    * must reproduce exactly.
    */
  private def naiveDomainCap(rows: Seq[(Long, String, Double)],
      cap: Int): Seq[(String, Int, Long, Double)] =
    rows.groupBy(_._2).toSeq.flatMap { case (src, docs) =>
      docs.sortBy(d => (-d._3, d._1)).take(cap).zipWithIndex
        .map { case ((id, _, q), i) => (src, i + 1, id, q) }
    }.sortBy(r => (r._1, r._2))

  test("txt_domain_cap: cap-boundary quality tie across salt lanes breaks by doc_id") {
    import spark.implicits._
    // Source "a": 19 docs. Ranks 1-10 distinct qualities (ids 1-10), ranks
    // 11-13 distinct (ids 65-67 — SAME salt lanes as ids 1-3, since salt =
    // doc_id % 64), then a FOUR-way tie at quality 0.4 (ids 68-71, lanes
    // 4-7) straddling the cap-15 boundary: ids 68,69 must take ranks 14,15
    // and ids 70,71 must be cut, purely on the doc_id tie-break. Ids 72-73
    // sit below the tie and must also be cut. Source "b" is under the cap
    // entirely.
    val rows =
      (1 to 10).map(i => (i.toLong, "a", math.rint((1.0 - 0.01 * i) * 100) / 100)) ++
        Seq((65L, "a", 0.5), (66L, "a", 0.49), (67L, "a", 0.48),
          (68L, "a", 0.4), (69L, "a", 0.4), (70L, "a", 0.4), (71L, "a", 0.4),
          (72L, "a", 0.3), (73L, "a", 0.2),
          (200L, "b", 0.8), (201L, "b", 0.7), (202L, "b", 0.6))
    val out = TextOps.domainCapOf(rows.toDF("doc_id", "source", "quality"))
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(out === naiveDomainCap(rows, 15))
    val aKept = out.filter(_._1 == "a")
    assert(aKept.size === 15)
    assert(aKept.filter(_._4 == 0.4).map(_._3) === Seq(68L, 69L)) // tie-break
    assert(!out.exists(r => Seq(70L, 71L, 72L, 73L).contains(r._3)))
    assert(out.filter(_._1 == "b").map(r => (r._2, r._3)) ===
      Seq((1, 200L), (2, 201L), (3, 202L)))
  }

  test("txt_domain_cap: hot single-lane domain — two-phase equals naive") {
    import spark.implicits._
    // 80 docs of one source ALL in salt lane 0 (doc_id = 64·k): the local
    // phase must prune the lane to its top-15 WITHOUT losing any doc the
    // global rank would keep, under heavy quality ties (3 distinct values).
    val rows = (0 until 80).map(k => (64L * k, "hot", 0.3 + 0.1 * (k % 3)))
    val out = TextOps.domainCapOf(rows.toDF("doc_id", "source", "quality"))
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(out === naiveDomainCap(rows, 15))
  }

  test("txt_domain_cap: salted two-phase equals naive single-window on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 60)
      ids <- Gen.pick(n, 0L until 400L)
      srcs <- Gen.listOfN(n, Gen.oneOf("s1", "s2", "s3"))
      qs <- Gen.listOfN(n, Gen.choose(0, 6).map(_ / 10.0)) // coarse → ties
    } yield ids.toList.zip(srcs).zip(qs).map { case ((i, s), q) => (i, s, q) }
    val prop = Prop.forAll(gen) { rows =>
      val out = TextOps.domainCapOf(rows.toDF("doc_id", "source", "quality"))
        .as[(String, Int, Long, Double)].collect().toSeq
      out == naiveDomainCap(rows, 15)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("mm_typed_decode: header magic + interleaved channel means on constructed payloads") {
    import spark.implicits._
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    // image (3 ch), payload bytes = 0..19: magic 00010203; body idx 8..19
    // interleaves ch0 {8,11,14,17}→12.5, ch1 {9,12,15,18}→13.5,
    // ch2 {10,13,16,19}→14.5
    val img = graft.ops.MediaAsset(1L, "image", (0 until 20).map(_.toByte).toArray)
    // audio (2 ch), payload bytes = 0..13: body idx 8..13 → ch0 {8,10,12}
    // → 10.0, ch1 {9,11,13} → 11.0; ch2 has no bytes → pinned 0.0
    val aud = graft.ops.MediaAsset(2L, "audio", (0 until 14).map(_.toByte).toArray)
    // text shorter than the header: magic emits the 2 bytes that exist,
    // empty body → every channel mean pinned 0.0
    val tiny = graft.ops.MediaAsset(3L, "text", Array[Byte](0x41, 0x42))
    val out = graft.ops.Multimodal.typedDecodeOf(Seq(img, aud, tiny).toDS())
      .orderBy("doc_id")
      .as[(Long, String, Int, String, Int, Double, Double, Double, String)]
      .collect().toSeq
    assert(out === Seq(
      (1L, "image", 20, "00010203", 3, 12.5, 13.5, 14.5, md5hex(img.payload)),
      (2L, "audio", 14, "00010203", 2, 10.0, 11.0, 0.0, md5hex(aud.payload)),
      (3L, "text", 2, "4142", 1, 0.0, 0.0, 0.0, md5hex(tiny.payload))))
  }

  test("mm_typed_decode: binary PPM (P6) branch — real pixel channel means, strict fallback") {
    import spark.implicits._
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    // hand-built 2×2 P6 with a header comment: R {10,40,70,100} → 55.0,
    // G {20,50,80,110} → 65.0, B {30,60,90,120} → 75.0
    val pixels = Array(10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
      .map(_.toByte)
    val ppm = ("P6\n# tiny fixture\n2 2\n255\n".getBytes("US-ASCII")) ++ pixels
    // direct parser check (width/height surface only here)
    val Some((magic, w, h, means)) = graft.ops.Multimodal.decodeNetpbm(ppm)
    assert((magic, w, h) === (("P6", 2, 2)))
    assert(means.toSeq === Seq(55.0, 65.0, 75.0))
    // truncated body → NOT a valid P6 → falls back to the container
    // layout (magic = hex of first 4 bytes, round-robin channels)
    val broken = ppm.dropRight(1)
    assert(graft.ops.Multimodal.decodeNetpbm(broken).isEmpty)
    val out = graft.ops.Multimodal.typedDecodeOf(Seq(
        graft.ops.MediaAsset(1L, "image", ppm),
        graft.ops.MediaAsset(2L, "image", broken)).toDS())
      .orderBy("doc_id")
      .as[(Long, String, Int, String, Int, Double, Double, Double, String)]
      .collect().toSeq
    assert(out.head === ((1L, "image", ppm.length, "P6", 3, 55.0, 65.0, 75.0,
      md5hex(ppm))))
    assert(out(1)._4 === "50360a23") // 'P' '6' '\n' '#' as container magic
    assert(out(1)._5 === 3)
  }

  test("mm_typed_decode: binary PGM (P5) branch — the codec dispatch generalizes") {
    import spark.implicits._
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    // hand-built 3×2 P5: gray {10, 20, 30, 40, 50, 60} → mean 35.0; the
    // single channel lands in slot 0, slots 1-2 pin to 0.0
    val gray = Array(10, 20, 30, 40, 50, 60).map(_.toByte)
    val pgm = ("P5\n# gray fixture\n3 2\n255\n".getBytes("US-ASCII")) ++ gray
    val Some((magic, w, h, means)) = graft.ops.Multimodal.decodeNetpbm(pgm)
    assert((magic, w, h) === (("P5", 3, 2)))
    assert(means.toSeq === Seq(35.0, 0.0, 0.0))
    // a P5 with a P6-sized body (3·w·h) is NOT valid P5 → container fallback
    val wrongBody = ("P5\n3 2\n255\n".getBytes("US-ASCII")) ++ gray ++ gray ++ gray
    assert(graft.ops.Multimodal.decodeNetpbm(wrongBody).isEmpty)
    val out = graft.ops.Multimodal.typedDecodeOf(Seq(
        graft.ops.MediaAsset(1L, "image", pgm)).toDS())
      .as[(Long, String, Int, String, Int, Double, Double, Double, String)]
      .collect().toSeq
    assert(out === Seq((1L, "image", pgm.length, "P5", 1, 35.0, 0.0, 0.0,
      md5hex(pgm))))
  }

  test("ev_pattern: CEP binge-conversion counts on a hand-built sequence fixture") {
    import spark.implicits._
    // user 1: view view purchase | view | view view view purchase → 2 binges
    //         (the lone middle view converts nothing)
    // user 2: view purchase (single view — below the ≥2 run) → no match
    // user 3: back-to-back binges view view purchase view view purchase → 2
    // user 4: clicks only → no match
    def ev(u: Long, types: Seq[String]): Seq[(Long, Long, Long, String)] =
      types.zipWithIndex.map { case (t, i) => (u, i.toLong, u * 100 + i, t) }
    val events = (
      ev(1L, Seq("view", "view", "purchase", "view", "view", "view", "view", "purchase")) ++
      ev(2L, Seq("view", "purchase")) ++
      ev(3L, Seq("view", "view", "purchase", "view", "view", "purchase")) ++
      ev(4L, Seq("click", "click"))
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.ops.Streamish.patternMatchOf(events)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (3L, 2L)))
  }

  test("ev_pattern: within-user disorder resolves by (ts, event_id) before matching") {
    import spark.implicits._
    // rows arrive shuffled; ordered by (ts, event_id) the sequence is
    // view view purchase → exactly one match
    val events = Seq(
      (7L, 3L, 30L, "purchase"),
      (7L, 1L, 10L, "view"),
      (7L, 2L, 20L, "view")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.ops.Streamish.patternMatchOf(events)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((7L, 1L)))
  }

  test("dd_leakage_split: exact-dup groups never straddle splits; proportions hold") {
    import spark.implicits._
    val out = graft.ops.Dedup.leakageSplit(spark, dir)
      .as[(Long, Option[String], String)].collect().toSeq
    assert(out.nonEmpty)
    // leak-free: one split per fingerprint group
    val perGroup = out.filter(_._2.isDefined)
      .groupBy(_._2.get).view.mapValues(_.map(_._3).distinct.size)
    assert(perGroup.values.forall(_ == 1), "a dup group straddled splits")
    // empty docs (NULL fp) all land in test, together
    assert(out.filter(_._2.isEmpty).forall(_._3 === "test"))
    // 80/10/10 by GROUP (hash uniformity) — loose bounds, deterministic data
    val groups = out.filter(_._2.isDefined).map(r => (r._2.get, r._3)).distinct
    val n = groups.size.toDouble
    val frac = groups.groupBy(_._2).view.mapValues(_.size / n).toMap
    assert(frac("train") > 0.7 && frac("train") < 0.9, s"train=${frac("train")}")
    assert(frac.getOrElse("val", 0.0) < 0.2 && frac.getOrElse("test", 0.0) < 0.2)
  }

  test("dd_leakage_split: property — injected verbatim dups stay atomic, fractions hold") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val word = Gen.oneOf("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa")
    val text = Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = for {
      base <- Gen.listOfN(100, text)            // natural repeats possible
      dupIdx <- Gen.listOfN(40, Gen.choose(0, 99)) // injected verbatim copies
      nEmpty <- Gen.choose(0, 3)                // token-less docs (NULL fp)
    } yield (base ++ dupIdx.map(base) ++ List.fill(nEmpty)("   "))
      .zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
    val prop = Prop.forAll(corpus) { rows =>
      val out = graft.ops.Dedup.leakageSplitOf(rows.toDF("doc_id", "text"))
        .as[(Long, Option[String], String)].collect().toSeq
      val byFp = out.filter(_._2.isDefined).groupBy(_._2.get)
      // leak-free: every verbatim-dup group is atomic under the split
      val atomic = byFp.values.forall(_.map(_._3).distinct.size == 1)
      val emptiesTest = out.filter(_._2.isEmpty).forall(_._3 == "test")
      // 80/10/10 by GROUP under hash uniformity — 3σ-loose for ~100 groups
      val splits = byFp.values.map(_.head._3).toSeq
      val n = splits.size.toDouble
      val tr = splits.count(_ == "train") / n
      atomic && emptiesTest && tr > 0.6 && tr < 0.95 &&
        splits.count(_ == "val") / n < 0.3 && splits.count(_ == "test") / n < 0.3
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("dd_ngram_jaccard: property — pruned candidates find exactly the blocked all-pairs result") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    graft.functions.NgramHashes.register(spark)
    val word = Gen.oneOf("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra")
    val text = Gen.choose(10, 18).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    // base corpus + verbatim copies (J = 1) + one-word mutations (J near
    // but on either side of the 0.6 bar) across two language blocks —
    // losslessness means the PPJoin path (prefix + size/positional/
    // overlap-suffix prunes + verify) returns EXACTLY what exhaustive
    // blocked all-pairs returns, qualifying or not.
    val corpus = for {
      base <- Gen.listOfN(40, text)
      verbatim <- Gen.listOfN(8, Gen.choose(0, 39))
      mut <- Gen.listOfN(12, Gen.zip(Gen.choose(0, 39), Gen.choose(0, 9), word))
    } yield {
      val mutated = mut.map { case (i, w, nw) =>
        val ws = base(i).split(" "); ws(w % ws.length) = nw; ws.mkString(" ")
      }
      (base ++ verbatim.map(base) ++ mutated).zipWithIndex.map { case (t, i) =>
        (i.toLong + 1, if (i % 2 == 0) "en" else "de", t, t.length.toLong)
      }
    }
    val prop = Prop.forAll(corpus) { rows =>
      val docs = rows.toDF("doc_id", "lang", "text", "n_chars")
      val engine = Dedup.ngramJaccardOf(docs)
        .as[(Long, Long, Double)].collect().toSet
      val side = docs.filter(length(lower(col("text"))) >= 4)
        .select(col("doc_id"), col("lang"), floor(col("n_chars") / 16).as("lb"),
          array_distinct(expr("ngram_hashes(lower(text), 4)")).as("grams"))
      val truth = side.as("a").join(side.as("b"),
          col("a.lang") === col("b.lang") && col("a.lb") === col("b.lb") &&
            col("a.doc_id") < col("b.doc_id"))
        .withColumn("inter", size(array_intersect(col("a.grams"), col("b.grams"))))
        .withColumn("jac", col("inter").cast("double") /
          (size(col("a.grams")) + size(col("b.grams")) - col("inter")))
        .filter(col("jac") >= 0.6)
        .select(col("a.doc_id"), col("b.doc_id"), round(col("jac"), 4))
        .as[(Long, Long, Double)].collect().toSet
      engine == truth && truth.nonEmpty // verbatim copies guarantee pairs
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("dd_lsh_recall: property — the lossless truth side counts exactly the all-pairs Jaccard>=0.8 set") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val word = Gen.oneOf("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra")
    val text = Gen.choose(25, 35).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    // one changed word in an L-token doc alters 3 shingles, so J lands
    // near (L−5)/(L+1) ≈ 0.81-0.83 — right at the 0.8 truth bar; verbatim
    // copies pin J = 1 pairs. n_true from the pruned PPJoin truth path
    // must equal the exhaustive all-pairs count every time.
    val corpus = for {
      base <- Gen.listOfN(30, text)
      verbatim <- Gen.listOfN(6, Gen.choose(0, 29))
      mut <- Gen.listOfN(10, Gen.zip(Gen.choose(0, 29), Gen.choose(0, 34), word))
    } yield {
      val mutated = mut.map { case (i, w, nw) =>
        val ws = base(i).split(" "); ws(w % ws.length) = nw; ws.mkString(" ")
      }
      (base ++ verbatim.map(base) ++ mutated).zipWithIndex.map { case (t, i) =>
        (i.toLong + 1, t)
      }
    }
    val prop = Prop.forAll(corpus) { rows =>
      val docs = rows.toDF("doc_id", "text")
      val nTrue = Dedup.lshRecallOf(docs)
        .select("n_true").as[Long].head()
      val sh = docs.select(col("doc_id"),
          array_distinct(transform(
            graft.functions.Exprs.boundedSequence(
              lit(1), size(TextOps.tokens(col("text"))) - 2),
            i => concat_ws(" ",
              element_at(TextOps.tokens(col("text")), i),
              element_at(TextOps.tokens(col("text")), i + 1),
              element_at(TextOps.tokens(col("text")), i + 2)))).as("sh"))
        .filter(size(col("sh")) >= 1)
      val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
        .withColumn("inter", size(array_intersect(col("a.sh"), col("b.sh"))))
        .withColumn("jac", col("inter").cast("double") /
          (size(col("a.sh")) + size(col("b.sh")) - col("inter")))
        .filter(col("jac") >= 0.8)
        .count()
      nTrue == brute && brute > 0
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("txt_bpe_step: vocab-weighted character-pair counts with tie-break") {
    import spark.implicits._
    // vocab: ab->3, cd->1, abc->1, x->1 (single char, no pairs)
    // pairs: (a,b) = 3 (from "ab") + 1 (from "abc") = 4; (b,c) = 1; (c,d) = 1
    val docs = Seq((1L, "ab ab cd"), (2L, "ab abc x")).toDF("doc_id", "text")
    val got = TextOps.bpeStepOf(docs)
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(("a", "b", 4L), ("b", "c", 1L), ("c", "d", 1L)))
  }

  test("sim_recall_ivfpq: hit counts equal the driver-side truth/result intersection") {
    import spark.implicits._
    val truth = Similarity.bruteTopK(spark, dir)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = Similarity.ivfPqTopK(spark, dir)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = Similarity.recallIvfPq(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(recall.map(_._1).toSeq.sorted === truth.map(_._1).toSeq.distinct.sorted)
    recall.foreach { case (q, hits, r) =>
      val expected = truth.filter(_._1 == q).count(got.contains)
      assert(hits === expected.toLong, s"query $q hits")
      assert(r >= 0.0 && r <= 1.0 &&
        math.abs(r - hits / Similarity.TopK.toDouble) < 1e-9, s"query $q recall")
    }
  }

  test("q_zorder: cell stats equal a JVM bit-interleave reference; spans pigeonhole-bounded") {
    import spark.implicits._
    import graft.ops.Relational
    val rows = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).as[(Long, Long)].collect()
    val (pMinG, pMaxG) = (rows.map(_._1).min, rows.map(_._1).max)
    val (sMinG, sMaxG) = (rows.map(_._2).min, rows.map(_._2).max)
    def norm(x: Long, lo: Long, hi: Long): Long =
      (x - lo) * 65535L / math.max(hi - lo, 1L)
    def zOf(p: Long, s: Long): Long =
      (0 until 16).map(i => (((p >> i) & 1L) << (2 * i + 1)) | (((s >> i) & 1L) << (2 * i))).sum
    val brute = rows.map { case (pk, sk) =>
      val z = zOf(norm(pk, pMinG, pMaxG), norm(sk, sMinG, sMaxG))
      (z >> 24) -> ((z, pk, sk))
    }.groupBy(_._1).map { case (c, g) =>
      val (zs, ps, ss) = (g.map(_._2._1), g.map(_._2._2), g.map(_._2._3))
      c -> ((g.length.toLong, zs.min, zs.max, ps.min, ps.max, ss.min, ss.max))
    }
    val got = Relational.zorderStats(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    assert(got === brute)
    assert(got.size > 1, "normalized grid must spread over multiple cells")
    // the data-skipping guarantee: a cell fixes the top 4 NORMALIZED bits of
    // BOTH keys simultaneously
    got.foreach { case (c, (_, _, _, pMin, pMax, sMin, sMax)) =>
      assert(norm(pMax, pMinG, pMaxG) - norm(pMin, pMinG, pMaxG) < 4096,
        s"cell $c p-span")
      assert(norm(sMax, sMinG, sMaxG) - norm(sMin, sMinG, sMaxG) < 4096,
        s"cell $c s-span")
    }
  }

  test("mm_wav_downsample: truncating means on negative odd sums, dropped tail") {
    import spark.implicits._
    // bytes → samples (×256): [-32768, 32512, 0, 256, -256, 512, 4096].
    // triple 1 sums to −256: −256/3 truncates to −85 (floor would say −86
    // — the fixture pins TRUNCATION, which is what both Java `/` and
    // DuckDB `//` do); triple 2 sums to 512 → 170; the 7th sample is a
    // dropped partial tail. Second asset is shorter than one triple →
    // n_out 0, mean 0.0 (the LEFT-join path).
    val payload = Array(0x00, 0xFF, 0x80, 0x81, 0x7F, 0x82, 0x90).map(_.toByte)
    val assetsDf = Seq(
      (1L, "audio", payload),
      (2L, "audio", Array[Byte](0x00, 0x10.toByte))
    ).toDF("doc_id", "media_type", "payload")
    val got = graft.ops.Multimodal.wavDownsampleOf(assetsDf)
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    val expected = Seq(
      (1L, 7L, 2L, 170L, math.rint(70400.0 / 7 * 1e6) / 1e6, 127.5),
      (2L, 2L, 0L, 0L, math.rint((32768.0 + 28672) / 2 * 1e6) / 1e6, 0.0))
    assert(got === expected)
  }

  test("mm_scene_cut: crafted frame masks cut exactly where hamming crosses the bar") {
    import spark.implicits._
    // A 64-byte frame whose aHash bits are exactly `mask`: at frame length
    // 64 the sampler reads EVERY byte (pos_i = i·63/63 = i); setting byte
    // 255 on the mask with k = |mask| < 64 set bits makes
    // bit_i = (255·64 > 255·k) = true exactly on the set positions.
    def frame(mask: Set[Int]): Array[Byte] = {
      val b = Array.fill[Byte](64)(0)
      mask.foreach(i => b(i) = 255.toByte)
      b
    }
    val f0 = frame((0 to 9).toSet)       // 10 bits
    val f2 = frame((20 to 54).toSet)     // 35 bits — hamming vs f0 = 45 > 20
    val v1 = f0 ++ f0 ++ f2 ++ f2        // scenes [2, 2]
    val v2 = f0 ++ Array.fill[Byte](30)(7) // one full frame + dropped tail
    val assetsDf = Seq(
      (1L, "video", v1), (2L, "video", v2),
      (3L, "image", v1),                      // wrong class: excluded
      (4L, "video", Array.fill[Byte](50)(1))  // sub-frame video: excluded
    ).toDF("doc_id", "media_type", "payload")
    val got = graft.ops.Multimodal.sceneCutOf(assetsDf)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val expected = Seq(
      (1L, 4L, 2L, 2L, 2.0),
      (2L, 1L, 1L, 1L, 1.0))
    assert(got === expected)
  }

  test("pipe_epoch_plan: Hamilton apportionment equals a JVM reference; Σ alloc ≡ budget") {
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // cells (en,s1)=10, (en,s2)=25, (de,s3)=65 tokens — shares .1/.25/.65
    val docs = Seq(
      (1L, words(10), "en", "s1"),
      (2L, words(12), "en", "s2"),
      (3L, words(13), "en", "s2"),
      (4L, words(65), "de", "s3"),
      (5L, "", "fr", "s4") // zero-token cell: weight 0, upsample guard
    ).toDF("doc_id", "text", "lang", "source")
    val got = graft.ops.Pipeline.epochPlanOf(docs)
      .as[(String, String, Long, Long, Double, Double)].collect().toSeq
    val B = graft.ops.Pipeline.EpochBudget
    def rd(x: Double, s: Int) = JBD.valueOf(x).setScale(s, RM.HALF_UP).doubleValue
    val cells = Seq(
      ("en", "s1", 10L), ("en", "s2", 25L), ("de", "s3", 65L), ("fr", "s4", 0L))
    val tot = cells.map(_._3).sum.toDouble
    val withA = cells.map { case (l, src, n) =>
      val w8 = rd(math.pow(rd(n / tot, 6), graft.ops.TextOps.MixAlpha), 8)
      (l, src, n,
        JBD.valueOf(w8).setScale(8, RM.HALF_UP).unscaledValue().longValueExact())
    }
    val ta = withA.map(_._4).sum
    val quotas = withA.map { case (l, src, n, a) =>
      (l, src, n, B * a / ta, B * a % ta)
    }
    val spare = B - quotas.map(_._4).sum
    assert(spare > 0, "fixture must exercise the remainder round")
    val winners = quotas.sortBy { case (l, src, _, _, rem) => (-rem, l, src) }
      .take(spare.toInt).map(t => (t._1, t._2)).toSet
    val expected = quotas.map { case (l, src, n, qta, _) =>
      val alloc = qta + (if (winners((l, src))) 1L else 0L)
      val up = if (n == 0) 0.0 else rd(alloc.toDouble / n, 4)
      (l, src, n, alloc, rd(alloc.toDouble / B, 6), up)
    }.sortBy(t => (t._1, t._2))
    assert(got === expected)
    assert(got.map(_._4).sum === B)
  }

  test("sim_filtered_topk: label-scoped, complete, ordered, dominated by brute") {
    import spark.implicits._
    import graft.ops.Similarity
    val labelOf = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val got = Similarity.filteredTopK(spark, dir)
      .as[(Long, Long, Int, Double)].collect().toSeq
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet === (0L until 8L).toSet)
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3) === (1 to 5), s"q=$q ranks")
      // every neighbor shares the query's label — the filter is a
      // candidate-generation constraint, not a post-hoc discard
      sorted.foreach { case (_, v, _, _) =>
        assert(labelOf(v) === labelOf(q), s"q=$q neighbor $v label") }
      assert(sorted.map(_._4) === sorted.map(_._4).sorted.reverse, s"q=$q order")
    }
    // the restricted top-1 can never beat the unrestricted top-1
    val bruteTop = Similarity.bruteTopK(spark, dir)
      .filter(col("rnk") === 1).select(col("q_id"), col("cos_sim"))
      .as[(Long, Double)].collect().toMap
    byQ.foreach { case (q, rows) =>
      assert(rows.minBy(_._3)._4 <= bruteTop(q) + 1e-9, s"q=$q dominance") }
  }

  test("sim_pq_train: refit statistics reconcile with the encoded code histogram") {
    import spark.implicits._
    import graft.ops.Similarity
    // The refit step's membership must be EXACTLY pqEncode's code
    // assignment (same codebook, same argmin): per (m, code) the member
    // count is constant across all PqSubDim component positions and equals
    // the encoder's histogram; per (m, pos) the members total the corpus.
    val stats = Similarity.pqTrainStep(spark, dir)
      .as[(Int, Long, Int, Long, Long)].collect().toSeq
    val hist = Similarity.pqEncode(spark, dir)
      .select(col("m"), col("code")).as[(Int, Long)].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = Tables.embeddings(spark, dir).count()
    val byCell = stats.groupBy(t => (t._1, t._2))
    byCell.foreach { case ((m, code), rows) =>
      assert(rows.map(_._3).sorted === (0 until rows.size).toSeq, s"($m,$code) pos set")
      assert(rows.map(_._5).distinct.size === 1, s"($m,$code) uneven members")
      assert(rows.head._5 === hist((m, code)), s"($m,$code) vs encoder histogram")
    }
    assert(byCell.keySet === hist.keySet)
    stats.groupBy(t => (t._1, t._3)).foreach { case ((m, pos), rows) =>
      assert(rows.map(_._5).sum === n, s"($m,$pos) members must total the corpus")
    }
  }

  test("q_cascade_delete: join-path counts equal direct predicate recomputes") {
    import spark.implicits._
    import graft.ops.Relational
    val got = Relational.cascadeDelete(spark, dir)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val cust = Tables.customer(spark, dir)
    val ords = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    // independent path: plain filters and an inner-join count (the op uses
    // left joins + flag sums — different plan, same answer)
    val delCust = cust.filter(col("c_custkey") % 97 === 0).count()
    val delOrds = ords.filter(col("o_custkey") % 97 === 0).count()
    val delLi = li.join(
      ords.filter(col("o_custkey") % 97 === 0).select("o_orderkey"),
      col("l_orderkey") === col("o_orderkey")).count()
    assert(got("customer")._2 === cust.count() && got("customer")._3 === delCust)
    assert(got("orders")._2 === ords.count() && got("orders")._3 === delOrds)
    assert(got("lineitem")._2 === li.count() && got("lineitem")._3 === delLi)
    got.values.foreach { case (t, tot, del, kept, _) =>
      assert(kept === tot - del, s"$t kept") }
    assert(delLi > 0, "cascade must actually reach lineitem")
  }

  test("q_skew_audit: hot keys, tie to the smaller key, skew = max/mean") {
    import spark.implicits._
    // orderkey {1:2, 2:2} — a MAX TIE, must resolve to key 1 via the
    // packed cnt·2³³ − v ordering; partkey/suppkey {x:3, y:1} → skew 1.5.
    val li = Seq(
      (1L, 10L, 100L), (1L, 11L, 100L), (2L, 10L, 100L), (2L, 10L, 101L)
    ).toDF("l_orderkey", "l_partkey", "l_suppkey")
    val got = graft.ops.Relational.skewAuditOf(li)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    val expected = Seq(
      ("l_orderkey", 4L, 2L, 2L, 1L, 1.0),
      ("l_partkey", 4L, 2L, 3L, 10L, 1.5),
      ("l_suppkey", 4L, 2L, 3L, 100L, 1.5))
    assert(got === expected)
  }

  test("q_histogram: hand-computed buckets, cmax lands in the last bucket, IEEE cents") {
    import spark.implicits._
    import graft.ops.Relational
    // cents: 100,103,132,199,268,420 — cmin 100, span+1 = 321, B = 32.
    // 2.675*100 lands EXACTLY on 267.5 in IEEE doubles (the nearest double
    // to 2.675 times 100 rounds to the representable 267.5), so the
    // half-up/half-away rules of both engines agree on 268 — the quantize
    // rule is multiply-then-round in BOTH, and the fixture pins that
    // choice. cmax (420) must land in bucket 31 with no clamp:
    // (320*32) div 321 = 31.
    val li = Seq(1.00, 1.03, 1.32, 1.99, 2.675, 4.20)
      .toDF("l_extendedprice")
    val got = Relational.histogramOf(li)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val expected = Seq(
      (0L, 2L, 100L, 103L, 203L),
      (3L, 1L, 132L, 132L, 132L),
      (9L, 1L, 199L, 199L, 199L),
      (16L, 1L, 268L, 268L, 268L),
      (31L, 1L, 420L, 420L, 420L))
    assert(got === expected)
  }

  test("dd_semantic_decontaminate agrees with the bench-crossing embed near-dup pairs") {
    import spark.implicits._
    // same banding, same verify: the per-train-doc rollup of embedNearDup's
    // pairs restricted to one-bench-one-train must equal the semantic scrub
    val bench = (0 until 5).map(i => s"src$i").toSet
    val srcOf = Tables.documents(spark, dir).select("doc_id", "source")
      .as[(Long, String)].collect().toMap
    val expected = Dedup.embedNearDup(spark, dir)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, cos) =>
        (bench(srcOf(a)), bench(srcOf(b))) match {
          case (true, false) => Some((b, a, cos))
          case (false, true) => Some((a, b, cos))
          case _             => None
        }
      }.groupBy(_._1).map { case (d, hits) =>
        d -> ((hits.length.toLong, hits.map(_._3).max, hits.map(_._2).min))
      }
    val got = Dedup.semanticDecontaminate(spark, dir)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (d, (n, mc, fb)) =>
      val (en, emc, efb) = expected(d)
      assert(n === en && fb === efb, s"doc $d hits/first")
      assert(math.abs(mc - emc) < 1e-9, s"doc $d max_cos")
    }
  }

  test("pipe_shards: manifest covers exactly the kept docs; pack counts bounded") {
    val keepN = TextOps.c4Filter(spark, dir).filter(col("keep")).count()
    val m = graft.ops.Pipeline.shards(spark, dir).collect()
    assert(m.nonEmpty)
    assert(m.map(_.getLong(3)).sum === keepN) // every kept doc in exactly one cell
    m.foreach { r =>
      val (nt, np) = (r.getLong(4), r.getLong(5))
      // n_packs is the exact sequence count of contiguous packing
      assert(np === (nt + 2047) / 2048,
        s"cell ${r.getString(0)}/${r.getString(1)}/${r.getLong(2)}: $np packs for $nt tokens")
    }
  }

  test("txt_bpe_train: hand-computed merge sequence, greedy application, early exhaustion") {
    import spark.implicits._
    // vocab: hello f=4, hell f=1, lll f=2, a f=1. Hand-derived rounds:
    //  1: (l,l)=4+1+2·2=9  → hello={h}{e}{ll}{o}, hell={h}{e}{ll}, lll={ll}{l}
    //  2: he=5, e·ll=5 tie → lexicographic lhs: (e,ll,5)
    //  3: (h,ell,5)   4: (hell,o,4)   5: (ll,l,2) — lll's LEFT-greedy split
    //  6: every word is one symbol → the loop stops early at 5 merges
    val docs = Seq((1L, "hello hello hello hell lll"), (2L, "hello a lll"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeTrainOf(docs)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got === Seq((1L, "l", "l", 9L), (2L, "e", "ll", 5L),
      (3L, "h", "ell", 5L), (4L, "hell", "o", 4L), (5L, "ll", "l", 2L)))
    // the training loop's first pick IS the step query's top candidate
    val step1 = TextOps.bpeStepOf(docs).as[(String, String, Long)].head()
    assert((got.head._2, got.head._3, got.head._4) === step1)
  }

  test("txt_unigram_train: hand-computed EM on an exact-rational fixture") {
    import spark.implicits._
    // "abab"×4: seed counts a=8 b=8 ab=8 ba=4 aba=4 bab=4 abab=4, T=40.
    // Round-1 Viterbi on "abab": dp4 candidates .02/.04/.02/.1 — the whole
    // word wins outright, so counts collapse to {abab: 4}; the prune keeps
    // abab plus the add-one-smoothed chars {a: 1, b: 1}; round 2 picks
    // abab again (4/6 beats any char product). Every probability above is
    // an exact binary/decimal rational, so the double DP is EXACT and the
    // assertion is equality, not tolerance.
    val docs = Seq.fill(4)("abab").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextOps.unigramTrainOf(docs)
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(got === Seq(("abab", 4, 4L, 1.0)))
  }

  test("txt_unigram_train: add-one char smoothing keeps coverage, unused chars drop from the readout") {
    import spark.implicits._
    // "xy"×6 + "x"×1: round 1 segments xy as the whole piece (6/19 beats
    // (7/19)·(6/19)), so y's usage is 0 — smoothing (+1) keeps y IN the
    // model (a later word could need it) while the readout, which reports
    // USAGE under the final model, rightly omits it. 6/7 and 1/7 round to
    // the fixed 6-decimal grid both engines share.
    val docs = (Seq.fill(6)("xy") :+ "x").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextOps.unigramTrainOf(docs)
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(got === Seq(("xy", 2, 6L, 0.857143), ("x", 1, 1L, 0.142857)))
    // the empty corpus (and one of only blank text) has no vocabulary: the
    // inventory and the fertility readout are empty, not an error
    for (texts <- Seq(Seq.empty[String], Seq("", "   "))) {
      val none = texts.zipWithIndex.map { case (t, i) => (i.toLong, "en", "web", t) }
        .toDF("doc_id", "lang", "source", "text")
      assert(TextOps.unigramTrainOf(none).count() === 0)
      assert(TextOps.unigramFertilityOf(none).count() === 0)
    }
  }

  test("txt_unigram_fertility: word-length cap and per-slice rollup") {
    import spark.implicits._
    // "abcdefghi" (9 chars) is over the UniWordMax=8 trainable cap and
    // must vanish from BOTH the trainer and the readout; "abab abab xy"
    // gives en/web fertility 1.0 (whole-word pieces at this corpus).
    val docs = Seq((1L, "en", "web", "abab abab xy abcdefghi"),
      (2L, "en", "wiki", "abab")).toDF("doc_id", "lang", "source", "text")
    val got = TextOps.unigramFertilityOf(docs)
      .as[(String, String, Long, Long, Double, Double)].collect().toSeq
    // en/web: words abab(2) abab xy → 3 words; en/wiki: 1 word
    assert(got.map(r => (r._1, r._2, r._3)) ===
      Seq(("en", "web", 3L), ("en", "wiki", 1L)))
    // segmentation concatenates back to the words: chars/piece ≤ 4 and
    // fertility ≥ 1 by construction
    got.foreach { r =>
      assert(r._4 >= r._3, s"pieces ${r._4} < words ${r._3}")
      assert(r._5 >= 1.0 && r._6 <= 4.0, r.toString)
    }
  }

  test("txt_bpe_tokenize: hand-computed compression stats on the train fixture") {
    import spark.implicits._
    // Same corpus as the train fixture (5 merges, then every word is one
    // symbol): en = hello×3 + hell + lll → 5 words / 5 BPE tokens /
    // 22 chars; de = hello + a + lll → 3 / 3 / 9.
    val docs = Seq((1L, "en", "hello hello hello hell lll"),
      (2L, "de", "hello a lll")).toDF("doc_id", "lang", "text")
    val got = TextOps.bpeTokenizeOf(docs)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got === Seq(("de", 3L, 3L, 9L, 1.0, 3.0),
      ("en", 5L, 5L, 22L, 1.0, 4.4)))
  }

  test("txt_bpe_tokenize: equals a JVM reference applier of the learned merges on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    // 0 documents and empty-text documents included: no merge is learned
    // and the per-language rollup simply has no row for them
    val docGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val corpusGen = Gen.choose(0, 5).flatMap(k => Gen.listOfN(k, docGen))
      .map(_.zipWithIndex.map { case (t, i) =>
        (i.toLong + 1, if (i % 2 == 0) "en" else "de", t)
      })
    val prop = Prop.forAll(corpusGen) { corpus =>
      val docs = corpus.toDF("doc_id", "lang", "text")
      val merges = TextOps.bpeTrainOf(docs)
        .as[(Long, String, String, Long)].collect().toSeq
      // JVM reference: frame each word, apply the merges in step order via
      // literal left-to-right non-overlapping replace — the same greedy
      // semantics the engine's codegen'd replace carries.
      def nSyms(w: String): Long = {
        var framed = w.map(c => s"{$c}").mkString
        merges.foreach { case (_, l, r, _) =>
          framed = framed.replace(s"{$l}{$r}", s"{$l$r}")
        }
        framed.count(_ == '{').toLong
      }
      val expect = corpus
        .flatMap { case (_, lang, t) =>
          t.toLowerCase.split(MapReduce.WhitespaceClass).filter(_.nonEmpty)
            .map(w => (lang, w))
        }
        .groupBy(_._1).view.mapValues { ws =>
          val n = ws.size.toLong
          val bpe = ws.map(w => nSyms(w._2)).sum
          val ch = ws.map(_._2.length.toLong).sum
          (n, bpe, ch,
            BigDecimal(bpe.toDouble / n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(ch.toDouble / bpe).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toMap
      val got = TextOps.bpeTokenizeOf(docs)
        .as[(String, Long, Long, Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
      got == expect
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("txt_bpe_step: equals a JVM brute-force pair counter on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val wordGen = Gen.choose(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val docGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val corpusGen = Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) })
    def brute(corpus: Seq[(Long, String)]): Seq[(String, String, Long)] = {
      val vocab = corpus.flatMap(_._2.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong)
      val pairs = vocab.toSeq.flatMap { case (w, f) =>
        w.sliding(2).filter(_.length == 2).map(p => (p(0).toString, p(1).toString, f))
      }.groupBy(p => (p._1, p._2)).view
        .mapValues(_.map(_._3).sum).toSeq
        .map { case ((a, b), n) => (a, b, n) }
      pairs.sortBy { case (a, b, n) => (-n, a, b) }.take(TextOps.BpeTopK)
    }
    val prop = Prop.forAll(corpusGen) { corpus =>
      val got = TextOps.bpeStepOf(corpus.toDF("doc_id", "text"))
        .as[(String, String, Long)].collect().toSeq
      got == brute(corpus)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("txt_hash_embed: matches a JVM brute-force hashing-trick vectorizer") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "delta"),
      (3L, "   ") // token-less: zero vector
    ).toDF("doc_id", "text")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def vecOf(text: String): Map[Long, Long] =
      text.toLowerCase.split(MapReduce.WhitespaceClass).filter(_.nonEmpty)
        .foldLeft(Map.empty[Long, Long]) { (m, t) =>
          val h = md5hex(t)
          val dim = java.lang.Long.parseLong(h.substring(0, 8), 16) % 64
          val sg = if (java.lang.Long.parseLong(h.substring(8, 9), 16) % 2 == 0) 1L else -1L
          m.updated(dim, m.getOrElse(dim, 0L) + sg)
        }.filter(_._2 != 0L)
    val got = TextOps.hashEmbedOf(docs)
      .as[(Long, Long, Double, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    for ((id, text) <- Seq(1L -> "alpha beta gamma alpha beta", 2L -> "delta", 3L -> "   ")) {
      val v = vecOf(text)
      val (nnz, l2, topDim, topW) = got(id)
      assert(nnz === v.size.toLong, s"doc $id nnz")
      val expL2 = math.sqrt(v.values.map(w => w * w).sum.toDouble)
      assert(math.abs(l2 - expL2) < 1e-6, s"doc $id l2")
      if (v.isEmpty) assert(topDim.isEmpty && topW.isEmpty, s"doc $id top")
      else {
        val (bd, bw) = v.maxBy { case (d, w) => math.abs(w) * 64 + (63 - d) }
        assert(topDim === Some(bd) && topW === Some(bw), s"doc $id top")
      }
    }
  }

  test("q_bloom_audit: no false negatives, counts reconcile with direct joins") {
    import spark.implicits._
    val out = graft.ops.Relational.bloomAudit(spark, dir)
      .as[(Long, Long, Double, Long, Long, Long, Long, Option[Double])]
      .collect().head
    val (nDim, nBits, fill, nFact, nBloom, nExact, nFp, fpRate) = out
    // direct recomputes of the exact sides
    val sel = graft.Tables.supplier(spark, dir)
      .join(graft.Tables.nation(spark, dir).filter($"n_regionkey" === 0),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey").distinct()
    assert(nDim === sel.count())
    assert(nFact === graft.Tables.lineitem(spark, dir).count())
    assert(nExact === graft.Tables.lineitem(spark, dir)
      .join(sel, $"l_suppkey" === $"s_suppkey", "left_semi").count())
    // a bloom has false positives, never false negatives: every true
    // member set its own bits, so exact ⊆ bloom and the fp count is the
    // exact set-difference
    assert(nBloom >= nExact)
    assert(nFp === nBloom - nExact)
    assert(nBits <= math.min(3 * nDim, graft.ops.Relational.BloomM))
    assert(math.abs(fill - nBits.toDouble / graft.ops.Relational.BloomM) < 1e-6)
    fpRate.foreach(r => assert(r >= 0.0 && r <= 1.0))
  }

  test("txt_heaps_law: first-occurrence vocabulary replay on a hand fixture") {
    import spark.implicits._
    val docs = Seq(
      (10L, "a b a"), (20L, "b c"), (30L, "c d d"), (40L, "   ")
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.heapsLawOf(docs)
      .as[(Int, Long, Long, Long, Long, Option[Double])].collect().toSeq
    // max_id 40 -> cuts 4,8,...,40. Vocabulary grows at FIRST occurrence:
    // a,b enter at doc 10, c at 20, d at 30; the empty doc 40 counts
    // toward n_docs but adds nothing to tokens or vocab.
    assert(out === Seq(
      (1, 4L, 0L, 0L, 0L, None),
      (2, 8L, 0L, 0L, 0L, None),
      (3, 12L, 1L, 3L, 2L, Some(0.666667)),
      (4, 16L, 1L, 3L, 2L, Some(0.666667)),
      (5, 20L, 2L, 5L, 3L, Some(0.6)),
      (6, 24L, 2L, 5L, 3L, Some(0.6)),
      (7, 28L, 2L, 5L, 3L, Some(0.6)),
      (8, 32L, 3L, 8L, 4L, Some(0.5)),
      (9, 36L, 3L, 8L, 4L, Some(0.5)),
      (10, 40L, 4L, 8L, 4L, Some(0.5))))
  }

  test("ev_ols_trend: exact line, flat series, and single-day NULL guards") {
    import spark.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00").getTime)
    // click: d events on day d, days 1..5 — the exact line y = x + 1
    // (x = offset from the corpus-min day): slope 1, intercept 1, r² 1.
    // view: constant 2/day days 1..3 — slope 0, intercept 2, r² NULL
    // (den_y = 0). error: a single day — den_x = 0, every readout NULL.
    val click = (1 to 5).flatMap(d => Seq.fill(d)((1L, ts(d), "click")))
    val view = (1 to 3).flatMap(d => Seq.fill(2)((2L, ts(d), "view")))
    val err = Seq.fill(2)((3L, ts(7), "error"))
    val out = graft.ops.Streamish.olsTrendOf(
      (click ++ view ++ err).toDF("user_id", "ts", "event_type"))
      .as[(String, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(out === Seq(
      ("click", 5L, 15L, Some(1.0), Some(1.0), Some(1.0)),
      ("error", 1L, 2L, None, None, None),
      ("view", 3L, 6L, Some(0.0), Some(2.0), None)))
  }

  test("ev_seasonality: epoch-day weekday cells, chi-square identity, tie to smallest dow") {
    import spark.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00").getTime)
    // 2024-01-01 is epoch day 19723 -> dow 4; Jan 1..7 cover dows 4,5,6,0,1,2,3.
    // click: 7 events dow 4 + 1 event dow 5: chi² = 7·50/8 − 8 = 35.75,
    // nonuniform (35.75 > 16.81). view: 1 event on each of the 7 days —
    // perfectly uniform, chi² 0, peak ties break to the SMALLEST dow (0).
    val click = Seq.fill(7)((1L, ts(1), "click")) :+ ((1L, ts(2), "click"))
    val view = (1 to 7).map(d => (2L, ts(d), "view"))
    val out = graft.ops.Streamish.seasonalityOf(
      (click ++ view).toDF("user_id", "ts", "event_type"))
      .as[(String, Long, Long, Int, Double, Double, Boolean)].collect().toSeq
    assert(out === Seq(
      ("click", 2L, 8L, 4, 0.875, 35.75, true),
      ("view", 7L, 7L, 0, 0.142857, 0.0, false)))
  }
}
