package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Similarity

/** Pins the iterative operators' cache discipline: a query that persists
  * intermediates must release every superseded frame before it returns, so
  * running it leaks nothing into the session's cache beyond its own
  * materialized result. At a 100× node set, RankIters stale rank vectors
  * plus the pinned edge frame is real executor memory; this spec makes the
  * leak a test failure instead of a slow-cluster mystery.
  *
  * (build.sbt forks tests and testForkedParallel is off, so suites run
  * serially — the global persistent-RDD registry is race-free here.)
  */
class CacheCleanupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("PageRank loops release superseded rounds, edges, and degrees") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("vec_id")
    for (full <- Seq(false, true)) {
      spark.catalog.clearCache()
      val ranker =
        if (full) Similarity.graphRankFullOf _ else Similarity.graphRankOf _
      val n = ranker(edges, nodes).count()
      assert(n === 4)
      // the ONLY surviving cache entry is the materialized final rank
      // vector the returned plan reads; every per-round vector, the edge
      // frame, and the degree table must already be unpersisted
      val persisted = spark.sparkContext.getPersistentRDDs
      assert(persisted.size <= 1,
        s"full=$full leaked ${persisted.size} cached frames: " +
          persisted.values.map(_.name).mkString("; "))
    }
    spark.catalog.clearCache()
  }

  test("EVERY query leaves at most one cached frame in the session") {
    // Queries persist corpus-scale intermediates (shingle/gram/band/token
    // frames, edge lists, per-round checkpoint blocks). Each must release
    // everything except its own materialized result before returning —
    // localCheckpoint blocks in particular are invisible to
    // catalog.clearCache, so a leak survives session-level cleanup and
    // compounds across a 141-query run (the r12 weak-5 mechanism); at a
    // 100× corpus one leaked shingle cache is the executor memory the next
    // query needed. Global sweep: no query, present or future, may leak.
    val dir = TestSpark.sfDir
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      Local.sweep(spark)
      q(spark, dir).write.format("noop").mode("overwrite").save()
      val persisted = spark.sparkContext.getPersistentRDDs
      if (persisted.size <= 1) None
      else Some(s"$name leaked ${persisted.size}: " +
        persisted.values.map(r => s"${r.id}:${r.name}").mkString("; "))
    }
    Local.sweep(spark)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
