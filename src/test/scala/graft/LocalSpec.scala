package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[Local.profile]] on the shared test session: the jobs and stages a
  * body ran, its driver gap and shuffle, and a throwing body's error
  * returned in the record with the listener detached.
  */
class LocalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext

  test("profile: a two-job body records both jobs and files every stage under one") {
    val p = Local.profile(spark) {
      sc.parallelize(1 to 100, 2).map(_ * 2).sum()
      sc.parallelize(1 to 100, 2).map(x => (x % 3, x)).reduceByKey(_ + _).count()
    }
    assert(p.error.isEmpty)
    assert(p.jobs.size === 2)
    assert(p.jobs.forall(_.end >= 0))
    assert(p.stages.size === 3)
    assert(p.stages.forall(st => p.jobs.exists(_.id == st.job)))
  }

  test("profile: the driver gap lies in [0, wall] and covers time outside any job") {
    val p = Local.profile(spark) {
      sc.parallelize(1 to 10, 2).sum()
      Thread.sleep(100)
      sc.parallelize(1 to 10, 2).sum()
    }
    assert(p.gapMs >= 90 && p.gapMs <= p.t1 - p.t0)
  }

  test("profile: a groupBy body records its shuffle write") {
    val p = Local.profile(spark) {
      spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count()
        .write.format("noop").mode("overwrite").save()
    }
    assert(p.error.isEmpty)
    assert(p.shuffleMb > 0)
    assert(p.stages.exists(st => st.writeBytes > 0 && st.records > 0))
  }

  test("profile: a throwing body returns its error and leaves no listener behind") {
    val rec = new Local.Recorder
    val failed = Local.profile(spark, rec) {
      sc.parallelize(1 to 10, 2).sum()
      throw new IllegalStateException("boom")
    }
    assert(failed.error.exists(_.isInstanceOf[IllegalStateException]))
    assert(failed.failure === Some("IllegalStateException: boom"))
    assert(failed.jobs.size === 1)
    val next = Local.profile(spark) {
      sc.parallelize(1 to 10, 2).sum()
      sc.parallelize(1 to 10, 2).sum()
      sc.parallelize(1 to 10, 2).sum()
    }
    assert(next.error.isEmpty)
    assert(next.jobs.size === 3)
    // detached: the later jobs never reached the failed run's recorder
    assert(rec.jobsEnded === 1)
  }
}
