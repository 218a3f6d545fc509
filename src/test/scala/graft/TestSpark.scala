package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (sessions are ~seconds to
  * start; specs must not each pay that).
  */
object TestSpark {
  lazy val spark: SparkSession = Local.session("local[4]", Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse",
    // State-store background maintenance (snapshot compaction) can race a
    // foreground commit when a seconds-long streaming test query stops at
    // the wrong moment ("Cannot perform commit during state checkpoint"
    // task aborts — the task retries and the test passes, but the log
    // noise is indistinguishable from a real failure). Test queries live
    // for seconds, so compaction buys nothing: push it past the suite.
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s"))

  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started on the shared session while `body` runs; an error
    * from `body` is rethrown.
    */
  def jobsOf(body: => Unit): Int = {
    val p = Local.profile(spark)(body)
    p.error.foreach(e => throw e)
    p.jobs.size
  }
}
