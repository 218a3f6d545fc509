package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs started on the shared session while `body` runs. */
  def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      body
      // job-start events ride the async listener bus
      Local.drainBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(counter)
    jobs.get
  }
}
