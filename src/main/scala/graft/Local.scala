package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one harness graft's own mains (Bench, Verify, Explain, the tools)
  * and the test session share: how a session starts, how caches are swept
  * between queries, how listener events are waited for, and how a string
  * is written as JSON.
  */
object Local {

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else every core this JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session on `master` with one shuffle partition per core, UTC
    * timestamps (the oracle compares them in UTC), no UI and WARN logging.
    * `conf` is applied last, so a caller can override any of these.
    */
  def session(master: String = s"local[$cpus]",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drops every cached frame, so the next query runs on a cold cache and
    * cannot pay for a predecessor's leak. `clearCache` alone is not enough:
    * checkpoint blocks (label propagation's per-iteration label tables)
    * are RDD-level caches the catalog never sees, so the persistent-RDD
    * registry is swept too. Blocking: removal completes before the
    * caller's next timed region.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Waits until every posted listener event has been delivered (job, stage
    * and task events ride an async bus). `waitUntilEmpty` is private[spark]
    * in source but public in bytecode, hence the reflection; the sleep only
    * runs if that API moves.
    */
  def drainBus(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .map(_.invoke(bus))
        .getOrElse(Thread.sleep(200))
    } catch { case _: Exception => Thread.sleep(200) }

  /** JSON string literal: quote, backslash and every control character
    * escaped — a tab or CR in an error message or oracle SQL would
    * otherwise make the reader's json.load fail.
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
