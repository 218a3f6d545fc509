package graft

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The one harness graft's own mains (Bench, Verify, Explain, the tools)
  * and the test session share: how a session starts, how caches are swept
  * between queries, how listener events are waited for, how one query is
  * timed and what it did recorded, and how a string is written as JSON.
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

  /** A job's span on the listener clock (epoch ms); `end` is -1 until it ends. */
  final case class Job(id: Int, start: Long, end: Long = -1L)

  /** A completed stage: the job it belongs to (-1 if none listed it), task
    * count, summed task time, wall span, shuffle bytes written and read,
    * shuffle records written and bytes spilled (memory plus disk).
    */
  final case class Stage(id: Int, job: Int, name: String, tasks: Int,
      taskMs: Long, wallMs: Long, writeBytes: Long, readBytes: Long,
      records: Long, spillBytes: Long)

  /** The one SparkListener of graft's mains and tests; [[profile]] attaches
    * it around a body. A stage belongs to the first job whose `stageIds`
    * list it — not to whichever job's time window contains it, which
    * misassigns stages when jobs overlap (AQE's concurrent broadcast and
    * shuffle-stage jobs).
    */
  final class Recorder extends SparkListener {
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val jobOf = mutable.Map.empty[Int, Int]
    private var removed = 0

    private[Local] def clear(): Unit = synchronized {
      jobs.clear(); stages.clear(); jobOf.clear(); removed = 0
    }

    /** Jobs ended so far: a thread may poll this while a profile runs. */
    def jobsEnded: Int = synchronized(jobs.count(_.end >= 0))

    /** Executors removed so far (lost or killed). */
    def executorsRemoved: Int = synchronized(removed)

    private[Local] def snapshot(seconds: Double, t0: Long, t1: Long,
        error: Option[Throwable]): Profile = synchronized {
      Profile(seconds, t0, t1, jobs.toVector, stages.toVector, removed, error)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, e.time)
      e.stageIds.foreach(id => if (!jobOf.contains(id)) jobOf(id) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val i = jobs.indexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(end = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = Option(si.taskMetrics)
      def sum(f: TaskMetrics => Long) = m.map(f).getOrElse(0L)
      stages += Stage(si.stageId, jobOf.getOrElse(si.stageId, -1),
        si.name.takeWhile(_ != '\n').take(90), si.numTasks,
        sum(_.executorRunTime),
        (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L),
        sum(_.shuffleWriteMetrics.bytesWritten),
        sum(_.shuffleReadMetrics.totalBytesRead),
        sum(_.shuffleWriteMetrics.recordsWritten),
        sum(t => t.memoryBytesSpilled + t.diskBytesSpilled))
    }

    override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
      synchronized(removed += 1)
  }

  /** What one [[profile]] body did: its wall `seconds` by `nanoTime`, its
    * bounds `t0`/`t1` on the listener clock, the jobs and stages it ran,
    * the executors removed meanwhile, and the Throwable it threw, if any.
    */
  final case class Profile(seconds: Double, t0: Long, t1: Long,
      jobs: Vector[Job], stages: Vector[Stage], executorsRemoved: Int,
      error: Option[Throwable]) {
    def gapMs: Long = driverGap(t0, t1, jobs.map(j => (j.start, j.end)))
    def shuffleMb: Double = stages.map(_.writeBytes).sum / 1048576.0
    def spillMb: Double = stages.map(_.spillBytes).sum / 1048576.0

    /** The error as the bench JSON reports it: class and message head. */
    def failure: Option[String] = error.map(e =>
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
  }

  /** Runs `body` once as a timed region and records it: the bus is drained
    * so no earlier event lands in the record, `rec` is cleared and
    * attached, the body runs between t0 and t1, the bus is drained again
    * and `rec` detached. A Throwable from the body is returned in the
    * record, not thrown. Pass `rec` to watch the record while it fills.
    */
  def profile(spark: SparkSession, rec: Recorder = new Recorder)(
      body: => Unit): Profile = {
    val sc = spark.sparkContext
    drainBus(sc)
    rec.clear()
    sc.addSparkListener(rec)
    try {
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val error = try { body; None } catch { case e: Throwable => Some(e) }
      val seconds = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      drainBus(sc)
      rec.snapshot(seconds, t0, t1, error)
    } finally sc.removeSparkListener(rec)
  }

  /** Wall time in `[t0, t1]` that no job span covers: the driver gap
    * (Catalyst analysis and optimization, cache-plan canonicalization,
    * codegen, action scheduling). Spans are `(start, end)`; a job that
    * never ended (`end < 0`) runs to `t1`.
    */
  def driverGap(t0: Long, t1: Long, spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cursor = t0
    spans.sortBy(_._1).foreach { case (start, end) =>
      val e = if (end < 0) t1 else math.min(end, t1)
      val s = math.max(start, cursor)
      if (e > s) { covered += e - s; cursor = e }
    }
    (t1 - t0) - covered
  }

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
