package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One benchmark JVM: drives `graft.SparkEntry.queries` from outside the
  * engine, closed loop, one client thread.
  *
  *  1. session (`local[cpus]`, shuffle partitions = cpus);
  *  2. check pass: every workload query once, untimed, written to parquet
  *     under `--check-dir` for the caller's golden-hash compare, then
  *     `WarmupPasses` untimed noop passes; both end inside set-up time;
  *  3. timed passes until `--seconds` have elapsed: each pass runs every
  *     query once in a seeded order, forced with a `noop` write; the cache
  *     sweep stays outside the timed region;
  *  4. with `--trace 1`, every other pass is traced: a SparkListener and a
  *     QueryExecutionListener record jobs, stages, tasks, Catalyst phases,
  *     plan shape and cached blocks per query. Listeners are removed for the
  *     untraced passes so those measure what an untraced run measures. The
  *     `graft.functions` kernel microbenchmark runs after the passes.
  *
  * Raw measurements go to `<out>/result.json`; run.py aggregates them.
  *
  * Usage: Harness --data DIR --queries a,b,c --seed N --seconds S --trace 0|1
  *   --cpus N --out DIR --check-dir DIR
  */
object Harness {

  val WarmupPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val queries = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val out = opt("out")
    val checkDir = opt("check-dir")
    Files.createDirectories(Paths.get(out))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    val sessionReady = System.currentTimeMillis()
    val unknown = queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    val result = mutable.LinkedHashMap[String, Any]("oracle_sql" -> oracle)

    def sweep(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def build(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, data)
    def err(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

    // check pass: each query's output, for the caller's golden-hash compare
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val checkWall = mutable.LinkedHashMap.empty[String, Double]
    for (q <- queries) {
      sweep()
      val t = System.nanoTime()
      try build(q).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q")
      catch { case e: Throwable => checkErrors(q) = err(e) }
      checkWall(q) = (System.nanoTime() - t) / 1e9
    }
    sweep()
    result("session_ready_epoch_ms") = sessionReady
    result("check_end_epoch_ms") = System.currentTimeMillis()
    result("check_wall_s") = checkWall
    result("check_errors") = checkErrors

    // Warm-up: the JIT compilers keep a core busy for several passes after
    // the check pass (measured: a pass's CPU time halves over the first six),
    // so a fixed number of untimed noop passes precedes the timed ones.
    val jit = ManagementFactory.getCompilationMXBean
    val warmup = (1 to WarmupPasses).map { _ =>
      val (c0, t) = (jit.getTotalCompilationTime, System.nanoTime())
      for (q <- queries) {
        sweep()
        try build(q).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // the check pass records failures
      }
      Map("wall_s" -> (System.nanoTime() - t) / 1e9,
        "jit_s" -> (jit.getTotalCompilationTime - c0) / 1e3)
    }
    sweep()
    result("warmup") = warmup
    result("setup_end_epoch_ms") = System.currentTimeMillis()

    val rec = new Recorder(sc)
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rng = new Random(seed)
    // Another pass starts while ending after it lands nearer to `seconds`
    // than stopping now; a traced run needs an untraced and a traced pass.
    val minPasses = if (traced) 2 else 1
    val t0 = System.nanoTime()
    var lastPass = 0.0
    var p = 0
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 + lastPass / 2 < seconds) {
      val tp = System.nanoTime()
      val jit0 = jit.getTotalCompilationTime
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) rec.attach(spark)
      val order = rng.shuffle(queries)
      val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
      val passStart = rec.epochMs(System.nanoTime())
      for (q <- order) {
        sweep()
        if (tracedPass) { rec.drain(); rec.reset() }
        val c0 = osBean.getProcessCpuTime
        val g0 = gcMs()
        val n0 = System.nanoTime()
        var nb = n0
        var built: Option[DataFrame] = None
        val error =
          try {
            built = Some(build(q))
            nb = System.nanoTime()
            built.get.write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable => Some(err(e)) }
        val n1 = System.nanoTime()
        val row = mutable.LinkedHashMap[String, Any](
          "name" -> q,
          "wall_s" -> (n1 - n0) / 1e9,
          "cpu_s" -> (osBean.getProcessCpuTime - c0) / 1e9,
          "gc_s" -> (gcMs() - g0) / 1e3)
        error.foreach(row("error") = _)
        if (tracedPass) {
          val leaked = sc.getPersistentRDDs.size
          rec.drain()
          // the query's own Dataset is analyzed when built; the noop write
          // runs as a separate execution the listener sees
          val analysisMs = built.flatMap(_.queryExecution.tracker.phases.get("analysis"))
            .map(_.durationMs).getOrElse(0L)
          row("trace") = rec.snapshot(rec.epochMs(n0), rec.epochMs(nb), rec.epochMs(n1)) +
            ("cache_leaked" -> leaked) + ("build_analysis_ms" -> analysisMs)
        }
        rows += row.toMap
      }
      val passEnd = rec.epochMs(System.nanoTime())
      if (tracedPass) rec.detach(spark)
      lastPass = (System.nanoTime() - tp) / 1e9
      val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
      passes += Map("traced" -> tracedPass, "start_ms" -> passStart, "end_ms" -> passEnd,
        "jit_s" -> jitS, "queries" -> rows.toSeq)
      p += 1
    }
    sweep()
    result("passes") = passes.toSeq

    if (traced) result("kernels") = Probe.kernels(spark, seed)
    if (traced && queries.exists(_.startsWith("mr_")))
      result("mapped_pairs") = Probe.mappedPairs(spark, data)
    result("rss_peak_mb") = Probe.rssPeakMb()

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(out, "result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }
}

/** Per-query recorder for the traced passes. Listener callbacks arrive on
  * the async listener bus, so the harness drains the bus before each
  * snapshot; all state is guarded by `this`.
  */
final class Recorder(sc: org.apache.spark.SparkContext)
    extends SparkListener with QueryExecutionListener {

  // nanoTime -> epoch milliseconds, the clock listener events carry
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  private final class Stage(val id: Int) {
    var submitMs = -1L; var endMs = -1L
    var n = 0; var sumMs = 0L; var maxMs = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val qes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val persisted = mutable.Set.empty[Int]
  private val blocks = mutable.Map.empty[(Int, Int), Long]
  private var cachedBytes = 0L
  private var cachedPeak = 0L

  def attach(spark: SparkSession): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); c.clear(); qes.clear(); persisted.clear()
    cachedPeak = cachedBytes
  }

  /** Waits until every posted event has reached every listener. `listenerBus`
    * and `waitUntilEmpty` are `private[spark]` in source, public in bytecode.
    */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .getOrElse(sys.error("LiveListenerBus.waitUntilEmpty() not found"))
      .invoke(bus)
  }

  def snapshot(startMs: Double, builtMs: Double, endMs: Double): Map[String, Any] = synchronized {
    Map(
      "start_ms" -> startMs, "built_ms" -> builtMs, "end_ms" -> endMs,
      "jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.values.map { s =>
        Map("id" -> s.id, "submit_ms" -> s.submitMs, "end_ms" -> s.endMs,
          "task_n" -> s.n, "task_sum_ms" -> s.sumMs, "task_max_ms" -> s.maxMs)
      }.toSeq,
      "counters" -> c.toMap,
      "executions" -> qes.toSeq,
      "cache_rdds_persisted" -> persisted.size,
      "cache_peak_mb" -> cachedPeak / 1048576.0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = mutable.LinkedHashMap("id" -> e.jobId, "start_ms" -> e.time,
      "end_ms" -> -1L, "stage_ids" -> e.stageIds, "ok" -> false)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
    s.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, new Stage(i.stageId))
    s.submitMs = i.submissionTime.getOrElse(s.submitMs)
    s.endMs = i.completionTime.getOrElse(-1L)
    i.rddInfos.filter(_.storageLevel.isValid).foreach(r => persisted += r.id)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    c("tasks") += 1
    if (!info.successful || info.attemptNumber > 0) c("failed_tasks") += 1
    c("task_ms") += info.duration
    val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
    s.n += 1; s.sumMs += info.duration; s.maxMs = math.max(s.maxMs, info.duration)
    val m = e.taskMetrics
    if (m != null) {
      c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_write_records") += m.shuffleWriteMetrics.recordsWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      c("spill_disk_bytes") += m.diskBytesSpilled
      c("spill_mem_bytes") += m.memoryBytesSpilled
      c("input_bytes") += m.inputMetrics.bytesRead
      c("input_records") += m.inputMetrics.recordsRead
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case RDDBlockId(rdd, split) =>
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        cachedBytes += size - blocks.getOrElse((rdd, split), 0L)
        if (size > 0) blocks((rdd, split)) = size else blocks.remove((rdd, split))
        cachedPeak = math.max(cachedPeak, cachedBytes)
      case _ =>
    }
  }

  private def execution(qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val shape = if (ok) PlanShape.counts(qe.executedPlan) else Map.empty[String, Int]
    synchronized {
      qes += Map("ok" -> ok, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
        "plan" -> shape)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execution(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    execution(qe, ok = false)
}

/** Operator counts of an executed plan, through AQE stages and subqueries;
  * the in-memory relation behind a cached scan is not descended into.
  */
object PlanShape extends AdaptiveSparkPlanHelper {
  private val kinds = Map(
    "ShuffleExchangeExec" -> "exchanges",
    "SortExec" -> "sorts",
    "WindowExec" -> "windows",
    "BroadcastExchangeExec" -> "broadcasts",
    "InMemoryTableScanExec" -> "cached_scans",
    "BroadcastNestedLoopJoinExec" -> "nl_joins",
    "CartesianProductExec" -> "nl_joins")

  def counts(plan: SparkPlan): Map[String, Int] = {
    val found = collectWithSubqueries(plan) {
      case n if kinds.contains(n.getClass.getSimpleName) => kinds(n.getClass.getSimpleName)
    }
    kinds.values.map(k => k -> found.count(_ == k)).toMap
  }
}

/** Measurements outside the workload's queries. */
object Probe {

  /** Whitespace tokens the `mr_*` queries map, i.e. the pairs `mapF` emits. */
  def mappedPairs(spark: SparkSession, data: String): Long = {
    import org.apache.spark.sql.functions._
    graft.Tables.documents(spark, data)
      .select(explode(split(col("text"), graft.core.MapReduce.WhitespaceClass)).as("t"))
      .where(length(col("t")) > 0).count()
  }

  /** ns per row of each `graft.functions` kernel over seeded generated
    * columns: every cached row is replicated `reps` times by a generator, and
    * the same aggregate over a trivial column is subtracted, so Spark's
    * per-query and per-row costs cancel. Rounds interleave the expressions;
    * each time is the median of five rounds after one warm-up round.
    */
  def kernels(spark: SparkSession, seed: Long): Map[String, Double] = {
    import org.apache.spark.sql.functions.{explode, lit, sequence}
    import spark.implicits._
    graft.functions.ArrayDot.register(spark)
    graft.functions.NgramHashes.register(spark)
    graft.functions.RollingHash.register(spark)
    graft.functions.AhashSig.register(spark)
    graft.functions.ArrayLtCount.register(spark)
    val (rows, reps) = (2000, 250)
    val rnd = new Random(seed)
    val bounds = Array.tabulate(128)(i => i / 128.0)
    def text(): String = Array.fill(240) {
      val r = rnd.nextInt(32); if (r < 26) ('a' + r).toChar else ' '
    }.mkString
    // fixed-point vectors, as graft.ops.Similarity quantizes embeddings
    def vec(): Array[Long] = Array.fill(64)(rnd.nextInt(1 << 20).toLong - (1 << 19))
    val base = Seq.fill(rows)((vec(), vec(), text(), bounds, rnd.nextDouble()))
      .toDF("a", "b", "text", "bounds", "v")
      .repartition(4).cache()
    base.count()
    val df = base.withColumn("r", explode(sequence(lit(1), lit(reps))))
    val exprs = Seq(
      "floor" -> "sum(v + r)",
      "array_dot" -> "sum(array_dot(a, b) + r)",
      "ngram_hashes" -> "sum(size(ngram_hashes(text, 5)) + r)",
      "rolling_hash" -> "sum(rolling_hash(text) + r)",
      "ahash_sig" -> "sum((ahash_sig(cast(text AS BINARY)) & 255) + r)",
      "array_lt_count" -> "sum(array_lt_count(bounds, v + r))")
    val times = (0 to 5).map { _ =>
      exprs.map { case (k, e) =>
        val t0 = System.nanoTime()
        df.selectExpr(e).collect()
        k -> (System.nanoTime() - t0).toDouble
      }.toMap
    }.drop(1)
    def med(k: String): Double = times.map(_(k)).sorted.apply(times.size / 2)
    base.unpersist(true)
    exprs.map(_._1).filter(_ != "floor")
      .map(k => k -> (med(k) - med("floor")) / (rows.toLong * reps)).toMap
  }

  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** graft.Bench's fixed box probe, in a JVM of its own so the workload's
  * heap does not constrain it: a window plus two-shuffle aggregate over
  * generated rows, reading no table. Prints its wall seconds.
  *
  * Usage: BoxProbe <cpus> <local dir>
  */
object BoxProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val Array(cpus, localDir) = args
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    spark.range(0, 10L << 20, 1, cpus.toInt)
      .select((col("id") % 100000).as("k"),
        pmod(xxhash64(col("id")), lit(1L << 32)).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(pmod(col("k"), lit(512))).orderBy(col("h"))))
      .groupBy("k")
      .agg(sum("h").as("sh"), min("rk").as("mr"), count(lit(1)).as("n"))
      .groupBy((col("k") % 128).as("b"))
      .agg(sum("sh").as("ssh"), avg("mr").as("amr"), max("n").as("mn"))
      .orderBy("b")
      .write.format("noop").mode("overwrite").save()
    println((System.nanoTime() - t0) / 1e9)
    spark.stop()
  }
}
