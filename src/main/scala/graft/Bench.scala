package graft
import Local.jstr
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every declared query at the given scale factor and
  * emits ONE machine-parseable JSON line (stdout, unprefixed — build.sbt sets
  * `run / outputStrategy := StdoutOutput` so sbt does not decorate it) and
  * also writes the same JSON to a file (env SPARK_GRAFT_BENCH_OUT, default
  * bench_out.json in the CWD) so log noise can never hide it.
  *
  * Each query is forced with a `noop`-format write: every result row is fully
  * computed and serialized, but nothing Catalyst can prune survives — unlike
  * `count()`, which lets the optimizer drop the whole select list and any
  * terminal sort. Failures are reported per-query (never swallowed into a
  * fast fake timing) and flip the exit code.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Local.cpus
    val spark = Local.session()
    // Untimed warmup: exercise scan/shuffle/window/codegen machinery once so
    // session JIT doesn't land on whichever query sorts first — per-query
    // numbers then measure the queries. (Measured: the first two queries
    // otherwise absorb ~5 s of one-time framework warmup.)
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      Tables.region(spark, sfDir)
        .withColumn("r", row_number().over(Window.partitionBy("r_name").orderBy("r_regionkey")))
        .groupBy("r").agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    // Multi-PASS min-of-N (default 3 passes): three consecutive rounds
    // (r9 mr/mm, r10 dd/ev_json, r11 dd/tpch) showed rotating >2× spikes
    // on untouched code that all recovered the next round — back-to-back
    // reps of one query sit inside the SAME transient contention window
    // (another tenant / GC storm on this box), so min-of-3 consecutive
    // samples cannot see past it, and alphabetically-adjacent queries
    // spike together (the r11 tpch block). The fix: run the FULL suite N
    // times, alternating alphabetical / reverse order between passes, and
    // report each query's min ACROSS passes — the same query's samples are
    // now separated by minutes and by suite position, so a contention
    // window has to span the whole run to fake a regression. Controlled
    // re-measure of the 9 r11 spikes under this protocol: all back to
    // normal (dd_decontaminate 17.10→1.34, dd_containment 5.05→0.79;
    // bench_remeasure_r12.json).
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    // MEASUREMENT-INTEGRITY STAMP — the r16 lesson: a recompile while a
    // bench JVM runs rewrites anonymous-class files under lazily-loaded
    // code and the run dies (or worse, half-measures) with
    // NoClassDefFoundError on whichever query first touches a shifted
    // lambda. The classes dir is fingerprinted at start and re-checked at
    // the end; a changed fingerprint flags the WHOLE run as invalid in the
    // JSON rather than leaving the artifact silently suspect.
    def classesFingerprint(): Long = {
      val root = Paths.get(this.getClass.getProtectionDomain.getCodeSource
        .getLocation.toURI)
      if (!Files.isDirectory(root)) Files.getLastModifiedTime(root).toMillis
      else {
        val s = Files.walk(root)
        try s.filter(p => p.toString.endsWith(".class"))
          .mapToLong(p => Files.getLastModifiedTime(p).toMillis ^ p.hashCode())
          .reduce(0L, java.lang.Long.sum)
        finally s.close()
      }
    }
    val classesStamp0 = try classesFingerprint() catch { case _: Exception => 0L }
    // FOOTPRINT TELEMETRY — the r15 lesson: the factor-100 failure mode was
    // disk exhaustion (dd_ngram_jaccard filled 80 GB of shuffle spill), not
    // wall-time, and exponents can't see it. Every pass of every query is
    // one Local.profile record; its per-stage shuffle-write and spill sums
    // (max across passes) land in the full JSON as query_shuffle_mb /
    // query_spill_mb, so a footprint regression is a diffable artifact, and
    // its job count and driver gap per pass as query_jobs /
    // query_driver_gap_s.
    val profiles = scala.collection.mutable.Map.empty[String, Vector[Local.Profile]]
      .withDefaultValue(Vector.empty)
    // Janino compilations per query per pass (query_codegen_compiles):
    // Spark's codegen cache holds 100 entries, so a suite that generates
    // more recompiles in EVERY pass — cache thrash, visible as data.
    // Read outside the profiled region.
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val codegenCompiles = scala.collection.mutable.Map.empty[String, Vector[Long]]
      .withDefaultValue(Vector.empty)
    // Optional comma-separated subset (hotspot iteration); default = all.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // which half of its pass each sample ran in (0 = before the middle
    // sentinel, 1 = after) — the key for reading a sample against the
    // sentinel level of its own contention window
    val winIdx = scala.collection.mutable.Map.empty[String, Vector[Int]]
      .withDefaultValue(Vector.empty)
    // SENTINEL: a fixed window+two-shuffle aggregate over GENERATED rows,
    // timed at the start / middle / end of every pass. Its workload never
    // changes — and since r15 it reads no table at all (spark.range), so
    // it is a pure probe of the box at ANY data directory: the earlier
    // lineitem-scan form stopped being a fixed-size probe the moment the
    // scaling replica grew the fact tables (measured: factor-100 dirs
    // inflated the sentinel ~10–30× and the calibrated unit divided real
    // query time away). The r9–r12 rounds could not tell a code
    // regression from a contended machine (the r12 full-suite run came
    // back uniformly 1.55× slower while a controlled same-day re-measure
    // of identical code was normal); with the sentinel inline, that call
    // is made from data: a slow query next to floor-level sentinel
    // samples is a code problem, a slow query inside a slow sentinel
    // window is the environment. Its rows scale with the cores (10 Mi at
    // 32), so each core probes the same work on any box: a fixed 10 Mi
    // rows took 13-19 s per probe on 4 cores.
    val sentinelRows = (10L << 20) * cpus / 32
    def sentinelOnce(): Double = {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      Local.sweep(spark)
      val t0 = System.nanoTime()
      spark.range(0, sentinelRows, 1, cpus)
        .select((col("id") % 100000).as("k"),
          pmod(xxhash64(col("id")), lit(1L << 32)).as("h")) // ANSI-safe sums
        .withColumn("rk", row_number().over(
          Window.partitionBy(pmod(col("k"), lit(512))).orderBy(col("h"))))
        .groupBy("k")
        .agg(sum("h").as("sh"), min("rk").as("mr"), count(lit(1)).as("n"))
        .groupBy((col("k") % 128).as("b"))
        .agg(sum("sh").as("ssh"), avg("mr").as("amr"), max("n").as("mn"))
        .orderBy("b")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val sentinels = scala.collection.mutable.ArrayBuffer.empty[Vector[Double]]
    for (pass <- 1 to reps) {
      // Between passes: drop every cached frame and let a full GC settle,
      // so pass p's early queries don't pay pass p−1's tail garbage.
      Local.sweep(spark)
      System.gc()
      Thread.sleep(2000)
      val order = if (pass % 2 == 1) names else names.reverse
      val sent = scala.collection.mutable.ArrayBuffer(sentinelOnce())
      for ((name, i) <- order.zipWithIndex) {
        if (order.size >= 2 && i == order.size / 2) sent += sentinelOnce()
        // Queries that persist() intermediates leave entries registered in
        // the CacheManager after the write completes; across 130+ queries
        // the leaked entries build memory pressure that inflates whichever
        // queries run last (measured: txt_term_freq 3.3 s polluted vs
        // 0.50 s clean). The sweep makes every sample a cold-cache run.
        Local.sweep(spark)
        val cg0 = compiles.getCount
        val p = Local.profile(spark) {
          SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        profiles(name) = profiles(name) :+ p
        codegenCompiles(name) = codegenCompiles(name) :+ (compiles.getCount - cg0)
        winIdx(name) = winIdx(name) :+
          (if (order.size >= 2 && i >= order.size / 2) 1 else 0)
      }
      sent += sentinelOnce()
      sentinels += sent.toVector
    }
    // a query that failed ANY pass is reported as an error, not a timing
    val results = names.map { n =>
      (n, profiles(n).map(_.seconds), profiles(n).flatMap(_.failure).headOption)
    }
    val ok = results.filter(_._3.isEmpty)
    // 0.1 ms precision: full-precision doubles ×63 queries ×N samples made the
    // round-4 stdout line 5.2 KB — past the driver's tail-capture window, so
    // BENCH_r04.json came back parsed:null. The stdout line must stay small;
    // the audit samples go ONLY to the file copy.
    def r4(d: Double): Double = math.rint(d * 10000) / 10000
    val qs = ok.map { case (k, v, _) => s"${jstr(k)}:${r4(v.min)}" }.mkString("{", ",", "}")
    val samplesJson = ok.map { case (k, v, _) => s"${jstr(k)}:[${v.map(r4).mkString(",")}]" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) => s"${jstr(k)}:${jstr(m)}" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2.min).sum
    // Sentinel calibration: per-pass [start, middle, end] timings of the
    // fixed probe, plus the spread (max/min over all samples). A spread
    // near 1 certifies the whole run sat on a quiet box; a large spread
    // localizes WHICH passes/regions were contended, so per-query minima
    // can be read against the sentinel level of their own window.
    val sentFlat = sentinels.flatten
    val sentJson = sentinels.map(p => p.map(r4).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val sentSpread =
      if (sentFlat.isEmpty || sentFlat.min <= 0) 0.0 else sentFlat.max / sentFlat.min
    // CALIBRATED headline: divide each sample by its pass-window's sentinel
    // ratio (window level / box floor), then take the per-query min across
    // passes. The floor derives from sentinel samples EXCLUDING the first —
    // that one carries JVM warmup (~3.4 s on a box whose floor is ~1 s) and
    // would fake a 3× contention correction on every sample of a quiet
    // run. A window's level is the mean of its two bounding sentinel
    // probes; the ratio clamps at 1 so a below-floor window never CREDITS
    // a query with speed it didn't show. Raw `value` stays reported
    // unchanged — `value_calibrated` is the suite at the box's quiet
    // sentinel level: on a quiet window it EQUALS raw (ratios clamp to 1),
    // on a contended one it reads what the same code would have clocked
    // quiet — the number to trend round-over-round on a shared box.
    // The floor must be a property of the BOX, not of this run: a run that
    // is uniformly contended end-to-end has a uniformly elevated sentinel,
    // looks quiet relative to itself, and a within-run floor corrects
    // nothing (measured: 32 background spinners lift the within-run floor
    // 1.04 → 2.07 and the "calibrated" total still swings 2.2×). So the
    // floor persists across runs in a small sidecar file keyed by (sfDir,
    // cpus): each run contributes a ROBUST statistic — the MEDIAN of its
    // sentinel samples, not its min (the r14 lesson: one outlier-fast
    // sample, 0.68 s on a box whose quiet sentinel reads 0.95–1.2 s,
    // became the permanent floor and pushed `value_calibrated` to ~60% of
    // genuine quiet wall-time) — and the floor is the monotone min of
    // history and present MEDIANS. On a quiet run the window levels then
    // sit AT the floor (ratio clamps to 1), so calibrated ≈ raw there:
    // the calibrated unit is anchored to quiet wall-clock by
    // construction, and only contended windows get divided down. The
    // sidecar key is version-prefixed so pre-v2 min-contaminated entries
    // are orphaned rather than inherited. First-ever run degrades to
    // within-run self-calibration.
    val floorCands = sentFlat.drop(1).filter(_ > 0)
    val runStat =
      if (floorCands.isEmpty) 1.0
      else {
        val s = floorCands.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
    val floorPath = Paths.get(sys.env.getOrElse("SPARK_GRAFT_FLOOR_FILE", ".sentinel_floor"))
    // v4: the synthetic sentinel is data-independent, so the floor is a
    // property of the BOX (cpus) alone — one floor per machine shape, any
    // data directory. v3's entries timed 10 Mi rows whatever the cores and
    // are orphaned, as are v2's per-dir lineitem-sentinel entries.
    val floorKey = s"v4|$cpus"
    val hist: Map[String, Double] =
      if (Files.exists(floorPath))
        Files.readAllLines(floorPath).toArray(Array.empty[String]).toSeq
          .flatMap { line => line.split('\t') match {
            case Array(k, v) => v.toDoubleOption.map(k -> _)
            case _ => None
          }}.toMap
      else Map.empty
    val floor = math.min(runStat, hist.getOrElse(floorKey, Double.MaxValue))
    try Files.writeString(floorPath, (hist + (floorKey -> floor))
      .map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))
    catch { case _: java.io.IOException => () } // read-only CWD: still calibrate
    def winRatio(pass: Int, w: Int): Double = {
      val v = sentinels(pass)
      val level = if (v.size >= 3) (v(w) + v(w + 1)) / 2
                  else (v.head + v.last) / 2
      math.max(1.0, level / floor)
    }
    val calMin: Map[String, (Double, Double)] = ok.map { case (k, v, _) =>
      val cal = v.indices.map { p => (v(p) / winRatio(p, winIdx(k)(p)), winRatio(p, winIdx(k)(p))) }
      k -> cal.minBy(_._1)
    }.toMap
    val totalCal = calMin.values.map(_._1).sum
    val qsCal = ok.map { case (k, _, _) => s"${jstr(k)}:${r4(calMin(k)._1)}" }
      .mkString("{", ",", "}")
    val qsRatio = ok.map { case (k, _, _) => s"${jstr(k)}:${r4(calMin(k)._2)}" }
      .mkString("{", ",", "}")
    val classesChanged =
      (try classesFingerprint() catch { case _: Exception => 0L }) != classesStamp0
    val core =
      s""""value":${r4(total)},"value_calibrated":${r4(totalCal)},"unit":"sec","reps":$reps,"sf":"$sfDir","n_ok":${ok.size},"n_err":${results.size - ok.size},"sentinel_spread":${r4(sentSpread)},"sentinel_floor":${r4(floor)},"classes_changed_mid_run":$classesChanged"""
    // The stdout line must survive the driver's ~2 KB tail-capture window
    // INTACT (r15's 176-query map pushed it to 4.5 KB and BENCH_r15.json
    // came back parsed:null with only a truncated tail). Headline numbers
    // go FIRST, the per-query map is capped to the slowest queries, and
    // errors are capped to the first few — the complete run always lives
    // in the file copy, which the compact line names.
    val slowest = ok.sortBy { case (_, v, _) => -v.min }.take(10)
      .map { case (k, v, _) => s"${jstr(k)}:${r4(v.min)}" }.mkString("{", ",", "}")
    val errsCompact = results.collect { case (k, _, Some(m)) => (k, m) }.take(3)
      .map { case (k, m) => s"${jstr(k)}:${jstr(m.take(80))}" }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total",$core,"errors":$errsCompact,"queries":$slowest,"queries_truncated":true,"full_out":${jstr(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))}}"""
    def perQuery(f: String => Any) =
      ok.map { case (k, _, _) => s"${jstr(k)}:${f(k)}" }.mkString("{", ",", "}")
    val qsShuffle = perQuery(k => r4(profiles(k).map(_.shuffleMb).max))
    val qsSpill = perQuery(k => r4(profiles(k).map(_.spillMb).max))
    val qsCompiles = perQuery(codegenCompiles(_).mkString("[", ",", "]"))
    val qsJobs = perQuery(profiles(_).map(_.jobs.size).mkString("[", ",", "]"))
    val qsGap = perQuery(profiles(_).map(_.gapMs / 1000.0).mkString("[", ",", "]"))
    val full = s"""{"metric":"total",$core,"queries":$qs,"errors":$errs,"sentinel":$sentJson,"samples":$samplesJson,"queries_calibrated":$qsCal,"query_sentinel_ratio":$qsRatio,"query_shuffle_mb":$qsShuffle,"query_spill_mb":$qsSpill,"query_codegen_compiles":$qsCompiles,"query_jobs":$qsJobs,"query_driver_gap_s":$qsGap}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    Files.writeString(Paths.get(outFile), full + "\n")
    println(compact)
    spark.stop()
    if (results.size != ok.size) sys.exit(1)
  }
}
