package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Streaming throughput / state-size evidence (VERDICT r15 item 4, widened
  * per VERDICT r16 item 5): drive the three heaviest stateful twins with
  * file-source micro-batches at factor-1/10/100 ingest volume (the ScaleUp
  * replica dirs), and record per batch what each state-bound claim asserts:
  *
  *  - rows/s (ingest throughput, trigger wall-clock),
  *  - state rows after every batch,
  *  - state-store memory.
  *
  * The three twins and their documented bounds:
  *
  *  - [[graft.streaming.Streaming.phashKeepViaState]] — one state row per
  *    DISTINCT aHash signature: `state_rows / ingest_rows` must FALL as
  *    volume grows (signature space, not history).
  *  - [[graft.streaming.Streaming.ingestClassifyViaBands]] — the join-heavy
  *    twin (stream-static fingerprint anti + band joins against a FIXED 1×
  *    snapshot index); state is one counter per distinct ARRIVING
  *    fingerprint, so state_rows tracks distinct arriving docs (≈ 1 per
  *    row on the vocabulary-disjoint replica) while THROUGHPUT is the
  *    claim under test — the static-side joins must not collapse as the
  *    arriving side scales 100×.
  *  - [[graft.streaming.Streaming.mvViewStreaming]] — complete-mode MV
  *    maintenance; state is the view's key space |nation × month|, so
  *    state_rows_final must be IDENTICAL across legs while ingest grows
  *    100×.
  *
  * Metrics come from the engine's own StreamingQueryProgress (input rows,
  * trigger durations, stateOperators), not wall-clock guesses. Sink is
  * `noop`; each leg gets a fresh checkpoint. Emits one JSON object —
  * `bench_streaming_r17.json`.
  *
  * Usage: StreamBench <outJson> [nChunks]
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("bench_streaming_r17.json")
    val nChunks = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Local.session(conf =
      Map("spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s"))

    val legs = Seq(
      ("1x", sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")),
      ("10x", sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/root/repo/target/sf1")),
      ("100x", sys.env.getOrElse("SPARK_GRAFT_SF100_DIR", "/root/repo/target/sf10")))
      .filter { case (_, dir) => Files.exists(Paths.get(dir)) }

    def jnum(d: Double): String = {
      val r = math.rint(d * 1000) / 1000
      if (r.isNaN || r.isInfinite) "0" else r.toString
    }

    /** One (query, leg): chunk the leg's input table into nChunks files,
      * replay as maxFilesPerTrigger=1 micro-batches through `build`, and
      * report the engine's own progress metrics.
      */
    def runLeg(query: String, label: String, dir: String,
        source: String => DataFrame,
        build: DataFrame => DataFrame,
        mode: String): String = {
      val work = Files.createTempDirectory(s"graft_sb_${query}_$label")
      val in = work.resolve("in").toString
      val ck = work.resolve("ck").toString
      val input = source(dir)
      input.repartition(nChunks).write.mode("overwrite").parquet(in)
      val stream = spark.readStream
        .schema(input.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val q = build(stream)
        .writeStream
        .format("noop")
        .outputMode(mode)
        .option("checkpointLocation", ck)
        .start()
      q.processAllAvailable()
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      q.stop()
      val rows = prog.map(_.numInputRows)
      val secs = prog.map(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L) / 1000.0)
      val stateRows = prog.map(p =>
        if (p.stateOperators.nonEmpty) p.stateOperators(0).numRowsTotal else 0L)
      val stateMem = prog.map(p =>
        if (p.stateOperators.nonEmpty) p.stateOperators(0).memoryUsedBytes else 0L)
      val ingest = rows.sum
      val totalSec = secs.sum
      val finalState = if (stateRows.nonEmpty) stateRows.last else 0L
      spark.catalog.clearCache()
      s""""$label":{"dir":"$dir","ingest_rows":$ingest,"n_batches":${prog.size},""" +
        s""""total_sec":${jnum(totalSec)},"rows_per_sec":${jnum(ingest / math.max(totalSec, 1e-9))},""" +
        s""""state_rows_final":$finalState,""" +
        s""""state_rows_per_ingest":${jnum(finalState.toDouble / math.max(ingest, 1))},""" +
        s""""state_mem_mb_final":${jnum(if (stateMem.nonEmpty) stateMem.last / 1048576.0 else 0.0)},""" +
        s""""batch_rows":[${rows.mkString(",")}],""" +
        s""""batch_sec":[${secs.map(jnum).mkString(",")}],""" +
        s""""batch_state_rows":[${stateRows.mkString(",")}]}"""
    }

    // the FIXED 1× snapshot index the ingest classifier joins against —
    // the production shape: the persisted corpus index does not grow with
    // one batch's arriving volume
    val snapshotDir = legs.head._2
    val snapshotDocs = graft.Tables.documents(spark, snapshotDir)

    val docsSource = (dir: String) =>
      graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val docsFullSource = (dir: String) =>
      graft.Tables.documents(spark, dir)
    val ordersSource = (dir: String) =>
      graft.Tables.orders(spark, dir)

    val queries: Seq[(String, String => DataFrame, (String, DataFrame) => DataFrame, String)] = Seq(
      ("phashKeepViaState", docsSource,
        (_, s) => graft.streaming.Streaming.phashKeepViaState(spark, s).toDF(),
        "append"),
      ("ingestClassifyViaBands", docsFullSource,
        (_, s) => graft.streaming.Streaming.ingestClassifyViaBands(spark, s, snapshotDocs).toDF(),
        "append"),
      ("mvViewStreaming", ordersSource,
        (dir, s) => graft.streaming.Streaming.mvViewStreaming(s,
          graft.Tables.customer(spark, dir),
          graft.Tables.nation(spark, dir)),
        "complete"))

    val qJsons = queries.map { case (name, source, build, mode) =>
      val legJsons = legs.map { case (label, dir) =>
        runLeg(name, label, dir, source, build(dir, _), mode)
      }
      s""""$name":{${legJsons.mkString(",")}}"""
    }
    val json =
      s"""{"chunks_per_leg":$nChunks,""" +
        """"note":"file-source micro-batches, noop sink, fresh checkpoint per leg; phash state = distinct signatures (ratio must fall), ingest-classify state = distinct arriving fingerprints vs a FIXED 1x snapshot index, mv state = |nation x month| (identical across legs)",""" +
        qJsons.mkString(",") + "}"
    Files.writeString(Paths.get(outFile), json + "\n")
    println(json)
    spark.stop()
  }
}
