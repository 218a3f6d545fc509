package graft.tools

import graft.{Local, SparkEntry}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Where one query's wall time goes. Runs a declared query the way
  * graft.Bench does (caches swept, forced with a `noop` write) under one
  * listener, and prints per rep:
  *
  *  - per job: start offset, wall span, task time, stages and tasks;
  *  - the DRIVER GAP: wall time covered by no running job (Catalyst
  *    analysis and optimization, cache-plan canonicalization, codegen,
  *    action scheduling) — a query whose gap dominates is driver-bound;
  *  - per stage, by task time: wall span, tasks, shuffle write and read MB,
  *    shuffle records written and spill MB — which exchange is fat.
  *
  * Rep 1 also pays the session's warmup, and rep 2 is not always warm
  * yet, so a closing line gives the medians of wall, driver gap and job
  * count over reps 2..N: the figure to compare between two builds.
  *
  * Usage: graft.tools.Probe <queryName> [reps]   (env SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
  */
object Probe {

  /** Wall time in `[t0, t1]` that no job span covers. Spans are
    * `(start, end)`; a job that never ended (`end < 0`) runs to `t1`.
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

  /** The median of `xs`: the mean of the two middle values when even. */
  def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
  }

  private final case class Job(id: Int, start: Long, var end: Long = -1L)
  private final case class Stage(id: Int, job: Int, name: String, tasks: Int,
      taskMs: Long, wallMs: Long, writeMb: Double, readMb: Double,
      records: Long, spillMb: Double)

  /** One listener for both tables. A stage belongs to the first job whose
    * `stageIds` list it — not to whichever job's time window contains it,
    * which misassigns stages when jobs overlap (AQE's concurrent broadcast
    * and shuffle-stage jobs).
    */
  private final class Recorder extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    private val jobOf = mutable.Map.empty[Int, Int]

    def clear(): Unit = synchronized { jobs.clear(); stages.clear(); jobOf.clear() }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, e.time)
      e.stageIds.foreach(id => if (!jobOf.contains(id)) jobOf(id) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = Option(si.taskMetrics)
      def mb(f: org.apache.spark.executor.TaskMetrics => Long) =
        m.map(f).getOrElse(0L) / 1048576.0
      stages += Stage(si.stageId, jobOf.getOrElse(si.stageId, -1),
        si.name.takeWhile(_ != '\n').take(90), si.numTasks,
        m.map(_.executorRunTime).getOrElse(0L),
        (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L),
        mb(_.shuffleWriteMetrics.bytesWritten),
        mb(_.shuffleReadMetrics.totalBytesRead),
        m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L),
        mb(t => t.memoryBytesSpilled + t.diskBytesSpilled))
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a scale-factor directory"))
    val spark = Local.session()
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val warm = mutable.ArrayBuffer.empty[(Long, Long, Long)] // wall, gap, jobs
    for (rep <- 1 to reps) {
      Local.sweep(spark)
      Local.drainBus(spark.sparkContext)
      rec.clear()
      val t0 = System.currentTimeMillis()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t1 = System.currentTimeMillis()
      Local.drainBus(spark.sparkContext)
      val (jobs, stages) = rec.synchronized((rec.jobs.toVector, rec.stages.toVector))
      val wall = t1 - t0
      val gap = driverGap(t0, t1, jobs.map(j => (j.start, j.end)))
      if (rep >= 2) warm += ((wall, gap, jobs.size.toLong))
      def s(ms: Long) = ms / 1000.0
      println(f"\n=== $name rep $rep: wall ${s(wall)}%.2f s, job-covered ${s(wall - gap)}%.2f s, " +
        f"driver gap ${s(gap)}%.2f s, ${jobs.size} jobs, ${stages.size} stages ===")
      println(f"  ${"job"}%5s ${"start s"}%8s ${"span s"}%7s ${"task s"}%8s ${"stages"}%6s ${"tasks"}%6s")
      jobs.sortBy(_.start).foreach { j =>
        val own = stages.filter(_.job == j.id)
        val end = if (j.end < 0) t1 else j.end
        println(f"  ${j.id}%5d ${s(j.start - t0)}%+8.2f ${s(end - j.start)}%7.2f " +
          f"${s(own.map(_.taskMs).sum)}%8.2f ${own.size}%6d ${own.map(_.tasks).sum}%6d")
      }
      println(f"  ${"stage"}%5s ${"job"}%5s ${"task s"}%8s ${"wall s"}%7s ${"tasks"}%6s " +
        f"${"writeMB"}%9s ${"readMB"}%9s ${"records"}%10s ${"spillMB"}%8s  name")
      stages.sortBy(-_.taskMs).foreach { st =>
        println(f"  ${st.id}%5d ${st.job}%5d ${s(st.taskMs)}%8.2f ${s(st.wallMs)}%7.2f " +
          f"${st.tasks}%6d ${st.writeMb}%9.2f ${st.readMb}%9.2f ${st.records}%10d " +
          f"${st.spillMb}%8.2f  ${st.name}")
      }
    }
    if (warm.nonEmpty)
      println(f"\n=== $name median of reps 2..$reps: wall ${median(warm.map(_._1).toSeq) / 1000}%.2f s, " +
        f"driver gap ${median(warm.map(_._2).toSeq) / 1000}%.2f s, ${median(warm.map(_._3).toSeq)}%.1f jobs ===")
    spark.stop()
  }
}
