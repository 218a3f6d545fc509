package graft.tools

import graft.{Local, SparkEntry}
import scala.collection.mutable

/** Where one query's wall time goes. Runs a declared query the way
  * graft.Bench does (caches swept, forced with a `noop` write, recorded by
  * [[graft.Local.profile]]), and prints per rep:
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

  /** The median of `xs`: the mean of the two middle values when even. */
  def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a scale-factor directory"))
    val spark = Local.session()
    val warm = mutable.ArrayBuffer.empty[(Long, Long, Long)] // wall, gap, jobs
    for (rep <- 1 to reps) {
      Local.sweep(spark)
      val p = Local.profile(spark) {
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      p.error.foreach(e => throw e)
      val (t0, t1, jobs, stages) = (p.t0, p.t1, p.jobs, p.stages)
      val wall = t1 - t0
      val gap = p.gapMs
      if (rep >= 2) warm += ((wall, gap, jobs.size.toLong))
      def s(ms: Long) = ms / 1000.0
      def mb(bytes: Long) = bytes / 1048576.0
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
          f"${st.tasks}%6d ${mb(st.writeBytes)}%9.2f ${mb(st.readBytes)}%9.2f ${st.records}%10d " +
          f"${mb(st.spillBytes)}%8.2f  ${st.name}")
      }
    }
    if (warm.nonEmpty)
      println(f"\n=== $name median of reps 2..$reps: wall ${median(warm.map(_._1).toSeq) / 1000}%.2f s, " +
        f"driver gap ${median(warm.map(_._2).toSeq) / 1000}%.2f s, ${median(warm.map(_._3).toSeq)}%.1f jobs ===")
    spark.stop()
  }
}
