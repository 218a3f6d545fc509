package graft

/** Plan-audit tool: print the formatted physical plan of the named queries
  * (all of them if no args) at the given SF dir — the .explain feedback loop
  * the build brief mandates (pushdown reaching the scan, broadcast vs
  * shuffle joins, WholeStageCodegen spans, partial aggregation).
  *
  * Usage: graft.Explain [queryName ...]   (env SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Local.session()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
