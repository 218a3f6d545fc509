package graft
import Local.jstr
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Local.session()
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated subset (debug iteration); default = all.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A misspelled name would silently select zero queries, and a subset
    // run leaves earlier full-run parquet in outDir while oracle_sql.json
    // is rewritten for ALL queries — so fail loudly on unknown names and
    // make the partial-ness of a subset run visible in the log.
    only.foreach { sel =>
      val unknown = sel -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(s"[verify] unknown SPARK_GRAFT_VERIFY_ONLY names: ${unknown.toSeq.sorted.mkString(",")}")
        sys.exit(2)
      }
      val skipped = SparkEntry.queries.keySet -- sel
      System.err.println(s"[verify] SUBSET run: ${sel.size} queries; skipping ${skipped.size} (stale outputs may remain in $outDir)")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // drop persisted intermediates leaked by the previous query
      Local.sweep(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
