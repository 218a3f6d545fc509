package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md / FIXTURES.md §B).
  *
  * All queries take a scale-factor directory and read only from it; column
  * pruning + predicate pushdown then reach the parquet scan for free.
  *
  * Schema cache: Spark infers a parquet schema by reading footers in a
  * Spark job of its own, so an uncached read opens every query with one
  * extra job per table. Each table's inferred `StructType` is kept once
  * per JVM, and a warm read passes it to `spark.read.schema(...)`, which
  * skips inference and launches no job. The key is everything inference
  * reads: the table path, every leaf file's (name, size, mtime) and the
  * parquet inference confs in [[InferenceConfs]]. A table rewritten in
  * place or a flipped conf is therefore a miss, never a stale schema; a
  * path that cannot be listed is read uncached, so Spark reports the
  * error it always did. Only the schema is cached, never a DataFrame or
  * relation: each call builds a fresh relation with fresh expression ids,
  * so a query that reads one table twice (a self-join) resolves exactly
  * as it would without the cache.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The SQL confs parquet schema inference reads. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private final case class SchemaKey(
      path: String, files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]

  /** The cache key of `path` as it stands now; None if it cannot be listed. */
  private def keyOf(spark: SparkSession, path: String): Option[SchemaKey] = Try {
    val p = new Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted
    SchemaKey(path, files, InferenceConfs.map(spark.conf.getOption))
  }.toOption

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = keyOf(spark, path)
    key.flatMap(k => Option(schemas.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        // inference runs outside any map lock; a racing miss infers twice
        val df = spark.read.parquet(path)
        key.foreach(schemas.putIfAbsent(_, df.schema))
        df
    }
  }

  /** The schema [[apply]] reads `name` with (inferred at most once per key). */
  def schema(spark: SparkSession, dir: String, name: String): StructType =
    apply(spark, dir, name).schema

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which Spark 4
    * only reads as a nanos long via the legacy conf) and plain TIMESTAMP(US)
    * (read as TIMESTAMP_NTZ). Normalize either to a µs TimestampType — the
    * session timezone is UTC everywhere, so the NTZ→instant cast is the
    * identity DuckDB's `ts::TIMESTAMP` applies.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(apply(s, d, "events"))
  }

  /** Normalize the `ts` column to µs TimestampType. INVARIANT: a LongType
    * `ts` is trusted to be NANOSECONDS — it can only arise here from
    * `spark.sql.legacy.parquet.nanosAsLong` turning a parquet
    * TIMESTAMP(NANOS) column into its raw nanos (every caller sets that
    * conf first). A fixture shipping `ts` as a plain INT64 in any other
    * unit is indistinguishable at this layer, so the conf is required —
    * and any type outside the three this contract names fails fast
    * instead of passing through misscaled or unconverted.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        require(
          df.sparkSession.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
            .contains("true"),
          "LongType ts without spark.sql.legacy.parquet.nanosAsLong=true: " +
            "cannot tell TIMESTAMP(NANOS) from a raw INT64 — refusing to guess the unit")
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other; expected TIMESTAMP(NANOS)-as-long, " +
          "TIMESTAMP_NTZ, or TIMESTAMP")
    }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

/** A named battery of queries plus (where SQL-expressible) DuckDB oracle SQL
  * over the same parquet tables. SparkEntry unions all modules.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

/** Shared DuckDB oracle-SQL fragments — one definition per semantic so the
  * Spark expression and every oracle that mirrors it cannot drift apart
  * (the whitespace class itself lives in
  * [[graft.core.MapReduce.WhitespaceClass]]).
  */
object OracleSql {
  /** Whitespace tokens of `expr`, empties dropped — the SQL twin of
    * `TextOps.tokens` (lowercased) / `MapReduce.tokenize` (raw).
    */
  def toks(expr: String): String =
    s"list_filter(string_split_regex($expr, '${graft.core.MapReduce.WhitespaceClass}'), t -> length(t) > 0)"
}
