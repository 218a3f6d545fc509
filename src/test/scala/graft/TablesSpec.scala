package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType,
  TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The JVM-wide schema cache behind [[Tables]]: a warm read is the uncached
  * read without its inference job, and a rewritten table or a flipped
  * inference conf is never served a stale schema.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** (rows, exact sum of per-row xxhash64 over every column). */
  private def rowHash(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Runs `body` with `NanosAsLong` at `on`, restoring the session's value. */
  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val prior = spark.conf.getOption(NanosAsLong)
    spark.conf.set(NanosAsLong, on.toString)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(NanosAsLong, v)
      case None => spark.conf.unset(NanosAsLong)
    }
  }

  /** Runs `body` on a fresh temp directory, deleted afterwards. */
  private def withTempDir[T](body: String => T): T = {
    val d = Files.createTempDirectory("graft-tables")
    try body(d.toString)
    finally {
      val all = Files.walk(d)
      try all.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally all.close()
    }
  }

  test("every fixture table: the cached read has the uncached schema and rows") {
    for (t <- Tables.names) {
      Tables(spark, dir, t) // warm
      val cached = Tables(spark, dir, t)
      val uncached = spark.read.parquet(s"$dir/$t.parquet")
      assert(cached.schema === uncached.schema, t)
      assert(rowHash(cached) === rowHash(uncached), t)
    }
  }

  test("a cold read runs the inference job; a warm read of the same table runs none") {
    withTempDir { tmp =>
      spark.range(5).toDF("a").write.parquet(s"$tmp/t.parquet")
      assert(TestSpark.jobsOf(Tables(spark, tmp, "t")) >= 1)
      assert(TestSpark.jobsOf { Tables(spark, tmp, "t"); Tables.schema(spark, tmp, "t") } === 0)
    }
    Tables(spark, dir, "orders")
    assert(TestSpark.jobsOf(Tables(spark, dir, "orders")) === 0)
  }

  test("events: nanosAsLong off, then on, then off again each read the right ts type") {
    // the fixture ships ts as TIMESTAMP(US), which the conf does not touch
    for (on <- Seq(false, true)) withNanosAsLong(on) {
      assert(Tables(spark, dir, "events").schema("ts").dataType === TimestampNTZType)
    }
    assert(Tables.events(spark, dir).schema("ts").dataType === TimestampType)

    // a TIMESTAMP(NANOS) copy reads as a nanos long only under the conf;
    // without it Spark refuses the column, and the LongType schema inferred
    // under the conf must not be served to a read without it
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .named("events")
    withTempDir { tmp =>
      val w = ExampleParquetWriter.builder(new HPath(s"$tmp/events.parquet"))
        .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1500000000123456789L))
      finally w.close()
      withNanosAsLong(false)(intercept[Exception](Tables(spark, tmp, "events").schema))
      withNanosAsLong(true) {
        assert(Tables(spark, tmp, "events").schema("ts").dataType === LongType)
        val ts = Tables.events(spark, tmp).select(col("ts").cast("string")).head().getString(0)
        assert(ts === "2017-07-14 02:40:00.123456")
      }
      withNanosAsLong(false)(intercept[Exception](Tables(spark, tmp, "events").schema))
    }
  }

  test("a table overwritten in place with another schema is read with the new one") {
    withTempDir { tmp =>
      spark.range(3).toDF("a").write.parquet(s"$tmp/t.parquet")
      assert(Tables.schema(spark, tmp, "t") === StructType(Seq(StructField("a", LongType))))
      spark.range(3).selectExpr("cast(id AS string) AS b", "id * 2 AS c")
        .write.mode("overwrite").parquet(s"$tmp/t.parquet")
      val t = Tables(spark, tmp, "t")
      assert(t.schema ===
        StructType(Seq(StructField("b", StringType), StructField("c", LongType))))
      assert(t.orderBy("c").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("0", 0L), ("1", 2L), ("2", 4L)))
    }
  }
}
