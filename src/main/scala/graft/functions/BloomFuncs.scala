package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, BloomFilterMightContain}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** User-callable registration of Spark's OWN bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the pair the
  * optimizer injects for runtime row-level filtering, deliberately absent
  * from the public FunctionRegistry). Exposed here as `bloom_agg(xxhash64
  * (k), items, bits)` → binary and `bloom_might_contain(bf, xxhash64(k))`
  * → boolean so a pipeline can build the pre-filter EXPLICITLY: at 100 TB,
  * shipping a few-MB bloom of the small join side to prune the corpus-scale
  * side BEFORE its shuffle is the difference between shuffling matching
  * rows only and shuffling everything. A bloom admits false positives, so
  * every use in this library keeps the exact join AFTER the pre-filter —
  * the bloom changes the plan, never the answer.
  */
object BloomFuncs {
  private val aggInfo =
    new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg")
  private val mightInfo =
    new ExpressionInfo(classOf[BloomFilterMightContain].getName, "bloom_might_contain")

  private val aggBuilder = (children: Seq[Expression]) => {
    require(children.size == 3,
      "bloom_agg(xxhash64_key, est_items, num_bits) takes 3 arguments")
    new BloomFilterAggregate(children(0), children(1), children(2))
  }
  private val mightBuilder = (children: Seq[Expression]) => {
    require(children.size == 2,
      "bloom_might_contain(bloom, xxhash64_key) takes 2 arguments")
    BloomFilterMightContain(children(0), children(1))
  }

  /** Register both functions in a session (idempotent). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("bloom_agg"), aggInfo, aggBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("bloom_might_contain"), mightInfo, mightBuilder)
  }
}
