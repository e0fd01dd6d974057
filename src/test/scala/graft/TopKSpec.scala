package graft

import graft.operators.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two-phase salted top-k must return EXACTLY the rows and ranks of
  * the single-window form — on a deliberately skewed key distribution
  * (one key holding 90% of rows), where the single window would be a
  * one-task bottleneck at scale. */
class TopKSpec extends SparkSpec {
  test("identical rows and ranks to the single-window form under skew") {
    import spark.implicits._
    val df = spark.range(100000).select(
      when($"id" < 90000, 0L).otherwise($"id" % 10L).as("key"),
      (($"id" * 2654435761L) % 1000003L).as("score"),
      $"id")
    val actual = TopK.topKPerKey(df,
      keys = Seq($"key"), order = Seq($"score", $"id"),
      saltOn = Seq($"id"), k = 7)
    val expected = df.withColumn("rank", row_number().over(
        Window.partitionBy($"key").orderBy($"score", $"id")))
      .filter($"rank" <= 7)
    assert(actual.count() == expected.count())
    assert(actual.except(expected).isEmpty && expected.except(actual).isEmpty)
  }

  test("descending order and ties break deterministically") {
    import spark.implicits._
    val df = spark.range(5000).select(
      ($"id" % 3L).as("key"), ($"id" % 20L).as("score"), $"id")
    val actual = TopK.topKPerKey(df,
      keys = Seq($"key"), order = Seq($"score".desc, $"id"),
      saltOn = Seq($"id"), k = 5, salts = 8)
    val expected = df.withColumn("rank", row_number().over(
        Window.partitionBy($"key").orderBy($"score".desc, $"id")))
      .filter($"rank" <= 5)
    assert(actual.except(expected).isEmpty && expected.except(actual).isEmpty)
  }
}
