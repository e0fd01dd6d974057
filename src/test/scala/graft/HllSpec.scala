package graft

import graft.functions.Hll
import org.apache.spark.sql.functions._

/** HyperLogLog TypedImperativeAggregate: accuracy within the sketch's error
  * bound, partition-order invariance (register-max merge is associative and
  * commutative), grouped aggregation, and null handling. */
class HllSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    Hll.register(spark)
  }

  test("estimate within the p=12 error bound (~1.6% RSE, assert 5%)") {
    val est = spark.range(100000)
      .select(pmod(col("id"), lit(20000L)).as("v"))
      .selectExpr("hll_approx_count_distinct(v) AS e")
      .head().getLong(0)
    assert(math.abs(est - 20000.0) / 20000.0 < 0.05, s"estimate $est")
  }

  test("small-range linear counting is near-exact") {
    val est = spark.range(50)
      .selectExpr("hll_approx_count_distinct(id) AS e").head().getLong(0)
    assert(est == 50, s"estimate $est")
  }

  test("partition-order invariant: 1 vs 16 partitions give the same estimate") {
    val base = spark.range(100000).select(pmod(col("id") * 7919, lit(33333L)).as("v"))
    val e1 = base.repartition(1).selectExpr("hll_approx_count_distinct(v) AS e").head().getLong(0)
    val e16 = base.repartition(16, col("v")).selectExpr("hll_approx_count_distinct(v) AS e").head().getLong(0)
    assert(e1 == e16, s"$e1 != $e16")
  }

  test("grouped aggregation and strings; nulls are skipped") {
    val df = spark.range(30000).select(
      pmod(col("id"), lit(3L)).as("g"),
      when(col("id") % 100 === 0, lit(null))
        .otherwise(concat(lit("v"), pmod(col("id"), lit(1000L)))).as("v"))
    val rows = df.groupBy("g")
      .agg(expr("hll_approx_count_distinct(v)").as("e"),
        countDistinct(col("v")).as("exact"))
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val e = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(e - exact) / exact < 0.05, s"group ${r.get(0)}: $e vs $exact")
    }
  }
}
