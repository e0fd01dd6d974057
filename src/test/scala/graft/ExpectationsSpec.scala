package graft

import graft.Expectations._
import org.apache.spark.sql.functions._

/** Expectations — the batched dbt-test engine: correct violation counts,
  * dbt null semantics, and the one-job property that makes it viable where
  * dbt's one-SELECT-per-test is N full scans. */
class ExpectationsSpec extends SparkSpec {
  private def df = {
    val s = spark; import s.implicits._
    Seq(
      (1L, Some("a"), "OPEN", 10),
      (2L, Some("b"), "CLOSED", 20),
      (2L, Some("c"), "OPEN", -5),   // dup key, negative amount
      (3L, None, "WEIRD", 30),       // null name, bad status
      (4L, Some("e"), "OPEN", 40)
    ).toDF("k", "name", "status", "amount")
  }

  test("violation counts are exact, with dbt null semantics") {
    val out = check(df, Seq(
      Unique("k"),
      NotNull("name"),
      AcceptedValues("status", Seq("OPEN", "CLOSED")),
      Expect("amount >= 0", col("amount") >= 0),
      NotNull("k"))).map(v => v.expectation -> v.count).toMap
    assert(out == Map(
      "unique(k)" -> 1L,          // one extra row for key 2
      "not_null(name)" -> 1L,
      "accepted_values(status)" -> 1L,
      "expect(amount >= 0)" -> 1L))
  }

  test("all expectations evaluate in one scan of the input") {
    // (AQE surfaces shuffle stages as separate jobs, so job counting lies;
    // the property that matters vs dbt's one-SELECT-per-test is that the
    // TABLE is read once — exactly one scan leaf in the single plan)
    val agg = df.agg(
      Unique("k").agg.as("e0"), NotNull("name").agg.as("e1"),
      AcceptedValues("status", Seq("OPEN", "CLOSED")).agg.as("e2"),
      Expect("amount >= 0", col("amount") >= 0).agg.as("e3"))
    val leaves = agg.queryExecution.executedPlan.collectLeaves()
    assert(leaves.length == 1, s"${leaves.length} scans:\n$leaves")
  }

  test("enforce gates like dbt build; a clean table passes") {
    enforce(df.filter(col("k") =!= 2L && col("k") =!= 3L), "clean", Seq(
      Unique("k"), NotNull("name"),
      AcceptedValues("status", Seq("OPEN", "CLOSED"))))
    intercept[IllegalArgumentException] {
      enforce(df, "dirty", Seq(Unique("k")))
    }
  }

  test("matches the reference's fct_orders schema tests on real data") {
    val ctx = Ctx(spark, "/root/testdata/sf0.001")
    enforce(layers.Wh.fctOrders(ctx), "fct_orders", Seq(
      Unique("order_key"),
      NotNull("order_key"), NotNull("order_date"), NotNull("customer_key"),
      NotNull("gross_item_sales_amount"),
      Expect("order_count positive", col("order_count") > 0)))
  }
}
