package graft

import graft.operators.RangeJoin
import org.apache.spark.sql.functions._

/** Binned point-in-interval join: result-identical to the naive theta join,
  * but planned as a hash equi-join on the bin — never the quadratic
  * BroadcastNestedLoopJoin Spark gives a bare BETWEEN join condition. */
class RangeJoinSpec extends SparkSpec {
  private def points = spark.range(500).select(
    date_add(lit(java.sql.Date.valueOf("1995-01-01")),
      (col("id") * 13 % 900).cast("int")).as("day"),
    col("id").as("pid"))

  private def intervals = spark.range(300).select(
    date_add(lit(java.sql.Date.valueOf("1995-01-01")),
      (col("id") * 31 % 880).cast("int")).as("lo"),
    col("id").as("iid"))
    .withColumn("hi", date_add(col("lo"), (col("iid") % 45).cast("int")))

  test("matches the naive theta join exactly") {
    val got = RangeJoin.pointInInterval(points, "day",
        intervals, "lo", "hi", RangeJoin.dateBin(16))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = points.join(intervals,
        col("day") >= col("lo") && col("day") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"sizes got=${got.size} want=${want.size}")
    assert(want.nonEmpty, "vacuous: no matching pairs generated")
  }

  test("plans as an equi-join on the bin, not a nested loop") {
    val planned = RangeJoin.pointInInterval(points, "day",
      intervals, "lo", "hi", RangeJoin.dateBin(16))
    val plan = planned.queryExecution.executedPlan.toString
    // the data path is the bin equi-join; the only nested loop allowed is
    // the guarded BROADCAST branch that carries intervals wider than
    // maxBinsPerInterval (sentinels) — never a data-scaled nested loop
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.replace("BroadcastNestedLoop", "").contains("NestedLoop"), plan)
    // while the naive condition (same inputs, no bins) nested-loops —
    // with RewriteRangeJoin disabled, since the rule (if registered in
    // this shared session) would otherwise rescue exactly this plan
    spark.conf.set("spark.graft.rangejoin.enabled", "false")
    try {
      val naive = points.join(intervals,
        col("day") >= col("lo") && col("day") <= col("hi"))
      assert(naive.queryExecution.executedPlan.toString.contains("NestedLoop"))
    } finally spark.conf.set("spark.graft.rangejoin.enabled", "true")
  }

  test("points on interval endpoints are included; outside excluded") {
    val s = spark; import s.implicits._
    val p = Seq(("2000-01-01", 1L), ("2000-01-10", 2L), ("2000-01-11", 3L),
      ("1999-12-31", 4L))
      .toDF("d", "pid").select(col("d").cast("date").as("day"), col("pid"))
    val iv = Seq(("2000-01-01", "2000-01-10", 100L))
      .toDF("l", "h", "iid")
      .select(col("l").cast("date").as("lo"), col("h").cast("date").as("hi"), col("iid"))
    val got = RangeJoin.pointInInterval(p, "day", iv, "lo", "hi",
      RangeJoin.dateBin(16)).select("pid").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("operator guards: inverted intervals empty, sentinel-wide via broadcast") {
    val s_ = spark; import s_.implicits._
    val iv = Seq(
      ("2000-01-01", "2000-01-20", 1L),   // normal
      ("2000-02-01", "1999-01-01", 2L),   // inverted (corrupt): must match nothing
      ("1995-01-01", "9999-12-31", 3L))   // sentinel-wide: broadcast branch
      .toDF("l", "h", "iid")
      .select(col("l").cast("date").as("lo"), col("h").cast("date").as("hi"), col("iid"))
    val p = Seq(("2000-01-05", 10L), ("2024-06-01", 11L))
      .toDF("d", "pid").select(col("d").cast("date").as("day"), col("pid"))
    val got = RangeJoin.pointInInterval(p, "day", iv, "lo", "hi",
        RangeJoin.dateBin(16))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pid 10 in interval 1 and sentinel 3; pid 11 only in sentinel 3;
    // the inverted interval 2 contributes nothing (and, crucially, does
    // not explode the bin space)
    assert(got == Set((10L, 1L), (10L, 3L), (11L, 3L)), got.toString)
  }
}
