package graft

import graft.functions.FreqItemsSketch
import org.apache.spark.sql.functions._

/** Misra-Gries frequent-items TypedImperativeAggregate: the no-false-negative
  * guarantee (every item with true frequency > 2N/capacity is present), the
  * error-bound invariant (lb ≤ true ≤ ub), merge correctness across
  * partitionings, and the exact-when-room case. */
class FreqItemsSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    FreqItemsSketch.register(spark)
  }

  /** Zipf-ish stream: item k appears ~N/k²-ish times via pmod trickery —
    * a few heavy keys over a long tail of near-singletons. */
  private def zipfish = {
    val s = spark
    import s.implicits._
    // heavy: "h0".."h9" with descending counts; tail: 30k distinct singletons
    val heavy = (0 until 10).flatMap(k => Seq.fill((10 - k) * 2000)(s"h$k"))
    val tail = (0 until 30000).map(i => s"t$i")
    (heavy ++ tail).toDF("v")
  }

  test("exact when capacity exceeds distinct count") {
    val s = spark; import s.implicits._
    val df = Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val out = df.toDF("v")
      .selectExpr("inline(freq_items(v, 64))")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("a", 7L, 7L), ("b", 3L, 3L), ("c", 1L, 1L)))
  }

  test("no false negatives: all items above 2N/cap survive a tiny sketch") {
    val n = zipfish.count()
    val cap = 256
    val present = zipfish
      .selectExpr(s"inline(freq_items(v, $cap))")
      .collect().map(_.getString(0)).toSet
    // h0..h9 have counts 20000..2000; threshold 2N/256 ≈ 1171 < 2000
    (0 until 10).foreach { k =>
      assert(present.contains(s"h$k"), s"heavy item h$k missing (N=$n)")
    }
  }

  test("error invariant lb <= true <= ub, and ub bound 2N/cap holds") {
    val exact = zipfish.groupBy("v").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val cap = 256
    val rows = zipfish.repartition(8)
      .selectExpr(s"inline(freq_items(v, $cap))")
      .collect()
    rows.foreach { r =>
      val (item, lb, ub) = (r.getString(0), r.getLong(1), r.getLong(2))
      val t = exact(item)
      assert(lb <= t && t <= ub, s"$item: lb=$lb true=$t ub=$ub")
      assert(ub - lb <= 2L * n / cap + 1, s"offset ${ub - lb} exceeds 2N/cap")
    }
  }

  test("partition-count invariance of the guarantee (1 vs 16 partitions)") {
    def heavySet(parts: Int): Set[String] = zipfish.repartition(parts)
      .selectExpr("inline(freq_items(v, 256))")
      .collect().map(_.getString(0)).toSet
      .filter(_.startsWith("h"))
    assert(heavySet(1).intersect((0 until 10).map("h" + _).toSet).size == 10)
    assert(heavySet(16).intersect((0 until 10).map("h" + _).toSet).size == 10)
  }

  test("items beyond writeUTF's 64KB limit survive partial-aggregate serialization") {
    val s = spark; import s.implicits._
    val big = "x" * 100000 // an unbroken 100KB "token" (base64 blob shape)
    val df = (Seq.fill(50)(big) ++ (0 until 200).map(i => s"t$i")).toDF("v")
    // repartition forces serialize/merge of partial buffers across tasks
    val out = df.repartition(8)
      .selectExpr("inline(freq_items(v, 64))")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hit = out.find(_._1 == big)
    assert(hit.isDefined, "oversized item lost")
    assert(hit.get._2 <= 50 && 50 <= hit.get._3)
  }

  test("grouped aggregation; nulls skipped") {
    val df = spark.range(10000).select(
      pmod(col("id"), lit(2L)).as("g"),
      when(col("id") % 100 === 0, lit(null))
        .otherwise(concat(lit("v"), pmod(col("id"), lit(5L)))).as("v"))
    val rows = df.groupBy("g").agg(expr("freq_items(v, 64)").as("f"))
      .selectExpr("g", "inline(f)").collect()
    assert(rows.length == 10) // 2 groups × 5 values
    rows.foreach(r => assert(r.getLong(2) > 0))
  }
}
