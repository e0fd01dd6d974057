package graft

import graft.functions.KllSketch
import graft.operators.ExactQuantile
import org.apache.spark.sql.functions._

/** KLL quantile sketch + sketch-narrowed exact percentiles: the certified
  * rank-error bound must hold (that certificate is what makes the exact
  * second pass sound), the summary must stay bounded, and ExactQuantile
  * must agree with Spark's own full-sort percentile_cont to the last bit. */
class KllSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    KllSketch.register(spark)
  }

  test("certified rank error bound holds on a shuffled uniform stream") {
    val df = spark.range(100000)
      .select((col("id") * 2654435761L % 100000).as("v").cast("double").as("v"))
    val s = df.agg(expr("kll_sketch(v, 256)").as("s")).select("s.*").head()
    val n = s.getLong(0)
    val err = s.getLong(1)
    assert(n == 100000)
    // sketch footprint stays bounded: items <= k * levels, far below n
    assert(s.getSeq[org.apache.spark.sql.Row](2).length < 5000)
    // check the certificate at several quantiles: the reported value's true
    // rank must lie within ±err of the queried rank
    for (q <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
      val r = math.round(q * (n - 1))
      val v = KllSketch.valueAtRank(s, r)
      val trueRank = df.filter(col("v") < v).count()
      assert(math.abs(trueRank - r) <= err,
        s"q=$q rank=$r trueRank=$trueRank err=$err")
    }
    // and err is actually useful (a loose certificate would make the exact
    // pass scan everything): <= a few percent of n for k=256
    assert(err < n / 10, s"err=$err too loose")
  }

  test("merge is partition-shape independent: certificate holds at 1 and 16 partitions") {
    val df = spark.range(50000).select(pow(col("id") % 1000, 2.0).as("v"))
    for (parts <- Seq(1, 16)) {
      val s = df.repartition(parts)
        .agg(expr("kll_sketch(v, 256)").as("s")).select("s.*").head()
      val n = s.getLong(0)
      val err = s.getLong(1)
      val v = KllSketch.valueAtRank(s, n / 2)
      val trueRank = df.filter(col("v") < v).count()
      assert(math.abs(trueRank - n / 2) <= err, s"parts=$parts")
    }
  }

  test("ExactQuantile matches full-sort percentile_cont exactly (incl. interpolation)") {
    val df = spark.range(30001)
      .select(((col("id") * 48271 % 30011) + (col("id") % 7) / 10.0).as("v"))
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val got = ExactQuantile.percentiles(df, "v", qs, k = 256)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val want = qs.map { q =>
      q -> df.agg(expr(s"percentile_cont($q) WITHIN GROUP (ORDER BY v)"))
        .head().getDouble(0)
    }.toMap
    qs.foreach { q =>
      assert(got(q) == want(q), s"q=$q got=${got(q)} want=${want(q)}")
    }
  }

  test("empty input yields an empty result, not an NPE") {
    val s = spark; import s.implicits._
    val out = ExactQuantile.percentiles(
      Seq.empty[Double].toDF("v"), "v", Seq(0.5))
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("quantile", "value"))
  }

  test("small inputs: exact even when the sketch never compacts") {
    val s = spark; import s.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("v")
    val got = ExactQuantile.percentiles(df, "v", Seq(0.5, 0.9), k = 16)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got(0.5) == 3.0)
    assert(got(0.9) == 4.6)
  }
}
