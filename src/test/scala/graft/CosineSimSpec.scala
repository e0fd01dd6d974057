package graft

import graft.functions.CosineSim
import org.apache.spark.sql.functions._

/** Native cosine_sim must be BIT-identical to the higher-order-function
  * fold it replaced (same sequential accumulation order), or the oracle
  * hash-match breaks — compared here as exact doubles, no tolerance. */
class CosineSimSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    CosineSim.register(spark)
  }

  private def hof(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"aggregate(zip_with($x, $y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  test("bit-identical to the aggregate(zip_with) fold on float arrays") {
    val df = spark.range(2000).selectExpr(
      "transform(sequence(0, 63), i -> CAST(sin(id * 131 + i * 17) AS FLOAT)) AS a",
      "transform(sequence(0, 63), i -> CAST(cos(id * 37 + i * 131) AS FLOAT)) AS b")
    val bad = df.selectExpr(s"cosine_sim(a, b) AS native", s"${hof("a", "b")} AS hofv")
      .filter("native IS DISTINCT FROM hofv")
    assert(bad.isEmpty, bad.take(3).mkString(";"))
  }

  test("bit-identical on real embeddings, and null on length mismatch") {
    val e = Ctx(spark, "/root/testdata/sf0.001").tbl("embeddings").limit(200)
    val pairs = e.selectExpr("embedding AS a", "vec_id")
      .crossJoin(e.selectExpr("embedding AS b", "vec_id AS v2").limit(20))
    val bad = pairs.selectExpr(s"cosine_sim(a, b) AS native", s"${hof("a", "b")} AS hofv")
      .filter("native IS DISTINCT FROM hofv")
    assert(bad.isEmpty)
    val mismatch = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c")
    assert(mismatch.head().isNullAt(0))
  }

  test("zero-norm vector yields null (Divide semantics), both eval paths") {
    // codegen path
    val gen = spark.sql(
      "SELECT cosine_sim(array(0D, 0D), array(1D, 2D)) AS c1, " +
        "cosine_sim(array(1D, 2D), array(0D, 0D)) AS c2")
    val row = gen.head()
    assert(row.isNullAt(0) && row.isNullAt(1))
    // interpreted path (eval through a literal fold, no wholestage)
    val interp = CosineSim(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.0, 0.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3.0, 4.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))).eval(null)
    assert(interp == null)
    // and it must agree with the non-ANSI Divide semantics the HOF form had
    // (under ANSI — the session default — the HOF form would throw instead;
    // DuckDB 1.0 returns NULL for double x/0, so null is the oracle-parity
    // answer)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val hofRow = spark.sql(
        s"SELECT ${hof("array(0D, 0D)", "array(1D, 2D)")} AS h").head()
      assert(hofRow.isNullAt(0))
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("non-float/double array arguments fail analysis") {
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim(array(1, 2), array(3, 4))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("cosine_sim"))
  }
}
