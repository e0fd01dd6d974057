package graft

import graft.functions.MortonCode
import org.apache.spark.sql.functions._

/** Morton interleave expression + Z-ordered layout (Lake.writeZOrdered):
  * the codegen path must agree with the interpreted reference, and the
  * written layout must give every file a tight min/max span in BOTH
  * dimensions — the property parquet/Delta min-max skipping consumes —
  * where a linear sort is tight in one and useless in the other. */
class ZOrderSpec extends SparkSpec {
  override def beforeAll(): Unit = {
    super.beforeAll()
    MortonCode.register(spark)
  }

  test("codegen agrees with the interpreted reference on edge and random values") {
    val samples = Seq(
      (0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (0xFFFFFFFFL, 0L), (0L, 0xFFFFFFFFL), (123456L, 654321L),
      (0xFFFFFFFFL, 0xFFFFFFFFL))
    val s = spark; import s.implicits._
    val out = samples.toDF("a", "b")
      .selectExpr("a", "b", "zorder2(a, b) AS z").collect()
    out.foreach { r =>
      val expect = MortonCode.interleave(r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == expect, s"(${r.getLong(0)},${r.getLong(1)})")
    }
    // hand-checked: interleave(0b11, 0b10) = bits a0,b0,a1,b1 = 1,0,1,1 = 0b1011? no:
    // x=0b11 spreads to 0b0101; y=0b10 spreads to 0b0100 shifted -> 0b1000; or = 0b1101
    assert(MortonCode.interleave(3L, 2L) == 13L)
  }

  test("the expression runs inside whole-stage codegen") {
    val df = spark.range(100).selectExpr("zorder2(id, id + 1) AS z")
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` is the WholeStageCodegen stage marker: the Project evaluating
    // zorder2 must sit inside a codegen stage, not fall back to interpreted
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[zorder2.*"), plan)
    assert(df.count() == 100)
  }

  /** 256x256 uniform grid — every (x, y) cell exactly once. */
  private def grid = spark.range(65536).select(
    (col("id") % 256).as("x"),
    floor(col("id") / 256).as("y"),
    col("id").as("payload"))

  private def fileSpans(dir: String, cols: Seq[String]): Array[Map[String, (Long, Long)]] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(cols.head), max(cols.head), min(cols(1)), max(cols(1))).head()
      Map(cols.head -> ((r.getLong(0), r.getLong(1))),
        cols(1) -> ((r.getLong(2), r.getLong(3))))
    }

  test("z-ordered files are tight in BOTH dims; linear layout is not") {
    val zdir = java.nio.file.Files.createTempDirectory("lake_z").toString
    Lake.writeZOrdered(grid, zdir, "x", "y", partitions = 16)
    val zspans = fileSpans(zdir, Seq("x", "y"))
    assert(zspans.length >= 8, s"expected >=8 files, got ${zspans.length}")
    // each of 16 morton ranges over a 256x256 grid is a ~64x64 quad; the
    // range partitioner's SAMPLED boundaries can cut a few ranges across a
    // quad edge (that file then spans two quads in one dim), so assert the
    // compact-quad shape for >= 3/4 of files rather than all
    val compact = zspans.count { m =>
      m("x")._2 - m("x")._1 <= 128 && m("y")._2 - m("y")._1 <= 128
    }
    assert(compact * 4 >= zspans.length * 3,
      s"only $compact of ${zspans.length} files are compact quads: " +
        zspans.map(m => s"x${m("x")} y${m("y")}").mkString(", "))
    // baseline: same data linearly sorted by x — y min/max is the full
    // domain in every file, so a y predicate can never skip a file
    val ldir = java.nio.file.Files.createTempDirectory("lake_lin").toString
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(ldir)
    val lspans = fileSpans(ldir, Seq("x", "y"))
    assert(lspans.forall(m => m("y")._2 - m("y")._1 >= 250),
      "linear baseline unexpectedly tight in y")
  }

  /** Heavily skewed 65536-row set: x is exponential-ish (hash-derived,
    * ~half the mass below 100 but a tail out to ~6.5M stretching [min,max]
    * 5 orders of magnitude), y likewise with an independent hash. Under
    * LINEAR scaling nearly every row lands in grid value 0 of each dim —
    * the Morton code carries no information and the layout degenerates to
    * arrival order. Deterministic: no rand(), values derive from id. */
  private def skewed = spark.range(65536).select(
    (xxhash64(col("id")) % 100 + 100) * // uniform 1..200 base
      pow(lit(2.0), (pmod(xxhash64(col("id") * 31 + 7), lit(16))).cast("double"))
        .cast("long") as "x",
    (pmod(xxhash64(col("id") * 17 + 3), lit(100)) + 100) *
      pow(lit(2.0), (pmod(xxhash64(col("id") * 13 + 11), lit(16))).cast("double"))
        .cast("long") as "y",
    col("id").as("payload"))

  test("quantile cuts keep skewed layouts skippable where linear scaling degenerates") {
    val sk = skewed.withColumn("x", abs(col("x"))).withColumn("y", abs(col("y")))
    val total = sk.count()
    // rank-domain slice predicates: the lowest ~1/8 of each dim by VALUE
    val xcut = sk.stat.approxQuantile("x", Array(0.125), 0.001).head
    val ycut = sk.stat.approxQuantile("y", Array(0.125), 0.001).head

    def touched(dir: String, dim: String, hi: Double): (Int, Int) = {
      val spans = fileSpans(dir, Seq("x", "y"))
      (spans.count(m => m(dim)._1 <= hi), spans.length)
    }
    val qdir = java.nio.file.Files.createTempDirectory("lake_zq").toString
    Lake.writeZOrderedQuantile(sk, qdir, "x", "y", partitions = 16)
    assert(spark.read.parquet(qdir).count() == total, "row loss")
    val (qx, qn) = touched(qdir, "x", xcut)
    val (qy, _) = touched(qdir, "y", ycut)
    assert(qx * 2 <= qn, s"x-slice touches $qx of $qn quantile-cut files")
    assert(qy * 2 <= qn, s"y-slice touches $qy of $qn quantile-cut files")

    // the linear variant on the same data: the value tail crushes the
    // grid, files stop being skippable for the low-value mass
    val ldir = java.nio.file.Files.createTempDirectory("lake_zl").toString
    Lake.writeZOrdered(sk, ldir, "x", "y", partitions = 16)
    val (lx, ln) = touched(ldir, "x", xcut)
    assert(lx * 2 > ln,
      s"linear scaling unexpectedly skipped the skewed x-slice ($lx of $ln) " +
        "— fixture not skewed enough to justify the quantile variant")
  }

  test("min/max stats skip most files for a selective predicate on EITHER dim") {
    val zdir = java.nio.file.Files.createTempDirectory("lake_z2").toString
    Lake.writeZOrdered(grid, zdir, "x", "y", partitions = 16)
    val spans = fileSpans(zdir, Seq("x", "y"))
    // what a stats-pruning reader does: a file must be read only if its
    // [min,max] intersects the predicate range
    def filesTouched(dim: String, lo: Long, hi: Long): Int =
      spans.count(m => m(dim)._1 <= hi && m(dim)._2 >= lo)
    val n = spans.length
    assert(filesTouched("x", 0, 31) * 2 <= n,
      s"x-slice touches ${filesTouched("x", 0, 31)} of $n")
    assert(filesTouched("y", 0, 31) * 2 <= n,
      s"y-slice touches ${filesTouched("y", 0, 31)} of $n")
    // row preservation
    assert(spark.read.parquet(zdir).count() == 65536)
  }
}
