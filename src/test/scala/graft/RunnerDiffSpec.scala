package graft

import org.apache.spark.sql.functions._

/** Runner.diff — the recce regression twin (reference pyproject.toml:10,
  * Makefile:54-58): two deliberately-divergent builds must report exact
  * added/removed/changed counts, and identical builds must report clean.
  * All comparisons are multiset-exact (duplicate rows count). */
class RunnerDiffSpec extends SparkSpec {
  private def mkBuild(dir: String)(tables: (String, org.apache.spark.sql.DataFrame)*): Unit =
    tables.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$n")
    }

  test("identical builds diff clean; divergent builds report exact deltas") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_diff").toString
    val a = s"$root/base"
    val b = s"$root/current"

    val customers = Seq((1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "carol", 30.0))
      .toDF("id", "name", "balance")
    // current build: carol's balance changed, dave added, bob removed
    val customersB = Seq((1L, "alice", 10.0), (3L, "carol", 35.0), (4L, "dave", 5.0))
      .toDF("id", "name", "balance")
    // a table with DUPLICATE rows: multiset semantics must catch one copy
    val events = Seq(("x", 1), ("x", 1), ("y", 2)).toDF("k", "v")
    val eventsB = Seq(("x", 1), ("y", 2)).toDF("k", "v")
    val stable = spark.range(100).select(col("id"), (col("id") * 2).as("v"))

    mkBuild(a)("customers" -> customers, "events" -> events, "stable" -> stable,
      "only_a" -> Seq(1).toDF("z"))
    mkBuild(b)("customers" -> customersB, "events" -> eventsB, "stable" -> stable,
      "only_b" -> Seq(1, 2).toDF("z"))

    val diffs = Runner.diff(spark, a, b, keys = Map("customers" -> Seq("id")))
      .map(d => d.table -> d).toMap

    val c = diffs("customers")
    assert(c.onlyInA == 2 && c.onlyInB == 2, c)      // bob + old carol / dave + new carol
    assert(c.changedKeys.contains(1L), c)            // carol changed in place
    assert(!c.schemaChanged && c.rowsA == 3 && c.rowsB == 3)

    val e = diffs("events")
    assert(e.onlyInA == 1 && e.onlyInB == 0, e)      // one duplicate (x,1) dropped

    assert(diffs("stable").identical)
    assert(diffs("only_a").schemaChanged && diffs("only_a").onlyInA == 1)
    assert(diffs("only_b").schemaChanged && diffs("only_b").onlyInB == 2)
  }

  test("schema change is reported and row diff skipped") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_diff_schema").toString
    mkBuild(s"$root/a")("t" -> Seq((1, "x")).toDF("id", "name"))
    mkBuild(s"$root/b")("t" -> Seq((1, 2)).toDF("id", "name")) // name: string → int
    val Seq(d) = Runner.diff(spark, s"$root/a", s"$root/b")
    assert(d.schemaChanged && d.changedKeys.isEmpty && !d.identical)
  }
}
