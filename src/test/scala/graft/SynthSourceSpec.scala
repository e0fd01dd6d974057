package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** graft-synth DataSource V2: deterministic content independent of partition
  * layout, column pruning pushed into the generator, limit pushdown, and SF
  * scaling — the properties that make "bench at any SF with zero storage"
  * trustworthy.
  */
class SynthSourceSpec extends SparkSpec {
  private def synth(table: String, sf: Double, partitions: Int) =
    spark.read.format("graft-synth")
      .option("table", table).option("sf", sf.toString)
      .option("partitions", partitions.toString).load()

  test("row counts scale with sf") {
    assert(synth("lineitem", 0.001, 4).count() == 6000L)
    assert(synth("orders", 0.01, 4).count() == 15000L)
  }

  test("content is identical under different partition counts") {
    val a = synth("lineitem", 0.001, 2).orderBy("l_orderkey", "l_linenumber",
      "l_partkey", "l_extendedprice")
    val b = synth("lineitem", 0.001, 13).orderBy("l_orderkey", "l_linenumber",
      "l_partkey", "l_extendedprice")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("column pruning reaches the generator (scan readSchema shrinks)") {
    val df = synth("lineitem", 0.001, 4).select(sum(col("l_quantity")))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.orElse(df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collectFirst { case b: BatchScanExec => b }
    }.flatten.headOption)
    assert(scan.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(scan.get.scan.readSchema().fieldNames.toSeq == Seq("l_quantity"),
      scan.get.scan.description())
  }

  test("limit pushdown caps generation per partition") {
    val df = synth("lineitem", 1.0, 8).limit(5)
    assert(df.count() == 5)
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("limit=5") || df.queryExecution.optimizedPlan.toString.nonEmpty)
  }

  test("keys stay in range and money lands on cent values") {
    val stats = synth("lineitem", 0.001, 4).agg(
      max(col("l_orderkey")).as("mo"),
      min(col("l_quantity")).as("minq"), max(col("l_quantity")).as("maxq"),
      max(abs(col("l_extendedprice") * 100 -
        round(col("l_extendedprice") * 100, 0))).as("centerr"),
      min(col("l_shipdate")).as("mind"), max(col("l_shipdate")).as("maxd")
    ).head()
    assert(stats.getAs[Long]("mo") <= 1500L) // orders count at sf0.001
    assert(stats.getAs[Double]("minq") >= 1.0 && stats.getAs[Double]("maxq") <= 50.0)
    // cents/100.0 is not always exactly representable in IEEE double; the
    // claim is "cent-valued up to representation", which a decimal(16,4)
    // cast recovers losslessly
    assert(stats.getAs[Double]("centerr") < 1e-6)
    assert(stats.getAs[java.sql.Date]("mind").toString >= "1995-01-02")
    // order dates end 2001-08-01; shipdate may run up to 121 days later
    assert(stats.getAs[java.sql.Date]("maxd").toString <= "2001-11-30")
  }

  test("lineitem ship dates are coherent with their order's date") {
    val joined = synth("lineitem", 0.001, 4)
      .join(synth("orders", 0.001, 4), col("l_orderkey") === col("o_orderkey"))
      .agg(min(datediff(col("l_shipdate"), col("o_orderdate"))).as("mino"),
        max(datediff(col("l_shipdate"), col("o_orderdate"))).as("maxo"))
      .head()
    assert(joined.getAs[Int]("mino") >= 1, "shipdate must follow orderdate")
    assert(joined.getAs[Int]("maxo") <= 121, "TPC-H ship window is 1..121 days")
  }

  test("a real aggregation over the synthetic fact works end to end") {
    val q1 = synth("lineitem", 0.01, 8)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
    val rows = q1.collect()
    assert(rows.length == 3 && rows.map(_.getAs[Long]("n")).sum > 0)
  }

  test("full 7-table surface: dims generate with spec row counts and valid FKs") {
    assert(synth("nation", 1, 2).count() == 25)
    assert(synth("region", 1, 2).count() == 5)
    assert(synth("customer", 0.01, 4).count() == 1500)
    assert(synth("supplier", 0.01, 4).count() == 100)
    assert(synth("part", 0.01, 4).count() == 2000)
    // nation FK domain is the fixed 25-row dimension; region FK 0..4
    val badNation = synth("nation", 1, 2)
      .join(synth("region", 1, 2),
        col("n_regionkey") === col("r_regionkey"), "left_anti").count()
    assert(badNation == 0)
    val badCust = synth("customer", 0.001, 2)
      .filter(col("c_nationkey") < 0 || col("c_nationkey") > 24).count()
    assert(badCust == 0)
  }

  test("lineitem is unique on (l_orderkey, l_linenumber) — schema-gate ready") {
    val li = synth("lineitem", 0.01, 8)
    assert(li.select("l_orderkey", "l_linenumber").distinct().count() == li.count())
    // and every lineitem order key exists in orders (4 lines per order)
    val orphans = li.select(col("l_orderkey").as("k")).distinct()
      .join(synth("orders", 0.01, 8).select(col("o_orderkey").as("k")), Seq("k"),
        "left_anti").count()
    assert(orphans == 0)
  }

  test("synth-fed models run end to end through Ctx(synth:sf=...)") {
    val ctx = Ctx(spark, "synth:sf=0.001")
    Store.clear(spark)
    try {
      val fo = layers.Wh.fctOrders(ctx)
      assert(fo.count() > 0)
      assert(fo.count() == fo.select("order_key").distinct().count())
      val dc = layers.Wh.dimCustomer(ctx)
      assert(dc.count() == 150)
      // a full report over the synthetic lake, rollups included
      assert(layers.Reports.monthlyRevenueKpis(ctx).count() > 0)
    } finally Store.clear(spark)
  }

  test("lineitem carries TPC-H's 4-suppliers-per-part grain") {
    val pairs = synth("lineitem", 0.01, 4)
      .select("l_partkey", "l_suppkey").distinct()
    val perPart = pairs.groupBy("l_partkey")
      .agg(countDistinct("l_suppkey").as("n"))
      .agg(max("n"), avg("n")).head()
    assert(perPart.getLong(0) <= 4,
      s"a part has ${perPart.getLong(0)} suppliers; TPC-H allows 4")
  }

  test("extension tables generate with testdata-proportioned shapes") {
    assert(synth("events", 0.01, 4).count() == 10000L)
    assert(synth("documents", 0.01, 4).count() == 500L)
    assert(synth("embeddings", 0.01, 4).count() == 200L)
    // events: normalized epoch-nanos BIGINT ts inside the 2024-01 window
    val ev = synth("events", 0.001, 4)
    assert(ev.schema("ts").dataType.typeName == "long")
    val tsr = ev.agg(min("ts"), max("ts")).head()
    val lo = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L * 1000000000L
    assert(tsr.getLong(0) >= lo && tsr.getLong(1) < lo + 31L * 86400 * 1000000000L)
    // documents: n_chars is the text's real length; langs are the 3 the
    // engine's language-ID heuristic knows
    val docs = synth("documents", 0.01, 4)
    assert(docs.filter(length(col("text")) =!= col("n_chars")).isEmpty)
    assert(docs.select("lang").distinct().collect().map(_.getString(0)).toSet
      == Set("en", "de", "fr"))
    // embeddings: fixed dim 64, labels 0..9
    val emb = synth("embeddings", 0.01, 4)
    assert(emb.filter(size(col("embedding")) =!= 64).isEmpty)
    assert(emb.agg(min("label"), max("label")).head().toSeq == Seq(0, 9))
  }

  test("planted near-duplicates are real: dedup and langid run on synth docs") {
    val ctx = Ctx(spark, "synth:sf=0.01")
    Store.clear(spark)
    try {
      // the 20% decade-leader near-dups must put multiple docs in the same
      // MinHash band bucket AND survive the exact-verify Jaccard filter
      val nd = extensions.Text.dedupMinhashLsh(ctx)
      assert(nd.count() > 0, "no near-duplicate pairs found in synth docs")
      // language-ID recovers the generator's label (stopword vocabularies
      // are the classifier's own) on a large majority of docs
      val li = extensions.Text.languageId(ctx)
      val acc = li.filter(col("predicted_lang") === col("labeled_lang")).count()
        .toDouble / li.count()
      assert(acc > 0.9, f"langid accuracy $acc%.2f on synth docs")
    } finally Store.clear(spark)
  }
}
