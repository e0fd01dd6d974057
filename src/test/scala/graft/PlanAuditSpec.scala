package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan audit: the properties that make these plans survive a 100×
  * scale-up are asserted, not assumed — predicate pushdown reaches the
  * parquet scan, column pruning shrinks ReadSchema to what the query needs,
  * and snowflake dimension joins broadcast instead of shuffling the fact. */
class PlanAuditSpec extends SparkSpec {
  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] = {
    val expanded = plan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    expanded.flatMap(_.collect { case f: FileSourceScanExec => f })
  }

  test("filter pushdown reaches the embeddings parquet scan (ann_brute_force)") {
    val plan = extensions.Similarity.annBruteForce(ctx).queryExecution.executedPlan
    val embScans = scans(plan).filter(_.metadata.get("Location").exists(_.contains("embeddings")))
    assert(embScans.nonEmpty)
    // the query-side scan carries the vec_id < 10 predicate into parquet
    assert(embScans.exists(_.metadata.get("PushedFilters").exists(_.contains("LessThan(vec_id,10)"))),
      embScans.map(_.metadata.get("PushedFilters")).mkString("; "))
  }

  test("column pruning: text_token_count reads only the columns it uses") {
    val plan = extensions.Text.tokenCount(ctx).queryExecution.executedPlan
    val docScans = scans(plan).filter(_.metadata.get("Location").exists(_.contains("documents")))
    assert(docScans.nonEmpty)
    docScans.foreach { f =>
      val cols = f.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("doc_id", "text", "n_chars")),
        s"scan reads more than needed: $cols")
    }
  }

  test("as-of join children push their event_type filters into the parquet scan") {
    val plan = extensions.Events.asofAttribution(ctx).queryExecution.executedPlan
    val evScans = scans(plan).filter(_.metadata.get("Location").exists(_.contains("events")))
    // both sides of the custom operator are ordinary children to the
    // optimizer: the purchase/non-purchase predicates must reach parquet
    assert(evScans.size >= 2, s"expected two event scans, got ${evScans.size}")
    assert(evScans.exists(_.metadata.get("PushedFilters").exists(_.contains("EqualTo(event_type,purchase)"))),
      evScans.map(_.metadata.get("PushedFilters")).mkString("; "))
    assert(evScans.exists(_.metadata.get("PushedFilters").exists(s =>
      s.contains("Not(EqualTo(event_type,purchase))"))),
      evScans.map(_.metadata.get("PushedFilters")).mkString("; "))
  }

  test("source_top_terms has no single-partition window (two-phase top-k)") {
    val plan = extensions.Text.sourceTopTerms(ctx).queryExecution.executedPlan
    val windows = plan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }.flatMap(_.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    })
    // both ranking windows must be partitioned (source [+ salt]); an empty
    // partitionBy would funnel the whole vocabulary through one task
    assert(windows.nonEmpty, plan.toString)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window:\n$w"))
  }

  test("column pruning: dedup_chunks and text_repetition read only doc_id+text") {
    Seq(extensions.Text.dedupChunks(ctx), extensions.Text.repetition(ctx)).foreach { df =>
      val docScans = scans(df.queryExecution.executedPlan)
        .filter(_.metadata.get("Location").exists(_.contains("documents")))
      assert(docScans.nonEmpty)
      docScans.foreach { f =>
        val cols = f.requiredSchema.fieldNames.toSet
        assert(cols.subsetOf(Set("doc_id", "text", "n_chars")),
          s"scan reads more than needed: $cols")
      }
    }
  }

  test("rollup is one Expand + one aggregate, no per-level re-scan") {
    val plan = extensions.Analytics.regionalRevenueRollup(ctx)
      .queryExecution.executedPlan
    val tree = plan.toString
    assert("ExpandExec|Expand".r.findAllIn(tree).nonEmpty, tree)
    // exactly one orders scan: the three grouping levels come from Expand,
    // not from unioning three separate aggregations of the fact
    val orderScans = scans(plan).filter(
      _.metadata.get("Location").exists(_.contains("orders")))
    assert(orderScans.size <= 2, // fct_orders' own self-join reads orders twice
      s"rollup re-scans the fact per level: ${orderScans.size} orders scans")
  }

  test("bigram LM and percentile windows are all partitioned (two-phase)") {
    // customerValuePercentiles goes through globalOrder: force the two-phase
    // path so this pins the above-bound plan shape (see ScaleSpec)
    spark.conf.set("spark.graft.globalOrder.singleTaskMaxRows", "0")
    try auditPartitionedWindows()
    finally spark.conf.unset("spark.graft.globalOrder.singleTaskMaxRows")
  }

  private def auditPartitionedWindows(): Unit = {
    Seq(extensions.Text.bigramLm(ctx),
        extensions.Analytics.customerValuePercentiles(ctx)).foreach { df =>
      val windows = df.queryExecution.executedPlan.collect {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }.flatMap(_.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      })
      assert(windows.nonEmpty)
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"unpartitioned window:\n$w"))
    }
  }

  test("knn graph, vocab, histogram: no empty-partition window anywhere") {
    // corpusVocab goes through globalOrder: force the two-phase path (the
    // above-bound plan shape; the row-count-guarded fast path is ScaleSpec's)
    spark.conf.set("spark.graft.globalOrder.singleTaskMaxRows", "0")
    try auditNoEmptyWindow()
    finally spark.conf.unset("spark.graft.globalOrder.singleTaskMaxRows")
  }

  private def auditNoEmptyWindow(): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    Seq(extensions.Similarity.annKnnGraph(ctx),
        extensions.Text.corpusVocab(ctx),
        extensions.Events.valueHistogram(ctx)).foreach { df =>
      val global = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty, s"single-partition window:\n${global.mkString}")
    }
    // and the knn top-k windows benefit from WindowGroupLimit pushdown:
    // partial per-partition top-k BEFORE the exchange (Spark 4 plans the
    // row_number<=k filter as a group-limit, so even the salted phase ships
    // at most k rows per (key, salt) into the shuffle)
    val knnPhysical = extensions.Similarity.annKnnGraph(ctx)
      .queryExecution.executedPlan.toString
    assert(knnPhysical.contains("WindowGroupLimit"), knnPhysical)
  }

  test("unpivot melt is one Expand over the pivot, no extra shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(p: SparkPlan): Int = p.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case q => q
    }.flatMap(_.collect { case s: ShuffleExchangeExec => s }).size
    val pivotPlan = extensions.Analytics.orderPriorityPivot(ctx)
      .queryExecution.executedPlan
    val meltPlan = extensions.Analytics.orderPriorityMelt(ctx)
      .queryExecution.executedPlan
    assert("ExpandExec|Expand".r.findAllIn(meltPlan.toString).nonEmpty,
      meltPlan.toString)
    assert(shuffles(meltPlan) == shuffles(pivotPlan),
      s"melt added a shuffle: ${shuffles(meltPlan)} vs ${shuffles(pivotPlan)}")
  }

  test("token budget and lang confusion: no single-partition window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // tokenBudget's global rank+cumsum goes through Scale.globalOrder
    // (pid-partitioned windows); langConfusion partitions on labeled_lang.
    // Threshold 0 forces globalOrder's two-phase path — the plan shape any
    // above-bound relation gets (the row-count-guarded fast path is audited
    // in ScaleSpec).
    val key = "spark.graft.globalOrder.singleTaskMaxRows"
    spark.conf.set(key, "0")
    try {
      Seq(extensions.Text.tokenBudget(ctx),
          extensions.Text.langConfusion(ctx)).foreach { df =>
        val global = df.queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        assert(global.isEmpty, s"single-partition window:\n${global.mkString}")
      }
    } finally spark.conf.unset(key)
  }

  test("snowflake dims broadcast: dim_customer joins nation+region without shuffling the customer side") {
    val df = layers.Wh.dimCustomer(ctx)
    df.collect() // finalize any adaptive decisions
    // the join tree sits under the Store persist's InMemoryRelation, so
    // audit the full tree string (which includes cached child plans)
    val plan = df.queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2,
      s"expected nation+region broadcast joins, got $broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "dimension join degenerated to a sort-merge join")
  }

  test("staged multi-distinct reports plan without an Expand over the fact") {
    // the r7 staged rewrites replace Spark's Expand plan (which multiplies
    // the 60M-row fact by distinct-column count) with (group, order_key)
    // grain pre-aggregation; a reintroduced COUNT(DISTINCT a), COUNT(
    // DISTINCT b) pair in one agg would silently bring the Expand back
    Seq(
      "part_type_performance" -> layers.Reports.partTypePerformance(ctx),
      "fulfillment_priority_analysis" -> layers.Reports.fulfillmentPriorityAnalysis(ctx),
      "discount_depth_analysis" -> layers.Reports.discountDepthAnalysis(ctx),
      "discount_effectiveness" -> layers.Reports.discountEffectiveness(ctx)
    ).foreach { case (name, df) =>
      val expands = df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Expand"))
      assert(expands == 0, s"$name plans $expands Expand node(s)")
    }
  }

  test("rpt_minimum_cost_suppliers: window pair shares one sort (r13)") {
    // both windows partition by (region, part); the row_number orders by
    // (cost, balance desc, supplier_key), a refinement whose sort PREFIX
    // satisfies the rank window's (region, part, cost) requirement — so
    // the two WindowExecs must stack with NO SortExec between them (the
    // eliminated sort was data-sized: the whole xrf relation). A drifted
    // window spec (e.g. reverting row_number to a per-(region,part,cost)
    // partition) silently reintroduces it.
    val plan = layers.Wh.rptMinimumCostSuppliers(ctx).queryExecution
      .executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected 2 WindowExecs, got ${windows.size}")
    // descend from the upper window's child to the lower window; any
    // SortExec on that path is the regression
    var node = windows.head.child // plan.collect is pre-order: head is upper
    while (!node.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]) {
      assert(!node.isInstanceOf[org.apache.spark.sql.execution.SortExec],
        s"a Sort crept back between the window pair:\n${windows.head}")
      assert(node.children.size == 1, s"unexpected plan shape:\n$node")
      node = node.children.head
    }
  }
}
