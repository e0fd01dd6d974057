package graft

/** Runner.manifest — the dbt `docs generate` twin: full dbt-surface model
  * census with resolved schemas, produced by analysis alone (zero jobs). */
class ManifestSpec extends SparkSpec {
  test("catalogs all 62 dbt-surface models with schemas, without scanning data") {
    // building the manifest (all model schemas) may only run METADATA jobs
    // (parquet footer/schema reads are 1-task jobs); any multi-task job
    // would mean a model was executed rather than analyzed
    val tracker = spark.sparkContext.statusTracker
    val jobsBefore = tracker.getJobIdsForGroup(null).toSet
    val m = Runner.manifest(ctx)
    val newJobs = tracker.getJobIdsForGroup(null).toSet -- jobsBefore
    val maxTasks = newJobs.toSeq.flatMap(id =>
      tracker.getJobInfo(id).toSeq.flatMap(_.stageIds().toSeq)
        .flatMap(s => tracker.getStageInfo(s).toSeq.map(_.numTasks()))).maxOption
    assert(maxTasks.forall(_ <= 2),
      s"manifest construction ran a ${maxTasks.get}-task job — that's a scan")
    val rows = m.collect()
    assert(rows.length >= 62, s"only ${rows.length} models catalogued")
    val byName = rows.map(r => r.getString(0) ->
      (r.getString(1), r.getSeq[String](2))).toMap
    // spot checks against known shapes
    assert(byName("dim_customer")._1 == "table(wh)")
    assert(byName("fct_orders")._2.exists(_.startsWith("order_key:")))
    val pricing = byName.keys.find(_.contains("pricing_summary"))
    assert(pricing.isDefined)
    // every model has a non-empty, name:type formatted schema
    byName.values.foreach { case (_, cols) =>
      assert(cols.nonEmpty && cols.forall(_.contains(":")))
    }
    // materializations cover the dbt config's four classes
    val mats = rows.map(_.getString(1)).toSet
    assert(mats == Set("table(ods)", "table(wh)", "view", "table"), mats.toString)
  }
}
