package graft

import org.apache.spark.sql.functions._

/** Event-lake layout posture (Lake.writeTimePartitioned / Lake.compact):
  * at 100 TB the difference between scanning a day and scanning the corpus
  * is (a) directory-level partition pruning and (b) tight per-file sort-key
  * ranges for row-group skipping — both are write-time decisions, so prove
  * the written layout actually delivers them, and that compaction preserves
  * the row multiset while collapsing the file count. */
class LakeLayoutSpec extends SparkSpec {
  private def events = {
    import spark.implicits._
    spark.range(40000).select(
      col("id").as("event_id"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 8).cast("int")).as("dt"),
      (col("id") * 37 % 100000).as("user_id"),
      (col("id") % 1000).cast("double").as("value"))
  }

  test("writeTimePartitioned: date predicate becomes partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("lake_tp").toString
    Lake.writeTimePartitioned(events, dir, "dt", Seq("user_id"))
    val back = spark.read.parquet(dir)
    val q = back.filter(col("dt") === lit(java.sql.Date.valueOf("2024-01-03")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no PartitionFilters in:\n$plan")
    // pruning is real, not cosmetic: only the one matched date directory's
    // files are read (the scan's own numFiles metric, after execution)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.get
    }
    val scanned = filesRead(q)
    val allFiles = filesRead(back)
    assert(scanned * 8 <= allFiles + 7,
      s"pruned scan still reads $scanned of $allFiles files")
    assert(q.count() == 5000)
  }

  test("writeTimePartitioned: files carry tight, disjoint sort-key ranges") {
    val dir = java.nio.file.Files.createTempDirectory("lake_rs").toString
    Lake.writeTimePartitioned(events, dir, "dt", Seq("user_id"), partitions = 4)
    // read each parquet file individually; its user_id span must be a
    // narrow slice of the global [0, 100000) domain — that tightness is
    // exactly what parquet row-group min/max skipping consumes
    val files = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 8, s"expected >=8 data files, got ${files.length}")
    val spans = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("user_id"), max("user_id")).head()
      r.getLong(1) - r.getLong(0)
    }
    assert(spans.forall(_ <= 100000L / 3),
      s"file spans not tight: ${spans.mkString(",")}")
  }

  test("compact: collapses to one file per date, preserves the row multiset") {
    val dir = java.nio.file.Files.createTempDirectory("lake_cp").toString
    // deliberately shard: 16 writer partitions x 8 dates = ~128 small files
    events.repartition(16).write.mode("overwrite").partitionBy("dt").parquet(dir)
    def dataFiles() = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet")))
    val before = dataFiles()
    assert(before.sum > 50, s"precondition: expected many shards, got ${before.sum}")
    val checksumBefore = spark.read.parquet(dir)
      .select(xxhash64(col("event_id"), col("user_id"), col("value")).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)
    Lake.compact(spark, dir, "dt")
    val after = dataFiles()
    assert(after.length == 8 && after.forall(_ == 1),
      s"expected 1 file in each of 8 partitions, got ${after.mkString(",")}")
    val backCount = spark.read.parquet(dir).count()
    val checksumAfter = spark.read.parquet(dir)
      .select(xxhash64(col("event_id"), col("user_id"), col("value")).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)
    assert(backCount == 40000 && checksumAfter == checksumBefore)
  }

  test("compactFragmented bin-packs a big partition into N>1 bounded files") {
    val dir = java.nio.file.Files.createTempDirectory("lake_bp").toString
    // one hot date fragmented into 16 shards; the rest have 1 file each
    val hot = events.filter(col("dt") === lit(java.sql.Date.valueOf("2024-01-03")))
    val cold = events.filter(col("dt") =!= lit(java.sql.Date.valueOf("2024-01-03")))
    cold.coalesce(1).write.mode("overwrite").partitionBy("dt").parquet(dir)
    hot.repartition(16).write.mode("append").partitionBy("dt").parquet(dir)
    val hotDir = new java.io.File(s"$dir/dt=2024-01-03")
    val hotBytes = hotDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum
    val checksumBefore = spark.read.parquet(dir)
      .select(xxhash64(col("event_id"), col("user_id"), col("value")).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)
    // target a third of the partition per file -> expect ~3-4 output files,
    // each a task of bounded size (no single-task straggler rewrite)
    val done = Lake.compactFragmented(spark, dir, "dt", minFiles = 4,
      sortCols = Seq("user_id"), targetFileBytes = hotBytes / 3)
    assert(done == Seq("dt=2024-01-03"), s"compacted: $done")
    val after = hotDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(after > 1 && after < 16, s"expected bin-packed files, got $after")
    val checksumAfter = spark.read.parquet(dir)
      .select(xxhash64(col("event_id"), col("user_id"), col("value")).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)
    assert(checksumAfter == checksumBefore, "compaction changed the row multiset")
    // cold partitions untouched (still single-file)
    val coldFiles = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filterNot(d => d.getName.startsWith("_") || d.getName == "dt=2024-01-03")
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(coldFiles.forall(_ == 1))
  }

  test("compactFragmented descends nested hive partitions to the leaf") {
    val dir = java.nio.file.Files.createTempDirectory("lake_nest").toString
    // src must vary WITHIN a date (dt is id%8, so use a modulus coprime
    // to 8) or the sibling-leaf assertions have nothing to check
    val tagged = events.withColumn("src",
      when(col("event_id") % 3 === 0, "web").otherwise("app"))
    // fragment exactly one (dt, src) leaf; every other leaf stays 1 file
    val hot = tagged.filter(col("dt") === lit(java.sql.Date.valueOf("2024-01-03"))
      && col("src") === "web")
    val cold = tagged.filter(!(col("dt") === lit(java.sql.Date.valueOf("2024-01-03"))
      && col("src") === "web"))
    cold.coalesce(1).write.mode("overwrite").partitionBy("dt", "src").parquet(dir)
    hot.repartition(8).write.mode("append").partitionBy("dt", "src").parquet(dir)
    val checksumBefore = spark.read.parquet(dir)
      .select(xxhash64(col("event_id"), col("user_id"), col("value")).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)
    val done = Lake.compactFragmented(spark, dir, "dt", minFiles = 4)
    assert(done == Seq("dt=2024-01-03/src=web"), s"compacted: $done")
    val leaf = new java.io.File(s"$dir/dt=2024-01-03/src=web")
    assert(leaf.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    val checksumAfter = spark.read.parquet(dir)
      .select(xxhash64(col("event_id"), col("user_id"), col("value")).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)
    assert(checksumAfter == checksumBefore, "compaction changed the row multiset")
    // sibling leaf of the same date untouched
    val sibling = new java.io.File(s"$dir/dt=2024-01-03/src=app")
    assert(sibling.listFiles().count(_.getName.endsWith(".parquet")) == 1)
  }
}
