package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streams.lakeSink — the streaming event-lake landing loop: microbatches
  * append into the date-partitioned layout, files accrete, and the
  * in-pipeline compaction collapses them back without losing a row. */
class LakeSinkSpec extends SparkSpec {
  test("appends accrete small files; scheduled compaction collapses them, row-exact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("lake_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lake_sink_ck").toString
    val mem = MemoryStream[Long]
    val shaped = mem.toDF().select(
      col("value").as("event_id"),
      date_add(lit(java.sql.Date.valueOf("2024-06-01")),
        (col("value") % 3).cast("int")).as("dt"),
      (col("value") * 37 % 1000).as("user_id"))
    val q = Streams.lakeSink(shaped, target, ckpt, compactEvery = 4).start()
    try {
      // batches 0..3: files accrete (2 per date per batch); batch 4 compacts
      for (b <- 0 until 4) {
        mem.addData((b * 300L) until (b * 300L + 300L): _*)
        q.processAllAvailable()
      }
      def filesPerDate(): Map[String, Int] =
        new java.io.File(target).listFiles().filter(_.isDirectory)
          .filterNot(_.getName.startsWith("_"))
          .map(d => d.getName ->
            d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
      val before = filesPerDate()
      assert(before.values.sum >= 12,
        s"expected accreted shards before compaction, got $before")
      mem.addData(1200L until 1500L: _*)
      q.processAllAvailable() // batchId 4 -> compaction fires
      val after = filesPerDate()
      assert(after.values.forall(_ <= 2),
        s"compaction left multi-file partitions: $after")
      val back = spark.read.parquet(target)
      assert(back.count() == 1500)
      assert(back.select(countDistinct(col("event_id"))).head().getLong(0) == 1500)
    } finally q.stop()
  }

  test("versionedSink: atomic batch commits, manifest-driven compaction, time travel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("v_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("v_sink_ck").toString
    val mem = MemoryStream[Long]
    val shaped = mem.toDF().select(
      col("value").as("event_id"),
      date_add(lit(java.sql.Date.valueOf("2024-06-01")),
        (col("value") % 3).cast("int")).as("dt"))
    val q = Streams.versionedSink(shaped, target, ckpt,
      compactEvery = 4, minFiles = 3).start()
    try {
      for (b <- 0 until 4) {
        mem.addData((b * 300L) until (b * 300L + 300L): _*)
        q.processAllAvailable()
      }
      // 4 committed versions, one per batch; each partition has 4 shards
      val m4 = Versioned.readManifest(spark, target)
      assert(m4.version == 3L)
      assert(m4.files.groupBy(_.part).values.forall(_.size >= 4))
      mem.addData(1200L until 1500L: _*)
      q.processAllAvailable() // batch 4 -> append commit + compaction commit
      val m = Versioned.readManifest(spark, target)
      assert(m.version == 5L, s"expected append+compaction commits, at v${m.version}")
      assert(m.files.groupBy(_.part).values.forall(_.size == 1),
        "compaction left fragmented partitions in the live manifest")
      val now = Versioned.read(spark, target)
      assert(now.count() == 1500)
      assert(now.select(countDistinct(col("event_id"))).head().getLong(0) == 1500)
      // the pre-compaction snapshot is still whole (time travel)
      assert(Versioned.read(spark, target, Some(3L)).count() == 1200)
    } finally q.stop()
  }
}
