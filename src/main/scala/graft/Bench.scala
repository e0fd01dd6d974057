package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import scala.collection.immutable.ListMap

/** Driver benchmark: per-query timings plus the full-build lifecycle twin.
  *
  * Per-query action: bit_xor(xxhash64(all columns)) — every output column
  * of every row is computed and combined, so column pruning cannot gut
  * projection-only queries the way a bare count() did (the final ORDER BY is
  * still eliminated under the aggregate, which is a uniform wash across
  * queries, not a per-query bias). bit_xor, NOT sum: under the session's
  * default ANSI mode a sum of ~uniform 64-bit hashes overflows and aborts
  * the action partway — xor is order-independent and cannot overflow.
  *
  * Full build: the reference's only published number is the end-to-end
  * `dbt build` (~5 min for 62 models at SF10, reference README.md:71 /
  * Makefile:51-52). Runner.buildAll is its lifecycle twin; the Store cache
  * is cleared first so the build is COLD — it re-derives and writes every
  * table itself rather than reusing fragments the query loop materialized.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    // memory-backed scratch (shuffle + spill), like BenchScale: this host's
    // disk is ~5x slower than tmpfs; model output still lands on disk
    val spark = Session(cpus, scratch = Some(Scratch.SweepFootprint))
    // session warmup outside the timed loop: JIT, codegen pipeline, file
    // index + parquet reader init (fixed costs, not query work)
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    // iteration aid: SPARK_GRAFT_ONLY=q1,q2 times just those queries (and
    // skips the stream + build legs); unset = the full driver-facing run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // a thrown query must never read as a fast success: its name and
    // exception class go into the artifact's "errors" object (r5 lesson —
    // 12 analysis-time failures printed as 0.06 s timings and the total
    // "improved")
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try action(fn(spark, sfDir)).collect()
      catch {
        case e: Throwable =>
          errors(name) = e.getClass.getSimpleName
          System.err.println(s"[bench] $name FAILED: $e")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // streaming surface: the events table replayed as a file stream through
    // the watermarked hourly aggregation (Streams.hourlyCounts), AvailableNow
    // trigger -> noop sink; reported as sustained events/second
    if (only.isDefined) {
      println(Json.write(ListMap("metric" -> "subset",
        "queries" -> ListMap(results.toSeq: _*), "sf" -> sfDir)))
      spark.stop()
      return
    }
    // best of 3 replays: a single host stall cannot contaminate the
    // committed artifact (each replay starts a fresh checkpoint-less query,
    // so all three process the full file)
    val streamRate =
      try {
        val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
        val src = streaming.Streams.eventFileStream(spark, sfDir)
        (1 to 3).map { _ =>
          val ts = System.nanoTime()
          val q = streaming.Streams.hourlyCounts(src).writeStream
            .format("noop").outputMode("update")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          nEvents / ((System.nanoTime() - ts) / 1e9)
        }.max
      } catch {
        case e: Throwable =>
          errors("__stream") = e.getClass.getSimpleName
          System.err.println(s"[bench] stream leg FAILED: $e")
          -1.0
      }

    // synthetic-source throughput: SF1 lineitem (6M rows) generated on the
    // fly through the graft-synth DSv2 source and aggregated — the
    // zero-storage bench path (generator + whole-stage agg, no disk)
    val synthRate =
      try {
        val n = 6000000L
        val t = System.nanoTime()
        spark.read.format("graft-synth")
          .option("table", "lineitem").option("sf", "1")
          .option("partitions", cpus.toLong)
          .load()
          .agg(org.apache.spark.sql.functions.sum(col("l_quantity")))
          .collect()
        n / ((System.nanoTime() - t) / 1e9)
      } catch { case _: Throwable => -1.0 }

    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }

    // transaction-log throughput (Versioned): a full snapshot commit, then
    // three year-scoped upsert batches (MERGE through replacePartitions —
    // the incremental-corrections shape), then a time-travel audit. Rows
    // counted = rows staged through the log (initial + each batch's
    // rewritten partitions), so the rate prices commit overhead AND the
    // partition-scoped rewrite, not just the delta size.
    val versionedRate =
      try {
        val vdir = java.nio.file.Files.createTempDirectory("graft_bench_vtab").toString
        import org.apache.spark.sql.functions.{date_trunc, year => yearOf}
        val base = spark.read.parquet(s"$sfDir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            date_trunc("month", col("o_orderdate")).cast("date").as("order_month"))
        val nBase = base.count()
        val years = Seq(1995, 1996, 1997)
        val touched = years.map(y =>
          base.filter(yearOf(col("o_orderdate")) === y).count()).sum
        val tv = System.nanoTime()
        Versioned.write(base, vdir, partitionBy = Some("order_month"))
        years.foreach { y =>
          val updates = base.filter(yearOf(col("o_orderdate")) === y)
            .withColumn("o_totalprice", col("o_totalprice") * 1.01)
          Versioned.upsert(spark, vdir, updates, Seq("o_orderkey"), "order_month")
        }
        val v0 = Versioned.read(spark, vdir, Some(0L)).count()
        val tip = Versioned.read(spark, vdir).count()
        require(v0 == nBase && tip == nBase,
          s"versioned audit: v0=$v0 tip=$tip expected $nBase")
        val sec = (System.nanoTime() - tv) / 1e9
        rm(new java.io.File(vdir))
        (nBase + touched) / sec
      } catch {
        case e: Throwable =>
          errors("__versioned") = e.getClass.getSimpleName
          System.err.println(s"[bench] versioned leg FAILED: $e")
          -1.0
      }

    Store.clear(spark) // cold build: nothing reused from the query loop
    val buildDir =
      java.nio.file.Files.createTempDirectory("graft_bench_build").toString
    val tb = System.nanoTime()
    val built =
      try Runner.buildAll(Ctx(spark, sfDir), buildDir, cacheParents = true).size
      catch {
        case e: Throwable =>
          errors("__build") = e.getClass.getSimpleName
          System.err.println(s"[bench] build leg FAILED: $e")
          -1
      }
    val buildSec = (System.nanoTime() - tb) / 1e9
    rm(new java.io.File(buildDir))
    val legs = Bench.legs(sfDir, buildSec, built, streamRate, synthRate,
      versionedRate, HostProbe.pageMBps())
    val detail = detailLine(results.toSeq, errors, legs)
    println(s"BENCH_DETAIL: $detail")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(lastLine(results.toSeq, errors, legs))
    spark.stop()
  }

  /** The Bench action, to be collected: bit_xor(xxhash64(all columns)). */
  def action(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(col): _*).as("__h"))
      .agg(expr("bit_xor(__h)"))

  private def r3(v: Double) = Json.round(v, 3)

  /** The keys after "errors" that both records carry. */
  def legs(sfDir: String, buildSec: Double, built: Int, streamRate: Double,
      synthRate: Double, versionedRate: Double, pageMBps: Double)
      : ListMap[String, Any] = ListMap(
    "sf" -> sfDir, "build_all_sec" -> r3(buildSec), "build_tables" -> built,
    "stream_events_per_sec" -> r3(streamRate),
    "synth_rows_per_sec" -> r3(synthRate),
    "versioned_rows_per_sec" -> r3(versionedRate),
    "host_page_mbps" -> pageMBps)

  private def total(results: Seq[(String, Double)]): java.math.BigDecimal =
    r3(results.map(_._2).sum)

  /** The full record: every query's seconds (stdout's BENCH_DETAIL line and
    * BENCH_DETAIL.json). */
  def detailLine(results: Seq[(String, Double)],
      errors: collection.Map[String, String], legs: ListMap[String, Any]): String =
    Json.write(ListMap("metric" -> "total", "value" -> total(results),
      "unit" -> "sec",
      "queries" -> ListMap(results.map { case (k, v) => k -> r3(v) }: _*),
      "errors" -> errors) ++ legs)

  /** The last stdout line. Its reader keeps only the last ~2 KB of stdout:
    * a line naming every query exceeds that and is truncated at the FRONT,
    * so it never parses (BENCH_r02 "parsed": null). So this line carries
    * totals plus the slowest queries up to a fixed character budget, and
    * points at the detail record. */
  def lastLine(results: Seq[(String, Double)],
      errors: collection.Map[String, String], legs: ListMap[String, Any]): String = {
    val budget = 1200 // chars for the "queries" object
    var used = 0
    val shown = results.sortBy(-_._2).flatMap { case (k, v) =>
      val r = Json.round(v, 2)
      val len = Json.write(k).length + 1 + r.toString.length
      if (used + len + 1 <= budget) { used += len + 1; Some(k -> r) } else None
    }
    Json.write(ListMap("metric" -> "total", "value" -> total(results),
      "unit" -> "sec", "queries" -> ListMap(shown: _*),
      "queries_run" -> results.size, "queries_shown" -> shown.size,
      "errors" -> errors, "detail" -> "BENCH_DETAIL.json") ++ legs)
  }
}
