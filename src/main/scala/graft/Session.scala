package graft

import org.apache.spark.sql.SparkSession

/** The one place the session conf lives. Every main and the test fixture
  * (`SparkSpec`) build their session here, so the plans a test checks are
  * the plans the benchmark runs.
  *
  *  - `local[cores]` with `cores` shuffle partitions;
  *  - UTC session time zone and `parquet.nanosAsLong`: the events loaders
  *    (`Ctx.normalizedEvents`, `Streams.eventFileStream`) decode `ts` under
  *    both and `require` them instead of setting session-global conf per
  *    read;
  *  - a 256m broadcast ceiling, plain and adaptive: at SF10 the pruned dims
  *    (dim_part ~2M rows, dim_customer ~1.5M) are 40-200 MB, far over the
  *    10 MB default, and every report's dim join was a sort-merge join that
  *    re-shuffled a 60M-row fact. The ceiling broadcasts them while the
  *    8M-row xrf and the fact-fact joins stay shuffle-shaped; at sf0.1 the
  *    dims broadcast either way, so the sweep's plan shape matches the
  *    at-scale build's;
  *  - UI off, log level WARN.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, 4 when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** Static confs for at-scale builds (BenchScale and DrawSweep's child).
    *
    *  - periodic GC: long-heap runs GC rarely and shuffle files are
    *    reference-cleaned, so a periodic sweep keeps tmpfs scratch bounded;
    *  - initial partitions 4 x cores: start wide and let AQE coalesce (at
    *    SF10 a 32-partition fact shuffle is ~500 MB/task, sort-spill
    *    territory); explicit repartitions keep their requested count;
    *  - at most 4 concurrent broadcast builds: each 256 MB dim broadcast
    *    transiently allocates ~2 GB building its hash relation, and 8 model
    *    writers doing so at once is the broadcast-OOM abort shape (DriverGuard
    *    handles the complementary accumulation vector);
    *  - zstd writes 33% fewer bytes than snappy at equal encode CPU on this
    *    data (6.02 -> 4.06 GB on the 60M-row fact, PERF_NOTES_r7), ~7 GB less
    *    write I/O over the ~22 GB SF10 build output.
    */
  def buildConf(cores: Int): Map[String, String] = Map(
    "spark.cleaner.periodicGC.interval" -> "120s",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cores * 4).toString,
    "spark.sql.broadcastExchange.maxThreadThreshold" -> "4",
    "spark.sql.parquet.compression.codec" -> "zstd")

  /** Build (or join) the session. `scratch` is the caller's expected
    * shuffle/spill footprint: when given, `spark.local.dir` comes from
    * [[Scratch.resolve]]. `extra` confs are applied last. */
  def apply(cores: Int = cpus, scratch: Option[Long] = None,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256m")
      .config("spark.ui.enabled", "false")
    scratch.foreach(bytes => builder.config("spark.local.dir", Scratch.resolve(bytes)))
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Guard for loaders that decode events `ts`: they read under the
    * factory's conf instead of changing session-global conf themselves. */
  def requireEventsConf(spark: SparkSession): Unit = {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val tz = "spark.sql.session.timeZone"
    require(spark.conf.get(nanos, "false") == "true",
      s"$nanos must be true (graft.Session sets it)")
    require(spark.conf.get(tz) == "UTC",
      s"$tz must be UTC (graft.Session sets it), got ${spark.conf.get(tz)}")
  }
}
