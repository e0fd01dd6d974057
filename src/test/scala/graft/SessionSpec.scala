package graft

import org.apache.logging.log4j.{Level, LogManager}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** graft.Session is the one place the session conf lives, loaders read
  * under it without changing it, and the bench records written through
  * graft.Json keep the shape their readers expect. */
class SessionSpec extends SparkSpec {

  test("a factory session carries the shared conf") {
    val conf = spark.sessionState.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.numShufflePartitions == 4)
    assert(conf.sessionLocalTimeZone == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.autoBroadcastJoinThreshold == (256L << 20))
    assert(conf.getConfString("spark.sql.adaptive.autoBroadcastJoinThreshold")
      .toLowerCase == "256m")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
  }

  test("reading events leaves the session conf unchanged") {
    val before = spark.conf.getAll
    ctx.tbl("events").schema
    streaming.Streams.eventFileStream(spark, ctx.dir).schema
    assert(spark.conf.getAll == before)
  }

  test("the events loaders name the conf they need when it is missing") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    try {
      val e = intercept[IllegalArgumentException](ctx.tbl("events"))
      assert(e.getMessage.contains(key))
      val s = intercept[IllegalArgumentException](
        streaming.Streams.eventFileStream(spark, ctx.dir))
      assert(s.getMessage.contains(key))
    } finally spark.conf.set(key, "true")
  }

  private val lastLineKeys = Seq("metric", "value", "unit", "queries",
    "queries_run", "queries_shown", "errors", "detail", "sf", "build_all_sec",
    "build_tables", "stream_events_per_sec", "synth_rows_per_sec",
    "versioned_rows_per_sec", "host_page_mbps")

  private def keys(json: String): Seq[String] =
    Json.read(json).fieldNames.asScala.toSeq

  test("Bench's last line fits 2 KB with the same keys and rounding") {
    val rnd = new scala.util.Random(7)
    val results = (1 to 146).map(i =>
      f"query_$i%03d_${"x" * (i % 25)}" -> rnd.nextDouble() * 6.5)
    val errors = ListMap("query_042" -> "AnalysisException")
    val legs = Bench.legs("synth:sf=0.1", 62.61749, 50, 15234.5678,
      1.9e7 + 1.0 / 3, -1.0, 512.3)
    val line = Bench.lastLine(results, errors, legs)
    assert(line.getBytes("UTF-8").length <= 2048, line)
    assert(keys(line) == lastLineKeys)
    val node = Json.read(line)
    assert(node.get("queries_run").asInt == 146)
    val shown = Json.numbers(node.get("queries"))
    assert(node.get("queries_shown").asInt == shown.size)
    assert(shown.size >= 40 && shown.size < 146)
    // the slowest queries, in order, at two decimals
    val slowest = results.sortBy(-_._2).take(shown.size)
    assert(shown.keys.toSeq == slowest.map(_._1))
    assert(line.contains(String.format(java.util.Locale.ROOT, "\"%s\":%.2f",
      slowest.head._1, Double.box(slowest.head._2))))
    assert(line.contains(String.format(java.util.Locale.ROOT, "\"value\":%.3f",
      Double.box(results.map(_._2).sum))))
    assert(line.contains("\"build_all_sec\":62.617,"))
    assert(line.contains("\"versioned_rows_per_sec\":-1.000,"))
    assert(node.get("errors").get("query_042").asText == "AnalysisException")

    val detail = Bench.detailLine(results, errors, legs)
    assert(keys(detail) == lastLineKeys.filterNot(
      Set("queries_run", "queries_shown", "detail")))
    assert(Json.numbers(Json.read(detail).get("queries")).keys.toSeq ==
      results.map(_._1))
  }

  test("oracle_sql.json round-trips control characters, quotes and backslashes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_oracle_sql")
    val sql = ListMap(
      "tabbed" -> "SELECT a,\tb\r\nFROM t WHERE s = '\"q\"' AND p LIKE 'x\\_y'",
      "ctrl" -> "SELECT '\u0001' AS c")
    Verify.writeOracleSql(sql, dir.toString)
    val f = dir.resolve("oracle_sql.json")
    val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    assert(!text.exists(_ < ' '), "raw control character in oracle_sql.json")
    val back = Json.readFile(f.toString)
    assert(back.fieldNames.asScala.toSeq == sql.keys.toSeq)
    sql.foreach { case (k, v) => assert(back.get(k).asText == v) }
    f.toFile.delete(); dir.toFile.delete()
  }
}
