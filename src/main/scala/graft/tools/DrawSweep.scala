package graft.tools

import com.fasterxml.jackson.databind.JsonNode
import graft._

import scala.collection.immutable.ListMap

/** Isolated-draw measurement protocol as ONE command — the discipline that
  * produced BENCH_SIMHASH_STATS.json (r9), captured as a tool instead of a
  * hand-run sweep: a perf claim about leg X at SF N is `n` CONSECUTIVE
  * draws, each in its OWN fresh JVM (fixed heap, pretouched, same session
  * conf as the sweep path), with the host probe recorded per draw and the
  * half-spread published next to the values. Matched conditions are what
  * make same-code numbers comparable on this host (PERF_NOTES_r6.md:
  * ±80% epoch swings; r9: the same leg read 137-197 s across mixed
  * contexts vs ±2.1% isolated).
  *
  * Usage (parent mode, the entry point):
  *   SPARK_GRAFT_DRAW_LEG=text_heavy_hitters [SPARK_GRAFT_DRAW_SF=100]
  *   [SPARK_GRAFT_DRAW_N=3] [SPARK_GRAFT_DRAW_HEAP=8g]
  *   [SPARK_GRAFT_DRAW_CPUS=32] [SPARK_GRAFT_DRAW_DOCS=zipf]
  *   sbt 'runMain graft.tools.DrawSweep'
  *
  * LEG accepts a comma list; legs are Registry entries, timed with the
  * driver-bench action (xor of row xxhash64 — full output computed,
  * nothing driver-side scales with SF). The special leg `_suite` runs the
  * ENTIRE Registry (the driver-bench query loop) inside one child per
  * draw: per-draw totals plus a cross-draw per-query minimum map — the
  * isolated-draw refresh of the BENCH_MIN artifact (the driver bench line
  * is a single draw at whatever epoch the driver hits; r10's landed on
  * the most degraded probe in any committed line). DOCS=zipf swaps the
  * synth documents corpus for the high-cardinality Zipf one
  * (sources/Synth docs option) — the production-vocabulary variant of the
  * text legs. The parent forks one child JVM per draw (`--one` mode) with
  * the current classpath, parses each child's JSON line, and prints the
  * aggregate artifact as ITS last line.
  */
object DrawSweep {

  def main(args: Array[String]): Unit =
    if (args.length >= 3 && args(0) == "--one") childDraw(args(1), args(2))
    else parent()

  // ---- child: one isolated draw of one leg --------------------------------

  /** Session conf mirrors BenchScale's sweep path (the conditions the
    * committed sweep artifacts were measured under). */
  private def childDraw(leg: String, sfDir: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_DRAW_CPUS", "32").toInt
    val spark = Session(cpus, scratch = Some(Scratch.SweepFootprint),
      extra = Session.buildConf(cpus))
    Store.clear(spark)
    def time(name: String): Double = {
      val t0 = System.nanoTime()
      Bench.action(Registry.queries(name)(spark, sfDir)).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val record = if (leg == "_suite") {
      // the driver-bench query loop: one warm session, every Registry
      // entry in name order, memoized fragments shared exactly as the
      // driver's own Bench run shares them
      try spark.read.parquet(s"$sfDir/region.parquet").count()
      catch { case _: Throwable => () }
      val per = Registry.queries.keys.toSeq.sorted.map(n => n -> time(n))
      spark.stop()
      ListMap("leg" -> leg, "value" -> per.map(_._2).sum,
        "host_page_mbps" -> HostProbe.pageMBps(), "queries" -> ListMap(per: _*))
    } else {
      val sec = time(leg)
      spark.stop()
      ListMap("leg" -> leg, "value" -> sec, "host_page_mbps" -> HostProbe.pageMBps())
    }
    println(Json.write(record))
  }

  // ---- parent: fork n isolated children per leg, aggregate ---------------

  // build.sbt's Java-17 module opens, needed by any child running Spark
  private val addOpens = Seq(
    "java.base/java.io", "java.base/java.lang",
    "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Forks one child draw; returns its record. */
  private def runChild(leg: String, sfDir: String, heap: String): JsonNode = {
    val java = s"${sys.props("java.home")}/bin/java"
    val cmd: Seq[String] = Seq(java) ++ addOpens ++ Seq(
      s"-Xms$heap", s"-Xmx$heap", "-XX:+AlwaysPreTouch",
      "-cp", sys.props("java.class.path"),
      "graft.tools.DrawSweep", "--one", leg, sfDir)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(false)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toSeq
    val exit = p.waitFor()
    val line = out.reverseIterator.find(_.startsWith("""{"leg":"""))
      .getOrElse(sys.error(
        s"draw child for $leg exited $exit without a JSON line; " +
          s"last output: ${out.takeRight(5).mkString(" | ")}"))
    require(exit == 0, s"draw child for $leg exited $exit")
    Json.read(line)
  }

  /** True median: mean of the two middle elements for even n (the old
    * upper-middle pick reported a biased-high value labeled median for
    * SPARK_GRAFT_DRAW_N=4 — r10 advice finding). */
  private def median(vs: Seq[Double]): Double = {
    val s = vs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def parent(): Unit = {
    val legs = sys.env.getOrElse("SPARK_GRAFT_DRAW_LEG",
      sys.error("set SPARK_GRAFT_DRAW_LEG")).split(",").map(_.trim).toSeq
    val sf = sys.env.getOrElse("SPARK_GRAFT_DRAW_SF", "100")
    val docs = sys.env.get("SPARK_GRAFT_DRAW_DOCS") // e.g. "zipf"
    val sfDir =
      if (sf.startsWith("/")) sf // a path = parquet dir
      else s"synth:sf=$sf" + docs.map(d => s",docs=$d").getOrElse("")
    val n = sys.env.getOrElse("SPARK_GRAFT_DRAW_N", "3").toInt
    val heap = sys.env.getOrElse("SPARK_GRAFT_DRAW_HEAP", "8g")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_DRAW_CPUS", "32")
    legs.foreach(l => require(l == "_suite" || Registry.queries.contains(l),
      s"unknown leg $l"))

    val perLeg = legs.map { leg =>
      val draws = (1 to n).map { i =>
        val rec = runChild(leg, sfDir, heap)
        val (sec, probe) = (rec.get("value").asDouble, rec.get("host_page_mbps").asDouble)
        System.err.println(f"[drawsweep] $leg draw $i/$n: $sec%8.1f s (probe $probe%.0f)")
        (sec, probe, rec)
      }
      val vs = draws.map(_._1)
      // half-spread: (max-min)/(max+min) — the ±pct the artifact quotes
      val spread = math.round((vs.max - vs.min) / (vs.max + vs.min) * 1000.0) / 10.0
      // suite mode: fold the per-draw query maps into a per-query MINIMUM
      // (the BENCH_MIN statistic — min is the faithful per-query cost
      // estimate under one-sided host-stall noise)
      val qMin = if (leg != "_suite") ListMap.empty[String, Any] else {
        val maps = draws.map { case (_, _, rec) => Json.numbers(rec.get("queries")) }
        ListMap("queries_min" -> ListMap(maps.head.keys.toSeq.sorted
          .map(k => k -> maps.map(_(k)).min): _*))
      }
      leg -> (ListMap("draws" -> draws.map { case (v, p, _) =>
          ListMap("value" -> v, "host_page_mbps" -> p) },
        "n" -> n, "min" -> vs.min, "median" -> median(vs),
        "spread_pct" -> spread) ++ qMin)
    }
    println(Json.write(ListMap("metric" -> "isolated_draws", "unit" -> "sec",
      "sf" -> sfDir, "cpus" -> cpus.toInt, "heap" -> heap,
      "protocol" -> s"n consecutive draws, each its own fresh JVM (Xms=Xmx=$heap, pretouch), sweep session conf, per-draw end probe; spread_pct=(max-min)/(max+min)*100; median=mean of middle two for even n",
      "legs" -> ListMap(perLeg: _*))))
  }
}
