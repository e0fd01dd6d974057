package graft.tools

import graft.{Bench, Ctx, Registry, Scratch, Session, Store}

/** Per-query timing probe: run each named query's bench action N times in one
  * warm JVM (Bench's session, graft.Session) and print every draw split into
  *   construct — `fn(ctx)` plus the action's analysis, including any
  *               construction actions;
  *   plan      — optimization and physical planning;
  *   run       — execution of the planned action (codegen, JIT, tasks).
  * Draw 1 is the cold reading: it carries codegen/JIT and any Store-parent
  * materialization (list the target first, since earlier queries warm the
  * JVM); the later-draw plateau is the query's steady per-run cost. A large
  * cold `plan` is driver-side (plan size), a large cold `run` minus the
  * plateau is codegen/JIT. `fresh` mode clears the Store between draws so
  * every draw pays parent materialization (isolated-query shape).
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=… \
  *        runMain graft.tools.QProbe <q1,q2,...> [n] [fresh]
  * SPARK_GRAFT_CONF="k=v;k=v" adds session confs for ad-hoc A/Bs.
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QProbe <q1,q2,...> [n] [fresh]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val n = if (args.length > 1) args(1).toInt else 3
    val fresh = args.length > 2 && args(2) == "fresh"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";"))
      .filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
      }.toMap
    val spark = Session(scratch = Some(Scratch.SweepFootprint), extra = conf)
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    names.foreach { name =>
      val fn = Registry.all(name).fn
      (1 to n).foreach { i =>
        if (fresh) Store.clear(spark)
        spark.sparkContext.setJobDescription(s"qprobe:$name#$i")
        val (df, tCons) = timed(Bench.action(fn(Ctx(spark, sfDir))))
        val (_, tPlan) = timed(df.queryExecution.executedPlan)
        val (_, tRun) = timed(df.collect())
        println(f"[qprobe] $name%-38s #$i construct $tCons%6.2f  plan $tPlan%6.2f  " +
          f"run $tRun%6.2f  total ${tCons + tPlan + tRun}%6.2f")
      }
    }
    spark.stop()
  }
}
