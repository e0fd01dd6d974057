package perfbench

import java.io.File

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `build`: one cold `Runner.buildAll` (8 writers, cacheParents, as
  * `graft.Bench` runs it) over the synthetic generator at a fixed scale
  * factor. Each written table is then read back, its per-run housekeeping
  * columns dropped, and reduced to a row count and an order-free digest for
  * run.py to check. The inputs do not depend on the seed.
  *
  * The build is the workload's one operation; a table is visible when its
  * `_SUCCESS` marker lands, timed from the start of the build.
  *
  * Traced, the registry layer (the model definitions buildAll calls) is
  * measured from outside: a model's time in buildAll minus its write
  * command is the time spent constructing its plan, and a job outside any
  * write execution is an eager job launched during construction. */
final class Build(outDir: String) extends Workload {
  private val source = s"synth:sf=${Build.ScaleFactor}"

  def setUp(spark: SparkSession): Unit = {
    Main.rmTree(new File(outDir))
    // resolve the generator's seven base tables once
    Seq("customer", "lineitem", "nation", "orders", "part", "region", "supplier")
      .foreach(t => graft.Ctx(spark, source).tbl(t).limit(1).collect())
  }

  def measure(spark: SparkSession, seconds: Double, probe: Option[Probe]): Outcome = {
    graft.Store.clear(spark)
    val ctx = graft.Ctx(spark, source)
    val t0 = System.nanoTime()
    val committed = new Build.Watcher(new File(outDir), t0).start()
    val results = try Run.span(probe, "build", "runner", "buildAll") {
      Right(graft.Runner.buildAll(ctx, outDir, threads = 8, cacheParents = true))
    } catch { case e: Throwable => Left(e) }
    val wall = Main.seconds(t0)
    val visibleAt = committed.stop()
    val codegen = probe.map(_.codegen).getOrElse((0L, 0.0))
    val build = Op("build", "buildAll", wall, results.left.toOption.flatMap(Run.error))
    val built = results.getOrElse(Nil)
    // digests after the timed build, four tables at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val tables =
      try Await.result(Future.traverse(built)(r => Future(check(spark, r))), Duration.Inf)
        .sortBy(_.name)
      finally pool.shutdown()
    Outcome(build +: tables, built.flatMap(r => visibleAt.get(r.table)),
      layers = layers(_, wall, codegen, built, spark))
  }

  private def check(spark: SparkSession, r: graft.Runner.BuildResult): Op =
    try {
      spark.sparkContext.setJobGroup("check", r.table)
      val df = spark.read.parquet(r.path).drop(Build.Housekeeping: _*)
      val (rows, digest) = Build.digest(df)
      val err =
        if (rows == r.rows) None
        else Some(s"buildAll reported ${r.rows} rows, parquet holds $rows")
      Op("table", r.table, r.seconds, err, rows, Some(digest))
    } catch { case e: Throwable => Op("table", r.table, r.seconds, Run.error(e)) }

  private def layers(p: Probe, wall: Double, codegen: (Long, Double),
      rs: Seq[graft.Runner.BuildResult], spark: SparkSession): Map[String, Double] = {
    val root = new File(outDir).toURI.getPath.stripSuffix("/")
    val writes = p.writes.filter(_.path.contains(root))
    val byModel = writes.map(w => w.path.split('/').last -> w).toMap
    // a writer span per write command (the models' tables and buildAll's
    // rollups), and per model a registry span (its whole time in buildAll,
    // which constructs its plan and then writes it) around its write; all
    // end when the write's event arrived
    val models = rs.map(r => r.table -> r).toMap
    writes.foreach { w =>
      val name = w.path.split('/').last
      val parent = if (models.contains(name)) name else "buildAll"
      p.addSpan(Span("build", "writer", s"write:$name", w.end - (w.sec * 1e9).toLong,
        w.end, Some(parent)))
    }
    val outside = rs.flatMap { r =>
      byModel.get(r.table).map { w =>
        p.addSpan(Span("build", "registry", r.table, w.end - (r.seconds * 1e9).toLong,
          w.end, Some("buildAll")))
        math.max(0.0, r.seconds - w.sec)
      }
    }
    val writeExecs = writes.map(_.exec).toSet
    val eager = p.jobStarts.count(j => j.group != "check" && !j.exec.exists(writeExecs))
    val modelSum = rs.map(_.seconds).sum
    val cores = spark.sparkContext.defaultParallelism
    Layers.engine(p, _ != "check", 1.0, wall, codegen, cores) ++ Map(
      "registry.construct_s" -> outside.sum,
      "registry.eager_jobs" -> eager.toDouble,
      "runner.models" -> rs.size.toDouble,
      "runner.model_s_sum" -> modelSum,
      "runner.parallelism" -> modelSum / wall,
      "runner.write_s" -> writes.map(_.sec).sum,
      "runner.output_rows" -> writes.map(_.rows).sum.toDouble,
      "runner.output_bytes" -> writes.map(_.bytes).sum.toDouble) ++
      Layers.self(p)
  }
}

object Build {
  val ScaleFactor = "0.01"
  /** dbt housekeeping columns: a fresh run id and timestamp on every build. */
  val Housekeeping = Seq("dbt_batch_id", "dbt_batch_ts")

  /** Row count and the `graft.Bench` action, bit_xor(xxhash64(all
    * columns)): an order-free digest of every value of every row. */
  def digest(df: DataFrame): (Long, String) = {
    val row = df.select(xxhash64(df.columns.toSeq.map(col): _*).as("__h"))
      .agg(count(lit(1)), expr("bit_xor(__h)")).head()
    (row.getLong(0), if (row.isNullAt(1)) "null" else java.lang.Long.toHexString(row.getLong(1)))
  }

  /** Polls the build's output directory and records, per table, the
    * seconds from `t0` until its `_SUCCESS` marker appeared: when the table
    * became readable. */
  final class Watcher(out: File, t0: Long) {
    private val seen = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    @volatile private var running = true
    private val thread = new Thread(() => {
      while (running) { poll(); Thread.sleep(20) }
    })

    private def poll(): Unit =
      Option(out.listFiles()).getOrElse(Array.empty[File]).foreach { d =>
        if (!seen.containsKey(d.getName) && new File(d, "_SUCCESS").exists())
          seen.put(d.getName, Main.seconds(t0))
      }

    def start(): this.type = { thread.setDaemon(true); thread.start(); this }

    def stop(): Map[String, Double] = {
      running = false
      thread.join()
      poll()
      seen.asScala.toMap
    }
  }
}
