package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One operation the benchmark issued or checked: a build, a built table,
  * a serving request, an ingest batch or the recall probe. run.py checks
  * `rows` and `digest` against the workload's reference. */
final case class Op(kind: String, name: String, sec: Double,
    error: Option[String] = None, rows: Long = -1L,
    digest: Option[String] = None)

/** What one measurement window produced. `visible` are the seconds from
  * when new data was due until it was readable: each table of a build
  * (due when the build starts), each ingest batch (due on its schedule).
  * `layers` turns a traced run's probe into the per-layer metrics, once
  * the probe has drained. */
final case class Outcome(ops: Seq[Op], visible: Seq[Double],
    recallHits: Long = 0L, recallTotal: Long = 0L,
    layers: Probe => Map[String, Double] = _ => Map.empty)

trait Workload {
  /** Timed set-up on a fresh session; run several times, median reported. */
  def setUp(spark: SparkSession): Unit
  /** Measure for about `seconds`. `probe` is set on traced runs only. */
  def measure(spark: SparkSession, seconds: Double, probe: Option[Probe]): Outcome
}

/** The benchmark JVM: sets up, measures and writes a raw record to
  * `--out`, which run.py judges and reports.
  *
  *   perfbench.Main --workload build|ann_serve_ingest --seed N
  *     --seconds S --trace 0|1 --work DIR --out FILE
  *
  * `--work` is the directory this run works and writes in.
  */
object Main {
  val SetUps = 3

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = {
    val at = (System.currentTimeMillis() - jvmStart) / 1000.0
    System.err.println(f"[perfbench] +$at%.1f s $msg")
  }

  /** The largest heap in use right after any garbage collection of the
    * run, in MB, from the collectors' notifications. */
  object HeapPeak {
    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: NotificationEmitter =>
        emitter.addNotificationListener((n: Notification, _: Any) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, used) }
          }
        }, null, null)
      case _ => ()
    }

    def mb: Double = peak / 1048576.0
  }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val secs = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val workload: Workload = name match {
      case "build" => new Build(s"$work/build")
      case "ann_serve_ingest" => new AnnServeIngest(seed, s"$work/ann")
      case other => sys.error(s"unknown workload $other")
    }

    HeapPeak.install()
    var spark: SparkSession = null
    val setUps = (1 to SetUps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work, cores)
      workload.setUp(spark)
      val s = seconds(t0)
      log(f"set-up $i: $s%.2f s")
      s
    }
    val probe = if (traced) Some(new Probe(spark).install()) else None
    val t0 = System.nanoTime()
    val outcome = workload.measure(spark, secs, probe)
    val wall = seconds(t0)
    log(f"measured: $wall%.2f s")
    val layers = probe.map { p =>
      p.uninstall()
      outcome.layers(p) + ("trace.overhead_frac" -> p.callbackNs.get / 1e9 / wall)
    }.getOrElse(Map.empty)
    val pageMbps = graft.HostProbe.pageMBps()
    log("probed host")
    spark.stop()
    log("stopped")

    val record = Map(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "context" -> Map("nproc" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
        "page_mbps" -> pageMbps, "heap_peak_mb" -> HeapPeak.mb, "seed" -> seed),
      "setup_s" -> setUps,
      "measure_s" -> wall,
      "visible" -> outcome.visible,
      "ops" -> outcome.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "sec" -> o.sec, "error" -> o.error.orNull, "rows" -> o.rows,
        "digest" -> o.digest.orNull)),
      "recall" -> Map("hits" -> outcome.recallHits, "total" -> outcome.recallTotal),
      "layers" -> (layers + ("host.page_mbps" -> pageMbps) +
        ("host.nproc" -> cores.toDouble) +
        ("host.heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0) +
        ("jvm.heap_peak_mb" -> HeapPeak.mb)),
      "spans" -> probe.map(_.spans.toSeq.map(s => Map("op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent.orNull))).getOrElse(Nil))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(args("out")), record)
  }
}
