package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed region of the benchmark's own code: `op` is the operation id
  * it belongs to (also the Spark job group of the work it launches),
  * `layer` the graft layer it calls into. Times are System.nanoTime. */
final case class Span(op: String, layer: String, name: String,
    start: Long, end: Long, parent: Option[String] = None) {
  def sec: Double = (end - start) / 1e9
}

/** A finished write command: SQL execution id, output path, seconds,
  * rows, bytes, and the nanoTime its event arrived. */
final case class Write(exec: Long, path: String, sec: Double, rows: Long,
    bytes: Long, end: Long)

/** A finished file scan: job group, root path, rows out, files read. */
final case class Scan(group: String, root: String, rows: Long, files: Long)

/** A job start: job group and its SQL execution id, if any. */
final case class JobStart(group: String, exec: Option[Long])

/** Work counters of one job group (or of the whole window for events that
  * carry no group). Plain mutable fields: every update happens under the
  * owning Probe's lock. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWriteRecords, shuffleWriteBytes, shuffleReadBytes = 0L
  var fetchWaitMs, spillBytes, inputRecords, inputBytes = 0L
  var analysisMs, optimizationMs, planningMs, planNodes = 0L

  def +=(c: Counters): Unit = {
    jobs += c.jobs; stages += c.stages; tasks += c.tasks
    taskRunMs += c.taskRunMs; taskCpuNs += c.taskCpuNs; gcMs += c.gcMs
    shuffleWriteRecords += c.shuffleWriteRecords
    shuffleWriteBytes += c.shuffleWriteBytes
    shuffleReadBytes += c.shuffleReadBytes
    fetchWaitMs += c.fetchWaitMs; spillBytes += c.spillBytes
    inputRecords += c.inputRecords; inputBytes += c.inputBytes
    analysisMs += c.analysisMs; optimizationMs += c.optimizationMs
    planningMs += c.planningMs; planNodes += c.planNodes
  }
}

/** The benchmark's observation layer, installed only on traced runs.
  *
  * One [[SparkListener]] counts jobs, stages, tasks, task metrics, shuffle,
  * scan input and block-manager traffic; one [[QueryExecutionListener]]
  * reads Catalyst phase times, plan sizes, write commands and file scans;
  * one [[StreamingQueryListener]] keeps streaming progress.
  * Work is attributed to an operation by the job group its thread set
  * (`spark.jobGroup.id`), which SQL executions carry as well. Spans are
  * kept in memory and written out by [[Main]] when the run ends.
  *
  * Every callback times itself, so the run can state what tracing cost
  * (`callbackNs`). */
final class Probe(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val lock = new Object
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  /** SQL execution id by execution duration (ns): the QueryExecutionListener
    * receives the very duration the SQL execution-end event carries, and
    * that is the one link from a QueryExecution to its execution id. The
    * event's `duration` is Scala-private to Spark's sql package but public
    * in bytecode, so it is read reflectively. */
  private val execByDuration = mutable.Map.empty[Long, Long]
  private val endDuration = classOf[SparkListenerSQLExecutionEnd].getMethod("duration")
  /** Executions the QueryExecutionListener saw: (qe, duration ns, the
    * nanoTime its event arrived); attributed in [[resolve]]. */
  private val finished = mutable.ArrayBuffer.empty[(QueryExecution, Long, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  val writes = mutable.ArrayBuffer.empty[Write]
  val scans = mutable.ArrayBuffer.empty[Scan]
  val jobStarts = mutable.ArrayBuffer.empty[JobStart]
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  val persistedRdds = mutable.Set.empty[Int]
  var cachedBytes, blocksDropped = 0L
  val callbackNs = new AtomicLong(0L)
  private val codegen0 = codegenNow

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try lock.synchronized(body)
    finally { callbackNs.addAndGet(System.nanoTime() - t0); () }
  }

  private def counters(group: String): Counters =
    byGroup.getOrElseUpdate(group, new Counters)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val g = groupOf(e.properties)
      counters(g).jobs += 1
      jobStarts += JobStart(g, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong))
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      counters(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val c = counters(stageGroup.getOrElse(e.stageId, ""))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRecords += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rdd, _) =>
          if (info.storageLevel.isValid) {
            persistedRdds += rdd
            cachedBytes += info.memSize + info.diskSize
          } else blocksDropped += 1
        case _ => ()
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        timed(execGroup(s.executionId) = s.jobGroupId.getOrElse(""))
      case end: SparkListenerSQLExecutionEnd =>
        timed(execByDuration(endDuration.invoke(end).asInstanceOf[Long]) = end.executionId)
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(finished += ((qe, durationNs, System.nanoTime())))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      timed(finished += ((qe, 0L, System.nanoTime())))
  }

  /** Attribute each finished execution to the job group its SQL execution
    * ran under. The two listeners sit on different bus queues, so this
    * waits until both have drained. */
  private def resolve(): Unit = lock.synchronized {
    finished.foreach { case (qe, durationNs, end) =>
      val exec = execByDuration.getOrElse(durationNs, -1L)
      record(qe, exec, execGroup.getOrElse(exec, ""), durationNs, end)
    }
    finished.clear()
  }

  private def record(qe: QueryExecution, exec: Long, group: String,
      durationNs: Long, end: Long): Unit = {
    val c = counters(group)
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    c.analysisMs += ms("analysis")
    c.optimizationMs += ms("optimization")
    c.planningMs += ms("planning")
    c.planNodes += qe.optimizedPlan.collect { case p => p }.size
    val plan: SparkPlan = qe.executedPlan
    collectWithSubqueries(plan) { case w: DataWritingCommandExec => w.cmd }.foreach {
      case cmd: InsertIntoHadoopFsRelationCommand =>
        def m(k: String): Long = cmd.metrics.get(k).map(_.value).getOrElse(0L)
        writes += Write(exec, cmd.outputPath.toString, durationNs / 1e9,
          m("numOutputRows"), m("numOutputBytes"), end)
      case _ => ()
    }
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.foreach { s =>
      def m(k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
      s.relation.location.rootPaths.headOption.foreach { root =>
        scans += Scan(group, root.toString, m("numOutputRows"), m("numFiles"))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(progress += e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Detach, after giving the asynchronous listener buses time to deliver
    * the events of work that already finished. */
  def uninstall(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 5) {
      Thread.sleep(100)
      val n = lock.synchronized(byGroup.values.map(_.tasks).sum + finished.size + progress.size)
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    resolve()
  }

  def span[T](op: String, layer: String, name: String,
      parent: Option[String] = None)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      timed(spans += Span(op, layer, name, t0, t1, parent))
    }
  }

  def addSpan(s: Span): Unit = timed(spans += s)

  private def codegenNow: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount / 1000.0)
  }

  /** Compiles and compile seconds since this probe was created (the
    * compile-time histogram is a sampled reservoir, so seconds are its
    * mean times the exact count). */
  def codegen: (Long, Double) = {
    val (n, s) = codegenNow
    (n - codegen0._1, math.max(0.0, s - codegen0._2))
  }

  /** The counters of every job group `groups` accepts, summed. */
  def total(groups: String => Boolean): Counters = lock.synchronized {
    val t = new Counters
    byGroup.filter { case (g, _) => groups(g) }.values.foreach(t += _)
    t
  }

  /** Self time per layer: each span's duration minus the part of it that
    * the spans naming it as parent cover. */
  def selfSeconds: Map[String, Double] = lock.synchronized {
    val children = spans.filter(_.parent.isDefined).groupBy(s => (s.op, s.parent.get))
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse((s.op, s.name), Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var reach = s.start
        kids.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}

/** Per-layer metrics shared by the workloads, over the job groups the
  * workload's own operations ran under; counts are divided by `units`, its
  * units of work. */
object Layers {
  /** Self seconds of each layer the run's spans name, as `self.<layer>_s`. */
  def self(p: Probe): Map[String, Double] =
    p.selfSeconds.map { case (layer, s) => s"self.${layer}_s" -> s }

  def engine(p: Probe, groups: String => Boolean, units: Double,
      wall: Double, codegen: (Long, Double), cores: Int): Map[String, Double] = {
    val c = p.total(groups)
    val (compiles, compileS) = codegen
    val runS = c.taskRunMs / 1000.0
    val per = math.max(units, 1.0)
    Map(
      "catalyst.analysis_s" -> c.analysisMs / 1000.0,
      "catalyst.optimization_s" -> c.optimizationMs / 1000.0,
      "catalyst.planning_s" -> c.planningMs / 1000.0,
      "catalyst.plan_nodes" -> c.planNodes.toDouble,
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_s" -> compileS,
      "exec.jobs" -> c.jobs.toDouble,
      "exec.stages" -> c.stages.toDouble,
      "exec.tasks" -> c.tasks.toDouble,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> c.taskCpuNs / 1e9,
      "exec.gc_s" -> c.gcMs / 1000.0,
      "exec.driver_residual_s" -> (wall - runS / cores),
      "shuffle.write_records" -> c.shuffleWriteRecords.toDouble,
      "shuffle.write_bytes" -> c.shuffleWriteBytes.toDouble,
      "shuffle.read_bytes" -> c.shuffleReadBytes.toDouble,
      "shuffle.fetch_wait_s" -> c.fetchWaitMs / 1000.0,
      "shuffle.spill_bytes" -> c.spillBytes.toDouble,
      "scan.input_records" -> c.inputRecords.toDouble,
      "scan.input_bytes" -> c.inputBytes.toDouble,
      "store.persists" -> p.persistedRdds.size.toDouble,
      "store.cached_bytes" -> p.cachedBytes.toDouble,
      "store.blocks_dropped" -> p.blocksDropped.toDouble,
    ).map { case (k, v) => k -> v / per } +
      ("exec.core_busy_frac" -> runS / (wall * cores))
  }
}
