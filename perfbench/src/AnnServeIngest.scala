package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.extensions.AnnIndex

/** `ann_serve_ingest`: a persisted IVFADC index over the synthetic
  * embeddings (`label` stored as an attribute) served and ingested at once.
  *
  *  - Serving: one closed-loop client; each request carries 10 query
  *    vectors drawn near one label's cluster and asks for k = 10 with
  *    nprobe = 8 and shortlist = 100. Requests rotate through unfiltered,
  *    `where label = L` and an `allowed` allow-list (the even ids of label
  *    L in the base corpus).
  *  - Ingest: an open loop stages one batch of fresh vectors as a parquet
  *    file every [[AnnServeIngest.IntervalS]] seconds into the directory a
  *    file stream reads; `Streams.annIngestSink` adds what each micro-batch
  *    read to the index and compacts every [[AnnServeIngest.CompactEvery]]
  *    micro-batches.
  *
  * A batch is visible once the stream has completed the micro-batch that
  * read it; its latency runs from when it was due. Every filtered or
  * unfiltered request must return k rows for each query vector. Recall is
  * scored after ingest stops, on one probe request of
  * [[AnnServeIngest.RecallQueries]] vectors against an exact cosine top-10
  * over the corpus of the final generation. */
final class AnnServeIngest(seed: Long, dir: String) extends Workload {
  import AnnServeIngest._

  private val index = s"$dir/index"
  private val source = s"synth:sf=$ScaleFactor"

  private var setUps = 0

  def setUp(spark: SparkSession): Unit = {
    Main.rmTree(new File(dir))
    AnnIndex.build(graft.Ctx(spark, source), index, Cells, Codewords, Seq("label"))
    // warm-up: one request, of the next kind in the rotation
    request(spark, corpus(spark), setUps, new scala.util.Random(-1 - setUps))._2.collect()
    setUps += 1
  }

  private def corpus(spark: SparkSession): Array[Vec] =
    graft.Ctx(spark, source).tbl("embeddings").collect().map(r =>
      Vec(r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))

  private def queryFrame(spark: SparkSession, qs: Array[Vec]): DataFrame =
    spark.createDataFrame(qs.toSeq.map(q => Row(q.id, q.emb.toSeq)).asJava, QuerySchema)

  /** Request `i` of the rotation: its query vectors and the served result. */
  private def request(spark: SparkSession, base: Array[Vec], i: Int,
      rng: scala.util.Random): (Array[Vec], DataFrame) = {
    val label = rng.nextInt(Labels)
    val pool = base.filter(_.label == label)
    val qs = Array.tabulate(QueriesPerRequest) { j =>
      val v = pool(rng.nextInt(pool.length))
      Vec(QueryIdBase + i * QueriesPerRequest + j, jitter(v.emb, rng), label)
    }
    val (where, allowed) = Kinds(i % Kinds.size) match {
      case "plain" => (None, None)
      case "where" => (Some(col("label") === label), None)
      case _ =>
        val ids = pool.map(_.id).filter(_ % 2 == 0)
        (None, Some(spark.createDataFrame(ids.toSeq.map(Row(_)).asJava, IdSchema)))
    }
    val out = AnnIndex.query(spark, index, queryFrame(spark, qs), k = K, nprobe = NProbe,
      shortlist = Shortlist, allowed = allowed, where = where)
    (qs, out)
  }

  def measure(spark: SparkSession, seconds: Double, probe: Option[Probe]): Outcome = {
    val sc = spark.sparkContext
    val base = corpus(spark)
    val rng = new scala.util.Random(seed)
    val scheduled = ((seconds - FirstDueS - LastDueS) / IntervalS).toInt + 1
    // batch -1 is the warm-up batch, outside the schedule
    val batches = (-1 until scheduled).map { b =>
      b -> Array.tabulate(BatchRows) { r =>
        val v = base(rng.nextInt(base.length))
        Vec(IngestIdBase + b.toLong * BatchRows + r, jitter(v.emb, rng), v.label)
      }
    }.toMap
    val stagedDir = s"$dir/staged"
    new File(stagedDir).mkdirs()
    prepare(spark, batches)
    val checkpoint = s"$dir/checkpoint"
    val stream = spark.readStream.schema(VecSchema).parquet(stagedDir)
    val query = graft.streaming.Streams
      .annIngestSink(stream, index, checkpoint, compactEvery = CompactEvery)
      .trigger(Trigger.ProcessingTime(100L)).start()
    // warm the ingest path, untimed: one batch outside the schedule, so the
    // first scheduled batch is not also the stream's first (stream batch 0)
    stage(-1, stagedDir)
    val warmDeadline = System.nanoTime() + (DrainS * 1e9).toLong
    while (!query.recentProgress.exists(_.numInputRows > 0)) {
      require(query.isActive && System.nanoTime() < warmDeadline,
        s"the warm-up batch did not land: ${query.exception.getOrElse("timed out")}")
      Thread.sleep(10)
    }
    val versions0 = versions(spark)

    // times below are epoch milliseconds, the clock stream progress uses
    val t0 = System.currentTimeMillis()
    val due = new ConcurrentHashMap[Int, Long]()
    val visibleAt = new ConcurrentHashMap[Int, Long]()
    @volatile var stopping = false
    var lateMax, backlogMax = 0.0
    // The open-loop generator stages batch b at t0 + FirstDueS + b *
    // interval, until LastDueS before serving ends, so ingest runs beside
    // every request. The interval is shorter than one add: the stream reads
    // every file staged so far in its next micro-batch, which keeps the
    // sink busy and the backlog one micro-batch deep. A batch is visible
    // when the micro-batch that read it completes.
    val generator = new Thread(() => {
      var staged, lastBatch = 0L
      def drained = stopping && (visibleAt.size >= staged ||
        System.currentTimeMillis() - t0 > (seconds + DrainS) * 1000)
      while (!drained) {
        val now = System.currentTimeMillis()
        val nextDue = t0 + ((FirstDueS + staged * IntervalS) * 1000).toLong
        if (staged < scheduled && now >= nextDue) {
          lateMax = math.max(lateMax, (now - nextDue) / 1000.0)
          due.put(staged.toInt, nextDue)
          stage(staged.toInt, stagedDir)
          staged += 1
        }
        query.recentProgress.filter(p => p.batchId > lastBatch && p.numInputRows > 0)
          .sortBy(_.batchId).foreach { p =>
            val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
              p.durationMs.get("triggerExecution").longValue
            filesRead(checkpoint, p.batchId).foreach(b => visibleAt.put(b, end))
            lastBatch = p.batchId
          }
        backlogMax = math.max(backlogMax, (staged - visibleAt.size).toDouble)
        Thread.sleep(10)
      }
    })
    generator.setDaemon(true)
    generator.start()

    // closed-loop serving, in whole rotations of the three request kinds
    val reqOps = scala.collection.mutable.ArrayBuffer.empty[Op]
    var i = 0
    while (System.currentTimeMillis() - t0 < seconds * 1000 || i % Kinds.size != 0) {
      val op = f"req$i%04d"
      val kind = Kinds(i % Kinds.size)
      sc.setJobGroup(op, kind)
      val s0 = System.nanoTime()
      try {
        val (qs, out) = Run.span(probe, op, "ann", "query_call")(request(spark, base, i, rng))
        val rows = Run.span(probe, op, "exec", "execute") {
          out.select("query_id", "cand_id").collect()
        }
        val sec = Main.seconds(s0)
        val perQuery = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.length }
        val short = qs.count(q => perQuery.getOrElse(q.id, 0) < K)
        val err =
          if (short == 0) None
          else Some(s"$short of ${qs.length} queries returned fewer than $K rows")
        reqOps += Op("request", kind, sec, err, rows = rows.length.toLong)
      } catch {
        case e: Throwable => reqOps += Op("request", kind, Main.seconds(s0), Run.error(e))
      } finally sc.clearJobGroup()
      i += 1
    }
    val serveWall = (System.currentTimeMillis() - t0) / 1000.0
    val codegen = probe.map(_.codegen).getOrElse((0L, 0.0))
    stopping = true
    generator.join()
    query.stop()
    val ingestOps = (0 until due.size).map { b =>
      val d = due.get(b)
      if (visibleAt.containsKey(b))
        Op("ingest", s"batch-$b", (visibleAt.get(b) - d) / 1000.0, rows = BatchRows.toLong)
      else Op("ingest", s"batch-$b", (System.currentTimeMillis() - d) / 1000.0,
        Some("batch never became visible"))
    }
    val commits = versions(spark).map { case (t, v) => v - versions0.getOrElse(t, -1L) }.sum
    // recall, once ingest has stopped: one probe request against the final
    // generation, scored against an exact cosine top-k over the same corpus
    val corpusNow = base ++ batches(-1) ++
      (0 until scheduled).filter(b => visibleAt.containsKey(b)).flatMap(batches(_))
    val (recallOp, hits, total) = recall(spark, base, corpusNow)
    Outcome(reqOps.toSeq ++ ingestOps :+ recallOp, ingestOps.filter(_.error.isEmpty).map(_.sec),
      hits, total,
      layers = p => layers(p, serveWall, codegen, reqOps.size, commits, lateMax,
        backlogMax, spark))
  }

  /** The recall probe. Its query vectors come from the base corpus with a
    * fixed generator seed, the same on every run, so recall moves with the
    * index and not with the draw. */
  private def recall(spark: SparkSession, base: Array[Vec],
      corpusNow: Array[Vec]): (Op, Long, Long) = {
    val rng = new scala.util.Random(RecallSeed)
    val qs = Array.tabulate(RecallQueries) { j =>
      val v = base(rng.nextInt(base.length))
      Vec(QueryIdBase + j, jitter(v.emb, rng), v.label)
    }
    val s0 = System.nanoTime()
    try {
      val served = AnnIndex.query(spark, index, queryFrame(spark, qs), k = K,
        nprobe = NProbe, shortlist = Shortlist)
        .select("query_id", "cand_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val hits = qs.map(q => topK(q, corpusNow).count(served.getOrElse(q.id, Set.empty[Long]))).sum
      (Op("recall", "probe", Main.seconds(s0)), hits.toLong, (K * qs.length).toLong)
    } catch {
      case e: Throwable => (Op("recall", "probe", Main.seconds(s0), Run.error(e)), 0L, 0L)
    }
  }

  /** The scheduled batches the file stream read in micro-batch `n`, from
    * the file source's log in the checkpoint: one JSON entry per file, and
    * every tenth batch a `<n>.compact` file holding the entries of all
    * batches so far. */
  private def filesRead(checkpoint: String, n: Long): Seq[Int] = {
    val log = new File(s"$checkpoint/sources/0/$n")
    val file = if (log.exists()) log else new File(s"$checkpoint/sources/0/$n.compact")
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().filter(_.contains(s"\"batchId\":$n}")).flatMap { line =>
      BatchFile.findFirstMatchIn(line).map(_.group(1).toInt)
    }.toList
    finally src.close()
  }

  /** Latest committed version of each index table. */
  private def versions(spark: SparkSession): Map[String, Long] =
    Seq("seeds", "codebooks", "coded", "vectors", "tombstones", "meta").flatMap { t =>
      graft.Versioned.latestVersion(spark, s"$index/$t").map(t -> _)
    }.toMap

  /** Write every batch up front as its own parquet file, one Spark job
    * before the measurement, so that staging one on schedule is a rename. */
  private def prepare(spark: SparkSession, batches: Map[Int, Array[Vec]]): Unit = {
    val rows = batches.toSeq.flatMap { case (b, vs) =>
      vs.toSeq.map(v => Row(v.id, v.emb.toSeq, v.label, b))
    }
    spark.createDataFrame(rows.asJava, VecSchema.add("batch", IntegerType, nullable = false))
      .repartition(col("batch")).write.partitionBy("batch").parquet(s"$dir/pending")
  }

  /** Stage batch `b`: rename its prepared file into the watched directory,
    * so the stream never sees half a file. */
  private def stage(b: Int, stagedDir: String): Unit = {
    val part = new File(s"$dir/pending/batch=$b").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new File(stagedDir, if (b < 0) "warm-up.parquet" else f"batch-$b%05d.parquet").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def layers(p: Probe, wall: Double, codegen: (Long, Double), requests: Int,
      commits: Long, lateMax: Double, backlogMax: Double,
      spark: SparkSession): Map[String, Double] = {
    val req = (g: String) => g.startsWith("req")
    val n = math.max(requests, 1).toDouble
    val coded = p.scans.filter(s => req(s.group) && s.root.contains("/coded"))
    // stream batch 0 is the warm-up batch
    val progress = p.progress.filter(pr => pr.numInputRows > 0 && pr.batchId > 0)
    def ms(pr: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(pr.durationMs.get(k)).map(_.toDouble / 1000.0).getOrElse(0.0)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val (compacting, adding) = progress.partition(_.batchId % CompactEvery == 0)
    val addS = mean(adding.map(ms(_, "addBatch")).toSeq)
    Layers.engine(p, req, n, wall, codegen, spark.sparkContext.defaultParallelism) ++ Map(
      "ann.query_call_s" -> p.spans.filter(_.name == "query_call").map(_.sec).sum / n,
      "ann.jobs_per_request" -> p.total(req).jobs / n,
      "ann.coded_rows_scanned" -> coded.map(_.rows).sum / n,
      "ann.coded_files" -> mean(coded.map(_.files.toDouble).toSeq),
      "ann.add_s" -> addS,
      "ann.compact_s" -> math.max(0.0, mean(compacting.map(ms(_, "addBatch")).toSeq) - addS),
      "versioned.commits" -> commits.toDouble / math.max(progress.size, 1),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.trigger_s" -> mean(progress.map(ms(_, "triggerExecution")).toSeq),
      "streaming.add_batch_s" -> mean(progress.map(ms(_, "addBatch")).toSeq),
      "streaming.planning_s" -> mean(progress.map(ms(_, "queryPlanning")).toSeq),
      "streaming.commit_s" ->
        mean(progress.map(pr => ms(pr, "walCommit") + ms(pr, "commitOffsets")).toSeq),
      "streaming.backlog_max" -> backlogMax,
      "streaming.generator_late_s" -> lateMax) ++
      Layers.self(p)
  }
}

final case class Vec(id: Long, emb: Array[Float], label: Int)

object AnnServeIngest {
  val ScaleFactor = "0.25" // 5,000 base vectors
  val Cells = 32
  val Codewords = 256
  val Labels = 10
  val K = 10
  val NProbe = 8
  val Shortlist = 100
  val QueriesPerRequest = 10
  val Kinds = Seq("plain", "where", "allowed")
  val RecallQueries = 50
  val RecallSeed = 20261017L
  val BatchRows = 50
  val FirstDueS = 0.5
  val IntervalS = 1.0
  val LastDueS = 0.5
  val CompactEvery = 3L
  val BatchFile = "batch-([0-9]{5})\\.parquet".r
  val DrainS = 30.0
  val QueryIdBase = 1000000000000L
  val IngestIdBase = 1000000000L

  val QuerySchema = StructType(Seq(StructField("query_id", LongType, nullable = false),
    StructField("qe", ArrayType(FloatType, containsNull = false), nullable = false)))
  val IdSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false)))
  val VecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false)))

  /** A nearby point: every coordinate moved by up to +-0.05. */
  def jitter(v: Array[Float], rng: scala.util.Random): Array[Float] =
    v.map(x => x + (rng.nextFloat() - 0.5f) / 10f)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k ids by cosine, ties to the lower id. */
  def topK(q: Vec, candidates: Array[Vec]): Seq[Long] =
    candidates.map(c => (-cosine(q.emb, c.emb), c.id)).sorted.take(K).map(_._2).toSeq
}
