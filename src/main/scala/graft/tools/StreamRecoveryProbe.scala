package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.collection.immutable.ListMap

/** Restart-from-checkpoint probe for the stateful streaming path — the
  * operational question the steady-state RocksDB record
  * (`BENCH_STREAM_STATE.json`) does not answer: when an executor dies or a
  * deploy restarts the query at 100 TB, how long does the state rebuild
  * take, at what state size, and does the sink stay exactly-once?
  *
  * Protocol, per SF (state rows scale with SF's distinct users):
  *   1. Synth events written once as 32 parquet files with strictly
  *      increasing mtimes (FileStreamSource batches by mtime order, so
  *      batch boundaries are deterministic and REPRODUCIBLE across runs).
  *   2. Phase A: `Streams.statefulSessions` (RocksDB state store) over the
  *      FIRST 16 files, maxFilesPerTrigger=4, AvailableNow → terminates
  *      with a checkpoint holding every open session.
  *   3. The remaining 16 files land in the source dir (later mtimes).
  *   4. Phase B — the measured restart: a NEW query instance resumes from
  *      the same checkpoint and drains the backlog. Its FIRST batch pays
  *      the state-store restore; phase A's first batch is the no-restore
  *      baseline for the same per-batch work, so the difference isolates
  *      the restore cost. Total catch-up wall is also recorded.
  *   5. Exactly-once evidence: a reference run (fresh checkpoint, fresh
  *      sink, same 32 files, same trigger) must produce EXACTLY the same
  *      session rows as the restarted sink — same count, same xor-hash.
  *      Identical batch boundaries make the comparison exact, not
  *      statistical: sessions split across the restart must be carried by
  *      restored state, so any loss or duplication flips the hash.
  *
  * Emits one JSON line per run (the committed artifact is
  * `BENCH_STREAM_RECOVERY.json`). Env: SPARK_GRAFT_RECOVERY_SFS ("2,10"),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_RECOVERY_DIR, SPARK_GRAFT_RECOVERY_USERS_X
  * (state-size multiplier: remaps each event's user_id into X distinct ids
  * — `user_id * X + event_id mod X` — so STATE ROWS scale X× without
  * scaling the event volume X×; restore cost is a function of state size,
  * and this decouples the two axes for the multi-million-row question). */
object StreamRecoveryProbe {

  def main(args: Array[String]): Unit = {
    val sfs = sys.env.getOrElse("SPARK_GRAFT_RECOVERY_SFS", "2,10")
      .split(",").map(_.trim).toSeq
    val cpus = graft.Session.cpus
    val usersX = sys.env.getOrElse("SPARK_GRAFT_RECOVERY_USERS_X", "1").toLong
    val base = sys.env.getOrElse("SPARK_GRAFT_RECOVERY_DIR", "/tmp/graft_stream_recovery")
    val spark = graft.Session(cpus, scratch = Some(graft.Scratch.SweepFootprint),
      extra = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    import spark.implicits._

    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rmTree)
      f.delete(); ()
    }

    val entries = sfs.map { sf =>
      val work = s"$base/sf$sf"
      rmTree(new java.io.File(work))
      // --- stage 32 event files with strictly increasing mtimes ----------
      val staging = s"$work/staging"
      spark.read.format("graft-synth")
        .option("table", "events").option("sf", sf)
        .option("partitions", cpus.toLong)
        .load()
        .select(col("event_id"), timestamp_micros(expr("ts div 1000")).as("ts"),
          (col("user_id") * usersX + pmod(col("event_id"), lit(usersX)))
            .as("user_id"),
          col("event_type"), col("value"))
        .repartition(32)
        .write.mode("overwrite").parquet(staging)
      val parts = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      require(parts.length == 32, s"expected 32 files, got ${parts.length}")
      val nEvents = spark.read.parquet(staging).count()

      def place(dir: String, files: Seq[java.io.File], mtime0: Long): Unit = {
        new java.io.File(dir).mkdirs()
        files.zipWithIndex.foreach { case (f, i) =>
          val dst = new java.io.File(dir, f.getName)
          java.nio.file.Files.copy(f.toPath, dst.toPath)
          dst.setLastModified(mtime0 + i * 1000L)
        }
      }

      /** Run the sessionization stream over `dir` from `ckpt` into `sink`;
        * returns (wall sec, first-batch ms, state rows after last batch,
        * per-batch (input rows, trigger ms)). The per-batch series is what
        * prices CATCH-UP: at production backlogs the RTO term is not the
        * restore itself but how fast the resumed query drains to current,
        * so the artifact needs throughput, not just the first batch. */
      def run(dir: String, ckpt: String, sink: String)
          : (Double, Long, Long, Seq[(Long, Long)]) = {
        val schema = spark.read.parquet(staging).schema
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "4")
          .parquet(dir)
          .as[graft.streaming.Streams.Evt]
        val t0 = System.nanoTime()
        val q = graft.streaming.Streams.statefulSessions(src)
          .writeStream.format("parquet").outputMode("append")
          .option("checkpointLocation", ckpt)
          .option("path", sink)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        val progress = q.recentProgress.toSeq
        val firstBatchMs = progress.headOption
          .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(Long2long))
          .getOrElse(-1L)
        val stateRows = progress.reverse
          .flatMap(p => Option(p.stateOperators).toSeq.flatten)
          .headOption.map(_.numRowsTotal).getOrElse(-1L)
        val batches = progress.map(p => (p.numInputRows,
          Option(p.durationMs.get("triggerExecution")).map(Long2long).getOrElse(-1L)))
        (sec, firstBatchMs, stateRows, batches)
      }

      val now = System.currentTimeMillis() - 3600 * 1000L
      val inDir = s"$work/in"
      val ckpt = s"$work/ckpt"
      val sink = s"$work/sink"
      // phase A: first half, cold state
      place(inDir, parts.take(16).toSeq, now)
      val (aSec, aFirstMs, aRows, aBatches) = run(inDir, ckpt, sink)
      // phase B: backlog lands, NEW query resumes from the checkpoint
      place(inDir, parts.drop(16).toSeq, now + 16 * 1000L)
      val (bSec, bFirstMs, bRows, bBatches) = run(inDir, ckpt, sink)

      // reference: same 32 files, same mtime order, fresh checkpoint+sink
      val refDir = s"$work/ref_in"
      place(refDir, parts.toSeq, now)
      val (_, _, refRows, _) = run(refDir, s"$work/ref_ckpt", s"$work/ref_sink")

      // catch-up profile: ev/s over the resumed query's whole backlog
      // drain (wall — the operational time-to-current) and over its
      // POST-restore batches only (the sustained drain rate once state is
      // back); steady-state baseline = phase A's post-warmup batches (same
      // per-batch work, no backlog, no restore). The ratio of drain rate
      // to steady rate is the number that extrapolates to production
      // backlogs: catch-up is the RTO term, restore is a constant.
      def rate(batches: Seq[(Long, Long)]): Double = {
        val ok = batches.filter(_._2 > 0)
        val ms = ok.map(_._2).sum
        if (ms <= 0) -1.0 else ok.map(_._1).sum.toDouble * 1000.0 / ms
      }
      val catchupEvents = bBatches.map(_._1).sum
      val catchupWallRate = if (bSec > 0) catchupEvents / bSec else -1.0
      val catchupDrainRate = rate(bBatches.drop(1))
      val steadyRate = rate(aBatches.drop(1))

      def digest(path: String): (Long, Long) = {
        val df = spark.read.parquet(path)
        val h = df.select(xxhash64(df.columns.map(col): _*).as("h"))
          .agg(count(lit(1)), expr("bit_xor(h)")).head()
        (h.getLong(0), h.getLong(1))
      }
      val (gotN, gotH) = digest(sink)
      val (refN, refH) = digest(s"$work/ref_sink")
      require(gotN == refN && gotH == refH,
        s"exactly-once violated across restart: got ($gotN, $gotH) vs reference ($refN, $refH)")
      require(bRows == refRows,
        s"state-row mismatch after catch-up: restarted=$bRows reference=$refRows")
      System.err.println(f"[recovery] sf=$sf events=$nEvents state_rows=$bRows " +
        f"restoreA_ms=$aFirstMs restartB_ms=$bFirstMs catchup=$bSec%.1fs " +
        f"catchup_ev_s=$catchupDrainRate%.0f steady_ev_s=$steadyRate%.0f exactly_once=OK")
      ListMap("sf" -> new java.math.BigDecimal(sf), "events" -> nEvents,
        "state_rows_at_restart" -> aRows, "state_rows_final" -> bRows,
        "phase_a_sec" -> aSec, "first_batch_cold_ms" -> aFirstMs,
        "restart_catchup_sec" -> bSec, "first_batch_restored_ms" -> bFirstMs,
        "catchup_events" -> catchupEvents,
        "catchup_ev_per_sec_wall" -> catchupWallRate,
        "catchup_ev_per_sec_drain" -> catchupDrainRate,
        "steady_ev_per_sec" -> steadyRate, "sessions_emitted" -> gotN,
        "exactly_once" -> true)
    }

    println(graft.Json.write(ListMap("metric" -> "stream_recovery",
      "provider" -> "rocksdb", "cpus" -> cpus, "users_x" -> usersX,
      "runs" -> entries, "host_page_mbps" -> graft.HostProbe.pageMBps())))
    spark.stop()
  }
}
