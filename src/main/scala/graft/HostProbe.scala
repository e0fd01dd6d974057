package graft

/** One-number host-health probe emitted with every bench record.
  *
  * This host's dominant noise source is the kernel page path: first-touch
  * page allocation has measured anywhere from ~4.4 GB/s (healthy epoch) to
  * ~0.1 GB/s (degraded epoch) across sessions with zero code change —
  * enough to move a full-build wall time 2-3x on its own (PERF_NOTES_r6.md).
  * Embedding the probe value in the bench JSON makes every committed number
  * interpretable: compare engine records at like-for-like `host_page_mbps`,
  * not across epochs.
  *
  * Method: write 256 MB of fresh pages through the page cache to a temp
  * file (each 4K page is first-touched in the kernel), fsync, report MB/s,
  * delete. ~0.1-2 s of probe time against multi-minute benches.
  */
object HostProbe {

  def pageMBps(): Double = pageMBps(None)

  /** As [[pageMBps]]()], but writing into `dir` when given. A tmpfs dir
    * (/dev/shm) measures the kernel page-allocation path WITHOUT the disk
    * behind it — useful mid-run, when the disk probe is confounded by the
    * workload's own write traffic. */
  def pageMBps(dir: Option[String]): Double = {
    val mb = 256
    val f = dir match {
      case Some(d) => java.io.File.createTempFile("graft_probe", ".bin",
        new java.io.File(d))
      case None => java.io.File.createTempFile("graft_probe", ".bin")
    }
    try {
      val ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val buf = java.nio.ByteBuffer.allocate(1 << 20)
        while (buf.hasRemaining) buf.put(0x5a.toByte)
        val t0 = System.nanoTime()
        var i = 0
        while (i < mb) { buf.rewind(); ch.write(buf); i += 1 }
        ch.force(false)
        val sec = (System.nanoTime() - t0) / 1e9
        math.round(mb / sec * 10.0) / 10.0
      } finally ch.close()
    } finally { f.delete(); () }
  }

  /** One mid-run sample: seconds since sampler start, the disk probe (the
    * ledger-comparable `host_page_mbps` path — java.io.tmpdir), and the
    * tmpfs probe (kernel page path isolated from disk contention). */
  final case class Sample(offsetSec: Double, diskMBps: Double, shmMBps: Double)

  /** Background mid-run probe series for long benches (the SF10 replica
    * build). End-of-run probes proved insufficient evidence for the host's
    * drag epochs (BENCH_SF10_REPLICA.json r9 addendum: two draws with
    * HEALTHY end probes but uniform mid-run slowdowns); this samples the
    * probe every `intervalSec` ON the running build so a drag epoch leaves
    * a witnessed series, not an inference.
    *
    * Mid-run disk values ARE load-confounded (the build's own writes share
    * the device) — that is why each sample also carries the tmpfs probe,
    * which exercises the same kernel first-touch page path with no device
    * behind it. A drag epoch shows BOTH channels low; mere build write
    * pressure shows disk low / shm healthy. One daemon thread; each sample
    * costs ~0.2-2 s of one core against a 32-core multi-minute build. */
  final class Sampler(intervalSec: Int = 30) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Sample]
    @volatile private var running = true
    private val t0 = System.nanoTime()
    private def offset: Double = math.round((System.nanoTime() - t0) / 1e8) / 10.0
    private val shmDir: Option[String] =
      Some("/dev/shm").filter(d => new java.io.File(d).isDirectory)
    private val th = new Thread(() => {
      while (running) {
        // re-check `running` immediately before the probe write: a single
        // sample moves 512 MB (256 disk + 256 tmpfs) and can take >10 s on
        // exactly the degraded epochs this sampler exists to witness — a
        // stop() racing into a just-started probe would otherwise leave a
        // background write competing with whatever runs after the build
        val s = try {
          if (!running) Sample(offset, -1.0, -1.0)
          else Sample(offset, pageMBps(None),
            shmDir.map(d => if (running) pageMBps(Some(d)) else -1.0)
              .getOrElse(-1.0))
        } catch { case _: Exception => Sample(offset, -1.0, -1.0) }
        if (running) buf.synchronized { buf += s; () }
        var slept = 0
        while (running && slept < intervalSec * 10) { Thread.sleep(100); slept += 1 }
      }
    }, "graft-host-probe-sampler")
    th.setDaemon(true)

    def start(): this.type = { th.start(); this }

    /** Stop sampling and return the series (includes one final sample).
      * Waits out an in-flight probe (up to 90 s — one degraded-epoch probe
      * can exceed the old 10 s grace) so no background 256 MB write is
      * left competing with whatever runs next; if the thread still hasn't
      * parked by then, that is itself logged as epoch evidence. */
    def stop(): Seq[Sample] = {
      running = false
      th.join(90000)
      if (th.isAlive)
        System.err.println("[hostprobe] sampler thread still mid-probe " +
          "after 90 s grace — in-flight sample dropped (severely degraded epoch)")
      val fin = try Sample(offset, pageMBps(None),
        shmDir.map(d => pageMBps(Some(d))).getOrElse(-1.0))
      catch { case _: Exception => Sample(offset, -1.0, -1.0) }
      buf.synchronized { (buf += fin).toSeq }
    }
  }
}
