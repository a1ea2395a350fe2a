package graft

/** Host telemetry for benchmark runs: cumulative /proc and cgroup counters,
  * a memory-bandwidth gauge, and the deltas between two counter snapshots,
  * so a slow window on a shared host can be told apart from a slow
  * program. The benchmark harness under `perfbench/` records these beside
  * every run. */
object Bench {

  /** Cumulative host resource counters from /proc and cgroup v2 — the
    * slow-host instrumentation: four r14/r18/r19 record attempts measured
    * 1.35-2.29× at clean contention signals (loadavg ~1, java_procs 2),
    * so WHICH resource degraded (hypervisor steal, IO wait, cgroup CPU
    * throttling, PSI stall time) must be in the run's own record, not
    * re-derived a round later. Every read is best-effort (absent files —
    * non-Linux, cgroup v1 — just omit their keys). PSI totals are
    * cumulative stall microseconds; cpu_* are jiffies. */
  def hostCounters(): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
        .drop(1).map(_.toDouble)
      // fields: user nice system idle iowait irq softirq steal
      m += "cpu_total" -> cpu.sum
      if (cpu.length > 4) m += "cpu_iowait" -> cpu(4)
      if (cpu.length > 7) m += "cpu_steal" -> cpu(7)
    } catch { case _: Throwable => () }
    Seq("cpu", "io", "memory").foreach { r =>
      try scala.io.Source.fromFile(s"/proc/pressure/$r").getLines()
        .foreach { ln =>
          val parts = ln.trim.split("\\s+")
          parts.find(_.startsWith("total=")).foreach { t =>
            m += s"psi_${r}_${parts.head}" ->
              t.stripPrefix("total=").toDouble }
        }
      catch { case _: Throwable => () }
    }
    // cgroup v2 and v1 throttle counters (whichever path this box has)
    Seq("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat")
      .foreach { p =>
        try scala.io.Source.fromFile(p).getLines().foreach { ln =>
          val parts = ln.trim.split("\\s+")
          if (parts.length == 2 && (parts(0) == "nr_throttled" ||
              parts(0) == "throttled_usec" || parts(0) == "throttled_time"))
            m += s"cg_${parts(0)}" -> parts(1).toDouble
        }
        catch { case _: Throwable => () }
      }
    // mean advertised core clock — a hypervisor/thermal frequency drop is
    // the slowdown mode the steal/iowait/throttle counters CANNOT see
    // (r20 attempt 1: mid-run echo 1.61x with steal 2.3%, iowait 0,
    // zero throttling). Snapshot, not cumulative; hostDeltas passes
    // gauges through as end-minus-start so a mid-run drop reads negative.
    try {
      val mhz = scala.io.Source.fromFile("/proc/cpuinfo").getLines()
        .filter(_.startsWith("cpu MHz")).map(_.split(":")(1).trim.toDouble)
        .toSeq
      if (mhz.nonEmpty) m += "cpu_mhz_mean" -> mhz.sum / mhz.size
    } catch { case _: Throwable => () }
    // MEMORY-BANDWIDTH gauge (GB/s, one pre-touched 64 MB arraycopy):
    // the r20 root-cause of the recurring slow-host signature. An idle
    // box ran Spark lines 2-4.5x slow with steal 2.3%, iowait ~0, zero
    // throttling, modest PSI and PERFECT 32-way cpu-loop scaling — but
    // steady-state memcpy measured 0.1 GB/s against a normal host's
    // 5-20 (hypervisor-level memory ballooning/paging, invisible to
    // every guest counter). Spark is allocation/shuffle-bound, so THIS
    // gauge is the one that tracks its slowdown; sub-1 GB/s here is a
    // degraded window, full stop.
    membwGauge().foreach(g => m += "membw_gbps" -> g)
    m.toMap
  }

  /** One sample of the memory-bandwidth gauge (GB/s, a pre-touched 64 MB
    * arraycopy), also folded into [[hostCounters]]. A host whose memory
    * bandwidth is capped by the hypervisor slows Spark 2-4× with no
    * steal, iowait or throttling to show for it; this gauge is the one
    * reading that drops with it. ~13 ms on a healthy host; None only if
    * the allocation itself fails. */
  // gauge buffers allocated and page-touched ONCE, so taking a sample puts
  // no allocation or GC pressure on the run it annotates
  private lazy val membwSrc = {
    val a = new Array[Byte](64 << 20); java.util.Arrays.fill(a, 1.toByte); a
  }
  private lazy val membwDst = {
    val a = new Array[Byte](64 << 20); java.util.Arrays.fill(a, 2.toByte); a
  }

  def membwGauge(): Option[Double] = try {
    val src = membwSrc
    val dst = membwDst
    val n = src.length
    dst(n - 1) = 0 // reset the witness byte (copy must be observable, no DCE)
    val t0 = System.nanoTime()
    System.arraycopy(src, 0, dst, 0, n)
    val dt = (System.nanoTime() - t0) / 1e9
    if (dst(n - 1) == 1.toByte)
      Some((n / 1e9) / math.max(dt, 1e-9))
    else scala.None
  } catch { case _: Throwable => scala.None }

  /** Counter keys that are GAUGES (instantaneous state), not cumulative
    * counters: [[hostDeltas]] reports their start and end values rather
    * than a meaningless difference-of-snapshots. */
  private val GaugeKeys = Set("cpu_mhz_mean", "membw_gbps")

  /** Deltas between two [[hostCounters]] snapshots, with the cpu jiffy
    * counters normalized to FRACTIONS of total jiffies elapsed
    * (steal_frac 0.3 = the hypervisor stole ~30% of the window — the
    * direct "it's external" verdict). PSI/cgroup counters stay raw
    * cumulative-microsecond/count deltas. */
  def hostDeltas(start: Map[String, Double],
                 end: Map[String, Double]): Map[String, Double] = {
    val shared = (start.keySet & end.keySet).toSeq
    val d = shared.filterNot(GaugeKeys)
      .map(k => k -> (end(k) - start(k))).toMap
    val gauges = shared.filter(GaugeKeys).flatMap(k =>
      Seq(s"${k}_start" -> start(k), s"${k}_end" -> end(k))).toMap
    val tot = d.getOrElse("cpu_total", 0.0)
    val frac =
      if (tot <= 0) Map.empty[String, Double]
      else Map(
        "steal_frac" -> d.getOrElse("cpu_steal", 0.0) / tot,
        "iowait_frac" -> d.getOrElse("cpu_iowait", 0.0) / tot)
    d.view.filterKeys(k => !k.startsWith("cpu_")).toMap ++ frac ++ gauges
  }
}
