package graft

import org.scalatest.funsuite.AnyFunSuite

/** Host telemetry behind the benchmark's noise flags: the counters and
  * the memory-bandwidth gauge must read on a Linux host, and the deltas
  * between two snapshots must say which resource degraded (steal/iowait
  * fractions, PSI stall deltas) rather than report raw jiffies. */
class BenchGuardSpec extends AnyFunSuite {

  test("membwGauge returns a positive GB/s sample on this host") {
    assert(Bench.membwGauge().exists(_ > 0.0))
  }

  test("hostDeltas normalizes cpu jiffies to fractions, keeps raw deltas") {
    val start = Map("cpu_total" -> 1000.0, "cpu_steal" -> 10.0,
      "cpu_iowait" -> 20.0, "psi_cpu_some" -> 5000.0,
      "cg_nr_throttled" -> 3.0)
    val end = Map("cpu_total" -> 2000.0, "cpu_steal" -> 310.0,
      "cpu_iowait" -> 120.0, "psi_cpu_some" -> 9000.0,
      "cg_nr_throttled" -> 7.0)
    val d = Bench.hostDeltas(start, end)
    assert(math.abs(d("steal_frac") - 0.3) < 1e-9)
    assert(math.abs(d("iowait_frac") - 0.1) < 1e-9)
    assert(d("psi_cpu_some") == 4000.0)
    assert(d("cg_nr_throttled") == 4.0)
    assert(!d.contains("cpu_total") && !d.contains("cpu_steal"))
  }

  test("hostCounters reads this Linux host's cpu line and membw gauge") {
    val c = Bench.hostCounters()
    // /proc/stat exists in this container; steal/iowait may be 0 but the
    // total must be positive and monotone
    assert(c.getOrElse("cpu_total", 0.0) > 0.0)
    // the memory-bandwidth gauge always measures (pure JVM, no /proc)
    assert(c.getOrElse("membw_gbps", 0.0) > 0.0)
  }

  test("hostDeltas reports gauges as start/end, not a delta") {
    val d = Bench.hostDeltas(
      Map("cpu_total" -> 100.0, "membw_gbps" -> 8.0, "cpu_mhz_mean" -> 2600.0),
      Map("cpu_total" -> 200.0, "membw_gbps" -> 0.2, "cpu_mhz_mean" -> 2600.0))
    assert(d("membw_gbps_start") == 8.0 && d("membw_gbps_end") == 0.2)
    assert(d("cpu_mhz_mean_start") == 2600.0)
    assert(!d.contains("membw_gbps"))
  }
}
