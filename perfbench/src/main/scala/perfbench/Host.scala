package perfbench

import scala.jdk.CollectionConverters._

/** Host telemetry recorded beside every run, so a noisy window can be
  * told apart from a slow program. Noise is flagged, never dropped. */
object Host {

  def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Nil }

  /** Java processes other than this one. */
  def otherJvms(): Int = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self && p.info().command().orElse("").endsWith("/java")
    }
  }

  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  final case class Snapshot(loadavg: Seq[Double], otherJvms: Int,
                            counters: Map[String, Double], membwGbps: Double)

  def snapshot(): Snapshot =
    Snapshot(loadavg(), otherJvms(), graft.Bench.hostCounters(),
      (1 to 3).flatMap(_ => graft.Bench.membwGauge()).maxOption.getOrElse(0.0))

  /** Reasons this run's window looks noisy; empty when it looks clean. */
  def noise(start: Snapshot, end: Snapshot, cores: Int): Seq[String] = {
    val d = graft.Bench.hostDeltas(start.counters, end.counters)
    Seq(
      (start.otherJvms > 0 || end.otherJvms > 0) ->
        s"other JVMs running (${start.otherJvms} at start, ${end.otherJvms} at end)",
      (start.loadavg.headOption.exists(_ > 2.0 * cores)) ->
        s"load average ${start.loadavg.headOption.getOrElse(0.0)} at start on $cores cores",
      (math.min(start.membwGbps, end.membwGbps) < 2.0) ->
        f"memory bandwidth gauge ${start.membwGbps}%.2f -> ${end.membwGbps}%.2f GB/s",
      (d.getOrElse("steal_frac", 0.0) > 0.05) ->
        f"hypervisor steal ${d.getOrElse("steal_frac", 0.0)}%.3f of cpu time"
    ).collect { case (true, why) => why }
  }

  def toJson(s: Snapshot, mapper: com.fasterxml.jackson.databind.ObjectMapper) = {
    val n = mapper.createObjectNode()
    val la = n.putArray("loadavg"); s.loadavg.foreach(la.add(_))
    n.put("other_jvms", s.otherJvms)
    n.put("membw_gbps", s.membwGbps)
    val c = n.putObject("counters")
    s.counters.toSeq.sortBy(_._1).foreach { case (k, v) => c.put(k, v) }
    n
  }
}
