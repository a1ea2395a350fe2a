package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Benchmark entry point (launched by `run.py`):
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir> [--rate <files/s>]`
  * or `Main selftest`. Prints human-readable lines, then one line
  * `PERFBENCH_RESULT <json>`; exits 1 when an output check failed. */
object Main {

  final case class EndToEnd(name: String, unit: String)

  val endToEnd: Seq[EndToEnd] = Seq(
    EndToEnd("setup_s", "s"), EndToEnd("rows_per_s", "rows/s"),
    EndToEnd("latency_p50_ms", "ms"), EndToEnd("latency_p90_ms", "ms"),
    EndToEnd("recall", "ratio"), EndToEnd("success_frac", "ratio"),
    EndToEnd("peak_rss_mb", "MB"))

  def main(argv: Array[String]): Unit = {
    if (argv.toSeq == Seq("selftest")) sys.exit(SelfTest.run())
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val workload = Workload.all.getOrElse(name,
      sys.error(s"unknown workload $name; one of ${Workload.all.keys.toSeq.sorted.mkString(", ")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = Paths.get(need("work"))
    val out = Paths.get(need("out"))
    Files.createDirectories(work); Files.createDirectories(out)
    val runId = s"$name-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current().pid()}"

    // set-up time runs from JVM start; the telemetry snapshot is left out of it
    val toMainS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    // Spark's core count: local[SPARK_GRAFT_CPUS], as set by run.py
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val host0 = Host.snapshot()
    val (spark, startS) = Workload.timeS(graft.Engine.session("perfbench"))
    val sessionS = toMainS + startS
    val tracer = new Tracer(trace, runId, spark.sparkContext)
    tracer.install(spark)
    val ctx = new Ctx(spark, seed, seconds, work, tracer, cores, opts.get("rate").map(_.toDouble))

    val r = try workload.run(ctx) catch {
      case e: Exception =>
        e.printStackTrace()
        Result(Seq(0.0), 0.0, Seq(0.0), 0.0, 1, 1, Seq(s"workload threw $e"), Map.empty, Nil)
    }
    val host1 = Host.snapshot()
    val rssMb = Host.peakRssMb()
    val setupS = sessionS + Stats.median(r.setupRepsS)
    val correct = r.problems.isEmpty && r.failed == 0

    val e2e = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> r.rowsPerS,
      "latency_p50_ms" -> Stats.median(r.latencyMs),
      "latency_p90_ms" -> Stats.percentile(r.latencyMs, 90),
      "recall" -> r.recall,
      "success_frac" -> (1.0 - r.failed.toDouble / math.max(r.attempted, 1)),
      "peak_rss_mb" -> rssMb)

    println(s"workload $name seed $seed seconds $seconds trace ${if (trace) 1 else 0} cores $cores run $runId")
    println(f"setup: session ${sessionS}%.3f s + median of ${r.setupRepsS.size}%d set-ups " +
      r.setupRepsS.map(x => f"$x%.3f").mkString("[", ", ", "]") + " s")
    println(s"samples: ${r.latencyMs.size} timed operations, ${r.attempted} attempted, ${r.failed} failed")
    r.report.foreach { case (k, v, u) => println(f"  $k%-22s $v%14.4f $u") }
    println(f"  failed_frac            ${r.failed.toDouble / math.max(r.attempted, 1)}%14.4f ratio")
    endToEnd.foreach(m => println(f"e2e ${m.name}%-18s ${e2e(m.name)}%14.4f ${m.unit}"))
    val hostCores = Runtime.getRuntime.availableProcessors()
    val noise = Host.noise(host0, host1, hostCores)
    println(s"host: cores $hostCores (Spark local[$cores]) loadavg ${host0.loadavg.mkString(" ")} -> ${host1.loadavg.mkString(" ")}, " +
      s"other JVMs ${host0.otherJvms} -> ${host1.otherJvms}, " +
      f"membw ${host0.membwGbps}%.2f -> ${host1.membwGbps}%.2f GB/s, " +
      (if (noise.isEmpty) "window clean" else "NOISY WINDOW: " + noise.mkString("; ")))
    r.problems.foreach(p => println(s"CHECK FAILED: $p"))

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val res = mapper.createObjectNode()
    res.put("correct", correct)
    res.put("attempted", r.attempted)
    res.put("failed", r.failed)
    val metrics = res.putObject("metrics")
    def put(k: String, v: Double, unit: String): Unit = {
      val m = metrics.putObject(k); m.put("value", v); m.put("unit", unit)
    }
    if (trace) {
      println("trace (span tree: count, total, self time):")
      tracer.tree().foreach(l => println("  " + l))
      Workload.layerMetrics.foreach { case (k, unit) =>
        val v = r.layers.getOrElse(k, 0.0)
        println(f"layer $k%-30s $v%16.4f $unit")
        put(k, v, unit)
      }
      tracer.write(out.resolve(s"$runId.trace.json"))
    } else endToEnd.foreach(m => put(m.name, e2e(m.name), m.unit))

    val record = mapper.createObjectNode()
    record.put("run_id", runId)
    record.set("result", res.deepCopy())
    record.set("host_start", Host.toJson(host0, mapper))
    record.set("host_end", Host.toJson(host1, mapper))
    val nz = record.putArray("noise"); noise.foreach(nz.add)
    val samples = record.putArray("latency_ms"); r.latencyMs.foreach(samples.add(_))
    Files.write(out.resolve(s"$runId.json"), mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(record))

    spark.stop()
    println("PERFBENCH_RESULT " + mapper.writeValueAsString(res))
    sys.exit(if (correct) 0 else 1)
  }
}
