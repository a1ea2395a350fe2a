package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val work: Path, val tracer: Tracer, val cores: Int,
                val rate: Option[Double]) {
  def dir(name: String): String = work.resolve(name).toString
  def deadlineNs: Long = System.nanoTime() + seconds * 1000000000L
  private val t0 = System.nanoTime()
  /** Progress line, so a run that is cut short still shows where it was. */
  def phase(name: String): Unit =
    println(f"phase ${(System.nanoTime() - t0) / 1e9}%7.2f s  $name")
}

/** What a workload measured. `latencyMs` holds one sample per timed
  * operation; `report` lists the workload's own metric names (as the
  * README's tables call them) for the human-readable output. */
final case class Result(
    setupRepsS: Seq[Double],
    rowsPerS: Double,
    latencyMs: Seq[Double],
    recall: Double,
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    layers: Map[String, Double],
    report: Seq[(String, Double, String)])

trait Workload {
  def run(ctx: Ctx): Result
}

object Workload {
  val all: Map[String, Workload] = Map(
    "etl_batch" -> EtlBatch,
    "cdc_incremental" -> CdcIncremental,
    "corpus_dedup" -> CorpusDedup)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def bytesUnder(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** Per-operation means of the Spark task counters inside the timed
    * operations' spans (`opSpan`), and their busy fraction. */
  def sparkLayer(ctx: Ctx, opSpan: String): Map[String, Double] = {
    val t = ctx.tracer
    val ops = t.spans.filter(_.name == opSpan).toSeq
    val n = math.max(ops.size, 1).toDouble
    val c = t.countersOf(ops.flatMap(s => t.subtree(s.id)))
    val wallMs = t.totalMs(opSpan)
    Map(
      "spark.task_ms" -> c.taskMs / n,
      "spark.cpu_ms" -> c.cpuNs / 1e6 / n,
      "spark.gc_ms" -> c.gcMs / n,
      "spark.busy_frac" -> (if (wallMs > 0) c.taskMs / (wallMs * ctx.cores) else 0.0),
      "spark.jobs" -> c.jobs / n,
      "spark.tasks" -> c.tasks / n,
      "spark.task_failures" -> c.taskFailures.toDouble,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> c.shuffleRead / n,
      "spark.spill_bytes" -> c.spill / n)
  }

  /** Scan and write counters per operation of the spans named `opSpan`,
    * leaving out the subtrees of spans named in `exclude`. */
  def ioLayer(ctx: Ctx, opSpan: String, exclude: Set[String] = Set.empty): Map[String, Double] = {
    val t = ctx.tracer
    val ops = t.spans.filter(_.name == opSpan).toSeq
    val n = math.max(ops.size, 1).toDouble
    val excluded = t.spans.filter(s => exclude(s.name)).flatMap(s => t.subtree(s.id)).toSet
    val c = t.countersOf(ops.flatMap(s => t.subtree(s.id)).filterNot(excluded))
    val w = t.countersOf(ops.flatMap(s => t.subtree(s.id)))
    Map(
      "sources.scan_ms" -> c.scanMs / n,
      "sources.files_read" -> c.scanFiles / n,
      "sources.bytes_read" -> c.scanBytes / n,
      "sources.rows_read" -> c.scanRows / n,
      "sinks.rows_written" -> w.writeRows / n,
      "sinks.bytes_written" -> w.writeBytes / n,
      "sinks.files_written" -> w.writeFiles / n)
  }

  /** Every per-layer metric, so each traced run
    * reports all of them; a layer a workload does not use reads 0. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "plans.spec_ms" -> "ms", "plans.compile_ms" -> "ms", "plans.run_ms" -> "ms",
    "plans.staged_ms" -> "ms", "plans.jobs_per_run" -> "count",
    "incr.tick_p50_ms" -> "ms", "incr.tick_p90_ms" -> "ms", "incr.query_ms" -> "ms",
    "incr.sink_ms" -> "ms", "incr.self_ms" -> "ms", "incr.jobs_per_tick" -> "count",
    "incr.rows_per_tick" -> "rows", "incr.empty_tick_frac" -> "ratio",
    "incr.wait_ms" -> "ms", "incr.ticks_failed" -> "count",
    "sources.scan_ms" -> "ms", "sources.files_read" -> "count",
    "sources.bytes_read" -> "bytes", "sources.rows_read" -> "rows",
    "sinks.write_ms" -> "ms", "sinks.rows_written" -> "rows",
    "sinks.bytes_written" -> "bytes", "sinks.files_written" -> "count",
    "sinks.existing_scan_bytes" -> "bytes",
    "operators.transforms_ms" -> "ms", "operators.neardup_ms" -> "ms",
    "operators.neardup_rows_out" -> "rows",
    "functions.text_ms" -> "ms",
    "spark.task_ms" -> "ms", "spark.cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.busy_frac" -> "ratio", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_failures" -> "count", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes")
}
