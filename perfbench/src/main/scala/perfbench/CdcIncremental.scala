package perfbench

import graft.plans.{IncrementalRunner, StateStore, StatefulQuery}
import graft.sources.Sinks
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Watermark-driven incremental ingestion under an open loop: a generator
  * thread drops one parquet file into the source directory on a fixed
  * schedule, whatever the runner is doing, while the runner calls
  * `IncrementalRunner.tick` back to back. Freshness of a file runs from
  * its due time to the return of the tick that committed its last row. */
object CdcIncremental extends Workload {
  val RowsPerFile = 200
  /** Files per second: half the 24 files/s the runner sustained over a
    * 10 s window on a 4-core host, measured by stepping `--rate` (see the
    * benchmark README). */
  val Rate = 12.0
  val PollSleepMs = 10L
  val SetupReps = 3
  /** Ticks may run this long past the window to commit files already due. */
  val DrainSeconds = 30
  val Query = StatefulQuery("select * from src where id > $id::i64")

  def run(ctx: Ctx): Result = {
    import ctx._
    val rate = ctx.rate.getOrElse(Rate)
    val files = (seconds * rate).ceil.toInt + 1
    val staged = Gen.cdc(spark, seed, files, RowsPerFile, dir("staging"))
    val src = work.resolve("src")
    Files.createDirectories(src)
    def land(i: Int): Unit =
      Files.move(staged(i), src.resolve(f"part-$i%06d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    def maxId(i: Int): Long = (i + 1).toLong * RowsPerFile

    var sinkPath = ""
    var store: StateStore = null
    def runQuery(sql: String): DataFrame = tracer.span("incr.query") {
      spark.read.parquet(src.toString).createOrReplaceTempView("src")
      spark.sql(sql)
    }
    def sink(df: DataFrame): Unit = tracer.span("incr.sink") {
      Sinks.idempotentParquetAppend(df, sinkPath, Seq("id"))
    }

    phase("generated")
    // set-up: a fresh runner, state store and sink catching up on file 0
    land(0)
    var runner: IncrementalRunner = null
    val setup = (1 to SetupReps).map { i =>
      sinkPath = dir(s"sink-$i")
      Workload.timeS {
        store = new StateStore(dir(s"state-$i"))
        runner = new IncrementalRunner(spark, store)
        tracer.span("incr.setup_tick") { runner.tick("cdc", "src", Query, runQuery, sink) }
      }._2
    }

    phase("set-up done")
    // open loop: file i (i >= 1) is due at start + (i - 1) / rate
    val startNs = System.nanoTime() + 50000000L
    val dueNs = (0 until files).map(i => if (i == 0) startNs else startNs + ((i - 1) * 1e9 / rate).toLong)
    val landedNs = Array.fill(files)(0L)
    landedNs(0) = startNs
    val gen = new Thread(() => {
      var i = 1
      while (i < files) {
        val wait = dueNs(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        land(i)
        landedNs(i) = System.nanoTime()
        i += 1
      }
    }, "perfbench-cdc-generator")
    gen.setDaemon(true)

    val problems = mutable.ArrayBuffer.empty[String]
    val freshness = Array.fill(files)(Double.NaN)
    freshness(0) = 0.0
    var committed = 0
    var ticks = 0L
    var empty = 0L
    var failed = 0L
    val tickMs = mutable.ArrayBuffer.empty[Double]
    val tickOfFile = Array.fill(files)(0.0)
    val endNs = startNs + ((files - 1) / rate * 1e9).toLong
    val hardEndNs = endNs + DrainSeconds * 1000000000L
    while (System.nanoTime() < startNs) Thread.sleep(1)
    gen.start()
    while (committed < files - 1 && System.nanoTime() < hardEndNs) {
      ticks += 1
      val t0 = System.nanoTime()
      val r = try tracer.span("incr.tick") {
        runner.tick("cdc", "src", Query, runQuery, sink)
      } catch {
        case e: Exception => failed += 1; problems += s"tick $ticks threw $e"; None
      }
      val t1 = System.nanoTime()
      tickMs += (t1 - t0) / 1e6
      r match {
        case Some(wm) =>
          while (committed + 1 < files && maxId(committed + 1) <= wm) {
            committed += 1
            freshness(committed) = (t1 - dueNs(committed)) / 1e6
            tickOfFile(committed) = (t1 - t0) / 1e6
          }
        case None =>
          empty += 1
          Thread.sleep(PollSleepMs)
      }
    }
    gen.join(DrainSeconds * 1000L)
    val fresh = freshness.drop(1).filterNot(_.isNaN).toSeq
    if (fresh.size < files - 1) problems += s"${files - 1 - fresh.size} files not committed in time"
    val lateMs = (1 until files).map(i => (landedNs(i) - dueNs(i)) / 1e6)
    // a growing backlog shows as freshness rising through the run
    val quarter = math.max(fresh.size / 4, 1)
    val backlogMs =
      if (fresh.isEmpty) Double.NaN
      else Stats.median(fresh.takeRight(quarter)) - Stats.median(fresh.take(quarter))

    phase("timed phase done")
    val ids = spark.read.parquet(sinkPath).select("id").collect().map(_.getLong(0)).toSeq
    val generated = (1L to maxId(files - 1))
    val p = Checks.cdc(generated, ids, store.getLong("cdc", "src", "id"))
    problems ++= p
    // the final check is one more operation: it fails on a wrong sink or
    // watermark, or on files left uncommitted
    if (p.nonEmpty || fresh.size < files - 1) failed += 1
    val recall = ids.distinct.size.toDouble / generated.size

    val layers = mutable.Map.empty[String, Double]
    if (tracer.enabled) {
      val t = tracer
      val tk = t.durationsMs("incr.tick")
      val useful = ticks - empty
      layers("incr.tick_p50_ms") = Stats.median(tk)
      layers("incr.tick_p90_ms") = Stats.percentile(tk, 90)
      val perUseful = math.max(useful, 1).toDouble
      val tickIds = t.spans.filter(_.name == "incr.tick").map(_.id).toSet
      def under(name: String) = t.spans.filter(s => s.name == name && tickIds(s.parent)).map(s => (s.end - s.start) / 1e6).sum
      layers("incr.query_ms") = under("incr.query") / tk.size
      layers("incr.sink_ms") = under("incr.sink") / perUseful
      layers("incr.self_ms") = t.selfMs("incr.tick") / tk.size
      layers ++= Workload.sparkLayer(ctx, "incr.tick")
      layers ++= Workload.ioLayer(ctx, "incr.tick", exclude = Set("incr.sink"))
      layers("incr.jobs_per_tick") = layers("spark.jobs")
      layers("incr.rows_per_tick") = (files - 1).toDouble * RowsPerFile / perUseful
      layers("incr.empty_tick_frac") = empty.toDouble / ticks
      layers("incr.wait_ms") = (1 until files).filterNot(i => freshness(i).isNaN)
        .map(i => freshness(i) - tickOfFile(i)).sum / math.max(fresh.size, 1)
      layers("incr.ticks_failed") = failed.toDouble
      val sinkSpans = t.spans.filter(s => s.name == "incr.sink" && tickIds(s.parent)).flatMap(s => t.subtree(s.id)).toSeq
      val sc = t.countersOf(sinkSpans)
      layers("sinks.write_ms") = under("incr.sink") / perUseful
      layers("sinks.existing_scan_bytes") = sc.inputBytes / perUseful
      layers("sinks.rows_written") = sc.writeRows / perUseful
      layers("sinks.bytes_written") = sc.writeBytes / perUseful
      layers("sinks.files_written") = sc.writeFiles / perUseful
    }
    val busyS = tickMs.sum / 1000
    Result(setup, (files - 1).toDouble * RowsPerFile / busyS, fresh, recall,
      ticks + 1, failed, problems.toSeq, layers.toMap,
      Seq(("freshness_p50_ms", Stats.median(fresh), "ms"),
        ("freshness_p90_ms", Stats.percentile(fresh, 90), "ms"),
        ("files", (files - 1).toDouble, "count"),
        ("offered_rate", rate, "files/s"),
        ("generator_late_p90_ms", Stats.percentile(lateMs, 90), "ms"),
        ("backlog_growth_ms", backlogMs, "ms"),
        ("ticks", ticks.toDouble, "count"),
        ("empty_ticks", empty.toDouble, "count")))
  }
}
