package graft.plans

import org.apache.spark.sql.SparkSession

/** Declarative reconciliation of running pipelines — the counterpart of the
  * daemon scheduler (mycelial `myceliald/src/scheduler.rs:403-485`):
  * desired state = a set of specs; each connected component is hashed
  * (ids + configs + edges, SHA-256); diff against running components stops
  * the stale, keeps the unchanged, and starts the new. Failure → restart
  * with backoff (`scheduler.rs:79-187`, 3 s backoff / bounded retries).
  */
object Orchestrator {
  sealed trait RunState
  case object Succeeded extends RunState
  final case class Failed(error: Throwable) extends RunState

  final case class RunningPipeline(hash: String, spec: PipelineSpec,
                                   state: RunState, restarts: Int)

  /** Render a failure's cause chain for the status endpoint: class +
    * message per link, deepest last, bounded in links and length (an
    * analysis exception can carry a whole plan tree in its message). */
  def causeChain(e: Throwable, maxLinks: Int = 5, maxLen: Int = 2000): String = {
    val chain = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).take(maxLinks)
      .map(t => s"${t.getClass.getSimpleName}: " +
        Option(t.getMessage).getOrElse("(no message)"))
      .mkString("\n caused by: ")
    if (chain.length <= maxLen) chain else chain.take(maxLen) + " …"
  }
}

final class Orchestrator(spark: SparkSession,
                         restartBackoffMs: Long = 3000,
                         maxRestarts: Int = 3) {
  import Orchestrator._

  @volatile private var running = Map.empty[String, RunningPipeline]

  def runningHashes: Set[String] = running.keySet

  /** Read-side snapshot for the daemon status endpoint: (hash, state,
    * restarts, error detail) per tracked pipeline. Safe from any thread
    * (the map reference is volatile; entries are immutable). The state
    * label keeps only the top message (table-cell sized); `detail` is
    * the full cause chain the console's row expander shows — "failed:
    * Job aborted" alone sends an operator to the daemon logs, the chain
    * usually names the actual section/file/column. */
  def snapshot: Seq[(String, String, Int, Option[String])] =
    running.values.toSeq.sortBy(_.hash).map { r =>
      val (state, detail) = r.state match {
        case Succeeded => ("succeeded", scala.None)
        case Failed(e) =>
          (s"failed: ${Option(e.getMessage).getOrElse(e.getClass.getName)}",
            Some(Orchestrator.causeChain(e)))
      }
      (r.hash, state, r.restarts, detail)
    }

  /** Reconcile desired specs against running components. Returns
    * (started, kept, stopped) hashes. Batch pipelines "run" by executing
    * once per reconcile round; an unchanged, already-succeeded component is
    * NOT re-run (declarative idempotency — matches the reference keeping
    * untouched pipelines running across config pushes). */
  def reconcile(desired: Seq[PipelineSpec]): (Set[String], Set[String], Set[String]) = {
    val components = desired.flatMap(_.components)
    val desiredByHash = components.map(c => c.specHash -> c).toMap
    val stopped = running.keySet -- desiredByHash.keySet
    val kept = running.keySet & desiredByHash.keySet
    val started = desiredByHash.keySet -- running.keySet
    running --= stopped
    started.toSeq.sorted.foreach { h => runWithRetry(h, desiredByHash(h)) }
    (started, kept, stopped)
  }

  private def runWithRetry(hash: String, spec: PipelineSpec): Unit = {
    var attempt = 0
    var result: RunState = Succeeded
    var done = false
    while (!done) {
      try { PipelineCompiler.run(spark, spec); result = Succeeded; done = true }
      catch {
        case e: Throwable if attempt < maxRestarts =>
          attempt += 1
          Thread.sleep(restartBackoffMs)
        case e: Throwable => result = Failed(e); done = true
      }
    }
    running += hash -> RunningPipeline(hash, spec, result, attempt)
  }

  def stateOf(hash: String): Option[RunState] = running.get(hash).map(_.state)
}

/** Daemon watch loop over a spec DIRECTORY — the actual `myceliald`
  * scheduler behavior (reference `myceliald/src/scheduler.rs:403-485`):
  * desired state is the directory's `*.json` files; each poll round
  * re-reads them, hash-diffs against the running set, and starts/keeps/
  * stops accordingly (add a file → its pipelines start; edit → the old
  * hash stops, the new starts; delete → stops; untouched files' pipelines
  * are never restarted). `graft watch <dir>` drives [[poll]] on an
  * interval; the loop itself is in [[watch]] so a spec can drive rounds
  * deterministically without sleeping.
  */
final class SpecDirWatcher(orch: Orchestrator, dir: java.nio.file.Path) {
  import java.nio.file.Files
  import scala.jdk.CollectionConverters._

  /** One reconcile round. A file that fails to PARSE is skipped with a
    * warning instead of contributing to desired state — tearing down a
    * running pipeline because an operator is mid-edit on one file is the
    * wrong failure mode (the daemon keeps last-known-good running). NOTE
    * the asymmetry: a skipped file's pipelines keep running only if they
    * are still declared by their old content? No — desired state is
    * recomputed from scratch, so a file that turns unparseable stops its
    * pipelines on the NEXT successful parse of the directory... to avoid
    * that, the watcher keeps each path's last-good spec and substitutes
    * it while the file is broken. */
  private var lastGood = Map.empty[String, PipelineSpec]

  def poll(): (Set[String], Set[String], Set[String]) = {
    // close the directory stream eagerly — a daemon polling every few
    // seconds would otherwise leak one fd per round until GC
    val listing = Files.list(dir)
    val files = try listing.iterator().asScala
      .filter(_.toString.endsWith(".json")).toSeq.sortBy(_.toString)
    finally listing.close()
    val specs = files.flatMap { p =>
      val key = p.toString
      try {
        val s = PipelineSpec.fromJson(
          new String(Files.readAllBytes(p), "UTF-8"))
        lastGood += key -> s
        Some(s)
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[graft watch] skipping unparseable $p (${e.getMessage}) — " +
            lastGood.get(key).map(_ => "keeping its last-good pipelines")
              .getOrElse("no last-good state for it"))
          lastGood.get(key)
      }
    }
    // forget last-good state for deleted files (delete means STOP)
    val present = files.map(_.toString).toSet
    lastGood = lastGood.filter { case (k, _) => present(k) }
    orch.reconcile(specs)
  }

  /** Poll every `intervalMs` until `stop()` (or `maxRounds`, for tests /
    * bounded supervision). A transient poll failure (directory briefly
    * unreadable, one reconcile error) is logged and survived — one blip
    * must not kill supervision of every running pipeline — but
    * `maxConsecutiveFailures` straight failures mean the environment is
    * actually broken, and the daemon fails LOUDLY rather than zombie on. */
  /** @param wake optional monitor: between polls the loop `wait`s on it
    *   instead of sleeping, so a push channel ([[SpecPushWsClient]]
    *   receiving `RefetchGraph`) can `notifyAll` and trigger an IMMEDIATE
    *   reconcile — the poll interval remains the correctness fallback. */
  def watch(intervalMs: Long, maxRounds: Int = Int.MaxValue,
            stop: () => Boolean = () => false,
            maxConsecutiveFailures: Int = 20,
            wake: Option[Object] = scala.None): Unit = {
    var round = 0
    var consecutiveFailures = 0
    while (round < maxRounds && !stop()) {
      try {
        val (started, kept, stopped) = poll()
        consecutiveFailures = 0
        if (started.nonEmpty || stopped.nonEmpty)
          println(s"[graft watch] round $round: started=${started.size} " +
            s"kept=${kept.size} stopped=${stopped.size}")
      } catch {
        case e: Throwable =>
          consecutiveFailures += 1
          System.err.println(
            s"[graft watch] poll failed ($consecutiveFailures in a row): " +
            s"${e.getMessage}")
          if (consecutiveFailures >= maxConsecutiveFailures)
            throw new IllegalStateException(
              s"watch loop failed $consecutiveFailures consecutive polls — " +
              s"giving up", e)
      }
      round += 1
      if (round < maxRounds && !stop()) wake match {
        case Some(m) => m.synchronized { m.wait(intervalMs) }
        case scala.None => Thread.sleep(intervalMs)
      }
    }
  }
}

/** Incremental (watermark) pipeline runner — the reference's stateful-query
  * loop (SURVEY §3.3): each tick binds the persisted watermark into the
  * query, processes the slice through `process`, then — strictly after the
  * sink commit succeeds — advances the watermark to max(watermark column).
  * Crash between commit and state write ⇒ replay of one slice: the same
  * at-least-once contract as the reference's ack protocol; pair with an
  * idempotent sink (dedup key) for effectively-once.
  */
final class IncrementalRunner(spark: SparkSession, store: StateStore) {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{count, lit, max}

  /** Run one tick. Returns the new watermark, or None when the slice was
    * empty (caught-up). `runQuery` receives the bound SQL.
    *
    * The slice is persisted and reaches Spark through ONE action before
    * the sink: `agg(count(1), max(var))` both decides emptiness and yields
    * the new watermark, and it fills the cache the sink then reads. The
    * watermark therefore covers exactly the rows the sink was handed —
    * rows landing in the source while the sink runs are left for the next
    * tick. The state write comes strictly after the sink returns
    * (ack-after-commit), so a sink failure leaves the watermark where it
    * was and the slice is replayed. */
  def tick(pipeline: String, section: String, query: StatefulQuery,
           runQuery: String => DataFrame,
           sink: DataFrame => Unit): Option[Long] = {
    val varName = query.variable.getOrElse(
      throw new IllegalArgumentException("query has no $var::i64 placeholder"))
    val wm = store.getLong(pipeline, section, varName)
      .getOrElse(StatefulQuery.InitialWatermark)
    val slice = runQuery(query.bind(wm))
    slice.persist()
    try {
      val stats = slice.agg(count(lit(1)), max(varName)).head()
      if (stats.getLong(0) == 0) None
      else {
        val newWm = stats.getLong(1)
        sink(slice)
        // state write strictly after sink success — ack-after-commit
        store.set(pipeline, section, varName -> newWm.toString)
        Some(newWm)
      }
    } finally slice.unpersist()
  }

  /** Drive ticks until caught up (reference resets its poll interval to 0
    * while slices are non-empty for catch-up,
    * `sections/postgres_connector/src/source.rs:114-125`). */
  def catchUp(pipeline: String, section: String, query: StatefulQuery,
              runQuery: String => DataFrame, sink: DataFrame => Unit,
              maxTicks: Int = 1000): Long = {
    var last = store.getLong(pipeline, section, query.variable.get)
      .getOrElse(StatefulQuery.InitialWatermark)
    var ticks = 0
    var continue = true
    while (continue && ticks < maxTicks) {
      tick(pipeline, section, query, runQuery, sink) match {
        case Some(wm) => last = wm; ticks += 1
        case None => continue = false
      }
    }
    last
  }
}
