package perfbench

import graft.plans.{PipelineCompiler, PipelineSpec, SectionIO, SectionRegistry}
import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** The pass-based pipeline workloads (`etl_batch`, `corpus_dedup`): a spec
  * run through `PipelineCompiler.run` pass after pass, each pass writing
  * fresh sink directories. */
object Pipeline {

  /** What the passes measured; `recall` comes from the last check. */
  final case class Passes(setupS: Seq[Double], passS: Seq[Double], attempted: Long,
                          failed: Long, problems: Seq[String], recall: Double)

  /** Set-up `setupReps` times, `warmups` untimed passes, then the timed
    * passes. `spec` gives the spec JSON for a sink directory; `check` gives
    * the problems and the recall of one pass's output directory. Every
    * pass's output is checked; a pass that throws or fails its check
    * counts in `failed`. */
  def passes(ctx: Ctx, spec: String => String, setupReps: Int, eager: Set[String],
             warmups: Int, minPasses: Int)(check: String => (Seq[String], Double)): Passes = {
    val setup = (1 to setupReps).map(i =>
      Workload.timeS(setupSpec(ctx, spec(ctx.dir(s"setup-$i")), eager))._2)
    ctx.phase("set-up done")
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var recall = 0.0
    def out(i: Int): Path = ctx.work.resolve(s"out-$i")
    def pass(i: Int, span: String): Option[Double] = {
      val parsed = PipelineSpec.fromJson(spec(out(i).toString))
      attempted += 1
      try {
        val s = Workload.timeS(ctx.tracer.span(span)(PipelineCompiler.run(ctx.spark, parsed)))._2
        // operators (NearDup) cache intermediate frames in the session; a
        // later pass would hit that cache instead of doing the work
        ctx.spark.catalog.clearCache()
        Some(s)
      } catch {
        case e: Exception =>
          failed += 1; problems += s"pass $i threw $e"; Workload.deleteTree(out(i)); None
      }
    }
    def checked(i: Int): Unit = {
      val (p, r) = check(out(i).toString)
      if (p.nonEmpty) { failed += 1; problems ++= p.map(s"pass $i: " + _) }
      recall = r
      Workload.deleteTree(out(i))
    }
    // untimed passes warm the JIT and Spark's codegen cache
    (1 to warmups).foreach(w => pass(-w, "warmup").foreach(_ => checked(-w)))
    ctx.phase("warm-up done")
    val timed = timedPasses(ctx, minPasses)(pass(_, "plans.run"))
    ctx.phase("timed phase done")
    // checked after the loop, so no check runs between timed passes
    timed.foreach { case (i, _) => checked(i) }
    ctx.phase("checks done")
    Passes(setup, timed.map(_._2), attempted, failed, problems.toSeq, recall)
  }

  /** Timed passes `1, 2, ...`: a pass starts while it is expected to end
    * inside the window (judged by the median pass so far), and at least
    * `minPasses` succeed. Returns each successful pass and its time (s). */
  def timedPasses(ctx: Ctx, minPasses: Int)(pass: Int => Option[Double]): Seq[(Int, Double)] = {
    val done = mutable.ArrayBuffer.empty[(Int, Double)]
    val deadline = ctx.deadlineNs
    def fits = System.nanoTime() < deadline && (done.isEmpty ||
      System.nanoTime() + Stats.median(done.map(_._2).toSeq) * 1e9 <= deadline)
    var i = 1
    // failed passes do not count towards minPasses, so cap the attempts
    while ((done.size < minPasses && i <= 2 * minPasses) || fits) {
      // every pass starts from a collected heap, so when the old generation
      // gets collected does not decide which pass pays for it
      System.gc()
      pass(i).foreach(s => done += i -> s)
      i += 1
    }
    done.toSeq
  }

  /** The spec minus its destination sections, as the compile step of
    * set-up sees it. */
  def withoutSinks(spec: PipelineSpec): PipelineSpec = {
    val sinks = spec.sections.filter(s => SectionRegistry.ioOf(s.name).output == SectionIO.None)
      .map(_.id).toSet
    PipelineSpec(spec.sections.filterNot(s => sinks(s.id)),
      spec.edges.filterNot(e => sinks(e._2)))
  }

  /** The spec up to (not including) the first section named in `eager`. */
  def lazyPrefix(spec: PipelineSpec, eager: Set[String]): PipelineSpec = {
    val order = spec.topoOrder
    val keep = order.takeWhile(id => !eager(spec.section(id).name)).toSet
    PipelineSpec(spec.sections.filter(s => keep(s.id)),
      spec.edges.filter(e => keep(e._1) && keep(e._2)))
  }

  /** Spec set-up as a user pays it: parse, validate, hash, and compile
    * every component without its sink. Sections in `eager` run Spark jobs
    * while compiling (a whole pass's work), so compilation stops before
    * them. */
  def setupSpec(ctx: Ctx, json: String, eager: Set[String] = Set.empty): PipelineSpec = {
    val spec = ctx.tracer.span("plans.spec") {
      val s = PipelineSpec.fromJson(json)
      s.validate()
      s.specHash
      s
    }
    ctx.tracer.span("plans.compile") {
      spec.components.foreach(c =>
        graft.plans.PipelineCompiler.compileFrame(ctx.spark, lazyPrefix(withoutSinks(c), eager)))
    }
    spec
  }

  /** Traced runs only: every section compiled on its persisted upstream
    * and materialized, one span per section (`staged.<section name>`).
    * Staging adds a cache write and a count per section that the fused
    * pass does not do; `plans.staged_ms` next to `plans.run_ms` shows by
    * how much. */
  def stagedPass(ctx: Ctx, spec: PipelineSpec): Unit = ctx.tracer.span("plans.staged") {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    try spec.components.foreach { comp =>
      var frames = Map.empty[String, Option[DataFrame]]
      comp.topoOrder.foreach { id =>
        val sec = comp.section(id)
        val up = comp.upstream.getOrElse(id, Nil).headOption.flatMap(frames(_))
        val out = ctx.tracer.span(s"staged.${sec.name}") {
          val o = SectionRegistry.entries(sec.name).compile(ctx.spark, sec.config, up)
          o.foreach { df => df.persist(); df.count(); held += df }
          o
        }
        frames += id -> out
      }
    } finally held.foreach(_.unpersist())
  }

  /** Layer metrics of a traced pass-based run: set-up spans, a staged
    * pass over `stagedSpec`, and the counters of the timed passes. */
  def layers(ctx: Ctx, stagedSpec: PipelineSpec): Map[String, Double] = {
    val t = ctx.tracer
    stagedPass(ctx, stagedSpec)
    val staged = (names: Seq[String]) => names.map(n => t.totalMs(s"staged.$n")).sum
    val spark = Workload.sparkLayer(ctx, "plans.run")
    spark ++ Workload.ioLayer(ctx, "plans.run") ++ Map(
      "plans.spec_ms" -> Stats.median(t.durationsMs("plans.spec")),
      "plans.compile_ms" -> Stats.median(t.durationsMs("plans.compile")),
      "plans.run_ms" -> Stats.median(t.durationsMs("plans.run")),
      "plans.staged_ms" -> t.totalMs("plans.staged"),
      "plans.jobs_per_run" -> spark("spark.jobs"),
      "operators.transforms_ms" -> staged(Seq("typecast", "tagging", "sql")),
      "operators.neardup_ms" -> staged(Seq("dedup_near")),
      "functions.text_ms" -> staged(Seq("normalize_text", "text_analysis")),
      "sinks.write_ms" -> staged(Seq("parquet_destination")))
  }
}
