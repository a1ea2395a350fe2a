package perfbench

import graft.plans.PipelineSpec

/** Near-duplicate removal over a seeded corpus with planted exact and
  * near copies: `parquet_source -> normalize_text -> text_analysis ->
  * dedup_near -> parquet_destination`, pass after pass. */
object CorpusDedup extends Workload {
  val Docs = 20000
  val Vocab = 20000
  val ExactShare = 0.04
  val NearShare = 0.06
  val SetupReps = 5
  /** At least seven timed passes (~23 s, past a 10 s window): with three,
    * run-to-run spread of the median pass reached 0.25-0.28, and with five
    * that of the p90 pass 0.21. */
  val MinPasses = 7
  /** Untimed full-size passes first: the JIT keeps speeding passes up
    * over the first few. */
  val WarmupPasses = 3

  def specJson(docs: String, out: String): String =
    s"""{"sections":[
       |{"id":"s1","name":"parquet_source","config":{"path":"$docs"}},
       |{"id":"s2","name":"normalize_text","config":{"text_column":"text"}},
       |{"id":"s3","name":"text_analysis","config":{"text_column":"text","features":"lang,quality,tokens"}},
       |{"id":"s4","name":"dedup_near","config":{"id_column":"doc_id","text_column":"text"}},
       |{"id":"s5","name":"parquet_destination","config":{"path":"$out"}}],
       |"edges":[["s1","s2"],["s2","s3"],["s3","s4"],["s4","s5"]]}""".stripMargin

  def run(ctx: Ctx): Result = {
    import ctx._
    val docs = dir("docs")
    val plan = Gen.corpusPlan(seed, Docs, ExactShare, NearShare)
    Gen.corpus(spark, seed, plan, Vocab, docs)
    val clusters = plan.clusters
    val unplanted = plan.unplanted
    phase("generated")
    // compilation stops before dedup_near, which runs its jobs while compiling
    val r = Pipeline.passes(ctx, specJson(docs, _), SetupReps, Set("dedup_near"), WarmupPasses, MinPasses) { out =>
      val survivors = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
      (Checks.dedup(clusters, unplanted, survivors), Checks.dupRecall(clusters, survivors))
    }
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else Pipeline.layers(ctx, PipelineSpec.fromJson(specJson(docs, dir("staged")))) +
        ("operators.neardup_rows_out" -> spark.read.parquet(dir("staged")).count().toDouble)
    val medS = Stats.median(r.passS)
    Result(r.setupS, Docs / medS, r.passS.map(_ * 1000), r.recall,
      r.attempted, r.failed, r.problems, layers,
      Seq(("docs_per_s", Docs / medS, "docs/s"),
        ("pass_p50_ms", medS * 1000, "ms"),
        ("pass_p90_ms", Stats.percentile(r.passS, 90) * 1000, "ms"),
        ("dup_recall", r.recall, "ratio"),
        ("planted_clusters", clusters.size.toDouble, "count")))
  }
}
