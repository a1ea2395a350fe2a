package perfbench

import graft.plans.PipelineSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bulk data movement: a two-component spec over a fact table and a small
  * dimension, run pass after pass through `PipelineCompiler.run`, each
  * pass writing fresh sink directories. */
object EtlBatch extends Workload {
  val FactRows = 6000000L
  val Customers = 10000
  val SetupReps = 5
  val MinPasses = 3
  /** Untimed full-size passes first: the JIT keeps speeding passes up
    * over the first few. */
  val WarmupPasses = 3

  def specJson(fact: String, dim: String, out: String): String =
    s"""{"sections":[
       |{"id":"a1","name":"parquet_source","config":{"path":"$fact"}},
       |{"id":"a2","name":"typecast","config":{"column":"qty","target":"real"}},
       |{"id":"a3","name":"tagging","config":{"column":"batch","text":"etl"}},
       |{"id":"a4","name":"sql","config":{"query":"select id, cust, qty * price as amount, batch from input where price > 200.0"}},
       |{"id":"a5","name":"parquet_destination","config":{"path":"$out/a"}},
       |{"id":"b1","name":"parquet_source","config":{"path":"$fact"}},
       |{"id":"b2","name":"sql","config":{"query":"select d.region, count(*) as n, sum(i.qty) as q, max(i.price) as top from input i join parquet.`$dim` d on i.cust = d.cust group by d.region"}},
       |{"id":"b3","name":"parquet_destination","config":{"path":"$out/b"}}],
       |"edges":[["a1","a2"],["a2","a3"],["a3","a4"],["a4","a5"],["b1","b2"],["b2","b3"]]}""".stripMargin

  private def summary(df: DataFrame): Checks.TableSummary = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    Checks.TableSummary(r.getLong(0),
      Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)))
  }

  /** The same results computed with plain Spark from the generated input. */
  def expected(spark: SparkSession, fact: String, dim: String): Map[String, Checks.TableSummary] = {
    val f = spark.read.parquet(fact)
    val d = spark.read.parquet(dim)
    Map(
      "a" -> summary(f.filter(col("price") > 200.0).select(col("id"), col("cust"),
        (col("qty").cast("double") * col("price")).as("amount"), lit("etl").as("batch"))),
      "b" -> summary(f.join(d, "cust").groupBy(col("region")).agg(count(lit(1)).as("n"),
        sum(col("qty")).as("q"), max(col("price")).as("top"))
        .select("region", "n", "q", "top")))
  }

  def actual(spark: SparkSession, out: String): Map[String, Checks.TableSummary] = Map(
    "a" -> summary(spark.read.parquet(s"$out/a").select("id", "cust", "amount", "batch")),
    "b" -> summary(spark.read.parquet(s"$out/b").select("region", "n", "q", "top")))

  def run(ctx: Ctx): Result = {
    import ctx._
    val fact = dir("fact")
    val dim = dir("dim")
    Gen.etl(spark, seed, FactRows, Customers, fact, dim)
    val want = expected(spark, fact, dim)
    phase("generated")
    val r = Pipeline.passes(ctx, specJson(fact, dim, _), SetupReps, Set.empty, WarmupPasses, MinPasses) { out =>
      val got = actual(spark, out)
      val rows = want.map { case (k, w) => math.min(got.get(k).map(_.rows).getOrElse(0L), w.rows) }.sum
      (Checks.etl(want, got), rows.toDouble / want.values.map(_.rows).sum)
    }
    val layers =
      if (tracer.enabled) Pipeline.layers(ctx, PipelineSpec.fromJson(specJson(fact, dim, dir("staged"))))
      else Map.empty[String, Double]
    val medS = Stats.median(r.passS)
    Result(r.setupS, FactRows / medS, r.passS.map(_ * 1000), r.recall,
      r.attempted, r.failed, r.problems, layers,
      Seq(("rows_per_s", FactRows / medS, "rows/s"),
        ("pass_p50_ms", medS * 1000, "ms"),
        ("pass_p90_ms", Stats.percentile(r.passS, 90) * 1000, "ms")))
  }
}
