package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic worst-case corpora for the capped pair generators and
  * the IVF quantizer.
  *
  * A 100 TB corpus is never uniform: web scrapes carry mass-duplicated
  * boilerplate (one template page repeated millions of times → ONE band
  * bucket holding the whole replica set) and metadata labels collapse
  * (one "en" label over 80% of the corpus → one giant cosine block).
  * These generators rebuild exactly those shapes from the test tables.
  * Everything is derived deterministically from the input — no RNG, same
  * rows every run.
  */
object SkewRehearsal {

  /** One third of documents replaced by copies of ONE template text —
    * every replica shares every MinHash/SimHash signature, so each band
    * bucket gains a member set of n/3 replicas: the degenerate bucket
    * [[Blocking.cappedBandCandidates]] star-compresses. The template rides
    * a broadcast (no shuffle added by the rehearsal itself). */
  def hotCorpus(docs: DataFrame): DataFrame = {
    val tpl = broadcast(docs.orderBy(col("doc_id")).limit(1)
      .select(col("text").as("_tpl")))
    docs.crossJoin(tpl)
      .withColumn("text",
        when(col("doc_id") % 3 === 0, col("_tpl")).otherwise(col("text")))
      .drop("_tpl")
  }

  /** Every embedding forced into ONE label block — the hot-label case
    * [[Blocking.boundedCosinePairs]] LSH-sub-buckets past its cap. */
  def hotLabel(emb: DataFrame): DataFrame =
    emb.withColumn("label", lit("hot"))

  /** A third of the vectors collapsed to ONE embedding (the min-id row's)
    * — the mass-duplicate shape the IVF balance gate
    * (`AnnQualityGatesSpec`) runs the quantizer against. */
  def massDuplicatedEmbeddings(e: DataFrame): DataFrame = {
    val tpl = broadcast(e.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").as("_tpl")))
    e.crossJoin(tpl)
      .withColumn("embedding",
        when(col("vec_id") % 3 === 0, col("_tpl")).otherwise(col("embedding")))
      .drop("_tpl")
  }
}
