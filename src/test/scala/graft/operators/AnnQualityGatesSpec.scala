package graft.operators

import graft.{Tables, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality gates for the ANN serving operating points, on the sf0.1
  * embeddings (2,000 × 64): recall@10 against the exact scorer for the
  * first 10 vectors as queries, and the balanced IVF quantizer's
  * straggler bound on a mass-duplicated corpus. Latency tests cannot see
  * either failure: a broken quantizer or store round-trip still answers,
  * just wrongly, and a hot scan unit only hurts at scale.
  *
  * Why each floor: `ann_ivf_pq` 0.2 keeps the API default off the
  * max-compression floor (0.04); the rerank points 0.5 because
  * refinement's one job is repairing quantized recall; the persisted
  * index (`_disk`) serves from the same trained models as its in-memory
  * twin, so it holds the same floor; `ann_pq_rerank`, `ann_opq_rerank`
  * 0.85 and `ann_quantized_topk` 0.90 sit ~0.05-0.07 under their
  * measured points. Real regressions at these points collapse
  * (0.9 → 0.2-0.5); they do not drift by 0.02. */
class AnnQualityGatesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.1"
  private val k = 10
  private val isQuery = col("vec_id") < 10

  private val RecallFloors: Seq[(String, Double)] = Seq(
    "ann_ivf_pq" -> 0.2,
    "ann_ivf_pq_rerank" -> 0.5,
    "ann_ivf_pq_4bit_rerank" -> 0.5,
    "ann_ivf_pq_disk" -> 0.2,
    "ann_ivf_pq_disk_rerank" -> 0.5,
    "ann_pq_rerank" -> 0.85,
    "ann_opq_rerank" -> 0.85,
    "ann_quantized_topk" -> 0.90)

  private def embeddings: DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  /** Symmetric int8 quantization per vector (scale = max |x| / 127),
    * dequantized back to doubles: what exact search over int8-at-rest
    * vectors returns. */
  private def int8Dequantized: DataFrame = {
    val maxabs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val scale = maxabs / lit(127.0)
    val deq = when(maxabs === lit(0.0),
        transform(col("embedding"), _ => lit(0.0)))
      .otherwise(transform(col("embedding"),
        x => floor(x.cast("double") / scale + lit(0.5)) * scale))
    Tables.embeddings(spark, sfDir).select(col("vec_id"), deq.as("embedding"))
  }

  private lazy val recall: Map[String, Double] = {
    val e = embeddings
    val exact = Ann.bruteForceTopK(e, isQuery, k).persist()
    try {
      val (rot, books) = Ann.opqTrain(e)
      // the persisted IVF-PQ index at the API default (codes = 256)
      val idx = java.nio.file.Files.createTempDirectory("ann_gates_ivfpq").toString
      Ann.ivfPqIndexWrite(e, idx, kCentroids = 16)
      Seq(
        "ann_ivf_pq" -> Ann.ivfPqTopK(e, isQuery, k, kCentroids = 16, nProbe = 2),
        "ann_ivf_pq_rerank" -> Ann.ivfPqTopKRefined(e, isQuery, k,
          kCentroids = 16, nProbe = 6, refine = 100),
        "ann_ivf_pq_4bit_rerank" -> Ann.ivfPqTopKRefined(e, isQuery, k,
          kCentroids = 16, nProbe = 6, codes = 16, refine = 600),
        "ann_ivf_pq_disk" -> Ann.ivfPqIndexTopK(e.filter(isQuery), idx, k,
          nProbe = 2),
        "ann_ivf_pq_disk_rerank" -> Ann.ivfPqIndexTopKRerank(e, isQuery, idx,
          k, nProbe = 6, refine = 100),
        "ann_pq_rerank" -> Ann.pqTopKRefined(e, isQuery, k, refine = 100),
        "ann_opq_rerank" -> Ann.opqTopKRerank(e, isQuery, rot, books, k,
          refine = 100),
        "ann_quantized_topk" -> Ann.bruteForceTopK(int8Dequantized, isQuery, k)
      ).map { case (n, approx) => n -> Ann.recallAtK(exact, approx) }.toMap
    } finally {
      exact.unpersist()
      spark.catalog.clearCache()
    }
  }

  RecallFloors.foreach { case (name, floor) =>
    test(f"recall@10 of $name holds its floor $floor%.2f") {
      val r = recall(name)
      assert(r >= floor, f"$name recall@10 $r%.2f < floor $floor%.2f")
    }
  }

  test("ivf_cell_balance_gate: balanced scan units bound the mass-duplicate cell") {
    // a third of the vectors collapse to one embedding; 2-means cannot
    // split identical vectors, so the salt pass must bound the largest
    // scan unit (post split + salt) against the mean cell population
    val skew = SkewRehearsal.massDuplicatedEmbeddings(embeddings)
    val r = Ann.ivfScanUnitCounts(skew, balanceFactor = 3.0)
      .agg(max(col("n")).cast("double"),
        (sum(col("n")) / countDistinct(col("cell"))).cast("double")).head()
    val ratio = r.getDouble(0) / r.getDouble(1)
    spark.catalog.clearCache()
    assert(ratio <= 3.5, f"balanced skewed unit ratio $ratio%.2f > 3.5")
  }
}
