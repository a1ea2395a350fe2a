package graft.operators

import graft.TestSpark
import graft.functions.{BoundedCollect, VectorFunctions}
import org.apache.spark.graft.TestBus
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class BlockingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // One hot label (20 rows: 10 copies of v, 10 of the antipodal -v — LSH
  // sign buckets are exact complements, so the sub-bucket split is
  // deterministic) plus one small label (3 rows). Dims (1,2,4): no ±1
  // combination sums to zero, every projection is nonzero.
  private def vecs = {
    val v = Seq(1.0f, 2.0f, 4.0f)
    val nv = v.map(x => -x)
    val rows = (0L until 10L).map(i => (i, 1, v)) ++
               (10L until 20L).map(i => (i, 1, nv)) ++
               (100L until 103L).map(i => (i, 2, v))
    rows.toDF("vec_id", "label", "embedding")
      .withColumn("nrm", VectorFunctions.norm2($"embedding"))
  }

  test("boundedCosinePairs: under the cap the result IS the exact all-pairs") {
    val bounded = Blocking.boundedCosinePairs(vecs, maxBlock = 1000, dims = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // 20 choose 2 + 3 choose 2
    assert(bounded.size == 190 + 3)
  }

  test("boundedCosinePairs: oversized block routes through LSH sub-buckets") {
    val bounded = Blocking.boundedCosinePairs(vecs, maxBlock = 10, dims = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // hot label split into the v-group and the antipodal group: pairs only
    // within each (45 + 45); the small label is untouched (3)
    assert(bounded.size == 45 + 45 + 3)
    val sameGroup = bounded.filter { case (a, b) => a < 100 && b < 100 }
      .forall { case (a, b) => (a < 10) == (b < 10) }
    assert(sameGroup, "a cross-bucket pair leaked through the LSH split")
    // small label's exact pairs survive
    assert(bounded.filter(_._1 >= 100) == Set((100L, 101L), (100L, 102L), (101L, 102L)))
  }

  test("boundedCosinePairs scores identical vectors at cosine 1") {
    val out = Blocking.boundedCosinePairs(vecs, maxBlock = 1000, dims = 3)
      .filter($"a_id" === 100L && $"b_id" === 101L)
      .select("cosine").as[Double].head()
    assert(math.abs(out - 1.0) < 1e-9)
  }

  test("cappedBandCandidates star-compresses degenerate buckets (O(n), connectivity kept)") {
    val degenerate = (1L to 20L).map(i => (i, 111L))
    val normal = (21L to 23L).map(i => (i, 222L))
    val bands = (degenerate ++ normal).toDF("doc_id", "band")
    val cand = Blocking.cappedBandCandidates(bands, maxBucket = 10)
      .as[(Long, Long)].collect().toSet
    // over-cap bucket: every member pairs with the hub (min doc_id) ONLY —
    // 19 edges, not 190 — so a mass-duplicate cluster still becomes one
    // connected component instead of silently escaping dedup
    val star = (2L to 20L).map(i => (1L, i)).toSet
    assert(cand == star ++ Set((21L, 22L), (21L, 23L), (22L, 23L)))
  }

  test("cappedBandCandidates is exact when no bucket exceeds the cap") {
    val bands = Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 8L)).toDF("doc_id", "band")
    val cand = Blocking.cappedBandCandidates(bands, maxBucket = 10)
      .as[(Long, Long)].collect().toSet
    assert(cand == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("an over-cap bucket keeps its exact count and hub; members stay bounded") {
    // the member list never holds more than its bound, whatever the
    // update and merge order
    val agg = BoundedCollect(BoundReference(0, LongType, nullable = false), 4)
    val a = agg.createAggregationBuffer()
    (1L to 50L).foreach(i => agg.update(a, InternalRow(i)))
    assert(a.length == 4)
    val b = agg.createAggregationBuffer()
    (51L to 53L).foreach(i => agg.update(b, InternalRow(i)))
    assert(agg.merge(a, b).length == 4)
    assert(agg.merge(agg.createAggregationBuffer(), b).length == 3)
    // a 30-row bucket over maxBucket = 3, spread over four partitions: the
    // star hangs off the true min id and reaches every member, and the cap
    // metric reports the full count
    val metrics = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.get(Blocking.BandCapMetric).foreach(metrics.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val hot = (1L to 30L).map(i => (i + 100L, 7L)) ++ Seq((5L, 8L), (6L, 8L))
      val cand = Blocking.cappedBandCandidates(
          hot.toDF("doc_id", "band").repartition(4), maxBucket = 3)
        .as[(Long, Long)].collect().toSet
      assert(cand == (102L to 130L).map(i => (101L, i)).toSet + ((5L, 6L)))
      TestBus.flush(spark.sparkContext)
      val m = metrics.asScala.toSeq
      assert(m.nonEmpty, "graft_band_cap metric missing")
      assert(m.forall(_.getAs[Long]("max_group") == 30L))
      assert(m.forall(_.getAs[Long]("capped_rows") % 30L == 0L))
    } finally spark.listenerManager.unregister(listener)
  }
}
