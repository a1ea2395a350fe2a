package graft.operators

import graft.TestSpark
import graft.functions.{MinhashSigAgg, TextFunctions => TF, WordNgramHashes}
import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `NearDup.pairs` against the formulation it replaced, plus the cost
  * properties of its plan: no shingle rows, no cache left behind, a pinned
  * job count for `survivors`. */
class NearDupPairsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The exploded-row formulation `pairs` used before the per-document
    * frame: `(doc_id, h)` rows, `MinhashSigAgg` and `collect_set` over
    * them, and a band self-join for the under-cap buckets. Caching is left
    * out; it never changed a result. */
  private object Reference {
    def pairs(docs: DataFrame, maxBucket: Long, threshold: Double = 0.2): DataFrame = {
      val perms = (0 until 32).map(TF.minhashPerm)
      val P = TF.MinhashP
      val hv = docs
        .select($"doc_id", explode(WordNgramHashes($"text", 3)).as("h60"))
        .select($"doc_id", ($"h60" % P).as("h"))
      val sigArr = hv.groupBy($"doc_id").agg(MinhashSigAgg($"h", perms, P).as("sig"))
      val bands = sigArr.select($"doc_id", explode(TF.minhashBands($"sig", 4, 8)).as("band"))
      val cand = candidates(bands, maxBucket)
      val sets = hv.groupBy($"doc_id").agg(collect_set($"h").as("hs"))
      cand
        .join(sets.select($"doc_id".as("a_id"), $"hs".as("sa")), "a_id")
        .join(sets.select($"doc_id".as("b_id"), $"hs".as("sb")), "b_id")
        .withColumn("jaccard", round(
          size(array_intersect($"sa", $"sb")).cast("double") /
          size(array_union($"sa", $"sb")), 6))
        .filter($"jaccard" >= threshold)
        .select($"a_id", $"b_id", $"jaccard")
    }

    def candidates(b: DataFrame, maxBucket: Long): DataFrame = {
      val stats = b.groupBy($"band").agg(count(lit(1)).as("_bsz"),
        min(struct($"doc_id")).as("_hub"))
      val big = stats.filter($"_bsz" > maxBucket)
      val small = b.join(big.select($"band"), Seq("band"), "left_anti")
      val exact = small.as("a").join(small.as("b"),
          col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      val starred = b.join(big.select($"band", $"_hub"), Seq("band"))
        .filter($"doc_id" =!= $"_hub.doc_id")
        .select($"_hub.doc_id".as("a_id"), $"doc_id".as("b_id"))
      exact.union(starred).distinct()
    }
  }

  private val words = (1 to 400).map(i => s"w$i")
  private def text(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(words(r.nextInt(words.size))).mkString(" ")
  }
  private def vary(t: String, seed: Int): String = {
    val ws = t.split(" ")
    val r = new scala.util.Random(seed)
    (1 to 2).foreach(_ => ws(r.nextInt(ws.length)) = s"v$seed")
    ws.mkString(" ")
  }

  /** 40 distinct docs, each with a near copy; doc 3 and doc 9 appear twice
    * with different text (their sets are the union); three docs shorter
    * than one shingle; a null text; and 12 exact copies of one text, a
    * bucket over maxBucket = 5 in every band. Read back from parquet, as
    * a pipeline would: over an in-memory relation the optimizer evaluates
    * the text kernels at planning time. */
  private lazy val fixture: DataFrame = {
    val base = (1 to 40).map(i => (i.toLong, text(i, 30 + i % 20)))
    val near = base.map { case (i, t) => (i + 1000L, vary(t, i.toInt)) }
    val dupIds = Seq((3L, text(503, 12)), (9L, vary(base(8)._2, 77)))
    val short = Seq((2001L, "w1 w2"), (2002L, ""), (2003L, "w1 w2"), (2004L, null))
    val copies = (3001L to 3012L).map(i => (i, text(999, 40)))
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    (base ++ near ++ dupIds ++ short ++ copies).toDF("doc_id", "text")
      .repartition(3).write.parquet(s"$dir/docs")
    spark.read.parquet(s"$dir/docs")
  }

  private def triples(df: DataFrame) =
    df.select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect()

  test("pairs equals the exploded-row formulation, capped bucket included") {
    for (maxBucket <- Seq(1000L, 5L)) {
      val got = triples(NearDup.pairs(fixture, maxBucket = maxBucket))
      val want = triples(Reference.pairs(fixture, maxBucket)).toSet
      assert(got.length == got.toSet.size, s"duplicate pairs at cap $maxBucket")
      assert(got.toSet == want, s"cap $maxBucket")
      // the fixture exercises what it claims to
      assert(want.exists { case (a, b, _) => a == 3L || b == 3L })
      assert(!want.exists { case (a, b, _) => a > 2000L && a < 3000L })
      val copyPairs = want.count { case (a, b, j) => a > 3000L && b > 3000L && j == 1.0 }
      assert(copyPairs == (if (maxBucket == 5L) 11 else 66), s"cap $maxBucket")
    }
  }

  test("pairs plans no minhash_sig aggregate and no Generate over shingle rows") {
    val p = NearDup.pairs(fixture).queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(!p.contains("minhash_sig"), s"per-row MinHash aggregate in the plan:\n$p")
    val shingleGenerate = p.linesIterator.exists(l => l.contains("Generate") &&
      (l.contains("wordngramhashes") || l.contains("shinglehashset")))
    assert(!shingleGenerate, s"shingle hashes exploded to rows:\n$p")
    assert(p.contains("shinglehashset"), "the per-document shingle kernel is not in use")
  }

  test("survivors, pairs and simhashPairs leave the cache empty") {
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    NearDup.survivors(fixture).collect()
    assert(cm.isEmpty, "survivors left a cached frame")
    NearDup.pairs(fixture).collect()
    assert(cm.isEmpty, "pairs left a cached frame")
    NearDup.simhashPairs(fixture).collect()
    assert(cm.isEmpty, "simhashPairs left a cached frame")
  }

  test("survivors on the fixture runs a pinned number of Spark jobs") {
    // warm once, so no first-use job (file listing, codegen) is counted
    NearDup.survivors(fixture).collect()
    TestBus.flush(spark.sparkContext)
    // count only this thread's jobs (local properties reach the jobs that
    // adaptive execution and broadcasts start on other threads), not those
    // of anything else still running in the shared session
    val probe = "graft.test.neardup.jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(probe) != null)) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(probe, "on")
    try {
      NearDup.survivors(fixture).collect()
      TestBus.flush(sc)
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == SurvivorJobs,
      s"survivors ran ${jobs.get} Spark jobs, pinned at $SurvivorJobs")
  }

  // 19 with exploded shingle rows, two persisted frames and a band self-join
  private val SurvivorJobs = 12
}
