package graft.operators

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Approximation QUALITY, not latency: the ann_* oracle rows prove the
  * variants compute what they claim, but recall against the exact scorer
  * is what a user actually trades for the speedup. Deterministic: the
  * hyperplanes/centroids derive from salted hashes, so these numbers are
  * stable across runs. `AnnQualityGatesSpec` gates the serving
  * operating points' recall at sf0.1. */
class AnnRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("recall@10: multi-table LSH dominates single-table, all variants bounded") {
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val isQuery = col("vec_id") < 10
    val exact = Ann.bruteForceTopK(e, isQuery, 10).persist()
    try {
      assert(Ann.recallAtK(exact, exact) == 1.0)
      val lsh = Ann.recallAtK(exact, Ann.lshTopK(e, isQuery, 10))
      val probe = Ann.recallAtK(exact, Ann.lshMultiProbeTopK(e, isQuery, 10))
      val multi = Ann.recallAtK(exact, Ann.lshMultiTopK(e, isQuery, 10))
      val ivf = Ann.recallAtK(exact,
        Ann.ivfTopK(e, isQuery, col("vec_id") < 16, 10))
      assert(Seq(lsh, probe, multi, ivf).forall(r => r >= 0.0 && r <= 1.0))
      // 4 independent tables strictly widen the candidate set vs any
      // single table's bucket share — recall must not degrade
      assert(multi >= lsh, s"multi-table recall $multi < single-table $lsh")
      // multi-probe's candidate set is a strict superset of single-table's
      // (own bucket plus the hamming-1 shell), so recall must not degrade
      assert(probe >= lsh, s"multi-probe recall $probe < single-table $lsh")
      // HONEST untrained baseline: centroid rows DISJOINT from the query
      // set. (The `vec_id < 16` quantizer above contains every query as a
      // centroid, so each query's own Voronoi cell holds its neighbors by
      // construction — that inflated recall is a measurement artifact,
      // useful only as a bound check.) The trained quantizer must beat
      // the honest untrained one at the same K and probe count — that is
      // what training buys.
      val ivfHonest = Ann.recallAtK(exact,
        Ann.ivfTopK(e, isQuery,
          col("vec_id") >= 100 && col("vec_id") < 116, 10))
      val trained = Ann.recallAtK(exact,
        Ann.ivfTopKTrained(e, isQuery, 10, nProbe = 2, kCentroids = 16))
      assert(trained >= ivfHonest,
        s"trained-quantizer recall $trained below honest untrained $ivfHonest")
    } finally { exact.unpersist(); () }
  }

  test("recall@10: trained PCA projection beats random projection at equal dims") {
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val isQuery = col("vec_id") < 10
    val exact = Ann.bruteForceTopK(e, isQuery, 10).persist()
    try {
      val (mu, comps) = Ann.pcaTrain(e, outDims = 16)
      // basis sanity: orthonormal columns (Jacobi output), unit norms
      comps.foreach { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        assert(math.abs(n - 1.0) < 1e-9, s"component norm $n != 1")
      }
      for (a <- comps.indices; b <- a + 1 until comps.length) {
        val dot = comps(a).zip(comps(b)).map { case (x, y) => x * y }.sum
        assert(math.abs(dot) < 1e-8, s"components $a,$b not orthogonal: $dot")
      }
      val pca = Ann.recallAtK(exact,
        Ann.bruteForceTopK(Ann.pcaProject(e, mu, comps), isQuery, 10))
      val rp = Ann.recallAtK(exact,
        Ann.bruteForceTopK(
          e.withColumn("embedding",
            graft.functions.VectorFunctions.randomProject(
              col("embedding"), 16, 64)), isQuery, 10))
      assert(pca > rp,
        s"variance-optimal 16-dim basis (recall $pca) must beat the " +
        s"random 16-dim basis (recall $rp)")
    } finally exact.unpersist()
  }

  test("semanticDedup: exact-duplicate embeddings merge to the min id") {
    import spark.implicits._
    // 3 copies of vector A (ids 1,2,3), 2 copies of B (ids 10,11), one C
    val a = Seq(1.0, 0.0, 0.0, 0.5)
    val b = Seq(0.0, 1.0, 0.0, -0.5)
    val c = Seq(0.0, 0.0, 1.0, 0.0)
    val d = Seq(1L -> a, 2L -> a, 3L -> a, 10L -> b, 11L -> b, 20L -> c)
      .toDF("vec_id", "embedding")
    val got = Ann.semanticDedup(d, threshold = 0.99, kCentroids = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 10L -> 2L, 20L -> 1L),
      s"expected min-id survivors with group sizes, got $got")
  }

  test("semanticDedup: zero-norm vectors stay singletons (cosine-with-zero is 0)") {
    import spark.implicits._
    val z = Seq(0.0, 0.0, 0.0, 0.0)
    val a = Seq(1.0, 0.0, 0.0, 0.0)
    val d = Seq(1L -> z, 2L -> z, 3L -> a, 4L -> a)
      .toDF("vec_id", "embedding")
    val got = Ann.semanticDedup(d, threshold = 0.5, kCentroids = 2, iters = 1)
      .as[(Long, Long)].collect().toMap
    // the two zero vectors never merge (their pairwise cosine is DEFINED
    // as 0 — the convention the dd_semdedup oracle maps NaN to); the two
    // copies of `a` do merge
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L), s"got $got")
  }

  test("semanticDedupTwoLevel: separated clusters dedup like the single level") {
    import spark.implicits._
    // three well-separated directions, each with exact + near copies:
    // every within-threshold pair shares both the coarse cell and the
    // residual fine cell (tight clusters → near-identical residuals), so
    // the composite blocking loses nothing here and both variants must
    // land on identical survivors
    val a = Seq(1.0, 0.0, 0.0, 0.5)
    val b = Seq(0.0, 1.0, 0.0, -0.5)
    val c = Seq(0.0, 0.0, 1.0, 0.0)
    val d = Seq(1L -> a, 2L -> a, 3L -> a, 10L -> b, 11L -> b, 20L -> c)
      .toDF("vec_id", "embedding")
    val one = Ann.semanticDedup(d, threshold = 0.99, kCentroids = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    val two = Ann.semanticDedupTwoLevel(d, threshold = 0.99,
        k1 = 2, k2 = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(two == one && two == Map(1L -> 3L, 10L -> 2L, 20L -> 1L),
      s"single=$one two-level=$two")
  }

  test("semanticDedupTwoLevel: zero-norm singletons and auto-cbrt K resolve") {
    import spark.implicits._
    val z = Seq(0.0, 0.0, 0.0, 0.0)
    val a = Seq(1.0, 0.0, 0.0, 0.0)
    val d = Seq(1L -> z, 2L -> z, 3L -> a, 4L -> a)
      .toDF("vec_id", "embedding")
    // k1 = k2 = 0 resolves cbrt(4) ≈ 2 per level against the CORPUS —
    // the auto-K path must run end to end, zero vectors stay singletons
    val got = Ann.semanticDedupTwoLevel(d, threshold = 0.5, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L), s"got $got")
  }

  test("trainCentroids: deterministic, K defaults to ~sqrt(n), cells nonempty-ish") {
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val a = Ann.trainCentroids(e, kCentroids = 8, iters = 2)
    val b = Ann.trainCentroids(e, kCentroids = 8, iters = 2)
    assert(a.length == 8 && b.length == 8)
    // bit-identical across runs — the property the SQL oracle depends on
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    val n = e.count()
    val auto = Ann.trainCentroids(e, iters = 1)
    assert(auto.length == math.max(2, math.round(math.sqrt(n.toDouble)).toInt))
    // a trained quantizer splits the corpus across many cells: no cell
    // may swallow most of the data on this near-uniform corpus
    import spark.implicits._
    val counts = Ann.ivfCellCounts(e, kCentroids = 8, iters = 2)
      .select(col("n")).as[Long].collect()
    assert(counts.sum == n && counts.max < n / 2)
  }

  test("maxTrainVectors: binding cap is deterministic, partition-independent, " +
    "and a non-binding cap changes nothing") {
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    // BINDING cap (100 of 500): same model across runs and partitionings —
    // the seeded-hash draw is independent of layout, the property that
    // makes a capped training run oracle-replayable
    def flat2(m: Array[Array[Double]]): Seq[Seq[Double]] = m.map(_.toSeq).toSeq
    def flat3(m: Array[Array[Array[Double]]]): Seq[Seq[Seq[Double]]] =
      m.map(c => c.map(_.toSeq).toSeq).toSeq
    val a = Ann.trainCentroids(e, kCentroids = 8, iters = 2,
      maxTrainVectors = 100)
    val b = Ann.trainCentroids(e.repartition(7, col("vec_id")),
      kCentroids = 8, iters = 2, maxTrainVectors = 100)
    assert(flat2(a) == flat2(b))
    // the capped model differs from the full-corpus one (it trained on a
    // strict subset) …
    val full = Ann.trainCentroids(e, kCentroids = 8, iters = 2,
      maxTrainVectors = 0)
    assert(flat2(a) != flat2(full))
    // … and a NON-binding cap (the 65k default over 500 rows) is a no-op:
    // small-corpus training — and the SQL oracles replaying it in full —
    // are byte-identical with the cap on
    val dflt = Ann.trainCentroids(e, kCentroids = 8, iters = 2)
    assert(flat2(dflt) == flat2(full))
    // same discipline for the PQ trainer
    val cbCap = Ann.trainPqCodebooks(e, subspaces = 4, codes = 8, iters = 1,
      maxTrainVectors = 100)
    val cbCap2 = Ann.trainPqCodebooks(e.repartition(5, col("vec_id")),
      subspaces = 4, codes = 8, iters = 1, maxTrainVectors = 100)
    assert(flat3(cbCap) == flat3(cbCap2))
    val cbFull = Ann.trainPqCodebooks(e, subspaces = 4, codes = 8, iters = 1,
      maxTrainVectors = 0)
    assert(flat3(cbCap) != flat3(cbFull))
  }

  test("trainCentroidsBalanced: separable hot cell splits; assignment stays complete") {
    import spark.implicits._
    // 80 vectors in one heavy direction with ± sub-structure on axis 1
    // (2-means separable), 10 + 10 in two light orthogonal directions
    val d = ((0 until 80).map(i => (i.toLong,
        Seq(1.0, if (i % 2 == 0) 0.6 else -0.6, 0.001 * i, 0.0))) ++
      (80 until 90).map(i => (i.toLong, Seq(0.0, 0.0, 1.0, 0.001 * i))) ++
      (90 until 100).map(i => (i.toLong, Seq(0.0, 0.001 * i, 0.0, 1.0))))
      .toDF("vec_id", "embedding")
    // K=2 Lloyd settles at (40, 60) on this fixture; factor 1.1 makes the
    // 60-cell hot (> 1.1 x mean 50) and its ± sub-structure is 2-means
    // separable
    val base = Ann.trainCentroids(d, kCentroids = 2, iters = 3)
    val bal = Ann.trainCentroidsBalanced(d, kCentroids = 2, iters = 3,
      balanceFactor = 1.1, maxSplitRounds = 2)
    // deterministic across runs (the property the injected-literal oracle
    // rides on)
    val bal2 = Ann.trainCentroidsBalanced(d, kCentroids = 2, iters = 3,
      balanceFactor = 1.1, maxSplitRounds = 2)
    assert(bal.length == bal2.length &&
      bal.zip(bal2).forall { case (x, y) => x.sameElements(y) })
    // the hot cell split at least once
    assert(bal.length > base.length,
      s"expected a hot-cell split: ${base.length} -> ${bal.length}")
    // every vector still lands in exactly one cell
    val counts = Ann.ivfCellCounts(d, kCentroids = 2, iters = 3,
      balanceFactor = 1.1).select(col("n")).as[Long].collect()
    assert(counts.sum == 100)
  }

  test("balanced + salted scan units: mass-duplicate cell freezes, salt bounds the unit") {
    import spark.implicits._
    // 60 exact copies (2-means degenerate — splitting CANNOT separate
    // them) plus 30 spread vectors: the dup cell must freeze instead of
    // looping, and the salt must bound the scan unit anyway
    val dup = Seq(1.0, 0.0, 0.0, 0.0)
    val d = ((0 until 60).map(i => (i.toLong, dup)) ++
      (60 until 90).map(i => (i.toLong,
        Seq(0.001 * i, 1.0, if (i % 2 == 0) 0.5 else -0.5, 0.001 * i))))
      .toDF("vec_id", "embedding")
    val units = Ann.ivfScanUnitCounts(d, kCentroids = 4, iters = 2,
      balanceFactor = 2.0)
      .select(col("cell"), col("n")).as[(Long, Long)].collect()
    assert(units.map(_._2).sum == 90)
    // straggler bound: no scan unit may exceed factor x the mean CELL
    // population (with hash-spread slack)
    val meanCell = 90.0 / units.map(_._1).distinct.length
    assert(units.map(_._2).max <= 2.0 * meanCell * 1.5,
      s"units ${units.toSeq} vs mean cell $meanCell")
  }

  test("knnClassify: majority label wins, ties resolve to the smallest label") {
    import spark.implicits._
    // query 0 sits between cluster A (label 1, 2 members) and cluster B
    // (label 2, 1 member): k=3 → majority label 1. Vectors are placed so
    // the top-3 picks are unambiguous at round(6).
    val d = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0), 9),
      (1L, Seq(0.9, 0.1, 0.0, 0.0), 1),
      (2L, Seq(0.9, -0.1, 0.0, 0.0), 1),
      (3L, Seq(0.8, 0.0, 0.1, 0.0), 2),
      (4L, Seq(0.0, 0.0, 0.0, 1.0), 2) // far away, outside top-3
    ).toDF("vec_id", "embedding", "label")
    val got = Ann.knnClassify(d, isQuery = col("vec_id") === 0L, k = 3)
      .select($"q_id", $"pred_label", $"true_label")
      .as[(Long, Int, Int)].collect().toSeq
    assert(got == Seq((0L, 1, 9)), got.toString)
    // tie: k=2 over one label-1 and one label-2 neighbor → smallest wins
    val tie = Ann.knnClassifyFrom(
      Seq((0L, 1L, 1L), (0L, 3L, 2L)).toDF("q_id", "n_id", "rk"), d)
      .select($"pred_label").as[Int].head()
    assert(tie == 1)
  }

  test("ivfTopKFromCentroids answers exactly like ivfTopKTrained") {
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val cents = Ann.trainCentroids(e, kCentroids = 16)
    val a = Ann.ivfTopKFromCentroids(e, col("vec_id") < 10, cents, 5, 2)
      .collect().map(_.toSeq).toSet
    val b = Ann.ivfTopKTrained(e, col("vec_id") < 10, 5, nProbe = 2,
      kCentroids = 16).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("hybrid RRF: sourced candidates only, exact k, partition-invariant, " +
       "and recall at least the IVF retriever's") {
    import spark.implicits._
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val isQuery = col("vec_id") < 10
    val fusedDf = Ann.hybridRrfTopK(e, isQuery, k = 5)
    val fused = fusedDf.as[(Long, Long, Long, Long)].collect()
    // shape: 5 per query, rk 1..5, fusion scores positive
    assert(fused.groupBy(_._1).forall { case (_, rs) =>
      rs.length == 5 && rs.map(_._4).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L)
    })
    assert(fused.forall(_._3 > 0))
    // every fused candidate came from one of the two source lists
    val sources =
      Ann.bruteForceTopK(e, isQuery, 10).select($"q_id", $"n_id")
        .unionByName(Ann.ivfTopKTrained(e, isQuery, 10, nProbe = 2,
          kCentroids = 16).select($"q_id", $"n_id"))
        .as[(Long, Long)].collect().toSet
    assert(fused.forall(r => sources.contains((r._1, r._2))))
    // exact-list membership is worth at least one contribution, so fusing
    // with the exact top-10 cannot recall WORSE than the IVF list alone
    val exact = Ann.bruteForceTopK(e, isQuery, 5).persist()
    try {
      val hybrid5 = Ann.recallAtK(exact, fusedDf)
      val ivf5 = Ann.recallAtK(exact,
        Ann.ivfTopKTrained(e, isQuery, 5, nProbe = 2, kCentroids = 16))
      assert(hybrid5 >= ivf5,
        s"hybrid recall $hybrid5 fell below the IVF retriever's $ivf5")
    } finally { exact.unpersist(); () }
    // partition-invariance: the integer fusion is arithmetic-exact
    val rep = Ann.hybridRrfTopK(e.repartition(3), isQuery, k = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rep == fused.toSet, "repartitioning changed the fused ranking")
  }

  test("semantic topics: total assignment, deterministic, and temperature " +
       "mix flattens the topic distribution") {
    import spark.implicits._
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val topics = Ann.semanticTopics(e, kCentroids = 16)
      .as[(Long, Long)].collect()
    assert(topics.length == e.count(), "every vector gets exactly one topic")
    val rerun = Ann.semanticTopics(e.repartition(5), kCentroids = 16)
      .as[(Long, Long)].collect().toSet
    assert(rerun == topics.toSet, "assignment not partition-invariant")
    // temperature reweighting: the max/min topic imbalance must shrink
    val t = topics.toSeq.toDF("vec_id", "topic")
      .select($"vec_id", $"topic".cast("string").as("topic"))
    val thr = Corpus.temperatureThresholds(t, alpha = 0.5, byCol = "topic")
    // the smallest topic anchors at keep-all
    val counts = topics.groupBy(_._2).map { case (k, v) => (k.toString, v.length) }
    val minTopic = counts.minBy(c => (c._2, c._1))._1
    assert(thr.toMap.apply(minTopic) == 10000L)
    val mixed = Corpus.mixByThresholds(t, thr, byCol = "topic",
        idCol = "vec_id")
      .groupBy("topic").count().as[(String, Long)].collect().toMap
    def imbalance(m: Map[String, Long]): Double =
      m.values.max.toDouble / m.values.min
    val before = counts.map { case (k, n) => k -> n.toLong }.toMap
    // sampling noise can wiggle individual topics; the HEADLINE ratio
    // must not grow
    assert(imbalance(mixed) <= imbalance(before) + 1e-9,
      s"mix increased imbalance: ${imbalance(before)} -> ${imbalance(mixed)}")
  }
}
