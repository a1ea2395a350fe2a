package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

/** Approximate-nearest-neighbor search as reusable operators — the library
  * form of the `ann_*` queries. Input convention: a corpus frame with
  * `vec_id: long` and `embedding: array<float|double>`; `isQuery` marks the
  * query rows. All variants emit `(q_id, n_id, cosine, rk)` with
  * cosine rounded to 6 places and rk 1..k per query.
  *
  * Scale shapes: the query set always broadcasts (queries ≪ corpus); the
  * exact scorer reads the corpus once; the LSH/IVF variants shuffle only
  * id/bucket/score scalars — embeddings never ride a candidate shuffle,
  * they join back by key at scoring time.
  */
object Ann {

  /** Per-query top-k of a scored candidate frame — through the bounded-
    * heap [[graft.plans.TopKPerKey]] (map-side ≤k-per-query partials →
    * shuffle of k·queries rows), NOT a bare window: a window shuffles and
    * sorts the ENTIRE scored set into per-query partitions, which for the
    * PQ/ADC paths (every corpus vector is a candidate) is a corpus-sized
    * skewed shuffle at scale. The final row_number only ranks the ≤k
    * survivors — identical rows and ranks, the ordering is total
    * ((cosine desc, n_id) ties broken). */
  private def rank(scored: DataFrame, k: Int): DataFrame = {
    val topk = graft.plans.TopKPerKey(scored, Seq("q_id"),
      Seq(graft.plans.TopKPerKey.desc("cosine"),
          graft.plans.TopKPerKey.asc("n_id")), k)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    topk.withColumn("rk", row_number().over(w).cast("long"))
  }

  /** Exact brute-force top-k: broadcast query set × one corpus scan, the
    * one-pass exact scorer. Ranking runs through the custom bounded-heap
    * [[graft.plans.TopKPerKey]] (map-side partials, ≤k·queries rows
    * shuffle) with the final row_number ranking only pruned rows. */
  def bruteForceTopK(corpus: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val e = corpus.withColumn("nrm", VF.norm2(col("embedding")))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(VF.cosineWithNorms(
          VF.dot(col("q_vec"), col("embedding")), col("q_nrm"), col("nrm")), 6)
          .as("cosine"))
    val topk = graft.plans.TopKPerKey(scored, Seq("q_id"),
      Seq(graft.plans.TopKPerKey.desc("cosine"),
          graft.plans.TopKPerKey.asc("n_id")), k)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    topk.withColumn("rk", row_number().over(w).cast("long"))
  }

  /** HYBRID retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009): fuse two independent candidate rankings —
    * here the exact cosine ranking and the trained-IVF ranking — into one
    * list by summing `1/(rrfK + rank)` per retriever, then re-ranking.
    * RRF needs no score calibration between retrievers (only ranks), which
    * is why production search fuses lexical + vector lists this way; over
    * two vector retrievers it buys robustness (a neighbor the quantizer's
    * probe set missed still enters through the other list).
    *
    * Engine-exactness: each contribution is the integer HALF-UP rounding
    * of `10⁶/(rrfK + rank)` — `(2·10⁶ + d) div (2d)` in pure long
    * arithmetic (the [[graft.operators.Clustering.pageRank]] discipline:
    * no double ever reaches the comparison), summed as `rrf_micro`.
    * Final order: (rrf_micro DESC, n_id) — fully deterministic.
    *
    * Scale shape: both retrievers are the existing bounded operators
    * (broadcast query set; probe-pruned candidates); the fusion is one
    * (q_id, n_id)-keyed full-outer join of two k-row-per-query frames —
    * query-set-sized, never corpus-sized — and a bounded-heap top-k. */
  def hybridRrfTopK(corpus: DataFrame, isQuery: Column, k: Int,
                    kCand: Int = 10, nProbe: Int = 2, kCentroids: Int = 16,
                    iters: Int = 5, seed: String = "ivf",
                    rrfK: Int = 60): DataFrame = {
    // integer half-up of 1e6/d: (2e6 + d) div (2d); null rank (the other
    // retriever missed this candidate) contributes 0
    def rrfMicro(rkCol: String): Column =
      coalesce(expr(s"(2000000 + (60 + $rkCol)) div (2 * (60 + $rkCol))")
        .cast("long"), lit(0L))
    require(rrfK == 60, "oracle replays the standard rrfK=60 constant")
    val exact = bruteForceTopK(corpus, isQuery, kCand)
      .select(col("q_id"), col("n_id"), col("rk").as("rk_a"))
    val ivf = ivfTopKTrained(corpus, isQuery, kCand, nProbe, kCentroids,
        iters, seed)
      .select(col("q_id"), col("n_id"), col("rk").as("rk_b"))
    val fused = exact.join(ivf, Seq("q_id", "n_id"), "full_outer")
      .select(col("q_id"), col("n_id"),
        (rrfMicro("rk_a") + rrfMicro("rk_b")).as("rrf_micro"))
    val topk = graft.plans.TopKPerKey(fused, Seq("q_id"),
      Seq(graft.plans.TopKPerKey.desc("rrf_micro"),
          graft.plans.TopKPerKey.asc("n_id")), k)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("n_id"))
    topk.withColumn("rk", row_number().over(w).cast("long"))
  }

  /** Single-table LSH: candidates share a random-hyperplane sign bucket
    * ([[VF.lshBucket]]) — per-query work drops from O(corpus) to the
    * bucket's share. */
  def lshTopK(corpus: DataFrame, isQuery: Column, k: Int,
              nBits: Int = 4, dims: Int = 64): DataFrame = {
    val e = corpus.select(col("vec_id"), col("embedding"),
      VF.lshBucket(col("embedding"), nBits, dims).as("bucket"),
      VF.norm2(col("embedding")).as("nrm"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("bucket"), col("nrm").as("q_nrm"))
    val scored = e.join(q, Seq("bucket")).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(VF.cosineWithNorms(
          VF.dot(col("q_vec"), col("embedding")), col("q_nrm"), col("nrm")), 6)
          .as("cosine"))
    rank(scored, k)
  }

  /** Multi-probe LSH — recall at one table's storage cost: each query
    * probes its own bucket PLUS the `nBits` buckets at hamming distance 1
    * (one sign bit flipped). A near neighbor that lands across one
    * hyperplane — by far the most likely miss — is recovered, so recall
    * approaches the multi-table variant's without building or storing any
    * second table (at 100 TB the corpus index is the dominant cost; the
    * probe fan-out only multiplies the tiny query side). Buckets of the
    * probe set are pairwise distinct, so no candidate dedup is needed:
    * each (query, neighbor) pair can match on at most one probe row. */
  def lshMultiProbeTopK(corpus: DataFrame, isQuery: Column, k: Int,
                        nBits: Int = 4, dims: Int = 64): DataFrame = {
    val e = corpus.select(col("vec_id"), col("embedding"),
      VF.lshBucket(col("embedding"), nBits, dims).as("bucket"),
      VF.norm2(col("embedding")).as("nrm"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("bucket"), col("nrm").as("q_nrm"))
    // fan the query side out to its nBits+1 probe buckets; the corpus side
    // keeps exactly one row per vector
    val probes = q.select(col("q_id"), col("q_vec"), col("q_nrm"),
      explode(array(col("bucket") +: (0 until nBits).map(b =>
        col("bucket").bitwiseXOR(lit(1L << b))): _*)).as("bucket"))
    val scored = e.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(VF.cosineWithNorms(
          VF.dot(col("q_vec"), col("embedding")), col("q_nrm"), col("nrm")), 6)
          .as("cosine"))
    rank(scored, k)
  }

  /** Multi-table LSH — the recall upgrade: `tables` independent hyperplane
    * sets; a pair is a candidate if ANY table buckets them together
    * (hit probability 1-(1-p^nBits)^tables). Candidates dedup as LONG pairs
    * before any vector moves. */
  def lshMultiTopK(corpus: DataFrame, isQuery: Column, k: Int,
                   nBits: Int = 4, dims: Int = 64, tables: Int = 4): DataFrame = {
    val buck = corpus.select(col("vec_id"), explode(array((0 until tables).map(l =>
        struct(lit(l).as("tbl"),
          VF.lshBucket(col("embedding"), nBits, dims, s"t$l").as("bucket"))): _*))
        .as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // isQuery must be a predicate over vec_id (it is applied to derived
    // frames that carry only the id)
    val qb = buck.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
    val cand = buck.join(qb, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id")).distinct()
    val ev = corpus.withColumn("nrm", VF.norm2(col("embedding")))
    val qv = ev.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("nrm").as("q_nrm"))
    val scored = cand
      .join(broadcast(qv), "q_id")
      .join(ev.select(col("vec_id").as("n_id"), col("embedding"), col("nrm")), "n_id")
      .select(col("q_id"), col("n_id"),
        round(VF.cosineWithNorms(
          VF.dot(col("q_vec"), col("embedding")), col("q_nrm"), col("nrm")), 6)
          .as("cosine"))
    rank(scored, k)
  }

  /** kNN label propagation from ANY top-k result frame `(q_id, n_id,
    * rk)` — the weak-supervision primitive: each query takes the
    * MAJORITY label of its k nearest neighbors (ties → smallest label,
    * deterministic). Composable with every variant in this module: brute
    * force for the oracle-checkable baseline, [[ivfTopKFromCentroids]]
    * or LSH for the 100 TB path — the vote is the same narrow
    * (q_id, label, count) aggregation either way. */
  def knnClassifyFrom(topk: DataFrame, corpus: DataFrame,
                      labelCol: String = "label"): DataFrame = {
    val labels = corpus.select(col("vec_id").as("n_id"),
      col(labelCol).as("_nl"))
    val votes = topk.join(labels, "n_id")
      .groupBy(col("q_id"), col("_nl")).agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("_n").desc, col("_nl"))
    votes.withColumn("_vr", row_number().over(w)).filter(col("_vr") === 1)
      .select(col("q_id"), col("_nl").as("pred_label"))
      .join(corpus.select(col("vec_id").as("q_id"),
        col(labelCol).as("true_label")), "q_id")
  }

  /** [[knnClassifyFrom]] over the exact scorer. */
  def knnClassify(corpus: DataFrame, isQuery: Column, k: Int,
                  labelCol: String = "label"): DataFrame =
    knnClassifyFrom(
      bruteForceTopK(corpus.select(col("vec_id"), col("embedding")),
        isQuery, k),
      corpus, labelCol)

  /** Recall@k of an approximate result against the exact one: the fraction
    * of true top-k neighbors the approximate variant returned, averaged
    * over queries. Both frames carry `(q_id, n_id)`; the join and counts
    * shuffle only id pairs — O(k·queries) rows, never vectors — so the
    * measurement is safe to run at any corpus scale alongside the search
    * itself. */
  def recallAtK(exact: DataFrame, approx: DataFrame): Double = {
    val t = exact.select(col("q_id"), col("n_id"))
    val denom = t.count()
    if (denom == 0) 1.0
    else t.join(approx.select(col("q_id"), col("n_id")),
      Seq("q_id", "n_id")).count().toDouble / denom
  }

  /** Train the IVF coarse quantizer: spherical k-means over a
    * deterministic sample, Lloyd iterations with exact-decimal centroid
    * updates so the trained centroids are bit-identical across engines
    * and runs (the property that keeps the trained index
    * oracle-checkable).
    *
    * Design, piece by piece:
    *  - SAMPLE: the md5(vec_id)-rate draw (same construction as
    *    [[Corpus.mixWeighted]]) — deterministic, partition-independent.
    *    At 100 TB nobody trains on the full corpus; `sampleRate` bounds
    *    the training set while assignment still covers every vector.
    *  - INIT: the `k` vectors with the smallest md5(seed_vec_id) — a
    *    seeded uniform draw (hash order is independent of insertion or
    *    partition order), the "sampled init, fixed seed" half of
    *    k-means‖ without its weighted rounds, which cannot be reproduced
    *    portably in the SQL oracle.
    *  - K: `kCentroids`, defaulting to ~√n_CORPUS when 0 (resolved
    *    against the corpus, not the sample — see [[resolveKCorpus]]) —
    *    cells hold ~√n vectors each, the classic balance between probe
    *    fan-out (O(K)) and cell scan cost (O(n/K)).
    *  - LLOYD step: assign every sampled vector to its nearest centroid
    *    by round(cosine,6) with cell-id tiebreak (a partial+final
    *    aggregate, not a window — only (vec_id, cell, score) triples
    *    shuffle); the new centroid is the elementwise SUM of its
    *    members, accumulated in DECIMAL(38,12). Cosine is
    *    scale-invariant, so the sum IS the spherical-k-means mean
    *    direction — and unlike a double sum or a mean it is exact and
    *    order-independent, so Spark and the SQL oracle agree
    *    bit-for-bit. Empty cells keep their previous centroid.
    *  - Driver traffic per iteration: K·dims decimal sums — the model,
    *    not the data (same O(K·dims) cost as broadcasting the centroids
    *    back out each round).
    *
    * EXECUTION: with a cap in force (`maxTrainVectors > 0`) the sample is
    * driver-bounded by construction, so it collects once and the Lloyd
    * loop runs LOCALLY (see the local-twins block) — identical arithmetic,
    * no per-iteration engine job. `maxTrainVectors = 0` (unbounded
    * training set) or `localTrain = false` runs the distributed loop;
    * the parity spec pins both paths bit-identical.
    *
    * Returns the centroids as (cell 0..k-1, vector) in init-hash order. */
  def trainCentroids(corpus: DataFrame, kCentroids: Int = 0, iters: Int = 5,
                     seed: String = "ivf",
                     sampleRate: Double = 1.0,
                     maxTrainVectors: Int = DefaultMaxTrainVectors,
                     localTrain: Boolean = true,
                     maxTrainBytes: Long = DefaultMaxTrainBytes)
      : Array[Array[Double]] = {
    require(iters >= 1, "need at least one Lloyd iteration")
    val kEff = resolveKCorpus(corpus, kCentroids)
    if (localTrain && maxTrainVectors > 0) {
      val s = collectSample(corpus, sampleRate, maxTrainVectors, seed,
        maxTrainBytes)
      return lloydLocal(s, initLocal(s, math.min(kEff, s.n), seed), iters)
    }
    val base = sampleFrame(corpus, sampleRate, maxTrainVectors, seed,
      maxTrainBytes = maxTrainBytes).persist()
    try lloyd(base, initCentroids(base, kEff, seed), iters)
    finally base.unpersist()
  }

  /** Hard CAP on quantizer-training set size — the FAISS posture: k-means
    * and PQ codebooks train on a bounded sample (10⁵-10⁶ vectors), never
    * the corpus, so training cost is O(sample) while assignment/encode
    * still covers every vector. 65,536 is FAISS's default
    * `max_points_per_centroid`-style budget scale: 256 training vectors
    * per code at the PQx8 default, far past diminishing returns for a
    * Lloyd update. Pass 0 to disable (train on everything the rate draw
    * kept). */
  val DefaultMaxTrainVectors: Int = 65536

  /** BYTE budget for the training sample the driver collects
    * ([[collectSample]]) — the row cap alone is not a size bound: 65,536
    * rows × 64 dims ≈ 34 MB of doubles, but the same rows at
    * 1024-dim production embeddings are ~540 MB on one driver heap. When
    * the per-vector width is known the effective row cap shrinks to
    * `maxTrainBytes / (8·dims)` (never below [[MinByteCapRows]] — PQ
    * init needs `codes` ≤ 256 vectors), so the collected sample is
    * bounded by BYTES, not rows, at any dimensionality. 0 disables. */
  val DefaultMaxTrainBytes: Long = 64L << 20

  /** Floor of the byte-budgeted row cap: the PQ-init `codes` default —
    * below this the trainers' own `require`s fail anyway. */
  val MinByteCapRows: Int = 256

  /** Widen a frame to cluster parallelism when the source delivers fewer
    * partitions than cores. A small parquet table arrives as ONE split (a
    * single row group cannot be divided), so every map-side stage built on
    * it — the per-iteration Lloyd assignment, the PQ encode — serializes
    * onto one core no matter how wide the cluster; measured on the bench
    * corpus this was ~4x the entire `ann_pq_train` line. Deterministic
    * hash partitioning on `vec_id` (NOT round-robin: repartition(n) splits
    * by input order, which a retried upstream task can change); a no-op
    * whenever the source already has enough splits, so at 100 TB — where
    * scans arrive thousands of partitions wide — no shuffle is added. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, col("vec_id"))
  }

  /** The deterministic training sample as `(vec_id, emb: array<double>)`:
    * the md5(vec_id)-rate draw, then — when `maxTrainVectors > 0` — the
    * `maxTrainVectors` survivors with the smallest md5(seed‖vec_id)
    * (seeded-hash order: partition- and insertion-independent, so the
    * trained model is bit-identical across runs and replayable by an
    * oracle that ranks the same hash). A non-binding cap keeps every
    * row, so small-corpus training — and the SQL oracles that replay it
    * in full — are byte-identical with the cap on.
    *
    * SCALE SHAPE of the cap: a bare `orderBy(hk).limit(N)` (TakeOrdered)
    * computes a top-N per input partition and merges ALL of them on one
    * task — at 100k scan partitions that single task would receive up to
    * P·N rows, the exact straggler/OOM the cap exists to avoid. So when
    * the candidate count exceeds 4·N, a HASH-PREFIX CUT runs first:
    * survivors are the rows whose hash prefix falls below
    * `ceil(4N/n · 2⁴⁸)` — the SAME hash the top-N orders by, so the cut
    * is just "the smallest-hash region", and the global top-N is a
    * subset of it whenever survivors ≥ N (expected 4N; by Chernoff the
    * undershoot probability is e^{-Θ(N)} — nonexistent at N=65536). The
    * TakeOrdered then merges ~4N rows, not the corpus. The one count()
    * this costs is column-pruned (a parquet metadata read on plain
    * scans), and the selected SET is provably identical to the uncut
    * top-N, so plans with and without the cut train the same model. */
  private def sampleFrame(corpus: DataFrame, sampleRate: Double,
                          maxTrainVectors: Int = 0,
                          seed: String = "",
                          spreadOut: Boolean = true,
                          maxTrainBytes: Long = DefaultMaxTrainBytes)
      : DataFrame = {
    val base0 = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val rated =
      if (sampleRate >= 1.0) base0
      else {
        val u = conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 10000L
        base0.filter(u < (lit(sampleRate) * 10000L).cast("long"))
      }
    val capped =
      if (maxTrainVectors <= 0) rated
      else {
        val hk = md5(concat(lit(s"${seed}cap_"), col("vec_id").cast("string")))
        val n = rated.count()
        // BYTE-budget the row cap: probe the vector width (one limit-1
        // job — a single partition is touched) and shrink the cap to
        // maxTrainBytes/(8·dims), floored at MinByteCapRows. Skipped
        // when n ≤ the floor (the budget cannot bind below it).
        val cap =
          if (maxTrainBytes <= 0 || n <= MinByteCapRows) maxTrainVectors
          else rated.select(size(col("emb"))).head(1) match {
            case Array(r) if !r.isNullAt(0) && r.getInt(0) > 0 =>
              math.min(maxTrainVectors.toLong,
                math.max(MinByteCapRows.toLong,
                  maxTrainBytes / (8L * r.getInt(0)))).toInt
            case _ => maxTrainVectors
          }
        if (n <= cap) rated // non-binding: no sort, no limit
        else {
          val pre =
            // the prefix cut's "survivors ⊇ top-N" claim rests on a
            // Chernoff bound (undershoot prob e^{-Θ(N)}): real at the
            // 65k default, NOT at a user-set single-digit cap — below
            // 1024 skip the cut (the TakeOrdered merge is ≤ P·cap rows,
            // tiny exactly when the cap is)
            if (n <= 4L * cap || cap < 1024) rated
            else {
              // fixed-width lowercase hex compares lexicographically ==
              // numerically, so the cut is one string compare per row
              val t = math.ceil(4.0 * cap / n * (1L << 48)).toLong
              rated.filter(
                substring(hk, 1, 12) < lit(f"${math.min(t, (1L << 48) - 1)}%012x"))
            }
          pre.orderBy(hk, col("vec_id")).limit(cap)
        }
      }
    if (spreadOut) spread(capped) else capped
  }

  /** Resolve `kCentroids = 0` as ~√(CORPUS rows) — the corpus, never the
    * training sample. Under a binding train cap, √sample pins K at
    * √cap (√65536 = 256 at the default) no matter how large the data
    * grows, and per-query probe cost O(nProbe·corpus/K) silently
    * returns to LINEAR in corpus size — the auto default must keep
    * cells at ~√n_corpus for the probe cost to stay O(√n). The price
    * is one count job, paid only on the auto path; callers clamp the
    * result to the training-sample size (init draws K distinct sample
    * rows, so K can never exceed it). */
  private def resolveKCorpus(corpus: DataFrame, kCentroids: Int): Int =
    if (kCentroids > 0) kCentroids
    else math.max(2, math.round(math.sqrt(corpus.count().toDouble)).toInt)

  // ---- LOCAL (driver-side) training twins ----------------------------
  //
  // Quantizer training operates on the CAPPED sample — bounded by the
  // `maxTrainBytes` BYTE budget (default 64 MB: the row cap shrinks to
  // budget/(8·dims) when the vectors are wide, so 1024-dim production
  // embeddings collect ~8k rows, never a half-GB), i.e. model-side
  // state, exactly what FAISS holds in memory when it trains. Running the
  // Lloyd/PQ loops as engine jobs over that sample buys no parallelism a
  // driver loop doesn't have (the per-iteration work is K·dims·n flops on
  // kilobyte-to-megabyte state) and costs one scheduled multi-stage job
  // PER ITERATION — which at bench scale WAS the entire training price.
  // So when a cap is in force the sample collects once and these twins
  // run the identical arithmetic locally; distributed loops remain for
  // cap=0 (`localTrain = false` forces them, which is how the parity
  // specs pin local == distributed bit-for-bit).
  //
  // Exactness contract (every op mirrors the engine expression it
  // replaces — the SQL oracles that replay training catch any drift):
  //  - md5 hex of the cast-to-string id (init order, cap order);
  //  - round(x, s): java BigDecimal of Double.toString, HALF_UP — the
  //    Round expression's own rule; NaN/Inf pass through;
  //  - DECIMAL(38,12) member sums: setScale(12, HALF_UP) per element
  //    (the double→decimal cast), exact addition, .doubleValue();
  //  - cosine: sequential left-to-right dot (ArrayDotProduct's fold),
  //    0.0 on zero norms;
  //  - argmax/argmin tiebreaks: java.lang.Double.compare (Spark's
  //    double total order: -0.0 < 0.0, NaN greatest), then cell/code
  //    ascending — the min(struct(-score, id)) aggregate;
  //  - id ordering: numeric for integral ids, UTF8String binary order
  //    for strings (Spark's ORDER BY, not String.compareTo).

  private object LT {
    def md5Hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val sb = new java.lang.StringBuilder(32)
      d.foreach { b => sb.append(Character.forDigit((b >> 4) & 0xf, 16))
        .append(Character.forDigit(b & 0xf, 16)) }
      sb.toString
    }
    def round(x: Double, scale: Int): Double =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
      else new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
    /** double→DECIMAL(38,12) with the CAST's semantics: non-finite values
      * become null (the engine cast yields null and the decimal sum skips
      * the element) — returning null here keeps the local twins
      * divergence-free from the distributed loops on NaN/Inf embeddings
      * instead of throwing where the engine silently skips. */
    def dec12(x: Double): java.math.BigDecimal =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) null
      else new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(12, java.math.RoundingMode.HALF_UP)
    /** `acc + dec12(x)`, skipping non-finite x exactly as the decimal sum
      * skips the cast's null. */
    def dec12Add(acc: java.math.BigDecimal, x: Double): java.math.BigDecimal = {
      val b = dec12(x)
      if (b == null) acc else acc.add(b)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    def cosine6(emb: Array[Double], embNrm: Double, c: Array[Double],
                cNrm: Double): Double = {
      val cos = if (embNrm == 0.0 || cNrm == 0.0) 0.0
                else dot(emb, c) / (embNrm * cNrm)
      round(cos, 6)
    }
    def idCompare(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Int, y: Int) => Integer.compare(x, y)
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case (x, y) => x.toString.compareTo(y.toString)
    }
  }

  /** The capped sample, collected: ids in the engine's cast-to-string
    * form alongside the original values (hash order + tiebreaks), and
    * the double vectors. */
  private case class LocalSample(ids: Array[Any], embs: Array[Array[Double]]) {
    def n: Int = ids.length
    /** Row indices ordered by (md5(prefix‖id), id) — the seeded-hash
      * draw every init uses. */
    def hashOrder(prefix: String): Array[Int] = {
      val hk = ids.map(id => LT.md5Hex(prefix + id.toString))
      Array.range(0, n).sortWith { (i, j) =>
        val c = hk(i).compareTo(hk(j))
        if (c != 0) c < 0 else LT.idCompare(ids(i), ids(j)) < 0
      }
    }
  }

  private def collectSample(corpus: DataFrame, sampleRate: Double,
                            maxTrainVectors: Int, seed: String,
                            maxTrainBytes: Long = DefaultMaxTrainBytes)
      : LocalSample = {
    val rows = sampleFrame(corpus, sampleRate, maxTrainVectors, seed,
      spreadOut = false, maxTrainBytes = maxTrainBytes).collect()
    LocalSample(rows.map(_.get(0)),
      rows.map(_.getSeq[Double](1).toArray))
  }

  /** Smallest-k rows of the seeded hash order — [[initCentroids]]. */
  private def initLocal(s: LocalSample, k: Int, seed: String)
      : Array[Array[Double]] =
    s.hashOrder(s"${seed}_").take(k).map(i => s.embs(i))

  /** Per-vector nearest cell by (round-6 cosine desc, cell asc) —
    * [[nearestCellAgg]].
    *
    * TWO-PASS argmax: the BigDecimal round-6 is ~100× a double compare,
    * and doing it for every (vector, cell) pair dominates local
    * training. Rounding is monotone, and two values can round equal
    * only when they differ by < 1e-6 — so the rounded winner must have
    * a RAW cosine within 1e-6 of the raw max. Pass 1 finds the raw max
    * with plain doubles; pass 2 exact-rounds only the cells inside a
    * 2e-6 window (normally one) and applies the true (rounded desc,
    * cell asc) rule. Provably identical selection, pinned by the
    * local-vs-distributed parity spec. */
  private def assignLocal(s: LocalSample, cents: Array[Array[Double]])
      : Array[Int] = {
    val cNrm = cents.map(c => math.sqrt(LT.dot(c, c)))
    val raw = new Array[Double](cents.length)
    val out = new Array[Int](s.n)
    var i = 0
    while (i < s.n) {
      val e = s.embs(i)
      val eNrm = math.sqrt(LT.dot(e, e))
      var rawMax = java.lang.Double.NEGATIVE_INFINITY
      var c = 0
      while (c < cents.length) {
        val cos = if (eNrm == 0.0 || cNrm(c) == 0.0) 0.0
                  else LT.dot(e, cents(c)) / (eNrm * cNrm(c))
        raw(c) = cos
        if (cos > rawMax) rawMax = cos
        c += 1
      }
      var bestNeg = java.lang.Double.POSITIVE_INFINITY
      var bestCell = -1
      c = 0
      while (c < cents.length) {
        // NaN cosines (never from finite embeddings) fail the window test
        // and fall through to the exact all-cells scan below
        if (raw(c) >= rawMax - 2e-6) {
          val neg = -LT.round(raw(c), 6)
          if (bestCell < 0 || java.lang.Double.compare(neg, bestNeg) < 0) {
            bestNeg = neg; bestCell = c
          }
        }
        c += 1
      }
      if (bestCell < 0) { // all-NaN row: replay the exact Spark ordering
        c = 0
        while (c < cents.length) {
          val neg = -LT.round(raw(c), 6)
          if (bestCell < 0 || java.lang.Double.compare(neg, bestNeg) < 0) {
            bestNeg = neg; bestCell = c
          }
          c += 1
        }
      }
      out(i) = bestCell
      i += 1
    }
    out
  }

  /** Elementwise DECIMAL(38,12) member sums per cell; empty cells keep
    * their previous centroid — [[lloyd]]'s update step. `weights` maps a
    * row to its cell (or -1 to skip). */
  private def decimalSumUpdate(s: LocalSample, assign: Array[Int],
                               cents: Array[Array[Double]])
      : Array[Array[Double]] = {
    val dims = if (s.n > 0) s.embs(0).length else 0
    val sums = new java.util.HashMap[Integer, Array[java.math.BigDecimal]]()
    var i = 0
    while (i < s.n) {
      val cell = assign(i)
      if (cell >= 0) {
        var acc = sums.get(cell)
        if (acc == null) {
          acc = Array.fill(dims)(java.math.BigDecimal.ZERO)
          sums.put(cell, acc)
        }
        val e = s.embs(i)
        var d = 0
        while (d < dims) { acc(d) = LT.dec12Add(acc(d), e(d)); d += 1 }
      }
      i += 1
    }
    val next = cents.map(_.clone())
    sums.forEach { (cell, acc) =>
      val v = new Array[Double](cents(cell).length)
      var d = 0
      while (d < acc.length) { v(d) = acc(d).doubleValue(); d += 1 }
      next(cell) = v
    }
    next
  }

  private def lloydLocal(s: LocalSample, init: Array[Array[Double]],
                         iters: Int): Array[Array[Double]] = {
    var cents = init
    for (_ <- 0 until iters)
      cents = decimalSumUpdate(s, assignLocal(s, cents), cents)
    cents
  }

  /** Local twin of [[trainCentroidsBalanced]]'s hot-cell split loop —
    * same hot rule, same seeded per-round child inits, same 2-means
    * updates and degenerate-cell freezing, over the collected sample. */
  private def balancedLocal(s: LocalSample, init: Array[Array[Double]],
                            iters: Int, seed: String, balanceFactor: Double,
                            maxSplitRounds: Int, splitIters: Int)
      : Array[Array[Double]] = {
    var cents = lloydLocal(s, init, iters)
    var frozen = Set.empty[Int]
    var splitRound = 0
    var balanced = false
    while (!balanced && splitRound < maxSplitRounds) {
      val assign = assignLocal(s, cents)
      val counts = assign.groupBy(identity).map { case (c, a) =>
        c -> a.length.toLong }
      val mean = s.n.toDouble / cents.length
      val hot = cents.indices.filter(i =>
        !frozen(i) && counts.getOrElse(i, 0L) >= 2 &&
        counts.getOrElse(i, 0L) > balanceFactor * mean).toSet
      if (hot.isEmpty) balanced = true
      else {
        // member row indices per hot cell
        val members: Map[Int, Array[Int]] = hot.map { c =>
          c -> Array.range(0, s.n).filter(i => assign(i) == c)
        }.toMap
        // per-cell child inits: first 2 members by (split-round hash, id)
        val prefix = s"${seed}_split${splitRound}_"
        val hk = new java.util.HashMap[Integer, String]()
        members.values.foreach(_.foreach { i =>
          hk.put(i, LT.md5Hex(prefix + s.ids(i).toString)) })
        var children: Map[(Int, Int), Array[Double]] = members.flatMap {
          case (c, rows) =>
            val top2 = rows.sortWith { (i, j) =>
              val cmp = hk.get(i).compareTo(hk.get(j))
              if (cmp != 0) cmp < 0 else LT.idCompare(s.ids(i), s.ids(j)) < 0
            }.take(2)
            top2.zipWithIndex.map { case (row, ch) => (c, ch) -> s.embs(row) }
        }
        // each member scores against ITS cell's two children:
        // (round-6 cosine desc, child asc)
        def assignChild(): Map[Int, Array[Int]] = members.map {
          case (c, rows) =>
            val ch0 = children((c, 0)); val ch1 = children((c, 1))
            val n0 = math.sqrt(LT.dot(ch0, ch0))
            val n1 = math.sqrt(LT.dot(ch1, ch1))
            c -> rows.map { i =>
              val e = s.embs(i)
              val eNrm = math.sqrt(LT.dot(e, e))
              val neg0 = -LT.cosine6(e, eNrm, ch0, n0)
              val neg1 = -LT.cosine6(e, eNrm, ch1, n1)
              if (java.lang.Double.compare(neg1, neg0) < 0) 1 else 0
            }
        }
        for (_ <- 0 until splitIters) {
          val asg = assignChild()
          val upd = asg.toSeq.flatMap { case (c, childOf) =>
            (0 to 1).flatMap { ch =>
              val rows = members(c).indices.filter(k => childOf(k) == ch)
                .map(k => members(c)(k))
              if (rows.isEmpty) scala.None // empty child keeps its entry
              else {
                val dims = s.embs(rows.head).length
                val acc = Array.fill(dims)(java.math.BigDecimal.ZERO)
                rows.foreach { i =>
                  val e = s.embs(i)
                  var d = 0
                  while (d < dims) { acc(d) = LT.dec12Add(acc(d), e(d)); d += 1 }
                }
                Some((c, ch) -> acc.map(_.doubleValue()))
              }
            }
          }
          children = children ++ upd
        }
        val finalAsg = assignChild()
        val childPop: Map[(Int, Int), Long] = finalAsg.toSeq.flatMap {
          case (c, childOf) => (0 to 1).map { ch =>
            (c, ch) -> childOf.count(_ == ch).toLong }
        }.toMap
        val out = Array.newBuilder[Array[Double]]
        var newFrozen = Set.empty[Int]
        var nOut = 0
        cents.indices.foreach { i =>
          val degenerate = hot(i) &&
            (childPop.getOrElse((i, 0), 0L) == 0L ||
             childPop.getOrElse((i, 1), 0L) == 0L)
          if (hot(i) && !degenerate) {
            out += children((i, 0)); out += children((i, 1)); nOut += 2
          } else {
            if (frozen(i) || degenerate) newFrozen += nOut
            out += cents(i); nOut += 1
          }
        }
        cents = out.result()
        frozen = newFrozen
      }
      splitRound += 1
    }
    cents
  }

  /** Seeded deterministic init: the `k` sample vectors with the smallest
    * md5(seed_vec_id) — hash order, independent of partitioning. */
  private def initCentroids(base: DataFrame, k: Int,
                            seed: String): Array[Array[Double]] =
    base.select(col("emb"),
        md5(concat(lit(s"${seed}_"), col("vec_id").cast("string"))).as("hk"),
        col("vec_id"))
      .orderBy(col("hk"), col("vec_id")).limit(k)
      .select(col("emb")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** Nearest-cell argmax as an AGGREGATE: min over (-score, cell) =
    * highest round(6) score, smallest cell on ties — identical to the
    * oracle's row_number ranking, but with map-side partials instead of a
    * window. Only (vec_id, cell, score) triples shuffle. */
  private def nearestCellAgg(base: DataFrame, cent: DataFrame): DataFrame =
    base.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cell"),
        round(VF.cosineWithNorms(VF.dot(col("emb"), col("c_vec")),
          VF.norm2(col("emb")), col("c_nrm")), 6).as("cscore"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("cscore")).as("neg"), col("cell").as("cell")))
        .as("b"))
      .select(col("vec_id"), col("b.cell").as("cell"))

  /** Lloyd iterations over a persisted sample: assign (nearest-cell agg),
    * update (elementwise DECIMAL(38,12) sums — exact, order-independent,
    * so Spark and the SQL oracle agree bit-for-bit). Empty cells keep
    * their previous centroid. Driver traffic per iteration: K·dims
    * decimal sums — the model, never the data. */
  private def lloyd(base: DataFrame, init: Array[Array[Double]],
                    iters: Int): Array[Array[Double]] = {
    var cents = init
    for (_ <- 0 until iters) {
      val best = nearestCellAgg(base, centroidFrame(base.sparkSession, cents))
      val sums = best.join(base, "vec_id")
        .select(col("cell"), posexplode(col("emb")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .as("s"))
        .collect() // O(K·dims) rows — the model update, never the data
      val next = cents.map(_.clone())
      sums.groupBy(_.getLong(0)).foreach { case (cell, rows) =>
        val v = new Array[Double](cents(cell.toInt).length)
        // a null sum (every member non-finite at this position — the cast
        // nulled them all) leaves 0.0, matching the local twin's ZERO acc
        rows.foreach(r =>
          if (!r.isNullAt(2)) v(r.getInt(1)) = r.getDecimal(2).doubleValue())
        next(cell.toInt) = v
      }
      cents = next
    }
    cents
  }

  /** [[trainCentroids]] followed by HOT-CELL SPLITTING — the quantizer
    * balance pass. A lopsided quantizer is a 100 TB probe-cost skew:
    * every query probing the hot cell scans `max/mean` times the average
    * cell, and [[ivfCellCounts]] measures exactly that ratio. After Lloyd converges, any cell whose population exceeds
    * `balanceFactor ×` the mean is split by seeded 2-means over ITS OWN
    * members (all hot cells split together — one assignment pass per
    * round, not per cell), replacing the hot centroid with its two
    * children. Rounds repeat until balanced or `maxSplitRounds`.
    *
    * A cell of exact-identical vectors cannot balance by splitting (both
    * children coincide); such degenerate cells are detected (a child ends
    * up empty) and FROZEN — left visible in [[ivfCellCounts]] rather
    * than looping forever. Mass-duplicate corpora should exact-collapse
    * first (see [[semanticDedup]]); the quantizer keeps their duplicates
    * in one cell, which is the best an assignment-complete index can do.
    *
    * Everything stays deterministic (seeded inits, round(6)+id argmax,
    * DECIMAL sums), so a balanced index is oracle-replayable by injecting
    * the FINAL centroids as literals (see the ann_ivf_balanced query).
    * Cell ids are renumbered 0..K'-1 in (parent order, child order). */
  def trainCentroidsBalanced(corpus: DataFrame, kCentroids: Int = 0,
                             iters: Int = 5, seed: String = "ivf",
                             sampleRate: Double = 1.0,
                             balanceFactor: Double = 3.0,
                             maxSplitRounds: Int = 8,
                             splitIters: Int = 2,
                             maxTrainVectors: Int = DefaultMaxTrainVectors,
                             localTrain: Boolean = true,
                             maxTrainBytes: Long = DefaultMaxTrainBytes)
      : Array[Array[Double]] = {
    require(balanceFactor > 1.0, "balanceFactor must exceed 1")
    val kEff = resolveKCorpus(corpus, kCentroids)
    if (localTrain && maxTrainVectors > 0) {
      val s = collectSample(corpus, sampleRate, maxTrainVectors, seed,
        maxTrainBytes)
      return balancedLocal(s, initLocal(s, math.min(kEff, s.n), seed),
        iters, seed, balanceFactor, maxSplitRounds, splitIters)
    }
    val spark = corpus.sparkSession
    val base = sampleFrame(corpus, sampleRate, maxTrainVectors, seed,
      maxTrainBytes = maxTrainBytes).persist()
    try {
      var cents = lloyd(base, initCentroids(base, kEff, seed), iters)
      var frozen = Set.empty[Int] // degenerate cells that cannot split
      var splitRound = 0
      var balanced = false
      while (!balanced && splitRound < maxSplitRounds) {
        val assign = nearestCellAgg(base, centroidFrame(spark, cents)).persist()
        try {
          val counts = assign.groupBy(col("cell"))
            .agg(count(lit(1)).as("n")).collect()
            .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
          val mean = counts.values.sum.toDouble / cents.length
          val hot = cents.indices.filter(i =>
            !frozen(i) && counts.getOrElse(i, 0L) >= 2 &&
            counts.getOrElse(i, 0L) > balanceFactor * mean).toSet
          if (hot.isEmpty) balanced = true
          else {
            val members = assign
              .filter(col("cell").isin(hot.toSeq.map(i => Long.box(i.toLong)): _*))
              .join(base, "vec_id").persist()
            try {
              // 2-means inside each hot cell, all cells in one pass per
              // iteration: children live in a (cell, child) keyed frame,
              // members only ever score against their own cell's two
              val wInit = Window.partitionBy(col("cell"))
                .orderBy(col("hk"), col("vec_id"))
              // smallest-2-per-cell via the bounded heap (map-side ≤2
              // rows per cell per partition — a hot cell is corpus-scale
              // at 100 TB, and a bare window would sort all its members);
              // the row_number then ranks only the ≤2 survivors
              var children: Map[(Int, Int), Array[Double]] = graft.plans
                .TopKPerKey(members
                  .select(col("cell"), col("vec_id"), col("emb"),
                    md5(concat(lit(s"${seed}_split${splitRound}_"),
                      col("vec_id").cast("string"))).as("hk")),
                  Seq("cell"),
                  Seq(graft.plans.TopKPerKey.asc("hk"),
                      graft.plans.TopKPerKey.asc("vec_id")), 2)
                .withColumn("rn", row_number().over(wInit))
                .select(col("cell"), col("rn"), col("emb")).collect()
                .map(r => (r.getLong(0).toInt, r.getInt(1) - 1) ->
                  r.getSeq[Double](2).toArray).toMap
              def childFrame: DataFrame = {
                import spark.implicits._
                children.toSeq.sortBy(_._1)
                  .map { case ((c, ch), v) => (c.toLong, ch, v.toSeq) }
                  .toDF("cell", "child", "c_vec")
                  .select(col("cell"), col("child"), col("c_vec"),
                    VF.norm2(col("c_vec")).as("c_nrm"))
              }
              // argmax groups on (cell, vec_id) longs; emb joins back by
              // vec_id afterwards — same no-array-keys rule as everywhere
              def assignChild: DataFrame = members
                .join(broadcast(childFrame), Seq("cell"))
                .select(col("cell"), col("vec_id"), col("child"),
                  round(VF.cosineWithNorms(VF.dot(col("emb"), col("c_vec")),
                    VF.norm2(col("emb")), col("c_nrm")), 6).as("cscore"))
                .groupBy(col("cell"), col("vec_id"))
                .agg(min(struct((-col("cscore")).as("neg"),
                  col("child").as("child"))).as("b"))
                .select(col("cell"), col("vec_id"), col("b.child").as("child"))
                .join(members.select(col("vec_id"), col("emb")), "vec_id")
              for (_ <- 0 until splitIters) {
                val sums = assignChild
                  .select(col("cell"), col("child"), posexplode(col("emb")))
                  .groupBy(col("cell"), col("child"), col("pos"))
                  .agg(sum(col("col")
                    .cast(org.apache.spark.sql.types.DecimalType(38, 12)))
                    .as("s"))
                  .collect() // O(2·hot·dims) — model-sized
                val upd = sums.groupBy(r => (r.getLong(0).toInt, r.getInt(1)))
                  .map { case (key, rows) =>
                    val v = new Array[Double](children(key).length)
                    // null sum (all-non-finite position) → 0.0, the local
                    // twin's ZERO acc
                    rows.foreach(r => if (!r.isNullAt(3))
                      v(r.getInt(2)) = r.getDecimal(3).doubleValue())
                    key -> v
                  }
                children = children ++ upd // empty child keeps its init
              }
              val childPop = assignChild.groupBy(col("cell"), col("child"))
                .agg(count(lit(1)).as("n")).collect()
                .map(r => (r.getLong(0).toInt, r.getInt(1)) -> r.getLong(2)).toMap
              // rebuild: parents in index order, a split parent replaced by
              // its two children in child order; degenerate splits freeze
              val out = Array.newBuilder[Array[Double]]
              var newFrozen = Set.empty[Int]
              var nOut = 0
              cents.indices.foreach { i =>
                val degenerate = hot(i) &&
                  (childPop.getOrElse((i, 0), 0L) == 0L ||
                   childPop.getOrElse((i, 1), 0L) == 0L)
                if (hot(i) && !degenerate) {
                  out += children((i, 0)); out += children((i, 1)); nOut += 2
                } else {
                  if (frozen(i) || degenerate) newFrozen += nOut
                  out += cents(i); nOut += 1
                }
              }
              cents = out.result()
              frozen = newFrozen
            } finally members.unpersist()
          }
        } finally assign.unpersist()
        splitRound += 1
      }
      cents
    } finally base.unpersist()
  }

  /** (cell, c_vec, c_nrm) frame from driver-held centroids — K·dims
    * doubles, always broadcast-sized by construction. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                            cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
      .toDF("cell", "c_vec")
      .select(col("cell"), col("c_vec"), VF.norm2(col("c_vec")).as("c_nrm"))
  }

  /** The shared front half of every quantizer-driven entry point: the
    * corpus cast to double with norms, and a centroid table keyed as
    * `c_id` — one place to change the index frame shape. */
  private def indexFrames(corpus: DataFrame,
                          cents: Array[Array[Double]]): (DataFrame, DataFrame) = {
    val e = corpus.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .withColumn("nrm", VF.norm2(col("embedding")))
    val cent = centroidFrame(corpus.sparkSession, cents)
      .select(col("cell").as("c_id"), col("c_vec"), col("c_nrm"))
    (e, cent)
  }

  private def trainedIndex(corpus: DataFrame, kCentroids: Int, iters: Int,
                           seed: String, sampleRate: Double,
                           maxTrainVectors: Int = DefaultMaxTrainVectors)
      : (DataFrame, DataFrame) =
    indexFrames(corpus,
      trainCentroids(corpus, kCentroids, iters, seed, sampleRate,
        maxTrainVectors))

  /** IVF with a TRAINED quantizer: [[trainCentroids]] then the same
    * assignment/probe/scoring machinery as [[ivfTopK]]. This is the
    * production IVF section default — the predicate-centroid variant
    * below remains for reproducing a fixed index layout. */
  def ivfTopKTrained(corpus: DataFrame, isQuery: Column, k: Int,
                     nProbe: Int = 2, kCentroids: Int = 0, iters: Int = 5,
                     seed: String = "ivf", sampleRate: Double = 1.0,
                     maxTrainVectors: Int = DefaultMaxTrainVectors): DataFrame = {
    val (e, cent) = trainedIndex(corpus, kCentroids, iters, seed, sampleRate,
      maxTrainVectors)
    ivfTopKFrom(e, isQuery, cent, k, nProbe)
  }

  /** IVF answered from DRIVER-HELD centroids (e.g.
    * [[trainCentroidsBalanced]]'s output, or centroids loaded from a
    * store): same assignment/probe/scoring machinery as every IVF path.
    * Also what lets an oracle replay a balanced index — the centroids
    * are literals on both sides. */
  def ivfTopKFromCentroids(corpus: DataFrame, isQuery: Column,
                           cents: Array[Array[Double]], k: Int,
                           nProbe: Int = 2): DataFrame = {
    val (e, cent) = indexFrames(corpus, cents)
    ivfTopKFrom(e, isQuery, cent, k, nProbe)
  }

  /** TOPIC assignment — every vector labeled with its nearest TRAINED
    * centroid cell `(vec_id, topic)`. The unsupervised grouping under
    * topic-balanced corpus mixing (cluster-then-reweight, the SemDeDup /
    * DataComp recipe applied to mixture design): downstream feeds the
    * topic column to `Corpus.mixTemperature`-style reweighting exactly
    * as a `lang`/`source` column. Same deterministic quantizer and
    * round-6/id-tiebreak assignment as every IVF path. */
  def semanticTopics(corpus: DataFrame, kCentroids: Int = 0, iters: Int = 5,
                     seed: String = "ivf", sampleRate: Double = 1.0,
                     maxTrainVectors: Int = DefaultMaxTrainVectors): DataFrame = {
    val (e, cent) = trainedIndex(corpus, kCentroids, iters, seed, sampleRate,
      maxTrainVectors)
    assignCells(e, cent).select(col("vec_id"), col("cell").as("topic"))
  }

  /** [[ivfTopKTrained]] with the hot-cell-splitting quantizer — the
    * production default shape for skewed corpora. */
  def ivfTopKTrainedBalanced(corpus: DataFrame, isQuery: Column, k: Int,
                             nProbe: Int = 2, kCentroids: Int = 0,
                             iters: Int = 5, seed: String = "ivf",
                             sampleRate: Double = 1.0,
                             balanceFactor: Double = 3.0,
                             maxTrainVectors: Int = DefaultMaxTrainVectors)
      : DataFrame =
    ivfTopKFromCentroids(corpus, isQuery,
      trainCentroidsBalanced(corpus, kCentroids, iters, seed, sampleRate,
        balanceFactor, maxTrainVectors = maxTrainVectors), k, nProbe)

  /** Vector→cell populations of a trained quantizer over the full corpus:
    * `(cell, n)`, whose max/mean is the quantizer's imbalance (a
    * lopsided quantizer makes probe cost skew even when wall time at
    * test scale looks fine). `balanceFactor > 0` routes training through
    * [[trainCentroidsBalanced]], so the balanced path can be compared
    * against the raw one. */
  def ivfCellCounts(corpus: DataFrame, kCentroids: Int = 0, iters: Int = 5,
                    seed: String = "ivf", sampleRate: Double = 1.0,
                    balanceFactor: Double = 0.0,
                    maxTrainVectors: Int = DefaultMaxTrainVectors): DataFrame = {
    val cents =
      if (balanceFactor > 0.0)
        trainCentroidsBalanced(corpus, kCentroids, iters, seed, sampleRate,
          balanceFactor, maxTrainVectors = maxTrainVectors)
      else trainCentroids(corpus, kCentroids, iters, seed, sampleRate,
        maxTrainVectors)
    val (e, cent) = indexFrames(corpus, cents)
    assignCells(e, cent).groupBy(col("cell")).agg(count(lit(1)).as("n"))
  }

  /** Scan-UNIT populations of a balanced index: centroid training with
    * hot-cell splitting, then residual hot cells (the ones splitting
    * cannot fix — a mass-duplicated embedding's cell is 2-means
    * degenerate) SALTED into `ceil(pop / (factor·mean))` sub-units by
    * `pmod(xxhash64(vec_id), nSalts)`. Identical embeddings carry
    * distinct vec_ids, so the salt spreads exactly the mass that
    * splitting cannot. The unit is what a task scans — partition dirs on
    * disk, shuffle partitions in memory — so max(unit)/mean(cell) is the
    * straggler bound `AnnQualityGatesSpec` gates on. Probe COST is unchanged (a
    * probed cell's salts are all read); what the salt buys is that no
    * single task or partition is 10× the others at 100 TB. */
  def ivfScanUnitCounts(corpus: DataFrame, kCentroids: Int = 0,
                        iters: Int = 5, seed: String = "ivf",
                        sampleRate: Double = 1.0,
                        balanceFactor: Double = 3.0,
                        maxTrainVectors: Int = DefaultMaxTrainVectors)
      : DataFrame = {
    require(balanceFactor > 1.0, "balanceFactor must exceed 1")
    val cents = trainCentroidsBalanced(corpus, kCentroids, iters, seed,
      sampleRate, balanceFactor, maxTrainVectors = maxTrainVectors)
    val (e, cent) = indexFrames(corpus, cents)
    val assign = assignCells(e, cent)
    saltAssignments(assign, cents.length, balanceFactor)
      .groupBy(col("cell"), col("salt")).agg(count(lit(1)).as("n"))
  }

  /** `(vec_id, cell)` → `(vec_id, cell, salt)` with per-cell salt counts
    * sized so no (cell, salt) unit exceeds ~`factor ×` the mean cell
    * population. The per-cell population table is O(K) driver rows and
    * broadcasts. */
  private[operators] def saltAssignments(assign: DataFrame, k: Int,
                                         factor: Double): DataFrame = {
    val spark = assign.sparkSession
    import spark.implicits._
    val counts = assign.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val mean = counts.map(_._2).sum.toDouble / math.max(1, k)
    val nSalts = counts.map { case (c, n) =>
      (c, math.max(1L, math.ceil(n / (factor * mean)).toLong)) }.toSeq
    assign.join(broadcast(nSalts.toDF("cell", "_nsalt")), "cell")
      .select(col("vec_id"), col("cell"),
        pmod(xxhash64(col("vec_id")), col("_nsalt")).as("salt"))
  }

  /** SemDeDup (Abbas et al. 2023) — SEMANTIC dedup: cluster the corpus
    * with the TRAINED quantizer ([[trainCentroids]]), generate cosine
    * pairs only WITHIN each cell, connect, keep the min-id survivor per
    * group. The cells are what make it scale: candidate generation drops
    * from O(n²) to O(Σ cell²), and the cells come from the data (k-means)
    * instead of an external label — this is exactly the published
    * SemDeDup recipe (k-means the embeddings, dedup within clusters).
    * Pair generation runs through [[Blocking.boundedCosinePairs]] with
    * `cell` as the blocking label, so a degenerate cell (a
    * mass-duplicated embedding) LSH-sub-buckets past `maxBlock` instead
    * of going quadratic — observed, never silent.
    *
    * @return `(vec_id, n_merged)` — one row per SURVIVOR (min id of its
    *         semantic-duplicate group), with the group size.
    */
  def semanticDedup(corpus: DataFrame, threshold: Double = 0.7,
                    kCentroids: Int = 0, iters: Int = 5,
                    seed: String = "ivf", sampleRate: Double = 1.0,
                    maxBlock: Long = 10000,
                    maxTrainVectors: Int = DefaultMaxTrainVectors): DataFrame =
    semanticDedupFrom(trainedIndex(corpus, kCentroids, iters, seed, sampleRate,
      maxTrainVectors), threshold, maxBlock)

  /** [[semanticDedup]] from DRIVER-HELD centroids — lets the bench time
    * the dedup pass separately from the quantizer training. */
  def semanticDedupWith(corpus: DataFrame, cents: Array[Array[Double]],
                        threshold: Double = 0.7,
                        maxBlock: Long = 10000): DataFrame =
    semanticDedupFrom(indexFrames(corpus, cents), threshold, maxBlock)

  /** TWO-LEVEL SemDeDup — the O(n^{4/3}) batch posture. Single-level
    * SemDeDup is O(n^{3/2}) BY CONSTRUCTION at its optimal K = √n
    * (assignment n·K and within-cell pairs n·(n/K) meet there; any fixed
    * K makes one term worse). This variant buys finer cells without the
    * assignment blowup: a COARSE quantizer of K₁ ≈ n^{1/3} cells, then a
    * FINE quantizer of K₂ ≈ n^{1/3} cells trained on the RESIDUALS
    * x − c₁(x) (the IVF-PQ discipline: residuals concentrate once the
    * coarse level absorbs cluster structure, so one GLOBAL fine
    * quantizer approximates per-cell quantizers without K₁ separate
    * trainings). Dedup blocks = the (coarse, fine) product: ~n^{2/3}
    * composite cells of ~n^{1/3} occupancy — assignment n·(K₁+K₂) and
    * within-cell pairs n·n^{1/3} both land on O(n^{4/3}), a decade
    * ratio of ~10^{4/3} ≈ 21.5 against single-level's 31.6. The price
    * is recall: a near-dup pair must agree on BOTH levels, so each
    * composite boundary splits what a single √n-cell index might keep
    * together — the same dedup-vs-split tradeoff a single-level K=n^{2/3}
    * would have, at 2·n^{1/3} instead of n^{2/3} assignment width.
    * Exact duplicates are immune (the pre-collapse merges them before
    * any cell is consulted). Measured across the sf1→sf10 decade
    * (10 → 100 planted copies): two-level went 25.2 s → 105.8 s (4.2x)
    * where single-level went 14.2 s → 160.7 s (11.3x).
    *
    * MEASURED recall price (planted-twin audit — a twin is recalled iff
    * dedup removed it): at the near point (cosine ≈ 0.9999) both
    * variants recall 1.000 at sf0.1 AND sf1 — near-identical residuals
    * agree on both levels, so the mass-duplicate case pays nothing. At
    * the mid point (heavy multiplicative noise, cosine just above the
    * threshold) two-level recalls MORE than single-level (0.77 vs 0.68
    * at sf0.1; 0.93 vs 0.84 at sf1): the boundary-split cost is real
    * but SMALLER than what it displaces — single-level's √n cells run
    * over `maxBlock` and fall into LSH sub-bucketing, which splits
    * threshold-grade pairs harder than the composite boundary does.
    * DEFAULT POSTURE from this data: prefer two-level for corpora past
    * ~10^5 vectors (asymptotically cheaper AND measured-no-worse recall
    * at both operating points); below that, single-level's one trained
    * model and simpler plan win on constant factors (the r18 timing
    * crossover claim stays retracted — within ±30% run noise). */
  def semanticDedupTwoLevel(corpus: DataFrame, threshold: Double = 0.7,
                            k1: Int = 0, k2: Int = 0, iters: Int = 5,
                            seed: String = "ivf", sampleRate: Double = 1.0,
                            maxBlock: Long = 10000,
                            maxTrainVectors: Int = DefaultMaxTrainVectors)
      : DataFrame = {
    val (cents1, cents2) = semanticDedupTwoLevelTrain(corpus, k1, k2, iters,
      seed, sampleRate, maxTrainVectors)
    semanticDedupTwoLevelWith(corpus, cents1, cents2, threshold, maxBlock)
  }

  /** The two quantizers of [[semanticDedupTwoLevel]] as driver arrays —
    * coarse over the corpus, fine over the residuals x − c₁(x). Split
    * out so the bench can price training separately and the oracle can
    * capture-and-inject both models. */
  def semanticDedupTwoLevelTrain(corpus: DataFrame, k1: Int = 0,
                                 k2: Int = 0, iters: Int = 5,
                                 seed: String = "ivf",
                                 sampleRate: Double = 1.0,
                                 maxTrainVectors: Int = DefaultMaxTrainVectors)
      : (Array[Array[Double]], Array[Array[Double]]) = {
    // auto-K: cbrt(n) PER LEVEL (the composite-occupancy optimum above);
    // like the IVF auto-K this resolves against the CORPUS, never the
    // training sample — a binding train cap must not pin the cell count
    val cbrtN = if (k1 > 0 && k2 > 0) 0 else math.max(2,
      math.round(math.cbrt(corpus.count().toDouble)).toInt)
    val k1e = if (k1 > 0) k1 else cbrtN
    val k2e = if (k2 > 0) k2 else cbrtN
    val cents1 = trainCentroids(corpus, k1e, iters, seed, sampleRate,
      maxTrainVectors)
    val eEmb = spread(corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb")))
    val cents2 = trainCentroids(
      residualFrame(eEmb, cents1)
        .select(col("vec_id"), col("emb").as("embedding")),
      k2e, iters, s"$seed-fine", sampleRate, maxTrainVectors)
    (cents1, cents2)
  }

  /** [[semanticDedupTwoLevel]] from DRIVER-HELD models (the
    * [[semanticDedupWith]] twin): composite (coarse, fine-residual)
    * cells decide the blocking label. */
  def semanticDedupTwoLevelWith(corpus: DataFrame,
                                cents1: Array[Array[Double]],
                                cents2: Array[Array[Double]],
                                threshold: Double = 0.7,
                                maxBlock: Long = 10000): DataFrame = {
    val (e0, _) = indexFrames(corpus, cents1)
    semanticDedupCore(e0, reps => {
      val rres = residualFrame(spread(reps.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))), cents1)
      val (re, cent2f) = indexFrames(
        rres.select(col("vec_id"), col("emb").as("embedding")), cents2)
      rres.select(col("vec_id"), col("cell").as("_c1"))
        .join(assignCells(re, cent2f), "vec_id")
        .select(col("vec_id"),
          (col("_c1") * cents2.length + col("cell")).as("label"))
    }, threshold, maxBlock)
  }

  private def semanticDedupFrom(frames: (DataFrame, DataFrame),
                                threshold: Double,
                                maxBlock: Long): DataFrame = {
    val (e0, cent) = frames
    semanticDedupCore(e0, reps =>
      assignCells(reps, cent)
        .select(col("vec_id"), col("cell").as("label")),
      threshold, maxBlock)
  }

  /** The shared SemDeDup body: exact-duplicate pre-collapse, then
    * `labelOf(representatives) → (vec_id, label)` decides the blocking
    * cells (single-level: nearest trained centroid; two-level: the
    * (coarse, fine-residual) composite), bounded cosine pairs within
    * each label, connected components, min-id survivors over ORIGINAL
    * ids. */
  private def semanticDedupCore(e0: DataFrame,
                                labelOf: DataFrame => DataFrame,
                                threshold: Double,
                                maxBlock: Long): DataFrame = {
    // EXACT-duplicate pre-collapse (the [[NearDup.dedupAgainstReference]]
    // trick, vector edition): identical non-zero embeddings have cosine
    // exactly 1 ≥ any threshold, AND they agree on every LSH sign bit —
    // so a mass-duplicated embedding would defeat the sub-bucket cap and
    // go quadratic inside its cell. Collapse each exact group to its
    // min-id representative BEFORE anything quadratic runs: the result
    // is unchanged, the cost of m copies drops from O(m²) to O(1).
    // Zero-norm vectors stay singletons (their pairwise cosine is
    // DEFINED as 0 here, so the pair path would never merge them).
    //
    // Shuffle shape: NOTHING here keys an exchange on the embedding
    // array. Candidate groups come from xxhash64(embedding) — the rep
    // election shuffles (hash, vec_id) longs, rep vectors join back by
    // 8-byte vec_id, and the one embedding-carrying exchange (members
    // meeting their bucket's rep for the equality proof) is keyed by the
    // 8-byte hash. An array-keyed Exchange would ship the whole column
    // as shuffle KEY twice at 100 TB — and sort-merge compares on it.
    //
    // Hash collisions cannot mislabel: a member is collapsed ONLY when
    // its embedding PROVABLY equals its bucket rep's; a collision victim
    // falls back to representing itself, and its exact copies still
    // merge through the within-cell cosine-1 pairs — correctness never
    // rests on the hash, only the pre-collapse speedup does.
    val withH = e0.select(col("vec_id"), col("embedding"), col("nrm"),
      xxhash64(col("embedding")).as("_h"))
    val repCand = withH.filter(col("nrm") > 0.0)
      .select(col("_h"), col("vec_id"))
      .groupBy(col("_h")).agg(min(col("vec_id")).as("rep"))
    val repVec = repCand.join(
      e0.select(col("vec_id").as("rep"), col("embedding").as("_rep_emb")),
      "rep")
    val repOf = withH.join(repVec, Seq("_h"), "left")
      .select(col("vec_id"),
        when(col("nrm") > 0.0 && col("_rep_emb").isNotNull &&
             col("embedding") === col("_rep_emb"), col("rep"))
          .otherwise(col("vec_id")).as("rep"))
    val reps = e0.join(repOf.filter(col("vec_id") === col("rep"))
      .select(col("vec_id")), "vec_id")
    val labeled = labelOf(reps).join(reps, "vec_id")
      .select(col("vec_id"), col("label"),
        col("embedding"), col("nrm"))
    val pairs = Blocking.boundedCosinePairs(labeled, maxBlock)
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"))
    // components over representatives; every original id then follows its
    // rep into the component, so survivors/counts are over ORIGINAL ids
    val comps = Clustering.connectedComponents(
      reps.select(col("vec_id").as("id")), pairs)
    repOf.join(comps, repOf("rep") === comps("id"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_merged"))
      .select(col("cluster_id").as("vec_id"), col("n_merged"))
  }

  /** IVF — coarse-quantizer cells: `isCentroid` rows partition the corpus
    * (one-time assignment; only id/cell/score triples shuffle), queries
    * probe their `nProbe` nearest cells: O(K + corpus/K·nProbe) per query.
    * Argmax decisions use round(6) + id tiebreak so results are
    * deterministic and oracle-reproducible. */
  def ivfTopK(corpus: DataFrame, isQuery: Column, isCentroid: Column,
              k: Int, nProbe: Int = 2): DataFrame = {
    val e = corpus.select(col("vec_id"), col("embedding"),
      VF.norm2(col("embedding")).as("nrm"))
    val cent = e.filter(isCentroid)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        col("nrm").as("c_nrm"))
    ivfTopKFrom(e, isQuery, cent, k, nProbe)
  }

  /** Nearest-cell assignment `(vec_id, cell)` against a (c_id, c_vec,
    * c_nrm) centroid table — as an AGGREGATE (the [[nearestCellAgg]]
    * shape): min over (−round-6 score, c_id), map-side partials, so the
    * shuffle carries ONE row per vector instead of K ranked candidates.
    * (The previous window form shuffled AND sorted corpus×K rows into
    * per-vector partitions — a corpus-sized sort that exists nowhere in
    * the semantics.) Same round(6)-desc, c_id-asc argmax as everywhere. */
  private def assignCells(e: DataFrame, cent: DataFrame): DataFrame =
    e.join(broadcast(cent))
      .select(col("vec_id"), col("c_id"),
        round(VF.cosineWithNorms(
          VF.dot(col("embedding"), col("c_vec")), col("nrm"), col("c_nrm")), 6)
          .as("cscore"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("cscore")).as("neg"), col("c_id").as("cell")))
        .as("b"))
      .select(col("vec_id"), col("b.cell").as("cell"))

  private def ivfTopKFrom(e: DataFrame, isQuery: Column, cent: DataFrame,
                          k: Int, nProbe: Int): DataFrame = {
    val assigned = assignCells(e, cent).join(e, "vec_id")
    // probe ranking runs on the QUERY slice only — the window is over
    // queries×K rows (broadcast-sized), never the corpus
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cscore").desc, col("c_id"))
    val qprobe = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("nrm").as("q_nrm"))
      .join(broadcast(cent))
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("c_id"),
        round(VF.cosineWithNorms(
          VF.dot(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm")), 6)
          .as("cscore"))
      .withColumn("crk", row_number().over(wProbe))
      .filter(col("crk") <= nProbe)
      .select(col("q_id"), col("c_id").as("cell"), col("q_vec"),
        col("q_nrm"))
    val cand = assigned.join(broadcast(qprobe), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(VF.cosineWithNorms(
          VF.dot(col("q_vec"), col("embedding")), col("q_nrm"), col("nrm")), 6)
          .as("cosine"))
    rank(cand, k)
  }

  /** Materialize the IVF index ON DISK: every vector assigned to its
    * nearest centroid cell, written parquet PARTITIONED BY cell (plus the
    * small centroid table beside it). This is the piece that makes IVF
    * pay at 100 TB: [[ivfIndexTopK]]'s cell filter becomes a PARTITION
    * prune, so a query scans nProbe/K of the files — the un-probed cells'
    * parquet is never opened, instead of "read everything and filter".
    * Assignment is the same round(6)+id-tiebreak argmax as [[ivfTopK]],
    * so the on-disk index answers queries identically to the in-memory
    * path. */
  def ivfIndexWrite(corpus: DataFrame, isCentroid: Column, path: String): Unit = {
    val e = corpus.select(col("vec_id"), col("embedding"),
      VF.norm2(col("embedding")).as("nrm"))
    val cent = e.filter(isCentroid)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        col("nrm").as("c_nrm"))
    ivfIndexWriteFrom(e, cent, path)
  }

  /** [[ivfIndexWrite]] with a TRAINED quantizer ([[trainCentroids]]) — the
    * 100 TB index build: k-means cells sized to the data distribution
    * instead of K arbitrary member rows, same partition-pruned on-disk
    * layout, same [[ivfIndexTopK]] on the query side. */
  def ivfIndexWriteTrained(corpus: DataFrame, path: String,
                           kCentroids: Int = 0, iters: Int = 5,
                           seed: String = "ivf",
                           sampleRate: Double = 1.0,
                           balanceFactor: Double = 0.0,
                           maxTrainVectors: Int = DefaultMaxTrainVectors): Unit =
    if (balanceFactor <= 0.0) {
      val (e, cent) = trainedIndex(corpus, kCentroids, iters, seed, sampleRate,
        maxTrainVectors)
      ivfIndexWriteFrom(e, cent, path)
    } else {
      // BALANCED on-disk layout: hot cells split by 2-means where
      // separable, salted where not — partition dirs become (cell, salt)
      // units bounded by ~factor·mean, so no partition at 100 TB is 10×
      // the others. [[ivfIndexTopK]] prunes on the `cell` prefix and is
      // oblivious to the salt sub-dirs.
      val cents = trainCentroidsBalanced(corpus, kCentroids, iters, seed,
        sampleRate, balanceFactor, maxTrainVectors = maxTrainVectors)
      val (e, cent) = indexFrames(corpus, cents)
      val salted = saltAssignments(assignCells(e, cent), cents.length,
        balanceFactor)
      Jobs.parallel(
        () => salted.join(e, "vec_id")
          .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"),
            col("salt"))
          .write.mode("overwrite").partitionBy("cell", "salt")
          .parquet(s"$path/cells"),
        () => cent.write.mode("overwrite").parquet(s"$path/centroids"))
    }

  private def ivfIndexWriteFrom(e: DataFrame, cent: DataFrame,
                                path: String): Unit = {
    val assigned = assignCells(e, cent).join(e, "vec_id")
    Jobs.parallel(
      () => assigned
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells"),
      () => cent.write.mode("overwrite").parquet(s"$path/centroids"))
  }

  /** INCREMENTAL index maintenance — the daily-arrival path: new vectors
    * are assigned against the index's FROZEN centroid table (read back
    * from `path/centroids`; no retraining, the quantizer is the index's
    * identity) and appended into the cell-partitioned layout. Because
    * assignment is the same round(6)+id-tiebreak argmax as the build,
    * an index built on day-0 data and appended with day-1 data holds
    * BIT-IDENTICAL contents to a single-shot build of day-0 ∪ day-1
    * with the same centroids — [[ivfIndexTopK]] cannot tell the
    * difference (the `ann_ivf_append` oracle pins exactly this). Cost
    * per batch: one broadcast-assign pass over the NEW vectors only +
    * an append write; the existing index files are never read or
    * rewritten. Cells drifting hot as the distribution shifts is the
    * retrain signal — watch cell populations, not this code path.
    * Salted (balanced) layouts are rejected: their scan-unit bounds are
    * sized from the build-time distribution, and silently appending into
    * salt 0 would undo them. */
  def ivfIndexAppend(newVectors: DataFrame, path: String): Unit = {
    val spark = newVectors.sparkSession
    val layout = spark.read.parquet(s"$path/cells").schema
    require(!layout.fieldNames.contains("salt"),
      s"index at $path has a salted (balanced) layout — appends would " +
      "bypass its scan-unit bounds; rebuild with ivfIndexWriteTrained " +
      "or append to an unsalted index")
    val cent = spark.read.parquet(s"$path/centroids")
    // match the stored embedding type exactly (trained indexes store
    // array<double>, predicate-centroid ones whatever the corpus had):
    // the appended files must be schema-identical to the built ones
    val embType = layout("embedding").dataType
    val e = newVectors.select(col("vec_id"),
        col("embedding").cast(embType).as("embedding"))
      .withColumn("nrm", VF.norm2(col("embedding")))
    assignCells(e, cent).join(e, "vec_id")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Query a [[ivfIndexWrite]] index: probe cells are decided against the
    * broadcast centroid table, the O(queries·nProbe) probed-cell id set is
    * collected (tiny, by construction), and the cells scan is filtered by
    * that LITERAL list — which Spark turns into partition pruning, the
    * point of the on-disk layout. Query vectors need not be index members
    * (self-matches are excluded by id). Emits `(q_id, n_id, cosine, rk)`
    * like every other variant. */
  def ivfIndexTopK(queries: DataFrame, path: String, k: Int,
                   nProbe: Int = 2): DataFrame =
    // pin = false: the one-shot path leaves no cache entry behind (the
    // caller never gets a handle to close)
    ivfIndexTopKServe(queries,
      ivfServing(queries.sparkSession, path, pin = false), k, nProbe)

  /** Pre-opened SERVING handle for [[ivfIndexTopK]] — the warm state a
    * serving loop (an all-day query stream against a nightly index) holds
    * across batches: the broadcast-sized centroid table pinned in cache
    * and ONE pinned-schema cells relation, so the file listing and the
    * footer schema read happen once per index open instead of once per
    * micro-batch. [[ivfIndexTopKServe]] with this handle returns rows
    * identical to a fresh [[ivfIndexTopK]] call (same files, same plan
    * below the scan) — only the per-batch open cost moves out of the
    * loop. Call [[IvfServingHandle.close]] when the loop ends. */
  final case class IvfServingHandle(cent: DataFrame, cells: DataFrame) {
    def close(): Unit = { cent.unpersist(); () }
  }

  def ivfServing(spark: org.apache.spark.sql.SparkSession,
                 path: String, pin: Boolean = true): IvfServingHandle = {
    val cent0 = spark.read.parquet(s"$path/centroids")
    val cent = if (pin) cent0.persist() else cent0
    // pin the inferred partition column `cell` to LONG at the source —
    // same discipline (and reasons) as the per-call path below
    val inferred = spark.read.parquet(s"$path/cells").schema
    val pinned = org.apache.spark.sql.types.StructType(inferred.map(f =>
      if (f.name == "cell")
        f.copy(dataType = org.apache.spark.sql.types.LongType)
      else f))
    IvfServingHandle(cent, spark.read.schema(pinned).parquet(s"$path/cells"))
  }

  /** [[ivfIndexTopK]] against a pre-opened [[IvfServingHandle]]. */
  def ivfIndexTopKServe(queries: DataFrame, handle: IvfServingHandle,
                        k: Int, nProbe: Int = 2): DataFrame = {
    val cent = handle.cent
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
      VF.norm2(col("embedding")).as("q_nrm"))
    val qscored = q.join(broadcast(cent))
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("c_id"),
        round(VF.cosineWithNorms(
          VF.dot(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm")), 6)
          .as("cscore"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cscore").desc, col("c_id"))
    val probes = qscored.withColumn("crk", row_number().over(wProbe))
      .filter(col("crk") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("c_id").as("cell"))
    // O(queries·nProbe) longs to the driver — makes the cell predicate a
    // literal IN-list the parquet source prunes partitions with
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    // handle.cells carries the LongType-pinned schema (see [[ivfServing]]:
    // type inference yields IntegerType when the ids happen to fit an
    // int, and the join keys / IN-list literals are LongType — pruning
    // must never ride an implicit up-cast)
    val idx = handle.cells
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
    val scored = idx.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(VF.cosineWithNorms(
          VF.dot(col("q_vec"), col("embedding")), col("q_nrm"), col("nrm")), 6)
          .as("cosine"))
    rank(scored, k)
  }

  // ------------------------------------------------------ product quantization

  /** Train PRODUCT-QUANTIZATION codebooks (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the embedding
    * splits into `subspaces` contiguous sub-vectors and each subspace learns
    * its own `codes`-entry codebook by squared-L2 k-means, so a vector
    * compresses to `subspaces` small codes — at 64 dims / 8 subspaces the
    * DEFAULT 256 codes (the FAISS-standard PQx8 budget) is 8 bytes
    * against 256 float bytes, a 32× cut in what the scoring pass holds
    * per corpus vector, while the codebook cross-product spans
    * `codes^subspaces` distinct reconstructions (256^8 ≈ 2·10^19). The
    * default was 16 codes (4-bit) through round 10 — max compression, but
    * a measured recall@10 floor of 0.04-0.16 on the bench corpus vs
    * 0.21-0.40 at 8-bit for similar cost; callers wanting the 4-bit
    * budget pass `codes = 16` explicitly (the oracle queries do, keeping
    * the nibble-path math verified).
    *
    * All subspaces train JOINTLY in one Lloyd loop: the sample explodes once
    * to `(vec_id, m, sub)` rows and every iteration is ONE broadcast join +
    * ONE (m, code, pos)-keyed aggregation — running `subspaces` separate
    * k-means loops would multiply the number of Spark actions by M for
    * identical math. The [[trainCentroids]] reproducibility discipline
    * carries over: seeded-hash init (the `codes` sample vectors with the
    * smallest md5, each contributing its m-th slice to subspace m),
    * round-6 squared-L2 assignment with code-id tiebreak, elementwise
    * DECIMAL(38,12) member sums, and the k-means MEAN division rounds
    * HALF_UP to 6 on the driver — bit-identical codebooks across runs and
    * partitionings, which is what lets the oracle verify ENCODE + ADC from
    * injected literals. Driver traffic per iteration:
    * `subspaces·codes·dsub` decimal sums — the model, never the data.
    *
    * @return codebooks as `[subspace][code][dsub]`, init-order cells. */
  def trainPqCodebooks(corpus: DataFrame, subspaces: Int = 8,
                       codes: Int = 256,
                       iters: Int = 4, seed: String = "pq",
                       sampleRate: Double = 1.0,
                       maxTrainVectors: Int = DefaultMaxTrainVectors,
                       localTrain: Boolean = true,
                       maxTrainBytes: Long = DefaultMaxTrainBytes)
      : Array[Array[Array[Double]]] = {
    require(iters >= 1, "need at least one Lloyd iteration")
    require(subspaces >= 1 && codes >= 2, "need >= 1 subspaces and >= 2 codes")
    if (localTrain && maxTrainVectors > 0)
      return pqLocal(collectSample(corpus, sampleRate, maxTrainVectors, seed,
        maxTrainBytes), subspaces, codes, iters, seed)
    val base = sampleFrame(corpus, sampleRate, maxTrainVectors, seed,
      maxTrainBytes = maxTrainBytes).persist()
    try {
      val dims = base.select(size(col("emb"))).head.getInt(0)
      require(dims % subspaces == 0,
        s"dims $dims not divisible into $subspaces subspaces")
      val dsub = dims / subspaces
      val sub = subvectorFrame(base, subspaces, dsub).persist()
      try {
        val initVecs = base.select(col("emb"),
            md5(concat(lit(s"${seed}_"), col("vec_id").cast("string"))).as("hk"),
            col("vec_id"))
          .orderBy(col("hk"), col("vec_id")).limit(codes)
          .select(col("emb")).collect()
          .map(_.getSeq[Double](0).toArray)
        require(initVecs.length == codes,
          s"training sample has fewer than $codes vectors")
        var cb: Array[Array[Array[Double]]] =
          Array.tabulate(subspaces, codes)((m, j) =>
            initVecs(j).slice(m * dsub, (m + 1) * dsub))
        for (_ <- 0 until iters) {
          val sums = pqAssign(sub, codebookFrame(base.sparkSession, cb))
            .join(sub, Seq("vec_id", "m"))
            .select(col("m"), col("code"), posexplode(col("sub")))
            .groupBy(col("m"), col("code"), col("pos"))
            .agg(sum(col("col")
                .cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("s"),
              count(lit(1)).as("n"))
            .collect() // O(subspaces·codes·dsub) rows — model-sized
          val next = cb.map(_.map(_.clone())) // empty codes keep their entry
          sums.groupBy(r => (r.getInt(0), r.getInt(1))).foreach {
            case ((m, j), rows) =>
              val v = next(m)(j)
              rows.foreach { r =>
                // null sum = every member non-finite at this position
                // (cast-nulled): 0/n, matching the local twin's ZERO acc
                v(r.getInt(2)) =
                  if (r.isNullAt(3)) 0.0
                  else (BigDecimal(r.getDecimal(3)) / r.getLong(4))
                    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              }
          }
          cb = next
        }
        cb
      } finally sub.unpersist()
    } finally base.unpersist()
  }

  /** Local twin of [[trainPqCodebooks]]'s joint Lloyd loop: same init
    * draw, same packed (round-6 micro-d2, code) argmin with the same
    * overflow guard, same DECIMAL sums and HALF_UP round-6 mean
    * division. */
  private def pqLocal(s: LocalSample, subspaces: Int, codes: Int,
                      iters: Int, seed: String): Array[Array[Array[Double]]] = {
    val dims = if (s.n > 0) s.embs(0).length
               else throw new IllegalArgumentException("empty training sample")
    require(dims % subspaces == 0,
      s"dims $dims not divisible into $subspaces subspaces")
    val dsub = dims / subspaces
    val initVecs = initLocal(s, codes, seed)
    require(initVecs.length == codes,
      s"training sample has fewer than $codes vectors")
    var cb: Array[Array[Array[Double]]] =
      Array.tabulate(subspaces, codes)((m, j) =>
        initVecs(j).slice(m * dsub, (m + 1) * dsub))
    // any distance at or past this raw screen gets the exact micro-key
    // overflow check (the distributed guard fires on EVERY candidate
    // row, so an overflowing loser must still fail loudly)
    val overflowScreen = (MaxPackableD2Micro - 2L).toDouble / 1e6
    def micro(d2: Double): Long = {
      val d2m = LT.round(LT.round(d2, 6) * 1000000.0, 0).toLong
      if (d2m > MaxPackableD2Micro)
        throw new IllegalStateException(
          s"pqAssign: sub-vector squared L2 overflows the packed " +
          s"argmin key (d2_micro=$d2m, max $MaxPackableD2Micro); " +
          "normalize or rescale the embeddings")
      d2m
    }
    val d2s = new Array[Double](codes)
    for (_ <- 0 until iters) {
      // sums(m)(j) = (elementwise decimal sums, member count)
      val sums = Array.fill(subspaces, codes)(
        null: (Array[java.math.BigDecimal], Long))
      var i = 0
      while (i < s.n) {
        val e = s.embs(i)
        var m = 0
        while (m < subspaces) {
          val off = m * dsub
          // TWO-PASS argmin (see assignLocal): raw double min first,
          // exact micro keys only inside the 2e-6 rounding window —
          // identical selection, none of the per-code BigDecimal cost
          var rawMin = java.lang.Double.POSITIVE_INFINITY
          var j = 0
          while (j < codes) {
            val cv = cb(m)(j)
            var d2 = 0.0
            var d = 0
            while (d < dsub) {
              val diff = e(off + d) - cv(d); d2 += diff * diff; d += 1
            }
            d2s(j) = d2
            if (d2 < rawMin) rawMin = d2
            if (d2 >= overflowScreen) micro(d2) // loud-failure parity
            j += 1
          }
          var bestKey = Long.MaxValue
          var bestCode = -1
          j = 0
          while (j < codes) {
            if (d2s(j) <= rawMin + 2e-6) {
              val key = micro(d2s(j)) * 1048576L + j
              if (key < bestKey) { bestKey = key; bestCode = j }
            }
            j += 1
          }
          if (bestCode < 0) { // all-NaN row: exact keys for every code
            j = 0
            while (j < codes) {
              val key = micro(d2s(j)) * 1048576L + j
              if (key < bestKey) { bestKey = key; bestCode = j }
              j += 1
            }
          }
          val cur = sums(m)(bestCode)
          val acc = if (cur == null) {
            val a = (Array.fill(dsub)(java.math.BigDecimal.ZERO), 0L)
            a
          } else cur
          var d = 0
          while (d < dsub) {
            acc._1(d) = LT.dec12Add(acc._1(d), e(off + d)); d += 1
          }
          sums(m)(bestCode) = (acc._1, acc._2 + 1L)
          m += 1
        }
        i += 1
      }
      val next = cb.map(_.map(_.clone())) // empty codes keep their entry
      var m = 0
      while (m < subspaces) {
        var j = 0
        while (j < codes) {
          val cell = sums(m)(j)
          if (cell != null) {
            val v = next(m)(j)
            var d = 0
            while (d < dsub) {
              v(d) = (scala.math.BigDecimal(cell._1(d)) / cell._2)
                .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
                .toDouble
              d += 1
            }
          }
          j += 1
        }
        m += 1
      }
      cb = next
    }
    cb
  }

  /** `(vec_id, m, sub)` — each vector's `subspaces` contiguous slices. */
  private def subvectorFrame(base: DataFrame, subspaces: Int,
                             dsub: Int): DataFrame =
    base.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${subspaces - 1}), " +
        s"m -> slice(emb, m * $dsub + 1, $dsub))")))
      .select(col("vec_id"), col("pos").as("m"), col("col").as("sub"))

  /** `(m, code, c_vec)` from driver-held codebooks — always broadcast-sized
    * (`subspaces·codes` rows) by construction. */
  private def codebookFrame(spark: org.apache.spark.sql.SparkSession,
                            cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (cbm, m) =>
      cbm.zipWithIndex.map { case (v, j) => (m, j, v.toSeq) }
    }.toSeq.toDF("m", "code", "c_vec")
  }

  /** Largest packable 6dp-micro distance: (2⁶³−1) div 2²⁰, minus one so
    * `d2m·2²⁰ + code` (code < 2²⁰) can never reach the sign bit. */
  private val MaxPackableD2Micro = (Long.MaxValue >> 20) - 1L

  /** The packed `(d2, code)` argmin key with the overflow guard inlined:
    * round-6 → micro-units → range-check (raise_error keeps the whole
    * expression inside WholeStageCodegen; the branch is one predicted-
    * not-taken compare per row) → shift-and-or the code. */
  private def pqPackedKey(d2: Column, code: Column): Column = {
    val d2m = round(round(d2, 6) * lit(1000000.0)).cast("long")
    when(d2m > lit(MaxPackableD2Micro), raise_error(concat(
        lit("pqAssign: sub-vector squared L2 overflows the packed argmin " +
          "key (d2_micro="), d2m.cast("string"),
        lit(s", max $MaxPackableD2Micro); normalize or rescale the " +
          "embeddings"))))
      .otherwise(d2m * lit(1048576L) + code)
  }

  /** Nearest-code argmin per (vector, subspace) as an AGGREGATE — the
    * [[nearestCellAgg]] shape: min over (round-6 squared L2, code), only
    * `(vec_id, m, code)` triples survive the map-side combine. The
    * distance is the codegen'd [[graft.functions.ArraySquaredL2]] (the
    * identical left-to-right `acc += (x−y)²` fold as the interpreted
    * `aggregate(zip_with(...))` it replaces — distances and the code-id
    * tie-break are bit-for-bit unchanged), so the whole assign stage
    * lives inside WholeStageCodegen: at the 8-bit default the
    * interpreted form was the entire cost of `ann_pq_train` and the
    * encode half of `ann_pq_query`. */
  private def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"),
        // (d2, code) packed into ONE orderable LONG so the argmin is a
        // codegen'd min(long) instead of min(struct) — struct min falls
        // back to interpreted row comparisons, which at 256 codes was a
        // measurable slice of every Lloyd iteration and encode pass.
        // The 6dp rounding happens FIRST (the exact value the oracle
        // replays); that double then sits within ~2e-6 of the integer
        // d2·10⁶ (ulp(1e4)·10⁶), so the outer half-up round recovers it
        // EXACTLY — identical ordering and code-id tie-break as the
        // struct form, bit-for-bit the same assignment. Key fits a long:
        // d2·10⁶ ≤ ~10¹⁰ for any realistic sub-vector, ×2²⁰ ≪ 2⁶³ — and
        // that bound is ENFORCED, not assumed: a sub-vector with squared
        // L2 above (2⁶³−1)/2²⁰ · 10⁻⁶ ≈ 8.8e6 (huge unnormalized
        // features) would silently wrap the multiply negative and min()
        // would pick a corrupt assignment, so the guard fails loudly
        // instead (normalize or scale the embeddings, or shrink dsub).
        pqPackedKey(graft.functions.ArraySquaredL2(col("sub"), col("c_vec")),
          col("code")).as("k"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("k")).as("k"))
      .select(col("vec_id"), col("m"),
        (col("k") % 1048576L).cast("int").as("code"))

  /** PQ-compressed ANN with ASYMMETRIC DISTANCE COMPUTATION against
    * pre-trained codebooks: the corpus is ENCODED (per-subspace nearest
    * code — after this the scoring pass never touches a corpus float), each
    * query precomputes a lookup table `LUT[m][code] = (q_m · c, |c|²)` over
    * every codebook entry, and a candidate's cosine against the query is
    * scored from its codes alone —
    * `cos ≈ Σ_m dot[m][code_m] / (|q| · sqrt(Σ_m n2[m][code_m]))`, the
    * reconstruction cosine, exactly decomposable per subspace because the
    * subspaces partition the dimensions.
    *
    * Scale shape: the LUT is `queries·subspaces·codes` rows — broadcast,
    * like every query-side structure here; the corpus side shuffles only
    * `(vec_id, m, code)` triples (no embedding ever rides the candidate
    * stream); LUT entries round to 6 and sum in DECIMAL, so each pair's
    * score is order-independent and the oracle can replay it exactly.
    * Approximation cost vs exact cosine is priced in the bench as
    * `recall_at_10["ann_pq"]`. */
  def pqTopKFromCodebooks(corpus: DataFrame, isQuery: Column,
                          cb: Array[Array[Array[Double]]],
                          k: Int): DataFrame = {
    require(cb.nonEmpty && cb(0).nonEmpty, "empty codebooks")
    val spark = corpus.sparkSession
    val subspaces = cb.length
    val dsub = cb(0)(0).length
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    // spread(): the encode pass fans each vector into subspaces·codes
    // distance rows — a single-split source serializes all of it onto one
    // core (see [[spread]]); a no-op for wide sources
    val e = spread(corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"), isQuery.as("_q")))
    val enc = pqAssign(subvectorFrame(e, subspaces, dsub),
      codebookFrame(spark, cb))
    val q = e.filter(col("_q")).select(col("vec_id").as("q_id"),
      col("emb").as("q_vec"), VF.norm2(col("emb")).as("q_nrm"))
    val lut = q.crossJoin(codebookFrame(spark, cb))
      .select(col("q_id"), col("q_nrm"), col("m"), col("code"),
        round(VF.dot(expr(s"slice(q_vec, m * $dsub + 1, $dsub)"),
          col("c_vec")), 6).cast(dec6).as("dotm"),
        round(VF.dot(col("c_vec"), col("c_vec")), 6).cast(dec6).as("n2m"))
    val scored = enc.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("q_nrm")).as("q_nrm"),
        sum(col("dotm")).as("dt"), sum(col("n2m")).as("rn2"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        when(col("q_nrm") === 0.0 || col("rn2") <= 0.0, lit(0.0))
          .otherwise(round(col("dt").cast("double") /
            (col("q_nrm") * sqrt(col("rn2").cast("double"))), 6))
          .as("cosine"))
    rank(scored, k)
  }

  /** Persist trained PQ codebooks as a parquet MODEL STORE — the
    * train-once/serve-later shape: the nightly training job writes the
    * model beside the index; serving jobs (and tomorrow's append) load
    * it without retraining. Rows are `(m, code, c_vec)` — model-sized
    * (subspaces·codes), never data-sized. */
  def pqCodebooksWrite(cb: Array[Array[Array[Double]]], path: String,
                       spark: org.apache.spark.sql.SparkSession): Unit =
    codebookFrame(spark, cb).write.mode("overwrite").parquet(path)

  /** Load a [[pqCodebooksWrite]] store back into the driver-held model —
    * bit-identical to what was written (doubles ride parquet losslessly).
    * Fails loudly on a sparse store (missing (m, code) cells would make
    * encode silently disagree with the training run). */
  def pqCodebooksRead(spark: org.apache.spark.sql.SparkSession,
                      path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(path)
      .select(col("m"), col("code"), col("c_vec"))
      .collect() // model-sized
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, s"empty PQ codebook store at $path")
    val subspaces = rows.map(_._1).max + 1
    val codes = rows.map(_._2).max + 1
    require(rows.length == subspaces * codes,
      s"sparse PQ codebook store at $path: ${rows.length} rows for " +
        s"$subspaces x $codes cells")
    val cb = Array.ofDim[Array[Double]](subspaces, codes)
    rows.foreach { case (m, j, v) => cb(m)(j) = v }
    cb
  }

  /** Persist a trained IVF-PQ model (coarse centroids + residual
    * codebooks) as one parquet store — completes the train-once/serve-
    * later family next to [[pqCodebooksWrite]] and the on-disk IVF index:
    * nightly training writes `cents/` + `codebooks/`, serving loads both
    * and answers through [[ivfPqTopKFrom]] with zero retraining. */
  def ivfPqModelWrite(model: (Array[Array[Double]], Array[Array[Array[Double]]]),
                      path: String,
                      spark: org.apache.spark.sql.SparkSession): Unit = {
    centroidFrame(spark, model._1).select(col("cell"), col("c_vec"))
      .write.mode("overwrite").parquet(s"$path/cents")
    pqCodebooksWrite(model._2, s"$path/codebooks", spark)
  }

  /** Load an [[ivfPqModelWrite]] store — bit-identical models, loud
    * failure on a sparse centroid table (a missing cell renumbers every
    * later cell and silently reassigns the corpus). */
  def ivfPqModelRead(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val rows = spark.read.parquet(s"$path/cents")
      .select(col("cell"), col("c_vec"))
      .collect() // model-sized
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(rows.nonEmpty, s"empty IVF-PQ centroid store at $path/cents")
    val k = rows.map(_._1).max + 1
    require(rows.length == k && rows.map(_._1).distinct.length == rows.length,
      s"sparse IVF-PQ centroid store at $path/cents: ${rows.length} rows " +
        s"for $k cells")
    val cents = Array.ofDim[Array[Double]](k.toInt)
    rows.foreach { case (i, v) => cents(i.toInt) = v }
    (cents, pqCodebooksRead(spark, s"$path/codebooks"))
  }

  /** [[trainPqCodebooks]] then [[pqTopKFromCodebooks]] — the one-call PQ
    * search (the `ann_topk` section's `pq` variant). */
  def pqTopK(corpus: DataFrame, isQuery: Column, k: Int, subspaces: Int = 8,
             codes: Int = 256, iters: Int = 4, seed: String = "pq",
             sampleRate: Double = 1.0,
             maxTrainVectors: Int = DefaultMaxTrainVectors): DataFrame =
    pqTopKFromCodebooks(corpus, isQuery,
      trainPqCodebooks(corpus, subspaces, codes, iters, seed, sampleRate,
        maxTrainVectors), k)

  // ------------------------------------------------------------ IVF-PQ

  /** `(vec_id, cell, emb)` where emb is the RESIDUAL x − c_assigned: every
    * vector assigned to its nearest coarse cell (the IVF round-6 cosine /
    * cell-tiebreak rule), centroid broadcast back and subtracted. */
  private def residualFrame(e: DataFrame,
                            cents: Array[Array[Double]]): DataFrame = {
    val cent = centroidFrame(e.sparkSession, cents)
    nearestCellAgg(e, cent).join(e, "vec_id")
      .join(broadcast(cent.select(col("cell"), col("c_vec"))), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        expr("zip_with(emb, c_vec, (x, y) -> x - y)").as("emb"))
  }

  /** Train the full IVF-PQ index (the FAISS `IVFx,PQy` shape): coarse
    * spherical-k-means centroids ([[trainCentroids]]), then PQ codebooks
    * over the RESIDUALS x − c(x) ([[trainPqCodebooks]] on the residual
    * frame) — residuals concentrate around 0 once the coarse quantizer
    * absorbs cluster structure, so the same code budget reconstructs far
    * more faithfully than raw-vector PQ. Both models are driver-held,
    * deterministic, and together fully determine the index — which is what
    * the injected-model oracle checks serving against. */
  def ivfPqTrain(corpus: DataFrame, kCentroids: Int = 16, subspaces: Int = 8,
                 codes: Int = 256, centIters: Int = 5, pqIters: Int = 4,
                 seed: String = "ivf", pqSeed: String = "pq",
                 sampleRate: Double = 1.0,
                 maxTrainVectors: Int = DefaultMaxTrainVectors,
                 localTrain: Boolean = true,
                 maxTrainBytes: Long = DefaultMaxTrainBytes)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cents = trainCentroids(corpus, kCentroids, centIters, seed, sampleRate,
      maxTrainVectors, localTrain, maxTrainBytes)
    if (localTrain && maxTrainVectors > 0) {
      // the LOCAL residual path: the pqSeed-capped sample collects once,
      // residuals x − c(x) are computed in place (same round-6 cosine
      // argmax as residualFrame, same elementwise subtraction), and the
      // codebooks train locally — the inner sampling stays disabled
      // exactly as in the distributed branch below.
      val s = collectSample(corpus, sampleRate, maxTrainVectors, pqSeed,
        maxTrainBytes)
      val cells = assignLocal(s, cents)
      val res = LocalSample(s.ids, Array.tabulate(s.n) { i =>
        val e = s.embs(i); val c = cents(cells(i))
        Array.tabulate(e.length)(d => e(d) - c(d))
      })
      return (cents, pqLocal(res, subspaces, codes, pqIters, pqSeed))
    }
    // residuals are only needed for TRAINING here, so the rate draw AND
    // the cap both apply BEFORE the residual subtraction: computing
    // x − c(x) over the full corpus to then train on a 65k sample would
    // be an O(corpus·K) pass spent on vectors the trainer immediately
    // drops. The sample PERSISTS across its two uses inside
    // residualFrame (assignment, then the subtraction join), and the
    // inner trainer's own sampling is disabled (rate 1.0, cap 0) — the
    // selection already happened here, by the same rate hash and the
    // same pqSeed cap hash, so the trained codebooks are identical to
    // sampling on the residual side while the TakeOrdered runs once
    // over vectors, never over the residual lineage.
    val e = sampleFrame(corpus, sampleRate, maxTrainVectors, pqSeed,
      maxTrainBytes = maxTrainBytes).persist()
    try {
      val res = residualFrame(e, cents)
        .select(col("vec_id"), col("emb").as("embedding"))
      (cents, trainPqCodebooks(res, subspaces, codes, pqIters, pqSeed,
        1.0, 0))
    } finally e.unpersist()
  }

  /** IVF-PQ serving: probe `nProbe` coarse cells, score ONLY their members,
    * each from its `subspaces` residual codes (no corpus float is touched
    * after encode). The reconstruction is `c_cell + decode(codes)`, and its
    * cosine against the query decomposes into broadcast-sized lookups:
    *
    *   dot(q, recon)  = dot(q, c)  + Σ_m dot(q_m, cv[m][j_m])
    *   |recon|²       = |c|²       + Σ_m (2·dot(c_m, cv[m][j_m]) + |cv[m][j_m]|²)
    *
    * — the query-side terms are per-(q, cell) / per-(q, m, code) LUTs
    * (broadcast), and the cell-cross terms are per-(cell, m, code) scalars
    * computed on the DRIVER from the two held models (K·M·codes rows,
    * injected as a literal frame). Every per-m term rounds to 6 and sums in
    * DECIMAL: order-independent, replayable in SQL. Scale shape: the
    * candidate stream carries `(vec_id, cell, m, code)` — at 1000 executors
    * the scoring shuffle is narrow integer triples gated by the probe
    * filter, exactly the plan IVF-PQ exists to produce. */
  def ivfPqTopKFrom(corpus: DataFrame, isQuery: Column,
                    cents: Array[Array[Double]],
                    cb: Array[Array[Array[Double]]],
                    k: Int, nProbe: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    val subspaces = cb.length
    val dsub = cb(0)(0).length
    // spread(): same single-split hazard as [[pqTopKFromCodebooks]] — the
    // residual encode is the expensive map stage here
    val e = spread(corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb")))
    // the residual subtree feeds TWO branches (the subspace encode and the
    // vec->cell map); materialize it once — localCheckpoint, not persist,
    // so the serving plan starts from the materialized RDD instead of
    // replaying assignment+subtraction per branch (the bpeTrain
    // discipline; blocks are reclaimed when the frame is dereferenced)
    val res = residualFrame(e, cents).localCheckpoint(true)
    val enc = pqAssign(subvectorFrame(res, subspaces, dsub),
        codebookFrame(spark, cb))
      .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val q = e.filter(isQuery).select(col("vec_id").as("q_id"),
      col("emb").as("q_vec"), VF.norm2(col("emb")).as("q_nrm"))
    ivfPqAdcScore(enc, q, ivfPqProbes(q, cents, nProbe), cents, cb, k)
  }

  /** The IVF-PQ probe set: the `nProbe` nearest cells per query (round-6
    * cosine, cell tiebreak — the IVF probe rule), carrying dot(q, c) for
    * the ADC decomposition. */
  private def ivfPqProbes(q: DataFrame, cents: Array[Array[Double]],
                          nProbe: Int): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val cent = centroidFrame(q.sparkSession, cents)
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cscore").desc, col("cell"))
    q.crossJoin(broadcast(cent))
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("cell"),
        round(VF.cosineWithNorms(VF.dot(col("q_vec"), col("c_vec")),
          col("q_nrm"), col("c_nrm")), 6).as("cscore"),
        round(VF.dot(col("q_vec"), col("c_vec")), 6).cast(dec6).as("qc"))
      .withColumn("crk", row_number().over(wProbe))
      .filter(col("crk") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("cell"), col("qc"))
  }

  /** The ADC scoring tail shared by the in-memory ([[ivfPqTopKFrom]]) and
    * on-disk ([[ivfPqIndexTopK]]) IVF-PQ paths: per-(q, m, code) residual
    * LUT + driver-computed cell-cross terms + the DECIMAL reconstruction
    * sums, ranked to top-k. `enc` carries `(vec_id, cell, m, code)` —
    * whether freshly encoded or read back from a persisted index. */
  private def ivfPqAdcScore(enc: DataFrame, q: DataFrame, probes: DataFrame,
                            cents: Array[Array[Double]],
                            cb: Array[Array[Array[Double]]],
                            k: Int): DataFrame = {
    val spark = q.sparkSession
    val subspaces = cb.length
    val dsub = cb(0)(0).length
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // per-(q, m, code) residual-dot LUT — broadcast-sized by construction
    // (built from the query frame, not from probes: no array-keyed distinct)
    val qlut = q.select(col("q_id"), col("q_vec"))
      .crossJoin(codebookFrame(spark, cb))
      .select(col("q_id"), col("m"), col("code"),
        round(VF.dot(expr(s"slice(q_vec, m * $dsub + 1, $dsub)"),
          col("c_vec")), 6).cast(dec6).as("qr"))
    // cell-cross terms from the two DRIVER-HELD models: per (cell, m, code)
    // 2·dot(c_m, cv) + |cv|², plus |c|² per cell — K·M·codes literal rows
    import spark.implicits._
    val cellCross = cents.indices.flatMap { cell =>
      (0 until subspaces).flatMap { m =>
        cb(m).indices.map { j =>
          val cSlice = cents(cell).slice(m * dsub, (m + 1) * dsub)
          val cv = cb(m)(j)
          val cross = 2.0 * dot64(cSlice, cv) + dot64(cv, cv)
          (cell.toLong, m, j, r6(cross))
        }
      }
    }.toDF("cell", "m", "code", "cc")
      .select(col("cell"), col("m"), col("code"), col("cc").cast(dec6).as("cc"))
    val cellNorm2 = cents.indices.map(c =>
        (c.toLong, r6(dot64(cents(c), cents(c)))))
      .toDF("cell", "cn2")
      .select(col("cell"), col("cn2").cast(dec6).as("cn2"))
    val scored = enc
      .join(broadcast(probes.select(col("q_id"), col("q_nrm"), col("cell"),
        col("qc"))), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qlut), Seq("q_id", "m", "code"))
      .join(broadcast(cellCross), Seq("cell", "m", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(max(col("q_nrm")).as("q_nrm"), max(col("qc")).as("qc"),
        max(col("cell")).as("cell"),
        sum(col("qr")).as("qr"), sum(col("cc")).as("ccs"))
      .join(broadcast(cellNorm2), Seq("cell"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (col("qc") + col("qr")).cast("double").as("dt"),
        (col("cn2") + col("ccs")).cast("double").as("rn2"), col("q_nrm"))
      .select(col("q_id"), col("n_id"),
        when(col("q_nrm") === 0.0 || col("rn2") <= 0.0, lit(0.0))
          .otherwise(round(col("dt") / (col("q_nrm") * sqrt(col("rn2"))), 6))
          .as("cosine"))
    rank(scored, k)
  }

  /** Materialize the IVF-PQ index ON DISK — the FAISS `IVFx,PQy` shape as
    * a lake artifact: `(vec_id, m, code)` rows partitioned by `cell`
    * under `path/codes` (8-ish bytes per subspace per vector — the 32×
    * compression is now a STORAGE property, not just a scoring one), the
    * coarse centroids under `path/centroids` and the codebooks under
    * `path/codebooks` (both model-sized). Like [[ivfIndexWrite]], the
    * partition-by-cell layout is what makes serving pay at 100 TB:
    * [[ivfPqIndexTopK]]'s probe filter becomes a PARTITION prune, so a
    * query opens nProbe/K of the code files and never touches a corpus
    * float — and unlike the in-memory path, the residual encode is paid
    * ONCE at build instead of per serving call. Training, assignment and
    * encode are the exact arithmetic of [[ivfPqTrain]]/[[ivfPqTopKFrom]],
    * so the on-disk index answers queries bit-identically to the
    * in-memory path (the `ann_ivf_pq_disk` oracle pins this). */
  def ivfPqIndexWrite(corpus: DataFrame, path: String, kCentroids: Int = 0,
                      subspaces: Int = 8, codes: Int = 256,
                      centIters: Int = 5, pqIters: Int = 4,
                      seed: String = "ivf", pqSeed: String = "pq",
                      sampleRate: Double = 1.0,
                      maxTrainVectors: Int = DefaultMaxTrainVectors): Unit = {
    val spark = corpus.sparkSession
    val (cents, cb) = ivfPqTrain(corpus, kCentroids, subspaces, codes,
      centIters, pqIters, seed, pqSeed, sampleRate, maxTrainVectors)
    val dsub = cb(0)(0).length
    val e = spread(corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb")))
    val res = residualFrame(e, cents).localCheckpoint(true)
    // the three store tables are independent (codes off the checkpointed
    // residuals, the two model tables off driver arrays) — write them as
    // concurrent jobs (guide §2.6) so the two tiny model writes ride
    // inside the codes write's tail instead of paying their own job
    // latency after it
    Jobs.parallel(
      () => pqAssign(subvectorFrame(res, subspaces, dsub),
          codebookFrame(spark, cb))
        .join(res.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .select(col("vec_id"), col("m"), col("code"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes"),
      () => centroidFrame(spark, cents).write.mode("overwrite")
        .parquet(s"$path/centroids"),
      () => codebookFrame(spark, cb).write.mode("overwrite")
        .parquet(s"$path/codebooks"))
  }

  /** Load a persisted IVF-PQ index's two models back as driver arrays —
    * model-sized collects (K·dims + M·codes·dsub doubles), the identical
    * shapes [[ivfPqTrain]] returns. */
  def ivfPqIndexModels(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    // the two model collects are independent driver round-trips over
    // disjoint tables — overlap them (r22, guide §2.6)
    var cents: Array[Array[Double]] = null
    var rows: Array[(Int, Int, Array[Double])] = null
    Jobs.parallel(
      () => cents = spark.read.parquet(s"$path/centroids")
        .select(col("cell"), col("c_vec")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2),
      () => rows = spark.read.parquet(s"$path/codebooks")
        .select(col("m"), col("code"), col("c_vec")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray)))
    val subspaces = rows.map(_._1).max + 1
    val codes = rows.map(_._2).max + 1
    val cb = Array.ofDim[Array[Double]](subspaces, codes)
    rows.foreach { case (m, j, v) => cb(m)(j) = v }
    (cents, cb)
  }

  /** Query a persisted [[ivfPqIndexWrite]] index: models load from the
    * store, probe cells are decided against the broadcast centroids, the
    * O(queries·nProbe) probed-cell set becomes a LITERAL partition-prune
    * filter on the codes scan (the [[ivfIndexTopK]] discipline, schema
    * pinned so the prune never rides an implicit cast), and the shared
    * ADC tail scores candidates from their codes alone. Query vectors
    * need not be index members. */
  def ivfPqIndexTopK(queries: DataFrame, path: String, k: Int,
                     nProbe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    // model loads and the codes footer/schema read are independent
    // driver round-trips — overlap them (r22, guide §2.6)
    var models: (Array[Array[Double]], Array[Array[Array[Double]]]) = null
    var inferred: org.apache.spark.sql.types.StructType = null
    Jobs.parallel(
      () => models = ivfPqIndexModels(spark, path),
      () => inferred = spark.read.parquet(s"$path/codes").schema)
    val (cents, cb) = models
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("q_vec"))
      .withColumn("q_nrm", VF.norm2(col("q_vec")))
    val probes = ivfPqProbes(q, cents, nProbe)
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val pinned = org.apache.spark.sql.types.StructType(inferred.map(f =>
      if (f.name == "cell")
        f.copy(dataType = org.apache.spark.sql.types.LongType)
      else f))
    val enc = spark.read.schema(pinned).parquet(s"$path/codes")
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
    ivfPqAdcScore(enc, q, probes, cents, cb, k)
  }

  /** [[ivfPqIndexTopK]] widened to `refine` candidates, then
    * [[exactRerank]]ed to k — the FAISS `IVFx,PQy,RFlat` serving shape
    * over a PERSISTED index: candidates come off the partition-pruned
    * codes scan (the residual encode stays paid-at-build), and only the
    * exact re-score touches corpus floats — `queries·refine` of them,
    * fetched through one broadcast join against the corpus scan. */
  def ivfPqIndexTopKRerank(corpus: DataFrame, isQuery: Column, path: String,
                           k: Int, nProbe: Int = 6,
                           refine: Int = 100): DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    exactRerank(corpus, isQuery,
      ivfPqIndexTopK(corpus.filter(isQuery), path, refine, nProbe), k)
  }

  // ---------------------------------------------- exact-rerank refinement

  /** EXACT-RERANK refinement (the FAISS `IndexRefineFlat` posture): take
    * a quantized retriever's top-`refine` candidate pairs and re-score
    * each with the TRUE vectors — the [[bruteForceTopK]] round-6 cosine —
    * keeping the exact order's top-k. The quantized pass does what it is
    * good at (cheap candidate pruning); the exact pass runs over
    * `queries·refine` rows only and repairs the reconstruction error
    * that caps PQ recall.
    *
    * Scale shape: `cand` is queries×refine id pairs — BROADCAST against
    * the corpus scan (one broadcast hash join fetches candidate vectors;
    * the corpus never shuffles), query vectors broadcast as everywhere.
    * At 1000 executors the exact pass touches `refine` vectors per query
    * regardless of corpus size. */
  private def exactRerank(corpus: DataFrame, isQuery: Column,
                          cand: DataFrame, k: Int): DataFrame = {
    val e = corpus.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", VF.norm2(col("emb")))
    val q = e.filter(isQuery).select(col("vec_id").as("q_id"),
      col("emb").as("q_vec"), col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(cand.select(col("q_id"), col("n_id"))),
        col("vec_id") === col("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        round(VF.cosineWithNorms(VF.dot(col("q_vec"), col("emb")),
          col("q_nrm"), col("nrm")), 6).as("cosine"))
    rank(scored, k)
  }

  /** [[ivfPqTopKFrom]] widened to `refine` candidates, then
    * [[exactRerank]]ed to k — the `IVFx,PQy,RFlat` serving shape.
    * Measured on the bench corpus: recall@10 0.21 (`ann_ivf_pq`) →
    * the refined point's recall is gated in `AnnQualityGatesSpec`
    * (`ann_ivf_pq_rerank`). */
  def ivfPqTopKRerank(corpus: DataFrame, isQuery: Column,
                      cents: Array[Array[Double]],
                      cb: Array[Array[Array[Double]]],
                      k: Int, nProbe: Int = 2, refine: Int = 100)
      : DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    exactRerank(corpus, isQuery,
      ivfPqTopKFrom(corpus, isQuery, cents, cb, refine, nProbe), k)
  }

  /** [[ivfPqTrain]] then [[ivfPqTopKRerank]] — the one-call refined
    * IVF-PQ search (the `ann_topk` section's `ivf_pq` variant with
    * `refine` set). */
  def ivfPqTopKRefined(corpus: DataFrame, isQuery: Column, k: Int,
                       kCentroids: Int = 16, subspaces: Int = 8,
                       codes: Int = 256, nProbe: Int = 2, refine: Int = 100,
                       centIters: Int = 5, pqIters: Int = 4,
                       seed: String = "ivf", pqSeed: String = "pq",
                       sampleRate: Double = 1.0,
                       maxTrainVectors: Int = DefaultMaxTrainVectors)
      : DataFrame = {
    val (cents, cb) = ivfPqTrain(corpus, kCentroids, subspaces, codes,
      centIters, pqIters, seed, pqSeed, sampleRate, maxTrainVectors)
    ivfPqTopKRerank(corpus, isQuery, cents, cb, k, nProbe, refine)
  }

  /** [[pqTopKFromCodebooks]] widened to `refine` candidates, then
    * [[exactRerank]]ed to k — raw-vector PQ with exact refinement. */
  def pqTopKRerank(corpus: DataFrame, isQuery: Column,
                   cb: Array[Array[Array[Double]]],
                   k: Int, refine: Int = 100): DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    exactRerank(corpus, isQuery,
      pqTopKFromCodebooks(corpus, isQuery, cb, refine), k)
  }

  /** [[trainPqCodebooks]] then [[pqTopKRerank]] — one-call refined PQ. */
  def pqTopKRefined(corpus: DataFrame, isQuery: Column, k: Int,
                    subspaces: Int = 8, codes: Int = 256, refine: Int = 100,
                    iters: Int = 4, seed: String = "pq",
                    sampleRate: Double = 1.0,
                    maxTrainVectors: Int = DefaultMaxTrainVectors)
      : DataFrame =
    pqTopKRerank(corpus, isQuery,
      trainPqCodebooks(corpus, subspaces, codes, iters, seed, sampleRate,
        maxTrainVectors), k, refine)

  // ---------------------------------------------- OPQ (rotated PQ)

  /** Apply an OPQ rotation to a frame's `embedding` column — the SERVING
    * transform: `y[i] = round(Σ_j R[i][j]·x[j], 6)` via the codegen'd
    * [[graft.functions.ArrayRotate]]. Round-6 coordinates make the
    * rotated space exactly replayable by a SQL oracle (ordered
    * `list_sum` fold + round-6, the family's proven parity shape); the
    * ~1e-6 coordinate noise is far below quantization error. A pure
    * column transform: no shuffle, no UDF, stays inside
    * WholeStageCodegen — at 100 TB the rotation rides the scan. */
  def rotateFrame(corpus: DataFrame, rot: Array[Array[Double]]): DataFrame = {
    val d = rot.length
    require(d > 0 && rot.forall(_.length == d),
      s"rotation matrix must be square, got ${rot.length} rows")
    corpus.withColumn("embedding",
      graft.functions.ArrayRotate(col("embedding"), rot.flatten, d))
  }

  /** OPQ — Optimized Product Quantization (Ge et al. CVPR 2013; FAISS's
    * `OPQx` pretransform): learn an orthogonal rotation R that minimizes
    * PQ reconstruction error `Σᵢ ‖R·xᵢ − decode(encode(R·xᵢ))‖²`, so the
    * subspace split cuts across the data's correlated directions instead
    * of the raw coordinate blocks. Alternating minimization from R = I:
    *
    *   1. rotate the training sample (exact doubles — training internals
    *      are driver-local and capture-injected, never replayed);
    *   2. train codebooks on the rotated sample (the [[pqLocal]] twin —
    *      the identical Lloyd arithmetic every PQ path trains with);
    *   3. encode+decode the rotated sample, then solve the orthogonal
    *      Procrustes problem `max_R tr(R·A)`, `A = Σᵢ xᵢ·ŷᵢᵀ` via SVD
    *      (A = U·S·Vᵀ → R = V·Uᵀ) — the closed-form optimal rotation
    *      given the current code assignments.
    *
    * Each substep is the exact minimizer of the shared objective given
    * the other block, so reconstruction error is non-increasing (up to
    * the round-6 centroid means). Vectors with non-finite elements are
    * skipped by the Procrustes accumulation (they would poison the SVD;
    * the PQ twin already null-skips them in its sums).
    *
    * Scale shape: ONE sample collection, then the whole loop —
    * alternations AND the final serving-space codebooks — is
    * O(sample·dims·(dims + codes)) driver work on the byte-budgeted
    * [[collectSample]]: model-side state, the FAISS training posture;
    * the corpus itself is never scanned a second time.
    *
    * Returns `(R, codebooks)` — persist with [[opqModelWrite]]. */
  def opqTrain(corpus: DataFrame, subspaces: Int = 8, codes: Int = 256,
               iters: Int = 4, opqIters: Int = 5, seed: String = "opq",
               sampleRate: Double = 1.0,
               maxTrainVectors: Int = DefaultMaxTrainVectors,
               maxTrainBytes: Long = DefaultMaxTrainBytes)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(opqIters >= 1, "need at least one OPQ alternation")
    require(maxTrainVectors > 0,
      "OPQ training is sample-based; maxTrainVectors must be > 0")
    val s0 = collectSample(corpus, sampleRate, maxTrainVectors, seed,
      maxTrainBytes)
    // the Procrustes accumulation sums DOUBLES in sample order, so the
    // collected order (partitioning-dependent) must be canonicalized —
    // id-sorted — for bit-reproducible rotations. (The PQ twin needs no
    // such sort: its decimal sums and per-vector argmins are
    // insertion-order-independent by construction.)
    val order = Array.range(0, s0.n).sortWith((a, b) =>
      LT.idCompare(s0.ids(a), s0.ids(b)) < 0)
    val s = LocalSample(order.map(i => s0.ids(i)), order.map(i => s0.embs(i)))
    require(s.n > 0, "empty training sample")
    val d = s.embs(0).length
    require(d % subspaces == 0,
      s"dims $d not divisible into $subspaces subspaces")
    val dsub = d / subspaces
    val finite = s.embs.map(e => e.forall(x =>
      !java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x)))
    var rot = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (t <- 0 until opqIters) {
      val rotated = s.embs.map(matvec(rot, _))
      val cb = pqLocal(LocalSample(s.ids, rotated), subspaces, codes,
        iters, seed)
      if (t < opqIters - 1) {
        // A = Σ x·ŷᵀ over finite rows; ŷ = decode(encode(R·x))
        val a = breeze.linalg.DenseMatrix.zeros[Double](d, d)
        var i = 0
        while (i < s.n) {
          if (finite(i)) {
            val x = s.embs(i)
            val y = reconstructPq(cb, rotated(i), subspaces, dsub)
            var r = 0
            while (r < d) {
              val xr = x(r)
              if (xr != 0.0) {
                var c = 0
                while (c < d) { a(r, c) += xr * y(c); c += 1 }
              }
              r += 1
            }
          }
          i += 1
        }
        val dec = breeze.linalg.svd(a) // A = U·S·Vᵀ
        // R = V·Uᵀ maximizes tr(R·A) (orthogonal Procrustes)
        val rNew = dec.rightVectors.t * dec.leftVectors.t
        rot = Array.tabulate(d, d)((i2, j2) => rNew(i2, j2))
      }
    }
    // final serving codebooks: trained on the SERVING rotation (round-6
    // coords — the space the oracle replays and serving encodes). The
    // serving-rotated sample is derived LOCALLY from the one collected
    // sample: `sampleFrame(rotateFrame(corpus))` would draw the same
    // ids (the hash draw keys on vec_id alone, same seed/caps) and its
    // collected values are exactly `round6(R·x)` per coordinate
    // ([[graft.functions.ArrayRotate]]'s left-to-right fold — the same
    // op order as [[matvec]] + round6), so training locally on the
    // transformed sample is bit-identical to a second corpus pass while
    // keeping OPQ training a ONE-COLLECT operation at any corpus size.
    val servingRotated = s.embs.map(x =>
      matvec(rot, x).map(graft.functions.ArrayRotate.round6))
    val cbFinal = pqLocal(LocalSample(s.ids, servingRotated), subspaces,
      codes, iters, seed)
    (rot, cbFinal)
  }

  /** `R·x` with plain doubles — OPQ training internal (the serving
    * rotation is [[graft.functions.ArrayRotate]] with round-6). */
  private def matvec(rot: Array[Array[Double]], x: Array[Double])
      : Array[Double] = {
    val d = rot.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      val row = rot(i)
      var acc = 0.0
      var j = 0
      while (j < d) { acc += row(j) * x(j); j += 1 }
      out(i) = acc
      i += 1
    }
    out
  }

  /** decode(encode(y)) under per-subspace raw-double argmin (code-asc
    * ties) — the OPQ rotation-update reconstruction. */
  private def reconstructPq(cb: Array[Array[Array[Double]]],
                            y: Array[Double], subspaces: Int, dsub: Int)
      : Array[Double] = {
    val out = new Array[Double](subspaces * dsub)
    var m = 0
    while (m < subspaces) {
      val off = m * dsub
      val cbm = cb(m)
      var best = 0
      var bestD2 = java.lang.Double.POSITIVE_INFINITY
      var j = 0
      while (j < cbm.length) {
        val cv = cbm(j)
        var d2 = 0.0
        var k = 0
        while (k < dsub) { val df = y(off + k) - cv(k); d2 += df * df; k += 1 }
        if (d2 < bestD2) { bestD2 = d2; best = j }
        j += 1
      }
      System.arraycopy(cbm(best), 0, out, off, dsub)
      m += 1
    }
    out
  }

  /** OPQ serving against a trained (rotation, codebooks) model: rotate,
    * then the standard PQ ADC pass ([[pqTopKFromCodebooks]]) in the
    * rotated space — rotation is orthogonal, so rotated-space cosines
    * estimate the true ones with strictly less reconstruction error
    * than unrotated PQ at the same code budget. */
  def opqTopKFrom(corpus: DataFrame, isQuery: Column,
                  rot: Array[Array[Double]],
                  cb: Array[Array[Array[Double]]], k: Int): DataFrame =
    pqTopKFromCodebooks(rotateFrame(corpus, rot), isQuery, cb, k)

  /** [[opqTopKFrom]] widened to `refine` candidates, then
    * [[exactRerank]]ed with the TRUE (unrotated) vectors — the FAISS
    * `OPQx,PQy,RFlat` serving shape. */
  def opqTopKRerank(corpus: DataFrame, isQuery: Column,
                    rot: Array[Array[Double]],
                    cb: Array[Array[Array[Double]]],
                    k: Int, refine: Int = 100): DataFrame = {
    require(refine >= k, s"refine=$refine must be >= k=$k")
    exactRerank(corpus, isQuery,
      pqTopKFromCodebooks(rotateFrame(corpus, rot), isQuery, cb, refine), k)
  }

  /** [[opqTrain]] then [[opqTopKFrom]] — one-call OPQ search. */
  def opqTopK(corpus: DataFrame, isQuery: Column, k: Int,
              subspaces: Int = 8, codes: Int = 256, iters: Int = 4,
              opqIters: Int = 5, seed: String = "opq",
              sampleRate: Double = 1.0,
              maxTrainVectors: Int = DefaultMaxTrainVectors)
      : DataFrame = {
    val (rot, cb) = opqTrain(corpus, subspaces, codes, iters, opqIters,
      seed, sampleRate, maxTrainVectors)
    opqTopKFrom(corpus, isQuery, rot, cb, k)
  }

  /** Persist a trained OPQ model (rotation + codebooks) as one parquet
    * store — `rot/` rows are `(i, r_vec)` (row i of R), `codebooks/` the
    * [[pqCodebooksWrite]] shape. Model-sized. */
  def opqModelWrite(model: (Array[Array[Double]], Array[Array[Array[Double]]]),
                    path: String,
                    spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    model._1.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toSeq
      .toDF("i", "r_vec").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/rot")
    codebookFrame(spark, model._2)
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Load an [[opqModelWrite]] store — bit-identical; fails loudly on a
    * sparse or ragged rotation (a missing/short row silently zeroes a
    * whole output direction). */
  def opqModelRead(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val rows = spark.read.parquet(s"$path/rot").select(col("i"), col("r_vec"))
      .collect() // model-sized
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    require(rows.nonEmpty, s"empty OPQ rotation store at $path/rot")
    val d = rows.map(_._1).max + 1
    require(rows.length == d && rows.map(_._1).sorted.sameElements(0 until d),
      s"sparse OPQ rotation store at $path/rot: ${rows.length} rows for $d")
    require(rows.forall(_._2.length == d),
      s"ragged OPQ rotation store at $path/rot: row lengths " +
        s"${rows.map(_._2.length).distinct.mkString(",")} for dims $d")
    val rot = new Array[Array[Double]](d)
    rows.foreach { case (i, v) => rot(i) = v }
    (rot, pqCodebooksRead(spark, s"$path/codebooks"))
  }

  /** Plain left-to-right double dot — matches the SQL oracle's fold. */
  private def dot64(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** [[ivfPqTrain]] then [[ivfPqTopKFrom]] — the one-call IVF-PQ search
    * (the `ann_topk` section's `ivf_pq` variant). */
  def ivfPqTopK(corpus: DataFrame, isQuery: Column, k: Int,
                kCentroids: Int = 16, subspaces: Int = 8, codes: Int = 256,
                nProbe: Int = 2, centIters: Int = 5, pqIters: Int = 4,
                seed: String = "ivf", pqSeed: String = "pq",
                sampleRate: Double = 1.0,
                maxTrainVectors: Int = DefaultMaxTrainVectors): DataFrame = {
    val (cents, cb) = ivfPqTrain(corpus, kCentroids, subspaces, codes,
      centIters, pqIters, seed, pqSeed, sampleRate, maxTrainVectors)
    ivfPqTopKFrom(corpus, isQuery, cents, cb, k, nProbe)
  }

  // ---- PCA projection (the TRAINED counterpart of the JL random
  // projection, as IVF is the trained counterpart of LSH) ----

  /** Train a PCA basis over the corpus: mean vector + the top `outDims`
    * principal components (eigenvectors of the covariance matrix, largest
    * eigenvalue first).
    *
    * Scale shape: ONE corpus pass accumulates per-partition
    * (count, sum[d], gram[d·d]) triples — the `RowMatrix
    * .computeGramianMatrix` treeAggregate pattern, the canonical
    * "genuine per-partition imperative logic" case — so the driver sees
    * O(#partitions · d²) doubles, never a row. The d×d eigenproblem is
    * driver math: cyclic JACOBI sweeps (deterministic rotation order,
    * fixed convergence threshold), eigenvector signs fixed by making each
    * vector's largest-magnitude component positive, so the trained basis
    * is reproducible for a given input partitioning and injectable into
    * the oracle (the balanced-IVF capture discipline).
    *
    * @return (mean[d], components[outDims][d]) */
  def pcaTrain(embeddings: DataFrame, outDims: Int,
               vecCol: String = "embedding")
      : (Array[Double], Array[Array[Double]]) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val parts = embeddings.select(col(vecCol).cast("array<float>")).as[Array[Float]]
      .mapPartitions { it =>
        var n = 0L; var d = -1
        var sum: Array[Double] = null; var gram: Array[Double] = null
        while (it.hasNext) {
          val v = it.next()
          if (d < 0) { d = v.length; sum = new Array(d); gram = new Array(d * d) }
          require(v.length == d, s"ragged embedding: ${v.length} vs $d")
          n += 1
          var i = 0
          while (i < d) {
            val xi = v(i).toDouble
            sum(i) += xi
            var j = 0
            // lower triangle only — gram is symmetric
            while (j <= i) { gram(i * d + j) += xi * v(j); j += 1 }
            i += 1
          }
        }
        if (n == 0) Iterator.empty else Iterator.single((n, sum, gram))
      }.collect()
    require(parts.nonEmpty, "pcaTrain: empty corpus")
    val d = parts.head._2.length
    require(outDims >= 1 && outDims <= d, s"outDims must be in 1..$d")
    var n = 0L
    val sum = new Array[Double](d)
    val gram = new Array[Double](d * d)
    parts.foreach { case (pn, ps, pg) =>
      n += pn
      var i = 0; while (i < d) { sum(i) += ps(i); i += 1 }
      i = 0; while (i < d * d) { gram(i) += pg(i); i += 1 }
    }
    val mu = sum.map(_ / n)
    // covariance (population): C = gram/n − μμᵀ, symmetrized from the
    // accumulated lower triangle
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j <= i) {
        val c = gram(i * d + j) / n - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1
      }
      i += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov)
    val order = eigVals.indices.sortBy(k => (-eigVals(k), k)).take(outDims)
    val comps = order.map { k =>
      val v = Array.tabulate(d)(r => eigVecs(r)(k)) // column k
      // sign convention: largest-|component| positive (ties → first)
      var best = 0
      var r = 1
      while (r < d) { if (math.abs(v(r)) > math.abs(v(best))) best = r; r += 1 }
      if (v(best) < 0) v.map(-_) else v
    }.toArray
    (mu, comps)
  }

  /** Cyclic Jacobi for a symmetric matrix: returns (eigenvalues, V) with
    * eigenvectors in V's COLUMNS. Deterministic: fixed (p,q) sweep order,
    * fixed threshold, bounded sweeps (d=64 converges in ~8). */
  private def jacobiEigen(a: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val m = a.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(m)
    while (sweep < 64 && off > 1e-11) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(m(p)(q)) > 1e-15) {
            val theta = (m(q)(q) - m(p)(p)) / (2.0 * m(p)(q))
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                case x => x
              }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val mkp = m(k)(p); val mkq = m(k)(q)
              m(k)(p) = c * mkp - s * mkq
              m(k)(q) = s * mkp + c * mkq
              k += 1
            }
            k = 0
            while (k < d) {
              val mpk = m(p)(k); val mqk = m(q)(k)
              m(p)(k) = c * mpk - s * mqk
              m(q)(k) = s * mpk + c * mqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(m)
      sweep += 1
    }
    (Array.tabulate(d)(i => m(i)(i)), v)
  }

  private def offDiag(m: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < m.length) {
      var j = 0
      while (j < m.length) { if (i != j) s += m(i)(j) * m(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  /** Project the corpus onto a trained PCA basis: each output component is
    * `round(dot(x − μ, vⱼ), 6)` — rounded like [[VF.randomProject]] so the
    * projected frame is oracle-reproducible. Narrow per-row expressions
    * (codegen'd dot), no shuffle. */
  def pcaProject(embeddings: DataFrame, mu: Array[Double],
                 comps: Array[Array[Double]],
                 vecCol: String = "embedding"): DataFrame = {
    val centered = zip_with(
      col(vecCol).cast("array<double>"), typedlit(mu.toSeq), (x, m) => x - m)
    val projected = array(comps.toIndexedSeq.map { comp =>
      round(VF.dot(centered, typedlit(comp.toSeq)), 6)
    }: _*)
    embeddings.withColumn(vecCol, projected)
  }
}
