package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.functions.{BoundedCollect, BucketPairs, VectorFunctions}

/** Bounded pair generation for near-dup / similarity pipelines.
  *
  * The naive shape — all pairs within a blocking key — is quadratic in the
  * hottest block: one degenerate key (a boilerplate label, a mass-duplicate
  * signature) turns a 100 TB run into an O(block²) shuffle. Both generators
  * here keep the exact semantics while the blocks are small and switch to a
  * bounded strategy only past an explicit cap.
  *
  * Shape: group sizes come from a partial+final AGGREGATE over the
  * blocking key — NOT a window count. A window
  * `count().over(partitionBy(key))` buffers each group on one task, so the
  * very skew these caps exist for (one hot label/bucket) would concentrate
  * the whole hot group on a single straggler task *before* the bounded
  * path could split it — and a constant-foldable key (`lit("hot")`) is
  * folded out of a window spec entirely, collapsing to ONE partition.
  * [[boundedCosinePairs]] ships (label, count) rows and joins them back;
  * [[cappedBandCandidates]] folds count, hub and a member list bounded at
  * the cap into one aggregate per bucket and emits the pairs from it.
  *
  * Cap accounting is NOT silent and costs no extra pass: `observe()`
  * metrics ride the sizing aggregates and a per-session
  * [[QueryExecutionListener]] logs them whenever a cap actually bit.
  * No driver-side pre-count of the input — at 100 TB that would double
  * the scan.
  */
object Blocking {

  private[operators] val BlockCapMetric = "graft_block_cap"
  private[operators] val BandCapMetric = "graft_band_cap"
  private[operators] val PostingCapMetric = "graft_posting_cap"
  private[operators] val GroupCapMetric = "graft_group_cap"

  // weakly-keyed: a per-query cloned session (spark.newSession pattern)
  // must stay GC-able — a strong static set would pin every session and
  // its registered listener forever
  private val installedSessions = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Idempotent per-session listener: surfaces the observe() cap metrics on
    * every successful action over a plan that contains them. (A sizing
    * frame read by two branches can have its member-row counter evaluated
    * once per branch and overstate; it is a did-the-cap-bite signal, not
    * an exact audit count.) */
  private[operators] def ensureCapListener(spark: SparkSession): Unit =
    if (installedSessions.add(spark)) {
      spark.listenerManager.register(new QueryExecutionListener {
        private def report(qe: QueryExecution, metric: String, what: String): Unit =
          qe.observedMetrics.get(metric).foreach { row =>
            val rows = row.getAs[Long]("capped_rows")
            if (rows > 0)
              System.err.println(s"[blocking] $rows member row(s) in " +
                s"groups over the cap $what (largest group " +
                s"${row.getAs[Long]("max_group")})")
          }
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
          report(qe, BlockCapMetric, "routed through LSH sub-buckets")
          report(qe, BandCapMetric, "star-compressed in band candidates")
          report(qe, GroupCapMetric,
            "in identical-signature groups star-compressed before banding")
          report(qe, PostingCapMetric,
            "in stop-shingle postings excluded from candidate generation")
        }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
    }

  private def capMetrics(sizeCol: String, cap: Long) = Seq(
    sum(when(col(sizeCol) > cap, 1L).otherwise(0L)).as("capped_rows"),
    coalesce(max(col(sizeCol)), lit(0L)).as("max_group"))

  /** Exact all-pairs cosine scoring within `label` blocks, scale-guarded:
    * blocks whose row count exceeds `maxBlock` are sub-partitioned by a
    * deterministic random-hyperplane LSH bucket over `embedding`
    * ([[VectorFunctions.lshBucket]]) and pairs are generated only within
    * (label, bucket) — cost drops from O(block²) to O(Σ sub-bucket²) at a
    * bounded recall loss (cosine-similar vectors agree on sign bits with
    * high probability). Blocks at or under the cap keep bucket 0, so the
    * result is EXACTLY the unbounded one until the cap bites.
    *
    * Input frame must carry `vec_id, label, embedding, nrm` (norm
    * precomputed once per vector); output is `(a_id, b_id, cosine)` with
    * cosine rounded to 6 places.
    */
  def boundedCosinePairs(e: DataFrame, maxBlock: Long = 10000,
                         lshBits: Int = 4, dims: Int = 64): DataFrame = {
    ensureCapListener(e.sparkSession)
    val m = capMetrics("_blk", maxBlock)
    // label cardinality is usually O(#labels) — tiny — so the size frame
    // broadcasts and the rows never shuffle just to be counted; but the
    // choice is left to AQE (no forced hint): a pathological label space
    // would otherwise be collected to the driver regardless of size
    val sizes = e.groupBy(col("label")).agg(count(lit(1)).as("_blk"))
    val sized = e
      .join(sizes, Seq("label"))
      .observe(BlockCapMetric, m.head, m.tail: _*)
      .withColumn("_bkt",
        when(col("_blk") > maxBlock,
          VectorFunctions.lshBucket(col("embedding"), lshBits, dims))
        .otherwise(lit(0L)))
    sized.as("a").join(sized.as("b"),
        col("a.label") === col("b.label") && col("a._bkt") === col("b._bkt") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        round(VectorFunctions.cosineWithNorms(
          VectorFunctions.dot(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")), 6).as("cosine"))
  }

  /** Candidate pairs from MinHash band buckets, degenerate-bucket capped:
    * a bucket holding more than `maxBucket` members (mass duplicates, or
    * many near-empty documents sharing a signature) would make all-pairs
    * generation quadratic in that bucket. Such buckets switch to STAR
    * compression — every member pairs with the bucket's hub (min doc_id),
    * O(n) edges instead of O(n²) — which preserves connected-components
    * connectivity, so mass-duplicated content still collapses into one
    * cluster instead of silently escaping. Pair-level recall inside a
    * starred bucket is reduced (only hub pairs are emitted for
    * verification); the switch is observed and logged. Standard buckets
    * are exact.
    *
    * Shape: ONE aggregate per `band` — the row count, the hub (min by
    * doc_id WITH its carry: struct comparison orders by the leading id
    * field) and a member list bounded at `maxBucket + 1`
    * ([[graft.functions.BoundedCollect]]: appends stop at the bound, so a
    * hot bucket costs its partial count and hub, never a buffered member
    * list). Buckets at or under the cap emit every `a < b` pair straight
    * from the list ([[graft.functions.BucketPairs]]); no band self-join.
    * Only over-cap buckets read the band rows a second time, in a
    * broadcast hub-star join against the (tiny by construction) over-cap
    * set; when that set is empty at run time, adaptive execution drops the
    * join and its input. The cap metrics ride the aggregate:
    * capped_rows = member rows in over-cap buckets.
    *
    * CONTRACT for non-empty `carry` with a carry-determined verify
    * (simhash: hamming over the carried signatures): callers must
    * pre-collapse identical carry tuples to one representative BEFORE
    * banding — [[NearDup.simhashPairs]]'s identical-signature collapse —
    * so every bucket holds DISTINCT tuples. A hub-star edge between
    * distinct tuples that fails the verify then never splits a true
    * cluster: the caller's within-group edges supply the intra-group
    * connectivity, and cross-group connectivity is decided by tuples
    * alone, which star edges sample one representative pair of. (r17
    * guarded duplicate-tuple buckets inside this generator instead —
    * per-group representative machinery whose four extra aggregates/
    * joins measured ~2× on every dedup pipeline while being bit-identical
    * to hub-star on the distinct-tuple buckets that pre-collapsed callers
    * actually produce, so the guard moved to the source.)
    *
    * Input frame: `(doc_id, band, carry...)`; output: distinct `(a_id,
    * b_id, a_<carry>..., b_<carry>...)` with a_id < b_id. Nothing is
    * cached: `bands` is read by the aggregate and, for over-cap buckets
    * only, by the star join.
    *
    * @param carry    input columns to ride along with each side of a pair
    *                 (e.g. the signature a hamming verify needs) — saves the
    *                 verify's join-back at the cost of widening the member
    *                 lists
    * @param preDedup filter applied to the raw (pre-distinct) pair stream.
    *                 Band candidates are mostly false positives, so a cheap
    *                 verify here means the dedup aggregate runs on the few
    *                 rows that pass, not the raw candidate set
    */
  def cappedBandCandidates(bands: DataFrame, maxBucket: Long = 1000,
                           carry: Seq[String] = Nil,
                           preDedup: DataFrame => DataFrame = identity): DataFrame = {
    ensureCapListener(bands.sparkSession)
    require(maxBucket >= 1 && maxBucket < Int.MaxValue,
      s"maxBucket must be in [1, ${Int.MaxValue - 1}], got $maxBucket")
    val member = struct(col("doc_id") +: carry.map(col): _*)
    val m = Seq(
      sum(when(col("_bsz") > maxBucket, col("_bsz")).otherwise(0L)).as("capped_rows"),
      coalesce(max(col("_bsz")), lit(0L)).as("max_group"))
    // hub and members share one struct column: each branch below reads one
    // of them, and two differently pruned aggregates would shuffle the
    // band rows twice instead of reusing one exchange
    val buckets = bands.groupBy(col("band")).agg(
        count(lit(1)).as("_bsz"),
        struct(min(member).as("hub"),
          BoundedCollect(member, (maxBucket + 1).toInt).as("mem")).as("_b"))
      .observe(BandCapMetric, m.head, m.tail: _*)
    def sides(a: String, b: String) =
      col(s"$a.doc_id").as("a_id") +: col(s"$b.doc_id").as("b_id") +:
        (carry.map(c => col(s"$a.$c").as(s"a_$c")) ++
         carry.map(c => col(s"$b.$c").as(s"b_$c")))
    val exact = buckets.filter(col("_bsz") > 1 && col("_bsz") <= maxBucket)
      .select(BucketPairs(col("_b.mem")))
      .select(sides("a", "b"): _*)
    // star across each over-cap bucket: the hub came with the aggregate,
    // so this is one broadcast join over the member rows
    val big = buckets.filter(col("_bsz") > maxBucket)
      .select(col("band"), col("_b.hub").as("_hub"))
    val starred = bands.join(broadcast(big), Seq("band"))
      .filter(col("doc_id") =!= col("_hub.doc_id"))
      .select(col("_hub.doc_id").as("a_id") +: col("doc_id").as("b_id") +:
        (carry.map(c => col(s"_hub.$c").as(s"a_$c")) ++
         carry.map(c => col(c).as(s"b_$c"))): _*)
    preDedup(exact.union(starred)).distinct()
  }
}
