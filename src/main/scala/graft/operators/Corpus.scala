package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF, WordNgramHashes}

/** Corpus-preparation operators a large-scale training-data pipeline needs
  * beyond dedup/ANN: benchmark decontamination, boilerplate-segment
  * removal, token-budget sequence packing, deterministic weighted corpus
  * mixing, and BM25 relevance scoring. All are beyond-reference surface
  * (the reference's `sections/` stop at movement + pushdown); each is
  * designed around what survives 100 TB — broadcast the small side, keep
  * the corpus pass narrow, never collect more than O(#partitions) or
  * O(#over-cap keys) to the driver.
  */
object Corpus {

  /** Benchmark decontamination by exact n-gram overlap — the standard
    * train/eval hygiene pass (flag training documents sharing any word
    * n-gram with an evaluation benchmark).
    *
    * Shape: the BENCHMARK side is tiny by construction (eval sets are
    * thousands of documents, the corpus is billions), so its distinct
    * n-gram set broadcasts and the corpus pass stays narrow — tokenize,
    * per-doc-distinct n-gram HASHES (the fused 60-bit
    * [[WordNgramHashes]], 8 bytes each — n-gram strings never leave the
    * expression, never get broadcast or compared), broadcast-hash-join,
    * partial+final count. The corpus never shuffles on text; nothing
    * scales with corpus size except the one scan.
    *
    * @return `(doc_id, n_hits)` — contaminated corpus docs only, with the
    *         count of DISTINCT overlapping n-grams.
    */
  def deconOverlap(corpus: DataFrame, bench: DataFrame, n: Int = 8,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val benchGrams = bench
      .select(explode(WordNgramHashes(col(textCol), n)).as("g"))
      .distinct()
    corpus
      .select(col(idCol).as("doc_id"),
        explode(WordNgramHashes(col(textCol), n)).as("g"))
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** [[deconOverlap]] behind a BLOOM-FILTER prefilter — for benchmark
    * suites whose distinct n-gram set is too big to broadcast exactly:
    * 100M grams are 800 MB as 8-byte hashes but ~120 MB as a 1%-fpp
    * Bloom filter, and per-executor probe cost drops the same way. The
    * corpus pass probes each document's gram array against the broadcast
    * filter WITHOUT exploding (one boolean per doc); only might-match
    * documents — contaminated ones plus the fpp sliver — reach the
    * exact explode + broadcast-join confirm stage, which is
    * [[deconOverlap]] itself on that small remainder. Bloom filters
    * have NO false negatives, so the output is bit-identical to
    * [[deconOverlap]] on the full corpus (shared oracle); `fpp` trades
    * filter size against confirm-stage traffic only, never correctness.
    * The prefilter's survivor count is observable via the `n_candidates`
    * accumulator-free pattern: count it downstream if needed — the
    * confirm join makes any fpp misjudgment a visible runtime cost, not
    * a silent wrong answer. */
  def deconBloom(corpus: DataFrame, bench: DataFrame, n: Int = 8,
                 fpp: Double = 0.01,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = corpus.sparkSession
    val benchGrams = bench
      .select(explode(WordNgramHashes(col(textCol), n)).as("g"))
      .distinct()
    // model-sized driver action: #distinct bench grams (eval suites are
    // millions of grams at most; the CORPUS never hits the driver)
    val nGrams = math.max(benchGrams.count(), 1L)
    val bf = benchGrams.stat.bloomFilter("g", nGrams, fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    // codegen'd probe over the broadcast handle — keeps the prefilter
    // scan inside WholeStageCodegen like every other text kernel (this
    // replaced the last scala udf() in main)
    val candidates = corpus.filter(
      graft.functions.BloomMightContainAny(WordNgramHashes(col(textCol), n), bfB))
    deconOverlap(candidates, bench, n, idCol, textCol)
  }

  /** Boilerplate-segment removal — line-level dedup (RefinedWeb/Falcon
    * style) generalized to fixed word segments for corpora without line
    * structure: a document is cut into consecutive `segWords`-word
    * segments; segments appearing in more than `maxDf` DISTINCT documents
    * are boilerplate and are removed from every document; survivors are
    * reassembled in order.
    *
    * Shape: one narrow segmentation pass; document frequency is a
    * partial+final aggregate over segment text (the word-count shuffle
    * shape); the boilerplate set (df > maxDf) is usually O(#boilerplate
    * templates), but it is DATA-DEPENDENT and unbounded (maxDf=2 on a web
    * crawl flags far more than a handful of templates), so the anti-join
    * deliberately carries NO broadcast hint — AQE picks broadcast when the
    * set is small and a shuffled join when it is not, the same policy as
    * [[scrubDuplicateSpans]]' dup-hash join. The boilerplate-set size is
    * observed (`graft_boiler_cap`) so an unexpectedly huge set is visible
    * in metrics rather than inferred from a slow join. Reassembly groups
    * by doc_id (the original partitioning) with ≤ doc-length arrays per
    * group.
    *
    * @return `(doc_id, clean_text, n_removed)` for every input document
    *         (clean_text = '' when everything was boilerplate).
    */
  /** WITHIN-document exact line dedup — the C4/Gopher page-cleaning rule
    * (keep each distinct line's FIRST occurrence, preserve order):
    * crawled pages repeat nav bars, cookie banners and footers line-for-
    * line inside one document, which corpus-wide operators like
    * [[segmentDedup]] (cross-doc boilerplate) and [[scrubDuplicateSpans]]
    * (cross-doc substrings) deliberately do not touch.
    *
    * Scale shape: pure narrow per-row expression work (`split` →
    * `array_distinct`, which preserves first-occurrence order →
    * `array_join`) — no shuffle, no UDF, fuses into whatever scan
    * precedes it; at 100 TB this costs one pass over the text bytes.
    *
    * @return `(doc_id, clean_text, lines_before, lines_after)`.
    */
  def dedupLines(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    docs.select(col(idCol).as("doc_id"),
      array_join(array_distinct(lines), "\n").as("clean_text"),
      size(lines).cast("long").as("lines_before"),
      size(array_distinct(lines)).cast("long").as("lines_after"))
  }

  def segmentDedup(docs: DataFrame, segWords: Int = 8, maxDf: Long = 2,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ts = TF.tokens(col(textCol))
    val nSeg = ceil(size(ts) / lit(segWords.toDouble)).cast("int")
    // guard: sequence(0, -1) is a DESCENDING sequence in Spark, not empty
    val segArr = when(nSeg > 0,
        transform(sequence(lit(0), nSeg - 1),
          i => concat_ws(" ", slice(ts, i * segWords + 1, lit(segWords)))))
      .otherwise(array().cast("array<string>"))
    val segs = docs.select(col(idCol).as("doc_id"), posexplode(segArr))
      .withColumnRenamed("pos", "seg_idx").withColumnRenamed("col", "seg")
    val boiler = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("_df"))
      .filter(col("_df") > maxDf)
      .select(col("seg"))
      .observe("graft_boiler_cap", count(lit(1)).as("n_boiler_segments"))
    val kept = segs.join(boiler, Seq("seg"), "left_anti")
    val docsAll = docs.select(col(idCol).as("doc_id"),
      size(ts).as("_ntok"))
    docsAll.join(
        kept.groupBy(col("doc_id"))
          .agg(
            concat_ws(" ", transform(
              array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
              s => s("seg"))).as("clean_text"),
            count(lit(1)).as("_nkept")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (ceil(col("_ntok") / lit(segWords.toDouble)).cast("long") -
          coalesce(col("_nkept"), lit(0L))).as("n_removed"))
  }

  /** Token-budget sequence packing — assign documents to fixed-budget
    * training sequences by deterministic greedy fill in doc_id order:
    * `seq_id = floor(exclusive-prefix-sum(tokens) / budget)`. The global
    * prefix sum is computed SCALE-SAFELY in two passes: range-partition by
    * doc_id, aggregate one (partition, token-sum) row per partition,
    * prefix those O(#partitions) numbers on the driver, and finish with a
    * per-partition window (each window partition is one range partition —
    * bounded by maxPartitionBytes — never the whole corpus on one task,
    * which is what a bare `Window.orderBy(doc_id)` would do; Spark warns
    * "moving all data to a single partition" on exactly that shape).
    *
    * `withOffsets` additionally emits `seq_pos` — the document's token
    * OFFSET inside its sequence (`prefix-sum mod budget`, pure
    * arithmetic on the already-computed cumulative): the piece a
    * training loader needs to place attention-mask resets and loss-mask
    * boundaries between packed documents without re-tokenizing.
    *
    * @return `(doc_id, tok, seq_id[, seq_pos])` per document.
    */
  def packSequences(docs: DataFrame, budget: Long = 256, partitions: Int = 32,
                    idCol: String = "doc_id", textCol: String = "text",
                    stageDir: Option[String] = None,
                    withOffsets: Boolean = false): DataFrame = {
    // the pass-1 frame must be FROZEN between the offsets pass and the
    // scoring pass (pid assignment must not be recomputed differently).
    // Default: persisted — the rows are 3 longs each, ~24 bytes/doc,
    // MEMORY_AND_DISK spillable; lifecycle session-managed like
    // [[NearDup.pairs]]' hash cache. With `stageDir` set the frame is
    // staged to the lake instead ([[Staging]]) — zero cache footprint,
    // the right mode inside long assembly pipelines.
    val toks = Staging.stageOrPersist(docs
      .select(col(idCol).as("doc_id"), TF.tokenCount(col(textCol)).cast("long").as("tok"))
      .repartitionByRange(partitions, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("_pid", spark_partition_id()),
      stageDir, "pack_toks")
    // O(#partitions) rows to the driver — the ONLY driver-side step
    val perPart = toks.groupBy(col("_pid")).agg(sum(col("tok")).as("_t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offBefore = perPart.map { case (p, t) => val o = (p, acc); acc += t; o }
    val offDf = toks.sparkSession.createDataFrame(offBefore.toSeq)
      .toDF("_pid", "_off")
    val w = Window.partitionBy(col("_pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = toks.join(broadcast(offDf), Seq("_pid"))
      .withColumn("_cum", coalesce(sum(col("tok")).over(w), lit(0L)) + col("_off"))
    val base = Seq(col("doc_id"), col("tok"),
      floor(col("_cum") / budget).cast("long").as("seq_id"))
    val outCols =
      if (withOffsets) base :+ (col("_cum") % budget).as("seq_pos") else base
    cum.select(outCols: _*)
  }

  /** TRAINING-SEQUENCE materialization — the pipeline's terminal
    * deliverable: tokenize every document with a trained unigram vocab
    * ([[graft.functions.UnigramEncodeIds]]), concatenate the id streams
    * in doc_id order, and cut EXACTLY at `budget`-token boundaries —
    * every output row is one trainer-ready `input_ids` sequence of
    * exactly `budget` tokens (the final partial one excepted). Documents
    * SPLIT across boundaries (the Megatron/GPT pre-processing rule;
    * loss-mask resets come from [[packSequences]]`(withOffsets)` over
    * the same counts — same cum, same boundaries).
    *
    * Scale shape: one narrow encode pass fused into the range
    * repartition by doc_id; the global token offset uses the same
    * two-pass prefix sum as [[packSequences]] (O(#partitions) rows to
    * the driver, window bounded by one range partition); each doc then
    * explodes into the ≤ ceil(n/budget)+1 sequences it overlaps
    * (`slice` on the id array — no per-token rows ever exist) and ONE
    * groupBy(seq_id) assembles sequences whose state is bounded by
    * `budget` tokens. Two shuffles of id data total — the floor for a
    * global ordering+regrouping operation.
    *
    * @return `(seq_id, input_ids array<int>)`, `size(input_ids) ==
    *         budget` for all but the last sequence. */
  def packTokenIds(docs: DataFrame, vocab: Seq[(String, Long)],
                   budget: Int = 256, partitions: Int = 32,
                   idCol: String = "doc_id", textCol: String = "text",
                   stageDir: Option[String] = None): DataFrame =
    packIdsStream(docs.select(col(idCol).as("doc_id"),
        graft.functions.UnigramEncodeIds(col(textCol), vocab).as("ids")),
      budget, partitions, stageDir)

  /** [[packTokenIds]] under a trained BPE model — same packing, the
    * [[graft.functions.BpeEncodeIds]] id stream. */
  def packBpeTokenIds(docs: DataFrame, merges: Seq[String],
                      vocab: Seq[(String, Int)],
                      budget: Int = 256, partitions: Int = 32,
                      idCol: String = "doc_id", textCol: String = "text",
                      stageDir: Option[String] = None): DataFrame =
    packIdsStream(docs.select(col(idCol).as("doc_id"),
        graft.functions.BpeEncodeIds(col(textCol), merges, vocab).as("ids")),
      budget, partitions, stageDir)

  /** Tokenizer-agnostic packing core over a prebuilt `(doc_id, ids)`
    * frame — see [[packTokenIds]] for the contract and scale shape. */
  def packIdsStream(idsFrame: DataFrame, budget: Int, partitions: Int = 32,
                    stageDir: Option[String] = None): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val b = lit(budget.toLong)
    // The tokenized corpus is ALWAYS staged to parquet, never persist()ed:
    // the operator returns a lazy frame, so it owns no "after the final
    // aggregation" moment at which it could unpersist — a persist here
    // pinned a corpus-sized cache until some unrelated clearCache.
    // Staging is also the only DETERMINISTIC snapshot: the per-partition
    // token offsets collected below must see the exact range partitioning
    // the final plan reads, which a recomputed-after-eviction cache does
    // not guarantee. Without a caller-provided stageDir the stage lands
    // under a JVM-lifetime temp root (unique name per call so earlier
    // results stay readable), deleted on shutdown.
    val (dir, name) = stageDir match {
      case Some(d) => (d, "pack_ids")
      case None =>
        (Staging.defaultStageRoot(idsFrame.sparkSession),
          s"pack_ids_${Staging.stageCounter.incrementAndGet()}")
    }
    val ids = Staging.stage(idsFrame
      .select(col("doc_id"), col("ids"))
      .repartitionByRange(partitions, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("_pid", spark_partition_id())
      .withColumn("tok", size(col("ids")).cast("long")),
      dir, name)
    val perPart = ids.groupBy(col("_pid")).agg(sum(col("tok")).as("_t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offBefore = perPart.map { case (p, t) => val o = (p, acc); acc += t; o }
    val offDf = ids.sparkSession.createDataFrame(offBefore.toSeq)
      .toDF("_pid", "_off")
    val w = Window.partitionBy(col("_pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = ids.join(broadcast(offDf), Seq("_pid"))
      .withColumn("_start", coalesce(sum(col("tok")).over(w), lit(0L)) + col("_off"))
      .filter(col("tok") > 0)
    // one row per (doc, overlapped sequence): slice the doc's ids to the
    // chunk inside that sequence; `_gfrom` (global token offset of the
    // chunk) orders chunks within a sequence
    val chunks = cum
      .withColumn("seq_id", explode(sequence(
        floor(col("_start") / b),
        floor((col("_start") + col("tok") - 1) / b))))
      .withColumn("_gfrom", greatest(col("_start"), col("seq_id") * b))
      .withColumn("_gto",
        least(col("_start") + col("tok"), (col("seq_id") + 1) * b))
      .withColumn("chunk", slice(col("ids"),
        (col("_gfrom") - col("_start") + 1).cast("int"),
        (col("_gto") - col("_gfrom")).cast("int")))
    // `doc_spans` — the loss-mask/attention-reset input a loader needs:
    // one (start, doc_id) per chunk, start = the chunk's offset inside
    // the sequence; positions [start_k, start_{k+1}) belong to doc_k
    chunks
      .withColumn("_spos", (col("_gfrom") - col("seq_id") * b).cast("int"))
      .groupBy(col("seq_id"))
      .agg(
        flatten(transform(
          array_sort(collect_list(struct(col("_gfrom"), col("chunk")))),
          s => s("chunk"))).as("input_ids"),
        transform(
          array_sort(collect_list(struct(col("_spos"), col("doc_id")))),
          s => struct(s("_spos").as("start"), s("doc_id").as("doc_id")))
          .as("doc_spans"))
  }

  /** CHAT-TRANSCRIPT assembly from an event stream — the SFT-data prep
    * step: sessionize per user by inactivity gap (the same session rule
    * as the relational surface's q15), then concatenate each session's
    * turns IN ORDER into one transcript string with a turn count. `turn`
    * is any Column rendering one event as one line — the caller decides
    * what a turn looks like; the operator owns sessionization, ordering
    * and assembly.
    *
    * Determinism: turns order by `(tsCol, tieCol)` — a timestamp tie
    * (same-ms events) must not let two runs emit different transcripts.
    * Shape: two window passes over (user, ts) — the sessionize shuffle —
    * then one groupBy(user, session) whose per-group state is one
    * session's turns (bounded by session length, never a user's whole
    * history in one task beyond the window pass both engines share).
    *
    * @return `(user_id, sess_id, n_turns, transcript)` one row per
    *         session, `sess_id` 1-based per user. */
  def chatAssembly(events: DataFrame, turn: Column, gapSeconds: Long = 1800,
                   userCol: String = "user_id", tsCol: String = "ts",
                   tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val sess = events
      .withColumn("_prev", lag(col(tsCol), 1).over(w))
      .withColumn("_new", when(col("_prev").isNull ||
        unix_micros(col(tsCol)) - unix_micros(col("_prev")) >
          gapSeconds * 1000000L, 1).otherwise(0))
      .withColumn("sess_id",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_turn", turn)
    sess.groupBy(col(userCol), col("sess_id"))
      .agg(count(lit(1)).as("n_turns"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col(tsCol).as("t"),
            col(tieCol).as("i"), col("_turn").as("x")))),
          s => s("x"))).as("transcript"))
  }

  /** Deterministic weighted corpus mixing — per-domain sampling at exactly
    * reproducible rates, the "mix 30% web + 60% books + …" step of
    * training-data assembly. A document survives iff
    * `md5(doc_id) mod 10000 < rate(domain)·10000`: pure function of the
    * id, so the sample is stable across runs/partitionings/engines and
    * re-running on an updated corpus keeps previously-kept documents kept.
    *
    * Shape: the rates table is O(#domains) → broadcast; the corpus pass is
    * scan + hash + filter, fully narrow, no shuffle at all.
    *
    * @param rates (domain, keep-rate in [0,1]) pairs, joined on `byCol`
    * @param keepCols true = surviving rows keep EVERY input column (for
    *   compositions whose next stage needs the text — re-deriving it via
    *   a join back to the corpus would shuffle the text a second time);
    *   false = the documented narrow `(doc_id, <byCol>)` projection
    * @return surviving `(doc_id, <byCol>)` rows (or full rows with
    *   `keepCols`).
    */
  def mixWeighted(docs: DataFrame, rates: Seq[(String, Double)],
                  byCol: String = "lang", idCol: String = "doc_id",
                  keepCols: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    val ratesDf = spark.createDataFrame(rates).toDF(byCol, "_rate")
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 10000L
    val kept = docs.join(broadcast(ratesDf), Seq(byCol))
      .filter(u < (col("_rate") * 10000L).cast("long"))
    if (keepCols) kept.select(docs.columns.map(col).toIndexedSeq: _*)
    else kept.select(col(idCol), col(byCol))
  }

  /** Temperature-based corpus mixing — the multilingual sampling scheme
    * (mT5/XLM-R style): domain d is kept at a rate ∝ n_d^(α-1), so
    * α = 1 preserves the natural distribution and α → 0 flattens it
    * (small domains up-weighted relative to large ones). The smallest
    * domain anchors at `maxRate`; every other domain's keep-rate is
    * maxRate · (n_d/n_min)^(α-1).
    *
    * Determinism across engines: the per-domain rate comes from `pow`,
    * whose last-ulp behavior is library-specific — so the keep decision
    * is made against an INTEGER threshold in [0, 10000] computed ONCE
    * (round(rate·10⁴)) rather than a raw double, and the per-doc draw is
    * the same md5(doc_id) construction as [[mixWeighted]]. Domain counts
    * are O(#domains) driver rows; the threshold table broadcasts; the
    * corpus pass is scan + hash + filter, no shuffle.
    *
    * @return surviving `(doc_id, <byCol>)` rows.
    */
  def mixTemperature(docs: DataFrame, alpha: Double, byCol: String = "lang",
                     idCol: String = "doc_id",
                     maxRate: Double = 1.0): DataFrame =
    mixByThresholds(docs, temperatureThresholds(docs, alpha, byCol, maxRate),
      byCol, idCol)

  /** The per-domain integer thresholds of [[mixTemperature]], computed ONCE
    * on the driver (JVM `Math.pow`). Exposed separately so an exact replay
    * (e.g. a SQL oracle) can take the thresholds as literal inputs instead
    * of re-deriving them through its own `pow` — two libraries' last-ulp
    * difference landing on a .5 rounding boundary would otherwise shift a
    * threshold by 1 and change which documents survive. */
  def temperatureThresholds(docs: DataFrame, alpha: Double,
                            byCol: String = "lang",
                            maxRate: Double = 1.0): Seq[(String, Long)] = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(maxRate > 0.0 && maxRate <= 1.0, "maxRate must be in (0, 1]")
    val counts = docs.groupBy(col(byCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
    require(counts.nonEmpty, "empty corpus has no domains to mix")
    val nMin = counts.map(_._2).min.toDouble
    counts.map { case (d, n) =>
      (d, Math.round(maxRate * math.pow(n / nMin, alpha - 1.0) * 10000.0)) }
  }

  /** Apply precomputed `(domain, threshold)` keep-rates: a document
    * survives when md5(doc_id)-derived `u ∈ [0, 10000)` falls below its
    * domain's threshold. Threshold table broadcasts; the corpus pass is
    * scan + hash + filter, no shuffle.
    *
    * A domain PRESENT in the corpus but ABSENT from the threshold table
    * (a stale capture meeting a corpus where a new language appeared)
    * fails loudly at execution — an inner join would silently delete the
    * entire domain from the output. */
  def mixByThresholds(docs: DataFrame, thresholds: Seq[(String, Long)],
                      byCol: String = "lang",
                      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    val thrDf = spark.createDataFrame(thresholds.toIndexedSeq)
      .toDF(byCol, "_thr")
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 10000L
    docs.join(broadcast(thrDf), Seq(byCol), "left")
      .withColumn("_thr", when(col("_thr").isNull,
          raise_error(concat(lit("mixByThresholds: no threshold for domain '"),
            col(byCol), lit("' — the threshold table is stale for this corpus"))))
        .otherwise(col("_thr")))
      .filter(u < col("_thr"))
      .select(col(idCol), col(byCol))
  }

  /** TOKEN-budget corpus mixing — the "N billion tokens of domain D"
    * step of mixture assembly: per domain, documents are admitted in
    * deterministic md5(doc_id) order until the domain's token budget is
    * reached. The document that crosses the line is INCLUDED (budgets
    * are met-or-just-exceeded, never silently under-filled), and domains
    * absent from `budgets` are excluded by construction — the budget
    * table IS the selection, unlike [[mixByThresholds]] where a missing
    * domain is a stale-table error. Admission order is the id hash, so
    * each domain's take is a stable uniform sample prefix: re-running on
    * a grown corpus keeps previously-admitted documents admitted.
    *
    * Shape: the same two-pass prefix-sum construction as
    * [[packSequences]], per (range-partition, domain): one
    * (partition, domain, token-sum) row per pair reaches the driver,
    * offsets broadcast back, and the finishing window is bounded by one
    * range partition — never a whole domain on one task. The pass-1
    * frame persists (3 longs + 2 strings per doc) with the module's
    * session-managed cache lifecycle.
    *
    * @return surviving `(doc_id, <byCol>, n_tokens)` rows.
    */
  def mixTokenBudget(docs: DataFrame, budgets: Seq[(String, Long)],
                     byCol: String = "lang", idCol: String = "doc_id",
                     textCol: String = "text",
                     partitions: Int = 32): DataFrame = {
    require(budgets.nonEmpty, "token-budget mix needs at least one budget")
    require(budgets.forall(_._2 > 0), "budgets must be positive")
    val spark = docs.sparkSession
    val bDf = spark.createDataFrame(budgets.toIndexedSeq).toDF(byCol, "_budget")
    val base = docs.join(broadcast(bDf), Seq(byCol))
      .select(col(byCol), col(idCol).as("_id"),
        TF.tokenCount(col(textCol)).cast("long").as("_tok"), col("_budget"),
        md5(col(idCol).cast("string")).as("_hk"))
      .repartitionByRange(partitions, col(byCol), col("_hk"), col("_id"))
      .sortWithinPartitions(col(byCol), col("_hk"), col("_id"))
      .withColumn("_pid", spark_partition_id())
      .persist()
    // O(#partitions × #domains) rows — the only driver-side step
    val perPart = base.groupBy(col("_pid"), col(byCol))
      .agg(sum(col("_tok")).as("_t"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val offRows = perPart.groupBy(_._2).toSeq.flatMap { case (dom, rows) =>
      var acc = 0L
      rows.sortBy(_._1).map { case (pid, _, t) =>
        val o = (pid, dom, acc); acc += t; o
      }
    }
    val offDf = spark.createDataFrame(offRows.toIndexedSeq)
      .toDF("_pid", byCol, "_off")
    val w = Window.partitionBy(col("_pid"), col(byCol))
      .orderBy(col("_hk"), col("_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offDf), Seq("_pid", byCol))
      .withColumn("_pre", coalesce(sum(col("_tok")).over(w), lit(0L)) + col("_off"))
      .filter(col("_pre") < col("_budget"))
      .select(col("_id").as(idCol), col(byCol), col("_tok").as("n_tokens"))
  }

  /** Exact duplicated-span scrubbing — the sliding-window form of exact
    * substring dedup (the "dedup the TEXT, not just the documents" pass):
    * every k-token window whose hash occurs MORE THAN ONCE in the corpus
    * (across documents or within one) marks its k positions as
    * duplicated; marked tokens are removed and documents reassembled.
    * ALL occurrences of a duplicated span are scrubbed — by design: this
    * removes boilerplate/repeated passages from surviving documents and
    * composes with [[NearDup.survivors]]/[[segmentDedup]], which keep a
    * canonical copy of whole documents. Windows slide (stride 1), so
    * duplicated passages are caught at ANY alignment — unlike
    * [[segmentDedup]]'s fixed segments.
    *
    * Shape: window hashes are the word-count shuffle (partial+final df
    * agg); duplicated-window hashes join back by hash (NOT broadcast —
    * at corpus scale the duplicated set is large; AQE picks the
    * strategy); coverage explodes to (doc_id, pos) longs and anti-joins
    * the token stream on (doc_id, pos). Nothing wider than (longs,
    * token) ever shuffles.
    *
    * @return `(doc_id, clean_text, n_removed)` — n_removed in TOKENS.
    */
  def scrubDuplicateSpans(docs: DataFrame, k: Int = 8,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val ts = TF.tokens(col(textCol))
    val base = docs.select(col(idCol).as("doc_id"), ts.as("ts"))
    val toks = base.select(col("doc_id"), posexplode(col("ts")))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok")
    val wins = base.select(col("doc_id"),
        posexplode(when(size(col("ts")) < k, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(col("ts")) - k),
            i => concat_ws(" ", slice(col("ts"), i + 1, lit(k)))))))
      .select(col("doc_id"), col("pos").as("i"),
        TF.hash60(col("col")).as("h"))
    val dup = wins.groupBy(col("h")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1).select(col("h"))
    val covered = wins.join(dup, "h")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
    base.select(col("doc_id"), size(col("ts")).cast("long").as("_n"))
      .join(kept.groupBy(col("doc_id"))
          .agg(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("p"), col("tok")))),
            s => s("tok"))).as("clean_text"),
            count(lit(1)).as("_k")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("_n") - coalesce(col("_k"), lit(0L))).as("n_removed"))
  }

  /** Sliding token-window chunking — the embedding/retrieval prep step:
    * each document becomes overlapping chunks of `window` tokens advancing
    * by `stride` (stride < window overlaps, = window tiles). The last
    * chunk is the final partial window, and a document shorter than one
    * window is one chunk; empty docs emit nothing.
    *
    * Shape: pure narrow per-row explode — no shuffle at all; chunk count
    * per doc is ceil(max(0, n-window)/stride)+1 so output size is
    * predictable from token counts.
    *
    * @return `(doc_id, chunk_idx, chunk_text, n_tokens)` per chunk.
    */
  def chunkTokens(docs: DataFrame, window: Int = 64, stride: Int = 32,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    val ts = TF.tokens(col(textCol))
    val n = size(ts)
    // starts: 0, stride, 2·stride, … last start <= n-1 and the final
    // window reaches the end: nChunks = floor((n-1)/stride)+1 capped so a
    // start beyond n-window only appears once (the final partial window
    // starting at the last stride multiple below n)
    val nChunks = when(n === 0, lit(0))
      .otherwise(greatest(ceil((n - window) / lit(stride.toDouble)).cast("int"), lit(0)) + 1)
    val chunks = when(n === 0, array().cast("array<struct<i:int,c:string>>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1), i =>
        struct(i.cast("int").as("i"),
          concat_ws(" ", slice(ts, i * stride + 1, lit(window))).as("c"))))
    docs.select(col(idCol).as("doc_id"), explode(chunks).as("ch"))
      .select(col("doc_id"), col("ch.i").cast("long").as("chunk_idx"),
        col("ch.c").as("chunk_text"),
        TF.tokenCount(col("ch.c")).cast("long").as("n_tokens"))
  }

  /** Per-row importance sampling — quality-weighted corpus thinning: each
    * document survives with probability `rate` (any per-row Column in
    * [0,1], e.g. a quality score), decided by the same md5(doc_id)
    * construction as [[mixWeighted]] so the sample is deterministic,
    * engine-reproducible, and monotone in the rate (raising a doc's rate
    * can only ADD it to the sample — stable re-runs as scores improve).
    * Fully narrow: scan + hash + filter, no shuffle.
    *
    * @return surviving rows, original columns.
    */
  def sampleByRate(docs: DataFrame, rate: Column,
                   idCol: String = "doc_id"): DataFrame = {
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 10000L
    docs.filter(u < (rate * 10000L).cast("long"))
  }

  /** Unigram language-model quality scoring — the CCNet-style filter:
    * score each document by its mean per-token surprisal (bits/token)
    * under the CORPUS'S OWN unigram distribution. Boilerplate and
    * in-distribution text scores low; gibberish, rare-token soup, and
    * wrong-language text scores high — the standard cheap proxy for
    * "would a language model find this text ordinary" used to bucket
    * crawl data by quality (CCNet does it with a KenLM 5-gram; the
    * unigram form needs no external model and the same thresholding
    * applies).
    *
    * Shape: token counts are the word-count shuffle (partial+final agg);
    * the vocabulary is capped to the top `vocabSize` tokens by count
    * (deterministic count-desc, token-asc tiebreak — a global
    * TakeOrdered of V rows, not a sort) and BROADCAST back over the
    * token stream; out-of-vocabulary tokens cost -log2(0.5/N) bits (seen
    * "half a time"). Per-token bits are rounded to 6 and summed in
    * DECIMAL, so the per-doc mean is exact and order-independent —
    * engine-reproducible like every other corpus score here.
    *
    * @return `(doc_id, n_tokens, lm_bits_per_token)` for every document
    *         (empty docs score 0.0 bits over 0 tokens).
    */
  def lmQualityScore(docs: DataFrame, vocabSize: Int = 65536,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(TF.tokens(col(textCol))).as("w"))
    // total and vocab both derive from ONE word-count aggregate (r21):
    // computing the total as its own count(*) over `tok` re-tokenized
    // the whole corpus a third time — sum-of-counts is the same number
    // (exact in double for any corpus under 2^53 tokens) off a frame of
    // at most |vocab| rows
    val wc = tok.groupBy(col("w")).agg(count(lit(1)).cast("double").as("c"))
    val total = wc.agg(sum(col("c")).as("n"))
    val vocab = wc.orderBy(col("c").desc, col("w")).limit(vocabSize)
    val scored = tok
      .join(broadcast(vocab), Seq("w"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(-log2(coalesce(col("c"), lit(0.5)) / col("n")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("bits"))
    // Mean + final rounding in EXACT INTEGER micro-bits (the pageRank
    // discipline): `sum(bits)` is decimal-exact, and `(2a+b) div (2b)`
    // IS round-half-up of a/b — so the only floating-point op left is
    // one IEEE division by 1e6, bit-identical in any engine. The
    // previous `cast(sum as double)/n -> round(..,6)` shape was correct
    // at sf0.01 but flipped the last digit at sf0.1: a mean landing
    // exactly on a …5e-7 boundary rounds differently once it has passed
    // through binary doubles.
    val agg = scored.groupBy(col("doc_id"))
      .agg(sum(col("bits")).as("sum_bits"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_bits") * lit(1000000L)).cast("long").as("sum_micro"))
    docs.select(col(idCol).as("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(expr("(2 * sum_micro + n_tokens) div (2 * n_tokens)"),
          lit(0L)).cast("double") / lit(1e6)).as("lm_bits_per_token"))
  }

  /** BIGRAM language-model quality scoring with STUPID BACKOFF — one rung
    * up the CCNet ladder from [[lmQualityScore]] (they use a KenLM 5-gram;
    * the bigram form is the smallest model where word ORDER matters, so
    * shuffled-token soup that fools the unigram scorer scores high here).
    *
    * Model, trained on the corpus itself:
    *   P(w | prev) = cb(prev,w) / ctx(prev)        if the bigram was kept
    *               = alpha · P_uni(w)              otherwise (stupid backoff,
    *                                               Brants et al. 2007)
    * where the bigram table keeps only pairs with count ≥ `bigramMinCount`
    * (rare pairs back off — and the pruning is what BOUNDS the table), and
    * `ctx` is the kept-table marginal. Each document's first token scores
    * under the unigram model (no context); `P_uni` uses the same
    * top-`vocabSize` capped vocabulary / 0.5-OOV rule as [[lmQualityScore]].
    *
    * Scale shape — the standard n-gram-LM join plan: the bigram table is a
    * partial+final count aggregate keyed by narrow (prev, w) string pairs
    * and JOINS (never broadcasts — it is O(distinct corpus bigrams), not
    * model-sized) against the per-doc bigram stream on the same key; the
    * capped unigram vocab broadcasts as before. Bigrams are built INSIDE
    * the token array (a per-row transform over `sequence`) — no
    * positional self-join, no extra shuffle to form pairs. Per-token bits
    * round to 6 and sum in DECIMAL: order-independent, replayable in SQL.
    *
    * @return `(doc_id, n_tokens, bigram_bits_per_token)` for every doc
    *         (empty docs score 0.0 over 0 tokens).
    */
  def bigramLmScore(docs: DataFrame, vocabSize: Int = 65536,
                    bigramMinCount: Long = 2,
                    alpha: Double = 0.4,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val base = bigramBase(docs, idCol, textCol)
    bigramScoreOn(base, bigramTrainOn(base, vocabSize, bigramMinCount), alpha)
  }

  /** The trained bigram model as three FRAMES — `(vocab(w, uc),
    * bigrams(prev, w, cb), contexts(prev, cc))` plus the scalar token
    * total. Unlike the driver-held centroid/codebook models, an n-gram
    * table is data-sized (O(distinct corpus bigrams)), so the model stays
    * distributed: stage these to the lake once (the CCNet shape — train on
    * a reference corpus, score every crawl against it) and join at score
    * time. */
  final case class BigramLm(vocab: DataFrame, bigrams: DataFrame,
                            contexts: DataFrame, totalTokens: Double)

  def bigramLmTrain(docs: DataFrame, vocabSize: Int = 65536,
                    bigramMinCount: Long = 2,
                    idCol: String = "doc_id",
                    textCol: String = "text"): BigramLm =
    bigramTrainOn(bigramBase(docs, idCol, textCol), vocabSize, bigramMinCount)

  private def bigramTrainOn(base: DataFrame, vocabSize: Int,
                            bigramMinCount: Long): BigramLm = {
    require(vocabSize > 0, "vocabSize must be positive")
    require(bigramMinCount >= 1, "bigramMinCount must be >= 1")
    val tok = base.select(col("doc_id"), explode(col("ts")).as("w"))
    val n = tok.count().toDouble
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).cast("double").as("uc"))
      .orderBy(col("uc").desc, col("w")).limit(vocabSize)
    val bc = bigramStream(base).groupBy(col("prev"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= bigramMinCount)
      .select(col("prev"), col("w"), col("cnt").cast("double").as("cb"))
    val ctx = bc.groupBy(col("prev")).agg(sum(col("cb")).as("cc"))
    BigramLm(vocab, bc, ctx, n)
  }

  def bigramLmScoreFrom(docs: DataFrame, model: BigramLm,
                        alpha: Double = 0.4,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    bigramScoreOn(bigramBase(docs, idCol, textCol), model, alpha)

  private def bigramScoreOn(base: DataFrame, model: BigramLm,
                            alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha in (0, 1]")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val n = lit(model.totalTokens)
    val firstBits = base.filter(size(col("ts")) >= 1)
      .select(col("doc_id"), col("ts").getItem(0).as("w"))
      .join(broadcast(model.vocab), Seq("w"), "left")
      .select(col("doc_id"),
        round(-log2(coalesce(col("uc"), lit(0.5)) / n), 6)
          .cast(dec).as("bits"))
    val bgBits = bigramStream(base)
      .join(model.bigrams, Seq("prev", "w"), "left")
      .join(model.contexts, Seq("prev"), "left")
      .join(broadcast(model.vocab), Seq("w"), "left")
      .select(col("doc_id"),
        round(when(col("cb").isNotNull, -log2(col("cb") / col("cc")))
          .otherwise(-log2(lit(alpha) *
            coalesce(col("uc"), lit(0.5)) / n)), 6)
          .cast(dec).as("bits"))
    // exact integer micro-bit mean — see [[lmQualityScore]]'s tail for
    // why the double-cast mean flips last digits at larger SFs
    val agg = firstBits.union(bgBits).groupBy(col("doc_id"))
      .agg(sum(col("bits")).as("sum_bits"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_bits") * lit(1000000L)).cast("long").as("sum_micro"))
    base.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(expr("(2 * sum_micro + n_tokens) div (2 * n_tokens)"),
          lit(0L)).cast("double") / lit(1e6)).as("bigram_bits_per_token"))
  }

  /** Token-array spine, materialized by an eager localCheckpoint: every
    * branch of train and score reads it, and the one-call monolith hands
    * the same checkpoint to both, so it tokenizes once. Its blocks are
    * GC-reclaimed with the frames reading them; no cache entry outlives
    * the call. */
  private def bigramBase(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TF.tokens(col(textCol)).as("ts")).localCheckpoint(true)

  /** `(doc_id, prev, w)` built INSIDE the token array — per-row transform
    * over `sequence`, no positional self-join. sequence(1, 0) would be
    * DESCENDING (the segmentDedup guard), so short docs get an explicit
    * empty array. */
  private def bigramStream(base: DataFrame): DataFrame = {
    val bgArr = when(size(col("ts")) >= 2,
      expr("transform(sequence(1, size(ts) - 1), " +
        "i -> struct(ts[i - 1] AS prev, ts[i] AS w))"))
      .otherwise(expr("CAST(array() AS array<struct<prev:string,w:string>>)"))
    base.select(col("doc_id"), explode(bgArr).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.w").as("w"))
  }

  /** Per-document CHARACTER entropy — the cheap gibberish/encoding-noise
    * signal (binary blobs, mojibake, and key-mash text sit far from
    * natural language's ~4 bits/char; repeated-char padding sits near
    * 0): H = -Σ_c (n_c/n)·log2(n_c/n) over the document's characters.
    *
    * Shape: characters explode to (doc_id, char) pairs and reduce by the
    * word-count shuffle (partial+final count), then one per-doc
    * aggregate — O(alphabet) rows per document after the first combine,
    * never O(doc length²) (the per-row higher-order-function formulation
    * would be quadratic in document length). Per-character terms round
    * to 9 and sum in DECIMAL: order-independent, engine-reproducible.
    *
    * @return `(doc_id, n_chars, char_entropy_bits)`; empty docs score 0.
    */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    // guard: Spark's sequence(1, 0) is a DESCENDING sequence, not empty
    val positions = when(length(col(textCol)) === 0,
        array().cast("array<int>"))
      .otherwise(sequence(lit(1), length(col(textCol))))
    val chars = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_t"),
        explode(positions).as("_i"))
      .select(col("doc_id"), expr("substring(_t, _i, 1)").as("ch"))
    val hist = chars.groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val perDoc = hist
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
    val terms = perDoc.select(col("doc_id"),
      round(-(col("c") / col("n")) *
        log2(col("c").cast("double") / col("n")), 9)
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("bits"))
    // Final rounding in EXACT INTEGER nano->micro bits: the per-term
    // decimal sum is exact, and `(nano + 500) div 1000` IS
    // round-half-up to 6 dp for the non-negative entropy — no double
    // touches the value until one final IEEE division by 1e6. (The
    // previous `cast(sum as double) -> round(..,6)` flipped the last
    // digit at sf0.1 when a sum landed exactly on a …5e-7 boundary.)
    val agg = terms.groupBy(col("doc_id"))
      .agg(sum(col("bits")).as("sum_bits"))
      .select(col("doc_id"),
        (col("sum_bits") * lit(1000000000L)).cast("long").as("nano"))
    docs.select(col(idCol).as("doc_id"),
        length(col(textCol)).cast("long").as("n_chars"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        (coalesce(expr("(nano + 500) div 1000"), lit(0L)).cast("double") /
          lit(1e6)).as("char_entropy_bits"))
  }

  /** BM25 relevance scoring of the corpus against a fixed term set —
    * quality-filtering / topic-selection by retrieval score. Classic
    * Robertson/Sparck-Jones BM25 with the +1 idf floor (Lucene's form, so
    * idf is never negative): for each document,
    * `score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`.
    *
    * Shape: corpus statistics (N, avgdl, df per term) reduce to ONE row by
    * partial+final aggregation and ride a broadcast cross-join back onto
    * the scan; term frequencies are narrow per-row array ops over the
    * token list (terms are a compile-time-small set). Top-k is a global
    * sort of only score-positive docs with limit pushdown (TakeOrdered).
    *
    * @return top-`k` `(doc_id, score)` by `round(score, 6)` desc, doc_id asc.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 20,
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one term")
    // tokenize ONCE per row into a materialized projection column: the
    // per-term tf/df expressions below each reference `_ts`, and as a
    // bound attribute that is one array read — as an inline expression it
    // would re-run the regex tokenizer O(#terms) times per row unless
    // codegen CSE happened to catch every copy (a structural guarantee
    // beats an optimizer courtesy)
    val tokenized = docs.select(col(idCol), TF.tokens(col(textCol)).as("_ts"))
    val ts = col("_ts")
    def tf(t: String): Column =
      size(filter(ts, x => x === lit(t))).cast("double")
    val stats = tokenized.agg(
      count(lit(1)).cast("double").as("_n"),
      avg(size(ts).cast("double")).as("_avgdl") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(ts, t), 1L).otherwise(0L))
            .cast("double").as(s"_df$i") }: _*)
    val scored = tokenized.crossJoin(broadcast(stats))
      .withColumn("_dl", size(ts).cast("double"))
      .withColumn("score",
        terms.zipWithIndex.map { case (t, i) =>
          val idf = log(lit(1.0) +
            (col("_n") - col(s"_df$i") + lit(0.5)) / (col(s"_df$i") + lit(0.5)))
          val tfv = tf(t)
          idf * (tfv * (k1 + 1.0)) /
            (tfv + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl")))
        }.reduce(_ + _))
      .filter(col("score") > 0.0)
      .select(col(idCol).as("doc_id"), round(col("score"), 6).as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** DSIR-style importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", 2023): score every raw
    * document by how much more likely its hashed-n-gram bag is under the
    * TARGET domain's feature distribution than under the raw corpus's own —
    * `log p̂_tgt(doc) − log p̂_raw(doc) = Σ_f c_f · (ln p̂_tgt[f] − ln p̂_raw[f])`
    * over Laplace-smoothed bucket unigram models. High-scoring documents
    * "look like" the target domain; thinning the corpus by this weight is
    * the published recipe for domain-targeted pretraining selection.
    *
    * Features are counted unigram+bigram hash buckets
    * ([[graft.functions.WordNgramBuckets]] — one fused codegen loop per
    * row; the paper's hashed n-gram model). Both distributions come out
    * of ONE corpus pass: the target is a predicate over the same frame
    * (`isTarget`), so the per-bucket histogram aggregates raw and target
    * counts side by side — no second scan of the text.
    *
    * Scale shape: one text scan → per-(doc, bucket) counts (map-side
    * combined, at most `buckets` rows per doc after the first combine);
    * the model itself is O(buckets) rows — broadcast, never a shuffle of
    * the corpus on anything wide. Per-bucket log-ratios round to 6 and
    * multiply counts in DECIMAL, so the per-doc sum is order-independent
    * and engine-reproducible (the [[lmQualityScore]] convention).
    *
    * @return `(doc_id, n_feats, dsir_logratio)` — one row per input doc
    *         (feature-less docs score 0), logratio rounded to 6.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int = 4096,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    import graft.functions.WordNgramBuckets
    val feats = docs.select(col(idCol).as("doc_id"), isTarget.as("_tgt"),
      explode(WordNgramBuckets(col(textCol), 2, buckets)).as("f"))
    // one text scan: per-(doc, bucket) counts carry the target flag along
    val perDoc = feats.groupBy(col("doc_id"), col("_tgt"), col("f"))
      .agg(count(lit(1)).as("c"))
    // both histograms from the already-reduced counts, never the text
    val hist = perDoc.groupBy(col("f")).agg(
      sum(col("c")).as("cr"),
      sum(when(col("_tgt"), col("c")).otherwise(lit(0L))).as("ct"))
    val tot = hist.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val lam = hist.crossJoin(broadcast(tot)).select(col("f"),
      round(log((col("ct") + 1).cast("double") / (col("tt") + buckets)) -
            log((col("cr") + 1).cast("double") / (col("tr") + buckets)), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("lam"))
    val w = perDoc.join(broadcast(lam), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("lam")).as("wsum"), sum(col("c")).as("nf"))
    docs.select(col(idCol).as("doc_id")).join(w, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nf"), lit(0L)).as("n_feats"),
        round(coalesce(col("wsum").cast("double"), lit(0.0)), 6)
          .as("dsir_logratio"))
  }

  /** TRAINED quality/domain classifier — the GPT-3/CCNet recipe: a
    * logistic regression over counted hashed-n-gram features, positives =
    * a curated target slice, negatives = the raw corpus — NAIVE-BAYES
    * INITIALIZED and refined by full-batch gradient descent IN the
    * engine, then scored over every document. The classic use: train
    * against a trusted corpus and keep raw documents the classifier
    * scores target-like.
    *
    * Initialization IS the generative solution: `w₀[f]` = the per-bucket
    * Laplace-smoothed log-likelihood ratio — exactly [[dsirWeights]]'
    * model — so `σ(w₀·x)` is already the naive-Bayes posterior and the
    * descent starts from a strong separator instead of a flat one
    * (`nbInit = false` gives the cold start). GD then refines the
    * weights DISCRIMINATIVELY — NB double-counts correlated n-grams
    * (adjacent bigrams share their unigrams by construction); the
    * logistic gradient sees the joint prediction and backs correlated
    * features off, and the bias learns the class prior the likelihood
    * ratio ignores.
    *
    * Training is distributed AND engine-reproducible, the
    * [[graft.operators.Ann.trainCentroids]] discipline applied to GD:
    *
    *  - features: counted unigram+bigram buckets
    *    ([[graft.functions.WordNgramBuckets]]), raw counts (`x_f = c_f`
    *    — the NB-init scores are then exact document log-ratios);
    *    per-(doc,bucket) counts reduce once, persisted, reused by every
    *    iteration and the final scoring pass;
    *  - forward pass: `w·x = Σ w_f·c_f` accumulates EXACTLY in DECIMAL
    *    (weights are round-6 decimals, counts are ints);
    *    `p = σ(b + w·x)` rounds to 6;
    *  - gradient: MEAN gradients — per-(doc,f) terms `(p−y)·c_f/N`
    *    round to 12 and sum in DECIMAL — order-independent, so the
    *    distributed sum is bit-identical to any serial replay, and the
    *    1/N keeps the step size corpus-size-invariant (the same lr
    *    behaves identically at sf0.001 and at 100 TB);
    *  - update: `w ← round(w − lr·g, 6)` in exact decimal HALF_UP — the
    *    driver holds O(buckets) weights (model-sized, like centroids),
    *    never data.
    *
    * Every decision is replayable in SQL, so the oracle reproduces the
    * TRAINING as an unrolled CTE chain (NB-init weights, then one
    * forward+gradient+update trio per iteration) before scoring — the
    * same pattern as the IVF oracle.
    *
    * Scale shape: one text scan builds the feature counts; each iteration
    * is one broadcast-join aggregation over those counts (model rows ≤
    * `buckets`); at 100 TB the per-iteration cost is a map-side-combined
    * sum of narrow longs/decimals, and iterations are a small constant.
    *
    * @param lr raw-count features mean `Σ_f x_f` = doc length, so keep
    *           lr small (default 0.02) — the NB init carries separation,
    *           GD only has to calibrate.
    * @param buckets size well above the expected distinct-n-gram count's
    *                collision density (production hashing dims are 2^18+):
    *                when most buckets mix classes, the smoothed log-ratios
    *                collapse toward a small positive constant and
    *                length-proportional scores saturate σ for every doc.
    * @return `(doc_id, quality_prob)` — σ(b + w·x) rounded to 6, one row
    *         per input doc (feature-less docs score σ(b)).
    */
  def qualityClassifierScore(docs: DataFrame, isPositive: Column,
                             buckets: Int = 1024, iters: Int = 4,
                             lr: BigDecimal = BigDecimal("0.02"),
                             nbInit: Boolean = true,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             localTrain: Boolean = true): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(iters >= 1, "at least one GD iteration")
    val (feats, base) = qcFrames(docs, isPositive, buckets, idCol, textCol)
    try {
      val (w, b) = qcTrainCore(feats, base, buckets, iters, lr, nbInit,
        localTrain)
      qcProbs(feats, base, w, b)
        .select(col("doc_id"),
          col("p").cast("double").as("quality_prob"))
    } finally { feats.unpersist(); base.unpersist() }
  }

  /** TRAIN-only half of [[qualityClassifierScore]]: same features, same
    * NB init, same DECIMAL GD — returns the driver-held model
    * `(bucket → weight, bias)` without the final scoring pass. Split out
    * so the bench can price training and serving separately (the
    * `ann_ivf_train`/`_query` attribution discipline). */
  def qualityClassifierTrain(docs: DataFrame, isPositive: Column,
                             buckets: Int = 1024, iters: Int = 4,
                             lr: BigDecimal = BigDecimal("0.02"),
                             nbInit: Boolean = true,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             localTrain: Boolean = true,
                             maxTrainDocs: Long = 0L,
                             trainSeed: String = "qc")
      : (Map[Int, BigDecimal], BigDecimal) = {
    require(buckets > 0, "buckets must be positive")
    require(iters >= 1, "at least one GD iteration")
    // LABELED-SLICE CAP (the quantizer-training posture applied to the
    // classifier, [[graft.operators.Ann.DefaultMaxTrainVectors]]): when
    // `maxTrainDocs > 0`, training sees at most that many docs — the N
    // smallest md5(seed+id) rows, a seeded uniform draw that is
    // deterministic and partition-independent (TakeOrdered, never a full
    // sort). Feature extraction, NB init, and every GD iteration then
    // price O(cap), not O(labeled slice) — at 100 TB the labeled slice
    // itself can be corpus-scale (e.g. "lang = en"), and an uncapped
    // trainer would re-scan it once per iteration. SCORING
    // ([[qualityClassifierScoreWith]]) still covers every document.
    // 0 disables (train on the whole slice — the oracle-replayed shape).
    val capped =
      if (maxTrainDocs <= 0) docs
      else docs.orderBy(
        md5(concat(lit(s"${trainSeed}cap_"), col(idCol).cast("string"))),
        col(idCol)).limit(
          math.min(maxTrainDocs, Int.MaxValue.toLong).toInt)
    val (feats, base) = qcFrames(capped, isPositive, buckets, idCol, textCol)
    try qcTrainCore(feats, base, buckets, iters, lr, nbInit, localTrain)
    finally { feats.unpersist(); base.unpersist() }
  }

  /** SERVE-only half: score docs against a PREBUILT model — one text pass
    * (feature explode + broadcast weight join), no label needed, no
    * training jobs. This is the shape that runs over the 100 TB corpus;
    * training sees only the (much smaller) labeled slice. */
  def qualityClassifierScoreWith(docs: DataFrame,
                                 w: Map[Int, BigDecimal], b: BigDecimal,
                                 buckets: Int = 1024,
                                 idCol: String = "doc_id",
                                 textCol: String = "text"): DataFrame = {
    val (feats, base) = qcFrames(docs, lit(false), buckets, idCol, textCol)
    try qcProbs(feats, base, w, b)
      .select(col("doc_id"), col("p").cast("double").as("quality_prob"))
    finally { feats.unpersist(); base.unpersist() }
  }

  /** Persisted `(doc_id, _y, f, c)` bucket-count features + `(doc_id, _y)`
    * base rows — the two frames every classifier phase shares. */
  private def qcFrames(docs: DataFrame, isPositive: Column, buckets: Int,
                       idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    import graft.functions.WordNgramBuckets
    val feats = docs.select(col(idCol).as("doc_id"),
        isPositive.cast("int").as("_y"),
        explode(WordNgramBuckets(col(textCol), 2, buckets)).as("f"))
      .groupBy(col("doc_id"), col("_y"), col("f"))
      .agg(count(lit(1)).as("c"))
      .persist()
    val base = docs.select(col(idCol).as("doc_id"),
      isPositive.cast("int").as("_y")).persist()
    (feats, base)
  }

  /** Sigmoid scores for every base row under a driver-held model. */
  private def qcProbs(feats: DataFrame, base: DataFrame,
                      wm: Map[Int, BigDecimal], bias: BigDecimal): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spark = feats.sparkSession
    import spark.implicits._
    val wDf = wm.toSeq.toDF("f", "w")
      .select(col("f"), col("w").cast(DecimalType(18, 6)).as("w"))
    val dot = feats.join(broadcast(wDf), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w") * col("c")).as("dot"))
    base.join(dot, Seq("doc_id"), "left")
      .select(col("doc_id"), col("_y"),
        (lit(bias.toDouble) +
          coalesce(col("dot").cast("double"), lit(0.0))).as("s"))
      .select(col("doc_id"), col("_y"),
        round(lit(1.0) / (lit(1.0) + exp(-col("s"))), 6)
          .cast(DecimalType(10, 6)).as("p"))
  }

  /** Row budget for DRIVER-LOCAL classifier training: when the labeled
    * slice's feature rows (and its doc rows) fit, the GD loop runs on
    * the driver with exact decimal twins — the [[graft.functions.Bpe]] /
    * quantizer dividing line applied here: the labeled TRAINING slice is
    * dictionary-like (bounded, collected once), while SCORING the 100 TB
    * corpus stays a distributed one-pass. 2M rows × ~30 B ≈ 60 MB. */
  val DefaultMaxDriverFeatureRows: Long = 1L << 21

  /** Half-up round of a double at `scale` — the engine `round()` rule
    * (java BigDecimal of the shortest decimal repr; NaN/Inf pass). */
  private def roundD(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Scale-12 half-up of a double as EXACT picos (the
    * `round(t, 12)::DECIMAL(24,12)` term the gradient sums). */
  private def pico12(x: Double): Long =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .movePointRight(12).longValueExact()

  /** Local twin of [[qcTrainCore]]'s NB-init + GD loop over the COLLECTED
    * labeled slice. Exactness contract, mirrored op-for-op against the
    * engine expressions (the SQL training-replay oracle catches drift):
    * micro-long dots (w is scale-6 decimal, ×long counts — exact; the
    * decimal→double cast equals micros/1e6, both the nearest double of
    * the same rational), `Math.exp`/`Math.log` (the same JVM intrinsics
    * Catalyst codegen calls), round-6/round-12 via shortest-repr
    * BigDecimal HALF_UP (the Round expression's rule), pico-long exact
    * gradient sums, and the identical scale-6 weight update. */
  private def qcTrainLocal(featRows: Array[(Int, Int, Long)], // docIdx, f, c
                           y: Array[Int], buckets: Int, iters: Int,
                           lr: BigDecimal, nbInit: Boolean)
      : (Map[Int, BigDecimal], BigDecimal) = {
    val nDocs = y.length
    val present = featRows.map(_._2).distinct.sorted
    var w: Map[Int, BigDecimal] =
      if (nbInit) {
        val cr = new java.util.HashMap[Integer, Long]()
        val ct = new java.util.HashMap[Integer, Long]()
        featRows.foreach { case (d, f, c) =>
          cr.merge(f, c, (a, b) => a + b)
          if (y(d) == 1) ct.merge(f, c, (a, b) => a + b)
        }
        var tr = 0L; var tt = 0L
        cr.forEach((_, v) => tr += v)
        ct.forEach((_, v) => tt += v)
        present.map { f =>
          val crf = cr.getOrDefault(f, 0L)
          val ctf = ct.getOrDefault(f, 0L)
          val v = roundD(
            Math.log((ctf + 1L).toDouble / (tt + buckets)) -
            Math.log((crf + 1L).toDouble / (tr + buckets)), 6)
          f -> BigDecimal(new java.math.BigDecimal(
            java.lang.Double.toString(v)).setScale(6,
              java.math.RoundingMode.HALF_UP))
        }.toMap
      } else present.map(_ -> BigDecimal(0)).toMap
    var b: BigDecimal = BigDecimal(0)
    // per-doc feature slices for the dot pass
    val byDoc = featRows.groupBy(_._1)
    val pd = new Array[Double](nDocs)
    for (_ <- 1 to iters) {
      // forward: s = bias + Σ w_f·c (micro-exact), p = round(σ(s), 6)
      val micro = new java.util.HashMap[Integer, Long]()
      w.foreach { case (f, wf) =>
        micro.put(f, wf.underlying.movePointRight(6).longValueExact()) }
      var d = 0
      while (d < nDocs) {
        val rows = byDoc.getOrElse(d, Array.empty[(Int, Int, Long)])
        var micros = 0L
        rows.foreach { case (_, f, c) => micros += micro.get(f) * c }
        val s = b.toDouble +
          (if (rows.isEmpty) 0.0 else micros.toDouble / 1e6)
        pd(d) = roundD(1.0 / (1.0 + Math.exp(-s)), 6)
        d += 1
      }
      // gradients: per-f and bias pico sums of the round-12 terms
      val gPico = new java.util.HashMap[Integer, Long]()
      featRows.foreach { case (di, f, c) =>
        gPico.merge(f,
          pico12((pd(di) - y(di)) * c / nDocs), (a, x) => a + x)
      }
      var bPico = 0L
      d = 0
      while (d < nDocs) { bPico += pico12((pd(d) - y(d)) / nDocs); d += 1 }
      w = present.foldLeft(w) { (m, f) =>
        val g = BigDecimal(java.math.BigDecimal.valueOf(
          gPico.getOrDefault(f, 0L), 12))
        m.updated(f, (m(f) - lr * g)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
      }
      b = (b - lr * BigDecimal(java.math.BigDecimal.valueOf(bPico, 12)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    (w, b)
  }

  private def qcTrainCore(feats: DataFrame, base: DataFrame, buckets: Int,
                          iters: Int, lr: BigDecimal, nbInit: Boolean,
                          localTrain: Boolean = true,
                          maxDriverFeatureRows: Long = DefaultMaxDriverFeatureRows)
      : (Map[Int, BigDecimal], BigDecimal) = {
    import org.apache.spark.sql.types.DecimalType
    val spark = feats.sparkSession
    import spark.implicits._
    // DRIVER-LOCAL path: the labeled slice fits the row budget — collect
    // once, run the identical NB-init + GD arithmetic locally (zero
    // engine jobs per iteration). Null labels or ids fall through to the
    // distributed loop rather than guessing a skip rule.
    if (localTrain && maxDriverFeatureRows > 0 &&
        base.count() <= maxDriverFeatureRows &&
        feats.count() <= maxDriverFeatureRows) {
      val baseRows = base.collect()
      if (baseRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) {
        val idx = new java.util.HashMap[Any, Integer]()
        val y = new Array[Int](baseRows.length)
        baseRows.zipWithIndex.foreach { case (r, i) =>
          idx.put(r.get(0), i); y(i) = r.getInt(1) }
        val fr = feats.collect()
        if (fr.forall(r => !r.isNullAt(0) && idx.containsKey(r.get(0)) &&
            !r.isNullAt(2) && !r.isNullAt(3))) {
          return qcTrainLocal(
            fr.map(r => (idx.get(r.get(0)).intValue(), r.getInt(2),
              r.getLong(3))),
            y, buckets, iters, lr, nbInit)
        }
      }
    }
    {
      // the model: bucket -> weight, driver-held between iterations
      // (O(buckets) rows — model-sized, the k-means centroid discipline).
      // NB init = the dsirWeights per-bucket log-ratio, computed from the
      // SAME persisted counts (no second text scan).
      var w: Map[Int, BigDecimal] =
        if (nbInit) {
          val hist = feats.groupBy(col("f")).agg(
            sum(col("c")).as("cr"),
            sum(when(col("_y") === 1, col("c")).otherwise(lit(0L))).as("ct"))
          val tot = hist.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
          hist.crossJoin(broadcast(tot)).select(col("f"),
              round(log((col("ct") + 1).cast("double") / (col("tt") + buckets)) -
                    log((col("cr") + 1).cast("double") / (col("tr") + buckets)), 6)
                .cast(DecimalType(18, 6)).as("w"))
            .as[(Int, java.math.BigDecimal)].collect()
            .map { case (f, v) => f -> BigDecimal(v) }.toMap
        } else {
          feats.select(col("f")).distinct().as[Int].collect()
            .map(_ -> BigDecimal(0)).toMap
        }
      var b: BigDecimal = BigDecimal(0)
      val nDocs = base.count()
      for (_ <- 1 to iters) {
        // p feeds BOTH the weight-gradient and bias-gradient jobs — one
        // (doc_id, _y, p) row per doc, persist so the forward pass
        // (feats ⋈ model join + sigmoid) prices once per iteration
        val p = qcProbs(feats, base, w, b).persist()
        // ONE action per iteration: the bias gradient (a global agg over
        // p) rides the same collect as the per-bucket gradients, keyed
        // by the sentinel bucket -1 (real buckets are non-negative).
        // Identical arithmetic to separate jobs — DECIMAL sums are
        // order-independent — just one scheduled job instead of two.
        val bucketGrads = feats
          .join(p.select(col("doc_id"), col("p")), Seq("doc_id"))
          .select(col("f"),
            round((col("p").cast("double") - col("_y")) * col("c")
                / lit(nDocs), 12)
              .cast(DecimalType(24, 12)).as("t"))
          .groupBy(col("f")).agg(sum(col("t")).as("g"))
        val biasGrad = p
          .select(round((col("p").cast("double") - col("_y")) / lit(nDocs), 12)
            .cast(DecimalType(24, 12)).as("t"))
          .agg(sum(col("t")).as("g"))
          .select(lit(-1).as("f"), col("g"))
        val rows = bucketGrads.unionAll(biasGrad)
          .as[(Int, java.math.BigDecimal)].collect()
        p.unpersist()
        val gBias = rows.collectFirst { case (-1, g) => g }.orNull
        w = rows.filter(_._1 != -1).foldLeft(w) { case (m, (f, g)) =>
          m.updated(f, (m(f) - lr * BigDecimal(g))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP))
        }
        b = (b - lr * BigDecimal(gBias))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      (w, b)
    }
  }

  /** TRAIN a byte-pair-encoding tokenizer on the corpus — the real
    * subword algorithm (Sennrich et al. 2016), not a heuristic estimate:
    * repeatedly count adjacent symbol pairs over the word-frequency
    * dictionary and merge the most frequent, `maxMerges` times.
    *
    * Scale shape — the textbook trick carries the whole thing: training
    * never touches documents after the FIRST aggregation. One corpus
    * scan reduces text to the distinct-word dictionary (`(word, count)` —
    * millions of rows at 100 TB, not trillions); every merge round is
    * then one pair-explode + partial+final count over the DICTIONARY
    * plus a narrow per-word rewrite ([[graft.functions.BpeMergeApply]]).
    * The driver sees one row per round (the argmax pair) — model-sized,
    * never data. Rounds persist their dictionary state and drop the
    * previous one, so lineage stays one round deep.
    *
    * Deterministic end to end: the argmax tie-breaks (count desc, pair
    * string asc in binary/code-point order), counts are exact longs, and
    * training stops early when the best pair drops below `minPairCount`
    * (merging singletons is noise). Same corpus → same merge list, on
    * any partitioning — and the SAME list from either execution path
    * below.
    *
    * Two execution paths, chosen by measured dictionary size:
    *  - `|dict| <= maxDriverVocab` (the realistic case — even web-scale
    *    corpora reduce to a bounded distinct-word dictionary, and
    *    production tokenizer trainers are in-memory at this stage): the
    *    dictionary collects ONCE and [[graft.functions.Bpe.trainLocal]]
    *    runs the classic incremental-pair-count loop — a 10k-merge
    *    vocabulary is a driver loop over model-sized state, not 10k
    *    driver-coordinated engine jobs.
    *  - larger dictionaries fall back to the distributed loop below,
    *    which never collects the dictionary — and since r14 batches
    *    merges in WINDOWS: each round counts pairs once, collects ONLY
    *    the words containing a top ("hot") pair (bounded by
    *    `maxDriverVocab` rows — the same driver budget), and
    *    [[graft.functions.Bpe.trainWindow]] accepts merges locally
    *    while each is PROVABLY the global argmax (exact hot totals,
    *    intrusion bound on everything uncollected), then one job folds
    *    the whole window into the distributed state. ~3 jobs per
    *    window instead of 2 per merge — identical merge list (window
    *    boundaries never reorder; every accepted merge is the true
    *    global argmax at its turn, pinned by the parity spec).
    *    `maxDriverVocab = 0` forces the UNBATCHED one-job-per-merge
    *    round (no driver collection at all — also how the parity spec
    *    pins the paths against each other); `batchPairs` sizes the hot
    *    set per window.
    *
    * TRAINING-SAMPLE CAP (`maxTrainDocs` — the
    * [[qualityClassifierTrain]] labeled-slice discipline): when > 0,
    * merge statistics are learned from at most that many documents — the
    * N smallest `md5(seed + id)` rows, a seeded uniform draw that is
    * deterministic and partition-independent (TakeOrdered, never a full
    * sort). Pair frequencies are corpus-level statistics that converge
    * on a bounded sample like any trainer's (production BPE trainers
    * routinely train on a slice); ENCODING (`bpeTokenCounts` /
    * `bpeTokenIds`) still covers every document, so the only thing the
    * cap changes is which merge list is learned — and the oracle
    * capture-injects the merges, so a capped query verifies exactly like
    * an uncapped one. Measured (r19, sf0.1→sf1 decade): uncapped
    * training grows ~6× with the corpus (the last uncapped trainer on
    * the board); capped at the sf0.1 doc count the ratio drops to the
    * encode scan's. 0 disables (train on everything).
    *
    * @return learned merges, rank order — each `"left right"`.
    */
  def bpeTrain(docs: DataFrame, maxMerges: Int = 40, minPairCount: Long = 2L,
               textCol: String = "text",
               maxDriverVocab: Int = 1 << 20,
               batchPairs: Int = 64,
               maxTrainDocs: Long = 0L,
               idCol: String = "doc_id",
               trainSeed: String = "bpe"): Seq[String] = {
    require(maxMerges >= 1, "maxMerges must be >= 1")
    val trainDocs =
      if (maxTrainDocs <= 0) docs
      else docs.orderBy(
        md5(concat(lit(s"${trainSeed}cap_"), col(idCol).cast("string"))),
        col(idCol)).limit(
          math.min(maxTrainDocs, Int.MaxValue.toLong).toInt)
    // the ONE corpus-sized scan; checkpointed so sizing + training reuse
    // the materialized dictionary instead of re-aggregating text
    val words = trainDocs
      .select(explode(TF.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    if (maxDriverVocab > 0 && words.count() <= maxDriverVocab) {
      val dict = words.collect().map(r => (r.getString(0), r.getLong(1)))
      return graft.functions.Bpe.trainLocal(dict, maxMerges, minPairCount)
    }
    // localCheckpoint per round — NOT persist: caching keeps the data hot
    // but the LOGICAL plan would still chain one round deeper per merge,
    // and 40 rounds of compounding re-analysis/planning cost dwarf the
    // (dictionary-sized) work itself. Checkpointing truncates lineage to
    // a materialized-RDD scan; superseded rounds are dereferenced and the
    // ContextCleaner reclaims their blocks.
    var state = words.select(col("cnt"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("parts"))
      .localCheckpoint(true)
    def pairBagExpr = expr("transform(sequence(1, size(parts) - 1), " +
      "i -> concat(parts[i-1], ' ', parts[i]))")
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = false
    while (!done && merges.size < maxMerges) {
      val pairs = state
        .filter(size(col("parts")) >= 2)
        .select(col("cnt"), explode(pairBagExpr).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
      // the top `batchPairs` pairs seed a merge WINDOW; top(0) doubles as
      // the plain argmax when the window cannot run
      val top = pairs.orderBy(col("c").desc, col("pair").asc)
        .limit(math.max(1, batchPairs)).collect()
      if (top.isEmpty || top(0).getLong(1) < minPairCount) done = true
      else {
        // hot = every pair STRICTLY above the last collected count (ties
        // at the boundary may extend past the limit, so the boundary
        // count itself is the exclusive ceiling of the uncollected
        // region); a short top holds ALL pairs — ceiling 0
        val thetaExcl =
          if (top.length < math.max(1, batchPairs)) 0L
          else top.last.getLong(1)
        val hot = top.filter(_.getLong(1) > thetaExcl)
        val window: Seq[String] =
          if (hot.isEmpty || maxDriverVocab <= 0) Seq.empty
          else {
            val hotPairs = hot.map(_.getString(0))
            val cand = state.filter(size(col("parts")) >= 2)
              .filter(arrays_overlap(pairBagExpr,
                array(hotPairs.toIndexedSeq.map(lit): _*)))
            // the hot-word subset must fit the same driver budget the
            // dictionary itself exceeded; else this round stays unbatched
            if (cand.count() > maxDriverVocab) Seq.empty
            else graft.functions.Bpe.trainWindow(
              cand.select(col("parts"), col("cnt")).collect()
                .map(r => (r.getSeq[String](0).toArray, r.getLong(1))),
              hot.map(r => r.getString(0) -> r.getLong(1)).toMap,
              thetaExcl, maxMerges - merges.size, minPairCount)
          }
        if (window.nonEmpty) {
          merges ++= window
          // ONE rewrite job applies the whole window in merge order via a
          // single flat expression — a foldLeft of per-merge BpeMergeApply
          // would nest one codegen call per merge and a 64-deep chain
          // courts Janino's 64KB method limit (silent interpreted fallback)
          state = state.select(col("cnt"),
              graft.functions.BpeMergesApply(col("parts"),
                window.map { m =>
                  val Array(l, r) = m.split(" ", 2); (l, r)
                }).as("parts"))
            .localCheckpoint(true)
        } else {
          // unbatched round: flat counts (no strict top region), a
          // forced maxDriverVocab=0, or an over-budget hot subset
          val pair = top(0).getString(0)
          val Array(l, r) = pair.split(" ", 2)
          merges += pair
          state = state.select(col("cnt"),
              graft.functions.BpeMergeApply(col("parts"), l, r).as("parts"))
            .localCheckpoint(true)
        }
      }
    }
    merges.toSeq
  }

  /** Per-document token counts under a learned BPE merge table
    * ([[bpeTrain]]) — one narrow codegen'd pass
    * ([[graft.functions.BpeTokenCount]]), no shuffle: the subword cost
    * model a packing/budgeting pipeline actually bills against.
    *
    * @return `(doc_id, n_bpe_tokens)`.
    */
  def bpeTokenCounts(docs: DataFrame, merges: Seq[String],
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.BpeTokenCount(col(textCol), merges)
        .cast("long").as("n_bpe_tokens"))

  /** Train a unigram-LM (SentencePiece-family) vocabulary on the corpus —
    * the [[bpeTrain]] execution shape: ONE distributed scan reduces the
    * corpus to its (word, count) dictionary, then
    * [[graft.functions.Unigram.trainLocal]] runs the Viterbi-EM + prune
    * loop driver-local over that model-sized state (training is
    * O(dictionary), never O(corpus) — the FAISS/tokenizers posture).
    *
    * Dictionaries beyond `maxDriverVocab` distinct words TRUNCATE to the
    * top `maxDriverVocab` by (count desc, word asc) before collecting —
    * an explicit, deterministic approximation (the tail of a web-scale
    * dictionary is hapax noise, and SentencePiece itself trains on a
    * bounded sentence sample); the cut is logged, never silent. */
  def unigramTrain(docs: DataFrame, vocabSize: Int = 200,
                   textCol: String = "text",
                   maxDriverVocab: Int = 1 << 20): Seq[(String, Long)] = {
    val words = docs
      .select(explode(TF.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val n = words.count()
    val bounded =
      if (n <= maxDriverVocab) words
      else {
        System.err.println(s"[unigramTrain] dictionary $n words > " +
          s"$maxDriverVocab budget: training on the top $maxDriverVocab " +
          "by frequency")
        words.orderBy(col("cnt").desc, col("w").asc).limit(maxDriverVocab)
      }
    val dict = bounded.collect().map(r => (r.getString(0), r.getLong(1)))
    graft.functions.Unigram.trainLocal(dict, vocabSize)
  }

  /** Per-document token counts under a trained unigram-LM vocab — one
    * narrow codegen'd pass ([[graft.functions.UnigramTokenCount]]), no
    * shuffle; the Viterbi twin of [[bpeTokenCounts]].
    *
    * @return `(doc_id, n_unigram_tokens)`.
    */
  def unigramTokenCounts(docs: DataFrame, vocab: Seq[(String, Long)],
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.UnigramTokenCount(col(textCol), vocab)
        .cast("long").as("n_unigram_tokens"))

  /** The corpus's base ALPHABET — every distinct code point appearing in
    * any whitespace token, code-point-sorted (the engine's canonical
    * piece order). One distributed distinct over single characters
    * (alphabet-sized result — hundreds of rows for any real corpus);
    * Java-regex `.` matches per CODE POINT, so astral characters arrive
    * whole. Train-time state: the alphabet is part of the BPE model
    * (its id-space base), never derived from a serving corpus. */
  def bpeAlphabet(docs: DataFrame, textCol: String = "text"): Seq[String] = {
    docs.select(explode(TF.tokens(col(textCol))).as("w"))
      .select(explode(regexp_extract_all(col("w"), lit("."), lit(0))).as("c"))
      .distinct()
      .collect().map(_.getString(0))
      .sortWith(graft.functions.Bpe.codePointCompare(_, _) < 0).toSeq
  }

  /** Per-document TOKEN-ID streams under a trained BPE model — the
    * HF-compatible export (vocab + merges): one narrow codegen'd pass
    * ([[graft.functions.BpeEncodeIds]]), no shuffle; ids are
    * [[graft.functions.Bpe.vocabFromMerges]]'s contiguous space
    * (alphabet first, merge outputs in rank order), out-of-alphabet
    * code points take the reserved id V.
    *
    * @return `(doc_id, token_ids array<int>)`. */
  def bpeTokenIds(docs: DataFrame, merges: Seq[String],
                  vocab: Seq[(String, Int)],
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.BpeEncodeIds(col(textCol), merges, vocab)
        .as("token_ids"))

  /** Per-document TOKEN-ID streams under a trained unigram-LM vocab — the
    * trainer-consumable export (what a tokenization job over the full
    * corpus actually ships): one narrow codegen'd pass
    * ([[graft.functions.UnigramEncodeIds]]), no shuffle; ids are the
    * stored model's piece-sorted indices (stable forever), OOV single
    * code points take the reserved id V.
    *
    * @return `(doc_id, token_ids array<int>)`.
    */
  def unigramTokenIds(docs: DataFrame, vocab: Seq[(String, Long)],
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.UnigramEncodeIds(col(textCol), vocab).as("token_ids"))

  /** EXACT duplicated-substring scrubbing (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 — the
    * ExactSubstr pass): remove every maximal token span of at least
    * `minTokens` tokens that occurs MORE THAN ONCE in the corpus
    * (across documents or repeated inside one). The paper builds a
    * corpus-wide suffix array; the distributed re-expression uses the
    * standard reduction — a position lies in some duplicated run of
    * length ≥ L iff it is covered by a duplicated L-gram — so the whole
    * pass is L-gram hashing + occurrence counting + interval merging,
    * every step a shuffle on narrow keys:
    *
    *  1. every document's token L-grams hash to md5 of the space-joined
    *     slice (128-bit — no birthday collisions at corpus scale; the
    *     gram text itself never shuffles);
    *  2. grams with global occurrence count ≥ 2 — counted WITH
    *     multiplicity, so a run repeated inside one document is caught —
    *     mark their start positions (the count is a map-side-combined
    *     aggregate; the mark-back join on a boilerplate-hot hash is
    *     exactly the skew AQE's skew-join split exists for);
    *  3. per document, covered intervals `[p, p+L-1]` merge by
    *     gaps-and-islands (lag + running sum over (doc, pos) rows —
    *     narrow windows partitioned by doc, never global);
    *  4. kept tokens re-join with single spaces (the output is
    *     token-normalized, like every text transform here).
    *
    * @return `(doc_id, n_spans, n_dup_tokens, clean_text)` — one row per
    *         input document; untouched docs carry their token-joined
    *         text with zero spans. */
  def exactSubstrDedup(docs: DataFrame, minTokens: Int = 10,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(minTokens >= 2, "minTokens must be >= 2")
    val L = minTokens
    val toks = docs.select(col(idCol).as("doc_id"),
      TF.tokens(col(textCol)).as("ts"))
    val grams = toks.filter(size(col("ts")) >= L)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), size(col("ts")) - L + 1)).as("p"))
      .select(col("doc_id"), col("p"),
        md5(array_join(expr(s"slice(ts, p, $L)"), " ")).as("gh"))
    val dupCnt = grams.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("gh"))
    val dp = grams.join(dupCnt, Seq("gh")).select(col("doc_id"), col("p"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val isl = dp.withColumn("prev", lag(col("p"), 1).over(wOrd))
      .withColumn("brk",
        when(col("prev").isNull || col("p") > col("prev") + L, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("p")).as("s"), (max(col("p")) + L - 1).as("e"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("n_dup_tokens"),
        sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).cast("long").as("n_dup_tokens"),
        when(col("spans").isNull, array_join(col("ts"), " "))
          .otherwise(expr(
            "array_join(filter(transform(sequence(1, size(ts)), " +
            "i -> IF(exists(spans, sp -> sp.s <= i AND i <= sp.e), " +
            "CAST(NULL AS STRING), element_at(ts, i))), " +
            "x -> x IS NOT NULL), ' ')"))
          .as("clean_text"))
  }

  /** Sentence splitting — the segmentation pass under chunk/embed
    * pipelines: pieces are maximal non-terminator runs plus their
    * trailing `[.!?]` run (the lookbehind-free pattern, so RE2-based
    * engines run the IDENTICAL regex), whitespace-only pieces dropped,
    * survivors trimmed and renumbered 1..k per document. Narrow per-row
    * explode — the only shuffle is whatever the caller does next.
    *
    * @return `(doc_id, sent_idx, sentence, n_chars)` */
  def splitSentences(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val pieces = docs.select(col(idCol).as("doc_id"),
      posexplode(regexp_extract_all(col(textCol),
        lit("[^.!?]+[.!?]*"), lit(0))))
      .select(col("doc_id"), col("pos").as("_p"),
        trim(col("col")).as("sentence"))
      .filter(length(col("sentence")) > 0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("_p"))
    pieces
      .withColumn("sent_idx", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("sent_idx"), col("sentence"),
        length(col("sentence")).cast("long").as("n_chars"))
  }

  /** Scale-safe GLOBAL 1-based row number under a total order — the
    * window form (`row_number() OVER (ORDER BY ...)` with no PARTITION BY)
    * moves the whole corpus to one task; this is the two-pass construction
    * from [[packSequences]] applied to counting: range-partition by the
    * order columns, send ONE (partition, row-count) pair per partition to
    * the driver, prefix those O(#partitions) counts, and finish with a
    * per-partition window bounded by one range partition. Callers must
    * pass a TOTAL order (include a unique tiebreak column) or positions
    * are nondeterministic between runs.
    *
    * @return the input columns plus `posCol` (1-based global position).
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column],
                      partitions: Int = 32,
                      posCol: String = "pos"): DataFrame = {
    // repartitionByRange SAMPLES its child to pick boundaries, then reads
    // it again for the real shuffle — persist the (narrow) input so an
    // expensive upstream (e.g. curriculum's quality regexes over text)
    // prices once, not twice. `base` is an eager localCheckpoint, NOT a
    // persist: it outlives this call (the returned frame reads it), and
    // checkpoint blocks are GC-reclaimed when the frame goes unreachable,
    // while a persist would sit in the cache manager until an explicit
    // unpersist nobody is positioned to issue — repeated epoch/curriculum
    // invocations were accumulating caches for the life of the session
    val input = df.persist()
    val base = input
      .repartitionByRange(partitions, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
    input.unpersist()
    // O(#partitions) rows to the driver — the only driver-side step
    val perPart = base.groupBy(col("_pid")).agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = perPart.map { case (p, n) => val o = (p, acc); acc += n; o }
    val offDf = df.sparkSession.createDataFrame(offs.toIndexedSeq)
      .toDF("_pid", "_off")
    val w = Window.partitionBy(col("_pid")).orderBy(orderCols: _*)
    base.join(broadcast(offDf), Seq("_pid"))
      .withColumn(posCol, row_number().over(w).cast("long") + col("_off"))
      .drop("_pid", "_off")
  }

  /** Deterministic seeded corpus shuffle — the training-data-ordering
    * step: every epoch's data order must be (a) uniformly shuffled,
    * (b) reproducible from a seed alone, and (c) computable without any
    * RNG state, so any engine/cluster-size/retry re-derives the identical
    * order. The shuffle key is the cross-engine md5-60-bit hash of
    * `seed + "_" + id` ([[TF.hash60]]), and the global position comes
    * from [[globalRowNumber]] — a range-partitioned sort, never a
    * single-task window.
    *
    * @return `(<idCol>, shuffle_key, pos)` — `pos` is the document's
    *         1-based position in the shuffled epoch order. */
  def seededShuffle(docs: DataFrame, seed: String = "graft",
                    idCol: String = "doc_id",
                    partitions: Int = 32): DataFrame = {
    val keyed = docs.select(col(idCol),
      TF.hash60(concat(lit(seed), lit("_"), col(idCol).cast("string")))
        .as("shuffle_key"))
    globalRowNumber(keyed, Seq(col("shuffle_key"), col(idCol)), partitions)
  }

  /** Curriculum-learning stage assignment — order the corpus easy→hard
    * (here: composite quality DESC, cleanest first) and cut it into
    * `stages` equal consecutive chunks; training consumes stage 1 first.
    * Stage boundaries are exact rank arithmetic
    * (`floor((pos-1)·stages/N)+1`), not ntile — identical semantics in
    * every engine, no edge-group ambiguity. The global rank is the
    * scale-safe [[globalRowNumber]]; N is one count scalar.
    *
    * @return `(doc_id, difficulty, stage)` — difficulty in [0,1]
    *         (1 − quality score, rounded 6), stage in 1..stages. */
  def curriculumStages(docs: DataFrame, stages: Int = 4,
                       idCol: String = "doc_id", textCol: String = "text",
                       partitions: Int = 32,
                       difficultyCol: Option[String] = scala.None): DataFrame = {
    require(stages >= 1, s"stages must be >= 1, got $stages")
    val n = docs.count()
    // difficultyCol short-circuits the quality battery when the caller
    // already scored the corpus (composition pipelines score ONCE)
    val scored = difficultyCol match {
      case Some(c) => docs.select(col(idCol), col(c).as("difficulty"))
      case scala.None => docs.select(col(idCol),
        round(lit(1.0) - TF.qualityFeatures(col(textCol))
          .getField("quality_score"), 6).as("difficulty"))
    }
    globalRowNumber(scored, Seq(col("difficulty"), col(idCol)), partitions)
      .withColumn("stage",
        (floor((col("pos") - 1) * stages / n) + 1).cast("long"))
      .select(col(idCol), col("difficulty"), col("stage"))
  }

  /** Per-source document quota — hot-domain downsampling (the RefinedWeb/
    * C4 "no single domain dominates the mix" rule): keep at most `k`
    * documents per source, preferring higher quality with a deterministic
    * id tiebreak. Runs on the bounded-heap [[graft.plans.TopKPerKey]]
    * operator — map-side partial top-k per source, shuffle ≤k rows per
    * (source, input-partition), exact final top-k — never the window
    * form's full per-source sort. At 100 TB a hot domain with 10⁹ pages
    * still ships only k rows per upstream partition.
    *
    * @return `(doc_id, source, q)` — surviving rows, quality rounded 6. */
  def sourceQuota(docs: DataFrame, k: Int = 10,
                  idCol: String = "doc_id", textCol: String = "text",
                  byCol: String = "source",
                  scoreCol: Option[String] = scala.None): DataFrame = {
    import graft.plans.TopKPerKey
    // scoreCol short-circuits the quality battery when the caller already
    // scored the corpus (composition pipelines score ONCE)
    val scored = scoreCol match {
      case Some(c) => docs.select(col(idCol), col(byCol), col(c).as("q"))
      case scala.None => docs.select(col(idCol), col(byCol),
        round(TF.qualityFeatures(col(textCol)).getField("quality_score"), 6)
          .as("q"))
    }
    TopKPerKey(scored, Seq(byCol),
      Seq(TopKPerKey.desc("q"), TopKPerKey.asc(idCol)), k)
  }

  /** Per-document TF-IDF keyword extraction — the cheap corpus-tagging
    * pass (topic surrogates for mixture balancing, search facets): score
    * every (doc, token) by `tf · ln((N+1)/(df+1))` and keep the top `k`
    * tokens per document. Shapes: tf is the canonical partial+final
    * count; df aggregates the tf frame again (vocab-sized, never
    * re-reads text); the tf⋈df join shuffles on token (both sides
    * already key-partitioned); the per-doc top-k is the bounded-heap
    * [[graft.plans.TopKPerKey]]. IDF is rounded-then-DECIMAL so the
    * tf·idf product is exact across engines ([[dsirWeights]]'
    * discipline).
    *
    * @return `(doc_id, token, score)` top-`k` keywords per document. */
  def tfidfKeywords(docs: DataFrame, k: Int = 3,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import graft.plans.TopKPerKey
    val n = docs.count()
    val tf = docs
      .select(col(idCol), explode(TF.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .withColumn("idf",
        round(log((lit(n) + 1.0) / (col("df") + 1.0)), 6)
          .cast("decimal(18,6)"))
      .select(col("token"), col("idf"))
    val scored = tf.join(idf, Seq("token"))
      .withColumn("score",
        round((col("tf") * col("idf")).cast("double"), 6))
      .select(col(idCol), col("token"), col("score"))
    TopKPerKey(scored, Seq(idCol),
      Seq(TopKPerKey.desc("score"), TopKPerKey.asc("token")), k)
  }
}
