package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level checks for the corpus-preparation operators; the
  * whole-corpus results are oracle-verified as the cp_* queries. */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("deconOverlap: flags exactly the docs sharing an n-gram with the benchmark") {
    val bench = docs(100L -> "the quick brown fox jumps over the lazy dog")
    val corpus = docs(
      1L -> "she saw the quick brown fox jumps over a fence", // 2 distinct 5-grams overlap
      2L -> "completely unrelated text with no shared phrases at all",
      3L -> "quick brown fox jumps over the lazy dog again")  // 4 overlap
    val got = Corpus.deconOverlap(corpus, bench, n = 5)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L, 3L))
    assert(got(1L) == 2L && got(3L) == 4L)
  }

  test("deconOverlap: duplicate n-grams count once per doc") {
    val bench = docs(9L -> "a b c d e")
    val corpus = docs(1L -> "a b c d e a b c d e") // "a b c d e" appears twice
    val got = Corpus.deconOverlap(corpus, bench, n = 5).as[(Long, Long)].collect()
    // 5-grams of corpus doc: distinct set includes the bench's only 5-gram once
    assert(got.map(_._1).toSet == Set(1L))
    assert(got.head._2 >= 1L)
  }

  test("deconBloom: identical output to deconOverlap at any fpp (no false negatives)") {
    val bench = docs(
      100L -> "the quick brown fox jumps over the lazy dog",
      101L -> "pack my box with five dozen liquor jugs today")
    val corpus = docs(
      1L -> "she saw the quick brown fox jumps over a fence",
      2L -> "completely unrelated text with no shared phrases at all",
      3L -> "quick brown fox jumps over the lazy dog again",
      4L -> "pack my box with five dozen liquor jugs today ok",
      5L -> "")
    val exact = Corpus.deconOverlap(corpus, bench, n = 5)
      .as[(Long, Long)].collect().toMap
    // generous and stingy fpp must BOTH match exactly — the filter only
    // moves docs into the confirm stage, never changes the answer
    for (fpp <- Seq(0.5, 0.01, 1e-6)) {
      val got = Corpus.deconBloom(corpus, bench, n = 5, fpp = fpp)
        .as[(Long, Long)].collect().toMap
      assert(got == exact, s"fpp=$fpp: $got != $exact")
    }
  }

  test("segmentDedup: removes over-frequent segments, keeps order, handles empty docs") {
    val common = "w1 w2 w3 w4 w5 w6 w7 w8" // one full 8-word segment
    val d = docs(
      1L -> s"$common u1 u2 u3",
      2L -> s"$common v1 v2",
      3L -> s"$common x1",
      4L -> "solo y1 y2",
      5L -> "")
    val got = Corpus.segmentDedup(d, segWords = 8, maxDf = 2)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // `common` appears in 3 docs > maxDf=2 → removed everywhere
    assert(got(0) == ((1L, "u1 u2 u3", 1L)))
    assert(got(1) == ((2L, "v1 v2", 1L)))
    assert(got(2) == ((3L, "x1", 1L)))
    assert(got(3) == ((4L, "solo y1 y2", 0L)))
    assert(got(4) == ((5L, "", 0L)))
  }

  test("segmentDedup: identical segment twice in ONE doc does not count as boilerplate") {
    val seg = "a1 a2 a3 a4 a5 a6 a7 a8"
    val d = docs(1L -> s"$seg $seg", 2L -> "other words here")
    val got = Corpus.segmentDedup(d, segWords = 8, maxDf = 2)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // df counts DISTINCT docs (1), not occurrences (2) → kept, both copies
    assert(got(0) == ((1L, s"$seg $seg", 0L)))
  }

  test("packSequences: bins match the global prefix-sum rule for any partition count") {
    val d = (1L to 100L).map(i => (i, ("w " * ((i % 7).toInt + 1)).trim))
      .toDF("doc_id", "text")
    def expected: Map[Long, Long] = {
      var cum = 0L
      (1L to 100L).map { i =>
        val tok = i % 7 + 1
        val bin = cum / 10
        cum += tok
        i -> bin
      }.toMap
    }
    for (p <- Seq(1, 3, 32)) {
      val got = Corpus.packSequences(d, budget = 10, partitions = p)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
      assert(got == expected, s"partitions=$p")
      spark.catalog.clearCache()
    }
  }

  test("packSequences: empty docs pack as zero-token members of the current bin") {
    val d = docs(1L -> "a b c", 2L -> "", 3L -> "d e f g")
    val got = Corpus.packSequences(d, budget = 4, partitions = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L, 0L), (2L, 0L, 0L), (3L, 4L, 0L)))
    spark.catalog.clearCache()
  }

  test("mixWeighted: deterministic across runs and honors rate 0 and 1") {
    val d = (1L to 200L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang").withColumn("text", org.apache.spark.sql.functions.lit("x"))
    val rates = Seq("en" -> 1.0, "zh" -> 0.0)
    val a = Corpus.mixWeighted(d, rates).as[(Long, String)].collect().toSet
    val b = Corpus.mixWeighted(d, rates).as[(Long, String)].collect().toSet
    assert(a == b)
    assert(a.map(_._1) == (2L to 200L by 2).toSet) // all en kept, no zh
  }

  test("mixTemperature: alpha=1 keeps everything; alpha<1 flattens toward small domains") {
    val d = ((1L to 900L).map(i => (i, "big")) ++ (901L to 1000L).map(i => (i, "small")))
      .toDF("doc_id", "lang")
    // alpha=1: natural distribution — every doc kept
    assert(Corpus.mixTemperature(d, alpha = 1.0).count() == 1000)
    // alpha=0.5: the small domain anchors at rate 1.0, the big one keeps
    // ~sqrt(n_small/n_big) = 1/3 of its docs
    val kept = Corpus.mixTemperature(d, alpha = 0.5)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept("small") == 100, s"small domain must keep everything: $kept")
    assert(kept("big") > 200 && kept("big") < 400,
      s"big domain should keep ~300 of 900 at alpha=0.5: $kept")
    // deterministic
    assert(Corpus.mixTemperature(d, alpha = 0.5).count() ==
      Corpus.mixTemperature(d, alpha = 0.5).count())
  }

  test("mixTemperature decomposes: thresholds driver-side, apply broadcast-side") {
    val d = ((1L to 900L).map(i => (i, "big")) ++ (901L to 1000L).map(i => (i, "small")))
      .toDF("doc_id", "lang")
    val thr = Corpus.temperatureThresholds(d, alpha = 0.5).toMap
    // smallest domain anchors at maxRate=1.0 → threshold 10000;
    // big keeps round(sqrt(100/900)·1e4) = 3333
    assert(thr == Map("small" -> 10000L, "big" -> 3333L), thr.toString)
    val viaThr = Corpus.mixByThresholds(d, thr.toSeq)
      .as[(Long, String)].collect().toSet
    val direct = Corpus.mixTemperature(d, alpha = 0.5)
      .as[(Long, String)].collect().toSet
    assert(viaThr == direct)
  }

  test("mixTokenBudget: budgets met-or-just-exceeded, unlisted domains excluded, stable order") {
    val d = ((1L to 100L).map(i => (i, "en", "w " * 10)) ++
      (101L to 150L).map(i => (i, "de", "x " * 4)) ++
      (151L to 160L).map(i => (i, "xx", "y " * 5)))
      .toDF("doc_id", "lang", "text")
    val got = Corpus.mixTokenBudget(d, Seq("en" -> 95L, "de" -> 1000L))
      .as[(Long, String, Long)].collect()
    val byLang = got.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // en: 10-token docs against a 95 budget → 10 docs admitted (the
    // 10th crosses the line and is INCLUDED) = 100 tokens
    assert(byLang("en") == 100L, byLang.toString)
    // de's budget exceeds the domain's total mass → everything admitted
    assert(byLang("de") == 50 * 4L)
    // xx carries no budget → excluded entirely
    assert(!byLang.contains("xx"))
    // deterministic: same admissions regardless of input partitioning
    val again = Corpus.mixTokenBudget(d.repartition(7),
      Seq("en" -> 95L, "de" -> 1000L)).as[(Long, String, Long)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    spark.catalog.clearCache()
  }

  test("mixByThresholds: a domain missing from the table fails loudly, never silently drops") {
    val d = Seq((1L, "en"), (2L, "zz")).toDF("doc_id", "lang")
    val e = intercept[Exception] {
      Corpus.mixByThresholds(d, Seq("en" -> 10000L)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("no threshold")),
      s"expected the stale-table error, got: $e")
  }

  test("mixWeighted: sampled fraction tracks the rate") {
    val d = (1L to 1000L).map(i => (i, "en")).toDF("doc_id", "lang")
    val kept = Corpus.mixWeighted(d, Seq("en" -> 0.5)).count()
    assert(kept > 400 && kept < 600, s"kept=$kept for rate 0.5")
  }

  test("chunkTokens: overlap, final partial window, short and empty docs") {
    val twelve = (1 to 12).map(i => s"t$i").mkString(" ")
    val d = docs(1L -> twelve, 2L -> "a b c", 3L -> "")
    val got = Corpus.chunkTokens(d, window = 8, stride = 4)
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.map(r => (r._1, r._2, r._4)).toSeq ==
      Seq((1L, 0L, 8L), (1L, 1L, 8L), (2L, 0L, 3L)))
    assert(got(0)._3 == (1 to 8).map(i => s"t$i").mkString(" "))
    assert(got(1)._3 == (5 to 12).map(i => s"t$i").mkString(" ")) // stride-4 overlap
  }

  test("chunkTokens: stride = window tiles without overlap") {
    val nine = (1 to 9).map(i => s"w$i").mkString(" ")
    val got = Corpus.chunkTokens(docs(1L -> nine), window = 4, stride = 4)
      .as[(Long, Long, String, Long)].collect().sortBy(_._2)
    assert(got.map(_._4).toSeq == Seq(4L, 4L, 1L)) // 4+4+1 tokens, no overlap
    assert(got.map(_._3).mkString(" ") == nine)
  }

  test("scrubDuplicateSpans: removes every occurrence at any alignment, keeps unique text") {
    val span = "d1 d2 d3 d4 d5 d6 d7 d8"
    val d = docs(
      1L -> s"u1 u2 $span u3 u4",     // span at offset 2
      2L -> s"$span v1 v2 v3",        // same span at offset 0 (different alignment)
      3L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10") // unique → untouched
    val got = Corpus.scrubDuplicateSpans(d, k = 8)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, "u1 u2 u3 u4", 8L)))
    assert(got(1) == ((2L, "v1 v2 v3", 8L)))
    assert(got(2) == ((3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", 0L)))
  }

  test("scrubDuplicateSpans: overlapping duplicated windows cover the whole repeated run") {
    // doc repeats an 8-token phrase back to back WITHIN one document: the
    // duplicated windows overlap and the union of covered positions is the
    // entire run
    val span = "r1 r2 r3 r4 r5 r6 r7 r8"
    val d = docs(1L -> s"$span $span tail1 tail2", 2L -> "x1 x2 x3")
    val got = Corpus.scrubDuplicateSpans(d, k = 8)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got(0)._2 == "tail1 tail2" && got(0)._3 == 16L)
    assert(got(1) == ((2L, "x1 x2 x3", 0L))) // shorter than one window → untouched
  }

  test("sampleByRate: monotone in the rate — raising a score only adds docs") {
    import org.apache.spark.sql.functions.{col, lit, least}
    val d = (1L to 500L).map(i => (i, i % 100)).toDF("doc_id", "score")
    val low = Corpus.sampleByRate(d, least(lit(1.0), col("score") / lit(200.0)))
      .select("doc_id").as[Long].collect().toSet
    val high = Corpus.sampleByRate(d, least(lit(1.0), col("score") / lit(100.0)))
      .select("doc_id").as[Long].collect().toSet
    assert(low.subsetOf(high)) // doubling every rate never evicts a kept doc
    assert(high.size > low.size)
    // rate 0 drops, rate 1 keeps
    assert(Corpus.sampleByRate(d, lit(0.0)).count() == 0)
    assert(Corpus.sampleByRate(d, lit(1.0)).count() == 500)
  }

  test("bm25: doc with more query-term hits outranks, absent terms score zero") {
    val d = docs(
      1L -> "apple banana apple cherry apple",
      2L -> "apple banana date egg fig",
      3L -> "grape kiwi lemon mango nut")
    val got = Corpus.bm25(d, Seq("apple"), k = 10)
      .as[(Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L)) // doc 3 has no hits → excluded
    assert(got(0)._2 > got(1)._2)
  }

  test("lmQualityScore: ordinary text scores fewer bits than rare-token soup") {
    val d = docs(
      1L -> "the cat sat on the mat and the dog sat too",
      2L -> "zxqv wvut plomk qrstz xyzzy vwxyq",  // all OOV at vocabSize=4
      3L -> "the the the the",
      4L -> "")
    val got = Corpus.lmQualityScore(d, vocabSize = 4)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // common-token doc beats the gibberish doc; most-common-token-only doc
    // beats both; empty doc scores 0 over 0 tokens
    assert(got(3L)._3 < got(1L)._3 && got(1L)._3 < got(2L)._3)
    assert(got(4L) == ((4L, 0L, 0.0)))
    // OOV floor: every vocabSize=4 OOV token costs -log2(0.5/N) — strictly
    // more than any in-vocab token
    assert(got(2L)._3 > got(1L)._3)
    // deterministic across runs
    val again = Corpus.lmQualityScore(d, vocabSize = 4)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again == got)
  }

  test("charEntropy: uniform chars max out, repeated char scores zero, empty is zero") {
    val d = docs(
      1L -> "abcdefgh",  // 8 distinct chars → exactly 3 bits
      2L -> "aaaaaaaa",  // one char → 0 bits
      3L -> "")
    val got = Corpus.charEntropy(d)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 8L, 3.0)))
    assert(got(2L) == ((2L, 8L, 0.0)))
    assert(got(3L) == ((3L, 0L, 0.0)))
  }

  test("gopherRules: short docs fail word count, symbol soup fails ratio") {
    import graft.functions.{TextFunctions => TF}
    val d = docs(
      1L -> (Seq.fill(60)("plain english words here").mkString(" ")),
      2L -> "too short",
      3L -> (Seq.fill(30)("ok words # # # # # #").mkString(" ")),
      4L -> (1 to 60).map(i => s"- bullet $i").mkString("\n"))
    val got = d.select($"doc_id", TF.gopherRules($"text").as("g"))
      .select($"doc_id",
        $"g.word_count_ok", $"g.symbol_ratio_ok",
        $"g.bullet_ok", $"g.gopher_pass")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, true, true, true, true)))
    assert(!got(2L)._2 && !got(2L)._5) // word count fails → pass fails
    assert(!got(3L)._3 && !got(3L)._5) // symbol ratio fails
    assert(!got(4L)._4 && !got(4L)._5) // every line is a bullet
  }

  test("gopherRules: an ellipsis counts as ONE symbol occurrence, not three chars") {
    import graft.functions.{TextFunctions => TF}
    // 60 words, 5 '...' occurrences → ratio 5/60 ≈ 0.083 <= 0.1 PASSES;
    // the removed-char formulation would see 15/60 = 0.25 and fail
    val words = Seq.fill(55)("word") ++ Seq.fill(5)("...")
    val d = docs(1L -> (Seq.fill(60)("plain text words here").mkString(" ") + " " + words.mkString(" ")))
    val ok = d.select(TF.gopherRules($"text").getField("symbol_ratio_ok"))
      .as[Boolean].head()
    assert(ok, "5 ellipses in 300 words must pass the 0.1 symbol ratio")
  }

  test("dsirWeights: target-like docs outscore off-domain; empty doc scores 0") {
    import org.apache.spark.sql.functions.col
    val corpus = Seq(
      (1L, "neural network training data selection methods", true),
      (2L, "neural network pretraining and data curation", true),
      (3L, "neural network data selection for pretraining", false), // raw, target-like
      (4L, "recette de cuisine avec beurre et farine", false),
      (5L, "", false)
    ).toDF("doc_id", "text", "is_tgt")
    val w = Corpus.dsirWeights(corpus, isTarget = col("is_tgt"), buckets = 256)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w(5L) == ((0L, 0.0)), "feature-less doc must score exactly 0")
    // the raw doc built from target vocabulary must beat the off-domain one
    assert(w(3L)._2 > w(4L)._2)
    // and target members themselves score high (their n-grams dominate p_tgt)
    assert(w(1L)._2 > w(4L)._2 && w(2L)._2 > w(4L)._2)
  }

  private def classifierCorpus = ((1L to 30L).map { i =>
    if (i <= 15L) (i, "neural network training data selection and curation methods", true)
    else (i, "recette de cuisine beurre farine sucre oeufs et lait", false)
  } :+ ((31L, "neural network data curation", false)) :+ ((32L, "", false)))
    .toDF("doc_id", "text", "is_pos")

  test("qualityClassifierScore: NB init separates; GD keeps the separation") {
    import org.apache.spark.sql.functions.col
    val p = Corpus.qualityClassifierScore(classifierCorpus,
        isPositive = col("is_pos"), buckets = 128)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // positives and the positive-vocabulary holdout score above the negatives
    assert(p(1L) > p(16L) && p(15L) > p(16L))
    assert(p(31L) > p(16L), "held-out doc with positive vocabulary must outscore negatives")
    // feature-less doc scores sigmoid(bias) — strictly between 0 and 1
    assert(p(32L) > 0.0 && p(32L) < 1.0)
  }

  test("qualityClassifierScore: cold start (nbInit=false) still learns the domain") {
    import org.apache.spark.sql.functions.col
    val p = Corpus.qualityClassifierScore(classifierCorpus,
        isPositive = col("is_pos"), buckets = 128, iters = 10,
        lr = BigDecimal("0.5"), nbInit = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p(1L) > 0.5 && p(16L) < 0.5,
      s"ten GD iterations from zero must separate the classes: $p")
    assert(p(31L) > p(16L))
  }

  test("bigramLmScore: word order matters — shuffled text outscores natural text") {
    import org.apache.spark.sql.functions.col
    // 20 docs of a highly regular bigram pattern + 1 doc with the SAME
    // unigram distribution but scrambled order: the unigram scorer can't
    // tell them apart; the bigram scorer must charge the scramble more
    val regular = (1L to 20L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val shuffled = Seq((21L, "dog the over fox quick lazy jumps brown the"))
    val docs = (regular ++ shuffled).toDF("doc_id", "text")
    val bi = Corpus.bigramLmScore(docs, vocabSize = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(bi(21L) > bi(1L),
      s"scrambled doc must score more bits/token: ${bi(21L)} vs ${bi(1L)}")
    val uni = Corpus.lmQualityScore(docs, vocabSize = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(uni(21L) - uni(1L)) < 0.2,
      "the unigram scorer barely separates them — that gap is the operator's value")
    // edges: empty doc scores 0 over 0 tokens; single-token doc has no bigrams
    val edge = Corpus.bigramLmScore(
        Seq((1L, ""), (2L, "hello")).toDF("doc_id", "text"), vocabSize = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(edge(1L)._1 == 0L && edge(1L)._2 == 0.0)
    // the only token IS the whole distribution: P=1 -> exactly 0 bits
    assert(edge(2L)._1 == 1L && edge(2L)._2 == 0.0)
  }

  test("bigramLm model staged to parquet + ScoreFrom equals the one-call monolith") {
    import org.apache.spark.sql.functions.col
    val docs = (1L to 30L).map(i =>
      (i, s"alpha tok${i % 5} beta tok${i % 3} gamma tok${i % 7} alpha beta"))
      .toDF("doc_id", "text")
    val direct = Corpus.bigramLmScore(docs, vocabSize = 8)
      .orderBy(col("doc_id")).collect().toSeq
    val m = Corpus.bigramLmTrain(docs, vocabSize = 8)
    // the CCNet production shape: model frames staged to the lake once,
    // every later crawl scored against the reloaded frames
    val tmp = java.nio.file.Files.createTempDirectory("bigram_lm").toString
    m.vocab.write.parquet(s"$tmp/vocab")
    m.bigrams.write.parquet(s"$tmp/bigrams")
    m.contexts.write.parquet(s"$tmp/contexts")
    val staged = Corpus.BigramLm(
      spark.read.parquet(s"$tmp/vocab"),
      spark.read.parquet(s"$tmp/bigrams"),
      spark.read.parquet(s"$tmp/contexts"), m.totalTokens)
    val served = Corpus.bigramLmScoreFrom(docs, staged)
      .orderBy(col("doc_id")).collect().toSeq
    assert(served == direct,
      "scoring against the staged model must be bit-identical to the monolith")
  }

  test("bigram LM train and score leave the cache empty") {
    spark.catalog.clearCache()
    val docs = (1L to 12L).map(i => (i, s"alpha tok${i % 5} beta tok${i % 3} gamma"))
      .toDF("doc_id", "text")
    Corpus.bigramLmScore(docs, vocabSize = 8).collect()
    Corpus.bigramLmScoreFrom(docs, Corpus.bigramLmTrain(docs, vocabSize = 8)).collect()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("dedupLines keeps first occurrences in order; unique docs pass through") {
    val docs = Seq(
      (1L, "nav bar\nreal content one\nnav bar\nreal content two\nnav bar"),
      (2L, "a\nb\nc"),
      (3L, ""),
      (4L, "x\nx\nx\nx")).toDF("doc_id", "text")
    val out = Corpus.dedupLines(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("nav bar\nreal content one\nreal content two", 5L, 3L)))
    assert(out(2L) == (("a\nb\nc", 3L, 3L)), "no-dup doc must be unchanged")
    assert(out(3L) == (("", 1L, 1L)), "empty text is one empty line, kept")
    assert(out(4L) == (("x", 4L, 1L)))
  }

  test("quality classifier: driver-local training == distributed, bit-for-bit") {
    // the collected-slice GD twin must reproduce the engine loop exactly
    // (micro dots, Math.exp sigmoid, round-6/round-12, pico gradient
    // sums, scale-6 updates) — model AND scores identical, both inits
    val d = spark.read.parquet(s"${graft.TestSpark.sf}/documents.parquet")
    for (nb <- Seq(true, false)) {
      val (lw, lb) = Corpus.qualityClassifierTrain(d,
        org.apache.spark.sql.functions.col("lang") === "en",
        buckets = 64, iters = 3, nbInit = nb)
      val (dw, db) = Corpus.qualityClassifierTrain(d,
        org.apache.spark.sql.functions.col("lang") === "en",
        buckets = 64, iters = 3, nbInit = nb, localTrain = false)
      assert(lb == db, s"nbInit=$nb bias")
      assert(lw == dw, s"nbInit=$nb weights")
    }
    val s1 = Corpus.qualityClassifierScore(d,
        org.apache.spark.sql.functions.col("lang") === "en",
        buckets = 64, iters = 2)
      .orderBy("doc_id").collect().toSeq
    val s2 = Corpus.qualityClassifierScore(d,
        org.apache.spark.sql.functions.col("lang") === "en",
        buckets = 64, iters = 2, localTrain = false)
      .orderBy("doc_id").collect().toSeq
    assert(s1 == s2)
  }

  test("qualityClassifierTrain + ScoreWith equals the one-call monolith exactly") {
    import org.apache.spark.sql.functions.col
    val monolith = Corpus.qualityClassifierScore(classifierCorpus,
        isPositive = col("is_pos"), buckets = 128)
      .orderBy(col("doc_id")).collect().toSeq
    val (w, b) = Corpus.qualityClassifierTrain(classifierCorpus,
      isPositive = col("is_pos"), buckets = 128)
    val served = Corpus.qualityClassifierScoreWith(classifierCorpus, w, b,
        buckets = 128)
      .orderBy(col("doc_id")).collect().toSeq
    assert(served == monolith,
      "serving from the prebuilt model must be bit-identical to train+score")
  }

  test("qualityClassifierTrain maxTrainDocs: binding cap is deterministic, " +
    "partition-independent; non-binding changes nothing") {
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet(s"${graft.TestSpark.sf}/documents.parquet")
    val n = d.count()
    assert(n > 60, s"fixture too small: $n")
    // binding: same model regardless of physical partitioning (the draw
    // is a seeded hash order, never input order)
    val a = Corpus.qualityClassifierTrain(d, col("lang") === "en",
      buckets = 64, iters = 2, maxTrainDocs = 60)
    val b = Corpus.qualityClassifierTrain(d.repartition(7, col("doc_id")),
      col("lang") === "en", buckets = 64, iters = 2, maxTrainDocs = 60)
    assert(a == b, "binding cap must be partition-independent")
    // binding cap changes the model vs full training (it really binds)
    val full = Corpus.qualityClassifierTrain(d, col("lang") === "en",
      buckets = 64, iters = 2)
    assert(a != full, "a binding cap must train on fewer docs")
    // non-binding cap is a no-op
    val loose = Corpus.qualityClassifierTrain(d, col("lang") === "en",
      buckets = 64, iters = 2, maxTrainDocs = n * 10)
    assert(loose == full, "a non-binding cap must change nothing")
  }

  test("qualityClassifierScore: partitioning-invariant training (DECIMAL gradient sums)") {
    import org.apache.spark.sql.functions.col
    val corpus = (1L to 40L).map(i =>
      (i, s"tok${i % 11} tok${i % 7} tok${i % 5} filler words", i % 3 == 0))
      .toDF("doc_id", "text", "is_pos")
    def run(parts: Int) =
      Corpus.qualityClassifierScore(corpus.repartition(parts),
          isPositive = col("is_pos"), buckets = 64, iters = 2)
        .orderBy(col("doc_id")).collect().toSeq
    assert(run(1) == run(7),
      "training must be bit-identical across partitionings")
  }

  test("bpeTrain: learns the hand-computable merge sequence, in order") {
    // words: aa x3, ab x1, b x1 -> pairs: (a,a)=3, (a,b)=1
    // merge 1 = "a a"; then only (a,b)=1 remains, below minPairCount=2? no:
    // use minPairCount=1 to also take it -> merge 2 = "a b"
    val df = docs(1L -> "aa ab aa", 2L -> "aa b")
    val merges = Corpus.bpeTrain(df, maxMerges = 10, minPairCount = 1L)
    assert(merges == Seq("a a", "a b"),
      s"expected the frequency-then-lexicographic merge order, got $merges")
    // default minPairCount=2 stops after the count-3 pair
    assert(Corpus.bpeTrain(df, maxMerges = 10) == Seq("a a"))
  }

  test("bpeTrain: maxTrainDocs caps the training sample deterministically") {
    val df = docs((1L to 40L).map(i =>
      i -> (if (i % 2 == 0) "banana banana band" else "cocoa cocoa coc")): _*)
    val capped = Corpus.bpeTrain(df, maxMerges = 6, minPairCount = 2L,
      maxTrainDocs = 8)
    // deterministic + partition-independent: the seeded draw is a
    // TakeOrdered over md5(seed + id), not a partition-order head
    assert(Corpus.bpeTrain(df.repartition(7), maxMerges = 6,
      minPairCount = 2L, maxTrainDocs = 8) == capped)
    // a non-binding cap is exactly the uncapped training
    val uncapped = Corpus.bpeTrain(df, maxMerges = 6, minPairCount = 2L)
    assert(Corpus.bpeTrain(df, maxMerges = 6, minPairCount = 2L,
      maxTrainDocs = 1000) == uncapped)
    // the capped sample is a strict subset, so its merges come from the
    // sampled docs only — still a valid merge list for full-corpus encode
    assert(capped.nonEmpty)
    assert(Corpus.bpeTokenCounts(df, capped).count() == 40L)
  }

  test("bpeTokenCounts: greedy encode under learned merges; partitioning-invariant training") {
    val df = docs(
      1L -> "banana band ban",
      2L -> "banana banana banana",
      3L -> "")
    val merges = Corpus.bpeTrain(df, maxMerges = 5, minPairCount = 2L)
    val counts = Corpus.bpeTokenCounts(df, merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(3L) == 0L)
    // encode must agree with the reference greedy loop run here by hand
    // via the public JVM twin (same code the expression codegens to)
    val ranks = graft.functions.Bpe.rankMap(merges)
    val expected1 = Seq("banana", "band", "ban")
      .map(w => graft.functions.Bpe.encodeWord(w, ranks).length.toLong).sum
    assert(counts(1L) == expected1)
    // training is deterministic across partitionings
    val m7 = Corpus.bpeTrain(df.repartition(7), maxMerges = 5, minPairCount = 2L)
    assert(m7 == merges)
  }

  test("bpeTrain: driver and distributed paths learn the identical merge list") {
    // a corpus with ties, overlapping runs (aaa: pair (a,a) counted at
    // BOTH adjacent positions), and merges that surface new pairs
    val df = docs(
      1L -> "banana band ban aaa",
      2L -> "banana banana bandana",
      3L -> "cc cc ccd aaa aab")
    for ((mm, mpc) <- Seq((12, 1L), (5, 2L), (40, 3L))) {
      val local = Corpus.bpeTrain(df, maxMerges = mm, minPairCount = mpc)
      val dist = Corpus.bpeTrain(df, maxMerges = mm, minPairCount = mpc,
        maxDriverVocab = 0)
      assert(local == dist,
        s"maxMerges=$mm minPairCount=$mpc: driver $local vs distributed $dist")
      assert(local.nonEmpty)
    }
  }

  test("bpeTrain: WINDOWED distributed batching learns the identical list") {
    // a dictionary larger than the driver budget forces the distributed
    // fallback; small batchPairs/budgets make hot-pair windows OPEN,
    // CLOSE on intrusion, and interleave with unbatched rounds — across
    // all of it the merge list must equal both the in-memory trainer
    // and the unbatched per-merge loop (window boundaries never reorder)
    val df = docs(
      1L -> "banana band ban aaa",
      2L -> "banana banana bandana",
      3L -> "cc cc ccd aaa aab",
      4L -> "abcabc abcabd xyz xyzw",
      5L -> "mississippi missive misty")
    for ((mm, mpc) <- Seq((15, 1L), (8, 2L))) {
      val reference = Corpus.bpeTrain(df, maxMerges = mm, minPairCount = mpc)
      val unbatched = Corpus.bpeTrain(df, maxMerges = mm, minPairCount = mpc,
        maxDriverVocab = 0)
      assert(unbatched == reference)
      for ((budget, bp) <- Seq((8, 2), (10, 4), (14, 64))) {
        val windowed = Corpus.bpeTrain(df, maxMerges = mm,
          minPairCount = mpc, maxDriverVocab = budget, batchPairs = bp)
        assert(windowed == reference,
          s"windowed(budget=$budget, batchPairs=$bp, mm=$mm, mpc=$mpc) " +
          s"diverged: $windowed vs $reference")
      }
    }
  }

  test("bpeTrain: window intrusion bound survives adversarial random corpora") {
    // TINY alphabets maximize created-pair collisions (a merge's new
    // symbol "ab" coinciding with later candidates, runs like "aaaa"
    // where overlap counting and left-to-right application interact,
    // dense count ties) — exactly the cases where an unsound window
    // would accept a merge that is not the global argmax. Seeded
    // generation: each failure is reproducible.
    for (seed <- Seq(1, 7, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val words = (0 until 24).map { _ =>
        val len = 3 + rnd.nextInt(6)
        (0 until len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }
      // duplicate words with random multiplicities → interesting counts
      val text = rnd.shuffle(words.flatMap(w =>
        Seq.fill(1 + rnd.nextInt(5))(w))).mkString(" ")
      val df = docs(1L -> text)
      val reference = Corpus.bpeTrain(df, maxMerges = 10, minPairCount = 1L)
      for ((budget, bp) <- Seq((6, 2), (12, 5))) {
        val windowed = Corpus.bpeTrain(df, maxMerges = 10,
          minPairCount = 1L, maxDriverVocab = budget, batchPairs = bp)
        assert(windowed == reference,
          s"seed=$seed budget=$budget batchPairs=$bp: " +
          s"$windowed vs $reference")
      }
    }
  }

  test("bpeTrain: windowed parity at depth (bigger corpus, deep merges)") {
    // ~120 distinct words, alphabet 4, 25 merges: windows must open,
    // accept multi-merge batches, close on intrusion, and reopen across
    // many rounds — the merge list still equals the in-memory trainer's
    val rnd = new scala.util.Random(7)
    val words = (0 until 120).map { _ =>
      val len = 3 + rnd.nextInt(8)
      (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    }
    val text = rnd.shuffle(words.flatMap(w =>
      Seq.fill(1 + rnd.nextInt(4))(w))).mkString(" ")
    val df = docs(1L -> text)
    val ref = Corpus.bpeTrain(df, maxMerges = 25, minPairCount = 2L)
    val win = Corpus.bpeTrain(df, maxMerges = 25, minPairCount = 2L,
      maxDriverVocab = 40, batchPairs = 8)
    assert(win == ref, s"$win vs $ref")
  }

  test("quality classifier: local == distributed under heavy bucket collisions") {
    // buckets=8 forces mixed-class buckets (NB log-ratios near zero,
    // gradients flipping sign) — the corner where rounding/tiebreak
    // drift between the local and engine loops would surface
    val d = (1L to 300L).map(i =>
        (i, s"tok${i % 17} tok${i % 5} word${i % 3} filler common text",
          i % 2 == 0))
      .toDF("doc_id", "text", "pos")
    for (nb <- Seq(true, false)) {
      val (lw, lb) = Corpus.qualityClassifierTrain(d, org.apache.spark.sql.functions.col("pos"),
        buckets = 8, iters = 4, nbInit = nb)
      val (dw, db) = Corpus.qualityClassifierTrain(d, org.apache.spark.sql.functions.col("pos"),
        buckets = 8, iters = 4, nbInit = nb, localTrain = false)
      assert(lb == db && lw == dw, s"nbInit=$nb")
    }
  }

  test("bpeTrain: argmax tiebreak is code-point order on both paths (astral vs U+E000+)") {
    // pairs (x, U+FFFD) and (x, U+10000), both count 2 — the tiebreak
    // must compare the astral char by CODE POINT (U+FFFD < U+10000, the
    // Spark/DuckDB binary order) where Java String.compareTo's UTF-16
    // code-unit order would invert it (surrogates 0xD8xx < 0xFFFD).
    val astral = new String(Character.toChars(0x10000))
    val bmp = "\uFFFD"
    val df = docs(1L -> s"x$astral x$astral x$bmp x$bmp")
    val local = Corpus.bpeTrain(df, maxMerges = 1, minPairCount = 1L)
    val dist = Corpus.bpeTrain(df, maxMerges = 1, minPairCount = 1L,
      maxDriverVocab = 0)
    assert(local == Seq(s"x $bmp"), s"got $local")
    assert(dist == local)
  }

  test("dsirWeights: partitioning-invariant (DECIMAL sums, no order dependence)") {
    import org.apache.spark.sql.functions.col
    val corpus = (1L to 40L).map(i =>
      (i, s"token${i % 7} token${i % 5} token${i % 3} shared words here", i % 4 == 0))
      .toDF("doc_id", "text", "is_tgt")
    def run(parts: Int) =
      Corpus.dsirWeights(corpus.repartition(parts), isTarget = col("is_tgt"),
          buckets = 128)
        .orderBy(col("doc_id")).collect().toSeq
    assert(run(1) == run(7))
  }

  test("exactSubstrDedup: cross-doc duplicated run is scrubbed from both docs") {
    val shared = (1 to 12).map(i => s"dup$i").mkString(" ")
    val corpus = docs(
      1L -> s"alpha beta $shared gamma delta",
      2L -> s"one two three $shared four",
      3L -> "totally unrelated words that repeat nowhere else at all")
    val got = Corpus.exactSubstrDedup(corpus, minTokens = 10)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .as[(Long, Long, Long, String)].collect()
    assert(got(0) == ((1L, 1L, 12L, "alpha beta gamma delta")))
    assert(got(1) == ((2L, 1L, 12L, "one two three four")))
    assert(got(2)._2 == 0L && got(2)._4.startsWith("totally unrelated"))
  }

  test("exactSubstrDedup: within-doc repetition counts as duplication") {
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val corpus = docs(1L -> s"start $run middle $run finish")
    val got = Corpus.exactSubstrDedup(corpus, minTokens = 10)
      .as[(Long, Long, Long, String)].head()
    // both occurrences are covered: 2 spans, 20 duplicated tokens
    assert(got._2 == 2L && got._3 == 20L)
    assert(got._4 == "start middle finish")
  }

  test("exactSubstrDedup: overlapping duplicated grams merge into one span") {
    // an 11-token duplicated run = two overlapping 10-grams -> ONE span
    val run = (1 to 11).map(i => s"m$i").mkString(" ")
    val corpus = docs(1L -> s"a $run z", 2L -> s"b $run y")
    val got = Corpus.exactSubstrDedup(corpus, minTokens = 10)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .as[(Long, Long, Long, String)].collect()
    assert(got.forall(_._2 == 1L), "overlapping grams must merge")
    assert(got.forall(_._3 == 11L))
  }

  test("exactSubstrDedup: short docs and empty docs pass through untouched") {
    val corpus = docs(1L -> "short doc", 2L -> "", 3L -> "   ")
    val got = Corpus.exactSubstrDedup(corpus, minTokens = 10)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .as[(Long, Long, Long, String)].collect()
    assert(got.forall(r => r._2 == 0L && r._3 == 0L))
    assert(got(0)._4 == "short doc" && got(1)._4 == "" && got(2)._4 == "")
  }

  test("exactSubstrDedup: partitioning-invariant") {
    val shared = (1 to 15).map(i => s"s$i").mkString(" ")
    val corpus = (1L to 30L).map(i =>
        (i, if (i % 3 == 0) s"doc $i carries $shared inside"
            else s"unique text for document number $i with no repeats"))
      .toDF("doc_id", "text")
    def run(parts: Int) =
      Corpus.exactSubstrDedup(corpus.repartition(parts), minTokens = 10)
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))
        .collect().toSeq
    assert(run(1) == run(11))
  }

  test("splitSentences: terminators, runs, whitespace pieces, empty docs") {
    val docs = Seq(
      (1L, "One. Two! Three?"),          // three clean sentences
      (2L, "Huh?! Really...  "),         // terminator runs stay attached
      (3L, "no terminator at all"),      // whole doc = one sentence
      (4L, ""),                          // empty doc → zero sentences
      (5L, "! . ?"))                     // only separators/whitespace
      .toDF("doc_id", "text")
    val got = Corpus.splitSentences(docs)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("sent_idx"))
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(got.filter(_._1 == 1L).map(_._3) == Seq("One.", "Two!", "Three?"))
    assert(got.filter(_._1 == 2L).map(_._3) == Seq("Huh?!", "Really..."))
    assert(got.filter(_._1 == 3L).map(_._3) == Seq("no terminator at all"))
    assert(!got.exists(_._1 == 4L))
    // doc 5: pieces are whitespace+terminator runs; after the trim each
    // surviving piece is its terminator run ("! ." splits to "!"-led
    // pieces) — assert none is EMPTY and indexing stays dense from 1
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2) == (1L to rows.length))
      assert(rows.forall(_._3.nonEmpty))
    }
    assert(got.forall(r => r._4 == r._3.length))
  }
}
