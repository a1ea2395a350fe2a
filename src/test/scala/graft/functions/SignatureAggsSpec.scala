package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The compact imperative aggregates must be VALUE-identical to the
  * declarative forms they replaced (the oracle SQL still computes those). */
class SignatureAggsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("MinhashSigAgg equals the per-slot min() construction") {
    import spark.implicits._
    val P = TextFunctions.MinhashP
    val perms = (0 until 32).map(TextFunctions.minhashPerm)
    val hv = Seq((1L, 17L), (1L, 990001L), (1L, 2147483646L),
        (2L, 0L), (2L, 5L), (3L, 123456789L))
      .toDF("doc_id", "h")
    val compact = hv.groupBy($"doc_id")
      .agg(MinhashSigAgg($"h", perms, P).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val declared = hv.groupBy($"doc_id").agg(
        min((lit(perms.head._1) * $"h" + lit(perms.head._2)) % P).as("s0"),
        perms.zipWithIndex.tail.map { case ((a, b), i) =>
          min((lit(a) * $"h" + lit(b)) % P).as(s"s$i")
        }: _*)
      .collect().map(r => r.getLong(0) -> (1 to 32).map(r.getLong(_))).toMap
    assert(compact.keySet == declared.keySet)
    compact.foreach { case (id, sig) => assert(sig == declared(id), s"doc $id") }
  }

  test("MinhashSigAgg: all-null group evaluates to null, like min()") {
    import spark.implicits._
    val perms = (0 until 4).map(TextFunctions.minhashPerm)
    val hv = Seq((1L, Some(9L)), (2L, None)).toDF("doc_id", "h")
    val rows = hv.groupBy($"doc_id")
      .agg(MinhashSigAgg($"h", perms, TextFunctions.MinhashP).as("sig"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(rows == Map(1L -> false, 2L -> true))
  }

  test("SimhashAgg equals the per-bit sum majority construction") {
    import spark.implicits._
    val bits = 60
    val hv = Seq((1L, Some(0x0f0f0f0fL)), (1L, Some(0xff00ff00L)),
        (1L, Some(0x0ff00ff0L)), (2L, Some((1L << 59) | 7L)),
        (3L, None: Option[Long]))  // doc with only a null row -> 0 signature
      .toDF("doc_id", "h")
    val compact = hv.groupBy($"doc_id")
      .agg(SimhashAgg($"h", bits).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declared = hv.groupBy($"doc_id").agg(
        count($"h").as("_n"),
        (0 until bits).map(j =>
          sum(shiftright($"h", j).bitwiseAND(lit(1L))).as(s"_c$j")): _*)
      .select($"doc_id",
        (0 until bits).map { j =>
          when(coalesce(col(s"_c$j"), lit(0L)) * 2 > $"_n",
            shiftleft(lit(1L), j)).otherwise(lit(0L))
        }.reduce(_ bitwiseOR _).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compact == declared)
    assert(compact(3L) == 0L)
  }

  test("partial aggregation path: many partitions merge to the same values") {
    import spark.implicits._
    val perms = (0 until 8).map(TextFunctions.minhashPerm)
    val base = (1 to 500).map(i => ((i % 7).toLong, (i * 1046527L) % 2147483647L))
    val one = base.toDF("doc_id", "h").coalesce(1)
    val many = base.toDF("doc_id", "h").repartition(13)
    def run(df: org.apache.spark.sql.DataFrame) = df.groupBy($"doc_id")
      .agg(MinhashSigAgg($"h", perms, TextFunctions.MinhashP).as("sig"),
        SimhashAgg($"h", 60).as("sh"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2)))).toMap
    assert(run(one) == run(many))
  }

  private val texts = Seq(
    (1L, "the quick brown fox jumps over the lazy dog the quick brown fox"),
    (2L, "a b"),                    // shorter than one shingle: empty set
    (3L, ""),
    (4L, null),
    (5L, "x y z x y z x y z w"))    // repeated shingles dedup

  test("ShingleHashSet equals collect_set over the exploded hashes mod P") {
    import spark.implicits._
    val P = TextFunctions.MinhashP
    val docs = texts.toDF("doc_id", "text")
    val rowWise = docs.select($"doc_id", ShingleHashSet($"text", 3, P).as("hs"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1)))).toMap
    val exploded = docs
      .select($"doc_id", explode(WordNgramHashes($"text", 3)).as("h60"))
      .groupBy($"doc_id").agg(collect_set($"h60" % P).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(rowWise(4L).isEmpty, "null text gives a null set")
    for (id <- Seq(1L, 2L, 3L, 5L)) {
      val hs = rowWise(id).get
      assert(hs.distinct.size == hs.size, s"doc $id: set has duplicates")
      assert(hs.toSet == exploded.getOrElse(id, Set.empty[Long]), s"doc $id")
    }
  }

  test("MinhashSignature equals MinhashSigAgg; empty set gives null") {
    import spark.implicits._
    val P = TextFunctions.MinhashP
    val perms = (0 until 32).map(TextFunctions.minhashPerm)
    val docs = texts.toDF("doc_id", "text")
    val rowWise = docs
      .select($"doc_id", MinhashSignature(ShingleHashSet($"text", 3, P), perms, P).as("sig"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1)))).toMap
    val agg = docs
      .select($"doc_id", explode(WordNgramHashes($"text", 3)).as("h60"))
      .groupBy($"doc_id").agg(MinhashSigAgg($"h60" % P, perms, P).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rowWise.collect { case (id, Some(sig)) => id -> sig } == agg)
    assert(Seq(2L, 3L, 4L).forall(rowWise(_).isEmpty))
  }

  test("minhashBands equals the declarative per-band hash60(concat_ws(slice))") {
    import spark.implicits._
    val sigs = Seq(
      (1L, Some((0 until 32).map(i => i * 104729L % 2147483647L))),
      (2L, Some(Seq(5L, 6L, 7L))),    // shorter than one band
      (3L, Some(Seq.empty[Long])),
      (4L, None))
      .toDF("id", "sig")
    def keys(c: org.apache.spark.sql.Column) = sigs.select($"id", c.as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val declarative = array((0 until 8).map { b =>
      TextFunctions.hash60(concat_ws(",", lit(b.toString),
        concat_ws("_", slice($"sig", b * 4 + 1, 4))))
    }: _*)
    assert(keys(TextFunctions.minhashBands($"sig", 4, 8)) == keys(declarative))
  }

  test("two row-wise signatures in one projection survive CODEGEN_ONLY") {
    import spark.implicits._
    val conf = spark.conf
    val prevMode = conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    try {
      val P = TextFunctions.MinhashP
      val perms = (0 until 8).map(TextFunctions.minhashPerm)
      val rows = texts.toDF("doc_id", "text")
        .select(ShingleHashSet($"text", 3, P).as("hs"),
          ShingleHashSet($"text", 2, P).as("hs2"))
        .select(MinhashSignature($"hs", perms, P).as("a"),
          MinhashSignature($"hs2", perms, P).as("b"))
        .select(MinhashBandKeys($"a", 4, 2).as("ka"), MinhashBandKeys($"b", 4, 2).as("kb"))
        .collect()
      assert(rows.length == texts.size)
      assert(rows.count(r => r.isNullAt(0)) == 3)
    } finally {
      prevMode.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        conf.set("spark.sql.codegen.factoryMode", _))
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        conf.set("spark.sql.codegen.fallback", _))
    }
  }
}
