package graft.operators

import graft.TestSpark
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property test: on random `(doc_id, band)` rows — repeated ids, repeated
  * rows, buckets on both sides of the cap — `cappedBandCandidates` equals
  * the brute-force rule: every pair of distinct ids in a bucket of at most
  * `maxBucket` rows, hub-star pairs (min id to every other id) in a bigger
  * one. Case count kept small: every case runs Spark jobs. */
object BandCandidatesPropertiesSpec extends Properties("BandCandidates") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = TestSpark.spark

  private val genCase: Gen[(Seq[(Long, Long)], Long)] = for {
    ids <- Gen.choose(2, 40)
    bands <- Gen.choose(1, 6)
    n <- Gen.choose(0, 80)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, ids.toLong), Gen.choose(0L, bands.toLong)))
    cap <- Gen.choose(1L, 8L)
  } yield (rows, cap)

  private def bruteForce(rows: Seq[(Long, Long)], cap: Long): Set[(Long, Long)] =
    rows.groupBy(_._2).values.flatMap { bucket =>
      val ids = bucket.map(_._1).distinct.sorted
      if (bucket.size <= cap) ids.combinations(2).map(p => (p(0), p(1)))
      else ids.tail.map(ids.head -> _)
    }.toSet

  property("equals brute force: all pairs under the cap, hub star over it") =
    forAll(genCase) { case (rows, cap) =>
      val s = spark
      import s.implicits._
      val got = Blocking.cappedBandCandidates(
          rows.toDF("doc_id", "band").repartition(3), maxBucket = cap)
        .as[(Long, Long)].collect()
      got.length == got.toSet.size && got.toSet == bruteForce(rows, cap)
    }
}
