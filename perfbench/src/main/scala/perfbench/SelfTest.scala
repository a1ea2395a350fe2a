package perfbench

/** Self-test of the checkers and helpers: corrupted outputs must be
  * rejected, correct ones accepted, and the arithmetic must return known
  * values. Returns the process exit code. */
object SelfTest {
  def run(): Int = {
    var failures = 0
    def expect(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

    // helpers
    val xs = (1 to 10).map(_.toDouble)
    expect("p50 of 1..10 is 5.5", close(Stats.percentile(xs, 50), 5.5))
    expect("p90 of 1..10 is 9.1", close(Stats.percentile(xs, 90), 9.1))
    expect("p0 and p100 are the extremes", Stats.percentile(xs, 0) == 1.0 && Stats.percentile(xs, 100) == 10.0)
    expect("median of one sample is itself", Stats.median(Seq(3.25)) == 3.25)
    expect("percentile ignores input order", close(Stats.percentile(xs.reverse, 90), 9.1))
    expect("self time without children is the span", Stats.selfTime(0, 100, Nil) == 100)
    expect("self time subtracts disjoint children", Stats.selfTime(0, 100, Seq((10, 20), (50, 80))) == 60)
    expect("self time counts overlapping children once", Stats.selfTime(0, 100, Seq((10, 40), (30, 60))) == 50)
    expect("self time clips children to the span", Stats.selfTime(10, 20, Seq((0, 15), (18, 30))) == 3)

    // etl: dropped, duplicated and altered rows
    val rows = Seq(11L, -7L, 42L, 42L, 5L)
    val want = Map("a" -> Checks.summarize(rows), "b" -> Checks.summarize(Seq(1L, 2L)))
    expect("etl accepts the expected output", Checks.etl(want, want).isEmpty)
    expect("etl rejects a dropped row", Checks.etl(want, want + ("a" -> Checks.summarize(rows.tail))).nonEmpty)
    expect("etl rejects a duplicated row",
      Checks.etl(want, want + ("a" -> Checks.summarize(rows :+ rows.head))).nonEmpty)
    expect("etl rejects an altered row",
      Checks.etl(want, want + ("a" -> Checks.summarize(99L +: rows.tail))).nonEmpty)
    expect("etl rejects a missing sink", Checks.etl(want, want - "b").nonEmpty)

    // cdc: dropped and duplicated rows, wrong watermark
    val gen = 1L to 20L
    expect("cdc accepts every id once", Checks.cdc(gen, gen.reverse, Some(20L)).isEmpty)
    expect("cdc rejects a dropped row", Checks.cdc(gen, gen.filter(_ != 7L), Some(20L)).nonEmpty)
    expect("cdc rejects a duplicated row", Checks.cdc(gen, gen :+ 7L, Some(20L)).nonEmpty)
    expect("cdc rejects a stale watermark", Checks.cdc(gen, gen, Some(19L)).nonEmpty)

    // dedup: lost planted cluster, removed unplanted document
    val clusters = Seq(Seq(1L, 5L, 9L), Seq(2L, 6L))
    val unplanted = Seq(3L, 4L, 7L)
    val good = Set(1L, 2L, 3L, 4L, 7L)
    expect("dedup accepts one survivor per cluster", Checks.dedup(clusters, unplanted, good).isEmpty)
    expect("dedup rejects a lost planted cluster", Checks.dedup(clusters, unplanted, good - 2L).nonEmpty)
    expect("dedup rejects a removed unplanted document", Checks.dedup(clusters, unplanted, good - 4L).nonEmpty)
    expect("dup recall is 1 when every copy is removed", Checks.dupRecall(clusters, good) == 1.0)
    expect("dup recall counts a surviving copy", close(Checks.dupRecall(clusters, good + 9L), 2.0 / 3.0))

    println(if (failures == 0) "self-test passed" else s"self-test FAILED: $failures")
    if (failures == 0) 0 else 1
  }
}
