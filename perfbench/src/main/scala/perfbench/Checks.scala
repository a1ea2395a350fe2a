package perfbench

/** Output checks, one per workload. Each returns the list of problems
  * found (empty when the output is correct); they take plain collections
  * so the self-test can feed them corrupted outputs. */
object Checks {

  /** Row count plus an order-independent checksum (sum of per-row 64-bit
    * hashes, kept exact as a BigInt): a dropped, duplicated or altered row
    * changes one of the two. */
  final case class TableSummary(rows: Long, checksum: BigInt)

  def summarize(rowHashes: Seq[Long]): TableSummary =
    TableSummary(rowHashes.size.toLong, rowHashes.foldLeft(BigInt(0))(_ + _))

  def etl(expected: Map[String, TableSummary],
          actual: Map[String, TableSummary]): Seq[String] =
    expected.toSeq.sortBy(_._1).flatMap { case (sink, want) =>
      actual.get(sink) match {
        case None => Seq(s"$sink: sink missing")
        case Some(got) =>
          (if (got.rows != want.rows) Seq(s"$sink: ${got.rows} rows, expected ${want.rows}") else Nil) ++
          (if (got.checksum != want.checksum) Seq(s"$sink: content checksum differs") else Nil)
      }
    }

  /** Every generated id lands in the sink exactly once, and the persisted
    * watermark is the largest id. */
  def cdc(generated: Seq[Long], sinkIds: Seq[Long],
          watermark: Option[Long]): Seq[String] = {
    val counts = sinkIds.groupBy(identity).view.mapValues(_.size).toMap
    val missing = generated.count(id => !counts.contains(id))
    val dup = counts.count(_._2 > 1)
    val extra = counts.keySet.diff(generated.toSet).size
    val wantWm = if (generated.isEmpty) None else Some(generated.max)
    (if (missing > 0) Seq(s"$missing generated ids missing from the sink") else Nil) ++
    (if (dup > 0) Seq(s"$dup ids written more than once") else Nil) ++
    (if (extra > 0) Seq(s"$extra sink ids were never generated") else Nil) ++
    (if (watermark != wantWm) Seq(s"watermark $watermark, expected $wantWm") else Nil)
  }

  /** Every document outside the planted clusters survives, and every
    * planted cluster keeps at least one member. */
  def dedup(clusters: Seq[Seq[Long]], unplanted: Seq[Long],
            survivors: Set[Long]): Seq[String] = {
    val lostDocs = unplanted.count(id => !survivors.contains(id))
    val lostClusters = clusters.count(c => !c.exists(survivors.contains))
    (if (lostDocs > 0) Seq(s"$lostDocs unplanted documents removed") else Nil) ++
    (if (lostClusters > 0) Seq(s"$lostClusters planted clusters lost every member") else Nil)
  }

  /** Share of planted copies removed: per cluster of m members, m - 1
    * should go; members still among the survivors count against it. */
  def dupRecall(clusters: Seq[Seq[Long]], survivors: Set[Long]): Double = {
    val copies = clusters.map(_.size - 1).sum
    val removed = clusters.map(c => c.size - c.count(survivors.contains)).sum
    if (copies == 0) 1.0 else removed.toDouble / copies
  }
}
