package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of the seed
  * and a row id, so the same seed gives the same files whatever the
  * partitioning. Generation runs before any clock starts. */
object Gen {

  /** Fact table `(id, cust, sku, qty, price, note)` and a dimension
    * `(cust, region, tier)` keyed by `cust`. */
  def etl(spark: SparkSession, seed: Long, rows: Long, customers: Int,
          factPath: String, dimPath: String): Unit = {
    val id = col("id")
    def h(salt: Long, mod: Int) = pmod(hash(id, lit(seed * 10 + salt)), lit(mod))
    spark.range(0, rows, 1, 8).select(
      id,
      h(1, customers).cast("int").as("cust"),
      h(2, 1000).cast("int").as("sku"),
      (h(3, 20) + 1).cast("int").as("qty"),
      (h(4, 100000) / 100.0).as("price"),
      concat(lit("n"), h(5, 50000).cast("string")).as("note"))
      .write.parquet(factPath)
    spark.range(0, customers, 1, 1).select(
      id.cast("int").as("cust"),
      h(6, 50).cast("int").as("region"),
      h(7, 4).cast("int").as("tier"))
      .write.parquet(dimPath)
  }

  /** `files` parquet files of `rowsPerFile` rows `(id, v, note)`; file i
    * holds ids `i * rowsPerFile + 1 ..= (i + 1) * rowsPerFile`, written to
    * `stagingDir/f=i/`. Returns the file paths in id order. */
  def cdc(spark: SparkSession, seed: Long, files: Int, rowsPerFile: Int,
          stagingDir: String): IndexedSeq[java.nio.file.Path] = {
    val n = files.toLong * rowsPerFile
    spark.range(0, n, 1, 4).select(
      (col("id") + 1).as("id"),
      (col("id") / rowsPerFile).cast("int").as("f"),
      rand(seed).as("v"),
      concat(lit("r"), pmod(hash(col("id"), lit(seed)), lit(100000)).cast("string")).as("note"))
      .repartition(4, col("f"))
      .write.partitionBy("f").parquet(stagingDir)
    (0 until files).map { i =>
      val dir = java.nio.file.Paths.get(stagingDir, s"f=$i")
      val parts = java.nio.file.Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
      require(parts.length == 1, s"expected one file for f=$i, found ${parts.length}")
      parts.head
    }
  }

  /** Planted duplicate structure of a corpus: `origOf(id)` is -1 for a
    * base document, else the base document it copies; `near(id)` marks a
    * copy made with word edits rather than an exact one. */
  final case class Corpus(origOf: Array[Int], near: Array[Boolean]) {
    def clusters: Seq[Seq[Long]] =
      origOf.indices.filter(origOf(_) >= 0).groupBy(origOf(_)).toSeq
        .map { case (o, copies) => (o +: copies).map(_.toLong) }
    def unplanted: Seq[Long] = {
      val inCluster = clusters.flatten.toSet
      origOf.indices.map(_.toLong).filterNot(inCluster)
    }
  }

  def corpusPlan(seed: Long, docs: Int, exactShare: Double, nearShare: Double): Corpus = {
    val rnd = new scala.util.Random(seed)
    val role = Array.fill(docs) {
      val u = rnd.nextDouble()
      if (u < exactShare) 1 else if (u < exactShare + nearShare) 2 else 0
    }
    val bases = role.indices.filter(role(_) == 0)
    val origOf = role.map(r => if (r == 0) -1 else bases(rnd.nextInt(bases.size)))
    Corpus(origOf, role.map(_ == 2))
  }

  /** Word `i` of a synthetic vocabulary: distinct lowercase strings. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 26 * 26
    while (x > 0) { sb += ('a' + x % 26).toChar; x /= 26 }
    sb.toString
  }

  def baseWords(seed: Long, id: Int, vocab: Int): Array[Int] = {
    val rnd = new scala.util.Random(seed * 1000003L + id)
    Array.fill(30 + rnd.nextInt(31))(rnd.nextInt(vocab))
  }

  def render(words: Array[Int]): String = {
    val s = words.map(word).mkString(" ")
    s.head.toUpper + s.tail + "."
  }

  /** Documents `(doc_id, text)`: base documents draw 30-60 words uniformly
    * from `vocab` words; exact copies repeat their base; near copies
    * replace 2-3 word positions. */
  def corpus(spark: SparkSession, seed: Long, plan: Corpus, vocab: Int,
             path: String): Unit = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast((plan.origOf, plan.near))
    spark.range(0, plan.origOf.length, 1, 8).map { id0 =>
      val id = id0.toInt
      val (origOf, near) = b.value
      val text =
        if (origOf(id) < 0) render(baseWords(seed, id, vocab))
        else {
          val w = baseWords(seed, origOf(id), vocab).clone()
          if (near(id)) {
            val rnd = new scala.util.Random(seed * 7919L + id)
            (0 until 2 + rnd.nextInt(2)).foreach(_ => w(rnd.nextInt(w.length)) = rnd.nextInt(vocab))
          }
          render(w)
        }
      (id0, text)
    }.toDF("doc_id", "text").write.parquet(path)
  }
}
