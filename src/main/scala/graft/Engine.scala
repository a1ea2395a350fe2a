package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration — the one
  * place that encodes local-vs-cluster knobs so every entry point (CLI,
  * Verify, the benchmark, user code) starts from the same baseline. */
object Engine {

  /** The measured tuning [[session]] applies on top of Spark's defaults.
    * All three are runtime SQL confs: `spark.conf.set` overrides them on a
    * live session. */
  private[graft] val tuning: Map[String, String] = Map(
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "128m",
    "spark.sql.parquet.compression.codec" -> "zstd")

  /** Build a session. `master` defaults to `SPARK_MASTER` env or
    * local[SPARK_GRAFT_CPUS]; on a real cluster pass the cluster master (or
    * rely on spark-submit) — shuffle partitions should then be sized to
    * roughly 2-3× total executor cores, which callers can override via
    * `shufflePartitions`.
    *
    * Joins: Spark prefers sort-merge by default; this session lets the
    * planner pick a shuffled-hash join when a build side fits, and lets
    * AQE convert a sort-merge join to a shuffled-hash join when every
    * post-shuffle build partition is under 128 MB. That removes the
    * per-partition sorts from equi-join chains (0.5-0.94× on the
    * join-heavy queries at sf0.1; full-outer joins are pinned to
    * sort-merge at the query). The threshold bounds the build side per
    * post-shuffle partition; on a memory-tight cluster restore sort-merge
    * joins everywhere (spill-graceful) at runtime with
    * {{{
    * spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    * spark.conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0")
    * }}}
    *
    * Parquet writes default to zstd: smaller files at similar read speed
    * (0.83-0.98× on the store-writing queries); results are codec-neutral.
    * Override per session with `spark.sql.parquet.compression.codec`. */
  def session(appName: String = "graft",
              shufflePartitions: Option[Int] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = shufflePartitions.map(_.toString).getOrElse(cpus)
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .withExtensions(new GraftExtensions) // custom planner strategies at build
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(tuning)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
