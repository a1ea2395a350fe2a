package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch sources — Spark-native re-expression of the reference's source
  * sections (SURVEY.md §2.1). All return DataFrames that optionally carry
  * the `origin: string` metadata column (mycelial `section/src/message.rs:522`).
  *
  * Scans stay declarative: Catalyst pushes filters/projections into the
  * file source, and file listing/splitting is distributed — the 100 TB
  * version of the reference's single-daemon polling loops.
  */
object Sources {

  private def withOrigin(df: DataFrame, origin: Option[String]): DataFrame =
    origin.fold(df)(o => df.withColumn("origin", lit(o)))

  /** Parquet scan (the data-lake counterpart of S1-S4's "run a query on the
    * source system"). */
  def parquet(spark: SparkSession, path: String, origin: Option[String] = None): DataFrame =
    withOrigin(spark.read.parquet(path), origin)

  /** S7 dir source (`sections/dir/src/source.rs:131-300`): walk a directory
    * tree, filter by regex pattern, resume after a lexicographic cursor.
    * `streamBinary=false` → one row per file `{origin, path}` (reference
    * path-dataframe mode); `streamBinary=true` → binaryFile rows
    * `{origin, path, value}`. Listing and reads are distributed by Spark's
    * file index — at 100 TB this is a metadata-only scan for path mode. */
  def dir(spark: SparkSession, path: String, pattern: String = ".*",
          streamBinary: Boolean = false, startAfter: String = ""): DataFrame = {
    val base = spark.read.format("binaryFile").load(path)
    val named = base
      .withColumn("origin", input_file_name())
      .withColumn("path", input_file_name())
      .filter(col("path").rlike(pattern))
      .filter(col("path") > lit(startAfter))
    if (streamBinary) named.select(col("origin"), col("path"), col("content").as("value"))
    else named.select(col("origin"), col("path"))
  }

  /** S6 file source (`sections/file/src/source.rs:83-150`): one file's bytes
    * as a binary payload `(origin, value)`. */
  def fileBinary(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile").load(path)
      .select(input_file_name().as("origin"), col("content").as("value"))

  /** CSV with header (csv_transform FromCsv semantics at the source edge:
    * all columns string — reference parses every field as Str,
    * `sections/csv_transform/src/source.rs:117-174`). */
  def csv(spark: SparkSession, path: String, origin: Option[String] = None): DataFrame =
    withOrigin(
      spark.read.option("header", "true").option("inferSchema", "false").csv(path),
      origin)

  /** S5 excel source: the container has no xlsx codec; the reference's
    * semantics (header row = schema, stringify → all Str, else typed) are
    * honored for CSV-exported sheets. `stringify=false` applies Spark
    * schema inference (reference `Any` columns ≈ inferred types). */
  def excelAsCsv(spark: SparkSession, path: String, stringify: Boolean): DataFrame =
    spark.read.option("header", "true")
      .option("inferSchema", (!stringify).toString).csv(path)

  /** S1-S3 JDBC sources: full user-query pushdown — the entire SQL string
    * executes on the source database, exactly the reference's model
    * (`sections/sqlite_connector/src/source.rs:100`). Incremental/stateful
    * ingestion composes this with [[graft.plans.StatefulQuery]]. */
  def jdbc(spark: SparkSession, url: String, query: String,
           origin: Option[String] = None): DataFrame =
    withOrigin(spark.read.format("jdbc")
      .option("url", url).option("query", query).load(), origin)

  /** Parallel JDBC scan for large source tables: numPartitions concurrent
    * connections each reading a key range — the scale-out upgrade the
    * single-connection reference cannot express. */
  def jdbcPartitioned(spark: SparkSession, url: String, table: String,
                      partitionColumn: String, lower: Long, upper: Long,
                      numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lower).option("upperBound", upper)
      .option("numPartitions", numPartitions).load()

  /** S9 kafka source (reference stub, `sections/kafka_connector/src/lib.rs`):
    * binary payload stream; batch mode reads the full retained topic. */
  def kafka(spark: SparkSession, brokers: String, topic: String): DataFrame =
    spark.read.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic).load()
      .select(col("topic").as("origin"), col("value"))

  /** Kafka batch read over the PURE-JDK wire client ([[KafkaWire]]) — no
    * connector jar, no broker library: one Spark TASK per topic
    * partition, each fetching its partition over its own socket ON THE
    * EXECUTOR (the same work placement a real connector uses; only the
    * O(#partitions) metadata call runs on the driver). Emits the
    * connector-compatible `(key, value, topic, partition, offset)` frame
    * so [[kafkaDecode]] applies unchanged. Offsets start at `startOffset`
    * (per partition) and read to the current high watermark — the
    * batch-read contract of [[kafka]]. */
  def kafkaWireRead(spark: SparkSession, host: String, port: Int,
                    topic: String, startOffset: Long = 0L,
                    dialect: KafkaWire.Dialect = KafkaWire.V0): DataFrame =
    kafkaWireReadFrom(spark, host, port, topic, Map.empty, startOffset, dialect)

  /** [[kafkaWireRead]] with PER-PARTITION start offsets — the incremental
    * form ([[KafkaWireCursor]] persists and advances them). Partitions
    * absent from the map start at `default`. */
  def kafkaWireReadFrom(spark: SparkSession, host: String, port: Int,
                        topic: String, offsets: Map[Int, Long],
                        default: Long = 0L,
                        dialect: KafkaWire.Dialect = KafkaWire.V0): DataFrame = {
    val parts = KafkaWire.partitions(host, port, topic, dialect)
    // the end bound is snapshotted HERE, on the driver, not observed per
    // task at execution time: an unbounded read-to-watermark would make
    // the frame nondeterministic under task retry/recompute (a rebuilt
    // partition could contain records produced after the first run)
    val until = KafkaWire.offsetsAt(host, port, topic, parts, -1L, dialect)
    val from = parts.map(p => p -> offsets.getOrElse(p, default)).toMap
    kafkaWireReadRange(spark, host, port, topic, from, until, dialect)
  }

  /** The fully-bounded kafka-wire read: every partition scans exactly
    * `[from(p), until(p))`, so the frame is DETERMINISTIC — recomputing
    * a lost partition rebuilds byte-identical rows no matter what was
    * produced since. [[KafkaWireCursor]] advances its persisted state to
    * these same bounds, which is what makes its ack-after-commit
    * contract sound under recomputation. */
  def kafkaWireReadRange(spark: SparkSession, host: String, port: Int,
                         topic: String, from: Map[Int, Long],
                         until: Map[Int, Long],
                         dialect: KafkaWire.Dialect = KafkaWire.V0): DataFrame = {
    import spark.implicits._
    val ranges = until.keys.toSeq.sorted
      .map(p => (p, from.getOrElse(p, 0L), until(p)))
    // parallelize slices positionally: EXACTLY one partition id per Spark
    // task (Dataset round-robin repartition only balances on average —
    // two topic partitions could share a task while another idles)
    spark.sparkContext.parallelize(ranges, math.max(1, ranges.size))
      .flatMap { case (p, lo, hi) =>
        KafkaWire.fetchRange(host, port, topic, p, lo, hi, dialect = dialect)
          .map(r => (r.key, r.value, topic, p, r.offset))
      }
      .toDF("key", "value", "topic", "partition", "offset")
  }

  /** Kafka wire DECODE — the exact inverse of [[Sinks.kafkaEncode]] (the
    * reference sink's row→JSON shape, `sections/kafka_connector/src/
    * destination.rs:21-131`): a kafka `(key, value)` byte frame back to
    * typed columns via `from_json` under the caller's schema, origin = the
    * message key (the encode writes the origin there). Pure DataFrame
    * code, so the wire contract is verifiable without a broker; only the
    * socket read itself ([[kafka]]) needs one. */
  def kafkaDecode(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(col("key").cast("string").as("origin"),
        from_json(col("value").cast("string"), schema).as("_rec"))
      .select(col("origin") +:
        schema.fieldNames.toIndexedSeq.map(f => col(s"_rec.`$f`").as(f)): _*)

  /** Snapshot read of a [[Sinks.upsertSnapshotByKey]] table: resolves the
    * manifest ONCE (an atomic read of the single commit file) and scans
    * exactly the epoch-bucket directories it references — so the frame is
    * a consistent point-in-time view of the table even while an upsert is
    * committing: the batch becomes visible all-at-once when its manifest
    * rename lands, never bucket by bucket. Includes the `_bkt` layout
    * column, like a direct read of the non-snapshot layout would.
    *
    * `asOf` TIME-TRAVELS: resolve through the newest retained manifest
    * version with `epoch <= asOf` (versions are the batch epochs,
    * 0-based) — the table exactly as that batch committed it. Fails
    * loudly when the requested version fell past the sink's `retain`
    * horizon and was garbage-collected: a silent fallback to a different
    * snapshot would be a wrong answer, not a degraded one. */
  def readUpsertSnapshot(spark: SparkSession, path: String,
                         asOf: Option[Long] = scala.None): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val m = asOf match {
      case scala.None =>
        UpsertManifest.read(fs, hPath).getOrElse(
          throw new IllegalArgumentException(
            s"no upsert manifest at $path — not a snapshot-upsert table " +
            "(write with Sinks.upsertSnapshotByKey first)"))
      case Some(epoch) =>
        val versions = UpsertManifest.listVersions(fs, hPath)
        val pick = versions.filter(_ <= epoch).lastOption.getOrElse(
          throw new IllegalArgumentException(
            s"no retained snapshot at or before epoch $epoch at $path — " +
            s"retained versions: [${versions.mkString(", ")}] (raise the " +
            "sink's `retain` to keep more history)"))
        UpsertManifest.readVersion(fs, hPath, pick).getOrElse(
          throw new IllegalStateException(
            s"manifest version $pick vanished mid-read at $path"))
    }
    UpsertManifest.resolve(spark, hPath, m)
  }
}

/** Destinations (SURVEY.md §2.3). Writes route by the `origin` column where
  * the reference routes messages by origin → table/file name. */
object Sinks {

  private def mode(truncate: Boolean) = if (truncate) "overwrite" else "append"

  /** D6-ish parquet lake sink; partitions by origin when present so each
    * logical table lands in its own directory tree
    * (reference: one table per origin, `sections/sqlite_connector/src/destination.rs:67`). */
  def parquet(df: DataFrame, path: String, truncate: Boolean = false): Unit = {
    val w = df.write.mode(mode(truncate))
    if (df.columns.contains("origin")) w.partitionBy("origin").parquet(path)
    else w.parquet(path)
  }

  def csv(df: DataFrame, path: String, truncate: Boolean = false): Unit =
    df.write.mode(mode(truncate)).option("header", "true").csv(path)

  /** Bucketed parquet TABLE sink — the co-located-join path at 100 TB: a
    * fact table written `bucketBy(join key)` is hash-pre-partitioned on
    * disk, so every later equi-join or aggregation on that key reads the
    * buckets back WITHOUT a shuffle (Spark's scan reports the bucket
    * spec as its output partitioning and the exchange is elided — pinned
    * in `BucketedJoinSpec`). `sortBy` the same key additionally elides
    * the sort-merge join's per-partition sorts. Goes through the session
    * catalog (`saveAsTable`): bucket metadata must live somewhere the
    * reader consults — a bare `.parquet(path)` write has nowhere to
    * record it. */
  def bucketedParquet(df: DataFrame, table: String, bucketCols: Seq[String],
                      nBuckets: Int, truncate: Boolean = false,
                      location: Option[String] = None): Unit = {
    require(bucketCols.nonEmpty, "bucketBy needs at least one column")
    val w = df.write.mode(mode(truncate))
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
    // explicit location → external table (lake layout under the caller's
    // control); default → the session warehouse dir
    location.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** D1-D3 JDBC sink: per-batch transactional append/overwrite. Idempotency
    * (reference `INSERT OR IGNORE`) is achieved by exact dedup on a key
    * before write + at-least-once replay (SURVEY §3.2). */
  def jdbc(df: DataFrame, url: String, table: String, truncate: Boolean = false): Unit =
    df.write.mode(mode(truncate)).format("jdbc")
      .option("url", url).option("dbtable", table).save()

  /** D7 kafka wire encode (`sections/kafka_connector/src/destination.rs:21-131`):
    * each row JSON-encoded `{col: value}` in column order, key = origin.
    * Pure DataFrame → DataFrame so the wire shape is testable (and
    * oracle-verifiable) without a broker — [[kafkaJson]] is this encode
    * plus the `.format("kafka")` write. */
  def kafkaEncode(df: DataFrame): DataFrame = {
    val dataCols = df.columns.filterNot(_ == "origin")
    val key = if (df.columns.contains("origin")) col("origin") else lit("origin")
    df.select(key.cast("string").as("key"),
      to_json(struct(dataCols.map(col).toIndexedSeq: _*)).as("value"))
  }

  /** D7 kafka sink: [[kafkaEncode]] written to a topic. */
  def kafkaJson(df: DataFrame, brokers: String, topic: String): Unit =
    kafkaEncode(df)
      .write.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic).save()

  /** D7 kafka sink over the PURE-JDK wire client: a `(key, value)` frame
    * (e.g. [[kafkaEncode]]'s output) produced to `topic`, each Spark task
    * writing its own rows over its own socket. Rows route to partitions
    * by key hash (same-key ordering preserved, like the default
    * partitioner's contract); null keys round-robin by task. Pair with
    * [[Sources.kafkaWireRead]] for the full socket round-trip without a
    * connector jar. */
  def kafkaWireWrite(df: DataFrame, host: String, port: Int,
                     topic: String,
                     dialect: graft.sources.KafkaWire.Dialect = graft.sources.KafkaWire.V0,
                     flushBytes: Int = 2 << 20): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val nParts = graft.sources.KafkaWire.partitions(host, port, topic, dialect).size
    df.select(col("key").cast("binary"), col("value").cast("binary"))
      .as[(Array[Byte], Array[Byte])]
      .foreachPartition { (it: Iterator[(Array[Byte], Array[Byte])]) =>
        // single streaming pass into per-target-partition buffers, each
        // FLUSHED to the broker when it reaches `flushBytes`: task
        // memory holds at most nParts × flushBytes of payload (not the
        // whole Spark partition), and no produce request can outgrow
        // the broker's message.max.bytes by more than one record.
        // Per-key ordering survives chunking — a key always hashes to
        // the same bucket and buckets flush in arrival order.
        val buckets = scala.collection.mutable.Map
          .empty[Int, scala.collection.mutable.ArrayBuffer[(Array[Byte], Array[Byte])]]
        val pending = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
        def flush(p: Int): Unit = buckets.get(p).filter(_.nonEmpty).foreach { rows =>
          graft.sources.KafkaWire.produce(host, port, topic, p, rows.toSeq, dialect)
          rows.clear(); pending(p) = 0L
        }
        var rr = 0
        it.foreach { r =>
          val p =
            if (r._1 == null) { rr += 1; (rr - 1) % nParts }
            else math.floorMod(java.util.Arrays.hashCode(r._1), nParts)
          buckets.getOrElseUpdate(p,
            scala.collection.mutable.ArrayBuffer.empty) += r
          pending(p) += (if (r._1 == null) 0L else r._1.length.toLong) +
            (if (r._2 == null) 0L else r._2.length.toLong)
          if (pending(p) >= flushBytes) flush(p)
        }
        buckets.keys.toSeq.sorted.foreach(flush)
      }
  }

  /** D8 file sink (`sections/file/src/destination.rs:24-87`): binary payload
    * → one file per origin under `dir`; atomicity via Spark's commit
    * protocol (temp + rename), same contract as the reference's
    * tmp-file + rename. */
  def fileBinary(df: DataFrame, dir: String): Unit =
    df.select(col("origin"), col("value"))
      .write.mode("append").partitionBy("origin").format("parquet").save(dir)

  /** Origin multiplexing — SURVEY §7.3 "hard part #2": one stream carries
    * many logical tables, distinguished by the `origin` column; table sinks
    * must route each origin to its own target (the reference creates/inserts
    * a table named by the message origin per batch,
    * `sections/sqlite_connector/src/destination.rs:67`).
    *
    * For lake sinks `partitionBy("origin")` does this for free (see
    * [[parquet]]). For table sinks (JDBC et al.) the fan-out is explicit:
    * the distinct-origin list is collected (it is O(#logical tables), tiny
    * by construction — never O(rows)) and each origin's slice is written by
    * `writeOne`.
    *
    * The one-scan contract is ENFORCED here, not assumed: unless the
    * caller already persisted the frame, it is persisted
    * (MEMORY_AND_DISK) for the duration of the fan-out and unpersisted
    * after — a 50-origin stream must be one source scan plus 50 cache
    * reads, never 50 source scans. */
  def routeByOrigin(df: DataFrame)(writeOne: (String, DataFrame) => Unit): Unit = {
    val owned = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (owned) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val origins = df.select("origin").distinct().collect()
        .map(_.getString(0)).sorted
      origins.foreach { o =>
        writeOne(o, df.filter(col("origin") === o).drop("origin"))
      }
    } finally if (owned) { df.unpersist(); () }
  }

  /** JDBC table-per-origin sink: the Spark shape of the reference's
    * `CREATE TABLE IF NOT EXISTS "<origin>"` + insert loop (D1-D3). */
  def jdbcByOrigin(df: DataFrame, url: String, truncate: Boolean = false): Unit =
    routeByOrigin(df) { (origin, slice) => jdbc(slice, url, origin, truncate) }

  /** Idempotent append — the reference's `INSERT OR IGNORE` (D1,
    * `sections/sqlite_connector/src/destination.rs:91`): rows whose key
    * already exists in the target are dropped before the write, so
    * at-least-once replay (crash between sink commit and state write)
    * becomes effectively-once. The existing target is read with the
    * incoming batch's schema — no schema-inference job — and the scan is
    * column-pruned to the key columns; the anti-join takes the keys as
    * they are, with no `distinct` (duplicate existing keys cannot change
    * a left-anti result, and de-duplicating them shuffled every existing
    * key on every append). Because the schema is imposed rather than
    * inferred, a target whose key type is incompatible with the batch
    * fails when the key column is read, where an inferred read let the
    * join cast it.
    *
    * At lake scale the existence scan MUST prune: partition the target by
    * a batch/date column and pass `existingFilter` so only the partitions
    * a replay could collide with are read. The pruning assumption is
    * guarded, not silent: without a filter, a target that has grown past
    * `fullScanWarnFiles` data files logs a per-path warning that every
    * append is now re-scanning the whole table. */
  def idempotentParquetAppend(df: DataFrame, path: String, keyCols: Seq[String],
                              existingFilter: Option[Column] = None,
                              fullScanWarnFiles: Int = 1000): Unit = {
    val spark = df.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    // an existing-but-fileless target (a pre-created sink dir, or a dir
    // holding only a _SUCCESS marker) is FRESH — reading it for schema
    // would throw UNABLE_TO_INFER_SCHEMA
    // Spark's InMemoryFileIndex rule: a file is data only if NO path
    // component under the table root is _/.-prefixed — checking just the
    // LEAF name would let `_temporary/.../part-0.parquet` residue from a
    // crashed write masquerade as data (the read below would then throw,
    // or worse, read a half-committed file)
    def hasData: Boolean = fs.exists(hPath) && {
      val rootUri = fs.makeQualified(hPath).toUri.getPath.stripSuffix("/")
      val it = fs.listFiles(hPath, true)
      var found = false
      while (!found && it.hasNext) {
        val p = it.next().getPath.toUri.getPath
        val rel = p.stripPrefix(rootUri).stripPrefix("/")
        found = rel.split("/").forall(c =>
          c.nonEmpty && !c.startsWith("_") && !c.startsWith("."))
      }
      found
    }
    val fresh =
      if (!hasData) df
      else {
        // the full incoming schema, not just the keys: `existingFilter`
        // may name any of the batch's columns
        val existing = spark.read.schema(df.schema).parquet(path)
        if (existingFilter.isEmpty) {
          // the file list is already materialized in the relation's file
          // index — counting it costs no extra listing. Check the size
          // BEFORE consuming the once-per-path warning slot: a target that
          // is small today must still warn on the append that finds it
          // grown past the threshold (the long-lived-JVM growth case).
          val nFiles = existing.inputFiles.length
          if (nFiles > fullScanWarnFiles && warnedPaths.add(path))
            System.err.println(
              s"[sinks] idempotentParquetAppend($path): $nFiles data files " +
              s"scanned per batch with no existingFilter — partition the " +
              s"target and pass a pruning predicate before this grows further")
        }
        val scanned = existingFilter.fold(existing)(existing.filter)
        df.join(scanned.select(keyCols.map(col): _*), keyCols, "left_anti")
      }
    fresh.write.mode("append").parquet(path)
  }

  /** Paths already warned about unpruned existence scans (once per path
    * per JVM — the warning is a capacity signal, not a per-batch nag). */
  private val warnedPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Keyed UPSERT on plain parquet — the MERGE upgrade of
    * [[idempotentParquetAppend]]: incoming rows REPLACE existing rows with
    * the same key (last write wins) instead of being dropped. The table
    * is laid out as `_bkt = pmod(hash(key), buckets)` partitions and
    * merged with DYNAMIC partition overwrite, so one batch rewrites ONLY
    * the buckets its keys hash into: the target scan partition-prunes to
    * those buckets, untouched buckets' files are never read or
    * re-written, and the per-batch cost is O(table/buckets · touched
    * buckets), not O(table) — the property that keeps keyed merge viable
    * on a 100 TB table without a table format.
    *
    * Conflict resolution is by VERSION, not by arrival: per key the max
    * `versionCol` wins (tie → greatest row by struct order — no
    * `first()` nondeterminism). That makes the merge convergent under
    * at-least-once replay: re-delivering an OLD batch after a newer one
    * is a no-op, because the existing newer version out-ranks it.
    *
    * Crash safety: the merged buckets are STAGED to a side directory and
    * swapped in per bucket (rename old → hidden `.graftbak_bkt=N`, rename
    * staged in, drop the bak) — never overwritten in place, so no point of
    * failure destroys committed rows. A crash mid-swap leaves either the
    * old bucket, the bak (auto-restored on the next upsert), or the new
    * bucket — and a partially-applied batch converges on replay because
    * the merge is version-idempotent. Readers may observe a torn batch
    * (some buckets new, some old) during the swap; this sink trades
    * snapshot isolation for table-format-free storage, it never trades
    * away committed data.
    *
    * The bucket count is part of the table layout: it is persisted to
    * `_graft_upsert_meta.json` on first write and VERIFIED on every later
    * upsert — merging with a different modulus would leave old rows in
    * buckets the new hash never reads, silently duplicating keys, so a
    * mismatch fails fast instead.
    */
  def upsertParquetByKey(df: DataFrame, path: String, keyCols: Seq[String],
                         versionCol: String, buckets: Int = 64): Unit = {
    require(keyCols.nonEmpty, "upsert needs key columns")
    val spark = df.sparkSession
    val dataCols = df.columns.filterNot(_ == "_bkt").toSeq
    val bkt = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash(keyCols.map(col): _*),
      org.apache.spark.sql.functions.lit(buckets))
    val incoming = df.withColumn("_bkt", bkt)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val metaPath = new org.apache.hadoop.fs.Path(hPath, "_graft_upsert_meta.json")
    val dirExists = fs.exists(hPath)
    if (dirExists) recoverBakBuckets(fs, hPath)
    // "exists" means the table has DATA (bucket dirs) — a directory
    // holding only a meta file (crash between meta and first data write)
    // is still a fresh table
    val exists = dirExists && fs.listStatus(hPath)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("_bkt="))
    if (dirExists) {
      // layout guard: the modulus must match the table's — but only a
      // table WITH data constrains it; a meta-only directory (crash
      // between meta and first data write) is fresh per the contract
      // below, and its stale meta is atomically replaced on this write
      if (fs.exists(metaPath) && exists) {
        val metaIn = fs.open(metaPath)
        val meta = try new String(metaIn.readAllBytes(), "UTF-8")
          finally metaIn.close()
        val written = "\"buckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(meta)
          .map(_.group(1).toInt)
        if (!written.contains(buckets)) throw new IllegalArgumentException(
          s"upsert bucket count $buckets does not match the table's " +
          s"${written.getOrElse("?")} at $path — a different modulus would " +
          s"leave stale rows in buckets the merge never rewrites")
      } else if (exists) {
        // data but no meta (pre-meta table, or a meta lost to corruption):
        // adopting an arbitrary modulus would silently duplicate keys.
        // maxBkt < buckets is necessary but NOT sufficient — a table
        // written with modulus B whose materialized ids all happen to be
        // below the requested B' still re-hashes differently under B'
        // whenever B' does not divide B — so PROVE the modulus by
        // re-hashing the on-disk keys: every stored row's key must hash
        // to the bucket it lives in. One column-pruned scan of the key
        // columns, on a recovery path that should never run twice.
        val maxBkt = fs.listStatus(hPath)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("_bkt="))
          .map(_.getPath.getName.stripPrefix("_bkt=").toInt).max
        if (maxBkt >= buckets) throw new IllegalArgumentException(
          s"table at $path has bucket _bkt=$maxBkt but no layout meta; " +
          s"bucket count $buckets cannot be right — re-create the table " +
          s"or restore _graft_upsert_meta.json")
        val misplaced = spark.read.parquet(path)
          .filter(org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.hash(keyCols.map(col): _*),
              org.apache.spark.sql.functions.lit(buckets)) =!= col("_bkt"))
          .limit(1).count()
        if (misplaced > 0) throw new IllegalArgumentException(
          s"table at $path has no layout meta and its keys do NOT re-hash " +
          s"to their buckets under modulus $buckets — adopting it would " +
          s"leave stale key versions in buckets the merge never reads; " +
          s"re-create the table or restore _graft_upsert_meta.json")
        writeMeta(fs, metaPath, buckets)
      }
    }
    val merged =
      if (!exists) incoming
      else {
        // O(batch) distinct bucket ids — a literal IN-list the target scan
        // partition-prunes with (same shape as the IVF index probe)
        val touched = incoming.select(col("_bkt")).distinct()
          .collect().map(_.getInt(0)).sorted
        spark.read.parquet(path)
          .filter(col("_bkt").isin(touched.map(Integer.valueOf).toIndexedSeq: _*))
          .select(dataCols.map(col) :+ col("_bkt"): _*)
          .unionByName(incoming.select(dataCols.map(col) :+ col("_bkt"): _*))
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc,
        org.apache.spark.sql.functions.struct(dataCols.map(col): _*).desc)
    val resolved = merged
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    if (!exists) {
      // meta BEFORE data: a crash in between leaves a meta-only directory
      // the next upsert treats as fresh — there is no window in which
      // committed data exists without its layout record. The data write
      // APPENDS (the dir holds only the meta file; overwrite would delete
      // it); a crash mid-write leaves partial buckets that the next
      // replayed batch converges over (version-wins merge).
      writeMeta(fs, metaPath, buckets)
      resolved.write.mode("append").partitionBy("_bkt").parquet(path)
    } else {
      // stage the merged buckets beside the table (hidden from readers:
      // leading underscore), then swap each in with renames
      val staging = new org.apache.hadoop.fs.Path(hPath, "_graft_staging")
      if (fs.exists(staging)) fs.delete(staging, true) // stale partial stage
      resolved.write.mode("overwrite").partitionBy("_bkt").parquet(staging.toString)
      val stagedBuckets = fs.listStatus(staging)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_bkt="))
        .map(_.getPath.getName).sorted
      stagedBuckets.foreach { name =>
        val live = new org.apache.hadoop.fs.Path(hPath, name)
        val bak = new org.apache.hadoop.fs.Path(hPath, s".graftbak$name")
        if (fs.exists(live) && !fs.rename(live, bak))
          throw new java.io.IOException(s"could not retire $live")
        if (!fs.rename(new org.apache.hadoop.fs.Path(staging, name), live))
          throw new java.io.IOException(s"could not commit $live")
        if (fs.exists(bak)) fs.delete(bak, true)
      }
      fs.delete(staging, true)
    }
  }

  /** SNAPSHOT-ISOLATED keyed upsert — [[upsertParquetByKey]] with the
    * torn-batch window closed: readers resolving through
    * [[Sources.readUpsertSnapshot]] see every bucket from BEFORE a batch
    * or every bucket from AFTER it, never a mix, without a table format.
    *
    * Layout: bucket data lives in immutable per-batch EPOCH directories
    * (`.graft_e<K>/_bkt=N/`) and a one-file manifest
    * (`_graft_manifest.json`) maps each bucket to the epoch holding its
    * live rows. A batch writes its merged buckets into a fresh epoch dir
    * — touching nothing any reader can currently resolve — then commits
    * by atomically renaming a new manifest over the old one. The
    * manifest IS the snapshot: whichever version a reader opens, the
    * epoch dirs it references are complete and immutable.
    *
    * Same merge semantics as [[upsertParquetByKey]] (version-wins,
    * replay-convergent, O(touched buckets) per batch; modulus pinned in
    * the manifest and verified). Retired epoch-bucket dirs are garbage-
    * collected lazily at the START of the next upsert (never inside this
    * one), so a reader holding the just-replaced manifest keeps its
    * files until another batch lands — the same one-generation grace the
    * bak scheme gives, traded against unbounded growth.
    *
    * `retain` is the TIME-TRAVEL horizon: every commit also writes a
    * versioned manifest (`_graft_manifest.v<epoch>.json`), and GC keeps
    * the last `retain` versions plus every epoch-bucket dir any of them
    * references — [[Sources.readUpsertSnapshot]] with `asOf` resolves
    * through them, Iceberg/Delta-style, without a table format. The
    * default of 1 keeps only the current snapshot (exactly the pre-
    * time-travel layout and GC cadence); storage cost grows with the
    * CHANGED buckets per retained batch, not with table size. */
  def upsertSnapshotByKey(df: DataFrame, path: String, keyCols: Seq[String],
                          versionCol: String, buckets: Int = 64,
                          retain: Int = 1): Unit = {
    require(keyCols.nonEmpty, "upsert needs key columns")
    require(retain >= 1, "retain must keep at least the current snapshot")
    val spark = df.sparkSession
    val dataCols = df.columns.filterNot(_ == "_bkt").toSeq
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val manifest = UpsertManifest.read(fs, hPath)
    manifest.foreach { m =>
      if (m.buckets != buckets) throw new IllegalArgumentException(
        s"upsert bucket count $buckets does not match the table's " +
        s"${m.buckets} at $path — a different modulus would leave stale " +
        s"rows in buckets the merge never rewrites")
      // lazy GC: drop manifest versions past the retention horizon, then
      // every epoch dir / bucket dir no RETAINED manifest references —
      // retired data past its reader grace, and orphans from a crashed
      // batch that never committed its manifest
      val versions = UpsertManifest.listVersions(fs, hPath)
      versions.dropRight(retain).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(hPath,
          s"_graft_manifest.v$v.json"), false)
      }
      val retained = versions.takeRight(retain)
        .flatMap(v => UpsertManifest.readVersion(fs, hPath, v)) match {
        case Seq() => Seq(m) // pre-versioning table: current only
        case ms => if (ms.exists(_.epoch == m.epoch)) ms else ms :+ m
      }
      val liveEpochs = retained.flatMap(r => r.live.values.toSet + r.epoch).toSet
      val liveBuckets: Map[Long, Set[Int]] = retained
        .flatMap(_.live.toSeq.map { case (b, e) => e -> b })
        .groupBy(_._1).map { case (e, v) => e -> v.map(_._2).toSet }
      fs.listStatus(hPath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".graft_e"))
        .foreach { s =>
          val e = s.getPath.getName.stripPrefix(".graft_e").toLong
          if (!liveEpochs.contains(e)) fs.delete(s.getPath, true)
          else {
            // epoch still referenced: drop only buckets NO retained
            // manifest resolves through this epoch anymore
            val mine = liveBuckets.getOrElse(e, Set.empty)
            fs.listStatus(s.getPath)
              .filter(d => d.isDirectory && d.getPath.getName.startsWith("_bkt="))
              .filter(d => !mine.contains(
                d.getPath.getName.stripPrefix("_bkt=").toInt))
              .foreach(d => fs.delete(d.getPath, true))
          }
        }
    }
    val bkt = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash(keyCols.map(col): _*),
      org.apache.spark.sql.functions.lit(buckets))
    val incoming = df.withColumn("_bkt", bkt)
    val touched = incoming.select(col("_bkt")).distinct()
      .collect().map(_.getInt(0)).toSet
    val existing = manifest.flatMap { m =>
      // only buckets that BOTH this batch touches AND the table holds
      // need merging; all-new buckets read nothing
      val wanted = touched.filter(m.live.contains)
      if (wanted.isEmpty) scala.None
      else Some(UpsertManifest.resolve(spark, hPath, m, Some(wanted))
        .select(dataCols.map(col) :+ col("_bkt").cast("int").as("_bkt"): _*))
    }
    val merged = existing match {
      case Some(cur) => cur.unionByName(
        incoming.select(dataCols.map(col) :+ col("_bkt"): _*))
      case scala.None => incoming
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc,
        org.apache.spark.sql.functions.struct(dataCols.map(col): _*).desc)
    val resolved = merged
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val nextEpoch = manifest.map(_.epoch + 1).getOrElse(0L)
    val epochDir = new org.apache.hadoop.fs.Path(hPath, s".graft_e$nextEpoch")
    resolved.write.mode("overwrite").partitionBy("_bkt").parquet(epochDir.toString)
    // which buckets actually materialized (an empty incoming bucket after
    // version-resolve still exists — resolve keeps >=1 row per key — but
    // list what IS there rather than assume)
    val written = fs.listStatus(epochDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_bkt="))
      .map(_.getPath.getName.stripPrefix("_bkt=").toInt).toSet
    val live = manifest.map(_.live).getOrElse(Map.empty[Int, Long]) ++
      written.map(_ -> nextEpoch)
    // THE commit point: one atomic rename — before it, no reader can see
    // this batch; after it, every reader sees all of it
    UpsertManifest.write(fs, hPath,
      UpsertManifest.Manifest(buckets, nextEpoch, live))
  }

  /** Restore any bucket whose swap crashed between "retire old" and
    * "commit new": the hidden `.graftbak_bkt=N` still holds the committed
    * rows; if the live bucket is missing, rename it back, otherwise the
    * new bucket committed and the bak is leftover garbage. */
  private def recoverBakBuckets(fs: org.apache.hadoop.fs.FileSystem,
                                table: org.apache.hadoop.fs.Path): Unit =
    fs.listStatus(table)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".graftbak_bkt="))
      .foreach { s =>
        val live = new org.apache.hadoop.fs.Path(table,
          s.getPath.getName.stripPrefix(".graftbak"))
        if (!fs.exists(live)) {
          if (!fs.rename(s.getPath, live)) throw new java.io.IOException(
            s"could not restore interrupted bucket swap at ${s.getPath}")
        } else fs.delete(s.getPath, true)
      }

  /** Atomic meta write: temp file + OVERWRITE rename (`FileContext`'s
    * `Options.Rename.OVERWRITE`, the one rename HDFS and the local fs
    * both make atomic), so no reader ever sees a half-written layout
    * record AND no crash window exists in which the old meta is deleted
    * but the replacement not yet in place — delete-then-rename would
    * leave the table meta-less, downgrading the next upsert to the
    * adoption heuristic. */
  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem,
                        metaPath: org.apache.hadoop.fs.Path, buckets: Int): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      metaPath.getParent, s".${metaPath.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"buckets":$buckets}""".getBytes("UTF-8"))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, metaPath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}

/** The snapshot-upsert table's commit record: bucket modulus, the last
  * committed epoch, and the bucket → epoch map readers resolve data
  * through ([[Sinks.upsertSnapshotByKey]] / [[Sources.readUpsertSnapshot]]).
  * One small JSON file, replaced by atomic OVERWRITE rename — the same
  * single-rename commit discipline as the upsert meta, carrying the whole
  * snapshot instead of just the layout. */
private[sources] object UpsertManifest {
  final case class Manifest(buckets: Int, epoch: Long, live: Map[Int, Long])

  private def path(table: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(table, "_graft_manifest.json")

  private def versionPath(table: org.apache.hadoop.fs.Path, epoch: Long) =
    new org.apache.hadoop.fs.Path(table, s"_graft_manifest.v$epoch.json")

  /** Committed manifest versions on disk, ascending. */
  def listVersions(fs: org.apache.hadoop.fs.FileSystem,
                   table: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(table)) Seq.empty
    else fs.listStatus(table).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("_graft_manifest.v") && n.endsWith(".json") =>
        n.stripPrefix("_graft_manifest.v").stripSuffix(".json").toLong
    }.sorted

  def readVersion(fs: org.apache.hadoop.fs.FileSystem,
                  table: org.apache.hadoop.fs.Path,
                  epoch: Long): Option[Manifest] =
    readAt(fs, versionPath(table, epoch))

  def read(fs: org.apache.hadoop.fs.FileSystem,
           table: org.apache.hadoop.fs.Path): Option[Manifest] =
    readAt(fs, path(table))

  private def readAt(fs: org.apache.hadoop.fs.FileSystem,
                     p: org.apache.hadoop.fs.Path): Option[Manifest] = {
    if (!fs.exists(p)) scala.None
    else {
      val in = fs.open(p)
      val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      def long(k: String): Long =
        ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json)
          .map(_.group(1).toLong)
          .getOrElse(throw new IllegalStateException(
            s"upsert manifest at $p lacks '$k': $json"))
      val live = "\"live\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(json)
        .map(_.group(1)).getOrElse(throw new IllegalStateException(
          s"upsert manifest at $p lacks 'live': $json"))
      val pairs = "\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(live)
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
      Some(Manifest(long("buckets").toInt, long("epoch"), pairs))
    }
  }

  def write(fs: org.apache.hadoop.fs.FileSystem,
            table: org.apache.hadoop.fs.Path, m: Manifest): Unit = {
    val entries = m.live.toSeq.sorted
      .map { case (b, e) => s""""$b":$e""" }.mkString(",")
    val json = s"""{"buckets":${m.buckets},"epoch":${m.epoch},"live":{$entries}}"""
    if (!fs.exists(table)) fs.mkdirs(table)
    def commit(p: org.apache.hadoop.fs.Path): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(table, s".${p.getName}.tmp")
      val out = fs.create(tmp, true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    // versioned copy FIRST (time-travel history), then the current
    // pointer — THE commit point stays the single unversioned rename
    commit(versionPath(table, m.epoch))
    commit(path(table))
  }

  /** The manifest-resolved frame: one partition-pruned scan PER DISTINCT
    * LIVE EPOCH (≤ min(#epochs, #buckets) scans, unioned — bounded by
    * the bucket count, not by table history), each with `basePath` at
    * the epoch dir so the `_bkt` partition column survives. */
  def resolve(spark: org.apache.spark.sql.SparkSession,
              table: org.apache.hadoop.fs.Path, m: Manifest,
              onlyBuckets: Option[Set[Int]] = scala.None): org.apache.spark.sql.DataFrame = {
    val wanted = onlyBuckets.fold(m.live)(bs => m.live.filter(kv => bs(kv._1)))
    val byEpoch = wanted.groupBy(_._2).toSeq.sortBy(_._1)
    val frames = byEpoch.map { case (e, bucketMap) =>
      val dir = new org.apache.hadoop.fs.Path(table, s".graft_e$e")
      val ids = bucketMap.keys.toSeq.sorted
      spark.read.option("basePath", dir.toString)
        .parquet(ids.map(b => s"$dir/_bkt=$b"): _*)
    }
    frames.reduceOption(_.unionByName(_)).getOrElse(
      throw new IllegalStateException(
        s"upsert table at $table has a manifest but no live buckets to read"))
  }
}
