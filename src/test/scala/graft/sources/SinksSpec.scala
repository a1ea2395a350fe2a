package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("parquet sink partitions by origin (lake-side multiplexing)") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val df = Seq(("t1", 1), ("t1", 2), ("t2", 3)).toDF("origin", "v")
    Sinks.parquet(df, s"$dir/out")
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 3)
    assert(back.filter($"origin" === "t1").count() == 2)
    // physical layout: one directory per origin (partition pruning unit)
    assert(new java.io.File(s"$dir/out/origin=t1").isDirectory)
    assert(new java.io.File(s"$dir/out/origin=t2").isDirectory)
  }

  test("routeByOrigin fans one multiplexed frame out to per-table writes") {
    val df = Seq(("orders", 1), ("orders", 2), ("users", 3)).toDF("origin", "v")
    var written = Map[String, Long]()
    Sinks.routeByOrigin(df) { (origin, slice) =>
      assert(!slice.columns.contains("origin"), "origin column must be dropped")
      written += origin -> slice.count()
    }
    assert(written == Map("orders" -> 2L, "users" -> 1L))
  }

  test("routeByOrigin enforces the one-scan contract: slices read the cache, not the source") {
    val dir = Files.createTempDirectory("graft_route").toString
    Seq(("a", 1), ("a", 2), ("b", 3), ("c", 4)).toDF("origin", "v")
      .write.parquet(s"$dir/in")
    val df = spark.read.parquet(s"$dir/in")
    var slicePlans = Seq.empty[String]
    Sinks.routeByOrigin(df) { (_, slice) =>
      slice.count() // drive the write-side action
      slicePlans :+= slice.queryExecution.executedPlan.toString
    }
    assert(slicePlans.size == 3)
    // every per-origin slice must be served from the persisted frame —
    // a 50-origin fan-out re-scanning the source 50 times is the bug
    // this contract exists to prevent
    // (the plan text still shows the FileScan as the cache's BUILD child —
    // the InMemoryTableScan node on top is what proves the read path)
    assert(slicePlans.forall(_.contains("InMemoryTableScan")),
      s"slice read the source, not the cache:\n${slicePlans.head}")
    // lifecycle: the fan-out's persist is dropped on exit
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "routeByOrigin must unpersist the frame it persisted")
    // a caller-persisted frame is respected and NOT unpersisted
    df.persist()
    try {
      Sinks.routeByOrigin(df) { (_, s) => s.count(); () }
      assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "a caller-owned persist must survive routeByOrigin")
    } finally { df.unpersist(); () }
  }

  test("idempotentParquetAppend makes replayed batches effectively-once") {
    val dir = Files.createTempDirectory("graft_idem").toString
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.idempotentParquetAppend(batch, s"$dir/t", Seq("id"))
    // at-least-once replay: same batch again, plus one genuinely new row
    val replay = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    Sinks.idempotentParquetAppend(replay, s"$dir/t", Seq("id"))
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 3, "replayed keys must not duplicate")
    assert(back.select("id").as[Long].collect().sorted.sameElements(Array(1L, 2L, 3L)))
  }

  test("idempotentParquetAppend treats _temporary residue as a FRESH target") {
    // a crashed write leaves _temporary/<attempt>/.../part-*.parquet —
    // every leaf name looks like data, but every path sits under a
    // hidden component Spark's file index would skip; the existence
    // probe must agree or the first real append dies in schema inference
    val dir = Files.createTempDirectory("graft_idem4").toString
    val residue = java.nio.file.Paths.get(
      s"$dir/t/_temporary/0/_temporary/attempt_0/")
    java.nio.file.Files.createDirectories(residue)
    java.nio.file.Files.write(residue.resolve("part-00000.parquet"),
      "not parquet".getBytes("UTF-8"))
    // also a dot-dir variant (.staging from other writers)
    val dot = java.nio.file.Paths.get(s"$dir/t/.staging/")
    java.nio.file.Files.createDirectories(dot)
    java.nio.file.Files.write(dot.resolve("part-00001.parquet"),
      "junk".getBytes("UTF-8"))
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.idempotentParquetAppend(batch, s"$dir/t", Seq("id"))
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 2)
    // and once REAL data exists next to the residue, dedup still works
    Sinks.idempotentParquetAppend(
      Seq((2L, "b"), (3L, "c")).toDF("id", "v"), s"$dir/t", Seq("id"))
    assert(spark.read.parquet(s"$dir/t").count() == 3)
  }

  test("idempotentParquetAppend existingFilter prunes the existence scan") {
    val dir = Files.createTempDirectory("graft_idem2").toString
    val day1 = Seq((1L, "d1"), (2L, "d1")).toDF("id", "day")
    Sinks.idempotentParquetAppend(day1, s"$dir/t", Seq("id", "day"))
    // replay day1 + new day2 rows, existence scan restricted to day1:
    // result must still be exactly-once for the replayed keys
    val replay = Seq((1L, "d1"), (3L, "d2")).toDF("id", "day")
    Sinks.idempotentParquetAppend(replay, s"$dir/t", Seq("id", "day"),
      existingFilter = Some(org.apache.spark.sql.functions.col("day") === "d1"))
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 3)
  }

  test("idempotentParquetAppend warns once when an unpruned target is large") {
    val dir = Files.createTempDirectory("graft_idem3").toString
    val batch = Seq((1L, "a")).toDF("id", "v")
    Sinks.idempotentParquetAppend(batch, s"$dir/t", Seq("id"))
    val err = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(err))
    try {
      // warn threshold 0 -> any existing file trips the capacity signal
      Sinks.idempotentParquetAppend(batch, s"$dir/t", Seq("id"),
        fullScanWarnFiles = 0)
      Sinks.idempotentParquetAppend(batch, s"$dir/t", Seq("id"),
        fullScanWarnFiles = 0)
    } finally System.setErr(old)
    val warnings = err.toString.linesIterator
      .filter(_.contains("idempotentParquetAppend")).toSeq
    assert(warnings.size == 1, s"expected exactly one warning, got $warnings")
  }

  test("idempotentParquetAppend into an existing target runs no inference or key-shuffle job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = Files.createTempDirectory("graft_idem5").toString
    Sinks.idempotentParquetAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      s"$dir/t", Seq("id"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val batch = Seq((2L, "b"), (3L, "c")).toDF("id", "v")
    org.apache.spark.graft.TestBus.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Sinks.idempotentParquetAppend(batch, s"$dir/t", Seq("id"))
      org.apache.spark.graft.TestBus.flush(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the existing keys' broadcast and the write; an inferred read and a
    // distinct over the existing keys took two more
    assert(jobs.get == 2, s"${jobs.get} jobs")
    assert(spark.read.parquet(s"$dir/t").select("id").as[Long].collect().sorted
      .sameElements(Array(1L, 2L, 3L)))
  }

  test("idempotentParquetAppend existingFilter may name a non-key column") {
    val dir = Files.createTempDirectory("graft_idem6").toString
    Sinks.idempotentParquetAppend(
      Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("id", "v", "day"), s"$dir/t", Seq("id"))
    // the scan sees only day d1: id 1 is dropped, id 2 (existing under d2,
    // outside the filter) and id 3 are appended
    Sinks.idempotentParquetAppend(
      Seq((1L, "a", "d1"), (2L, "b", "d2"), (3L, "c", "d3")).toDF("id", "v", "day"),
      s"$dir/t", Seq("id"), existingFilter = Some(col("day") === "d1"))
    val ids = spark.read.parquet(s"$dir/t").select("id").as[Long].collect().sorted
    assert(ids.sameElements(Array(1L, 2L, 2L, 3L)), ids.mkString(","))
  }

  test("idempotentParquetAppend drops replayed keys against a target holding duplicate keys") {
    val dir = Files.createTempDirectory("graft_idem7").toString
    Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/t")
    Sinks.idempotentParquetAppend(
      Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v"), s"$dir/t", Seq("id"))
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 5)
    assert(back.filter($"id" === 3L).count() == 1)
    assert(back.filter($"v".isin("x", "y")).count() == 0, "a replayed key was appended")
  }

  test("dir source lists files with pattern + cursor semantics") {
    val df = Sources.dir(spark, TestSpark.sf, pattern = ".*\\.parquet$")
    val files = df.select("path").as[String].collect()
    assert(files.length == 10)
    // lexicographic cursor: start_after skips everything <= cursor
    val cursorDf = Sources.dir(spark, TestSpark.sf, pattern = ".*\\.parquet$",
      startAfter = files.sorted.apply(4))
    assert(cursorDf.count() == 5)
  }

  test("fileBinary reads one file's bytes with origin") {
    val dir = Files.createTempDirectory("graft_bin").toString
    Files.write(java.nio.file.Paths.get(s"$dir/payload.bin"),
      "hello graft".getBytes("UTF-8"))
    val df = Sources.fileBinary(spark, s"$dir/payload.bin")
    val row = df.head()
    assert(row.getAs[String]("origin").endsWith("payload.bin"))
    assert(new String(row.getAs[Array[Byte]]("value"), "UTF-8") == "hello graft")
  }

  test("csv source reads all-string columns (reference FromCsv semantics)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Files.write(java.nio.file.Paths.get(s"$dir/t.csv"),
      "id,name\n1,alpha\n2,beta".getBytes("UTF-8"))
    val df = Sources.csv(spark, s"$dir/t.csv", origin = Some("t"))
    assert(df.schema.fields.filter(_.name != "origin")
      .forall(_.dataType == org.apache.spark.sql.types.StringType))
    assert(df.count() == 2)
    assert(df.select("origin").distinct().as[String].head() == "t")
  }

  test("orc sections round-trip through Spark's native ORC path with pushdown") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val write =
      s"""{"sections":[
        {"id":"src","name":"parquet_source","config":{"path":"${TestSpark.sf}/region.parquet"}},
        {"id":"dst","name":"orc_destination","config":{"path":"$dir/t","truncate":"true"}}],
        "edges":[["src","dst"]]}"""
    graft.plans.PipelineCompiler.run(spark,
      graft.plans.PipelineSpec.fromJson(write))
    val read =
      s"""{"sections":[
        {"id":"src","name":"orc_source","config":{"path":"$dir/t"}},
        {"id":"f","name":"sql","config":{"query":"SELECT r_regionkey, r_name FROM input WHERE r_regionkey > 1"}}],
        "edges":[["src","f"]]}"""
    val back = graft.plans.PipelineCompiler.compileFrame(spark,
      graft.plans.PipelineSpec.fromJson(read))
    val want = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
      .filter("r_regionkey > 1").select("r_regionkey", "r_name")
      .collect().map(_.toSeq).toSet
    assert(back.collect().map(_.toSeq).toSet == want)
    // the predicate must reach the ORC scan, same as parquet
    val plan = back.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      s"orc scan must receive pushed filters:\n$plan")
  }
}
