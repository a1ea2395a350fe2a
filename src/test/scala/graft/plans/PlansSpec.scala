package graft.plans

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class PipelineSpecSpec extends AnyFunSuite {

  private def spec(json: String) = PipelineSpec.fromJson(json)

  val linear = """{"sections":[
    {"id":"a","name":"parquet_source","config":{"path":"/x"}},
    {"id":"b","name":"tagging","config":{"column":"t","text":"v"}},
    {"id":"c","name":"parquet_destination","config":{"path":"/y"}}],
    "edges":[["a","b"],["b","c"]]}"""

  test("json round-trip preserves spec and hash") {
    val s1 = spec(linear)
    val s2 = PipelineSpec.fromJson(PipelineSpec.toJson(s1))
    assert(s1 == s2)
    assert(s1.specHash == s2.specHash)
  }

  test("hash changes when config changes, stable under edge reordering") {
    val s1 = spec(linear)
    val s2 = spec(linear.replace("\"text\":\"v\"", "\"text\":\"w\""))
    assert(s1.specHash != s2.specHash)
    val reordered = PipelineSpec(s1.sections.reverse, s1.edges.reverse)
    assert(reordered.specHash == s1.specHash)
  }

  test("cycle rejected") {
    val e = intercept[IllegalArgumentException](spec(
      """{"sections":[{"id":"a","name":"sql","config":{"query":"q"}},
          {"id":"b","name":"sql","config":{"query":"q"}}],
         "edges":[["a","b"],["b","a"]]}"""))
    assert(e.getMessage.contains("cycle"))
  }

  test("duplicate ids rejected") {
    intercept[IllegalArgumentException](spec(
      """{"sections":[{"id":"a","name":"sql","config":{"query":"q"}},
          {"id":"a","name":"sql","config":{"query":"q"}}],"edges":[]}"""))
  }

  test("multi-output rejected (single-output links, graph parity)") {
    intercept[IllegalArgumentException](spec(
      """{"sections":[{"id":"a","name":"parquet_source","config":{"path":"/x"}},
          {"id":"b","name":"stub","config":{}},{"id":"c","name":"stub","config":{}}],
         "edges":[["a","b"],["a","c"]]}"""))
  }

  test("multi-input rejected (a section consumes one stream; no silent drop)") {
    val e = intercept[IllegalArgumentException](spec(
      """{"sections":[{"id":"a","name":"parquet_source","config":{"path":"/x"}},
          {"id":"b","name":"parquet_source","config":{"path":"/y"}},
          {"id":"c","name":"stub","config":{}}],
         "edges":[["a","c"],["b","c"]]}"""))
    assert(e.getMessage.contains("single-input"))
  }

  test("IO-kind mismatch rejected") {
    val e = intercept[IllegalArgumentException](spec(
      """{"sections":[{"id":"f","name":"file_source","config":{"path":"/x"}},
          {"id":"t","name":"typecast","config":{"target":"int"}}],
         "edges":[["f","t"]]}"""))
    assert(e.getMessage.contains("incompatible"))
  }

  test("components: forest splits into connected subgraphs") {
    val s = spec("""{"sections":[
      {"id":"a","name":"parquet_source","config":{"path":"/x"}},
      {"id":"b","name":"stub","config":{}},
      {"id":"c","name":"parquet_source","config":{"path":"/z"}},
      {"id":"d","name":"stub","config":{}}],
      "edges":[["a","b"],["c","d"]]}""")
    val comps = s.components
    assert(comps.map(_.sections.map(_.id)) == Seq(Seq("a", "b"), Seq("c", "d")))
    // node + edge conservation (reference quickcheck invariant)
    assert(comps.flatMap(_.sections).size == s.sections.size)
    assert(comps.flatMap(_.edges).size == s.edges.size)
  }

  test("topoOrder puts sources before sinks") {
    val s = spec(linear)
    assert(s.topoOrder == Seq("a", "b", "c"))
  }
}

class StatefulQuerySpec extends AnyFunSuite {
  // mirrors reference cases: stateful_query.rs:207-310

  test("single variable extracted and bound") {
    val q = StatefulQuery("select * from t where id > $id::i64 limit 10000")
    assert(q.variable.contains("id"))
    assert(q.bind(42) == "select * from t where id > 42 limit 10000")
  }

  test("repeated same variable binds everywhere") {
    val q = StatefulQuery("select * from t where a > $w::i64 and b between $w::i64 and 10")
    assert(q.variables == Seq("w"))
    assert(q.bind(7).contains("a > 7") && q.bind(7).contains("between 7 and"))
  }

  test("multi-variable rejected") {
    intercept[IllegalArgumentException](
      StatefulQuery("select * from t where a > $a::i64 and b > $b::i64"))
  }

  test("placeholder inside string literal is data, not a variable") {
    val q = StatefulQuery("select * from t where s = 'keep $x::i64' and id > $id::i64")
    assert(q.variables == Seq("id"))
  }

  test("non-stateful query passes through") {
    val q = StatefulQuery("select 1")
    assert(!q.isStateful)
    assert(q.bind(5) == "select 1")
  }
}

class StateStoreSpec extends AnyFunSuite {
  test("set/get/merge/delete round-trip") {
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new StateStore(dir)
    assert(st.get("p", "s", "k").isEmpty)
    st.set("p", "s", "k" -> "1")
    st.set("p", "s", "k2" -> "x")
    assert(st.get("p", "s", "k").contains("1"))     // merge kept old key
    assert(st.getLong("p", "s", "k").contains(1L))
    st.set("p", "s", "k" -> "2")
    assert(st.get("p", "s", "k").contains("2"))
    st.delete("p", "s")
    assert(st.get("p", "s", "k").isEmpty)
  }

  test("special characters survive the JSON round-trip") {
    val dir = Files.createTempDirectory("graft_state").toString
    val st = new StateStore(dir)
    val nasty = "a\"b\\c\nd\te"
    st.set("p", "s", "k" -> nasty)
    assert(st.get("p", "s", "k").contains(nasty))
  }
}

class IncrementalRunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("catchUp processes all slices and persists watermark after sink") {
    graft.Tables.registerAll(spark, TestSpark.sf)
    val dir = Files.createTempDirectory("graft_state").toString
    val store = new StateStore(dir)
    val runner = new IncrementalRunner(spark, store)
    val q = StatefulQuery(
      "SELECT o_orderkey FROM orders WHERE o_orderkey > $o_orderkey::i64 ORDER BY o_orderkey LIMIT 400")
    var seen = 0L
    val wm = runner.catchUp("p", "s", q, spark.sql(_), df => seen += df.count())
    val expected = spark.sql("select max(o_orderkey) from orders").head().getLong(0)
    assert(wm == expected)
    assert(store.getLong("p", "s", "o_orderkey").contains(expected))
    // strictly-greater semantics: key 0 is below the initial watermark 0
    val total = spark.sql("select count(*) from orders where o_orderkey > 0").head().getLong(0)
    assert(seen == total)
  }

  test("at-least-once: crash between sink and state write replays the slice") {
    graft.Tables.registerAll(spark, TestSpark.sf)
    val dir = Files.createTempDirectory("graft_state").toString
    val store = new StateStore(dir)
    val runner = new IncrementalRunner(spark, store)
    val q = StatefulQuery(
      "SELECT o_orderkey FROM orders WHERE o_orderkey > $o_orderkey::i64 ORDER BY o_orderkey LIMIT 100")
    // sink that "commits" then crashes before the runner can store state
    var committed = Vector[Long]()
    intercept[RuntimeException] {
      runner.tick("p", "s", q, spark.sql(_), df => {
        committed = committed ++ df.collect().map(_.getLong(0))
        throw new RuntimeException("crash after partial commit, before ack")
      })
    }
    assert(store.get("p", "s", "o_orderkey").isEmpty, "state must not advance on failure")
    // retry replays the same slice (at-least-once), dedup makes it effectively-once
    runner.tick("p", "s", q, spark.sql(_), df => {
      committed = committed ++ df.collect().map(_.getLong(0))
    })
    assert(committed.size == 200 && committed.distinct.size == 100)
  }

  test("tick runs one slice action, before the sink") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    graft.Tables.registerAll(spark, TestSpark.sf)
    val store = new StateStore(Files.createTempDirectory("graft_state").toString)
    val runner = new IncrementalRunner(spark, store)
    val q = StatefulQuery(
      "SELECT o_orderkey FROM orders WHERE o_orderkey > $o_orderkey::i64 ORDER BY o_orderkey LIMIT 100")
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(funcName)
    }
    def seen(): Vector[String] = {
      org.apache.spark.graft.TestBus.flush(spark.sparkContext)
      actions.asScala.toVector
    }
    spark.listenerManager.register(listener)
    try {
      seen()
      actions.clear()
      var beforeSink = Vector.empty[String]
      var sinkActions = 0
      var rows = 0
      runner.tick("p", "s", q, spark.sql(_), df => {
        beforeSink = seen()
        rows = df.collect().length // the sink's own action, left out below
        sinkActions = seen().size - beforeSink.size
      })
      val all = seen()
      assert(rows == 100)
      assert(beforeSink == Vector("head"), s"runner actions before the sink: $beforeSink")
      assert(all.size == beforeSink.size + sinkActions,
        s"runner actions after the sink: ${all.drop(beforeSink.size + sinkActions)}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("rows landing while the sink runs wait for the next tick, committed once") {
    import scala.jdk.CollectionConverters._
    val store = new StateStore(Files.createTempDirectory("graft_state").toString)
    val runner = new IncrementalRunner(spark, store)
    val q = StatefulQuery("SELECT id FROM live_src WHERE id > $id::i64")
    LiveSource.ids.clear()
    LiveSource.land(1L to 50L)
    def runQuery(sql: String) = {
      LiveSource.frame(spark).createOrReplaceTempView("live_src")
      spark.sql(sql)
    }
    var committed = Vector.empty[Long]
    def collect(df: org.apache.spark.sql.DataFrame): Unit =
      committed ++= df.collect().map(_.getLong(0))
    val wm1 = runner.tick("p", "s", q, runQuery, df => {
      LiveSource.land(51L to 80L) // lands before the sink reads its slice
      collect(df)
    })
    assert(committed.sorted == (1L to 50L).toVector)
    assert(wm1.contains(50L) && store.getLong("p", "s", "id").contains(50L),
      "the stored watermark must not cover rows the sink was not handed")
    assert(runner.tick("p", "s", q, runQuery, collect).contains(80L))
    assert(runner.tick("p", "s", q, runQuery, collect).isEmpty)
    assert(committed.sorted == (1L to 80L).toVector, "every row committed exactly once")
    assert(LiveSource.ids.asScala.size == 80)
  }
}

/** A source whose rows are read at execution time, not at plan time: a
  * frame built by [[frame]] sees every id landed before the job runs, as a
  * database table would (local-mode executors share this JVM). */
private object LiveSource {
  val ids = new java.util.concurrent.CopyOnWriteArrayList[java.lang.Long]()
  def land(r: Seq[Long]): Unit = r.foreach(i => ids.add(i))
  def frame(spark: org.apache.spark.sql.SparkSession) = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    spark.range(1).flatMap(_ => LiveSource.ids.asScala.map(_.longValue).toSeq)
      .toDF("id")
  }
}

class OrchestratorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def specFor(tmp: String, tag: String) = PipelineSpec.fromJson(
    s"""{"sections":[
      {"id":"src","name":"parquet_source","config":{"path":"${TestSpark.sf}/region.parquet"}},
      {"id":"tag","name":"tagging","config":{"column":"tag","text":"$tag"}},
      {"id":"sink","name":"parquet_destination","config":{"path":"$tmp/out_$tag","truncate":"true"}}],
      "edges":[["src","tag"],["tag","sink"]]}""")

  test("reconcile starts, keeps, stops by spec hash") {
    val tmp = Files.createTempDirectory("graft_orch").toString
    val orch = new Orchestrator(spark, restartBackoffMs = 10)
    val s1 = specFor(tmp, "v1")
    val (started1, _, _) = orch.reconcile(Seq(s1))
    assert(started1 == Set(s1.specHash))
    assert(spark.read.parquet(s"$tmp/out_v1").count() == 5)
    // same spec → kept, not restarted
    val (started2, kept2, stopped2) = orch.reconcile(Seq(s1))
    assert(started2.isEmpty && kept2 == Set(s1.specHash) && stopped2.isEmpty)
    // changed spec → old stopped, new started
    val s2 = specFor(tmp, "v2")
    val (started3, _, stopped3) = orch.reconcile(Seq(s2))
    assert(started3 == Set(s2.specHash) && stopped3 == Set(s1.specHash))
  }

  test("failing pipeline retries then records failure") {
    val orch = new Orchestrator(spark, restartBackoffMs = 1, maxRestarts = 2)
    val bad = PipelineSpec.fromJson(
      """{"sections":[{"id":"src","name":"parquet_source",
         "config":{"path":"/nonexistent/nowhere.parquet"}},
         {"id":"sink","name":"stub","config":{}}],
         "edges":[["src","sink"]]}""")
    orch.reconcile(Seq(bad))
    orch.stateOf(bad.specHash) match {
      case Some(f) => assert(f.toString.contains("Failed"))
      case None => fail("pipeline not tracked")
    }
  }
}

/** The daemon loop: a spec DIRECTORY is the desired state; add/modify/
  * delete of files start/restart/stop exactly their pipelines across poll
  * rounds, and nothing else is touched (reference `myceliald` scheduler
  * behavior — per-invocation `reconcile` run in a loop with last-good
  * resilience). */
class SpecDirWatcherSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def specJson(tmp: String, tag: String) =
    s"""{"sections":[
      {"id":"src","name":"parquet_source","config":{"path":"${TestSpark.sf}/region.parquet"}},
      {"id":"tag","name":"tagging","config":{"column":"tag","text":"$tag"}},
      {"id":"sink","name":"parquet_destination","config":{"path":"$tmp/out_$tag","truncate":"true"}}],
      "edges":[["src","tag"],["tag","sink"]]}"""
  private def hashOf(json: String) = PipelineSpec.fromJson(json).specHash

  test("watch rounds: add starts, modify restarts, delete stops, others untouched") {
    val tmp = Files.createTempDirectory("graft_watch").toString
    val specDir = Files.createTempDirectory("graft_watch_specs")
    val orch = new Orchestrator(spark, restartBackoffMs = 10)
    val watcher = new SpecDirWatcher(orch, specDir)

    // round 1: one spec file appears → its pipeline starts and runs
    val a1 = specJson(tmp, "a1")
    Files.write(specDir.resolve("a.json"), a1.getBytes("UTF-8"))
    val (s1, k1, st1) = watcher.poll()
    assert(s1 == Set(hashOf(a1)) && k1.isEmpty && st1.isEmpty)
    assert(spark.read.parquet(s"$tmp/out_a1").count() == 5)

    // round 2: nothing changed → kept, nothing restarted
    val (s2, k2, st2) = watcher.poll()
    assert(s2.isEmpty && k2 == Set(hashOf(a1)) && st2.isEmpty)

    // round 3: second file appears → only IT starts; a kept
    val b1 = specJson(tmp, "b1")
    Files.write(specDir.resolve("b.json"), b1.getBytes("UTF-8"))
    val (s3, k3, st3) = watcher.poll()
    assert(s3 == Set(hashOf(b1)) && k3 == Set(hashOf(a1)) && st3.isEmpty)

    // round 4: a.json modified → old hash stops, new starts; b untouched
    val a2 = specJson(tmp, "a2")
    Files.write(specDir.resolve("a.json"), a2.getBytes("UTF-8"))
    val (s4, k4, st4) = watcher.poll()
    assert(s4 == Set(hashOf(a2)) && st4 == Set(hashOf(a1)) &&
      k4 == Set(hashOf(b1)))
    assert(spark.read.parquet(s"$tmp/out_a2").count() == 5)

    // round 5: a.json turns unparseable mid-edit → last-good keeps running
    Files.write(specDir.resolve("a.json"), "{ not json".getBytes("UTF-8"))
    val (s5, k5, st5) = watcher.poll()
    assert(s5.isEmpty && st5.isEmpty &&
      k5 == Set(hashOf(a2), hashOf(b1)),
      "a broken file must keep its last-good pipelines running")

    // round 6: b.json deleted → exactly its pipeline stops
    Files.delete(specDir.resolve("b.json"))
    val (s6, k6, st6) = watcher.poll()
    assert(s6.isEmpty && st6 == Set(hashOf(b1)) && k6 == Set(hashOf(a2)))

    // the loop driver: maxRounds bounds it; stop() short-circuits it
    watcher.watch(intervalMs = 1, maxRounds = 2) // returns ⇒ bounded
    var stopped = false
    watcher.watch(intervalMs = 1, stop = () => { stopped = true; true })
    assert(stopped, "stop() must be consulted before the first poll")
  }
}
