package graft.plans

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The spec-push endpoint drives the SAME watcher reconcile loop as file
  * edits: pushed add → start, pushed modify → old stops + new starts,
  * pushed delete → stop — and exactly the untouched pipelines stay
  * untouched. Invalid pushes are rejected at the door (400) and never
  * reach the directory. */
class SpecPushServerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def specJson(tmp: String, tag: String) =
    s"""{"sections":[
      {"id":"src","name":"parquet_source","config":{"path":"${TestSpark.sf}/region.parquet"}},
      {"id":"tag","name":"tagging","config":{"column":"tag","text":"$tag"}},
      {"id":"sink","name":"parquet_destination","config":{"path":"$tmp/out_$tag","truncate":"true"}}],
      "edges":[["src","tag"],["tag","sink"]]}"""
  private def hashOf(json: String) = PipelineSpec.fromJson(json).specHash

  private def http(method: String, url: String,
                   body: Option[String] = None,
                   auth: Option[String] = None): (Int, String) = {
    val c = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod(method)
    auth.foreach(t => c.setRequestProperty("Authorization", t))
    body.foreach { b =>
      c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(b.getBytes("UTF-8")) finally os.close()
    }
    val code = c.getResponseCode
    val is = if (code < 400) c.getInputStream else c.getErrorStream
    val text = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
    (code, text)
  }

  test("push add/modify/delete reconcile exactly the right pipelines") {
    val tmp = Files.createTempDirectory("graft_push").toString
    val specDir = Files.createTempDirectory("graft_push_specs")
    val orch = new Orchestrator(spark, restartBackoffMs = 10)
    val watcher = new SpecDirWatcher(orch, specDir)
    val server = new SpecPushServer(specDir, port = 0)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}/specs"

      // push a new spec → 200, file lands, next poll starts exactly it
      val a1 = specJson(tmp, "a1")
      assert(http("POST", s"$base/a", Some(a1))._1 == 200)
      val (s1, k1, st1) = watcher.poll()
      assert(s1 == Set(hashOf(a1)) && k1.isEmpty && st1.isEmpty)
      assert(spark.read.parquet(s"$tmp/out_a1").count() == 5)

      // second spec pushed; only IT starts, a kept
      val b1 = specJson(tmp, "b1")
      assert(http("PUT", s"$base/b.json", Some(b1))._1 == 200)
      val (s2, k2, st2) = watcher.poll()
      assert(s2 == Set(hashOf(b1)) && k2 == Set(hashOf(a1)) && st2.isEmpty)

      // modify a over HTTP → old hash stops, new starts, b untouched
      val a2 = specJson(tmp, "a2")
      assert(http("POST", s"$base/a", Some(a2))._1 == 200)
      val (s3, k3, st3) = watcher.poll()
      assert(s3 == Set(hashOf(a2)) && st3 == Set(hashOf(a1)) &&
        k3 == Set(hashOf(b1)))

      // an INVALID push is refused at the door and changes nothing
      val (badCode, badMsg) = http("POST", s"$base/a", Some("""{"sections":[
        {"id":"x","name":"no_such_section","config":{}}],"edges":[]}"""))
      assert(badCode == 400 && badMsg.contains("invalid spec"))
      val (s4, k4, st4) = watcher.poll()
      assert(s4.isEmpty && st4.isEmpty && k4 == Set(hashOf(a2), hashOf(b1)))

      // delete over HTTP → exactly a's pipelines stop
      assert(http("DELETE", s"$base/a")._1 == 200)
      val (s5, k5, st5) = watcher.poll()
      assert(s5.isEmpty && k5 == Set(hashOf(b1)) && st5 == Set(hashOf(a2)))

      // listing + redacted read-back
      val (lc, listing) = http("GET", base)
      assert(lc == 200 && listing.contains("b.json") && !listing.contains("a.json"))
    } finally server.stop()
  }

  test("GET /pipelines reports the orchestrator's running state") {
    val tmp = Files.createTempDirectory("graft_status").toString
    val specDir = Files.createTempDirectory("graft_status_specs")
    val orch = new Orchestrator(spark, restartBackoffMs = 10)
    val watcher = new SpecDirWatcher(orch, specDir)
    val server = new SpecPushServer(specDir, port = 0,
      status = Some(() => orch.snapshot))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      // nothing running yet
      assert(http("GET", s"$base/pipelines") == ((200, "[]\n")))
      val a = specJson(tmp, "st1")
      assert(http("POST", s"$base/specs/a", Some(a))._1 == 200)
      watcher.poll()
      val (code, body) = http("GET", s"$base/pipelines")
      assert(code == 200 && body.contains(hashOf(a)) &&
        body.contains("\"state\":\"succeeded\""), body)
      // a server without an orchestrator attached says so
      val bare = new SpecPushServer(specDir, port = 0)
      bare.start()
      try assert(http("GET",
        s"http://127.0.0.1:${bare.boundPort}/pipelines")._1 == 404)
      finally bare.stop()
    } finally server.stop()
  }

  test("bearer token gates mutations; reads stay open") {
    val specDir = Files.createTempDirectory("graft_push_tok")
    val server = new SpecPushServer(specDir, port = 0,
      token = Some("s3cret-token"))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}/specs"
      val spec = s"""{"sections":[
        {"id":"src","name":"parquet_source","config":{"path":"/tmp/x"}}],
        "edges":[]}"""
      // unauthenticated / wrong-token mutations: 401, nothing lands
      assert(http("POST", s"$base/t", Some(spec))._1 == 401)
      assert(http("PUT", s"$base/t", Some(spec),
        auth = Some("Bearer wrong"))._1 == 401)
      assert(http("DELETE", s"$base/t")._1 == 401)
      assert(!Files.exists(specDir.resolve("t.json")))
      // the right token mutates
      assert(http("POST", s"$base/t", Some(spec),
        auth = Some("Bearer s3cret-token"))._1 == 200)
      assert(Files.exists(specDir.resolve("t.json")))
      // GET needs no credentials (redacted display surface)
      assert(http("GET", base)._1 == 200)
      assert(http("GET", s"$base/t")._1 == 200)
      // authorized delete
      assert(http("DELETE", s"$base/t",
        auth = Some("Bearer s3cret-token"))._1 == 200)
    } finally server.stop()
  }

  test("/pipelines stays valid JSON when a state string carries control characters") {
    val specDir = Files.createTempDirectory("graft_push_esc")
    val server = new SpecPushServer(specDir, port = 0,
      status = Some(() => Seq(
        ("h1", "Failed: line one\n\tline \"two\"\r", 2,
          Some("detail with \"quotes\"\nand a newline")))))
    server.start()
    try {
      val (code, body) = http(
        "GET", s"http://127.0.0.1:${server.boundPort}/pipelines")
      assert(code == 200)
      // must parse as JSON — the raw newline/tab would break it
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = mapper.readTree(body)
      assert(arr.get(0).get("state").asText() ==
        "Failed: line one\n\tline \"two\"\r")
      assert(arr.get(0).get("restarts").asInt() == 2)
      assert(arr.get(0).get("error").asText() ==
        "detail with \"quotes\"\nand a newline")
    } finally server.stop()
  }

  test("a failed pipeline's cause chain round-trips to /pipelines; succeeded rows carry no error") {
    val tmp = Files.createTempDirectory("graft_errdetail").toString
    val specDir = Files.createTempDirectory("graft_errdetail_specs")
    // zero restarts so the failing spec fails fast
    val orch = new Orchestrator(spark, restartBackoffMs = 1, maxRestarts = 0)
    val watcher = new SpecDirWatcher(orch, specDir)
    val server = new SpecPushServer(specDir, port = 0,
      status = Some(() => orch.snapshot))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      // one good spec, one whose source path does not exist
      val good = specJson(tmp, "ok1")
      val bad = """{"sections":[
          {"id":"s","name":"parquet_source",
           "config":{"path":"/nonexistent/graft_missing.parquet"}},
          {"id":"d","name":"inspect","config":{}}],
        "edges":[["s","d"]]}"""
      assert(http("POST", s"$base/specs/good", Some(good))._1 == 200)
      assert(http("POST", s"$base/specs/bad", Some(bad))._1 == 200)
      watcher.poll()
      val (code, body) = http("GET", s"$base/pipelines")
      assert(code == 200)
      val arr = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      val rows = (0 until arr.size).map(arr.get)
      val failed = rows.find(_.get("state").asText.startsWith("failed")).get
      // the expander payload: a cause chain naming the actual problem,
      // not just the top-level "failed: ..." label
      assert(failed.has("error"), body)
      val detail = failed.get("error").asText
      assert(detail.contains("graft_missing") || detail.contains("PATH_NOT_FOUND")
        || detail.toLowerCase.contains("path"), detail)
      val ok = rows.find(_.get("state").asText == "succeeded").get
      assert(!ok.has("error"), body)
    } finally server.stop()
  }

  test("'__' names: hidden from the ungrouped listing, unreachable by " +
    "GET/PUT, but legacy files stay DELETE-able") {
    val specDir = Files.createTempDirectory("graft_push_uu")
    val server = new SpecPushServer(specDir, port = 0)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}/specs"
      val spec = """{"sections":[
        {"id":"src","name":"parquet_source","config":{"path":"/tmp/x"}}],
        "edges":[]}"""
      // a normal spec plus a PRE-GUARD legacy file written straight to
      // the dir (how an old `a__b` push would have landed)
      assert(http("POST", s"$base/plain", Some(spec))._1 == 200)
      Files.writeString(specDir.resolve("legacy__old.json"), spec)
      // the ungrouped listing shows only the non-namespaced spec — a
      // `__` file is workspace namespace (or a legacy orphan), not
      // ungrouped content
      val (lc, listing) = http("GET", base)
      assert(lc == 200 && listing.contains("plain.json") &&
        !listing.contains("legacy__old"), listing)
      // GET / PUT by `__` name stay 400 (the namespace-collision guard)
      assert(http("GET", s"$base/legacy__old")._1 == 400)
      assert(http("PUT", s"$base/legacy__old", Some(spec))._1 == 400)
      // …but DELETE reaches the legacy file, so it does not run forever
      assert(http("DELETE", s"$base/legacy__old")._1 == 200)
      assert(!Files.exists(specDir.resolve("legacy__old.json")))
      // path escapes stay rejected on the DELETE fallback too
      assert(http("DELETE", s"$base/..%2Fevil__x")._1 == 400)
    } finally server.stop()
  }

  test("path escapes are rejected; GET redacts secrets") {
    val specDir = Files.createTempDirectory("graft_push_sec")
    val server = new SpecPushServer(specDir, port = 0)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}/specs"
      // a secret-bearing (valid) spec — jdbc sinks accept url/password
      val spec = """{"sections":[
        {"id":"src","name":"parquet_source","config":{"path":"/tmp/x"}},
        {"id":"sink","name":"jdbc_destination","config":{
          "url":"jdbc:postgresql://u:hunter2@h/db","password":"hunter2"}}],
        "edges":[["src","sink"]]}"""
      assert(http("POST", s"$base/sec", Some(spec))._1 == 200)
      val (gc, got) = http("GET", s"$base/sec")
      assert(gc == 200 && !got.contains("hunter2"), got)
      assert(got.contains("***"))
      // the STORED file keeps real values (display-only redaction)
      assert(Files.readString(specDir.resolve("sec.json")).contains("hunter2"))
      // traversal / separator names never resolve
      assert(http("POST", s"$base/..%2Fevil", Some(spec))._1 == 400)
      assert(http("GET", s"$base/nope")._1 == 404)
    } finally server.stop()
  }
}
