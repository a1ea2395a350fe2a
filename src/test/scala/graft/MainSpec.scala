package graft

import graft.plans.{Orchestrator, PipelineSpec}
import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

/** `graft run` / `graft reconcile` report a pipeline that failed past its
  * retries on stderr and in the exit code. */
class MainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def spec(out: String, query: String) = PipelineSpec.fromJson(
    s"""{"sections":[
      {"id":"src","name":"parquet_source","config":{"path":"${TestSpark.sf}/region.parquet"}},
      {"id":"q","name":"sql","config":{"query":"$query"}},
      {"id":"sink","name":"parquet_destination","config":{"path":"$out","truncate":"true"}}],
      "edges":[["src","q"],["q","sink"]]}""")

  private def reconcile(s: PipelineSpec): (Int, String, String) = {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val code = Main.reconcileOnce(
      new Orchestrator(spark, restartBackoffMs = 1, maxRestarts = 1), Seq(s),
      new PrintStream(out, true, "UTF-8"), new PrintStream(err, true, "UTF-8"))
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  test("a pipeline that fails past its retries exits non-zero and names the cause") {
    val tmp = Files.createTempDirectory("graft_main").toString
    val bad = spec(s"$tmp/bad", "select r_no_such_column from input")
    val (code, out, err) = reconcile(bad)
    assert(code != 0)
    assert(out.contains("started=1"))
    assert(err.contains(bad.components.head.specHash.take(12)), err)
    assert(err.contains("r_no_such_column"), err)
  }

  test("a pipeline that succeeds exits 0 with nothing on stderr") {
    val tmp = Files.createTempDirectory("graft_main").toString
    val (code, out, err) = reconcile(spec(s"$tmp/good", "select r_name from input"))
    assert(code == 0, err)
    assert(out.contains("started=1 kept=0 stopped=0"))
    assert(err.isEmpty, err)
    assert(spark.read.parquet(s"$tmp/good").count() == 5)
  }
}
