package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Engine.session]] prefers shuffled-hash joins; its scaladoc promises
  * that sort-merge joins come back at runtime through two `spark.conf.set`
  * calls. This spec holds the engine's tuning to that promise. */
class EngineConfigSpec extends AnyFunSuite {

  private val restoreSortMerge = Seq(
    "spark.sql.join.preferSortMergeJoin" -> "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "0")

  /** Executed plan of an equi-join too large to broadcast, under `conf`. */
  private def joinPlan(conf: Seq[(String, String)]): String = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    val j = s.range(0, 1000).toDF("id")
      .join(s.range(0, 1000).selectExpr("id", "id * 2 as v"), "id")
    j.collect()
    j.queryExecution.executedPlan.toString
  }

  test("the engine's tuning confs are all settable at runtime") {
    Engine.tuning.keys.foreach(k =>
      assert(TestSpark.spark.conf.isModifiable(k), k))
  }

  test("the engine's tuning plans shuffled-hash joins") {
    val plan = joinPlan(Engine.tuning.toSeq)
    assert(plan.contains("ShuffledHashJoin"), plan)
  }

  test("the documented runtime reset restores sort-merge joins") {
    val plan = joinPlan(Engine.tuning.toSeq ++ restoreSortMerge)
    assert(plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }
}
