package graft.tools

import org.apache.spark.ListenerBusTestHook

import graft.SparkSpec

/** [[Explain.profile]], the run-and-collect step behind the Explain tool. */
class ExplainSpec extends SparkSpec {

  test("profile reports completed stages and compile counts, then detaches its listener") {
    val p = Explain.profile(spark, "flagship_shipping", "/root/testdata/sf0.001", runs = 1)
    assert(p.runs.size === 1)
    assert(p.runs.head.rows > 0)
    assert(p.runs.forall(_.compiles >= 0), s"compile counts: ${p.runs.map(_.compiles)}")
    assert(p.stages.exists(_.tasks > 0), s"no completed stage with tasks: ${p.stages}")
    assert(p.plan.contains("Physical Plan"), p.plan)
    assert(ListenerBusTestHook.listenersOf[Explain.StageCollector](spark.sparkContext).isEmpty,
      "the stage collector must be removed from the listener bus")
  }
}
