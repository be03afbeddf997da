package graftbench

import graft.Sessions
import org.scalatest.funsuite.AnyFunSuite

class ActionSpec extends AnyFunSuite {

  test("a traced op's analysis phase is charged once, whether it collects or writes to noop") {
    val spark = Sessions.local("graftbench-action-spec")
    try {
      val tr = new Tracer(spark, enabled = true)
      Seq(true, false).zipWithIndex.foreach { case (collect, op) =>
        // enough expressions that analysis takes whole milliseconds
        val df = spark.sql((1 to 400).map(i => s"id + $i AS c$i").mkString("SELECT ", ", ", " FROM range(100)"))
        val analysisMs = df.queryExecution.tracker.phases("analysis").durationMs.toDouble
        assume(analysisMs > 0)
        val rows = tr.span(s"op$op", op)(Workload.action(df, collect, tr))
        assert(rows.map(_.length) === (if (collect) Some(100) else None))
        val charged = tr.countersOf(tr.spans.last.id).values("plans.analysis_ms")
        if (collect) assert(charged === analysisMs)
        // the noop write adds its command plan's own (small) analysis
        else assert(charged >= analysisMs && charged < 2 * analysisMs)
      }
    } finally spark.stop()
  }
}
