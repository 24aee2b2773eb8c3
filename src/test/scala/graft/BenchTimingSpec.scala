package graft

import graft.BenchTiming._

/** Bench's timing path must never report a query that throws as a
  * (fast) success: it lands in `failed`, with no time and no share of
  * `total`.
  */
class BenchTimingSpec extends SparkSpec {

  test("a throwing query is Failed, not timed; a finished one is " +
    "Timed; a hung one is TimedOut") {
    val timer = new Timer(spark, budgetMs = 120000L)
    val short = new Timer(spark, budgetMs = 500L)
    try {
      val boom = timer.run("q_boom") {
        spark.range(10).count()
        throw new IllegalStateException("boom")
      }
      assert(boom match {
        case Failed(e) => e.getMessage == "boom"
        case _         => false
      }, s"got $boom")
      // a query failing inside a Spark job is no different
      val jobBoom = timer.run("q_job_boom") {
        spark.range(3).selectExpr("assert_true(id < 0)").collect()
        ()
      }
      assert(jobBoom.isInstanceOf[Failed], s"got $jobBoom")
      assert(timer.run("q_ok") { spark.range(10).count(); () }
        .isInstanceOf[Timed])
      assert(short.run("q_hang") { Thread.sleep(30000L) } === TimedOut)
      // the pool survives a timeout: the next query still runs
      assert(short.run("q_after") { () }.isInstanceOf[Timed])
    } finally { timer.shutdown(); short.shutdown() }
  }

  test("contract lines: failed queries are listed on line 1 only — " +
    "absent from queries and total; timeouts keep the budget") {
    val fail = Failed(new RuntimeException("x"))
    val results = Seq(
      fold("q_ok", Seq(Timed(2.0), Timed(1.5)), 300000L, false),
      fold("q_boom", Seq(fail, fail), 300000L, false),
      fold("q_flaky", Seq(Timed(0.01), fail), 300000L, false),
      fold("q_hang", Seq(TimedOut, TimedOut), 3000L, false))
    assert(results.map(_.sec) === Seq(Some(1.5), None, None, Some(3.0)))
    val (line1, line2) = contractLines(results, "sf0.001", 0.25, 1.0,
      2.0, 4)
    assert(line1.contains("\"failed\":[\"q_boom\",\"q_flaky\"]"))
    assert(line1.contains("\"timed_out\":[\"q_hang\"]"))
    assert(line1.contains("\"queries\":{\"q_ok\":1.500,\"q_hang\":3.000}"))
    assert(line2 === "{\"metric\":\"total\",\"value\":4.500,\"unit\":" +
      "\"sec\",\"sf\":\"sf0.001\",\"load_avg\":2.000}")
    assert(line2.length < 120)
  }

  test("only two finished runs can flag a third run") {
    assert(suspicious(Seq(Timed(1.0), Timed(3.0))))
    assert(suspicious(Seq(Timed(6.0), Timed(6.1))))
    assert(!suspicious(Seq(Timed(1.0), Timed(1.1))))
    assert(!suspicious(Seq(Timed(0.1), Failed(new RuntimeException))))
    assert(!suspicious(Seq(TimedOut, Timed(9.0))))
  }
}
