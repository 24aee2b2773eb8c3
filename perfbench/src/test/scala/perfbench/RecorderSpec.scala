package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The timing path must never report a failed op as a latency sample. */
class RecorderSpec extends AnyFunSuite {

  /** A clock the test advances by hand. */
  private final class Clock { var now = 0L; def tick(ms: Long): Unit = now += ms * 1000000L }

  test("a successful op records its phases; check time is excluded") {
    val c = new Clock
    val rec = new Recorder(() => c.now, () => c.now / 2)
    rec.op("ok") { op =>
      op.addRows(7)
      op.phase("write") { c.tick(30); 1 } { _ => c.tick(500) }
      op.phase("read") { c.tick(10); 2 } { v => Check.equal(v, 2, "read") }
    }
    assert(rec.attempted === 1 && rec.failed === 0)
    assert(rec.of("op") === Seq(40.0))
    assert(rec.of("write") === Seq(30.0))
    assert(rec.of("read") === Seq(10.0))
    assert(rec.of("cpu") === Seq(20.0), "CPU time is taken over the phases only")
    assert(rec.rows === 7)
  }

  test("a throwing op counts as failed and adds no latency sample") {
    val c = new Clock
    val rec = new Recorder(() => c.now)
    val r = rec.op("throws") { op =>
      op.phase("write") { c.tick(5); 1 } { _ => () }
      op.phase("read") { c.tick(3); throw new RuntimeException("boom") } { (_: Int) => () }
    }
    assert(r.isEmpty)
    assert(rec.attempted === 1 && rec.failed === 1)
    assert(rec.of("op").isEmpty && rec.of("write").isEmpty && rec.of("read").isEmpty &&
      rec.of("cpu").isEmpty)
    assert(rec.rows === 0)
    assert(rec.timedNs === 8000000L, "the failed op's time still counts as spent")
    assert(rec.failures.head.contains("boom"))
  }

  test("a wrong answer counts as failed and adds no latency sample") {
    val c = new Clock
    val rec = new Recorder(() => c.now)
    rec.op("fast but wrong") { op =>
      op.addRows(100)
      op.phase("read") { c.tick(1); 41 } { v => Check.equal(v, 42, "answer") }
    }
    rec.op("right") { op =>
      op.phase("read") { c.tick(9); 42 } { v => Check.equal(v, 42, "answer") }
    }
    assert(rec.attempted === 2 && rec.failed === 1)
    assert(rec.of("read") === Seq(9.0) && rec.of("op") === Seq(9.0),
      "only the correct op is timed")
    assert(rec.rows === 0)
    assert(rec.failures.head.contains("got 41, want 42"))
  }

  test("percentiles are nearest-rank; the median averages the middle pair") {
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) === 18.0)
    assert(Stats.percentile(xs, 1.0) === 20.0)
    assert(Stats.median(xs) === 10.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
  }

  test("job-covered time is the union of overlapping job intervals") {
    assert(SpanWork.coveredMs(Seq(0L -> 10L, 5L -> 15L, 20L -> 25L)) === 20L)
    assert(SpanWork.coveredMs(Nil) === 0L)
  }
}
