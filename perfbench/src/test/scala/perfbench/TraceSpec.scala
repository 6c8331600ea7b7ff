package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private val ms = 1000000L

  test("covered length is the union of intervals clipped to the window") {
    assert(Intervals.covered(0, 100, Nil) == 0)
    assert(Intervals.covered(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L), (-5L, 5L))) == 45)
    assert(Intervals.covered(0, 100, Seq((10L, 20L), (10L, 20L))) == 10)
    assert(Intervals.covered(0, 100, Seq((30L, 40L), (10L, 50L))) == 40)
    assert(Intervals.covered(0, 100, Seq((200L, 300L))) == 0)
  }

  test("self time is the duration minus what the children cover") {
    val s = Span(1, "call", 0, 0, 0, 100)
    assert(Intervals.selfNs(s, Nil) == 100)
    assert(Intervals.selfNs(s, Seq((10L, 30L), (20L, 40L))) == 70)
    assert(Intervals.selfNs(s, Seq((-10L, 200L))) == 0)
  }

  test("jobs count as children of the span they ran under; stray ones are background") {
    val tracer = new Tracer(null, enabled = false)
    val t0 = tracer.baseNs
    def at(msOff: Long) = t0 + msOff * ms
    val call = Span(1, "VectorDB.addDocuments", 0, 7, at(0), at(100))
    val child = Span(2, "inner", 1, 7, at(10), at(30))
    val other = Span(3, "VectorDB.searchHits", 0, 8, at(200), at(220))
    def job(id: Int, span: Long, bg: Boolean, from: Long, to: Long) = {
      val j = new JobRec(id, span, bg, tracer.baseEpochMs + from)
      j.endMs = tracer.baseEpochMs + to
      j.tasks = 4
      j
    }
    val jobs = Seq(
      job(0, 1, bg = false, 50, 70), // the call's own job
      job(1, 2, bg = false, 12, 28), // the child's job
      job(2, 1, bg = true, 60, 90), // background pool, inherited span id
      job(3, 2, bg = false, 205, 215), // stale inherited id: falls to the open span
      job(4, 0, bg = false, 300, 310)) // no span at all
    val r = new TraceReport(tracer, Seq(call, child, other), jobs)
    assert(r.attribution == Map(0 -> Some(1L), 1 -> Some(2L), 2 -> None, 3 -> Some(3L),
      4 -> None))
    assert(r.background.map(_.jobId) == Seq(2, 4))
    assert(r.jobsUnder(call).map(_.jobId).toSet == Set(0, 1))
    assert(r.selfMs(call) == 60.0) // 100 − child 20 − own job 20
    assert(r.selfMs(child) == 4.0) // 20 − job 16
    assert(r.selfMs(other) == 10.0)
    assert(r.jobWallMs(call) == 36.0) // jobs 0 and 1
    assert(r.overlapMs(Seq(call)) == 30.0) // background job 2 ran 60–90
    val lines = r.spanLines.toList
    assert(lines.size == 3 && lines.head.contains("\"self_ms\":60.0"))
  }
}
