package perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {
  test("requests are timed from their due time, so a backlog shows in latency") {
    // 100/s offered, one worker that needs 25 ms per request: request i is
    // due at 10·i ms but cannot finish before 25·(i+1) ms
    val r = OpenLoop.run(rate = 100, n = 10, workers = 1) { _ => Thread.sleep(25); true }
    assert(r.failed == 0 && r.latencyMs.size == 10)
    r.latencyMs.zip(r.serviceMs).foreach { case (l, s) => assert(l >= s - 0.5) }
    assert(r.serviceMs.forall(s => s >= 24 && s < 200), r.serviceMs)
    (0 until 10).foreach(i => assert(r.latencyMs(i) >= 25.0 * (i + 1) - 10.0 * i - 2,
      s"request $i: ${r.latencyMs(i)} ms"))
    assert(r.latencyMs.last > 2 * r.serviceMs.last)
  }

  test("below capacity, latency is the service time and the generator is on time") {
    val r = OpenLoop.run(rate = 50, n = 20, workers = 2) { _ => Thread.sleep(2); true }
    assert(Stats.median(r.latencyMs) < Stats.median(r.serviceMs) + 5)
    assert(r.latenessMs.size == 20 && Stats.median(r.latenessMs) < 5, r.latenessMs)
    assert(r.wallS >= 19 / 50.0)
  }

  test("at most `workers` requests are in flight, and failures are counted") {
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val r = OpenLoop.run(rate = 1000, n = 40, workers = 3) { i =>
      val now = inFlight.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
      Thread.sleep(5)
      inFlight.decrementAndGet()
      if (i % 10 == 0) throw new RuntimeException("boom")
      i % 7 != 0
    }
    assert(peak.get() <= 3 && peak.get() >= 2)
    assert(r.failed == (0 until 40).count(i => i % 10 == 0 || i % 7 == 0))
  }

  test("the closed loop keeps each client busy until the deadline") {
    val r = OpenLoop.closed(clients = 2, seconds = 0.2) { (_, _) => Thread.sleep(10); true }
    assert(r.latencyMs.size >= 20 && r.latencyMs.size <= 44, r.latencyMs.size)
    assert(r.wallS >= 0.2)
    // two clients at ~10 ms a request: ~200 requests/s by Little's law
    val rates = r.windowRates(0.05, 2)
    assert(rates.size >= 3 && rates.forall(x => x > 80 && x <= 205), rates)
  }
}
