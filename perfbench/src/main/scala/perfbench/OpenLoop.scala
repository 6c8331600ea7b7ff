package perfbench

import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

/** Load generators. Latencies are in ms. */
object OpenLoop {

  /** @param latencyMs per request, from the time it was DUE to its end:
    *        a stall makes every request queued behind it late too
    * @param serviceMs per request, from when a worker began it
    * @param latenessMs how late the generator released each request
    * @param endS when each request ended, in seconds from the start
    */
  final case class Result(latencyMs: Seq[Double], serviceMs: Seq[Double],
                          latenessMs: Seq[Double], failed: Int, wallS: Double,
                          endS: Seq[Double] = Nil) {
    /** Closed-loop throughput in each whole `windowS` window of the run,
      * by Little's law: `clients` / the mean latency of the requests that
      * ended in the window (no think time between requests).
      */
    def windowRates(windowS: Double, clients: Int): Seq[Double] = {
      val n = (wallS / windowS).toInt
      endS.zip(latencyMs).groupBy { case (e, _) => (e / windowS).toInt }
        .filter { case (w, _) => w < n }.toSeq.sortBy(_._1)
        .map { case (_, xs) => clients / (Stats.mean(xs.map(_._2)) / 1e3) }
    }
  }

  /** Releases request i at t0 + i/rate for i < n; at most `workers`
    * requests run at once, the rest wait in a queue. `op(i)` returns
    * false (or throws) for a failed request.
    */
  def run(rate: Double, n: Int, workers: Int)(op: Int => Boolean): Result = {
    require(rate > 0 && n > 0 && workers > 0)
    val queue = new LinkedBlockingQueue[(Int, Long)]()
    val latency = new Array[Double](n)
    val service = new Array[Double](n)
    val lateness = new Array[Double](n)
    val failed = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(workers)
    val periodNs = 1e9 / rate
    val t0 = System.nanoTime()
    (0 until workers).foreach { _ =>
      pool.execute { () =>
        var item = queue.take()
        while (item._1 >= 0) {
          val (i, due) = item
          val s = System.nanoTime()
          val ok = try op(i) catch { case scala.util.control.NonFatal(_) => false }
          val e = System.nanoTime()
          if (!ok) failed.incrementAndGet()
          latency(i) = (e - due) / 1e6
          service(i) = (e - s) / 1e6
          item = queue.take()
        }
      }
    }
    var i = 0
    while (i < n) {
      val due = t0 + (i * periodNs).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      lateness(i) = (now - due) / 1e6
      queue.put((i, due))
      i += 1
    }
    (0 until workers).foreach(_ => queue.put((-1, 0L)))
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
    Result(latency.toSeq, service.toSeq, lateness.toSeq, failed.get(),
      (System.nanoTime() - t0) / 1e9)
  }

  /** `clients` threads each issue requests back to back until `seconds`
    * have passed; returns per-request latencies, failures and the wall.
    */
  def closed(clients: Int, seconds: Double)(op: (Int, Int) => Boolean): Result = {
    val pool = Executors.newFixedThreadPool(clients)
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    val failed = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    (0 until clients).foreach { c =>
      pool.execute { () =>
        var k = 0
        while (System.nanoTime() < end) {
          val s = System.nanoTime()
          val ok = try op(c, k) catch { case scala.util.control.NonFatal(_) => false }
          if (!ok) failed.incrementAndGet()
          val e = System.nanoTime()
          lat.add(((e - s) / 1e6, (e - t0) / 1e9))
          k += 1
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
    val xs = lat.asScala.toSeq
    Result(xs.map(_._1), xs.map(_._1), Nil, failed.get(), (System.nanoTime() - t0) / 1e9,
      xs.map(_._2))
  }
}
