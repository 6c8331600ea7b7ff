package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap

/** What a workload run needs: the session, its seed, how long to
  * measure, the span recorder, a private scratch directory and the
  * directory that keeps run records across runs.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     tracer: Tracer, work: String, records: String) {
  def span[T](name: String, request: Long = 0L)(f: => T): T = tracer.span(name, request)(f)
}

/** One reported number with its unit and the samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** A workload's result.
  *
  * @param e2e the end-to-end metrics, named as in BENCHMARK.json
  * @param record everything else a reader of the run needs: workload
  *        properties, per-operation latencies, output digests
  * @param layers per-layer metrics the workload derives from the trace
  *        (traced runs only), with the end-to-end metric each should move
  */
final case class Outcome(attempted: Long, failed: Long, e2e: Seq[Metric],
                         record: ListMap[String, Any],
                         layers: TraceReport => Seq[LayerMetric])

/** A per-layer number and the end-to-end metric it is expected to move. */
final case class LayerMetric(name: String, value: Double, unit: String,
                             layer: String, moves: String)

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Pass/fail tally: every correctness check counts as one operation. */
final class Checks {
  private var attempted = 0L
  private var failed = 0L
  private val firstFailures = scala.collection.mutable.ArrayBuffer.empty[String]

  def op(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (firstFailures.size < 10) firstFailures += what
    }
    ok
  }

  def counts: (Long, Long) = synchronized((attempted, failed))
  def failures: Seq[String] = synchronized(firstFailures.toList)
}

object Workload {
  val all: Seq[Workload] = Seq(ServeRead, CrudChurn, CorpusBatch)

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** The uniform end-to-end metric set every workload reports. */
  def e2e(setupS: Seq[Double], requestMs: Seq[Double], throughput: Double,
          throughputSamples: Int, residentMb: Double, storedBytesPerRow: Double): Seq[Metric] =
    Seq(
      Metric("setup_s", Stats.median(setupS), "s", setupS.size),
      Metric("request_ms_p50", Stats.median(requestMs), "ms", requestMs.size),
      Metric("throughput_per_s", throughput, "1/s", throughputSamples),
      Metric("resident_mb", residentMb, "MB", 1),
      Metric("stored_bytes_per_row", storedBytesPerRow, "B", 1))

  def metricsJson(ms: Seq[Metric]): ListMap[String, Any] =
    ListMap(ms.map(m => m.name -> Json.obj("value" -> m.value, "unit" -> m.unit,
      "samples" -> m.samples)): _*)
}
