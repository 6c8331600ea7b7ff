package perfbench

import graft.db.{Embedder, VectorDB}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dense pseudo-random embeddings derived from the document text: the
  * text's hash seeds a generator that draws `dim` components uniform in
  * [-1, 1). Unlike the engine's sparse hashing embedder every sign bit
  * carries signal, as with the 1024-dim model embeddings the paper
  * serves; and it is cheap, so ingest time is the engine's, not the
  * embedder's.
  */
final class DenseEmbedder(val dim: Int) extends Embedder {
  override def embed(text: Column): Column = DenseEmbedder.udfFor(dim)(text)
}

object DenseEmbedder {
  def vector(text: String, dim: Int): Array[Float] = {
    val r = new java.util.SplittableRandom(scala.util.hashing.MurmurHash3.stringHash(text))
    Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)
  }
  def udfFor(dim: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((t: String) => vector(t, dim))
}

/** Shared input generators for the two VectorDB workloads. */
object VectorInputs {
  def text(id: Long, version: Int, seed: Long): String = s"doc $id v$version s$seed"

  def docs(spark: SparkSession, from: Long, until: Long, seed: Long): DataFrame =
    spark.range(from, until, 1, 4).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id"), lit(s" v0 s$seed")).as("text"))

  /** `n` distinct seeded query vectors. */
  def queries(n: Int, dim: Int, seed: Long): IndexedSeq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed * 1000003L + 17L)
    IndexedSeq.fill(n)(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      Array.fill(dim)(rnd.nextGaussian())))
  }

  /** Served hits must be bit-identical to the Catalyst plan of a second
    * instance over the same folder, which never serves.
    */
  def sameAsCatalyst(spark: SparkSession, folder: String,
                     served: VectorDB, q: Seq[Double]): Boolean = {
    val plain = VectorDB.openOrCreate(spark, folder)
    served.searchHits(q, k = 10) == plain.searchHits(q, k = 10)
  }
}

/** `serve_read`: the paper's headline geometry, read-only. Copy-on-write
  * storage, flat index, serving enabled; seeded distinct query vectors
  * go through `searchHits(k = 10)` with the default oversampling, first
  * as an open loop at a fixed rate (at most 4 in flight), then as a
  * 4-client closed loop. The only workload where a scan or kernel change
  * shows; it does no writes.
  */
object ServeRead extends Workload {
  val name = "serve_read"

  val Dim = 1024
  /** Open-loop requests in flight at most, and closed-loop clients. */
  val Workers = 4
  /** Served top-10s compared with the Catalyst plan after the loops. */
  val CheckQueries = 2

  /** The 4-client closed-loop capacity (`search_qps_c4`) of the default
    * size on a 4-vCPU host: medians of 85.5, 77.8 and 81.2 searches/s
    * over three sets of ten seeds.
    */
  val ReferenceQpsC4 = 80.0
  /** The open loop runs at this share of [[ReferenceQpsC4]]: low enough
    * that a request rarely waits behind another, so its latency is the
    * served search's own time. Each run records its actual utilisation,
    * the rate over its own measured capacity.
    */
  val OpenLoadShare = 0.25

  final case class Size(docs: Int = 100000, setups: Int = 3,
                        rate: Double = OpenLoadShare * ReferenceQpsC4)

  /** Distinct query vectors the closed loop cycles through. */
  private val ClosedPool = 2000

  /** Untimed closed-loop searching before the timed phases. */
  private val WarmupS = 1.0

  /** Share of the measured seconds the open loop gets; the closed loop
    * gets the rest.
    */
  private val OpenShare = 2.0 / 3

  /** Closed-loop throughput is the median over windows this long. */
  private val WindowS = 0.5

  def run(ctx: Ctx): Outcome = run(ctx, Size())

  def run(ctx: Ctx, size: Size): Outcome = {
    val spark = ctx.spark
    val checks = new Checks
    val embedder = new DenseEmbedder(Dim)
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var db: VectorDB = null
    var folder: String = null
    val warmQ = VectorInputs.queries(1, Dim, ctx.seed ^ 0x5eed)(0)
    def setup(folder: String): VectorDB = {
      val db = VectorDB.openOrCreate(spark, folder, model = s"perfbench-dense-$Dim", dim = Dim)
      ctx.span("setup/VectorDB.addDocuments") {
        db.addDocuments(VectorInputs.docs(spark, 0, size.docs, ctx.seed), embedder)
      }
      ctx.span("setup/VectorDB.enableServing")(db.enableServing())
      ctx.span("setup/VectorDB.searchHits")(db.searchHits(warmQ, k = 10))
      db
    }
    def drop(db: VectorDB, folder: String): Unit = {
      db.disableServing()
      spark.catalog.clearCache()
      Host.deleteRecursively(folder)
    }
    for (s <- 0 until size.setups) {
      if (db != null) drop(db, folder)
      folder = s"${ctx.work}/db$s"
      val (d, ms) = Workload.timeMs(setup(folder))
      db = d
      setupS += ms / 1e3
    }
    val storedPerRow = Host.dirBytes(folder).toDouble / size.docs
    val residentMb = Host.heapUsedAfterGcMb()
    val info = db.servingInfo()

    val nOpen = math.max(1, (size.rate * ctx.seconds * OpenShare).round.toInt)
    val qs = VectorInputs.queries(nOpen + ClosedPool, Dim, ctx.seed)
    def search(i: Int): Boolean = {
      val hits = ctx.span("VectorDB.searchHits", i.toLong)(db.searchHits(qs(i), k = 10))
      checks.op(hits.size == 10 && hits.forall(h => h.docId >= 0 && h.docId < size.docs),
        s"query $i returned ${hits.map(_.docId)}")
    }
    def closedLoop(seconds: Double) = OpenLoop.closed(Workers, seconds) { (c, k) =>
      search(nOpen + (k * Workers + c) % ClosedPool)
    }
    // untimed: the scan kernel's JIT warms on the first few hundred searches
    ctx.span("warmup/closed-loop")(closedLoop(WarmupS))
    val open = OpenLoop.run(size.rate, nOpen, Workers)(search)
    val closed = closedLoop(ctx.seconds * (1 - OpenShare))
    // median of windows: a GC pause or a stray background task costs
    // one window, not the whole figure
    val windows = closed.windowRates(WindowS, Workers)
    val (qps, qpsSamples) =
      if (windows.nonEmpty) (Stats.median(windows), windows.size)
      else (closed.latencyMs.size / closed.wallS, closed.latencyMs.size)

    val rnd = new scala.util.Random(ctx.seed)
    val sample = Seq.fill(CheckQueries)(rnd.nextInt(qs.size))
    sample.foreach { i =>
      checks.op(ctx.span("check/searchHits==catalyst")(
        VectorInputs.sameAsCatalyst(spark, folder, db, qs(i))),
        s"served top-10 of query $i differs from the Catalyst plan")
    }
    val (attempted, failed) = checks.counts
    val tailP = Stats.tailPercentile(open.latencyMs.size)
    val rec = Json.obj(
      "properties" -> Json.obj("rows" -> size.docs, "dim" -> Dim,
        "storage" -> "cow", "index" -> "flat", "serving" -> true,
        "open_loop_rate_per_s" -> size.rate,
        "open_loop_share_of_reference_qps" -> size.rate / ReferenceQpsC4,
        "open_loop_utilisation" -> size.rate / qps, "open_loop_queries" -> nOpen,
        "max_in_flight" -> Workers, "closed_loop_clients" -> Workers,
        "closed_loop_queries" -> closed.latencyMs.size, "k" -> 10,
        "binary_oversample" -> 10, "int8_oversample" -> 3,
        "checked_queries" -> CheckQueries, "serving_blocks" -> info.blocks,
        "code_bytes" -> info.rowsLowerBound * (Dim / 8)),
      "metrics" -> Json.obj(
        "search_ms_p50" -> Json.obj("value" -> Stats.median(open.latencyMs), "unit" -> "ms",
          "samples" -> open.latencyMs.size),
        "search_ms_tail" -> Json.obj("value" -> tailP.map(Stats.percentile(open.latencyMs, _)),
          "percentile" -> tailP, "unit" -> "ms", "samples" -> open.latencyMs.size),
        "search_service_ms" -> Stats.summary(open.serviceMs),
        "search_qps_c4" -> Json.obj("value" -> qps, "unit" -> "1/s",
          "samples" -> qpsSamples, "queries" -> closed.latencyMs.size,
          "window_qps" -> windows),
        "search_ms_c4" -> Stats.summary(closed.latencyMs),
        "generator_lateness_ms" -> Stats.summary(open.latenessMs),
        "setup_s" -> setupS.toList),
      "failures" -> checks.failures)
    val e2e = Workload.e2e(setupS.toSeq, open.latencyMs, qps, qpsSamples,
      residentMb, storedPerRow)

    def layers(r: TraceReport): Seq[LayerMetric] = {
      val sp = r.spans
      val ingest = sp.filter(_.name == "setup/VectorDB.addDocuments")
      val build = sp.filter(_.name == "setup/VectorDB.enableServing")
      val searches = sp.filter(_.name == "VectorDB.searchHits")
      val sAgg = JobAgg.of(searches.flatMap(r.jobsUnder))
      val iAgg = JobAgg.of(ingest.flatMap(r.jobsUnder))
      val ingestMs = Stats.median(ingest.map(_.durNs / 1e6))
      val n = math.max(1, searches.size).toDouble
      Seq(
        LayerMetric("ingest.ms", ingestMs, "ms", "VectorDB", "setup_s"),
        LayerMetric("ingest.rows_per_s", size.docs / (ingestMs / 1e3), "1/s", "VectorDB",
          "setup_s"),
        LayerMetric("ingest.executor_cpu_ms", iAgg.cpuMs / math.max(1, ingest.size), "ms",
          "VectorDB", "setup_s"),
        LayerMetric("serve.build_ms", Stats.median(build.map(_.durNs / 1e6)), "ms",
          "PreparedScan", "setup_s, resident_mb"),
        LayerMetric("search.job_ms", Stats.mean(searches.map(r.jobWallMs)), "ms",
          "PreparedScan", "request_ms_p50, throughput_per_s"),
        LayerMetric("search.driver_ms", Stats.mean(searches.map(r.selfMs)), "ms",
          "VectorDB", "request_ms_p50"),
        LayerMetric("search.tasks", sAgg.tasks / n, "count", "Spark", "request_ms_p50"),
        LayerMetric("search.scheduler_delay_ms", sAgg.schedDelayMs / n, "ms", "Spark",
          "request_ms_p50"),
        LayerMetric("search.executor_cpu_ms", sAgg.cpuMs / n, "ms", "PreparedScan",
          "throughput_per_s"),
        // what the search jobs' tasks report reading from the resident
        // serving blocks; the geometry's static code size is the
        // record's `code_bytes`
        LayerMetric("search.input_bytes", sAgg.bytesRead / n, "B", "PreparedScan",
          "request_ms_p50, throughput_per_s"))
    }
    Outcome(attempted, failed, e2e, rec, layers)
  }
}
