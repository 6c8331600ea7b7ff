package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap

/** Runs one workload once and prints two lines on stdout: the full run
  * record, then the result line (correct / attempted / failed / metrics).
  * With `--trace 0` the metrics are the end-to-end ones, measured with
  * no listener and no spans; with `--trace 1` they are the per-layer
  * ones from a run with spans and a job listener.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <scratch dir> --out <record dir>`
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workload.all.find(_.name == opt("workload"))
      .getOrElse(sys.error(s"unknown workload ${opt("workload")}; " +
        s"one of ${Workload.all.map(_.name).mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val out = Paths.get(opt("out")).toAbsolutePath.toString
    Host.deleteRecursively(work)
    Files.createDirectories(Paths.get(work))
    Files.createDirectories(Paths.get(out))

    val hostStart = Host.stamp()
    val spark = session(work)
    try {
      val (lines, result) = runOnce(spark, workload, seed, seconds, trace, work, out, hostStart)
      lines.foreach(println)
      println(result)
    } finally {
      spark.stop()
      Host.deleteRecursively(work)
    }
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // concurrent searches share the 4 cores round-robin, and the
      // engine's background absorption runs in its low-weight pool
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", graft.Graft.fairDefaultPoolFile)
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs the workload; returns the record line(s) and the result line. */
  def runOnce(spark: SparkSession, workload: Workload, seed: Long, seconds: Double,
              trace: Boolean, work: String, out: String,
              hostStart: Map[String, Any]): (Seq[String], String) = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, trace)
    val listener = if (trace) Some(new JobListener) else None
    listener.foreach(sc.addSparkListener)
    val t0 = System.nanoTime()
    val outcome = workload.run(Ctx(spark, seed, seconds, tracer,
      s"$work/${workload.name}", out))
    val wallMs = (System.nanoTime() - t0) / 1e6
    listener.foreach { l => l.drain(); sc.removeSparkListener(l) }
    val tag = s"${workload.name}-seed$seed"

    val reports = listener.map { l =>
      val report = new TraceReport(tracer, tracer.spans, l.all)
      val w = new java.io.PrintWriter(s"$out/$tag-spans.jsonl", "UTF-8")
      try report.spanLines.foreach(w.println) finally w.close()
      (uniformLayers(report, l.all, wallMs) ++ outcome.layers(report), report.byName)
    }
    val layers: Seq[LayerMetric] = reports.map(_._1).getOrElse(Nil)

    val e2ePath = Paths.get(s"$out/$tag-e2e.tsv")
    if (!trace) Files.write(e2ePath,
      outcome.e2e.map(m => s"${m.name}\t${m.value}").mkString("\n").getBytes("UTF-8"))
    val overhead: Map[String, Any] =
      if (!trace) Map.empty
      else if (!Files.exists(e2ePath)) Json.obj("note" ->
        s"no untraced run of $tag in $out; run --trace 0 with the same seed first")
      else {
        val base = new String(Files.readAllBytes(e2ePath), "UTF-8").linesIterator
          .map(_.split('\t')).collect { case Array(k, v) => k -> v.toDouble }.toMap
        Json.obj(outcome.e2e.flatMap(m => base.get(m.name).map(b =>
          m.name -> Json.obj("traced" -> m.value, "untraced" -> b,
            "traced_minus_untraced" -> (m.value - b)))): _*)
      }

    val correct = outcome.failed == 0
    val hostEnd = Host.stamp()
    val record = Json.obj(
      "record" -> "perfbench",
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "host" -> Json.obj("nproc" -> Host.nproc, "spark_master" -> s"local[$Cores]",
        "start" -> hostStart, "end" -> hostEnd,
        "steal_share" -> Host.stealShare(hostStart, hostEnd)),
      "correct" -> correct, "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "end_to_end" -> Workload.metricsJson(outcome.e2e),
      "workload_record" -> outcome.record,
      "per_layer" -> ListMap(layers.map(m => m.name -> Json.obj("value" -> m.value,
        "unit" -> m.unit, "layer" -> m.layer, "moves" -> m.moves)): _*),
      "calls_by_span" -> reports.map(_._2).getOrElse(Map.empty),
      "tracing_overhead" -> overhead,
      "run_wall_s" -> wallMs / 1e3)
    val recordLine = Json.mapper.writeValueAsString(record)
    Files.write(Paths.get(s"$out/$tag-trace${if (trace) 1 else 0}.json"),
      recordLine.getBytes("UTF-8"))

    val uniform = uniformNames.toSet
    val reported =
      if (trace) layers.filter(m => uniform(m.name)).map(m => (m.name, m.value, m.unit))
      else outcome.e2e.map(m => (m.name, m.value, m.unit))
    reported.foreach { case (k, v, _) =>
      require(!v.isNaN && !v.isInfinite, s"non-finite $k: $v") }
    val metrics = ListMap(reported.map { case (k, v, unit) =>
      k -> Json.obj("value" -> v, "unit" -> unit) }: _*)
    val result = Json.mapper.writeValueAsString(Json.obj("correct" -> correct,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed, "metrics" -> metrics))
    (Seq(recordLine), result)
  }

  /** Per-layer metrics every workload reports (BENCHMARK.json `per_layer`). */
  val uniformNames: Seq[String] = Seq(
    "fg.calls", "fg.jobs_per_call", "fg.tasks_per_call", "fg.job_ms_per_call",
    "fg.driver_ms_per_call", "fg.sched_delay_ms_per_task", "fg.executor_cpu_ms_per_call",
    "setup.jobs", "bg.jobs", "spark.jobs", "spark.tasks", "spark.gc_ms",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.bytes_written",
    "spark.cpu_wall_ratio")

  /** Foreground calls are the timed public calls of the measured phase:
    * spans whose names carry no `setup/`, `check/` or `warmup/` prefix.
    */
  def uniformLayers(r: TraceReport, jobs: Seq[JobRec], wallMs: Double): Seq[LayerMetric] = {
    val fg = r.spans.filter(!_.name.contains("/"))
    val n = math.max(1, fg.size).toDouble
    val fa = JobAgg.of(fg.flatMap(r.jobsUnder))
    val setup = JobAgg.of(r.spans.filter(_.name.startsWith("setup/")).flatMap(r.jobsUnder))
    val all = JobAgg.of(jobs)
    val e2e = "request_ms_p50, throughput_per_s"
    Seq(
      LayerMetric("fg.calls", fg.size, "count", "benchmark", e2e),
      LayerMetric("fg.jobs_per_call", fa.jobs / n, "count", "Spark", e2e),
      LayerMetric("fg.tasks_per_call", fa.tasks / n, "count", "Spark", e2e),
      LayerMetric("fg.job_ms_per_call", Stats.mean(fg.map(r.jobWallMs)), "ms", "Spark", e2e),
      LayerMetric("fg.driver_ms_per_call", Stats.mean(fg.map(r.selfMs)), "ms",
        "engine driver side", e2e),
      LayerMetric("fg.sched_delay_ms_per_task", fa.schedDelayMs / math.max(1, fa.tasks), "ms",
        "Spark", e2e),
      LayerMetric("fg.executor_cpu_ms_per_call", fa.cpuMs / n, "ms", "Spark", e2e),
      LayerMetric("setup.jobs", setup.jobs, "count", "Spark", "setup_s"),
      LayerMetric("bg.jobs", r.background.size, "count", "VectorDB absorb", e2e),
      LayerMetric("spark.jobs", all.jobs, "count", "Spark", e2e),
      LayerMetric("spark.tasks", all.tasks, "count", "Spark", e2e),
      LayerMetric("spark.gc_ms", all.gcMs, "ms", "Spark", "resident_mb, " + e2e),
      LayerMetric("spark.shuffle_write_bytes", all.shuffleWrite.toDouble, "B", "Spark", e2e),
      LayerMetric("spark.spill_bytes", all.spill.toDouble, "B", "Spark", e2e),
      LayerMetric("spark.bytes_written", all.bytesWritten.toDouble, "B", "Spark",
        "stored_bytes_per_row, setup_s"),
      LayerMetric("spark.cpu_wall_ratio", all.cpuMs / wallMs, "ratio", "Spark", e2e))
  }
}
