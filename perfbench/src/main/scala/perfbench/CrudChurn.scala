package perfbench

import graft.db.VectorDB

import scala.collection.mutable

/** `crud_churn`: writes beside reads on a tier small enough that each
  * search is bound by the per-job floor. Merge-on-read storage with
  * incremental serving at its defaults (the absorb daemon on, as users
  * get it). One closed-loop client repeats a cycle: upsert a batch of
  * fresh docs plus rewrites of live ones, delete live ids, search right
  * after the commit (commit-to-visible), search again a few times, and
  * compact every few cycles. The commit protocol, MorTable, the
  * incremental refresh and absorption carry the work here; a scan-kernel
  * change should not move it.
  */
object CrudChurn extends Workload {
  val name = "crud_churn"

  val Dim = 1024
  /** Served top-10s compared with the Catalyst plan after the loop. */
  val CheckQueries = 1

  final case class Size(docs: Int = 50000, setups: Int = 3,
                        fresh: Int = 1000, upserts: Int = 100, removes: Int = 50,
                        searchesAfter: Int = 8, compactEvery: Int = 3,
                        minCycles: Int = 4)

  def run(ctx: Ctx): Outcome = run(ctx, Size())

  /** The benchmark's own model of the table: the current version of
    * every live id (its text encodes the version); removed ids are absent.
    */
  private final class Model(seed: Long) {
    val version = mutable.LongMap.empty[Int]
    var nextId = 0L
    private val order = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.LongMap.empty[Int]
    def add(id: Long, v: Int): Unit = {
      if (!version.contains(id)) { pos(id) = order.size; order += id }
      version(id) = v
    }
    def remove(id: Long): Unit = {
      version -= id
      val i = pos(id); val last = order.last
      order(i) = last; pos(last) = i; order.remove(order.size - 1); pos -= id
    }
    def pick(rnd: scala.util.Random, n: Int, exclude: Set[Long]): Seq[Long] = {
      val out = mutable.LinkedHashSet.empty[Long]
      while (out.size < n) {
        val id = order(rnd.nextInt(order.size))
        if (!exclude(id)) out += id
      }
      out.toSeq
    }
    def text(id: Long): String = VectorInputs.text(id, version(id), seed)
  }

  /** One table under churn: its folder, the engine instance and the
    * benchmark's model of it. Timings accumulate per operation kind.
    */
  private final class Table(ctx: Ctx, size: Size, val folder: String,
                            qs: IndexedSeq[Seq[Double]], checks: Checks) {
    private val spark = ctx.spark
    import spark.implicits._
    private val embedder = new DenseEmbedder(Dim)
    private val rnd = new scala.util.Random(ctx.seed)
    val model = new Model(ctx.seed)
    var db: VectorDB = _
    var queriesUsed = 0
    val upsertMs, deleteMs, visibleMs, searchMs, compactMs, cycleMs =
      mutable.ArrayBuffer.empty[Double]
    var maxPending, maxChain = 0

    def clearTimings(): Unit = {
      Seq(upsertMs, deleteMs, visibleMs, searchMs, compactMs, cycleMs).foreach(_.clear())
      maxPending = 0; maxChain = 0
    }

    def setup(docs: Int, prefix: String): Unit = {
      db = VectorDB.openOrCreate(spark, folder, model = s"perfbench-dense-$Dim", dim = Dim,
        storage = VectorDB.StorageMor)
      db.incrementalServing()
      ctx.span(prefix + "VectorDB.addDocuments") {
        db.addDocuments(VectorInputs.docs(spark, 0, docs, ctx.seed), embedder)
      }
      ctx.span(prefix + "VectorDB.enableServing")(db.enableServing())
      search(prefix + "VectorDB.searchHits", -1)
    }

    /** The model of a freshly set-up table of `docs` rows. */
    def initModel(docs: Int): Unit = {
      (0L until docs).foreach(model.add(_, 0))
      model.nextId = docs
    }

    def drop(): Unit = {
      db.disableServing()
      spark.catalog.clearCache()
      Host.deleteRecursively(folder)
    }

    private def search(name: String, cycle: Int): Double = {
      val q = qs(queriesUsed % qs.size); queriesUsed += 1
      val (hits, ms) = Workload.timeMs(ctx.span(name, cycle)(db.searchHits(q, k = 10)))
      if (cycle >= 0) {
        val stale = hits.filter(h =>
          !model.version.contains(h.docId) || h.doc != model.text(h.docId))
        checks.op(hits.size == 10 && stale.isEmpty,
          s"cycle $cycle: ${hits.size} hits, stale or removed ${stale.map(_.docId)}")
      }
      ms
    }

    /** Upsert, delete, every `compactEvery` cycles a compaction, then the
      * commit-to-visible search and more searches.
      */
    def cycle(c: Int, prefix: String): Unit = {
      val c0 = System.nanoTime()
      val freshIds = (model.nextId until model.nextId + size.fresh).toSeq
      model.nextId += size.fresh
      val upIds = model.pick(rnd, size.upserts, Set.empty)
      val v = c + 1
      val batch = (freshIds.map((_, 0)) ++ upIds.map((_, v)))
        .map { case (id, ver) => (id, VectorInputs.text(id, ver, ctx.seed)) }
        .toDF("doc_id", "text")
      upsertMs += Workload.timeMs(ctx.span(prefix + "VectorDB.addDocuments", c)(
        db.addDocuments(batch, embedder)))._2
      freshIds.foreach(model.add(_, 0)); upIds.foreach(model.add(_, v))
      val delIds = model.pick(rnd, size.removes, upIds.toSet)
      deleteMs += Workload.timeMs(ctx.span(prefix + "VectorDB.removeDocs", c)(
        db.removeDocs(delIds)))._2
      delIds.foreach(model.remove)
      maxPending = math.max(maxPending, db.pendingDeltas())
      // compacting before the visible search keeps the full serving
      // rebuild a fold triggers inside the same cycle
      if (c > 0 && c % size.compactEvery == 0)
        compactMs += Workload.timeMs(ctx.span(prefix + "VectorDB.compact", c)(db.compact()))._2
      visibleMs += search(prefix + "VectorDB.searchHits.visible", c)
      (0 until size.searchesAfter).foreach(_ =>
        searchMs += search(prefix + "VectorDB.searchHits", c))
      maxChain = math.max(maxChain, db.servingInfo().chainDepth)
      cycleMs += (System.nanoTime() - c0) / 1e6
    }
  }

  def run(ctx: Ctx, size: Size): Outcome = {
    val spark = ctx.spark
    val checks = new Checks
    val qs = VectorInputs.queries(4096, Dim, ctx.seed)
    var t: Table = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    for (s <- 0 until size.setups) {
      if (t != null) t.drop()
      t = new Table(ctx, size, s"${ctx.work}/db$s", qs, checks)
      setupS += Workload.timeMs(t.setup(size.docs, "setup/"))._2 / 1e3
    }
    t.initModel(size.docs)
    val residentMb = Host.heapUsedAfterGcMb()
    val last = t
    val db = last.db
    val folder = last.folder
    val model = last.model

    // one untimed cycle first, so the timed ones run warm code
    last.cycle(0, prefix = "warmup/")
    last.clearTimings()
    var rows = 0L
    val bytesAfterCycle = mutable.ArrayBuffer.empty[(Long, Long)]
    val t0 = System.nanoTime()
    val end = t0 + (ctx.seconds * 1e9).toLong
    var cycle = 0
    while (System.nanoTime() < end || cycle < size.minCycles) {
      last.cycle(cycle + 1, prefix = "")
      rows += size.fresh + size.upserts + size.removes
      if (ctx.tracer.enabled) bytesAfterCycle += ((Host.dirBytes(folder), Host.fileCount(folder)))
      cycle += 1
    }
    import last.{upsertMs, deleteMs, visibleMs, searchMs, compactMs, cycleMs, maxPending, maxChain}
    val qi = last.queriesUsed
    val loopS = (System.nanoTime() - t0) / 1e9

    checks.op(ctx.span("check/count==model")(db.count()) == model.version.size,
      s"count() != ${model.version.size} live rows in the model")
    (0 until CheckQueries).foreach { i =>
      checks.op(ctx.span("check/searchHits==catalyst")(
        VectorInputs.sameAsCatalyst(spark, folder, db, qs((qi + i) % qs.size))),
        s"served top-10 differs from the Catalyst plan after the loop")
    }
    val live = model.version.size
    val storedPerRow = Host.dirBytes(folder).toDouble / live
    val (attempted, failed) = checks.counts
    def ms(name: String, xs: Seq[Double]) =
      name -> Json.obj("value" -> (if (xs.isEmpty) None else Some(Stats.median(xs))),
        "unit" -> "ms", "samples" -> xs.size)
    val searchTail = Stats.tailPercentile(searchMs.size)
    val rec = Json.obj(
      "properties" -> Json.obj("rows" -> size.docs, "dim" -> Dim, "storage" -> "mor",
        "index" -> "flat", "incremental_serving" -> "defaults (absorb on)",
        "batch_fresh" -> size.fresh, "batch_upserts" -> size.upserts,
        "removes" -> size.removes, "searches_after_commit" -> (1 + size.searchesAfter),
        "compact_every" -> size.compactEvery, "cycles" -> cycle, "live_rows_end" -> live),
      "metrics" -> Json.obj(
        ms("upsert_ms_p50", upsertMs.toSeq), ms("delete_ms_p50", deleteMs.toSeq),
        ms("visible_ms_p50", visibleMs.toSeq), ms("search_ms_p50", searchMs.toSeq),
        "search_ms_tail" -> Json.obj("value" -> searchTail.map(Stats.percentile(searchMs.toSeq, _)),
          "percentile" -> searchTail, "unit" -> "ms", "samples" -> searchMs.size),
        ms("compact_ms_p50", compactMs.toSeq), ms("cycle_ms_p50", cycleMs.toSeq),
        "rows_committed_per_s" -> rows / loopS,
        "pending_deltas_max" -> maxPending, "chain_depth_max" -> maxChain,
        "setup_s" -> setupS.toList),
      "failures" -> checks.failures)
    val e2e = Workload.e2e(setupS.toSeq, cycleMs.toSeq, rows / loopS, cycle,
      residentMb, storedPerRow)

    def layers(r: TraceReport): Seq[LayerMetric] = {
      val sp = r.spans
      def named(n: String) = sp.filter(_.name == n)
      val adds = named("VectorDB.addDocuments")
      val rems = named("VectorDB.removeDocs")
      val comps = named("VectorDB.compact")
      val inChurn = named("VectorDB.searchHits")
      val commits = adds ++ rems
      val cAgg = JobAgg.of(commits.flatMap(r.jobsUnder))
      val compAgg = JobAgg.of(comps.flatMap(r.jobsUnder))
      val per = (xs: Seq[Span], f: Span => Double) => if (xs.isEmpty) 0.0 else Stats.mean(xs.map(f))
      val written = bytesAfterCycle.toSeq
      val growth = if (written.size < 2) (0L, 0L)
        else (written.last._1 - written.head._1, written.last._2 - written.head._2)
      val fg = sp.filter(s => !s.name.contains("/"))
      val bgAgg = JobAgg.of(r.background)
      val visible = Stats.median(visibleMs.toSeq)
      Seq(
        LayerMetric("commit.add.jobs", per(adds, s => r.jobsUnder(s).size), "count",
          "VectorDB commit", "upsert_ms_p50"),
        LayerMetric("commit.remove.jobs", per(rems, s => r.jobsUnder(s).size), "count",
          "VectorDB commit", "delete_ms_p50"),
        LayerMetric("commit.tasks", cAgg.tasks.toDouble / math.max(1, commits.size), "count",
          "VectorDB commit", "upsert_ms_p50, delete_ms_p50"),
        LayerMetric("commit.bytes_written_per_row", cAgg.bytesWritten.toDouble / math.max(1L, rows),
          "B", "VectorDB commit", "stored_bytes_per_row"),
        LayerMetric("commit.files_written", growth._2.toDouble / math.max(1, written.size - 1),
          "count", "MorTable", "stored_bytes_per_row"),
        LayerMetric("mor.pending_deltas_max", maxPending, "count", "MorTable",
          "visible_ms_p50, search_ms_tail"),
        LayerMetric("compact.ms", per(comps, _.durNs / 1e6), "ms", "MorTable", "request_ms_p50"),
        LayerMetric("compact.jobs", per(comps, s => r.jobsUnder(s).size), "count", "MorTable",
          "request_ms_p50"),
        LayerMetric("compact.bytes_rewritten", compAgg.bytesWritten.toDouble / math.max(1, comps.size),
          "B", "MorTable", "stored_bytes_per_row"),
        LayerMetric("serve.refresh_ms", visible - Stats.median(searchMs.toSeq), "ms",
          "PreparedScan", "visible_ms_p50"),
        LayerMetric("serve.chain_depth_max", maxChain, "count", "PreparedScan",
          "visible_ms_p50, search_ms_tail"),
        LayerMetric("search.driver_ms", per(inChurn, r.selfMs), "ms", "VectorDB",
          "search_ms_p50"),
        LayerMetric("search.scheduler_delay_ms",
          JobAgg.of(inChurn.flatMap(r.jobsUnder)).schedDelayMs / math.max(1, inChurn.size),
          "ms", "Spark", "search_ms_p50"),
        LayerMetric("background.jobs", bgAgg.jobs, "count", "VectorDB absorb",
          "visible_ms_p50, search_ms_tail"),
        LayerMetric("background.task_ms", bgAgg.runMs, "ms", "VectorDB absorb",
          "visible_ms_p50, search_ms_tail"),
        LayerMetric("background.overlap_ms", r.overlapMs(fg), "ms", "VectorDB absorb",
          "request_ms_p50"))
    }
    Outcome(attempted, failed, e2e, rec, layers)
  }
}
