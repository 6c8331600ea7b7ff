package graft

import graft.db.{BlockCache, HashingEmbedder, IndexStrategies, VectorDB}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Incremental serving refresh (`VectorDB.incrementalServing`, MOR
  * storage): a commit EXTENDS the resident serving blocks with one
  * delta layer (cost O(batch)) instead of rebuilding the tier
  * (O(table)); rows the window superseded — upserts and tombstones —
  * are masked through the chain's shadowing map.
  *
  * The contract under test: every search shape over a chain (single /
  * batched / radius / selector-filtered / NSW-navigated) is EXACTLY
  * what a full rebuild at the same snapshot would serve, i.e. what the
  * Catalyst path computes; the chain actually extends (depth grows —
  * not a silent rebuild); retirement (churn / layer cap / compaction)
  * falls back to a full rebuild; and BlockCache accounting frees the
  * whole chain at the end.
  */
class IncrementalServingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graftincs").toFile
    d.delete()
    d.getAbsolutePath
  }

  private val corpus = (1L to 400L).map(i =>
    (i, s"tok${i % 13} tok${i % 7} tok${i % 31} tok${i % 3}")).toSeq

  private def qVec(text: String): Seq[Double] = {
    val emb = new HashingEmbedder()
    spark.range(1).select(
      emb.embed(org.apache.spark.sql.functions.lit(text)).cast("array<double>"))
      .head().getSeq[Double](0)
  }

  private def hits(db: VectorDB, q: String, k: Int = 10): Seq[(Long, Int, Double)] =
    db.search(q, k).collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Int]("score_hamming"), r.getAs[Double]("score_cossim"))).toSeq

  /** A served+incremental db and its Catalyst twin (same folder, no
    * serving — the exact path), plus a mirrored-commit helper.
    */
  private def mirrored(index: String = VectorDB.IndexFlat):
      (VectorDB, VectorDB) = {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir,
      storage = VectorDB.StorageMor, index = index)
      .incrementalServing(absorbDepth = 0)
    db.addDocuments(corpus.toDF("doc_id", "text"))
    db.enableServing()
    val twin = VectorDB.openOrCreate(spark, dir,
      storage = VectorDB.StorageMor, index = index)
    (db, twin)
  }

  test("chain extension: append, upsert, delete each match the Catalyst twin") {
    val (db, twin) = mirrored()
    try {
      assert(hits(db, "tok1 tok5").nonEmpty)
      assert(db.servingChainForTest.exists(_.depth == 0))

      // append new ids
      db.addDocuments(Seq((9001L, "tok1 tok5 tok1"), (9002L, "tok9 tok4"))
        .toDF("doc_id", "text"))
      var a = hits(db, "tok1 tok5", 50)
      assert(db.servingChainForTest.exists(_.depth == 1), "append must EXTEND")
      assert(a.exists(_._1 == 9001L))
      assert(a == hits(twin, "tok1 tok5", 50))

      // upsert: rewrite existing ids — the old layer-0 rows must be masked
      db.addDocuments(Seq((5L, "tok9 tok4 tok9"), (9001L, "tok2 tok6"))
        .toDF("doc_id", "text"))
      a = hits(db, "tok9 tok4", 50)
      assert(db.servingChainForTest.exists(_.depth == 2), "upsert must EXTEND")
      assert(a.exists(_._1 == 5L))
      assert(a == hits(twin, "tok9 tok4", 50))
      // the REWRITTEN 9001 must not surface under its old text's query
      assert(hits(db, "tok1 tok5", 50) == hits(twin, "tok1 tok5", 50))

      // delete: tombstones mask rows out of every layer
      db.removeDocs(Seq(5L, 9002L))
      a = hits(db, "tok9 tok4", 450)
      assert(db.servingChainForTest.exists(_.depth == 3), "delete must EXTEND")
      assert(!a.exists(h => h._1 == 5L || h._1 == 9002L))
      assert(a == hits(twin, "tok9 tok4", 450))

      // a query whose exact top-k straddles base and delta layers
      Seq("tok12 tok2 tok30", "tok4", "tok2 tok6").foreach { q =>
        assert(hits(db, q, 25) == hits(twin, q, 25), s"query '$q'")
      }
    } finally db.disableServing()
  }

  test("chain layers keep a lineage-free task binary: extension with rows and delete-only") {
    val (db, twin) = mirrored()
    val q = Array.fill(16)(0x5a5a5a5aL)
    def binary(): Int = db.preparedForTest.get.taskBinaryBytes(q, 100)
    try {
      hits(db, "tok1")
      db.addDocuments(Seq((9001L, "tok1 tok5")).toDF("doc_id", "text"))
      assert(hits(db, "tok1 tok5") == hits(twin, "tok1 tok5"))
      assert(db.servingChainForTest.exists(_.depth == 1), "append must EXTEND")
      assert(binary() <= 8192, s"extension task binary ${binary()} B > 8 KB")
      db.removeDocs(Seq(7L))
      assert(hits(db, "tok1 tok5") == hits(twin, "tok1 tok5"))
      assert(db.servingChainForTest.exists(_.depth == 2), "delete must EXTEND")
      assert(binary() <= 8192, s"delete-only task binary ${binary()} B > 8 KB")
    } finally db.disableServing()
  }

  test("radius, batched, and filtered searches see the chain exactly") {
    val (db, twin) = mirrored()
    try {
      db.addDocuments(Seq((9001L, "tok1 tok5 tok1"), (9002L, "tok9 tok4"))
        .toDF("doc_id", "text"))
      db.removeDocs(Seq(3L))
      db.addDocuments(Seq((9001L, "tok2 tok6")).toDF("doc_id", "text"))
      // three commits, no search in between: ONE window spanning all of
      // them extends the chain by a single layer
      hits(db, "tok1")
      assert(db.servingChainForTest.exists(_.depth == 1))

      val q = qVec("tok1 tok5")
      // radius: the exhaustive contract over (base ∖ masked) ∪ layers
      val rServed = db.searchRadius(q, 12)
      val rTwin = twin.searchRadius(q, 12)
      assert(rServed == rTwin)
      assert(!rServed.exists(_._1 == 3L))

      // batched
      val qs = Seq(10L -> qVec("tok1 tok5"), 20L -> qVec("tok9 tok4"))
      val mServed = db.searchMany(qs, 8).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"))).toSeq.sorted
      val mTwin = twin.searchMany(qs, 8).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"))).toSeq.sorted
      assert(mServed == mTwin)

      // selector-filtered (allowlist AND shadowing map compose)
      val sel = db.selector(col("doc_id") % 2 === 1)
      try {
        val fServed = db.searchVectorWhere(q, sel, 10, 10, 3, Int.MaxValue)
          .collect().map(_.getAs[Long]("doc_id")).toSeq
        val fTwin = twin.searchVectorWhere(q, col("doc_id") % 2 === 1,
          10, 10, 3, Int.MaxValue)
          .collect().map(_.getAs[Long]("doc_id")).toSeq
        assert(fServed == fTwin)
      } finally sel.release()
    } finally db.disableServing()
  }

  test("nsw chain: delta layers carry their own graphs and stay exact at full width") {
    IndexStrategies.register(new IndexStrategies.Nsw(
      m = 6, efConstruction = 24, efSearch = 1 << 20))
    try {
      val (db, twin) = mirrored(index = VectorDB.IndexNsw)
      try {
        db.addDocuments(Seq((9001L, "tok1 tok5 tok1"), (9002L, "tok9 tok4"))
          .toDF("doc_id", "text"))
        hits(db, "tok1")
        db.removeDocs(Seq(7L))
        Seq("tok1 tok5", "tok12 tok2 tok30").foreach { q =>
          assert(hits(db, q, 50) == hits(twin, q, 50), s"query '$q'")
        }
        assert(db.servingChainForTest.exists(_.depth == 2))
      } finally db.disableServing()
    } finally IndexStrategies.register(new IndexStrategies.Nsw())
  }

  test("ivf chain: cell-probed searches prune across mixed layers and match a rebuild") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor,
      index = VectorDB.IndexIvf, ivfCells = 8)
      .incrementalServing(absorbDepth = 0)
    db.addDocuments(corpus.toDF("doc_id", "text"))
    db.enableServing()
    try {
      db.addDocuments(Seq((9001L, "tok1 tok5 tok1"), (9002L, "tok9 tok4"))
        .toDF("doc_id", "text"))
      hits(db, "tok1")
      db.removeDocs(Seq(9L))
      val q = qVec("tok1 tok5")
      val full = db.searchVector(q, 10, 10, 3, nprobe = 8).collect()
        .map(_.getAs[Long]("doc_id")).toSeq
      val pruned = db.searchVector(q, 10, 10, 3, nprobe = 3).collect()
        .map(_.getAs[Long]("doc_id")).toSeq
      assert(db.servingChainForTest.exists(_.depth == 2))
      assert(pruned.length == 10)
      // full probe over the chain == the Catalyst twin (exact)
      val twin = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
      val exact = twin.searchVector(q, 10, 10, 3, nprobe = 8).collect()
        .map(_.getAs[Long]("doc_id")).toSeq
      assert(full == exact)
      // probed results are exact per probed cell (same persisted
      // centroids → same cell set), so the chain must equal a forced
      // full rebuild at the same nprobe, whatever the block layout
      db.disableServing()
      db.enableServing()
      assert(db.servingChainForTest.exists(_.depth == 0))
      val prunedRebuilt = db.searchVector(q, 10, 10, 3, nprobe = 3).collect()
        .map(_.getAs[Long]("doc_id")).toSeq
      assert(pruned == prunedRebuilt,
        "cell-probed chain diverged from the rebuilt serving tier")
    } finally db.disableServing()
  }

  test("driver-side and distributed window materializations serve identical chains") {
    // Same commit sequence through both extension paths: the small-
    // window driver resolve (default dispatch at these sizes) and the
    // distributed window plan (forced by a zero dispatch bound). Every
    // search shape must agree with the Catalyst twin on both.
    def scenario(forceDistributed: Boolean): (Seq[(Long, Int, Double)], Seq[(Long, Int)]) = {
      val (db, twin) = mirrored()
      if (forceDistributed) db.incServingDriverWindowBytes = 0L
      try {
        db.addDocuments(Seq((9001L, "tok1 tok5 tok1"), (5L, "tok9 tok4 tok9"))
          .toDF("doc_id", "text"))
        hits(db, "tok1")
        db.removeDocs(Seq(5L, 9L))
        val h = hits(db, "tok9 tok4", 40)
        assert(db.servingChainForTest.exists(_.depth == 2),
          s"forceDistributed=$forceDistributed must still EXTEND")
        assert(h == hits(twin, "tok9 tok4", 40),
          s"forceDistributed=$forceDistributed diverged from the twin")
        val r = db.searchRadius(qVec("tok9 tok4"), 16)
        assert(r == twin.searchRadius(qVec("tok9 tok4"), 16))
        (h, r)
      } finally db.disableServing()
    }
    val (hDriver, rDriver) = scenario(forceDistributed = false)
    val (hDist, rDist) = scenario(forceDistributed = true)
    assert(hDriver == hDist && rDriver == rDist,
      "the two window materializations must be indistinguishable")
  }

  test("retirement: churn bound, layer cap, and compaction each force a full rebuild") {
    val dir = freshDir()
    // churn bound: 400-row base, 25% churn = 100 rows; a 120-row window
    // must retire the chain
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
      .incrementalServing(maxChurnFraction = 0.25, maxLayers = 2, absorbDepth = 0)
    db.addDocuments(corpus.toDF("doc_id", "text"))
    db.enableServing()
    try {
      db.addDocuments((2001L to 2120L).map(i => (i, s"tok${i % 11}"))
        .toDF("doc_id", "text"))
      hits(db, "tok1")
      assert(db.servingChainForTest.exists(_.depth == 0),
        "over-churn window must trigger a full rebuild")
      // the rebuild's baseRows must now reflect the grown table
      assert(db.servingChainForTest.exists(_.baseRows == 520L))

      // layer cap: two small commits extend (maxLayers = 2)…
      db.addDocuments(Seq((3001L, "tok5")).toDF("doc_id", "text"))
      hits(db, "tok1")
      db.addDocuments(Seq((3002L, "tok6")).toDF("doc_id", "text"))
      hits(db, "tok1")
      assert(db.servingChainForTest.exists(_.depth == 2))
      // …the third hits the cap and rebuilds
      db.addDocuments(Seq((3003L, "tok7")).toDF("doc_id", "text"))
      hits(db, "tok1")
      assert(db.servingChainForTest.exists(_.depth == 0),
        "layer cap must trigger a full rebuild")

      // compaction folds the tiers a chain's windows hang off — rebuild
      db.addDocuments(Seq((3004L, "tok8")).toDF("doc_id", "text"))
      hits(db, "tok1")
      assert(db.servingChainForTest.exists(_.depth == 1))
      db.compact()
      hits(db, "tok1")
      assert(db.servingChainForTest.exists(_.depth == 0),
        "compaction must trigger a full rebuild")
    } finally db.disableServing()
  }

  test("block-cache accounting: the chain pins its base versions, then frees whole") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
      .incrementalServing(absorbDepth = 0)
    db.addDocuments(corpus.toDF("doc_id", "text"))
    db.enableServing()
    val folder = db.blockCacheKey.folder
    try {
      hits(db, "tok1")
      assert(BlockCache.liveEntriesFor(folder) == 1)
      db.addDocuments(Seq((9001L, "tok5")).toDF("doc_id", "text"))
      hits(db, "tok1")
      db.addDocuments(Seq((9002L, "tok6")).toDF("doc_id", "text"))
      hits(db, "tok1")
      assert(db.servingChainForTest.exists(_.depth == 2))
      // depth-2 chain = 3 live entries (each extension refs its base)
      assert(BlockCache.liveEntriesFor(folder) == 3)
      // the operator-facing snapshot reports the same state
      val info = db.servingInfo()
      assert(info.resident && info.chainDepth == 2 && info.chainChurnRows == 2
        && info.rowsLowerBound >= 400L)
    } finally db.disableServing()
    assert(BlockCache.liveEntriesFor(folder) == 0,
      "disableServing must cascade the whole chain free")
    assert(db.pendingPrevForTest.isEmpty)
  }

  test("a second instance over the folder shares the chain entry") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
      .incrementalServing(absorbDepth = 0)
    db.addDocuments(corpus.toDF("doc_id", "text"))
    db.enableServing()
    try {
      db.addDocuments(Seq((9001L, "tok1 tok5")).toDF("doc_id", "text"))
      hits(db, "tok1 tok5")
      assert(db.servingChainForTest.exists(_.depth == 1))
      val other = VectorDB.openOrCreate(spark, dir,
        storage = VectorDB.StorageMor)
      other.enableServing()
      try {
        assert(hits(other, "tok1 tok5") == hits(db, "tok1 tok5"))
        assert(other.preparedForTest.get eq db.preparedForTest.get,
          "the second instance must reuse the chain, not rebuild")
      } finally other.disableServing()
    } finally db.disableServing()
  }

  test("guards: cow storage rejected; knob validation") {
    val cow = VectorDB.openOrCreate(spark, freshDir())
    intercept[IllegalArgumentException] { cow.incrementalServing() }
    val mor = VectorDB.openOrCreate(spark, freshDir(),
      storage = VectorDB.StorageMor)
    intercept[IllegalArgumentException] { mor.incrementalServing(0.0) }
    intercept[IllegalArgumentException] { mor.incrementalServing(1.5) }
    intercept[IllegalArgumentException] { mor.incrementalServing(0.5, 0) }
    intercept[IllegalArgumentException] { mor.incrementalServing(0.5, 1, -1) }
  }

  test("absorb idle policy: scales with commit cadence, floored and capped") {
    // fixed floor when the folder is quiet or the cadence is fast
    assert(VectorDB.absorbIdleRequiredNanos(0L) == VectorDB.AbsorbIdleNanos)
    assert(VectorDB.absorbIdleRequiredNanos(500L * 1000 * 1000) ==
      VectorDB.AbsorbIdleNanos)
    // a storm whose period exceeds the floor requires two missed
    // periods of silence: mid-storm builds are guaranteed discarded, so
    // launching them only taxes the foreground commits (INCBENCH_r13
    // first draw: 13-32s commits vs 3.5-5.4s without absorption)
    val eightSec = 8L * 1000 * 1000 * 1000
    assert(VectorDB.absorbIdleRequiredNanos(eightSec) == 2 * eightSec)
    // capped: one slow commit must not defer absorption by minutes
    assert(VectorDB.absorbIdleRequiredNanos(Long.MaxValue / 4) ==
      VectorDB.AbsorbIdleCapNanos)
  }

  test("a commit cancels an in-flight absorb build (doomed by the version move)") {
    import graft.db.{IndexStrategies, IndexStrategy, NavBuilder, BlockNav}
    // A build the spec can DETERMINISTICALLY catch mid-flight: the nsw
    // builder gated on [[AbsorbCancelProbe]] — once armed, each block
    // build signals "inside a Spark task" and then parks until released
    // (or a generous timeout). The test commits only AFTER the signal,
    // so the cancel always finds an ACTIVE job — no lost-cancel window,
    // no polling race on absorbBuildInFlight. Registered under the same
    // name so the folder's config resolves to it; the probe object is a
    // JVM singleton, which local-mode tasks share across closure
    // serialization.
    val real = new IndexStrategies.Nsw()
    val slow = new IndexStrategy {
      def name = VectorDB.IndexNsw
      def partitioned = false
      override def navBuilder(ctx: IndexStrategy.Context): Option[NavBuilder] =
        real.navBuilder(ctx).map { nb =>
          new NavBuilder {
            def build(ids: Array[Long], words: Array[Long], nWords: Int): BlockNav = {
              AbsorbCancelProbe.enterBuild()
              nb.build(ids, words, nWords)
            }
          }
        }
    }
    IndexStrategies.register(slow)
    val dir = freshDir()
    try {
      val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor,
        index = VectorDB.IndexNsw)
        .incrementalServing(maxChurnFraction = 1.0, absorbDepth = 1)
      db.addDocuments(corpus.toDF("doc_id", "text"))
      // First serve build runs un-armed (the probe is pass-through).
      db.enableServing(blocks = 2)
      try {
        db.addDocuments(Seq((9001L, "tok1 tok5")).toDF("doc_id", "text"))
        // The chain extension this search triggers also builds delta
        // navs — still un-armed. depth 1 >= absorbDepth: the search
        // schedules the daemon, which defers (cadence EMA), then
        // launches the flatten — the next armed build() call.
        hits(db, "tok1 tok5", 20)
        AbsorbCancelProbe.arm()
        val startDeadline = System.currentTimeMillis() + 60000
        while (!AbsorbCancelProbe.insideBuild &&
               System.currentTimeMillis() < startDeadline) {
          if (!db.absorbBuildInFlight)
            hits(db, "tok1 tok5", 5) // keep re-triggering if discarded
          AbsorbCancelProbe.awaitInside(100)
        }
        assert(AbsorbCancelProbe.insideBuild,
          "the absorb build never reached a block build task")
        // A flatten task is provably parked inside a Spark job NOW:
        // land the commit. Its invalidateCache stamps the cancel intent
        // and kills the job group; the daemon's handler must classify
        // that as a cancel (absorbCancels), never as a build failure.
        val cancelsBefore = db.absorbCancels
        db.addDocuments(Seq((9002L, "tok2 tok6")).toDF("doc_id", "text"))
        AbsorbCancelProbe.release() // let any uncancelled task finish fast
        val cancelDeadline = System.currentTimeMillis() + 30000
        while (db.absorbCancels == cancelsBefore &&
               System.currentTimeMillis() < cancelDeadline)
          Thread.sleep(50)
        assert(db.absorbCancels > cancelsBefore,
          "the commit must cancel the doomed in-flight flatten")
        // The chain keeps serving correctly through all of it.
        val twin = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
        assert(hits(db, "tok1 tok5", 20) == hits(twin, "tok1 tok5", 20))
      } finally db.disableServing()
    } finally {
      AbsorbCancelProbe.reset()
      IndexStrategies.register(new IndexStrategies.Nsw())
    }
  }

  test("background absorption flattens a deep chain off the query path; results unchanged") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
      .incrementalServing(maxChurnFraction = 1.0, absorbDepth = 1)
    db.addDocuments(corpus.toDF("doc_id", "text"))
    db.enableServing()
    val twin = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
    try {
      db.addDocuments(Seq((9001L, "tok1 tok5"), (5L, "tok9 tok4"))
        .toDF("doc_id", "text"))
      val before = hits(db, "tok1 tok5", 50)
      assert(db.servingChainForTest.exists(_.depth == 1),
        "the commit must first serve through a chain")
      // depth 1 >= absorbDepth: that search scheduled the background
      // flatten; poll until a later search adopts it
      val deadline = System.currentTimeMillis() + 30000
      var flat = false
      while (!flat && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        hits(db, "tok1 tok5", 50)
        flat = db.servingChainForTest.exists(_.depth == 0)
      }
      assert(flat, "the absorbed tier was never adopted within 30s")
      val after = hits(db, "tok1 tok5", 50)
      assert(after == before, "absorption must not change what is served")
      assert(after == hits(twin, "tok1 tok5", 50),
        "the absorbed tier must match the Catalyst twin")
      // and the flattened tier extends again on the next commit
      db.addDocuments(Seq((9002L, "tok1 tok5 tok1")).toDF("doc_id", "text"))
      val again = hits(db, "tok1 tok5", 50)
      assert(db.servingChainForTest.exists(_.depth == 1),
        "post-absorption commits must chain-extend from the flattened base")
      assert(again == hits(twin, "tok1 tok5", 50))
    } finally {
      db.disableServing()
      assert(BlockCache.liveEntriesFor(db.blockCacheKey.folder) == 0,
        "disable must free the absorbed tier too")
    }
  }

  test("an unobserved stash is released after the commit bound (no search ever comes)") {
    val dir = freshDir()
    val db = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
      .incrementalServing(maxChurnFraction = 1.0, absorbDepth = 0)
    db.addDocuments(corpus.toDF("doc_id", "text"))
    db.enableServing()
    try {
      hits(db, "tok1") // resident
      // commit-only workload: the first commit stashes the superseded
      // tier; the stash must NOT outlive the commit bound
      (0 until VectorDB.IncServingStashMaxCommits + 1).foreach { i =>
        db.addDocuments(Seq((9100L + i, s"tok$i")).toDF("doc_id", "text"))
        ()
      }
      assert(db.pendingPrevForTest.isEmpty,
        "the stash must be released after IncServingStashMaxCommits commits " +
          "with no intervening search")
      // the next search full-rebuilds and still matches the twin
      val twin = VectorDB.openOrCreate(spark, dir, storage = VectorDB.StorageMor)
      assert(hits(db, "tok1", 50) == hits(twin, "tok1", 50))
    } finally db.disableServing()
  }
}

/** JVM-singleton rendezvous for the absorb-cancel spec: local-mode
  * tasks share this object across closure serialization, so the test
  * thread can wait until a flatten task is provably parked INSIDE a
  * Spark job before landing the commit that must cancel it — the
  * deterministic replacement for polling `absorbBuildInFlight`, which
  * raced both the build's first job submission (lost cancel) and the
  * daemon's catch-block accounting. Pass-through until armed.
  */
private[graft] object AbsorbCancelProbe {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  @volatile private var armed = false
  @volatile private var entered: CountDownLatch = null
  @volatile private var releasedLatch: CountDownLatch = null

  def arm(): Unit = synchronized {
    entered = new CountDownLatch(1)
    releasedLatch = new CountDownLatch(1)
    armed = true
  }

  def insideBuild: Boolean = armed && entered.getCount == 0

  def awaitInside(ms: Long): Boolean =
    armed && entered.await(ms, TimeUnit.MILLISECONDS)

  /** Called by the instrumented builder from inside a task: signal the
    * test thread, then park until released. The job-group cancel
    * (`interruptOnCancel = true`) interrupts the park — which is
    * exactly the point — and the timeout bounds a missed release so a
    * broken test can't hang the suite.
    */
  def enterBuild(): Unit = if (armed) {
    entered.countDown()
    try releasedLatch.await(60, TimeUnit.SECONDS)
    catch { case _: InterruptedException => Thread.currentThread().interrupt() }
  }

  def release(): Unit = if (armed) releasedLatch.countDown()

  def reset(): Unit = synchronized {
    if (releasedLatch != null) releasedLatch.countDown()
    armed = false
  }
}
