package perfbench

import graft.operators.{Dedup, Pipeline, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable

/** A seeded corpus with the fixture's `documents` and `embeddings`
  * schemas, at a size where kernels and shuffles rather than the per-job
  * floor carry the operators.
  *
  * Words are drawn from a Zipf(1.0) vocabulary; a share of documents are
  * near-duplicates of an earlier document (a few tokens replaced, the
  * embedding perturbed slightly), and the `pairs` they form with their
  * originals are returned so the run can report how many dedup finds.
  */
object Corpus {
  final case class Props(docs: Int, vocab: Int, nearDupShare: Double, sources: Int,
                         embDim: Int)
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.44, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.14, "fr" -> 0.12)

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`;
    * returns the planted (original, near-duplicate) id pairs.
    */
  def write(spark: SparkSession, dir: String, p: Props, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val cdf = {
      val w = (1 to p.vocab).map(r => 1.0 / r)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    val words = Array.tabulate(p.vocab)(r => "w" + Integer.toString(r, 36))
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      words(math.min(p.vocab - 1, if (i >= 0) i else -i - 1))
    }
    def lang(): String = {
      val x = rnd.nextDouble()
      Langs.scanLeft(("", 0.0)) { case ((_, c), (l, w)) => (l, c + w) }.tail
        .find(_._2 > x).map(_._1).getOrElse("en")
    }
    val toks = new Array[Array[String]](p.docs)
    val embs = new Array[Array[Float]](p.docs)
    val labels = new Array[Int](p.docs)
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    for (i <- 0 until p.docs) {
      if (i > 0 && rnd.nextDouble() < p.nearDupShare) {
        val j = rnd.nextInt(i)
        val t = toks(j).clone()
        (0 until math.max(1, t.length / 20)).foreach(_ => t(rnd.nextInt(t.length)) = word())
        toks(i) = t
        embs(i) = embs(j).map(x => (x + rnd.nextGaussian() * 0.002).toFloat)
        labels(i) = labels(j)
        pairs += ((j.toLong, i.toLong))
      } else {
        toks(i) = Array.fill(10 + rnd.nextInt(90))(word())
        embs(i) = Array.fill(p.embDim)((rnd.nextGaussian() * 0.125).toFloat)
        labels(i) = rnd.nextInt(10)
      }
    }
    val docRows = (0 until p.docs).map { i =>
      val text = toks(i).mkString(" ")
      Row(i.toLong, text, lang(), s"src${i % p.sources}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val embRows = (0 until p.docs).map(i => Row(i.toLong, embs(i).toSeq, labels(i)))
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    def save(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(docRows, docSchema, "documents")
    save(embRows, embSchema, "embeddings")
    pairs.toSeq
  }
}

/** `corpus_batch`: the LLM-pipeline operators over a generated corpus.
  * Each rep clears the operator caches (cold caches, warm JIT) and runs
  * the same operator sequence, collecting every result. VectorDB is not
  * involved, so serving and commit changes should not move it.
  */
object CorpusBatch extends Workload {
  val name = "corpus_batch"

  final case class Size(docs: Int = 4000, vocab: Int = 20000, setups: Int = 5)

  val NearDupShare = 0.1
  val Sources = 20
  val EmbDim = 64

  /** Docs of the small corpus the untimed warm-up rep runs over. */
  val WarmDocs = 500

  /** Share of planted near-duplicate pairs (a few tokens replaced in a
    * copy, shingle Jaccard well above 1/2) MinHash dedup must report.
    */
  val MinFoundShare = 0.9

  /** Operator sequence, keyed by the names the engine's query set uses. */
  val Ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "p9" -> ((s, d) => Pipeline.corpusBuild(s, d)),
    "d2" -> ((s, d) => Dedup.minhashDedup(s, d)),
    "d8" -> ((s, d) => Dedup.substringDedup(s, d)),
    "t10" -> ((s, d) => TextAnalysis.bigramNll(s, d)),
    "d6b" -> ((s, d) => Dedup.semDedup(s, d, maxNeighbors = 1 << 20)),
    "p4" -> ((s, d) => Pipeline.decontaminate(s, d)))

  /** Order-independent digest of a collected result. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def run(ctx: Ctx): Outcome = run(ctx, Size())

  def run(ctx: Ctx, size: Size): Outcome = {
    val spark = ctx.spark
    val checks = new Checks
    val props = Corpus.Props(size.docs, size.vocab, NearDupShare, Sources, EmbDim)
    val setupS = mutable.ArrayBuffer.empty[Double]
    var dir: String = null
    var pairs: Seq[(Long, Long)] = Nil
    for (s <- 0 until size.setups) {
      if (dir != null) Host.deleteRecursively(dir)
      dir = s"${ctx.work}/corpus$s"
      val (p, ms) = Workload.timeMs(ctx.span("setup/corpus.generate")(
        Corpus.write(spark, dir, props, ctx.seed)))
      pairs = p
      setupS += ms / 1e3
    }
    val storedPerRow = Host.dirBytes(dir).toDouble / size.docs
    val residentMb = Host.heapUsedAfterGcMb()

    // one untimed rep over a small corpus warms the JIT and the generated
    // code, so the timed reps see cold operator caches but warm code
    val warmDir = s"${ctx.work}/warm"
    ctx.span("warmup/corpus.generate")(
      Corpus.write(spark, warmDir, props.copy(docs = WarmDocs), ctx.seed))
    Ops.foreach { case (op, f) => ctx.span(s"warmup/op.$op")(f(spark, warmDir).collect()) }
    Host.deleteRecursively(warmDir)

    val opMs = mutable.LinkedHashMap(Ops.map(_._1 -> mutable.ArrayBuffer.empty[Double]): _*)
    val digests = mutable.LinkedHashMap.empty[String, String]
    var found = 0
    def rep(r: Int): Double = {
      graft.Graft.clearAllCaches(spark)
      // each rep starts from a collected heap, not the previous rep's garbage
      System.gc()
      Workload.timeMs {
        Ops.foreach { case (op, f) =>
          val (rows, ms) = Workload.timeMs(ctx.span(s"op.$op", r)(f(spark, dir).collect()))
          opMs(op) += ms
          val d = digest(rows)
          val first = digests.getOrElseUpdate(op, d)
          checks.op(first == d, s"$op digest $d in rep $r differs from $first")
          if (op == "d2") {
            val got = rows.map(x => (x.getLong(0), x.getLong(1))).toSet
            found = pairs.count(got)
          }
        }
      }._2
    }
    val repMs = mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    repMs += rep(0)
    while (System.nanoTime() < end) repMs += rep(repMs.size)
    val foundShare = if (pairs.isEmpty) 1.0 else found.toDouble / pairs.size
    checks.op(foundShare >= MinFoundShare,
      s"minhash dedup found $foundShare of the planted near-duplicate pairs")
    // the same seed must give the same results in every run
    val digestFile = java.nio.file.Paths.get(
      s"${ctx.records}/$name-seed${ctx.seed}-docs${size.docs}-digests.tsv")
    val digestText = digests.map { case (k, v) => s"$k\t$v" }.mkString("\n")
    if (java.nio.file.Files.exists(digestFile)) {
      val before = new String(java.nio.file.Files.readAllBytes(digestFile), "UTF-8")
      checks.op(before == digestText, s"digests differ from an earlier run of this seed: $before")
    } else java.nio.file.Files.write(digestFile, digestText.getBytes("UTF-8"))
    val (attempted, failed) = checks.counts
    val docsPerS = size.docs / (Stats.median(repMs.toSeq) / 1e3)
    val rec = Json.obj(
      "properties" -> Json.obj("docs" -> size.docs, "vocabulary" -> size.vocab,
        "zipf_exponent" -> 1.0, "near_dup_share" -> NearDupShare,
        "near_dup_pairs" -> pairs.size,
        "near_dup_pairs_found_share" -> foundShare,
        "sources" -> Sources, "embedding_dim" -> EmbDim, "reps" -> repMs.size,
        "operators" -> Ops.map(_._1)),
      "metrics" -> Json.obj(
        "corpus_docs_per_s" -> Json.obj("value" -> docsPerS, "unit" -> "1/s",
          "samples" -> repMs.size),
        "rep_ms" -> Stats.summary(repMs.toSeq),
        "op_ms_p50" -> Json.obj(opMs.toSeq.map { case (k, v) => k -> Stats.median(v.toSeq) }: _*),
        "setup_s" -> setupS.toList),
      "digests" -> Json.obj(digests.toSeq: _*),
      "failures" -> checks.failures)
    val e2e = Workload.e2e(setupS.toSeq, repMs.toSeq, docsPerS, repMs.size, residentMb,
      storedPerRow)

    def layers(r: TraceReport): Seq[LayerMetric] = Ops.flatMap { case (op, _) =>
      val ss = r.spans.filter(_.name == s"op.$op")
      val n = math.max(1, ss.size).toDouble
      val a = JobAgg.of(ss.flatMap(r.jobsUnder))
      Seq(
        LayerMetric(s"op.$op.ms", Stats.median(ss.map(_.durNs / 1e6)), "ms", "graft.operators",
          "throughput_per_s"),
        LayerMetric(s"op.$op.tasks", a.tasks / n, "count", "graft.operators", "throughput_per_s"),
        LayerMetric(s"op.$op.shuffle_write_bytes", a.shuffleWrite / n, "B", "graft.operators",
          "throughput_per_s"),
        LayerMetric(s"op.$op.spill_bytes", a.spill / n, "B", "graft.operators", "throughput_per_s"),
        LayerMetric(s"op.$op.executor_cpu_ms", a.cpuMs / n, "ms", "graft.operators",
          "throughput_per_s"))
    }
    Outcome(attempted, failed, e2e, rec, layers)
  }
}
