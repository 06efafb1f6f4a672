package streambench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Materialize
import graft.jobs.Pipeline
import graft.store.DocumentStore
import graft.streaming.StreamingJobs

/** Closed-loop stream benchmark of `StreamingJobs.fullChain`.
  *
  * One client thread adds batch k to a `MemoryStream`, waits for
  * `processAllAvailable()`, then adds batch k+1: a consumer that is always
  * behind, with one trigger per batch. Set-up pushes batch 0, which bootstraps
  * the store (the workload's history, or its first batch when history
  * starts empty), and one warm-up batch, so codegen and store pre-seeding
  * are paid there; the timed batches follow. Every run checks the final stores
  * against a one-shot `Pipeline.run` over the same events.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             [--cores C]
  * The last stdout line is the result object. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, cores: Int)

  private def parseArgs(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")),
      m.get("--cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  /** The batches pushed into the stream, in order. Batch 0 bootstraps the
    * store: the workload's history when it has one, else its first
    * generated batch. Batch 1 is the warm-up batch; timed batches follow. */
  final class Feed(wl: Workload) {
    private val batches = mutable.ArrayBuffer[Vector[String]]()
    private val history = wl.history()
    if (history.nonEmpty) batches += history
    def batch(i: Int): Vector[String] = {
      while (batches.size <= i) batches += wl.nextBatch()
      batches(i)
    }
    def events(n: Int): Vector[String] = (0 until n).flatMap(batch).toVector
  }

  final case class ChainRun(query: String, setupS: Double,
      walls: Vector[Double], events: Vector[Int], failed: Int,
      progress: Map[Long, (Long, Long)], storeHash: String,
      dlq: Map[(String, String), Long], versionRows: Long, storeMb: Double,
      cachedMb: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    // exit explicitly: a thread Spark leaves behind must not keep the JVM
    // alive after the result is printed
    val code = try { run(parseArgs(args)); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(o: Opts): Unit = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("streambench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val wl = Workload(o.workload, o.seed)
      val feed = new Feed(wl)
      val timed = Workload.timedBatches(o.workload, o.seconds, o.trace)
      val reference = () => referenceHash(spark, feed.events(timed + 2))
      if (!o.trace) untracedReport(spark, o, wl, feed, timed, sessionS,
        reference)
      else {
        // the ledger listens only in traced mode: end-to-end metrics are
        // measured with no listener attached
        val ledger = new Ledger
        spark.sparkContext.addSparkListener(ledger)
        tracedReport(spark, o, wl, feed, timed, ledger, reference)
      }
    } finally spark.stop()
  }

  // ---------------------------------------------------------------------
  // one chain run

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Content hash of a document frame: every column (maps as sorted
    * entries) per row, row hashes sorted, then hashed together. */
  def docsHash(docs: DataFrame): String = {
    val cols = docs.schema.fields.toSeq.sortBy(_.name).map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType =>
          array_sort(map_entries(col(f.name))).as(f.name)
        case _ => col(f.name)
      }
    }
    val rows = docs.select(md5(to_json(struct(cols: _*)))).collect()
      .map(_.getString(0)).sorted
    val d = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => d.update(r.getBytes("UTF-8")))
    f"${rows.length}%d:" + d.digest().map("%02x".format(_)).mkString
  }

  def referenceHash(spark: SparkSession, events: Vector[String]): String = {
    import spark.implicits._
    val raw = Materialize.checkpoint(spark.createDataset(events).toDF("value"))
    val (docs, _, _, _) = Pipeline.run(spark, raw, Pipeline.emptyDocsFor(raw))
    docsHash(docs)
  }

  /** One streaming query over its own stores: `fullChain` itself, or the
    * traced recomposition. `setUp` pushes the bootstrap and the warm-up
    * batch; `timedBatch` pushes and times one more. */
  final class Chain(spark: SparkSession, dir: Path, tracer: Option[Tracer]) {
    import spark.implicits._
    private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val t0 = System.nanoTime()
    private val storePath = dir.resolve("store").toString
    private val versionsPath = dir.resolve("versions").toString
    private val dlqPath = dir.resolve("dlq").toString
    private val ckpt = dir.resolve("checkpoint").toString
    private val store = new DocumentStore(spark, storePath)
    private val bootstrap =
      Pipeline.emptyDocsFor(spark.emptyDataset[String].toDF("value"))
    private val input = MemoryStream[String]
    private val q: StreamingQuery = tracer match {
      case None => StreamingJobs.fullChain(input.toDF(), versionsPath, store,
        bootstrap, dlqPath, ckpt).start()
      case Some(tr) => TracedChain.start(input.toDF(), versionsPath, store,
        storePath, bootstrap, dlqPath, ckpt, tr).start()
    }
    private var error: Option[String] = None
    private var setupS = 0.0
    private val walls = Vector.newBuilder[Double]
    private val sizes = Vector.newBuilder[Int]
    private var failed = 0

    private def push(events: Vector[String]): Double = {
      val t = System.nanoTime()
      input.addData(events)
      q.processAllAvailable()
      (System.nanoTime() - t) / 1e9
    }

    def setUp(feed: Feed): Unit =
      try {
        val h = push(feed.batch(0))
        val w = push(feed.batch(1))
        setupS = (System.nanoTime() - t0) / 1e9
        report("setup", Seq("query" -> (if (tracer.isEmpty) "fullChain"
          else "traced"), "bootstrap_s" -> h, "warmup_s" -> w,
          "total_s" -> setupS))
      } catch { case e: Exception => error = Some(e.toString.take(500)) }

    def timedBatch(events: Vector[String]): Unit =
      if (error.isEmpty)
        try { walls += push(events); sizes += events.size }
        catch { case e: Exception =>
          failed += 1; error = Some(e.toString.take(500)) }

    /** Stops the query and reads its stores. */
    def finish(): ChainRun = {
      val progress = q.recentProgress.map { p =>
        val d = p.durationMs.asScala
        p.batchId -> (d.get("triggerExecution").map(_.longValue).getOrElse(0L),
          d.get("addBatch").map(_.longValue).getOrElse(0L))
      }.toMap
      q.stop()
      val cachedMb = spark.sparkContext.getRDDStorageInfo
        .map(_.memSize).sum / 1e6
      val storeMb = Seq(storePath, versionsPath, dlqPath, ckpt)
        .map(p => dirBytes(Paths.get(p))).sum / 1e6
      val ok = error.isEmpty
      val hash = if (ok) docsHash(store.read().get) else ""
      val dlq =
        if (ok && Files.exists(Paths.get(dlqPath)))
          spark.read.parquet(dlqPath).groupBy("job", "description").count()
            .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
            .toMap
        else Map.empty[(String, String), Long]
      val versionRows = if (ok) spark.read.parquet(versionsPath).count() else 0L
      ChainRun(q.id.toString, setupS, walls.result(), sizes.result(), failed,
        progress, hash, dlq, versionRows, storeMb, cachedMb, error)
    }
  }

  // ---------------------------------------------------------------------
  // statistics

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest nearest-rank percentile with at least 10 samples above
    * it, or the maximum when there are too few samples for that:
    * (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    val i = if (n > 10) n - 11 else n - 1
    (s(i), 100.0 * (i + 1) / n, n)
  }

  /** Median of the last third minus median of the first third. With fewer
    * than six samples a third is one sample. */
  def growth(xs: Seq[Double]): Double = {
    val third = math.max(1, xs.size / 3)
    median(xs.takeRight(third)) - median(xs.take(third))
  }

  // ---------------------------------------------------------------------
  // correctness gate

  def gate(run: ChainRun, wl: Workload, refHash: String): Seq[String] = {
    val expectDlq = wl.gen.faults.toMap.filter(_._2 > 0)
    Seq(
      run.error.map(e => s"a batch failed: $e"),
      Option.when(run.error.isEmpty && run.storeHash != refHash)(
        s"document store hash ${run.storeHash} != one-shot reference $refHash"),
      Option.when(run.error.isEmpty && run.dlq != expectDlq)(
        s"DLQ ${run.dlq} != injected faults $expectDlq"),
      Option.when(run.error.isEmpty && run.versionRows != wl.gen.validEvents)(
        s"versions rows ${run.versionRows} != valid events ${wl.gen.validEvents}")
    ).flatten
  }

  // ---------------------------------------------------------------------
  // output

  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def printResult(correct: Boolean, attempted: Int, failed: Int,
      ms: Seq[Metric]): Unit = {
    val body = ms.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def report(label: String, kv: Seq[(String, Any)]): Unit =
    println(s"[$label] " + kv.map { case (k, v) => s"$k=$v" }.mkString(" "))

  private def untracedReport(spark: SparkSession, o: Opts, wl: Workload,
      feed: Feed, timed: Int, sessionS: Double,
      reference: () => String): Unit = {
    val chain = new Chain(spark, o.work.resolve("chain"), None)
    chain.setUp(feed)
    for (k <- 2 until 2 + timed) chain.timedBatch(feed.batch(k))
    val run = chain.finish()
    val tr0 = System.nanoTime()
    val problems = gate(run, wl, if (run.error.isEmpty) reference() else "")
    report("reference", Seq("s" -> (System.nanoTime() - tr0) / 1e9))
    val attempted = timed
    val failed = if (problems.isEmpty) run.failed else attempted
    val (tailV, tailP, n) =
      if (run.walls.isEmpty) (0.0, 0.0, 0) else tail(run.walls)
    val ms = Seq(
      Metric("events_per_s", run.events.sum / run.walls.sum, "1/s"),
      Metric("batch_p50_s", median(run.walls), "s"),
      Metric("batch_tail_s", tailV, "s"),
      Metric("setup_s", sessionS + run.setupS, "s"),
      Metric("store_mb", run.storeMb, "MB"))
    report("workload", Seq("name" -> wl.name, "seed" -> o.seed,
      "cores" -> o.cores, "timed_batches" -> timed) ++ wl.params)
    ms.foreach(m => report("metric", Seq(m.name -> num(m.value), "unit" -> m.unit)))
    report("metric", Seq("failed_share" -> num(failed.toDouble / attempted),
      "unit" -> "1"))
    report("tail", Seq("percentile" -> f"$tailP%.1f", "samples" -> n))
    report("batches", Seq("walls_s" -> run.walls.map(w => f"$w%.3f").mkString(",")))
    report("gate", Seq("ok" -> problems.isEmpty, "store_hash" -> run.storeHash))
    problems.foreach(p => report("gate-failure", Seq("detail" -> p)))
    printResult(problems.isEmpty, attempted, failed, ms)
  }

  /** Runs `fullChain` and the traced recomposition side by side, each
    * over its own stores: both set up, then each timed batch goes to both
    * queries, the plain one first on even batches and the traced one first
    * on odd ones, so neither is measured warmer than the other. */
  private def tracedReport(spark: SparkSession, o: Opts, wl: Workload,
      feed: Feed, timed: Int, ledger: Ledger,
      reference: () => String): Unit = {
    val tr = new Tracer(spark.sparkContext)
    Materialize.tally = Some(new java.util.concurrent.atomic.AtomicLong)
    val plainChain = new Chain(spark, o.work.resolve("chain"), None)
    val tracedChain = new Chain(spark, o.work.resolve("traced"), Some(tr))
    plainChain.setUp(feed)
    tracedChain.setUp(feed)
    for (k <- 2 until 2 + timed) {
      val order =
        if (k % 2 == 0) Seq(plainChain, tracedChain)
        else Seq(tracedChain, plainChain)
      order.foreach(_.timedBatch(feed.batch(k)))
    }
    Materialize.tally = None
    val plain = plainChain.finish()
    val traced = tracedChain.finish()
    val refHash =
      if (plain.error.isEmpty || traced.error.isEmpty) reference() else ""
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    val unfinished = ledger.unfinished
    val plainProblems = gate(plain, wl, refHash)
    val problems = plainProblems ++ gate(traced, wl, refHash) ++
      Option.when(traced.storeHash != plain.storeHash)(
        s"traced store hash ${traced.storeHash} != untraced ${plain.storeHash}") ++
      Option.when(unfinished > 0)(
        s"$unfinished jobs had not ended after the listener bus was drained")
    val layerMs = LayerMetrics(tr, ledger, plain, traced)
    val attempted = timed
    val failed = if (problems.isEmpty) traced.failed else attempted
    report("workload", Seq("name" -> wl.name, "seed" -> o.seed,
      "cores" -> o.cores, "timed_batches" -> timed) ++ wl.params)
    layerMs.foreach(m => report("layer", Seq(m.name -> num(m.value), "unit" -> m.unit)))
    for ((label, run) <- Seq("plain" -> plain, "traced" -> traced)) {
      val js = ledger.ofQuery(run.query)
      report("ledger", Seq("run" -> label, "jobs" -> js.size,
        "succeeded" -> js.count(_.succeeded),
        "not_succeeded" -> js.count(!_.succeeded)))
    }
    report("gate", Seq("ok" -> problems.isEmpty,
      "store_hash" -> traced.storeHash, "unfinished_jobs" -> unfinished))
    problems.foreach(p => report("gate-failure", Seq("detail" -> p)))
    SpanDump.write(o.work.resolve("spans.json"), tr, ledger)
    printResult(problems.isEmpty, attempted, failed, layerMs)
  }
}
