package streambench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import Main.{ChainRun, Metric, growth, median}

/** Per-layer metrics of the traced run (per-batch medians over the timed
  * batches) plus the chain-wide counts of the untraced run. Job and stage
  * counts are of succeeded jobs; costs sum every job. */
object LayerMetrics {

  /** Stream batch ids of the timed batches: 0 is the bootstrap batch, 1
    * the warm-up batch. */
  private def timedIds(run: ChainRun): Seq[Long] =
    (2L until 2L + run.walls.size)

  /** Total length of the union of [s, e] intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var reach = lo
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, reach); val e = math.min(e0, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }

  def apply(tr: Tracer, ledger: Ledger, plain: ChainRun,
      traced: ChainRun): Seq[Metric] = {
    val ids = timedIds(traced)
    val jobsBySpan = ledger.ofQuery(traced.query).groupBy(_.span)
    def children(id: Int) = tr.spans.filter(_.parent == id)
    def self(s: tr.Span) = s.seconds - children(s.id).map(_.seconds).sum

    // (batch, layer) -> (self_s, jobs, task_s, shuffle_mb, gap_s)
    val cell = scala.collection.mutable.Map[(Long, String), Array[Double]]()
    def acc(b: Long, layer: String) =
      cell.getOrElseUpdate((b, layer), Array.fill(5)(0.0))
    for (s <- tr.spans if s.name != "batch" && s.name != "probe") {
      val js = jobsBySpan.getOrElse(s.id, Nil)
      val a = acc(s.batch, s.name)
      val kids = children(s.id).map(k => (k.startMs, k.endMs)).toSeq
      val busy = covered(js.map(j => (j.start, j.end)) ++ kids,
        s.startMs, s.endMs) - covered(kids, s.startMs, s.endMs)
      a(0) += self(s); a(1) += js.count(_.succeeded)
      a(2) += js.map(_.taskMs.get).sum / 1e3
      a(3) += js.map(_.shuffleBytes.get).sum / 1e6
      a(4) += math.max(0.0, self(s) - busy / 1e3)
    }
    // the engine's own share of a trigger, outside the foreachBatch body
    val streamJobs = ledger.ofQuery(traced.query).filter(_.span < 0)
      .groupBy(_.batch)
    for (b <- ids) {
      val (trigger, add) = traced.progress.getOrElse(b, (0L, 0L))
      val js = streamJobs.getOrElse(b, Nil)
      val a = acc(b, "stream")
      a(0) = (trigger - add) / 1e3; a(1) = js.count(_.succeeded)
      a(2) = js.map(_.taskMs.get).sum / 1e3
      a(3) = js.map(_.shuffleBytes.get).sum / 1e6
      a(4) = math.max(0.0, a(0) - js.map(j => j.end - j.start).sum / 1e3)
    }
    def perBatch(layer: String, i: Int): Seq[Double] =
      ids.map(b => cell.get((b, layer)).map(_(i)).getOrElse(0.0))
    val stats = Seq("self_s" -> "s", "jobs" -> "count", "task_s" -> "s",
      "shuffle_mb" -> "MB", "gap_s" -> "s")
    // the engine runs no tasks outside the batch body, so stream.task_s
    // would read 0 on every run; it is left out
    val layerMs = for {
      l <- TracedChain.layers
      ((stat, unit), i) <- stats.zipWithIndex
      if !(l == "stream" && stat == "task_s")
    } yield Metric(s"$l.$stat", median(perBatch(l, i)), unit)

    // ledger sums over one layer's spans, per batch
    def ledgerSum(layer: String)(f: Ledger#Job => Double): Seq[Double] = {
      val spanIds = tr.spans.filter(_.name == layer).groupBy(_.batch)
      ids.map(b => spanIds.getOrElse(b, Nil)
        .flatMap(s => jobsBySpan.getOrElse(s.id, Nil)).map(f).sum)
    }
    def counted(name: String): Seq[Double] = ids.map(b => tr.counts((b, name)))
    val countMs = Seq(
      Metric("parse.rows_in", median(counted("parse.rows_in")), "count"),
      Metric("parse.dlq_rows",
        median(ledgerSum("dlq")(_.outRecords.get.toDouble)), "count"),
      Metric("seed.history_rows",
        median(ledgerSum("seed")(_.inRecords.get.toDouble)), "count"),
      Metric("seed.rows", median(counted("seed.rows")), "count"),
      Metric("diff.changes", median(counted("diff.changes")), "count"),
      Metric("messages.rows", median(counted("messages.rows")), "count"),
      Metric("route.summary_rows", median(counted("route.summary_rows")),
        "count"),
      Metric("route.buckets_loaded", median(counted("route.buckets_loaded")),
        "count"),
      Metric("route.docs_loaded", median(counted("route.docs_loaded")),
        "count"),
      Metric("dispatch.rows_materialized",
        median(counted("dispatch.rows_materialized")), "count"),
      Metric("commit.docs_changed", median(counted("commit.docs_changed")),
        "count"),
      Metric("commit.docs_rewritten", median(counted("commit.docs_rewritten")),
        "count"),
      Metric("commit.buckets_written",
        median(counted("commit.buckets_written")), "count"),
      Metric("commit.mb_written",
        median(ledgerSum("commit")(_.outBytes.get / 1e6)), "MB"),
      Metric("versions.mb_written",
        median(ledgerSum("versions")(_.outBytes.get / 1e6)), "MB"))

    val plainJobs = ledger.ofQuery(plain.query).groupBy(_.batch)
    val plainIds = timedIds(plain)
    val heapPeak = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    def ratio(num: String, den: String) = {
      val d = counted(den).sum
      if (d == 0) 0.0 else counted(num).sum / d
    }
    val tracedWall = median(traced.walls)
    val unaccounted = ids.zip(traced.walls).map { case (b, wall) =>
      val layers = TracedChain.layers.map(l =>
        cell.get((b, l)).map(_(0)).getOrElse(0.0)).sum
      val probes = tr.spans.filter(s => s.batch == b && s.name == "probe")
        .map(_.seconds).sum
      wall - layers - probes
    }
    val chainMs = Seq(
      Metric("chain.jobs_per_batch",
        median(plainIds.map(b =>
          plainJobs.getOrElse(b, Nil).count(_.succeeded).toDouble)),
        "count"),
      Metric("chain.stages_per_batch",
        median(plainIds.map(b =>
          plainJobs.getOrElse(b, Nil).filter(_.succeeded)
            .map(_.stages.toDouble).sum)), "count"),
      Metric("chain.growth_s", growth(plain.walls), "s"),
      Metric("seed.growth_s", growth(perBatch("seed", 0)), "s"),
      Metric("jvm.heap_peak_mb", heapPeak, "MB"),
      Metric("materialize.cached_mb", plain.cachedMb, "MB"),
      Metric("route.useful_ratio",
        ratio("commit.docs_changed", "route.docs_loaded"), "ratio"),
      Metric("commit.write_amp",
        ratio("commit.docs_rewritten", "commit.docs_changed"), "ratio"),
      Metric("trace.batch_s", tracedWall, "s"),
      Metric("trace.overhead_s", tracedWall - median(plain.walls), "s"),
      Metric("trace.overhead_events_per_s",
        traced.events.sum / traced.walls.sum -
          plain.events.sum / plain.walls.sum, "1/s"),
      Metric("trace.probe_s", median(ids.map(b =>
        tr.spans.filter(s => s.batch == b && s.name == "probe")
          .map(_.seconds).sum)), "s"),
      Metric("trace.unaccounted_s", median(unaccounted), "s"))
    layerMs ++ countMs ++ chainMs
  }
}

/** Writes the spans and the job ledger of a traced run as JSON. */
object SpanDump {
  def write(path: Path, tr: Tracer, ledger: Ledger): Unit = {
    val spans = tr.spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"batch":${s.batch},"start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}""")
    val jobs = ledger.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"query":"${j.query}","batch":${j.batch},"span":${j.span},"start_ms":${j.start},"end_ms":${j.end},"stages":${j.stages},"succeeded":${j.succeeded},"task_ms":${j.taskMs.get},"shuffle_bytes":${j.shuffleBytes.get},"output_bytes":${j.outBytes.get},"input_records":${j.inRecords.get}}""")
    Files.createDirectories(path.getParent)
    Files.writeString(path, spans.mkString("{\"spans\":[", ",\n", "],\n") +
      jobs.mkString("\"jobs\":[", ",\n", "]}\n"))
  }
}
