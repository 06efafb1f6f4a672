package streambench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.Materialize
import graft.jobs.Pipeline
import graft.store.{DocumentStore, VersionedStore}
import graft.streaming.StreamingJobs

object Tracer { val SpanKey = "streambench.span" }

/** In-memory spans. A span is opened on the streaming thread around one
  * call into the chain; its id rides on that thread's local properties, so
  * the [[Ledger]] can attribute every job (including broadcast jobs, which
  * inherit the properties) to the innermost open span. */
final class Tracer(sc: SparkContext) {
  final class Span(val id: Int, val name: String, val parent: Int,
      val batch: Long) {
    val startMs: Long = System.currentTimeMillis()
    val startNs: Long = System.nanoTime()
    var endMs = 0L
    var endNs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val spans = mutable.ArrayBuffer[Span]()
  /** Counts taken at span boundaries, by (batch, name). */
  val counts = mutable.Map[(Long, String), Double]().withDefaultValue(0.0)
  private var open = -1
  private var batchId = -1L

  def count(name: String, v: Double): Unit = counts((batchId, name)) += v

  def span[T](name: String)(f: => T): T = {
    val s = new Span(spans.size, name, open, batchId)
    spans += s
    val outer = open
    open = s.id
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try f
    finally {
      s.endMs = System.currentTimeMillis(); s.endNs = System.nanoTime()
      open = outer
      sc.setLocalProperty(Tracer.SpanKey,
        if (outer < 0) null else outer.toString)
    }
  }

  def batch[T](id: Long)(f: => T): T = { batchId = id; span("batch")(f) }
}

/** The body of `StreamingJobs.fullChain`, recomposed from the same public
  * calls in the same order, with a span around each layer. Two layer
  * boundaries are materialized so that a layer's cost lands in that layer:
  * the diff seed (otherwise a lazy input of the diff) and the loaded
  * buckets (otherwise a lazy input of the dispatcher). Counts that need an
  * extra job run inside `probe` spans, which belong to no layer. The
  * untraced run and the hash check bound what these changes cost. */
object TracedChain {
  val layers = Seq("stream", "seed", "parse", "diff", "messages", "dlq",
    "route", "dispatch", "commit", "versions")

  def start(raw: DataFrame, versionsPath: String, store: DocumentStore,
      storePath: String, bootstrap: => DataFrame, dlqPath: String,
      checkpoint: String, tr: Tracer) =
    raw.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tr.batch(id)(body(batch, versionsPath, store, storePath, bootstrap,
          dlqPath, tr))
      }

  private def hasParquetParts(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists(s =>
      (s.isFile && s.getPath.getName.startsWith("part-") &&
        !s.getPath.getName.endsWith(".crc")) ||
      (s.isDirectory && hasParquetParts(fs, s.getPath)))

  private def body(batch: DataFrame, versionsPath: String,
      store: DocumentStore, storePath: String, bootstrap: => DataFrame,
      dlqPath: String, tr: Tracer): Unit = {
    val spark = batch.sparkSession
    val b = tr.span("parse") {
      val (b, n) = Materialize.checkpointCounted(batch)
      tr.count("parse.rows_in", n.toDouble); b
    }
    val base = tr.span("seed") {
      val vPath = new org.apache.hadoop.fs.Path(versionsPath)
      val vFs = vPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!hasParquetParts(vFs, vPath)) None
      else {
        val (seed, n) = Materialize.checkpointCounted(
          VersionedStore.latest(VersionedStore.read(spark, versionsPath)))
        tr.count("seed.rows", n.toDouble)
        Some(seed)
      }
    }
    val (dlq, versions) = tr.span("parse") {
      val (parsedOk, dlqParse) = Pipeline.parse(b)
      val (valid, dlqContract) = StreamingJobs.contractDlq(parsedOk)
      (dlqParse.unionByName(dlqContract),
        Materialize.checkpoint(Pipeline.toVersions(valid)))
    }
    val changes = tr.span("diff") {
      val (c, n) = Materialize.checkpointCounted(
        graft.diff.EntityDiff.determineChange(versions, base))
      tr.count("diff.changes", n.toDouble); c
    }
    val messages = tr.span("messages") {
      val (m, n) = Materialize.checkpointCounted(Pipeline.shapeMessages(changes))
      tr.count("messages.rows", n.toDouble); m
    }
    val direct = changes.filter(col("directChange"))
    tr.span("dlq")(dlq.write.mode(SaveMode.Append).parquet(dlqPath))
    val before = store.currentVersion
    val canPrune = store.currentVersion.nonEmpty && store.formatVersion >= 2
    def tallied[T](f: => T): T = {
      val t0 = Materialize.tally.map(_.get).getOrElse(0L)
      val out = f
      tr.count("dispatch.rows_materialized",
        (Materialize.tally.map(_.get).getOrElse(0L) - t0).toDouble)
      out
    }
    if (canPrune) {
      val (loaded, buckets) = tr.span("route") {
        val touched = Materialize.checkpoint(
          Pipeline.touchedGuids(messages, direct))
        val (loaded0, buckets) = Pipeline.loadTouchedBuckets(store, touched)
        val (loaded, n) = Materialize.checkpointCounted(loaded0)
        tr.count("route.docs_loaded", n.toDouble)
        tr.count("route.buckets_loaded", buckets.size.toDouble)
        (loaded, buckets)
      }
      tr.span("probe")(tr.count("route.summary_rows",
        store.readSummary().get.count().toDouble))
      val docs = tr.span("dispatch")(tallied(
        Materialize.checkpoint(Pipeline.applyAll(loaded, messages, direct))))
      tr.span("probe")(tr.count("commit.docs_changed",
        store.changedGuids(docs, Some(buckets)).count().toDouble))
      tr.span("commit")(store.syncBuckets(docs, buckets))
    } else {
      val docs = tr.span("dispatch")(tallied(Materialize.checkpoint(
        Pipeline.applyAll(store.readOrElse(bootstrap), messages, direct))))
      tr.span("probe")(tr.count("commit.docs_changed",
        store.changedGuids(docs).count().toDouble))
      tr.span("commit")(store.sync(docs))
    }
    tr.span("probe") {
      store.currentVersion.filter(v => !before.contains(v)).foreach { v =>
        val dir = java.nio.file.Paths.get(storePath, s"v$v")
        val written = java.nio.file.Files.list(dir).iterator()
        var n = 0
        while (written.hasNext)
          if (written.next().getFileName.toString.startsWith("_bucket=")) n += 1
        tr.count("commit.buckets_written", n.toDouble)
        tr.count("commit.docs_rewritten",
          spark.read.parquet(dir.toString).count().toDouble)
      }
    }
    tr.span("versions")(VersionedStore.append(versions, versionsPath))
  }
}
