package streambench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Job-level cost ledger. Every job is keyed by the streaming query and
  * batch that submitted it (properties the streaming engine sets on its
  * thread) and by the benchmark span open on the submitting thread; stage
  * and task costs roll up to the job that first submitted the stage.
  * Read only after [[org.apache.spark.BusDrain.drain]]. */
final class Ledger extends SparkListener {
  final class Job(val id: Int, val query: String, val batch: Long,
      val span: Int, val start: Long, val stages: Int) {
    @volatile var end: Long = -1L
    @volatile var succeeded = false
    val taskMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val outBytes = new AtomicLong
    val outRecords = new AtomicLong
    val inRecords = new AtomicLong
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = new Job(e.jobId,
      prop("sql.streaming.queryId").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1),
      e.time, e.stageInfos.size)
    jobs.put(e.jobId, j)
    e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.succeeded = e.jobResult == JobSucceeded
      j.end = e.time
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = for {
    j <- Option(stageJob.get(e.stageId))
    m <- Option(e.taskMetrics)
  } {
    j.taskMs.addAndGet(m.executorRunTime)
    j.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
      m.shuffleWriteMetrics.bytesWritten)
    j.outBytes.addAndGet(m.outputMetrics.bytesWritten)
    j.outRecords.addAndGet(m.outputMetrics.recordsWritten)
    j.inRecords.addAndGet(m.inputMetrics.recordsRead)
  }

  def ofQuery(query: String): Seq[Job] =
    jobs.values.asScala.filter(_.query == query).toSeq.sortBy(_.id)

  def unfinished: Int = jobs.values.asScala.count(_.end < 0)
}
