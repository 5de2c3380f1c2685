package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-unit counters read from Spark's listener bus. A unit is one
  * streaming micro-batch (keyed by its batch id) or one suite query. */
final class UnitStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
}

/** A Spark job as a span: which unit it ran for, and when. */
final case class JobSpan(unit: String, jobId: Int, startMs: Long, endMs: Long)

/**
 * The benchmark's view of Spark, from outside the program: a
 * `SparkListener` that attributes jobs, stages, tasks, executor CPU,
 * shuffle and spill to units, and a `StreamingQueryListener` that keeps
 * each trigger's `durationMs` phases. Jobs find their unit through the
 * local property Structured Streaming sets for the batch
 * (`streaming.sql.batchId`) or the one the suite sets per query
 * (`perfbench.unit`).
 */
final class Meter(sc: SparkContext) extends SparkListener {
  private val stageUnit = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  val units = new ConcurrentHashMap[String, UnitStats]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobSpan]()
  /** batch id → (trigger start epoch ms, durationMs phases) */
  val progress = new ConcurrentHashMap[Long, (Long, Map[String, Long])]()

  private def stats(u: String) = units.computeIfAbsent(u, _ => new UnitStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val unit = Option(p).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map("b" + _)
      .orElse(Option(p).flatMap(p => Option(p.getProperty(Meter.UnitKey))))
      .getOrElse("other")
    jobStart.put(e.jobId, (unit, e.time))
    e.stageIds.foreach(stageUnit.put(_, unit))
    val s = stats(unit); s.synchronized { s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (u, t0) =>
      jobs.add(JobSpan(u, e.jobId, t0, e.time)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stats(stageUnit.getOrDefault(e.stageInfo.stageId, "other"))
    s.synchronized { s.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stats(stageUnit.getOrDefault(e.stageId, "other"))
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.put(p.batchId, (java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Wait until every event already posted has reached the listeners. */
  def drain(): Unit = org.apache.spark.sql.graftshim.GraftShims.waitListenerBusEmpty(sc)

  def unit(u: String): UnitStats = units.getOrDefault(u, new UnitStats)
}

object Meter {
  val UnitKey = "perfbench.unit"
  def attach(spark: org.apache.spark.sql.SparkSession): Meter = {
    val m = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    spark.streams.addListener(m.streaming)
    m
  }
}
