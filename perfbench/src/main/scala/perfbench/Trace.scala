package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The per-layer metric names a traced run prints, with units. */
object Layers {
  /** End-to-end metrics the traced run repeats as `trace.<name>`, to be
    * set against a plain run's for the tracing overhead. */
  val TracedE2e: Set[String] = Set("events_per_s", "batch_p50_ms", "suite_s")

  val Stream: Seq[(String, String)] = Seq(
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "sinks.jobs_per_batch" -> "count", "sinks.stages_per_batch" -> "count",
    "sinks.tasks_per_batch" -> "count", "sinks.executor_cpu_ms_per_batch" -> "ms",
    "sinks.shuffle_bytes_per_batch" -> "bytes",
    "sinks.jdbc_connections_per_batch" -> "count", "sinks.jdbc_statements_per_batch" -> "count",
    "sinks.jdbc_rows_bound_per_batch" -> "count", "sinks.jdbc_exec_ms_per_batch" -> "ms",
    "sinks.jdbc_commit_ms_per_batch" -> "ms", "sinks.jdbc_metadata_calls_per_batch" -> "count",
    "sinks.dlq_rows_per_batch" -> "count", "sinks.dlq_exec_ms_per_batch" -> "ms",
    "sinks.table_exec_ms_per_batch" -> "ms",
    "sinks.update_hit_ratio" -> "ratio", "sinks.lww_collapse_ratio" -> "ratio")

  val Suite: Seq[(String, String)] =
    perfbench.Suite.Modules.flatMap(m => Seq(s"$m.wall_s" -> "s", s"$m.cpu_s" -> "s",
      s"$m.plan_ms" -> "ms", s"$m.shuffle_mb" -> "MB", s"$m.spill_mb" -> "MB",
      s"$m.jobs" -> "count")) ++ Seq(
      "operators.q_cdc_type_overrides.cpu_s" -> "s",
      "dedup.q_dedup_ngram_jaccard.cpu_s" -> "s",
      "pipeline.q_pipeline_lockstep.wall_s" -> "s")

  /** Every per-layer name, in the order a traced run prints them. */
  def all: Seq[(String, String)] = Stream ++ Suite ++
    Main.EndToEnd.filter(x => TracedE2e(x._1)).map { case (k, u) => ("trace." + k, u) }

  /** A layer the workload does not run reads 0. */
  def emptyStream(m: Main.Metrics): Unit = Stream.foreach { case (k, u) => m(k) = (0.0, u) }
  def emptySuite(m: Main.Metrics): Unit = Suite.foreach { case (k, u) => m(k) = (0.0, u) }
}

/** Half-open time intervals in epoch milliseconds. */
object Iv {
  type I = (Double, Double)
  def union(xs: Iterable[I]): Seq[I] =
    xs.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foldLeft(List.empty[I]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse
  def length(u: Seq[I]): Double = u.map(x => x._2 - x._1).sum
  def intersect(a: Seq[I], b: Seq[I]): Seq[I] =
    for { x <- a; y <- b; lo = math.max(x._1, y._1); hi = math.min(x._2, y._2) if hi > lo }
      yield (lo, hi)
}

/**
 * Span trees of a traced run, kept in memory while it runs and written
 * once at the end: batch → progress phases → Spark jobs → JDBC calls
 * for a stream, query → plan / execute → Spark jobs for the suite.
 * Each layer's self time is its spans' covered time minus the part its
 * child spans cover; the two largest are printed.
 */
object Trace {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private final case class Span(name: String, unit: String, parent: String,
      start: Double, end: Double)

  private def write(f: File, workload: String, spans: Seq[Span],
      self: collection.Map[String, Double]): Unit = {
    f.getParentFile.mkdirs()
    val top = self.toSeq.sortBy(-_._2).take(2)
    println(s"[perfbench] $workload largest self time: " +
      top.map { case (k, v) => f"$k ${v / 1000}%.3f s" }.mkString(", ") + s" (trace: $f)")
    def q(s: String) = "\"" + s.replace("\"", "'") + "\""
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println(s"""{"workload": ${q(workload)},""")
      w.println(""" "self_ms": {""" + self.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"${q(k)}: $v" }.mkString(", ") + "},")
      w.println(""" "spans": [""")
      w.println(spans.map(s => s"""  {"name": ${q(s.name)}, "unit": ${q(s.unit)}, """ +
        s""""parent": ${q(s.parent)}, "start_ms": ${s.start}, "end_ms": ${s.end}}""")
        .mkString(",\n"))
      w.println(" ]}")
    } finally w.close()
  }

  /** Phase order inside one trigger (MicroBatchExecution). */
  private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  def writeStream(f: File, meter: Meter, r: Streams.Run): Unit = {
    val spans = mutable.ArrayBuffer.empty[Span]
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val jobs = meter.jobs.asScala.toSeq
    val jdbc = TraceJdbc.spans.asScala.toSeq.groupBy(_.unit)
    for (((id, (b0, b1)), b) <- r.streamBatchIds.zip(r.batchSpans).zipWithIndex) {
      val unit = s"t$b"
      val batch = (epochMs(b0), epochMs(b1))
      spans += Span("batch", unit, "", batch._1, batch._2)
      var trigger = Seq.empty[Iv.I]
      var addBatch: Iv.I = batch
      Option(meter.progress.get(id)).foreach { case (ts, d) =>
        val t0 = ts.toDouble
        trigger = Seq((t0, t0 + d.getOrElse("triggerExecution", 0L)))
        spans += Span("streaming.trigger", unit, "batch", trigger.head._1, trigger.head._2)
        var at = t0
        for (p <- Phases) {
          val len = d.getOrElse(p, 0L).toDouble
          spans += Span(s"streaming.$p", unit, "streaming.trigger", at, at + len)
          if (p == "addBatch") addBatch = (at, at + len) else self(s"streaming.$p") += len
          at += len
        }
        self("streaming.other") += math.max(0.0, trigger.head._2 - at)
      }
      self("bench.client") += Iv.length(Seq(batch)) -
        Iv.length(Iv.intersect(Seq(batch), trigger))
      val jobIv = jobs.filter(_.unit == s"b$id").map { j =>
        spans += Span(s"spark.job", unit, "streaming.addBatch", j.startMs, j.endMs)
        (j.startMs.toDouble, j.endMs.toDouble)
      }
      val calls = jdbc.getOrElse(unit, Seq.empty)
      val jobU = Iv.union(jobIv)
      val byClass = calls.groupBy(c => if (c.target == "meta") "other" else c.target)
        .map { case (k, cs) =>
          k -> Iv.union(cs.map { c =>
            val s = (epochMs(c.startNs), epochMs(c.endNs))
            val inJob = jobU.exists(j => s._1 >= j._1 && s._1 <= j._2)
            spans += Span(s"jdbc.${c.kind}.${c.target}", unit,
              if (inJob) "spark.job" else "streaming.addBatch", s._1, s._2)
            s
          })
        }
      val jdbcU = Iv.union(byClass.values.flatten)
      byClass.foreach { case (k, u) => self(s"sinks.jdbc_$k") += Iv.length(u) }
      self("sinks.spark_jobs") += Iv.length(jobU) - Iv.length(Iv.intersect(jobU, jdbcU))
      val work = Iv.union(jobU ++ jdbcU)
      self("sinks.foreach_batch_driver") += (addBatch._2 - addBatch._1) -
        Iv.length(Iv.intersect(Seq(addBatch), work))
    }
    write(f, f.getName.stripSuffix(".json"), spans.toSeq, self)
  }

  def writeSuite(f: File, meter: Meter,
      runs: Seq[(String, Option[Suite.QueryRun])]): Unit = {
    val spans = mutable.ArrayBuffer.empty[Span]
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val jobsByUnit = meter.jobs.asScala.toSeq.groupBy(_.unit)
    for ((q, Some(r)) <- runs) {
      val mod = Suite.moduleOf(q)
      val (t0, tp, t1) = (epochMs(r.startNs), epochMs(r.planEndNs), epochMs(r.endNs))
      spans += Span("query", r.unit, "", t0, t1)
      spans += Span("plan", r.unit, "query", t0, tp)
      spans += Span("execute", r.unit, "query", tp, t1)
      val jobU = Iv.union(jobsByUnit.getOrElse(r.unit, Seq.empty).map { j =>
        spans += Span("spark.job", r.unit, "execute", j.startMs, j.endMs)
        (j.startMs.toDouble, j.endMs.toDouble)
      })
      val inExec = Iv.length(Iv.intersect(Seq((tp, t1)), jobU))
      self(s"$mod.plan") += tp - t0
      self(s"$mod.jobs") += inExec
      self(s"$mod.driver") += (t1 - tp) - inExec
    }
    write(f, "operator_suite", spans.toSeq, self)
  }
}
