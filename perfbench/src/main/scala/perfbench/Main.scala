package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point. Prints human-readable lines, then one line
 * `PERFBENCH_RESULT <json>` with `correct`, `attempted`, `failed` and
 * `metrics` (name → {value, unit}): the end-to-end metrics, or with
 * `--trace 1` the per-layer ones. `run.py` builds the classpath and
 * forwards that JSON as its last line.
 *
 * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR
 *       --bench-dir DIR --cores N
 */
object Main {
  val Workloads = Seq("cdc_backfill", "operator_suite")
  /** The suite's scale factor and query list: a materialized pass over
    * all 112 queries takes 70-90 s on a 4-core box at sf0.001 and at
    * sf0.01 alike (per-query planning and driver work dominate), more
    * than one run may spend; `suite_sf0.01.tsv` lists the slowest query
    * of each module and the hot spots. */
  val SuiteSf = "sf0.01"
  /** Seconds of `--seconds` per timed pass over the listed queries (one
    * pass measured about 15 s on a 4-core box). */
  val SuitePassSeconds = 5.0

  /** End-to-end metrics, printed with `--trace 0` in this order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "events_per_s" -> "events/s", "batch_p50_ms" -> "ms",
    "batch_tail_ms" -> "ms", "cpu_ms_per_kevent" -> "ms", "suite_s" -> "s",
    "suite_cpu_s" -> "s", "rss_peak_mb" -> "MB", "retained_mb" -> "MB")

  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, vu: (Double, String)): Unit = {
      require(!vu._1.isNaN && !vu._1.isInfinite, s"metric $name is ${vu._1}")
      values(name) = vu
    }
  }

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Where the scale-factor directories (sf0.01, sf0.1) live:
    * $PERFBENCH_TESTDATA, else the parent of the one the program's
    * flagship query (`SparkEntry.entry`) reads. */
  def testdataRoot(spark: SparkSession): File =
    sys.env.get("PERFBENCH_TESTDATA").map(new File(_)).getOrElse {
      val f = new File(new java.net.URI(graft.SparkEntry.entry(spark).inputFiles.head))
      Iterator.iterate(f)(_.getParentFile).takeWhile(_ != null)
        .find(_.getName.startsWith("sf")).map(_.getParentFile)
        .getOrElse(throw new IllegalStateException(s"no sf* directory above $f"))
    }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(0.0)
    finally src.close()
  }

  /** Heap in use after full collections plus class metadata in use, MB:
    * what the program retains. VmHWM cannot show it, because the heap has
    * a fixed size and the collector touches all of it. The second
    * collection frees the shuffle and broadcast state that Spark's
    * ContextCleaner releases after the first; without it the heap figure
    * varied by up to 60 MB between runs. The JIT's code cache is left
    * out: it varied by 18 MB between runs of the same work. */
  def retainedMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    Thread.sleep(500)
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filterNot(_.getName.startsWith("CodeHeap"))
    val mb = pools.map(p => p.getName -> p.getUsage.getUsed / 1048576.0)
    println("[perfbench] retained MB: " + mb.map { case (k, v) => f"$k $v%.1f" }.mkString(", "))
    mb.map(_._2).sum
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = new File(a("work")); work.mkdirs()
    val benchDir = new File(a("bench-dir"))
    val cores = a("cores").toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val meter = Meter.attach(spark)
    val out = try {
      val testdata = testdataRoot(spark)
      if (workload == "operator_suite")
        suite(spark, meter, new File(testdata, SuiteSf).getPath, seconds, traced,
          benchDir, work, jvmStartMs)
      else
        stream(spark, meter, Streams.Backfill, new File(testdata, "sf0.1").getPath, seed, seconds,
          traced, work, jvmStartMs, a.get("inject-wrong-row").contains("1"))
    } finally spark.stop()
    val (correct, attempted, failed, m) = out
    val declared = if (traced) Layers.all else EndToEnd
    if (attempted > 0 && m.values.nonEmpty)
      require(m.values.toSeq.map { case (k, (_, u)) => (k, u) } == declared,
        s"printed metrics ${m.values.keys.mkString(",")} differ from the declared ones")
    m.values.foreach { case (k, (v, u)) => println(f"[perfbench] $workload%-15s $k%-44s $v%.6g $u") }
    val metrics = m.values.map { case (k, (v, u)) =>
      s""""$k": {"value": ${v.toString}, "unit": "$u"}""" }.mkString(", ")
    println(s"""PERFBENCH_RESULT {"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$metrics}}""")
  }

  type Out = (Boolean, Long, Long, Metrics)

  def stream(spark: SparkSession, meter: Meter, spec: Streams.Spec, sfDir: String,
      seed: Long, seconds: Int, traced: Boolean, work: File, jvmStartMs: Long,
      injectWrongRow: Boolean): Out = {
    val src = Gen.source(spark, sfDir)
    val readyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // a self-test hook: one expected row the engine cannot have written
    val corrupt: Model => Unit =
      if (!injectWrongRow) _ => ()
      else m => { val rows = m.tables.head._2; val (k, (row, b)) = rows.head
        rows(k) = (row.updated(1, "injected-wrong-value"), b); () }
    val r = Streams.run(spark, spec, src, seed, seconds, traced, work, corrupt)
    meter.drain()
    r.mismatches.take(20).foreach(x => System.err.println(s"[perfbench] mismatch: $x"))
    if (r.mismatches.length > 20)
      System.err.println(s"[perfbench] ... ${r.mismatches.length - 20} more mismatches")
    val m = new Metrics
    val units = r.streamBatchIds.map(id => meter.unit("b" + id))
    val wallS = r.batchMs.sum / 1000.0
    val cpuMs = units.map(_.cpuNs).sum / 1e6
    val n = r.batchMs.length
    val tailP = Stats.tailPercentile(n)
    println(s"[perfbench] ${spec.name}: ${r.okBatches}/${r.okBatches + r.failedBatches} batches ok, " +
      s"${r.events} events, batch_tail_ms is p$tailP of n=$n batches; " +
      s"set-up reps ${r.setupRepS.map(x => f"$x%.2f").mkString("/")} s; " +
      s"batch ms ${r.batchMs.map(x => f"$x%.0f").mkString(" ")}")
    if (n > 0) {
      val e2e = Seq(
        ("events_per_s", r.events / wallS, "events/s"),
        ("batch_p50_ms", Stats.median(r.batchMs), "ms"),
        ("batch_tail_ms", Stats.percentile(r.batchMs, tailP), "ms"),
        ("cpu_ms_per_kevent", cpuMs / (r.events / 1000.0), "ms"),
        ("suite_s", wallS, "s"),
        ("suite_cpu_s", cpuMs / 1000.0, "s"))
      if (!traced) {
        m("setup_s") = (readyS + Stats.median(r.setupRepS), "s")
        e2e.foreach { case (k, v, u) => m(k) = (v, u) }
        m("rss_peak_mb") = (rssPeakMb(), "MB")
        m("retained_mb") = (r.retainedMb, "MB")
      } else {
        streamLayers(m, meter, r)
        Layers.emptySuite(m)
        e2e.filter(x => Layers.TracedE2e(x._1)).foreach { case (k, v, u) => m("trace." + k) = (v, u) }
        Trace.writeStream(new File(work, s"trace/${spec.name}-seed$seed.json"), meter, r)
      }
    }
    (r.failedBatches == 0 && r.mismatches.isEmpty && n > 0,
      (r.okBatches + r.failedBatches).toLong, r.failedBatches.toLong, m)
  }

  private def streamLayers(m: Metrics, meter: Meter, r: Streams.Run): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val phases = r.streamBatchIds.flatMap(id => Option(meter.progress.get(id)).map(_._2))
    def phase(k: String) = med(phases.map(_.getOrElse(k, 0L).toDouble))
    m("streaming.trigger_ms") = (phase("triggerExecution"), "ms")
    m("streaming.add_batch_ms") = (phase("addBatch"), "ms")
    m("streaming.wal_commit_ms") = (phase("walCommit"), "ms")
    m("streaming.commit_offsets_ms") = (phase("commitOffsets"), "ms")
    m("streaming.query_planning_ms") = (phase("queryPlanning"), "ms")
    val units = r.streamBatchIds.map(id => meter.unit("b" + id))
    m("sinks.jobs_per_batch") = (med(units.map(_.jobs.toDouble)), "count")
    m("sinks.stages_per_batch") = (med(units.map(_.stages.toDouble)), "count")
    m("sinks.tasks_per_batch") = (med(units.map(_.tasks.toDouble)), "count")
    m("sinks.executor_cpu_ms_per_batch") = (med(units.map(_.cpuNs / 1e6)), "ms")
    m("sinks.shuffle_bytes_per_batch") = (med(units.map(_.shuffleBytes.toDouble)), "bytes")
    def j(k: String, scale: Double = 1.0) = med(r.jdbc.map(_(k) / scale))
    m("sinks.jdbc_connections_per_batch") = (j("connections"), "count")
    m("sinks.jdbc_statements_per_batch") = (j("statements"), "count")
    m("sinks.jdbc_rows_bound_per_batch") = (j("rows_bound"), "count")
    m("sinks.jdbc_exec_ms_per_batch") = (j("exec_ns", 1e6), "ms")
    m("sinks.jdbc_commit_ms_per_batch") = (j("commit_ns", 1e6), "ms")
    m("sinks.jdbc_metadata_calls_per_batch") = (j("metadata_calls"), "count")
    m("sinks.dlq_rows_per_batch") = (j("dlq_rows"), "count")
    m("sinks.dlq_exec_ms_per_batch") = (j("dlq_exec_ns", 1e6), "ms")
    m("sinks.table_exec_ms_per_batch") = (j("table_exec_ns", 1e6), "ms")
    def total(k: String) = r.jdbc.map(_(k)).sum.toDouble
    m("sinks.update_hit_ratio") =
      (if (total("updates_sent") == 0) 0.0 else total("updates_hit") / total("updates_sent"), "ratio")
    m("sinks.lww_collapse_ratio") =
      (total("target_rows") / math.max(1L, r.validEvents.take(r.batchMs.length).sum), "ratio")
  }

  def suite(spark: SparkSession, meter: Meter, sfDir: String, seconds: Int,
      traced: Boolean, benchDir: File, work: File, jvmStartMs: Long): Out = {
    val listFile = new File(benchDir, s"suite_$SuiteSf.tsv")
    val expected = Suite.readExpected(listFile)
    val missing = expected.keySet -- graft.SparkEntry.queries.keySet
    missing.foreach(q => System.err.println(s"[perfbench] $q: listed but not in SparkEntry.queries"))
    val names = (expected.keySet -- missing).toSeq.sorted
    // one untimed pass warms the JVM (JIT, generated code); each timed
    // pass runs in a fresh session, whose query caches are empty, after
    // Bench's cache warm-up of that session
    Suite.run(spark, sfDir, names, traced = false, prefix = "warm:")
    val passes = math.max(1, math.round(seconds / SuitePassSeconds).toInt)
    var setupS = 0.0
    val runs = (0 until passes).flatMap { p =>
      val timed = spark.newSession()
      Suite.warmup(timed, sfDir)
      if (p == 0) setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      Suite.run(timed, sfDir, names, traced, prefix = s"p$p:")
    }
    // read after the last timed pass, before the session is stopped
    val retained = retainedMb()
    meter.drain()
    val bad = runs.filter { case (q, r) => r.isEmpty || !expected.get(q).contains(r.get.rows) }
    bad.foreach { case (q, r) => System.err.println(
      s"[perfbench] $q: rows ${r.map(_.rows)} expected ${expected.get(q)}") }
    // per query: medians across passes
    val byQuery = runs.collect { case (q, Some(r)) => (q, r) }.groupBy(_._1).map { case (q, rs) =>
      val st = rs.map(x => meter.unit(x._2.unit))
      q -> QueryMedians(
        wallMs = Stats.median(rs.map(_._2.wallMs)),
        planMs = Stats.median(rs.map(_._2.planMs)),
        cpuMs = Stats.median(st.map(_.cpuNs / 1e6)),
        shuffleMb = Stats.median(st.map(_.shuffleBytes / 1048576.0)),
        spillMb = Stats.median(st.map(_.spillBytes / 1048576.0)),
        jobs = Stats.median(st.map(_.jobs.toDouble)),
        rows = rs.head._2.rows)
    }
    val m = new Metrics
    val n = byQuery.size
    val tailP = Stats.tailPercentile(n)
    println(s"[perfbench] operator_suite: ${runs.length - bad.length}/${runs.length} query runs ok " +
      s"(${expected.size} of ${graft.SparkEntry.queries.size} queries) " +
      s"over $passes pass(es) at $sfDir; batch_* are per-query walls, batch_tail_ms is " +
      s"p$tailP of n=$n queries")
    if (n > 0) {
      val wallS = byQuery.values.map(_.wallMs).sum / 1000.0
      val cpuS = byQuery.values.map(_.cpuMs).sum / 1000.0
      val rows = byQuery.values.map(_.rows).sum.toDouble
      val walls = byQuery.values.map(_.wallMs).toSeq
      val e2e = Seq(
        ("events_per_s", rows / wallS, "events/s"),
        ("batch_p50_ms", Stats.median(walls), "ms"),
        ("batch_tail_ms", Stats.percentile(walls, tailP), "ms"),
        ("cpu_ms_per_kevent", cpuS * 1000.0 / (rows / 1000.0), "ms"),
        ("suite_s", wallS, "s"),
        ("suite_cpu_s", cpuS, "s"))
      if (!traced) {
        m("setup_s") = (setupS, "s")
        e2e.foreach { case (k, v, u) => m(k) = (v, u) }
        m("rss_peak_mb") = (rssPeakMb(), "MB")
        m("retained_mb") = (retained, "MB")
      } else {
        Layers.emptyStream(m)
        for (mod <- Suite.Modules) {
          val qs = byQuery.filter { case (q, _) => Suite.moduleOf(q) == mod }.values
          m(s"$mod.wall_s") = (qs.map(_.wallMs).sum / 1000.0, "s")
          m(s"$mod.cpu_s") = (qs.map(_.cpuMs).sum / 1000.0, "s")
          m(s"$mod.plan_ms") = (qs.map(_.planMs).sum, "ms")
          m(s"$mod.shuffle_mb") = (qs.map(_.shuffleMb).sum, "MB")
          m(s"$mod.spill_mb") = (qs.map(_.spillMb).sum, "MB")
          m(s"$mod.jobs") = (qs.map(_.jobs).sum, "count")
        }
        def hot(q: String) = byQuery.getOrElse(q, QueryMedians(0, 0, 0, 0, 0, 0, 0))
        m("operators.q_cdc_type_overrides.cpu_s") = (hot("q_cdc_type_overrides").cpuMs / 1000.0, "s")
        m("dedup.q_dedup_ngram_jaccard.cpu_s") = (hot("q_dedup_ngram_jaccard").cpuMs / 1000.0, "s")
        m("pipeline.q_pipeline_lockstep.wall_s") = (hot("q_pipeline_lockstep").wallMs / 1000.0, "s")
        e2e.filter(x => Layers.TracedE2e(x._1)).foreach { case (k, v, u) => m("trace." + k) = (v, u) }
        Trace.writeSuite(new File(work, "trace/operator_suite.json"), meter, runs)
      }
    }
    val failed = bad.length + missing.size
    (failed == 0 && n > 0, runs.length.toLong + missing.size, failed.toLong, m)
  }

  final case class QueryMedians(wallMs: Double, planMs: Double, cpuMs: Double,
      shuffleMb: Double, spillMb: Double, jobs: Double, rows: Long)
}
