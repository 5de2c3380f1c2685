package perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/**
 * The operator suite: the `SparkEntry.queries` entries listed in
 * `suite_<sf>.tsv`, each one materialized with `write.format("noop")`
 * (a `count()` would let Catalyst prune the plan down to a scan). The
 * materialized row count is read through an `Observation` and checked
 * against the count listed with the query.
 */
object Suite {

  /** Module of a query: the public registry that holds it. */
  lazy val moduleOf: Map[String, String] = {
    val named = Seq(
      "text" -> graft.text.TextQueries.queries.keySet,
      "dedup" -> graft.dedup.DedupQueries.queries.keySet,
      "ann" -> graft.ann.AnnQueries.queries.keySet,
      "multimodal" -> graft.multimodal.MultimodalQueries.queries.keySet,
      "analytics" -> (graft.analytics.AnalyticsQueries.queries.keySet ++
        graft.analytics.SketchQueries.queries.keySet ++
        graft.analytics.ProfileQueries.queries.keySet),
      "pipeline" -> graft.pipeline.PipelineQueries.queries.keySet)
    SparkEntry.queries.keySet.map { q =>
      q -> named.collectFirst { case (m, ks) if ks(q) => m }.getOrElse("operators")
    }.toMap
  }
  val Modules: Seq[String] =
    Seq("operators", "text", "dedup", "ann", "multimodal", "analytics", "pipeline")

  final case class QueryRun(name: String, wallMs: Double, planMs: Double,
      rows: Long, unit: String, startNs: Long, planEndNs: Long, endNs: Long)

  /** The cache part of Bench's warm-up: the shared caches (normalized
    * CDC feed, near-dup funnel) of `spark`. Bench's other warm-up step,
    * the flagship query for JIT and class loading, is left to the
    * untimed pass. */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    Seq("q_cdc_normalize", "q_dedup_lsh_pairs").foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count() catch { case _: Throwable => () }
    }

  /** One query, materialized. With `traced`, planning is forced first so
    * its time shows apart from execution. A failure returns None. */
  def runOne(spark: SparkSession, name: String, sfDir: String, unit: String,
      traced: Boolean): Option[QueryRun] = {
    spark.sparkContext.setLocalProperty(Meter.UnitKey, unit)
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (traced) df.queryExecution.executedPlan
      val tPlan = System.nanoTime()
      val obs = Observation()
      df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      val rows = obs.get("n").asInstanceOf[Long]
      val t1 = System.nanoTime()
      Some(QueryRun(name, (t1 - t0) / 1e6, if (traced) (tPlan - t0) / 1e6 else 0.0,
        rows, unit, t0, tPlan, t1))
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] $name failed: $e"); None
    } finally spark.sparkContext.setLocalProperty(Meter.UnitKey, null)
  }

  /** One pass over `names`; units are labelled `<prefix><query>`. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      traced: Boolean, prefix: String): IndexedSeq[(String, Option[QueryRun])] =
    names.toIndexedSeq.map(q => q -> runOne(spark, q, sfDir, prefix + q, traced))

  /** The committed query list with each query's expected materialized
    * row count, `name<TAB>rows` per line. */
  def readExpected(f: java.io.File): Map[String, Long] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.trim.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t"); k -> v.toLong }.toMap
    finally src.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it;
    * 50 when there are fewer than twenty samples. */
  def tailPercentile(n: Int): Int =
    if (n < 20) 50 else math.floor(100.0 * (n - 10) / n).toInt
}
