package perfbench

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.model.{Cdc, CdcConfig}
import graft.sinks.JdbcApply
import graft.streaming.CdcStream

/**
 * The replication workload: wire events through `CdcStream.writer`
 * over a `MemoryStream` into a fresh in-memory Derby database, one
 * client in a closed loop (the next micro-batch is added only after
 * `processAllAvailable()` returned).
 *
 * Work is fixed per run: `batches` micro-batches of `batchEvents`
 * events, sized from `--seconds` so a run measures about that long at
 * the time the benchmark was written. Both commits of a comparison
 * therefore apply the same events and grow the same DLQ.
 */
object Streams {

  final case class Spec(name: String, batchEvents: Int, jdbcBatchSize: Int,
      batchesPerSecond: Double, warmupBatches: Int)

  val Backfill = Spec("cdc_backfill", 5000, 3000, batchesPerSecond = 0.3, warmupBatches = 1)

  /** How many set-ups a run makes; `setup_s` reports their median. */
  val SetupReps = 3

  val ValueSchema: StructType = StructType.fromDDL(
    "ID BIGINT, ORDER_NAME STRING, AMOUNT DOUBLE, STATUS STRING, " +
      "CREATED_AT STRING, UPDATED_AT STRING, ORDER_DATE STRING, ORDER_TIME STRING")
  val Overrides: Map[String, String] =
    Map("CREATED_AT" -> "timestamp", "ORDER_DATE" -> "date", "ORDER_TIME" -> "time")

  def sinkConfig(url: String, tables: Seq[String], batchSize: Int): JdbcApply.Config =
    JdbcApply.Config(
      url = url,
      tableSchemas = tables.map(_ -> ValueSchema).toMap,
      keySchemas = tables.map(_ -> StructType.fromDDL("ID BIGINT")).toMap,
      primaryKeys = tables.map(_ -> Seq("ID")).toMap,
      batchSize = batchSize,
      errorsTolerance = "all",
      fieldTypeOverrides = Overrides)

  final case class Run(
      batchMs: IndexedSeq[Double], okBatches: Int, failedBatches: Int,
      events: Long, validEvents: IndexedSeq[Long], setupRepS: IndexedSeq[Double],
      streamBatchIds: IndexedSeq[Long], jdbc: IndexedSeq[Map[String, Long]],
      batchSpans: IndexedSeq[(Long, Long)], mismatches: Seq[String], retainedMb: Double)

  def run(spark: SparkSession, spec: Spec, src: IndexedSeq[Src], seed: Long,
      seconds: Int, traced: Boolean, workDir: java.io.File,
      corruptModel: Model => Unit = _ => ()): Run = {
    val batches = math.max(1, math.round(seconds * spec.batchesPerSecond).toInt)
    val warm = spec.warmupBatches
    val all = Gen.events(src, seed, 0L, (warm + batches) * spec.batchEvents)
    val wire = all.map(Gen.wireRow).grouped(spec.batchEvents).toIndexedSeq
    val tables = src.map(s => "TEST_" + s.eventType.toUpperCase(java.util.Locale.ROOT))
      .distinct.sorted
    val model = new Model
    all.zipWithIndex.foreach { case (e, i) => model(e, i / spec.batchEvents - warm) }
    corruptModel(model)
    val validPerBatch = all.grouped(spec.batchEvents).map(_.count(e =>
      Model.classify(e) != Model.Corrupt).toLong).toIndexedSeq.drop(warm)

    if (traced) TraceJdbc.register()
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(Cdc.kafkaWireSchema)
    val setupS = mutable.ArrayBuffer.empty[Double]
    var query: StreamingQuery = null
    var mem: MemoryStream[Row] = null
    var db = ""
    val ckpts = mutable.ArrayBuffer.empty[java.io.File]
    for (r <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      if (query != null) { query.stop(); dropDb(db) }
      db = s"pb_${spec.name}_$r"
      val url = (if (traced) TraceJdbc.Prefix else "jdbc:") + s"derby:memory:$db;create=true"
      mem = MemoryStream[Row](enc, spark)
      val ckpt = new java.io.File(workDir, s"ckpt-${spec.name}-$r")
      deleteTree(ckpt) // a left-over checkpoint would resume an old stream
      ckpts += ckpt
      query = CdcStream.writer(mem.toDF(), CdcConfig(),
          sinkConfig(url, tables, spec.jdbcBatchSize))
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .start()
      TraceJdbc.currentUnit = "setup"
      (0 until warm).foreach { b => mem.addData(wire(b).toSeq: _*); query.processAllAvailable() }
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val batchMs = mutable.ArrayBuffer.empty[Double]
    val ids = mutable.ArrayBuffer.empty[Long]
    val jdbc = mutable.ArrayBuffer.empty[Map[String, Long]]
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    var failed = 0
    var b = 0
    while (b < batches) {
      TraceJdbc.currentUnit = s"t$b"
      val c0 = TraceJdbc.counters.snapshot()
      val t0 = System.nanoTime()
      val ok = try {
        mem.addData(wire(warm + b).toSeq: _*); query.processAllAvailable(); true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] ${spec.name} batch $b failed: $e"); false }
      val t1 = System.nanoTime()
      if (ok) {
        batchMs += (t1 - t0) / 1e6
        spans += ((t0, t1))
        ids += (warm + b).toLong
        val c1 = TraceJdbc.counters.snapshot()
        jdbc += c1.map { case (k, v) => k -> (v - c0(k)) }
        b += 1
      } else { failed = batches - b; b = batches } // the query is dead
    }
    TraceJdbc.currentUnit = "teardown"
    // the target tables and the DLQ are at their largest here
    val retained = Main.retainedMb()
    try query.stop() catch { case _: Exception => }
    val mismatches =
      try compare(s"jdbc:derby:memory:$db", model, tables)
      catch { case e: java.sql.SQLException => Seq((-1, s"reading the target failed: $e")) }
    dropDb(db)
    ckpts.foreach(deleteTree)
    // a mismatched row or DLQ entry fails the timed batch that last
    // wrote it; a mismatch no timed batch can be blamed for fails one
    val blamed = mismatches.map(_._1).filter(i => i >= 0 && i < batchMs.length).distinct.size
    val bad = if (mismatches.isEmpty) 0 else math.max(1, blamed)
    Run(batchMs.toIndexedSeq, batchMs.length - bad, failed + bad,
      batchMs.length.toLong * spec.batchEvents, validPerBatch, setupS.toIndexedSeq,
      ids.toIndexedSeq, jdbc.toIndexedSeq, spans.toIndexedSeq,
      mismatches.map(_._2), retained)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  private def dropDb(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as 08006

  /** Terminal Derby state against the model: every target row and the
    * DLQ's (topic, partition, offset) set. Returns (batch to blame,
    * description) per difference; a batch index < 0 is a warm-up batch. */
  def compare(url: String, model: Model, tables: Seq[String]): Seq[(Int, String)] = {
    val conn = DriverManager.getConnection(url)
    val out = mutable.ArrayBuffer.empty[(Int, String)]
    try {
      val st = conn.createStatement()
      def exists(t: String): Boolean = {
        val rs = conn.getMetaData.getTables(null, null, t, Array("TABLE"))
        try rs.next() finally rs.close()
      }
      for (t <- tables) {
        val expected = model.tables.getOrElse(t, mutable.Map.empty)
        val actual = mutable.Map.empty[Long, Vector[String]]
        if (exists(t)) {
          val rs = st.executeQuery(
            s"SELECT ${Model.Columns.map("\"" + _ + "\"").mkString(", ")} FROM \"$t\"")
          while (rs.next()) {
            def s(i: Int): String = rs.getString(i)
            val amount = { val d = rs.getDouble(3); if (rs.wasNull) null else java.lang.Double.toString(d) }
            val created = Option(rs.getTimestamp(5)).map(_.toLocalDateTime.toString).orNull
            val date = Option(rs.getDate(7)).map(_.toLocalDate.toString).orNull
            actual(rs.getLong(1)) = Vector(rs.getLong(1).toString, s(2), amount, s(4),
              created, s(6), date, s(8))
          }
          rs.close()
        }
        for ((k, (row, batch)) <- expected if !actual.get(k).contains(row))
          out += ((batch, s"$t key $k: expected $row, found ${actual.get(k)}"))
        for (k <- actual.keySet -- expected.keySet)
          out += ((-1, s"$t key $k: unexpected row ${actual(k)}"))
      }
      val dlq = mutable.Set.empty[(String, Int, Long)]
      if (exists(TraceJdbc.DlqTable)) {
        val rs = st.executeQuery(
          s"""SELECT "topic", "kafka_partition", "kafka_offset" FROM "${TraceJdbc.DlqTable}"""")
        while (rs.next()) dlq += ((rs.getString(1), rs.getInt(2), rs.getLong(3)))
        rs.close()
      }
      for ((c, batch) <- model.dlq if !dlq(c)) out += ((batch, s"DLQ missing $c"))
      for (c <- dlq -- model.dlq.keySet) out += ((-1, s"DLQ unexpected $c"))
    } finally conn.close()
    out.toSeq
  }
}
