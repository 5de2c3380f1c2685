package perfbench

import java.time.LocalDateTime

/**
 * Checks of the benchmark itself that need no Spark session. Prints
 * `METRIC <kind> <name> <unit>` for every metric the benchmark can
 * print (`selftest.py` compares them with BENCHMARK.json), then one
 * `SELFTEST ok|FAIL <what>` line per check. Exit code 1 if any failed.
 */
object SelfTest {
  private val src = (0 until 500).map(i => Src(i.toLong,
    LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(i * 37L), (i * 13 % 1500).toLong,
    Seq("click", "view", "signup", "purchase", "error")(i % 5), i * 1.25))

  def main(args: Array[String]): Unit = {
    Main.EndToEnd.foreach { case (k, u) => println(s"METRIC end_to_end $k $u") }
    Layers.all.foreach { case (k, u) => println(s"METRIC per_layer $k $u") }
    var ok = true
    def check(what: String)(cond: => Boolean): Unit = {
      val pass = try cond catch { case e: Exception => System.err.println(e); false }
      println(s"SELFTEST ${if (pass) "ok" else "FAIL"} $what")
      ok &&= pass
    }
    def gen(seed: Long) = Gen.events(src, seed, 0L, 4000)
    check("generator: the same seed gives the same events")(gen(7) == gen(7))
    check("generator: another seed gives other events")(gen(7) != gen(8))
    def dlqPerBatch(seed: Long) = gen(seed).grouped(500)
      .map(_.count(e => Model.classify(e) == Model.Corrupt)).toSeq
    check("generator: DLQ rows per batch do not depend on the seed")(
      dlqPerBatch(7) == dlqPerBatch(8) && dlqPerBatch(7) == dlqPerBatch(123))
    check("generator: about a fifth of the events are corrupt")(
      dlqPerBatch(7).forall(n => n > 50 && n < 130))
    // the model's verdicts on hand-written events
    def ev(code: String, key: String, value: String, table: String = "TEST_X") =
      Ev(1L, 0, "t", table, code, key, value, "")
    val v = """{"ID":5,"ORDER_NAME":"a","AMOUNT":1.50,"STATUS":null,""" +
      """"CREATED_AT":"2024-01-02 03:04:05.600","UPDATED_AT":"u","ORDER_DATE":"2024-01-02",""" +
      """"ORDER_TIME":"03:04:05"}"""
    check("model: upsert row")(Model.classify(ev(" pt", "{\"ID\":5}", v)) ==
      Model.Upsert(5L, Vector("5", "a", "1.5", null, "2024-01-02T03:04:05.600", "u",
        "2024-01-02", "03:04:05.000")))
    check("model: delete by key")(Model.classify(ev("dr ", "{\"ID\":9}", null)) == Model.Delete(9L))
    check("model: corrupt events")(Seq(
      ev("ZZ", "{\"ID\":5}", v), ev(null, "{\"ID\":5}", v), ev("PT", "{\"ID\":5}", v, null),
      ev("DL", null, null), ev("UP", "{\"ID\":5}", null),
      ev("PT", "{\"ID\":5}", v.replace("03:04:05\"", "noon\"")),
      ev("PT", "{\"ID\":5}", v.replace("\"2024-01-02\"", "\"never\"")))
      .forall(Model.classify(_) == Model.Corrupt))
    check("percentiles")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
      Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5 &&
      Stats.tailPercentile(19) == 50 && Stats.tailPercentile(112) == 91)
    if (!ok) sys.exit(1)
  }
}
