package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Row, SparkSession}

/** One wire event as the generator built it. `table`/`code`/`key`/`value`
  * are null where the event deliberately lacks them. */
final case class Ev(offset: Long, partition: Int, topic: String,
    table: String, code: String, key: String, value: String, ats: String)

/** One source row of the fixed `events` table the payloads derive from. */
final case class Src(eventId: Long, ts: LocalDateTime, userId: Long,
    eventType: String, value: Double)

/**
 * Seeded wire-event generator, owned by the benchmark (the program's own
 * `CdcFeed` is not used, so the program never sees how its inputs were
 * made). Payloads are TEST_ORDERS-shaped rows (FIXTURES.md §1) derived
 * from the `events` table: one target table per event type, keys drawn
 * from a 3000-key space per table, temporal fields formatted from `ts`.
 *
 * What KIND an event is (upsert, delete, and on a corrupt feed which
 * defect it carries) depends only on its position in the stream, with
 * the same moduli `CdcFeed` uses. So every batch of a given size holds
 * the same number of deletes and of DLQ rows whatever the seed; the seed
 * picks the source rows, keys, code spellings and payload variants.
 */
object Gen {

  val KeySpace = 3000
  /** Entry codes with case/space noise; 7 and 8 delete, 9 is unknown. */
  val EntCodes: IndexedSeq[String] =
    IndexedSeq("PT", "rr ", " Px", "UP", "fi", "FP", "ur", "DL", "dr ", "ZZ")
  private val Statuses = IndexedSeq("NEW", "PENDING", "PROCESSING", "SHIPPED", null)
  private val BadTimestamps = IndexedSeq("not-a-timestamp", "2024/01/15 10:00:00", "15-01-2024T10:00")
  private val BadDates = IndexedSeq("never", "01/15/2024", "2024.01.15")
  private val BadTimes = IndexedSeq("noon", "10h30", "99:99:99")

  private val IsoSec = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val SpaceMs = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
  private val Date = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val TimeSec = DateTimeFormatter.ofPattern("HH:mm:ss")
  private val TimeMs = DateTimeFormatter.ofPattern("HH:mm:ss.SSS")
  private val Ats = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** The fixed source rows, sorted by event id. */
  def source(spark: SparkSession, sfDir: String): IndexedSeq[Src] =
    graft.Tables(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect().toIndexedSeq.map { r =>
        val ts = r.get(1) match {
          case t: java.sql.Timestamp => t.toInstant
          case i: java.time.Instant => i
          case n: java.lang.Long => java.time.Instant.ofEpochSecond(0, n) // nanos-as-long read
          case other => throw new IllegalStateException(s"unexpected ts value $other")
        }
        Src(r.getLong(0), LocalDateTime.ofInstant(ts, ZoneOffset.UTC), r.getLong(2),
          r.getString(3), r.getDouble(4))
      }.sortBy(_.eventId)

  /**
   * `n` events with offsets `first until first + n`, with CdcFeed's
   * corrupt mix. Position rules (i = offset): deletes at i % 10 in
   * {7, 8}, unknown code at i % 10 == 9, missing TableName at
   * i % 97 == 13, missing A_ENTTYP at i % 89 == 7, keyless delete at
   * i % 13 == 0, null value at i % 17 == 0 and an unparseable temporal
   * field at i % 23 == 5.
   */
  def events(src: IndexedSeq[Src], seed: Long, first: Long, n: Int): IndexedSeq[Ev] = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + first)
    (0 until n).map { j =>
      val i = first + j
      val s = src(rng.nextInt(src.length))
      val table = "TEST_" + s.eventType.toUpperCase(java.util.Locale.ROOT)
      val slot = (i % 10).toInt
      val isDelete = slot == 7 || slot == 8
      val code0 = EntCodes(slot)
      // the seed picks the spelling; the code it maps to stays fixed
      val code = if (rng.nextBoolean()) code0 else code0.trim.toUpperCase(java.util.Locale.ROOT)
      val k = rng.nextInt(KeySpace).toLong
      val status = Statuses(rng.nextInt(Statuses.length))
      val created = if (rng.nextBoolean()) s.ts.format(IsoSec) else s.ts.format(SpaceMs)
      val orderTime = if (rng.nextBoolean()) s.ts.format(TimeSec) else s.ts.format(TimeMs)
      var createdOut = created
      var dateOut = s.ts.format(Date)
      var timeOut = orderTime
      if (i % 23 == 5) rng.nextInt(3) match {
        case 0 => createdOut = BadTimestamps(rng.nextInt(BadTimestamps.length))
        case 1 => dateOut = BadDates(rng.nextInt(BadDates.length))
        case _ => timeOut = BadTimes(rng.nextInt(BadTimes.length))
      }
      val amount = java.math.BigDecimal.valueOf(s.value).setScale(2,
        java.math.RoundingMode.HALF_UP).toPlainString
      def q(v: String) = if (v == null) "null" else "\"" + v + "\""
      val value =
        if (isDelete || i % 17 == 0) null
        else s"""{"ID":$k,"ORDER_NAME":"Order-${s.userId}-${s.eventId}",""" +
          s""""AMOUNT":$amount,"STATUS":${q(status)},"CREATED_AT":${q(createdOut)},""" +
          s""""UPDATED_AT":"${s.ts.plusSeconds(rng.nextInt(3600).toLong).format(IsoSec)}",""" +
          s""""ORDER_DATE":${q(dateOut)},"ORDER_TIME":${q(timeOut)}}"""
      val key = if (isDelete && i % 13 == 0) null else s"""{"ID":$k}"""
      Ev(offset = i, partition = (i % 8).toInt,
        topic = "iidr.CDC." + table,
        table = if (i % 97 == 13) null else table,
        code = if (i % 89 == 7) null else code,
        key = key, value = value,
        ats = s.ts.format(Ats) + "." + f"${s.ts.getNano / 1000}%06d" + "000000")
    }
  }

  private def utf8(s: String): Array[Byte] =
    if (s == null) null else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Kafka-wire row (`graft.model.Cdc.kafkaWireSchema`), headers absent
    * where the event lacks them — what the Kafka source yields with
    * includeHeaders=true. */
  def wireRow(e: Ev): Row = {
    val headers = Seq(
      Option(e.table).map(t => Row("TableName", utf8(t))),
      Option(e.code).map(c => Row("A_ENTTYP", utf8(c))),
      Some(Row("A_TIMSTAMP", utf8(e.ats)))).flatten
    Row(utf8(e.key), utf8(e.value), headers, e.topic, e.partition, e.offset,
      java.sql.Timestamp.valueOf("2026-01-15 10:00:00"))
  }
}
