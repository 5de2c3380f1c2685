package perfbench

import java.time.{LocalDate, LocalDateTime, LocalTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/**
 * Sequential per-event model of the replication path: every event is
 * applied alone, in offset order, with the reference's rules (corrupt
 * checks in IidrCdcSinkTask order, then the field.type.overrides parse
 * failures, then upsert-by-key or delete-by-key). The engine collapses
 * each micro-batch last-write-wins and applies it in parallel; the
 * terminal state must be the same (the equivalence `CdcFoldPropertySpec`
 * proves for batch apply).
 *
 * Rows are kept as the strings the comparison reads back from the
 * target: null stays null, temporal values in java.time's ISO form.
 */
final class Model {
  /** table → key → (expected row, index of the batch that last wrote it) */
  val tables: mutable.Map[String, mutable.Map[Long, (Vector[String], Int)]] = mutable.Map.empty
  /** (topic, partition, offset) → index of the batch that carried it */
  val dlq: mutable.Map[(String, Int, Long), Int] = mutable.Map.empty

  def apply(e: Ev, batch: Int): Unit = Model.classify(e) match {
    case Model.Corrupt => dlq((e.topic, e.partition, e.offset)) = batch
    case Model.Delete(k) =>
      tables.getOrElseUpdate(e.table, mutable.Map.empty).remove(k)
    case Model.Upsert(k, row) =>
      tables.getOrElseUpdate(e.table, mutable.Map.empty)(k) = (row, batch)
  }
}

object Model {
  sealed trait Outcome
  case object Corrupt extends Outcome
  final case class Delete(key: Long) extends Outcome
  final case class Upsert(key: Long, row: Vector[String]) extends Outcome

  /** Target columns in table order; the first is the primary key. */
  val Columns: Seq[String] = Seq("ID", "ORDER_NAME", "AMOUNT", "STATUS",
    "CREATED_AT", "UPDATED_AT", "ORDER_DATE", "ORDER_TIME")

  private val UpsertCodes = Set("PT", "RR", "PX", "UP", "FI", "FP", "UR")
  private val DeleteCodes = Set("DL", "DR")
  // field.type.overrides pattern lists (IidrToJdbcSinkTransform.java:68-73)
  private val TsPatterns = Seq("yyyy-MM-dd'T'HH:mm:ss.SSS", "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSS", "yyyy-MM-dd HH:mm:ss").map(DateTimeFormatter.ofPattern)
  private val TimePatterns = Seq("HH:mm:ss.SSS", "HH:mm:ss").map(DateTimeFormatter.ofPattern)
  private val TimeOut = DateTimeFormatter.ofPattern("HH:mm:ss.SSS")

  private def firstParse[A](s: String, fs: Seq[DateTimeFormatter],
      f: (String, DateTimeFormatter) => A): Option[A] =
    fs.iterator.flatMap(p => scala.util.Try(f(s, p)).toOption).nextOption()

  private val Field = "\"([A-Z_]+)\":(null|\"[^\"]*\"|[^,}]+)".r

  /** The flat JSON objects the generator writes, field → raw text (null
    * for JSON null, unquoted string otherwise). */
  def fields(json: String): Map[String, String] =
    Field.findAllMatchIn(json).map { m =>
      val v = m.group(2)
      m.group(1) -> (if (v == "null") null
        else if (v.startsWith("\"")) v.substring(1, v.length - 1) else v)
    }.toMap

  def classify(e: Ev): Outcome = {
    if (e.table == null || e.code == null) return Corrupt
    val code = e.code.trim.toUpperCase(java.util.Locale.ROOT)
    if (DeleteCodes(code)) {
      if (e.key == null) Corrupt else Delete(fields(e.key)("ID").toLong)
    } else if (!UpsertCodes(code) || e.value == null) Corrupt
    else {
      val f = fields(e.value)
      val created = Option(f("CREATED_AT")).map(s =>
        firstParse(s, TsPatterns, LocalDateTime.parse(_, _)).map(_.toString))
      val date = Option(f("ORDER_DATE")).map(s =>
        scala.util.Try(LocalDate.parse(s).toString).toOption)
      val time = Option(f("ORDER_TIME")).map(s =>
        firstParse(s, TimePatterns, LocalTime.parse(_, _)).map(_.format(TimeOut)))
      if (Seq(created, date, time).exists(_.contains(None))) Corrupt
      else Upsert(f("ID").toLong, Vector(f("ID"), f("ORDER_NAME"),
        java.lang.Double.toString(f("AMOUNT").toDouble), f("STATUS"),
        created.flatten.orNull, f("UPDATED_AT"), date.flatten.orNull,
        time.flatten.orNull))
    }
  }
}
