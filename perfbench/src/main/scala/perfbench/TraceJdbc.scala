package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DatabaseMetaData, DriverManager, PreparedStatement, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One JDBC call as a span: what it did, against which table class, when. */
final case class JdbcSpan(unit: String, kind: String, target: String,
    startNs: Long, endNs: Long, rows: Long)

/**
 * A tracing JDBC driver: `jdbc:perfbench:<rest>` opens `jdbc:<rest>`
 * and hands back `java.lang.reflect.Proxy` wrappers around the real
 * Connection, Statement, PreparedStatement and DatabaseMetaData. The
 * sink sees only another URL; `getDatabaseProductName` still answers
 * from the real database, so dialect selection is unchanged.
 *
 * Counters are JVM-wide (local mode runs executors in this JVM); the
 * benchmark reads them before and after each unit, one unit at a time.
 * Statement text is classed by its target table: the DLQ table, a
 * target table, or DDL/other.
 */
object TraceJdbc {
  val Prefix = "jdbc:perfbench:"
  val DlqTable = "STREAMING_CORRUPT_EVENTS"

  final class Counters {
    val connections = new AtomicLong; val statements = new AtomicLong
    val rowsBound = new AtomicLong; val execNs = new AtomicLong
    val commitNs = new AtomicLong; val metadataCalls = new AtomicLong
    val dlqRows = new AtomicLong; val dlqExecNs = new AtomicLong
    val tableExecNs = new AtomicLong
    val updatesSent = new AtomicLong; val updatesHit = new AtomicLong
    /** rows bound to UPDATE or DELETE on target tables: one per row the
      * last-write-wins collapse kept */
    val targetRows = new AtomicLong
    def snapshot(): Map[String, Long] = Map(
      "connections" -> connections.get, "statements" -> statements.get,
      "rows_bound" -> rowsBound.get, "exec_ns" -> execNs.get,
      "commit_ns" -> commitNs.get, "metadata_calls" -> metadataCalls.get,
      "dlq_rows" -> dlqRows.get, "dlq_exec_ns" -> dlqExecNs.get,
      "table_exec_ns" -> tableExecNs.get, "updates_sent" -> updatesSent.get,
      "updates_hit" -> updatesHit.get, "target_rows" -> targetRows.get)
  }

  val counters = new Counters
  val spans = new ConcurrentLinkedQueue[JdbcSpan]()
  /** The unit the bench thread is running; spans are tagged with it. */
  @volatile var currentUnit: String = "setup"

  private lazy val registered: Unit = DriverManager.registerDriver(new Driver)
  def register(): Unit = registered

  private val Target = "(?i)^\\s*(?:INSERT\\s+INTO|UPDATE|DELETE\\s+FROM)\\s+\"?([A-Za-z0-9_]+)".r.unanchored

  /** "dlq" | "table" | "other" for a statement's text. */
  def classify(sql: String): String = sql match {
    case Target(t) => if (t.equalsIgnoreCase(DlqTable)) "dlq" else "table"
    case _ => "other"
  }

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](iface: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h)
      .asInstanceOf[T]

  private def timed[A](kind: String, target: String, rows: Long)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime(); val d = t1 - t0
      target match {
        case "commit" => counters.commitNs.addAndGet(d)
        case "meta" =>
        case t =>
          counters.execNs.addAndGet(d)
          if (t == "dlq") counters.dlqExecNs.addAndGet(d)
          else if (t == "table") counters.tableExecNs.addAndGet(d)
      }
      spans.add(JdbcSpan(currentUnit, kind, target, t0, t1, rows))
    }
  }

  private val ExecNames = Set("executeBatch", "executeUpdate", "executeQuery",
    "execute", "executeLargeBatch", "executeLargeUpdate")

  /** Statement / PreparedStatement handler. `sql` is the prepared text,
    * or null for a plain Statement (text arrives with each execute). */
  private def statementHandler(real: Statement, sql: String): InvocationHandler = {
    var pending = 0L
    (_, m, args) => m.getName match {
      case "addBatch" if sql != null =>
        pending += 1; call(real, m, args)
      case name if ExecNames(name) =>
        val text = if (sql != null) sql else String.valueOf(args(0))
        val target = classify(text)
        val isUpdate = text.trim.toUpperCase(java.util.Locale.ROOT).startsWith("UPDATE")
        val isDelete = text.trim.toUpperCase(java.util.Locale.ROOT).startsWith("DELETE")
        val rows = if (name.contains("Batch")) pending else if (sql != null) 1L else 0L
        pending = 0
        counters.statements.incrementAndGet()
        counters.rowsBound.addAndGet(rows)
        if (target == "dlq" && text.trim.toUpperCase(java.util.Locale.ROOT).startsWith("INSERT"))
          counters.dlqRows.addAndGet(rows)
        if (target == "table" && (isUpdate || isDelete)) counters.targetRows.addAndGet(rows)
        if (target == "table" && isUpdate) counters.updatesSent.addAndGet(rows)
        val out = timed(name, target, rows)(call(real, m, args))
        if (target == "table" && isUpdate) out match {
          case counts: Array[Int] => counters.updatesHit.addAndGet(counts.count(_ > 0).toLong)
          case n: java.lang.Integer if n > 0 => counters.updatesHit.incrementAndGet()
          case _ =>
        }
        out
      case _ => call(real, m, args)
    }
  }

  private def metadataHandler(real: DatabaseMetaData): InvocationHandler =
    (_, m, args) => {
      if (m.getName == "getTables" || m.getName == "getColumns")
        timed(m.getName, "meta", 0L) {
          counters.metadataCalls.incrementAndGet(); call(real, m, args)
        }
      else call(real, m, args)
    }

  private def connectionHandler(real: Connection): InvocationHandler =
    (_, m, args) => m.getName match {
      case "prepareStatement" =>
        val ps = call(real, m, args).asInstanceOf[PreparedStatement]
        proxy(classOf[PreparedStatement], statementHandler(ps, String.valueOf(args(0))))
      case "createStatement" =>
        proxy(classOf[Statement], statementHandler(call(real, m, args).asInstanceOf[Statement], null))
      case "getMetaData" =>
        proxy(classOf[DatabaseMetaData],
          metadataHandler(call(real, m, args).asInstanceOf[DatabaseMetaData]))
      case "commit" => timed("commit", "commit", 0L)(call(real, m, args))
      case _ => call(real, m, args)
    }

  final class Driver extends java.sql.Driver {
    override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    override def connect(url: String, info: java.util.Properties): Connection =
      if (!acceptsURL(url)) null
      else {
        counters.connections.incrementAndGet()
        val real = DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info)
        proxy(classOf[Connection], connectionHandler(real))
      }
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def getParentLogger = throw new java.sql.SQLFeatureNotSupportedException()
    override def getPropertyInfo(url: String, info: java.util.Properties) =
      Array.empty[java.sql.DriverPropertyInfo]
    override def jdbcCompliant(): Boolean = false
  }
}
