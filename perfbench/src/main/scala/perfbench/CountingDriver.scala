package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverPropertyInfo, PreparedStatement}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.sinks.JdbcLoad

/** A JDBC driver that hands out Derby connections and counts, per table,
  * the rows each prepared `INSERT` sends: what the program writes to the
  * database, measured where it leaves the program. The program's JDBC
  * writer takes its driver by class name ([[CountingDriver.Name]]) and
  * instantiates it itself, so the counts live in the companion. */
final class CountingDriver extends Driver {
  private val derby = Class.forName(JdbcLoad.DerbyDriver).getDeclaredConstructor()
    .newInstance().asInstanceOf[Driver]

  def connect(url: String, info: Properties): Connection = {
    val c = derby.connect(url, info)
    if (c == null) null
    else CountingDriver.proxy(classOf[Connection], c) { (m, args, r) =>
      (m.getName, r) match {
        case ("prepareStatement", ps: PreparedStatement) =>
          CountingDriver.insertTable(args(0).toString).fold(r)(CountingDriver.counted(ps, _))
        case _ => r
      }
    }
  }

  def acceptsURL(url: String): Boolean = url.startsWith("jdbc:derby:")
  def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    derby.getPropertyInfo(url, info)
  def getMajorVersion: Int = derby.getMajorVersion
  def getMinorVersion: Int = derby.getMinorVersion
  def jdbcCompliant: Boolean = false
  def getParentLogger: java.util.logging.Logger = derby.getParentLogger
}

object CountingDriver {
  val Name: String = classOf[CountingDriver].getName

  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val Insert = """(?is)\s*INSERT\s+INTO\s+"?([\w.]+)"?.*""".r

  /** Rows sent to `table` since the last [[reset]]. */
  def rows(table: String): Long = Option(counts.get(table.toLowerCase)).fold(0L)(_.get)
  def reset(): Unit = counts.clear()

  private[perfbench] def insertTable(sql: String): Option[String] = sql match {
    case Insert(t) => Some(t.toLowerCase)
    case _ => None
  }

  /** A statement that counts one row per `addBatch()` or `executeUpdate()`. */
  private def counted(ps: PreparedStatement, table: String): PreparedStatement = {
    val n = counts.computeIfAbsent(table, _ => new AtomicLong())
    proxy(classOf[PreparedStatement], ps) { (m, args, r) =>
      if ((args == null || args.isEmpty) &&
          (m.getName == "addBatch" || m.getName == "executeUpdate")) n.incrementAndGet()
      r
    }
  }

  /** `target` behind interface `T`; `after` sees each call's method,
    * arguments and result, and returns the result to hand back. */
  private def proxy[T](iface: Class[T], target: AnyRef)(
      after: (Method, Array[AnyRef], AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface), new InvocationHandler {
      def invoke(self: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
        val r = try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
          catch { case e: InvocationTargetException => throw e.getCause }
        after(m, args, r)
      }
    }).asInstanceOf[T]
}
