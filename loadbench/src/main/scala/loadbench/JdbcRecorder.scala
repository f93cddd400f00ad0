package loadbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, ResultSet, Statement}

/** A recording `java.sql.Connection`: every statement and result set it
  * hands out is wrapped, so the counts below cover all JDBC traffic of
  * one op without touching the program.
  *
  *  - `statements`: execute calls (`execute*`, `executeBatch`)
  *  - `rowsSent`: parameter rows sent (`addBatch` rows, plus one per
  *    parameterized single execute)
  *  - `rowsAffected`: update counts the driver reported
  *  - `rowsRead`: result-set rows fetched
  *  - `writeNanos` / `readNanos`: time inside update and query calls
  *    (query time includes fetching rows)
  */
final class JdbcRecorder(spans: Spans) {
  var statements = 0L
  var rowsSent = 0L
  var rowsAffected = 0L
  var rowsRead = 0L
  var writeNanos = 0L
  var readNanos = 0L

  def wrap(conn: Connection): Connection =
    proxy(classOf[Connection], conn) { (m, args, call) =>
      val out = call()
      out match {
        case st: Statement if m.getName.endsWith("Statement") =>
          wrapStatement(st, m.getReturnType.asInstanceOf[Class[Statement]])
        case other => other
      }
    }

  private def wrapStatement[S <: Statement](st: Statement, iface: Class[S]): S = {
    var pendingRows = 0L
    proxy(iface, st.asInstanceOf[S]) { (m, args, call) =>
      val name = m.getName
      name match {
        case "addBatch" =>
          pendingRows += 1
          call()
        case "executeBatch" | "executeLargeBatch" =>
          statements += 1
          rowsSent += pendingRows
          pendingRows = 0
          val out = timed(isWrite = true, name)(call())
          out match {
            case counts: Array[Int] => rowsAffected += counts.iterator.map(affected).sum
            case counts: Array[Long] => rowsAffected += counts.iterator.map(c => affected(c.toInt)).sum
          }
          out
        case "executeUpdate" | "executeLargeUpdate" =>
          statements += 1
          if (args == null || args.isEmpty) rowsSent += 1
          val out = timed(isWrite = true, name)(call())
          rowsAffected += out.asInstanceOf[Number].longValue
          out
        case "executeQuery" =>
          statements += 1
          timed(isWrite = false, name)(call()) match {
            case rs: ResultSet => wrapResultSet(rs)
            case other => other
          }
        case "execute" =>
          statements += 1
          timed(isWrite = true, name)(call())
        case "getResultSet" =>
          call() match {
            case rs: ResultSet => wrapResultSet(rs)
            case other => other
          }
        case _ => call()
      }
    }
  }

  private def wrapResultSet(rs: ResultSet): ResultSet =
    proxy(classOf[ResultSet], rs) { (m, _, call) =>
      if (m.getName == "next") {
        val t0 = System.nanoTime
        val more = call()
        readNanos += System.nanoTime - t0
        if (more == java.lang.Boolean.TRUE) rowsRead += 1
        more
      } else call()
    }

  /** JDBC reports SUCCESS_NO_INFO (-2) when a row went in but the
    * driver kept no count.
    */
  private def affected(c: Int): Long =
    if (c == Statement.SUCCESS_NO_INFO) 1L else math.max(c, 0).toLong

  private def timed(isWrite: Boolean, name: String)(body: => AnyRef): AnyRef = {
    val span = spans.start(s"jdbc.$name")
    val t0 = System.nanoTime
    try body
    finally {
      val dt = System.nanoTime - t0
      if (isWrite) writeNanos += dt else readNanos += dt
      spans.end(span)
    }
  }

  private def proxy[T](iface: Class[T], target: T)(
      handle: (Method, Array[AnyRef], () => AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          handle(m, args, () =>
            try if (args == null) m.invoke(target) else m.invoke(target, args: _*)
            catch { case e: InvocationTargetException => throw e.getCause })
      }).asInstanceOf[T]
}
