package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Statement}
import scala.collection.mutable

/** A `connFactory` for [[graft.sink.JdbcMergeSink]] whose connections
  * time every statement they execute and record its update count, keyed
  * by the statement's kind (delete, prune, update, insert, state). With
  * `enabled = false` it hands out the plain connection. */
final class JdbcProbe(open: () => Connection, table: String, enabled: Boolean) {
  val seconds = mutable.Map[String, Double]().withDefaultValue(0.0)
  val rows = mutable.Map[String, Long]().withDefaultValue(0L)

  def reset(): Unit = { seconds.clear(); rows.clear() }

  def factory: () => Connection =
    if (!enabled) open else () => wrap(open())

  /** Kind of a merge-sink statement, from its text. */
  def kind(sql: String): String = {
    val s = sql.trim.toUpperCase
    if (s.contains("SRI2DB_SYNCTIMES")) "state"
    else if (s.startsWith("MERGE") || s.startsWith("UPDATE")) "update"
    else if (s.startsWith("INSERT")) "insert"
    else if (s.startsWith("DELETE") && s.contains("NOT EXISTS") ||
      s.startsWith("DELETE") && s.contains("NOT IN") ||
      s == s"DELETE FROM ${table.toUpperCase}") "prune"
    else if (s.startsWith("DELETE")) "delete"
    else "other"
  }

  private def timed[A](key: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally synchronized {
      seconds(key) += (System.nanoTime() - t0) / 1e9
    }
  }

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def wrap(c: Connection): Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "createStatement" =>
              wrapStatement(JdbcProbe.this.invoke(c, m, args).asInstanceOf[Statement])
            case "commit" => timed("commit")(JdbcProbe.this.invoke(c, m, args))
            case _ => JdbcProbe.this.invoke(c, m, args)
          }
      }).asInstanceOf[Connection]

  private def wrapStatement(st: Statement): Statement =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Statement]),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          if (m.getName == "executeUpdate" && args != null && args.length == 1) {
            val k = kind(args(0).toString)
            val n = timed(k)(JdbcProbe.this.invoke(st, m, args))
            synchronized { rows(k) += n.asInstanceOf[Integer].longValue }
            n
          } else JdbcProbe.this.invoke(st, m, args)
      }).asInstanceOf[Statement]
}
