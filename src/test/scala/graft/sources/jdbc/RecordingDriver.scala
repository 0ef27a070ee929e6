package graft.sources.jdbc

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DatabaseMetaData, DriverManager, ResultSet, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** A JDBC driver for `jdbc:graft-recording:<url>` that opens `jdbc:<url>`
  * and wraps it: every statement text it executes or prepares, and every
  * `getPrimaryKeys(catalog, schema, table)` metadata call, is recorded
  * with whether it failed, at the call or while fetching its rows, and
  * one matching [[failOn]] throws when called or gets a ResultSet whose
  * `next()` throws. Specs use it to
  * see every remote statement a plan issues and to inject a failure into
  * one partition of a real Spark job. Options over the URL need
  * `dialect=<name>`, since the prefix names no engine.
  */
final class RecordingDriver extends java.sql.Driver {
  import RecordingDriver._

  override def acceptsURL(url: String): Boolean = url.startsWith(Prefix)
  override def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else wrap(DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info),
      classOf[Connection])
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

object RecordingDriver {
  val Prefix = "jdbc:graft-recording:"

  /** Registers the driver once per JVM. */
  lazy val register: Unit = DriverManager.registerDriver(new RecordingDriver)

  /** (statement text, failed) for every statement executed or prepared,
    * and once more as failed when its ResultSet's `next()` throws. */
  private val log = new ConcurrentLinkedQueue[(String, Boolean)]()
  def statements: Seq[(String, Boolean)] = log.asScala.toSeq
  /** The text of every statement executed without error, in order; a
    * statement only prepared (a schema probe) is not in it. */
  private val ran = new ConcurrentLinkedQueue[String]()
  def executed: Seq[String] = ran.asScala.toSeq
  def clear(): Unit = { log.clear(); ran.clear() }

  /** A statement or metadata call whose text contains `marker` throws
    * `error` from `execute*`, `prepareStatement` or `getPrimaryKeys` when
    * `afterRows` is negative, and otherwise returns a ResultSet whose
    * `next()` throws it on its `afterRows + 1`-th call. */
  final case class Fault(marker: String, afterRows: Int, error: Exception)
  @volatile var failOn: Option[Fault] = None

  private def wrap[A](target: AnyRef, iface: Class[A]): A =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new Handler(target)).asInstanceOf[A]

  private final class Handler(target: AnyRef) extends InvocationHandler {
    private var sql: String = _ // the prepared text of a PreparedStatement

    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val a = if (args == null) Array.empty[AnyRef] else args
      val text =
        if (m.getName == "getPrimaryKeys") Some(a.mkString("getPrimaryKeys(", ", ", ")"))
        else a.headOption.collect { case s: String => s }
          .filter(_ => m.getName.startsWith("execute") || m.getName == "prepareStatement")
          .orElse(Option(sql).filter(_ => m.getName.startsWith("execute")))
      val out =
        try {
          failOn.filter(f => f.afterRows < 0 && text.exists(_.contains(f.marker)))
            .foreach(f => throw new InvocationTargetException(f.error))
          m.invoke(target, a: _*)
        }
        catch {
          case e: InvocationTargetException =>
            text.foreach(t => log.add(t -> true))
            throw e.getCause
        }
      text.foreach(t => log.add(t -> false))
      if (m.getName.startsWith("execute")) text.foreach(ran.add)
      out match {
        case s: java.sql.PreparedStatement if m.getName == "prepareStatement" =>
          val h = new Handler(s); h.sql = a.head.asInstanceOf[String]
          Proxy.newProxyInstance(getClass.getClassLoader,
            Array[Class[_]](classOf[java.sql.PreparedStatement]), h)
        case s: Statement => wrap(s, classOf[Statement])
        case md: DatabaseMetaData => wrap(md, classOf[DatabaseMetaData])
        case rs: ResultSet =>
          text.fold(rs)(t => fetching(rs, t, failOn.filter(f => f.afterRows >= 0 && t.contains(f.marker))))
        case other => other
      }
    }
  }

  /** `rs`, logging `sql` as failed when `next()` throws, and throwing the
    * fault's error on the `afterRows + 1`-th call. */
  private def fetching(rs: ResultSet, sql: String, fault: Option[Fault]): ResultSet = {
    var calls = 0
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](classOf[ResultSet]),
      (_: AnyRef, m: Method, args: Array[AnyRef]) =>
        try {
          if (m.getName == "next") {
            calls += 1
            fault.filter(calls > _.afterRows).foreach(f => throw new InvocationTargetException(f.error))
          }
          m.invoke(rs, (if (args == null) Array.empty[AnyRef] else args): _*)
        } catch {
          case e: InvocationTargetException =>
            if (m.getName == "next") log.add(sql -> true)
            throw e.getCause
        }).asInstanceOf[ResultSet]
  }
}
