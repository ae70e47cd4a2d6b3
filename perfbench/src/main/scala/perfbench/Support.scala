package perfbench

import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo}
import java.util.Properties

/** Keeps every embedded Derby database of a run inside the run
  * directory. The connector's fixture builder addresses its database by
  * a fixed absolute path (`jdbc:derby:/tmp/graft_remote_<dir>`) and reuses
  * it across processes whenever row counts match; this driver, registered
  * ahead of Derby's own, rewrites that prefix to `<runDir>/derby/`, so one
  * seed's checks never read another seed's fixture and nothing outlives
  * the run. Every other URL falls through to Derby untouched. */
final class DerbyRedirect(runDir: String) extends Driver {
  private val from = "jdbc:derby:/tmp/"
  private val to = s"jdbc:derby:$runDir/derby/"

  private def derby: Driver = {
    val it = DriverManager.getDrivers
    var d: Driver = null
    while (d == null && it.hasMoreElements) {
      val c = it.nextElement()
      if (c.getClass.getName.startsWith("org.apache.derby")) d = c
    }
    require(d != null, "no Derby JDBC driver on the classpath")
    d
  }

  override def acceptsURL(url: String): Boolean = url.startsWith(from)
  override def connect(url: String, info: Properties): Connection =
    if (acceptsURL(url)) derby.connect(to + url.substring(from.length), info)
    else null
  override def getPropertyInfo(url: String, info: Properties)
      : Array[DriverPropertyInfo] = Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getGlobal
}

object DerbyRedirect {
  /** Call before anything touches DriverManager: drivers found by the
    * service loader register after this one and are tried after it. */
  def install(runDir: String): Unit = {
    new java.io.File(s"$runDir/derby").mkdirs()
    System.setProperty("derby.system.home", s"$runDir/derby")
    System.setProperty("derby.stream.error.file", s"$runDir/derby/derby.log")
    DriverManager.registerDriver(new DerbyRedirect(runDir))
    // boot the engine now, so the log location above is the one it keeps
    DriverManager.getConnection("jdbc:derby:memory:perfbench;create=true")
      .close()
  }
}
