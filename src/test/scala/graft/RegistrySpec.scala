package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry table — pure JVM, no Spark action: building the line
  * closures and the static oracle strings needs no session. */
class RegistrySpec extends AnyFunSuite {

  test("no line name appears twice in the registry table") {
    // the name-keyed views keep only the last of two equal names, so a
    // copy-pasted name would silently drop a line and its oracle
    val dups = SparkEntry.lines.groupBy(_._1).collect {
      case (name, ls) if ls.size > 1 => name }
    assert(dups.isEmpty, s"names registered twice: ${dups.toSeq.sorted}")
  }

  test("the table and every static oracle build with no SparkSession") {
    // Suites share one session per test JVM, so build in a fresh loader
    // over the same classpath: it shares no Spark state with this one,
    // and a line or oracle that reached for a session would throw here.
    val urls = sys.props("java.class.path").split(java.io.File.pathSeparator)
      .map(p => new java.io.File(p).toURI.toURL)
    val loader = new java.net.URLClassLoader(urls,
      ClassLoader.getPlatformClassLoader)
    try {
      def call(obj: AnyRef, method: String): AnyRef =
        obj.getClass.getMethod(method).invoke(obj)
      def module(name: String): AnyRef =
        loader.loadClass(name + "$").getField("MODULE$").get(null)
      val entry = module("graft.SparkEntry")
      assert(call(call(entry, "lines"), "size") === SparkEntry.lines.size)
      assert(call(entry, "oracleSql").toString === SparkEntry.oracleSql.toString)
      val session = module("org.apache.spark.sql.SparkSession")
      assert(call(call(session, "getDefaultSession"), "isEmpty") === true)
    } finally loader.close()
  }
}
