package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry completeness — pure JVM, no Spark action: building the
  * line closures and the static oracle strings needs no session. */
class RegistrySpec extends AnyFunSuite {

  /** Lines that are genuinely not SQL-expressible and so carry no
    * oracle: the oracle compare checks them rows-only, and a spec pins
    * them against an exact reference instead. Empty: every line has one. */
  private val RowsOnly = Set.empty[String]

  private val lines = SparkEntry.queries.keySet
  private val static = SparkEntry.oracleSql.keySet
  private val captured = SparkEntry.capturedLines.keySet

  test("queries are exactly the lines with an oracle, plus the rows-only list") {
    assert(lines === static ++ captured ++ RowsOnly,
      s"lines without an oracle: ${lines -- static -- captured}; " +
      s"oracles without a line: ${(static ++ captured) -- lines}")
  }

  test("the static and captured oracle sources share no line") {
    assert((static & captured) === Set.empty)
  }

  test("a rows-only line has no oracle") {
    assert((RowsOnly & (static ++ captured)) === Set.empty)
  }
}
