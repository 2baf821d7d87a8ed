package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `oracle_sql.json` is read with `json.load` by the oracle compare: one
  * bad escape loses every line's oracle, so each hostile character class
  * must survive the write and read back unchanged. */
class OracleJsonSpec extends AnyFunSuite {

  test("the oracle JSON round-trips quotes, backslashes, controls and non-BMP text") {
    val oracles = Map(
      "quote_backslash" -> "SELECT '\"a\"' AS q, regexp_matches(t, '\\s+\\\\') AS b",
      "newline_cr_tab" -> "SELECT 1\nFROM t\r\nWHERE\ta = 1",
      "c0_and_line_separator" -> "SELECT '\u0001' AS soh, '\u2028' AS ls",
      "supplementary" -> "SELECT '\uD83D\uDE00' AS emoji, 'x\uD835\uDD38y' AS dbl")
    val path = Files.createTempFile("oracle_sql", ".json")
    try {
      Verify.writeOracleJson(oracles, path)
      val back = new ObjectMapper().readTree(path.toFile).properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
      assert(back === oracles)
    } finally Files.delete(path)
  }
}
