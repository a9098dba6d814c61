package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** `oracle_sql.json` carries the registry's oracle SQL to the DuckDB
  * compare (`tools/selfcheck.py`); the SQL holds newlines, so the escaping
  * must round-trip through a JSON parser exactly. */
class VerifySpec extends AnyFunSuite {

  test("oracleJson parses back to exactly the registry's oracle SQL") {
    val sql = SparkEntry.oracleSql
    assert(sql.values.exists(_.contains("\n")))
    val parsed = parse(Verify.oracleJson(sql)) match {
      case JObject(fields) => fields.map { case (k, v) => k -> v.asInstanceOf[JString].s }
      case other => fail(s"not a JSON object: $other")
    }
    assert(parsed.size === sql.size)
    assert(parsed.toMap === sql)
  }
}
