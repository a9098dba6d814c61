package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench artifact-line contract ([[Bench.artifactLines]]): error
  * poisoning on both lines, the compact line's 1900-char fit guard, and
  * JSON escaping of gate names and error messages.
  */
class BenchArtifactSpec extends AnyFunSuite {
  import Gates.Result

  private def lines(results: Seq[Result]): (String, String) =
    Bench.artifactLines("/data/sf0.1", results, warmupSec = 42.5,
      cgN = 1000L, cgTimed = 3L, cgMs = 9000L)

  private def field(line: String, name: String): JValue = parse(line) \ name

  test("one errored gate poisons value to -1 and counts one error on both lines") {
    val (full, compact) = lines(Seq(
      Result("a1", 0.5, 0L, None),
      Result("b2", 0.1, 0L, Some("RuntimeException: boom")),
      Result("c3", 1.25, 0L, None)))
    for (line <- Seq(full, compact)) {
      assert(line.endsWith(""","value":-1.0}"""), line)
      assert(line.contains(""""errors":1,"""), line)
      assert(field(line, "errors") === JInt(1))
      assert(field(line, "value") === JDouble(-1.0))
    }
    assert(field(full, "queries") \ "b2" === JString("ERROR RuntimeException: boom"))
    assert(field(compact, "error_detail") \ "b2" === JString("RuntimeException: boom"))
    assert(field(compact, "queries") \ "c3" === JDouble(1.25))
  }

  test("a clean suite reports the summed total last") {
    val (full, compact) = lines(Seq(
      Result("a1", 0.5, 0L, None), Result("c3", 1.25, 0L, None)))
    for (line <- Seq(full, compact)) {
      assert(line.endsWith(""","value":1.75}"""), line)
      assert(field(line, "errors") === JInt(0))
    }
    assert(field(full, "codegen_compiles_timed") === JInt(3))
    assert(field(compact, "warmup_sec") === JDouble(42.5))
  }

  test("184 gates plus 3 all-control-character errors still fit 1900 chars") {
    val ok = (1 to 184).map(i => Result(f"gate_$i%03d_with_a_long_family_name", i / 10.0, 0L, None))
    // every control char escapes to six chars, the worst case per message
    val ctrl = (0 until 200).map(i => (i % 0x20).toChar).mkString
    val errs = (1 to 3).map(i => Result(s"err_$i", 0.0, 0L, Some(ctrl)))
    val (full, compact) = lines(ok ++ errs)
    assert(full.contains("\\u0001\\u0002"))
    assert(compact.length <= 1900, compact.length)
    // the guard fell back to the headline-only line
    assert(field(compact, "queries") === JNothing)
    assert(field(compact, "value") === JDouble(-1.0))
    assert(field(compact, "errors") === JInt(3))
    assert(field(compact, "n_queries") === JInt(187))
    assert(field(full, "value") === JDouble(-1.0))
    assert(field(full, "queries").asInstanceOf[JObject].obj.size === 187)
  }

  test("quotes and backslashes in names and messages round-trip through a JSON parser") {
    val name = "q\"uo\\te"
    val msg = "Err: path C:\\tmp\\x said \"no\"\tthen\nstopped"
    val (full, compact) = lines(Seq(
      Result(name, 2.0, 0L, None), Result(name + "_err", 0.0, 0L, Some(msg))))
    assert(field(full, "queries") \ name === JDouble(2.0))
    assert(field(full, "queries") \ (name + "_err") === JString("ERROR " + msg))
    assert(field(compact, "queries") \ name === JDouble(2.0))
    assert(field(compact, "error_detail") \ (name + "_err") === JString(msg))
    assert(field(compact, "sf") === JString("/data/sf0.1"))
  }
}
