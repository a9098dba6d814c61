package graft.tools

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** `ScaleCheck run` prints one JSON line whatever its error messages hold,
  * and rejects unknown family names before any session starts. */
class ScaleCheckSpec extends AnyFunSuite {

  test("error messages with quotes, backslashes and newlines keep the line valid JSON") {
    val msgs = Seq("AnalysisException: column \"x\" not found",
      "path C:\\tmp\\x", "first line\nsecond line\ttabbed")
    val results = ("ok_family", 1.234, 42L, None) +:
      msgs.zipWithIndex.map { case (m, i) => (s"bad_$i", 0.5, 0L, Some(m)) }
    val line = ScaleCheck.resultLine("/data/\"sf1\"", results)
    assert(!line.contains("\n"))
    val js = parse(line)
    assert(js \ "dir" === JString("/data/\"sf1\""))
    assert(js \ "ok_family" \ "rows" === JInt(42))
    assert(js \ "ok_family" \ "error" === JNothing)
    msgs.zipWithIndex.foreach { case (m, i) => assert(js \ s"bad_$i" \ "error" === JString(m)) }
  }

  test("a line with no family results is still valid JSON") {
    assert(parse(ScaleCheck.resultLine("/d", Nil)) === JObject("dir" -> JString("/d")))
  }

  test("unknown family names fail listing the known ones") {
    val e = intercept[RuntimeException](ScaleCheck.pick(Some(Seq("graph_pagerank", "nope"))))
    assert(e.getMessage.contains("'nope'") && e.getMessage.contains("dedup_minhash_lsh"))
    assert(ScaleCheck.pick(Some(Seq("graph_pagerank"))).map(_._1) === Seq("graph_pagerank"))
    assert(ScaleCheck.pick(None).size === 6)
  }
}
