package graft.tools

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.Gates
import graft.Gates.Result

/** `ScaleCheck run` prints one JSON line whatever its error messages hold,
  * and `run` and `twice` reject unknown names and bad numbers before any
  * session starts. */
class ScaleCheckSpec extends AnyFunSuite {

  test("error messages with quotes, backslashes and newlines keep the line valid JSON") {
    val msgs = Seq("AnalysisException: column \"x\" not found",
      "path C:\\tmp\\x", "first line\nsecond line\ttabbed")
    val results = Result("ok_family", 1.234, 42L, None) +:
      msgs.zipWithIndex.map { case (m, i) => Result(s"bad_$i", 0.5, 0L, Some(m)) }
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
    val e = intercept[RuntimeException](Gates.pick(Seq("graph_pagerank", "nope"), ScaleCheck.families))
    assert(e.getMessage.contains("'nope'") && e.getMessage.contains("dedup_minhash_lsh"))
    assert(Gates.pick(Seq("graph_pagerank"), ScaleCheck.families).map(_._1) === Seq("graph_pagerank"))
    assert(Gates.pick(Nil, ScaleCheck.families).size === 6)
  }

  test("twice rejects non-positive or non-numeric counts and unknown gates before any session") {
    // unchanged rather than empty: other suites in this JVM may already
    // hold the shared test session (SparkContext.getActive is private[spark])
    val active = SparkSession.getDefaultSession
    def failure(args: String*): String =
      intercept[RuntimeException](ScaleCheck.main(("twice" +: args).toArray)).getMessage
    for (bad <- Seq("0", "-1", "x")) {
      val parts = failure("graph_pagerank", "/d", bad)
      assert(parts.contains(s"shuffleParts must be a positive integer (got '$bad')"), parts)
      assert(parts.contains("twice <gate> <dir> [shuffleParts=32] [passes=2]"), parts)
      val passes = failure("graph_pagerank", "/d", "8", bad)
      assert(passes.contains(s"passes must be a positive integer (got '$bad')"), passes)
    }
    val unknown = failure("nope", "/d")
    assert(unknown.contains("'nope'") && unknown.contains("graph_pagerank"), unknown)
    assert(SparkSession.getDefaultSession === active)
  }
}
