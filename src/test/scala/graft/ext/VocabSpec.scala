package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class VocabSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat"),
    (2L, "the cat ran"),
    (3L, "the dog sat"),
  ).toDF("doc_id", "text")

  test("build: ids dense by (freq desc, term asc), starting at 1") {
    val v = Vocab.build(docs, "text")
      .select("term", "n", "id").as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(v("the") === ((3L, 1L)), "most frequent term gets id 1")
    // cat/sat tie at 2 → term order breaks it
    assert(v("cat") === ((2L, 2L)))
    assert(v("sat") === ((2L, 3L)))
    // dog/ran tie at 1 → dog before ran
    assert(v("dog") === ((1L, 4L)))
    assert(v("ran") === ((1L, 5L)))
  }

  test("encode: ids in position order, counts right") {
    val enc = Vocab.encode(docs, "doc_id", "text", Vocab.build(docs, "text"))
      .select("doc_id", "n_tokens", "ids_csv").as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(enc(1L) === ((3L, "1,2,3")), "the cat sat")
    assert(enc(2L) === ((3L, "1,2,5")), "the cat ran")
    assert(enc(3L) === ((3L, "1,4,3")), "the dog sat")
  }

  test("encode against a held-out vocab: OOV tokens take unkId") {
    val trainVocab = Vocab.build(docs.filter($"doc_id" =!= 2L), "text") // no 'ran'
    val enc = Vocab.encode(docs.filter($"doc_id" === 2L), "doc_id", "text", trainVocab)
      .select("ids_csv").as[String].head()
    assert(enc.split(",").last === "-1", "unseen term must map to unkId")
    assert(!enc.split(",").init.contains("-1"), "seen terms resolve normally")
  }
}
