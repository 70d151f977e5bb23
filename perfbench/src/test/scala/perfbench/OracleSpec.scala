package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OracleSpec extends AnyFunSuite {

  test("exact top-k on a hand-checked case: sim DESC, then vec_id ASC") {
    val q = Array(1f, 0f)
    val vectors = Array(
      Array(0f, 1f),   // id 10: cos 0
      Array(1f, 1f),   // id 11: cos 0.707107
      Array(2f, 0f),   // id 12: cos 1
      Array(3f, 3f),   // id 13: cos 0.707107 — ties id 11, ranks after it
      Array(-1f, 0f))  // id 14: cos -1
    val ids = Array(10L, 11L, 12L, 13L, 14L)
    val top = Oracle.exactTopK(vectors, ids, q, 3)
    assert(top.map(_.vecId) == Seq(12L, 11L, 13L))
    assert(top.map(_.sim) == Seq(1.0, 0.707107, 0.707107))
    assert(Oracle.exactTopK(vectors, ids, q, 10).map(_.vecId) == Seq(12L, 11L, 13L, 10L, 14L))
  }

  test("exact top-k equals rounding every row and sorting, near-ties included") {
    val r = new java.util.SplittableRandom(9)
    val q = Array.fill(8)(r.nextDouble().toFloat - 0.5f)
    // pairs of vectors a hair apart, so rounded sims tie across ids
    val vectors = Array.fill(200)(Array.fill(8)(r.nextDouble().toFloat - 0.5f))
      .flatMap(v => Seq(v, v.map(_ * 1.0000001f)))
    val ids = Array.tabulate(vectors.length)(i => (vectors.length - i).toLong)
    val naive = vectors.indices
      .map(i => Oracle.Hit(ids(i), Oracle.round6(Oracle.cosine(vectors(i), q))))
      .sortBy(h => (-h.sim, h.vecId))
    for (k <- Seq(1, 5, 17, 400, 500))
      assert(Oracle.exactTopK(vectors, ids, q, k) == naive.take(k), s"k=$k")
  }

  test("round6 is half-up on the decimal value") {
    assert(Oracle.round6(0.1234565) == 0.123457)
    assert(Oracle.round6(-0.1234565) == -0.123457)
    assert(Oracle.round6(1.0 / (1.0 + 1e-8)) == 1.0)
  }

  test("recall counts the overlap with the exact set") {
    assert(Oracle.recall(Seq(1L, 2L, 3L, 4L, 5L), Seq(1L, 2L, 3L, 9L, 8L), 5) == 0.6)
    assert(Oracle.recall(Seq(5L, 4L), Seq(4L, 5L), 2) == 1.0)
  }

  test("checkRanked flags a wrong sim and a wrong order") {
    val vs = Map(1L -> Array(1f, 0f), 2L -> Array(0f, 1f))
    val q = Array(1f, 0f)
    assert(Oracle.checkRanked(Seq(Oracle.Hit(1, 1.0), Oracle.Hit(2, 0.0)), vs, q).isEmpty)
    assert(Oracle.checkRanked(Seq(Oracle.Hit(1, 0.9), Oracle.Hit(2, 0.0)), vs, q).nonEmpty)
    assert(Oracle.checkRanked(Seq(Oracle.Hit(2, 0.0), Oracle.Hit(1, 1.0)), vs, q).nonEmpty)
  }

  test("h60 is the first 15 hex digits of md5") {
    // md5("hello") = 5d41402abc4b2a76b9719d911017c592
    assert(Oracle.h60("hello") == java.lang.Long.parseLong("5d41402abc4b2a7", 16))
  }

  test("scrubbed replaces each planted value by its placeholder") {
    val p = Seq(Gen.Pii("EMAIL", "a.b@x.example.org"), Gen.Pii("PHONE", "555-123-4567"))
    assert(Oracle.scrubbed("call 555-123-4567 or a.b@x.example.org now", p) ==
      "call <PHONE> or <EMAIL> now")
  }
}
