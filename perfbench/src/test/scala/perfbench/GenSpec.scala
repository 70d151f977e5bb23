package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val vshape = Gen.VecShape(n = 300, nQueries = 20, dim = 16, components = 4, spread = 3.5)
  private val dshape = Gen.DocShape(nDocs = 400, exactDupShare = 0.05, families = 10,
    familySize = 2, piiShare = 0.2)

  private def same(a: Gen.VecCorpus, b: Gen.VecCorpus): Boolean =
    a.vectors.map(_.toSeq).toSeq == b.vectors.map(_.toSeq).toSeq &&
      a.queries.map(_.toSeq).toSeq == b.queries.map(_.toSeq).toSeq &&
      a.labels.toSeq == b.labels.toSeq && a.texts.toSeq == b.texts.toSeq

  test("the vector corpus is a function of the seed") {
    assert(same(Gen.vectors(7, vshape), Gen.vectors(7, vshape)))
    assert(!same(Gen.vectors(7, vshape), Gen.vectors(8, vshape)))
  }

  test("vectors are unit-norm and every text outlasts the snippet") {
    val c = Gen.vectors(3, vshape)
    (c.vectors ++ c.queries).foreach { v =>
      assert(math.abs(math.sqrt(v.map(x => x.toDouble * x).sum) - 1.0) < 1e-5)
    }
    assert(c.texts.forall(_.length > 200))
  }

  test("segments are deterministic and come from the corpus mixture") {
    val a = Gen.segments(5, vshape, 2, 10)
    val b = Gen.segments(5, vshape, 2, 10)
    assert(a.map(_.map(_.toSeq).toSeq).toSeq == b.map(_.map(_.toSeq).toSeq).toSeq)
    assert(a.length == 2 && a.forall(_.length == 10))
    val t = Gen.segmentTexts(5, 20)
    assert(t.toSeq == Gen.segmentTexts(5, 20).toSeq && t.forall(_.length > 200))
    assert(t.toSeq != Gen.segmentTexts(6, 20).toSeq)
  }

  test("the document corpus is a function of the seed") {
    val a = Gen.documents(11, dshape)
    val b = Gen.documents(11, dshape)
    assert(a.docs.toSeq == b.docs.toSeq && a.pii == b.pii &&
      a.families.map(_.toSeq).toSeq == b.families.map(_.toSeq).toSeq)
    assert(a.docs.toSeq != Gen.documents(12, dshape).docs.toSeq)
  }

  test("planted structure: ids, families, exact copies and PII") {
    val c = Gen.documents(4, dshape)
    assert(c.docs.map(_.docId).sorted.toSeq == (0L until 400L))
    assert(c.families.length == 10 && c.families.forall(_.length == 2))
    val byId = c.docs.map(d => d.docId -> d).toMap
    c.families.foreach { f =>
      val Array(x, y) = f.map(byId)
      assert(x.lang == y.lang)
      assert(x.text.split(' ').length == y.text.split(' ').length)
    }
    // each text is copied at most once, into another language
    c.docs.groupBy(_.text).values.foreach { ds =>
      assert(ds.length <= 2)
      if (ds.length == 2) assert(ds(0).lang != ds(1).lang)
    }
    assert(c.docs.groupBy(_.text).size < c.docs.length)
    assert(c.pii.nonEmpty)
    c.pii.foreach { case (id, ps) =>
      val words = byId(id).text.split(' ')
      assert(ps.map(_.value) == words.filter(w => ps.exists(_.value == w)).toSeq)
    }
  }
}
