package embedbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives byte-identical inputs") {
    assert(Gen.digest(Gen.opinions(7, 5)) == Gen.digest(Gen.opinions(7, 5)))
    assert(Gen.opinions(7, 5) == Gen.opinions(7, 5))
    assert(Gen.digest(Gen.snippets(7, 2000)) == Gen.digest(Gen.snippets(7, 2000)))
    assert(Gen.queryDigest(Gen.queries(7, 500)) == Gen.queryDigest(Gen.queries(7, 500)))
  }

  test("another seed gives other inputs") {
    assert(Gen.digest(Gen.opinions(7, 5)) != Gen.digest(Gen.opinions(8, 5)))
    assert(Gen.digest(Gen.snippets(7, 2000)) != Gen.digest(Gen.snippets(8, 2000)))
    assert(Gen.queryDigest(Gen.queries(7, 500)) != Gen.queryDigest(Gen.queries(8, 500)))
  }

  test("opinions are 20-60 KB, multi-paragraph, with citations") {
    Gen.opinions(3, 20).foreach { d =>
      assert(d.valid)
      assert(d.text.length >= 20000 && d.text.length <= 62000, d.text.length)
      assert(d.text.contains("\n\n"))
    }
    val all = Gen.opinions(3, 20).map(_.text).mkString
    assert(all.contains(" v. ") && all.contains("No. ") && all.contains("\""))
  }

  test("snippets are 50-600 chars; about 2% are blank and marked invalid") {
    val s = Gen.snippets(3, 20000)
    val (valid, invalid) = s.partition(_.valid)
    valid.foreach(d => assert(d.text.length >= 40 && d.text.length <= 600, d.text))
    invalid.foreach(d => assert(d.text.trim.isEmpty))
    val share = invalid.length.toDouble / s.length
    assert(share > 0.015 && share < 0.025, share)
    assert(s.map(_.id).distinct.length == s.length)
  }

  test("queries are 3-40 words; planted-invalid ones are empty or over 1000 chars") {
    val q = Gen.queries(3, 5000)
    q.filter(_.valid).foreach { x =>
      val words = x.text.split(' ').length
      assert(words >= 3 && words <= 40 && x.text.length <= 1000)
    }
    q.filterNot(_.valid).foreach(x => assert(x.text.isEmpty || x.text.length > 1000))
    val share = q.count(!_.valid).toDouble / q.length
    assert(share > 0.01 && share < 0.03, share)
  }
}
