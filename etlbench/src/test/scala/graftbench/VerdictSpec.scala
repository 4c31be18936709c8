package graftbench

import org.scalatest.funsuite.AnyFunSuite

class VerdictSpec extends AnyFunSuite {

  test("a wrong answer counts as a failed operation") {
    val v = new Verdict
    v.record(Nil)
    v.record(Seq("gene: digest mismatch"))
    assert(v.attempted == 2 && v.failed == 1)
    assert(v.failRatio == 0.5)
    assert(!v.correct)
    assert(v.problems.nonEmpty)
  }

  test("table digests are order independent and catch a changed value") {
    val spark = BenchSpark.spark
    import spark.implicits._
    val model = ModelTable("t", Seq("a", "b"))
    model.add("x", 1L); model.add("y", null); model.add("z", 2.5)
    val same = Seq(("z", "2.5"), ("x", "1"), ("y", null)).toDF("a", "b")
    val changed = Seq(("z", "2.5"), ("x", "2"), ("y", null)).toDF("a", "b")
    val want = Digest.ofModel(model)
    assert(Digest.ofFrame(same, model.columns) == want)
    val got = Digest.ofFrame(changed, model.columns)
    assert(got != want)
    val v = new Verdict
    v.record(if (got == want) Nil else Seq(s"digest $got != $want"))
    assert(v.failRatio > 0)
  }

  test("a lookup answer differing from the model's fails the lookup") {
    val spark = BenchSpark.spark
    val lookup = Lookup("gene_by_symbol",
      () => spark.range(2).toDF("id"), expected = Seq("0", "1"))
    val v = new Verdict
    v.record(BrowserLookup.check(lookup, lookup.query().collect()))
    v.record(BrowserLookup.check(lookup.copy(expected = Seq("0")), lookup.query().collect()))
    assert(v.attempted == 2 && v.failed == 1)
  }

  test("curation passes differing from the model or the warm-up pass fail") {
    val corpus = new Corpus("", "", 100, 50, qualityKept = 80, exactKept = 70,
      plantedNearDocs = 4, plantedNearVecs = 2)
    val good = ChainResult(80, 70, 6, 67, 16, 10, 3, 10, 2, 67)
    assert(CurationDedup.check(corpus, good, Some(good)).isEmpty)
    assert(CurationDedup.check(corpus, good.copy(exact = 71), Some(good)).nonEmpty)
    assert(CurationDedup.check(corpus, good.copy(minhashBands = 4), Some(good)).nonEmpty)
    assert(CurationDedup.check(corpus, good.copy(minhashKept = 70), None).nonEmpty)
  }
}
