package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private val pool = Corpus.pool(Seq(
    "alpha beta gamma. delta epsilon!", "zeta eta theta", "iota kappa? lambda mu nu.",
    "xi omicron pi", "rho sigma tau. upsilon phi chi psi omega"))

  test("the pool is split on the sentence pattern, terminated and sorted") {
    assert(pool == pool.sorted)
    assert(pool.contains("alpha beta gamma."))
    assert(pool.contains("zeta eta theta."))
    assert(pool.forall(s => ".!?".contains(s.last)))
  }

  test("the same seed gives byte-identical texts and identical identifiers") {
    val a = Corpus.documents(pool, 200, 42L)
    val b = Corpus.documents(pool, 200, 42L)
    assert(a.map(_.getBytes("UTF-8").toSeq) == b.map(_.getBytes("UTF-8").toSeq))
    assert(Corpus.ids(a) == Corpus.ids(b))
    assert(Corpus.documents(pool, 200, 43L) != a)
  }

  test("documents are distinct and have 2 to 5 pool sentences") {
    val docs = Corpus.documents(pool, 300, 7L)
    assert(docs.distinct.size == 300)
    // every pool sentence ends with a terminator and has no other, so the
    // terminators count the sentences
    assert(docs.forall { d =>
      val n = d.count(".!?".contains(_))
      n >= Corpus.MinSentences && n <= Corpus.MaxSentences
    })
  }

  test("incremental inputs: new share replaced, stale share among the kept documents") {
    val c = Corpus.incremental(pool, 400, 11L)
    assert(c == Corpus.incremental(pool, 400, 11L))
    assert(c.input.size == 400 && c.input.distinct.size == 400)
    assert(c.replaced == 20)
    assert(c.input.count(t => !c.base.contains(t)) == 20)
    assert(c.staleIds.size == 20)
    val kept = Corpus.ids(c.input.filter(c.base.contains)).toSet
    assert(c.staleIds.subsetOf(kept))
  }
}
