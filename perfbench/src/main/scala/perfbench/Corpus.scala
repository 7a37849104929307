package perfbench

import scala.collection.mutable

import graft.model.Identifier
import graft.operators.Annotators

/** Seeded input generator. A document is 2–5 sentences drawn with
  * replacement from a fixed sentence pool; the same seed always yields
  * byte-identical texts, hence identical content-addressed identifiers.
  *
  * The pool is the `text` column of the committed `documents` table, split
  * with the tokenizer's own sentence pattern and sorted, so it does not
  * depend on the order in which parquet hands the rows back. */
object Corpus {
  val MinSentences = 2
  val MaxSentences = 5
  /** Share of the incremental input replaced by documents the store lacks. */
  val NewFrac = 0.05
  /** Share of the stored records whose `chunk` view carries an older source. */
  val StaleFrac = 0.05

  def pool(texts: Seq[String]): IndexedSeq[String] =
    texts.iterator
      .flatMap(t => Annotators.SentencePattern.findAllIn(t).map(_.trim))
      .filter(_.nonEmpty)
      .map(s => if (".!?".contains(s.last)) s else s + ".")
      .toVector.distinct.sorted

  /** `n` distinct documents, none of them in `exclude`. */
  def documents(pool: IndexedSeq[String], n: Int, seed: Long,
      exclude: collection.Set[String] = Set.empty): Vector[String] = {
    require(pool.nonEmpty, "empty sentence pool")
    val rng = new java.util.SplittableRandom(seed)
    val seen = mutable.HashSet.empty[String]
    val out = Vector.newBuilder[String]
    var made = 0
    while (made < n) {
      val k = MinSentences + rng.nextInt(MaxSentences - MinSentences + 1)
      val text = Iterator.fill(k)(pool(rng.nextInt(pool.size))).mkString(" ")
      if (!exclude.contains(text) && seen.add(text)) { out += text; made += 1 }
    }
    out.result()
  }

  def ids(texts: Seq[String]): Vector[String] =
    texts.iterator.map(Identifier.id(_, false)).toVector

  /** The incremental workload's inputs: the stored corpus `base`, the pass
    * input (`base` with a `NewFrac` share replaced by new documents) and the
    * identifiers of the kept documents whose stored `chunk` view is made
    * stale. */
  final case class Incremental(base: Vector[String], input: Vector[String],
      replaced: Int, staleIds: Set[String])

  def incremental(pool: IndexedSeq[String], n: Int, seed: Long): Incremental = {
    val base = documents(pool, n, seed)
    val order = shuffled(n, seed ^ 0x5DEECE66DL)
    val nNew = math.round(n * NewFrac).toInt
    val nStale = math.round(n * StaleFrac).toInt
    val fresh = documents(pool, nNew, seed + 0x9E3779B97F4A7C15L, base.toSet)
    val input = base.toArray
    order.take(nNew).zip(fresh).foreach { case (i, t) => input(i) = t }
    val stale = order.slice(nNew, nNew + nStale).map(i => Identifier.id(base(i), false)).toSet
    Incremental(base, input.toVector, nNew, stale)
  }

  private def shuffled(n: Int, seed: Long): Vector[Int] = {
    val rng = new java.util.SplittableRandom(seed)
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }
}
