package perfbench

import graft.model.{Identifier, Record}
import graft.operators.Annotators
import graft.plans.Planner

/** Single-thread cost of the per-document code, outside Spark: each chain
  * operator on records that already carry its dependencies, the whole
  * chain through `Planner.provide`, and the content-addressed identifier.
  * Each figure is the median of `rounds` timed rounds after one untimed. */
object Micro {
  def run(texts: Seq[String], rounds: Int): Seq[Metric] = {
    val n = texts.size
    def nsPerDoc(f: => Unit): Double = {
      f
      Stats.median((1 to rounds).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0).toDouble / n
      })
    }
    var sink = 0L
    val registry = Annotators.registry
    val fresh = texts.map(Record.fresh(_)).toVector
    var input = fresh
    val perOp = DocChecks.chain.flatMap { m =>
      val op = registry(m)
      val before = input
      val ns = nsPerDoc(sink += before.map(op.apply).size)
      input = before.map(op.apply)
      val spans = input.map(spanCount(_, m.viewName)).sum.toDouble / n
      Seq(Metric(s"operators.${m.name}.ns_per_doc", ns, "ns"),
        Metric(s"operators.${m.name}.spans_per_doc", spans, "count"))
    }
    val provide = nsPerDoc(
      sink += fresh.map(Planner.provide(registry, DocChecks.chain, force = false)).size)
    val ident = nsPerDoc(sink += texts.map(Identifier.id(_, false).length).sum)
    require(sink > 0)
    perOp ++ Seq(Metric("plans.provide_ns_per_doc", provide, "ns"),
      Metric("model.identifier_ns_per_doc", ident, "ns"))
  }

  def spanCount(r: Record, view: String): Int =
    r.labelViews.get(view).map(_.labels.size)
      .orElse(r.parseViews.get(view).map(_.trees.map(_.nodes.size).sum))
      .orElse(r.clusterViews.get(view).map(_.clusters.map(_.labels.size).sum))
      .orElse(r.views.get(view).map(_.spans.size))
      .getOrElse(0)

  /** `n` of `texts`, chosen by `seed`, in their original order. */
  def sample(texts: Seq[String], n: Int, seed: Long): Seq[String] =
    texts.zipWithIndex.sortBy { case (t, i) => (DocChecks.hash64(s"$seed:$t"), i) }
      .take(n).sortBy(_._2).map(_._1)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
