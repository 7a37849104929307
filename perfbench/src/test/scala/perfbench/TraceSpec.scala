package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, startS: Double, endS: Double) =
    Span(id, s"s$id", parent, "test", (startS * 1e9).toLong, (endS * 1e9).toLong)

  // root [0,10] -> a [1,5] -> c [2,3]
  //             -> b [6,9]
  private val spans = Seq(span(1, 0, 0, 10), span(2, 1, 1, 5), span(3, 2, 2, 3), span(4, 1, 6, 9))
  private val own: Map[Int, Layer] = Map(
    1 -> Layer(0, 1, 2, 0.5, 0.1, 100, 0),
    2 -> Layer(0, 2, 8, 2.0, 0.2, 1000, 10),
    3 -> Layer(0, 5, 20, 1.0, 0.0, 0, 0),
    4 -> Layer(0, 1, 4, 3.0, 0.3, 50, 0))

  test("inclusive cost is own plus every descendant's; wall is measured") {
    val inc = SpanTree.inclusive(spans, own)
    assert(inc(1).jobs == 9 && inc(1).tasks == 34 && inc(1).shuffleBytes == 1150)
    assert(inc(1).wallS == 10.0)
    assert(inc(2).jobs == 7 && inc(2).spillBytes == 10)
    assert(math.abs(inc(2).taskS - 3.0) < 1e-12)
    assert(inc(3) == Layer(1.0, 5, 20, 1.0, 0.0, 0, 0))
  }

  test("self cost is inclusive minus the children's inclusive costs") {
    val self = SpanTree.self(spans, own)
    assert(math.abs(self(1).wallS - 3.0) < 1e-9) // 10 - 4 - 3
    assert(math.abs(self(2).wallS - 3.0) < 1e-9) // 4 - 1
    assert(self(1).jobs == 1 && self(2).jobs == 2 && self(3).jobs == 5)
    // self costs add back up to the root's inclusive cost
    val sum = self.values.foldLeft(Layer.zero)(_ + _)
    val root = SpanTree.inclusive(spans, own)(1)
    assert(sum.jobs == root.jobs && sum.tasks == root.tasks &&
      math.abs(sum.wallS - root.wallS) < 1e-9)
  }

  test("decomposition self times subtract one pass from the pass it extends") {
    val lookup = Layer(1.2, 6, 12, 1.1, 0.05, 0, 0)
    val annotatePass = Layer(2.0, 6, 12, 3.2, 0.25, 0, 0)
    val operators = annotatePass - lookup
    assert(math.abs(operators.wallS - 0.8) < 1e-9 && operators.jobs == 0)
    assert((annotatePass * 0.5).tasks == 6)
  }

  test("quantiles interpolate between closest ranks") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.75) == 4.0)
  }

  test("result hashes ignore row order and last-bit floating noise") {
    import org.apache.spark.sql.Row
    val a = Array(Row("x", 1L, 0.1 + 0.2), Row("y", 2L, 1.0))
    val b = Array(Row("y", 2L, 1.0), Row("x", 1L, 0.3))
    assert(ResultHash.of(a) == ResultHash.of(b))
    assert(ResultHash.of(a) != ResultHash.of(Array(Row("x", 1L, 0.3))))
  }
}
