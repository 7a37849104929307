package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The catalog mix: every 24th query of the bench headline list, run in
  * the oracle-checked mode (`graft.bench.noSort` unset), one at a time.
  * Each call builds the query and collects its result; the seed only fixes
  * the order of the calls. Results are checked against committed row counts
  * and content hashes outside the timed calls. */
final class Catalog(spark: SparkSession, dataDir: String, seed: Long,
    expected: Map[String, Catalog.Expected]) {
  import Catalog._

  require(!graft.Tables.benchMode, "the catalog mix runs in the oracle-checked mode")

  val order: Vector[String] = {
    val rng = new java.util.SplittableRandom(seed)
    val a = Mix.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  /** Run every query once; `None` in `result` marks a query that threw. */
  def pass(tracer: Option[Tracer]): Seq[Call] = order.map { q =>
    def span[A](name: String)(f: => A): A = tracer.fold(f)(_.span(name)(f))
    try {
      val t0 = System.nanoTime()
      val df = span("queries.construct")(SparkEntry.queries(q)(spark, dataDir))
      val t1 = System.nanoTime()
      val rows = span("queries.execute")(df.collect())
      val t2 = System.nanoTime()
      Call(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, Some(Expected(rows.length.toLong, ResultHash.of(rows))))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed: $e")
        Call(q, 0, 0, None)
    }
  }

  def failures(calls: Seq[Call]): Seq[String] = calls.collect {
    case c if c.result.isEmpty || !expected.get(c.name).contains(c.result.get) =>
      System.err.println(s"[perfbench] ${c.name}: got ${c.result}, expected ${expected.get(c.name)}")
      c.name
  }
}

object Catalog {
  final case class Expected(rows: Long, hash: String)
  final case class Call(name: String, constructS: Double, executeS: Double, result: Option[Expected]) {
    def seconds: Double = constructS + executeS
  }

  val Mix: Seq[String] = graft.Bench.headline.zipWithIndex.collect { case (q, i) if i % 24 == 0 => q }

  /** Tab-separated `name rows hash oracle` lines; `#` starts a comment. */
  def readExpected(path: java.nio.file.Path): Map[String, Expected] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t"))
      .map(f => f(0) -> Expected(f(1).toLong, f(2)))
      .toMap

  def writeExpected(path: java.nio.file.Path, calls: Seq[Call]): Unit = {
    val oracle = SparkEntry.oracleSql.keySet
    val lines = "# name\trows\thash\thas_duckdb_oracle" +: calls.sortBy(_.name).map { c =>
      val e = c.result.getOrElse(sys.error(s"${c.name} failed; nothing to record"))
      s"${c.name}\t${e.rows}\t${e.hash}\t${if (oracle(c.name)) "yes" else "no"}"
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
