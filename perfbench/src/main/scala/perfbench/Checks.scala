package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.{Invariants, Record}
import graft.operators.{AnnotationMode, Annotators}
import graft.plans.Planner

/** Output checks for the annotation workloads, run after the timed passes.
  *
  * A document fails when its output record is missing, violates
  * `Invariants`, lacks a view of the target chain, carries a view whose
  * source is not the registered operator's, or (on a seeded sample) differs
  * from `Planner.provide(..., force = true)` applied to it.
  *
  * A failed document whose output equals the record the pass looked up —
  * the pass left it as it was — is the planner's known sampled-presence
  * defect: it is counted in `failed`. Any other failure (a missing or extra
  * record, or output that the pass changed and still got wrong) makes the
  * run incorrect. */
object DocChecks {
  val Target: AnnotationMode = AnnotationMode.VERB_SRL
  val chain: Seq[AnnotationMode] = Planner.chain(Target)
  private val registry = Annotators.registry
  private val sources: Map[String, String] =
    registry.values.map(op => op.mode.viewName -> op.source).toMap

  val Missing = 1
  val Invalid = 2
  val LacksView = 4
  val ForeignSource = 8
  val DiffersFromForce = 16
  private val reasonNames = Seq(Missing -> "missing", Invalid -> "invariants",
    LacksView -> "lacks_chain_view", ForeignSource -> "foreign_source",
    DiffersFromForce -> "differs_from_force")

  final case class Outcome(attempted: Long, failed: Long, unexpected: Long,
      reasons: Map[String, Long], staleViewsLeft: Long) {
    def correct: Boolean = unexpected == 0
    def failedFrac: Double = failed.toDouble / attempted
  }

  /** Bits of every per-record check but the sampled one, and the number of
    * chain views present with a source other than the registered one. */
  def inspect(r: Record): (Int, Int) = {
    var bits = 0
    if (Invariants.violations(r).nonEmpty) bits |= Invalid
    if (chain.exists(m => r.viewSource(m.viewName).isEmpty)) bits |= LacksView
    if (r.viewNames.exists(v => sources.get(v).exists(s => !r.viewSource(v).contains(s))))
      bits |= ForeignSource
    val stale = chain.count(m => r.viewSource(m.viewName).exists(_ != sources(m.viewName)))
    (bits, stale)
  }

  def differsFromForce(r: Record): Boolean =
    Planner.provide(registry, chain, force = true)(r) != r

  /** `expectedIds`: identifiers of the pass input. `lookedUp`: the records
    * the pass started from. `sample`: how many documents get the
    * force-recompute comparison, chosen by `seed`. */
  def run(spark: SparkSession, expectedIds: Seq[String], output: Dataset[Record],
      lookedUp: Dataset[Record], seed: Long, sample: Int): Outcome = {
    import spark.implicits._
    val expected = expectedIds.toSet
    val outIds = output.select("identifier").as[String].collect()
    val missing = expected -- outIds
    val extra = outIds.length - outIds.distinct.count(expected.contains) // foreign or repeated

    val flagged = output.mapPartitions { it =>
      it.map { r => val (b, s) = inspect(r); (r.identifier, b, s) }
        .filter { case (_, b, s) => b != 0 || s != 0 }
    }.collect()
    val staleLeft = flagged.map(_._3.toLong).sum
    val bits = scala.collection.mutable.Map.empty[String, Int]
    flagged.filter(_._2 != 0).foreach { case (id, b, _) => bits(id) = b }
    missing.foreach(id => bits(id) = bits.getOrElse(id, 0) | Missing)

    val sampled = expectedIds.sortBy(id => (hash64(s"$seed:$id"), id)).take(sample)
    output.filter(col("identifier").isin(sampled: _*)).collect()
      .filter(differsFromForce)
      .foreach(r => bits(r.identifier) = bits.getOrElse(r.identifier, 0) | DiffersFromForce)

    // a failed document the pass left exactly as it looked it up
    val failedIds = bits.keys.toSeq
    val before = lookedUp.filter(col("identifier").isin(failedIds: _*)).collect()
      .map(r => r.identifier -> r).toMap
    val untouched = output.filter(col("identifier").isin(failedIds: _*)).collect()
      .count(r => before.get(r.identifier).contains(r))
    val unexpected = (bits.size - untouched).toLong + extra

    val reasons = reasonNames.map { case (bit, name) =>
      name -> bits.values.count(b => (b & bit) != 0).toLong
    }.toMap
    Outcome(expected.size.toLong, bits.size.toLong, unexpected, reasons, staleLeft)
  }

  def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong
  }
}

/** Order-independent content hash of a query result: the sum of per-row
  * hashes of a canonical rendering. Floating-point values are rendered to
  * nine significant digits, so summation-order noise in the last bits does
  * not change the hash. */
object ResultHash {
  def of(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += DocChecks.hash64(render(r)))
    f"$sum%016x"
  }

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => fp(d)
    case f: Float => fp(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => Json.str(s)
    case x => x.toString
  }

  private def fp(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString
}
