package graft

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{AppendColumnsExec, DeserializeToObjectExec, MapElementsExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import graft.model._
import graft.sources.Sources

/** Parity of the column-level archive upsert (D14) with the documented
  * richer-wins rule, folded on the driver, over seeded random stores and
  * update batches; plus the one-aggregation plan shape. */
class UpsertSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val texts = (0 until 12).map(i => s"upsert parity document $i.")

  /** Names and the map each goes to. `dup` sits in two maps at once, so a
    * record's view count is its DISTINCT name count. */
  private val names = Seq("a", "b", "c", "d", "e", "dup")

  /** A record whose content is a function of (text, view-name set): two
    * records with the same id and names are equal, so every tie the rule
    * leaves open is between equal records. */
  private def rec(text: String, viewSet: Set[String]): Record = {
    val r = Record.fresh(text)
    val src = viewSet.toSeq.sorted.mkString("+")
    val span = Span(0, 1, src, 1.0, src, Map("n" -> viewSet.size.toString))
    def lab = Labeling(Seq(span), src, 1.0)
    def gview = GView(Seq(span), Seq(SpanRelation(0, 0, "self", 1.0)), src, 1.0)
    r.copy(
      labelViews = viewSet.collect { case n @ ("a" | "b" | "dup") => n -> lab }.toMap,
      clusterViews = viewSet.collect { case n @ "c" => n -> Clustering(Seq(lab), src, 1.0) }.toMap,
      parseViews = viewSet.collect { case n @ "d" =>
        n -> Forest(Seq(Tree(Seq(TreeNode("S", span, Map.empty, 1.0)), 0, 1.0)), src) }.toMap,
      views = viewSet.collect { case n @ ("e" | "dup") => n -> gview }.toMap)
  }

  private def randomRec(rnd: scala.util.Random): Record =
    rec(texts(rnd.nextInt(texts.size)), names.filter(_ => rnd.nextBoolean()).toSet)

  /** The documented rule, as a driver-side fold. */
  private def expected(store: Seq[Record], updates: Seq[Record]): Set[Record] = {
    def richer(a: Record, b: Record): Record = {
      val (na, nb) = (a.viewNames.size, b.viewNames.size)
      if (na != nb) { if (na > nb) a else b }
      else if (a.viewNames.toSeq.sorted.mkString(",") <=
        b.viewNames.toSeq.sorted.mkString(",")) a else b
    }
    val stored = store.map(r => r.identifier -> r).toMap
    val best = updates.groupBy(_.identifier).view.mapValues(_.reduce(richer))
    (stored ++ best.filter { case (id, u) =>
      stored.get(id).forall(s => u.viewNames.size > s.viewNames.size)
    }).values.toSet
  }

  private def ds(rs: Seq[Record]): Dataset[Record] = {
    val sparkSession = spark
    import sparkSession.implicits._
    spark.createDataset(rs).repartition(3)
  }

  private def checkParity(store: Seq[Record], updates: Seq[Record], what: String): Unit = {
    val got = Sources.upsert(ds(store), ds(updates)).collect()
    assert(got.length == got.map(_.identifier).distinct.length, s"$what: duplicate ids")
    assert(got.toSet == expected(store, updates), what)
  }

  test("seeded random stores and batches match the richer-wins fold") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      // a store is keyed by identifier: one record per id
      val store = rnd.shuffle(texts).take(rnd.nextInt(texts.size + 1))
        .map(t => rec(t, names.filter(_ => rnd.nextBoolean()).toSet))
      // batches repeat ids, tie in view count with different name sets,
      // and hold poorer, equal and richer versions of stored records
      val updates = Seq.fill(10 + rnd.nextInt(30))(randomRec(rnd))
      checkParity(store, updates, s"seed $seed")
    }
  }

  test("ties: equal-count updates pick the smaller name list; the store wins an equal update") {
    val t = texts.head
    val updates = Seq(rec(t, Set("b", "c")), rec(t, Set("a", "e")), rec(t, Set("c", "d")))
    checkParity(Nil, updates, "update-update tie")
    assert(Sources.upsert(ds(Nil), ds(updates)).collect().head.viewNames == Set("a", "e"))
    val stored = rec(t, Set("d", "e"))
    checkParity(Seq(stored), updates, "store-update tie")
    assert(Sources.upsert(ds(Seq(stored)), ds(updates)).collect().head == stored)
    // `dup` in two maps counts once: {a, dup} ties {b, c}, not beats it
    checkParity(Seq(rec(t, Set("b", "c"))), Seq(rec(t, Set("a", "dup"))), "distinct count")
  }

  test("poorer, equal and richer updates against one stored record") {
    val t = texts(1)
    val stored = rec(t, Set("a", "b"))
    for (u <- Seq(Set("a"), Set("c", "d"), Set("a", "b", "c")))
      checkParity(Seq(stored), Seq(rec(t, u)), s"update $u")
  }

  test("empty store and empty update set") {
    val rnd = new scala.util.Random(5)
    val some = Seq.fill(15)(randomRec(rnd))
    checkParity(Nil, some, "empty store")
    val store = some.groupBy(_.identifier).values.map(_.head).toSeq
    checkParity(store, Nil, "empty updates")
    checkParity(Nil, Nil, "both empty")
  }

  test("plan: no typed decode, exactly one shuffle") {
    val base = Files.createTempDirectory("graft-upsert-plan").toString
    val rnd = new scala.util.Random(9)
    Sources.writeRecords(ds(texts.map(rec(_, Set("a")))), s"$base/store")
    Sources.writeRecords(ds(Seq.fill(20)(randomRec(rnd))), s"$base/updates",
      idPrefixPartitions = true)
    val merged = Sources.upsert(Sources.readRecords(spark, s"$base/store"),
      Sources.readRecords(spark, s"$base/updates"))
    merged.collect()
    val plan = merged.queryExecution.executedPlan
    val typed = collect(plan) {
      case p @ (_: DeserializeToObjectExec | _: AppendColumnsExec | _: MapElementsExec) => p.nodeName
    }
    assert(typed.isEmpty, s"typed round-trip nodes $typed in:\n$plan")
    assert(collect(plan) { case e: Exchange => e }.size == 1, s"want one shuffle:\n$plan")
  }
}
