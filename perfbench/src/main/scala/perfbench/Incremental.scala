package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.Record
import graft.plans.{AnnotationEngine, Pipeline, Planner}
import graft.sources.Sources

/** The incremental annotation workload: `Pipeline.run` to VERB_SRL against
  * a store built by the program's own cold pass, with a share of the input
  * new and a share of the stored `chunk` views stale. The store is restored
  * from a snapshot before every pass. */
final class Incremental(spark: SparkSession, work: Path, pool: IndexedSeq[String],
    seed: Long, docs: Int) {
  import Incremental._
  import spark.implicits._

  private val engine = AnnotationEngine.default
  private val pipeline = new Pipeline(engine)
  private val Target = DocChecks.Target

  private def dir(name: String): Path = work.resolve(name)
  private def p(path: Path): String = path.toString

  /** Input texts, the live store and the snapshot every pass starts from. */
  final case class Inputs(texts: Vector[String], in: Path, store: Path, snapshot: Path) {
    lazy val ids: Vector[String] = Corpus.ids(texts)
    lazy val textBytes: Long = texts.iterator.map(_.getBytes("UTF-8").length.toLong).sum
  }

  private def stage(texts: Seq[String], in: Path): Unit = {
    Files.delete(in)
    Sources.writeRecords(spark.createDataset(texts.map(Record.fresh(_))).repartition(InputFiles), p(in))
  }

  /** Stage the inputs under `tag`: build the store with a cold pass over
    * the base corpus, age the stale share of it, snapshot it, and stage the
    * pass input. */
  def setUp(tag: String, n: Int = docs, s: Long = seed): Inputs = {
    val in = dir(s"$tag-in")
    val store = dir(s"$tag-store")
    val c = Corpus.incremental(pool, n, s)
    stage(c.base, in)
    Files.delete(store)
    pipeline.run(spark, p(in), Target, p(dir(s"$tag-out0")), Some(p(store)))
    Files.delete(dir(s"$tag-out0"))
    ageChunkViews(store, c.staleIds)
    stage(c.input, in)
    val snapshot = dir(s"$tag-snapshot")
    Files.copy(store, snapshot)
    Inputs(c.input, in, store, snapshot)
  }

  /** Give the `chunk` view of the `stale` records an older source string,
    * rewriting the store through the program's own swap. */
  private def ageChunkViews(store: Path, stale: Set[String]): Unit = {
    val staleB = spark.sparkContext.broadcast(stale)
    val aged = Sources.readRecords(spark, p(store)).map { r =>
      if (!staleB.value.contains(r.identifier)) r
      else r.copy(labelViews = r.labelViews.updatedWith("chunk")(
        _.map(l => l.copy(source = OlderChunkSource))))
    }
    val fs = new org.apache.hadoop.fs.Path(p(store)).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(p(store))
    Sources.swapInPlace(fs, target, new org.apache.hadoop.fs.Path(p(store) + "_tmp"),
      new org.apache.hadoop.fs.Path(p(store) + "_bak"))(Sources.writeRecords(aged, _))
    staleB.destroy()
  }

  /** Restore the store from the snapshot and remove any previous output. */
  def reset(i: Inputs, out: Path): Unit = {
    Files.delete(out)
    Files.delete(out.resolveSibling("old_jobs"))
    Files.copy(i.snapshot, i.store)
  }

  /** One timed `Pipeline.run`; returns its wall time in seconds. */
  def pass(i: Inputs, out: Path): Double = {
    reset(i, out)
    val t0 = System.nanoTime()
    pipeline.run(spark, p(i.in), Target, p(out), Some(p(i.store)))
    (System.nanoTime() - t0) / 1e9
  }

  /** Bytes and files the pass left under the output and store directories. */
  def written(i: Inputs, out: Path): (Long, Int) = {
    val files = Files.regularFiles(out) ++ Files.regularFiles(i.store)
    (files.map(java.nio.file.Files.size).sum, files.size)
  }

  /** The records a pass starts from: the ingested input looked up in
    * `store`, as `Pipeline.run` does. */
  def lookedUp(i: Inputs, store: Path): Dataset[Record] =
    Sources.lookup(pipeline.ingest(spark, p(i.in)), Sources.readRecords(spark, p(store)))

  def check(i: Inputs, out: Path): DocChecks.Outcome = {
    val plan = engine.planForCorpus(lookedUp(i, i.snapshot), Target, None)
    System.err.println(s"[perfbench] the pass's sampled plan: ${plan.mkString("[", ", ", "]")}")
    DocChecks.run(spark, i.ids, Sources.readRecords(spark, p(out)), lookedUp(i, i.snapshot),
      seed, CheckSample)
  }

  // ------------------------------------------------------------------
  // Traced run
  // ------------------------------------------------------------------

  private def noop(ds: Dataset[_]): Unit =
    ds.write.format("noop").mode("overwrite").save()

  /** `Pipeline.run`'s steps, composed from the public calls in the same
    * order, one span per step. Returns the planned job count. */
  def composed(t: Tracer, i: Inputs, out: Path): Int = {
    reset(i, out)
    val store = p(i.store)
    var planned = 0
    t.span("pipeline.run") {
      val (input, plan) = t.span("plans.plan_probe") {
        val fresh = pipeline.ingest(spark, p(i.in))
        val input =
          if (Sources.containsSerializedRecords(spark, store))
            Sources.lookup(fresh, Sources.readRecords(spark, store))
          else fresh
        (input, engine.planForCorpus(input, Target, None))
      }
      planned = plan.size
      t.span("sources.output_write") {
        val annotated =
          if (plan.isEmpty) input
          else engine.annotate(input, Target, assumeFresh = Planner.assertedPresent(Target, None))
        Sources.rotateOldOutput(spark, p(out))
        Sources.writeRecords(annotated, p(out), idPrefixPartitions = true)
      }
      t.span("sources.store_commit") {
        val result = Sources.readRecords(spark, p(out))
        val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val target = new org.apache.hadoop.fs.Path(store)
        val tmp = new org.apache.hadoop.fs.Path(store + "_tmp")
        val bak = new org.apache.hadoop.fs.Path(store + "_bak")
        Sources.recoverSwap(fs, target, tmp, bak)
        val merged =
          if (Sources.containsSerializedRecords(spark, store))
            Sources.upsert(Sources.readRecords(spark, store), result)
          else result
        Sources.swapInPlace(fs, target, tmp, bak)(Sources.writeRecords(merged, _))
      }
    }
    planned
  }

  /** Decomposition passes into the noop sink, from the snapshot (the
    * output of the composed pass must exist). */
  def decomposed(t: Tracer, i: Inputs, out: Path): Unit = {
    t.span("sources.scan")(noop(pipeline.ingest(spark, p(i.in))))
    t.span("sources.lookup")(noop(lookedUp(i, i.snapshot)))
    t.span("plans.annotate_pass")(noop(engine.annotate(lookedUp(i, i.snapshot), Target,
      assumeFresh = Planner.assertedPresent(Target, None))))
    t.span("model.output_read")(noop(Sources.readRecords(spark, p(out))))
    t.span("model.output_read_typed") {
      val ds = Sources.readRecords(spark, p(out))
      noop(ds.map(identity)(ds.encoder))
    }
  }

  /** Views whose source differs between the looked-up input and the output,
    * over docs × chain length. */
  def viewsRecomputedFrac(i: Inputs, out: Path): Double = {
    val names = DocChecks.chain.map(_.viewName)
    val before = lookedUp(i, i.snapshot)
      .map(r => (r.identifier, names.map(r.viewSource(_).getOrElse(""))))
      .toDF("id", "before")
    val after = Sources.readRecords(spark, p(out))
      .map(r => (r.identifier, names.map(r.viewSource(_).getOrElse(""))))
      .toDF("id", "after")
    val changed = before.join(after, "id").as[(String, Seq[String], Seq[String])]
      .map { case (_, b, a) => b.zip(a).count { case (x, y) => x != y }.toLong }
      .reduce(_ + _)
    changed.toDouble / (i.texts.size.toLong * names.size)
  }
}

object Incremental {
  /** Files the staged input is written as. */
  val InputFiles = 8
  /** Documents given the force-recompute comparison. */
  val CheckSample = 64
  val OlderChunkSource = "graft-chunk-0.9"
}
