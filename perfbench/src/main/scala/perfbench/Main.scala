package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --data <dir> --expected <file> --cores <n>`.
  * Prints one JSON result line last on stdout; everything else goes to
  * stderr. Normally started by `perfbench/run.py`, which builds this
  * harness first. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, data: Path, expected: Path, cores: Int, recordExpected: Option[Path])

  final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]) {
    def json: String = Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.metrics(metrics)))
  }

  /** Documents in the incremental corpus, and in the warm-up corpus that is
    * set up and passed once first. */
  val Docs = 500
  val WarmDocs = 200
  /** Set-up repetitions per run (each builds a store with a cold pass). */
  val SetupReps = 2
  /** Timed passes per run, at least; more while time remains. */
  val IncrementalMinPasses = 2
  val CatalogMinPasses = 3
  val MicroDocs = 300
  val MicroRounds = 7
  /** Composed passes in a traced run; their per-span figures are averaged. */
  val TracedPasses = 2

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("data")).toAbsolutePath,
      Paths.get(need("expected")).toAbsolutePath, need("cores").toInt,
      kv.get("record-expected").map(Paths.get(_).toAbsolutePath))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val result = a.workload match {
        case "annotate_incremental" => incremental(spark, a, sessionS)
        case "catalog_sf0.01" => catalog(spark, a, sessionS)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      println(result.json)
    } finally spark.stop()
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `f` until `seconds` have passed, at least `min` times. */
  private def repeatFor[A](seconds: Double, min: Int = 1)(f: => A): Seq[A] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[A]
    var n = 0
    while (n < min || (System.nanoTime() - t0) / 1e9 < seconds) { out += f; n += 1 }
    out.result()
  }

  private def pool(spark: SparkSession, a: Args): IndexedSeq[String] = {
    import spark.implicits._
    Corpus.pool(spark.read.parquet(a.data.resolve("documents.parquet").toString)
      .select("text").as[String].collect().toSeq)
  }

  private def rss(): Metric = Metric("jvm.peak_rss_mb", Files.peakRssMb(), "MB")

  // ------------------------------------------------------------------

  def incremental(spark: SparkSession, a: Args, sessionS: Double): Result = {
    val (sentences, poolS) = timed(pool(spark, a))
    val bench = new Incremental(spark, a.work, sentences, a.seed, Docs)
    // warm-up: a small corpus from another seed, set up and passed once
    val (_, warmS) = timed {
      val w = bench.setUp("warm", WarmDocs, a.seed + 7919)
      bench.pass(w, a.work.resolve("warm-out"))
    }
    // set-up, repeated; the last repetition's inputs are the ones measured
    val reps = (1 to (if (a.trace) 1 else SetupReps)).map(r => timed(bench.setUp(s"setup$r")))
    val inputs = reps.last._1
    val setupS = sessionS + poolS + Stats.median(reps.map(_._2)) + warmS
    System.err.println(f"[perfbench] set-up: session $sessionS%.2f s, pool $poolS%.2f s, " +
      s"inputs ${reps.map(r => f"${r._2}%.2f").mkString("/")} s, " + f"warm-up $warmS%.2f s")
    val out = a.work.resolve("out")
    val walls = repeatFor(a.seconds, IncrementalMinPasses)(bench.pass(inputs, out))
    val (bytes, _) = bench.written(inputs, out)
    val untraced = Stats.median(walls)
    System.err.println(s"[perfbench] passes: ${walls.map(w => f"$w%.2f").mkString(" ")} s")

    if (!a.trace) {
      val outcome = bench.check(inputs, out)
      report(outcome)
      Result(outcome.correct, outcome.attempted, outcome.failed, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("wall_s", untraced, "s"),
        Metric("ops_per_s", inputs.texts.size / untraced, "1/s"),
        Metric("call_p50_s", untraced, "s"),
        Metric("call_p75_s", Stats.quantile(walls, 0.75), "s"),
        Metric("write_amp", bytes.toDouble / inputs.textBytes, "ratio")))
    } else {
      val heapMb = Files.liveHeapMb()
      val tracer = new Tracer(spark, s"${a.workload}-${a.seed}")
      val planned = (1 to TracedPasses).map(_ => bench.composed(tracer, inputs, out)).last
      val outcome = bench.check(inputs, out)
      report(outcome)
      val recomputed = bench.viewsRecomputedFrac(inputs, out)
      val storeDocs = spark.read.parquet(inputs.store.toString).count()
      val storeBytes = Files.bytes(inputs.store)
      val (_, composedFiles) = bench.written(inputs, out)
      bench.decomposed(tracer, inputs, out)
      val micro = Micro.run(Micro.sample(inputs.texts, MicroDocs, a.seed), MicroRounds)
      tracer.write(a.work.resolveSibling("traces").resolve(s"${a.workload}.jsonl"))

      def per(name: String) = tracer.layer(name) * (1.0 / tracer.all.count(_.name == name))
      val probe = per("plans.plan_probe")
      val write = per("sources.output_write")
      val commit = per("sources.store_commit")
      val lookup = per("sources.lookup")
      val annotatePass = per("plans.annotate_pass")
      val roundtrip = per("model.output_read_typed") - per("model.output_read")
      val tracedWall = per("pipeline.run").wallS
      val layers = Seq(
        "plans.plan_probe" -> probe, "sources.output_write" -> write,
        "sources.store_commit" -> commit, "sources.scan" -> per("sources.scan"),
        "sources.lookup" -> lookup, "plans.annotate_pass" -> annotatePass,
        "model.record_roundtrip" -> roundtrip,
        "plans.operator_encode" -> (annotatePass - lookup),
        "sources.write_self" -> (write - annotatePass))
      val counts = Seq(
        Metric("plans.planned_jobs", planned.toDouble, "count"),
        Metric("plans.views_recomputed_frac", recomputed, "ratio"),
        Metric("plans.stale_views_left", outcome.staleViewsLeft.toDouble, "count"),
        Metric("sources.files_written", composedFiles.toDouble, "count"),
        Metric("sources.store_bytes_per_doc", storeBytes.toDouble / storeDocs, "bytes"),
        Metric("checks.failed_frac", outcome.failedFrac, "ratio"),
        Metric("trace.untraced_wall_s", untraced, "s"),
        Metric("trace.traced_wall_s", tracedWall, "s"),
        Metric("trace.overhead_s", tracedWall - untraced, "s"),
        Metric("jvm.live_heap_mb", heapMb, "MB"), rss())
      Result(outcome.correct, outcome.attempted, outcome.failed,
        Layers.fill(layers.flatMap { case (n, l) => l.metrics(n) } ++ counts ++ micro))
    }
  }

  private def report(o: DocChecks.Outcome): Unit =
    System.err.println(s"[perfbench] checked ${o.attempted} documents: failed ${o.failed}, " +
      s"unexpected ${o.unexpected}, stale views left ${o.staleViewsLeft}, by reason ${o.reasons}")

  // ------------------------------------------------------------------

  def catalog(spark: SparkSession, a: Args, sessionS: Double): Result = {
    val expected = if (a.recordExpected.isDefined) Map.empty[String, Catalog.Expected]
      else Catalog.readExpected(a.expected)
    val dataDir = a.data.toString
    val bench = new Catalog(spark, dataDir, a.seed, expected)
    val shuffle = new SpanListener
    spark.sparkContext.addSparkListener(shuffle)
    val (warm, warmS) = timed(bench.pass(None))
    a.recordExpected.foreach { p =>
      Catalog.writeExpected(p, warm)
      System.err.println(s"[perfbench] wrote $p")
    }
    val setupS = sessionS + warmS
    val tableBytes = Files.bytes(a.data)
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    val shuffle0 = shuffle.total.shuffleBytes
    val passes = repeatFor(a.seconds, CatalogMinPasses)(bench.pass(None))
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    val shufflePerPass = (shuffle.total.shuffleBytes - shuffle0).toDouble / passes.size
    val failed = passes.map(bench.failures(_).size).sum
    val attempted = passes.map(_.size).sum
    val walls = passes.map(_.map(_.seconds).sum)
    val untraced = Stats.median(walls)
    val perQuery = bench.order.map(q => Stats.median(passes.map(_.find(_.name == q).get.seconds)))
    System.err.println(s"[perfbench] passes: ${walls.map(w => f"$w%.2f").mkString(" ")} s; per query: " +
      bench.order.zip(perQuery).map { case (q, s) => f"$q=$s%.3f" }.mkString(" "))

    if (!a.trace) Result(failed == 0, attempted, failed, Seq(
      Metric("setup_s", setupS, "s"),
      Metric("wall_s", untraced, "s"),
      Metric("ops_per_s", bench.order.size / untraced, "1/s"),
      Metric("call_p50_s", Stats.quantile(perQuery, 0.5), "s"),
      Metric("call_p75_s", Stats.quantile(perQuery, 0.75), "s"),
      Metric("write_amp", shufflePerPass / tableBytes, "ratio")))
    else {
      val heapMb = Files.liveHeapMb()
      val tracer = new Tracer(spark, s"${a.workload}-${a.seed}")
      val traced = bench.pass(Some(tracer))
      val tracedWall = traced.map(_.seconds).sum
      val tracedFailed = bench.failures(traced).size
      val construct = tracer.layer("queries.construct")
      val execute = tracer.layer("queries.execute")
      val micro = Micro.run(Corpus.documents(pool(spark, a), MicroDocs, a.seed), MicroRounds)
      tracer.write(a.work.resolveSibling("traces").resolve(s"${a.workload}.jsonl"))
      val counts = Seq(
        Metric("queries.plan_s", tracer.phases.planS, "s"),
        Metric("queries.idle_core_frac",
          1 - (construct.taskS + execute.taskS) / (tracedWall * a.cores), "ratio"),
        Metric("checks.failed_frac", (failed + tracedFailed).toDouble / (attempted + traced.size), "ratio"),
        Metric("trace.untraced_wall_s", untraced, "s"),
        Metric("trace.traced_wall_s", tracedWall, "s"),
        Metric("trace.overhead_s", tracedWall - untraced, "s"),
        Metric("jvm.live_heap_mb", heapMb, "MB"), rss())
      Result(failed + tracedFailed == 0, attempted + traced.size, failed + tracedFailed,
        Layers.fill(construct.metrics("queries.construct") ++ execute.metrics("queries.execute") ++
          counts ++ micro))
    }
  }
}
