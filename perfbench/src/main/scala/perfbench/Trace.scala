package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one layer cost: wall time of the call plus the Spark work it
  * caused. Subtraction gives self times (a span minus its children, or one
  * decomposition pass minus the pass it extends). */
final case class Layer(wallS: Double, jobs: Double, tasks: Double, taskS: Double,
    gcS: Double, shuffleBytes: Double, spillBytes: Double) {
  private def zip(o: Layer)(f: (Double, Double) => Double): Layer =
    Layer(f(wallS, o.wallS), f(jobs, o.jobs), f(tasks, o.tasks), f(taskS, o.taskS),
      f(gcS, o.gcS), f(shuffleBytes, o.shuffleBytes), f(spillBytes, o.spillBytes))
  def +(o: Layer): Layer = zip(o)(_ + _)
  def -(o: Layer): Layer = zip(o)(_ - _)
  def *(k: Double): Layer = Layer(wallS * k, jobs * k, tasks * k, taskS * k, gcS * k,
    shuffleBytes * k, spillBytes * k)

  def metrics(prefix: String): Seq[Metric] = Seq(
    Metric(s"$prefix.wall_s", wallS, "s"),
    Metric(s"$prefix.jobs", jobs, "count"),
    Metric(s"$prefix.tasks", tasks, "count"),
    Metric(s"$prefix.task_s", taskS, "s"),
    Metric(s"$prefix.gc_s", gcS, "s"),
    Metric(s"$prefix.shuffle_bytes", shuffleBytes, "bytes"),
    Metric(s"$prefix.spill_bytes", spillBytes, "bytes"))
}

object Layer {
  val zero: Layer = Layer(0, 0, 0, 0, 0, 0, 0)
}

/** One timed region. `parent` is 0 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Self-time arithmetic over a span tree: a span's inclusive cost is its own
  * counters plus every descendant's; its self cost is the inclusive cost
  * minus its children's inclusive costs (wall time is measured, so it is
  * already inclusive). */
object SpanTree {
  def inclusive(spans: Seq[Span], own: Int => Layer): Map[Int, Layer] = {
    val children = spans.groupBy(_.parent)
    val memo = mutable.Map.empty[Int, Layer]
    def go(s: Span): Layer = memo.getOrElseUpdate(s.id, {
      val kids = children.getOrElse(s.id, Nil).map(go).foldLeft(Layer.zero)(_ + _)
      val o = own(s.id)
      Layer(s.wallS, o.jobs + kids.jobs, o.tasks + kids.tasks, o.taskS + kids.taskS,
        o.gcS + kids.gcS, o.shuffleBytes + kids.shuffleBytes, o.spillBytes + kids.spillBytes)
    })
    spans.map(s => s.id -> go(s)).toMap
  }

  def self(spans: Seq[Span], own: Int => Layer): Map[Int, Layer] = {
    val inc = inclusive(spans, own)
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> children.getOrElse(s.id, Nil).foldLeft(inc(s.id))((acc, c) => acc - inc(c.id))
    }.toMap
  }
}

/** Listener counters per span. A job belongs to the span whose id was the
  * submitting thread's local property when the job started; its tasks
  * follow through the job's stage ids. Span 0 collects everything else. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val counts = new ConcurrentHashMap[Int, Array[Long]]()

  private def add(span: Int, i: Int, v: Long): Unit = {
    val a = counts.computeIfAbsent(span, _ => new Array[Long](6))
    a.synchronized { a(i) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(stageSpan.put(_, span))
    add(span, 0, 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0)
    add(span, 1, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(span, 2, m.executorRunTime)
      add(span, 3, m.jvmGCTime)
      add(span, 4, m.shuffleWriteMetrics.bytesWritten)
      add(span, 5, m.diskBytesSpilled)
    }
  }

  /** Counters attributed directly to `span` (not its descendants). */
  def own(span: Int): Layer = Option(counts.get(span)) match {
    case None => Layer.zero
    case Some(a) => a.synchronized {
      Layer(0, a(0).toDouble, a(1).toDouble, a(2) / 1e3, a(3) / 1e3, a(4).toDouble, a(5).toDouble)
    }
  }

  def total: Layer = counts.keySet.asScala.foldLeft(Layer.zero)((acc, s) => acc + own(s))
}

/** Sums the analysis, optimizer and planning phase times of every query
  * execution Spark reports. */
final class PhaseListener extends QueryExecutionListener {
  private val phaseMs = new java.util.concurrent.atomic.AtomicLong
  def planS: Double = phaseMs.get / 1e3
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phaseMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Spans kept in memory, written once at the end of a run, each with its
  * inclusive and its self cost. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc: SparkContext = spark.sparkContext
  val listener = new SpanListener
  val phases = new PhaseListener
  sc.addSparkListener(listener)
  spark.listenerManager.register(phases)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = current
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, id.toString)
    current = id
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, name, parent, runId, t0, System.nanoTime())
      current = parent
      sc.setLocalProperty(Tracer.Key, prev)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.ListenerBusAccess.drain(sc)

  def all: Seq[Span] = spans.toSeq

  /** Inclusive cost of every span named `name`, summed. */
  def layer(name: String): Layer = {
    drain()
    val inc = SpanTree.inclusive(all, listener.own)
    all.filter(_.name == name).map(s => inc(s.id)).foldLeft(Layer.zero)(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    drain()
    val inc = SpanTree.inclusive(all, listener.own)
    val self = SpanTree.self(all, listener.own)
    def fields(prefix: String, l: Layer) = Seq(s"${prefix}wall_s" -> Json.num(l.wallS),
      s"${prefix}jobs" -> Json.num(l.jobs), s"${prefix}tasks" -> Json.num(l.tasks),
      s"${prefix}task_s" -> Json.num(l.taskS), s"${prefix}gc_s" -> Json.num(l.gcS),
      s"${prefix}shuffle_bytes" -> Json.num(l.shuffleBytes),
      s"${prefix}spill_bytes" -> Json.num(l.spillBytes))
    val lines = all.sortBy(_.startNs).map { s =>
      Json.obj(Seq("run" -> Json.str(s.runId), "id" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString) ++
        fields("", inc(s.id)) ++ fields("self_", self(s.id)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Key = "perfbench.span"
}
