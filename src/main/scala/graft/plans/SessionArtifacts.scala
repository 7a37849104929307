package graft.plans

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** The session's artifact store: every value the engine derives once per
  * JVM session and serves from then on — the Curator server's "compute a
  * view once, serve the cached result afterwards" (PAPER.md §0), and
  * SAMUEL's sharing by identity (PAPERS.md): a shared sub-result is found
  * by its key, not by each caller's own convention.
  *
  * One map, one way to find an entry, and only the VALUE differs by kind:
  *
  *   - `rows` ([[rows]]): a small derived frame (IVF centroids, PQ
  *     codebooks, PCA mean/components, BPE merge tables) is COLLECTED and
  *     replayed as a local relation in the caller's session, so every
  *     consumer sees bit-identical rows whether it derived or hit;
  *   - `files` ([[files]]): a graph-sized frame (the near-dup pair graph,
  *     its components, the curation ledger) is never collected — it is
  *     written as parquet under a session-unique root (pid + JVM start
  *     time, deleted on JVM exit) and read back as a plain file scan.
  *     Parquet, not `localCheckpoint`: checkpoint blocks die under the
  *     `Checkpoints.releaseAll` sweep between queries, while a file-backed
  *     frame survives it. An entry whose directory lacks `_SUCCESS` (a
  *     crashed partial write) re-derives, and every derivation writes a
  *     fresh directory, so a re-derived key never overwrites a path an
  *     earlier frame still reads lazily;
  *   - in-JVM values ([[value]]) under an explicit key: the analyzed
  *     table frames of `Tables.t` (`tables`, key (session, dir, table))
  *     and the staging content checksums of `Tables.stagingDir`
  *     (`staging`, key `dir|table|leafDigest`).
  *
  * KEY CONTRACT (`rows`, `files`): md5 of the sorted input-file list, the
  * canonicalized analyzed plan (rendered in full — the default toString
  * truncates wide field lists and would alias plans differing only in the
  * tail), the [[leafDigest]] and the caller's tag, which carries every
  * knob that changes the derivation. The leaf digest matters because
  * canonicalized plans omit LocalRelation data: without it, two frames
  * built from different literal centroid sets over the same files would
  * alias one key. A frame with no input file, or with a leaf that cannot
  * be content-fingerprinted, derives uncached and is not counted.
  *
  * RESIDUAL RISK (accepted): file identity is path|length|mtime at
  * filesystem-timestamp granularity — an in-place rewrite that keeps the
  * byte length within one mtime tick aliases the old key and replays a
  * stale artifact. Closing it would take a content checksum, i.e. a full
  * scan per LOOKUP, which is what the store exists to avoid. A harness
  * that regenerates inputs in place inside one JVM calls [[clear]]; Verify
  * and Bench are one JVM per run over static inputs.
  *
  * Locking: one monitor per key covers lookup + derive + register, so
  * same-key callers derive once while different keys derive in parallel
  * (a global lock convoyed parallel Verify). Nested derivations under
  * different keys (pcaComponent2 → pcaComponent, the components graph →
  * the pair graph) nest key monitors along the acyclic call DAG; the map
  * monitor is only held for get/put, never while deriving, so they cannot
  * deadlock.
  *
  * Bound: one access-ordered LRU over all kinds with one cap. Eviction
  * drops the map entry only — never a `files` directory, since frames
  * handed out earlier stay readable until JVM exit — and is counted per
  * kind and logged: a working set over the cap turns every hit into a
  * re-derivation, which must not look like an unexplained slowdown.
  *
  * Not here: `MinHashSig`'s coefficient table is an executor-side
  * constant, not session state, and `Tables.stageOnce` is a
  * file-completion guard, not a memo.
  */
object SessionArtifacts {

  val Kinds: Seq[String] = Seq("rows", "files", "tables", "staging")

  // a full sf0.01 Verify peaks at 30 entries (statsJson's peak_size);
  // var: the eviction specs shrink it
  private[graft] var maxEntries = 256

  final case class Stats(hits: Long, misses: Long, evictions: Long, size: Int)

  private final case class Key(kind: String, id: Any)
  private final class Counts { val hits, misses, evictions = new AtomicLong }
  private val counts: Map[String, Counts] = Kinds.map(_ -> new Counts).toMap
  private val entries = new java.util.LinkedHashMap[Key, AnyRef](
    16, 0.75f, /*accessOrder=*/ true)
  private val keyLocks = new ConcurrentHashMap[Key, Object]()
  private val gen = new AtomicLong
  private var peak = 0

  private lazy val root: java.io.File = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val d = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_artifacts_${rt.getPid}_${rt.getStartTime}")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(d)))
    d
  }

  /** The value under (`kind`, `key`): the registered one if `valid`, else
    * `derive`d (once across threads) and registered. */
  def value[V <: AnyRef](kind: String, key: Any, valid: V => Boolean = (_: V) => true)(
      derive: => V): V = {
    val k = Key(kind, key)
    val c = counts(kind)
    keyLocks.computeIfAbsent(k, _ => new Object).synchronized {
      val held = entries.synchronized(Option(entries.get(k))).map(_.asInstanceOf[V])
      held.filter(valid) match {
        case Some(v) => c.hits.incrementAndGet(); v
        case None =>
          c.misses.incrementAndGet()
          val v = derive
          put(k, v)
          v
      }
    }
  }

  private def put(k: Key, v: AnyRef): Unit = entries.synchronized {
    entries.put(k, v)
    peak = math.max(peak, entries.size)
    val it = entries.keySet.iterator
    while (entries.size > maxEntries) {
      val evicted = it.next()
      it.remove()
      counts(evicted.kind).evictions.incrementAndGet()
      System.err.println(s"[artifacts] evicted ${evicted.kind} ${evicted.id} " +
        s"(cap $maxEntries): its next consumer re-derives")
    }
  }

  /** `derive`d over `input`, collected once and replayed as a local
    * relation (`rows` kind). */
  def rows(input: DataFrame, tag: String)(derive: => DataFrame): DataFrame =
    planKey(input, tag) match {
      case None => derive
      case Some(key) =>
        val (schema, data) = value[(StructType, Array[Row])]("rows", key) {
          val d = derive
          (d.schema, d.collect())
        }
        input.sparkSession.createDataFrame(java.util.Arrays.asList(data: _*), schema)
    }

  /** `derive`d over `input`, written once as parquet and read back as a
    * file scan (`files` kind). */
  def files(input: DataFrame, tag: String)(derive: => DataFrame): DataFrame =
    planKey(input, tag) match {
      case None => derive
      case Some(key) =>
        val dir = value[java.io.File]("files", key,
            d => new java.io.File(d, "_SUCCESS").isFile) {
          val d = new java.io.File(root, gen.incrementAndGet().toString)
          derive.write.mode("overwrite").parquet(d.getAbsolutePath)
          d
        }
        input.sparkSession.read.parquet(dir.getAbsolutePath)
    }

  private def planKey(df: DataFrame, tag: String): Option[String] = {
    val files = df.inputFiles
    if (files.isEmpty) None
    else leafDigest(df).map { leaves =>
      val plan = df.queryExecution.analyzed.canonicalized
        .treeString(verbose = false, addSuffix = false,
          maxFields = Int.MaxValue, printOperatorId = false)
      tag + "@" + java.util.HexFormat.of().formatHex(
        java.security.MessageDigest.getInstance("MD5").digest(
          (files.sorted.mkString("\n") + "\u0000" + plan + "\u0000" +
            leaves + "\u0000" + tag).getBytes("UTF-8")))
    }
  }

  /** Content digest of the plan's leaves. LocalRelations hash their rows
    * (rendered via UnsafeProjection, so equal content digests equal
    * whatever the backing InternalRow); file-backed leaves hash every
    * file's path + length + modification time, stat'ed now rather than
    * taken from the frame's listing snapshot, so a frame held across an
    * in-place rewrite still digests the files on disk. None for any other
    * leaf (a checkpointed LogicalRDD's content is not cheaply hashable; a
    * non-file source contributes no input files) and for a listed file
    * that is gone. */
  private[graft] def leafDigest(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation}
    import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
    val md = java.security.MessageDigest.getInstance("MD5")
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    def foldFiles(index: FileIndex): Unit =
      index.inputFiles.sorted.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(hconf).getFileStatus(p)
        md.update(s"$f|${st.getLen}|${st.getModificationTime}".getBytes("UTF-8"))
      }
    var ok = true
    try df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LocalRelation =>
        md.update(l.schema.catalogString.getBytes("UTF-8"))
        val proj = UnsafeProjection.create(l.schema)
        l.data.foreach(r => md.update(proj(r).getBytes))
      case _: OneRowRelation => md.update('1'.toByte)
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => foldFiles(fs.location)
        case _ => ok = false // non-file V1 relation (e.g. JDBC)
      }
      case l: DataSourceV2Relation => l.table match {
        case ft: FileTable => foldFiles(ft.fileIndex)
        case _ => ok = false // non-file V2 source
      }
      case _ => ok = false
    } catch { case _: java.io.FileNotFoundException => ok = false }
    if (ok) Some(java.util.HexFormat.of().formatHex(md.digest())) else None
  }

  /** Drop every entry: the regenerate-inputs-in-place seam (see RESIDUAL
    * RISK) and the specs' reset. Counters stay monotonic; `files`
    * directories stay until JVM exit like evicted ones. */
  private[graft] def clear(): Unit = {
    entries.synchronized(entries.clear())
    keyLocks.clear() // a regenerated input mints new keys; don't accrete monitors
  }

  private[graft] def stats(kind: String): Stats = {
    val c = counts(kind)
    val size = entries.synchronized {
      var n = 0
      entries.keySet.forEach(k => if (k.kind == kind) n += 1)
      n
    }
    Stats(c.hits.get, c.misses.get, c.evictions.get, size)
  }

  /** Per-kind hits, misses, evictions and size, plus the session's peak
    * entry count, as one JSON object. */
  def statsJson: String =
    Kinds.map { k =>
      val s = stats(k)
      s""""$k":{"hits":${s.hits},"misses":${s.misses},"evictions":${s.evictions},"size":${s.size}}"""
    }.mkString("{", ",", s""","peak_size":${entries.synchronized(peak)},"cap":$maxEntries}""")
}
