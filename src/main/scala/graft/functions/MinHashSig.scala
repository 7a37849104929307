package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole MinHash signature in ONE narrow pass per document.
  *
  * The aggregation formulation (explode shingles -> shuffle -> k
  * min-aggregates) moves |docs|·|shingles| rows through a shuffle only to
  * collapse them straight back to one row per document. But the signature
  * is a pure per-document function — this expression computes it in place:
  * split on whitespace (Java `split("\\s+", -1)`, exactly Spark's `split`
  * semantics including boundary empties), form word 3-gram shingles, hash
  * each, and keep k running minima of the affine family
  * h_i = (a_i·base + b_i) mod p (p = 2^31-1, products < 2^59) — the same
  * portable family the DuckDB oracle replicates from [[MinHashSig.aCoef]]
  * and [[MinHashSig.bCoef]].
  *
  * `portable = true` derives the 28-bit base from an md5 prefix (what the
  * oracle recomputes); `portable = false` uses xxhash64 seed 42, matching
  * `functions.xxhash64` (production). Returns null when the document has
  * fewer than 3 tokens (no shingles) — callers filter nulls, mirroring
  * the aggregation form's token-count filter.
  */
case class MinHashSig(child: Expression, k: Int, portable: Boolean)
    extends UnaryExpression {
  require(k > 0, "k must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.evalSig(input.asInstanceOf[UTF8String], k, portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arrayData = classOf[org.apache.spark.sql.catalyst.util.ArrayData].getName
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        $arrayData ${ev.value} = null;
        if (!${c.isNull}) {
          ${ev.value} = graft.functions.MinHashSig.evalSig(${c.value}, $k, $portable);
          ${ev.isNull} = ${ev.value} == null;
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** The portable MinHash family, identical in Spark and DuckDB: base =
    * 28-bit md5 prefix (`conv(substring(md5(s),1,7),16,10)` ≡ DuckDB
    * `CAST('0x'||substr(md5(s),1,7) AS BIGINT)`), then k affine maps
    * h_i = (a_i·base + b_i) mod p over the Mersenne prime p = 2^31-1.
    * Products stay < 2^59, so 64-bit arithmetic never overflows in either
    * engine, which is what makes the LSH pipeline oracle-checkable. The
    * oracle SQL (graft.queries.Ext) reads these same definitions. */
  final val P = 2147483647L
  def aCoef(i: Int): Long = (2654435761L * (2 * i + 1)) % P
  def bCoef(i: Int): Long = (2246822519L * (i + 1)) % P

  /** Named `evalSig`, not `eval` (static-forwarder collision with
    * `Expression.eval(InternalRow)` breaks codegen otherwise). */
  def evalSig(text: UTF8String, k: Int, portable: Boolean): GenericArrayData = {
    val w = text.toString.split("\\s+", -1)
    if (w.length < 3) return null
    val (a, b) = coefs(k)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + 2 < w.length) {
      sb.setLength(0)
      sb.append(w(i)).append(' ').append(w(i + 1)).append(' ').append(w(i + 2))
      val shingle = sb.toString
      val base =
        if (portable) md5Prefix28(shingle)
        else XxHash64Function.hash(
          UTF8String.fromString(shingle), StringType, 42L) & 0xFFFFFFFL
      var j = 0
      while (j < k) {
        val h = (a(j) * base + b(j)) % P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  // one coefficient table per k, cached
  private val coefCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def coefs(k: Int): (Array[Long], Array[Long]) =
    coefCache.computeIfAbsent(k, kk =>
      (Array.tabulate(kk)(aCoef), Array.tabulate(kk)(bCoef)))

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 7 hex chars of md5 = top 28 bits of the first 4 digest bytes —
    * identical to `conv(substring(md5(s),1,7),16,10)`. */
  private def md5Prefix28(s: String): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((h(0) & 0xffL) << 20) | ((h(1) & 0xffL) << 12) |
      ((h(2) & 0xffL) << 4) | ((h(3) & 0xffL) >> 4)
  }

  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  def minhash_sig(c: Column, k: Int, portable: Boolean): Column =
    column(MinHashSig(expression(c), k, portable))
}
