package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass whitespace tokenizers over `split(lower(text), "\\s+")`
  * (codegen helpers — outside the expression companions for the
  * static-forwarder reason documented on [[DeflateUtil]]).
  *
  * Java regex `\s` (no UNICODE_CHARACTER_CLASS) is the six ASCII bytes
  * [ \t\n\x0B\f\r], and every byte of a multi-byte UTF-8 character is
  * >= 0x80, so splitting the lowered bytes at whitespace runs is
  * exactly the regex split: a leading run yields one leading empty
  * token, a trailing run one trailing empty token (split's limit −1),
  * and an empty text the single token "". Lowering goes through
  * [[CanonicalTextUtil.lowerLikeSpark]], the path Spark's `lower` takes.
  */
object TokenUtil {
  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  /** Token bounds of the lowered bytes as (start, end) pairs packed in
    * one array: token i spans `[b(2i), b(2i+1))`. Returns the count.
    */
  private def bounds(b: Array[Byte], out: Array[Int]): Int = {
    var n = 0
    var start = 0
    var i = 0
    while (i < b.length) {
      if (isWs(b(i))) {
        out(2 * n) = start; out(2 * n + 1) = i; n += 1
        while (i < b.length && isWs(b(i))) i += 1
        start = i
      } else i += 1
    }
    out(2 * n) = start; out(2 * n + 1) = b.length
    n + 1
  }

  private def tokenBounds(text: UTF8String, useICU: Boolean): (Array[Byte], Array[Int], Int) = {
    val b = CanonicalTextUtil.lowerLikeSpark(text, useICU).getBytes
    // at most one token per byte, plus the trailing one
    val out = new Array[Int](2 * (b.length + 1))
    (b, out, bounds(b, out))
  }

  /** `[dl, tf_0, …, tf_{m−1}]`: the number of non-empty tokens and the
    * count of each of the m `terms` among them — exactly
    * `count(*)` and `count_if(w = term)` over
    * `explode(split(lower(text), "\\s+"))` with `w != ''`.
    */
  def termCounts(text: UTF8String, termBytes: Array[Array[Byte]], useICU: Boolean): ArrayData = {
    val (b, bd, n) = tokenBounds(text, useICU)
    val counts = new Array[Long](termBytes.length + 1)
    var t = 0
    while (t < n) {
      val s = bd(2 * t)
      val len = bd(2 * t + 1) - s
      if (len > 0) {
        counts(0) += 1
        var j = 0
        while (j < termBytes.length) {
          val w = termBytes(j)
          if (w.length == len && java.util.Arrays.equals(b, s, s + len, w, 0, len))
            counts(j + 1) += 1
          j += 1
        }
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  /** Distinct word n-gram shingles in first-occurrence order — exactly
    * `array_distinct(transform(sequence(0, size(toks) − n), i ->
    * concat_ws(' ', toks[i..i+n−1])))` over `toks = split(lower(text),
    * "\\s+")` (empty tokens included, as the split yields them), and
    * the empty array when there are fewer than n tokens.
    */
  def shingles(text: UTF8String, n: Int, useICU: Boolean): ArrayData = {
    val (b, bd, m) = tokenBounds(text, useICU)
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.HashSet[UTF8String]()
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i + n <= m) {
      var len = n - 1
      var j = 0
      while (j < n) { len += bd(2 * (i + j) + 1) - bd(2 * (i + j)); j += 1 }
      val sh = new Array[Byte](len)
      var p = 0
      j = 0
      while (j < n) {
        if (j > 0) { sh(p) = ' '; p += 1 }
        val s = bd(2 * (i + j))
        val l = bd(2 * (i + j) + 1) - s
        System.arraycopy(b, s, sh, p, l)
        p += l
        j += 1
      }
      val u = UTF8String.fromBytes(sh)
      if (seen.add(u)) out.add(u)
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }
}

/** Per-document `[dl, tf_0, …]` over a fixed term list in one tokenize
  * pass — see [[TokenUtil.termCounts]]. The terms travel in the
  * generated class's references, so every term list shares one class.
  * Declared non-deterministic (value-deterministic) so the optimizer
  * neither inlines it into each element read nor pushes a filter on
  * its elements below the projection: either would tokenize twice.
  */
case class TermCountsExpr(child: Expression, terms: Seq[String]) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_term_counts"

  // Captured at plan time, exactly as Spark's Lower does.
  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  @transient private lazy val termBytes: Array[Array[Byte]] =
    terms.map(UTF8String.fromString(_).getBytes).toArray

  override protected def nullSafeEval(v: Any): Any =
    TokenUtil.termCounts(v.asInstanceOf[UTF8String], termBytes, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("terms", termBytes, "byte[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenUtil.termCounts($c, $ref, $useICU)")
  }

  override protected def withNewChildInternal(newChild: Expression): TermCountsExpr =
    copy(child = newChild)
}

object TermCountsExpr {
  def apply(c: Column, terms: Seq[String]): Column =
    ColumnBridge.column(TermCountsExpr(ColumnBridge.expression(c.cast("string")), terms))
}

/** Distinct word n-gram shingles of a text as one codegen'd expression
  * — see [[TokenUtil.shingles]]. `n` travels in the references, so
  * every shingle width shares one class.
  */
case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, "shingle width must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(v: Any): Any =
    TokenUtil.shingles(v.asInstanceOf[UTF8String], n, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nRef = ctx.addReferenceObj("width", Integer.valueOf(n), "Integer")
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenUtil.shingles($c, $nRef.intValue(), $useICU)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

object ShinglesExpr {
  def apply(c: Column, n: Int): Column =
    ColumnBridge.column(ShinglesExpr(ColumnBridge.expression(c.cast("string")), n))
}
