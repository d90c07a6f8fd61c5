package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused aggressive-canonicalization helper (codegen helper — outside
  * the expression companion for the static-forwarder reason documented
  * on [[DeflateUtil]]).
  *
  * Semantics are EXACTLY the composed built-in form it replaces
  * (`Reference.canonicalBuiltin` in the test sources, gated equivalent
  * in BasketLinkageSpec):
  *
  *   trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))
  *
  * i.e. Unicode-lowercase, drop every char outside [a-z0-9 ], collapse
  * space runs, trim. The fusion is exact because the kept class is pure
  * ASCII: after `CollationSupport.Lower.exec` (the same call Spark's
  * `Lower` makes) every byte of a multi-byte character is >= 0x80, so a
  * byte-level keep-filter equals the regex's character-level one, and
  * collapse/trim depend only on the filtered byte sequence, which the
  * single pass preserves in order.
  *
  * What it buys at scale: the regex chain was measured as 94% of
  * `dedup_canonical` at 100× (canon_only 24.1 s vs scan floor 0.4 s,
  * ScaleProbe decomposition) — two java.util.regex NFA passes plus two
  * intermediate string materializations per row, replaced by one
  * branch-predictable byte scan and zero intermediates.
  */
object CanonicalTextUtil {
  /** Lowercase through the SAME execution path as Spark's `Lower`
    * expression (CollationSupport.Lower.exec at UTF8_BINARY), so the
    * fused forms stay byte-equal to the `lower()` builtin they replace
    * for EVERY codepoint, not just the fixtures: `UTF8String.toLowerCase`
    * falls back to `String.toLowerCase()` (JVM tables + default locale)
    * for non-ASCII, while Spark 4.1's `lower()` defaults to ICU case
    * mappings (spark.sql.icu.caseMappings.enabled) — 67 codepoints
    * diverge between the two (e.g. U+A7C0, U+1C89, U+10570), and the
    * JVM path is additionally locale-dependent (tr/az dotless-i). The
    * `useICU` flag is captured by the Expression at plan time from
    * SQLConf, exactly as `Lower` captures it.
    */
  def lowerLikeSpark(u: UTF8String, useICU: Boolean): UTF8String =
    CollationSupport.Lower.exec(u, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)

  def canon(u: UTF8String, useICU: Boolean): UTF8String = {
    val lowered = lowerLikeSpark(u, useICU)
    val b = lowered.getBytes
    val out = new Array[Byte](b.length)
    var n = 0
    var pendingSpace = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        // flush one collapsed space, unless it would lead the output
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        pendingSpace = false
        out(n) = c; n += 1
      } else if (c == ' ') {
        pendingSpace = true
      }
      i += 1
    }
    // a trailing run of spaces is never flushed == trim's right side
    UTF8String.fromBytes(out, 0, n)
  }
}

object NormalizeWsUtil {
  /** Fused whitespace normalization — EXACTLY
    * `trim(regexp_replace(lower(text), "\\s+", " "))` in one byte pass.
    * Java regex `\s` (no UNICODE_CHARACTER_CLASS) is the six ASCII
    * chars [ \t\n\x0B\f\r] — all single bytes in UTF-8, so a byte-level
    * run-collapse equals the regex's character-level one and multi-byte
    * characters pass through untouched. `trim` strips only 0x20, but
    * every leading/trailing whitespace RUN has already become a single
    * ' ' by then, so skip-leading/drop-trailing-space is identical.
    */
  def normalize(u: UTF8String, useICU: Boolean): UTF8String = {
    val lowered = CanonicalTextUtil.lowerLikeSpark(u, useICU)
    val b = lowered.getBytes
    val out = new Array[Byte](b.length)
    var n = 0
    var pendingSpace = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r') {
        pendingSpace = true
      } else {
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        pendingSpace = false
        out(n) = c; n += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, n)
  }
}

/** One-pass whitespace normalizer (see [[NormalizeWsUtil.normalize]]
  * for the exact-semantics contract with the regex form).
  */
case class NormalizeWsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize_ws"

  // Captured at plan time, exactly as Spark's Lower does.
  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(v: Any): Any =
    NormalizeWsUtil.normalize(v.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeWsUtil.normalize($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeWsExpr =
    copy(child = newChild)
}

object NormalizeWsExpr {
  def apply(c: Column): Column =
    ColumnBridge.column(NormalizeWsExpr(
      ColumnBridge.expression(c.cast("string"))))
}

/** One-pass [a-z0-9 ]-canonicalizer as a native codegen'd expression —
  * see [[CanonicalTextUtil.canon]] for the exact semantics contract
  * with the regex chain it replaces.
  */
case class CanonicalTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_canonical_text"

  // Captured at plan time, exactly as Spark's Lower does.
  private lazy val useICU: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(v: Any): Any =
    CanonicalTextUtil.canon(v.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CanonicalTextUtil.canon($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): CanonicalTextExpr =
    copy(child = newChild)
}

object CanonicalTextExpr {
  def apply(c: Column): Column =
    ColumnBridge.column(CanonicalTextExpr(
      ColumnBridge.expression(c.cast("string"))))
}
