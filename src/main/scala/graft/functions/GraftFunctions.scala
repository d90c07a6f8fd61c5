package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expression computing the reference's 64-bit shard hash
  * `murmur3_64(subj)` (reference call sites: query/query.go:37,
  * core/http.go:70, network/network.go:284). A native `Expression` with
  * codegen (not a Scala UDF) so it stays inside whole-stage codegen in
  * the scan→filter hot path.
  */
case class Murmur64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_murmur64"

  override protected def nullSafeEval(v: Any): Any =
    Murmur3x64.hash64(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Murmur3x64.hash64($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Murmur64Expr =
    copy(child = newChild)
}

/** Codegen'd bloom probe over an ARRAY of broadcast filters, one per
  * ring slice, selected per row by a slice-index column — the probe of
  * every bloom path ([[graft.store.TripleStore.bloomProbe]]; a single
  * filter is the one-element array). It replaces a Scala UDF in the
  * replication-diff scan: the probe runs once per row of a full table
  * scan, and a UDF there boxes every key and fences whole-stage codegen.
  * Only the broadcast HANDLE is embedded in the plan (tasks fetch the
  * filters from the block manager), so filter size doesn't bloat task
  * binaries.
  */
case class BloomProbeIndexedExpr(
    left: Expression,
    right: Expression,
    bfs: org.apache.spark.broadcast.Broadcast[
      Array[org.apache.spark.util.sketch.BloomFilter]])
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_bloom_probe_indexed"

  override protected def nullSafeEval(key: Any, idx: Any): Any =
    bfs.value(idx.asInstanceOf[Int])
      .mightContainString(key.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomsBc", bfs,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, (k, i) =>
      s"((org.apache.spark.util.sketch.BloomFilter[]) $ref.value())[$i]" +
        s".mightContainString($k.toString())")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomProbeIndexedExpr =
    copy(left = newLeft, right = newRight)
}

/** Index of the first ring slice holding a 64-bit hash, or null when
  * none does (codegen helper — outside the expression companion for the
  * static-forwarder reason documented on [[DeflateUtil]]). Membership is
  * [[graft.model.Keyspace.includes]] (start-inclusive, end-exclusive,
  * unsigned, wrap-aware), except that a maxed keyspace is the whole
  * ring: as a slice list it is the one-slice tiling.
  */
object RingSliceUtil {
  def index(hash: Long, starts: Array[Long], ends: Array[Long]): Int = {
    var i = 0
    while (i < starts.length) {
      val s = starts(i)
      val e = ends(i)
      if (e == s - 1 || graft.model.Keyspace(s, e).includes(hash)) return i
      i += 1
    }
    -1
  }
}

/** The slice index of a hash over a fixed list of ring slices, the hash
  * evaluated once per row (a when-chain of membership tests repeats the
  * hash in every branch: Spark's `FilterExec` eliminates no common
  * subexpressions). The bounds travel in the generated class's
  * references, so every slice list shares one class.
  */
case class RingSliceExpr(child: Expression, starts: Seq[Long], ends: Seq[Long])
    extends UnaryExpression {
  require(starts.size == ends.size && starts.nonEmpty, "one start and end per slice")
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ring_slice"

  @transient private lazy val startArr = starts.toArray
  @transient private lazy val endArr = ends.toArray

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val h = child.eval(input)
    if (h == null) null
    else {
      val i = RingSliceUtil.index(h.asInstanceOf[Long], startArr, endArr)
      if (i < 0) null else i
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("sliceStarts", startArr, "long[]")
    val e = ctx.addReferenceObj("sliceEnds", endArr, "long[]")
    val h = child.genCode(ctx)
    ev.copy(code = code"""
      ${h.code}
      boolean ${ev.isNull} = true;
      int ${ev.value} = -1;
      if (!${h.isNull}) {
        ${ev.value} = graft.functions.RingSliceUtil.index(${h.value}, $s, $e);
        ${ev.isNull} = ${ev.value} < 0;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): RingSliceExpr =
    copy(child = newChild)
}

/** Column-level function surface of the engine. SQL names are registered
  * under `graft_*` via [[GraftFunctions.register]].
  */
object GraftFunctions {
  /** Registers the `graft_*` SQL functions in the session's registry.
    * Idempotent; call once per session (TripleStore does this). For
    * library-level packaging use [[graft.GraftExtensions]] instead.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_murmur64", exprs => Murmur64Expr(stringInput(exprs.head)), "built-in")

  /** The expression reads UTF8String; SQL callers can pass anything, so
    * coerce non-string children explicitly (we can't use
    * ExpectsInputTypes — AbstractDataType is private[sql]).
    */
  private[graft] def stringInput(e: Expression): Expression =
    if (e.dataType == org.apache.spark.sql.types.StringType) e
    else org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.StringType)

  /** 64-bit murmur3 shard hash of a string column. Built directly from
    * the Catalyst expression (no session registry needed). The cast keeps
    * arbitrary inputs safe since we skip `ExpectsInputTypes`
    * (`AbstractDataType` is private[sql]).
    */
  def murmur64(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(Murmur64Expr(ColumnBridge.expression(c.cast("string"))))
  }

  /** The engine-portable 60-bit hash family: the first 15 hex chars of
    * md5 as a BIGINT. Any engine with md5 reproduces it, which is what
    * makes the shard / sampling / simhash oracles possible — the SQL
    * twin is GraphSql.md5Hash60; change them together.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Exact integral division (`a div b` — Catalyst's IntegralDivide;
    * null on null divisor). For operands nested inside lambda bodies,
    * where `expr("a div b")` can't reach and `floor(a / b)` over doubles
    * is NOT a substitute: a 53-bit mantissa rounds quotients adjacent to
    * an integer boundary the wrong way, breaking hash-gated oracles.
    */
  def longDiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Canonical binary encoding of a triple's logical content — our
    * deterministic stand-in for the reference's proto marshal
    * (reference: crypto/fingerprint.go:10-17; bloom keys
    * triplestore/bloom.go:26-30). Divergence (documented): the reference
    * keys blooms on the full proto encoding *including* sig/created, so a
    * re-signed copy of a triple gets a new key; we key on
    * (subj,pred,obj,lang) which strictly improves diff accuracy.
    * `\u0000` separates fields (cannot occur in the data).
    */
  def canonicalKey(subj: Column, pred: Column, obj: Column, lang: Column): Column =
    concat_ws("\u0000", subj, pred, obj, lang)

  def canonicalKey(): Column =
    canonicalKey(col("subj"), col("pred"), col("obj"), col("lang"))

  /** SHA-1 fingerprint of the canonical encoding, hex string (reference:
    * crypto/fingerprint.go:10-17 — SHA-1 over the encoded triple).
    * Built-in `sha1` keeps this codegen'd.
    */
  def fingerprint(): Column = sha1(canonicalKey().cast("binary"))

  /** Scala-side canonical key + fingerprint (for driver-side checks). */
  def canonicalKeyScala(subj: String, pred: String, obj: String, lang: String): String =
    s"$subj\u0000$pred\u0000$obj\u0000$lang"

  def fingerprintScala(subj: String, pred: String, obj: String, lang: String): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(canonicalKeyScala(subj, pred, obj, lang)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
