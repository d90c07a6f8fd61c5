package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Integer k-means assignment argmin over a LITERAL centroid matrix,
  * held as a codegen REFERENCE OBJECT instead of an expression tree.
  *
  * The former formulation — `array_position(array(score_0 … score_k),
  * array_min(…))` over k per-centroid [[LongDotProduct]] literals —
  * builds an expression tree of k·dim literal nodes: at nlist = 1024 /
  * dim = 64 that is 65k nodes, far past the JIT/codegen comfort zone.
  * This expression keeps the matrix OFF the tree — one object
  * reference — and evaluates the whole argmin as a tight primitive double
  * loop per row: no row expansion, no shuffle, no boxing, O(nlist·dim)
  * long multiplies.
  *
  * Arithmetic and tie-break are EXACTLY the former formulation's:
  * score(c) = |c|² − 2·q·c (the |q|² term is constant per row, so
  * score order ≡ squared-L2 order, ties included), first minimum wins
  * (strict `<` keeps the lowest cell index — `array_position` takes the
  * first match). All operands are BIGINTs bounded by dim·(10⁶)² ≈ 2⁴⁶.
  * The DuckDB oracles of the fixed-point queries (`sim_ann_ivf_exact`,
  * `dedup_semantic`, the PQ family) hash-gate the result.
  */
case class CentroidArgMin(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_centroid_argmin"

  // analysis-time guard: a non-array<long> child must fail analysis,
  // not garbage-read getLong at runtime
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> input, got ${other.catalogString}")
    }

  // case-class equality on Array params is REFERENCE equality, which
  // defeats Catalyst semantic equality (canonicalized plans compare
  // with equals) and with it subexpression elimination for identical
  // argmins — compare centroid CONTENTS instead
  override def equals(other: Any): Boolean = other match {
    case CentroidArgMin(c, cs) =>
      c == child && cs.length == cents.length &&
        cents.indices.forall(i => java.util.Arrays.equals(cents(i), cs(i)))
    case _ => false
  }
  override def hashCode(): Int = {
    var h = child.hashCode()
    cents.foreach(c => h = h * 31 + java.util.Arrays.hashCode(c))
    h
  }

  @transient private lazy val c2s: Array[Long] =
    cents.map(c => c.foldLeft(0L)((s, x) => s + x * x))

  override def nullSafeEval(a: Any): Any =
    CentroidArgMin.argmin(a.asInstanceOf[ArrayData], cents, c2s)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "long[][]")
    val c2sRef = ctx.addReferenceObj("c2s", c2s, "long[]")
    nullSafeCodeGen(ctx, ev, q =>
      s"${ev.value} = graft.functions.CentroidArgMin.argmin($q, $centsRef, $c2sRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidArgMin =
    copy(child = newChild)
}

object CentroidArgMin {
  /** Shared by interpreted eval and generated code (static forwarder). */
  def argmin(q: ArrayData, cents: Array[Array[Long]], c2s: Array[Long]): Int = {
    var best = Long.MaxValue
    var bi = 0
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val d = math.min(q.numElements(), c.length)
      var dot = 0L
      var j = 0
      while (j < d) {
        dot += q.getLong(j) * c(j)
        j += 1
      }
      val score = c2s(i) - 2L * dot
      if (score < best) { best = score; bi = i }
      i += 1
    }
    bi
  }

  /** `q` must already be `array<long>`. */
  def apply(q: Column, cents: Array[Array[Long]]): Column =
    ColumnBridge.column(CentroidArgMin(ColumnBridge.expression(q), cents))
}
