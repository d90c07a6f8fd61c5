package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Pairwise-trend statistics computed per GROUP from the collected,
  * date-ordered series instead of materializing the Σ-over-pairs join
  * (codegen helpers — outside the expression companions for the
  * static-forwarder reason documented on [[DeflateUtil]]).
  *
  * Both consumers (stats_mann_kendall, events_theilsen_slope) run their
  * pair stage on a CALENDAR-BOUNDED pre-aggregated frame (daily /
  * hourly buckets, ~2.4k / ~0.7k rows per group at every SF), so the
  * pair join's volume is a span² CONSTANT — but it is a multi-million-
  * row constant that costs a join + exchange + (for Theil–Sen) a full
  * window sort of every pair row on every run, ~6.4 s of every sf0.1
  * sweep. The pair set is a pure function of the per-group series, so
  * each group's statistic is computed here from one collected array:
  * O(n log n) / O(n² in-memory primitives) per group, no pair rows, no
  * second exchange. Equality with the pair-join formulation is exact
  * (same integer sign tests, same IEEE divisions, same lower-median
  * tie-break) — gated brute-force in TrendExprSpec and end-to-end by
  * the unchanged pair-join DuckDB oracles.
  */
object PairTrendUtil {
  /** The elements of an array<bigint> argument; a null element fails
    * with an error naming the function and the index (read as a long it
    * would silently be 0 and corrupt the statistic).
    */
  private def longs(a: ArrayData, fn: String, arg: String): Array[Long] = {
    val out = new Array[Long](a.numElements())
    var i = 0
    while (i < out.length) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"$fn: null element at index $i of the $arg array")
      out(i) = a.getLong(i)
      i += 1
    }
    out
  }

  /** Mann–Kendall S = Σ_{i<j} sign(x_j − x_i) over the series in array
    * order (callers order by date). Counted in O(n log n) with a
    * Fenwick tree over rank-compressed values: processing left to
    * right, each x_j adds (#seen < x_j) − (#seen > x_j) — ties
    * contribute 0, exactly the pair join's `when(>,1).when(<,-1)
    * .otherwise(0)`.
    */
  def mannKendallS(xsArr: ArrayData): Long = {
    val xs = longs(xsArr, "graft_mann_kendall_s", "series")
    val n = xs.length
    if (n < 2) return 0L
    var i = 0
    // rank-compress to 1..r
    val sorted = xs.clone()
    java.util.Arrays.sort(sorted)
    var r = 0
    i = 0
    while (i < n) { // dedup in place
      if (r == 0 || sorted(i) != sorted(r - 1)) { sorted(r) = sorted(i); r += 1 }
      i += 1
    }
    val tree = new Array[Int](r + 1)
    def add(pos0: Int): Unit = {
      var p = pos0 + 1
      while (p <= r) { tree(p) += 1; p += p & (-p) }
    }
    def countLe(pos0: Int): Int = { // # added with rank <= pos0
      var p = pos0 + 1; var s = 0
      while (p > 0) { s += tree(p); p -= p & (-p) }
      s
    }
    var sStat = 0L
    i = 0
    while (i < n) {
      val rank = java.util.Arrays.binarySearch(sorted, 0, r, xs(i))
      val le = countLe(rank)          // seen and <= x_i
      val lt = if (rank == 0) 0 else countLe(rank - 1) // seen and < x_i
      val gt = i - le                 // seen and > x_i
      sStat += lt.toLong - gt.toLong
      add(rank)
      i += 1
    }
    sStat
  }

  /** Deterministic LOWER median of all pairwise slopes
    * (n_j − n_i) / (t_j − t_i), i < j in array order, with ties broken
    * by (t_i, t_j) — byte-for-byte the pair-join form's
    * `row_number() over (order by slope, t1, t2) = (cnt+1) div 2`:
    * callers pass the series sorted by strictly-increasing t, so
    * (slope, t1, t2) order ≡ (slope, i, j) order; that tie-break only
    * orders equal slopes, so the median VALUE is the order statistic of
    * the slopes alone. Slopes are the same one IEEE
    * double division per pair (exactly rounded, engine-invariant);
    * NaN/−0.0 cannot arise (t strictly increasing ⇒ denominator > 0;
    * long-cast numerators yield +0.0). The pair count m = C(n,2) is
    * guarded to the multi-million range the consumers' calendar bound
    * implies — past it the pair-join form this replaces would itself
    * be span²-pathological, and a loud error beats silent cost. A null
    * element of either array fails loudly, naming the function.
    */
  def theilSenLowerMedian(tsArr: ArrayData, nsArr: ArrayData): Double = {
    val n = tsArr.numElements()
    require(nsArr.numElements() == n, "theilsen: parallel arrays required")
    require(n >= 2, "theilsen: need at least 2 points")
    require(n <= 8192,
      s"theilsen: series of $n buckets implies ${n.toLong * (n - 1) / 2} " +
        "pair slopes; pre-bucket the series (calendar-bounded by contract)")
    val ts = longs(tsArr, "graft_theilsen_median", "t")
    val ns = longs(nsArr, "graft_theilsen_median", "n")
    val m = n * (n - 1) / 2
    val slopes = new Array[Double](m)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        slopes(k) = (ns(j) - ns(i)).toDouble / (ts(j) - ts(i)).toDouble
        k += 1
        j += 1
      }
      i += 1
    }
    // The (slope, i, j) tie-break orders only EQUAL slopes, and equal
    // slopes are one value, so the value at the median rank is the same
    // in any order among them: a primitive sort of the slopes themselves
    // (Double.compare's total order, as before) needs no pair index and
    // no boxing.
    java.util.Arrays.sort(slopes)
    slopes((m + 1) / 2 - 1)
  }
}

/** Mann–Kendall S over a date-ordered array<long> series in one call —
  * see [[PairTrendUtil.mannKendallS]] for the exact pair-join contract.
  */
case class MannKendallSExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_mann_kendall_s"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(v: Any): Any =
    PairTrendUtil.mannKendallS(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PairTrendUtil.mannKendallS($c)")

  override protected def withNewChildInternal(newChild: Expression): MannKendallSExpr =
    copy(child = newChild)
}

object MannKendallSExpr {
  def apply(c: Column): Column =
    ColumnBridge.column(MannKendallSExpr(ColumnBridge.expression(c)))
}

/** Lower-median Theil–Sen slope over parallel (t, n) array<long> series
  * (t strictly increasing) — see [[PairTrendUtil.theilSenLowerMedian]]
  * for the exact (slope, t1, t2) tie-break contract.
  */
case class TheilSenMedianExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_theilsen_median"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(t: Any, n: Any): Any =
    PairTrendUtil.theilSenLowerMedian(
      t.asInstanceOf[ArrayData], n.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) =>
      s"graft.functions.PairTrendUtil.theilSenLowerMedian($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TheilSenMedianExpr =
    copy(left = newLeft, right = newRight)
}

object TheilSenMedianExpr {
  def apply(t: Column, n: Column): Column =
    ColumnBridge.column(TheilSenMedianExpr(
      ColumnBridge.expression(t), ColumnBridge.expression(n)))
}
