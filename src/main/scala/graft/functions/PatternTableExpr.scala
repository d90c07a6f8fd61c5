package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Patterns that all fix the same string fields, one row of values per
  * pattern, in field order (codegen helper: the generated class holds it
  * in its references). [[lookup]] is the SQL value of the disjunction,
  * over the rows, of the conjunction of `field = value` over the fields:
  * 1 (true) when some row equals every field, 0 (false) when every row
  * differs from a non-null field, -1 (null) otherwise — a null field makes
  * its equality null, so a row matching every non-null field is null.
  */
final class PatternTable(rows: Seq[Seq[String]]) extends Serializable {
  require(rows.nonEmpty && rows.map(_.size).distinct.size == 1,
    "a pattern table needs rows of one width")
  private val patterns: Array[Array[UTF8String]] =
    rows.map(_.map(UTF8String.fromString).toArray).toArray
  private val keys: Set[ArraySeq[UTF8String]] =
    patterns.iterator.map(ArraySeq.unsafeWrapArray(_)).toSet

  def lookup(fields: Array[UTF8String]): Int =
    if (!fields.contains(null)) { if (keys.contains(ArraySeq.unsafeWrapArray(fields))) 1 else 0 }
    else if (patterns.exists(p => p.indices.forall(i => fields(i) == null || fields(i) == p(i)))) -1
    else 0
}

/** Membership of a row's fields in a [[PatternTable]] (`graft_pattern_in`),
  * exact under SQL three-valued logic: the same value as the OR-of-AND
  * chain of equalities it replaces, null included, so it negates like
  * that chain under NOT. The table travels in the generated class's
  * references, so the generated code depends only on the fields, never
  * on how many patterns the table holds.
  */
case class PatternTableExpr(children: Seq[Expression], rows: Seq[Seq[String]])
    extends Expression {
  require(rows.forall(_.size == children.size), "one value per field in every pattern")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_pattern_in"

  @transient private lazy val table = new PatternTable(rows)

  override def eval(input: InternalRow): Any =
    table.lookup(children.map(_.eval(input).asInstanceOf[UTF8String]).toArray) match {
      case 1 => true
      case 0 => false
      case _ => null
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("patternTable", table, classOf[PatternTable].getName)
    val fields = ctx.freshName("fields")
    val found = ctx.freshName("found")
    val fill = children.map(_.genCode(ctx)).zipWithIndex.map { case (f, i) =>
      s"""${f.code}
         |$fields[$i] = ${f.isNull} ? null : ${f.value};""".stripMargin
    }.mkString("\n")
    ev.copy(code = code"""
      UTF8String[] $fields = new UTF8String[${children.size}];
      $fill
      int $found = $t.lookup($fields);
      boolean ${ev.isNull} = $found < 0;
      boolean ${ev.value} = $found > 0;""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PatternTableExpr =
    copy(children = newChildren)
}
