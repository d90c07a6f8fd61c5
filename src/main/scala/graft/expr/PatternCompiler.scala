package graft.expr

import scala.collection.immutable.HashSet

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{ArrayOp, TriplePattern}
import graft.functions.{Murmur3x64, PatternTableExpr}

/** Compiles the reference's query algebra to Catalyst `Column`
  * expressions — the Spark-native replacement for the reference's
  * SQL-string generator (reference: triplestore/triplestore.go:79-132,
  * `ArrayOpToSQL`/`TripleToSQL`). Producing a declarative `Column` (rather
  * than strings or hand-rolled plans) lets Catalyst do predicate
  * pushdown, row-group pruning and whole-stage codegen for free.
  *
  * Canonical form. An OR's leaf patterns are grouped by the set of fields
  * they fix, and each group is one membership test:
  *  - no field fixed: `true`;
  *  - one field: `field IN (values)`, a Catalyst `InSet` over an
  *    `immutable.HashSet` (pushed to parquet as `In`);
  *  - several fields: the first field's `InSet`, AND the exact pattern
  *    table ([[graft.functions.PatternTableExpr]]), which has the
  *    equality chain's three-valued semantics.
  * The OR's sub-trees follow the groups; AND and NOT leaves stay
  * conjunctions of `field = value`.
  *
  * Why a value count must not shape the generated code: string literals
  * live in the generated class's references, but every equality of an
  * OR chain is a line of Java, so an OR of 3 subjects and one of 4 used
  * to compile two whole-stage classes. A served store sees every root
  * count and every mix of parts, and each new class is a Janino compile
  * plus JIT work on the request path. The membership tests keep their
  * values in references too: one class serves every count. The set is
  * built as a `HashSet` explicitly because `InSet`'s generated code casts
  * its reference to the set's runtime class, and Scala's size-specialised
  * `Set1`…`Set4` would be four classes.
  */
object PatternCompiler {

  /** Exact-match conjunction over the pattern's *set* fields
    * (reference: triplestore/triplestore.go:110-129 — a field joins the
    * WHERE clause only when non-empty). An all-empty pattern matches
    * everything.
    */
  def compile(p: TriplePattern): Column =
    p.fields
      .collect { case (name, Some(v)) => col(name) === lit(v) }
      .reduceOption(_ && _)
      .getOrElse(lit(true))

  /** Recursive AND/OR/NOT fold (reference:
    * triplestore/triplestore.go:79-105). Operands are the node's leaf
    * patterns (an OR's in the canonical form above) followed by its
    * sub-trees. NOT is row-level negation of its single operand (pinned
    * by triplestore_test.go:346-367).
    */
  def compile(op: ArrayOp): Column = {
    val leaves = op match {
      case _: ArrayOp.Or => anyOf(op.triples)
      case _ => op.triples.map(compile)
    }
    val operands = leaves ++ op.args.map(compile)
    op match {
      case _: ArrayOp.Not =>
        require(operands.size == 1, s"NOT takes exactly 1 operand, got ${operands.size}")
        !operands.head
      case _: ArrayOp.And => operands.reduceOption(_ && _).getOrElse(lit(true))
      case _: ArrayOp.Or  => operands.reduceOption(_ || _).getOrElse(lit(true))
    }
  }

  /** The disjunction of `patterns` in canonical form: one membership test
    * per set of fixed fields, the groups in a fixed order (by field names).
    */
  private def anyOf(patterns: Seq[TriplePattern]): Seq[Column] =
    patterns.map(_.fields.collect { case (name, Some(v)) => name -> v })
      .groupBy(_.map(_._1)).toSeq
      .sortBy(_._1.mkString(","))
      .map { case (names, group) =>
        val rows = group.map(_.map(_._2))
        names match {
          case Seq() => lit(true)
          case Seq(name) => in(name, rows.map(_.head))
          case _ => in(names.head, rows.map(_.head)) && ColumnBridge.column(PatternTableExpr(
            names.map(n => ColumnBridge.expression(col(n))), rows))
        }
      }

  private def in(name: String, values: Seq[String]): Column =
    ColumnBridge.column(InSet(ColumnBridge.expression(col(name)),
      HashSet.from[Any](values.map(UTF8String.fromString))))

  /** The set of subject literals a query is rooted at, or None if any
    * reachable pattern is subject-free — the reference's shard-routing
    * rule, where one unrooted triple "poisons" the step to a full
    * broadcast (reference: query/query.go:24-47, hash 0 sentinel).
    * Used for driver-side partition pruning: a rooted query only needs
    * the buckets covering `murmur3_64(subj)`.
    */
  def rootSubjects(op: ArrayOp): Option[Set[String]] = {
    val operandRoots: Seq[Option[Set[String]]] =
      op.triples.map(p => p.subj.map(Set(_))) ++ op.args.map(rootSubjects)
    op match {
      // NOT(subj=x) can match any subject: unrooted.
      case _: ArrayOp.Not => None
      // OR: every disjunct must be rooted, result is the union. This is
      // already finer than the reference, which poisons the whole step to
      // a broadcast if ANY pattern anywhere is subject-free
      // (query/query.go:30-44). An EMPTY Or compiles to match-everything,
      // so it must be unrooted — Some(Set.empty) would prune every bucket.
      case _: ArrayOp.Or =>
        if (operandRoots.isEmpty || operandRoots.exists(_.isEmpty)) None
        else Some(operandRoots.flatten.flatten.toSet)
      // AND: any single rooted operand bounds the result (a matching row
      // satisfies all operands) — intersect the known sets.
      case _: ArrayOp.And =>
        operandRoots.flatten.reduceOption(_ intersect _)
    }
  }

  /** Bucket ids (for a store with `numBuckets` partitions) that a rooted
    * query can touch; None ⇒ all buckets (full scan).
    */
  def prunedBuckets(op: ArrayOp, numBuckets: Int): Option[Set[Int]] =
    rootSubjects(op).map(_.map(s =>
      // floorMod == Spark's pmod — must match TripleStore's bucket column.
      math.floorMod(Murmur3x64.hash64(s), numBuckets.toLong).toInt))
}
