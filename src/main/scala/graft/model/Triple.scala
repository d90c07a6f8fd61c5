package graft.model

/** The fundamental data abstraction: an RDF-style triple with provenance.
  *
  * Mirrors the reference proto message (reference:
  * protocol/protocol.proto:29-39): all fields scalar, empty string doubles
  * as "unset". `created` is epoch seconds.
  *
  * Identity of a triple is (subj, pred, obj) — `lang`/`author`/`sig`/
  * `created` are NOT part of identity (reference:
  * triplestore/triplestore.go:42, unique idx_subj_pred_obj).
  */
final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    lang: String = "",
    author: String = "",
    sig: String = "",
    created: Long = 0L
)

object Triple {
  /** Column order is part of the store contract. */
  val columns: Seq[String] =
    Seq("subj", "pred", "obj", "lang", "author", "sig", "created")

  /** The (subj,pred,obj) identity key (reference:
    * triplestore/triplestore.go:42).
    */
  val identityColumns: Seq[String] = Seq("subj", "pred", "obj")
}

/** A query pattern: exact-match on every *set* field. The reference
  * encodes "unset" as proto3 empty string (reference:
  * triplestore/triplestore.go:110-129 — fields are added to the WHERE
  * clause only when non-empty); we use Option to make that explicit.
  * `sig` and `created` are never matchable, mirroring the reference.
  */
final case class TriplePattern(
    subj: Option[String] = None,
    pred: Option[String] = None,
    obj: Option[String] = None,
    lang: Option[String] = None,
    author: Option[String] = None
) {
  def fields: Seq[(String, Option[String])] = Seq(
    "subj" -> subj,
    "pred" -> pred,
    "obj" -> obj,
    "lang" -> lang,
    "author" -> author
  )
}

object TriplePattern {
  /** Reference compat: an empty string means "unset" (proto3 zero value). */
  def fromStrings(
      subj: String = "",
      pred: String = "",
      obj: String = "",
      lang: String = "",
      author: String = ""
  ): TriplePattern = {
    def opt(s: String): Option[String] = if (s == null || s.isEmpty) None else Some(s)
    TriplePattern(opt(subj), opt(pred), opt(obj), opt(lang), opt(author))
  }
}

/** Recursive boolean algebra over patterns (reference:
  * protocol/protocol.proto:80-89; compiled to SQL at
  * triplestore/triplestore.go:79-105).
  *
  * Semantics pinned by the reference tests
  * (triplestore/triplestore_test.go:143-235):
  *  - A node's operands are its `triples` (leaf patterns) followed by its
  *    `args` (sub-trees), combined with the node's mode.
  *  - Default mode is OR (proto3 zero value) — a bare pattern list is
  *    disjunctive.
  *  - NOT takes exactly one operand and is row-level negation, not set
  *    difference.
  */
sealed trait ArrayOp {
  def triples: Seq[TriplePattern]
  def args: Seq[ArrayOp]
}

object ArrayOp {
  final case class Or(triples: Seq[TriplePattern] = Nil, args: Seq[ArrayOp] = Nil) extends ArrayOp
  final case class And(triples: Seq[TriplePattern] = Nil, args: Seq[ArrayOp] = Nil) extends ArrayOp
  final case class Not(triples: Seq[TriplePattern] = Nil, args: Seq[ArrayOp] = Nil) extends ArrayOp

  /** A single pattern as a (degenerate, mode-irrelevant) op. */
  def leaf(p: TriplePattern): ArrayOp = Or(Seq(p))

  /** Reference default: bare pattern lists are OR'd
    * (protocol/protocol.proto:83-88 zero value).
    */
  def of(patterns: TriplePattern*): ArrayOp = Or(patterns)
}
