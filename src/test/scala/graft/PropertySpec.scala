package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.PatternCompiler
import graft.model.{ArrayOp, Keyspace, Triple, TriplePattern}

/** Property tests per the SURVEY §5 plan: pattern-match ≡ brute-force
  * predicate, keyspace algebra laws, hash/bucket invariants. Uses
  * ScalaCheck generators with an explicit sampling loop (the
  * scalatest-scalacheck bridge isn't in the offline cache).
  */
class PropertySpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private val genStr = Gen.oneOf("", "a", "b", "s1", "s2", "p", "q", "o", "x y", "Ω")
  private val genPattern = for {
    s <- genStr; p <- genStr; o <- genStr; l <- Gen.oneOf("", "en", "fr")
  } yield TriplePattern.fromStrings(s, p, o, l)

  /** Reference semantics, straight from triplestore.go:110-129: match on
    * every non-empty field — in SQL's three-valued logic, where a null
    * field makes its equality unknown (None).
    */
  private def refMatch(t: Triple, p: TriplePattern): Option[Boolean] =
    and3(Seq(p.subj -> t.subj, p.pred -> t.pred, p.obj -> t.obj,
      p.lang -> t.lang, p.author -> t.author).collect {
        case (Some(v), f) => Option(f).map(_ == v) })

  private def and3(xs: Seq[Option[Boolean]]): Option[Boolean] =
    if (xs.contains(Some(false))) Some(false)
    else if (xs.contains(None)) None
    else Some(true)

  private def or3(xs: Seq[Option[Boolean]]): Option[Boolean] =
    if (xs.isEmpty || xs.contains(Some(true))) Some(true)
    else if (xs.contains(None)) None
    else Some(false)

  private def refEval(t: Triple, op: ArrayOp): Option[Boolean] = {
    val operands = op.triples.map(refMatch(t, _)) ++ op.args.map(refEval(t, _))
    op match {
      case _: ArrayOp.Not => operands.head.map(!_)
      case _: ArrayOp.And => and3(operands)
      case _: ArrayOp.Or  => or3(operands)
    }
  }

  private val genOp: Gen[ArrayOp] = {
    val leafs = Gen.nonEmptyListOf(genPattern).map(ps => ArrayOp.Or(ps))
    val ands = Gen.nonEmptyListOf(genPattern).map(ps => ArrayOp.And(ps))
    val nots = genPattern.map(p => ArrayOp.Not(Seq(p)))
    // ORs whose patterns all fix subj and pred (some obj too): the
    // multi-field membership groups, negated
    val fixed = Gen.oneOf("a", "s1", "s2", "p", "q", "o", "b")
    val grouped = Gen.nonEmptyListOf(for {
      s <- fixed; p <- fixed; o <- Gen.option(fixed)
    } yield TriplePattern(Some(s), Some(p), o))
    val notGroups = grouped.map(ps => ArrayOp.Not(Nil, Seq(ArrayOp.Or(ps))))
    Gen.oneOf(leafs, ands, nots, notGroups,
      Gen.zip(leafs, ands).map { case (a, b) => ArrayOp.And(Nil, Seq(a, b)) },
      Gen.zip(nots, leafs).map { case (a, b) => ArrayOp.Or(Nil, Seq(a, b)) },
      Gen.zip(notGroups, leafs).map { case (a, b) => ArrayOp.And(Nil, Seq(a, b)) })
  }

  private val genKs: Gen[Keyspace] = for {
    s <- Gen.long; e <- Gen.long
    if s != e && e != s - 1 // neither empty-degenerate nor maxed
  } yield Keyspace(s, e)

  test("keyspace: complement partitions the ring (includes XOR)") {
    samples(Gen.zip(genKs, Gen.long), 500).foreach { case (ks, h) =>
      val comp = ks.complement.get
      assert(ks.includes(h) ^ comp.includes(h), s"$ks h=$h")
    }
  }

  test("keyspace: mag(k) + mag(complement(k)) wraps to zero (full ring)") {
    samples(genKs, 500).foreach { ks =>
      assert(ks.mag + ks.complement.get.mag == 0L, s"$ks") // 2^64 ≡ 0
    }
  }

  test("keyspace: union includes both operands' members") {
    samples(Gen.zip(genKs, genKs, Gen.long), 500).foreach { case (a, b, h) =>
      a.union(b).foreach { u =>
        if (a.includes(h) || b.includes(h)) assert(u.includes(h), s"$a $b $h")
      }
    }
  }

  test("keyspace: intersection members are in at least one operand") {
    samples(Gen.zip(genKs, genKs, Gen.long), 500).foreach { case (a, b, h) =>
      // the reference's double-overlap case is lossy (returns the first
      // interval) — assert only the sound direction
      a.intersection(b).foreach { i =>
        if (i.includes(h)) assert(a.includes(h) || b.includes(h), s"$a $b $h")
      }
    }
  }

  test("bucketOf is stable and in range for any subject") {
    samples(Gen.zip(Gen.asciiPrintableStr, Gen.chooseNum(1, 512)), 300)
      .foreach { case (s, n) =>
        val b = graft.store.TripleStore.bucketOf(s, n)
        assert(b >= 0 && b < n)
        assert(b == graft.store.TripleStore.bucketOf(s, n))
      }
  }

  test("ArrayOp compile ≡ reference row semantics on a corpus") {
    val spark = SparkSpecBase.session
    import spark.implicits._
    // rows with a null subj, pred or obj: a filter keeps a row only when
    // its predicate is true, and NOT of unknown is unknown
    val nulls = Seq(Triple(null, "p", "o"), Triple("a", null, "o"), Triple("s1", "p", null),
      Triple(null, null, "b"), Triple("s3", "q", "b", lang = null))
    val corpus = (for {
      s <- Seq("", "a", "s1", "s2", "x y")
      p <- Seq("", "p", "q")
      o <- Seq("", "o", "b")
    } yield Triple(s, p, o, lang = if (s.length % 2 == 0) "en" else "")).distinct ++ nulls
    val df = corpus.toDF().cache()
    samples(genOp, 100).foreach { op =>
      val got = df.filter(PatternCompiler.compile(op))
        .select("subj", "pred", "obj").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val want = corpus.filter(refEval(_, op).contains(true)).map(t => (t.subj, t.pred, t.obj)).toSet
      assert(got == want, s"op=$op")
    }
  }

  test("property: chunk-window arithmetic covers every token count exactly") {
    // plain-Scala reference of the text_chunk_windows math: windows of
    // `size` every `stride`, last window ends exactly at n
    def refChunks(n: Long, size: Long, stride: Long): Seq[(Long, Long)] = {
      val k = if (n <= size) 1L
        else 1L + math.ceil((n - size).toDouble / stride).toLong
      (0L until k).map(i => i -> math.min(size, n - i * stride))
    }
    val spark = SparkSpecBase.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val size = 32L; val stride = 24L
    val ns = samples(Gen.chooseNum(1L, 500L), 120).distinct
    val got = ns.toDF("n_tok")
      .withColumn("n_chunks",
        when(col("n_tok") <= size, lit(1L))
          .otherwise(lit(1L) +
            ceil((col("n_tok") - size).cast("double") / stride).cast("long")))
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .select(col("n_tok"), col("chunk_idx"),
        least(lit(size), col("n_tok") - col("chunk_idx") * stride).as("t"))
      .collect().groupBy(_.getLong(0))
      .map { case (n, rs) =>
        n -> rs.sortBy(_.getLong(1)).map(r => r.getLong(1) -> r.getLong(2)).toSeq }
    ns.foreach { n =>
      val want = refChunks(n, size, stride)
      assert(got(n) == want, s"n=$n")
      // coverage invariants the query's consumers rely on
      assert(want.last._1 * stride + want.last._2 == n)
      assert(want.forall { case (_, t) => t > 0 && t <= size })
    }
  }
}
