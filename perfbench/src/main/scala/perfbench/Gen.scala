package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.model.{ArrayOp, Triple, TriplePattern}

/** Seeded input generators and the in-memory oracle they answer from.
  * Everything here is a pure function of the seed: the same seed gives
  * the same triples, batches and op streams, in the same order.
  */
object Gen {
  /** Independent stream `i` of a seed (SplitMix64 finaliser on the pair). */
  def rng(seed: Long, stream: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  /** Zipf(s) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  val Langs: Array[String] = Array("en", "de", "fr", "es", "ja")

  def key(t: Triple): String = t.subj + "\u0000" + t.pred + "\u0000" + t.obj

  /** The compared projection of a stored triple. */
  type Row4 = (String, String, String, String)
  def row4(t: Triple): Row4 = (t.subj, t.pred, t.obj, t.lang)

  /** Row-level evaluation of the query algebra, the Scala-collections
    * twin of the store's compiled predicate: a pattern matches when every
    * set field is equal; AND/OR fold their operands; NOT negates its one
    * operand.
    */
  def matches(p: TriplePattern, t: Triple): Boolean =
    p.subj.forall(_ == t.subj) && p.pred.forall(_ == t.pred) &&
      p.obj.forall(_ == t.obj) && p.lang.forall(_ == t.lang) &&
      p.author.forall(_ == t.author)

  def matches(op: ArrayOp, t: Triple): Boolean = {
    val operands: Seq[Boolean] =
      op.triples.map(matches(_, t)) ++ op.args.map(matches(_, t))
    op match {
      case _: ArrayOp.Not => !operands.head
      case _: ArrayOp.And => operands.forall(identity)
      case _: ArrayOp.Or  => operands.isEmpty || operands.exists(identity)
    }
  }

  def subjPattern(s: String): TriplePattern = TriplePattern(subj = Some(s))
  def predPattern(p: String): TriplePattern = TriplePattern(pred = Some(p))

  /** A set of triples indexed by subject, the in-memory store the expected
    * answers are computed from.
    */
  final class Index {
    val bySubj = mutable.HashMap.empty[String, mutable.ArrayBuffer[Triple]]
    val keys = mutable.HashSet.empty[String]
    val all = mutable.ArrayBuffer.empty[Triple]
    def add(t: Triple): Boolean =
      keys.add(key(t)) && {
        bySubj.getOrElseUpdate(t.subj, mutable.ArrayBuffer.empty) += t
        all += t
        true
      }
    def contains(t: Triple): Boolean = keys.contains(key(t))
    def ofSubj(s: String): Seq[Triple] = bySubj.getOrElse(s, Nil).toSeq
    def size: Int = all.size

    /** Rows of a rooted op: only the root subjects' rows can match. */
    def rooted(op: ArrayOp, roots: Iterable[String]): Seq[Triple] =
      roots.toSeq.distinct.flatMap(ofSubj).filter(matches(op, _))

    /** `Engine.executeQuery` semantics: step 0 as-is, each later step
      * restricted to subjects among the previous step's objects.
      */
    def traverse(steps: Seq[ArrayOp], roots: Iterable[String]): Seq[Triple] =
      steps.tail.foldLeft(rooted(steps.head, roots)) { (prev, step) =>
        prev.map(_.obj).distinct.flatMap(ofSubj).filter(matches(step, _))
      }
  }

  /** The served graph: `n` distinct triples over `nSubjects` subjects.
    * Subject out-degree is Zipf(0.6); 40% of objects link to a subject
    * (Zipf-popular targets), the rest are literals with a language tag;
    * 50 predicates with a mild Zipf(0.5) skew.
    */
  final class Graph(seed: Long, n: Int) {
    val nSubjects: Int = math.max(50, n / 12)
    val preds: Array[String] = Array.tabulate(50)(i => f"/p/$i%02d")
    def subject(rank: Int): String = "/m/0" + Integer.toString(rank * 7919 + 17, 36)
    val index = new Index
    locally {
      val r = rng(seed, -1L)
      val out = new Zipf(nSubjects, 0.6)
      val target = new Zipf(nSubjects, 0.6)
      val pred = new Zipf(preds.length, 0.5)
      val nLiterals = math.max(100, n / 4)
      while (index.size < n) {
        val s = subject(out.sample(r))
        val p = preds(pred.sample(r))
        val t =
          if (r.nextDouble() < 0.4) Triple(s, p, subject(target.sample(r)))
          else Triple(s, p, "lit:" + r.nextInt(nLiterals), Langs(r.nextInt(Langs.length)))
        index.add(t)
      }
    }
    def triples: Seq[Triple] = index.all.toSeq

    /** Row counts per (pred, lang), for the unrooted ops' expected sizes. */
    val predLang: Map[(String, String), Int] =
      index.all.groupBy(t => (t.pred, t.lang)).map { case (k, v) => k -> v.size }
    def countPred(p: String, lang: String => Boolean): Int =
      predLang.iterator.collect { case ((`p`, l), n) if lang(l) => n }.sum
  }

  /** One `triple_serve` operation with its expected answer. */
  sealed trait ServeOp { def kind: String }
  object ServeOp {
    /** Rooted lookup (`kind` lookup) or OR of rooted subjects (or_lookup). */
    final case class Query(kind: String, op: ArrayOp, expected: Seq[Row4]) extends ServeOp
    /** Unrooted AND/NOT with a limit: checked by size and per-row match. */
    final case class Limited(op: ArrayOp, limit: Int, expectedSize: Int) extends ServeOp {
      def kind = "unrooted"
    }
    final case class Traverse(steps: Seq[ArrayOp], expected: Seq[Row4]) extends ServeOp {
      def kind = "traverse"
    }
    final case class Json(json: String, expected: Seq[Row4]) extends ServeOp {
      def kind = "json"
    }
    final case class Count(expected: Long) extends ServeOp { def kind = "count" }
  }

  /** The `triple_serve` mix in blocks of 20 ops, each block holding the
    * mix exactly (45% rooted lookups, 15% OR of rooted subjects, 10%
    * unrooted AND/NOT, 15% traversals, 10% JSON queries, 5% counts) in a
    * seed-shuffled order, so every run sees the same proportions. Op `i`
    * depends only on (seed, i).
    */
  final class ServeStream(seed: Long, g: Graph) {
    import ServeOp._
    private val popular = new Zipf(g.nSubjects, 0.8)
    private val MaxRows = 20000

    def op(i: Long): ServeOp = {
      val kinds = shuffle(ServeStream.Block, rng(seed, -10L - i / ServeStream.Block.size))
      val pos = (i % kinds.size).toInt
      // traversals alternate between 2 and 3 steps within a block
      of(kinds(pos), rng(seed, i), 2 + kinds.take(pos).count(_ == "traverse") % 2)
    }

    def of(kind: String, r: SplittableRandom, steps: Int = 2): ServeOp = {
      def subj(): String = g.subject(popular.sample(r))
      kind match {
        case "lookup" =>
          val s = subj()
          Query("lookup", ArrayOp.leaf(subjPattern(s)), g.index.ofSubj(s).map(row4))
        case "or_lookup" =>
          val roots = Seq.fill(2 + r.nextInt(7))(subj())
          val op = ArrayOp.Or(roots.map(subjPattern))
          Query("or_lookup", op, g.index.rooted(op, roots).map(row4))
        case "unrooted" =>
          val p = g.preds(r.nextInt(g.preds.length))
          val l = Langs(r.nextInt(Langs.length))
          val (op, n) = r.nextInt(3) match {
            case 0 => (ArrayOp.And(Seq(predPattern(p), TriplePattern(lang = Some(l)))),
              g.countPred(p, _ == l))
            case 1 => (ArrayOp.And(Seq(predPattern(p)),
              Seq(ArrayOp.Not(Seq(TriplePattern(lang = Some(l)))))),
              g.countPred(p, _ != l))
            case _ => (ArrayOp.And(Nil, Seq(ArrayOp.Or(Seq(predPattern(p))),
              ArrayOp.Not(Seq(TriplePattern(lang = Some("")))),
              ArrayOp.Not(Seq(TriplePattern(lang = Some(l)))))),
              g.countPred(p, x => x != "" && x != l))
          }
          Limited(op, 100, math.min(100, n))
        case "traverse" =>
          // resample until the traversal's answer stays collectable
          Iterator.continually {
            val roots = Seq.fill(1 + r.nextInt(5))(subj())
            val hops = ArrayOp.Or(roots.map(subjPattern)) +:
              Seq.fill(steps - 1)(ArrayOp.Or(Seq.fill(1 + r.nextInt(2))(
                predPattern(g.preds(r.nextInt(g.preds.length))))))
            (hops, g.index.traverse(hops, roots))
          }.collectFirst { case (hops, rows) if rows.size <= MaxRows =>
            Traverse(hops, rows.map(row4))
          }.get
        case "json" =>
          val parts = Seq.fill(1 + r.nextInt(3)) {
            val s = subj()
            if (r.nextBoolean()) (s, None) else (s, Some(g.preds(r.nextInt(g.preds.length))))
          }
          val json = parts.map {
            case (s, None)    => s"""{"subj":"$s"}"""
            case (s, Some(p)) => s"""{"subj":"$s","pred":"$p"}"""
          }.mkString("[", ",", "]")
          val op = ArrayOp.Or(parts.map { case (s, p) => TriplePattern(subj = Some(s), pred = p) })
          Json(json, g.index.rooted(op, parts.map(_._1)).map(row4))
        case "count" => Count(g.index.size.toLong)
      }
    }
  }

  object ServeStream {
    val Block: Seq[String] = Seq.fill(9)("lookup") ++ Seq.fill(3)("or_lookup") ++
      Seq.fill(2)("unrooted") ++ Seq.fill(3)("traverse") ++ Seq.fill(2)("json") ++ Seq("count")
  }

  /** One `triple_ingest` batch with what it must do to the store. */
  final case class Batch(rows: Seq[Triple], novel: Int, signed: Boolean,
      lookups: Seq[(String, Seq[Row4])])

  /** The `triple_ingest` batch stream. Each batch is ~60% novel triples,
    * ~30% triples already stored and ~10% repeats of its own novel rows,
    * shuffled; every fifth batch is signed. Batches must be drawn in
    * order: each one is generated against the store the earlier ones
    * produced.
    */
  final class IngestStream(seed: Long, batchSize: Int, lookupsPerBatch: Int) {
    val store = new Index
    private val nSubjects = math.max(50, batchSize)
    private val subjects = new Zipf(nSubjects, 0.6)
    private var next = 0

    def batch(): Batch = {
      val i = next
      next += 1
      val r = rng(seed, 1000000L + i)
      val nNovel = batchSize * 6 / 10
      val nOld = math.min(batchSize * 3 / 10, store.size)
      val nDup = batchSize - nNovel - nOld
      val fresh = new Index
      while (fresh.size < nNovel) {
        val s = "/i/" + Integer.toString(subjects.sample(r) * 7919 + 17, 36)
        val t = Triple(s, "/p/" + r.nextInt(20), "v:" + r.nextInt(Int.MaxValue),
          Langs(r.nextInt(Langs.length)))
        if (!store.contains(t)) fresh.add(t)
      }
      val old = Seq.fill(nOld)(store.all(r.nextInt(store.size)))
      val dups = Seq.fill(nDup)(fresh.all(r.nextInt(nNovel)))
      val rows = shuffle(fresh.all.toSeq ++ old ++ dups, r)
      fresh.all.foreach(store.add)
      val lookups = Seq.fill(lookupsPerBatch)(fresh.all(r.nextInt(nNovel)).subj).distinct
        .map(s => s -> store.ofSubj(s).map(row4))
      Batch(rows, nNovel, signed = i % 5 == 4, lookups)
    }
  }

  /** Two diverging replicas for the sync phase: `local` holds the base
    * set, `peer` lacks ~5% of it and holds ~2% extra triples of its own.
    */
  final case class Replicas(local: Seq[Triple], peer: Seq[Triple],
      missingFromPeer: Int, extraOnPeer: Int)

  def replicas(seed: Long, n: Int): Replicas = {
    val r = rng(seed, -2L)
    val subjects = new Zipf(math.max(50, n / 10), 0.6)
    val base = new Index
    def draw(): Triple = Triple("/r/" + Integer.toString(subjects.sample(r) * 7919 + 17, 36),
      "/p/" + r.nextInt(30), "v:" + r.nextInt(Int.MaxValue), Langs(r.nextInt(Langs.length)))
    while (base.size < n) base.add(draw())
    val extra = new Index
    while (extra.size < n / 50) { val t = draw(); if (!base.contains(t)) extra.add(t) }
    val missing = base.all.filter(_ => r.nextInt(20) == 0)
    val gone = missing.map(key).toSet
    Replicas(base.all.toSeq, base.all.filterNot(t => gone(key(t))).toSeq ++ extra.all,
      missing.size, extra.size)
  }

  def shuffle[A](xs: Seq[A], r: SplittableRandom): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq.asInstanceOf[Seq[A]]
  }
}
