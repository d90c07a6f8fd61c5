package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CodegenCounters

import graft.api.{Queries, Tables}
import graft.engine.Engine
import graft.model.{ArrayOp, Triple, TriplePattern}
import graft.store.TripleStore

/** Generated-code stability: a query's second and third back-to-back
  * runs must compile no class — every class the first run generated is
  * served from Spark's codegen cache. A plan whose generated source
  * changes from run to run (a literal that varies per call, codegen
  * stages numbered in the order sibling stages finish, a per-round
  * join-strategy flip) shows here as compiles on every run, and on the
  * benchmark's round-robin sweep as evicted-and-recompiled classes.
  */
class CodegenStabilitySpec extends SparkSpecBase {
  private val dir = "/root/testdata/sf0.001"

  /** Compiles during one run of `df`, executed as graft.Bench does. */
  private def compiles(df: => DataFrame): Long = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val c0 = CodegenCounters.compiles
    df.queryExecution.toRdd.count()
    val n = CodegenCounters.compiles - c0
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true) }
    n
  }

  // the four swept queries, then one other caller of each helper they
  // share (shingleRows/band pairs, the pair-trend fields, the sliced
  // bloom diff; bm25TopK's is the term-list case below). A query that
  // joins two independent branches — search_hybrid_rrf's lexical and
  // dense rankings — is left out: AQE numbers the codegen stages of
  // sibling branches in the order they finish, so its reruns can
  // compile renamed classes whatever its operators generate.
  private val names = Seq(
    "graph_sssp_weighted", "text_bm25_topk", "dedup_minhash", "stats_mann_kendall",
    "dedup_simhash", "dedup_source_matrix", "events_theilsen_slope", "tp_sync_diff_sliced",
    "graph_2hop", "graph_bfs_profile", "graph_cc_sizes", "graph_ppr_batch", "dedup_clusters")

  for (name <- names) test(s"$name: runs 2 and 3 compile no class") {
    // the shared triples view is materialized before any query runs, as
    // graft.Bench does: its first build switches later plans to the cache
    Tables.starTriples(spark, dir).count()
    val q = Queries.registry(name).fn
    val first = compiles(q(spark, dir))
    val again = Seq.fill(2)(compiles(q(spark, dir)))
    assert(again == Seq(0L, 0L),
      s"$name recompiled on rerun: first run $first, runs 2-3 $again")
  }

  test("bm25: another term list and k reuse every class of text_bm25_topk") {
    // the terms travel in the generated class's references and k is not
    // in generated code, so a call with other terms compiles nothing
    val docs = Tables.documents(spark, dir)
    def topk(terms: Seq[String], k: Int) =
      graft.ops.TextOps.bm25TopK(docs, terms, k = k)
        .orderBy(org.apache.spark.sql.functions.desc("bm25"),
          org.apache.spark.sql.functions.asc("doc_id"))
    compiles(topk(Seq("spark", "join", "vector"), 20))
    val n = Seq.fill(3)(compiles(topk(Seq("data", "model", "query"), 7)))
    assert(n == Seq(0L, 0L, 0L), s"bm25 with other terms compiled $n")
  }

  test("weighted SSSP: relaxation rounds after the first compile nothing") {
    val li = Tables.lineitem(spark, dir)
    // one round compiles the edge build, the seed, a round and the top-k;
    // nine rounds must then add no class: rounds 2..9 are round 1's plan
    compiles(graft.ops.Basket.ssspWeighted(li, rounds = 1))
    val n = compiles(graft.ops.Basket.ssspWeighted(li, rounds = 9))
    assert(n == 0L, s"rounds 2..9 compiled $n classes")
  }

  test("graph loops: a deeper BFS and more PPR rounds compile nothing after shallower runs") {
    val triples = Tables.starTriples(spark, dir)
    triples.count()
    // two hops (rounds) compile the seed, a first and a later hop
    // (round); hops 3-4 and rounds 3-6 are the later one's plan. Each
    // loop is checked right after its own warm-up: the two together
    // generate nearly as many classes as Spark's codegen cache keeps
    compiles(graft.graph.GraphOps.reverseBfs(triples, "region:2", maxDepth = 2))
    val bfs = compiles(graft.graph.GraphOps.reverseBfs(triples, "region:1", maxDepth = 4))
    compiles(graft.graph.GraphOps.personalizedPageRankFixedPoint(
      triples, Seq("order:1"), iters = 2))
    val ppr = compiles(graft.graph.GraphOps.personalizedPageRankFixedPoint(
      triples, Seq("order:2", "order:3"), iters = 6))
    assert((bfs, ppr) == ((0L, 0L)), s"deeper BFS, more PPR rounds compiled ${(bfs, ppr)}")
  }

  test("serve: after one query of each shape, other root, part and predicate counts compile nothing") {
    import spark.implicits._
    // a 64-bucket store: n(i) links to n(i+1) and n(i+7) under two
    // predicates and has one name
    val st = new TripleStore(spark, tmpDir("codegen-serve") + "/t", 64)
    def n(i: Int) = s"/n/${i % 500}"
    st.insert((0 until 500).flatMap(i => Seq(Triple(n(i), "/p/a", n(i + 1)),
      Triple(n(i), "/p/b", n(i + 7)), Triple(n(i), "/p/name", s"name $i"))).toDF())
    val eng = new Engine(st)
    def subj(i: Int) = TriplePattern(subj = Some(n(i)))
    def pred(p: String) = TriplePattern(pred = Some(p))
    def or(ps: Seq[TriplePattern]) = ArrayOp.Or(ps)
    def ran(df: => DataFrame): Long = {
      val c0 = CodegenCounters.compiles
      df.collect()
      CodegenCounters.compiles - c0
    }
    def json(parts: Seq[(Int, Option[String])]) = parts.map {
      case (i, None) => s"""{"subj":"${n(i)}"}"""
      case (i, Some(p)) => s"""{"subj":"${n(i)}","pred":"$p"}"""
    }.mkString("[", ",", "]")
    def traverse(roots: Seq[Int], hops: Seq[Seq[String]]) =
      eng.executeQuery(or(roots.map(subj)) +: hops.map(ps => or(ps.map(pred))))
    // one query of each shape. Spark generates a broadcast semi-join's
    // probe loop for unique or for repeated build keys, so a traversal
    // whose frontier repeats a subject (roots 3 and 9 both reach n10, and
    // their next hop reaches n11 and n17 twice) is a shape of its own
    st.count()
    Seq(st.query(or(Seq(subj(1)))),
      eng.queryJson(json(Seq(1 -> None))), eng.queryJson(json(Seq(2 -> Some("/p/a")))),
      eng.queryJson(json(Seq(3 -> None, 4 -> Some("/p/b")))),
      traverse(Seq(1), Seq(Seq("/p/a"))), traverse(Seq(1), Seq(Seq("/p/a"), Seq("/p/b"))),
      traverse(Seq(3, 9), Seq(Seq("/p/a"))), traverse(Seq(3, 9), Seq(Seq("/p/a", "/p/b"), Seq("/p/name")))
    ).foreach(ran(_))
    val compiled = Seq(
      "lookup" -> ran(st.query(or(Seq(subj(42))))),
      "or lookups" -> (2 to 8).map(k => ran(st.query(or((0 until k).map(i => subj(10 * i + k)))))).sum,
      "json" -> Seq(Seq(5 -> None, 6 -> None), Seq(7 -> Some("/p/a"), 8 -> Some("/p/name")),
        Seq(9 -> Some("/p/b"), 10 -> None, 11 -> None), Seq(12 -> None, 13 -> Some("/p/a"),
          14 -> Some("/p/b"))).map(q => ran(eng.queryJson(json(q)))).sum,
      "2-step" -> (1 to 5).map(k => ran(traverse((0 until k).map(_ * 31 + k),
        Seq(Seq("/p/a", "/p/b").take(1 + k % 2))))).sum,
      "3-step" -> (1 to 5).map(k => ran(traverse((0 until k).map(_ * 17 + k),
        Seq(Seq("/p/b", "/p/a").take(1 + k % 2), Seq("/p/name", "/p/a").take(2 - k % 2))))).sum)
    assert(compiled.forall(_._2 == 0), s"classes compiled per shape: $compiled")
  }
}
