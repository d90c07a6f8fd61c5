package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.expr.PatternCompiler
import graft.model.{ArrayOp, TriplePattern}
import QueriesShared._

/** Graph analytics over the shared triple graph.
  *
  * One contiguous, ORDER-PRESERVING slice of the declared query
  * surface; [[Queries.registry]] concatenates the slices in the
  * original declaration order. Entries are (name -> Q) pairs exactly
  * as they appeared in the pre-split Queries.scala.
  */
private[api] object QueriesGraphX {
  val entries: Seq[(String, Q)] = Seq(
    // ===== Extension: graph analytics =====
    // 2-hop reverse reachability from a region node via BFS; oracle =
    // the equivalent 2 joins.
    "graph_2hop" -> Q(
      (s, d) => graft.graph.GraphOps
        .reverseBfs(Tables.starTriples(s, d), "region:2", maxDepth = 2)
        .withColumn("depth", col("depth").cast("long"))
        .orderBy("depth", "node"),
      Some(withCte(
        """SELECT subj AS node, CAST(1 AS BIGINT) AS depth FROM triples
          |WHERE pred = 'region' AND obj = 'region:2'
          |UNION ALL
          |SELECT t.subj AS node, CAST(2 AS BIGINT) AS depth FROM triples t
          |WHERE t.pred = 'nation' AND EXISTS (
          |  SELECT 1 FROM triples w
          |  WHERE w.pred = 'region' AND w.obj = 'region:2' AND w.subj = t.obj)
          |ORDER BY depth, node""".stripMargin))),

    // PageRank over the triples graph (staticPageRank semantics, as a
    // DataFrame loop — rows-only: parallel float summation is only
    // reproducible to ulps, so no hash-exact SQL oracle;
    // graph_pagerank_exact below is the gated twin). Top-100 for
    // bounded output.
    "graph_pagerank" -> Q(
      (s, d) => graft.graph.GraphOps
        .pageRank(Tables.starTriples(s, d), iters = 5)
        .orderBy(desc("rank"), asc("node")).limit(100),
      None),

    // Fixed-point integer PageRank — order-free BIGINT arithmetic, so
    // the 5-iteration unrolled DuckDB oracle matches bit-for-bit.
    "graph_pagerank_exact" -> Q(
      (s, d) => graft.graph.GraphOps
        .pageRankFixedPoint(Tables.starTriples(s, d), iters = 5)
        .orderBy(desc("rank_u"), asc("node")).limit(100),
      Some(GraphSql.pagerankFixedPoint(iters = 5, limit = 100))),

    // Personalized PageRank from a seed entity — the "related nodes"
    // recommendation scorer (rank ∝ seed-restarting-walk visit
    // frequency). Same order-free fixed-point BIGINT loop as the exact
    // PageRank, teleporting to the seed only — the batch PPR with one
    // seed; the rank frame holds the seed's reached neighborhood only.
    // Oracle unrolls the same 5 rounds.
    "graph_ppr_related" -> Q(
      (s, d) => graft.graph.GraphOps
        .personalizedPageRankFixedPoint(Tables.starTriples(s, d), Seq("order:1"), iters = 5)
        .filter(col("rank_u") > 0)
        .select("node", "rank_u")
        .orderBy(desc("rank_u"), asc("node")),
      Some(GraphSql.personalizedPagerank("order:1", iters = 5))),

    // BATCHED multi-seed PPR — "related nodes for every query entity"
    // in one pass: rank state is keyed by (seed, node) rows, so k seeds
    // share each round's join against the edge frame instead of running
    // k passes. Per-pair arithmetic is the same order-free BIGINT loop,
    // so each seed's slice is bit-identical to its single-seed run — the
    // oracle IS the single-seed SQL unioned per seed.
    "graph_ppr_batch" -> Q(
      (s, d) => graft.graph.GraphOps
        .personalizedPageRankFixedPoint(Tables.starTriples(s, d),
          Seq("order:1", "order:2", "order:3"), iters = 5)
        .filter(col("rank_u") > 0)
        .orderBy(asc("seed"), desc("rank_u"), asc("node")),
      Some(GraphSql.personalizedPagerankBatch(
        Seq("order:1", "order:2", "order:3"), iters = 5))),

    // Connected-component sizes, labeled by each component's minimum
    // node string (portable — oracle is 20 unrolled min-label rounds).
    "graph_cc_sizes" -> Q(
      (s, d) => graft.graph.GraphOps
        .componentSizes(Tables.starTriples(s, d))
        .orderBy(desc("n"), asc("component")).limit(20),
      Some(GraphSql.ccSizes(rounds = 20, limit = 20))),

    // BFS depth profile: frontier size per hop from a seed (the
    // reachability fan-out report). Each hop joins only the frontier's
    // in-edges; the oracle unrolls the layered star schema.
    "graph_bfs_profile" -> Q(
      (s, d) => graft.graph.GraphOps
        .reverseBfs(Tables.starTriples(s, d), "region:2", maxDepth = 4)
        .groupBy(col("depth").cast("long").as("depth"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("depth"),
      Some(s"""WITH ${StarTriples.sqlCte},
        |d1 AS (SELECT DISTINCT subj FROM triples
        |       WHERE pred = 'region' AND obj = 'region:2'),
        |d2 AS (SELECT DISTINCT t.subj FROM triples t
        |       JOIN d1 ON t.obj = d1.subj WHERE t.pred = 'nation'),
        |d3 AS (SELECT DISTINCT t.subj FROM triples t
        |       JOIN d2 ON t.obj = d2.subj WHERE t.pred = 'customer')
        |SELECT depth, count(*) AS n_nodes FROM (
        |  SELECT subj, CAST(1 AS BIGINT) AS depth FROM d1
        |  UNION ALL SELECT subj, 2 FROM d2
        |  UNION ALL SELECT subj, 3 FROM d3)
        |GROUP BY depth ORDER BY depth""".stripMargin)),

    // Per-predicate cardinality statistics (count + distinct subjects /
    // objects) — the statistics a distributed triple-store planner
    // feeds its join ordering (selectivity = n/n_subj per pred). One
    // map-side-combining aggregate over the triples view.
    "tp_pred_stats" -> Q(
      (s, d) => Tables.starTriples(s, d)
        .groupBy("pred")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("subj")).as("n_subj"),
          countDistinct(col("obj")).as("n_obj"))
        .orderBy("pred"),
      Some(withCte(
        """SELECT pred, count(*) AS n, count(DISTINCT subj) AS n_subj,
          |  count(DISTINCT obj) AS n_obj
          |FROM triples GROUP BY pred ORDER BY pred""".stripMargin))),

    // The reference's intended bloom reconciliation (SURVEY §2 #18-19;
    // its replication TODO) end-to-end as a declared query, on the
    // store's one bloom diff (TripleStore.bloomDiff) with one slice: a
    // "local" replica holds the keyspace slice K of the ring (a WRAPPING
    // interval, so both branches of the unsigned-interval test are
    // exercised) but is missing every 'nation' edge; the sync diff is
    // the peer's K-sliced triples whose canonical key does NOT probe
    // positive in the local bloom — exactly what syncFromSliced ships
    // into its dedup insert. Ring position is the portable 60-bit md5
    // hash so the oracle replays the slice; the oracle is the EXACT set
    // difference. NOTE the hash gate is therefore PROBABILISTIC, not
    // structural: a bloom false positive would drop a diff triple and
    // fail the gate, with per-run probability ≈ n_diff · 1e-9 (~10⁻⁶ at
    // the sf0.01 fixture's ~800 diff rows) — negligible, and the sync
    // insert absorbs even that residue, but if this gate ever flakes,
    // regate rows-only with an OpsSpec oracle⊇result check rather than
    // chasing a phantom regression.
    "tp_sync_diff" -> Q(
      (s, d) => syncDiff(s, d, Seq(syncHalf)),
      Some(syncDiffOracle)),

    // tp_sync_diff in K = 4 ring slices — TripleStore.syncFromSliced's
    // form: each slice gets its OWN fraction-sized filter, all four
    // built in one scan of the local side and probed in one scan of the
    // peer by slice index. A key's membership never needs another
    // slice's filter, so the diff equals tp_sync_diff's row-for-row (up
    // to the same ~1e-9 FP residue). The four slices are the equal
    // quarters of tp_sync_diff's wrapping half-ring on the 60-bit md5
    // ring, written as wrap-free uint64 intervals (2⁶⁰ = 8·2⁵⁷ is the
    // ring top, so [7·2⁵⁷, 2⁶⁰) is the quarter that touches it). Gated
    // by the SAME exact set-difference oracle as tp_sync_diff.
    "tp_sync_diff_sliced" -> Q(
      (s, d) => syncDiff(s, d, Seq(
        graft.model.Keyspace(3L << 58, 7L << 57), // [3·2⁵⁸, 3.5·2⁵⁸)
        graft.model.Keyspace(7L << 57, 1L << 60), // [3.5·2⁵⁸, 2⁶⁰)
        graft.model.Keyspace(0L, 1L << 57),       // [0, 0.5·2⁵⁸)
        graft.model.Keyspace(1L << 57, 1L << 58))), // [0.5·2⁵⁸, 2⁵⁸)
      Some(syncDiffOracle)),

    // Degree distribution of the triples graph (the classic power-law
    // sanity report): out-degree per subject, then a histogram over
    // degrees. Two map-side-combining aggregates, key spaces |V| then
    // |distinct degrees| — no wide row ever materializes.
    "graph_degree_distribution" -> Q(
      (s, d) => Tables.starTriples(s, d)
        .groupBy("subj").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg"),
      Some(withCte(
        """SELECT deg, count(*) AS n_nodes
          |FROM (SELECT subj, count(*) AS deg FROM triples GROUP BY subj)
          |GROUP BY deg ORDER BY deg""".stripMargin)))

  )

  /** tp_sync_diff's slice of the 60-bit md5 ring: [3·2⁵⁸, 2⁵⁸), the
    * wrapping half.
    */
  private def syncHalf = graft.model.Keyspace(3L << 58, 1L << 58)

  /** The peer holds the triples whose md5 subject hash falls in
    * [[syncHalf]], the local replica the same minus every 'nation' edge;
    * the diff runs with one filter per slice of `slices` (which tile the
    * half), each capped at its fraction of the 2⁶⁰ ring.
    */
  private def syncDiff(s: SparkSession, d: String,
      slices: Seq[graft.model.Keyspace]): DataFrame = {
    val ts = graft.store.TripleStore
    val gf = graft.functions.GraftFunctions
    val triples = Tables.starTriples(s, d)
    val rows = triples.count() // prunes to row counts at the sources
    val caps = slices.map(ks =>
      ts.sliceCap(rows, math.floorMod(ks.end - ks.start, 1L << 60) / math.pow(2.0, 60)))
    // a triple outside the half has no slice, so it is neither built nor
    // probed: the slice index is the peer's membership test, and the
    // probe filter evaluates the subject hash once per row
    ts.bloomDiff(triples.filter(col("pred") =!= "nation"), triples,
        gf.canonicalKey(col("subj"), col("pred"), col("obj"), lit("")),
        ts.sliceIdCol(slices, gf.md5Hash60(col("subj"))), caps)
      .select("subj", "pred", "obj")
      .orderBy("subj", "pred", "obj")
  }

  /** The exact set difference, for both sync-diff queries. A def, not a
    * val: `entries`, which reads it, is initialized first.
    */
  private def syncDiffOracle: String = withCte(
    s"""SELECT subj, pred, obj FROM triples
       |WHERE pred = 'nation'
       |  AND (${GraphSql.md5Hash60("subj")} < ${1L << 58}
       |       OR ${GraphSql.md5Hash60("subj")} >= ${3L << 58})
       |ORDER BY subj, pred, obj""".stripMargin)
}
