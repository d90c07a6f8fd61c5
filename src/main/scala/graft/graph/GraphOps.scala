package graft.graph

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over a triples table — the traversal surface the
  * reference declared but never implemented (GREMLIN enum value,
  * protocol/protocol.proto:71; ErrNotImplemented core/query.go:109-112).
  *
  * Every algorithm is one kind of loop: each round joins the per-node
  * state against the edges, aggregates, and ends in a
  * `localCheckpoint` that cuts the lineage (the Pregel superstep as
  * dataflow, GraphX OSDI'14 §4). Round-varying values (depth, rank)
  * travel as columns, never as per-round literals, so rounds after the
  * first reuse the first round's generated code.
  */
object GraphOps {

  /** BFS from `source` following edges in reverse (obj → subj), up to
    * `maxDepth` hops. Returns (node, depth: INT) for every node first
    * reached at depth ≥ 1. Each hop joins the edges on obj ∈ frontier,
    * takes the new subjects at frontier depth + 1, and anti-joins the
    * nodes already reached (the source included); the loop stops at
    * `maxDepth` or when the frontier is empty. The frontier and the
    * reached set are broadcast every hop, which bounds a traversal to
    * the nodes a broadcast holds (millions, not billions).
    */
  def reverseBfs(triples: DataFrame, source: String, maxDepth: Int): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    // a projection of the (cached) triples view: nothing to checkpoint
    val e = triples.select(col("obj").as("node"), col("subj").as("next"))
    var frontier = Seq(source -> 0).toDF("node", "depth").localCheckpoint()
    var reached = frontier
    var size = 1L
    var hop = 0
    while (hop < maxDepth && size > 0) {
      // both state frames are broadcast: their size estimates compound
      // from hop to hop, so unhinted joins flip strategy (and generated
      // code) at whichever hop the estimate crosses the threshold
      val n = Observation()
      frontier = e.join(broadcast(frontier), "node")
        .groupBy(col("next").as("node"))
        .agg((min("depth") + 1).as("depth"))
        .join(broadcast(reached), Seq("node"), "left_anti")
        .observe(n, count(lit(1)).as("n"))
        .localCheckpoint()
      size = n.get("n").asInstanceOf[Long]
      reached = reached.unionByName(frontier).localCheckpoint()
      hop += 1
    }
    reached.filter(col("depth") >= 1)
  }

  /** Degree-joined edge frame + node universe shared by both PageRank
    * loops: (src, dst, od) with one row per EDGE (multi-edges kept —
    * each triple row contributes, matching the oracle), nodes =
    * distinct subj ∪ obj. Both persisted — each feeds every rank
    * round; callers unpersist after materializing their result.
    */
  private def prFrames(triples: DataFrame): (DataFrame, DataFrame) = {
    val edges = triples.select(col("subj").as("src"), col("obj").as("dst"))
    val ed = edges.join(
        edges.groupBy("src").agg(count(lit(1)).as("od")), "src")
      .persist()
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .distinct()
      .persist()
    (ed, nodes)
  }

  /** Float PageRank as a DataFrame loop (staticPageRank semantics:
    * contrib = rank/outDeg, rank' = 0.15 + 0.85·Σ, dangling mass
    * dropped). Rows-only — parallel float summation is reproducible
    * only to ulps, so no hash-exact oracle; [[pageRankFixedPoint]] is
    * the gated twin. The former GraphX per-round graph churn
    * (outerJoinVertices + cache + unpersist on boxed vertex tuples) was
    * measured superlinear at the 100× probe corpus (the exact twin:
    * 196 s vs 8.1 s at 30×); the declarative loop is three keyed
    * shuffles per round over Tungsten rows, with the degree-joined
    * edge frame built once.
    */
  def pageRank(triples: DataFrame, iters: Int = 10): DataFrame = {
    val (ed, nodes) = prFrames(triples)
    var rank = nodes.withColumn("rank", lit(1.0))
    for (_ <- 0 until iters) {
      val contribs = ed.join(rank, col("src") === col("node"))
        .select(col("dst").as("node"), (col("rank") / col("od")).as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      rank = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(0.15) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("rank"))
    }
    val out = rank
      .select(col("node"), (floor(col("rank") * 1e6) / 1e6).as("rank"))
      .cache()
    // finally: a task failure mid-materialization must not leak the
    // persisted per-round frames
    try out.count()
    finally {
      ed.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
    out
  }

  /** Connected components of the undirected graph over `edges` (src,
    * dst — any orderable type, both columns the same): every node is
    * labeled with the MINIMUM node of its component, a label any engine
    * reproduces. Min-label propagation over both edge orientations,
    * until no label changes (GraphX connectedComponents semantics).
    *
    * Two cuts keep the rounds small. Leaves (one incident edge: star
    * spokes, literal objects, most near-dup pairs) take no part in the
    * rounds: each core node starts from the min over itself and ALL its
    * neighbours, leaves included, and a leaf finally takes its
    * neighbour's label (a leaf-leaf edge is its own component). And only
    * core nodes whose label dropped in the last round offer it again.
    * Returns (node, component).
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val e = edges.select(explode(array(
        struct(col("src").as("a"), col("dst").as("b")),
        struct(col("dst").as("a"), col("src").as("b")))).as("e"))
      .select("e.a", "e.b")
      .localCheckpoint()
    // each node's min neighbour and edge count; a leaf's min neighbour
    // is its only one
    val nb = e.groupBy("a").agg(min("b").as("m"), count(lit(1)).as("deg"))
      .localCheckpoint()
    val core = nb.filter(col("deg") > 1).select(col("a"), col("m"))
    // the core and its labels are broadcast too: a join of two shuffled
    // branches lets AQE number its codegen stages in whichever order the
    // branches finish, so reruns compile renamed classes
    val coreEdges = e.join(broadcast(core.select("a")), "a")
      .join(broadcast(core.select(col("a").as("b"))), "b")
      .localCheckpoint()
    // checkpoints a label frame; `moved` marks a label that dropped
    def round(df: DataFrame): (DataFrame, Boolean) = {
      val moved = Observation()
      val out = df.observe(moved, max(col("moved")).as("any")).localCheckpoint()
      (out, moved.get("any") == true)
    }
    var (lab, moving) = round(core.select(col("a").as("node"),
      least(col("a"), col("m")).as("lbl"), (col("m") < col("a")).as("moved")))
    while (moving) {
      // the moved labels and their offers are broadcast for the reason
      // reverseBfs gives
      val offers = coreEdges.join(broadcast(lab.filter(col("moved"))), col("a") === col("node"))
        .groupBy(col("b").as("node"))
        .agg(min("lbl").as("offer"))
      val next = round(lab.join(broadcast(offers), Seq("node"), "left")
        .select(col("node"), least(col("lbl"), col("offer")).as("lbl"),
          coalesce(col("offer") < col("lbl"), lit(false)).as("moved")))
      lab = next._1
      moving = next._2
    }
    val leaves = nb.filter(col("deg") === 1)
      .join(broadcast(lab), col("m") === col("node"), "left")
      .select(col("a").as("node"), coalesce(col("lbl"), least(col("a"), col("m"))).as("component"))
    lab.select(col("node"), col("lbl").as("component")).unionByName(leaves)
  }

  /** Component sizes of the triples graph, each component labeled by
    * its lexicographically smallest node string (the oracle replays
    * the same label in unrolled SQL rounds). The rounds run on 64-bit
    * xxhash ids, as GraphX's murmur VertexIds did: string keys make
    * every round's min a sort, and an order-preserving dictionary costs
    * more than the rounds. One min(node) pass over the labeled nodes
    * then turns each component's id into its min string.
    */
  def componentSizes(triples: DataFrame): DataFrame = {
    val names = triples.select(col("subj").as("name"))
      .union(triples.select(col("obj").as("name")))
      .distinct()
    // the labels are broadcast for the reason connectedComponents gives:
    // left to the size estimates, this join may plan with two shuffled
    // branches, whose codegen stages AQE numbers in finish order
    val labels = connectedComponents(
      triples.select(xxhash64(col("subj")).as("src"), xxhash64(col("obj")).as("dst")))
    names.join(broadcast(labels), xxhash64(col("name")) === col("node"))
      .groupBy("component")
      .agg(min("name").as("label"), count(lit(1)).as("n"))
      .select(col("label").as("component"), col("n"))
  }

  /** Fixed-point PageRank in scaled integer arithmetic (rank units of
    * 1e-6): contrib = rank div outDeg, rank' = 0.15 + 0.85·Σcontrib,
    * all in BIGINT floor division. Integer sums are order-free, so the
    * result is bit-identical on any engine and any partitioning — the
    * oracle-gated twin of the float [[pageRank]] (whose parallel float
    * summation is only reproducible to ulps). Dangling mass is dropped,
    * as in GraphX staticPageRank. Long math headroom: rank mass is
    * nodes·1e6·85 ≈ 1e20 only past ~1e11 nodes; rescale units there.
    */
  def pageRankFixedPoint(triples: DataFrame, iters: Int = 5): DataFrame = {
    val (ed, nodes) = prFrames(triples)
    var rank = nodes.withColumn("rank_u", lit(1000000L))
    for (_ <- 0 until iters) {
      // per-edge contribution rank div outDeg, summed at the target —
      // identical BIGINT floor arithmetic to the unrolled SQL oracle.
      // Message-less nodes still decay to the 150000 dangling floor
      // (left join + coalesce 0, the outerJoinVertices semantics).
      val contribs = ed.join(rank, col("src") === col("node"))
        .select(col("dst").as("node"), expr("rank_u div od").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      rank = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          expr("150000L + 85L * coalesce(s, 0L) div 100L").as("rank_u"))
    }
    val out = rank.cache()
    try out.count()
    finally {
      ed.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
    out
  }

  /** Personalized PageRank for every seed in `seeds` at once, in the
    * same order-free fixed-point BIGINT arithmetic as
    * [[pageRankFixedPoint]], with all teleport mass returning to the
    * seed: rank_0 = 1e6 on the seed; each round contrib = rank div
    * outDeg summed at the target, rank' = 85·Σ div 100, plus 150000 on
    * the seed. State is (seed, node, rank_u) rows, so the frame holds
    * each seed's reached neighbourhood only, and every seed's slice is
    * bit-identical to its single-seed run. A round joins the rank frame
    * with the out-edges of its nodes and counts those edges for the
    * out-degree, so no pass over the whole graph computes degrees. The
    * rank frame is broadcast every round, which bounds the
    * neighbourhoods to what a broadcast holds. Nodes no mass reached
    * are absent; callers filter rank_u > 0.
    */
  def personalizedPageRankFixedPoint(triples: DataFrame, seeds: Seq[String],
      iters: Int): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val edges = triples.select(col("subj").as("src"), col("obj").as("dst"))
    // one zero offer per seed keeps each seed's row, and its teleport
    // term, alive in rounds where no mass flows back to it
    val anchors = seeds.distinct.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(0L).as("c"))
      .localCheckpoint()
    var rank = anchors.select(col("seed"), col("node"), lit(1000000L).as("rank_u"))
      .localCheckpoint()
    val outEdges = Window.partitionBy("seed", "src")
    for (_ <- 1 to iters) {
      rank = broadcast(rank).join(edges, col("node") === col("src"))
        .withColumn("od", count(lit(1)).over(outEdges))
        .select(col("seed"), col("dst").as("node"), expr("rank_u div od").as("c"))
        .unionByName(anchors)
        .groupBy("seed", "node")
        .agg(sum("c").as("s"))
        .select(col("seed"), col("node"),
          expr("85L * s div 100L + CASE WHEN node = seed THEN 150000L ELSE 0L END")
            .as("rank_u"))
        .localCheckpoint()
    }
    rank
  }
}
