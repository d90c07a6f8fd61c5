package graft.ops

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Market-basket / co-occurrence-graph operators over the order lines:
  * association rules (support / confidence / lift) and triangle counting
  * on the support-pruned co-order graph.
  *
  * Scale shape: the pair explode is bounded per order by the max basket
  * width (TPC-H ≤ 7–13 items ⇒ ≤ C(13,2) = 78 pair rows per order), so
  * pair volume is O(rows · basket), one shuffle on (pa, pb). The
  * support threshold then prunes the edge set before any graph step —
  * random co-orders almost never repeat, so support ≥ 2 cuts the 100 TB
  * edge set by orders of magnitude BEFORE the triangle join (the same
  * candidates-then-verify discipline as the dedup family). The triangle
  * enumeration is two keyed joins on the pruned edges (Σ deg² of the
  * pruned adjacency, the standard node-iterator bound); edges carry
  * `pa < pb` so each triangle is counted exactly once as a < b < c.
  * All derived metrics are exact integer arithmetic (DECIMAL(38,0)
  * products, integral division) — layout- and engine-invariant.
  */
object Basket {

  /** Distinct (order, part) incidence — baskets as a bipartite edge list. */
  def orderParts(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()

  /** Co-order edges (pa < pb) with their support count, pruned at
    * `minSupport`. One self-join keyed on the order (bounded fan-out per
    * key = basket width), one aggregation shuffle on the pair.
    */
  def coOrderEdges(lineitem: DataFrame, minSupport: Int = 2): DataFrame = {
    val op = orderParts(lineitem)
    op.select(col("ok"), col("pk").as("pa"))
      .join(op.select(col("ok"), col("pk").as("pb")), "ok")
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
  }

  /** Association rules over the support-pruned pairs: for each unordered
    * pair {a, b}, confidence(a→b) = n_both / n_a and the symmetric lift
    * = n_both · n_orders / (n_a · n_b), both ×1e6 in exact integer
    * arithmetic. Per-part counts join in from one aggregation of the
    * incidence list; the order total is a broadcast scalar.
    */
  def assocRules(lineitem: DataFrame, minSupport: Int = 2): DataFrame = {
    val op = orderParts(lineitem)
    val perPart = op.groupBy("pk").agg(count(lit(1)).as("n_part"))
    val nOrders = op.agg(countDistinct(col("ok")).as("n_orders"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    coOrderEdges(lineitem, minSupport)
      .join(perPart.select(col("pk").as("pa"), col("n_part").as("n_a")), "pa")
      .join(perPart.select(col("pk").as("pb"), col("n_part").as("n_b")), "pb")
      .crossJoin(broadcast(nOrders))
      .withColumn("conf_ab_x1e6",
        graft.functions.GraftFunctions.longDiv(
          dec(col("n_both")) * dec(lit(1000000L)), dec(col("n_a"))).cast("long"))
      .withColumn("lift_x1e6",
        graft.functions.GraftFunctions.longDiv(
          dec(col("n_both")) * dec(col("n_orders")) * dec(lit(1000000L)),
          dec(col("n_a")) * dec(col("n_b"))).cast("long"))
      .select("pa", "pb", "n_both", "conf_ab_x1e6", "lift_x1e6")
  }

  /** Triangle count on the support-pruned co-order graph. Edges are
    * oriented a < b, so the two keyed joins enumerate each triangle
    * once: (a,b) ⋈_b (b,c) produces wedges a < b < c, closed by the
    * (a,c) edge. Returns one row: edges in the pruned graph, wedges, and
    * closed triangles (the global clustering numerator).
    */
  def triangleStats(lineitem: DataFrame, minSupport: Int = 2): DataFrame = {
    val e = coOrderEdges(lineitem, minSupport).select("pa", "pb").cache()
    val wedges = e.select(col("pa").as("a"), col("pb").as("b"))
      .join(e.select(col("pa").as("b"), col("pb").as("c")), "b")
    val triangles = wedges
      .join(e.select(col("pa").as("a"), col("pb").as("c")), Seq("a", "c"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(triangles.agg(count(lit(1)).as("n_triangles")))
      .select("n_edges", "n_wedges", "n_triangles")
  }

  /** Local clustering coefficient histogram over the support-pruned
    * co-order graph. Per-node triangle counts come from UNDIRECTED
    * wedges (neighbor-list self-join keyed on the center, endpoints
    * ordered a < c so the closing edge is probed once) — each triangle
    * closes exactly one wedge per center, so the closed-wedge count
    * grouped by center IS tri(v). cc(v) = 2·tri / (deg·(deg−1)) ×1e6 in
    * exact integer arithmetic, bucketed into 11 bins (0.0 … 1.0). Same
    * Σdeg² node-iterator bound as [[triangleStats]]; the histogram keeps
    * the result frame O(1) regardless of corpus.
    */
  def clusteringCoeff(lineitem: DataFrame, minSupport: Int = 2,
      bucketWidthX1e6: Long = 100000L): DataFrame = {
    val e = coOrderEdges(lineitem, minSupport).select("pa", "pb").cache()
    val nbrs = e.select(col("pa").as("b"), col("pb").as("x"))
      .unionAll(e.select(col("pb").as("b"), col("pa").as("x")))
    val deg = nbrs.groupBy(col("b").as("node")).agg(count(lit(1)).as("deg"))
    val wed = nbrs.select(col("b"), col("x").as("a"))
      .join(nbrs.select(col("b"), col("x").as("c")), "b")
      .filter(col("a") < col("c"))
    val closed = wed
      .join(e.select(col("pa").as("a"), col("pb").as("c")), Seq("a", "c"), "left_semi")
    val triPerNode = closed.groupBy(col("b").as("node")).agg(count(lit(1)).as("tri"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    deg.filter(col("deg") >= 2)
      .join(triPerNode, Seq("node"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .withColumn("cc_x1e6", graft.functions.GraftFunctions.longDiv(
        dec(col("tri")) * dec(lit(2000000L)),
        dec(col("deg")) * dec(col("deg") - 1)).cast("long"))
      .groupBy(expr(s"cc_x1e6 div $bucketWidthX1e6").cast("long").as("cc_bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("cc_x1e6")).cast("long").as("sum_cc_x1e6"))
      .orderBy("cc_bucket")
  }

  /** Link prediction on the support-pruned co-order graph: score
    * NON-adjacent part pairs by common-neighbor Jaccard
    * |N(a)∩N(c)| / |N(a)∪N(c)| ×1e6 (exact integers via
    * deg_a + deg_c − common). Candidates come only from wedges (pairs
    * sharing ≥1 neighbor — a keyed self-join of the undirected
    * neighbor list, Σdeg² bounded by the support prune exactly like
    * [[triangleStats]]); existing edges are removed with one anti-join.
    * The recommendation shape: "parts bought with the same things but
    * never together".
    */
  def linkPrediction(lineitem: DataFrame, minSupport: Int = 2,
      k: Int = 20): DataFrame = {
    // the edge frame feeds FOUR subtrees (both wedge sides, the degree
    // agg, the anti-join) — materialize the expensive co-order
    // derivation once instead of re-running its self-join per consumer
    val e = coOrderEdges(lineitem, minSupport).select("pa", "pb")
      .localCheckpoint(true)
    val n = e.select(col("pa").as("b"), col("pb").as("x"))
      .unionByName(e.select(col("pb").as("b"), col("pa").as("x")))
    val deg = n.groupBy("x").agg(count(lit(1)).as("deg"))
    val common = n.select(col("b"), col("x").as("a"))
      .join(n.select(col("b"), col("x").as("c")), "b")
      .filter(col("a") < col("c"))
      .groupBy("a", "c").agg(count(lit(1)).as("common"))
    common
      .join(e.select(col("pa").as("a"), col("pb").as("c")), Seq("a", "c"), "left_anti")
      .join(deg.select(col("x").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("x").as("c"), col("deg").as("deg_c")), "c")
      .withColumn("jaccard_x1e6", expr(
        "common * 1000000L div (deg_a + deg_c - common)"))
      .select(col("a"), col("c"), col("common").cast("long").as("common"),
        col("jaccard_x1e6").cast("long").as("jaccard_x1e6"))
      .orderBy(desc("jaccard_x1e6"), desc("common"), asc("a"), asc("c"))
      .limit(k)
  }

  /** k-core of the support-pruned co-order graph by `rounds` fixed
    * peeling passes: drop nodes of degree < k, re-derive the induced
    * edge set, repeat. A FIXED round count (not run-to-fixpoint) keeps
    * the plan finite and the DuckDB oracle a mechanical unroll; the
    * spec asserts the corpus reaches its fixpoint within the declared
    * rounds (an extra peel changes nothing). Each round is one degree
    * aggregation + two semi-joins on the shrinking edge set — the
    * standard distributed peeling step, cost bounded by the CURRENT
    * round's edges.
    */
  def kCore(lineitem: DataFrame, k: Int = 3, rounds: Int = 5,
      minSupport: Int = 2): DataFrame = {
    // each round references the previous edge set several times (degree
    // union ×2 + two semi-joins), so an unbroken lineage would nest the
    // previous round's plan ~5× per round — combinatorial plan growth
    // (measured: round 5's plan string alone OOMed the test JVM).
    // localCheckpoint truncates the lineage to the materialized RDD
    // each round, the standard step for iterative DataFrame algorithms
    // (on a cluster with executor churn, swap for reliable checkpoint).
    var e = coOrderEdges(lineitem, minSupport).select("pa", "pb")
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val deg = e.select(col("pa").as("node"))
        .unionByName(e.select(col("pb").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      e = e.join(keep.withColumnRenamed("node", "pa"), Seq("pa"), "left_semi")
        .join(keep.withColumnRenamed("node", "pb"), Seq("pb"), "left_semi")
        .localCheckpoint(true)
    }
    val nodes = e.select(col("pa").as("node"))
      .unionByName(e.select(col("pb").as("node"))).distinct()
    nodes.agg(count(lit(1)).as("n_core_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_core_edges")))
      .select("n_core_nodes", "n_core_edges")
  }

  /** k-truss of the support-pruned co-order graph (Cohen 2008): keep
    * edges supported by ≥ k−2 triangles, re-deriving support on the
    * surviving edges for `rounds` declared peeling passes — the
    * edge-grain sibling of [[kCore]] (node degree → edge triangle
    * support), and a strictly stronger cohesion filter: every k-truss
    * edge lies in the (k−1)-core. Fixed rounds keep the oracle a
    * mechanical unroll; the spec asserts the corpus fixpoint lands
    * within them.
    *
    * Scale shape per round: one wedge join on the middle node + one
    * left-semi closure probe against the edge set (Σ deg² of the
    * SHRINKING adjacency, the node-iterator bound) + one per-edge
    * support aggregation + one left-semi filter — all keyed, nothing
    * wider than the wedge frame materializes, and each triangle
    * (a < b < c) charges its three edges exactly once. Per-round
    * localCheckpoint truncates the lineage exactly like [[kCore]].
    */
  def kTruss(lineitem: DataFrame, k: Int = 4, rounds: Int = 3,
      minSupport: Int = 2): DataFrame = {
    var e = coOrderEdges(lineitem, minSupport).select("pa", "pb")
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val w = e.select(col("pa").as("a"), col("pb").as("b"))
        .join(e.select(col("pa").as("b"), col("pb").as("c")), "b")
      val tri = w.join(e.select(col("pa").as("a"), col("pb").as("c")),
        Seq("a", "c"), "left_semi")
      val sup = tri.select(col("a").as("pa"), col("b").as("pb"))
        .unionByName(tri.select(col("b").as("pa"), col("c").as("pb")))
        .unionByName(tri.select(col("a").as("pa"), col("c").as("pb")))
        .groupBy("pa", "pb").agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= k - 2)
        .select("pa", "pb")
      e = e.join(sup, Seq("pa", "pb"), "left_semi").localCheckpoint(true)
    }
    val nodes = e.select(col("pa").as("node"))
      .unionByName(e.select(col("pb").as("node"))).distinct()
    nodes.agg(count(lit(1)).as("n_truss_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_truss_edges")))
      .select("n_truss_nodes", "n_truss_edges")
  }

  /** Weighted single-source shortest paths over the support-pruned
    * co-order graph by at most `rounds` Bellman-Ford relaxations: edge
    * cost 10⁶ div n_both (stronger co-purchase = cheaper hop), seed = the
    * highest-degree node (ties → smallest id; the min-id seed landed in
    * a 2-node component at sf0.1). Exact for all paths of ≤ rounds
    * hops — the same declared-rounds contract as [[kCore]] (the spec
    * asserts the corpus fixpoint lands within them).
    *
    * Round shape (active-set Bellman-Ford, the GraphX superstep
    * restricted to active vertices): the both-orientation edge set is
    * partitioned on `src` and laid out once as per-partition sorted
    * adjacency arrays ([[SsspPartition]]), persisted by the first job
    * over it and unpersisted on exit. Distances live in a driver map.
    * Each round broadcasts only the nodes whose distance fell in the
    * previous round (the seed in round 1), and one `mapPartitions` +
    * collect returns each partition's per-`dst` minimum offer, which the
    * driver merges.
    * A node that did not fall already offered its current distance, so
    * skipping it changes nothing: after r rounds the map equals plain
    * Bellman-Ford after r rounds. The loop stops after `rounds` rounds
    * or on the first round that lowers no distance, where plain
    * Bellman-Ford has reached its fixpoint.
    *
    * Jobs: the edge build's, one for the seed (it also materializes the
    * layout) and one per executed round. The rounds are RDD closures
    * over primitive arrays, so no round generates a class; the top-k
    * by (dist, node) comes back as a local frame of (node: the
    * co-order node type, dist: BIGINT not null).
    *
    * Scale shape: the driver map holds at most the reached nodes, the
    * bound the former per-round broadcast of the whole distance frame
    * already put on the driver. A round probes, per partition, each
    * edge-list source against the active set or each active node
    * against the sources, whichever side is smaller — never wider than
    * a hash join of the edges with the active set.
    */
  def ssspWeighted(lineitem: DataFrame, rounds: Int = 5,
      minSupport: Int = 2, k: Int = 20): DataFrame = {
    val e0 = coOrderEdges(lineitem, minSupport)
    val node = e0.schema("pa")
    val out: Long => Any = node.dataType match {
      case LongType => identity
      case IntegerType => _.toInt
      case t => throw new IllegalArgumentException(s"co-order node type $t is not BIGINT or INT")
    }
    val laid = ssspEdges(e0)
    val dist = try relaxFromDensest(laid, rounds) finally laid.unpersist(blocking = false)
    val top = dist.toArray.sortBy { case (v, d) => (d, v) }.take(k)
      .map { case (v, d) => Row(out(v), d) }
    lineitem.sparkSession.createDataFrame(java.util.Arrays.asList(top: _*),
      StructType(Seq(node.copy(name = "node"), StructField("dist", LongType, nullable = false))))
  }

  /** [[ssspWeighted]]'s edge layout: both orientations of the co-order
    * edges `e0` with cost 10⁶ div n_both, hash-partitioned on `src` and
    * sorted within partitions, one [[SsspPartition]] per partition.
    * Persisted, so the first job over it stores it; callers unpersist
    * it.
    */
  private[graft] def ssspEdges(e0: DataFrame): RDD[SsspPartition] = {
    val w = expr("1000000L div n_both")
    val pa = col("pa").cast("long")
    val pb = col("pb").cast("long")
    e0.select(explode(array(
        struct(pa.as("src"), pb.as("dst"), w.as("w")),
        struct(pb.as("src"), pa.as("dst"), w.as("w")))).as("e"))
      .select("e.src", "e.dst", "e.w")
      .repartition(col("src"))
      .sortWithinPartitions("src")
      .queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(SsspPartition(rows)))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Distances from the highest-degree node of `laid` after at most
    * `rounds` active-set relaxations (see [[ssspWeighted]]); empty when
    * the graph has no edge.
    */
  private def relaxFromDensest(laid: RDD[SsspPartition],
      rounds: Int): mutable.LongMap[Long] = {
    val sc = laid.sparkContext
    val dist = mutable.LongMap.empty[Long]
    // every src of a partition lives in that partition only, so its
    // local degree is its degree
    val seeds = laid.flatMap(_.densest).collect()
    if (seeds.nonEmpty) {
      val seed = seeds.minBy { case (deg, v) => (-deg, v) }._2
      dist(seed) = 0L
      var active = Array(seed)
      var round = 0
      while (round < rounds && active.nonEmpty) {
        round += 1
        val at = sc.broadcast((active, active.map(dist)))
        val offers = try laid.map(_.relax(at.value._1, at.value._2)).collect()
          finally at.destroy()
        val fell = mutable.LongMap.empty[Unit]
        for ((dsts, ds) <- offers; i <- dsts.indices) {
          if (ds(i) < dist.getOrElse(dsts(i), Long.MaxValue)) {
            dist(dsts(i)) = ds(i)
            fell(dsts(i)) = ()
          }
        }
        active = fell.keys.toArray.sorted
      }
    }
    dist
  }

  /** HITS hubs/authorities (Kleinberg, JACM'99) on the customer–part
    * bipartite purchase graph: authority(part) = Σ hub(customer) over
    * purchase edges, hub(customer) = Σ authority(part), alternated for
    * `rounds` declared rounds from hub ≡ 1. Scores live in 2²⁰ fixed
    * point with an L∞ rescale (max → 2²⁰) after every half-step — the
    * emb_pca_power discipline — so every intermediate is an exact
    * BIGINT (sum ≤ 2²⁰·maxDeg, rescale product ≤ 2⁶⁰) and the unroll
    * replays mechanically in SQL (both engines' integral divisions
    * agree on non-negative operands). Returns the top-k parts by final
    * authority.
    *
    * Scale shape: the edge incidence is one keyed join (lineitem ⋈
    * orders on the order key) + distinct — one shuffle each; every
    * half-step is one keyed join of the score frame against the
    * checkpointed edge frame plus a groupBy and a 1-row max broadcast.
    * Nothing wider than |edges| + |nodes| materializes, the PageRank/
    * Bellman-Ford iteration shape.
    */
  def hitsBipartite(lineitem: DataFrame, orders: DataFrame,
      rounds: Int = 3, k: Int = 20): DataFrame = {
    val e = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .join(orders.select(col("o_orderkey").as("ok"), col("o_custkey").as("ck")), "ok")
      .select("ck", "pk").distinct()
      .localCheckpoint(true)
    var hub = e.select("ck").distinct().withColumn("h", lit(1L << 20))
      .localCheckpoint(true)
    var auth: DataFrame = null
    for (_ <- 1 to rounds) {
      // checkpoint the RAW sum frame, not the rescaled one: the rescale
      // reads a0 twice (the 1-row max aggregate and the crossJoin probe
      // side), so checkpointing downstream of it re-ran the edge-sized
      // join + groupBy TWICE per half-step — the per-round fixed cost
      // behind the one confirmed superlinear 100× row (3.67× on 3.33×
      // data, BENCH_SF10H_r12). Materializing a0 (≤ |parts| rows) makes
      // both reads a checkpoint scan: one edge-sized join per
      // half-step, bit-identical arithmetic, same unrolled-SQL oracle.
      val a0 = e.join(hub, "ck").groupBy("pk").agg(sum("h").as("a"))
        .localCheckpoint(true)
      auth = a0.crossJoin(broadcast(a0.agg(max("a").as("mx"))))
        .select(col("pk"), expr("a * 1048576L div mx").as("a"))
      val h0 = e.join(auth, "pk").groupBy("ck").agg(sum("a").as("h"))
        .localCheckpoint(true)
      hub = h0.crossJoin(broadcast(h0.agg(max("h").as("mx"))))
        .select(col("ck"), expr("h * 1048576L div mx").as("h"))
    }
    auth.orderBy(desc("a"), asc("pk")).limit(k)
      .select(col("pk").cast("long").as("part_id"),
        col("a").cast("long").as("auth_x2p20"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.,
    * Phys. Rev. E 76, 2007) on the support-pruned co-order graph:
    * labels start as the node id; each of the `rounds` declared rounds
    * every node adopts the MINIMUM label among the most frequent labels
    * of its neighbors (min-of-modes — a fully deterministic tie-break,
    * where the paper's random tie-break would be un-replayable).
    * Synchronous LPA can two-color oscillate on bipartite structures;
    * with declared rounds and the deterministic tie-break the result
    * is still a well-defined, engine-invariant computation (the
    * kcore/sssp declared-rounds discipline). Returns the top-k
    * communities by size.
    *
    * Scale shape: per round one keyed join of the label frame against
    * the (checkpointed, both-orientation) edge frame, a (node, label)
    * count, and a node-partitioned window pick — never anything wider
    * than |edges|; the window partitions on the node key, so no global
    * sort exists.
    */
  def labelPropagation(lineitem: DataFrame, rounds: Int = 3,
      minSupport: Int = 2, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e0 = coOrderEdges(lineitem, minSupport)
    // partition and sort the both-orientation edge frame on the round
    // join key once, before the checkpoint, so a per-round SMJ need not
    // re-exchange or re-sort 2·|edges| rows (the same pre-layout took
    // weighted SSSP's declared loop from 78.6 to 24.1 s at 100×)
    val e = e0.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(e0.select(col("pb").as("src"), col("pa").as("dst")))
      .repartition(col("src"))
      .sortWithinPartitions("src")
      .localCheckpoint(true)
    var lab = e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(true)
    val w = Window.partitionBy("node").orderBy(desc("cnt"), asc("lbl"))
    for (_ <- 1 to rounds) {
      lab = e.join(lab, e("src") === lab("node"))
        .select(e("dst").as("node"), lab("lbl"))
        .groupBy("node", "lbl").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("node", "lbl")
        .localCheckpoint(true)
    }
    lab.groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .orderBy(desc("n_members"), asc("lbl")).limit(k)
      .select(col("lbl").cast("long").as("community"),
        col("n_members").cast("long").as("n_members"))
  }
}

/** One partition of [[Basket.ssspWeighted]]'s edge layout: `srcs` sorted
  * and distinct, src i's edges at indices [from(i), from(i + 1)) of
  * `dst` and `w`.
  */
private[graft] final case class SsspPartition(srcs: Array[Long], from: Array[Int],
    dst: Array[Long], w: Array[Long]) {

  /** (degree, src) of this partition's highest-degree src, ties to the
    * smallest; none when the partition is empty.
    */
  def densest: Option[(Int, Long)] =
    if (srcs.isEmpty) None
    else Some(srcs.indices.map(i => (from(i + 1) - from(i), srcs(i)))
      .minBy { case (deg, v) => (-deg, v) })

  /** Per-dst minimum of dist(src) + w over the edges whose src is in
    * `nodes` (sorted, with distances `ds`), as parallel arrays. Probes
    * the smaller of the two sorted sides against the larger.
    */
  def relax(nodes: Array[Long], ds: Array[Long]): (Array[Long], Array[Long]) = {
    val best = mutable.LongMap.empty[Long]
    def offer(i: Int, d: Long): Unit = {
      var j = from(i)
      while (j < from(i + 1)) {
        val o = d + w(j)
        if (o < best.getOrElse(dst(j), Long.MaxValue)) best(dst(j)) = o
        j += 1
      }
    }
    if (nodes.length < srcs.length) {
      for (a <- nodes.indices) {
        val i = java.util.Arrays.binarySearch(srcs, nodes(a))
        if (i >= 0) offer(i, ds(a))
      }
    } else {
      for (i <- srcs.indices) {
        val a = java.util.Arrays.binarySearch(nodes, srcs(i))
        if (a >= 0) offer(i, ds(a))
      }
    }
    val (vs, os) = (new Array[Long](best.size), new Array[Long](best.size))
    var n = 0
    best.foreachEntry { (v, o) => vs(n) = v; os(n) = o; n += 1 }
    (vs, os)
  }
}

private[graft] object SsspPartition {
  /** Lays out (src, dst, w) BIGINT rows sorted on src. */
  def apply(rows: Iterator[InternalRow]): SsspPartition = {
    val srcs, dst, w = mutable.ArrayBuilder.make[Long]
    val from = mutable.ArrayBuilder.make[Int]
    var n = 0
    var last = 0L
    rows.foreach { r =>
      if (n == 0 || r.getLong(0) != last) {
        last = r.getLong(0)
        srcs += last
        from += n
      }
      dst += r.getLong(1)
      w += r.getLong(2)
      n += 1
    }
    from += n
    SsspPartition(srcs.result(), from.result(), dst.result(), w.result())
  }
}
