package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.PatternCompiler
import graft.model.{ArrayOp, TriplePattern, Triple}
import graft.store.TripleStore

/** Query execution — the Spark-native `ExecuteQuery` (reference:
  * core/query.go:11-115).
  *
  * The reference's distribution machinery (shard-by-hash peer routing,
  * scatter/gather goroutines, greedy set cover of peer keyspaces)
  * disappears: a rooted step is a partition-pruned scan, an unrooted step
  * is a full scan over all partitions, and "gather" is the job result.
  * Two reference bugs are fixed by construction and documented:
  *  - unrooted queries skipped the local node (`TODO localnode`,
  *    core/query.go:42) — a Spark scan includes every partition;
  *  - gathered results were never deduplicated (TODO at
  *    core/query.go:58) — shard results here are disjoint by
  *    construction.
  */
final class Engine(val store: TripleStore) {
  private val spark: SparkSession = store.spark

  /** Multi-step traversal (reference: core/query.go:14-33): step 0 runs
    * as-is; step N+1 is constrained to subjects drawn from step N's
    * objects — the reference rewrites this as a literal
    * `OR(subj=obj1, subj=obj2, …)` list (unbounded width, materialized on
    * the coordinator); we express it as a semi-join on `subj`, which
    * Spark turns into a broadcast semi-join while the frontier is small
    * and a shuffled one when it isn't. The frontier never touches the
    * driver.
    *
    * `limit <= 0` = unlimited. Divergence (documented): globally exact
    * limit, vs the reference's per-local-shard limit that over-returns
    * across peers (core/query.go:32,83 vs 117-124).
    */
  def executeQuery(steps: Seq[ArrayOp], limit: Int = -1): DataFrame = {
    require(steps.nonEmpty, "query needs at least one step")
    val first = store.query(steps.head)
    val joined = steps.tail.foldLeft(first) { (prev, step) =>
      Engine.traverseStep(store.all, prev, step)
    }
    if (limit > 0) joined.limit(limit) else joined
  }

  /** Single-pattern convenience (reference: triplestore.go:49-59). */
  def query(pattern: TriplePattern, limit: Int = -1): DataFrame =
    store.query(ArrayOp.leaf(pattern), limit)

  /** Parse the reference's JSON wire format — an array of partial
    * triples, OR'd (reference: query/query.go:16-22; default mode
    * protocol/protocol.proto:83-88). `{}` matches everything.
    */
  def parseQuery(json: String): ArrayOp = Engine.parseJsonQuery(json)

  /** End-to-end: JSON in, triples out (reference: core/http.go:95-120,
    * `GET /api/v1/query`).
    */
  def queryJson(json: String, limit: Int = -1): DataFrame =
    executeQuery(Seq(parseQuery(json)), limit)

  /** Full dump, sorted for determinism (reference: core/http.go:122-130
    * `/api/v1/triples`; sort protocol/protocol.go:28-52).
    */
  def triples(): DataFrame =
    store.all.orderBy("subj", "pred", "obj")
}

object Engine {
  /** One traversal hop over an arbitrary triples DataFrame: constrain the
    * next step's subjects to the previous step's objects (semi-join), then
    * apply the step's pattern filter. Exposed statically so the traversal
    * semantics can run over derived triple views, not just a TripleStore.
    */
  def traverseStep(triples: DataFrame, prev: DataFrame, step: ArrayOp): DataFrame = {
    val frontier = prev.select(col("obj").as("subj")).distinct()
    triples
      .join(frontier, Seq("subj"), "left_semi")
      .filter(PatternCompiler.compile(step))
  }

  /** Full multi-step traversal over a triples DataFrame. */
  def traverse(triples: DataFrame, steps: Seq[ArrayOp], limit: Int = -1): DataFrame = {
    require(steps.nonEmpty, "query needs at least one step")
    val first = triples.filter(PatternCompiler.compile(steps.head))
    val joined = steps.tail.foldLeft(first)((prev, s) => traverseStep(triples, prev, s))
    if (limit > 0) joined.limit(limit) else joined
  }

  /** One mapper for every parse: an `ObjectMapper` is thread-safe once
    * configured, and this one is never reconfigured.
    */
  private val JsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Minimal JSON parser for the reference's query format using Jackson
    * (already on the Spark classpath). Accepts `[{"subj":…,"pred":…,
    * "obj":…,"lang":…,"author":…}, …]`; unknown keys rejected.
    */
  def parseJsonQuery(json: String): ArrayOp = {
    val root = JsonMapper.readTree(json)
    require(root.isArray, s"query must be a JSON array of partial triples")
    val allowed = Set("subj", "pred", "obj", "lang", "author")
    val patterns = (0 until root.size()).map { i =>
      val node = root.get(i)
      require(node.isObject, "each query element must be an object")
      val it = node.fieldNames()
      while (it.hasNext) {
        val f = it.next()
        require(allowed.contains(f), s"unknown query field: $f")
      }
      def get(f: String): String =
        if (node.has(f)) node.get(f).asText("") else ""
      TriplePattern.fromStrings(
        get("subj"), get("pred"), get("obj"), get("lang"), get("author"))
    }
    ArrayOp.Or(patterns)
  }
}
