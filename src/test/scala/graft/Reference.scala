package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Reference forms the specs compare the engine's operators against.
  * No query runs them; each is the plain built-in formulation of a
  * fused or pruned path in `src/main`.
  */
object Reference {

  /** The composed built-in chain `TextOps.normalized` fuses. */
  def normalizedBuiltin(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** The composed built-in chain `Linkage.canonical` fuses. */
  def canonicalBuiltin(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Brute-force O(n²) embedding near-dup baseline — the recall oracle
    * for `Dedup.embeddingNearDups`. The broadcast hint is the
    * CartesianGuard opt-in (this is a deliberate test-scale all-pairs).
    */
  def embeddingNearDupsExact(embs: DataFrame, threshold: Double): DataFrame = {
    val v = embs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val l = v.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val r = v.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    l.crossJoin(broadcast(r))
      .filter(col("a") < col("b"))
      .withColumn("cos", round(
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }

  /** Plain Bellman-Ford on the undirected weighted `edges` (a, b, w):
    * the seed is the highest-degree node (ties → smallest), and every
    * reached node re-offers its distance in each of the `rounds` rounds —
    * no active set, no early stop. The truncation semantics
    * `Basket.ssspWeighted` must reproduce: node → shortest distance over
    * paths of ≤ rounds hops.
    */
  def bellmanFord(edges: Seq[(Long, Long, Long)], rounds: Int): Map[Long, Long] = {
    val both = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    if (both.isEmpty) Map.empty
    else {
      val seed = both.groupBy(_._1).toSeq
        .map { case (v, es) => (es.size, v) }
        .minBy { case (deg, v) => (-deg, v) }._2
      (1 to rounds).foldLeft(Map(seed -> 0L)) { (d, _) =>
        val offers = both.collect { case (a, b, w) if d.contains(a) => (b, d(a) + w) }
        (d.toSeq ++ offers).groupBy(_._1).map { case (v, ds) => v -> ds.map(_._2).min }
      }
    }
  }
}
