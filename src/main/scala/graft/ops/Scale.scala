package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities: a skew mitigation pattern that AQE alone doesn't
  * cover, usable by any pipeline in this library.
  */
object Scale {

  /** Two-phase (salted) aggregation: partial-aggregate on (key, salt)
    * to spread a hot key over `saltFactor` reducers, then final-combine
    * on key. `aggs` must be algebraic (re-combinable): each (alias,
    * partialExpr, finalExpr-over-partial-alias).
    *
    * For a simple sum: ("total", sum(col("x")), sum(col("total"))).
    */
  def saltedAgg(df: DataFrame, key: Column, saltFactor: Int,
      aggs: Seq[(String, Column, Column)]): DataFrame = {
    // deterministic salt: spread rows by a hash of the whole row's
    // partition offset — monotonically_increasing_id is partition-local
    // and stable for a given partitioning
    val salted = df
      .withColumn("__salt", pmod(monotonically_increasing_id(), lit(saltFactor.toLong)))
      .withColumn("__key", key)
    val partial = salted.groupBy(col("__key"), col("__salt"))
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, p, _) => p.as(n) }: _*)
    partial.groupBy(col("__key"))
      .agg(aggs.head._3.as(aggs.head._1),
        aggs.tail.map { case (n, _, f) => f.as(n) }: _*)
      .withColumnRenamed("__key", "key")
  }
}
