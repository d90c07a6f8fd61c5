package graft

import org.apache.spark.sql.functions._

import graft.ops.Scale

/** Scale-pattern semantics: salted aggregation equivalence, and
  * bucketed tables giving shuffle-free co-located joins.
  */
class ScaleSpec extends SparkSpecBase {

  test("saltedAgg equals plain agg on a skewed key") {
    import spark.implicits._
    // one hot key with 10k rows, a long tail
    val df = ((1 to 10000).map(i => ("hot", i.toLong)) ++
      (1 to 100).map(i => (s"k$i", i.toLong))).toDF("k", "x")
    val plain = df.groupBy("k").agg(sum("x").as("total"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val salted = Scale.saltedAgg(df, col("k"), saltFactor = 8, Seq(
        ("total", sum(col("x")), sum(col("total"))),
        ("n", count(lit(1)), sum(col("n")))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(salted == plain)
  }

  test("bucketed tables join without a shuffle exchange") {
    // warehouse dir is a static conf — use the default (./spark-warehouse)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("id", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("id", "vb")
    a.write.mode("overwrite").bucketBy(8, "id").sortBy("id").saveAsTable("bt_a")
    b.write.mode("overwrite").bucketBy(8, "id").sortBy("id").saveAsTable("bt_b")
    val joined = s2.table("bt_a").join(s2.table("bt_b"), "id")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucketed join: SortMergeJoin with NO shuffle exchange
    assert(plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffled:\n${plan.take(1500)}")
    s2.sql("DROP TABLE IF EXISTS bt_a")
    s2.sql("DROP TABLE IF EXISTS bt_b")
  }
}
