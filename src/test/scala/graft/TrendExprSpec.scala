package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

import graft.api.Queries
import graft.functions.PairTrendUtil

/** Equivalence gates for the fused pair-trend statistics
  * (graft_mann_kendall_s / graft_theilsen_median) that replaced the
  * span² pair joins under stats_mann_kendall and events_theilsen_slope:
  * brute-force Σ-over-pairs references on seeded random series with
  * heavy ties (the exact arithmetic the pair-join formulation runs),
  * plus a query-level replay of the OLD pair-join DataFrame shape on a
  * crafted corpus vs the rewritten registry queries. The DuckDB oracle
  * keeps the pair-join SQL, so the 3-SF hash gate certifies the
  * identity on the declared corpora end to end.
  */
class TrendExprSpec extends SparkSpecBase {
  import spark.implicits._

  private def bruteS(xs: Array[Long]): Long = {
    var s = 0L
    for (i <- xs.indices; j <- (i + 1) until xs.length)
      s += java.lang.Long.signum(xs(j) - xs(i))
    s
  }

  test("mann-kendall S: Fenwick count == brute-force pair signs (ties included)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 30) {
      val n = 2 + rnd.nextInt(300)
      // small value range forces many ties (the sign-0 branch)
      val xs = Array.fill(n)((rnd.nextInt(9) - 4).toLong)
      val got = PairTrendUtil.mannKendallS(new GenericArrayData(xs))
      assert(got === bruteS(xs), s"trial $trial n=$n")
    }
    // strictly increasing / decreasing / constant extremes
    assert(PairTrendUtil.mannKendallS(
      new GenericArrayData(Array(1L, 2L, 3L, 4L))) === 6L)
    assert(PairTrendUtil.mannKendallS(
      new GenericArrayData(Array(4L, 3L, 2L, 1L))) === -6L)
    assert(PairTrendUtil.mannKendallS(
      new GenericArrayData(Array(7L, 7L, 7L))) === 0L)
  }

  private def bruteMedian(ts: Array[Long], ns: Array[Long]): Double = {
    val triples = for {
      i <- ts.indices
      j <- (i + 1) until ts.length
    } yield ((ns(j) - ns(i)).toDouble / (ts(j) - ts(i)).toDouble, ts(i), ts(j))
    val sorted = triples.sortBy(identity) // (slope, t1, t2) lexicographic
    sorted((sorted.size + 1) / 2 - 1)._1
  }

  test("theil-sen lower median: fused == brute-force (slope,t1,t2) order") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 30) {
      val n = 2 + rnd.nextInt(60)
      // duplicate-heavy values => duplicate slopes => tie-break matters
      val ts = Array.iterate(0L, n)(_ + 1 + rnd.nextInt(3))
      val ns = Array.fill(n)(rnd.nextInt(5).toLong)
      val got = PairTrendUtil.theilSenLowerMedian(
        new GenericArrayData(ts), new GenericArrayData(ns))
      val want = bruteMedian(ts, ns)
      assert(java.lang.Double.compare(got, want) === 0, s"trial $trial n=$n")
    }
  }

  test("mann-kendall query == old pair-join shape on a crafted corpus") {
    val dir = tmpDir("trend-mk")
    // two priorities, one with ties in daily revenue, one 1-day group
    // (must emit NOTHING, matching the join form's no-pairs behavior)
    val rows = Seq(
      (1L, 1L, "O", 10.00, "2024-01-01", "1-URGENT"),
      (2L, 1L, "O", 10.00, "2024-01-02", "1-URGENT"),
      (3L, 1L, "O", 30.00, "2024-01-03", "1-URGENT"),
      (4L, 1L, "O", 20.00, "2024-01-04", "1-URGENT"),
      (5L, 1L, "O", 20.00, "2024-01-05", "1-URGENT"),
      (6L, 1L, "O", 99.00, "2024-02-01", "2-HIGH"),
      (7L, 1L, "O", 98.00, "2024-02-02", "2-HIGH"),
      (8L, 1L, "O", 97.00, "2024-02-03", "2-HIGH"),
      (9L, 1L, "O", 50.00, "2024-03-01", "3-MEDIUM"))
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate_s", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(col("o_orderdate_s")))
      .drop("o_orderdate_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val got = Queries.registry("stats_mann_kendall").fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // the OLD formulation, verbatim pair-join shape
    val day = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_orderpriority"), col("o_orderdate"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long").as("rev_c"))
    val a = day.select(col("o_orderpriority").as("pri"),
      col("o_orderdate").as("d1"), col("rev_c").as("x1"))
    val b = day.select(col("o_orderpriority").as("pri2"),
      col("o_orderdate").as("d2"), col("rev_c").as("x2"))
    val want = a.join(b, col("pri") === col("pri2") && col("d1") < col("d2"))
      .groupBy(col("pri"))
      .agg((countDistinct(col("d1")) + lit(1L)).cast("long").as("n_days"),
        sum(when(col("x2") > col("x1"), 1L)
          .when(col("x2") < col("x1"), -1L).otherwise(0L))
          .cast("long").as("s_stat"))
      .orderBy("pri").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    assert(got.map(t => (t._1, t._2, t._3)).toSeq === want.toSeq)
    assert(!got.exists(_._1 == "3-MEDIUM")) // 1-day group emits nothing
    // hand-check priority 2: strictly decreasing over 3 days => S = -3,
    // tau = -1e6
    val p2 = got.find(_._1 == "2-HIGH").get
    assert((p2._2, p2._3, p2._4) === ((3L, -3L, -1000000L)))
  }

  test("theil-sen query == old pair-join+window shape on a crafted corpus") {
    import org.apache.spark.sql.expressions.Window
    val dir = tmpDir("trend-ts")
    // one type with duplicate slopes (tie-break exercised), one with a
    // single hour (must emit nothing)
    val ev = Seq(
      (1L, "2024-01-01 00:10:00", 1L, "click"),
      (2L, "2024-01-01 00:20:00", 1L, "click"),
      (3L, "2024-01-01 01:10:00", 1L, "click"),
      (4L, "2024-01-01 02:05:00", 1L, "click"),
      (5L, "2024-01-01 02:06:00", 1L, "click"),
      (6L, "2024-01-01 03:05:00", 1L, "click"),
      (7L, "2024-01-01 05:00:00", 2L, "view"))
    ev.toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = Queries.registry("events_theilsen_slope").fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))

    val hourly = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val minh = hourly.agg(min("hr").as("mnh"))
    val t = hourly.crossJoin(broadcast(minh))
      .withColumn("t", expr("(unix_micros(hr) - unix_micros(mnh)) div 3600000000"))
      .select("event_type", "t", "n")
    val pairs = t.select(col("event_type"), col("t").as("t1"), col("n").as("n1"))
      .join(t.select(col("event_type"), col("t").as("t2"), col("n").as("n2")),
        "event_type")
      .filter(col("t1") < col("t2"))
      .withColumn("slope",
        (col("n2") - col("n1")).cast("double") / (col("t2") - col("t1")).cast("double"))
    val w = Window.partitionBy("event_type").orderBy("slope", "t1", "t2")
    val want = pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("event_type"), col("cnt").cast("long").as("n_pairs"),
        round(col("slope"), 6).as("theilsen_slope"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))

    assert(got.toSeq === want.toSeq)
    assert(!got.exists(_._1 == "view")) // 1-bucket group emits nothing
  }

  test("null series elements fail loudly, naming the function") {
    def withNull(xs: Long*): GenericArrayData =
      new GenericArrayData(xs.map(x => if (x < 0) null else Long.box(x)).toArray[Any])
    val mk = intercept[IllegalArgumentException](
      PairTrendUtil.mannKendallS(withNull(3L, -1L, 5L)))
    assert(mk.getMessage.contains("graft_mann_kendall_s") && mk.getMessage.contains("index 1"))
    // a single null element is refused too, not read as a 0-pair series
    intercept[IllegalArgumentException](PairTrendUtil.mannKendallS(withNull(-1L)))
    val tsNull = intercept[IllegalArgumentException](PairTrendUtil.theilSenLowerMedian(
      withNull(0L, 1L, -1L), withNull(4L, 5L, 6L)))
    assert(tsNull.getMessage.contains("graft_theilsen_median") &&
      tsNull.getMessage.contains("index 2 of the t array"))
    val nsNull = intercept[IllegalArgumentException](PairTrendUtil.theilSenLowerMedian(
      withNull(0L, 1L, 2L), withNull(-1L, 5L, 6L)))
    assert(nsNull.getMessage.contains("index 0 of the n array"))
    // end to end: the SQL expression fails the query with the same error
    val df = Seq((1L, Seq(Some(2L), None, Some(7L)))).toDF("g", "xs")
    val e = intercept[Exception](
      df.select(graft.functions.MannKendallSExpr(col("xs"))).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("graft_mann_kendall_s: null element")),
      s"unnamed failure: $e")
  }

  test("theil-sen median on tied and duplicate slopes == sorted pair-slope order statistic") {
    // every slope value repeats many times, so only the order statistic's
    // VALUE can be compared: the primitive slope sort must land on the
    // same element as the (slope, i, j)-ordered pair list
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 20) {
      val n = 2 + rnd.nextInt(40)
      val ts = Array.tabulate(n)(_.toLong)
      val ns = Array.fill(n)(rnd.nextInt(2).toLong)
      val got = PairTrendUtil.theilSenLowerMedian(
        new GenericArrayData(ts), new GenericArrayData(ns))
      assert(java.lang.Double.compare(got, bruteMedian(ts, ns)) === 0, s"trial $trial n=$n")
    }
  }
}
