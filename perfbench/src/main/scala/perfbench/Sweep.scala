package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `analytics_sweep`: registry queries over the bundled corpus, one driver
  * thread, in a seed-chosen order per pass. Set-up runs one check pass
  * that writes every query's result for the DuckDB oracle comparison; the
  * timed passes then execute each query through
  * `queryExecution.toRdd.count()`, as graft.Bench does.
  */
object Sweep {
  /** The swept queries, one per operator family: a graph kernel that is
    * mostly DataFrame construction, and dedup, text and stats operators
    * that are mostly execution.
    */
  val Families: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("graph_sssp_weighted"),
    "dedup" -> Seq("dedup_minhash"),
    "text" -> Seq("text_bm25_topk"),
    "stats" -> Seq("stats_mann_kendall"))
  val Queries: Seq[String] = Families.flatMap(_._2)
  /** Timed passes per run at least, so each query is timed twice. */
  val MinPasses = 2

  def family(q: String): String = Families.find(_._2.contains(q)).map(_._1).getOrElse("other")

  /** Unpersist whatever a query cached, as graft.Bench does between
    * queries, so each query is timed against the same shared views only.
    */
  def releaseNew(spark: SparkSession, before: scala.collection.Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val a = ctx.args
    val dir = a.corpus
    val names = a.queries.getOrElse(Queries)
    val registry = SparkEntry.queries
    val order = Gen.shuffle(names, Gen.rng(a.seed, -3L))

    // set-up is the check pass, which also warms every query up: the
    // oracle comparison reads these outputs after the run
    val s0 = System.nanoTime()
    order.foreach { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try registry(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(a.out.resolve(s"check/$q").toString)
      catch { case e: Throwable => ctx.fail(s"$q check pass: ${e.getMessage}") }
      releaseNew(spark, before)
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(a.out.resolve("check/oracle_sql.json"),
      Json.obj(names.map(q => q -> oracle.getOrElse(q, null))))
    val setupWallS = ctx.sessionStartS + Stats.s(System.nanoTime() - s0)
    ctx.startMeasuring()

    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var passes = 0
    while (passes < MinPasses || System.nanoTime() < deadline) {
      Gen.shuffle(names, Gen.rng(a.seed, -4L - passes)).foreach { q =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        ctx.timed(q, Map("family" -> family(q)))(registry(q)(spark, dir))(
          _.queryExecution.toRdd.count())(_ => true, identity)
        releaseNew(spark, before)
      }
      passes += 1
    }
    ctx.stopMeasuring()
    val wallS = Stats.s(System.nanoTime() - t0)

    val runs = ctx.measured
    val lat = runs.map(s => Stats.ms(s.totalNs))
    // each query's median over the passes: one slow pass does not move it
    val perQuery = names.map(q => Stats.median(ctx.of(q).map(s => Stats.ms(s.totalNs))))
    val e2e = Seq(
      "read_p50_ms" -> M(Stats.median(perQuery), "ms"),
      "throughput_per_s" -> M(names.size / (perQuery.sum / 1000), "1/s"))
    val extra = Seq(
      "setup_wall_s" -> M(setupWallS, "s"),
      "read_p95_ms" -> M(Stats.quantile(lat, 0.95), "ms"),
      "sweep_s" -> M(wallS / passes, "s"),
      "sweep_construct_share" -> M(runs.map(_.constructNs).sum.toDouble / runs.map(_.totalNs).sum, "ratio"),
      "passes" -> M(passes, "count"),
      "session_start_s" -> M(ctx.sessionStartS, "s"))
    Outcome(e2e, extra)
  }
}
