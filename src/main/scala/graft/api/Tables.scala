package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata (TESTDATA.md) and the canonical
  * triples view derived from the star schema.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    val target = splitMemo.computeIfAbsent(path,
      _ => rowGroupBoundTarget(spark, path))
    if (target > 0) df.repartition(target) else df
  }

  /** Read-time split guarantee (round-10 verdict #2): the same failure
    * class — ONE parquet row group → one input split → one task does
    * all the work while 31 cores idle — was rediscovered twice at 30×
    * (`agg_countmin_users`' first form; the Lloyd trainer, commit
    * 70195d5) and fixed per-operator both times. The root cause lives
    * here: single-file scaled corpora (tools/make_sf.py writes 2²⁰-row
    * row groups) hand documents/embeddings to EVERY operator as one
    * split, because parquet only splits at row-group boundaries — no
    * `maxPartitionBytes` value can cut a one-row-group file.
    *
    * Fix: when a FAT-ROW table's file layout caps scan parallelism
    * below HALF of what Spark's own bytes heuristic would plan
    * (`FilePartition.maxSplitBytes`: one split per ~max(4 MB,
    * bytes/cores), capped at cores), insert one round-robin
    * repartition at load. "Fat-row" = ≥ [[FatRowBytes]] on-disk bytes
    * per row — the text/vector tables (documents ~130 B, embeddings
    * ~145 B vs lineitem 18 B, orders 15 B, events 12 B). The bound is
    * load-bearing in both directions:
    *   - fat rows are WHY single-group files exist at scale: a table
    *     rich enough to starve (100× documents = 65 MB in one 2²⁰-row
    *     group) is row-few, so make_sf-style writers never cut a
    *     second group — and its consumers (shingling, hashing, vector
    *     math) do per-ROW work that serializes brutally on one split;
    *   - skinny fact tables get their parallelism from row groups
    *     (2²⁰ rows ≈ 12-20 MB → groups scale with data), and an
    *     inserted shuffle there is pure overhead: the first
    *     indiscriminate version of this rule repartitioned 10×
    *     lineitem (6 groups → 27) / orders / events, and the round-11
    *     10× sweep measured the whole 282-query surface +14% (median
    *     per-query ratio 1.138, worst 5.3× on sub-second order/event
    *     scans) — every fact query paid a full-table shuffle for
    *     parallelism its 0.3 s scan never needed.
    * Other properties preserved:
    *   - small-SF test tables (< 8 MB → target < 2) are NEVER touched,
    *     so sf0.001/0.01/0.1 plans — and every PlanSpec pin — are
    *     byte-identical to before;
    *   - well-laid-out big fat tables would also be left alone
    *     (rowGroups·2 ≥ target), though none exist in practice;
    *   - the triggering cases: 30× documents 19.6 MB/1 group → 5,
    *     30× embeddings → 3, 100× documents 65.7 MB/1 group → 16,
    *     100× embeddings 28.9 MB/1 group → 7 splits.
    * Catalyst pushes filters and column pruning through Repartition
    * (PushPredicateThroughNonJoin / ColumnPruning), so PushedFilters
    * still reach the scan — pinned by TablesSplitSpec.
    */
  private[graft] val FatRowBytes = 64L

  private[graft] final case class TableLayout(
      bytes: Long, rows: Long, rowGroups: Int, logicalBytes: Long = 0L) {
    // Fat by DISK width or by LOGICAL width (the row groups' total
    // uncompressed byte size, from the same footer read): a documents
    // corpus whose codec compresses below 64 B/row on disk must not
    // silently exit the fat-row class — its consumers do per-ROW work
    // on the decompressed rows, so the starve argument is about
    // logical width, and disk width only ever UNDER-estimates it
    // (round-12 verdict stretch #8; the near_boundary flag in
    // ScaleProbe made the drift visible, this makes it harmless).
    def fatRows: Boolean = rows > 0 &&
      math.max(bytes, logicalBytes) / rows >= FatRowBytes
  }

  /** Footer-only layout read (bytes, rows, row groups) for a parquet
    * file or directory of files. */
  private[graft] def layoutOf(s: SparkSession, path: String): TableLayout = {
    val f = new java.io.File(path)
    val files =
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty).toSeq
          .filter(x => x.isFile && !x.getName.startsWith(".") &&
            !x.getName.startsWith("_"))
      else Seq(f)
    val bytes = files.map(_.length).sum
    val conf = s.sessionState.newHadoopConf()
    var rows = 0L; var groups = 0; var logical = 0L
    files.foreach { file =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        rows += r.getRecordCount; groups += r.getRowGroups.size
        r.getRowGroups.forEach(g => logical += g.getTotalByteSize)
      } finally r.close()
    }
    TableLayout(bytes, rows, groups, logical)
  }

  /** What the bytes heuristic would plan for `bytes`: one split per
    * ≥4 MB chunk, at most one per core (Spark's own bytesPerCore
    * floor). */
  private[graft] def bytesTarget(s: SparkSession, bytes: Long): Int =
    math.min(s.sparkContext.defaultParallelism.toLong,
      (bytes + (4L << 20) - 1) / (4L << 20)).toInt

  private def rowGroupBoundTarget(s: SparkSession, path: String): Int =
    try {
      // bytes first, from file sizes alone: a small-SF table (< 8 MB →
      // target < 2) never pays a footer read — the footer open below is
      // for candidate big tables only (and memoized once per path)
      val f = new java.io.File(path)
      val bytes =
        if (f.isDirectory)
          Option(f.listFiles).getOrElse(Array.empty)
            .filter(x => x.isFile && !x.getName.startsWith(".") &&
              !x.getName.startsWith("_"))
            .map(_.length).sum
        else f.length
      val target = bytesTarget(s, bytes)
      if (target < 2) 0
      else {
        val layout = layoutOf(s, path)
        if (layout.fatRows && layout.rowGroups * 2 < target) target else 0
      }
    } catch { case _: Throwable => 0 }

  /** One footer scan per table path per process — the decision is a
    * property of the file layout, not the query. */
  private val splitMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across driver
    * testdata generations — TIMESTAMP(NANOS) (rejected by Spark's
    * reader unless read as long via the legacy conf) and, since the
    * round-7 regeneration, plain TIMESTAMP(MICROS) without UTC
    * adjustment (read as TIMESTAMP_NTZ). Normalize BOTH to a
    * session-tz (UTC) micros TIMESTAMP so every downstream query sees
    * one type. The nanos path uses integer division — NOT double
    * division, which silently loses precision above 2^53 ns.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Canonical triples view over the star schema — the graph the triple
    * queries and the oracle SQL both see. Node ids are `<kind>:<key>`;
    * entity attributes become literal-object triples and foreign keys
    * become node-object edges (the reference's Freebase-style shape,
    * FIXTURES.md §A.1). Deterministic, no floats.
    *
    * Must stay in lockstep with [[StarTriples.sqlCte]].
    */
  def starTriples(s: SparkSession, d: String): DataFrame = {
    // cached DataFrames strongly reference their session, so a weak key
    // would never clear (WeakHashMap's documented value->key pitfall);
    // instead sweep entries of stopped contexts on access. Residual:
    // sessions discarded while their shared context lives on stay
    // pinned — callers churning newSession() per request should clear
    // caches themselves (this engine uses one long-lived session)
    triplesMemo.keySet.removeIf(sess => sess.sparkContext.isStopped)
    triplesMemo.computeIfAbsent(s,
        _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())
      .computeIfAbsent(d, _ => buildStarTriples(s, d).cache())
  }

  /** One cached triples view per (session, dir): every triple/graph
    * query reads the same materialization instead of re-deriving the
    * 8-way union per query. Keyed by session object identity (no
    * cross-session collisions); see the sweep above for lifetime.
    */
  private val triplesMemo = java.util.Collections.synchronizedMap(
    new java.util.HashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]())

  private def buildStarTriples(s: SparkSession, d: String): DataFrame = {
    def t(df: DataFrame, subj: org.apache.spark.sql.Column, pred: String,
        obj: org.apache.spark.sql.Column): DataFrame =
      df.select(subj.cast("string").as("subj"), lit(pred).as("pred"),
        obj.cast("string").as("obj"))
    val cust = customer(s, d); val nat = nation(s, d); val reg = region(s, d)
    val ord = orders(s, d); val supp = supplier(s, d)
    Seq(
      t(cust, concat(lit("cust:"), col("c_custkey")), "name", col("c_name")),
      t(cust, concat(lit("cust:"), col("c_custkey")), "mktsegment", col("c_mktsegment")),
      t(cust, concat(lit("cust:"), col("c_custkey")), "nation",
        concat(lit("nation:"), col("c_nationkey"))),
      t(nat, concat(lit("nation:"), col("n_nationkey")), "name", col("n_name")),
      t(nat, concat(lit("nation:"), col("n_nationkey")), "region",
        concat(lit("region:"), col("n_regionkey"))),
      t(reg, concat(lit("region:"), col("r_regionkey")), "name", col("r_name")),
      t(ord, concat(lit("order:"), col("o_orderkey")), "customer",
        concat(lit("cust:"), col("o_custkey"))),
      t(supp, concat(lit("supp:"), col("s_suppkey")), "nation",
        concat(lit("nation:"), col("s_nationkey")))
    ).reduce(_ unionAll _)
      .withColumn("lang", lit(""))
      .withColumn("author", lit(""))
      .withColumn("sig", lit(""))
      .withColumn("created", lit(0L))
  }
}

/** The DuckDB-side rendering of [[Tables.starTriples]] for oracle SQL. */
object StarTriples {
  /** WITH-clause body defining `triples(subj,pred,obj)`. */
  val sqlCte: String =
    """triples AS (
      |  SELECT 'cust:' || c_custkey AS subj, 'name' AS pred, c_name AS obj FROM customer
      |  UNION ALL SELECT 'cust:' || c_custkey, 'mktsegment', c_mktsegment FROM customer
      |  UNION ALL SELECT 'cust:' || c_custkey, 'nation', 'nation:' || c_nationkey FROM customer
      |  UNION ALL SELECT 'nation:' || n_nationkey, 'name', n_name FROM nation
      |  UNION ALL SELECT 'nation:' || n_nationkey, 'region', 'region:' || n_regionkey FROM nation
      |  UNION ALL SELECT 'region:' || r_regionkey, 'name', r_name FROM region
      |  UNION ALL SELECT 'order:' || o_orderkey, 'customer', 'cust:' || o_custkey FROM orders
      |  UNION ALL SELECT 'supp:' || s_suppkey, 'nation', 'nation:' || s_nationkey FROM supplier
      |)""".stripMargin
}
