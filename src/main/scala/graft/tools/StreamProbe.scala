package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-operator scale probe — the measurement harness behind
  * SCALE.md's streaming rows, the way ScaleProbe is for batch variants.
  *
  * `runMain graft.tools.StreamProbe <sfDir> [slices] [mode]` → one JSON
  * line. Modes:
  *
  *  - `attrib` (default): drives
  *    [[graft.streaming.EventStream.attributionPairs]] over the events
  *    corpus as a TIME-sliced file stream (the watermark twin needs
  *    event-time order to evict), asserts the emitted pair multiset
  *    equals the batch interval join, and reports per-batch state-store
  *    rows — the (throughput × horizon)-bound evidence.
  *  - `psi`: [[graft.streaming.EventStream.psiSourceCells]] complete-mode
  *    over a NON-time-ordered doc split (disorder-immunity is the
  *    claim); state must stay ≤ sources × 20 cells at any stream
  *    length, and the final cells must equal the batch query's.
  *  - `hh`: [[graft.streaming.EventStream.heavyHitterSketch]] over the
  *    documents token stream, split by doc parity; state is the fixed
  *    `buckets` MG groups forever, and the exact-recount census over
  *    the streamed candidates must equal the batch heavy set.
  *  - `ingest`: [[graft.streaming.EventStream.streamExactSubstrIngest]]
  *    over a doc split into a temp index; the on-disk state (postings /
  *    ledger rows) is bounded by cap × vocabulary, every indexed
  *    shingle's df must respect the cap, and the index readout must
  *    equal the batch [[graft.ops.Dedup.exactSubstringRuns]] census.
  *
  * Each mode reports wall seconds and input rows, so rows/s is in the
  * artifact; state series come from the engine's own progress events
  * (psi/hh/attrib) or the index files (ingest).
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val slices = if (args.length > 1) args(1).toInt else 8
    val mode = if (args.length > 2) args(2) else "attrib"
    val spark = graft.LocalSession(defaultCpus = 32)

    val json = mode match {
      case "psi"    => psiProbe(spark, sfDir, slices)
      case "hh"     => hhProbe(spark, sfDir, slices)
      case "ingest" => ingestProbe(spark, sfDir, slices)
      case _        => attribProbe(spark, sfDir, slices)
    }
    spark.stop()
    println(json)
    System.out.flush()
  }

  private def jlist(xs: Seq[Long]): String = xs.mkString("[", ",", "]")
  private def r3(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Stage `df` into `slices` files keyed by `key` % slices — a
    * NON-time-ordered split (the disorder-immunity harness shape); mod
    * ordering is shuffled so arrival order correlates with nothing.
    */
  private def stageByMod(df: DataFrame, key: String, slices: Int,
      prefix: String): java.nio.file.Path = {
    val stage = java.nio.file.Files.createTempDirectory(prefix)
    // deterministic non-monotone visit order: odd residues first
    val order = (0 until slices).sortBy(m => (m % 2 == 0, m))
    order.zipWithIndex.foreach { case (m, i) =>
      df.filter(pmod(col(key), lit(slices)) === m)
        .coalesce(1).write.parquet(stage.resolve(f"b$i%03d").toString)
      Thread.sleep(1100) // file source orders micro-batches by mod time
    }
    stage
  }

  private def stateSeries(
      q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .flatMap(_.stateOperators.headOption.map(_.numRowsTotal))

  // ---- attrib (the original probe, unchanged semantics) ----
  private def attribProbe(spark: SparkSession, sfDir: String,
      slices: Int): String = {
    val ev = graft.api.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click")).cache()
    val nEvents = ev.count()

    // quantile cuts on event time (epoch seconds — approxQuantile has
    // no timestamp support) → slices of ~equal row count in strictly
    // increasing time ranges: the watermark twin must see event-time
    // order, unlike the commutative twins below
    val evSec = ev.withColumn("ts_sec", col("ts").cast("double"))
    val cuts = evSec.stat.approxQuantile("ts_sec",
      (1 until slices).map(_.toDouble / slices).toArray, 0.001)
    val stage = java.nio.file.Files.createTempDirectory("graft-streamprobe")
    val bounds = (Array[Option[Double]](None) ++ cuts.map(Some(_))) :+ None
    (0 until slices).foreach { i =>
      val lo = bounds(i); val hi = bounds(i + 1)
      var s = evSec
      lo.foreach(t => s = s.filter(col("ts_sec") >= t))
      hi.foreach(t => s = s.filter(col("ts_sec") < t))
      s.drop("ts_sec").coalesce(1)
        .write.parquet(stage.resolve(f"b$i%03d").toString)
      Thread.sleep(1100)
    }

    val t0 = System.nanoTime()
    val in = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
    val q = graft.streaming.EventStream.attributionPairs(in)
      .writeStream.outputMode("append").format("memory")
      .queryName("streamprobe_attrib").start()
    val (pairsStreamed, stateRows): (Long, Seq[Long]) =
      try {
        q.processAllAvailable()
        (spark.table("streamprobe_attrib").count(), stateSeries(q))
      } finally q.stop()
    val sec = (System.nanoTime() - t0) / 1e9

    // batch twin: the same interval join as join_range_attribution's
    // inner pair set; exactAll both ways = multiset equality
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("cts"))
    val batch = purchases.join(clicks,
        col("user_id") === col("click_user") &&
          col("cts") >= col("pts") - expr("INTERVAL 600 SECONDS") &&
          col("cts") < col("pts"))
      .select("purchase_id", "user_id", "cts")
    val streamed = spark.table("streamprobe_attrib")
    val diff = streamed.exceptAll(batch).count() +
      batch.exceptAll(streamed).count()

    s"""{"mode":"attrib","sf":"$sfDir","events":$nEvents,"batches":$slices""" +
      s""","pairs":$pairsStreamed,"exact_match":${diff == 0L}""" +
      s""","state_rows_max":${if (stateRows.isEmpty) 0L else stateRows.max}""" +
      s""","state_rows_per_batch":${jlist(stateRows)}""" +
      s""","sec":${r3(sec)}}"""
  }

  // ---- psi: domain-bounded complete-mode cells ----
  private def psiProbe(spark: SparkSession, sfDir: String,
      slices: Int): String = {
    val docs = graft.api.Tables.documents(spark, sfDir).cache()
    val nDocs = docs.count()
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val stage = stageByMod(raw, "doc_id", slices, "graft-psi-probe")

    val t0 = System.nanoTime()
    val in = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
    val q = graft.streaming.EventStream.psiSourceCells(in)
      .writeStream.outputMode("complete").format("memory")
      .queryName("streamprobe_psi").start()
    val stateRows =
      try { q.processAllAvailable(); stateSeries(q) } finally q.stop()
    val sec = (System.nanoTime() - t0) / 1e9

    def cells(df: DataFrame): Map[(String, Long), Long] =
      graft.streaming.EventStream.psiSourceCells(df).collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("b")) ->
          r.getAs[Long]("c")).toMap
    val streamed = spark.table("streamprobe_psi").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("b")) ->
        r.getAs[Long]("c")).toMap
    val batch = cells(docs)
    val sources = docs.select("source").distinct().count()

    s"""{"mode":"psi","sf":"$sfDir","docs":$nDocs,"batches":$slices""" +
      s""","cells":${streamed.size},"cell_bound":${sources * 20}""" +
      s""","exact_match":${streamed == batch}""" +
      s""","state_rows_max":${if (stateRows.isEmpty) 0L else stateRows.max}""" +
      s""","state_rows_per_batch":${jlist(stateRows)}""" +
      s""","sec":${r3(sec)}}"""
  }

  // ---- hh: fixed-bucket MG sketch, census == batch heavy set ----
  private def hhProbe(spark: SparkSession, sfDir: String,
      slices: Int, cap: Int = 64, buckets: Int = 32): String = {
    import spark.implicits._
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        explode(graft.ops.TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "").cache()
    val nToks = toks.count()
    val stage = stageByMod(toks.select("doc_id", "w"), "doc_id", slices,
      "graft-hh-probe")

    val t0 = System.nanoTime()
    val in = spark.readStream.schema(
        spark.read.parquet(stage.resolve("b000").toString).schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
      .select("w").as[graft.streaming.EventStream.Tok]
    val q = graft.streaming.EventStream
      .heavyHitterSketch(in, cap = cap, buckets = buckets)
      .writeStream.outputMode("append").format("memory")
      .queryName("streamprobe_hh").start()
    val stateRows =
      try { q.processAllAvailable(); stateSeries(q) } finally q.stop()
    val sec = (System.nanoTime() - t0) / 1e9

    // upsert semantics: last emit per bucket; census over the union of
    // candidate sets must equal the exact heavy set (the
    // agg_heavy_hitters threshold discipline)
    val emits = spark.table("streamprobe_hh").collect()
      .map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("n"),
        r.getAs[Map[String, Long]]("candidates")))
    val last = emits.zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1).values.toSeq
    val n = last.map(_._2).sum
    val candidates = last.flatMap(_._3.keys).toSet
    val bufMax = if (last.isEmpty) 0 else last.map(_._3.size).max
    val exact = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .filter(col("c") * cap > lit(n)).as[(String, Long)].collect().toMap
    val census = toks.filter(col("w").isin(candidates.toSeq: _*))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .filter(col("c") * cap > lit(n)).as[(String, Long)].collect().toMap

    s"""{"mode":"hh","sf":"$sfDir","tokens":$nToks,"batches":$slices""" +
      s""","cap":$cap,"buckets":$buckets""" +
      s""","candidates":${candidates.size},"heavy":${exact.size}""" +
      s""","buffer_max":$bufMax,"buffer_bound":${2 * cap}""" +
      s""","exact_match":${census == exact && exact.keySet.subsetOf(candidates)}""" +
      s""","state_rows_max":${if (stateRows.isEmpty) 0L else stateRows.max}""" +
      s""","state_rows_per_batch":${jlist(stateRows)}""" +
      s""","sec":${r3(sec)}}"""
  }

  // ---- ingest: capped exact-substring index, readout == batch census ----
  private def ingestProbe(spark: SparkSession, sfDir: String,
      slices: Int, n: Int = 5, cap: Int = 128): String = {
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = raw.count()
    val stage = stageByMod(raw, "doc_id", slices, "graft-ingest-probe")
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ingest-idx").toString

    val t0 = System.nanoTime()
    val in = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
    val q = graft.streaming.EventStream.streamExactSubstrIngest(
      in, idx, n = n, maxShingleDf = cap)
    try q.processAllAvailable() finally q.stop()
    val sec = (System.nanoTime() - t0) / 1e9

    val postings = spark.read.parquet(s"$idx/postings")
    val postRows = postings.count()
    val ledgerRows = spark.read.parquet(s"$idx/ledger")
      .select("h").distinct().count()
    val maxDf = postings.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .agg(max("nd")).head.getLong(0)

    def runs(df: DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
        r.getAs[Long]("run_tokens"))).toSet
    val got = runs(graft.streaming.EventStream.exactSubstrRunsFromIndex(
      spark, idx, n = n, minRunTokens = 15, maxShingleDf = cap))
    val want = runs(graft.ops.Dedup.exactSubstringRuns(
      graft.api.Tables.documents(spark, sfDir), n = n,
      minRunTokens = 15, maxShingleDf = cap))

    s"""{"mode":"ingest","sf":"$sfDir","docs":$nDocs,"batches":$slices""" +
      s""","cap":$cap,"postings_rows":$postRows,"ledger_shingles":$ledgerRows""" +
      s""","max_df":$maxDf,"df_bound_ok":${maxDf <= cap}""" +
      s""","runs":${got.size},"exact_match":${got == want && want.nonEmpty}""" +
      s""","sec":${r3(sec)}}"""
  }
}
