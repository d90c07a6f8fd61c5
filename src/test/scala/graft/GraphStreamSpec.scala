package graft

import org.apache.spark.sql.functions._

import graft.api.{Queries, Tables}
import graft.graph.GraphOps
import graft.streaming.EventStream

class GraphStreamSpec extends SparkSpecBase {
  private val dir = "/root/testdata/sf0.001"

  test("reverse BFS depths match the join-derived oracle shape") {
    val triples = Tables.starTriples(spark, dir)
    val bfs = GraphOps.reverseBfs(triples, "region:2", maxDepth = 2)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Int]("depth")).toMap
    // depth 1 = nations in region:2; depth 2 = custs/supps in those nations
    val d1 = triples.filter(col("pred") === "region" && col("obj") === "region:2")
      .select("subj").collect().map(_.getString(0)).toSet
    val d2 = triples.filter(col("pred") === "nation")
      .join(triples.filter(col("pred") === "region" && col("obj") === "region:2")
        .select(col("subj").as("obj")), Seq("obj"), "left_semi")
      .select("subj").collect().map(_.getString(0)).toSet
    assert(d1.nonEmpty && d2.nonEmpty)
    assert(bfs.filter(_._2 == 1).keySet == d1)
    assert(bfs.filter(_._2 == 2).keySet == d2)
  }

  test("pagerank: rank mass concentrates on pointed-to nodes") {
    val triples = Tables.starTriples(spark, dir)
    val pr = GraphOps.pageRank(triples, iters = 5)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Double]("rank")).toMap
    // nations are pointed at by customers+suppliers: must outrank any single customer
    val nationRank = pr.filter(_._1.startsWith("nation:")).values.max
    val custRank = pr.filter(_._1.startsWith("cust:")).values.max
    assert(nationRank > custRank)
  }

  test("fixed-point pagerank agrees with float pagerank on ordering shape") {
    val triples = Tables.starTriples(spark, dir)
    val fp = GraphOps.pageRankFixedPoint(triples, iters = 5)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_u")).toMap
    // same concentration property as the float variant
    val nationRank = fp.filter(_._1.startsWith("nation:")).values.max
    val custRank = fp.filter(_._1.startsWith("cust:")).values.max
    assert(nationRank > custRank)
    // a node nobody points at keeps exactly the dangling floor after one
    // round: 0.15 + 0.85·0 = 150000 rank units
    val orphanRanks = fp.filter { case (n, _) => n.startsWith("order:") }.values.toSet
    assert(orphanRanks == Set(150000L), s"orders have no in-edges: $orphanRanks")
    // rank units are bounded by total mass (nodes · 1e6)
    assert(fp.values.forall(r => r >= 150000L && r < fp.size.toLong * 1000000L))
  }

  test("seed-local PPR is bit-identical to the naive full-graph reference loop") {
    import spark.implicits._
    // cycle back through the seed, a chain that runs past the 5-round
    // horizon (h needs round 6 — must be absent), and a disconnected
    // component (z→w — must be absent from a's ranks); w has no
    // out-edges, so as a seed it keeps only its teleport mass
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "b" -> "d",
      "d" -> "e", "e" -> "f", "f" -> "g", "g" -> "h", "z" -> "w")
    val t = edges.map { case (s, o) => (s, "p", o) }.toDF("subj", "pred", "obj")
    val iters = 5
    // naive driver-side reference: every node updated every round with
    // the exact full-graph vprog semantics
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def reference(seed: String): Map[String, Long] = {
      var rank = nodes.map(n => n -> (if (n == seed) 1000000L else 0L)).toMap
      for (_ <- 0 until iters) {
        val contribs = edges.groupBy(_._2).view.mapValues(_.map { case (s, _) =>
          rank(s) / outDeg(s) }.sum).toMap.withDefaultValue(0L)
        rank = nodes.map(n => n ->
          ((if (n == seed) 150000L else 0L) + 85L * contribs(n) / 100L)).toMap
      }
      rank.filter(_._2 > 0)
    }
    val got = GraphOps.personalizedPageRankFixedPoint(t, Seq("a", "w"), iters)
      .filter(col("rank_u") > 0).collect()
      .groupBy(_.getAs[String]("seed"))
      .map { case (s, rows) => s ->
        rows.map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_u")).toMap }
    assert(got == Map("a" -> reference("a"), "w" -> reference("w")), s"got $got")
    assert(!got("a").contains("h") && !got("a").contains("z") && !got("a").contains("w"))
    assert(got("w") == Map("w" -> 150000L))
  }

  test("batched PPR slices are bit-identical to the single-seed runs") {
    val triples = Tables.starTriples(spark, dir)
    val seeds = Seq("order:1", "order:2", "cust:42")
    def ranks(seeds: Seq[String]) =
      GraphOps.personalizedPageRankFixedPoint(triples, seeds, iters = 5)
        .filter(col("rank_u") > 0).collect()
        .groupBy(_.getAs[String]("seed"))
        .map { case (s, rows) => s ->
          rows.map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_u")).toMap }
    val batch = ranks(seeds)
    seeds.foreach { s =>
      assert(batch.getOrElse(s, Map.empty) == ranks(Seq(s))(s),
        s"batched slice for $s diverges from the single-seed run")
    }
  }

  test("componentSizes labels components by their min node string") {
    import spark.implicits._
    val t = Seq(
      ("b", "p", "a"), ("b", "p", "c"), // component min label "a"
      ("y", "p", "x") // component min label "x"
    ).toDF("subj", "pred", "obj")
    val sizes = GraphOps.componentSizes(t).collect()
      .map(r => r.getAs[String]("component") -> r.getAs[Long]("n")).toMap
    assert(sizes == Map("a" -> 3L, "x" -> 2L))
  }

  test("connected components: one component per connected star subgraph") {
    import spark.implicits._
    // the chain d→c→b→a takes three rounds to carry label "a" to d
    val e = Seq(
      ("d", "c"), ("c", "b"), ("b", "a"), // component 1
      ("x", "y") // component 2
    ).toDF("src", "dst")
    val cc = GraphOps.connectedComponents(e).collect()
      .map(r => r.getAs[String]("node") -> r.getAs[String]("component")).toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "x" -> "x", "y" -> "x"))
  }

  // the loops' answers must not depend on partitioning or on AQE
  // re-planning a round: the same rows at 1 and 7 shuffle partitions,
  // AQE on and off
  private val layoutCases: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "reverse BFS" -> (() =>
      GraphOps.reverseBfs(Tables.starTriples(spark, dir), "region:2", maxDepth = 4)),
    "connected components" -> (() => GraphOps.connectedComponents(
      Tables.starTriples(spark, dir).select(col("subj").as("src"), col("obj").as("dst")))),
    "batched PPR" -> (() => GraphOps.personalizedPageRankFixedPoint(
      Tables.starTriples(spark, dir), Seq("order:1", "order:2", "cust:42"), iters = 5)),
    "duplicate clusters" -> (() =>
      Queries.registry("dedup_clusters").fn(spark, dir)))

  for ((name, run) <- layoutCases)
    test(s"$name: same rows at 1 or 7 shuffle partitions, AQE on or off") {
      def rows(parts: Int, aqe: Boolean): Seq[String] = {
        val prev = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
          .map(k => k -> spark.conf.get(k))
        spark.conf.set("spark.sql.shuffle.partitions", parts.toLong)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        try run().collect().map(_.toString).toSeq.sorted
        finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
      }
      val base = rows(1, aqe = true)
      assert(base.nonEmpty)
      for (parts <- Seq(1, 7); aqe <- Seq(true, false) if (parts, aqe) != ((1, true)))
        assert(rows(parts, aqe) == base, s"$parts partitions, AQE $aqe")
    }

  test("streaming dedup drops replayed events across micro-batches") {
    val stageDir = java.nio.file.Files.createTempDirectory("graft-dedup")
    // the same file twice: maxFilesPerTrigger=1 puts the replay in a
    // SECOND micro-batch, so dedup must work through state, not within
    // one batch
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stageDir.resolve("events-000.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stageDir.resolve("events-001.parquet"))
    val q = EventStream.dedupEvents(EventStream.readEvents(spark, stageDir.toString))
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup").start()
    try {
      q.processAllAvailable()
      val n = spark.table("stream_dedup").count()
      val distinct = Tables.events(spark, dir).select("event_id").distinct().count()
      assert(n == distinct, s"streamed $n rows, expected $distinct distinct events")
    } finally q.stop()
  }

  test("stateful sessionization: completed sessions match batch lag analysis") {
    import spark.implicits._
    val stageDir = java.nio.file.Files.createTempDirectory("graft-sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stageDir.resolve("events-000.parquet"))
    val stream = EventStream.readEvents(spark, stageDir.toString)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[EventStream.SessionEvent]
    val q = EventStream.sessionize(stream, gapSec = 1800)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_sessions").start()
    try {
      q.processAllAvailable()
      val completed = spark.table("stream_sessions")
        .groupBy("user_id").agg(count(lit(1)).as("n_completed"))
        .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_completed")).toMap
      // batch lag-based session counts (same as the events_sessionize query)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val batch = Tables.events(spark, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("gap", when(col("prev_ts").isNotNull &&
          (col("ts").cast("double") - col("prev_ts").cast("double")) > 1800, 1).otherwise(0))
        .groupBy("user_id").agg((sum("gap") + 1).cast("long").as("n_sessions"))
        .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_sessions")).toMap
      assert(batch.nonEmpty)
      // the open tail session is still in state: completed = total - 1
      batch.foreach { case (u, n) =>
        assert(completed.getOrElse(u, 0L) == n - 1, s"user $u")
      }
    } finally q.stop()
  }

  test("streaming triple ingest dedups across micro-batches") {
    import spark.implicits._
    import graft.model.Triple
    val stageDir = java.nio.file.Files.createTempDirectory("graft-ingest")
    val store = new graft.store.TripleStore(spark, tmpDir("ingest-store") + "/t", 8)
    // batch 1: 3 triples; batch 2: 2 dups + 1 new
    Seq(Triple("a", "p", "1"), Triple("b", "p", "2"), Triple("c", "p", "3")).toDF()
      .coalesce(1).write.parquet(stageDir.resolve("b1").toString)
    Seq(Triple("a", "p", "1"), Triple("b", "p", "2"), Triple("d", "p", "4")).toDF()
      .coalesce(1).write.parquet(stageDir.resolve("b2").toString)
    val in = spark.readStream
      .schema(store.all.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stageDir.toString + "/*/")
    val q = EventStream.streamInsert(store, in)
    try q.processAllAvailable() finally q.stop()
    assert(store.count() == 4)
    assert(store.all.select("subj").collect().map(_.getString(0)).toSet ==
      Set("a", "b", "c", "d"))
  }

  test("streaming near-dup ingest suppresses cross-batch and within-batch collisions") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft-neardup")
    val idx = tmpDir("neardup-idx") + "/idx"
    val out = tmpDir("neardup-out") + "/out"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val b1 = docs.filter(org.apache.spark.sql.functions.col("doc_id") < 10)
    b1.coalesce(1).write.parquet(stage.resolve("b1").toString)
    // batch 2: fresh docs, EXACT copies of batch-1 docs (identical text
    // → identical signature → guaranteed full-band collision with the
    // index), and an identical within-batch twin pair built from
    // unique tokens (no accidental collision with the corpus)
    val plants = b1.filter(org.apache.spark.sql.functions.col("doc_id") < 5)
      .withColumn("doc_id", org.apache.spark.sql.functions.col("doc_id") + 100000)
    val fresh = docs.filter(org.apache.spark.sql.functions.col("doc_id").between(10, 14))
    val uniq = (0 until 100).map(i => s"uniqueword$i").mkString(" ")
    val twins = Seq((9000L, uniq), (9001L, uniq)).toDF("doc_id", "text")
    fresh.unionByName(plants).unionByName(twins)
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val in = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
    val q = EventStream.streamNearDedupIngest(in, idx, out)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch-1 survivors = all docs not band-colliding with a smaller id
    // (the ingest runs uncapped, so mirror with maxBandFreq = 0)
    val drops1 = graft.ops.Dedup.minhashPairs(b1, k = 8, bands = 4, maxBandFreq = 0)
      .collect().map(_.getAs[Long]("b")).toSet
    assert(got.intersect((0L until 10L).toSet) == (0L until 10L).toSet.diff(drops1))
    // within-batch twin: smaller id survives, larger is suppressed
    assert(got(9000L) && !got(9001L))
    // exact copies of already-ingested docs never land
    assert(!(100000L until 100005L).exists(got))
    // the index holds bands only for survivors
    assert(spark.read.parquet(idx).count() == got.size * 4L)
  }

  test("band index compaction bounds file count; suppression survives the rewrite") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft-compact")
    val idx = tmpDir("compact-idx") + "/idx"
    val out = tmpDir("compact-out") + "/out"
    def doc(id: Long) = (id, (0 until 60).map(j => s"tok${id}x$j").mkString(" "))
    // six single-file micro-batches of fresh unique-token docs; the LAST
    // batch re-sends batch-0's doc 0 under a new id — it must still
    // collide after the index has been compacted twice in between
    val batches: Seq[Seq[(Long, String)]] =
      Seq(Seq(doc(0), doc(1)), Seq(doc(2), doc(3)), Seq(doc(4)),
        Seq(doc(5)), Seq(doc(6)), Seq(doc(7), (100000L, doc(0)._2)))
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text").coalesce(1).write.parquet(stage.resolve(s"b$i").toString)
    }
    val in = spark.readStream
      .schema(batches.head.toDF("doc_id", "text").schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
    val q = EventStream.streamNearDedupIngest(in, idx, out,
      compactEvery = 2, compactFiles = 2)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L to 7L).toSet, s"unexpected survivors $got")
    // 6 micro-batches → compactions after batches 2, 4 and 6 (the last
    // append included): the live index is exactly the final rewrite,
    // never the per-batch file accumulation. Count parquet files
    // RECURSIVELY — data lives under kb=N/ hive subdirectories, so a
    // root-level listing counts zero files and asserts nothing. The
    // rewrite hash-partitions on kb (each occupied bucket lands wholly
    // in one task), so the documented bound is one file per occupied
    // bucket per compactFile task that holds it.
    def parquetFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).getOrElse(Array.empty).toSeq.flatMap { f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")) Seq(f)
        else Nil
      }
    val kbDirs = Option(new java.io.File(idx).listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("kb="))
    val dataFiles = parquetFiles(new java.io.File(idx))
    assert(kbDirs.nonEmpty, "index lost its kb= hive partitioning")
    assert(dataFiles.nonEmpty, "no parquet data files found under the index")
    assert(dataFiles.length <= kbDirs.length * 2,
      s"index not compacted: ${dataFiles.length} files over ${kbDirs.length} buckets")
    // 6 appended file-sets (one per micro-batch) would far exceed the
    // bound only via accumulation INSIDE buckets — assert per-bucket too
    kbDirs.foreach { d =>
      val n = parquetFiles(d).length
      assert(n <= 2, s"bucket ${d.getName} not compacted: $n files")
    }
    assert(spark.read.parquet(idx).count() == got.size * 4L)
  }

  test("band index probe prunes non-matching kb partitions at listing time") {
    import spark.implicits._
    val idx = tmpDir("probe-prune") + "/idx"
    // 200 distinct keys spread across the 16 default buckets, one file
    // per occupied bucket
    val kb16 = pmod(xxhash64(col("key")), lit(16L)).cast("int")
    (0 until 200).map(i => (i % 4, s"key$i")).toDF("band", "key")
      .withColumn("kb", kb16)
      .repartition(1)
      .write.partitionBy("kb").parquet(idx)
    val allKb = spark.read.parquet(idx).select("kb").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(allKb.size > 4, s"fixture degenerate: only ${allKb.size} buckets")
    val want = allKb.take(2).toSeq
    val probed = EventStream.probeBandIndex(spark, idx, want)
    probed.collect()
    val scan = probed.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    // listing-time pruning: the scan's file/partition metrics see ONLY
    // the probed buckets, not the whole index
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead <= want.size.toLong && filesRead < allKb.size.toLong,
      s"probe read $filesRead files — kb partitions not pruned at listing time")
    // and the probe returns exactly the rows of those buckets
    val expect = spark.read.parquet(idx).filter(col("kb").isin(want: _*))
      .select("band", "key").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(probed.collect().map(r => (r.getInt(0), r.getString(1))).toSet == expect)
  }

  test("probe and compact reject a pre-bucketing flat index with an actionable error") {
    import spark.implicits._
    val idx = tmpDir("flat-idx") + "/idx"
    // the old layout: (band, key) parquet, no kb= hive partitioning —
    // what a stream resumed from an old checkpoint would find on disk
    Seq((0, "a"), (1, "b")).toDF("band", "key").write.parquet(idx)
    val e1 = intercept[IllegalStateException] {
      EventStream.probeBandIndex(spark, idx, Seq(0))
    }
    assert(e1.getMessage.contains("predates kb hive partitioning"),
      s"unexpected message: ${e1.getMessage}")
    val e2 = intercept[IllegalStateException] {
      EventStream.compactBandIndex(spark, idx)
    }
    assert(e2.getMessage.contains("predates kb hive partitioning"),
      s"unexpected message: ${e2.getMessage}")
  }

  test("band index recovers from a crash between the compaction renames") {
    import spark.implicits._
    val base = tmpDir("compact-crash")
    val idx = base + "/idx"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeIndex(tag: String, path: String): Unit =
      Seq((0, tag)).toDF("band", "key").write.mode("overwrite").parquet(path)
    def liveKeys(): Set[String] = {
      EventStream.recoverBandIndex(spark, idx)
      spark.read.parquet(idx).select("key").collect().map(_.getString(0)).toSet
    }
    // crash state A: parked original only (first rename landed, crash
    // before the second) with NO completed rewrite — restore .precompact
    writeIndex("orig", idx + ".precompact")
    assert(liveKeys() == Set("orig"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + ".precompact")))
    // crash state B: both siblings present (rewrite fully written, crash
    // between the renames) — prefer the completed .compacting rewrite
    // and clean up the parked copy
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    writeIndex("rewrite", idx + ".compacting")
    writeIndex("orig", idx + ".precompact")
    assert(liveKeys() == Set("rewrite"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + ".precompact")))
    // healthy index: recovery is a no-op even with a stale sibling
    writeIndex("stale", idx + ".compacting")
    assert(liveKeys() == Set("rewrite"))
  }

  test("recovery with a candidate that cannot be restored fails loudly") {
    // a recovery candidate exists but the rename to the live path fails
    // (permissions, cross-volume, racing writer): silently returning
    // would hand the read path its empty-index fallback — previously
    // seen near-dups pass through with no signal, the exact degrade
    // mode recoverBandIndex exists to close. Forced via a local-fs
    // subclass whose rename refuses this test's live path.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faulty.impl", classOf[FaultyRenameFs].getName)
    conf.set("fs.faulty.impl.disable.cache", "true")
    val base = tmpDir("norestore")
    val idx = s"faulty:$base/idx-norestore"
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(conf)
    // candidate = completed rewrite only
    fs.mkdirs(new org.apache.hadoop.fs.Path(idx + ".compacting"))
    val e1 = intercept[java.io.IOException] {
      EventStream.recoverBandIndex(spark, idx)
    }
    assert(e1.getMessage.contains("could not restore"), e1.getMessage)
    // candidate = parked original only
    fs.delete(new org.apache.hadoop.fs.Path(idx + ".compacting"), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(idx + ".precompact"))
    val e2 = intercept[java.io.IOException] {
      EventStream.recoverBandIndex(spark, idx)
    }
    assert(e2.getMessage.contains("could not restore"), e2.getMessage)
  }

  test("near-dup ingest: corrupt index fails loudly, absent index starts empty") {
    import spark.implicits._
    def runBatch(idx: String, out: String): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft-corrupt")
      val b = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
      b.coalesce(1).write.parquet(stage.resolve("b1").toString)
      val in = spark.readStream.schema(b.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
      val q = EventStream.streamNearDedupIngest(in, idx, out)
      try q.processAllAvailable() finally q.stop()
    }
    // absent index — fresh stream: starts from an EMPTY index, ingests
    val base = tmpDir("corrupt-idx")
    runBatch(base + "/idx-fresh", base + "/out-fresh")
    assert(spark.read.parquet(base + "/out-fresh").count() == 1L)
    // corrupt index — present but unreadable MUST fail the stream (the
    // old catch-all degraded to an empty index: previously-seen
    // near-dups silently passed through). Write garbage bytes where a
    // parquet footer should be.
    val corrupt = new java.io.File(base + "/idx-corrupt")
    corrupt.mkdirs()
    java.nio.file.Files.write(corrupt.toPath.resolve("part-00000.parquet"),
      "this is not a parquet file".getBytes)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runBatch(base + "/idx-corrupt", base + "/out-corrupt")
    }
    assert(!new java.io.File(base + "/out-corrupt").exists ||
      spark.read.parquet(base + "/out-corrupt").count() == 0L,
      s"corrupt index must not silently ingest (got ${e.getMessage})")
  }

  test("stratified sample predicate is stream/batch-identical (stateless)") {
    // the hash-threshold sampler keeps no state, so applying it to a
    // document STREAM must admit exactly the batch survivors — this is
    // the property that makes the sampler safe in an ingest pipeline
    def sampled(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lang"), col("doc_id"),
        pmod(graft.functions.GraftFunctions.md5Hash60(
          concat(lit("strat:"), col("doc_id").cast("string"))), lit(100L)).as("h"))
      .filter(col("h") < when(col("lang") === "en", lit(5L)).otherwise(lit(20L)))
      .select("lang", "doc_id")
    val stageDir = java.nio.file.Files.createTempDirectory("graft-strat")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      stageDir.resolve("docs-000.parquet"))
    val docs = Tables.documents(spark, dir)
    val in = spark.readStream.schema(docs.schema).parquet(stageDir.toString)
    val q = sampled(in)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_strat").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_strat").collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"))).toSet
      val batch = sampled(docs).collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming hourly window converges to the batch answer") {
    // file source wants a directory of arriving files — stage the fixture
    val stageDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stageDir.resolve("events-000.parquet"))
    val q = EventStream.runToMemory(spark, stageDir.toString, "stream_hourly")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_hourly")
        .select(col("hr"), col("event_type"), col("n"), col("total"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDecimal(3))).toSet
      val batch = Tables.events(spark, dir)
        .withColumn("hr", date_trunc("hour", col("ts")))
        .groupBy("hr", "event_type")
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(12,2)")).as("total"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDecimal(3))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join converges to the batch range join; pairs straddle batches") {
    // time-split staging (NOT parity-split): micro-batch 2 must not be
    // older than the watermark advanced by batch 1, or the join drops
    // its rows as late — arrival in event-time order is the realistic
    // stream anyway. Clicks within 10 min of the split boundary pair
    // with purchases in the NEXT micro-batch only if the buffered join
    // state survives the boundary.
    val ev = Tables.events(spark, dir)
    val median = ev.select(expr("percentile_approx(cast(ts as double), 0.5)"))
      .head().getDouble(0)
    val stage = java.nio.file.Files.createTempDirectory("graft-ssjoin")
    ev.filter(col("ts").cast("double") < median).coalesce(1)
      .write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100) // file source orders batches by mod time
    ev.filter(col("ts").cast("double") >= median).coalesce(1)
      .write.parquet(stage.resolve("b2").toString)
    val in = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
    val q = EventStream.attributionPairs(in)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_attrib").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_attrib")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
      val batch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
        .join(ev.filter(col("event_type") === "click")
            .select(col("user_id").as("click_user"), col("ts").as("cts")),
          col("user_id") === col("click_user") &&
            col("cts") >= col("pts") - expr("INTERVAL 600 SECONDS") &&
            col("cts") < col("pts"))
        .select("purchase_id", "user_id", "cts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
      assert(batch.nonEmpty, "fixture produced no attribution pairs")
      assert(streamed == batch,
        s"stream/batch diverge: extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
      // the boundary-straddling pairs specifically must be present
      val straddling = batch.filter { case (_, _, cts) =>
        math.abs(cts.getTime / 1000.0 - median) < 600 }
      assert(straddling.subsetOf(streamed))
    } finally q.stop()
  }

  test("sessionize/transitions cross-batch disorder bound: gaps <= gap-delta safe, (gap-delta, gap] may split; no retroactive merge") {
    import spark.implicits._
    // The monotone-batch assumption quantified (the bound latestStates
    // explicitly does NOT need — its max-wins upsert is order-free):
    // a cross-batch LATE event landing delta behind the open session's
    // tail regresses last_us by delta, so the NEXT event's computed gap
    // is its true gap g plus delta. Hence:
    //   - g <= gapSec - delta  -> correct (no spurious split);
    //   - gapSec - delta < g <= gapSec -> SPURIOUS split (only window);
    //   - late events are absorbed (n counts them), never retroactively
    //     split or merge an already-closed session;
    //   - within ONE batch, any disorder is fully healed by the
    //     in-batch sort.
    // gap = 100 s, delta = 20 s; all times in seconds below, us in data.
    def us(s: Long) = s * 1000000L
    val stage = java.nio.file.Files.createTempDirectory("graft-disorder")
    // user 1 exercises the SAFE side (g = 70 <= 100 - 20), user 2 the
    // spurious window (g = 85 in (80, 100]); both have identical
    // batch-1 history and the same delta=20 late event in batch 2.
    Seq((1L, us(0), 1L), (1L, us(50), 2L),
        (2L, us(0), 3L), (2L, us(50), 4L),
        // user 3: WITHIN-batch disorder only (written out of order,
        // every true gap 80 <= 100) — the in-batch sort must heal it
        (3L, us(160), 5L), (3L, us(0), 6L), (3L, us(80), 7L))
      .toDF("user_id", "ts_us", "event_id")
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100) // file source orders batches by mod time
    Seq((1L, us(30), 8L), (1L, us(120), 9L),   // late delta=20; next g=70
        (2L, us(30), 10L), (2L, us(135), 11L), // late delta=20; next g=85
        // close both users' sessions with a genuine > gap jump so the
        // assertions read COMPLETED sessions, not open state
        (1L, us(1000), 12L), (2L, us(1000), 13L))
      .toDF("user_id", "ts_us", "event_id")
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType)))
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
      .as[EventStream.SessionEvent]
    val q = EventStream.sessionize(in, gapSec = 100)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_disorder").start()
    try {
      q.processAllAvailable()
      val sessions = spark.table("stream_disorder")
        .collect().map(r => (r.getAs[Long]("user_id"),
          (r.getAs[Long]("start_us"), r.getAs[Long]("end_us"), r.getAs[Int]("n_events"))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toList).toMap
      // user 1 (safe side): ONE completed session absorbing the late
      // event — [0, 120] with n=4 (the late t=30 counted, no split)
      assert(sessions(1L) == List((us(0), us(120), 4)),
        s"user 1 (g <= gap - delta) must not split: ${sessions(1L)}")
      // user 2 (spurious window): the regressed tail splits at t=135 —
      // the session closes at the LATE timestamp (end_us = 30, the
      // regressed last_us), the documented artifact
      assert(sessions(2L) == List((us(0), us(30), 3), (us(135), us(135), 1)),
        s"user 2 (gap - delta < g <= gap) must split spuriously: ${sessions(2L)}")
      // user 3: in-batch disorder fully healed — one open session
      // [0, 160] (n=3) still in state, so NOTHING completed
      assert(!sessions.contains(3L),
        s"user 3's in-batch disorder must heal to one open session: ${sessions.get(3L)}")
    } finally q.stop()

    // transitions under the same staging: the cross-batch late event
    // emits in ARRIVAL order (view@50 -> late click@30), i.e. the pair
    // direction inverts vs the true-time batch oracle — the bound is
    // "pairs follow arrival order across batches, true order within"
    val stageT = java.nio.file.Files.createTempDirectory("graft-disorder-t")
    Seq((9L, us(10), 1L, "view"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
      .coalesce(1).write.parquet(stageT.resolve("b1").toString)
    Thread.sleep(1100)
    Seq((9L, us(5), 2L, "click"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
      .coalesce(1).write.parquet(stageT.resolve("b2").toString)
    val schemaT = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    val inT = spark.readStream.schema(schemaT)
      .option("maxFilesPerTrigger", 1).parquet(stageT.toString + "/*/")
      .as[EventStream.TypedEvent]
    val qT = EventStream.transitions(inT)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_disorder_t").start()
    try {
      qT.processAllAvailable()
      val pairs = spark.table("stream_disorder_t")
        .collect().map(r => (r.getAs[String]("src"), r.getAs[String]("dst"))).toList
      assert(pairs == List(("view", "click")),
        s"cross-batch late event must pair in arrival order: $pairs")
    } finally qT.stop()
  }

  test("stateful transitions converge to batch lead() counts; pairs straddle batches") {
    import spark.implicits._
    // explicit two-batch fixture: user 1's last batch-1 event (t=30,
    // view) pairs with its first batch-2 event (t=40, click) ONLY if
    // the last-event state survives the micro-batch boundary
    val stage = java.nio.file.Files.createTempDirectory("graft-trans")
    Seq((1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"), (1L, 30L, 3L, "view"),
        (2L, 15L, 4L, "view"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Seq((1L, 40L, 5L, "click"), (2L, 25L, 6L, "purchase"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val in = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
      .as[EventStream.TypedEvent]
    val q = EventStream.transitions(in)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_transitions").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_transitions")
        .groupBy("src", "dst").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("count")).toMap
      // user 1: view→click, click→view, view→click(cross-batch);
      // user 2: view→purchase(cross-batch)
      assert(got == Map(("view", "click") -> 2L, ("click", "view") -> 1L,
        ("view", "purchase") -> 1L), s"got $got")
    } finally q.stop()

    // and on the real corpus: streamed counts equal the batch window query
    val stage2 = java.nio.file.Files.createTempDirectory("graft-trans2")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage2.resolve("events-000.parquet"))
    val in2 = EventStream.readEvents(spark, stage2.toString)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[EventStream.TypedEvent]
    val q2 = EventStream.transitions(in2)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_transitions2").start()
    try {
      q2.processAllAvailable()
      val streamed = spark.table("stream_transitions2")
        .groupBy("src", "dst").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("count")).toMap
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val batch = Tables.events(spark, dir)
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst")).count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("count")).toMap
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q2.stop()
  }

  test("stateful latest-state upsert: late events lose, replay is idempotent, census converges") {
    import spark.implicits._
    val valuedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value_c", org.apache.spark.sql.types.LongType)))
    // crafted disorder: batch 2 carries a LATE event for user 1
    // (ts 20 < the state's 30) that must NOT override, and a genuinely
    // newer state for user 2 that must. Upsert convergence is
    // batch-order-independent (max wins), unlike the monotone-batch ops.
    val stage = java.nio.file.Files.createTempDirectory("graft-latest")
    Seq((1L, 10L, 1L, "view", 100L), (1L, 30L, 3L, "view", 300L),
        (2L, 20L, 2L, "purchase", 200L))
      .toDF("user_id", "ts_us", "event_id", "event_type", "value_c")
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Seq((1L, 20L, 4L, "click", 999L), (2L, 40L, 5L, "view", 500L))
      .toDF("user_id", "ts_us", "event_id", "event_type", "value_c")
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val in = spark.readStream.schema(valuedSchema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
      .as[EventStream.ValuedEvent]
    val q = EventStream.latestStates(in)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_latest").start()
    try {
      q.processAllAvailable()
      val fin = spark.table("stream_latest").as[EventStream.UserState].collect()
        .groupBy(_.user_id)
        .map { case (u, rows) => u -> rows.maxBy(r => (r.ts_us, r.event_id)) }
      assert(fin(1L).event_id == 3L && fin(1L).value_c == 300L,
        s"late event overrode user 1's state: ${fin(1L)}")
      assert(fin(2L).event_id == 5L && fin(2L).value_c == 500L)
    } finally q.stop()

    // corpus + replay: the SAME events file twice (cross-batch state +
    // upsert idempotence) — the final per-type census must equal the
    // batch events_cdc_latest query exactly
    val stage2 = java.nio.file.Files.createTempDirectory("graft-latest2")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage2.resolve("events-000.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage2.resolve("events-001.parquet"))
    val in2 = EventStream.readEvents(spark, stage2.toString)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("value_c"))
      .as[EventStream.ValuedEvent]
    val q2 = EventStream.latestStates(in2)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_latest2").start()
    try {
      q2.processAllAvailable()
      val streamed = spark.table("stream_latest2").as[EventStream.UserState].collect()
        .groupBy(_.user_id)
        .map { case (_, rows) => rows.maxBy(r => (r.ts_us, r.event_id)) }
        .toSeq.groupBy(_.event_type)
        .map { case (t, rows) =>
          t -> (rows.size.toLong, rows.map(_.value_c).sum / rows.size) }
      val batch = api.Queries.registry("events_cdc_latest").fn(spark, dir).collect()
        .map(r => r.getAs[String]("event_type") ->
          (r.getAs[Long]("n_users"), r.getAs[Long]("mean_value_c"))).toMap
      assert(streamed == batch, s"streamed census $streamed != batch $batch")
    } finally q2.stop()
  }

  test("stateful hourly EWMA: in-window disorder heals, converges to the batch query") {
    import spark.implicits._
    val hourUs = 3600L * 1000000L
    val hourSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType)))

    // crafted disorder: batch 2 carries a LATE event for hour 0 (still
    // inside the 19-hour retention) — the additive merge must fold it
    // in and the re-emitted hours must equal a from-scratch recompute
    val stage = java.nio.file.Files.createTempDirectory("graft-ewma")
    val b1 = Seq(("view", 0L), ("view", 10L), ("view", hourUs + 5L))
    val b2 = Seq(("view", 20L), ("view", 2 * hourUs + 7L))
    b1.toDF("event_type", "ts_us").coalesce(1)
      .write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100)
    b2.toDF("event_type", "ts_us").coalesce(1)
      .write.parquet(stage.resolve("b2").toString)
    val in = spark.readStream.schema(hourSchema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
      .as[EventStream.HourEvent]
    val q = EventStream.hourlyEwma(in)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_ewma").start()
    try {
      q.processAllAvailable()
      val fin = spark.table("stream_ewma").as[EventStream.EwmaRow].collect()
        .groupBy(r => (r.event_type, r.hr_us))
        .map { case (k, rows) => k -> rows.map(_.ewma_wsum).max }
      // from-scratch: hour counts 3/1/1 → target hour 2 sees
      // 1·512 + 1·256 + 3·128 = 1152 WITH the late event folded in
      assert(fin(("view", 2 * hourUs)) == 1152L,
        s"late hour-0 event not healed: $fin")
      assert(fin(("view", hourUs)) == 1L * 512 + 3L * 256)
      assert(fin(("view", 0L)) == 3L * 512)
    } finally q.stop()

    // corpus convergence: the events table split at its time median
    // (time-ordered staging — the file source orders batches by mtime);
    // the last emit per (type, hour) must equal the batch events_ewma
    // rows for every hour the twin emits
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val med = ev.stat.approxQuantile("ts_us", Array(0.5), 0.001).head.toLong
    val stage2 = java.nio.file.Files.createTempDirectory("graft-ewma2")
    ev.filter(col("ts_us") <= med).coalesce(1)
      .write.parquet(stage2.resolve("b1").toString)
    Thread.sleep(1100)
    ev.filter(col("ts_us") > med).coalesce(1)
      .write.parquet(stage2.resolve("b2").toString)
    val in2 = spark.readStream.schema(hourSchema)
      .option("maxFilesPerTrigger", 1).parquet(stage2.toString + "/*/")
      .as[EventStream.HourEvent]
    val q2 = EventStream.hourlyEwma(in2)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_ewma2").start()
    try {
      q2.processAllAvailable()
      // per-hour wsum is MONOTONE across batches (counts only
      // accumulate while the hour stays retained), so the final upsert
      // is the max — no reliance on sink row order
      val streamed = spark.table("stream_ewma2").as[EventStream.EwmaRow].collect()
        .groupBy(r => (r.event_type, r.hr_us))
        .map { case (k, rows) => k -> rows.map(_.ewma_wsum).max }
      val batch = api.Queries.registry("events_ewma").fn(spark, dir).collect()
        .map(r => (r.getAs[String]("event_type"),
          r.getAs[java.sql.Timestamp]("t").getTime * 1000L) -> r.getAs[Long]("ewma_wsum"))
        .toMap
      // the twin emits the trailing 10 target hours per type; each must
      // match the batch query's row for that hour exactly
      val finalHours = streamed.keys.groupBy(_._1)
        .flatMap { case (_, ks) =>
          val mx = ks.map(_._2).max
          ks.filter(_._2 > mx - 10 * hourUs) }
      assert(finalHours.nonEmpty)
      finalHours.foreach { k =>
        assert(batch.contains(k) && batch(k) == streamed(k),
          s"$k: streamed ${streamed(k)} != batch ${batch.get(k)}")
      }
    } finally q2.stop()
  }

  test("streaming SCD2 intervals converge to the batch query's closed set (corpus, time-ordered batches)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
        col("event_id"), col("event_type"))
    // stage in two batches split at the time median, written in time
    // order (the monotone-batch assumption this twin documents)
    val cut = ev.selectExpr("percentile_approx(ts_us, 0.5)").head.getLong(0)
    val stage = java.nio.file.Files.createTempDirectory("graft-scd2")
    ev.filter(col("ts_us") <= cut).coalesce(1).write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100)
    ev.filter(col("ts_us") > cut).coalesce(1).write.parquet(stage.resolve("b2").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
      .as[EventStream.TypedEvent]
    val q = EventStream.scd2Intervals(in)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_scd2").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_scd2").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("state"),
          r.getAs[Long]("start_us"), r.getAs[Long]("end_us"))).toSet
      // batch truth: collapse consecutive same-state events per user,
      // close each run at the next run's start (the events_scd2_intervals
      // construction, kept as raw intervals instead of the census)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val batch = ev
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("end_us", lead("ts_us", 1).over(w))
        .filter(col("end_us").isNotNull)
        .select(col("user_id"), col("event_type").as("state"),
          col("ts_us").as("start_us"), col("end_us"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(batch.nonEmpty && streamed == batch,
        s"streamed ${streamed.size} closed intervals != batch ${batch.size}; " +
          s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming MG heavy hitters: bucket-union candidates cover the exact heavy set; recount census == agg_heavy_hitters; disorder-immune") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val cap = 64; val buckets = 8
    // the SAME tokenization as agg_heavy_hitters, staged in two batches
    // split by doc parity — and batch 2 "arrives late" relative to doc
    // order, which must not matter: counts commute (no watermark, no
    // monotone-batch assumption, unlike sessionize)
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), explode(graft.ops.TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val stage = java.nio.file.Files.createTempDirectory("graft-mg")
    toks.filter(col("doc_id") % 2 === 1).select("w")
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100)
    toks.filter(col("doc_id") % 2 === 0).select("w")
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.StringType)))
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
      .as[EventStream.Tok]
    val q = EventStream.heavyHitterSketch(in, cap = cap, buckets = buckets)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_mg").start()
    try {
      q.processAllAvailable()
      val emits = spark.table("stream_mg").collect()
        .map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("n"), r.getAs[Long]("dec"),
          r.getAs[Map[String, Long]]("candidates")))
      // upsert semantics: keep the LAST emit per bucket (emits arrive
      // in batch order; within a batch each bucket emits once)
      val last = emits.zipWithIndex.groupBy(_._1._1).view
        .mapValues(_.maxBy(_._2)._1).values.toSeq
      val n = last.map(_._2).sum
      val candidates = last.flatMap(_._4.keys).toSet
      // state boundedness + the per-bucket undercount bound
      last.foreach { case (b, nb, dec, cnt) =>
        assert(cnt.size <= 2 * cap, s"bucket $b buffer ${cnt.size} > ${2 * cap}")
        assert(dec <= nb / (cap + 1), s"bucket $b dec=$dec n_b=$nb")
      }
      // coverage: every token with global freq*cap > n is a candidate
      val exact = toks.groupBy("w").agg(count(lit(1)).as("c"))
        .filter(col("c") * cap > lit(n)).as[(String, Long)].collect().toMap
      assert(exact.nonEmpty)
      exact.keys.foreach(w => assert(candidates.contains(w), s"missing heavy token $w"))
      // exact-recount census over the streamed candidates == the batch
      // heavy-hitter set (same threshold discipline as agg_heavy_hitters)
      val census = toks.filter(col("w").isin(candidates.toSeq: _*))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .filter(col("c") * cap > lit(n)).as[(String, Long)].collect().toMap
      assert(census == exact)
    } finally q.stop()
  }

  test("streaming table fingerprint: complete-mode sums == batch, additive over batches, disorder-immune") {
    val dir = "/root/testdata/sf0.001"
    val batchEv = Tables.events(spark, dir)
    val batchFp = EventStream.tableFingerprint(batchEv).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("fingerprint"))).toMap

    // two batches split by event parity, second staged later — and the
    // split is NOT time-ordered: the fingerprint is commutative, so
    // unlike the sessionize family there is no disorder caveat to honor
    val stage = java.nio.file.Files.createTempDirectory("graft-fp")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100)
    raw.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val in = EventStream.readEvents(spark, stage.toString + "/*/")
    val q = EventStream.tableFingerprint(in)
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_fp").start()
    try {
      q.processAllAvailable()
      val streamFp = spark.table("stream_fp").collect()
        .map(r => r.getAs[Long]("bucket") ->
          (r.getAs[Long]("n_rows"), r.getAs[Long]("fingerprint"))).toMap
      assert(streamFp == batchFp, "streamed fingerprint diverged from batch")
    } finally q.stop()

    // additivity: fp(A ∪ B) = fp(A) + fp(B) mod p per bucket — the
    // incremental identity (verify a delta without re-scanning the base)
    val p = 2305843009213693951L
    def fp(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      EventStream.tableFingerprint(df).collect()
        .map(r => r.getAs[Long]("bucket") ->
          (r.getAs[Long]("n_rows"), r.getAs[Long]("fingerprint"))).toMap
    val a = fp(batchEv.filter(col("event_id") % 2 === 1))
    val b = fp(batchEv.filter(col("event_id") % 2 === 0))
    batchFp.foreach { case (bucket, (n, f)) =>
      val (na, fa) = a.getOrElse(bucket, (0L, 0L))
      val (nb, fb) = b.getOrElse(bucket, (0L, 0L))
      assert(na + nb == n, s"bucket $bucket row counts not additive")
      assert(java.lang.Math.floorMod(
        java.lang.Math.addExact(fa, fb), p) == f,
        s"bucket $bucket fingerprint not additive mod p")
    }
  }

  test("streaming PSI cells: complete-mode cells == batch, disorder-immune, additive") {
    val dir = "/root/testdata/sf0.001"
    val batchDocs = Tables.documents(spark, dir)
    def cells(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Long] =
      EventStream.psiSourceCells(df).collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("b")) ->
          r.getAs[Long]("c")).toMap
    val batch = cells(batchDocs)
    assert(batch.nonEmpty && batch.values.sum == batchDocs.count())

    // NOT-time-ordered parity split: the cell counts are commutative
    // sums, so the stream must land bit-equal to batch regardless of
    // batch order — the fingerprint/bootstrap discipline
    val stage = java.nio.file.Files.createTempDirectory("graft-psi")
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    raw.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100)
    raw.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val in = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
    val q = EventStream.psiSourceCells(in)
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_psi").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_psi").collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("b")) ->
          r.getAs[Long]("c")).toMap
      assert(streamed == batch, "streamed PSI cells diverged from batch")
    } finally q.stop()

    // additivity: cells(A ∪ B) = cells(A) + cells(B) cell-wise — the
    // incremental identity (fold a new batch in without re-scanning)
    val a = cells(batchDocs.filter(col("doc_id") % 2 === 1))
    val b = cells(batchDocs.filter(col("doc_id") % 2 === 0))
    batch.foreach { case (k, c) =>
      assert(a.getOrElse(k, 0L) + b.getOrElse(k, 0L) == c,
        s"cell $k not additive")
    }
  }

  test("streaming bootstrap sums: complete-mode replicas == batch, disorder-immune, additive") {
    val dir = "/root/testdata/sf0.001"
    val batchEv = Tables.events(spark, dir)
    def sums(df: org.apache.spark.sql.DataFrame): Map[Int, (Long, Long, Long)] =
      EventStream.bootstrapSums(df).collect()
        .map(r => r.getAs[Int]("b") -> (r.getAs[Long]("n"),
          r.getAs[Long]("wsum"), r.getAs[Long]("wxsum"))).toMap
    val batch = sums(batchEv)
    assert(batch.size == 32 && batch.keySet == (0 until 32).toSet)

    // NOT-time-ordered parity split: the three per-replica sums are
    // commutative, so unlike the sessionize family there is no
    // disorder caveat — the stream must land bit-equal to batch
    val stage = java.nio.file.Files.createTempDirectory("graft-boot")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100)
    raw.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val in = EventStream.readEvents(spark, stage.toString + "/*/")
    val q = EventStream.bootstrapSums(in)
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_boot").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_boot").collect()
        .map(r => r.getAs[Int]("b") -> (r.getAs[Long]("n"),
          r.getAs[Long]("wsum"), r.getAs[Long]("wxsum"))).toMap
      assert(streamed == batch, "streamed bootstrap sums diverged from batch")
    } finally q.stop()

    // additivity per replica — the live-CI incremental identity
    val a = sums(batchEv.filter(col("event_id") % 2 === 1))
    val bb = sums(batchEv.filter(col("event_id") % 2 === 0))
    batch.foreach { case (rep, (n, w, wx)) =>
      val (n1, w1, wx1) = a.getOrElse(rep, (0L, 0L, 0L))
      val (n2, w2, wx2) = bb.getOrElse(rep, (0L, 0L, 0L))
      assert(n1 + n2 == n && w1 + w2 == w && wx1 + wx2 == wx,
        s"replica $rep sums not additive")
    }
  }

  test("streaming error budget: complete-mode day counters == batch, disorder-immune, additive") {
    val dir = "/root/testdata/sf0.001"
    val batchEv = Tables.events(spark, dir)
    def days(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      EventStream.errorBudgetDaily(df).collect()
        .map(r => r.getAs[java.sql.Date]("dy").toString ->
          (r.getAs[Long]("n"), r.getAs[Long]("n_err"))).toMap
    val batch = days(batchEv)
    assert(batch.nonEmpty && batch.values.exists(_._2 > 0))

    // NOT-time-ordered parity split: both counters are commutative
    // sums, so the stream must land bit-equal to batch with zero
    // disorder caveats
    val stage = java.nio.file.Files.createTempDirectory("graft-budget")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100)
    raw.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val in = EventStream.readEvents(spark, stage.toString + "/*/")
    val q = EventStream.errorBudgetDaily(in)
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_budget").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_budget").collect()
        .map(r => r.getAs[java.sql.Date]("dy").toString ->
          (r.getAs[Long]("n"), r.getAs[Long]("n_err"))).toMap
      assert(streamed == batch, "streamed error-budget days diverged from batch")
    } finally q.stop()

    // additivity per day — the incremental-ingest identity
    val a = days(batchEv.filter(col("event_id") % 2 === 1))
    val bb = days(batchEv.filter(col("event_id") % 2 === 0))
    batch.foreach { case (dy, (n, e)) =>
      val (n1, e1) = a.getOrElse(dy, (0L, 0L))
      val (n2, e2) = bb.getOrElse(dy, (0L, 0L))
      assert(n1 + n2 == n && e1 + e2 == e, s"day $dy counters not additive")
    }
  }

  test("streaming HLL registers: complete-mode state == batch, disorder- and replay-immune") {
    val dir = "/root/testdata/sf0.001"
    val batchEv = Tables.events(spark, dir)
    def regMap(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Long] =
      df.collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("idx")) ->
        r.getAs[Long]("rho")).toMap
    val batch = regMap(EventStream.hllEventRegisters(batchEv))
    assert(batch.nonEmpty)

    // NOT-time-ordered parity split, PLUS a full replay of split 1 as a
    // third batch: max-register state must absorb the duplicate delivery
    // (idempotence — the immunity additive counting twins lack)
    val stage = java.nio.file.Files.createTempDirectory("graft-hll")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100)
    raw.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    Thread.sleep(1100)
    raw.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.parquet(stage.resolve("b3").toString)
    val in = EventStream.readEvents(spark, stage.toString + "/*/")
    val q = EventStream.hllEventRegisters(in)
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_hll").start()
    try {
      q.processAllAvailable()
      assert(regMap(spark.table("stream_hll")) == batch,
        "streamed HLL registers diverged from batch (with replayed batch)")
    } finally q.stop()
  }

  test("streaming count-min counters: complete-mode cells == batch, disorder-immune") {
    val dir = "/root/testdata/sf0.001"
    val batchEv = Tables.events(spark, dir)
    def cellMap(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      df.collect().map(r => (r.getAs[Int]("j"), r.getAs[Long]("cell")) ->
        r.getAs[Long]("c")).toMap
    val batch = cellMap(EventStream.cmUserCounters(batchEv))
    assert(batch.nonEmpty)
    val stage = java.nio.file.Files.createTempDirectory("graft-cm")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100)
    raw.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val in = EventStream.readEvents(spark, stage.toString + "/*/")
    val q = EventStream.cmUserCounters(in)
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_cm").start()
    try {
      q.processAllAvailable()
      assert(cellMap(spark.table("stream_cm")) == batch,
        "streamed count-min cells diverged from batch")
    } finally q.stop()
  }

  test("streaming KM survival: complete-mode user state == batch query, disorder-immune, mergeable") {
    val dir = "/root/testdata/sf0.001"
    val batchEv = Tables.events(spark, dir)
    def km(per: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long, Long)] =
      EventStream.survivalKmFromState(per).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
    // the registered query IS survivalKmFromState(survivalUserState(·));
    // pin against the registry so the twin tracks the declared surface
    val declared = graft.api.Queries.registry("events_survival_km").fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(declared.nonEmpty && declared == km(EventStream.survivalUserState(batchEv)))

    // NOT-time-ordered parity split: all three state columns are
    // commutative min/max, so the streamed user frame — and the KM
    // curve derived from it — must land bit-equal to batch with zero
    // disorder caveats
    val stage = java.nio.file.Files.createTempDirectory("graft-km")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.parquet(stage.resolve("b1").toString)
    Thread.sleep(1100)
    raw.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.parquet(stage.resolve("b2").toString)
    val in = EventStream.readEvents(spark, stage.toString + "/*/")
    val q = EventStream.survivalUserState(in)
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_km").start()
    try {
      q.processAllAvailable()
      assert(km(spark.table("stream_km")) == declared,
        "KM curve from streamed user state diverged from the declared batch query")
    } finally q.stop()

    // mergeability: per-user state from disjoint splits merges by
    // min-of-mins / max-of-maxes into exactly the full-corpus state
    def st(df: org.apache.spark.sql.DataFrame): Map[Long, (String, String, String)] =
      EventStream.survivalUserState(df).collect().map(r =>
        r.getAs[Long]("user_id") -> (
          String.valueOf(r.getAs[java.sql.Date]("t0")),
          String.valueOf(r.getAs[java.sql.Date]("conv")),
          String.valueOf(r.getAs[java.sql.Date]("last_day")))).toMap
    val full = st(batchEv)
    val s1 = st(batchEv.filter(col("event_id") % 2 === 1))
    val s2 = st(batchEv.filter(col("event_id") % 2 === 0))
    def minD(a: String, b: String): String =
      if (a == "null") b else if (b == "null") a else if (a <= b) a else b
    def maxD(a: String, b: String): String = if (a >= b) a else b
    val merged = (s1.keySet ++ s2.keySet).map { u =>
      (s1.get(u), s2.get(u)) match {
        case (Some((a0, ac, al)), Some((b0, bc, bl))) =>
          u -> (minD(a0, b0), minD(ac, bc), maxD(al, bl))
        case (Some(x), None) => u -> x
        case (None, Some(y)) => u -> y
        case _ => throw new IllegalStateException
      }
    }.toMap
    assert(merged == full, "split user states did not merge to the full-corpus state")
  }

  test("streaming exact-substring index: readout == batch census on a disordered split; df cap bounds state") {
    val stage = java.nio.file.Files.createTempDirectory("graft-exsub")
    val idx = tmpDir("exsub-idx") + "/idx"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val cap = graft.ops.Dedup.containmentSchedule(docs.count())
    // disordered split: three residue-class batches staged so doc ids
    // are non-monotone across micro-batches (file source reads them in
    // mod-time order, one per trigger)
    Seq(1, 2, 0).zipWithIndex.foreach { case (m, i) =>
      docs.filter(col("doc_id") % 3 === m)
        .coalesce(1).write.parquet(stage.resolve(s"b$i").toString)
      Thread.sleep(1100)
    }
    val in = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString + "/*/")
    val q = EventStream.streamExactSubstrIngest(in, idx, n = 5,
      maxShingleDf = cap)
    try q.processAllAvailable() finally q.stop()

    def runs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
        r.getAs[Long]("run_tokens"))).toSet
    val got = runs(EventStream.exactSubstrRunsFromIndex(spark, idx, n = 5,
      minRunTokens = 15, maxShingleDf = cap))
    val want = runs(graft.ops.Dedup.exactSubstringRuns(docs, n = 5,
      minRunTokens = 15, maxShingleDf = cap))
    assert(want.nonEmpty, "batch census found no runs — fixture missing")
    assert(got == want,
      s"index readout diverged from batch census (got ${got.size}, want ${want.size})")

    // state bound: no indexed shingle holds postings from more docs
    // than the cap (capped-out shingles stopped appending the batch
    // their running df crossed it)
    val maxDf = spark.read.parquet(s"$idx/postings")
      .groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .agg(max("nd")).head.getLong(0)
    assert(maxDf <= cap, s"postings df $maxDf exceeds the $cap cap")
  }
}

/** Local filesystem whose rename REFUSES any destination named like this
  * spec's unrestorable live index — instantiated by Hadoop via
  * `fs.faulty.impl` reflection (so it must stay top-level with a no-arg
  * constructor). Everything else behaves as the real local fs.
  */
class FaultyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (dst.getName.endsWith("-norestore")) false else super.rename(src, dst)
}
